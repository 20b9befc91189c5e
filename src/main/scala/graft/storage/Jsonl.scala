package graft.storage

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** JSONL (newline-delimited JSON) source/sink — the lingua franca of
  * LLM training corpora (one document object per line). Parquet stays
  * the canonical warehouse format; this is the interchange boundary
  * for corpora arriving from or leaving for other pipelines.
  *
  * Readers are SCHEMA-PINNED: `spark.read.json` without a schema runs
  * a full inference pre-scan (a second pass over 100 TB) and infers
  * from whatever rows it samples — both unacceptable at scale, so the
  * schema is a required argument here.
  */
object Jsonl {

  /** Strict read: any malformed line fails the job (FAILFAST) — the
    * right default for data you produced yourself. */
  def read(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("mode", "FAILFAST").json(path)

  /** Lenient read with quarantine: returns `(good, corrupt)` — parsed
    * rows, and the RAW text of every line that failed the schema
    * (caught via PERMISSIVE + the corrupt-record column, the standard
    * ingestion-quarantine pattern for third-party feeds). Both frames
    * come from ONE read definition; Spark requires the corrupt column
    * to be materialized (cached or re-read) before filtering on it,
    * so the reader caches the parsed frame — callers unpersist via
    * the returned handle when done.
    */
  def readWithQuarantine(spark: SparkSession, path: String,
                         schema: StructType): (DataFrame, DataFrame) = {
    val corruptCol = "__corrupt_line"
    val withCorrupt = StructType(
      schema.fields :+ StructField(corruptCol, StringType, nullable = true))
    val parsed = spark.read.schema(withCorrupt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corruptCol)
      .json(path)
      .cache()
    val good = parsed.filter(col(corruptCol).isNull).drop(corruptCol)
    val corrupt = parsed.filter(col(corruptCol).isNotNull)
      .select(col(corruptCol).as("raw_line"))
    (good, corrupt)
  }

  /** Streaming read of a JSONL landing directory — the continuous form
    * of [[read]]: new files appearing under `path` become micro-batches
    * (the standard object-store landing-zone ingest; upstream must move
    * files in atomically, e.g. rename-into-place, or a batch can see a
    * half-copied file). Schema-pinned and FAILFAST like the batch
    * reader. `maxFilesPerTrigger > 0` bounds each micro-batch — the
    * backpressure knob that keeps a backlog of thousands of landed
    * files from becoming one giant first batch.
    */
  def readStream(spark: SparkSession, path: String, schema: StructType,
                 maxFilesPerTrigger: Int = 0): DataFrame = {
    val r = spark.readStream.schema(schema).option("mode", "FAILFAST")
    (if (maxFilesPerTrigger > 0)
       r.option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
     else r).json(path)
  }

  /** Write as JSONL, published by a directory swap
    * ([[TableStore.swapInto]]) — a half-written corpus export is never
    * visible under the target path. */
  def write(df: DataFrame, path: String): Unit =
    TableStore.swapInto(path)(tmp => df.write.mode(SaveMode.Overwrite).json(tmp))
}
