package graft.storage

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** CSV/TSV source/sink — the other interchange boundary next to
  * [[Jsonl]] (tabular exports for spreadsheets/BI, delimiter-separated
  * feeds from legacy extractors). Parquet stays canonical; like the
  * JSONL reader this one is SCHEMA-PINNED — `inferSchema` is a full
  * extra pass over the data and guesses types from samples, both
  * unacceptable at 100 TB.
  *
  * Quoting is RFC-4180 (quote = `"`, escape by doubling) on BOTH sides
  * so embedded delimiters, quotes and newlines round-trip. Embedded
  * newlines force `multiLine` on the reader, which parses a file as one
  * split (no intra-file parallelism) — callers with newline-free data
  * can pass `multiLine = false` to keep line-level splitting; the
  * writer emits one file per partition either way, so parallelism is
  * preserved across files.
  */
object Csv {

  /** Strict read: malformed rows fail the job (FAILFAST) — the default
    * for data this pipeline produced itself. */
  def read(spark: SparkSession, path: String, schema: StructType,
           delimiter: String = ",", multiLine: Boolean = true): DataFrame =
    spark.read.schema(schema)
      .option("mode", "FAILFAST")
      .option("header", "true")
      .option("sep", delimiter)
      .option("escape", "\"")
      .option("multiLine", multiLine.toString)
      .csv(path)

  /** Lenient read with quarantine: `(good, corrupt)` — parsed rows and
    * the RAW text of rows that failed the schema, same contract as
    * [[Jsonl.readWithQuarantine]]. The parsed frame is cached (Spark
    * requires the corrupt-record column materialized before filtering
    * on it); callers unpersist `good` when done. */
  def readWithQuarantine(spark: SparkSession, path: String,
                         schema: StructType, delimiter: String = ",",
                         multiLine: Boolean = true): (DataFrame, DataFrame) = {
    val corruptCol = "__corrupt_line"
    val withCorrupt = StructType(
      schema.fields :+ StructField(corruptCol, StringType, nullable = true))
    val parsed = spark.read.schema(withCorrupt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corruptCol)
      .option("header", "true")
      .option("sep", delimiter)
      .option("escape", "\"")
      .option("multiLine", multiLine.toString)
      .csv(path)
      .cache()
    val good = parsed.filter(col(corruptCol).isNull).drop(corruptCol)
    val corrupt = parsed.filter(col(corruptCol).isNotNull)
      .select(col(corruptCol).as("raw_line"))
    (good, corrupt)
  }

  /** Write with header and RFC-4180 quoting, published by a directory
    * swap ([[TableStore.swapInto]]): a half-written export is never
    * visible under `path`. */
  def write(df: DataFrame, path: String, delimiter: String = ","): Unit =
    TableStore.swapInto(path)(tmp => df.write.mode(SaveMode.Overwrite)
      .option("header", "true")
      .option("sep", delimiter)
      .option("escape", "\"")
      .csv(tmp))
}
