package graft.app

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import graft.operators.{Checksum, Sharding}
import graft.storage.TableStore

/** Training-corpus EXPORT — the last mile of the curation pipeline:
  * shard deterministically ([[Sharding.shardId]], so any
  * engine re-derives the same membership), write one JSONL directory
  * per shard (temp-and-swap: a half-written corpus is never visible),
  * and emit a MANIFEST `(shard, n_docs, checksum)` whose order-free
  * checksum ([[Checksum]]) lets the consumer — a trainer, or
  * [[verify]] here — prove integrity without trusting the transport.
  *
  * Scale shape: one narrow shard projection, one repartition ON the
  * shard id (each output task owns whole shards → one file per shard,
  * no small-file spray), and the manifest is a partial-agg'd grouped
  * checksum over a read-back of the written shards — so it describes
  * the bytes on disk by construction.
  */
object CorpusExport {

  /** Shard, write under `root/shard=K/`, and return the manifest. */
  def export(docs: DataFrame, idCol: String, valueCols: Seq[String],
             root: String, nShards: Int): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    val sharded = docs.withColumn("shard",
      Sharding.shardId(col(idCol), nShards))
    val tmp = root.stripSuffix("/") + ".__tmp"
    sharded.repartition(nShards, col("shard"))
      .write.mode(SaveMode.Overwrite).partitionBy("shard").json(tmp)
    TableStore.swapInto(tmp, root)
    // manifest from a READ-BACK of the written shards, not from a
    // re-execution of the source plan: the published checksums describe
    // the bytes on disk BY CONSTRUCTION (a source that changed between
    // the two jobs, or a torn write, surfaces here at export time, not
    // at the receiver). Cost: one read of the just-written export —
    // cheaper and safer at corpus scale than checkpointing the frame.
    val withShard = StructType(
      docs.schema.fields :+ StructField("shard", IntegerType, nullable = true))
    val back = docs.sparkSession.read.schema(withShard)
      .option("mode", "FAILFAST").json(root)
    // pin the (tiny, one-row-per-shard) manifest: returned lazily it
    // would RE-READ the export on every action — and break outright if
    // a later export replaced these files
    manifestOf(back, valueCols).localCheckpoint(true)
  }

  /** Per-shard manifest of any sharded frame: `(shard, n_docs,
    * checksum)`, checksum order-free over `valueCols`. */
  def manifestOf(sharded: DataFrame, valueCols: Seq[String]): DataFrame =
    Checksum.grouped(sharded, Seq("shard"), valueCols)
      .withColumnRenamed("n_rows", "n_docs")
      .orderBy("shard")

  /** The end-to-end trainer handoff — the composition a training run
    * actually consumes, wired entirely from gated pieces:
    *
    *   1. curate ([[graft.llm.Curation.cleanCorpus]]: quality filter,
    *      exact dedup, near-dup cluster collapse);
    *   2. optional DECONTAMINATION against a held-out eval set
    *      ([[graft.llm.Contamination.detect]]): any curated document
    *      containing >= `contaminationThreshold` of some eval doc's
    *      shingles is dropped — benchmark leakage is removed at
    *      preparation time, not discovered at paper-review time;
    *   3. accretion-stable split assignment
    *      ([[graft.operators.Sampling.hashSplit]] — growing the corpus
    *      never moves an old document between splits);
    *   4. one sharded JSONL export per split, each with its verifiable
    *      manifest ([[export]]);
    *   5. the combined manifest REGISTERED as a new version of the
    *      run table ([[graft.storage.Versioned]]) — "the run trained
    *      on v3" stays answerable forever.
    *
    * Returns `(runVersion, manifest)`; the manifest carries one row
    * per (split, shard) with counts and checksums.
    */
  def prepareTrainingRun(docs: DataFrame, outRoot: String,
                         nShards: Int = 8, minQuality: Double = 0.6,
                         splits: Seq[(String, Double)] =
                           Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
                         evalSet: Option[DataFrame] = None,
                         contaminationThreshold: Double = 0.8,
                         shingleN: Int = 3): (Long, DataFrame) = {
    // duplicate names would export the same split twice and the
    // registered manifest would double-count — the one corruption a
    // run record must never carry
    require(splits.map(_._1).distinct.size == splits.size,
      s"duplicate split names: ${splits.map(_._1)}")
    val cleaned = graft.llm.Curation.cleanCorpus(
      docs, "doc_id", "text", minQuality)
    val curated = evalSet match {
      case Some(es) =>
        val hits = graft.llm.Contamination.detect(cleaned, es,
            "doc_id", "text", contaminationThreshold, shingleN)
          .select(col("train_id").as("doc_id")).distinct()
        cleaned.join(hits, Seq("doc_id"), "left_anti")
      case None => cleaned
    }
    // stage the curated+assigned corpus DURABLY and re-read per split:
    // the curation chain runs once, and unlike a localCheckpoint of the
    // whole corpus (executor-storage, lineage cut — one lost executor
    // mid-run would sink the preparation at 100 TB), a parquet staging
    // dir survives executor churn; it is cleaned up after the exports
    val staging = s"$outRoot/_staging"
    TableStore.writeSnapshot(
      graft.operators.Sampling.hashSplit(curated, "doc_id", splits), staging)
    val spark = docs.sparkSession
    val assigned = TableStore.read(spark, staging)
    val valueCols = curated.columns.toSeq
    val manifest = splits.map { case (name, _) =>
      val part = assigned.filter(col("split") === name).drop("split")
      export(part, "doc_id", valueCols, s"$outRoot/$name", nShards)
        .withColumn("split", lit(name))
    }.reduce(_ unionByName _).localCheckpoint(true) // shard-count rows
    TableStore.deleteRecursively(java.nio.file.Paths.get(staging))
    val version = graft.storage.Versioned.write(manifest, s"$outRoot/_runs")
    (version, manifest)
  }

  /** Re-read an export with the PINNED schema, recompute its manifest,
    * and diff against the stored one: one row per shard with `status` ∈
    * `ok | mismatch | missing | unexpected` — the receiving side's
    * acceptance check. */
  def verify(spark: SparkSession, root: String, docSchema: StructType,
             idCol: String, valueCols: Seq[String],
             manifest: DataFrame): DataFrame = {
    val withShard = StructType(
      docSchema.fields :+ StructField("shard", IntegerType, nullable = true))
    val back = spark.read.schema(withShard)
      .option("mode", "FAILFAST").json(root)
    val actual = manifestOf(back, valueCols)
      .select(col("shard"), col("n_docs").as("__n"),
        col("checksum").as("__ck"))
    manifest.join(actual, Seq("shard"), "full_outer")
      .select(col("shard"),
        when(col("n_docs").isNull, lit("unexpected"))
          .when(col("__n").isNull, lit("missing"))
          .when(col("n_docs") === col("__n") &&
            col("checksum") === col("__ck"), lit("ok"))
          .otherwise(lit("mismatch")).as("status"),
        col("n_docs").as("expected_docs"), col("__n").as("actual_docs"))
      .orderBy("shard")
  }
}
