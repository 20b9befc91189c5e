package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic output sharding — the final step of a training-data
  * pipeline: route every row to a stable shard so re-runs produce
  * byte-identical shard membership regardless of cluster size, task
  * retries, or input split order (unlike `repartition(n)`'s round-robin,
  * which is none of those things).
  */
object Sharding {

  /** The shard of `id`: [[graft.functions.Hashes.u32OfMd5]] of the id
    * rendered as a string, mod n — restatable in any engine with md5 and
    * string ops, so the DuckDB oracle derives the IDENTICAL assignment.
    */
  def shardId(id: Column, nShards: Int): Column =
    pmod(graft.functions.Hashes.u32OfMd5(id.cast("string")),
      lit(nShards.toLong)).cast("int")

  /** Per-shard balance profile: row count and payload volume per shard.
    * The balance check a pipeline runs before shipping shards to
    * trainers; a skewed hash or a hot key shows up here first.
    */
  def profile(df: DataFrame, idCol: String, weightCol: Column, nShards: Int): DataFrame = {
    df.select(shardId(col(idCol), nShards).as("shard"), col(idCol).as("__id"), weightCol.as("__w"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_rows"), sum(col("__w")).as("weight"),
        min(col("__id")).as("min_id"), max(col("__id")).as("max_id"))
  }

  /** Write `df` as `path/shard=K/` parquet, one directory per shard,
    * co-locating each shard's rows first so every shard is a small
    * number of whole files (`repartition` by the shard column hashes
    * rows of one shard to one task; partitionBy then splits nothing).
    */
  def writeSharded(df: DataFrame, idCol: String, path: String, nShards: Int): Unit = {
    df.withColumn("shard", shardId(col(idCol), nShards))
      .repartition(col("shard"))
      .write.mode("overwrite").partitionBy("shard").parquet(path)
  }

  /** Deterministic per-epoch TRAINING ORDER — the "shuffled each epoch"
    * contract trainers expect, without an RNG: rows are sharded by id
    * (a document keeps its worker affinity across epochs) and ordered
    * WITHIN (shard, epoch) by the portable hash of `"epoch:id"`, so
    * every epoch draws a different-but-reproducible permutation —
    * reruns, engines, and partitionings all agree, and growing the
    * corpus never reorders the existing pairs' relative draw keys.
    * Composes after [[graft.operators.Mixing.byRate]] (which emits the
    * (row, epoch) multiset) and before [[graft.llm.Packing.blocks]].
    *
    * Output: input columns + `shard` + `seq` (1-based position within
    * the (shard, epoch) stream). One shuffle on (shard, epoch); the
    * rank window is per shard×epoch — trainer-file parallelism, no
    * global sort.
    */
  def epochOrder(df: DataFrame, idCol: String, epochCol: String,
                 nShards: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val key = graft.functions.Hashes.u32OfMd5(concat_ws(":",
      col(epochCol).cast("string"), col(idCol).cast("string")))
    val w = Window.partitionBy(col("shard"), col(epochCol))
      .orderBy(key.asc, col(idCol).asc)
    df.withColumn("shard", shardId(col(idCol), nShards))
      .withColumn("seq", row_number().over(w))
  }

  /** CURRICULUM training order — [[epochOrder]] with a difficulty tier:
    * within (shard, epoch), rows stream in `tierCol` order (ascending
    * by default — the easy-to-hard curriculum; pass `ascending = false`
    * for quality-descending annealing), with the salted per-epoch hash
    * shuffling WITHIN each tier so equal-tier examples still draw a
    * different-but-reproducible permutation every epoch. The tier
    * column should be a coarse bucket (an integer band or a round-6
    * score), not a raw float with corpus-unique values — a unique tier
    * per row degenerates the within-tier shuffle to a fixed sort.
    * Deterministic and RNG-free like [[epochOrder]]: reruns, engines,
    * and partitionings agree; same one-shuffle scale shape (rank window
    * per shard×epoch, no global sort).
    */
  def curriculumOrder(df: DataFrame, idCol: String, epochCol: String,
                      tierCol: String, nShards: Int,
                      ascending: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val key = graft.functions.Hashes.u32OfMd5(concat_ws(":",
      col(epochCol).cast("string"), col(idCol).cast("string")))
    val tier = if (ascending) col(tierCol).asc else col(tierCol).desc
    val w = Window.partitionBy(col("shard"), col(epochCol))
      .orderBy(tier, key.asc, col(idCol).asc)
    df.withColumn("shard", shardId(col(idCol), nShards))
      .withColumn("seq", row_number().over(w))
  }
}
