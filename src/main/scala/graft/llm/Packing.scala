package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Sharding

/** Concat-and-split training-block packing — the final trainer handoff:
  * documents are laid end to end in a deterministic stream order and
  * the stream is cut into fixed `blockSize`-token blocks, documents
  * crossing block boundaries (what GPT-style pretraining actually
  * feeds; contrast [[Chunking]], which windows each document alone).
  *
  * The stream is sharded first ([[Sharding]] hash of the id), and the
  * token-offset cumsum runs through [[graft.operators.Cumsum]]'s
  * funnel-free two-pass form — a per-shard running-sum WINDOW would
  * cap parallelism at the shard count (16 sequential cumsums at the
  * default), where the range-partitioned two-pass numbers every
  * partition independently at full cluster parallelism. No global
  * ordering: block ids are per-shard, which is exactly the trainer
  * contract (each worker reads its own shard).
  *
  * Output: one row per (document × block it touches) — `shard`,
  * `block_id` (per-shard, 0-based), the document id, `doc_offset` (the
  * document's first token's position in the shard stream), and
  * `tokens_in_block` (how many of the document's tokens land in this
  * block). Block completeness and doc counts per block are one
  * `groupBy(shard, block_id)` away.
  */
object Packing {

  /** CONTRACT: `idCol` must be UNIQUE — it is the per-shard stream order,
    * and the headline guarantee (bitwise-identical blocks on every rerun
    * and partitioning) only holds under a total order. Duplicate ids
    * within a shard would make `doc_offset` (and block membership)
    * nondeterministic across runs. Uniqueness is not re-verified here
    * (it would cost an aggregation per call); upstream dedup/minting
    * owns it.
    */
  def blocks(docs: DataFrame, idCol: String, textCol: String,
             blockSize: Int = 2048, nShards: Int = 16): DataFrame = {
    require(blockSize > 0, s"blockSize must be positive, got $blockSize")
    val sid = Sharding.shardId(col(idCol), nShards)
    val toks = size(split(Dedup.normalize(col(textCol)), " ")).cast("long")
    val b = lit(blockSize.toLong)
    val withOffset = graft.operators.Cumsum.exclusivePerShard(
      docs
        // empty/null docs have zero tokens under TextStats.tokenCount's
        // convention — they pack to nothing, not to a phantom token
        .filter(col(textCol).isNotNull && trim(col(textCol)) =!= "")
        .select(sid.as("shard"), col(idCol), toks.as("__t")),
      "shard", idCol, "__t", "doc_offset")
    withOffset
      .select(col("shard"), col(idCol), col("doc_offset"), col("__t"),
        // `/` on longs is double division in Spark SQL; floor() brings the
        // exact quotient back to long (offsets ≪ 2^53, so no precision loss)
        explode(sequence(floor(col("doc_offset") / b),
          floor((col("doc_offset") + col("__t") - 1) / b))).as("block_id"))
      .select(col("shard"), col("block_id"), col(idCol), col("doc_offset"),
        (least(col("doc_offset") + col("__t"), (col("block_id") + 1) * b) -
          greatest(col("doc_offset"), col("block_id") * b)).as("tokens_in_block"))
  }
}
