package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Margin-based neighbor mining (Artetxe & Schwenk 2019, "Margin-based
  * Parallel Corpus Mining") — the published criterion for extracting
  * ALIGNED pairs (bitext, near-translations, cross-corpus doc links)
  * from two embedding collections. Raw cosine is miscalibrated in
  * high-dimensional embedding spaces: "hub" vectors sit close to
  * everything and win every nearest-neighbor contest. The margin score
  * divides each pair's cosine by the mean of the two sides' average
  * top-k cosines —
  *
  *   margin(x, y) = cos(x, y) / ((avgTopK_x + avgTopK_y) / 2)
  *
  * — so a hub's uniformly-high neighborhood DEFLATES its score while a
  * mutually-specific pair keeps margin > 1 (the ratio variant of the
  * paper's §3.2).
  *
  * Split into two surfaces on purpose:
  *   - [[marginScores]] scores any CANDIDATE pair relation — at 100 TB
  *     the candidates come from the ANN tier ([[Ann.lshTopK]] /
  *     [[Pq.ivfPqTopK]] nominations), so margin re-ranking costs
  *     O(candidates), never all-pairs;
  *   - [[marginMine]] is the brute-force composition over two small-to-
  *     medium sides (one broadcast nested loop) — the oracle-checkable
  *     tier and the recall-1 baseline the ANN composition is judged
  *     against.
  *
  * FP parity: cosines are round-6; the top-k averages quantize each
  * cosine to `decimal(28,15)` (exact for round-6 values) and sum
  * exactly, so the one division per average — and the one division per
  * margin — are exactly-rounded on bitwise-equal operands. The
  * `margin_mine` gate hash-matches the full DuckDB restatement.
  *
  * Zero-norm vectors score cosine −∞ ([[Ann]]'s clamp); they are
  * unmineable (no direction to align) and are DROPPED from scoring —
  * also keeps −∞ out of the ANSI-strict decimal cast.
  */
object Mining {

  /** Margin scores over a candidate pair relation
    * `(aId, bId, cosine)` — per pair: the round-6 margin, plus
    * `rank` = the pair's (margin desc, bId asc) rank within its `aId`,
    * capped at `topM`. `k` bounds each side's average-neighborhood
    * window; sides with fewer than `k` candidates average what they
    * have (count, not k, divides).
    *
    * Scale shape: two rank windows partitioned by each side's id over
    * the CANDIDATE relation (bounded per key by the upstream
    * nomination), two grouped exact-decimal averages joined back by
    * key. No all-pairs stage of its own.
    */
  def marginScores(scored: DataFrame, k: Int, topM: Int,
                   aId: String = "query_id", bId: String = "match_id"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(topM >= 1, s"topM must be >= 1, got $topM")
    val finite = scored.filter(col("cosine") =!= lit(Double.NegativeInfinity))
    val wa = Window.partitionBy(col(aId)).orderBy(col("cosine").desc, col(bId).asc)
    val wb = Window.partitionBy(col(bId)).orderBy(col("cosine").desc, col(aId).asc)
    val ranked = finite
      .withColumn("__ra", row_number().over(wa))
      .withColumn("__rb", row_number().over(wb))
    def sideAvg(keep: String, key: String, out: String) =
      ranked.filter(col(keep) <= k).groupBy(col(key))
        .agg((sum(col("cosine").cast("decimal(28,15)")).cast("double") /
          count(lit(1)).cast("double")).as(out))
    val aAvg = sideAvg("__ra", aId, "__aavg")
    val bAvg = sideAvg("__rb", bId, "__bavg")
    val mg = ranked.join(aAvg, Seq(aId)).join(bAvg, Seq(bId))
      .select(col(aId), col(bId), col("cosine"),
        round(col("cosine") / ((col("__aavg") + col("__bavg")) / 2.0), 6)
          .as("margin"))
    Ann.rankTail(mg, aId, topM, col("margin").desc, col(bId).asc)
  }

  /** Mutual top-k filter: keep a candidate pair iff each side ranks
    * inside the OTHER side's top `k` by cosine — the reciprocal-
    * nearest-neighbor prefilter mining pipelines run before (or
    * instead of) margin scoring: a hub may be someone's neighbor, but
    * a pair that is mutually top-k is aligned from both directions.
    * Output: the mutual pairs with both ranks
    * (`aId, bId, cosine, rank_ab, rank_ba`).
    *
    * Same scale shape as [[marginScores]]: two bounded rank windows
    * over the candidate relation, nothing else.
    */
  def mutualTopK(scored: DataFrame, k: Int,
                 aId: String = "query_id", bId: String = "match_id"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val finite = scored.filter(col("cosine") =!= lit(Double.NegativeInfinity))
    val wa = Window.partitionBy(col(aId)).orderBy(col("cosine").desc, col(bId).asc)
    val wb = Window.partitionBy(col(bId)).orderBy(col("cosine").desc, col(aId).asc)
    finite
      .withColumn("rank_ab", row_number().over(wa))
      .withColumn("rank_ba", row_number().over(wb))
      .filter(col("rank_ab") <= k && col("rank_ba") <= k)
      .select(col(aId), col(bId), col("cosine"),
        col("rank_ab"), col("rank_ba"))
  }

  /** Brute-force margin mining between two embedding collections:
    * all-pairs round-6 cosines (B broadcast into a nested-loop kernel —
    * the sanctioned brute tier; for corpus-scale sides feed ANN
    * nominations to [[marginScores]] instead), then the margin rerank.
    * Output: `(aId, bId, cosine, margin, rank)`, `rank <= topM`.
    */
  def marginMine(a: DataFrame, b: DataFrame, k: Int = 4, topM: Int = 1,
                 aId: String = "query_id", bId: String = "match_id",
                 vecCol: String = "embedding"): DataFrame =
    marginScores(cosineAllPairs(a, b, aId, bId, vecCol), k, topM, aId, bId)

  /** All-pairs round-6 cosine relation between two sides (B broadcast
    * into the nested-loop kernel) — the brute candidate generator
    * [[marginMine]] and [[mutualTopK]]'s gate share. Small-to-medium
    * sides only; corpus-scale flows substitute ANN nominations.
    */
  def cosineAllPairs(a: DataFrame, b: DataFrame,
                     aId: String = "query_id", bId: String = "match_id",
                     vecCol: String = "embedding"): DataFrame = {
    val pa = a.select(col(aId), col(vecCol).as("__va"))
    val pb = b.select(col(bId), col(vecCol).as("__vb"))
    pa.crossJoin(broadcast(pb))
      .select(col(aId), col(bId),
        round(Ann.cosinePre(col("__va"), col("__vb"),
          Ann.norm(col("__va")), Ann.norm(col("__vb"))), 6).as("cosine"))
  }
}
