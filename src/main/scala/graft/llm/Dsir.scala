package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DSIR-style importance weighting for data selection (Xie et al. 2023,
  * "Data Selection for Language Models via Importance Resampling"):
  * score every raw-corpus document by how much its hashed-n-gram
  * profile looks like a TARGET corpus (the high-quality slice you wish
  * the whole crawl resembled) relative to the raw corpus itself, then
  * keep the top-weighted documents. The published method fits two
  * bag-of-hashed-bigrams models — target `q` and raw `p` — and weights
  * each document by its `q`/`p` likelihood ratio; this implementation
  * is the LINEAR-SPACE analogue (mean per-feature probability ratio
  * instead of the log-sum), the same log-free trade [[LmScore]] makes:
  * `ln` is not an exactly-rounded IEEE op, so a log-space score could
  * never hash-match across engines, while the mean-ratio keeps every
  * step one exactly-rounded operation and ranks the same "looks like
  * the target" signal.
  *
  *   weight(d) = (1/n_d) · Σ_f tf_f · [ (q_f + 1)/(Nq + D) ] /
  *                                    [ (p_f + 1)/(Np + D) ]
  *
  * with `f` the hashed bigram buckets of `d` (the portable md5 bucket —
  * [[TextStats.hashedFeatures]]'s trick, bigrams because unigram
  * profiles can't see word order), `D` the feature dimension, add-one
  * smoothing on both models so unseen buckets contribute a finite
  * ratio. Per-term contributions quantize to `decimal(28,15)` and sum
  * exactly; the `dsir_weights` gate hash-matches a DuckDB restatement.
  *
  * Scale shape: two bucket-count aggregations (target + raw, map-side
  * partials, each model ≤ `dim` rows → broadcast), one per-doc tf
  * aggregation, one broadcast join, one per-doc exact sum. No window,
  * no global sort; the raw corpus streams once however big it is.
  */
object Dsir {

  /** Hashed-bigram bucket counts over a corpus: `(i, c)` with
    * `i = u32(md5("w1 w2")) mod dim` — the persistable model form
    * (train once on the target slice, reuse across raw batches).
    */
  def hashedBigramCounts(docs: DataFrame, textCol: String,
                         dim: Int = 4096): DataFrame = {
    require(dim >= 2, s"dim must be >= 2, got $dim")
    bigramTf(docs, Seq.empty, textCol, dim)
      .select(col("__i").as("i"), col("tf").as("c"))
  }

  /** Per-(keys…, bucket) hashed-bigram tf: `(keys…, __i, tf)`.
    *
    * Bigrams come from ONE O(len) byte scan
    * ([[graft.expressions.WordShingles]] at n = 2 — the r15 dedup
    * kernel) instead of the interpreted `zip_with(words, slice(words))`
    * concat pass. Identical grams: on the normalized single-space text
    * every word 2-gram is a contiguous substring, and the one shape
    * difference (word_shingles emits the WHOLE text as a single shingle
    * when the doc has < 2 words, where zip_with emitted a null) is
    * closed by the space filter — a true bigram always contains the
    * joining space, a whole-short-text shingle never does. The start/
    * end-space filters are LIVE, not defensive: `trim` strips only
    * 0x20, so a tab-leading doc normalizes to a leading empty word
    * whose gram starts with the joining space (OptKernelsSpec pins the
    * gram-set equivalence on exactly these inputs). That filter is why
    * this is not [[LmScore]]'s position builder, which keeps such grams.
    */
  private def bigramTf(docs: DataFrame, keys: Seq[Column], textCol: String,
                       dim: Int): DataFrame = {
    val g = docs.select(keys :+ explode(
        graft.expressions.WordShingles.word_shingles(
          Dedup.normalize(col(textCol)), 2)).as("__g"): _*)
      .where(instr(col("__g"), " ") > 0 && !col("__g").startsWith(" ") &&
        !col("__g").endsWith(" "))
    g.groupBy(g.columns.init.toIndexedSeq.map(col) :+
        pmod(graft.functions.Hashes.u32OfMd5(col("__g")), lit(dim.toLong)).as("__i"): _*)
      .agg(count(lit(1)).as("tf"))
  }

  /** The weight both entry points share: per-doc tf `(idCol, __i, tf)`
    * against the bucket models `(__i, __pc)` (raw) and `(__i, __qc)`
    * (target) with their token masses. Four exactly-rounded ops per
    * term — (q+1)/(Nq+D), (p+1)/(Np+D), their ratio, ×tf — then
    * [[LmScore.docMean]]'s exact decimal mean.
    */
  private def weigh(raw: DataFrame, idCol: String, tf: DataFrame,
                    p: DataFrame, q: DataFrame, np: Long, nq: Long,
                    dim: Int): DataFrame =
    LmScore.docMean(raw, idCol,
      tf.join(broadcast(q), Seq("__i"), "left")
        .join(broadcast(p), Seq("__i"), "left"),
      col("tf").cast("double") *
        (((coalesce(col("__qc"), lit(0L)) + 1L).cast("double") /
            lit(nq + dim).cast("double")) /
          ((coalesce(col("__pc"), lit(0L)) + 1L).cast("double") /
            lit(np + dim).cast("double"))),
      "n_feats", "dsir_weight")

  /** Importance weight per raw document against a target slice:
    * `(idCol, n_feats, dsir_weight)` — `n_feats` the document's bigram
    * token mass, `dsir_weight` the mean smoothed probability ratio
    * (null for documents with fewer than two tokens; > 1 ⇒
    * target-like). Both models broadcast.
    */
  def importanceWeights(raw: DataFrame, target: DataFrame,
                        idCol: String, textCol: String,
                        dim: Int = 4096): DataFrame = {
    // ONE raw-corpus scan: the per-doc tf is materialized (bounded —
    // ≤ min(bigrams, dim) numeric rows per doc, the same relation the
    // per-doc aggregation shuffles anyway) and the raw model p is
    // RE-AGGREGATED from it (Σ per-doc counts per bucket ≡
    // hashedBigramCounts(raw) exactly, both integer sums). Raw and
    // target are each read once and the scalar masses are jobs over
    // the bounded checkpoints.
    val tf = bigramTf(raw, Seq(col(idCol)), textCol, dim).localCheckpoint(true)
    val p = tf.groupBy(col("__i")).agg(sum(col("tf")).as("__pc"))
    val q = hashedBigramCounts(target, textCol, dim)
      .select(col("i").as("__i"), col("c").as("__qc"))
      .localCheckpoint(true) // ≤ dim rows
    val nq = q.agg(coalesce(sum(col("__qc")), lit(0L))).head().getLong(0)
    val np = p.agg(coalesce(sum(col("__pc")), lit(0L))).head().getLong(0)
    weigh(raw, idCol, tf, p, q, np, nq, dim)
  }

  /** [[importanceWeights]] for the common case where the target slice
    * is a PREDICATE over the raw corpus itself (e.g. `lang = 'en'`) —
    * the shape every dsir/curation gate uses. One raw-corpus scan
    * TOTAL: the per-doc tf is computed once carrying the per-doc target
    * flag, and BOTH models (and both token masses, in one scalar job)
    * re-aggregate from that bounded checkpoint. The generic form
    * scanned raw once and target once more — and when raw is itself an
    * expensive relation (curation_select's Gopher-filtered survivors),
    * the second scan re-ran the whole upstream battery.
    *
    * Exactly [[importanceWeights]](raw, raw.filter(targetFlag), …):
    * q ≡ hashedBigramCounts(raw.filter(flag)) because both are integer
    * sums of the same per-(doc, bucket) counts, grouped one level
    * apart; Nq/Np are the same integer totals. Verified value-identical
    * by the dsir gates' oracle hashes and DsirSpec.
    */
  def importanceWeightsFlagged(raw: DataFrame, targetFlag: Column,
                               idCol: String, textCol: String,
                               dim: Int = 4096): DataFrame = {
    require(dim >= 2, s"dim must be >= 2, got $dim")
    // the per-doc flag rides through the aggregation (one row per doc
    // in the input ⇒ the flag is constant per id)
    val tf = bigramTf(raw, Seq(col(idCol), targetFlag.as("__tgt")), textCol, dim)
      .localCheckpoint(true)
    val p = tf.groupBy(col("__i")).agg(sum(col("tf")).as("__pc"))
    val q = tf.filter(col("__tgt")).groupBy(col("__i"))
      .agg(sum(col("tf")).as("__qc"))
    // both scalar masses in ONE job over the bounded checkpoint
    val masses = tf.agg(
      coalesce(sum(col("tf")), lit(0L)),
      coalesce(sum(when(col("__tgt"), col("tf"))), lit(0L))).head()
    weigh(raw, idCol, tf, p, q, masses.getLong(0), masses.getLong(1), dim)
  }

  /** The resampling cut: top `n` documents by (weight desc, id asc) —
    * deterministic, so a re-run selects the identical training slice.
    * Null-weighted (too-short) documents never select.
    */
  def resampleTop(weighted: DataFrame, idCol: String, n: Int): DataFrame =
    weighted.where(col("dsir_weight").isNotNull)
      .orderBy(col("dsir_weight").desc, col(idCol).asc)
      .limit(n)
}
