package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-wide statistics: the aggregate views over a training corpus
  * that drive filter design (which boilerplate n-grams to blocklist,
  * how language/source mass is distributed).
  */
object CorpusStats {

  /** Global top-k word n-grams by occurrence count, ties broken by the
    * gram text. Shape: shingle explode (narrow) → one hash aggregation
    * with map-side partial counts → `TakeOrderedAndProject` top-k — the
    * count shuffle carries one row per DISTINCT gram per partition, and
    * the top-k never globally sorts.
    */
  def topNgrams(docs: DataFrame, textCol: String, n: Int = 2,
                k: Int = 50): DataFrame = {
    require(n >= 1 && k >= 1, s"need n >= 1 and k >= 1, got n=$n k=$k")
    docs.select(explode(Dedup.shingles(col(textCol), n)).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("occurrences"))
      .orderBy(col("occurrences").desc, col("gram").asc)
      .limit(k)
  }

  /** Bigram conditional next-token model: `P(w2 | w1)` over normalized
    * whitespace tokens — the blocklist/autocomplete/perplexity-feature
    * companion to [[topNgrams]], but conditioned per context instead of
    * globally ranked.
    *
    * Shape: [[LmScore]]'s pair positions and pair model — one O(len)
    * `word_shingles` byte scan (no shingle strings re-split), one
    * partial-agg'd count shuffle to |vocab|² pair rows, and the context
    * totals DERIVE from the pair counts (`n_ctx = Σ_w2 n_pair` — every
    * non-final token is in exactly one pair), so the corpus text is
    * read once. The probability is one integer-count IEEE division —
    * order/partitioning/engine stable. `minPair` prunes the hapax tail
    * (at web scale most pairs are seen once; the model table stays
    * bounded by the kept head) while `n_ctx` stays over every pair.
    */
  def bigramLm(docs: DataFrame, textCol: String, minPair: Long = 1L): DataFrame = {
    val pm = LmScore.pairModel(LmScore.gramTf(docs, Seq.empty, textCol, 2), minPair)
    pm.kept.join(pm.ctx, "w1")
      .select(col("w1"), col("w2"), col("n_pair"), col("n_ctx"),
        (col("n_pair").cast("double") / col("n_ctx").cast("double")).as("p"))
  }

  /** Corpus composition by a grouping column (language, source, …):
    * document count, token volume, mean quality score.
    *
    * The quality mean sums EXACT decimals (qualityScore is a 4-decimal
    * value, so `decimal(14,4)` represents it losslessly and the sum is
    * order-independent) and divides once in doubles — deterministic
    * across partitionings and engines, unlike a plain double `avg`.
    */
  def composition(docs: DataFrame, groupCol: String, textCol: String): DataFrame =
    docs.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextStats.tokenCount(col(textCol)).cast("long")).as("n_tokens"),
        (sum(TextStats.qualityScore(col(textCol)).cast("decimal(14,4)"))
          .cast("double") / count(lit(1))).as("avg_quality"))

  /** The per-group DATA-CARD row — [[composition]] plus the two numbers
    * a datasheet reports that composition doesn't: raw char volume and
    * the EXACT-DUPLICATE fraction (1 − distinct normalized digests /
    * docs — what the dedup stage will reclaim, published before it
    * runs). Still ONE partially-aggregated pass: the distinct-digest
    * count plans as a single Expand, no join, no window; `dup_frac` is
    * one IEEE division of exact longs.
    */
  def datasheet(docs: DataFrame, groupCol: String, textCol: String): DataFrame =
    docs.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(coalesce(col(textCol), lit(""))).cast("long"))
          .as("n_chars"),
        sum(TextStats.tokenCount(col(textCol)).cast("long")).as("n_tokens"),
        sum(TextStats.qualityScore(col(textCol)).cast("decimal(14,4)"))
          .as("__qs"),
        countDistinct(md5(Dedup.normalize(col(textCol)))).as("__nd"))
      .select(col(groupCol), col("n_docs"), col("n_chars"), col("n_tokens"),
        (col("__qs").cast("double") / col("n_docs")).as("avg_quality"),
        ((col("n_docs") - col("__nd")).cast("double")
          / col("n_docs").cast("double")).as("dup_frac"))

  /** Per-group EXACT quartiles (plus min/max/count) of an integer
    * column — the length-distribution profile that picks chunking and
    * filter thresholds.
    *
    * Exact `percentile` (sort-based within each group), not
    * `approx_percentile`: distribution profiling is a once-per-corpus
    * job, the per-group sort is the cost of cross-engine determinism,
    * and quarter quantiles on integer data are EXACT in IEEE arithmetic
    * — `(n−1)·p` with p ∈ {¼,½,¾} is a binary-fraction product, so the
    * interpolation `lo + (hi−lo)·frac` is computed without rounding in
    * any evaluation order and any engine (the same cannot be said of
    * p = 0.9, which is why the deciles are NOT offered here; a sketch
    * tier can serve non-binary quantiles where exactness is waived).
    */
  def quantileProfile(docs: DataFrame, groupCol: String, valueCol: String): DataFrame =
    docs.groupBy(col(groupCol))
      .agg(count(col(valueCol)).as("n"),
        min(col(valueCol)).as("min_v"),
        expr(s"percentile($valueCol, 0.25)").as("p25"),
        expr(s"percentile($valueCol, 0.5)").as("p50"),
        expr(s"percentile($valueCol, 0.75)").as("p75"),
        max(col(valueCol)).as("max_v"))

  /** The SKETCH tier of [[quantileProfile]]: arbitrary quantiles via
    * KLL/GK-style `approx_percentile` and distinct counts via HLL++
    * `approx_count_distinct` — mergeable, bounded-memory aggregates
    * that never sort a group. This is the right profile at the
    * 100 TB tier and for non-binary quantiles (p90, p99); the price is
    * waiving cross-engine exactness, so it is spec-tested against
    * error bounds rather than oracle-gated (sketch internals differ by
    * engine, and that is the point of the two tiers).
    *
    * `accuracy` is Spark's inverse-epsilon knob: rank error ≤
    * 1/accuracy (default 1/10000); `rsd` is HLL++ relative standard
    * deviation.
    */
  /** Bottom-k (KMV) sketch overlap between two corpora: estimated
    * Jaccard similarity of their distinct normalized-text sets, from k
    * rows per side instead of a full cross-corpus join.
    *
    * Classic k-minimum-values estimator: the k lexicographically
    * smallest content digests of each corpus are an order-statistics
    * sample of the digest space; the bottom-k of the UNION is computable
    * from the two sketches alone (the union's k smallest are necessarily
    * among each side's k smallest), and the fraction of them present in
    * BOTH corpora estimates J(A,B) with RMSE ≈ 1/√k. md5 is uniform
    * enough that lexicographic hex order is a uniform rank.
    *
    * Scale shape: each corpus is scanned ONCE (narrow digest projection
    * → distinct → `TakeOrderedAndProject` k) — no cross-corpus shuffle
    * at all; everything after is k-row frames the planner broadcasts.
    * "How much does crawl B overlap corpus A" at 100 TB costs two
    * corpus scans and O(k) memory. Deterministic and engine-portable:
    * set membership + ONE IEEE division, no float accumulation.
    *
    * Output: one row `(k_used, n_common, est_jaccard)`; `k_used` =
    * |bottom-k of the union| (< k only when the corpora are tiny).
    */
  def overlapSketch(a: DataFrame, b: DataFrame, textCol: String,
                    k: Int = 1024): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val sa = Dedup.digests(a, textCol).orderBy("digest").limit(k)
    val sb = Dedup.digests(b, textCol).orderBy("digest").limit(k)
    val su = sa.unionByName(sb).distinct().orderBy("digest").limit(k)
    su.join(sa.select(col("digest"), lit(1).as("__a")), Seq("digest"), "left")
      .join(sb.select(col("digest"), lit(1).as("__b")), Seq("digest"), "left")
      .agg(count(lit(1)).as("k_used"),
        sum(when(col("__a").isNotNull && col("__b").isNotNull, 1L)
          .otherwise(0L)).as("n_common"))
      .select(col("k_used"), col("n_common"),
        (col("n_common").cast("double") / col("k_used").cast("double"))
          .as("est_jaccard"))
  }

  /** KMV distinct-cardinality estimate of a corpus's normalized-text
    * set — "how many unique documents" at 100 TB without a full
    * distinct aggregation shuffle. Same bottom-k order statistics as
    * [[overlapSketch]]: if the k-th smallest of n uniform digests sits
    * at fraction f of the hash space, then n ≈ (k−1)/f (the classic
    * KMV estimator, Bar-Yossef et al. 2002; RMSE ≈ 1/√k). Fewer than k
    * distinct digests means the sketch IS the distinct set — the
    * estimate degrades to the exact count.
    *
    * Scale shape: one narrow digest scan → distinct (partial-agg'd) →
    * `TakeOrderedAndProject` k; the estimate itself is arithmetic on a
    * k-row frame. Deterministic and engine-portable: the digest rank
    * is the first 12 hex digits as an exact 48-bit integer, and the
    * estimate is two IEEE divisions of exact values.
    *
    * Output: one row `(k_used, true_distinct, est_distinct)` —
    * `true_distinct` is the exact count, computed for gate
    * verification; skip it in production (it is the full shuffle the
    * sketch exists to avoid).
    */
  def cardinalitySketch(docs: DataFrame, textCol: String,
                        k: Int = 1024): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val d = Dedup.digests(docs, textCol)
    val agg = kmvEstimate(d.orderBy("digest").limit(k), k)
    val truth = d.agg(count(lit(1)).as("true_distinct"))
    agg.crossJoin(truth)
      .select(col("k_used"), col("true_distinct"), col("est_distinct"))
  }

  /** Mergeable KMV SYNOPSIS: the k smallest distinct digests of a
    * slice's `textCol` — persistable per load as k rows. Because
    * bottom-k(A ∪ B) = bottom-k(bottom-k(A) ∪ bottom-k(B)), the merge
    * ([[kmvMerge]]) is LOSSLESS: a corpus's distinct-count stays
    * maintainable from per-day synopses without re-reading history —
    * the sketch-tier counterpart of
    * [[graft.operators.IncrementalAgg]]'s algebraic state (COUNT
    * DISTINCT is not algebraic; its mergeable state is this synopsis).
    */
  def kmvSynopsis(docs: DataFrame, textCol: String, k: Int = 1024): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    Dedup.digests(docs, textCol).orderBy("digest").limit(k)
  }

  /** Fold synopses: union, re-distinct (the same text can appear in
    * many slices), keep the k smallest. Cost is |slices|·k rows. */
  def kmvMerge(synopses: Seq[DataFrame], k: Int): DataFrame = {
    require(synopses.nonEmpty, "kmvMerge needs at least one synopsis")
    synopses.reduce(_ unionByName _).distinct().orderBy("digest").limit(k)
  }

  /** The KMV estimator over a synopsis: `(k−1)/frac(kth digest)`, exact
    * count when the synopsis holds fewer than k digests. Arithmetic on
    * a k-row frame — free. */
  def kmvEstimate(synopsis: DataFrame, k: Int): DataFrame = {
    val kthFrac = conv(substring(max(col("digest")), 1, 12), 16, 10)
      .cast("double") / lit(281474976710656.0) // 16^12 = 2^48
    synopsis.agg(count(lit(1)).as("k_used"),
      when(count(lit(1)) < k, count(lit(1)).cast("double"))
        .otherwise(lit((k - 1).toDouble) / kthFrac).as("est_distinct"))
  }

  /** Per-GROUP KMV distinct estimation — `count(DISTINCT val) GROUP BY
    * key` at sketch cost: the k smallest value digests per key (a
    * rank-filtered window, so `InferWindowGroupLimit` ships ≤ k rows
    * per key from each map task), estimate `(k−1)/frac(kth)` when the
    * key holds ≥ k distinct values, EXACT count below k. The grouped
    * sibling of [[cardinalitySketch]]: same estimator, same md5
    * fraction, and the per-key bottom-k rows are a mergeable synopsis
    * exactly like [[kmvSynopsis]] (bottom-k of unions = bottom-k of
    * bottom-ks), so per-day per-key synopses maintain group distincts
    * without history re-reads.
    *
    * Output: `(keyCol, k_used, est_distinct)` — `est_distinct` exact
    * (= k_used) for keys under k.
    */
  def groupCardinality(df: DataFrame, keyCol: String, valCol: String,
                       k: Int = 256): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    import org.apache.spark.sql.expressions.Window
    val d = df.where(col(valCol).isNotNull)
      .select(col(keyCol), md5(col(valCol).cast("string")).as("digest"))
      .distinct()
    val w = Window.partitionBy(col(keyCol)).orderBy(col("digest").asc)
    val bottom = d.withColumn("__rn",
      org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("__rn") <= k)
    val kthFrac = conv(substring(max(col("digest")), 1, 12), 16, 10)
      .cast("double") / lit(281474976710656.0) // 16^12 = 2^48
    bottom.groupBy(col(keyCol))
      .agg(count(lit(1)).as("k_used"),
        when(count(lit(1)) < k, count(lit(1)).cast("double"))
          .otherwise(lit((k - 1).toDouble) / kthFrac).as("est_distinct"))
  }

  /** Token-distribution drift between two corpus slices — the data
    * monitoring number a training pipeline watches across crawls: L1
    * distance `Σ_t |c_a(t)/N_a − c_b(t)/N_b|` (and total variation
    * `L1/2 ∈ [0, 1]`) between the slices' unigram distributions.
    * Identical slices → 0; disjoint vocabularies → TV 1. L1 instead of
    * KL/JS ON PURPOSE: no logarithms — `ln` differs in the last ulp
    * across libm implementations, while each L1 term here is three
    * exactly-rounded IEEE ops (two divisions, one subtraction; abs is
    * exact), quantized to `decimal(28,15)` and summed exactly — the
    * [[LmScore]] portability discipline, so any engine computes the
    * identical drift.
    *
    * Scale shape: two token-count aggregations (map-side partials),
    * one full-outer hash join on the vocabulary (vocab ≪ corpus), one
    * exact-decimal sum to a single row. No window, no broadcast of
    * anything corpus-sized.
    */
  def distributionDrift(a: DataFrame, b: DataFrame,
                        textCol: String): DataFrame =
    distributionDriftFromCounts(tokenCounts(a, textCol),
      tokenCounts(b, textCol))

  /** Corpus-standard token counts `(term, c)` — the distribution form
    * [[distributionDriftFromCounts]] compares and the streaming drift
    * monitor ([[graft.streaming.StreamingJobs.driftEachBatch]])
    * maintains incrementally (counts are algebraic: fold a batch in via
    * union + one re-aggregation). */
  def tokenCounts(df: DataFrame, textCol: String): DataFrame =
    LmScore.unigramCounts(df, textCol, pruneHapax = false)

  /** [[distributionDrift]] over PRE-AGGREGATED `(term, c)` counts —
    * what a maintained count state or a persisted reference model
    * feeds, no text re-read. */
  def distributionDriftFromCounts(ca: DataFrame, cb: DataFrame): DataFrame = {
    val na = ca.agg(sum(col("c")).cast("long").as("n_a"),
      count(lit(1)).as("vocab_a"))
    val nb = cb.agg(sum(col("c")).cast("long").as("n_b"),
      count(lit(1)).as("vocab_b"))
    val joined = ca.withColumnRenamed("c", "__ca")
      .join(cb.withColumnRenamed("c", "__cb"), Seq("term"), "full_outer")
      .crossJoin(broadcast(na)).crossJoin(broadcast(nb))
      .select(col("n_a"), col("n_b"), col("vocab_a"), col("vocab_b"),
        abs(coalesce(col("__ca"), lit(0L)).cast("double") /
              col("n_a").cast("double") -
            coalesce(col("__cb"), lit(0L)).cast("double") /
              col("n_b").cast("double"))
          .cast("decimal(28,15)").as("__d"))
    joined.groupBy(col("n_a"), col("n_b"), col("vocab_a"), col("vocab_b"))
      .agg(sum(col("__d")).as("__l1"))
      .select(col("n_a"), col("n_b"), col("vocab_a"), col("vocab_b"),
        col("__l1").cast("double").as("l1"),
        (col("__l1").cast("double") / 2.0).as("tv"))
  }

  def quantileSketch(docs: DataFrame, groupCol: String, valueCol: String,
                     percentiles: Seq[Double] = Seq(0.5, 0.9, 0.99),
                     accuracy: Int = 10000, rsd: Double = 0.05): DataFrame = {
    require(percentiles.nonEmpty &&
      percentiles.forall(p => p >= 0.0 && p <= 1.0),
      s"percentiles must be in [0,1], got $percentiles")
    val ps = percentiles.mkString("array(", ", ", ")")
    val qs = percentiles.zipWithIndex.map { case (p, i) =>
      element_at(col("__qs"), i + 1)
        .as("p" + math.round(p * 100).toInt)
    }
    docs.groupBy(col(groupCol))
      .agg(count(col(valueCol)).as("n"),
        approx_count_distinct(col(valueCol), rsd).as("approx_distinct"),
        expr(s"approx_percentile($valueCol, $ps, $accuracy)").as("__qs"))
      .select(col(groupCol) +: col("n") +: col("approx_distinct") +: qs: _*)
  }
}
