package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distribution profiling: equi-width histograms over a numeric column
  * — the "what does this 100 TB column look like" pass behind skew
  * detection, bucket sizing, and data-quality dashboards.
  *
  * One bounded stats row (min/max) is resolved first, then the bucket
  * id is a narrow arithmetic projection and the counts are one
  * partial-agg'd groupBy over at most `buckets` groups — two linear
  * scans, no window, no join. Empty buckets produce no row (join a
  * spine downstream if a dense vector is needed).
  *
  * The bucket arithmetic is `floor(((v - lo) / (hi - lo)) * buckets)`
  * clamped to `buckets - 1` (the max value belongs to the last bucket,
  * not a phantom overflow one) — every step an exactly-rounded IEEE op
  * on values both engines read identically from parquet, so an oracle
  * restating the same parenthesization hash-matches.
  */
object Profile {

  /** ANALYZE-style per-column table statistics — the planner-feeding
    * pass (broadcast decisions, skew thresholds, dashboard freshness):
    * one row per profiled column with `n_rows`, `n_nulls`, `ndv`, and
    * min/max rendered as strings (one schema fits every column type).
    *
    * Two modes. `exact = false` (the 100 TB default) computes every
    * column's stats in ONE pass — `approx_count_distinct` (HLL) plus
    * null-counts and min/max are all partial-agg'd into a single
    * stats row, then unpivoted driver-side (a |cols|-row literal
    * frame). `exact = true` swaps HLL for `count(distinct col)`
    * (Spark plans the multi-distinct via one Expand — |cols|× the scan
    * rows shuffled; affordable on a slice, wrong as the default) — the
    * mode the DuckDB oracle can restate, and the cross-check for the
    * approx mode's error.
    */
  def tableStats(df: DataFrame, cols: Seq[String],
                 exact: Boolean = false): DataFrame = {
    require(cols.nonEmpty, "tableStats needs at least one column")
    val aggs = count(lit(1)).as("__n") +: cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"__nn_$c"),
        (if (exact) countDistinct(col(c))
         else approx_count_distinct(col(c))).as(s"__ndv_$c"),
        min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c"))
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val n = row.getAs[Long]("__n")
    val out = cols.map { c =>
      (c, n, n - row.getAs[Long](s"__nn_$c"), row.getAs[Long](s"__ndv_$c"),
        row.getAs[String](s"__min_$c"), row.getAs[String](s"__max_$c"))
    }
    import df.sparkSession.implicits._
    out.toDF("col_name", "n_rows", "n_nulls", "ndv", "min_value", "max_value")
  }

  /** Key-skew report: the `k` heaviest join/group keys with their share
    * of all rows and their ratio to the mean key load — the diagnostic
    * behind "will this key melt a task at 100 TB" and the input to a
    * salting/AQE-threshold decision. One partial-agg'd count per
    * key, one bounded stats row, a `TakeOrderedAndProject` top-k —
    * never a global sort. Both ratios are single IEEE divisions of
    * exact integers, so an oracle reproduces them bitwise.
    */
  def keySkew(df: DataFrame, keys: Seq[String], k: Int = 10): DataFrame = {
    require(keys.nonEmpty, "keySkew needs at least one key column")
    require(k >= 1, s"k must be >= 1, got $k")
    val counts = df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
    val r = counts.agg(sum(col("n")).as("total"),
      count(lit(1)).as("groups")).head()
    require(!r.isNullAt(0),
      s"no rows to profile for keys ${keys.mkString(", ")}")
    val (total, groups) = (r.getLong(0), r.getLong(1))
    counts
      .withColumn("share", col("n").cast("double") / lit(total.toDouble))
      .withColumn("skew_vs_avg",
        col("n").cast("double") / (lit(total.toDouble) / lit(groups.toDouble)))
      .orderBy(col("n").desc +: keys.map(col(_).asc): _*)
      .limit(k)
  }

  /** Per-group z-score outlier report: n, mean, population stddev, and
    * how many rows sit beyond `z` deviations — the data-quality screen
    * for "which segment's totals have garbage in them".
    *
    * Determinism: a plain double `avg`/`stddev` is partition-order
    * sensitive, so the moments are built from EXACT decimal sums
    * instead — each value quantizes to a decimal ONCE at `quantScale`
    * (callers pick a scale that represents the data exactly — 2 for
    * prices — so the cast is engine-convention-free), the square is
    * computed IN decimal (exact), the sums are exact, and mean/std
    * derive from them in a fixed double expression order (textbook
    * `E[x²] − mean²`, clamped at 0 for the cancellation edge). Same
    * exact-decimal-accumulation convention as LmScore; squaring the
    * quantized decimal rather than quantizing the double `x·x` matters
    * because a 53-bit product needs ~23 digits at a wide scale and
    * engines round the excess differently.
    *
    * Scale shape: one partial-agg'd shuffle to |groups| stats rows,
    * broadcast back, then a narrow comparison and one more partial-agg'd
    * count — two linear scans, no window. Cancellation caveat: with
    * values of magnitude ~1e6, `E[x²] − mean²` keeps ~8 significant
    * digits of variance — plenty for a z-screen; callers needing exact
    * tiny variances over huge offsets should center first.
    */
  def zScoreOutliers(df: DataFrame, keys: Seq[String], valueCol: String,
                     z: Double = 2.0, quantScale: Int = 2): DataFrame = {
    require(keys.nonEmpty, "zScoreOutliers needs at least one key column")
    require(z > 0.0, s"z must be positive, got $z")
    require(quantScale >= 0 && quantScale <= 6,
      s"quantScale must be in 0..6, got $quantScale")
    val x = col(valueCol).cast("double")
    val rows = df.filter(x.isNotNull)
      .select(keys.map(col) :+ x.as("__x"): _*)
    // decimal(12,s): values up to 10^(12-s) quantize exactly; the square
    // is decimal(25,2s) — still exact, still inside Spark's 38-digit cap
    val xd = col("__x").cast(s"decimal(12,$quantScale)")
    val stats = rows.groupBy(keys.map(col): _*).agg(
      count(lit(1)).as("n"),
      sum(xd).as("__sx"),
      sum(xd * xd).as("__sx2"))
    val mean = col("__sx").cast("double") / col("n").cast("double")
    val ex2 = col("__sx2").cast("double") / col("n").cast("double")
    val withMoments = stats
      .withColumn("mean", mean)
      .withColumn("std", sqrt(greatest(ex2 - col("mean") * col("mean"), lit(0.0))))
      .select((keys.map(col) :+ col("n") :+ col("mean") :+ col("std")): _*)
    // null-SAFE re-join: a null key is a real segment (often the very
    // garbage slice a quality screen exists to surface) — groupBy keeps
    // it, so a null-unsafe equi-join here would silently drop the whole
    // group from the report (keySkew in this file keeps null keys too)
    val m = withMoments.select(
      (keys.map(k => col(k).as(s"__m_$k")) :+ col("n") :+ col("mean")
        :+ col("std")): _*)
    val cond = keys.map(k => col(k) <=> col(s"__m_$k")).reduce(_ && _)
    rows.join(broadcast(m), cond)
      .groupBy(keys.map(col): _*)
      .agg(first(col("n")).as("n"), first(col("mean")).as("mean"),
        first(col("std")).as("std"),
        sum(when(abs(col("__x") - col("mean")) > lit(z) * col("std"), 1L)
          .otherwise(0L)).as("n_outliers"))
  }

  /** Min-max feature scaling: each listed numeric column rescaled to
    * [0, 1] — the feature-prep pass before distance-based models. One
    * bounded stats row (min/max per column, a single partial-agg'd
    * job), then a narrow projection `(x − lo) / (hi − lo)` — every
    * step one exactly-rounded IEEE op on values both engines read
    * identically, so an oracle restating the parenthesization is
    * bitwise. A constant column (hi = lo) scales to 0.0; nulls stay
    * null. Scaled columns are appended as `<name>_scaled`.
    */
  def minMaxScale(df: DataFrame, valueCols: Seq[String]): DataFrame = {
    require(valueCols.nonEmpty, "minMaxScale needs at least one column")
    val aggs = valueCols.flatMap(c => Seq(
      min(col(c)).cast("double").as(s"__lo_$c"),
      max(col(c)).cast("double").as(s"__hi_$c")))
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    valueCols.zipWithIndex.foreach { case (c, i) =>
      require(!r.isNullAt(2 * i), s"$c has no non-null values to scale")
    }
    valueCols.zipWithIndex.foldLeft(df) { case (acc, (c, i)) =>
      val (lo, hi) = (r.getDouble(2 * i), r.getDouble(2 * i + 1))
      val scaled =
        if (hi == lo) when(col(c).isNotNull, lit(0.0))
        else (col(c).cast("double") - lit(lo)) / (lit(hi) - lit(lo))
      acc.withColumn(s"${c}_scaled", scaled)
    }
  }

  /** Per-group DISCRETE quantiles (nearest-rank, the value AT rank
    * `ceil(p·n)`) — chosen over interpolated quantiles deliberately:
    * selection of an existing element involves NO arithmetic, so any
    * engine that sorts the same multiset returns byte-identical
    * results (interpolated definitions differ in formula association
    * across engines and drift in the last ulp). Ranks use the same
    * integer-percent `(n·pct + 99) div 100` trick as
    * `Sampling.temporalSplit`.
    *
    * One key-partitioned rank window + one partial-agg'd groupBy — no
    * joins, one shuffle reused. Group sizes bound the window: fine for
    * entity-keyed groups; for a handful of corpus-share segments at
    * 100 TB prefer `quantileSketch` (approx, no sort) and keep this
    * exact form for slices and verification.
    */
  def groupQuantilesDisc(df: DataFrame, keys: Seq[String], valueCol: String,
                         pcts: Seq[Int]): DataFrame = {
    require(keys.nonEmpty, "groupQuantilesDisc needs at least one key")
    require(pcts.nonEmpty && pcts.forall(p => p >= 1 && p <= 100),
      s"pcts must be integer percents in 1..100, got $pcts")
    require(pcts.distinct.size == pcts.size,
      s"duplicate percentiles would emit duplicate p<N> columns: $pcts")
    val reservedQ = pcts.map(p => s"p$p").toSet
      .union(Set("__rn", "__n")).intersect(df.columns.toSet)
    require(reservedQ.isEmpty,
      s"columns ${reservedQ.mkString(", ")} collide with quantile " +
        "internals/output — rename")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(valueCol).asc)
    val wAll = Window.partitionBy(keys.map(col): _*)
    val ranked = df.filter(col(valueCol).isNotNull)
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(wAll))
    def thr(pct: Int) =
      ((col("__n") * lit(pct.toLong) + lit(99L)) / lit(100L)).cast("long")
    ranked
      .filter(pcts.map(p => col("__rn") === thr(p)).reduce(_ || _))
      .groupBy(keys.map(col): _*)
      .agg(
        max(when(col("__rn") === thr(pcts.head), col(valueCol)))
          .as(s"p${pcts.head}"),
        pcts.tail.map(p =>
          max(when(col("__rn") === thr(p), col(valueCol))).as(s"p$p")): _*)
  }

  /** Robust (median/IQR) scaling per group — the outlier-resistant
    * feature normalization (`(x − p50) / (p75 − p25)`): one heavy tail
    * barely moves the median where it drags a mean/min-max scale. Uses
    * [[groupQuantilesDisc]] (exact, engine-portable) + one broadcast
    * join back + a narrow projection; a zero-IQR group (over half the
    * mass on one value) scales to 0.0, nulls stay null. Appended as
    * `<valueCol>_robust`.
    */
  /** One quantile-join-back used by [[robustScale]] and [[winsorize]]:
    * attach the group's `p<pct>` columns to every row via a null-safe
    * broadcast left join (a null key is a real segment). Callers add
    * their projection and then [[dropQuantileCols]]. */
  private def joinGroupQuantiles(df: DataFrame, keys: Seq[String],
                                 valueCol: String, pcts: Seq[Int]): DataFrame = {
    val aliases = keys.map(k => s"__q_$k")
    val reserved = aliases.toSet.intersect(df.columns.toSet)
    require(reserved.isEmpty,
      s"columns ${reserved.mkString(", ")} collide with quantile join " +
        "internals — rename")
    val q = groupQuantilesDisc(df, keys, valueCol, pcts)
      .select(keys.map(k => col(k).as(s"__q_$k")) ++
        pcts.map(p => col(s"p$p")): _*)
    val cond = keys.map(k => col(k) <=> col(s"__q_$k")).reduce(_ && _)
    df.join(broadcast(q), cond, "left")
  }

  private def dropQuantileCols(df: DataFrame, keys: Seq[String],
                               pcts: Seq[Int]): DataFrame =
    df.drop((keys.map(k => s"__q_$k") ++ pcts.map(p => s"p$p")): _*)

  def robustScale(df: DataFrame, keys: Seq[String], valueCol: String): DataFrame = {
    val x = col(valueCol).cast("double")
    dropQuantileCols(
      joinGroupQuantiles(df, keys, valueCol, Seq(25, 50, 75))
        .withColumn(s"${valueCol}_robust",
          when(x.isNull, lit(null).cast("double"))
            .when(col("p75") === col("p25"), lit(0.0))
            .otherwise((x - col("p50")) / (col("p75") - col("p25")))),
      keys, Seq(25, 50, 75))
  }

  /** Winsorization: clamp each value into its group's
    * `[p<loPct>, p<hiPct>]` band — the tail-taming companion to
    * [[robustScale]] (clip the outlier instead of normalizing around
    * it; the standard pre-step before mean-based aggregates on
    * heavy-tailed feeds). Same machinery: discrete quantiles + one
    * broadcast join back + a narrow clamp projection; nulls stay null
    * (a bare `greatest(null, lo)` would SKIP the null and resurrect
    * the row at the floor). Appended as `<valueCol>_wins`. */
  def winsorize(df: DataFrame, keys: Seq[String], valueCol: String,
                loPct: Int = 5, hiPct: Int = 95): DataFrame = {
    require(1 <= loPct && loPct < hiPct && hiPct <= 100,
      s"need 1 <= loPct < hiPct <= 100, got ($loPct, $hiPct)")
    val x = col(valueCol).cast("double")
    dropQuantileCols(
      joinGroupQuantiles(df, keys, valueCol, Seq(loPct, hiPct))
        .withColumn(s"${valueCol}_wins",
          when(x.isNull, lit(null).cast("double"))
            .otherwise(least(greatest(x, col(s"p$loPct")), col(s"p$hiPct")))),
      keys, Seq(loPct, hiPct))
  }

  /** Rank normalization: each value's percent rank within its group —
    * `(rank − 1) / (n − 1)` in [0, 1] — the distribution-free feature
    * transform (immune to outliers AND to scale, where
    * [[robustScale]] still carries magnitudes). Ranks come from the
    * usual total order `(value, tieCols…)`, so equal values get
    * DISTINCT deterministic ranks (documented; callers wanting
    * tie-averaged ranks should pre-aggregate). A singleton group maps
    * to 0.0. Null-VALUED rows are excluded — no rank exists for them
    * (and engines disagree on where nulls sort, so including them
    * would also break rank portability).
    *
    * Same two shared-partitioning windows as [[temporalSplit]] (rank +
    * count, one Exchange); the division is one IEEE op — restated
    * identically by the oracle.
    */
  def rankNormalize(df: DataFrame, keys: Seq[String], valueCol: String,
                    tieCols: Seq[String] = Nil): DataFrame = {
    require(keys.nonEmpty, "rankNormalize needs at least one key column")
    val reserved = Set("__rn", "__n").intersect(df.columns.toSet)
    require(reserved.isEmpty,
      s"columns ${reserved.mkString(", ")} collide with rankNormalize " +
        "internals — rename")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy((col(valueCol).asc +: tieCols.map(col(_).asc)): _*)
    val wAll = Window.partitionBy(keys.map(col): _*)
    df.filter(col(valueCol).isNotNull)
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn(s"${valueCol}_pctrank",
        when(col("__n") === 1L, lit(0.0))
          .otherwise((col("__rn") - lit(1)).cast("double") /
            (col("__n") - lit(1)).cast("double")))
      .drop("__rn", "__n")
  }

  def equiWidthHistogram(df: DataFrame, valueCol: String,
                         buckets: Int = 20): DataFrame = {
    require(buckets >= 1, s"buckets must be positive, got $buckets")
    val r = df.agg(min(col(valueCol)).cast("double").as("lo"),
      max(col(valueCol)).cast("double").as("hi")).head()
    require(!r.isNullAt(0), s"$valueCol has no non-null values to profile")
    val (lo, hi) = (r.getDouble(0), r.getDouble(1))
    val v = col(valueCol).cast("double")
    val bucket =
      if (hi == lo) lit(0)  // degenerate domain: everything in bucket 0
      else least(floor(((v - lit(lo)) / (lit(hi) - lit(lo))) * lit(buckets)),
        lit(buckets - 1)).cast("int")
    df.filter(v.isNotNull)
      .groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("n"))
  }
}
