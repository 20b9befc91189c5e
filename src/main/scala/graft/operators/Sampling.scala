package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic stratified sampling — the training-data "balanced
  * subset" primitive (per-language / per-source quotas): exactly
  * `min(n, |group|)` rows per group, chosen by a PORTABLE hash order
  * (md5 of the id rendered as a string, id tiebreak) so any engine —
  * and any rerun — draws the same sample. No RNG state, no
  * `sample()`-style approximate fractions.
  *
  * Scale: one window shuffle partitioned BY GROUP — fine while every
  * group fits a task.
  */
object Sampling {

  def stratified(df: DataFrame, groupCols: Seq[String], idCol: String,
                 n: Int): DataFrame = {
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(md5(col(idCol).cast("string")).asc, col(idCol).asc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n).drop("__rn")
  }

  /** Deterministic train/val/test assignment: membership is a pure
    * function of the id — `split` = the first named fraction whose
    * cumulative threshold exceeds the id's 32-bit md5 value. Stable
    * across reruns, engines, partitionings and corpus GROWTH (a new
    * document never moves an old one between splits — the property
    * `sample(fraction)` and `randomSplit` both lack), which is what
    * keeps eval sets uncontaminated as a training corpus accretes.
    *
    * The comparison is INTEGER (hash < ⌊cum·2^32⌋ on the first 8 md5
    * hex digits widened to a long), so any engine that can fold 8 hex
    * digits reproduces the exact membership — no floating-point
    * boundary rows. Narrow projection: zero shuffle.
    */
  def hashSplit(df: DataFrame, idCol: String,
                splits: Seq[(String, Double)]): DataFrame = {
    require(splits.nonEmpty, "at least one split required")
    require(splits.forall(_._2 > 0), s"split fractions must be positive: $splits")
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      s"split fractions must sum to 1, got ${splits.map(_._2).sum}")
    val u32 = graft.functions.Hashes.u32OfMd5(col(idCol).cast("string"))
    val thresholds = splits.scanLeft(0.0)(_ + _._2).tail
      .map(c => math.min(math.round(c * 4294967296.0), 4294967296L))
    val chain = splits.init.zip(thresholds.init)
      .foldRight(lit(splits.last._1): Column) {
        case (((name, _), thr), els) => when(u32 < thr, lit(name)).otherwise(els)
      }
    // A null id has no hash: every `u32 < thr` is null-falsy, so the
    // fold would silently dump ALL null-id rows into the LAST split —
    // for (train, val, test) that skews the eval set with exactly the
    // malformed rows a pipeline least wants there. Membership is a pure
    // function of the id, so a null id is a contract violation: fail
    // the row loudly (free on the non-null path — one codegen'd branch).
    df.withColumn("split",
      when(col(idCol).isNull, raise_error(lit(
        s"hashSplit: null $idCol — split membership is a pure function of the id")))
        .otherwise(chain))
  }

  /** Leakage-safe train/val/test assignment: [[hashSplit]] keyed by the
    * document's CLUSTER REPRESENTATIVE instead of its own id, so a
    * family of near-duplicates can never straddle a split boundary.
    * Splitting by raw id leaks: a near-dup of a training document lands
    * in the eval set with probability (1 − train fraction), and eval
    * loss on it measures memorization, not generalization — the
    * contamination the dedup tier exists to prevent. Feed `clusters`
    * from [[graft.llm.Dedup.resolveClusters]] (any near-dup tier);
    * documents without a cluster row fall back to their own id
    * (singleton cluster), so coverage gaps degrade to the plain hash
    * split rather than dropping rows.
    *
    * Output: input columns + `split_key` (the canon the hash ran on) +
    * `split`. Same integer-threshold membership as [[hashSplit]] —
    * engine/rerun/growth stable, and adding NEW members to a cluster
    * never moves the cluster.
    *
    * Scale shape: one key-equi left join (clusters are corpus-sized but
    * the join is on the id — co-partitioned with any upstream dedup
    * output) plus the narrow hash projection.
    */
  def splitByCluster(df: DataFrame, idCol: String, clusters: DataFrame,
                     clusterIdCol: String, canonCol: String,
                     splits: Seq[(String, Double)]): DataFrame = {
    val c = clusters.select(col(clusterIdCol).as(idCol),
      col(canonCol).as("__sbc_canon"))
    val joined = df.join(c, Seq(idCol), "left")
      .withColumn("__sbc_canon", coalesce(col("__sbc_canon"), col(idCol)))
    hashSplit(joined, "__sbc_canon", splits)
      .withColumnRenamed("__sbc_canon", "split_key")
  }

  /** Weighted (probability-proportional-to-size) SYSTEMATIC sampling of
    * exactly `n` draws: rows are laid along a line in portable-hash
    * order, each occupying a segment of its weight; `n` pick points sit
    * at the midpoints of a regular grid over the total weight `T`
    * (positions `T·(2k+1)/(2n)`), and a row is drawn once per pick
    * point inside its segment — the classic survey-sampling PPS design,
    * here fully deterministic (the md5 order replaces the random start)
    * and rerun/engine-stable. Σcopies = n ALWAYS (every pick point
    * lands in exactly one segment); a row heavier than `T/n` is drawn
    * multiple times (`copies` > 1), which is exactly the multiplicity a
    * mixture builder should honor.
    *
    * All arithmetic is INTEGER: a pick hits a segment iff an odd
    * multiple `m·T` (m < 2n) lies in `(2n·prev, 2n·cum]`, and the copy
    * count is a closed-form difference of odd-counts — no floating
    * point anywhere, so a SQL oracle reproduces the draw bit-for-bit.
    * Requires `2·n·T < 2^63` (checked).
    *
    * Scale shape: same two-phase range-sorted cumulative sum as
    * [[Selection.byTokenBudget]] — no global-window funnel; the copies
    * projection and filter are narrow.
    *
    * Output: input columns + `copies` (≥ 1) for drawn rows only.
    */
  /** Deterministic uniform sample WITHOUT replacement: the `n` rows
    * whose `md5(id)` ranks smallest (id as tiebreak). The hash rank is
    * a uniform permutation of the ids, so this is an unbiased uniform
    * draw that is reproducible across runs, engines, and partitionings
    * — the property `df.sample()` lacks (seed × partitioning
    * dependent), and the one a training-data pipeline needs for
    * auditable eval carve-outs.
    *
    * Scale shape: `TakeOrderedAndProject` — per-partition top-n, no
    * shuffle; driver holds n × partitions candidates transiently.
    * Keep `n` sample-sized (≤ ~10⁵); for giant draws prefer
    * [[hashSplit]]'s rate-based carve.
    */
  def uniformByHash(df: DataFrame, idCol: String, n: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    df.orderBy(md5(col(idCol).cast("string")).asc, col(idCol).asc).limit(n)
  }

  /** Portable within-stratum hash rank + stratum size: the shared
    * machinery of [[splitStratified]]/[[sampleStratified]]. Rank order
    * is `(md5(id), id)` — a deterministic uniform permutation PER
    * stratum, identical on any engine/partitioning/rerun. One window
    * partitioned by the strata (no global funnel; cost tracks the
    * largest stratum, which for lang/source strata is corpus-sized
    * only when the strata are degenerate — the caller's modeling
    * error, not a plan hazard).
    */
  private def strataRank(df: DataFrame, idCol: String,
                         strataCols: Seq[String]): DataFrame = {
    require(strataCols.nonEmpty, "strataCols must be non-empty")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(strataCols.map(col): _*)
      .orderBy(md5(col(idCol).cast("string")).asc, col(idCol).asc)
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(strataCols.map(col): _*)
    df.withColumn("__rn", row_number().over(w).cast("long"))
      .withColumn("__n", count(lit(1)).over(wAll))
  }

  /** EXACT-count stratified split: within each stratum, hash-ranked
    * rows fill each non-final split with exactly `floor(n_s · frac)`
    * rows (in the given order), remainder to the final split — the
    * "exactly 10% of EVERY language in the eval set" contract that
    * [[hashSplit]]'s per-row thresholds cannot give (binomial noise is
    * ±√n per stratum, and a rare stratum can miss a split entirely).
    * Deterministic and engine/rerun-stable; NOT accretion-stable
    * (adding rows re-ranks the stratum — inherent to exact counts; use
    * [[hashSplit]] when membership stability under growth matters more
    * than exact sizes). Null ids fail loudly, same contract as
    * [[hashSplit]]; null STRATA values form their own stratum (SQL
    * grouping semantics). Output: input columns + `split`.
    */
  def splitStratified(df: DataFrame, idCol: String,
                      strataCols: Seq[String],
                      splits: Seq[(String, Double)]): DataFrame = {
    require(splits.size >= 2, "need at least two splits")
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      s"split fractions must sum to 1, got ${splits.map(_._2).sum}")
    val ranked = strataRank(df, idCol, strataCols)
    // cumulative EXACT floor counts per non-final split; floor(n·frac)
    // is the same double multiply + floor on any IEEE engine, so the
    // oracle reproduces the cut bit-for-bit
    val cuts = splits.init.scanLeft(lit(0L).cast("long")) {
      case (acc, (_, frac)) => acc + floor(col("__n") * lit(frac)).cast("long")
    }.tail
    val chain = splits.init.zip(cuts)
      .foldRight(lit(splits.last._1): Column) {
        case (((name, _), cut), els) =>
          when(col("__rn") <= cut, lit(name)).otherwise(els)
      }
    // the null-id guard lives INSIDE the published column so column
    // pruning can never skip it (a null id has a null hash: its rank
    // among fellow null-id rows would be a nondeterministic tie)
    ranked.withColumn("split",
        when(col(idCol).isNull, raise_error(lit(
          s"splitStratified: null $idCol — membership is a pure function " +
            "of the id"))).otherwise(chain))
      .drop("__rn", "__n")
  }

  // (exact-count stratified SAMPLING already exists above as
  // [[stratified]] — group-limit form, no window; splitStratified is
  // its SPLIT counterpart, which needs the per-stratum size and so
  // pays the rank+count windows)

  def weightedSystematic(df: DataFrame, idCol: String, weightCol: String,
                         n: Int): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    require(n >= 1, s"n must be >= 1, got $n")
    require(df.schema(weightCol).dataType == LongType,
      s"$weightCol must be LongType (cast upstream), got " +
        df.schema(weightCol).dataType)
    val sorted = df
      .sort(md5(col(idCol).cast("string")).asc, col(idCol).asc)
      .localCheckpoint(true)
    val wIdx = sorted.schema.fieldIndex(weightCol)
    def w(r: Row): Long = {
      val v = if (r.isNullAt(wIdx)) 0L else r.getLong(wIdx)
      require(v >= 0, s"negative weight $v in $weightCol")
      v
    }
    val rdd = sorted.rdd
    val partSums = rdd.mapPartitionsWithIndex { (i, it) =>
      Iterator((i, it.map(w).sum))
    }.collect().sortBy(_._1).map(_._2)
    val offsets = partSums.scanLeft(0L)(_ + _)
    val total = offsets.last
    require(total > 0, "total weight must be positive")
    require(total <= Long.MaxValue / (2L * n),
      s"2*n*total overflows: n=$n total=$total — reduce n or rescale weights")
    val grid = 2L * n
    val schema = StructType(sorted.schema.fields :+
      StructField("copies", LongType, nullable = false))
    def oddsUpTo(x: Long): Long = (math.min(x, grid - 1) + 1) / 2
    val picked = rdd.mapPartitionsWithIndex { (i, it) =>
      var cum = offsets(i)
      it.flatMap { r =>
        val prev = cum
        cum += w(r)
        val copies = oddsUpTo((grid * cum) / total) - oddsUpTo((grid * prev) / total)
        if (copies > 0) Iterator(Row.fromSeq(r.toSeq :+ copies))
        else Iterator.empty
      }
    }
    sorted.sparkSession.createDataFrame(picked, schema)
  }

  /** Per-entity TEMPORAL holdout: within each key group, order rows by
    * `(tsCol, tieCols…)` and label the first `ceil(n · trainPct / 100)`
    * rows `names._1`, the rest `names._2` — the leakage-free split for
    * sequence models (every entity's holdout is strictly LATER than its
    * training data, so no future information crosses the boundary,
    * which a [[hashSplit]] over events cannot guarantee). A singleton
    * group goes entirely to train (ceil rounds up) — holdout rows exist
    * only where there is history to train on.
    *
    * The fraction is an integer PERCENT and the threshold is
    * `(n·pct + 99) div 100` on integers: a double `ceil(0.8·n)` crosses
    * integer boundaries on FP dust (IEEE `0.8·5` is
    * `4.0000000000000002`, so ceil says 5) and engines disagree on
    * decimal-vs-double literal typing — the div form is portable and
    * exact, same reasoning as [[hashSplit]]'s integer thresholds. (The
    * implementation computes the div as one correctly-rounded IEEE
    * division + truncate — exact floor while `n·pct < 2^52`, i.e. any
    * real per-entity group; the oracle restates true integer `//`.)
    *
    * Scale shape: one window shuffle partitioned BY ENTITY — group
    * sizes are per-entity event counts, naturally bounded (no
    * corpus-share skew the way a per-language split has), so no salting
    * is needed. Both windows (rank + group count) share one
    * partitioning: a single Exchange, two frames over the same sort.
    */
  def temporalSplit(df: DataFrame, keys: Seq[String], tsCol: String,
                    tieCols: Seq[String] = Nil, trainPct: Int = 80,
                    names: (String, String) = ("train", "holdout")): DataFrame = {
    require(keys.nonEmpty, "temporalSplit needs at least one key column")
    require(trainPct > 0 && trainPct < 100,
      s"trainPct must be in (0,100), got $trainPct")
    val reserved = Set("__rn", "__n", "split").intersect(df.columns.toSet)
    require(reserved.isEmpty,
      s"columns ${reserved.mkString(", ")} collide with temporalSplit " +
        "internals/output — rename")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy((col(tsCol).asc +: tieCols.map(col(_).asc)): _*)
    val wAll = Window.partitionBy(keys.map(col): _*)
    // ceil(n·pct/100) as (n·pct+99) div 100; the double division is
    // correctly rounded for these magnitudes so the cast-truncate is
    // exact floor — no FP boundary rows
    val thr = ((col("__n") * lit(trainPct.toLong) + lit(99L)) / lit(100L))
      .cast("long")
    df.withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn("split",
        when(col("__rn") <= thr, lit(names._1)).otherwise(lit(names._2)))
      .drop("__rn", "__n")
  }
}
