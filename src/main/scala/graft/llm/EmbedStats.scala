package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Embedding-space statistics: per-dimension means, the exact
  * second-moment (Gram) / covariance matrix, and mean-vector drift
  * between two slices — what an embedding pipeline needs before
  * whitening its vectors (covariance is the whitening input), when
  * auditing an encoder swap, or when watching a crawl's embedding
  * distribution move (the embedding analogue of the token-level
  * `corpus_drift`).
  *
  * Two Gram tiers:
  *   - [[gramExact]] — the ORACLE-portable tier: per-row products
  *     quantize to `decimal(28,15)` (exact for float inputs widened to
  *     double: ≤ 2·24 significand bits each, well inside 15 decimal
  *     digits… pinned by the VARCHAR-route convention either way) and
  *     sum exactly, so any engine reproduces each cell bitwise; costs
  *     one explode² join (n·dim² rows) — the AUDIT tier you run on a
  *     slice.
  *   - [[gramFast]] — the 100 TB tier: a mapPartitions kernel holding
  *     ONE dim×dim double accumulator per task (dim 64 → 32 KB), rows
  *     stream through it, partials reduce on the driver-side collect of
  *     #partitions matrices. No shuffle proportional to n·dim²; float
  *     summation order varies with partitioning, so it is
  *     spec-equivalent (1e-9) to the exact tier, not hash-equal.
  *
  * Output matrices publish the UPPER TRIANGLE only (j ≤ k): the matrix
  * is symmetric, half the cells is the whole answer.
  */
object EmbedStats {

  /** Exact per-dimension means: `(j, mean)` with `j` 0-based — the
    * shared [[Ann.dimMeans]] over the whole frame.
    */
  def meanVector(df: DataFrame, vecCol: String): DataFrame =
    Ann.dimMeans(df, Nil, col(vecCol))
      .select(col("__dim").as("j"), col("__m").as("mean"))

  /** Exact second moments and covariance, upper triangle:
    * `(j, k, n, m2, cov)` with `m2 = Σ xj·xk / n` (decimal-exact sum,
    * one division) and `cov = m2 − mean_j·mean_k` (three exactly-
    * rounded ops on the published means). The audit tier — explode²
    * join, n·dim² rows; run it on a slice, not the corpus (that is
    * [[gramFast]]'s job).
    */
  def gramExact(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val ex = df.select(col(idCol).as("__id"),
      posexplode(col(vecCol)).as(Seq("j", "__v")))
    val pairs = ex.join(
        ex.select(col("__id"), col("j").as("k"), col("__v").as("__w")),
        Seq("__id"))
      .filter(col("j") <= col("k"))
    val m2 = pairs.groupBy(col("j"), col("k"))
      .agg(count(lit(1)).as("n"),
        sum((col("__v").cast("double") * col("__w").cast("double"))
          .cast("decimal(28,15)")).as("__s"))
      .select(col("j"), col("k"), col("n"),
        (col("__s").cast("double") / col("n").cast("double")).as("m2"))
    val means = meanVector(df, vecCol)
    m2.join(broadcast(means.select(col("j"), col("mean").as("__mj"))), Seq("j"))
      .join(broadcast(means.select(col("j").as("k"), col("mean").as("__mk"))),
        Seq("k"))
      .select(col("j"), col("k"), col("n"), col("m2"),
        (col("m2") - col("__mj") * col("__mk")).as("cov"))
  }

  /** The corpus-scale Gram kernel: one dim×dim accumulator per task,
    * rows stream through, #partitions partial matrices reduce to one.
    * Returns the same `(j, k, n, m2)` upper triangle as [[gramExact]]
    * (no covariance — compose with [[meanVector]] if needed); values
    * agree with the exact tier to float-summation order
    * (spec-asserted at 1e-9), not bitwise.
    */
  def gramFast(df: DataFrame, vecCol: String, dim: Int): DataFrame = {
    require(dim >= 1, s"dim must be >= 1, got $dim")
    val spark = df.sparkSession
    import spark.implicits._
    // one (triangle, count) pair per task — O(#partitions · dim²/2)
    // collected, far below any data-proportional transfer; empty input
    // degrades to the zero matrix instead of a reduce() throw
    val partials = df.select(col(vecCol)).as[Array[Float]]
      .mapPartitions { rows =>
        val a = Array.ofDim[Double](dim * (dim + 1) / 2)
        var cnt = 0L
        rows.foreach { v =>
          require(v.length == dim, s"vector length ${v.length} != dim $dim")
          var j = 0; var idx = 0
          while (j < dim) {
            val vj = v(j).toDouble
            var k = j
            while (k < dim) { a(idx) += vj * v(k).toDouble; idx += 1; k += 1 }
            j += 1
          }
          cnt += 1
        }
        if (cnt == 0) Iterator.empty else Iterator.single((a, cnt))
      }
      .collect()
    val acc = Array.ofDim[Double](dim * (dim + 1) / 2)
    var n = 0L
    partials.foreach { case (a, cnt) =>
      var i = 0
      while (i < a.length) { acc(i) += a(i); i += 1 }
      n += cnt
    }
    val rows = for (j <- 0 until dim; k <- j until dim) yield {
      val idx = j * dim - j * (j - 1) / 2 + (k - j)
      (j, k, n, if (n == 0) 0.0 else acc(idx) / n)
    }
    spark.createDataFrame(rows).toDF("j", "k", "n", "m2")
  }

  /** Diagonal whitening (per-dimension z-score) of an embedding
    * column — the standardization step before cosine/L2 geometry is
    * trusted across dimensions of different scale (full whitening
    * takes [[gramFast]]'s off-diagonals; the diagonal is what most
    * pipelines actually apply). Per dimension: the portable-rounded
    * mean, `sd = sqrt(m2 − mean²)` (exactly-rounded ops on published
    * values, clamped at 0 for constant dims), then
    * `z = round((x − mean)/sd, 6)` with zero-variance dims pinned to
    * 0.0. Output renders the vector as the sorted sparse string
    * `"j:z j:z …"` ([[TextStats.hashedFeatures]]'s portable form —
    * arrays don't hash portably in the driver compare).
    *
    * Scale shape: one stats aggregation (dim rows → broadcast), one
    * narrow z projection, one per-row render agg.
    */
  def standardize(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val ex = df.select(col(idCol), posexplode(col(vecCol)).as(Seq("__j", "__v")))
    val stats = ex.groupBy(col("__j"))
      .agg(count(lit(1)).as("__n"),
        Ann.exactMean(col("__v")).as("__m"),
        sum((col("__v").cast("double") * col("__v").cast("double"))
          .cast("decimal(28,15)")).as("__s2"))
      .select(col("__j"), col("__m"),
        (col("__s2").cast("double") / col("__n").cast("double")).as("__m2"))
      .select(col("__j"), col("__m"),
        sqrt(greatest(col("__m2") - col("__m") * col("__m"), lit(0.0)))
          .as("__sd"))
    val zRaw = round((col("__v").cast("double") - col("__m")) / col("__sd"), 6)
    ex.join(broadcast(stats), Seq("__j"))
      .select(col(idCol), col("__j"),
        // the zRaw === 0 branch folds -0.0 into 0.0 so both engines
        // render the same string
        when(col("__sd") === 0.0 || zRaw === 0.0, lit(0.0))
          .otherwise(zRaw).as("__z"))
      .groupBy(col(idCol))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("__j"), col("__z")))),
          // fixed-scale decimal render: a raw double string goes
          // scientific below 1e-3 in the JVM but never in DuckDB
          s => concat(s.getField("__j").cast("string"), lit(":"),
            s.getField("__z").cast("decimal(18,6)").cast("string"))), " ")
        .as("z_features"))
  }

  /** Mean-vector drift between two slices: one row
    * `(n_a, n_b, l2, cosine)` — the L2 distance and cosine between the
    * two exact mean vectors (ascending-dimension folds, round-6). The
    * embedding-space encoder-swap / crawl-shift alarm.
    */
  def embeddingDrift(a: DataFrame, b: DataFrame, vecCol: String): DataFrame = {
    def meansOf(df: DataFrame, side: String) =
      meanVector(df, vecCol).select(col("j"),
        col("mean").as(s"__m$side"))
    def cnt(df: DataFrame, name: String) =
      df.agg(count(lit(1)).cast("long").as(name))
    val joined = meansOf(a, "a").join(meansOf(b, "b"), Seq("j"))
    // sort_array over (j, value) structs pins the dimension order —
    // collect_list alone is partition-order-sensitive
    val agg = joined
      .agg(sort_array(collect_list(struct(col("j"), col("__ma")))).as("__pa"),
        sort_array(collect_list(struct(col("j"), col("__mb")))).as("__pb"))
      .select(transform(col("__pa"), s => s.getField("__ma")).as("__va"),
        transform(col("__pb"), s => s.getField("__mb")).as("__vb"))
    agg.crossJoin(broadcast(cnt(a, "n_a"))).crossJoin(broadcast(cnt(b, "n_b")))
      .select(col("n_a"), col("n_b"),
        round(sqrt(aggregate(
          zip_with(col("__va"), col("__vb"), (x, y) => (x - y) * (x - y)),
          lit(0.0), (s, v) => s + v)), 6).as("l2"),
        round(Ann.cosinePre(col("__va"), col("__vb"),
          Ann.norm(col("__va")), Ann.norm(col("__vb"))), 6).as("cosine"))
  }
}
