package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Trainable linear classifier: deterministic FULL-BATCH gradient
  * descent over dense embedding features — the iterative-optimizer
  * complement to [[Classify]]'s one-shot nearest-centroid tier, for
  * quality/domain filters where a fitted decision boundary beats a
  * class mean (GPT-3- and LLaMA-style linear CommonCrawl filters).
  *
  * Arithmetic contract (every published number is reachable through
  * exactly-rounded IEEE ops + exact decimal sums, so the `logreg_*`
  * gates hash-match a DuckDB restatement bitwise):
  *   - the feature vector is augmented with a leading 1.0 (index 0 =
  *     bias), weights are `dim + 1` round-6 doubles starting at 0;
  *   - margin m = Σ_j dec28,15(x_j · w_j), summed EXACTLY as decimals
  *     (order-free), then one decimal→double conversion;
  *   - the link is the ALGEBRAIC sigmoid p = 0.5·(1 + m/(1+|m|)) —
  *     same monotone S-shape and 0.5-at-0 decision geometry as the
  *     logistic, but built from ÷, ×, +, |·| only: `exp` is NOT
  *     correctly rounded on either engine's libm, and a 1-ulp `exp`
  *     divergence under a round-6 quantizer is exactly the midpoint
  *     hazard the codebase's FP-parity rules exist to exclude;
  *   - p quantizes to 6 dp via floor(p·10⁶ + 0.5)/10⁶, the residual is
  *     r = p − y, gradient sums Σ_i dec28,15(r_i · x_ij) are exact
  *     decimals, and the update w_j ← round6(w_j − lr·(g_j/n)) is
  *     three exactly-rounded double ops (lr defaults to 0.5, exact in
  *     binary).
  *
  * Scale shape: one iteration = one NARROW margin/residual pass (the
  * weight vector rides along as a literal array — no join, no shuffle)
  * plus one `dim+1`-group aggregation; the model is `dim+1` rows. The
  * corpus-sized operation is [[scores]] (a single narrow pass);
  * training runs on the LABELED slice, which is sample-sized by
  * definition in a curation pipeline — and even corpus-sized training
  * is K linear scans, never a collect.
  */
object LogReg {

  /** Augmented feature array: [1.0, x_1…x_dim] as exact doubles. */
  private def augmented(vecCol: String): Column =
    concat(array(lit(1.0d)),
      transform(col(vecCol), x => x.cast("double")))

  /** Exact-decimal margin of the augmented vector against a literal
    * weight array: Σ_j dec28,15(x_j·w_j) → double. Every add is exact
    * (the sum of dim+1 unit-scale terms sits far inside 38 digits), and
    * the result is order-independent, which is what makes the narrow
    * no-shuffle form safe to restate as DuckDB's group-by sum. One
    * compiled loop ([[graft.expressions.Dec15Dot]]) — the interpreted
    * `aggregate(zip_with(...cast(decimal)...))` tree it replaces paid
    * an expression walk and two Decimal boxes per element; the kernel
    * replicates the cast/sum bit for bit (OptKernelsSpec pins it).
    */
  private def marginExpr(vecCol: String, w: Array[Double]): Column =
    graft.expressions.Dec15Dot.dec15_dot(augmented(vecCol), w)

  /** Train `iters` full-batch rounds; returns the fitted weights as
    * `(j, w)` rows — j = 0 is the bias, j = 1…dim the per-dimension
    * weights, every w a round-6 double.
    */
  def train(df: DataFrame, labelCol: String, vecCol: String,
            iters: Int, lr: Double = 0.5): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // materialized ONCE: every iteration reads base twice (margin pass +
    // gradient agg), so raw lineage would recompute the caller's feature
    // prep (e.g. hashedTfVector's explode/assembly) 2·iters times.
    // Bounded: n × (dim+1) doubles — the labeled training slice itself.
    val base = df.select(col(labelCol).cast("double").as("__y"),
      augmented(vecCol).as("__x")).localCheckpoint(true)
    // Fail loud, not opaque: an empty labeled slice would otherwise
    // throw head()'s NoSuchElementException, and ragged vector lengths
    // would silently null out margins via zip_with padding.
    val dims = base.agg(min(size(col("__x"))), max(size(col("__x")))).head()
    require(!dims.isNullAt(0),
      "LogReg.train: empty training input — no labeled rows")
    require(dims.getInt(0) == dims.getInt(1),
      s"LogReg.train: ragged feature vectors — lengths span " +
        s"[${dims.getInt(0)}, ${dims.getInt(1)}] (must be uniform)")
    val dim = dims.getInt(0)
    val nRows = base.count()
    val n = nRows.toDouble
    // Size the per-iteration parallelism from the DATA, not the ambient
    // partition count (guide §2.2): every iteration launches two stages
    // over `base`, and a sample-sized labeled slice spread over the
    // cluster-default partitioning pays task-scheduling floor × iters.
    // ~16 MB of dense vectors per task, capped at the default
    // parallelism — at a 1M×(dim+1) slice this still uses every core;
    // at a 5k-row slice the iteration collapses to one task. coalesce
    // is a narrow op on the checkpointed relation; the gradient is an
    // exact decimal sum, so partitioning cannot move any published bit.
    val targetParts = math.max(1L, math.min(
      spark.sparkContext.defaultParallelism.toLong,
      nRows * (dim + 1) * 8L / (16L << 20))).toInt
    val iterBase =
      if (base.rdd.getNumPartitions > targetParts) base.coalesce(targetParts)
      else base
    var w = Array.fill(dim)(0.0d)
    var it = 0
    while (it < iters) {
      // residual pass is narrow: the weights ride in a compiled kernel
      // (graft.expressions.Dec15Dot, the same exact decimal fold as the
      // old zip_with tree), pinned by LogRegSpec + the logreg_* gates.
      val withR = iterBase.select(
        (Ann.round6(sigmoidAlg(
          graft.expressions.Dec15Dot.dec15_dot(col("__x"), w)))
          - col("__y")).as("__r"),
        col("__x"))
      // gradient: posexplode + (dim+1)-group decimal sums. Measured
      // AGAINST the "one global agg of dim+1 sum columns" form: that
      // plan's generated aggregate (33 decimal CheckOverflow buffers)
      // cost ~1 s of driver-side codegen per iteration on a cold JVM
      // (10 s across the loop) for ~0.1 s/iter of executor win — the
      // explode form's per-iteration plan is small and compiles once.
      val grads = withR
        .select(col("__r"), posexplode(col("__x")).as(Seq("j", "__xj")))
        .groupBy(col("j"))
        .agg(sum((col("__r") * col("__xj")).cast("decimal(28,15)")).as("__g"))
        .select(col("j"), col("__g").cast("double"))
        .as[(Int, Double)].collect()
      grads.foreach { case (j, g) =>
        val upd = w(j) - lr * (g / n)
        w(j) = math.floor(upd * 1e6 + 0.5) / 1e6
      }
      it += 1
    }
    spark.createDataset(w.toSeq.zipWithIndex.map { case (wj, j) => (j, wj) })
      .toDF("j", "w")
  }

  /** The algebraic sigmoid 0.5·(1 + m/(1+|m|)). */
  private def sigmoidAlg(m: Column): Column =
    lit(0.5) * (lit(1.0) + m / (lit(1.0) + abs(m)))

  /** Score every row against a fitted `(j, w)` model (collected under
    * the bounded-model contract — dim+1 rows): `(id, score, pred)`
    * where score = round6(σ̃(margin)) and pred = score ≥ 0.5. This is
    * the corpus-sized pass: narrow, codegen'd, zero shuffle.
    */
  def scores(df: DataFrame, idCol: String, vecCol: String,
             model: DataFrame): DataFrame = {
    import df.sparkSession.implicits._
    val w = model.select(col("j").cast("int"), col("w").cast("double"))
      .as[(Int, Double)].collect().sortBy(_._1).map(_._2)
    df.select(col(idCol),
        Ann.round6(sigmoidAlg(marginExpr(vecCol, w))).as("score"))
      .withColumn("pred", (col("score") >= lit(0.5)).cast("int"))
  }
}
