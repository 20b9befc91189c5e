package graft.llm

import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al. 2011, "Product Quantization for
  * Nearest Neighbor Search") — the memory tier of the ANN family: the
  * `dim`-dimensional vector space is split into `m` orthogonal
  * subspaces, each quantized by its own small k-means codebook, and a
  * vector is stored as `m` one-byte-ish codes instead of `dim` floats.
  * At 100 TB that is the difference between an embedding corpus that
  * fits executor memory as codes (64-dim float = 256 B → 8 codes = 8 B,
  * a 32× compression) and one that must be re-read from parquet per
  * query batch. Search is ADC (asymmetric distance computation): each
  * query precomputes an `m × k` table of exact subspace distances to
  * every codebook centroid, and a corpus row's distance is `m` table
  * lookups summed — no float vector is touched at scan time.
  *
  * Engine-reproducible by the [[Ann.kmeansTrain]] conventions: stride
  * init (no RNG), L2 assignment with the min-code tie rule, the shared
  * exact per-dimension means ([[Ann.dimMeans]] + [[Ann.gather]], the
  * portable [[Ann.round6]]), distances folded in ascending-dimension
  * order (one exactly-rounded op per step, so any engine computes the
  * identical double). The `pq_train`/`ann_pq` gates hash-compare the
  * whole train → encode → ADC chain against a DuckDB restatement.
  *
  * One nearest-code kernel ([[encodeKernel]]) serves training and
  * encoding, one builder ([[adcTables]]) makes every query's table,
  * and one scan ([[adcTopK]]) serves [[pqTopK]] (every code) and
  * [[ivfPqTopK]] (the codes of the probed lists).
  *
  * Scale shape: training is the k-means shape per subspace (corpus
  * passes + (sub, code, dim)-keyed partial aggs, model ≤ m·k·subDim
  * doubles broadcast); encoding is a broadcast mapPartitions kernel
  * (the sanctioned dense-numeric case); the ADC scan is a broadcast
  * join of per-query tables against the codes table with the sum as
  * one compiled m-lookup loop ([[graft.expressions.AdcSum]]) — per-row
  * cost m lookups. Pair with IVF lists ([[ivfPqTopK]]) when even the
  * code scan must be pruned.
  */
object Pq {

  /** (sub → (code, centroid)s ascending by code), collected model form. */
  private type Model = Array[Array[(Int, Array[Double])]]

  private def d2(vec: Array[Float], off: Int, c: Array[Double]): Double = {
    var d = 0.0
    var j = 0
    while (j < c.length) {
      val t = vec(off + j).toDouble - c(j)
      d += t * t
      j += 1
    }
    d
  }

  private def collectModel(model: DataFrame, m: Int): Model = {
    val spark = model.sparkSession
    import spark.implicits._
    val rows = model.select(col("sub").cast("int"), col("code").cast("int"),
        col("centroid")).as[(Int, Int, Array[Double])].collect()
    val bySub = rows.groupBy(_._1)
    Array.tabulate(m)(s =>
      bySub.getOrElse(s, Array.empty).map(r => (r._2, r._3)).sortBy(_._1))
  }

  /** The nearest-code kernel: per (vector, subspace) the code of the
    * nearest centroid, strict `<` over ascending codes = the min-code
    * tie rule, mirroring the oracle's `ROW_NUMBER(ORDER BY d2 ASC, code
    * ASC)`. `emit` shapes each output row from `(id, vector, codes)` —
    * training keeps the vector (no join re-attaches it by id, which
    * shuffled every vector once per Lloyd round), encoding drops it.
    */
  private def encodeKernel[T: Encoder](df: DataFrame, idCol: String, vecCol: String,
                                       cents: Model, subDim: Int)
                                      (emit: (Long, Array[Float], Array[Int]) => T): Dataset[T] = {
    val spark = df.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(cents)
    df.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .mapPartitions { rows =>
        val cs = bc.value
        val m = cs.length
        rows.map { case (rid, vec) =>
          val codes = new Array[Int](m)
          var s = 0
          while (s < m) {
            var best = -1
            var bestD = Double.PositiveInfinity
            val subCents = cs(s)
            var i = 0
            while (i < subCents.length) {
              val d = d2(vec, s * subDim, subCents(i)._2)
              if (d < bestD) { bestD = d; best = subCents(i)._1 }
              i += 1
            }
            codes(s) = best
            s += 1
          }
          emit(rid, vec, codes)
        }
      }
  }

  /** `(idCol, __codes)`: [[encodeKernel]] without the vector. */
  private def codesOf(df: DataFrame, idCol: String, vecCol: String,
                      cents: Model, subDim: Int): DataFrame = {
    import df.sparkSession.implicits._
    encodeKernel(df, idCol, vecCol, cents, subDim)((rid, _, codes) => (rid, codes))
      .toDF(idCol, "__codes")
  }

  /** Train the `m` codebooks: per subspace, `iters` Lloyd rounds over
    * the corpus with `k` stride-initialized centroids (init code
    * `vec_id div stride`, stride `ceil(n/k)` — no RNG). A code that
    * loses every member drops out, deterministically. An empty corpus
    * trains an empty model.
    *
    * Output: `(sub, code, n_members, centroid: array<double>)` — the
    * persistable model [[pqEncode]] / [[pqTopK]] consume, as the local
    * relation the last round collected ([[Ann.collectLocal]]).
    */
  def pqTrain(corpus: DataFrame, idCol: String = "vec_id",
              vecCol: String = "embedding", m: Int = 8, k: Int = 16,
              iters: Int = 2): DataFrame = {
    require(m >= 1 && k >= 2 && iters >= 1,
      s"need m >= 1, k >= 2, iters >= 1; got m=$m k=$k iters=$iters")
    val spark = corpus.sparkSession
    import spark.implicits._
    // an empty corpus has no vector to size: dim 0 runs the rounds over
    // no rows, so the empty model keeps the trained model's schema
    val dim = corpus.select(size(col(vecCol))).head(1).headOption.fold(0)(_.getInt(0))
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val subDim = dim / m
    val n = corpus.count()
    val stride = math.max(1L, math.ceil(n.toDouble / k).toLong)
    var cents: Model = {
      val init = corpus
        .filter(pmod(col(idCol), lit(stride)) === 0 &&
          (col(idCol).cast("long") / lit(stride)).cast("long") < k)
        .select((col(idCol).cast("long") / lit(stride)).cast("int").as("code"),
          col(vecCol))
        .as[(Int, Array[Float])].collect().sortBy(_._1)
      Array.tabulate(m)(s => init.map { case (code, v) =>
        (code, Array.tabulate(subDim)(j => v(s * subDim + j).toDouble))
      })
    }
    var result: DataFrame = null
    for (_ <- 0 until iters) {
      val assigned = encodeKernel(corpus, idCol, vecCol, cents, subDim)(
          (rid, vec, codes) => (rid, vec, codes))
        .toDF(idCol, vecCol, "__codes")
        .select(col(vecCol), posexplode(col("__codes")).as(Seq("sub", "code")))
      val keys = Seq("sub", "code")
      result = Ann.collectLocal(Ann.gather(Ann.dimMeans(assigned, keys,
        slice(col(vecCol), (col("sub") * subDim + 1).cast("int"), lit(subDim))), keys))
      cents = collectModel(result, m)
    }
    result
  }

  /** Encode vectors against a trained model: `(idCol, codes:
    * array<int>)`, `codes(s)` = nearest code of subspace `s`. */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
               model: DataFrame, m: Int, dim: Int): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    codesOf(df, idCol, vecCol, collectModel(model, m), dim / m)
      .toDF(idCol, "codes")
  }

  /** `(queryId, __tbl)`: per query the exact `m × kMax` table of squared
    * subspace distances to every codebook centroid. Codes that died in
    * training hold NaN slots — unreachable, since the encoder never
    * emits them.
    */
  private def adcTables(queries: DataFrame, queryId: String, vecCol: String,
                        cents: Model, subDim: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val kMax = cents.map(sc => sc.lastOption.map(_._1 + 1).getOrElse(0)).max
    val bc = spark.sparkContext.broadcast(cents)
    queries.select(col(queryId).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .mapPartitions { rows =>
        val cs = bc.value
        rows.map { case (qid, vec) =>
          val tbl = Array.tabulate(cs.length) { s =>
            val row = Array.fill(kMax)(Double.NaN)
            cs(s).foreach { case (code, c) => row(code) = d2(vec, s * subDim, c) }
            row
          }
          (qid, tbl)
        }
      }
      .toDF(queryId, "__tbl")
  }

  /** The one ADC scan behind [[pqTopK]] and [[ivfPqTopK]]: the per-query
    * tables broadcast against the corpus codes, `m` lookups summed per
    * pair, top `k` by (distance asc, id asc). `lists` = the IVF
    * centroid table and `nprobe`: each query then meets only the
    * members of its `nprobe` nearest lists (cosine, min-cid tie —
    * [[Ann.ivfTopKTrained]] semantics); `None` scans every code.
    */
  private def adcTopK(queries: DataFrame, corpus: DataFrame, model: DataFrame,
                      lists: Option[(Array[(Long, Array[Double], Double)], Int)],
                      k: Int, m: Int, dim: Int,
                      queryId: String, corpusId: String, vecCol: String): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val subDim = dim / m
    val cents = collectModel(model, m)
    val codes = codesOf(corpus, corpusId, vecCol, cents, subDim)
    val tables = adcTables(queries, queryId, vecCol, cents, subDim)
    // with lists: the corpus side carries its one list, the query side
    // one row per probed list, and pairs meet on the list id
    val (qSide, cSide, on) = lists.fold((tables, codes, Seq.empty[String])) {
      case (icents, nprobe) =>
        (Ann.assignTopK(queries.select(col(queryId), col(vecCol)),
            queryId, vecCol, icents, nprobe)
          .select(col(queryId), col("__cent")).join(tables, Seq(queryId)),
         codes.join(Ann.assignTopK(corpus.select(col(corpusId), col(vecCol)),
            corpusId, vecCol, icents, 1).select(col(corpusId), col("__cent")),
           Seq(corpusId)),
         Seq("__cent"))
    }
    val scored = broadcast(qSide).join(cSide, on)
      .filter(col(queryId) =!= col(corpusId))
      .select(col(queryId), col(corpusId),
        // one compiled m-lookup loop (graft.expressions.AdcSum), folded
        // in ascending-subspace order (OptKernelsSpec)
        round(graft.expressions.VecKernels.adc_sum(
          col("__tbl"), col("__codes")), 6).as("dist2"))
    Ann.rankTail(scored, queryId, k, col("dist2").asc, col(corpusId).asc)
  }

  /** ADC top-k: per query one exact `m × k` subspace-distance table
    * ([[adcTables]]), per corpus row `m` lookups summed by one compiled
    * loop, rank by (distance asc, id asc). Output:
    * `(queryId, corpusId, dist2, rank)` with `dist2` rounded to 6 dp
    * (the cross-engine render).
    */
  def pqTopK(queries: DataFrame, corpus: DataFrame, model: DataFrame,
             k: Int, m: Int, dim: Int,
             queryId: String = "query_id", corpusId: String = "neighbor_id",
             vecCol: String = "embedding"): DataFrame =
    adcTopK(queries, corpus, model, None, k, m, dim, queryId, corpusId, vecCol)

  /** ADC + refine (the "IVFADC+R" re-ranking step of Jégou et al.
    * 2011 §V): PQ codes nominate `kCand` candidates per query at
    * m-lookup cost, then ONLY those candidates are re-scored against
    * their exact float vectors and the top `k` re-ranked by true L2 —
    * quantization error bounds the ranking error only within the
    * candidate set, so a small `kCand` (2–4×k) recovers most of the
    * recall the codes lose while touching `kCand` full vectors per
    * query instead of the corpus. Exact distances fold in ascending
    * dimension order (one exactly-rounded op per step — the
    * [[Ann.dot]] convention), so the `ann_pq_refine` gate hash-matches
    * its DuckDB restatement.
    *
    * Output: `(queryId, corpusId, dist2, rank)` — `dist2` the EXACT
    * squared L2 rounded to 6 dp, rank by (dist2 asc, id asc).
    *
    * Scale shape: [[pqTopK]]'s broadcast-scan shape for nomination,
    * then a candidate-sized (|Q|·kCand rows) join back to the corpus
    * vectors — the refine cost is query-bounded, independent of corpus
    * size.
    */
  def pqTopKRefined(queries: DataFrame, corpus: DataFrame, model: DataFrame,
                    k: Int, kCand: Int, m: Int, dim: Int,
                    queryId: String = "query_id", corpusId: String = "neighbor_id",
                    vecCol: String = "embedding"): DataFrame = {
    require(kCand >= k, s"need kCand >= k, got kCand=$kCand k=$k")
    val cand = pqTopK(queries, corpus, model, kCand, m, dim,
        queryId, corpusId, vecCol)
      .select(col(queryId), col(corpusId))
    val q = broadcast(queries.select(col(queryId).cast("long").as(queryId),
      col(vecCol).as("__qv")))
    val exact = cand
      .join(q, Seq(queryId))
      .join(corpus.select(col(corpusId).cast("long").as(corpusId),
        col(vecCol).as("__cv")), Seq(corpusId))
      .select(col(queryId), col(corpusId),
        // compiled ascending-dimension (a−b)² fold — same FP order as
        // the zip_with form it replaces (OptKernelsSpec)
        round(graft.expressions.VecKernels.vec_l2sq(
          col("__qv"), col("__cv")), 6).as("dist2"))
    Ann.rankTail(exact, queryId, k, col("dist2").asc, col(corpusId).asc)
  }

  /** The at-scale ANN composition SCALE.md promises: IVF lists prune
    * WHICH corpus rows a query touches, PQ codes compress WHAT each
    * touched row costs. Corpus rows are assigned to their nearest
    * trained IVF centroid (cosine, min-cid tie — [[Ann.ivfTopKTrained]]
    * semantics) and PQ-encoded once; a query probes its `nprobe`
    * nearest lists and ADC-scores only those lists' members through
    * the same scan as [[pqTopK]] ([[adcTopK]]). Per-query
    * cost: nprobe × mean-list-occupancy rows × m lookups — at 2^16
    * lists over 10^10 vectors that is ~10^5·m adds per query instead
    * of 10^10·dim multiplies.
    *
    * Output: `(queryId, corpusId, dist2, rank)` like [[pqTopK]]; rank
    * by (ADC distance asc, id asc) within the probed candidates.
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame,
                ivfCentroids: DataFrame, pqModel: DataFrame,
                k: Int, nprobe: Int, m: Int, dim: Int,
                queryId: String = "query_id", corpusId: String = "neighbor_id",
                vecCol: String = "embedding"): DataFrame =
    adcTopK(queries, corpus, pqModel, Some((Ann.centroidTable(ivfCentroids), nprobe)),
      k, m, dim, queryId, corpusId, vecCol)
}
