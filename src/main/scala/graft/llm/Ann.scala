package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an `array<float>` embedding
  * column.
  *
  * Three tiers, each ranked by round-6 cosine with the neighbor id as
  * tiebreak:
  *   - [[bruteForceTopK]]: exact cosine top-k — the correctness baseline.
  *     The query side broadcasts; the corpus streams once. Right answer,
  *     O(|Q|·|C|) work — fine for |Q| small, not the 100 TB path.
  *   - [[lshTopK]]: sign-random-projection LSH — corpus and queries hash
  *     to sign-bit buckets (deterministic pseudo-random hyperplanes,
  *     [[planes]]); candidates are bucket collisions (plus 1-bit-flip probes
  *     on the query side for recall), then exact cosine within candidates.
  *     Work scales with bucket occupancy, not corpus size × queries.
  *   - [[ivfTopK]] / [[ivfTopKTrained]]: IVF lists over stride-sampled or
  *     [[kmeansTrain]]ed centroids; queries probe their `nprobe` nearest.
  *
  * Every operator of the embedding family (this object, [[Pq]],
  * [[Classify]], [[EmbedStats]], [[Dpo]], [[LogReg]], [[Mining]]) is
  * built from one shared layer:
  *   - [[round6]]: the portable floor-based 6-dp rounding, and
  *     [[exactMean]] the portable group mean (exact decimal sum, one
  *     division, round6);
  *   - [[dimMeans]]: the per-dimension exact means of a vector within
  *     key groups, and [[gather]] their dim-ordered collect into
  *     `(keys…, n_members, centroid)`;
  *   - [[strideSample]] / [[centroidTable]]: the cid-ascending centroid
  *     table with norms, and [[assignTopK]] the dense kernel that ranks
  *     rows against it;
  *   - [[cosinePre]]: the pair cosine with the zero-norm −∞ clamp;
  *   - [[rankTail]]: `row_number` per partition, kept at `rank <= k`.
  * An operator adds only its pairing and its score. Dot, norm and the
  * kernels are compiled ascending-index loops
  * ([[graft.expressions.VecKernels]]) — no UDFs.
  */
object Ann {

  /** Dot product of two float-array columns, computed in double.
    *
    * One compiled ascending-index loop ([[graft.expressions.VecDot]])
    * replacing the interpreted `aggregate(zip_with(...))` fold — same
    * FP order, same null semantics (OptKernelsSpec pins both).
    */
  def dot(a: Column, b: Column): Column =
    graft.expressions.VecKernels.vec_dot(a, b)

  def norm(a: Column): Column =
    graft.expressions.VecKernels.vec_norm(a)

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Pair cosine from PRE-COMPUTED norms: identical arithmetic to
    * [[cosine]] (`dot / (na·nb)`), but each row's norm is evaluated once
    * instead of once per pair — ~2/3 less work on the candidate join.
    *
    * Zero-norm clamp: a zero-norm side yields cosine −∞, NOT NaN. NaN
    * orders FIRST under `ORDER BY cosine DESC` in both Spark and DuckDB
    * (a degenerate vector would outrank every real neighbor) and
    * inconsistently in the IVF insertion-sort kernel; −∞ orders LAST
    * everywhere, so all ranking paths agree on any input.
    */
  private[llm] def cosinePre(a: Column, b: Column, na: Column, nb: Column): Column =
    when(na * nb === 0.0, lit(Double.NegativeInfinity))
      .otherwise(dot(a, b) / (na * nb))

  /** Exact cosine top-k per query (self-match excluded when ids collide).
    * Ranking uses the cosine rounded to 6 decimals with the neighbor id as
    * tiebreak, so results are stable across summation orders and engines.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     queryId: String = "query_id", corpusId: String = "neighbor_id",
                     vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(queries.select(col(queryId), col(vecCol).as("__qv"),
      norm(col(vecCol)).as("__qn")))
    val c = corpus.select(col(corpusId), col(vecCol).as("__cv"),
      norm(col(vecCol)).as("__cn"))
    val scored = q.crossJoin(c)
      .filter(col(queryId) =!= col(corpusId))
      .select(col(queryId), col(corpusId),
        round(cosinePre(col("__qv"), col("__cv"), col("__qn"), col("__cn")), 6)
          .as("cosine"))
    rankTail(scored, queryId, k, col("cosine").desc, col(corpusId).asc)
  }

  /** The seeded Rademacher hyperplanes behind [[signBucket]], exposed so
    * the correctness oracle can inject the IDENTICAL literals into its SQL
    * (same seed → same planes → same buckets in any engine).
    */
  def planes(bits: Int, dim: Int, seed: Int = 42): IndexedSeq[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    IndexedSeq.fill(bits)(Array.fill(dim)(if (rnd.nextBoolean()) 1.0 else -1.0))
  }

  /** Sign-random-projection bucket id over `bits` pseudo-random
    * hyperplanes ([[planes]]) baked in as LITERAL arrays — deterministic,
    * no stored model, and no per-element hashing at runtime (an earlier
    * xxhash-per-element variant was 10× slower: higher-order functions are
    * interpreted, so work inside the lambda is the whole cost).
    *
    * `dim` must equal the embedding length: `zip_with` pads the SHORTER
    * side with nulls, so a mismatched plane length would null the whole
    * projection (and silently collapse every row into bucket 0).
    */
  def signBucket(vec: Column, bits: Int, dim: Int, seed: Int = 42): Column =
    // one compiled bits×dim loop ([[graft.expressions.SignBucket]])
    // instead of `bits` interpreted aggregate(zip_with(...)) plane
    // projections — identical FP fold order and null→bucket-0 semantics
    // (OptKernelsSpec pins the equivalence on degenerate inputs too)
    graft.expressions.VecKernels.sign_bucket(vec, planes(bits, dim, seed).toArray)

  /** Buckets with all 1-bit flips (multi-probe): recall recovery for
    * near-boundary vectors at the cost of `bits` extra probes. */
  private def probeBuckets(bucket: Column, bits: Int): Column =
    array_union(array(bucket),
      array((0 until bits).map(i => bucket.bitwiseXOR(shiftleft(lit(1L), i))): _*))

  /** LSH-bucketed approximate top-k: candidates = corpus rows whose bucket
    * matches the query's bucket or any 1-bit-flip probe of it.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              bits: Int = 12, dim: Int = 64, queryId: String = "query_id",
              corpusId: String = "neighbor_id", vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(corpusId), col(vecCol).as("__cv"),
      norm(col(vecCol)).as("__cn"),
      signBucket(col(vecCol), bits, dim).as("__bucket"))
    val q = queries.select(col(queryId), col(vecCol).as("__qv"),
        norm(col(vecCol)).as("__qn"),
        explode(probeBuckets(signBucket(col(vecCol), bits, dim), bits)).as("__bucket"))
    val scored = q.join(c, Seq("__bucket"))
      .filter(col(queryId) =!= col(corpusId))
      .select(col(queryId), col(corpusId),
        round(cosinePre(col("__qv"), col("__cv"), col("__qn"), col("__cn")), 6)
          .as("cosine"))
      .dropDuplicates(queryId, corpusId)
    rankTail(scored, queryId, k, col("cosine").desc, col(corpusId).asc)
  }

  /** Stride that yields ≈`target` centroids from an `n`-row corpus —
    * default target √n, hard-capped at 2^16 so the broadcast centroid
    * table and the per-row assignment cost stay BOUNDED no matter how big
    * the corpus grows (an uncapped every-stride-th rule would broadcast
    * 2×10⁷ centroids at 10⁹ rows and turn the assignment crossJoin into a
    * scale-killer).
    */
  private[llm] def centroidStride(n: Long, target: Int = 0, cap: Int = 65536): Int = {
    val want = if (target > 0) target.toLong
               else math.ceil(math.sqrt(math.max(1L, n).toDouble)).toLong
    val c = math.max(1L, math.min(want, cap.toLong))
    math.max(1L, math.ceil(n.toDouble / c.toDouble).toLong).toInt
  }

  /** Scala-side dot/norm with the SAME sequential (ascending-index, from
    * zero) summation as the Column-level [[dot]]/[[norm]] folds — doubles
    * are bitwise-identical, so the two are interchangeable under the
    * hash-compared oracles.
    */
  private def dotD(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var j = 0
    while (j < a.length) { s += a(j).toDouble * b(j).toDouble; j += 1 }
    s
  }
  private def normD(a: Array[Float]): Double = math.sqrt(dotD(a, a))

  /** Float-vector × double-centroid dot, same ascending fold. */
  private def dotFD(a: Array[Float], c: Array[Double]): Double = {
    var s = 0.0; var j = 0
    while (j < a.length) { s += a(j).toDouble * c(j); j += 1 }
    s
  }
  private[llm] def normDd(c: Array[Double]): Double = {
    var s = 0.0; var j = 0
    while (j < c.length) { s += c(j) * c(j); j += 1 }
    math.sqrt(s)
  }

  /** IVF-style approximate top-k: a deterministic sample of the corpus
    * serves as centroids (every `stride`-th id — no training step, no
    * stored model); vectors assign to their nearest centroid, queries
    * probe the `nprobe` nearest centroid lists. Candidates scale with
    * list occupancy × probes.
    *
    * C is BUDGETED: ≈√n by default (`centroidTarget` overrides), capped at
    * 2^16 — [[centroidStride]]. Costs one extra column-pruned count() of
    * the corpus, negligible next to the assignment pass it bounds.
    * Assumes ids are ~dense integers (true for `vec_id`); a sparse id
    * space just yields proportionally fewer centroids, never more.
    *
    * The n×C assignment is a DENSE NUMERIC KERNEL, so it runs as a
    * mapPartitions loop over the broadcast centroid array (the sanctioned
    * mapPartitions case: per-element work is pure arithmetic where
    * interpreted higher-order functions cost 3×, and an expanded
    * element_at expression tree measured WORSE — codegen splitting).
    * Ranking semantics are unchanged: nearest = max cosine, centroid id
    * ascending on ties; FP order matches the Column fold, so the SQL
    * oracle mirrors it exactly.
    *
    * Zero-norm input is safe: cosine against (or from) a zero-norm
    * vector is CLAMPED to −∞ in both the kernel and the Column scoring
    * ([[cosinePre]]), so degenerate vectors rank LAST under every
    * ordering path — kernel insertion sort, Spark window, and a SQL
    * `ORDER BY cosine DESC` mirror — instead of the NaN-ordering
    * divergence an unclamped division produces.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              centroidTarget: Int = 0, nprobe: Int = 3,
              queryId: String = "query_id", corpusId: String = "neighbor_id",
              vecCol: String = "embedding"): DataFrame = {
    ivfServe(queries, corpus, strideSample(corpus, corpusId, vecCol, centroidTarget),
      k, nprobe, queryId, corpusId, vecCol)
  }

  /** IVF serve over TRAINED centroids — the [[kmeansTrain]] → query
    * handoff a real IVF index uses: `centroids` is a `(cid,
    * centroid: array<double>)` table (exactly [[kmeansTrain]]'s output,
    * or any persisted centroid model ≤ the 2^16 broadcast budget).
    * Identical probing/ranking semantics to [[ivfTopK]]; only the
    * centroid source differs.
    */
  def ivfTopKTrained(queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
                     k: Int, nprobe: Int = 3,
                     queryId: String = "query_id", corpusId: String = "neighbor_id",
                     vecCol: String = "embedding"): DataFrame = {
    ivfServe(queries, corpus, centroidTable(centroids), k, nprobe,
      queryId, corpusId, vecCol)
  }

  /** Portable 6-dp rounding, half toward +∞: `floor(x·10⁶ + 0.5)/10⁶`
    * — pure IEEE ops, so the result is bitwise-identical in any engine.
    * A library `round(x, 6)` is NOT portable here: exact decimal means
    * over small counts land exactly on `…5` boundaries, where Spark's
    * BigDecimal HALF_UP and DuckDB's scaled-multiply round disagree
    * (measured on the k-means fixture).
    */
  private[llm] def round6(x: Column): Column =
    floor(x * lit(1e6) + lit(0.5)) / lit(1e6)

  /** The portable mean of `v` over a group, as an aggregate Column: an
    * EXACT `decimal(20,10)` sum (one float→decimal cast per element,
    * bitwise-identical across engines — verified against DuckDB), one
    * decimal→double cast, one IEEE division by the row count, then
    * [[round6]].
    */
  private[llm] def exactMean(v: Column): Column =
    round6(sum(v.cast("decimal(20,10)")).cast("double") / count(lit(1)))

  /** Per-dimension exact means of the vector `vec` within each `keys`
    * group: `(keys…, __dim, __c, __m)` — `__dim` the 0-based position,
    * `__c` the group's row count, `__m` its [[exactMean]]. One
    * `(keys…, dim)`-keyed partial aggregation.
    */
  private[llm] def dimMeans(df: DataFrame, keys: Seq[String], vec: Column): DataFrame =
    df.select(keys.map(col) :+ posexplode(vec).as(Seq("__dim", "__v")): _*)
      .groupBy(keys.map(col) :+ col("__dim"): _*)
      .agg(count(lit(1)).as("__c"), exactMean(col("__v")).as("__m"))

  /** [[dimMeans]] rows gathered per group in dimension order:
    * `(keys…, n_members, centroid: array<double>)`.
    */
  private[llm] def gather(means: DataFrame, keys: Seq[String]): DataFrame =
    means.groupBy(keys.map(col): _*)
      .agg(max(col("__c")).as("n_members"), // __c is identical across dims
        sort_array(collect_list(struct(col("__dim"), col("__m")))).as("__dm"))
      .select(keys.map(col) ++ Seq(col("n_members"),
        transform(col("__dm"), s => s.getField("__m")).as("centroid")): _*)

  /** A bounded model (a trained round's centroids or codebooks)
    * collected once and handed back as a local relation with the same
    * schema: the next round's table and every later reader of the
    * returned model read these rows and run no Spark job.
    */
  private[llm] def collectLocal(model: DataFrame): DataFrame =
    model.sparkSession.createDataFrame(
      java.util.Arrays.asList(model.collect(): _*), model.schema)

  /** A `(cid, centroid: array<double>)` model as the table
    * [[assignTopK]] reads: cid-ascending, with each centroid's norm.
    */
  private[llm] def centroidTable(centroids: DataFrame): Array[(Long, Array[Double], Double)] = {
    import centroids.sparkSession.implicits._
    centroids.select(col("cid").cast("long"), col("centroid"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
      .map { case (cid, cv) => (cid, cv, normDd(cv)) }
  }

  /** The stride-sampled centroid table: every `stride`-th id of the
    * corpus ([[centroidStride]] budget) is a centroid, its id the cid —
    * [[ivfTopK]]'s lists and [[kmeansTrain]]'s initial centroids.
    */
  private[llm] def strideSample(corpus: DataFrame, idCol: String, vecCol: String,
                                target: Int): Array[(Long, Array[Double], Double)] = {
    val stride = centroidStride(corpus.count(), target)
    // float→double widening is exact: the table holds the sampled
    // vectors bit for bit
    centroidTable(corpus.filter(pmod(col(idCol), lit(stride)) === 0)
      .select(col(idCol).as("cid"), transform(col(vecCol), _.cast("double")).as("centroid")))
  }

  /** Top `k` rows per `partition` value by `order`, numbered from 1 in
    * `rank` — the tail of every top-k ranking in this family.
    */
  private[llm] def rankTail(df: DataFrame, partition: String, k: Int,
                            order: Column*): DataFrame =
    df.withColumn("rank",
        row_number().over(Window.partitionBy(col(partition)).orderBy(order: _*)))
      .filter(col("rank") <= k)

  /** Top-`keep` centroids per row by (cosine desc, centroid id asc):
    * the shared dense assignment kernel ([[ivfTopK]] lists + probes,
    * [[ivfTopKTrained]], [[kmeansTrain]] with keep = 1). Emits one row
    * per (vector, kept centroid). Equal cosines go to the min cid in
    * any table order.
    */
  private[llm] def assignTopK(df: DataFrame, id: String, vecCol: String,
                              cents: Array[(Long, Array[Double], Double)],
                              keep: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(cents)
    df.select(col(id).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .mapPartitions { rows =>
        val cs = bc.value
        rows.flatMap { case (rid, vec) =>
          val n = normD(vec)
          val topCos = new Array[Double](keep)
          val topCid = new Array[Long](keep)
          var filled = 0
          var i = 0
          while (i < cs.length) {
            val (cid, cv, cn) = cs(i)
            // same zero-norm clamp as cosinePre: −∞, never NaN
            val den = n * cn
            val cos = if (den == 0.0) Double.NegativeInfinity
                      else dotFD(vec, cv) / den
            var pos = filled
            while (pos > 0 && (topCos(pos - 1) < cos ||
                   (topCos(pos - 1) == cos && topCid(pos - 1) > cid))) pos -= 1
            if (pos < keep) {
              val last = math.min(filled, keep - 1)
              var m = last
              while (m > pos) {
                topCos(m) = topCos(m - 1); topCid(m) = topCid(m - 1); m -= 1
              }
              topCos(pos) = cos; topCid(pos) = cid
              if (filled < keep) filled += 1
            }
            i += 1
          }
          (0 until filled).iterator.map(p => (rid, vec, n, topCid(p)))
        }
      }
      .toDF(id, vecCol, "__n", "__cent")
  }

  /** Shared IVF serve body: assign corpus to lists (keep = 1), probe
    * `nprobe` lists per query, exact round-6 cosine within candidates.
    */
  private def ivfServe(queries: DataFrame, corpus: DataFrame,
                       cents: Array[(Long, Array[Double], Double)],
                       k: Int, nprobe: Int, queryId: String, corpusId: String,
                       vecCol: String): DataFrame = {
    val c = assignTopK(corpus.select(col(corpusId), col(vecCol)), corpusId, vecCol, cents, 1)
      .withColumnRenamed(vecCol, "__cvv").withColumnRenamed("__n", "__cn")
    val q = assignTopK(queries.select(col(queryId), col(vecCol)), queryId, vecCol, cents, nprobe)
      .withColumnRenamed(vecCol, "__qv").withColumnRenamed("__n", "__qn")
    val scored = q.join(c, Seq("__cent"))
      .filter(col(queryId) =!= col(corpusId))
      .select(col(queryId), col(corpusId),
        round(cosinePre(col("__qv"), col("__cvv"), col("__qn"), col("__cn")), 6)
          .as("cosine"))
      .dropDuplicates(queryId, corpusId)
    rankTail(scored, queryId, k, col("cosine").desc, col(corpusId).asc)
  }

  /** Deterministic Lloyd (k-means) refinement of the IVF centroids —
    * the TRAIN step [[ivfTopK]]'s stride sample skips. Real IVF indexes
    * train centroids on the corpus so list occupancy balances; this is
    * that step, engine-reproducibly:
    *
    *   - init = the same stride sample as [[ivfTopK]] ([[centroidStride]]
    *     budget: √n default, 2^16 cap), centroid id = sampled vec id;
    *   - assignment = nearest centroid by cosine (zero-norm clamped to
    *     −∞, min-cid tiebreak), as a broadcast mapPartitions kernel —
    *     the sanctioned dense-numeric case, same as [[ivfTopK]];
    *   - update = per-dimension [[exactMean]] of the members
    *     ([[dimMeans]] + [[gather]]): an exact decimal sum, one
    *     division and the portable [[round6]], so every iteration's
    *     centroids are engine-reproducible doubles;
    *   - a cluster that loses all members simply drops out (its group
    *     produces no rows) — deterministic, no re-seeding RNG.
    *
    * Driver loop of `iters` rounds; each round is one corpus pass + one
    * (cid, dim)-keyed partial-agg shuffle (≤ C·dim rows out), then the
    * ≤ 2^16 × dim centroid table collects and rebroadcasts — the
    * standard distributed-k-means shape at any corpus size.
    *
    * Output: `(cid, n_members, centroid: array<double>)` — the LAST
    * round's membership counts and refined centroids, as the local
    * relation that round collected ([[collectLocal]]).
    */
  def kmeansTrain(corpus: DataFrame, idCol: String = "vec_id",
                  vecCol: String = "embedding", iters: Int = 2,
                  centroidTarget: Int = 0): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    var cents = strideSample(corpus, idCol, vecCol, centroidTarget)
    var result: DataFrame = null
    for (_ <- 0 until iters) {
      // keep = 1 in the shared kernel = nearest centroid with the
      // min-cid tie rule (cents are cid-ascending), matching the SQL
      // ROW_NUMBER(ORDER BY cos DESC, cid ASC) mirror
      val assigned = assignTopK(corpus.select(col(idCol), col(vecCol)),
          idCol, vecCol, cents, 1)
        .select(col("__cent").as("cid"), col(vecCol))
      result = collectLocal(
        gather(dimMeans(assigned, Seq("cid"), col(vecCol)), Seq("cid")))
      cents = centroidTable(result)
    }
    result
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus onto TRAINED k-means
    * centroids ([[kmeansTrain]] output, or any persisted `(cid,
    * centroid)` model under the 2^16 broadcast budget), then compare
    * pairs ONLY within a cluster — a vector with a lower-id neighbor at
    * round-6 cosine ≥ `threshold` in its cluster is a semantic
    * duplicate; the min-id representative survives (the same keep
    * policy as the exact/minhash/simhash tiers, so downstream cut
    * logic composes unchanged).
    *
    * Scale shape: the pairwise step never crosses clusters, so
    * candidate work is bounded by cluster occupancy × clusters — never
    * all-pairs. Oversize clusters (degenerate corpora piling onto one
    * centroid) are dropped by `maxCluster` exactly like every bucketed
    * site, reported via `capStats`; their rows pass through with
    * `keep = true` (uncompared, never silently deleted).
    *
    * Output: one row per input vector — `(idCol, cid, keep)`.
    */
  def semanticDedup(corpus: DataFrame, centroids: DataFrame, threshold: Double,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    maxCluster: Int = 1000,
                    capStats: Option[CapStats] = None): DataFrame = {
    val cents = centroidTable(centroids)
    // materialized once: the cluster self-join reads both sides plus the
    // final output, and the dense assignment kernel would otherwise run
    // three times (same reason nearDupCosine checkpoints its buckets)
    val assigned = assignTopK(corpus.select(col(idCol), col(vecCol)),
        idCol, vecCol, cents, 1)
      .withColumnRenamed("__cent", "cid")
      .localCheckpoint(true)
    val capped = Dedup.capBuckets(assigned, Seq("cid"), maxCluster, capStats)
    val a = capped.select(col("cid"), col(idCol).as("__ia"),
      col(vecCol).as("__va"), col("__n").as("__na"))
    val b = capped.select(col("cid"), col(idCol).as("__ib"),
      col(vecCol).as("__vb"), col("__n").as("__nb"))
    val dups = a.join(b, Seq("cid"))
      .filter(col("__ia") < col("__ib"))
      .filter(round(cosinePre(col("__va"), col("__vb"), col("__na"), col("__nb")), 6)
        >= threshold)
      .select(col("__ib").as("__did")).distinct()
    assigned.select(col(idCol), col("cid"))
      .join(dups, col(idCol) === col("__did"), "left")
      .select(col(idCol), col("cid"), col("__did").isNull.as("keep"))
  }

  /** Bucket-count sizing for [[nearDupCosine]]: pick `bits` so the
    * EXPECTED bucket occupancy stays ~`targetBucket` as the corpus
    * grows — buckets must scale WITH n (2^bits ≈ n / target) or
    * in-bucket pair work grows quadratically at fixed bits (the 10×
    * sweep shows exactly this on the pinned-bits gate). Clamped to
    * [4, 24]: below 4 the buckets stop discriminating, above 24 the
    * projection cost dominates. Deterministic in n, so reruns at the
    * same scale draw identical buckets.
    */
  def autoBits(n: Long, targetBucket: Int = 32): Int = {
    require(targetBucket >= 1, s"targetBucket must be >= 1, got $targetBucket")
    val raw = math.ceil(math.log(math.max(1.0, n.toDouble / targetBucket))
      / math.log(2.0)).toInt
    math.min(24, math.max(4, raw))
  }

  /** Embedding-cosine near-duplicate pairs (id_a < id_b, cosine ≥
    * threshold) via shared LSH buckets — never all-pairs. `maxBucket`
    * guards skew exactly like Dedup.candidatePairs: a degenerate bucket
    * (e.g. all-zero vectors landing in bucket 0) would otherwise self-join
    * quadratically; oversize buckets are dropped, and the drops are
    * reported through `capStats` ([[CapStats]], eagerly filled) exactly
    * like Dedup.candidatePairs.
    */
  def nearDupCosine(df: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, bits: Int = 12, dim: Int = 64,
                    maxBucket: Int = 1000,
                    capStats: Option[CapStats] = None): DataFrame = {
    val h0 = df.select(col(idCol), col(vecCol).as("__v"),
      norm(col(vecCol)).as("__n"),
      signBucket(col(vecCol), bits, dim).as("__bucket"))
    // materialized once: the self-join reads both sides, and the norm +
    // interpreted sign-projection work would otherwise run twice (same
    // reason the minhash/simhash pipelines checkpoint their signatures)
    Dedup.bucketPairs(h0.localCheckpoint(true), Seq("__bucket"), idCol,
        Seq("__v", "__n"), maxBucket, capStats)
      .select(col("id_a"), col("id_b"),
        round(cosinePre(col("__v_a"), col("__v_b"), col("__n_a"), col("__n_b")), 6)
          .as("cosine"))
      .distinct()
      .filter(col("cosine") >= threshold)
  }

  /** Recall AUDIT of an approximate top-k against the exact tier —
    * "measure, don't guess" for the serving path, the ANN analogue of
    * [[Dedup.nearDupAudit]]: `truth` is [[bruteForceTopK]]'s output
    * (recall 1 by construction), `approx` is the tier under audit
    * ([[lshTopK]] / [[ivfTopK]] / [[ivfTopKTrained]]) at the SAME k.
    * One row per query: `(queryId, n_truth, n_hit, recall)` where
    * `n_hit` counts true neighbors the approximate tier returned and
    * `recall = n_hit / n_truth` (one IEEE division of two exact
    * integers — bitwise engine-portable). A query the approximate tier
    * returned nothing for (no bucket collision) comes back with
    * `n_hit = 0`, not dropped.
    *
    * At 100 TB this runs on a QUERY SAMPLE (truth is the honest
    * O(|Q|·|C|) tier); the measured recall transfers because bucket
    * collision probability depends on pair geometry, not corpus size —
    * the number that picks `bits`/`nprobe` empirically instead of from
    * the sign-projection S-curve.
    */
  def recallPerQuery(truth: DataFrame, approx: DataFrame,
                     queryId: String = "query_id",
                     neighborId: String = "neighbor_id"): DataFrame = {
    val t = truth.select(col(queryId), col(neighborId))
    val hits = t.join(approx.select(col(queryId), col(neighborId)),
        Seq(queryId, neighborId), "left_semi")
      .groupBy(col(queryId)).agg(count(lit(1)).as("n_hit"))
    t.groupBy(col(queryId)).agg(count(lit(1)).as("n_truth"))
      .join(hits, Seq(queryId), "left")
      .select(col(queryId), col("n_truth"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)).cast("double")
          / col("n_truth").cast("double")).as("recall"))
  }

  /** Corpus-level rollup of [[recallPerQuery]]: ONE row
    * `(n_queries, n_truth, n_hit, recall)` with micro-averaged recall
    * (`sum hits / sum truth` — exact integer sums, one final IEEE
    * division, so the number is order- and engine-stable). Micro, not
    * macro, on purpose: it weights every true neighbor equally, so a
    * single empty-bucket query cannot swing the metric at small |Q|.
    */
  def recallSummary(truth: DataFrame, approx: DataFrame,
                    queryId: String = "query_id",
                    neighborId: String = "neighbor_id"): DataFrame =
    recallPerQuery(truth, approx, queryId, neighborId)
      .agg(count(lit(1)).as("n_queries"),
        sum(col("n_truth")).as("n_truth"),
        sum(col("n_hit")).as("n_hit"))
      .select(col("n_queries"), col("n_truth"), col("n_hit"),
        (col("n_hit").cast("double")
          / col("n_truth").cast("double")).as("recall"))
}
