package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The embedding family's shared vector layer ([[Ann.round6]],
  * [[Ann.dimMeans]], [[Ann.gather]], [[Ann.centroidTable]],
  * [[Ann.rankTail]], Pq's one encode kernel, ADC builder and scan)
  * against the definitions each operator wrote out for itself before
  * the layer existed, kept verbatim in [[VectorLayerSpec.Reference]].
  * Outputs must be bitwise equal (rows compared as strings, so -0.0 and
  * NaN count) on adversarial input: means on 6-dp midpoints, a PQ code
  * that loses every member, equal cosines across centroids, zero-norm
  * rows and a one-row corpus.
  */
class VectorLayerSpec extends SparkSpec {
  import spark.implicits._
  import VectorLayerSpec.Reference

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def assertSame(got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema == want.schema)
    assert(rows(got) == rows(want))
  }

  /** Values on the 1/128 lattice: every odd multiple is a 6-dp midpoint
    * (7 decimals ending in 5), and negative midpoints are where the
    * floor-based rounding and a library HALF_UP round part ways. */
  private def lattice(seed: Int, n: Int, dim: Int): Seq[(Long, Array[Float])] = {
    val r = new scala.util.Random(seed)
    (0 until n).map(i => (i.toLong, Array.fill(dim)((r.nextInt(129) - 64) / 128f)))
  }

  private def frame(vs: Seq[(Long, Array[Float])]): DataFrame =
    vs.toDF("vec_id", "embedding")

  // 24 lattice rows plus two zero-norm rows; rows 0 and 6 are equal, so
  // at a stride of 6 two initial centroids tie for every member
  private lazy val corpus = {
    val base = lattice(11, 26, 8)
    val zero = Array.fill(8)(0f)
    frame(base.map {
      case (6L, _) => (6L, base.head._2)
      case (i, _) if i >= 24 => (i, zero)
      case v => v
    })
  }

  test("round6 is the floor-based rounding, not HALF_UP, on negative midpoints") {
    val x = Seq(-0.0390625, 0.0390625, -1.5546875, 2.5e-7).toDF("x")
    val got = x.select(Ann.round6(col("x"))).as[Double].collect().toSeq
    assert(got == Seq(-0.039062, 0.039063, -1.554687, 0.0))
  }

  test("kmeansTrain: the shared mean and centroid table equal the reference rounds") {
    for ((target, iters) <- Seq((4, 1), (5, 2), (0, 3)))
      assertSame(Ann.kmeansTrain(corpus, iters = iters, centroidTarget = target),
        Reference.kmeansTrain(corpus, iters = iters, centroidTarget = target))
  }

  test("centroidTrain, meanVector and groupAdvantage equal the reference means") {
    val labeled = corpus.withColumn("label", (col("vec_id") % 3).cast("int"))
    assertSame(Classify.centroidTrain(labeled, "label", "embedding"),
      Reference.centroidTrain(labeled, "label", "embedding"))
    assertSame(EmbedStats.meanVector(corpus, "embedding"),
      Reference.meanVector(corpus, "embedding"))
    val scored = corpus.select(col("vec_id"), (col("vec_id") % 4).as("g"),
      element_at(col("embedding"), 1).cast("double").as("score"))
    assertSame(Dpo.groupAdvantage(scored, Seq("g"), "vec_id", "score"),
      Reference.groupAdvantage(scored, Seq("g"), "vec_id", "score"))
  }

  test("pq: a code that loses every member is dropped and its NaN slot never read") {
    // k = 4 over ids 0..7: stride 2 seeds codes from ids 0, 2, 4, 6; id 2
    // repeats id 0, so code 1 ties code 0 everywhere and never wins
    val base = lattice(23, 8, 8)
    val pc = frame(base.map { case (2L, _) => (2L, base.head._2); case v => v })
    val model = Pq.pqTrain(pc, m = 2, k = 4, iters = 2)
    assertSame(model, Reference.pqTrain(pc, m = 2, k = 4, iters = 2))
    assert(model.filter(col("code") === 1).isEmpty)
    assertSame(Pq.pqEncode(pc, "vec_id", "embedding", model, 2, 8),
      Reference.pqEncode(pc, "vec_id", "embedding", model, 2, 8))
    val q = pc.select(col("vec_id").as("query_id"), col("embedding"))
    val c = pc.select(col("vec_id").as("neighbor_id"), col("embedding"))
    val top = Pq.pqTopK(q, c, model, 8, 2, 8)
    assert(top.filter(isnan(col("dist2"))).isEmpty)
    assertSame(top, Reference.pqTopK(q, c, model, 8, 2, 8))
  }

  test("pq: the one kernel, ADC table and scan equal the reference on midpoints and zeros") {
    val model = Pq.pqTrain(corpus, m = 4, k = 5, iters = 2)
    assertSame(model, Reference.pqTrain(corpus, m = 4, k = 5, iters = 2))
    assertSame(Pq.pqEncode(corpus, "vec_id", "embedding", model, 4, 8),
      Reference.pqEncode(corpus, "vec_id", "embedding", model, 4, 8))
    val q = corpus.filter(col("vec_id") % 5 === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val c = corpus.select(col("vec_id").as("neighbor_id"), col("embedding"))
    assertSame(Pq.pqTopK(q, c, model, 6, 4, 8), Reference.pqTopK(q, c, model, 6, 4, 8))
    val ivf = Ann.kmeansTrain(corpus, iters = 2, centroidTarget = 4)
    for (nprobe <- Seq(1, 2, 4))
      assertSame(Pq.ivfPqTopK(q, c, ivf, model, 6, nprobe, 4, 8),
        Reference.ivfPqTopK(q, c, ivf, model, 6, nprobe, 4, 8))
  }

  test("equal cosines across centroids go to the min cid, in any collect order") {
    val v = corpus.filter(col("vec_id") === 3).as[(Long, Array[Float])].head()._2
    val w = corpus.filter(col("vec_id") === 9).as[(Long, Array[Float])].head()._2
    // descending cids in one partition: collect order is not cid order
    val tied = Seq((9L, w.map(_.toDouble)), (7L, v.map(_.toDouble)),
        (4L, w.map(_.toDouble)), (2L, v.map(_.toDouble)))
      .toDF("cid", "centroid").coalesce(1)
    assert(Ann.centroidTable(tied).map(_._1).toSeq ==
      Reference.centroidTable(tied).map(_._1).toSeq)
    val nearest = Ann.assignTopK(corpus, "vec_id", "embedding", Ann.centroidTable(tied), 1)
      .select("__cent").as[Long].collect().toSet
    assert(nearest.subsetOf(Set(2L, 4L)), nearest)
    // the kernel keeps the rule itself, even over a cid-descending table
    val descending = Ann.centroidTable(tied).reverse
    for (keep <- Seq(1, 2, 4)) {
      val kept = Ann.assignTopK(corpus, "vec_id", "embedding", descending, keep)
      val want = Ann.assignTopK(corpus, "vec_id", "embedding", Ann.centroidTable(tied), keep)
      assert(rows(kept) == rows(want))
    }
    assert(Ann.assignTopK(corpus, "vec_id", "embedding", descending, 1)
      .select("__cent").as[Long].collect().toSet == nearest)
    assertSame(Ann.semanticDedup(corpus, tied, threshold = 0.5),
      Reference.semanticDedup(corpus, tied, threshold = 0.5))
    val model = Pq.pqTrain(corpus, m = 2, k = 4, iters = 1)
    val q = corpus.select(col("vec_id").as("query_id"), col("embedding"))
    val c = corpus.select(col("vec_id").as("neighbor_id"), col("embedding"))
    assertSame(Pq.ivfPqTopK(q, c, tied, model, 5, 1, 2, 8),
      Reference.ivfPqTopK(q, c, tied, model, 5, 1, 2, 8))
    // the stride sample: the same table as the reference's inline collect
    val s = Ann.strideSample(corpus, "vec_id", "embedding", 5)
    val r = Reference.strideSample(corpus, "vec_id", "embedding", 5)
    assert(s.map(t => (t._1, t._2.toSeq, t._3)).toSeq ==
      r.map(t => (t._1, t._2.toSeq, t._3)).toSeq)
  }

  test("rank tails: zero-norm rows rank last, ties break on the id") {
    val q = corpus.filter(col("vec_id") % 4 === 0 || col("vec_id") >= 24)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val c = corpus.select(col("vec_id").as("neighbor_id"), col("embedding"))
    assertSame(Ann.bruteForceTopK(q, c, 30), Reference.bruteForceTopK(q, c, 30))
    val labeled = corpus.withColumn("label", (col("vec_id") % 3).cast("int"))
    val model = Classify.centroidTrain(labeled, "label", "embedding")
      .union(Seq((7, 0L, Array.fill(8)(0.0))).toDF("label", "n_members", "centroid"))
    assertSame(Classify.centroidPredict(corpus, "vec_id", "embedding", model),
      Reference.centroidPredict(corpus, "vec_id", "embedding", model))
  }

  test("a one-row corpus trains, encodes and ranks like the reference") {
    val one = corpus.filter(col("vec_id") === 1)
    assertSame(Ann.kmeansTrain(one, iters = 2), Reference.kmeansTrain(one, iters = 2))
    val model = Pq.pqTrain(one, m = 2, k = 2, iters = 2)
    assertSame(model, Reference.pqTrain(one, m = 2, k = 2, iters = 2))
    val q = one.select(col("vec_id").as("query_id"), col("embedding"))
    val c = one.select(col("vec_id").as("neighbor_id"), col("embedding"))
    val top = Pq.pqTopK(q, c, model, 3, 2, 8)
    assert(top.isEmpty)
    assertSame(top, Reference.pqTopK(q, c, model, 3, 2, 8))
    assertSame(EmbedStats.meanVector(one, "embedding"),
      Reference.meanVector(one, "embedding"))
    val scored = one.select(col("vec_id"), lit(1).as("g"), lit(-0.0390625).as("score"))
    assertSame(Dpo.groupAdvantage(scored, Seq("g"), "vec_id", "score"),
      Reference.groupAdvantage(scored, Seq("g"), "vec_id", "score"))
  }

  /** Spark jobs `body` starts, seen by a listener; a marker job flushes
    * the listener bus before the count is read. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = "vector-layer-jobs"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          if (e.properties.getProperty("spark.job.description") == "marker") marker.countDown()
          else jobs.incrementAndGet()
        }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "model reads")
    try {
      body
      sc.setJobDescription("marker")
      sc.parallelize(Seq(1), 1).count()
      assert(marker.await(10, java.util.concurrent.TimeUnit.SECONDS))
      jobs.get()
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("trained k-means and PQ models are collected once: reading them runs no job") {
    val cents = Ann.kmeansTrain(corpus, iters = 2, centroidTarget = 4)
    val model = Pq.pqTrain(corpus, m = 2, k = 4, iters = 2)
    assert(jobsOf {
      cents.collect()
      model.collect()
      Ann.centroidTable(cents)
      Pq.pqEncode(corpus, "vec_id", "embedding", model, 2, 8)
    } == 0)
    assertSame(cents, Reference.kmeansTrain(corpus, iters = 2, centroidTarget = 4))
    assertSame(model, Reference.pqTrain(corpus, m = 2, k = 4, iters = 2))
  }
}

object VectorLayerSpec {

  /** The definitions before the shared layer, verbatim apart from
    * qualified names and argument checks. */
  object Reference {

    def kmeansTrain(corpus: DataFrame, idCol: String = "vec_id",
                    vecCol: String = "embedding", iters: Int = 2,
                    centroidTarget: Int = 0): DataFrame = {
      require(iters >= 1, s"iters must be >= 1, got $iters")
      val spark = corpus.sparkSession
      import spark.implicits._
      val stride = Ann.centroidStride(corpus.count(), centroidTarget)
      var cents: Array[(Long, Array[Double])] = corpus
        .filter(pmod(col(idCol), lit(stride)) === 0)
        .select(col(idCol).cast("long"), col(vecCol))
        .as[(Long, Array[Float])].collect().sortBy(_._1)
        .map { case (cid, v) => (cid, v.map(_.toDouble)) }
      var result: DataFrame = null
      for (_ <- 0 until iters) {
        val assigned = Ann.assignTopK(corpus.select(col(idCol), col(vecCol)),
            idCol, vecCol, cents.map { case (cid, cv) => (cid, cv, Ann.normDd(cv)) }, 1)
          .withColumnRenamed("__cent", "__cid")
        val means = assigned
          .select(col("__cid"), posexplode(col(vecCol)).as(Seq("__dim", "__v")))
          .groupBy(col("__cid"), col("__dim"))
          .agg(count(lit(1)).as("__c"),
            sum(col("__v").cast("decimal(20,10)")).as("__s"))
          .select(col("__cid"), col("__dim"), col("__c"),
            (floor(col("__s").cast("double") / col("__c") * lit(1e6) + lit(0.5)) / lit(1e6))
              .as("__m"))
        result = means.groupBy(col("__cid").as("cid"))
          .agg(max(col("__c")).as("n_members"),
            sort_array(collect_list(struct(col("__dim"), col("__m")))).as("__dm"))
          .select(col("cid"), col("n_members"),
            transform(col("__dm"), s => s.getField("__m")).as("centroid"))
        cents = result.select(col("cid"), col("centroid"))
          .as[(Long, Array[Double])].collect().sortBy(_._1)
      }
      result
    }

    def strideSample(corpus: DataFrame, corpusId: String, vecCol: String,
                     centroidTarget: Int): Array[(Long, Array[Double], Double)] = {
      import corpus.sparkSession.implicits._
      val stride = Ann.centroidStride(corpus.count(), centroidTarget)
      corpus
        .filter(pmod(col(corpusId), lit(stride)) === 0)
        .select(col(corpusId).cast("long"), col(vecCol))
        .as[(Long, Array[Float])].collect().sortBy(_._1)
        .map { case (cid, cv) =>
          val cd = cv.map(_.toDouble)
          (cid, cd, Ann.normDd(cd))
        }
    }

    def centroidTable(centroids: DataFrame): Array[(Long, Array[Double], Double)] = {
      import centroids.sparkSession.implicits._
      centroids
        .select(col("cid").cast("long"), col("centroid"))
        .as[(Long, Array[Double])].collect().sortBy(_._1)
        .map { case (cid, cv) => (cid, cv, Ann.normDd(cv)) }
    }

    def semanticDedup(corpus: DataFrame, centroids: DataFrame, threshold: Double,
                      idCol: String = "vec_id", vecCol: String = "embedding",
                      maxCluster: Int = 1000): DataFrame = {
      val cents = centroidTable(centroids)
      val assigned = Ann.assignTopK(corpus.select(col(idCol), col(vecCol)),
          idCol, vecCol, cents, 1)
        .withColumnRenamed("__cent", "cid")
        .localCheckpoint(true)
      val capped = Dedup.capBuckets(assigned, Seq("cid"), maxCluster, None)
      val a = capped.select(col("cid"), col(idCol).as("__ia"),
        col(vecCol).as("__va"), col("__n").as("__na"))
      val b = capped.select(col("cid"), col(idCol).as("__ib"),
        col(vecCol).as("__vb"), col("__n").as("__nb"))
      val dups = a.join(b, Seq("cid"))
        .filter(col("__ia") < col("__ib"))
        .filter(round(Ann.cosinePre(col("__va"), col("__vb"), col("__na"), col("__nb")), 6)
          >= threshold)
        .select(col("__ib").as("__did")).distinct()
      assigned.select(col(idCol), col("cid"))
        .join(dups, col(idCol) === col("__did"), "left")
        .select(col(idCol), col("cid"), col("__did").isNull.as("keep"))
    }

    def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                       queryId: String = "query_id", corpusId: String = "neighbor_id",
                       vecCol: String = "embedding"): DataFrame = {
      val q = broadcast(queries.select(col(queryId), col(vecCol).as("__qv"),
        Ann.norm(col(vecCol)).as("__qn")))
      val c = corpus.select(col(corpusId), col(vecCol).as("__cv"),
        Ann.norm(col(vecCol)).as("__cn"))
      val scored = q.crossJoin(c)
        .filter(col(queryId) =!= col(corpusId))
        .select(col(queryId), col(corpusId),
          round(Ann.cosinePre(col("__qv"), col("__cv"), col("__qn"), col("__cn")), 6)
            .as("cosine"))
      val w = Window.partitionBy(col(queryId))
        .orderBy(col("cosine").desc, col(corpusId).asc)
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
    }

    def centroidTrain(df: DataFrame, labelCol: String, vecCol: String): DataFrame =
      df.select(col(labelCol).as("label"),
          posexplode(col(vecCol)).as(Seq("__j", "__v")))
        .groupBy(col("label"), col("__j"))
        .agg(count(lit(1)).as("__c"),
          sum(col("__v").cast("decimal(20,10)")).as("__s"))
        .select(col("label"), col("__j"), col("__c"),
          (floor(col("__s").cast("double") / col("__c") * lit(1e6) + lit(0.5)) /
            lit(1e6)).as("__m"))
        .groupBy(col("label"))
        .agg(max(col("__c")).as("n_members"),
          sort_array(collect_list(struct(col("__j"), col("__m")))).as("__jm"))
        .select(col("label"), col("n_members"),
          transform(col("__jm"), s => s.getField("__m")).as("centroid"))

    def centroidPredict(df: DataFrame, idCol: String, vecCol: String,
                        model: DataFrame): DataFrame = {
      val m = broadcast(model.select(col("label").as("__label"),
        col("centroid").as("__ce")))
      val scores = df.select(col(idCol), col(vecCol).as("__e")).crossJoin(m)
        .select(col(idCol), col("__label").as("label"),
          round(when(Ann.norm(col("__e")) * Ann.norm(col("__ce")) === 0.0,
              lit(Double.NegativeInfinity))
            .otherwise(Ann.dot(col("__e"), col("__ce")) /
              (Ann.norm(col("__e")) * Ann.norm(col("__ce")))), 6).as("cosine"))
      val w = Window.partitionBy(col(idCol))
        .orderBy(col("cosine").desc, col("label").asc)
      scores
        .withColumn("__rn", row_number().over(w)).where(col("__rn") === 1)
        .select(col(idCol), col("label").as("pred_label"), col("cosine"))
    }

    def meanVector(df: DataFrame, vecCol: String): DataFrame =
      df.select(posexplode(col(vecCol)).as(Seq("j", "__v")))
        .groupBy(col("j"))
        .agg(count(lit(1)).as("__n"),
          sum(col("__v").cast("decimal(20,10)")).as("__s"))
        .select(col("j"),
          (floor(col("__s").cast("double") / col("__n") * lit(1e6) + lit(0.5)) /
            lit(1e6)).as("mean"))

    def groupAdvantage(candidates: DataFrame, groupCols: Seq[String],
                       idCol: String, scoreCol: String): DataFrame = {
      val g = groupCols.map(col)
      val x = col(scoreCol).cast("double")
      val stats = candidates.groupBy(g: _*)
        .agg(count(lit(1)).as("n_group"),
          sum(x.cast("decimal(20,10)")).as("__s"),
          sum((x * x).cast("decimal(28,15)")).as("__s2"))
        .select(g ++ Seq(col("n_group"),
          (floor(col("__s").cast("double") / col("n_group") * lit(1e6)
            + lit(0.5)) / lit(1e6)).as("__m"),
          (col("__s2").cast("double") / col("n_group").cast("double"))
            .as("__m2")): _*)
        .select(g ++ Seq(col("n_group"), col("__m"),
          sqrt(greatest(col("__m2") - col("__m") * col("__m"), lit(0.0)))
            .as("__sd")): _*)
      val zRaw = floor((x - col("__m")) / col("__sd") * lit(1e6) + lit(0.5)) / lit(1e6)
      candidates.join(stats, groupCols)
        .select(g ++ Seq(col(idCol), x.as("score"), col("n_group"),
          when(col("__sd") === 0.0 || zRaw === 0.0, lit(0.0))
            .otherwise(zRaw).as("advantage")): _*)
    }

    // ---- Pq, verbatim ----

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

    private def encodeKernel(df: DataFrame, idCol: String, vecCol: String,
                             cents: Model, subDim: Int): Dataset[(Long, Array[Int])] = {
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
            (rid, codes)
          }
        }
    }

    private def encodeKernelVec(df: DataFrame, idCol: String, vecCol: String,
                                cents: Model, subDim: Int): DataFrame = {
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
            (rid, vec, codes)
          }
        }
        .toDF(idCol, vecCol, "__codes")
    }

    def pqTrain(corpus: DataFrame, idCol: String = "vec_id",
                vecCol: String = "embedding", m: Int = 8, k: Int = 16,
                iters: Int = 2): DataFrame = {
      val spark = corpus.sparkSession
      import spark.implicits._
      val dim = corpus.select(size(col(vecCol))).head().getInt(0)
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
        val assigned = encodeKernelVec(corpus, idCol, vecCol, cents, subDim)
          .select(col(idCol), col(vecCol),
            posexplode(col("__codes")).as(Seq("__sub", "__code")))
        val means = assigned
          .select(col("__sub"), col("__code"),
            posexplode(slice(col(vecCol),
              (col("__sub") * subDim + 1).cast("int"), lit(subDim)))
              .as(Seq("__dim", "__v")))
          .groupBy(col("__sub"), col("__code"), col("__dim"))
          .agg(count(lit(1)).as("__c"),
            sum(col("__v").cast("decimal(20,10)")).as("__s"))
          .select(col("__sub"), col("__code"), col("__dim"), col("__c"),
            (floor(col("__s").cast("double") / col("__c") * lit(1e6) + lit(0.5)) /
              lit(1e6)).as("__m"))
        result = means.groupBy(col("__sub").as("sub"), col("__code").as("code"))
          .agg(max(col("__c")).as("n_members"),
            sort_array(collect_list(struct(col("__dim"), col("__m")))).as("__dm"))
          .select(col("sub"), col("code"), col("n_members"),
            transform(col("__dm"), s => s.getField("__m")).as("centroid"))
        cents = collectModel(result, m)
      }
      result
    }

    def pqEncode(df: DataFrame, idCol: String, vecCol: String,
                 model: DataFrame, m: Int, dim: Int): DataFrame =
      encodeKernel(df, idCol, vecCol, collectModel(model, m), dim / m)
        .toDF(idCol, "codes")

    def pqTopK(queries: DataFrame, corpus: DataFrame, model: DataFrame,
               k: Int, m: Int, dim: Int,
               queryId: String = "query_id", corpusId: String = "neighbor_id",
               vecCol: String = "embedding"): DataFrame = {
      val spark = queries.sparkSession
      import spark.implicits._
      val subDim = dim / m
      val cents = collectModel(model, m)
      val kMax = cents.map(sc => sc.lastOption.map(_._1 + 1).getOrElse(0)).max
      val codes = encodeKernel(corpus, corpusId, vecCol, cents, subDim)
        .toDF(corpusId, "__codes")
      val bc = spark.sparkContext.broadcast(cents)
      val tables = queries.select(col(queryId).cast("long"), col(vecCol))
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
      val scored = broadcast(tables).crossJoin(codes)
        .filter(col(queryId) =!= col(corpusId))
        .select(col(queryId), col(corpusId),
          round(graft.expressions.VecKernels.adc_sum(
            col("__tbl"), col("__codes")), 6).as("dist2"))
      val w = Window.partitionBy(col(queryId))
        .orderBy(col("dist2").asc, col(corpusId).asc)
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
    }

    def ivfPqTopK(queries: DataFrame, corpus: DataFrame,
                  ivfCentroids: DataFrame, pqModel: DataFrame,
                  k: Int, nprobe: Int, m: Int, dim: Int,
                  queryId: String = "query_id", corpusId: String = "neighbor_id",
                  vecCol: String = "embedding"): DataFrame = {
      val spark = queries.sparkSession
      import spark.implicits._
      val subDim = dim / m
      val icents = centroidTable(ivfCentroids)
      val cents = collectModel(pqModel, m)
      val kMax = cents.map(sc => sc.lastOption.map(_._1 + 1).getOrElse(0)).max
      val cAssigned = Ann.assignTopK(corpus.select(col(corpusId), col(vecCol)),
          corpusId, vecCol, icents, 1)
        .select(col(corpusId), col("__cent"))
      val codes = encodeKernel(corpus, corpusId, vecCol, cents, subDim)
        .toDF(corpusId, "__codes")
        .join(cAssigned, Seq(corpusId))
      val qAssigned = Ann.assignTopK(queries.select(col(queryId), col(vecCol)),
          queryId, vecCol, icents, nprobe)
        .select(col(queryId), col("__cent"))
      val bc = spark.sparkContext.broadcast(cents)
      val tables = queries.select(col(queryId).cast("long"), col(vecCol))
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
      val scored = broadcast(qAssigned.join(tables, Seq(queryId)))
        .join(codes, Seq("__cent"))
        .filter(col(queryId) =!= col(corpusId))
        .select(col(queryId), col(corpusId),
          round(graft.expressions.VecKernels.adc_sum(
            col("__tbl"), col("__codes")), 6).as("dist2"))
      val w = Window.partitionBy(col(queryId))
        .orderBy(col("dist2").asc, col(corpusId).asc)
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
    }
  }
}
