package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PqSpec extends SparkSpec {
  import spark.implicits._

  // two well-separated clusters, 8-dim, so quantization is easy to judge
  private lazy val vecs = {
    val r = new scala.util.Random(5)
    (0 until 40).map { i =>
      val base = if (i % 2 == 0) 1.0f else -1.0f
      (i.toLong, Array.tabulate(8)(_ => base + r.nextFloat() * 0.1f))
    }.toDF("vec_id", "embedding")
  }

  test("train: model shape, full membership, determinism") {
    val model = Pq.pqTrain(vecs, m = 2, k = 4, iters = 2)
    val rows = model.collect()
    assert(rows.map(_.getAs[Int]("sub")).toSet.subsetOf(Set(0, 1)))
    assert(rows.forall(_.getAs[Seq[Double]]("centroid").size == 4))
    // every vector is a member of exactly one code per subspace
    val bySub = rows.groupBy(_.getAs[Int]("sub"))
      .map { case (s, rs) => s -> rs.map(_.getAs[Long]("n_members")).sum }
    assert(bySub.values.forall(_ == 40L))
    val again = Pq.pqTrain(vecs, m = 2, k = 4, iters = 2).collect()
    assert(rows.map(_.toString).sorted.toSeq ==
      again.map(_.toString).sorted.toSeq)
  }

  test("encode: codes come from the model; equal vectors encode equally") {
    val model = Pq.pqTrain(vecs, m = 2, k = 4, iters = 2)
    val valid = model.select("sub", "code").as[(Int, Int)].collect()
      .groupBy(_._1).map { case (s, cs) => s -> cs.map(_._2).toSet }
    val codes = Pq.pqEncode(vecs, "vec_id", "embedding", model, m = 2, dim = 8)
      .as[(Long, Array[Int])].collect().toMap
    assert(codes.size == 40)
    codes.values.foreach { cs =>
      assert(cs.length == 2)
      cs.zipWithIndex.foreach { case (c, s) => assert(valid(s).contains(c)) }
    }
    // a planted duplicate pair encodes identically
    val v0 = vecs.filter($"vec_id" === 0L)
      .head().getAs[scala.collection.Seq[Float]]("embedding").toArray
    val dupDf = Seq((100L, v0), (101L, v0)).toDF("vec_id", "embedding")
    val dupCodes = Pq.pqEncode(dupDf, "vec_id", "embedding", model, m = 2, dim = 8)
      .as[(Long, Array[Int])].collect().toMap
    assert(dupCodes(100L).toSeq == dupCodes(101L).toSeq)
  }

  test("ivfPq: probing every list equals the full ADC scan; nprobe=1 prunes") {
    val pq = Pq.pqTrain(vecs, m = 2, k = 4, iters = 2)
    val ivf = Ann.kmeansTrain(vecs, "vec_id", "embedding",
      iters = 2, centroidTarget = 4)
    val nLists = ivf.count().toInt
    val queries = vecs.filter($"vec_id" < 2)
      .select($"vec_id".as("query_id"), $"embedding")
    val corpus = vecs.select($"vec_id".as("neighbor_id"), $"embedding")
    val full = Pq.pqTopK(queries, corpus, pq, k = 8, m = 2, dim = 8)
      .orderBy("query_id", "rank").collect().toSeq
    val probedAll = Pq.ivfPqTopK(queries, corpus, ivf, pq, k = 8,
        nprobe = nLists, m = 2, dim = 8)
      .orderBy("query_id", "rank").collect().toSeq
    assert(probedAll == full)   // all lists probed -> identical to the scan
    // one probed list: candidate pairs prune to the probed list's
    // members, and every surviving pair keeps its full-scan ADC distance
    val pruned = Pq.ivfPqTopK(queries, corpus, ivf, pq, k = 40,
        nprobe = 1, m = 2, dim = 8)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    val fullAll = Pq.pqTopK(queries, corpus, pq, k = 40, m = 2, dim = 8)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pruned.nonEmpty && pruned.length < fullAll.size)
    pruned.foreach { case (pair, d) => assert(fullAll(pair) == d, pair) }
  }

  test("refine: nominating the whole corpus recovers the exact ranking") {
    val model = Pq.pqTrain(vecs, m = 2, k = 4, iters = 2)
    val queries = vecs.filter($"vec_id" < 2)
      .select($"vec_id".as("query_id"), $"embedding")
    val corpus = vecs.select($"vec_id".as("neighbor_id"), $"embedding")
    val refined = Pq.pqTopKRefined(queries, corpus, model, k = 5, kCand = 40,
        m = 2, dim = 8)
      .collect()
      .map(r => (r.getLong(0), r.getInt(3)) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    // local brute force with the SAME fold order and round-6 render
    val all = vecs.collect().map(r => r.getLong(0) ->
      r.getAs[scala.collection.Seq[Float]]("embedding").toArray).toMap
    for (q <- Seq(0L, 1L)) {
      val expect = all.toSeq.filter(_._1 != q).map { case (id, v) =>
        val d = v.zip(all(q)).foldLeft(0.0) { case (acc, (a, b)) =>
          acc + (a.toDouble - b.toDouble) * (a.toDouble - b.toDouble)
        }
        (id, BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.sortBy(t => (t._2, t._1)).take(5)
      val got = (1 to 5).map(r => refined((q, r)))
      assert(got == expect, s"query $q: got $got expected $expect")
    }
  }

  test("refine: candidate set is query-bounded and kCand >= k is enforced") {
    val model = Pq.pqTrain(vecs, m = 2, k = 4, iters = 2)
    val queries = vecs.filter($"vec_id" < 2)
      .select($"vec_id".as("query_id"), $"embedding")
    val corpus = vecs.select($"vec_id".as("neighbor_id"), $"embedding")
    // small kCand: output is still exactly k rows per query, never self
    val out = Pq.pqTopKRefined(queries, corpus, model, k = 3, kCand = 6,
      m = 2, dim = 8).collect()
    assert(out.count(_.getLong(0) == 0L) == 3)
    assert(out.count(_.getLong(0) == 1L) == 3)
    assert(out.forall(r => r.getLong(0) != r.getLong(1)))
    // every refined candidate came from the ADC nomination
    val nominated = Pq.pqTopK(queries, corpus, model, k = 6, m = 2, dim = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.forall(r => nominated((r.getLong(0), r.getLong(1)))))
    intercept[IllegalArgumentException] {
      Pq.pqTopKRefined(queries, corpus, model, k = 5, kCand = 3, m = 2, dim = 8)
    }
  }

  test("adc: same-cluster neighbors rank before cross-cluster ones") {
    val model = Pq.pqTrain(vecs, m = 2, k = 4, iters = 2)
    val queries = vecs.filter($"vec_id" < 2)
      .select($"vec_id".as("query_id"), $"embedding")
    val corpus = vecs.select($"vec_id".as("neighbor_id"), $"embedding")
    val out = Pq.pqTopK(queries, corpus, model, k = 10, m = 2, dim = 8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(out.count(_._1 == 0L) == 10)
    // query 0 is in the +1 cluster (even ids): all 10 nearest are even
    assert(out.filter(_._1 == 0L).forall(t => t._2 % 2 == 0))
    assert(out.filter(_._1 == 1L).forall(t => t._2 % 2 == 1))
    // distances ascend with rank and never include the query itself
    val q0 = out.filter(_._1 == 0L).sortBy(_._4)
    assert(q0.sliding(2).forall(p => p(0)._3 <= p(1)._3))
    assert(out.forall(t => t._1 != t._2))
  }

  test("an empty corpus trains, encodes and ranks to empty frames with their schemas") {
    val empty = vecs.limit(0)
    val ivf = Ann.kmeansTrain(empty, "vec_id", "embedding", iters = 2)
    val pq = Pq.pqTrain(empty, m = 2, k = 4, iters = 2)
    val codes = Pq.pqEncode(empty, "vec_id", "embedding", pq, m = 2, dim = 8)
    val queries = empty.select($"vec_id".as("query_id"), $"embedding")
    val corpus = empty.select($"vec_id".as("neighbor_id"), $"embedding")
    val top = Pq.pqTopK(queries, corpus, pq, k = 5, m = 2, dim = 8)
    val ivfTop = Pq.ivfPqTopK(queries, corpus, ivf, pq, k = 5, nprobe = 2, m = 2, dim = 8)
    for (df <- Seq(ivf, pq, codes, top, ivfTop)) assert(df.isEmpty)
    // the schemas a non-empty corpus produces
    val full = Pq.pqTrain(vecs, m = 2, k = 4, iters = 2)
    val fullQ = vecs.select($"vec_id".as("query_id"), $"embedding")
    val fullC = vecs.select($"vec_id".as("neighbor_id"), $"embedding")
    assert(ivf.schema == Ann.kmeansTrain(vecs, "vec_id", "embedding", iters = 2).schema)
    assert(pq.schema == full.schema)
    assert(codes.schema ==
      Pq.pqEncode(vecs, "vec_id", "embedding", full, m = 2, dim = 8).schema)
    assert(top.schema == Pq.pqTopK(fullQ, fullC, full, k = 5, m = 2, dim = 8).schema)
    assert(ivfTop.schema == Pq.ivfPqTopK(fullQ, fullC, ivf, full, k = 5, nprobe = 2,
      m = 2, dim = 8).schema)
  }
}
