package graft

import graft.functions.Salary
import graft.operators.{Scd2, Snapshots}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based tests (SURVEY.md §5.2-2): SCD2 invariants over random
  * event sequences, salary-ladder branch properties, carry-forward
  * invariants.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  // No scalatest-scalacheck bridge in the offline cache: drive raw
  // ScalaCheck generators with fixed seeds (10 cases per property — each
  // case spins real Spark jobs).
  private def forAllSeeded[A](gen: Gen[A], cases: Int = 10)(body: A => Unit): Unit =
    (1 to cases).foreach { i =>
      body(gen.pureApply(Gen.Parameters.default, Seed(i.toLong)))
    }

  private val keyGen = Gen.choose(1, 8).map(i => s"k$i")
  private val valGen = Gen.oneOf("a", "b", "c")
  private val batchGen = Gen.listOfN(6, Gen.zip(keyGen, valGen)).map(_.distinctBy(_._1))

  test("SCD2: random merge sequences keep exactly one current row per key") {
    forAllSeeded(Gen.listOfN(3, batchGen)) { batches =>
      var dim = Seq.empty[(String, String)].toDF("k", "v")
        .withColumn("effective_date", lit(null).cast("date"))
        .withColumn("expiry_date", lit(null).cast("date"))
        .withColumn("is_current", lit(true))
        .limit(0)
      batches.zipWithIndex.foreach { case (batch, day) =>
        val incoming = batch.toDF("k", "v")
        dim = Scd2.merge(dim, incoming, Seq("k"), Seq("v"),
          lit(s"2026-01-0${day + 1}")).localCheckpoint(true)
      }
      val perKey = dim.filter(col("is_current")).groupBy("k").count().collect()
      assert(perKey.forall(_.getLong(1) == 1))
      // every key ever seen has exactly one current row
      val seen = batches.flatten.map(_._1).toSet
      assert(dim.filter(col("is_current")).count() == seen.size)
      // history rows all have expiry dates
      assert(dim.filter(!col("is_current") && col("expiry_date").isNull).count() == 0)
    }
  }

  test("SCD2: merging the same batch twice is a no-op (idempotence)") {
    forAllSeeded(batchGen) { batch =>
      if (batch.nonEmpty) {
        val incoming = batch.toDF("k", "v")
        val d0 = Seq.empty[(String, String)].toDF("k", "v")
          .withColumn("effective_date", lit(null).cast("date"))
          .withColumn("expiry_date", lit(null).cast("date"))
          .withColumn("is_current", lit(true)).limit(0)
        val d1 = Scd2.merge(d0, incoming, Seq("k"), Seq("v"), lit("2026-01-01"))
          .localCheckpoint(true)
        val d2 = Scd2.merge(d1, incoming, Seq("k"), Seq("v"), lit("2026-01-02"))
        assert(d2.count() == d1.count())            // no new versions
        assert(d2.filter(!col("is_current")).count() == 0)
      }
    }
  }

  private val salaryGen: Gen[String] = Gen.oneOf(
    Gen.const(""),
    Gen.const("Thỏa thuận"),
    Gen.const("Cạnh tranh"),
    Gen.choose(1, 99).map(n => s"$n - ${n * 2} triệu"),
    Gen.choose(100, 5000).map(n => s"$n - ${n * 2} USD"),
    Gen.choose(1, 99).map(n => s"Tới $n triệu"),
    Gen.choose(1, 99).map(n => s"Từ $n triệu"),
    Gen.choose(1, 99).map(n => s"$n triệu"),
    Gen.alphaStr)

  test("salary ladder: min<=max when both set; type always classified") {
    forAllSeeded(Gen.listOfN(20, salaryGen), cases = 5) { inputs =>
      val r = inputs.toDF("s")
        .select(Salary.normalizeSalary(col("s")).as("r"))
        .select("r.salary_min", "r.salary_max", "r.salary_type").collect()
      r.foreach { row =>
        val mn = Option(row.getDecimal(0)); val mx = Option(row.getDecimal(1))
        if (mn.isDefined && mx.isDefined) assert(mn.get.compareTo(mx.get) <= 0)
        assert(Set("range", "upto", "from", "negotiable", "competitive", "unknown")
          .contains(row.getString(2)))
        // branch shape: 'upto'/'from' are half-open
        if (row.getString(2) == "upto") assert(mn.isEmpty && mx.isDefined)
        if (row.getString(2) == "from") assert(mn.isDefined && mx.isEmpty)
      }
    }
  }

  /** Clustered corpora: 4 base docs of 5–12 words over a 14-word
    * vocabulary plus 4 variants of them (0 = exact dup, 1–2 word swaps =
    * near-dup), ids 0–7. */
  private val clusteredCorpusGen: Gen[Seq[(Long, String)]] = {
    val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
      "golf", "hotel", "india", "juliet", "kilo", "lima", "mike", "november")
    val docGen = Gen.choose(5, 12).flatMap(len => Gen.listOfN(len, Gen.oneOf(vocab)).map(_.toVector))
    for {
      bases <- Gen.listOfN(4, docGen)
      variants <- Gen.listOfN(4, for {
        b <- Gen.oneOf(bases)
        k <- Gen.choose(0, 2)
        idxs <- Gen.listOfN(k, Gen.choose(0, 99))
        w <- Gen.oneOf(vocab)
      } yield idxs.foldLeft(b)((d, i) => d.updated(i % d.size, w)))
    } yield (bases ++ variants).zipWithIndex.map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
  }

  test("exact Jaccard near-dup ≡ brute-force all-pairs over generated clustered corpora") {
    // The recall-1 claim (Dedup.nearDupJaccardExact: prefix + positional
    // filter never lose a true pair) checked against literal all-pairs
    // Jaccard computed Scala-side, for clustered corpora (variants of
    // shared base docs + noise) across thresholds 0.5–0.9.
    def shingleSet(text: String, n: Int): Set[String] = {
      val norm = text.trim.toLowerCase.replaceAll("\\s+", " ")
      val words = norm.split(" ", -1).toVector
      if (words.size < n) Set(norm)
      else words.sliding(n).map(_.mkString(" ")).toSet
    }
    def jac(a: Set[String], b: Set[String]): Double =
      a.intersect(b).size.toDouble / a.union(b).size
    forAllSeeded(Gen.zip(clusteredCorpusGen, Gen.oneOf(0.5, 0.7, 0.9)), cases = 6) { case (docs, t) =>
      val df = docs.toDF("doc_id", "text")
      val got = graft.llm.Dedup.nearDupJaccardExact(df, "doc_id", "text", t)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val sets = docs.map { case (id, txt) => id -> shingleSet(txt, 3) }.toMap
      val ids = docs.map(_._1)
      val want = (for {
        a <- ids; b <- ids if a < b
        if jac(sets(a), sets(b)) >= t
      } yield (a, b)).toSet
      assert(got == want, s"t=$t missing=${want -- got} extra=${got -- want}")
    }
  }

  test("incremental simhash ≡ full simhash restricted to batch pairs over generated clustered corpora") {
    // Both modes of the shared bucket-pair join: the batch-anchored join
    // against a persisted fingerprint table must find exactly the pairs
    // the plain self-join over batch ∪ corpus finds that touch the
    // batch — batch-internal pairs once (a < b), batch×corpus pairs with
    // the batch id first. maxBucket is large, so no cap drops differ.
    import graft.llm.Dedup
    var internal = 0
    var cross = 0
    val gen = Gen.zip(clusteredCorpusGen, Gen.listOfN(8, Gen.oneOf(true, false)),
      Gen.oneOf(3, 8, 16))
    forAllSeeded(gen, cases = 6) { case (docs, inBatch, maxD) =>
      val batchIds = docs.map(_._1).filter(id => inBatch(id.toInt)).toSet
      val df = docs.toDF("doc_id", "text")
      val isBatch = col("doc_id").isin(batchIds.toSeq: _*)
      val want = Dedup.nearDupSimhash(df, "doc_id", "text",
          maxDistance = maxD, maxBucket = 100000)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .collect {
          case (a, b, d) if batchIds(a) => (a, b, d)
          case (a, b, d) if batchIds(b) => (b, a, d)
        }.toSet
      val got = Dedup.nearDupSimhashIncremental(df.filter(isBatch), "doc_id", "text",
          Dedup.simhash(df.filter(!isBatch), "doc_id", "text"),
          maxDistance = maxD, maxBucket = 100000)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got == want, s"maxDistance=$maxD batch=$batchIds " +
        s"missing=${want -- got} extra=${got -- want}")
      internal += want.count(p => batchIds(p._2))
      cross += want.count(p => !batchIds(p._2))
    }
    // non-vacuous: both modes of the join produced pairs
    assert(internal > 0 && cross > 0, s"internal=$internal cross=$cross")
  }

  test("stratified sample: exactly min(n, |group|) rows per group") {
    // hot groups included: 80% of the rows land in one group
    val rowGen = Gen.zip(
      Gen.frequency(8 -> Gen.const("hot"), 2 -> Gen.oneOf("g1", "g2")),
      Gen.choose(0L, 100000L))
    forAllSeeded(Gen.listOfN(50, rowGen).map(_.distinctBy(_._2)), cases = 5) { rows =>
      val df = rows.toDF("g", "id")
      val got = graft.operators.Sampling.stratified(df, Seq("g"), "id", 3)
        .orderBy("g", "id").collect().toSeq
      val sizes = rows.groupBy(_._1).view.mapValues(_.size).toMap
      val gotSizes = got.groupBy(_.getString(0)).view.mapValues(_.size).toMap
      sizes.foreach { case (g, n) => assert(gotSizes(g) == math.min(3, n)) }
    }
  }

  test("packing: tokens conserved, blocks dense per shard, all-but-last block exactly full") {
    val corpusGen = Gen.listOfN(24,
      Gen.zip(Gen.choose(0L, 4000L), Gen.choose(1, 40))).map(_.distinctBy(_._1))
    forAllSeeded(corpusGen, cases = 6) { docs =>
      val df = docs.map { case (id, nTok) =>
        (id, (1 to nTok).map(t => s"w$t").mkString(" "))
      }.toDF("id", "text")
      val totalTokens = docs.map(_._2.toLong).sum
      val blocks = graft.llm.Packing.blocks(df, "id", "text",
        blockSize = 32, nShards = 3).localCheckpoint(true)
      // conservation: every token lands in exactly one block
      assert(blocks.agg(sum(col("tokens_in_block"))).head().getLong(0) == totalTokens)
      // per shard: block ids dense from 0; every block but the last holds
      // exactly blockSize tokens
      val perBlock = blocks.groupBy("shard", "block_id")
        .agg(sum(col("tokens_in_block")).as("tok")).collect()
      perBlock.groupBy(_.getInt(0)).foreach { case (_, rows) =>
        val byId = rows.sortBy(_.getLong(1))
        assert(byId.map(_.getLong(1)).toSeq == byId.indices.map(_.toLong))
        byId.dropRight(1).foreach(r => assert(r.getLong(2) == 32L))
        assert(byId.last.getLong(2) <= 32L)
      }
    }
  }

  test("chunking: windows cover every token; adjacent chunks overlap by window - stride") {
    val docGen = Gen.choose(1, 150)
    forAllSeeded(docGen, cases = 8) { nTok =>
      val words = (1 to nTok).map(i => s"w$i")
      val df = Seq((1L, words.mkString(" "))).toDF("id", "text")
      val chunks = graft.llm.Chunking.chunk(df, "id", "text", window = 16, stride = 11)
        .orderBy("chunk_idx").collect()
      val texts = chunks.map(_.getAs[String]("chunk_text").split(" ").toSeq)
      // chunk i is exactly words[i·stride, i·stride + window) — which
      // entails full coverage and the window − stride overlap
      texts.zipWithIndex.foreach { case (c, i) =>
        assert(c == words.slice(i * 11, i * 11 + 16))
      }
      // and the last chunk reaches the last token
      assert(texts.last.last == words.last)
    }
  }

  test("quantization: codes bounded, dequant error within half a step, idempotent scale") {
    val vecGen = Gen.listOfN(8, Gen.choose(-1000, 1000).map(_ / 250.0f))
    forAllSeeded(Gen.listOfN(12, vecGen), cases = 6) { vecs =>
      val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("vec_id", "embedding")
      val q = graft.llm.Embeddings.quantizeInt8(df, "embedding")
        .withColumn("back", graft.llm.Embeddings.dequantize(col("qvec"), col("scale")))
        .orderBy("vec_id").collect()
      q.zip(vecs).foreach { case (row, orig) =>
        val codes = row.getAs[scala.collection.Seq[Int]]("qvec")
        assert(codes.forall(c => c >= -127 && c <= 127))
        val scale = row.getAs[Double]("scale")
        val back = row.getAs[scala.collection.Seq[Double]]("back")
        if (scale == 0.0) assert(orig.forall(_ == 0.0f))
        else orig.map(_.toDouble).zip(back).foreach { case (o, b) =>
          assert(math.abs(o - b) <= 0.5 / scale + 1e-12)
        }
      }
    }
  }

  test("carry-forward: output keys = today ∪ unexpired yesterday; no dup keys when inputs are keyed") {
    val rowGen = Gen.zip(Gen.choose(1, 12), Gen.choose(0, 1)).map {
      case (k, exp) => (s"j$k", exp == 1)
    }
    forAllSeeded(Gen.zip(
        Gen.listOfN(6, rowGen).map(_.distinctBy(_._1)),
        Gen.listOfN(6, rowGen).map(_.distinctBy(_._1)))) { case (yRows, tRows) =>
      val y = yRows.toDF("k", "expired")
      val t = tRows.toDF("k", "expired")
      val out = Snapshots.carryForward(y, t, Seq("k"),
        notExpired = !col("expired"), restamp = Seq.empty)
      val outKeys = out.select("k").collect().map(_.getString(0)).toSeq
      assert(outKeys.distinct.size == outKeys.size)
      val expected = tRows.map(_._1).toSet ++
        yRows.filter(!_._2).map(_._1).toSet
      assert(outKeys.toSet == expected)
      // today's row always wins over a carried one
      val tMap = tRows.toMap
      out.collect().foreach { r =>
        if (tMap.contains(r.getString(0)))
          assert(r.getBoolean(1) == tMap(r.getString(0)))
      }
    }
  }

  test("token budget ≡ single-task window form over generated skewed corpora") {
    // ids unique by construction; token counts skewed (a few huge docs)
    val rowsGen = Gen.listOfN(200, Gen.zip(Gen.choose(0, 1), Gen.choose(1L, 40L)))
      .map(_.zipWithIndex.map { case ((big, t), i) =>
        (i.toLong, if (big == 1) t * 500 else t)
      })
    forAllSeeded(Gen.zip(rowsGen, Gen.choose(1L, 20000L)), cases = 6) {
      case (rows, budget) =>
        val df = rows.toDF("id", "toks")
        val expected = df
          .withColumn("cum_tokens", sum(col("toks")).over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("toks").desc, col("id").asc)))
          .filter(col("cum_tokens") <= budget)
          .select("id", "cum_tokens").as[(Long, Long)]
          .collect().sortBy(_._1).toSeq
        val got = graft.operators.Selection.byTokenBudget(df.repartition(7),
          Seq(col("toks").desc, col("id").asc), "toks", budget)
          .select("id", "cum_tokens").as[(Long, Long)]
          .collect().sortBy(_._1).toSeq
        assert(got == expected)
    }
  }

  test("range join: binned form ≡ naive theta join for random data and widths") {
    // points, intervals (possibly inverted or null-span), keys 1-3,
    // random bucket width — the binning must neither lose nor invent a
    // single pair vs the BETWEEN cross-check
    val pointGen = Gen.listOfN(18, Gen.zip(
      Gen.choose(1L, 3L), Gen.choose(0L, 200L)))
    val ivGen = Gen.listOfN(10, Gen.zip(
      Gen.choose(1L, 3L), Gen.choose(0L, 200L), Gen.choose(-30L, 80L)))
    val caseGen = Gen.zip(pointGen, ivGen, Gen.oneOf(1L, 7L, 64L, 500L))
    forAllSeeded(caseGen, cases = 8) { case (ps, ivs, width) =>
      val points = ps.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
        .toDF("pid", "k", "t")
      val intervals = ivs.zipWithIndex.map { case ((k, lo, span), i) =>
        (i.toLong, k, lo, lo + span) }.toDF("iid", "k", "lo", "hi")
      val got = graft.operators.RangeJoin.pointInInterval(
          points.repartition(5), intervals.repartition(3), Seq("k"),
          "t", "lo", "hi", bucketWidth = width)
        .select("pid", "iid").as[(Long, Long)].collect().toSet
      val naive = points.as("p").join(intervals.as("i"),
          col("p.k") === col("i.k") &&
            col("p.t").between(col("i.lo"), col("i.hi")))
        .select("pid", "iid").as[(Long, Long)].collect().toSet
      assert(got == naive, s"width $width: ${got.diff(naive)} extra, ${naive.diff(got)} missing")
    }
  }

  test("weighted systematic sampling: exactly n draws, PPS multiplicity") {
    // random positive weights with occasional giants; for every n the
    // total draw count is exactly n and each row's copy count brackets
    // its proportional share floor(w·n/T) … ceil(w·n/T)+1 (midpoint
    // systematic sampling's deterministic bound)
    val wGen = Gen.listOfN(12, Gen.oneOf(Gen.choose(1L, 20L), Gen.choose(200L, 500L)))
    forAllSeeded(Gen.zip(wGen, Gen.oneOf(1, 3, 7, 16)), cases = 8) {
      case (ws, n) =>
        val df = ws.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("id", "w")
        val out = graft.operators.Sampling
          .weightedSystematic(df.repartition(5), "id", "w", n)
          .select("id", "w", "copies").as[(Long, Long, Long)].collect()
        val total = ws.sum.toDouble
        assert(out.map(_._3).sum == n, s"n=$n ws=$ws got=${out.toSeq}")
        out.foreach { case (id, w, c) =>
          val share = w * n / total
          assert(c >= math.floor(share).toLong - 1 && c <= math.ceil(share).toLong + 1,
            s"id=$id w=$w copies=$c share=$share")
        }
    }
  }
}
