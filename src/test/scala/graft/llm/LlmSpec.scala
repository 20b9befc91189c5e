package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Unit + cross-check tests for the LLM-pipeline operators. */
class LlmSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),   // near-dup of 1
    (3L, "The  Quick Brown Fox jumps over the lazy dog"),  // exact dup of 1 mod case/ws
    (4L, "completely different content about spark engines"),
    (5L, "")).toDF("doc_id", "text")

  test("exact dedup: case/whitespace variants collapse, min id kept") {
    val out = Dedup.exactDedup(docs, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(out.toSeq == Seq(1L, 2L, 4L, 5L)) // 3 collapsed into 1
  }

  test("minhash near-dup finds the fox pair, not the unrelated doc") {
    val pairs = Dedup.nearDupMinhash(docs.filter($"doc_id" =!= 5L), "doc_id", "text",
        threshold = 0.3, numHashes = 32, bands = 16, shingleN = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 3L))) // identical after normalize → jaccard 1
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 3L))) // near-dup caught
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("clean corpus: quality filter, exact dup, near-dup cluster all applied") {
    // doc 5 (empty) fails quality; doc 3 is an exact dup of 1; docs 1 and 2
    // are near-dups (one cluster → keep min id 1); doc 4 survives alone
    val out = Curation.cleanCorpus(docs, "doc_id", "text",
        minQuality = 0.5, nearDupThreshold = 0.3, numHashes = 32, bands = 16,
        shingleN = 2)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(out == Seq(1L, 4L))
  }

  test("filter stack: rules gate the classifier; rule-killed docs never score") {
    // doc 1: passes gopher (60 words incl. a stopword) and is not repetitive
    // doc 2: repetitive (one bigram dominates) -> rules kill it
    // doc 3: too short for gopher's 50-word floor -> rules kill it
    val good = (1 to 60).map(i => s"word$i").mkString("the ", " ", "")
    val stack = Seq(
      (1L, good),
      (2L, ("spam ham " * 40).trim),
      (3L, "tiny doc")).toDF("doc_id", "text")
    val model = (0 to 32).map(j => (j, 0.01)).toDF("j", "w")
    val out = Curation.filterStack(stack, "doc_id", "text", model,
        minScore = 0.0, minStopwords = 1)
      .orderBy("doc_id").collect()
    // doc 1: rules pass, scored, keep (score >= 0.0 always)
    assert(out(0).getBoolean(1) && !out(0).getBoolean(2)
      && !out(0).isNullAt(3) && out(0).getBoolean(4))
    // doc 2: gopher passes words but repetition kills -> no score, no keep
    assert(out(1).getBoolean(2) && out(1).isNullAt(3) && !out(1).getBoolean(4))
    // doc 3: gopher kills -> no score, no keep
    assert(!out(2).getBoolean(1) && out(2).isNullAt(3) && !out(2).getBoolean(4))
  }

  test("cluster resolution: transitive pairs collapse to the component min (both regimes)") {
    val pairs = Seq((2L, 3L), (3L, 7L), (9L, 8L)).toDF("id_a", "id_b")
    val ids = Seq(1L, 2L, 3L, 7L, 8L, 9L).toDF("doc_id")
    // {2,3,7} → 2 (transitively, though (2,7) was never a pair); {8,9} → 8
    val want = Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 7L -> 2L, 8L -> 8L, 9L -> 8L)
    val local = Dedup.resolveClusters(pairs, ids, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local == want)
    // localThreshold = 0 forces the distributed label-propagation loop —
    // both regimes must produce the identical labeling
    val looped = Dedup.resolveClusters(pairs, ids, "doc_id", localThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(looped == want)
  }

  test("exact Jaccard near-dup equals brute force (prefix filter is complete)") {
    val d = docs.filter($"doc_id" =!= 5L)
    for (t <- Seq(0.2, 0.5, 0.8)) {
      val got = Dedup.nearDupJaccardExact(d, "doc_id", "text", threshold = t, shingleN = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // brute force over all pairs
      val sets = d.select($"doc_id",
        array_distinct(Dedup.shingles($"text", 2)).as("s")).collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
      val want = (for {
        a <- sets.keys; b <- sets.keys if a < b
        j = sets(a).intersect(sets(b)).size.toDouble / sets(a).union(sets(b)).size
        if j >= t
      } yield (a, b, j)).toSet
      assert(got == want, s"t=$t: got $got want $want")
    }
  }

  test("portable simhash mode: identical same hash, near closer than far") {
    // the fingerprint is the SQL-restatable md5 definition the oracle
    // uses: bit i votes with bit i%4 of md5 hex digit i/4 of each
    // distinct word of the normalized text
    val h = Dedup.simhash(docs.filter($"doc_id" =!= 5L), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def md5Hex(w: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(w.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def ref(text: String): Long = {
      val words = text.trim.toLowerCase.replaceAll("\\s+", " ").split(" ", -1).distinct
      (0 until 64).foldLeft(0L) { (acc, i) =>
        val votes = words.map { w =>
          val digit = Integer.parseInt(md5Hex(w).substring(i / 4, i / 4 + 1), 16)
          if (((digit >> (i % 4)) & 1) == 1) 1 else -1
        }.sum
        if (votes > 0) acc | (1L << i) else acc
      }
    }
    docs.filter($"doc_id" =!= 5L).collect().foreach { r =>
      assert(h(r.getLong(0)) == ref(r.getString(1)), s"doc ${r.getLong(0)}")
    }
    assert(h(1L) == h(3L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(h(1L), h(2L)) < ham(h(1L), h(4L)))
  }

  test("jaccard of identical-after-normalize pair is 1.0") {
    val pairs = Seq((1L, 3L)).toDF("id_a", "id_b")
    val j = Dedup.jaccardVerify(pairs, docs, "doc_id", "text", shingleN = 2)
      .head().getDouble(2)
    assert(j == 1.0)
  }

  test("simhash: identical texts same hash; near-dups close; distinct far") {
    val h = Dedup.simhash(docs.filter($"doc_id" =!= 5L), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h(1L) == h(3L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(h(1L), h(2L)) < ham(h(1L), h(4L)))
  }

  test("lang id on real sentences") {
    val s = Seq(
      ("the cat is on the mat and it is happy", "en"),
      ("le chat est dans la maison et il est content", "fr"),
      ("der Hund ist nicht mit der Katze", "de"),
      ("el perro es grande y la casa es bonita", "es"),
      ("xyzzy qwerty asdf", "und")).toDF("text", "expected")
    val got = s.select(TextStats.langId(col("text")).as("got"), col("expected")).collect()
    got.foreach(r => assert(r.getString(0) == r.getString(1),
      s"expected ${r.getString(1)} got ${r.getString(0)}"))
  }

  test("token counts and ratios") {
    val t = Seq("Hello, World! 123").toDF("text")
    val r = t.select(
      TextStats.tokenCount(col("text")),
      TextStats.charCount(col("text")),
      TextStats.punctRatio(col("text")),
      TextStats.digitRatio(col("text"))).head()
    assert(r.getInt(0) == 3)
    assert(r.getInt(1) == 17)
    assert(r.getDouble(2) == 2.0 / 17)  // , and !
    assert(r.getDouble(3) == 3.0 / 17)
  }

  test("empty text: zero counts, no NaNs") {
    val r = Seq("").toDF("text").select(
      TextStats.tokenCount(col("text")),
      TextStats.avgWordLen(col("text")),
      TextStats.qualityScore(col("text"))).head()
    assert(r.getInt(0) == 0)
    assert(r.getDouble(1) == 0.0)
    assert(!r.getDouble(2).isNaN)
  }

  test("brute-force ANN: identical vector is rank-1 with cosine 1") {
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f)), (1L, Array(1f, 0f, 0f)),
      (2L, Array(0f, 1f, 0f)), (3L, Array(0.9f, 0.1f, 0f))).toDF("vec_id", "embedding")
    val q = vecs.filter($"vec_id" === 0L).select($"vec_id".as("query_id"), $"embedding")
    val c = vecs.select($"vec_id".as("neighbor_id"), $"embedding")
    val top = Ann.bruteForceTopK(q, c, 3).orderBy("rank").collect()
    assert(top(0).getAs[Long]("neighbor_id") == 1L)
    assert(top(0).getAs[Double]("cosine") == 1.0)
    assert(top(1).getAs[Long]("neighbor_id") == 3L)
  }

  test("LSH ANN recall vs brute force on real embeddings") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter($"vec_id" < 3).select($"vec_id".as("query_id"), $"embedding")
    val c = e.select($"vec_id".as("neighbor_id"), $"embedding")
    val exact = Ann.bruteForceTopK(q, c, 5).select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Ann.lshTopK(q, c, 5, bits = 4).select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    // The synthetic embeddings are near-uniform (angular neighbors barely
    // beat chance), so recall is bounded by candidate fraction: 4 bits +
    // 1-bit probes ≈ 31% of corpus → measured 0.4. Real clustered data
    // would use more bits; the assertion pins beats-chance behavior.
    assert(recall >= 0.25, s"LSH recall $recall too low")
  }

  test("IVF ANN recall vs brute force on real embeddings") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter($"vec_id" < 3).select($"vec_id".as("query_id"), $"embedding")
    val c = e.select($"vec_id".as("neighbor_id"), $"embedding")
    val exact = Ann.bruteForceTopK(q, c, 5).select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Ann.ivfTopK(q, c, 5, centroidTarget = 25, nprobe = 4)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.25, s"IVF recall $recall too low")
  }

  test("LSH bucket caps report dropped buckets/rows, not silent recall decay") {
    // 40 identical docs concentrate every band bucket past maxBucket=10 →
    // all dropped (and counted); the distinct near-dup pair elsewhere
    // still surfaces. This is the worst case deliberately: every
    // candidate is capped and the pair output for the hot docs is EMPTY —
    // the stats must fire precisely then (an Observation-based counter
    // would vanish here: AQE's empty-relation propagation prunes the
    // CollectMetrics node once the capped side materializes empty).
    val degenerate = (0L until 40L).map(i => (i, "spark spark spark spark spark"))
    val pair = Seq((100L, "a genuinely different document about engines"),
                   (101L, "a genuinely different document about enginez"))
    val df = (degenerate ++ pair).toDF("doc_id", "text")

    val mSt = new CapStats
    val mPairs = Dedup.nearDupMinhash(df, "doc_id", "text", threshold = 0.3,
      numHashes = 32, bands = 16, shingleN = 2, maxBucket = 10, capStats = Some(mSt))
    // 40 identical docs share all 16 band buckets → 16 capped buckets,
    // 640 banded entries dropped
    assert(mSt.droppedBuckets == 16L, mSt.toString)
    assert(mSt.droppedRows == 640L, mSt.toString)
    assert(!mPairs.collect().map(_.getLong(0)).exists(_ < 100L)) // hot docs capped out

    val sSt = new CapStats
    Dedup.nearDupSimhash(df, "doc_id", "text", maxDistance = 3,
      maxBucket = 10, capStats = Some(sSt))
    assert(sSt.droppedBuckets >= 1L, sSt.toString)

    val eSt = new CapStats
    val vecs = (0L until 40L).map(i => (i, Array.fill(8)(1f))).toDF("vec_id", "embedding")
    Ann.nearDupCosine(vecs, "vec_id", "embedding", threshold = 0.9,
      bits = 6, dim = 8, maxBucket = 10, capStats = Some(eSt))
    assert(eSt.droppedBuckets >= 1L, eSt.toString)
    assert(eSt.droppedRows >= 40L, eSt.toString)

    // quiet corpus → zero drops reported
    val qSt = new CapStats
    Dedup.nearDupMinhash(pair.toDF("doc_id", "text"), "doc_id", "text",
      threshold = 0.3, numHashes = 32, bands = 16, shingleN = 2,
      maxBucket = 10, capStats = Some(qSt))
    assert(qSt.droppedBuckets == 0L && qSt.droppedRows == 0L, qSt.toString)
  }

  test("incremental near-dup: batch matches corpus via signatures, text never re-read") {
    // corpus = docs 1-4; batch = a verbatim re-crawl of doc 1 (new id 100)
    // plus an unrelated new doc 101. The corpus side enters ONLY as its
    // signature table; the re-crawl must match its original at est 1.0.
    val corpus = docs.filter($"doc_id" =!= 5L)
    val corpusSigs = Dedup.signatureTable(corpus, "doc_id", "text",
      numHashes = 32, shingleN = 2)
    val batch = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"), // = doc 1
      (101L, "entirely novel content with no duplicate anywhere")).toDF("doc_id", "text")
    val out = Dedup.nearDupMinhashIncremental(batch, "doc_id", "text", corpusSigs,
        threshold = 0.7, numHashes = 32, bands = 16, shingleN = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.exists(p => p._1 == 100L && p._2 == 1L && p._3 == 1.0), out.mkString(", "))
    // doc 3 normalizes to doc 1's text → same signature → also est 1.0
    assert(out.exists(p => p._1 == 100L && p._2 == 3L && p._3 == 1.0), out.mkString(", "))
    assert(!out.exists(p => p._2 == 101L || p._1 == 101L), "unrelated doc matched")
  }

  test("incremental simhash: re-crawl hits its original at distance 0") {
    val corpus = docs.filter($"doc_id" =!= 5L)
    val corpusFps = Dedup.simhash(corpus, "doc_id", "text")
    val batch = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"), // = doc 1
      (101L, "entirely novel content with no duplicate anywhere"))
      .toDF("doc_id", "text")
    val out = Dedup.nearDupSimhashIncremental(batch, "doc_id", "text",
        corpusFps, maxDistance = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(out.exists(p => p._1 == 100L && p._2 == 1L && p._3 == 0),
      out.mkString(", "))
    assert(!out.exists(p => p._1 == 101L), "unrelated batch doc matched")
    // batch-internal duplicates pair once, a < b
    val batch2 = batch.union(Seq(
      (102L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text"))
    val out2 = Dedup.nearDupSimhashIncremental(batch2, "doc_id", "text",
        corpusFps, maxDistance = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out2.contains((100L, 102L)) && !out2.contains((102L, 100L)))
  }

  test("incremental near-dup: empty corpus degrades to batch-internal pairs") {
    val corpus = docs.limit(0)
    val emptySigs = Dedup.signatureTable(corpus, "doc_id", "text",
      numHashes = 32, shingleN = 2)
    val batch = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "omicron pi rho sigma tau")).toDF("doc_id", "text")
    val out = Dedup.nearDupMinhashIncremental(batch, "doc_id", "text", emptySigs,
        threshold = 0.9, numHashes = 32, bands = 16, shingleN = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((1L, 2L)))
  }

  test("hash split: deterministic, complete, accretion-stable") {
    import graft.operators.Sampling
    val ids = (0L until 1000L).toDF("id")
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val got = Sampling.hashSplit(ids, "id", splits)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size == 1000 && got.values.toSet.subsetOf(Set("train", "val", "test")))
    val frac = got.values.groupBy(identity).view.mapValues(_.size / 1000.0)
    assert(math.abs(frac("train") - 0.8) < 0.05, frac.toMap.toString)
    // accretion stability: splitting a SUBSET assigns identically — new
    // documents can never move old ones between splits
    val sub = Sampling.hashSplit(ids.filter($"id" < 500), "id", splits)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sub.forall { case (k, v) => got(k) == v })
    // plan is narrow: no shuffle
    val plan = Sampling.hashSplit(ids, "id", splits).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(400))
  }

  test("mix by rate: epoch counts, fractional thinning, drop, and a narrow plan") {
    import graft.operators.Mixing
    val docs = (0L until 400L).map(i => (i, s"d${i % 4}")).toDF("id", "dom")
    val rates = Map("d0" -> 2.0, "d1" -> 0.5, "d2" -> 0.0)
    val out = Mixing.byRate(docs, "dom", "id", rates, defaultRate = 1.0)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    val byDom = out.groupBy(_._2)
    // integer rate 2.0: every doc exactly epochs {0, 1}
    assert(byDom("d0").length == 200 &&
      byDom("d0").groupBy(_._1).forall(_._2.map(_._3).sorted.sameElements(Array(0, 1))))
    // fractional 0.5: a deterministic ~half, epoch 0 only
    val d1 = byDom("d1")
    assert(d1.forall(_._3 == 0) && math.abs(d1.length - 50) < 20, d1.length.toString)
    // explicit 0.0 drops the domain entirely; unlisted default 1.0 passes through
    assert(!byDom.contains("d2") && byDom("d3").length == 100)
    // rerun is bitwise-identical (pure function of (id, epoch))
    val again = Mixing.byRate(docs, "dom", "id", rates, defaultRate = 1.0)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(out.sorted.sameElements(again.sorted))
    // plan is narrow: generator + filter, no shuffle
    val plan = Mixing.byRate(docs, "dom", "id", rates)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(400))
  }

  test("temperature rates: sqrt schedule boosts low-resource groups, sums to 1") {
    import graft.operators.Mixing
    // masses 1/4/16: sqrt flattens to 1/2/4 -> rates 1/7, 2/7, 4/7
    val rows = (Seq.fill(1)("lo") ++ Seq.fill(4)("mid") ++ Seq.fill(16)("hi"))
      .zipWithIndex.map { case (g, i) => (g, 1L, i) }
      .toDF("grp", "w", "i")
    val out = Mixing.temperatureRates(rows, Seq("grp"), "w")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(out("lo")._1 == 1L && out("mid")._1 == 4L && out("hi")._1 == 16L)
    assert(math.abs(out("lo")._2 - 1.0 / 7) < 1e-12)
    assert(math.abs(out("mid")._2 - 2.0 / 7) < 1e-12)
    assert(math.abs(out("hi")._2 - 4.0 / 7) < 1e-12)
    assert(math.abs(out.values.map(_._2).sum - 1.0) < 1e-12)
    // boost: low-resource up-sampled, dominant down-sampled
    assert(out("lo")._3 > 1.0 && out("hi")._3 < 1.0)
    // boost = rate / natural share: lo = (1/7) / (1/21) = 3
    assert(math.abs(out("lo")._3 - 3.0) < 1e-12)
  }

  test("oov rate counts instances against the vocabulary, null for empty docs") {
    val vocab = Seq("alpha", "beta", "gamma").toDF("token")
    val docs = Seq(
      (0L, "alpha beta gamma alpha"),        // fully covered
      (1L, "alpha zzz zzz beta"),            // 2/4 OOV instances
      (2L, "qqq rrr"),                       // all OOV
      (3L, "")).toDF("doc_id", "text")       // token-less -> null
    val out = TextStats.oovRate(docs, "doc_id", "text", vocab)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(0L).getLong(2) == 0 && out(0L).getDouble(3) == 0.0)
    assert(out(1L).getLong(1) == 4 && out(1L).getLong(2) == 2 &&
      out(1L).getDouble(3) == 0.5)
    assert(out(2L).getDouble(3) == 1.0)
    assert(out(3L).getLong(1) == 0 && out(3L).isNullAt(3))
  }

  test("hash split: a null id fails loudly instead of silently joining the last split") {
    import graft.operators.Sampling
    val ids = Seq(Some(1L), None).toDF("id")
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val e = intercept[Exception] {
      Sampling.hashSplit(ids, "id", splits).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("hashSplit: null id")), e.toString)
  }

  test("dup spans: overlapping shared spans cover tokens once; short/unique/empty docs score 0") {
    import graft.llm.Spans
    val shared = "alpha bravo charlie delta echo foxtrot golf hotel india" // 9 words
    val d = Seq(
      (1L, shared + " one two three"),   // 12 words; spans at pos 0,1 shared
      (2L, "zulu " + shared),            // 10 words; spans at pos 1,2 shared
      (3L, "unique words only here nothing shared at all whatsoever"),
      (4L, "tiny doc"),                  // shorter than the span length
      (5L, "   ")                        // empty after normalization
    ).toDF("doc_id", "text")
    val out = Spans.dupSpanProfile(d, "doc_id", "text", spanLen = 8, minDocs = 2)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getDouble(3)))).toMap
    // the two shared 8-grams overlap: 9 distinct covered tokens, not 16
    assert(out(1L) == ((12, 9, 0.75)), out(1L).toString)
    assert(out(2L) == ((10, 9, 0.9)), out(2L).toString)
    assert(out(3L) == ((9, 0, 0.0)))
    assert(out(4L) == ((2, 0, 0.0)))
    assert(out(5L) == ((0, 0, 0.0)))
    // a span repeated only WITHIN one doc is not a cross-doc duplicate
    val selfRep = Seq((1L, shared + " " + shared),
      (2L, "completely different words that never repeat anything from elsewhere")
    ).toDF("doc_id", "text")
    val self = Spans.dupSpanProfile(selfRep, "doc_id", "text", spanLen = 8, minDocs = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(self(1L) == 0, self.toString)
    // the cut policy removes exactly the covered tokens, keeps the rest in order
    val trimmed = Spans.trimDupSpans(d, "doc_id", "text", spanLen = 8, minDocs = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(trimmed(1L) == "one two three", trimmed(1L))
    assert(trimmed(2L) == "zulu", trimmed(2L))
    assert(trimmed(3L) == "unique words only here nothing shared at all whatsoever")
    assert(trimmed(4L) == "tiny doc")
    assert(trimmed(5L) == "")
    // a FULLY covered doc trims to the empty string (doc = exactly the
    // shared 8-gram, present in two docs)
    val eightShared = "alpha bravo charlie delta echo foxtrot golf hotel"
    val full = Seq((1L, eightShared), (2L, eightShared))
      .toDF("doc_id", "text")
    val ft = Spans.trimDupSpans(full, "doc_id", "text", spanLen = 8, minDocs = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(ft == Map(1L -> "", 2L -> ""), ft.toString)
  }

  test("keep-first spans: canonical occurrence survives, redundant copies marked and trimmed") {
    import graft.llm.Spans
    val shared = "alpha bravo charlie delta echo foxtrot golf hotel india" // 9 words
    val d = Seq(
      (1L, shared + " one two three"), // canonical copy: windows at pos 0,1
      (2L, "zulu " + shared),          // redundant copy: windows at pos 1,2
      (3L, "unique words only here nothing shared at all whatsoever"),
      (5L, "   ")
    ).toDF("doc_id", "text")
    // keep-first: doc 1 holds the corpus-minimal (id,pos) occurrence of
    // both 8-grams, so ONLY doc 2's windows are marked — merged into one
    // span [1, 9] (two overlapping windows)
    val spans = Spans.canonicalDupSpans(d, "doc_id", "text", spanLen = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(spans.toSeq == Seq((2L, 1L, 9L, 2L)), spans.mkString(","))
    // keepFirst = false restores the cut-every-copy marking: doc 1's
    // windows mark too (span [0, 8])
    val all = Spans.canonicalDupSpans(d, "doc_id", "text", spanLen = 8,
        keepFirst = false)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(all.toSeq == Seq((1L, 0L, 8L), (2L, 1L, 9L)), all.mkString(","))
    // trim: doc 1 intact (normalized), doc 2 loses the 9 covered tokens
    val t = Spans.trimDupSpansKeepFirst(d, "doc_id", "text", spanLen = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(t(1L) == ((12L, 0L, shared + " one two three")), t(1L).toString)
    assert(t(2L) == ((10L, 9L, "zulu")), t(2L).toString)
    assert(t(3L) == ((9L, 0L, "unique words only here nothing shared at all whatsoever")))
    assert(t(5L) == ((0L, 0L, "")))
    // WITHIN-doc repeats count (the cross-doc tier cannot see these):
    // shared+shared repeats both 8-grams at pos 9,10 — the second copy
    // marks, the first survives
    val selfRep = Seq((7L, shared + " " + shared)).toDF("doc_id", "text")
    val selfSpans = Spans.canonicalDupSpans(selfRep, "doc_id", "text", spanLen = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(selfSpans.toSeq == Seq((7L, 9L, 17L, 2L)), selfSpans.mkString(","))
    val selfTrim = Spans.trimDupSpansKeepFirst(selfRep, "doc_id", "text", spanLen = 8)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getString(3))).head
    assert(selfTrim == ((18L, 9L, shared)), selfTrim.toString)
    // identical docs: the lower id keeps the text, the higher id empties
    val eight = "alpha bravo charlie delta echo foxtrot golf hotel"
    val twins = Seq((1L, eight), (2L, eight)).toDF("doc_id", "text")
    val tt = Spans.trimDupSpansKeepFirst(twins, "doc_id", "text", spanLen = 8)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(tt == Map(1L -> eight, 2L -> ""), tt.toString)
  }

  test("tfidf stopword blocklist drops listed terms from scoring") {
    val d = Seq((1L, "beta gamma beta delta"), (2L, "epsilon zeta eta")).toDF("doc_id", "text")
    val terms = Keywords.tfidfTopK(d, "doc_id", "text", k = 10,
        stopwords = Seq("beta"))
      .select("term").collect().map(_.getString(0)).toSet
    assert(!terms.contains("beta"))
    assert(terms.contains("gamma"))
  }

  test("kmeans: two planted clusters converge to their means; reruns identical; empty clusters drop") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.1f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f, 0.1f)),
      (3L, Array(0.1f, 0.9f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    // stride = ceil(4/2) = 2 → init cids {0, 2}, one seed per cluster
    val out = Ann.kmeansTrain(vecs, "vec_id", "embedding", iters = 2, centroidTarget = 2)
      .orderBy("cid")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2)))
    assert(out.map(t => (t._1, t._2)).toSeq == Seq((0L, 2L), (2L, 2L)), out.mkString(","))
    // centroid 0 dim 0 = round-6 mean of 1.0f and 0.9f (decimal-exact:
    // (1.0000000000 + 0.8999999762) / 2 = 0.9499999881 → 0.95)
    assert(math.abs(out(0)._3.head - 0.95) < 1e-9, out(0)._3.toString)
    // deterministic end to end
    val again = Ann.kmeansTrain(vecs, "vec_id", "embedding", iters = 2, centroidTarget = 2)
      .orderBy("cid")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2)))
    assert(out.map(_._3.toList).toList == again.map(_._3.toList).toList)
    // identical seed vectors → every row ties → min cid wins all members
    // → the other cluster goes empty and drops out
    val same = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(1.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f)), (3L, Array(1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val one = Ann.kmeansTrain(same, "vec_id", "embedding", iters = 2, centroidTarget = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(one.toSeq == Seq((0L, 4L)), one.mkString(","))
  }

  test("ivf trained serve: kmeansTrain centroids feed ivfTopKTrained lists") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.1f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f, 0.1f)),
      (3L, Array(0.1f, 0.9f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val cents = Ann.kmeansTrain(vecs, "vec_id", "embedding", iters = 2, centroidTarget = 2)
    val queries = vecs.filter($"vec_id" === 0L)
      .select($"vec_id".as("query_id"), $"embedding")
    val corpus = vecs.select($"vec_id".as("neighbor_id"), $"embedding")
    // nprobe = 1: query 0 probes only its own trained list {0, 1} →
    // the single non-self neighbor is vector 1
    val out = Ann.ivfTopKTrained(queries, corpus, cents, k = 2, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    assert(out.toSeq == Seq((0L, 1L, 1)), out.mkString(","))
  }

  test("semantic dedup: min-id survives per within-cluster dup group; cross-cluster twins both keep") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),  // cluster A, representative
      (1L, Array(1.0f, 0.01f, 0.0f, 0.0f)), // near-twin of 0 → dropped
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),  // cluster B, representative
      (3L, Array(0.0f, 1.0f, 0.01f, 0.0f)), // near-twin of 2 → dropped
      (4L, Array(0.0f, -1.0f, 0.0f, 0.0f))  // B's far side: no dup
    ).toDF("vec_id", "embedding")
    val cents = Ann.kmeansTrain(vecs, "vec_id", "embedding", iters = 2, centroidTarget = 2)
    val out = Ann.semanticDedup(vecs, cents, threshold = 0.95)
      .orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.getBoolean(2)))
    assert(out.toSeq == Seq(0L -> true, 1L -> false, 2L -> true, 3L -> false, 4L -> true),
      out.mkString(","))
  }

  test("semantic dedup: oversize cluster passes through uncompared with the drop reported") {
    val vecs = (0L until 8L).map(i => (i, Array(1.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val cents = Ann.kmeansTrain(vecs, "vec_id", "embedding", iters = 1, centroidTarget = 1)
    val st = new CapStats
    val out = Ann.semanticDedup(vecs, cents, threshold = 0.5,
        maxCluster = 4, capStats = Some(st))
      .collect().map(r => (r.getLong(0), r.getBoolean(2)))
    assert(out.forall(_._2), out.mkString(","))   // nobody compared → all keep
    assert(st.droppedBuckets == 1L && st.droppedRows == 8L, st.toString)
  }

  test("zero-norm embedding ranks LAST with cosine -inf in brute-force AND IVF") {
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0.9f, 0.1f, 0f, 0f)),
      (2L, Array(0f, 1f, 0f, 0f)),
      (3L, Array(0f, 0f, 0f, 0f)), // zero-norm: clamped, never NaN
      (4L, Array(0.8f, 0.2f, 0f, 0f))).toDF("vec_id", "embedding")
    val q = vecs.filter($"vec_id" === 0L).select($"vec_id".as("query_id"), $"embedding")
    val c = vecs.select($"vec_id".as("neighbor_id"), $"embedding")
    def ranked(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
      df.orderBy("rank").collect()
        .map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine"))).toSeq
    val bf = ranked(Ann.bruteForceTopK(q, c, 4))
    // nprobe covers every centroid → IVF candidates = whole corpus = brute force
    val ivf = ranked(Ann.ivfTopK(q, c, 4, nprobe = 3))
    assert(bf == ivf)
    assert(bf.last._1 == 3L && bf.last._2 == Double.NegativeInfinity)
    assert(bf.forall(p => !p._2.isNaN))
  }

  test("IVF centroid budget stays fixed as the corpus grows") {
    // √n up to the cap: 100× more rows must NOT mean 100× more centroids.
    def centroids(n: Long) = math.ceil(
      n.toDouble / Ann.centroidStride(n)).toLong
    assert(centroids(10000L) <= 101)
    assert(centroids(1000000L) <= 1001)            // 100× rows → ~10× centroids (√n)
    assert(centroids(100000000000L) <= 65536)      // hard cap at 2^16
    assert(Ann.centroidStride(0L) == 1)
    assert(Ann.centroidStride(5L, target = 100) == 1) // target > n → every row
  }

  test("nearDupCosine: degenerate all-zero bucket is skew-capped, not quadratic") {
    // 200 identical vectors land in ONE bucket; maxBucket=50 must drop the
    // bucket entirely (bounded candidates), while distinct near-dup pairs
    // outside the hot bucket still surface.
    val hot = (0L until 200L).map(i => (i, Array.fill(8)(1f)))
    val pairVecs = Seq((1000L, Array(1f, 0f, 0f, 0f, 0f, 0f, 0f, 2f)),
      (1001L, Array(1f, 0f, 0f, 0f, 0f, 0f, 0f, 2.01f)))
    val df = (hot ++ pairVecs).toDF("vec_id", "embedding")
    val capped = Ann.nearDupCosine(df, "vec_id", "embedding",
      threshold = 0.9, bits = 6, dim = 8, maxBucket = 50)
    val pairs = capped.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!pairs.exists(p => p._1 < 200L))        // hot bucket dropped
    // the isolated near-dup pair survives IF it avoids the hot bucket;
    // at minimum the call completes with a bounded pair count
    assert(pairs.size <= 1)
  }

  test("bucket cap sizes via partial aggregation, not a window; 100x-cap bucket dropped") {
    // A count-over-window has no partial aggregation: the degenerate
    // bucket the cap exists FOR would land entirely in one task before it
    // could be dropped. The size computation must plan as a HashAggregate
    // with a partial_count (map-side combine makes the hot bucket nearly
    // free) and never a Window.
    val hot = (0L until 500L).map(i =>
      (i, "same exact text in every document of the hot bucket"))
    val df = (hot :+ (9000L, "an unrelated singleton document here"))
      .toDF("doc_id", "text")
    val sigs = Dedup.minhashSignaturesInline(df, "doc_id", "text", 16, 2)
    val banded = Dedup.lshBands(sigs, "doc_id", 4, 4)
    val cands = Dedup.candidatePairs(banded, "doc_id", maxBucket = 5)
    val plan = cands.queryExecution.sparkPlan.toString
    assert(plan.contains("partial_count"), plan.take(1000))
    assert(!plan.contains("Window"), "cap must not plan a window:\n" + plan.take(1000))
    assert(cands.count() == 0) // 500-row bucket at 100x the cap → dropped whole
  }

  test("contamination: planted prefix contained at 1.0; unrelated eval excluded") {
    val train = Seq(
      (1L, "alpha bravo charlie delta echo foxtrot golf hotel"),
      (2L, "totally different words appear in this training document")).toDF("doc_id", "text")
    val evalSet = Seq(
      (10L, "alpha bravo charlie delta"),     // prefix of train 1 → containment 1.0
      (11L, "unrelated eval question here")). // no shared 3-grams
      toDF("doc_id", "text")
    val got = Contamination.detect(train, evalSet, "doc_id", "text",
        threshold = 0.8, shingleN = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set((1L, 10L, 1.0)))
  }

  test("contamination: asymmetric — short eval inside long train, not vice versa") {
    // Jaccard between the pair is low (train has many extra shingles);
    // containment of the eval side is still 1.0 — the decontamination case.
    val train = Seq((1L, ("w" +: (1 to 40).map(i => s"t$i")).mkString(" ")))
      .toDF("doc_id", "text")
    val evalSet = Seq((10L, "t5 t6 t7 t8 t9")).toDF("doc_id", "text")
    val got = Contamination.detect(train, evalSet, "doc_id", "text", 0.99)
      .collect()
    assert(got.length == 1 && got(0).getDouble(2) == 1.0)
  }

  test("decontaminate cuts exactly the flagged docs; clean rows keep payload") {
    val train = Seq(
      (1L, "alpha bravo charlie delta echo foxtrot golf hotel", "p1"),
      (2L, "totally different words appear in this training document", "p2"))
      .toDF("doc_id", "text", "payload")
    val evalSet = Seq((10L, "alpha bravo charlie delta"))
      .toDF("doc_id", "text")
    val flags = Contamination.flag(train, evalSet, "doc_id", "text", 0.8)
      .orderBy("doc_id").collect()
    assert(flags.map(r => (r.getLong(0), r.getLong(1), r.getBoolean(3))).toSeq
      === Seq((1L, 1L, false), (2L, 0L, true)))
    assert(flags(0).getDouble(2) === 1.0 && flags(1).isNullAt(2))
    val kept = Contamination.decontaminate(train, evalSet, "doc_id", "text", 0.8)
      .collect()
    assert(kept.length === 1 && kept(0).getLong(0) === 2L
      && kept(0).getString(2) === "p2")
  }

  test("contamination: maxPostings cap drops only over-shared shingles") {
    // 'the quick brown' appears in every train doc (df 3 > cap 2) → its
    // contribution disappears; eval contained only via rarer shingles.
    val train = Seq(
      (1L, "the quick brown fox one"),
      (2L, "the quick brown fox two"),
      (3L, "the quick brown fox three")).toDF("doc_id", "text")
    val evalSet = Seq((10L, "the quick brown fox one")).toDF("doc_id", "text")
    val exact = Contamination.detect(train, evalSet, "doc_id", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert(exact(1L) == 1.0)              // full containment in its source
    val capped = Contamination.detect(train, evalSet, "doc_id", "text", 0.3,
        maxPostings = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    // 'the quick brown'/'quick brown fox' (df 3) capped away; only
    // 'brown fox one' (df 1) survives → containment 1/3 via train 1 only
    assert(capped.keySet == Set(1L) && capped(1L) == 1.0 / 3)
  }

  test("multimodal: stub features are fixed-dim, normalized, deterministic") {
    val d = Seq((1L, "hello world"), (2L, "")).toDF("doc_id", "text")
      .select($"doc_id", $"text".cast("binary").as("media"))
    val f = Multimodal.extractFeatures(d, "doc_id", "media")
      .orderBy("doc_id").collect()
    val feats = f(0).getSeq[Float](1)
    assert(feats.length == Multimodal.FeatureDim)
    assert(math.abs(feats.sum - 1.0) < 1e-5)
    assert(f(1).getSeq[Float](1).sum == 0.0f) // empty media → zero vector
  }

  test("multimodal: frame sampling shape") {
    val d = Seq((1L, "0123456789abcdef")).toDF("doc_id", "text")
      .select($"doc_id", $"text".cast("binary").as("media"))
    val frames = Multimodal.sampleFrames(d, "doc_id", "media", 4).collect()
    assert(frames.length == 4)
    assert(frames.map(_.getInt(1)).toSeq == Seq(0, 1, 2, 3))
  }

  test("multimodal: ImageIoDecoder decodes a real PNG to exact pixel features") {
    // id 9 → 3×5 checkerboard: colorA = (9, 63, 117), colorB = (27, 99, 153);
    // na = 2*3 + 1*2 = 8 of 15 cells. Features must equal the closed-form
    // means/histogram bit-for-bit (PNG is lossless; sums are exact ints).
    val f = ImageIoDecoder.features(graft.gates.PlantedMedia.checkerPng(9L))
    assert(f.length == ImageIoDecoder.FeatureDim)
    assert(f(0) == 3.0f && f(1) == 5.0f)
    val na = 8.0; val nb = 7.0; val n = 15.0
    assert(f(2) == ((na * 9 + nb * 27) / n).toFloat)
    assert(f(3) == ((na * 63 + nb * 99) / n).toFloat)
    assert(f(4) == ((na * 117 + nb * 153) / n).toFloat)
    // lumA = (9+63+117)/3 = 63 → bin 0; lumB = (27+99+153)/3 = 93 → bin 1
    assert(f(5) == (na / n).toFloat && f(6) == (nb / n).toFloat)
    assert(f(7) == 0.0f && f(8) == 0.0f)
  }

  test("multimodal: ImageIoDecoder null-object path and single-frame contract") {
    assert(ImageIoDecoder.features(Array[Byte](1, 2, 3)).forall(_ == 0.0f))
    assert(ImageIoDecoder.features(Array.empty[Byte]).forall(_ == 0.0f))
    assert(ImageIoDecoder.frames(Array[Byte](1, 2, 3), 4).isEmpty)
    // a TRUNCATED valid image (real magic + header, body cut off) is the
    // corrupt-blob shape that makes imageio readers throw — including
    // RuntimeExceptions, not just IOException; it must still yield the
    // zero null-object row, never a task failure
    val whole = graft.gates.PlantedMedia.checkerPng(9L)
    for (cut <- Seq(9, 20, 40, whole.length / 2)) {
      assert(ImageIoDecoder.features(whole.take(cut)).forall(_ == 0.0f), s"cut=$cut")
      assert(ImageIoDecoder.frames(whole.take(cut), 2).isEmpty, s"cut=$cut")
    }
    val png = graft.gates.PlantedMedia.checkerPng(3L)
    val fs = ImageIoDecoder.frames(png, 4).toSeq
    assert(fs.map(_._1) == Seq(0) && (fs.head._2 sameElements png))
  }

  test("multimodal: WavDecoder parses planted PCM to exact sample statistics") {
    // id 5 → n = 16 + 5 = 21 samples, s_i = (155 + 7i) % 65536 - 32768
    val f = WavDecoder.features(graft.gates.PlantedMedia.pcmWav(5L))
    assert(f.length == WavDecoder.FeatureDim)
    val n = 21
    val ss = (0 until n).map(i => ((5L * 31 + i * 7) % 65536 - 32768).toDouble)
    assert(f(0) == 1.0f && f(1) == 8000.0f && f(2) == 16.0f && f(3) == n.toFloat)
    assert(f(4) == (ss.sum / n).toFloat)
    assert(f(5) == math.sqrt(ss.map(x => x * x).sum / n).toFloat)
  }

  test("multimodal: WavDecoder frames are standalone decodable WAVs; junk → zeros") {
    val wav = graft.gates.PlantedMedia.pcmWav(9L) // 25 samples
    val fs = WavDecoder.frames(wav, 4).toSeq
    assert(fs.map(_._1) == Seq(0, 1, 2, 3))
    val f0 = WavDecoder.features(fs.head._2)
    assert(f0(0) == 1.0f && f0(3) == 6.0f) // 25/4 → 6 samples per frame
    assert(WavDecoder.features("not audio at all".getBytes("UTF-8")).forall(_ == 0.0f))
    assert(WavDecoder.frames(Array[Byte](1, 2), 3).isEmpty)
  }

  test("multimodal: real decoder flows through the extractFeatures seam") {
    val d = Seq((1L, graft.gates.PlantedMedia.checkerPng(1L)),
                (2L, Array[Byte](9, 9, 9))) // corrupt blob → zero features
      .toDF("doc_id", "media")
    val out = Multimodal.extractFeatures(d, "doc_id", "media", ImageIoDecoder)
      .orderBy("doc_id").collect()
    // id 1 → 2×2, colors A=(1,7,13) B=(3,11,17), na = 2
    val f1 = out(0).getSeq[Float](1)
    assert(f1.take(2) == Seq(2.0f, 2.0f))
    assert(f1(2) == ((2.0 * 1 + 2.0 * 3) / 4.0).toFloat)
    assert(out(1).getSeq[Float](1).forall(_ == 0.0f))
  }
}
