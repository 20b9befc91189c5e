package graft.llm

import graft.SparkSpec
import graft.operators.Sharding
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  // ---- Privacy ---------------------------------------------------------

  test("Privacy counts and redacts emails, IPv4s and phones in order") {
    val df = Seq(
      (1L, "mail a.b+c@ex-corp.io or x@y.org call 555-010-1234 from 10.1.0.7 end"),
      (2L, "no pii here"),
      (3L, "ip only 192.168.0.1")).toDF("id", "text")
    val r = df.select($"id",
        Privacy.countEmails($"text").as("e"),
        Privacy.countPhones($"text").as("p"),
        Privacy.countIpv4($"text").as("i"),
        Privacy.hasPii($"text").as("h"),
        Privacy.redact($"text").as("red"))
      .orderBy("id").collect()
    assert(r(0).getInt(1) == 2 && r(0).getInt(2) == 1 && r(0).getInt(3) == 1)
    assert(r(0).getBoolean(4))
    assert(r(0).getString(5) ==
      "mail [EMAIL] or [EMAIL] call [PHONE] from [IP] end")
    assert(r(1).getInt(1) == 0 && !r(1).getBoolean(4) &&
      r(1).getString(5) == "no pii here")
    assert(r(2).getInt(3) == 1 && r(2).getString(5) == "ip only [IP]")
  }

  // ---- Repetition ------------------------------------------------------

  test("Repetition flags looping text and passes varied text") {
    val looping = Seq.fill(20)("buy now").mkString(" ")   // "buy now buy now ..."
    val varied = (1 to 40).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, looping), (2L, varied), (3L, "single")).toDF("id", "text")
    val r = Repetition.profile(df, "id", "text").orderBy("id").collect()
    // looping: 39 bigrams, "buy now" appears 20×, "now buy" 19× → top frac 20/39
    assert(r(0).getAs[Long]("n_bigrams") == 39L)
    assert(r(0).getAs[Long]("top_bigram_cnt") == 20L)
    assert(r(0).getAs[Boolean]("repetitive"))
    assert(r(1).getAs[Double]("uniq_word_frac") == 1.0)
    assert(!r(1).getAs[Boolean]("repetitive"))
    // 1-word doc: zero bigram profile, never flagged
    assert(r(2).getAs[Long]("n_bigrams") == 0L &&
      r(2).getAs[Double]("top_bigram_frac") == 0.0 &&
      !r(2).getAs[Boolean]("repetitive"))
  }

  // ---- Chunking --------------------------------------------------------

  test("Chunking windows with overlap and covers every token") {
    val words = (1 to 150).map(i => s"t$i")
    val df = Seq((7L, words.mkString(" ")), (8L, "tiny doc")).toDF("id", "text")
    val r = Chunking.chunk(df, "id", "text", window = 64, stride = 48)
      .orderBy("id", "chunk_idx").collect()
    val doc7 = r.filter(_.getLong(0) == 7L)
    // 150 tokens, W=64 S=48 → 1 + ceil(86/48) = 3 chunks
    assert(doc7.length == 3)
    assert(doc7.map(_.getAs[Int]("n_tokens")).toSeq == Seq(64, 64, 54))
    // chunk 1 starts at token 49 (overlap of 16 with chunk 0)
    assert(doc7(1).getAs[String]("chunk_text").startsWith("t49 "))
    assert(doc7(2).getAs[String]("chunk_text").endsWith(" t150"))
    val doc8 = r.filter(_.getLong(0) == 8L)
    assert(doc8.length == 1 && doc8(0).getAs[Int]("n_tokens") == 2)
  }

  test("Chunking rejects stride > window") {
    intercept[IllegalArgumentException] {
      Chunking.chunk(Seq((1L, "a")).toDF("id", "text"), "id", "text", 8, 9)
    }
  }

  // ---- Sharding --------------------------------------------------------

  test("Sharding is deterministic, in-range, and partitions the input") {
    val df = spark.range(0, 1000).select($"id", lit(5L).as("w"))
    val prof = Sharding.profile(df, "id", $"w", 16).collect()
    assert(prof.map(_.getAs[Long]("n_rows")).sum == 1000L)
    assert(prof.map(_.getAs[Long]("weight")).sum == 5000L)
    assert(prof.forall(r => (0 until 16).contains(r.getAs[Int]("shard"))))
    // deterministic: a second run assigns identically
    val again = Sharding.profile(df, "id", $"w", 16).collect()
    assert(prof.map(r => r.getAs[Int]("shard") -> r.getAs[Long]("n_rows")).toMap ==
      again.map(r => r.getAs[Int]("shard") -> r.getAs[Long]("n_rows")).toMap)
    // no empty shards at 1000 rows / 16 shards (hash sanity, not a law)
    assert(prof.length == 16)
  }

  test("Sharding.writeSharded round-trips with shard directories") {
    val dir = java.nio.file.Files.createTempDirectory("graft_shards").toString
    val df = spark.range(0, 200).select($"id", concat(lit("d"), $"id").as("text"))
    Sharding.writeSharded(df, "id", dir, 8)
    val back = spark.read.parquet(dir)
    assert(back.count() == 200L)
    assert(back.select("shard").distinct().count() == 8L)
    // membership matches the assignment function
    val expected = df.select($"id", Sharding.shardId($"id", 8).as("shard"))
    assert(back.select($"id", $"shard".cast("int").as("shard"))
      .except(expected).count() == 0L)
  }

  // ---- Packing ---------------------------------------------------------

  test("Packing lays documents end to end and cuts exact blocks") {
    // one shard so offsets are easy to reason about
    val df = Seq(
      (1L, (1 to 10).map(_ => "a").mkString(" ")),   // 10 tokens, offset 0
      (2L, (1 to 20).map(_ => "b").mkString(" ")),   // 20 tokens, offset 10
      (3L, (1 to 7).map(_ => "c").mkString(" "))     // 7 tokens, offset 30
    ).toDF("id", "text")
    val r = Packing.blocks(df, "id", "text", blockSize = 16, nShards = 1)
      .orderBy("block_id", "id").collect()
    // stream = 37 tokens → blocks 0..2; doc 2 spans blocks 0 and 1
    assert(r.map(x => (x.getAs[Long]("block_id"), x.getLong(2),
      x.getAs[Long]("tokens_in_block"))).toSeq == Seq(
      (0L, 1L, 10L), (0L, 2L, 6L), (1L, 2L, 14L), (1L, 3L, 2L), (2L, 3L, 5L)))
    // conservation: every token lands in exactly one block
    assert(r.map(_.getAs[Long]("tokens_in_block")).sum == 37L)
    // full blocks carry exactly blockSize tokens
    val perBlock = r.groupBy(_.getAs[Long]("block_id"))
      .view.mapValues(_.map(_.getAs[Long]("tokens_in_block")).sum).toMap
    assert(perBlock == Map(0L -> 16L, 1L -> 16L, 2L -> 5L))
  }

  test("Packing conserves tokens across shards at scale") {
    val docs = spark.range(0, 300)
      .select($"id", concat_ws(" ",
        (0 until 13).map(i => concat(lit("w"), ($"id" * 13 + i))): _*).as("text"))
    val r = Packing.blocks(docs, "id", "text", blockSize = 64, nShards = 4)
    assert(r.agg(sum($"tokens_in_block")).head().getLong(0) == 300L * 13)
    // per-shard blocks are dense from 0 with only the last one short
    val bad = r.groupBy("shard", "block_id")
      .agg(sum($"tokens_in_block").as("tok"))
      .withColumn("max_b", max($"block_id").over(
        org.apache.spark.sql.expressions.Window.partitionBy($"shard")))
      .filter($"tok" =!= 64 && $"block_id" =!= $"max_b")
    assert(bad.count() == 0)
  }

  // ---- boilerplate removal ---------------------------------------------

  test("removeFrequentLines strips shared lines, keeps order, drops emptied docs") {
    val boiler = "subscribe now"
    val df = Seq(
      (1L, s"alpha one\n$boiler\nalpha two"),
      (2L, s"$boiler\nbeta solo"),
      (3L, s"gamma text\n$boiler"),
      (4L, boiler)).toDF("id", "text")  // doc 4 is ONLY boilerplate
    val r = Boilerplate.removeFrequentLines(df, "id", "text", minDocs = 3)
      .orderBy("id").collect()
    assert(r.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L)) // doc 4 dropped
    assert(r(0).getAs[String]("clean_text") == "alpha one\nalpha two")
    assert(r(0).getAs[Long]("n_lines_kept") == 2L)
    assert(r(1).getAs[String]("clean_text") == "beta solo")
    assert(r(2).getAs[String]("clean_text") == "gamma text")
    // below the threshold nothing is removed
    val all = Boilerplate.removeFrequentLines(df, "id", "text", minDocs = 5)
      .orderBy("id").collect()
    assert(all.map(_.getAs[Long]("n_lines_kept")).sum == 8L)
  }

  // ---- incremental dedup -----------------------------------------------

  test("nearDupAudit: perfect pairs audit at recall 1, precision always 1") {
    import spark.implicits._
    def text(seed: Int) = { val rr = new scala.util.Random(seed)
      (1 to 60).map(_ => "w" + rr.nextInt(500)).mkString(" ") }
    // two identical pairs (jaccard 1 → every band collides) + noise
    val docs = (Seq((1L, text(1)), (2L, text(1)), (3L, text(2)), (4L, text(2))) ++
      (5 to 30).map(i => (i.toLong, text(i)))).toDF("doc_id", "text")
    val out = Dedup.nearDupAudit(docs, "doc_id", "text",
      threshold = 0.9, shingleN = 2).head()
    assert(out.getAs[Long]("n_exact") == 2L)
    assert(out.getAs[Double]("recall") == 1.0)
    assert(out.getAs[Double]("precision") == 1.0)
  }

  test("exactDedupIncremental drops batch-internal and corpus-known duplicates") {
    val existing = Seq((1L, "known doc one"), (2L, "known doc two")).toDF("id", "text")
    val incoming = Seq(
      (10L, "fresh doc"),
      (11L, "Known  Doc ONE"),     // normalizes to an existing digest
      (12L, "fresh doc"),          // batch-internal dup of 10
      (13L, "another fresh")).toDF("id", "text")
    val out = Dedup.exactDedupIncremental(incoming, "id", "text",
      Dedup.digests(existing, "text")).orderBy("id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(10L, 13L))
  }

  test("bloom: no false negatives; absent keys overwhelmingly miss") {
    val members = (1 to 2000).map(i => s"digest_$i").toDF("d")
    val bloom = graft.operators.Bloom.build(members, col("d"), 2000, 0.01)
    // every member must hit (bloom guarantee: zero false negatives)
    assert(members.filter(!graft.operators.Bloom.mightContain(bloom, col("d")))
      .count() == 0L)
    // absent keys: false-positive rate near fpp, not near 1
    val absent = (1 to 2000).map(i => s"other_$i").toDF("d")
    val fp = absent.filter(graft.operators.Bloom.mightContain(bloom, col("d")))
      .count()
    assert(fp < 100, s"false-positive count $fp way above the 1% target")
  }

  test("bloom-tier incremental dedup ≡ plain incremental dedup") {
    val existing = (1 to 300).map(i => (i.toLong, s"corpus doc $i"))
      .toDF("id", "text")
    val incoming = ((301 to 600).map(i => (i.toLong, s"fresh doc $i")) ++
      (1 to 300 by 3).map(i => (1000L + i, s"Corpus  DOC $i")) ++ // known dups
      (301 to 600 by 5).map(i => (2000L + i, s"fresh doc $i")))   // batch dups
      .toDF("id", "text")
    val digests = Dedup.digests(existing, "text")
    val bloom = graft.operators.Bloom.build(digests, col("digest"), 300, 0.01)
    val plain = Dedup.exactDedupIncremental(incoming, "id", "text", digests)
      .select("id").as[Long].collect().sorted.toSeq
    val tiered = Dedup.exactDedupIncrementalBloom(
        incoming, "id", "text", digests, bloom)
      .select("id").as[Long].collect().sorted.toSeq
    assert(tiered == plain)
    assert(plain.nonEmpty && !plain.exists(_ > 1000L))
  }

  // ---- CorpusStats -----------------------------------------------------

  test("overlapSketch: exact at small scale, sane on identical/disjoint sets") {
    val a = (1 to 200).map(i => (i.toLong, s"doc number $i")).toDF("id", "text")
    val b = (101 to 300).map(i => (i.toLong, s"doc number $i")).toDF("id", "text")
    // k >= |union| → the sketch IS the full set → estimate is exact
    val r = CorpusStats.overlapSketch(a, b, "text", k = 1000).head()
    assert(r.getLong(0) == 300L && r.getLong(1) == 100L)
    assert(math.abs(r.getDouble(2) - 100.0 / 300.0) < 1e-12)
    // identical corpora → 1.0; disjoint → 0.0 (small k, still exact here)
    assert(CorpusStats.overlapSketch(a, a, "text", k = 64).head().getDouble(2) == 1.0)
    val c = (1000 to 1100).map(i => (i.toLong, s"other $i")).toDF("id", "text")
    assert(CorpusStats.overlapSketch(a, c, "text", k = 64).head().getDouble(2) == 0.0)
    // estimator property: k = 64 sample of a 50%-overlap pair lands near 1/3
    val est = CorpusStats.overlapSketch(a, b, "text", k = 64).head().getDouble(2)
    assert(est > 0.15 && est < 0.55, s"KMV estimate $est implausibly far from 1/3")
  }

  test("cardinalitySketch: exact below k, plausible and partition-invariant above") {
    val docs = (1 to 2000).map(i => (i.toLong, s"unique doc $i")).toDF("id", "text")
    // distinct < k → the sketch is the set → exact
    val small = CorpusStats.cardinalitySketch(docs.limit(100), "text", k = 256).head()
    assert(small.getLong(0) == 100L && small.getLong(1) == 100L &&
      small.getDouble(2) == 100.0)
    // estimator path: 2000 distinct at k=256 → within ±25% (RMSE ~ 1/16)
    val est = CorpusStats.cardinalitySketch(docs, "text", k = 256).head()
    assert(est.getLong(0) == 256L && est.getLong(1) == 2000L)
    assert(est.getDouble(2) > 1500 && est.getDouble(2) < 2500, est.toString)
    // deterministic across partitioning (the bottom-k is a total order)
    val re = CorpusStats.cardinalitySketch(docs.repartition(7), "text", k = 256).head()
    assert(re.getDouble(2) == est.getDouble(2))
    // duplicated texts collapse before sketching
    val dup = docs.unionByName(docs)
    assert(CorpusStats.cardinalitySketch(dup.limit(100), "text", k = 256)
      .head().getLong(1) <= 100L)
  }

  test("kmv synopsis merge is lossless: merged slices equal the whole corpus") {
    val docs = (1 to 2000).map(i => (i.toLong, s"unique doc $i")).toDF("id", "text")
    val whole = CorpusStats.kmvEstimate(
      CorpusStats.kmvSynopsis(docs, "text", k = 128), 128).head()
    // three arbitrary overlapping slices covering the corpus
    val syns = Seq(
      docs.filter($"id" % 3 === 0), docs.filter($"id" % 3 === 1),
      docs.filter($"id" % 3 === 2), docs.limit(500) /* overlap */ )
      .map(s => CorpusStats.kmvSynopsis(s, "text", k = 128))
    val merged = CorpusStats.kmvEstimate(
      CorpusStats.kmvMerge(syns, 128), 128).head()
    assert(merged.getLong(0) == whole.getLong(0))
    assert(merged.getDouble(1) == whole.getDouble(1))
  }

  test("buildVocabulary: min-df and integer max-df band, df-desc order") {
    val docs = Seq(
      (1L, "apple banana common"), (2L, "apple cherry common"),
      (3L, "apple banana common"), (4L, "typo common")).toDF("id", "text")
    // common: df 4 = 100% > 75% max -> out; typo: df 1 < minDf 2 -> out
    val v = graft.llm.TextStats.buildVocabulary(docs, "id", "text",
        minDf = 2, maxDfPct = 75, topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(v.toSeq == Seq(("apple", 3L), ("banana", 2L)))
  }

  test("uniformByHash: deterministic n-row draw, partition-invariant") {
    val df = (1 to 500).map(i => (i.toLong, s"v$i")).toDF("id", "payload")
    val a = graft.operators.Sampling.uniformByHash(df, "id", 20)
      .select("id").as[Long].collect().sorted.toSeq
    assert(a.length == 20 && a.distinct.length == 20)
    val b = graft.operators.Sampling.uniformByHash(df.repartition(9), "id", 20)
      .select("id").as[Long].collect().sorted.toSeq
    assert(a == b, "draw changed under repartitioning")
    // n >= |df| returns everything
    assert(graft.operators.Sampling.uniformByHash(df, "id", 1000).count() == 500L)
  }

  test("topNgrams counts occurrences globally with deterministic ties") {
    val df = Seq(
      (1L, "red fox red fox jumps"),
      (2L, "red fox sleeps"),
      (3L, "one")).toDF("id", "text")
    val r = CorpusStats.topNgrams(df, "text", n = 2, k = 3).collect()
    // "red fox" ×3 (twice in doc 1, once in doc 2); then count-1 grams
    // tie-broken alphabetically; 1-word doc contributes its whole text
    assert(r(0).getString(0) == "red fox" && r(0).getLong(1) == 3L)
    assert(r(1).getString(0) == "fox jumps" && r(1).getLong(1) == 1L)
    assert(r(2).getString(0) == "fox red")
    val all = CorpusStats.topNgrams(df, "text", n = 2, k = 100).collect()
    assert(all.map(_.getString(0)).contains("one"))
  }

  test("composition aggregates docs, tokens and an exact quality mean") {
    val df = Seq(
      (1L, "en", "the cat and the dog sat on the mat for a while"),
      (2L, "en", "the quick brown fox jumps over it for the win"),
      (3L, "fr", "le chat est dans la maison pres de la porte")).toDF("id", "lang", "text")
    val r = CorpusStats.composition(df, "lang", "text").orderBy("lang").collect()
    assert(r(0).getString(0) == "en" && r(0).getAs[Long]("n_docs") == 2L &&
      r(0).getAs[Long]("n_tokens") == 22L)
    assert(r(1).getString(0) == "fr" && r(1).getAs[Long]("n_tokens") == 10L)
    // both en docs hit stopwords and clean ratios → quality 1.0 each
    assert(r(0).getAs[Double]("avg_quality") == 1.0)
  }

  test("datasheet adds char volume and the exact-dup fraction to composition") {
    val df = Seq(
      (1L, "en", "alpha beta gamma"),
      (2L, "en", "  ALPHA   beta GAMMA "), // normalizes to doc 1's text
      (3L, "en", "something else entirely"),
      (4L, "fr", "unique french text")).toDF("id", "lang", "text")
    val r = CorpusStats.datasheet(df, "lang", "text").orderBy("lang").collect()
    val en = r(0); val fr = r(1)
    // en: 3 docs, 2 distinct normalized digests -> dup_frac 1/3
    assert(en.getAs[Long]("n_docs") == 3L)
    assert(en.getAs[Double]("dup_frac") == 1.0 / 3.0)
    assert(en.getAs[Long]("n_chars") ==
      ("alpha beta gamma".length + "  ALPHA   beta GAMMA ".length
        + "something else entirely".length).toLong)
    assert(fr.getAs[Double]("dup_frac") == 0.0)
  }

  // ---- Embeddings ------------------------------------------------------

  test("quantizeInt8 maps the max magnitude to ±127 and round-trips") {
    val df = Seq(
      (1L, Seq(0.5f, -1.0f, 0.25f)),
      (2L, Seq(0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val r = Embeddings.quantizeInt8(df, "embedding")
      .withColumn("back", Embeddings.dequantize($"qvec", $"scale"))
      .orderBy("vec_id").collect()
    assert(r(0).getAs[scala.collection.Seq[Int]]("qvec").toSeq == Seq(64, -127, 32))
    assert(r(0).getAs[Double]("scale") == 127.0)
    // zero vector: scale 0, zero codes, zero dequant — no NaN path
    assert(r(1).getAs[Double]("scale") == 0.0)
    assert(r(1).getAs[scala.collection.Seq[Int]]("qvec").toSeq == Seq(0, 0, 0))
    assert(r(1).getAs[scala.collection.Seq[Double]]("back").toSeq == Seq(0.0, 0.0, 0.0))
    // round-trip error bounded by half a quantization step
    val orig = Seq(0.5, -1.0, 0.25)
    val back = r(0).getAs[scala.collection.Seq[Double]]("back").toSeq
    orig.zip(back).foreach { case (o, b) => assert(math.abs(o - b) <= 0.5 / 127.0) }
  }

  test("quantized codes never exceed |127| on random-ish vectors") {
    val df = spark.range(0, 200).select($"id".as("vec_id"),
      transform(sequence(lit(1), lit(16)),
        i => sin($"id" * i).cast("float")).as("embedding"))
    val q = Embeddings.quantizeInt8(df, "embedding")
      .select(explode($"qvec").as("q"))
      .agg(min($"q"), max($"q")).head()
    assert(q.getInt(0) >= -127 && q.getInt(1) <= 127)
  }

  // ---- Keywords --------------------------------------------------------

  test("Keywords surfaces document-distinctive terms; every-doc terms are dropped") {
    val df = Seq(
      (1L, "shared shared words kernel kernel kernel"),
      (2L, "shared shared words photon"),
      (3L, "shared filler filler filler filler")).toDF("id", "text")
    val r = Keywords.tfidfTopK(df, "id", "text", k = 2)
      .orderBy("id", "rank").collect()
    // "shared" appears in every doc (df = N = 3) → zero information, dropped
    assert(!r.map(_.getAs[String]("term")).contains("shared"))
    // doc 1: kernel tf=3 df=1 → score 9; words tf=1 df=2 → 1.5
    val d1 = r.filter(_.getLong(0) == 1L)
    assert(d1(0).getAs[String]("term") == "kernel" &&
      d1(0).getAs[Double]("score") == 9.0)
    assert(d1(1).getAs[String]("term") == "words" &&
      d1(1).getAs[Double]("score") == 1.5)
    val d2 = r.filter(_.getLong(0) == 2L)
    assert(d2(0).getAs[String]("term") == "photon" &&
      d2(0).getAs[Double]("score") == 3.0)
    // every doc yields at most k rows
    assert(r.groupBy(_.getLong(0)).forall(_._2.length <= 2))
    // passing totalDocs skips the count job and gives identical output
    val r2 = Keywords.tfidfTopK(df, "id", "text", k = 2, totalDocs = Some(3L))
      .orderBy("id", "rank").collect()
    assert(r.map(_.toSeq).toSeq == r2.map(_.toSeq).toSeq)
  }
  test("bigramLm: conditional probabilities sum to 1 per context") {
    val docs = Seq(
      (1L, "the cat sat"), (2L, "the cat ran"), (3L, "the dog sat"))
      .toDF("doc_id", "text")
    val out = CorpusStats.bigramLm(docs, "text").collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // "the" is followed by cat(2) and dog(1)
    assert(out(("the", "cat")) == ((2L, 3L, 2.0 / 3.0)))
    assert(out(("the", "dog")) == ((1L, 3L, 1.0 / 3.0)))
    // "cat" by sat(1) ran(1)
    assert(out(("cat", "sat"))._3 == 0.5)
    // final tokens open no context
    assert(!out.keySet.exists(_._1 == "sat"))
    // per-context probabilities sum to 1
    out.keySet.map(_._1).foreach { w1 =>
      val tot = out.collect { case ((a, _), (_, _, p)) if a == w1 => p }.sum
      assert(math.abs(tot - 1.0) < 1e-12, s"context $w1")
    }
  }

  test("bigramLm: minPair prunes pairs but keeps full context totals") {
    val docs = Seq((1L, "a b a b a c")).toDF("doc_id", "text")
    val out = CorpusStats.bigramLm(docs, "text", minPair = 2L).collect()
    // pairs: a->b x2, b->a x2, a->c x1 ; a-c pruned but n_ctx(a) stays 3
    val ab = out.find(r => r.getString(0) == "a" && r.getString(1) == "b").get
    assert(ab.getLong(2) == 2L && ab.getLong(3) == 3L)
    assert(!out.exists(r => r.getString(0) == "a" && r.getString(1) == "c"))
  }

  test("epochOrder: complete per-stream ranks, epoch-distinct permutations, deterministic") {
    val rows = (0L until 200L).flatMap(id => Seq((id, 0), (id, 1)))
      .toDF("id", "epoch")
    val out = Sharding.epochOrder(rows, "id", "epoch", nShards = 4)
    val got = out.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    // each (shard, epoch) stream is ranked 1..n with no gaps
    got.groupBy(t => (t._3, t._2)).foreach { case (_, g) =>
      assert(g.map(_._4).sorted.toSeq == (1 to g.length).toSeq)
    }
    // a document's shard never changes across epochs (worker affinity)
    got.groupBy(_._1).foreach { case (_, g) =>
      assert(g.map(_._3).distinct.length == 1)
    }
    // the two epochs draw DIFFERENT permutations of the same shard
    val byEpoch = got.groupBy(_._2).map { case (e, g) =>
      e -> g.filter(_._3 == g.head._3).sortBy(_._4).map(_._1).toSeq
    }
    assert(byEpoch(0) != byEpoch(1))
    // rerun under a different partitioning is identical
    val again = Sharding.epochOrder(rows.repartition(7), "id", "epoch",
        nShards = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    assert(got.sortBy(t => (t._1, t._2)).toSeq ==
      again.sortBy(t => (t._1, t._2)).toSeq)
  }

  test("curriculumOrder: tier-monotonic streams, within-tier epoch shuffle, descending mode") {
    val rows = (0L until 180L).flatMap(id => Seq((id, 0), (id, 1)))
      .map { case (id, e) => (id, e, (id % 3).toInt) }
      .toDF("id", "epoch", "tier")
    val out = Sharding.curriculumOrder(rows, "id", "epoch", "tier",
      nShards = 4)
    val got = out.select("id", "epoch", "tier", "shard", "seq").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getInt(4)))
    // within every (shard, epoch) stream: ranks complete, tier ascending
    got.groupBy(t => (t._4, t._2)).foreach { case (_, g) =>
      val bySeq = g.sortBy(_._5)
      assert(bySeq.map(_._5).toSeq == (1 to g.length).toSeq)
      assert(bySeq.map(_._3).toSeq == bySeq.map(_._3).sorted.toSeq)
    }
    // within one tier of one shard, the two epochs draw different orders
    val tier0 = got.filter(t => t._3 == 0 && t._4 == got.head._4)
    val e0 = tier0.filter(_._2 == 0).sortBy(_._5).map(_._1).toSeq
    val e1 = tier0.filter(_._2 == 1).sortBy(_._5).map(_._1).toSeq
    assert(e0.toSet == e1.toSet && e0 != e1)
    // descending mode reverses the tier progression
    val desc = Sharding.curriculumOrder(rows, "id", "epoch", "tier",
        nShards = 4, ascending = false)
      .select("epoch", "tier", "shard", "seq").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    desc.groupBy(t => (t._3, t._1)).foreach { case (_, g) =>
      val tiers = g.sortBy(_._4).map(_._2).toSeq
      assert(tiers == tiers.sorted.reverse)
    }
  }
}
