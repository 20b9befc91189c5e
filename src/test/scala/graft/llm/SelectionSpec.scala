package graft.llm

import graft.SparkSpec
import graft.operators.Selection
import org.apache.spark.sql.functions._

/** Unit coverage for the round-6 curation additions: token-budget
  * selection, unigram LM scoring, keep-best survivors, and the exact
  * quantile profile. (The DuckDB-oracle gates verify these end-to-end;
  * these tests pin edge cases and semantics the gate fixture can't.)
  */
class SelectionSpec extends SparkSpec {
  import spark.implicits._

  // ---- Selection.byTokenBudget ----------------------------------------

  private def docsDf = Seq(
    (1L, 100L, "a"), (2L, 50L, "b"), (3L, 50L, "c"),
    (4L, 30L, "d"), (5L, 20L, "e")).toDF("id", "toks", "payload")

  test("token budget keeps the exact rank prefix, inclusive cum sums") {
    // rank by toks desc, id asc: 1(100) 2(150) 3(200) 4(230) 5(250)
    val out = Selection.byTokenBudget(docsDf,
      Seq(col("toks").desc, col("id").asc), "toks", budget = 200L)
      .select("id", "cum_tokens").as[(Long, Long)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((1L, 100L), (2L, 150L), (3L, 200L)))
  }

  test("token budget drops the row that would cross the line (whole docs only)") {
    val out = Selection.byTokenBudget(docsDf,
      Seq(col("toks").desc, col("id").asc), "toks", budget = 199L)
      .select("id").as[Long].collect().sorted
    assert(out.toSeq == Seq(1L, 2L)) // doc 3 would reach 200 > 199
  }

  test("token budget: zero budget → empty; huge budget → everything") {
    val none = Selection.byTokenBudget(docsDf,
      Seq(col("toks").desc, col("id").asc), "toks", 0L)
    assert(none.count() == 0)
    val all = Selection.byTokenBudget(docsDf,
      Seq(col("toks").desc, col("id").asc), "toks", 1000000L)
    assert(all.count() == 5)
    assert(all.agg(max(col("cum_tokens"))).head().getLong(0) == 250L)
  }

  test("token budget: null token counts contribute zero, row kept") {
    val df = Seq((1L, Some(10L)), (2L, None), (3L, Some(5L)))
      .toDF("id", "toks")
    val out = Selection.byTokenBudget(df,
      Seq(col("id").asc), "toks", budget = 15L)
      .select("id", "cum_tokens").as[(Long, Long)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((1L, 10L), (2L, 10L), (3L, 15L)))
  }

  test("token budget matches the single-task window form on a larger input") {
    val df = (1 to 5000).map(i => (i.toLong, (i * 2654435761L % 97) + 1))
      .toDF("id", "toks")
    val budget = 120000L
    val expected = df
      .withColumn("cum_tokens", sum(col("toks")).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("toks").desc, col("id").asc)))
      .filter(col("cum_tokens") <= budget)
      .select("id", "cum_tokens").as[(Long, Long)].collect().sortBy(_._1).toSeq
    val got = Selection.byTokenBudget(df.repartition(13),
      Seq(col("toks").desc, col("id").asc), "toks", budget)
      .select("id", "cum_tokens").as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == expected)
    assert(got.nonEmpty && got.size < 5000) // the cut line is interior
  }

  // ---- LmScore --------------------------------------------------------

  test("lm score: empty and null docs get n_tokens 0 and an 'empty' band") {
    val df = Seq((1L, "the the the"), (2L, ""), (3L, null: String),
      (4L, "rare unique words")).toDF("id", "text")
    val out = LmScore.band(LmScore.score(df, "id", "text"), lo = 2.0, hi = 4.0)
      .select("id", "n_tokens", "lm_band")
      .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(out(1) == ((2L, 0L, "empty")))
    assert(out(2) == ((3L, 0L, "empty")))
    // N=6; doc 1: tokens 'the'×3, c=3 → score 6/3 = 2 → mid (not < 2)
    assert(out(0)._3 == "mid")
    // doc 4: three hapaxes → score 6 → rare
    assert(out(3)._3 == "rare")
  }

  test("bigram backoff: formulaic text outscores shuffled text; edges null") {
    // same BAG of words, different order: MITF can't tell them apart,
    // the bigram score must
    val docs = Seq(
      (1L, "the quick fox " * 10),             // formulaic: pairs repeat
      (2L, "quick the quick fox the fox the quick fox " +
           "fox the quick"),                    // scrambled bag
      (3L, "solo"), (4L, ""), (5L, null: String))
      .toDF("id", "text")
    val out = LmScore.bigramBackoffScore(docs, "id", "text")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) Double.NaN else r.getDouble(2)))
    assert(out(0)._3 > out(1)._3, s"${out(0)} vs ${out(1)}")
    // fewer than two tokens → no bigrams, null score
    assert(out(2)._2 == 0L && out(2)._3.isNaN)
    assert(out(3)._2 == 0L && out(4)._2 == 0L)
    // scores live in (0, 1]
    assert(out.take(2).forall(t => t._3 > 0.0 && t._3 <= 1.0))
  }

  test("bigram backoff: minPair pruning sends pruned pairs to backoff, score drops") {
    val docs = Seq((1L, "alpha beta " * 5), (2L, "alpha beta gamma delta"))
      .toDF("id", "text")
    val full = LmScore.bigramBackoffScore(docs, "id", "text", minPair = 1L)
      .filter($"id" === 2L).select("sb_score").as[Double].head()
    val pruned = LmScore.bigramBackoffScore(docs, "id", "text", minPair = 3L)
      .filter($"id" === 2L).select("sb_score").as[Double].head()
    // doc 2's rare pairs (beta gamma, gamma delta) survive at minPair 1
    // but fall back at minPair 3 — backoff mass is strictly smaller
    assert(pruned < full)
  }

  test("interpolated bigram: separation on the planted-language corpus") {
    // 20 fluent docs of one planted language, one scrambled-bag doc of
    // the SAME words, one cross-language gibberish doc. Interpolation
    // must rank fluent > scrambled > cross-language (the smoothed-LM
    // separation a CCNet-style filter keys on), with every score in
    // (0, 1] and sub-2-token docs null.
    val fluent = (1L to 20L).map(i =>
      (i, "the quick fox jumps over the lazy dog and the quick fox sleeps"))
    val scrambled = Seq((21L,
      "fox the dog quick lazy the jumps and sleeps fox quick the over"))
    val cross = Seq((22L,
      "dog xylophone the banana over quantum fox helix jumps"))
    val docs = (fluent ++ scrambled ++ cross ++
        Seq((23L, "solo"), (24L, "")))
      .toDF("id", "text")
    // minPair = 3: a hapax context makes its one observed continuation
    // "fully predictable" (P = 1/1) under the self-trained model, which
    // would flatter gibberish — pruning sends those to the unigram tier
    val out = LmScore.bigramInterpolatedScore(docs, "id", "text",
        minPair = 3L)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) Double.NaN else r.getDouble(2)))
    val fluentScore = out(0)._3
    val scrambledScore = out(20)._3
    val crossScore = out(21)._3
    assert(fluentScore > scrambledScore,
      s"fluent $fluentScore !> scrambled $scrambledScore")
    assert(scrambledScore > crossScore,
      s"scrambled $scrambledScore !> cross $crossScore")
    assert(out.take(22).forall(t => t._3 > 0.0 && t._3 <= 1.0))
    assert(out(22)._2 == 0L && out(22)._3.isNaN)
    assert(out(23)._2 == 0L)
    // bands over the interpolated column: thresholds straddling the
    // measured scores put each regime in its own band
    val banded = LmScore.bandOn(
        LmScore.bigramInterpolatedScore(docs, "id", "text", minPair = 3L),
        "ilm_score", lo = crossScore + 1e-12, hi = scrambledScore + 1e-12,
        "ilm_band")
      .select("id", "ilm_band").as[(Long, String)].collect().toMap
    assert(banded(1L) === "rare")      // most predictable
    assert(banded(21L) === "mid")
    assert(banded(22L) === "common")
    assert(banded(24L) === "empty")
  }

  test("interpolated bigram: smoothing beats backoff on seen-pair mass") {
    // on a corpus where every pair is seen, backoff's matched path is
    // the pure bigram MLE while interpolation mixes in the unigram —
    // the two must DIFFER (smoothing is not a no-op) and interpolation
    // must equal 0.5*(backoff matched) + 0.5*(unigram mass) per doc
    val docs = Seq((1L, "a b a b a b")).toDF("id", "text")
    val sb = LmScore.bigramBackoffScore(docs, "id", "text")
      .select("sb_score").as[Double].head()
    val il = LmScore.bigramInterpolatedScore(docs, "id", "text")
      .select("ilm_score").as[Double].head()
    assert(math.abs(sb - 1.0) < 1e-12) // every pair fully predictable
    // unigram mass: positions (b,a,b,a,b) wait — pairs are (a,b)x3,(b,a)x2
    // mean unigram P(w2) over 5 positions = (3*(3/6) + 2*(3/6))/5 = 0.5
    assert(math.abs(il - (0.5 * 1.0 + 0.5 * 0.5)) < 1e-9, s"il=$il")
  }

  test("interpolated trigram: closed form and pair-plausible salad detection") {
    // closed form on "a b a b a b": 4 trigram positions, every order
    // fully predictable except the unigram tier (P = 1/2):
    // 0.5*1 + 0.25*1 + 0.25*0.5 = 0.875
    val one = Seq((1L, "a b a b a b")).toDF("id", "text")
    val s1 = LmScore.trigramInterpolatedScore(one, "id", "text")
      .select("tlm_score").as[Double].head()
    assert(math.abs(s1 - 0.875) < 1e-9, s"s1=$s1")
    // the trigram signal: word salad whose PAIRS are all corpus-common
    // but whose TRIPLES never co-occur — a bigram model is fooled, the
    // trigram tier is not. Corpus: "a b x" and "x b c" each 10x; the
    // salad "a b c" has only common pairs (a,b), (b,c) yet a novel
    // triple.
    val docs = ((1L to 10L).map(i => (i, "a b x")) ++
      (11L to 20L).map(i => (i, "x b c")) ++
      Seq((21L, "a b x"), (22L, "a b c"))).toDF("id", "text")
    val tri = LmScore.trigramInterpolatedScore(docs, "id", "text",
        minTri = 2L, minPair = 2L)
      .filter($"id" >= 21L).orderBy("id")
      .select("tlm_score").as[Double].collect()
    assert(tri(0) > tri(1),
      s"fluent ${tri(0)} !> pair-plausible salad ${tri(1)}")
    // sub-3-token docs have no trigram positions: null score
    val short = Seq((1L, "just two")).toDF("id", "text")
    val r = LmScore.trigramInterpolatedScore(short, "id", "text")
      .select("n_trigrams", "tlm_score").collect().head
    assert(r.getLong(0) === 0L && r.isNullAt(1))
  }

  test("kneser-ney bigram: closed form, discount property, null under 2 tokens") {
    // "a b a b a b": pairs (a,b)x3, (b,a)x2. Model: ctx(a)=3 n1p(a)=1,
    // ctx(b)=2 n1p(b)=1; continuation counts t(a)=t(b)=1; T=2 pairs.
    //   (a,b): matched (4*3-3)/(4*3) = 0.75,  cont (3*1)/(4*3)*(1/2) = 0.125
    //   (b,a): matched (4*2-3)/(4*2) = 0.625, cont (3*1)/(4*2)*(1/2) = 0.1875
    // doc mean = (3*0.875 + 2*0.8125)/5 = 0.85
    val one = Seq((1L, "a b a b a b")).toDF("id", "text")
    val kn = LmScore.knBigramScore(one, "id", "text")
      .select("kn_score").as[Double].head()
    assert(math.abs(kn - 0.85) < 1e-9, s"kn=$kn")
    // discounting strictly reserves mass: on a fully-seen corpus the
    // backoff score is pure MLE (= 1.0 here); KN must land BELOW it
    val sb = LmScore.bigramBackoffScore(one, "id", "text")
      .select("sb_score").as[Double].head()
    assert(kn < sb)
    // sub-2-token and empty docs: 0 bigrams, null score
    val r = LmScore.knBigramScore(
        Seq((1L, "solo"), (2L, "")).toDF("id", "text"), "id", "text")
      .orderBy("id").select("n_bigrams", "kn_score").collect()
    assert(r.forall(row => row.getLong(0) == 0L && row.isNullAt(1)))
  }

  test("kneser-ney bigram: continuation beats unigram on a Francisco corpus") {
    // the KN signature: "francisco" is FREQUENT (high unigram) but
    // follows only "san" (continuation count 1). A doc pairing it with
    // a novel context must score lower under KN than under JM
    // interpolation, which redistributes by raw frequency. Corpus:
    // "san francisco" x50 (unigram mass 51/114 for francisco) + a
    // diverse "the X" tail (T = 8 distinct pairs; francisco keeps
    // continuation count 2 of 8 once the probe lands).
    //   KN probe contribution: (3/4)*(2/8)        = 0.1875
    //   JM probe contribution: (1/2)*(51/114)     = 0.2237
    val base = (1L to 50L).map(i => (i, "san francisco")) ++
      Seq((51L, "the cat"), (52L, "the dog"), (53L, "the fox"),
        (54L, "the owl"), (55L, "the hen"), (56L, "the ant"))
    val probe = Seq((60L, "the francisco")) // novel pair, frequent w2
    val docs = (base ++ probe).toDF("id", "text")
    val knP = LmScore.knBigramScore(docs, "id", "text", minPair = 2L)
      .filter($"id" === 60L).select("kn_score").as[Double].head()
    val jmP = LmScore.bigramInterpolatedScore(docs, "id", "text",
        minPair = 2L)
      .filter($"id" === 60L).select("ilm_score").as[Double].head()
    // JM's unigram tier credits francisco's 12 raw occurrences; KN's
    // continuation tier sees ONE distinct context — strictly harsher
    assert(knP < jmP, s"kn=$knP !< jm=$jmP")
    // scores stay in (0, 1]
    val all = LmScore.knBigramScore(docs, "id", "text", minPair = 2L)
      .select("kn_score").as[Double].collect()
    assert(all.forall(s => s > 0.0 && s <= 1.0))
  }

  test("kneser-ney bigram: separation on the planted-language corpus") {
    val fluent = (1L to 20L).map(i =>
      (i, "the quick fox jumps over the lazy dog and the quick fox sleeps"))
    val scrambled = Seq((21L,
      "fox the dog quick lazy the jumps and sleeps fox quick the over"))
    val cross = Seq((22L,
      "dog xylophone the banana over quantum fox helix jumps"))
    val docs = (fluent ++ scrambled ++ cross).toDF("id", "text")
    val out = LmScore.knBigramScore(docs, "id", "text", minPair = 3L)
      .orderBy("id").select("kn_score").as[Double].collect()
    // KN separates fluent text from BOTH noise regimes by matched mass.
    // (Unlike JM, it does NOT pin the scrambled-vs-cross ordering on a
    // corpus this small: each probe's novel pairs enlarge N1+(··) and
    // their own words' continuation counts, so the two noise docs'
    // continuation masses are self-licensed artifacts, not signal.)
    assert(out(0) > out(20), s"fluent ${out(0)} !> scrambled ${out(20)}")
    assert(out(0) > out(21), s"fluent ${out(0)} !> cross ${out(21)}")
    assert(out(0) > 5.0 * math.max(out(20), out(21)),
      s"fluent ${out(0)} not >> noise ${out(20)} / ${out(21)}")
  }

  test("modified-KN trigram: separation on the planted corpus, measured vs JM") {
    // fluent docs share one sentence; the salad doc's PAIRS are all
    // plausible (every adjacent pair occurs in the fluent corpus) but
    // its TRIPLES never co-occur — the case a trigram model exists for
    val fluent = (1L to 20L).map(i =>
      (i, "the quick fox jumps over the lazy dog and the quick fox sleeps"))
    val salad = Seq((21L,
      "the quick fox sleeps and the lazy dog jumps over the quick fox"))
    val docs = (fluent ++ salad).toDF("id", "text")
    val kn3 = LmScore.knNgramScore(docs, "id", "text", order = 3)
      .orderBy("id").select("kn_score").as[Double].collect()
    assert(kn3(0) > kn3(20), s"fluent ${kn3(0)} !> salad ${kn3(20)}")
    // measured separation vs the JM trigram on the same corpus: the
    // discounted matched tier + continuation backoff punishes the
    // never-seen triples harder than the fixed-λ mix does
    val jm = LmScore.trigramInterpolatedScore(docs, "id", "text")
      .orderBy("id").select("tlm_score").as[Double].collect()
    assert(kn3(0) / kn3(20) > jm(0) / jm(20),
      s"kn3 separation ${kn3(0) / kn3(20)} !> jm ${jm(0) / jm(20)}")
    // scores stay in (0, 1]
    assert(kn3.forall(s => s > 0.0 && s <= 1.0))
  }

  test("modified-KN trigram: degenerate count-of-counts fall back to D=3/4") {
    assert(LmScore.mknDiscounts(0L, 5L, 3L, 1L) == ((0.75, 0.75, 0.75)))
    assert(LmScore.mknDiscounts(5L, 0L, 3L, 1L) == ((0.75, 0.75, 0.75)))
    assert(LmScore.mknDiscounts(5L, 3L, 0L, 1L) == ((0.75, 0.75, 0.75)))
    // n4 = 0 is NOT degenerate (D3 = 3 − 0)
    val (d1, d2, d3) = LmScore.mknDiscounts(4L, 2L, 1L, 0L)
    assert(d1 > 0 && d2 > 0 && d3 == 3.0)
    // end to end on a corpus whose trigram types are all singletons
    // (n2 = n3 = 0 → fallback): scores stay finite and positive
    val docs = Seq((1L, "a b c d e"), (2L, "f g h i j")).toDF("id", "text")
    val out = LmScore.knNgramScore(docs, "id", "text", order = 3)
      .select("kn_score").as[Double].collect()
    assert(out.forall(s => !s.isNaN && !s.isInfinite && s > 0.0),
      out.mkString(","))
  }

  test("modified-KN trigram: null below three tokens; minTri prunes matched mass") {
    val r = LmScore.knNgramScore(
        Seq((1L, "just two"), (2L, "")).toDF("id", "text"), "id", "text",
        order = 3)
      .orderBy("id").select("n_grams", "kn_score").collect()
    assert(r.forall(row => row.getLong(0) == 0L && row.isNullAt(1)))
    // pruning the matched tier can only lower a doc's score (its
    // backoff mass survives, its matched mass does not)
    val docs = ((1L to 5L).map(i => (i, "one two three four")) ++
      Seq((9L, "one two three four"))).toDF("id", "text")
    val full = LmScore.knNgramScore(docs, "id", "text", order = 3)
      .filter($"id" === 9L).select("kn_score").as[Double].head()
    val pruned = LmScore.knNgramScore(docs, "id", "text", order = 3,
        minTop = 100L)
      .filter($"id" === 9L).select("kn_score").as[Double].head()
    assert(pruned < full, s"$pruned !< $full")
  }

  test("order-n modified KN: the 5-gram rung separates 4-gram-novel text") {
    // fluent docs repeat one sentence; the probe shares every TRIGRAM
    // with the corpus (sliding windows of the same sentence) but its
    // 5-gram positions are novel — only an order-5 model sees that
    val sent = "the quick fox jumps over the lazy dog again and again today"
    val fluent = (1L to 20L).map(i => (i, sent))
    // rotate the sentence: trigrams mostly survive, 5-grams break
    val probe = Seq((21L,
      "lazy dog again and again today the quick fox jumps over the"))
    val docs = (fluent ++ probe).toDF("id", "text")
    val kn5 = LmScore.knNgramScore(docs, "id", "text", order = 5)
      .orderBy("id").select("kn_score").as[Double].collect()
    assert(kn5(0) > kn5(20), s"fluent ${kn5(0)} !> rotated ${kn5(20)}")
    assert(kn5.forall(s => s > 0.0 && s <= 1.0))
    // below-order docs: 0 positions, null
    val short = LmScore.knNgramScore(
        Seq((1L, "one two three four")).toDF("id", "text"), "id", "text",
        order = 5)
      .select("n_grams", "kn_score").collect().head
    assert(short.getLong(0) == 0L && short.isNullAt(1))
  }

  test("order-n modified KN: external reference model (the CCNet setting)") {
    val ref = (1L to 20L).map(i =>
      (i, "the quick fox jumps over the lazy dog")).toDF("id", "text")
    val target = Seq(
      (101L, "the quick fox jumps over the lazy dog"), // fully in-model
      (102L, "zcrawl gibberish tokens never seen anywhere")) // fully OOV
      .toDF("id", "text")
    val out = LmScore.knNgramScore(target, "id", "text", order = 3,
        model = Some(ref))
      .orderBy("id").select("kn_score").as[Double].collect()
    // in-model text scores high; fully-unseen text gets only the
    // hapax-floored unigram continuation, at most 1/|T2| per position
    // (1/6 on this tiny reference) — well below the matched mass
    assert(out(0) > 5.0 * out(1), s"in-model ${out(0)} !>> oov ${out(1)}")
    assert(out(1) <= 1.0 / 6.0 + 1e-12, s"oov ${out(1)} above the 1/|T2| ceiling")
    assert(out.forall(s => s > 0.0 && s <= 1.0))
    // passing the corpus itself as the model reproduces self-corpus
    // scoring exactly (same counts, same arithmetic)
    val docs = (1L to 10L).map(i =>
      (i, "one two three one two four")).toDF("id", "text")
    val a = LmScore.knNgramScore(docs, "id", "text", order = 3)
      .orderBy("id").select("kn_score").as[Double].collect().toSeq
    val b = LmScore.knNgramScore(docs, "id", "text", order = 3,
        model = Some(docs))
      .orderBy("id").select("kn_score").as[Double].collect().toSeq
    assert(a == b)
  }

  test("lm score: scoring against an external model treats OOV as hapax") {
    val ref = Seq((1L, "common common common common")).toDF("id", "text")
    val model = LmScore.unigramCounts(ref, "text") // common → c=4, N=4
    val df = Seq((10L, "common novel")).toDF("id", "text")
    val out = LmScore.score(df, "id", "text", model = Some(model),
      totalTokens = Some(4L))
      .select("lm_score").as[Double].head()
    // (N/c_common + N/c_oov)/2 = (4/4 + 4/1)/2 = 2.5
    assert(math.abs(out - 2.5) < 1e-9)
  }

  test("lm score: hapax-pruned model is bitwise-lossless vs the full model") {
    val docs = (1 to 300).map(i =>
      (i.toLong, s"shared word${i % 7} unique_token_$i")).toDF("id", "text")
    val n = 900L // 3 tokens × 300 docs
    val full = LmScore.unigramCounts(docs, "text", pruneHapax = false)
    val pruned = LmScore.unigramCounts(docs, "text")
    assert(pruned.count() < full.count()) // the hapaxes actually left
    val a = LmScore.score(docs, "id", "text", Some(full), Some(n))
      .select("id", "lm_score").as[(Long, Double)].collect().sortBy(_._1).toSeq
    val b = LmScore.score(docs, "id", "text", Some(pruned), Some(n))
      .select("id", "lm_score").as[(Long, Double)].collect().sortBy(_._1).toSeq
    val c = LmScore.score(docs, "id", "text") // self-train = pruned + tf-side N
      .select("id", "lm_score").as[(Long, Double)].collect().sortBy(_._1).toSeq
    assert(a == b && b == c)
  }

  test("lm score is invariant to partitioning (decimal-sum order independence)") {
    val docs = (1 to 400).map(i =>
      (i.toLong, s"word${i % 17} word${i % 5} word${i % 29} tail$i")).toDF("id", "text")
    val a = LmScore.score(docs.repartition(1), "id", "text")
      .select("id", "lm_score").as[(Long, Double)].collect().sortBy(_._1).toSeq
    val b = LmScore.score(docs.repartition(37), "id", "text")
      .select("id", "lm_score").as[(Long, Double)].collect().sortBy(_._1).toSeq
    assert(a == b) // bitwise, not approximate
  }

  // ---- Dedup.keepBest -------------------------------------------------

  test("keep-best survivor is the max-score member, ties to min id") {
    val docs = Seq(
      (1L, 10L), (2L, 99L), (3L, 99L),   // cluster {1,2,3}: best = 2 (tie 2/3)
      (4L, 5L),                          // singleton
      (5L, 1L), (6L, 7L)                 // cluster {5,6}: best = 6
    ).toDF("doc_id", "score")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 5L), (6L, 5L))
      .toDF("doc_id", "canonical_id")
    val out = Dedup.keepBest(docs, "doc_id", "score", clusters)
      .select("doc_id", "canonical_id", "cluster_size")
      .as[(Long, Long, Long)].collect().sortBy(_._2).toSeq
    assert(out == Seq((2L, 1L, 3L), (4L, 4L, 1L), (6L, 5L, 2L)))
  }

  // ---- Diff.byDigest --------------------------------------------------

  test("snapshot diff classifies added/removed/changed/unchanged") {
    val old = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "text")
    val now = Seq((2L, "b"), (3L, "C2"), (4L, "d")).toDF("id", "text")
    val out = graft.operators.Diff.byDigest(old, now, "id", Seq("text"))
      .select("id", "status").as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(out == Seq((1L, "removed"), (2L, "unchanged"),
      (3L, "changed"), (4L, "added")))
    val sum = graft.operators.Diff.summary(
        graft.operators.Diff.byDigest(old, now, "id", Seq("text")))
      .as[(String, Long)].collect().toMap
    assert(sum == Map("removed" -> 1L, "unchanged" -> 1L,
      "changed" -> 1L, "added" -> 1L))
  }

  test("diff digest is injective across null/empty and boundary shifts") {
    // ("a", null) vs ("a", "") and ("ab","c") vs ("a","bc") must differ
    val old = Seq((1L, Some("a"), None: Option[String]),
      (2L, Some("ab"), Some("c"))).toDF("id", "x", "y")
    val now = Seq((1L, Some("a"), Some("")),
      (2L, Some("a"), Some("bc"))).toDF("id", "x", "y")
    val out = graft.operators.Diff.byDigest(old, now, "id", Seq("x", "y"))
      .select("id", "status").as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(out == Seq((1L, "changed"), (2L, "changed")))
  }

  // ---- CorpusStats.quantileProfile ------------------------------------

  test("quantile sketch: approx values within rank-error bounds of exact") {
    // 10k skewed values in one group, a small second group
    val df = ((1 to 10000).map(i => ("big", (i.toLong * i) % 7919)) ++
      (1 to 50).map(i => ("small", i.toLong))).toDF("g", "v")
    val out = CorpusStats.quantileSketch(df, "g", "v",
        percentiles = Seq(0.5, 0.9), accuracy = 10000)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val (n, dist, p50, p90) = out("big")
    assert(n == 10000)
    // HLL++ at rsd 0.05: true distinct of i² mod 7919 is ~3960
    val exactDistinct = (1 to 10000).map(i => (i.toLong * i) % 7919).distinct.size
    assert(math.abs(dist - exactDistinct).toDouble / exactDistinct < 0.15)
    // rank error ≤ n/accuracy = 1 row at this accuracy → compare vs exact ranks
    val sortedV = (1 to 10000).map(i => (i.toLong * i) % 7919).sorted
    assert(math.abs(sortedV.indexWhere(_ >= p50) - 5000) <= 20)
    assert(math.abs(sortedV.indexWhere(_ >= p90) - 9000) <= 20)
    val (n2, _, sp50, _) = out("small")
    assert(n2 == 50 && sp50 >= 20 && sp50 <= 30)
  }

  test("quantile profile: exact interpolated quartiles per group") {
    val df = Seq(("a", 1L), ("a", 2L), ("a", 3L), ("a", 4L), // n=4
      ("b", 10L), ("b", 20L), ("b", 30L)).toDF("g", "v")     // n=3
    val out = CorpusStats.quantileProfile(df, "g", "v")
      .select("g", "n", "min_v", "p25", "p50", "p75", "max_v")
      .as[(String, Long, Long, Double, Double, Double, Long)]
      .collect().sortBy(_._1).toSeq
    // group a: rank p*(n-1): p25 → 0.75 → 1 + 0.75*(2-1) = 1.75
    assert(out(0) == (("a", 4L, 1L, 1.75, 2.5, 3.25, 4L)))
    assert(out(1) == (("b", 3L, 10L, 15.0, 20.0, 25.0, 30L)))
  }
}
