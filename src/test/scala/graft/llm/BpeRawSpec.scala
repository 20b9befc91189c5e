package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** RAW byte-level BPE regime: the lookahead-free GPT-2-style
  * pre-tokenizer (a lossless partition of any string), the
  * normalization-free encode whose decode round-trip is the IDENTITY
  * on arbitrary UTF-8 (the property `Regime.Bytes` only offers modulo
  * its normalizer), raw training, the reserved-special vocab
  * prefix, and the encode-memo cap's pure-cache law.
  */
class BpeRawSpec extends SparkSpec {
  import spark.implicits._

  private val nasty = Seq(
    "Hello  World",                       // case + double space
    "don't STOP it's 2024!!",             // contractions, caps, digits
    "xin chào Hà Nội ộ 🙂🙂 abc",          // cased Vietnamese + astral
    "a\tb\nc  d",                         // tab, newline, space run
    " leading and trailing ",
    "CamelCase123abc...x",
    "",
    "Ω≈ç√∫ µ∂ƒ")

  test("preTokenize is a lossless partition on the pinned regimes") {
    // pieces pinned against the identical RE2/DuckDB extraction (the
    // bpe_pretok gate re-pins this cross-engine over the corpus)
    assert(Bpe.preTokenize("Hello  World").toSeq ===
      Seq("Hello", "  ", "World"))
    assert(Bpe.preTokenize("don't STOP it's 2024!!").toSeq ===
      Seq("don", "'t", " STOP", " it", "'s", " 2024", "!!"))
    assert(Bpe.preTokenize("a\tb\nc  d").toSeq ===
      Seq("a", "\t", "b", "\n", "c", "  ", "d"))
    assert(Bpe.preTokenize("CamelCase123abc...x").toSeq ===
      Seq("CamelCase", "123", "abc", "...", "x"))
    assert(Bpe.preTokenize("").toSeq === Seq.empty[String])
    nasty.foreach { s =>
      assert(Bpe.preTokenize(s).mkString === s, s"not a partition: $s")
    }
  }

  test("fuzz: preTokenize partitions 500 random unicode strings") {
    // whitespace-heavy code-point mix: the partition law must hold on
    // runs, boundaries, and astral pairs alike
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val cp = Gen.frequency(
      (4, Gen.choose(0x20, 0x7e)),
      (3, Gen.oneOf(0x20, 0x09, 0x0a, 0x0d, 0x0c)),   // whitespace runs
      (2, Gen.choose(0xa0, 0x2ff)),
      (2, Gen.choose(0x1e00, 0x1eff)),
      (1, Gen.choose(0x4e00, 0x4fff)),
      (1, Gen.choose(0x1f300, 0x1f6ff)))
    val strGen = Gen.listOf(cp).map(_.flatMap(Character.toChars(_).toSeq).mkString)
    (1 to 500).foreach { i =>
      val s = strGen.pureApply(Gen.Parameters.default, Seed(i.toLong))
      val pieces = Bpe.preTokenize(s)
      assert(pieces.mkString === s, s"seed $i")
      assert(pieces.forall(_.nonEmpty), s"seed $i")
    }
  }

  test("preTokenizeGpt2 restores the trailing-space split on the pinned regimes") {
    assert(Bpe.preTokenizeGpt2("Hello  World").toSeq ===
      Seq("Hello", " ", " World"))
    assert(Bpe.preTokenizeGpt2("a\tb\nc   d").toSeq ===
      Seq("a", "\t", "b", "\n", "c", "  ", " d"))
    assert(Bpe.preTokenizeGpt2(" The   Table ").toSeq ===
      Seq(" The", "  ", " Table", " "))
    // the donated space RESHAPES downstream matches: a contraction
    // branch that fired run-less ('ll then ama) must be re-tokenized
    // as punctuation + whole word
    assert(Bpe.preTokenize("  'llama").toSeq === Seq("  ", "'ll", "ama"))
    assert(Bpe.preTokenizeGpt2("  'llama").toSeq ===
      Seq(" ", " '", "llama"))
    // single space already attaches; trailing run stays one piece
    assert(Bpe.preTokenizeGpt2("a b").toSeq === Seq("a", " b"))
    assert(Bpe.preTokenizeGpt2("ab   ").toSeq === Seq("ab", "   "))
    assert(Bpe.preTokenizeGpt2("").toSeq === Seq.empty[String])
    // non-space whitespace never attaches (` ?` matches only a space):
    // the donated newline stands alone, exactly as GPT-2 splits it
    assert(Bpe.preTokenizeGpt2("a\n\nb").toSeq === Seq("a", "\n", "\n", "b"))
  }

  test("fuzz: preTokenizeGpt2 == the literal GPT-2 lookahead pattern") {
    // the true Radford et al. 2019 pattern with its `\s+(?!\S)` branch,
    // runnable under Java (the oracle side cannot run it — RE2 — which
    // is why the segment construction exists); whitespace spelled with
    // the same explicit class as PreTokPattern
    val gpt2 = java.util.regex.Pattern.compile(
      "'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+" +
        "| ?[^ \\t\\n\\x0B\\f\\r\\p{L}\\p{N}]+" +
        "|[ \\t\\n\\x0B\\f\\r]+(?![^ \\t\\n\\x0B\\f\\r])" +
        "|[ \\t\\n\\x0B\\f\\r]+")
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val cp = Gen.frequency(
      (4, Gen.choose(0x20, 0x7e)),
      (4, Gen.oneOf(0x20, 0x09, 0x0a, 0x0d, 0x0c, 0x0b)), // ws runs + VT
      (2, Gen.choose(0xa0, 0x2ff)),
      (1, Gen.choose(0x1e00, 0x1eff)),
      (1, Gen.choose(0x1f300, 0x1f6ff)))
    val strGen = Gen.listOf(cp).map(_.flatMap(Character.toChars(_).toSeq).mkString)
    (1 to 500).foreach { i =>
      val s = strGen.pureApply(Gen.Parameters.default, Seed(7000L + i))
      val m = gpt2.matcher(s)
      val want = scala.collection.mutable.ArrayBuffer.empty[String]
      while (m.find()) want += m.group()
      val got = Bpe.preTokenizeGpt2(s)
      assert(got.toSeq === want.toSeq, s"seed $i input=${s.map(_.toInt)}")
      assert(got.mkString === s, s"seed $i not a partition")
      assert(got.forall(_.nonEmpty), s"seed $i")
    }
  }

  test("encodeBytesRaw(gpt2Ws)→decodeBytes is still the identity") {
    val merges = Array(
      (Bpe.byteSyms("t"), Bpe.byteSyms("h")),
      (Bpe.byteSym(' ').toString, Bpe.byteSym(' ').toString),
      (Bpe.byteSyms("e"), Bpe.byteSyms("r")))
    val docs = nasty.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val rt = Bpe.decodeBytes(
        Bpe.encodeWithMergesFast(docs, "doc_id", "text", merges,
          regime = Bpe.Regime.Raw(gpt2Ws = true)),
        "doc_id")
      .orderBy("doc_id").as[(Long, String)].collect()
    rt.foreach { case (id, s) => assert(s === nasty(id.toInt), s"doc $id") }
  }

  test("encodeBytesRaw→decodeBytes is the IDENTITY (no normalization)") {
    val oSyms = Bpe.byteSyms("ộ"); val smile = Bpe.byteSyms("🙂")
    val merges = Array(
      (Bpe.byteSyms("t"), Bpe.byteSyms("h")),
      (Bpe.byteSyms("th"), Bpe.byteSyms("e")),
      (Bpe.byteSyms("Ġ"), Bpe.byteSyms("t")),  // wrong on purpose: no-op
      (Bpe.byteSym(' ').toString, Bpe.byteSyms("t")),
      (oSyms.substring(0, 1), oSyms.substring(1, 2)),
      (smile.substring(0, 1), smile.substring(1, 2)))
    val docs = nasty.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val rt = Bpe.decodeBytes(
        Bpe.encodeWithMergesFast(docs, "doc_id", "text", merges,
          regime = Bpe.Regime.Raw()), "doc_id")
      .orderBy("doc_id").as[(Long, String)].collect()
    rt.foreach { case (id, s) =>
      assert(s === nasty(id.toInt), s"doc $id")  // EXACT, not normalized
    }
  }

  test("fuzz: raw round-trip identity over 200 random unicode strings") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val merges = Array(
      (Bpe.byteSyms("t"), Bpe.byteSyms("h")),
      (Bpe.byteSym(' ').toString, Bpe.byteSyms("t")),
      (Bpe.byteSyms("e"), Bpe.byteSyms("r")))
    val cp = Gen.frequency(
      (4, Gen.choose(0x20, 0x7e)),
      (3, Gen.oneOf(0x20, 0x09, 0x0a)),
      (2, Gen.choose(0xa0, 0x2ff)),
      (1, Gen.choose(0x1f300, 0x1f6ff)))
    val strGen = Gen.listOf(cp).map(_.flatMap(Character.toChars(_).toSeq).mkString)
    val samples = (1 to 200).map(i =>
      (i.toLong, strGen.pureApply(Gen.Parameters.default, Seed(1000L + i))))
    val docs = samples.toDF("doc_id", "text")
    val rt = Bpe.decodeBytes(
        Bpe.encodeWithMergesFast(docs, "doc_id", "text", merges,
          regime = Bpe.Regime.Raw()), "doc_id")
      .as[(Long, String)].collect().toMap
    samples.foreach { case (id, s) => assert(rt(id) === s, s"doc $id") }
  }

  test("raw mode preserves case: 'The' and 'the' encode differently") {
    val merges = Array((Bpe.byteSyms("t"), Bpe.byteSyms("h")))
    val docs = Seq((1L, "The the")).toDF("doc_id", "text")
    val toks = Bpe.encodeWithMergesFast(docs, "doc_id", "text", merges,
      regime = Bpe.Regime.Raw())
      .select("tokens").as[Seq[String]].collect().head
    // "The": (t,h) cannot fire on "Th"; " the": Ġ+th merges
    assert(toks === Seq("T", "h", "e", "Ġ", "th", "e"))
  }

  test("trainBytesRaw learns cased merges over preTokenize pieces") {
    val docs = Seq(
      (1L, "The Theme The Theme"),
      (2L, "The THE The the")).toDF("doc_id", "text")
    val merges = Bpe.mergesOf(Bpe.train(docs, "text", numMerges = 3,
      regime = Bpe.Regime.Raw()))
    assert(merges.length === 3)
    // the hot word piece is " The" (ĠThe): uppercase T survives raw
    assert(merges.exists { case (l, r) => (l + r).contains("T") })
    // deterministic
    val again = Bpe.mergesOf(Bpe.train(docs, "text", numMerges = 3,
      regime = Bpe.Regime.Raw()))
    assert(merges.toSeq === again.toSeq)
  }

  test("vocabBytes specials pin ids 0..k-1; byte ids shift; lookup threads") {
    val merges = Array((Bpe.byteSyms("t"), Bpe.byteSyms("h")))
    val specials = Seq("<|bos|>", "<|eos|>", "<|pad|>")
    val v = Bpe.vocabBytes(spark, merges, specials)
      .orderBy("token_id").as[(Int, String)].collect()
    assert(v.length === 3 + 256 + 1)
    assert(v(0) === ((0, "<|bos|>")))
    assert(v(1) === ((1, "<|eos|>")))
    assert(v(2) === ((2, "<|pad|>")))
    (0 until 256).foreach(b =>
      assert(v(3 + b) === ((3 + b, Bpe.byteSym(b).toString))))
    assert(v(259) === ((259, "th")))
    // raw id encode under the shifted vocab: all content ids >= 3
    val docs = Seq((1L, "th ộ")).toDF("doc_id", "text")
    val ids = Bpe.encodeIds(docs, "doc_id", "text", merges,
        Bpe.vocabBytes(spark, merges, specials), regime = Bpe.Regime.Raw())
      .select("token_ids").as[Seq[Int]].collect().head
    assert(ids.forall(_ >= 3))
    assert(ids.head === 259)  // "th" is the first token
  }

  test("vocabBytes validates the specials list instead of aliasing ids") {
    // merge output equal to a special: silently first-winning would
    // emit the special's id for ordinary content (special-token
    // injection into trainer id streams) — must fail loudly
    val merges = Array((Bpe.byteSyms("a"), Bpe.byteSyms("b")))
    intercept[IllegalArgumentException] {
      Bpe.vocabBytes(spark, merges, Seq("ab"))
    }
    // duplicate specials would silently shift every later id
    intercept[IllegalArgumentException] {
      Bpe.vocabBytes(spark, Array.empty, Seq("<|eos|>", "<|eos|>"))
    }
    // a single-char special could collide with a byte symbol and shift
    // the whole byte block
    intercept[IllegalArgumentException] {
      Bpe.vocabBytes(spark, Array.empty, Seq("x"))
    }
    // a valid list still pins ids 0..k-1 with bytes shifted after
    val v = Bpe.vocabBytes(spark, merges, Seq("<|eos|>"))
      .orderBy("token_id").as[(Int, String)].collect()
    assert(v.length === 1 + 256 + 1)
    assert(v(0) === ((0, "<|eos|>")))
    assert(v(257) === ((257, "ab")))
  }

  test("merges.txt / vocab.json interchange round-trips the model") {
    val tmp = java.nio.file.Files.createTempDirectory("bpe_interchange")
    try {
      val docs = Seq((1L, "The Theme tàu 🙂 The tàu"),
        (2L, "the   theme isn't")).toDF("doc_id", "text")
      val merges = Bpe.mergesOf(Bpe.train(docs, "text", 5,
        regime = Bpe.Regime.Raw()))
      val mPath = tmp.resolve("merges.txt")
      java.nio.file.Files.writeString(mPath, Bpe.renderMerges(merges))
      // mergesOf ∘ loadMerges ∘ renderMerges = identity (multi-byte
      // symbols, Ġ boundaries, rank order = line order)
      assert(Bpe.mergesOf(Bpe.loadMerges(spark, mPath.toString)).toSeq ===
        merges.toSeq)
      // header + blank lines skipped; malformed lines and
      // unrepresentable symbols fail loudly
      assert(Bpe.parseMerges("#version: 0.2\nX y\n\nth e").toSeq ===
        Seq(("X", "y"), ("th", "e")))
      intercept[IllegalArgumentException](Bpe.parseMerges("a b c"))
      intercept[IllegalArgumentException](
        Bpe.renderMerges(Array(("a b", "x"))))
      // vocab.json: specials + all 256 byte symbols (incl. '"' and
      // '\' — the JSON-escaping regime) + merge outputs
      val v = Bpe.vocabBytes(spark, merges, Seq("<|bos|>", "<|eos|>"))
      val vPath = tmp.resolve("vocab.json")
      java.nio.file.Files.writeString(vPath, Bpe.renderVocab(v))
      val got = Bpe.loadVocab(spark, vPath.toString)
        .orderBy("token_id").as[(Int, String)].collect().toSeq
      val want = v.orderBy("token_id").as[(Int, String)].collect().toSeq
      assert(got === want)
    } finally graft.storage.TableStore.deleteRecursively(tmp)
  }

  test("memo cap: output unchanged with distinct-piece volume > MemoCap") {
    // one partition, > MemoCap distinct pieces: the memo clears mid-
    // stream; tokens must equal the direct kernel computation
    val merges = Array((Bpe.byteSyms("w"), Bpe.byteSyms("1")))
    val idx = new Bpe.MergeIndex(merges)
    val n = Bpe.MemoCap + 5000
    val text = (0 until n).map(i => "w" + (i % 97) + "x" + i).mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text").coalesce(1)
    val got = Bpe.encodeWithMergesFast(docs, "doc_id", "text", merges,
      regime = Bpe.Regime.Raw())
      .select("n_tokens").as[Int].collect().head
    val expected = Bpe.preTokenize(text).iterator
      .map(p => Bpe.encodeWordFast(Bpe.byteSyms(p), idx).length).sum
    assert(got === expected)
  }

  test("Sft byte-level token coordinates + eosId threading") {
    val merges = Array(
      (Bpe.byteSyms("c"), Bpe.byteSyms("l")),
      (Bpe.byteSym(' ').toString, Bpe.byteSyms("c")))
    val idx = new Bpe.MergeIndex(merges)
    val events = Seq(
      (1L, 1L, 101L, "click", "Home Page"),
      (1L, 2L, 102L, "reply", "OK  sure"),
      (2L, 1L, 201L, "view", null.asInstanceOf[String]))
      .toDF("user_id", "ts", "event_id", "event_type", "props")
    val turnsDf = Sft.turns(events, "user_id", "ts", "event_type", "props")
    val tt = Sft.transcriptsTokens(turnsDf, merges, regime = Bpe.Regime.Raw())
      .orderBy("conv_id")
      .select("conv_id", "n_tokens").as[(Long, Long)].collect().toMap
    def ntok(line: String): Long = Bpe.preTokenize(line).iterator
      .map(p => Bpe.encodeWordFast(Bpe.byteSyms(p), idx).length.toLong).sum
    assert(tt(1L) === ntok("user: click Home Page") + ntok("assistant: reply OK  sure"))
    assert(tt(2L) === ntok("user: view "))
    // eosId threads into packTokens as a pinned per-row column
    val specials = Seq("<|bos|>", "<|eos|>", "<|pad|>")
    val eos = Bpe.vocabBytes(spark, merges, specials)
      .filter(col("token") === "<|eos|>")
      .select("token_id").as[Int].collect().head
    assert(eos === 1)
    val packed = Sft.packTokens(turnsDf, merges, blockTokens = 8,
      nShards = 2, regime = Bpe.Regime.Raw(), eosId = Some(eos))
    assert(packed.columns.contains("eos_id"))
    assert(packed.select("eos_id").distinct().as[Int].collect().toSeq === Seq(1))
    // default: legacy schema, no eos_id column
    val legacy = Sft.packTokens(turnsDf, merges, blockTokens = 8, nShards = 2)
    assert(!legacy.columns.contains("eos_id"))
  }
}
