package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Byte-level BPE tier: the GPT-2 byte↔unicode bijection, encode under
  * a byte-symbol merge table, and the exact round-trip law on
  * arbitrary UTF-8 (multi-byte Vietnamese, astral-plane emoji, every
  * single byte value).
  */
class BpeBytesSpec extends SparkSpec {
  import spark.implicits._

  test("byteSym/symByte is a bijection over all 256 bytes") {
    val syms = (0 until 256).map(Bpe.byteSym)
    assert(syms.distinct.size === 256)
    (0 until 256).foreach(b => assert(Bpe.symByte(Bpe.byteSym(b)) === b))
    // pinned anchors of the published mapping
    assert(Bpe.byteSym(' '.toInt) === 'Ġ')        // Ġ
    assert(Bpe.byteSym('a'.toInt) === 'a')             // printable: identity
    assert(Bpe.byteSym(0) === 'Ā')                // Ā
    assert(Bpe.byteSym(127) === 'ġ')              // first of 127..160
    assert(Bpe.byteSym(173) === 'Ń')              // soft hyphen, last slot
  }

  test("byteSyms/symsToString round-trips arbitrary UTF-8 exactly") {
    val samples = Seq("", "ascii only", "hà nội — hồ chí minh",
      "🙂 astral 🙂🙂", "mixed ộ🙂đa\nควบคุม")
    samples.foreach { s =>
      assert(Bpe.symsToString(Bpe.byteSyms(s)) === s)
    }
    // symbol length = UTF-8 byte length, never the char length
    assert(Bpe.byteSyms("ộ").length === 3)
    assert(Bpe.byteSyms("🙂").length === 4)
  }

  test("encodeBytes merges assemble multi-byte chars and Ġ-words") {
    val oSyms = Bpe.byteSyms("ộ")
    val merges = Array(
      (Bpe.byteSyms("t"), Bpe.byteSyms("h")),
      (Bpe.byteSyms(" "), Bpe.byteSyms("t")),
      (oSyms.substring(0, 1), oSyms.substring(1, 2)),
      (oSyms.substring(0, 2), oSyms.substring(2)))
    val docs = Seq((1L, "th ộ the t"), (2L, "")).toDF("doc_id", "text")
    val enc = Bpe.encodeWithMergesFast(docs, "doc_id", "text", merges,
      regime = Bpe.Regime.Bytes)
      .orderBy("doc_id")
      .select(col("doc_id"), col("tokens"))
      .as[(Long, Seq[String])].collect()
    // doc 1: "th" merges; " ộ" -> Ġ + full ộ token; " the": rank 0
    // (t,h) fires FIRST so rank 1 (Ġ,t) can no longer (rank order);
    // the lone " t" is where (Ġ,t) fires
    assert(enc(0)._2 === Seq("th", "Ġ", oSyms, "Ġ", "th", "e", "Ġt"))
    assert(enc(1)._2 === Seq.empty[String])
  }

  test("encode→decode round-trips the normalized text for every doc") {
    val docs = Seq(
      (1L, "  The   Table  hà   nội "),  // normalization applies first
      (2L, "hồ chí minh 🙂"),
      (3L, ""),
      (4L, "đà nẵng — cần thơ 🙂ộ")).toDF("doc_id", "text")
    val merges = Array((Bpe.byteSyms("t"), Bpe.byteSyms("h")),
      (Bpe.byteSyms(" "), Bpe.byteSyms("t")))
    val rt = Bpe.decodeBytes(
        Bpe.encodeWithMergesFast(docs, "doc_id", "text", merges,
          regime = Bpe.Regime.Bytes), "doc_id")
      .orderBy("doc_id").as[(Long, String)].collect().toMap
    assert(rt(1L) === "the table hà nội")
    assert(rt(2L) === "hồ chí minh 🙂")
    assert(rt(3L) === "")
    assert(rt(4L) === "đà nẵng — cần thơ 🙂ộ")
  }

  test("trainBytes learns Ġ-boundary merges and the model survives disk") {
    val docs = Seq(
      (1L, "the theme the theme"),
      (2L, "the ộ the ộ the"),
      (3L, "theme ộ the")).toDF("doc_id", "text")
    val model = Bpe.train(docs, "text", numMerges = 4,
      regime = Bpe.Regime.Bytes)
    val merges = Bpe.mergesOf(model)
    assert(merges.length === 4)
    // word forms are the encoder's: "Ġthe" (x7 as a non-first word) has
    // the corpus's hottest pairs — (Ġ,t) ties (t,h) at 9 and wins
    // lexicographically (Ġ = U+0120 > ascii... no: count decides first)
    // — just pin that the boundary symbol participates at all and that
    // training is deterministic across runs
    assert(merges.exists { case (l, r) => (l + r).contains("Ġ") })
    val again = Bpe.mergesOf(Bpe.train(docs, "text", numMerges = 4,
      regime = Bpe.Regime.Bytes))
    assert(merges.toSeq === again.toSeq)

    // disk round-trip: rows are the model
    val dir = java.nio.file.Files.createTempDirectory("bpe_bytes_model")
    val path = dir.resolve("merges.parquet").toString
    model.write.mode("overwrite").parquet(path)
    val reloaded = Bpe.mergesOf(spark.read.parquet(path))
    assert(reloaded.toSeq === merges.toSeq)
    val direct = Bpe.encodeWithMergesFast(docs, "doc_id", "text", merges,
      regime = Bpe.Regime.Bytes)
      .orderBy("doc_id").select("tokens").as[Seq[String]].collect().toSeq
    val viaDisk = Bpe.encodeWithMergesFast(docs, "doc_id", "text", reloaded,
      regime = Bpe.Regime.Bytes)
      .orderBy("doc_id").select("tokens").as[Seq[String]].collect().toSeq
    assert(direct === viaDisk)
  }

  test("vocabBytes: ids 0..255 are the byte symbols, merges follow compacted") {
    val oSyms = Bpe.byteSyms("ộ")
    val merges = Array(
      (Bpe.byteSyms("t"), Bpe.byteSyms("h")),
      (oSyms.substring(0, 1), oSyms.substring(1, 2)),
      (Bpe.byteSyms("t"), Bpe.byteSyms("h")))  // duplicate output: dropped
    val v = Bpe.vocabBytes(spark, merges)
      .orderBy("token_id").as[(Int, String)].collect()
    assert(v.length === 256 + 2)               // 3 merges, 1 duplicate
    (0 until 256).foreach(b => assert(v(b) === ((b, Bpe.byteSym(b).toString))))
    assert(v(256) === ((256, "th")))
    assert(v(257) === ((257, oSyms.substring(0, 2))))
  }

  test("encodeIdsBytes: closed alphabet means no -1, ids round through vocab") {
    val merges = Array((Bpe.byteSyms("t"), Bpe.byteSyms("h")),
      (Bpe.byteSyms(" "), Bpe.byteSyms("t")))
    val vocab = Bpe.vocabBytes(spark, merges)
    val docs = Seq((1L, "th ộ 🙂 t"), (2L, "")).toDF("doc_id", "text")
    val ids = Bpe.encodeIds(docs, "doc_id", "text", merges, vocab,
      regime = Bpe.Regime.Bytes)
      .orderBy("doc_id").as[(Long, Seq[Int], Int)].collect()
    assert(ids(0)._2.forall(_ >= 0))           // closed alphabet: no OOV ever
    assert(ids(1)._2.isEmpty && ids(1)._3 === 0)
    // the id stream decodes back through the vocab to the token stream
    val idOf = vocab.as[(Int, String)].collect().map(_.swap).toMap
    val tokOf = idOf.map(_.swap)
    val toks = Bpe.encodeWithMergesFast(docs, "doc_id", "text", merges,
      regime = Bpe.Regime.Bytes)
      .orderBy("doc_id").select("tokens").as[Seq[String]].collect()
    assert(ids(0)._2.map(tokOf) === toks(0))
  }

  test("fuzz: byteSyms/symsToString round-trips 500 random unicode strings") {
    // raw ScalaCheck with fixed seeds (no scalatest bridge in the
    // offline cache — the PropertySpec convention). Pure JVM-side laws,
    // so the case count can be high. Surrogate-pair handling matters:
    // generate from code POINTS (including astral) and build strings
    // with Character.toChars, never from raw Char (a lone surrogate is
    // not valid UTF-8 input).
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val cp = Gen.frequency(
      (4, Gen.choose(0x20, 0x7e)),          // ascii
      (2, Gen.choose(0xa0, 0x2ff)),         // latin supplement / IPA
      (2, Gen.choose(0x1e00, 0x1eff)),      // latin extended (Vietnamese)
      (1, Gen.choose(0x4e00, 0x4fff)),      // CJK
      (1, Gen.choose(0x1f300, 0x1f6ff)),    // astral emoji
      (1, Gen.oneOf(0x00, 0x09, 0x0a, 0x7f, 0xad, 0xfffd)))
    val strGen = Gen.listOf(cp).map(_.flatMap(Character.toChars(_).toSeq).mkString)
    (1 to 500).foreach { i =>
      val s = strGen.pureApply(Gen.Parameters.default, Seed(i.toLong))
      val syms = Bpe.byteSyms(s)
      assert(Bpe.symsToString(syms) === s, s"seed $i")
      assert(syms.length === s.getBytes("UTF-8").length, s"seed $i")
    }
  }

  test("round-trip holds under ANY merge table (merges never lose bytes)") {
    // adversarial: merges over every regime at once; tokens differ,
    // decoded text must not
    val oSyms = Bpe.byteSyms("ộ"); val smile = Bpe.byteSyms("🙂")
    val merges = Array(
      (Bpe.byteSyms("t"), Bpe.byteSyms("h")),
      (Bpe.byteSyms("th"), Bpe.byteSyms("e")),
      (oSyms.substring(0, 1), oSyms.substring(1, 2)),
      (smile.substring(0, 1), smile.substring(1, 2)),
      (smile.substring(0, 2), smile.substring(2, 3)))
    val text = "the ộ🙂 thộ 🙂🙂 end"
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val rt = Bpe.decodeBytes(
        Bpe.encodeWithMergesFast(docs, "doc_id", "text", merges,
          regime = Bpe.Regime.Bytes), "doc_id")
      .as[(Long, String)].collect().head._2
    assert(rt === text)
  }
}
