package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** One table over every [[Bpe.Regime]] Sft accepts: the SFT token
  * coordinates agree with the document encoder line for line, and null
  * or empty text encodes to nothing.
  */
class BpeRegimeSpec extends SparkSpec {
  import spark.implicits._

  private val regimes = Seq[(String, Bpe.Regime)](
    "Char" -> Bpe.Regime.Char,
    "Bytes" -> Bpe.Regime.Bytes,
    "Raw" -> Bpe.Regime.Raw(),
    "Raw(gpt2Ws)" -> Bpe.Regime.Raw(gpt2Ws = true),
    "Raw(hf)" -> Bpe.Regime.Raw(hf = true))

  // ASCII letters are their own byte symbols, so these fire under every
  // regime; the Ġ pairs fire only where a leading space rides a word,
  // and (C, l) only where case survives
  private val merges = Array(("h", "e"), ("l", "l"), ("Ġ", "h"),
    ("Ġ", "s"), ("C", "l"), ("he", "ll"), ("Ġh", "e"))

  test("Sft n_tokens = sum of encodeWithMergesFast n_tokens over its lines") {
    val events = Seq(
      (1L, 1L, 101L, "click", "Hello  shell"),
      (1L, 2L, 102L, "reply", "she sells\tShells"),
      (1L, 3L, 103L, "view", null.asInstanceOf[String]),
      (2L, 1L, 201L, "reply", "Tiếng Việt  hello\n  Clock"),
      (3L, 1L, 301L, "error", "{\"k\": 7}   'll he'll"))
      .toDF("user_id", "ts", "event_id", "event_type", "props")
    val turnsDf = Sft.turns(events, "user_id", "ts", "event_type", "props")
      .cache()
    val lines = turnsDf.select(col("conv_id"),
        concat(col("role"), lit(": "), col("content")).as("line"))
      .as[(Long, String)].collect().toSeq
    val lineDocs = lines.zipWithIndex.map { case ((c, l), i) =>
      (i.toLong, c, l)
    }.toDF("line_id", "conv_id", "line")
    val totals = regimes.map { case (name, regime) =>
      val got = Sft.transcriptsTokens(turnsDf, merges, regime)
        .select(col("conv_id"), col("n_tokens").cast("long"))
        .as[(Long, Long)].collect().toMap
      val want = Bpe.encodeWithMergesFast(lineDocs, "line_id", "line",
          merges, regime)
        .join(lineDocs.select("line_id", "conv_id"), Seq("line_id"))
        .groupBy("conv_id").agg(sum(col("n_tokens")).cast("long"))
        .as[(Long, Long)].collect().toMap
      assert(got == want, s"$name: sft $got != encode $want")
      assert(want.size == 3 && want.values.forall(_ > 0), s"$name: $want")
      name -> want.values.sum
    }.toMap
    // the regimes really tokenize differently here, so the agreement is
    // not one coordinate system checked five times
    assert(totals.values.toSet.size >= 3, totals)
  }

  test("null and empty text encode to an empty array under every regime") {
    val docs = Seq((1L, null.asInstanceOf[String]), (2L, ""),
      (3L, "Hello shells")).toDF("doc_id", "text")
    val vocab = Bpe.vocabBytes(spark, merges)
    for ((name, regime) <- regimes) {
      val toks = Bpe.encodeWithMergesFast(docs, "doc_id", "text", merges,
          regime)
        .orderBy("doc_id").select(col("tokens"), col("n_tokens"))
        .as[(Seq[String], Int)].collect()
      val ids = Bpe.encodeIds(docs, "doc_id", "text", merges, vocab, regime)
        .orderBy("doc_id").select(col("token_ids"), col("n_tokens"))
        .as[(Seq[Int], Int)].collect()
      for ((out, i) <- Seq(toks.map(r => (r._1.size, r._2)),
          ids.map(r => (r._1.size, r._2))).zipWithIndex) {
        assert(out.take(2).toSeq == Seq((0, 0), (0, 0)), s"$name/$i")
        assert(out(2)._1 == out(2)._2 && out(2)._2 > 0, s"$name/$i")
      }
      assert(!ids(2)._1.contains(-1), s"$name: ${ids(2)._1}")
    }
  }
}
