package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Edge-case table over the whole n-gram scorer family: the six
  * [[LmScore]] scorers, [[CorpusStats.bigramLm]] and both [[Dsir]]
  * weight functions run on one corpus of degenerate documents. Every
  * per-document scorer must return one row per input document, a count
  * equal to the document's position count (0 when it has none) and a
  * null score exactly when that count is 0.
  */
class NgramFamilySpec extends SparkSpec {
  import spark.implicits._

  // normalized: null, "", "solo", "two words", " foo bar" (the tab
  // becomes a space that `trim` keeps: a leading EMPTY word), and a
  // six-word text every order up to 5 has positions in
  private lazy val docs = Seq[(Long, String)](
    (1L, null), (2L, ""), (3L, "solo"), (4L, "two words"),
    (5L, "\tfoo bar"), (6L, "a b c d e f")).toDF("id", "text")

  private case class Scorer(name: String, run: DataFrame => DataFrame,
                            countCol: String, scoreCol: String,
                            counts: Seq[Long])

  // counts per id 1..6. The LM position builders keep the tab-led
  // text's ("", foo) pair; DSIR's own bigram filter drops it.
  private val scorers = Seq(
    Scorer("score", LmScore.score(_, "id", "text"),
      "n_tokens", "lm_score", Seq(0L, 0L, 1L, 2L, 2L, 6L)),
    Scorer("bigramBackoffScore", LmScore.bigramBackoffScore(_, "id", "text"),
      "n_bigrams", "sb_score", Seq(0L, 0L, 0L, 1L, 2L, 5L)),
    Scorer("bigramInterpolatedScore",
      LmScore.bigramInterpolatedScore(_, "id", "text"),
      "n_bigrams", "ilm_score", Seq(0L, 0L, 0L, 1L, 2L, 5L)),
    Scorer("trigramInterpolatedScore",
      LmScore.trigramInterpolatedScore(_, "id", "text"),
      "n_trigrams", "tlm_score", Seq(0L, 0L, 0L, 0L, 1L, 4L)),
    Scorer("knBigramScore", LmScore.knBigramScore(_, "id", "text"),
      "n_bigrams", "kn_score", Seq(0L, 0L, 0L, 1L, 2L, 5L)),
    Scorer("knNgramScore(3)", LmScore.knNgramScore(_, "id", "text", order = 3),
      "n_grams", "kn_score", Seq(0L, 0L, 0L, 0L, 1L, 4L)),
    Scorer("knNgramScore(5)", LmScore.knNgramScore(_, "id", "text", order = 5),
      "n_grams", "kn_score", Seq(0L, 0L, 0L, 0L, 0L, 2L)),
    Scorer("Dsir.importanceWeights",
      d => Dsir.importanceWeights(d, d, "id", "text"),
      "n_feats", "dsir_weight", Seq(0L, 0L, 0L, 1L, 1L, 5L)),
    Scorer("Dsir.importanceWeightsFlagged",
      Dsir.importanceWeightsFlagged(_, col("id") % 2 === 0, "id", "text"),
      "n_feats", "dsir_weight", Seq(0L, 0L, 0L, 1L, 1L, 5L)))

  private def byId(out: DataFrame, s: Scorer): Map[Long, (Long, Boolean)] = {
    assert(out.columns.toSeq == Seq("id", s.countCol, s.scoreCol), s.name)
    val rows = out.collect()
    assert(rows.length == out.select("id").distinct().count(),
      s"${s.name}: duplicate ids")
    rows.map(r => r.getLong(0) -> ((r.getLong(1), r.isNullAt(2)))).toMap
  }

  for (s <- scorers) test(s"${s.name}: degenerate docs get a row, position count and null score") {
    val got = byId(s.run(docs), s)
    assert(got.size == 6, s"${s.name}: ${got.size} rows for 6 docs")
    for ((id, want) <- (1L to 6L).zip(s.counts)) {
      val (n, scoreNull) = got(id)
      assert(n == want, s"${s.name}: doc $id count $n, want $want")
      assert(scoreNull == (want == 0L),
        s"${s.name}: doc $id score null = $scoreNull at count $n")
    }
  }

  test("every scorer accepts a corpus without a single token") {
    val empty = Seq[(Long, String)]((1L, null), (2L, "")).toDF("id", "text")
    for (s <- scorers) {
      val got = byId(s.run(empty), s)
      assert(got == Map(1L -> ((0L, true)), 2L -> ((0L, true))), s.name)
    }
  }

  test("bigramLm: degenerate docs add no pairs; the empty-word pair is kept") {
    val out = CorpusStats.bigramLm(docs, "text")
      .select("w1", "w2", "n_pair", "n_ctx", "p").as[(String, String, Long, Long, Double)]
      .collect().toSet
    // every context here has one continuation, so every p is 1
    val pairs = Seq(("two", "words"), ("", "foo"), ("foo", "bar"), ("a", "b"),
      ("b", "c"), ("c", "d"), ("d", "e"), ("e", "f"))
    assert(out == pairs.map { case (a, b) => (a, b, 1L, 1L, 1.0) }.toSet)
  }
}
