package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-document keyword extraction: top-k terms by a TF-IDF-style
  * score. Used for corpus exploration, topic routing, and as a cheap
  * feature for quality classifiers.
  *
  * Scoring is LINEAR inverse document frequency — score = tf · (N / df)
  * — not the textbook log damping: the linear form is two single IEEE
  * operations (exact int→double division, exactly-rounded multiply), so
  * every engine computes the bitwise-identical double and the DuckDB
  * oracle can hash-match without a rounding fudge, while `ln` differs
  * in the last ulp across libm implementations. The trade-off is real:
  * linear IDF damps ubiquitous terms LESS than log does, so a frequent
  * common term can outrank a rarer one that log-weighting would prefer.
  * Two mitigations are built in: terms appearing in EVERY document are
  * dropped outright (log idf would weight them exactly zero), and ties
  * break toward the rarer term. For stricter stopword control, feed a
  * blocklist from [[CorpusStats.topNgrams]] upstream.
  *
  * Scale shape: one token-sized shuffle for tf (doc, term), one
  * vocabulary-sized agg for df, a BROADCAST df join (vocabulary ≪
  * corpus), and a doc-partitioned window — no global ordering anywhere.
  * Broadcasting the df side is also the structural fix for Zipf skew:
  * the tf⋈df join keys on term, and without the broadcast the head
  * terms ("the", "of") make a handful of shuffle partitions hot; with
  * it the tf side never re-shuffles at all.
  *
  * `stopwords` drops terms before counting — feed it the head of
  * [[CorpusStats.topNgrams]] (n = 1) to emulate log-IDF's damping of
  * ubiquitous terms under the linear-IDF scoring. The list is folded in
  * as a literal predicate (codegen'd), so keep it list-sized (hundreds),
  * not dictionary-sized.
  *
  * Resolving N runs ONE count job over `docs` when `totalDocs` is not
  * supplied — for a derived/expensive input, pass the known corpus size
  * (or cache the input) so the lineage is not executed twice.
  */
object Keywords {

  def tfidfTopK(docs: DataFrame, idCol: String, textCol: String,
                k: Int = 3, minTermLen: Int = 3,
                totalDocs: Option[Long] = None,
                stopwords: Seq[String] = Nil): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val n = totalDocs.getOrElse(docs.count())
    val raw = docs
      .select(col(idCol), explode(split(Dedup.normalize(col(textCol)), " ")).as("term"))
      .filter(length(col("term")) >= minTermLen)
    val terms = if (stopwords.isEmpty) raw
                else raw.filter(!col("term").isInCollection(stopwords))
    val tf = terms.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .filter(col("df") < n) // df = N carries zero information (log idf = 0)
    val scored = tf.join(broadcast(dfreq), "term")
      .withColumn("score", col("tf") * (lit(n).cast("double") / col("df")))
    val rank = row_number().over(Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("df").asc, col("term").asc))
    scored.withColumn("rn", rank).filter(col("rn") <= k)
      .select(col(idCol), col("rn").as("rank"), col("term"),
        col("tf"), col("df"), col("score"))
  }
}
