package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** C4-style corpus cleaning (Raffel et al. 2020 §2.2 — the battery
  * behind the Colossal Clean Crawled Corpus): LINE-level retention
  * (keep only lines ending in terminal punctuation; drop lines carrying
  * the word "javascript") composed with DOC-level fatal rules (too few
  * sentences after line cleaning, "lorem ipsum", a curly brace, a
  * bad-words hit). Complements [[Gopher]]: Gopher profiles
  * distributional shape, C4 kills boilerplate and non-prose by FORM —
  * real pipelines run both.
  *
  * Everything is a single narrow pass of native Column expressions
  * (line split + filter + rejoin, a few `contains`/`rlike` probes over
  * anchored literal alternations — codegen'd, scan-speed); counts are
  * integers and booleans compare integers, so the `c4_filters` gate
  * hash-matches its DuckDB restatement with no FP conventions needed.
  */
object C4 {

  /** The word-boundary regex both engines (Java regex / RE2) treat
    * identically for plain ASCII word lists (enforced: no metachars to
    * escape, so the oracle can interpolate the identical pattern).
    */
  private def wordProbe(words: Seq[String]): String = {
    require(words.forall(_.matches("[a-z0-9]+")),
      s"word lists must be lowercase alphanumeric words: $words")
    words.mkString("\\b(", "|", ")\\b")
  }

  /** Default doc-fatal word list — stand-in for the C4 badwords list
    * (the real list is a config input; the mechanism is what's built).
    */
  val defaultBadWords: Seq[String] = Seq("badword", "obscenity")

  /** Per-document profile + cleaned text:
    * `(idCol, text_clean, n_lines_kept, n_lines_dropped, n_sentences,
    * has_javascript, has_lorem, has_brace, has_bad_word, keep)`.
    *
    *   - a line is KEPT iff it ends in `.`, `!` or `?` and does not
    *     contain the word "javascript" (case-insensitive);
    *   - `text_clean` = kept lines re-joined with newlines;
    *   - `n_sentences` = terminal-punctuation count in the CLEANED
    *     text (the §2.2 "at least three sentences" heuristic);
    *   - `keep` = enough sentences AND none of the doc-fatal probes
    *     (lorem ipsum / `{` / bad word) fired. Dropped javascript
    *     lines are line-fatal, not doc-fatal — exactly the paper's
    *     split.
    */
  def profile(docs: DataFrame, idCol: String, textCol: String,
              minSentences: Int = 3,
              badWords: Seq[String] = defaultBadWords): DataFrame = {
    require(minSentences >= 1, s"minSentences must be >= 1, got $minSentences")
    require(badWords.nonEmpty, "badWords must not be empty")
    val t = col(textCol)
    val empty = t.isNull || trim(t) === ""
    val lines = filter(transform(split(t, "\n"), l => trim(l)), l => l =!= "")
    val isKept = (l: Column) =>
      (l.endsWith(".") || l.endsWith("!") || l.endsWith("?")) &&
        !lower(l).rlike(wordProbe(Seq("javascript")))
    val kept = filter(lines, isKept)
    val nLines = when(empty, 0).otherwise(size(lines)).cast("int")
    val nKept = when(empty, 0).otherwise(size(kept)).cast("int")
    val clean = when(empty, lit("")).otherwise(array_join(kept, "\n"))
    val nSent = (length(clean) -
      length(regexp_replace(clean, "[.!?]", ""))).cast("int")
    val hasJs = when(empty, lit(false))
      .otherwise(exists(lines, l => lower(l).rlike(wordProbe(Seq("javascript")))))
    val hasLorem = when(empty, lit(false))
      .otherwise(lower(t).contains("lorem ipsum"))
    val hasBrace = when(empty, lit(false)).otherwise(t.contains("{"))
    val hasBad = when(empty, lit(false))
      .otherwise(lower(t).rlike(wordProbe(badWords)))
    docs.select(col(idCol), clean.as("text_clean"),
        nKept.as("n_lines_kept"),
        (nLines - nKept).as("n_lines_dropped"),
        nSent.as("n_sentences"), hasJs.as("has_javascript"),
        hasLorem.as("has_lorem"), hasBrace.as("has_brace"),
        hasBad.as("has_bad_word"))
      .withColumn("keep",
        col("n_sentences") >= minSentences &&
          !col("has_lorem") && !col("has_brace") && !col("has_bad_word"))
  }

  /** The filter form: `keep` survivors with their CLEANED text replacing
    * the original column (the corpus a tokenizer should actually see).
    */
  def clean(docs: DataFrame, idCol: String, textCol: String,
            minSentences: Int = 3,
            badWords: Seq[String] = defaultBadWords): DataFrame = {
    val p = profile(docs, idCol, textCol, minSentences, badWords)
      .where(col("keep"))
      .select(col(idCol), col("text_clean"))
    docs.drop(textCol).join(p, Seq(idCol))
      .withColumnRenamed("text_clean", textCol)
  }

  /** Token-JOIN form of the bad-words probe — the at-scale shape for
    * a blocklist of many thousands of terms, where [[profile]]'s
    * single anchored regex alternation stops being the right tool
    * (SCALE.md's honest-limit: a giant alternation is O(pattern) per
    * char; a join is O(tokens)). Tokens are the whitespace-normalized
    * words of `trim(lower(text))`; `blocklist` is a one-column table
    * of lowercase terms. Returns one row per document:
    * `(idCol, n_hits, n_distinct_hits, keep)` with keep = zero hits.
    *
    * The blocklist is broadcast (a term list is memory-sized); the
    * corpus side is one narrow explode + one aggregation keyed by doc
    * id.
    */
  def blocklistProbe(docs: DataFrame, idCol: String, textCol: String,
                     blocklist: DataFrame, termCol: String = "term"): DataFrame = {
    val toks = docs.select(col(idCol),
        explode(split(Dedup.normalize(col(textCol)), " ")).as("__tok"))
      .filter(col("__tok") =!= "")
    val bl = broadcast(blocklist.select(lower(col(termCol)).as("__tok")).distinct())
    val hits = toks.join(bl, Seq("__tok"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"),
        countDistinct(col("__tok")).as("n_distinct_hits"))
    docs.select(col(idCol)).join(hits, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("n_distinct_hits"), lit(0L)).as("n_distinct_hits"),
        (coalesce(col("n_hits"), lit(0L)) === 0L).as("keep"))
  }
}
