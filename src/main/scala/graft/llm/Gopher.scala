package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Gopher-style document quality rules (Rae et al. 2021, "Scaling
  * Language Models", table A1): the published heuristic battery a
  * training-data pipeline runs BEFORE any model-based scoring — word
  * count band, mean-word-length band, symbol-to-word ratio, bullet- and
  * ellipsis-line fractions, alphabetic-word fraction, stop-word
  * presence. Complements [[TextStats.qualityScore]] (a soft composite
  * score) with the hard per-rule booleans a curation audit wants: WHICH
  * rule killed a document, not just that something did.
  *
  * Every metric is a single-pass native Column expression over one row
  * (no joins, no shuffles beyond the caller's): ratios are one
  * exactly-rounded double division rounded to 6 dp, counts are integer,
  * and rule booleans compare the ROUNDED ratio against an exactly
  * representable threshold — so any engine computes identical booleans
  * (the `gopher_rules` gate hash-compares the full profile against a
  * DuckDB restatement).
  *
  * Scale shape: narrow map over the corpus — the filter runs at scan
  * speed inside whole-stage codegen, which is the point of running the
  * heuristics first and the expensive scorers (LM, classifier) only on
  * survivors.
  */
object Gopher {

  /** Gopher's stop-word presence list (the 8-word version from the
    * paper), exposed so the correctness oracle injects the IDENTICAL
    * literals.
    */
  private[graft] val stopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  private def normWords(text: Column): Column =
    split(Dedup.normalize(text), " ")

  /** Trimmed non-empty lines of the RAW text (the line-shape rules see
    * layout, so they must run before whitespace normalization folds
    * newlines away).
    */
  private def lines(text: Column): Column =
    filter(transform(split(text, "\n"), l => trim(l)), l => l =!= "")

  /** Per-document rule profile:
    * `(idCol, n_words, mean_word_len, symbol_ratio, bullet_frac,
    * ellipsis_frac, alpha_frac, n_stopwords, ok_words, ok_mean_len,
    * ok_symbol, ok_bullet, ok_ellipsis, ok_alpha, ok_stop, keep)`.
    *
    * Defaults are the paper's published thresholds: 50–100k words, mean
    * word length 3–10, ≤0.1 symbols (`#` chars + `...` occurrences) per
    * word, <90% bullet-started lines, ≤30% ellipsis-ended lines, ≥80%
    * words containing an alphabetic char, ≥2 distinct stop words.
    * Null/empty documents profile as all-zero and fail `ok_words`.
    */
  def profile(docs: DataFrame, idCol: String, textCol: String,
              minWords: Int = 50, maxWords: Int = 100000,
              minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
              maxSymbolRatio: Double = 0.1, maxBulletFrac: Double = 0.9,
              maxEllipsisFrac: Double = 0.3, minAlphaFrac: Double = 0.8,
              minStopwords: Int = 2): DataFrame = {
    require(minWords >= 1 && maxWords >= minWords,
      s"need 1 <= minWords <= maxWords, got $minWords..$maxWords")
    // STAGED projection: the normalized string, word array and line
    // array are computed ONCE per row as attributes and every metric
    // reads the attribute. The previous single-select form repeated the
    // regexp_replace+split tree inside each metric expression (and per
    // HOF lambda element) — ~12 regex+split evaluations per row;
    // CollapseProject keeps these stages separate because the aliases
    // are non-cheap and multiply referenced.
    val t0 = col(textCol)
    val staged = docs.select(col(idCol), t0.as("__t"),
      (t0.isNull || trim(t0) === "").as("__empty"),
      Dedup.normalize(t0).as("__norm"),
      lines(t0).as("__l"))
    val t = col("__t")
    val empty = col("__empty")
    val words = split(col("__norm"), " ")
    val withWords = staged.select(col(idCol), t, empty,
      col("__norm"), col("__l"), words.as("__w"))
    val w = col("__w")
    val nw = when(empty, 0).otherwise(size(w)).cast("int")
    val nwD = nw.cast("double")
    // one exactly-rounded division per ratio; 0.0 when the denominator
    // is empty (the keep verdict is decided by ok_words then).
    // Σ word lengths = length(norm) − (n_words − 1): the words are the
    // segments of the single-space-separated norm, so total length is
    // its length minus the separators — same exact integer as the old
    // aggregate() fold, without the interpreted per-word pass.
    val meanLen = when(nw === 0, 0.0).otherwise(round(
      (length(col("__norm")) - (nw - 1)).cast("double") / nwD, 6))
    // '#' chars + non-overlapping '...' occurrences; '....' counts once
    // in both engines (leftmost-first replacement)
    val nHash = when(empty, 0L).otherwise(
      (length(t) - length(regexp_replace(t, "#", ""))).cast("long"))
    val nEllipsis = when(empty, 0L).otherwise(
      ((length(t) - length(regexp_replace(t, "\\.\\.\\.", ""))) / 3).cast("long"))
    val symbolRatio = when(nw === 0, 0.0)
      .otherwise(round((nHash + nEllipsis).cast("double") / nwD, 6))
    val ls = col("__l")
    val nl = when(empty, 0).otherwise(size(ls)).cast("int")
    val nBullet = size(filter(ls, l =>
      l.startsWith("- ") || l.startsWith("* ") || l.startsWith("•")))
    val nEll = size(filter(ls, l => l.endsWith("...")))
    val bulletFrac = when(nl === 0, 0.0)
      .otherwise(round(nBullet.cast("double") / nl.cast("double"), 6))
    val ellipsisFrac = when(nl === 0, 0.0)
      .otherwise(round(nEll.cast("double") / nl.cast("double"), 6))
    // words containing an ASCII letter, counted in ONE regex pass over
    // the normalized string instead of a per-word rlike: each match
    // must start at a word boundary (the prepended/separator space),
    // consume non-spaces and hit a letter — exactly one non-overlapping
    // match per letter-containing word (greedy backtracking ends the
    // match inside the word; no later match can start before the next
    // space). GopherSpec pins equivalence with the per-word form.
    val nAlpha = regexp_count(concat(lit(" "), col("__norm")),
      lit(" [^ ]*[a-z]"))
    val alphaFrac = when(nw === 0, 0.0)
      .otherwise(round(nAlpha.cast("double") / nwD, 6))
    // distinct stop-word membership: iterate the 8-literal list, not
    // the document (cost 8 array_contains, no dedup pass)
    val nStop = when(empty, 0).otherwise(size(filter(
      typedLit(stopwords), s => array_contains(w, s)))).cast("int")
    val out = withWords.select(col(idCol), nw.as("n_words"),
      meanLen.as("mean_word_len"), symbolRatio.as("symbol_ratio"),
      bulletFrac.as("bullet_frac"), ellipsisFrac.as("ellipsis_frac"),
      alphaFrac.as("alpha_frac"), nStop.as("n_stopwords"))
    out.select(col("*"),
        col("n_words").between(minWords, maxWords).as("ok_words"),
        col("mean_word_len").between(minMeanLen, maxMeanLen).as("ok_mean_len"),
        (col("symbol_ratio") <= maxSymbolRatio).as("ok_symbol"),
        (col("bullet_frac") <= maxBulletFrac).as("ok_bullet"),
        (col("ellipsis_frac") <= maxEllipsisFrac).as("ok_ellipsis"),
        (col("alpha_frac") >= minAlphaFrac).as("ok_alpha"),
        (col("n_stopwords") >= minStopwords).as("ok_stop"))
      .withColumn("keep",
        col("ok_words") && col("ok_mean_len") && col("ok_symbol") &&
          col("ok_bullet") && col("ok_ellipsis") && col("ok_alpha") &&
          col("ok_stop"))
  }

  /** The filter form: survivors of [[profile]]'s `keep` verdict, original
    * columns only. Thresholds thread through to [[profile]] (defaults =
    * the paper's).
    */
  def keepDocs(docs: DataFrame, idCol: String, textCol: String,
               minWords: Int = 50, maxWords: Int = 100000,
               minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
               maxSymbolRatio: Double = 0.1, maxBulletFrac: Double = 0.9,
               maxEllipsisFrac: Double = 0.3, minAlphaFrac: Double = 0.8,
               minStopwords: Int = 2): DataFrame =
    docs.join(profile(docs, idCol, textCol, minWords, maxWords, minMeanLen,
        maxMeanLen, maxSymbolRatio, maxBulletFrac, maxEllipsisFrac,
        minAlphaFrac, minStopwords)
      .where(col("keep")).select(col(idCol)), Seq(idCol), "left_semi")
}
