package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis for training-data curation: token counting, quality
  * scoring, language identification, fingerprinting. All native Column
  * expressions (codegen'd, no UDFs).
  */
object TextStats {

  /** Whitespace token count. `regexp_count(separators) + 1` ≡
    * `size(split(trim, "\\s+"))` (fields = separator runs + 1, leading/
    * trailing empties from non-0x20 whitespace counted by both) without
    * materializing the word array just to take its length.
    */
  def tokenCount(text: Column): Column =
    when(trim(text) === "" || text.isNull, 0)
      .otherwise(regexp_count(trim(text), lit("\\s+")) + 1)

  /** BPE-ish subword count: word pieces of ≤4 chars plus standalone
    * punctuation — a cheap, deterministic proxy for tokenizer budgeting.
    */
  def approxBpeTokens(text: Column): Column =
    // regexp_count ≡ size(regexp_extract_all(…, 0)) — same non-overlapping
    // match count without materializing every matched substring
    regexp_count(text, lit("\\w{1,4}|[^\\w\\s]"))

  def charCount(text: Column): Column = length(text)

  /** Ratio of punctuation chars to all chars (0 for empty). */
  def punctRatio(text: Column): Column =
    when(length(text) === 0 || text.isNull, 0.0)
      .otherwise(length(regexp_replace(text, "[^.,;:!?'\"()\\[\\]-]", "")) /
        length(text).cast("double"))

  /** Ratio of digit chars. */
  def digitRatio(text: Column): Column =
    when(length(text) === 0 || text.isNull, 0.0)
      .otherwise(length(regexp_replace(text, "[^0-9]", "")) /
        length(text).cast("double"))

  /** Mean word length. Σ length(word) over `split(trim, "\\s+")` is
    * exactly the non-whitespace character count (empty boundary fields
    * contribute 0), so the interpreted per-word `aggregate` fold is one
    * regex strip; the denominator is [[tokenCount]]'s separator
    * arithmetic. Same integers, same double division.
    */
  def avgWordLen(text: Column): Column =
    when(trim(text) === "" || text.isNull, 0.0)
      .otherwise(
        length(regexp_replace(trim(text), "\\s+", "")).cast("double") /
          (regexp_count(trim(text), lit("\\s+")) + 1))

  /** Exposed (like Ann.planes / Dedup.minhashCoefs) so the
    * correctness oracle injects the IDENTICAL profile literals.
    */
  private[graft] val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it", "for", "was"),
    "fr" -> Seq("le", "la", "les", "et", "de", "des", "est", "dans", "que", "pour"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "nicht", "mit", "ein", "zu"),
    "es" -> Seq("el", "la", "los", "las", "es", "en", "que", "por", "con", "una"),
    "vi" -> Seq("của", "và", "là", "có", "được", "cho", "này", "không", "người", "những"))

  /** Stopword-hit ratio against a language's profile. One
    * [[graft.expressions.WordSetHits]] pass (≡ the old
    * `size(filter(words, isin))` interpreted walk) over the normalized
    * text; the word count is separator arithmetic
    * (`size(split(norm, " "))` = spaces + 1, empties included by both).
    */
  def stopwordRatio(text: Column, lang: String = "en"): Column = {
    val norm = Dedup.normalize(text)
    val nw = length(norm) - length(translate(norm, " ", "")) + 1
    val hits = graft.expressions.WordSetHits.word_set_hits(
      norm, Array(stopwords(lang).toArray)).getItem(0)
    when(nw === 0, 0.0)
      .otherwise(hits.cast("double") / nw)
  }

  /** N-gram-profile language ID: score each language by its stopword hit
    * count, take the argmax ('und' when nothing hits). Native expression:
    * one pass, max_by over a literal-keyed score array.
    */
  def langId(text: Column): Column = {
    val langs = stopwords.toSeq.sortBy(_._1)
    // ALL five languages' hit counts in ONE word pass (word → language
    // bitmask map) instead of five interpreted filter(isin) walks
    val counts = graft.expressions.WordSetHits.word_set_hits(
      Dedup.normalize(text), langs.map(_._2.toArray).toArray)
    val scored = langs.zipWithIndex.map { case ((lang, _), k) =>
      struct(counts.getItem(k).as("score"), lit(lang).as("lang"))
    }
    val best = array_max(array(scored: _*))
    when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** Composite quality score in [0,1]: penalizes extreme length, high
    * punctuation/digit density and missing stopwords — the usual cheap
    * pre-filter before expensive model-based scoring.
    */
  def qualityScore(text: Column): Column = {
    val toks = tokenCount(text)
    val lengthOk = when(toks.between(5, 10000), 1.0).otherwise(0.3)
    val punctOk = when(punctRatio(text) < 0.2, 1.0).otherwise(0.5)
    val digitOk = when(digitRatio(text) < 0.3, 1.0).otherwise(0.5)
    val stopOk = when(stopwordRatio(text) > 0.01, 1.0).otherwise(0.7)
    round(lengthOk * punctOk * digitOk * stopOk, 4)
  }

  // ---- Encoding-damage (mojibake) detection ---------------------------
  // Web-scale corpora carry three classic decode-damage signatures, each
  // detectable WITHOUT any language model: U+FFFD replacement chars (a
  // decoder already gave up), C1 control chars U+0080–U+009F (CP1252
  // bytes decoded as Latin-1 — never legitimate in text), and the
  // UTF-8-read-as-Latin-1 digraphs (a UTF-8 lead byte Â/Ã decoded as its
  // own char followed by a continuation byte's char, e.g. "Ã©" for "é").
  // All three are plain regexp counts — codegen'd, scan-speed, and
  // exactly restatable in any engine. Legitimate multi-byte text (the
  // Vietnamese the pipeline actually carries) triggers NONE of them.

  /** Non-overlapping occurrences of U+FFFD. */
  def replacementCharCount(text: Column): Column =
    regexp_count(coalesce(text, lit("")), lit("\uFFFD")).cast("long")

  /** Non-overlapping occurrences of C1 controls U+0080–U+009F. */
  def c1ControlCount(text: Column): Column =
    regexp_count(coalesce(text, lit("")), lit("[\u0080-\u009F]"))
      .cast("long")

  /** Non-overlapping UTF-8-as-Latin-1 digraphs: Â/Ã (the 2-byte UTF-8
    * lead bytes decoded as chars) followed by a char in U+0080–U+00BF
    * (a continuation byte decoded as a char).
    */
  def mojibakeDigraphCount(text: Column): Column =
    regexp_count(coalesce(text, lit("")),
      lit("[\u00C2\u00C3][\u0080-\u00BF]")).cast("long")

  /** Per-document encoding-damage audit: the three counts, the damage
    * fraction (damaged-signature chars over chars; null for empty
    * docs), and the `ok` verdict. A doc failing this never reaches a
    * tokenizer — replacement chars poison dedup fingerprints and
    * mojibake inflates byte-level token counts ~2× on affected spans.
    */
  def encodingScan(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    val rep = replacementCharCount(col(textCol))
    val c1 = c1ControlCount(col(textCol))
    val moj = mojibakeDigraphCount(col(textCol))
    docs.select(col(idCol), length(t).cast("long").as("n_chars"),
        rep.as("n_replacement"), c1.as("n_c1_controls"),
        moj.as("n_mojibake"))
      .withColumn("damage_frac",
        when(col("n_chars") === 0L, lit(null).cast("double"))
          .otherwise((col("n_replacement") + col("n_c1_controls")
            + col("n_mojibake") * 2L).cast("double")
            / col("n_chars").cast("double")))
      .withColumn("ok", col("n_replacement") === 0L &&
        col("n_c1_controls") === 0L && col("n_mojibake") === 0L)
  }

  /** Content fingerprint: md5 of the normalized text (stable under
    * whitespace/case noise). For shift-tolerant fingerprints use
    * [[rollingFingerprint]] (substring-stable) or [[Dedup.simhash]]
    * (edit-distance-stable).
    */
  def fingerprint(text: Column): Column = md5(Dedup.normalize(text))

  /** Shift-tolerant rolling-hash fingerprint — the custom codegen'd
    * Catalyst expression [[graft.expressions.RollingHashMin]] over the
    * normalized text (O(n) per row).
    */
  def rollingFingerprint(text: Column, k: Int = 16): Column =
    graft.expressions.RollingHashMin.rolling_hash_min(Dedup.normalize(text), k)

  /** Feature hashing (the "hashing trick"): each document's
    * bag-of-words projected into a FIXED `dim`-bucket space via a
    * PORTABLE token hash (first 8 md5 hex digits mod dim — any engine
    * re-derives the identical features, unlike JVM-seeded murmur) —
    * the vocabulary-free featurization linear models and quality
    * classifiers train on at corpus scale, where a fitted vocabulary
    * is itself a 100 TB shuffle.
    *
    * Output: `(idCol, features)` with `features` the sparse vector as
    * `"idx:count idx:count …"`, indices ascending — a portable string
    * render (same convention as the sequence export). Scale shape:
    * explode → two partial-agg'd groupBys ((doc, idx) count, then
    * per-doc assembly); token volume dominates, no window, no join.
    */
  /** Document-frequency vocabulary build — the fitted counterpart of
    * [[hashedFeatures]] when a model wants real token ids: tokens
    * kept iff `minDf ≤ doc_freq` and `doc_freq·100 ≤ maxDfPct·n_docs`
    * (min-df drops typo-tail noise, max-df drops stopword-tier terms
    * that carry no signal), top `topK` by (doc_freq desc, token). The
    * max-df comparison is PURE INTEGER (`df·100 ≤ pct·n`) — a
    * `df ≤ frac·n` double would put boundary tokens on FP dust, the
    * same reasoning as `Sampling.temporalSplit`.
    *
    * Scale shape: per-doc `array_distinct` BEFORE the explode (each
    * doc contributes each token once — the explode volume is bounded
    * by distinct-tokens-per-doc, not raw length), one partial-agg'd
    * token groupBy, a one-row count broadcast, and a
    * `TakeOrderedAndProject` top-k — no window, no global sort.
    */
  def buildVocabulary(docs: DataFrame, idCol: String, textCol: String,
                      minDf: Int = 2, maxDfPct: Int = 50,
                      topK: Int = 10000): DataFrame = {
    require(minDf >= 1, s"minDf must be >= 1, got $minDf")
    require(maxDfPct >= 1 && maxDfPct <= 100,
      s"maxDfPct must be in 1..100, got $maxDfPct")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val perDoc = docs.select(col(idCol),
        explode(array_distinct(split(Dedup.normalize(col(textCol)), " ")))
          .as("token"))
      .filter(col("token") =!= "")
    val dfq = perDoc.groupBy(col("token"))
      .agg(count(lit(1)).as("doc_freq"))
    val n = docs.agg(count(lit(1)).as("__nd"))
    dfq.crossJoin(broadcast(n))
      .filter(col("doc_freq") >= minDf &&
        col("doc_freq") * lit(100L) <= lit(maxDfPct.toLong) * col("__nd"))
      .select(col("token"), col("doc_freq"))
      .orderBy(col("doc_freq").desc, col("token").asc)
      .limit(topK)
  }

  /** Out-of-vocabulary rate per document against an explicit vocabulary
    * (`token` column — e.g. [[buildVocabulary]]'s output, or a
    * tokenizer's term list): `(idCol, n_tokens, n_oov, oov_rate)` with
    * `oov_rate` one exact division (null for token-less docs). The
    * coverage check run before committing to a tokenizer or after a
    * domain shift — a held-out slice whose OOV rate jumps is drifting
    * away from the vocabulary the model was built on.
    *
    * Counts TOKEN INSTANCES, not types: a doc repeating one unknown
    * word 50 times is 50/50 OOV — the rate that predicts UNK density in
    * training.
    *
    * Scale shape: one token explode + one broadcast join against the
    * vocab (human-scale) + one per-doc agg.
    */
  def oovRate(docs: DataFrame, idCol: String, textCol: String,
              vocab: DataFrame): DataFrame = {
    val toks = docs.select(col(idCol),
        explode(split(Dedup.normalize(col(textCol)), " ")).as("token"))
      .filter(col("token") =!= "")
    val v = broadcast(vocab.select(col("token")).distinct()
      .withColumn("__in", lit(1)))
    val per = toks.join(v, Seq("token"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
    docs.select(col(idCol)).join(per, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        when(coalesce(col("n_tokens"), lit(0L)) === 0,
            lit(null).cast("double"))
          .otherwise(col("n_oov").cast("double") / col("n_tokens").cast("double"))
          .as("oov_rate"))
  }

  def hashedFeatures(docs: DataFrame, idCol: String, textCol: String,
                     dim: Int = 1024): DataFrame = {
    require(dim >= 2, s"dim must be >= 2, got $dim")
    Classify.hashedTf(docs, idCol, textCol, dim)
      .groupBy(col(idCol))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("__i"), col("__tf")))),
          x => concat(x.getField("__i").cast("string"), lit(":"),
            x.getField("__tf").cast("string"))),
        " ").as("features"))
  }

  /** DENSE hashed-TF vector per document — [[hashedFeatures]]'s counts
    * assembled into a fixed-width `array<double>` (`vec`), the feature
    * shape [[LogReg]] trains on: hashing trick + linear head is the
    * fastText-style quality/language classifier pipelines fit at
    * corpus scale. Token-less documents come back as the zero vector,
    * not dropped. Keep `dim` modest (the vector is dense — dim doubles
    * per row ride every shuffle downstream); a dictionary-sized sparse
    * space belongs on [[Classify.textCentroidTrain]]'s join path.
    */
  def hashedTfVector(docs: DataFrame, idCol: String, textCol: String,
                     dim: Int = 64): DataFrame = {
    require(dim >= 2, s"dim must be >= 2, got $dim")
    val maps = Classify.hashedTf(docs, idCol, textCol, dim, "int")
      .groupBy(col(idCol))
      .agg(map_from_entries(collect_list(struct(col("__i"), col("__tf"))))
        .as("__m"))
    docs.select(col(idCol)).join(maps, Seq(idCol), "left")
      .select(col(idCol),
        transform(sequence(lit(0), lit(dim - 1)),
          j => coalesce(element_at(col("__m"), j), lit(0L)).cast("double"))
          .as("vec"))
  }
}
