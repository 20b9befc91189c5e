package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Unigram language-model scoring — the CCNet-style "perplexity filter"
  * of a training-data pipeline (Wenzek et al. 2020 score documents with
  * a KenLM model and keep a quality band; the unigram model here is the
  * engine-native analogue: no external model artifact, trained on the
  * corpus itself or any reference slice in one aggregation).
  *
  * Score = mean inverse token frequency (MITF):
  * `(1/n_doc) · Σ_tokens N / count(token)` — the linear-space analogue
  * of mean surprisal. A doc of ubiquitous tokens scores near 1
  * (boilerplate-ish); a doc of corpus-rare tokens scores near N
  * (OCR noise, gibberish, wrong-language). Linear space instead of
  * `log` for the same reason [[Keywords]] uses linear IDF: every step
  * is a single exactly-rounded IEEE operation, so any engine computes
  * the bitwise-identical value, while `ln` differs in the last ulp
  * across libm implementations.
  *
  * Order-independent summation: the per-term contribution
  * `tf/c` (one exact-rounded double division) is quantized to
  * `decimal(28,15)` and summed EXACTLY — no double-sum order
  * dependence across partitionings or engines. The quantization error
  * (≤ 5·10⁻¹⁶ per distinct term, around double's own precision) is the
  * price of determinism; ties at the decimal midpoint cannot occur
  * because odd multiples of 5·10⁻¹⁶ are not binary fractions, so both
  * engines' nearest-rounding casts agree on every input.
  *
  * Scale shape: token explode (narrow) → `(doc, term)` tf aggregation
  * (the token-sized shuffle every bag-of-words operator pays) →
  * vocabulary-sized count aggregation with map-side partials → BROADCAST
  * model join (vocabulary ≪ corpus) → per-doc decimal sum with map-side
  * partials. No global ordering anywhere.
  *
  * Every scorer here (and [[CorpusStats.bigramLm]], [[Dsir]]) is built
  * from one shared layer:
  *   - [[grams]]: the word n-gram positions `(keep…, w1…wn)` of the
  *     normalized text, and [[gramTf]] their per-key counts `tf`;
  *   - [[pairModel]]: pair counts, context totals and the `minPair`
  *     cut; [[unigramModel]]: the full unigram counts plus their mass N;
  *   - [[docMean]]: the exact per-document mean — quantize each term to
  *     `decimal(28,15)`, sum exactly, divide once, and keep documents
  *     without positions (count 0, null score).
  * A scorer adds only its probability formula. Every model is a
  * broadcast join.
  */
object LmScore {

  /** The unigram "model": `(term, c)` counts over the normalized corpus
    * plus the total token mass N — one aggregation, persistable and
    * reusable as the reference model for scoring OTHER corpora (the
    * CCNet pattern: score crawl text against a clean reference corpus).
    *
    * `pruneHapax` (default on) drops c = 1 rows from the model. This is
    * LOSSLESS under [[score]]'s OOV-=-hapax convention (an absent term
    * scores exactly as c = 1 does), and it is what makes the broadcast
    * model viable at corpus scale: in a Zipf vocabulary roughly half
    * the DISTINCT terms are hapaxes (typos, ids, OCR noise — the
    * unbounded tail), so pruning halves the model while changing no
    * score. N must still be the UNPRUNED token mass, so [[score]] never
    * sums this model: self-training computes N from its own tf
    * aggregate (which sees every token), and an external model requires
    * an explicit `totalTokens`.
    */
  def unigramCounts(docs: DataFrame, textCol: String,
                    pruneHapax: Boolean = true): DataFrame = {
    val counts = docs
      .select(explode(split(Dedup.normalize(col(textCol)), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("term")).agg(count(lit(1)).as("c"))
    if (pruneHapax) counts.filter(col("c") > 1L) else counts
  }

  /** Per-document MITF score against `model` (defaults to a model
    * trained on `docs` itself). Output: `(id, n_tokens, lm_score)` —
    * `lm_score` ∈ [1, N], null for empty documents (n_tokens 0, the
    * [[TextStats.tokenCount]] empty→0 convention).
    *
    * Tokens absent from the model (scoring a NEW corpus against a
    * reference model) are treated as hapax (c = 1) — the pessimistic
    * out-of-vocabulary convention: unknown tokens are maximally
    * surprising.
    *
    * When `model` is supplied, `totalTokens` must be its N (pass what
    * `unigramCounts` summed over); when both are None, one count job
    * over the model resolves N.
    */
  def score(docs: DataFrame, idCol: String, textCol: String,
            model: Option[DataFrame] = None,
            totalTokens: Option[Long] = None): DataFrame = {
    val tf = docs
      .select(col(idCol), explode(split(Dedup.normalize(col(textCol)), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    // N from the tf side, never from the model: the model may be
    // hapax-pruned (a sum over it undercounts), and with an external
    // model N is the REFERENCE corpus's mass, which only the caller
    // knows — so it must be passed, not guessed.
    val n = totalTokens.getOrElse {
      require(model.isEmpty,
        "pass totalTokens alongside an external model (its token mass " +
          "is not derivable from possibly-pruned counts)")
      tf.agg(coalesce(sum(col("tf")), lit(0L))).head().getLong(0)
    }
    val joined = tf.join(broadcast(model.getOrElse(unigramCounts(docs, textCol))),
      Seq("term"), "left")
    // tf/c: ONE exactly-rounded double division per term; the mean is
    // (s·N)/n — decimal→double, ×N, ÷n: three exactly-rounded ops
    docMean(docs, idCol, joined,
      col("tf").cast("double") / coalesce(col("c"), lit(1L)).cast("double"),
      "n_tokens", "lm_score", scale = Some(n))
  }

  /** Word n-gram positions of `textCol`: `(keep…, w1…wn)`, one row per
    * position. ONE O(len) [[graft.expressions.WordShingles]] byte scan
    * over the normalized text emits the n-gram substrings; a true
    * n-gram has exactly n−1 joining spaces (the whole-text shingle of a
    * doc under n words has fewer), and one codegen'd split per kept
    * gram (subexpression-eliminated across the n projections) recovers
    * w1…wn. Empty boundary words from non-0x20 whitespace (`trim`
    * strips only 0x20, so a tab-led text normalizes to a leading empty
    * word) keep their position — the position multiset of the old
    * interpreted zip_with/slice builders (OptKernelsSpec pins it).
    */
  private def grams(docs: DataFrame, keep: Seq[String], textCol: String,
                    n: Int): DataFrame = {
    val g = docs.select(keep.map(col) :+ explode(
        graft.expressions.WordShingles.word_shingles(
          Dedup.normalize(col(textCol)), n)).as("__g"): _*)
      .where(length(col("__g")) -
        length(translate(col("__g"), " ", "")) === n - 1)
    val parts = split(col("__g"), " ")
    g.select(keep.map(col) ++ (1 to n).map(k => parts.getItem(k - 1).as(s"w$k")): _*)
  }

  /** [[grams]] counted per `(keep…, w1…wn)`: the `tf` column. */
  private[llm] def gramTf(docs: DataFrame, keep: Seq[String], textCol: String,
                          n: Int): DataFrame =
    grams(docs, keep, textCol, n)
      .groupBy((keep ++ (1 to n).map(k => s"w$k")).map(col): _*)
      .agg(count(lit(1)).as("tf"))

  /** The bigram model over a `(…, w1, w2, tf)` table. `counts` holds
    * `n_pair` per pair; `ctx` holds, per w1, the context total `n_ctx`
    * and the distinct-continuation count `n1p`; `kept` is `counts` cut
    * at `n_pair >= minPair`. The cut prunes the Zipf hapax tail (what
    * bounds the broadcast model at corpus scale; a pruned pair falls
    * back, the standard pruned-model semantics), while `ctx` stays over
    * the FULL pair table, so matched probabilities are true MLE.
    */
  private[llm] case class PairModel(counts: DataFrame, ctx: DataFrame,
                                    kept: DataFrame)

  private[llm] def pairModel(pairTf: DataFrame, minPair: Long): PairModel = {
    require(minPair >= 1L, s"minPair must be >= 1, got $minPair")
    val counts = pairTf.groupBy("w1", "w2").agg(sum(col("tf")).as("n_pair"))
    PairModel(counts,
      counts.groupBy("w1")
        .agg(sum(col("n_pair")).as("n_ctx"), count(lit(1)).as("n1p")),
      counts.where(col("n_pair") >= minPair))
  }

  /** The full (unpruned) unigram model as `(wordCol, __cu)` plus its
    * token mass N (one count job; 0 for a corpus without tokens).
    */
  private def unigramModel(docs: DataFrame, textCol: String,
                           wordCol: String): (DataFrame, Long) = {
    val uni = unigramCounts(docs, textCol, pruneHapax = false)
      .select(col("term").as(wordCol), col("c").as("__cu"))
    (uni, uni.agg(coalesce(sum(col("__cu")), lit(0L))).head().getLong(0))
  }

  /** The exact per-document mean every scorer ends in. `q` is a term's
    * contribution over `joined` (which carries `idCol` and `tf`): ONE
    * deterministic `decimal(28,15)` quantization per term (the header's
    * midpoint argument), an exact per-doc sum, then ONE division by the
    * doc's position count — `(s·scale)/n` when `scale` is set (MITF's
    * N). Output `(idCol, countCol, scoreCol)`, one row per `docs` row: a
    * document without positions keeps count 0 and a null score
    * (filterable, not a crash).
    */
  private[llm] def docMean(docs: DataFrame, idCol: String, joined: DataFrame,
                           q: Column, countCol: String, scoreCol: String,
                           scale: Option[Long] = None): DataFrame = {
    val s = col("__s").cast("double")
    val perDoc = joined
      .select(col(idCol), col("tf"), q.cast("decimal(28,15)").as("__q"))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as(countCol), sum(col("__q")).as("__s"))
      .select(col(idCol), col(countCol),
        (scale.fold(s)(n => s * lit(n).cast("double")) /
          col(countCol).cast("double")).as(scoreCol))
    docs.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol), coalesce(col(countCol), lit(0L)).as(countCol),
        col(scoreCol))
  }

  /** Bigram stupid-backoff predictability score — the bigram upgrade of
    * [[score]]: per document, the mean "predictability" of each token
    * given its predecessor, `mean over positions of S(w2|w1)` with
    *
    *   S(w2|w1) = c(w1,w2)/c(w1·)        when the bigram is in the model
    *            = α · c(w2)/N            otherwise (Brants et al. 2007,
    *                                     "stupid backoff")
    *
    * Gibberish/OCR noise/wrong-language text pairs tokens that never
    * co-occur → scores near 0; formulaic boilerplate scores high — the
    * complement of [[score]]'s frequency-only signal, sensitive to
    * ORDER (a bag of common words in nonsense order fools MITF but not
    * this).
    *
    * α = 0.5, not the folkloric 0.4: 0.5 is exactly representable, so
    * the backoff contribution stays ONE integer-ratio division
    * (`tf·c(w2) / (2N)`) and every engine computes the identical
    * double. Matched contributions are likewise one division of exact
    * integer products (`tf·c(w1,w2) / c(w1·)`). Each is quantized to
    * `decimal(28,15)` and summed exactly — the [[score]] portability
    * argument verbatim.
    *
    * `minPair` prunes the bigram model's hapax tail (a Zipf pair table
    * is mostly singletons); pruned pairs fall back — the standard
    * pruned-backoff semantics, and what bounds the broadcast model at
    * corpus scale. Context totals `c(w1·)` stay UNPRUNED (sums over
    * the full pair table) so matched probabilities are true MLE.
    *
    * Scale shape: one pair explode + one token explode (text read
    * twice — the price of the unigram backoff tier), `(doc, w1, w2)`
    * tf agg, corpus pair/context/unigram aggs with map-side partials,
    * broadcast model joins, one per-doc decimal-sum agg. No window, no
    * global sort.
    *
    * Output: `(idCol, n_bigrams, sb_score)`; `sb_score` ∈ (0, 1], null
    * for documents with fewer than two tokens.
    */
  def bigramBackoffScore(docs: DataFrame, idCol: String, textCol: String,
                         minPair: Long = 1L): DataFrame = {
    // corpus model DERIVED from the per-doc tf table — the pair explode
    // runs once, not once per tier
    val docPairTf = gramTf(docs, Seq(idCol), textCol, 2)
    val pm = pairModel(docPairTf, minPair)
    val (uni, n) = unigramModel(docs, textCol, "w2")
    val joined = docPairTf
      .join(broadcast(pm.kept), Seq("w1", "w2"), "left")
      .join(broadcast(pm.ctx), Seq("w1"), "left")
      .join(broadcast(uni), Seq("w2"), "left")
    docMean(docs, idCol, joined,
      when(col("n_pair").isNotNull,
        (col("tf") * col("n_pair")).cast("double") /
          col("n_ctx").cast("double"))
        .otherwise((col("tf") * coalesce(col("__cu"), lit(1L))).cast("double") /
          lit(2L * n).cast("double")),
      "n_bigrams", "sb_score")
  }

  /** JELINEK-MERCER INTERPOLATED bigram score — the smoothed-LM upgrade
    * the CCNet regime actually runs (Wenzek et al. 2020 filter on a
    * smoothed KenLM; [[bigramBackoffScore]]'s stupid backoff only
    * consults the unigram when the bigram is absent, interpolation
    * ALWAYS mixes both): per document, the mean over positions of
    *
    *   S(w2|w1) = λ·P(w2|w1) + (1−λ)·P(w2)
    *            = λ·c(w1,w2)/c(w1·) + (1−λ)·c(w2)/N
    *
    * with an unseen (or pruned) bigram contributing only the unigram
    * term — the standard pruned-interpolation semantics, and what keeps
    * the broadcast pair model Zipf-bounded ([[bigramBackoffScore]]'s
    * `minPair` argument verbatim; context totals `c(w1·)` stay
    * UNPRUNED so matched probabilities are true MLE).
    *
    * λ = 0.5 — exactly representable, so each tier is ONE division of
    * exact integer products (`tf·c(w1,w2) / (2·c(w1·))` and
    * `tf·c(w2) / (2N)`), their sum one exactly-rounded add, and the
    * [[score]] portability argument carries verbatim: quantize to
    * `decimal(28,15)`, sum exactly, ONE final IEEE division. No `ln`
    * anywhere — the linear-space perplexity analogue (higher = more
    * predictable), banded by [[bandOn]] like every score here.
    *
    * Scale shape identical to [[bigramBackoffScore]]: one pair explode
    * + one token explode, `(doc, w1, w2)` tf agg, corpus models with
    * map-side partials, broadcast model joins, one per-doc decimal-sum
    * agg. No window, no global sort.
    *
    * Output: `(idCol, n_bigrams, ilm_score)`; `ilm_score` ∈ (0, 1],
    * null for documents with fewer than two tokens.
    */
  def bigramInterpolatedScore(docs: DataFrame, idCol: String,
                              textCol: String,
                              minPair: Long = 1L): DataFrame = {
    val docPairTf = gramTf(docs, Seq(idCol), textCol, 2)
    val pm = pairModel(docPairTf, minPair)
    val (uni, n) = unigramModel(docs, textCol, "w2")
    // both tiers as exact-integer-product divisions; the bigram tier
    // contributes 0 (not a fallback boost) when the pair is unseen —
    // interpolation, not backoff
    val bigramTerm = when(col("n_pair").isNotNull,
      (col("tf") * col("n_pair")).cast("double") /
        (lit(2L) * col("n_ctx")).cast("double")).otherwise(lit(0.0d))
    val unigramTerm = (col("tf") * coalesce(col("__cu"), lit(1L)))
      .cast("double") / lit(2L * n).cast("double")
    val joined = docPairTf
      .join(broadcast(pm.kept), Seq("w1", "w2"), "left")
      .join(broadcast(pm.ctx), Seq("w1"), "left")
      .join(broadcast(uni), Seq("w2"), "left")
    docMean(docs, idCol, joined, bigramTerm + unigramTerm,
      "n_bigrams", "ilm_score")
  }

  /** INTERPOLATED TRIGRAM score — one more rung of the
    * [[bigramInterpolatedScore]] ladder toward CCNet's 5-gram KenLM:
    * per document, the mean over trigram positions of
    *
    *   S(w3|w1w2) = λ₁·P(w3|w1,w2) + λ₂·P(w3|w2) + λ₃·P(w3)
    *
    * with λ = (1/2, 1/4, 1/4) — every weight a power of two, so each
    * tier stays ONE division of exact integer products
    * (`tf·c(w1w2w3) / (2·c(w1w2·))`, `tf·c(w2w3) / (4·c(w2·))`,
    * `tf·c(w3) / (4N)`), their sum two exactly-rounded adds, then the
    * decimal(28,15) exact-sum recipe verbatim. Each order's
    * probability is MLE over its OWN position universe (the standard
    * interpolation construction): trigram counts over trigram
    * positions, bigram/unigram models shared with the bigram tier.
    * Unseen/pruned higher orders contribute 0 (never a fallback
    * boost); `minTri`/`minPair` prune the Zipf tails of the trigram
    * and bigram models (context totals stay unpruned MLE) — the same
    * hapax-context argument as the bigram tier, one order up.
    *
    * A trigram model separates what a bigram cannot: locally-plausible
    * word salad whose PAIRS are all common but whose triples never
    * co-occur. Scale shape: one more explode + (doc, w1, w2, w3) agg
    * and one more broadcast model join over the bigram tier; no
    * window, no global sort.
    *
    * Output: `(idCol, n_trigrams, tlm_score)`; null below three
    * tokens.
    */
  def trigramInterpolatedScore(docs: DataFrame, idCol: String,
                               textCol: String,
                               minTri: Long = 1L,
                               minPair: Long = 1L): DataFrame = {
    require(minTri >= 1L, s"minTri must be >= 1, got $minTri")
    val docTriTf = gramTf(docs, Seq(idCol), textCol, 3)
    val triCounts = docTriTf.groupBy("w1", "w2", "w3")
      .agg(sum(col("tf")).as("n_tri"))
    val ctx2 = triCounts.groupBy("w1", "w2")
      .agg(sum(col("n_tri")).as("n_ctx2"))
    val keptTri = triCounts.where(col("n_tri") >= minTri)
    // bigram/unigram models over their OWN position universes — the
    // same tables the bigram tier builds, shifted onto (w2, w3)
    val pm = pairModel(gramTf(docs, Seq.empty, textCol, 2), minPair)
    val keptPair = pm.kept.select(col("w1").as("w2"), col("w2").as("w3"),
      col("n_pair"))
    val ctx1 = pm.ctx.select(col("w1").as("w2"), col("n_ctx").as("n_ctx1"))
    val (uni, n) = unigramModel(docs, textCol, "w3")
    val triTerm = when(col("n_tri").isNotNull,
      (col("tf") * col("n_tri")).cast("double") /
        (lit(2L) * col("n_ctx2")).cast("double")).otherwise(lit(0.0d))
    val biTerm = when(col("n_pair").isNotNull,
      (col("tf") * col("n_pair")).cast("double") /
        (lit(4L) * col("n_ctx1")).cast("double")).otherwise(lit(0.0d))
    val uniTerm = (col("tf") * coalesce(col("__cu"), lit(1L)))
      .cast("double") / lit(4L * n).cast("double")
    val joined = docTriTf
      .join(broadcast(keptTri), Seq("w1", "w2", "w3"), "left")
      .join(broadcast(ctx2), Seq("w1", "w2"), "left")
      .join(broadcast(keptPair), Seq("w2", "w3"), "left")
      .join(broadcast(ctx1), Seq("w2"), "left")
      .join(broadcast(uni), Seq("w3"), "left")
    docMean(docs, idCol, joined, triTerm + biTerm + uniTerm,
      "n_trigrams", "tlm_score")
  }

  /** KNESER-NEY interpolated bigram score — the discounting scheme the
    * production CCNet filter actually ships (KenLM estimates interpolated
    * modified Kneser-Ney; [[bigramInterpolatedScore]]'s Jelinek-Mercer
    * mixes with FIXED weights, KN subtracts an absolute discount D from
    * every seen pair and redistributes exactly that mass through the
    * CONTINUATION distribution): per document, the mean over positions of
    *
    *   P_KN(w2|w1) = max(c(w1,w2) − D, 0)/c(w1·)
    *               + (D·N1+(w1·)/c(w1·)) · P_cont(w2)
    *   P_cont(w2)  = N1+(·w2) / N1+(··)
    *
    * where N1+(w1·) counts DISTINCT continuations of w1, N1+(·w2)
    * counts distinct contexts preceding w2, and N1+(··) is the total
    * distinct-pair count. The continuation distribution is KN's whole
    * point: "Francisco" is frequent but follows only "San", so its
    * continuation probability is tiny — a unigram fallback overrates it,
    * P_cont does not.
    *
    * D = 3/4 — the standard absolute discount, chosen here because it is
    * exactly representable: the matched term is ONE division of exact
    * integer products (`tf·(4·c(w1,w2) − 3) / (4·c(w1·))`; counts ≥ 1 so
    * the max() is structural), and the continuation term is two
    * exactly-rounded divisions and one multiply in fixed parenthesization
    * (`(3·N1+(w1·)·tf / (4·c(w1·))) · (N1+(·w2)/N1+(··))` — the
    * two-factor form keeps every integer product inside long range where
    * a single fused numerator could overflow). Then the decimal(28,15)
    * exact-sum recipe verbatim; no `ln` anywhere.
    *
    * `minPair` prunes the pair model's Zipf tail exactly as the JM tiers
    * do: pruned pairs lose their matched term (contribute only the
    * continuation mass — pruned-KN semantics), while the model tables
    * c(w1·), N1+(w1·), N1+(·w2), N1+(··) are all computed over the FULL
    * pair table so discount mass and continuation weights are true
    * statistics, not artifacts of the pruning threshold.
    *
    * Scale shape identical to [[bigramInterpolatedScore]]: one pair
    * explode, `(doc, w1, w2)` tf agg, vocabulary-sized model aggs with
    * map-side partials, broadcast model joins, one per-doc decimal-sum
    * agg, plus ONE count job for N1+(··) (a model-sized scalar, the
    * `uni` N pattern verbatim). No window, no global sort.
    *
    * Output: `(idCol, n_bigrams, kn_score)`; `kn_score` ∈ (0, 1], null
    * for documents with fewer than two tokens.
    */
  def knBigramScore(docs: DataFrame, idCol: String, textCol: String,
                    minPair: Long = 1L): DataFrame = {
    val docPairTf = gramTf(docs, Seq(idCol), textCol, 2)
    val pm = pairModel(docPairTf, minPair)
    // continuation counts: distinct contexts PRECEDING each w2
    val contw = pm.counts.groupBy("w2").agg(count(lit(1)).as("t_w2"))
    // N1+(··): total distinct pairs — one model-sized count job
    val tTot = pm.counts.count()
    // matched term: counts >= 1 make 4c − 3 >= 1, so max(c − D, 0) is
    // structurally the positive branch
    val matchedTerm = when(col("n_pair").isNotNull,
      (col("tf") * (lit(4L) * col("n_pair") - lit(3L))).cast("double") /
        (lit(4L) * col("n_ctx")).cast("double")).otherwise(lit(0.0d))
    // continuation term: ((3·n1p·tf)/(4·ctx)) · (t_w2/T) — two divisions
    // + one multiply, each exactly rounded, parenthesization pinned so
    // the oracle computes the bitwise-identical double
    val contTerm = (lit(3L) * col("n1p") * col("tf")).cast("double") /
      (lit(4L) * col("n_ctx")).cast("double") *
      (col("t_w2").cast("double") / lit(tTot).cast("double"))
    val joined = docPairTf
      .join(broadcast(pm.kept), Seq("w1", "w2"), "left")
      .join(broadcast(pm.ctx), Seq("w1"), "left")
      .join(broadcast(contw), Seq("w2"), "left")
    docMean(docs, idCol, joined, matchedTerm + contTerm,
      "n_bigrams", "kn_score")
  }

  /** The modified-KN discount triple (D1, D2, D3+) from count-of-counts
    * (Chen & Goodman 1999): `Y = n1/(n1 + 2·n2)`, `Dk = k − (k+1)·Y·
    * n(k+1)/nk` — each a pinned left-associated chain of exactly-rounded
    * double ops over exact long→double casts, so the oracle's SQL
    * restatement computes the bitwise-identical discounts. Degenerate
    * count-of-counts (any of n1, n2, n3 zero — tiny or pathologically
    * repetitive corpora, where KenLM itself refuses to estimate) fall
    * back to the plain absolute discount `(3/4, 3/4, 3/4)`, keeping the
    * operator total and deterministic instead of NaN-poisoned.
    */
  private[llm] def mknDiscounts(n1: Long, n2: Long,
                                n3: Long, n4: Long): (Double, Double, Double) =
    if (n1 == 0L || n2 == 0L || n3 == 0L) (0.75, 0.75, 0.75)
    else {
      val (n1d, n2d, n3d, n4d) = (n1.toDouble, n2.toDouble, n3.toDouble,
        n4.toDouble)
      val y = n1d / (n1d + 2.0 * n2d)
      (1.0 - 2.0 * y * n2d / n1d,
        2.0 - 3.0 * y * n3d / n2d,
        3.0 - 4.0 * y * n4d / n3d)
    }

  /** MODIFIED KNESER-NEY at ARBITRARY ORDER — the Chen & Goodman
    * estimator KenLM actually ships, at the CCNet production regime
    * (Wenzek et al. filter with a 5-gram KenLM; `order = 3` is the
    * interpolated trigram the `lm_score_kn3` gate pins): per n-gram
    * position,
    *
    *   P_k = (c_k − D_k(c_k))/c_k(ctx·) + γ_k(ctx)·P_{k−1}   (k = n..2)
    *   P_1 = N1+(·w_n) / |T_2|
    *
    * where the level-n counts are raw n-gram counts, every lower
    * level's counts are CONTINUATION counts (level k's type table =
    * the distinct level-(k+1) types projected onto their last k words,
    * counted — the Chen & Goodman chain), each level's three discounts
    * come from that level's own count-of-counts ([[mknDiscounts]],
    * with the degenerate 3/4 fallback per level), and γ_k is the
    * per-context reserved mass `(D1·N1 + D2·N2 + D3·N3+)/c_k(ctx·)`.
    * `minTop` prunes only the TOP level's matched tier (pruned n-grams
    * keep their backoff mass); all statistics are over full tables.
    *
    * Same exactness recipe: pinned-parenthesization double ops over
    * exact integer casts and shared per-level discount doubles, then
    * `tf × score` decimal(28,15) exact-summed; no `ln`.
    *
    * Scale shape: ONE n-gram explode + `(doc, gram)` tf agg (the
    * n-gram-sized shuffle any order-n model pays), a chain of n−1
    * type-table aggregations each SMALLER than its parent (T_k groups
    * T_{k+1} by a suffix), per-level context aggs with map-side
    * partials, 2(n−1)+1 model-sized driver scalars (count-of-count
    * rows + one type count), and 2(n−1)+1 broadcast model joins on one
    * pass over the position table. Type tables are checkpointed for
    * their three consumers each. No window, no global sort.
    *
    * Output: `(idCol, n_grams, kn_score)`; null below `order` tokens.
    */
  def knNgramScore(docs: DataFrame, idCol: String, textCol: String,
                   order: Int, minTop: Long = 1L,
                   model: Option[DataFrame] = None): DataFrame = {
    require(order >= 2 && order <= 8, s"order must be in [2, 8], got $order")
    require(minTop >= 1L, s"minTop must be >= 1, got $minTop")
    val n = order
    val wNames = (1 to n).map(k => s"w$k")
    val docTf = gramTf(docs, Seq(idCol), textCol, n)
    // type-table chain: T_n = raw n-gram counts over the MODEL corpus
    // (`model` = the CCNet reference-corpus setting: score `docs`
    // against statistics trained elsewhere; None = self-corpus, reusing
    // the tf aggregate so no second scan); T_k = T_{k+1}'s types
    // projected onto their last k words, counted (continuation counts).
    // Each table has three consumers and is a localCheckpoint, NOT a
    // persist: a persist registers the plan in the CacheManager and is
    // never released here, so every later identical query (and the
    // bench's second trial) silently reused it — accidental cross-query
    // result caching. The checkpoint materializes once, unregistered.
    val typeTables = scala.collection.mutable.Map.empty[Int, DataFrame]
    typeTables(n) = model.fold(docTf)(gramTf(_, Seq.empty, textCol, n))
      .groupBy(wNames.map(col): _*)
      .agg(sum(col("tf")).as(s"cnt_$n"))
      .localCheckpoint(true)
    var k = n - 1
    while (k >= 2) {
      val keys = (n - k + 1 to n).map(j => s"w$j")
      typeTables(k) = typeTables(k + 1)
        .groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as(s"cnt_$k"))
        .localCheckpoint(true)
      k -= 1
    }
    def ccOf(t: DataFrame, cntCol: String): (Double, Double, Double) = {
      val r = t.agg(
        coalesce(sum(when(col(cntCol) === 1L, 1L).otherwise(0L)), lit(0L)),
        coalesce(sum(when(col(cntCol) === 2L, 1L).otherwise(0L)), lit(0L)),
        coalesce(sum(when(col(cntCol) === 3L, 1L).otherwise(0L)), lit(0L)),
        coalesce(sum(when(col(cntCol) === 4L, 1L).otherwise(0L)), lit(0L))).head()
      mknDiscounts(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }
    val discounts: Map[Int, (Double, Double, Double)] =
      (2 to n).map(k => k -> ccOf(typeTables(k), s"cnt_$k")).toMap
    val ctxTables: Map[Int, DataFrame] = (2 to n).map { k =>
      val ctxKeys = (n - k + 1 until n).map(j => s"w$j")
      k -> typeTables(k).groupBy(ctxKeys.map(col): _*)
        .agg(sum(col(s"cnt_$k")).as(s"ctx_$k"),
          sum(when(col(s"cnt_$k") === 1L, 1L).otherwise(0L)).as(s"t1_$k"),
          sum(when(col(s"cnt_$k") === 2L, 1L).otherwise(0L)).as(s"t2_$k"),
          sum(when(col(s"cnt_$k") >= 3L, 1L).otherwise(0L)).as(s"t3p_$k"))
    }.toMap
    val contw = typeTables(2).groupBy(s"w$n").agg(count(lit(1)).as("t_wn"))
    val tTot = typeTables(2).count()
    val keptTop = typeTables(n).where(col(s"cnt_$n") >= minTop)
    var joined = docTf
      .join(broadcast(keptTop), wNames, "left")
    k = n - 1
    while (k >= 2) {
      joined = joined.join(broadcast(typeTables(k)),
        (n - k + 1 to n).map(j => s"w$j"), "left")
      k -= 1
    }
    (2 to n).foreach { k =>
      joined = joined.join(broadcast(ctxTables(k)),
        (n - k + 1 until n).map(j => s"w$j"), "left")
    }
    joined = joined.join(broadcast(contw), Seq(s"w$n"), "left")
    var p: Column =
      coalesce(col("t_wn"), lit(1L)).cast("double") /
        lit(tTot).cast("double")
    (2 to n).foreach { k =>
      val (d1, d2, d3) = discounts(k)
      val cnt = col(s"cnt_$k")
      val ctx = col(s"ctx_$k").cast("double")
      val dOf = when(cnt === 1L, lit(d1)).when(cnt === 2L, lit(d2))
        .otherwise(lit(d3))
      val matched = when(cnt.isNotNull,
        (cnt.cast("double") - dOf) / ctx).otherwise(lit(0.0d))
      val gamma = (lit(d1) * col(s"t1_$k").cast("double")
        + lit(d2) * col(s"t2_$k").cast("double")
        + lit(d3) * col(s"t3p_$k").cast("double")) / ctx
      p = when(col(s"ctx_$k").isNotNull, matched + gamma * p).otherwise(p)
    }
    docMean(docs, idCol, joined, col("tf").cast("double") * p,
      "n_grams", "kn_score")
  }

  /** CCNet-style band label over the score: documents below `lo` are
    * head-boilerplate, above `hi` tail-noise, between is the band a
    * perplexity filter keeps. Thresholds compare against the bitwise-
    * deterministic score, so banding is deterministic too.
    */
  def band(scored: DataFrame, lo: Double, hi: Double): DataFrame =
    bandOn(scored, "lm_score", lo, hi, "lm_band")

  /** [[band]] over any score column (the interpolated tier's
    * `ilm_score`, an external model's column) — same semantics, caller
    * names the in and out columns.
    */
  def bandOn(scored: DataFrame, scoreCol: String, lo: Double, hi: Double,
             outCol: String): DataFrame = {
    require(lo <= hi, s"need lo <= hi, got lo=$lo hi=$hi")
    scored.withColumn(outCol,
      when(col(scoreCol).isNull, "empty")
        .when(col(scoreCol) < lo, "common")
        .when(col(scoreCol) > hi, "rare")
        .otherwise("mid"))
  }
}
