package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable
import scala.reflect.ClassTag
import scala.reflect.runtime.universe.TypeTag

/** Unigram-LM tokenizer — the OTHER production subword family (Kudo
  * 2018, the SentencePiece unigram model shipped by T5/Llama-class
  * tokenizers; [[Bpe]] covers the GPT-class merge family): a vocabulary
  * of PIECES with probabilities, segmentation by Viterbi
  * (maximum-product-of-piece-probabilities), and training by EM over
  * (segment → recount) rounds.
  *
  * Semantics (pinned, engine-portable):
  *   - Words are the whitespace-normalized tokens of `trim(lower(text))`
  *     — the [[Bpe.Regime.Char]] convention. Pieces never cross a
  *     word boundary.
  *   - All string positions are CODE POINTS (what Spark `substring`/
  *     `length` and DuckDB `substr`/`len` both count — the JVM kernel
  *     steps `offsetByCodePoints`, never UTF-16 units, so surrogate
  *     pairs segment identically in both engines).
  *   - Piece score = `greatest(cnt/N, 2^−40)` with N the model's total
  *     mass: ONE exactly-rounded division (both factors exact longs)
  *     and an exactly-representable floor (`1/2^40`; the floor also
  *     scores OOV single code points, so segmentation is TOTAL — any
  *     string segments, unknown characters pass through as singles).
  *     No `ln` anywhere: Viterbi runs on raw products.
  *   - VITERBI: `best(i) = max over j of best(j)·score(word[j..i))`,
  *     j ascending with strict `>` — ties break to the SMALLEST j
  *     (= the longest final piece), pinned for the oracle.
  *   - Underflow is structurally impossible: a word is DP'd in chunks
  *     of at most [[MaxDpLen]] = 24 code points (longer words split into
  *     consecutive 24-cp segments segmented independently — the
  *     SentencePiece max-length analogue), and the floored per-piece
  *     score is ≥ 2^−40, so any partial product is ≥ 2^−960 — far above
  *     the 2^−1022 normal range, never subnormal, bitwise portable.
  *   - TRAINING is hard-EM (Viterbi E-step): expected counts are the
  *     piece counts of each word's Viterbi-best segmentation weighted by
  *     word frequency; the M-step renormalizes and prunes to the budget.
  *     (Kudo's soft forward–backward E-step is [[emStepSoft]].)
  *     Single-code-point pieces are NEVER pruned (they are the totality
  *     floor), surviving at count 0 when unused.
  *
  * Every operator here is built from one private lattice layer:
  *   - [[chunks]]: the word's code-point offset table, cut into the
  *     consecutive [[MaxDpLen]]-cp chunks every kernel segments on
  *     their own;
  *   - [[viterbiIn]]: the one Viterbi DP over those chunks, in the
  *     product space ([[viterbiSegment]]) or the log space of the
  *     imported tier ([[viterbiSegmentLog]]) — a [[Space]] supplies only
  *     the identity, the no-edge test and the combine op;
  *     [[fbExpectations]] runs its α/β folds on the same chunks;
  *   - [[scoreMap]]: `max(mass/total, 2^−40)` over a counted
  *     ([[scoresOf]]) or weighted ([[scoresOfWeighted]]) model;
  *   - [[budgetCut]]: all singles (plus, in EM, the previous model's
  *     singles at mass 0) and the top-`budget` multis by
  *     `(mass desc, piece asc)` — the seed's, the hard and the soft
  *     M-step's cut;
  *   - [[emTrain]]: persist the word table, seed, run the rounds,
  *     materialize the final model, release the table — the loop of
  *     [[trainHard]], [[trainHardSp]] and [[trainSoft]].
  * An operator adds only its words and its round.
  *
  * Scale shape: the corpus-sized work is ONE distributed word-count
  * aggregation ([[Bpe.wordCounts]], or [[wordCountsSp]] through the same
  * typed unit counter); everything after runs on the DISTINCT-word table
  * (Heaps-bounded ≪ corpus). Seeding is a narrow substring explode + one
  * aggregation; each EM round is a narrow broadcast-model Viterbi kernel
  * over distinct words ([[Bpe.MemoCap]]-bounded memos) + one piece-count
  * aggregation + a top-`budget` TakeOrdered. Encoding runs [[Bpe]]'s
  * shared narrow kernel ([[Bpe.segmentRows]]) with the Viterbi
  * segmenter. The model is rows (`piece, cnt`) — parquet-persistable,
  * bounded-collect on use.
  */
object Unigram {

  /** The probability floor and OOV-single score: 2^−40, written as a
    * division of exactly-representable values so any engine computes
    * the identical double.
    */
  val POov: Double = 1.0 / 1099511627776.0

  /** Maximum code points per Viterbi DP — the underflow bound (see the
    * header: 24·40 < 1022). Longer words chunk.
    */
  val MaxDpLen: Int = 24

  // ---- the lattice layer -------------------------------------------------

  /** One ≤ [[MaxDpLen]]-cp chunk of a word's lattice: positions `0..n`
    * in code points, [[piece]] the text between two of them.
    */
  private final class Chunk(word: String, offs: Array[Int], base: Int,
                            val n: Int) {
    def piece(j: Int, i: Int): String =
      word.substring(offs(base + j), offs(base + i))
  }

  /** The chunked lattice scaffold: the word's code-point start offsets
    * into its UTF-16 backing (a surrogate pair is one position), cut into
    * consecutive [[MaxDpLen]]-cp chunks in word order. An empty word has
    * no chunk.
    */
  private def chunks(word: String): Iterator[Chunk] = {
    val n = word.codePointCount(0, word.length)
    val offs = new Array[Int](n + 1)
    var t = 0
    while (t < n) {
      offs(t + 1) = word.offsetByCodePoints(offs(t), 1)
      t += 1
    }
    Iterator.range(0, n, MaxDpLen)
      .map(c => new Chunk(word, offs, c, math.min(MaxDpLen, n - c)))
  }

  /** A Viterbi score space: the empty path's score, which piece scores
    * are lattice edges, and how an edge extends a path — ONE
    * exactly-rounded IEEE op, so every engine picks the same path.
    */
  private sealed abstract class Space {
    def identity: Double
    def isEdge(p: Double): Boolean
    def combine(path: Double, p: Double): Double
  }

  /** Probabilities ([[mkScore]]; −1 = no edge): paths multiply. */
  private object ProductSpace extends Space {
    def identity: Double = 1.0
    def isEdge(p: Double): Boolean = p > 0
    def combine(path: Double, p: Double): Double = path * p
  }

  /** Log-probabilities ([[mkScoreLog]]; NaN = no edge): paths add. */
  private object LogSpace extends Space {
    def identity: Double = 0.0
    def isEdge(p: Double): Boolean = !p.isNaN
    def combine(path: Double, p: Double): Double = path + p
  }

  /** THE Viterbi DP, chunk by chunk: `best(i) = max over j of
    * combine(best(j), score(word[j..i)))` with j ascending and strict
    * `>` — ties go to the smallest j — then the backpointer walk. A
    * position no edge reaches stays at −∞, which no combine beats.
    * Pure and deterministic in `(word, score, maxPieceLen)` — memoizable
    * per partition.
    */
  private def viterbiIn(space: Space, word: String, score: String => Double,
                        maxPieceLen: Int): Array[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    chunks(word).foreach { c =>
      val best = new Array[Double](c.n + 1)
      val bp = new Array[Int](c.n + 1)
      best(0) = space.identity
      var i = 1
      while (i <= c.n) {
        var b = Double.NegativeInfinity
        var a = -1
        var j = math.max(0, i - maxPieceLen)
        while (j < i) {
          val p = score(c.piece(j, i))
          if (space.isEdge(p)) {
            val cand = space.combine(best(j), p)
            if (cand > b) { b = cand; a = j }
          }
          j += 1
        }
        best(i) = b
        bp(i) = a
        i += 1
      }
      val seg = mutable.ListBuffer.empty[String]
      var k = c.n
      while (k > 0) {
        val j = bp(k)
        c.piece(j, k) +=: seg
        k = j
      }
      out ++= seg
    }
    out.toArray
  }

  /** The Viterbi kernel: best-product segmentation of one word. */
  private[llm] def viterbiSegment(word: String, score: String => Double,
                                  maxPieceLen: Int): Array[String] =
    viterbiIn(ProductSpace, word, score, maxPieceLen)

  /** Per-chunk forward–backward edge expectations of one word — the
    * SOFT (true Kudo) E-step kernel: over each chunk's piece lattice,
    *
    *   α(0) = 1;  α(i) = Σ_j α(j)·p(word[j..i))   (ascending j)
    *   β(n) = 1;  β(j) = Σ_i p(word[j..i))·β(i)   (ascending i)
    *   E[(j,i)]  = ((α(j)·p)·β(i)) / α(n)
    *
    * Every sum is a sequential left-fold in PINNED order (ascending j /
    * ascending i, seeded at 0.0 — exact for positive terms), every
    * product/division one exactly-rounded op in pinned parenthesization,
    * so both engines produce bitwise-identical expectations. The
    * [[chunks]] of [[viterbiSegment]] and its 2^−40 floor keep all
    * quantities inside the normal double range (α is also bounded above
    * by the path count ≤ 2^23 at 24 positions — no overflow). Emits
    * `(piece, expectation)` rows, one per lattice edge.
    */
  private[llm] def fbExpectations(word: String, score: String => Double,
                                  maxPieceLen: Int): Iterator[(String, Double)] =
    chunks(word).flatMap { c =>
      val n = c.n
      val alpha = new Array[Double](n + 1)
      alpha(0) = 1.0
      var i = 1
      while (i <= n) {
        var s = 0.0
        var j = math.max(0, i - maxPieceLen)
        while (j < i) {
          val p = score(c.piece(j, i))
          if (p > 0) s += alpha(j) * p
          j += 1
        }
        alpha(i) = s
        i += 1
      }
      val beta = new Array[Double](n + 1)
      beta(n) = 1.0
      var j = n - 1
      while (j >= 0) {
        var s = 0.0
        var e = j + 1
        val eMax = math.min(n, j + maxPieceLen)
        while (e <= eMax) {
          val p = score(c.piece(j, e))
          if (p > 0) s += p * beta(e)
          e += 1
        }
        beta(j) = s
        j -= 1
      }
      val z = alpha(n)
      val out = mutable.ArrayBuffer.empty[(String, Double)]
      var jj = 0
      while (jj < n) {
        var e = jj + 1
        val eMax = math.min(n, jj + maxPieceLen)
        while (e <= eMax) {
          val piece = c.piece(jj, e)
          val p = score(piece)
          if (p > 0) {
            // pinned parenthesization: ((α·p)·β)/Z
            out += piece -> (alpha(jj) * p * beta(e) / z)
          }
          e += 1
        }
        jj += 1
      }
      out.iterator
    }

  /** The one score map: `piece → max(mass/total, 2^−40)`, `mass` a
    * decimal column. The total is an EXACT decimal sum; it and every
    * mass leave decimal through the correctly-rounded
    * `BigDecimal.doubleValue` (= the oracle's VARCHAR route), then ONE
    * exactly-rounded division.
    */
  private def scoreMap(model: DataFrame, mass: Column): Map[String, Double] = {
    val rows = model.select(col("piece"), mass).collect()
    val total = rows.iterator.map(_.getDecimal(1))
      .foldLeft(java.math.BigDecimal.ZERO)(_ add _).doubleValue
    require(total > 0, "unigram model has zero total mass")
    rows.iterator.map { r =>
      r.getString(0) -> math.max(r.getDecimal(1).doubleValue / total, POov)
    }.toMap
  }

  /** The one budget cut over a `(piece, mass)` table: every single-cp
    * piece, then (in EM) `prev`'s singles the round did not reach at
    * mass 0 — the totality floor survives — then the top-`budget`
    * multi-cp pieces by `(mass desc, piece asc)`, the deterministic
    * ranking every bounded model here uses.
    */
  private def budgetCut(counts: DataFrame, mass: String, budget: Int,
                        prev: Option[DataFrame]): DataFrame = {
    val single = length(col("piece")) === 1
    val kept = prev.map(_.select(col("piece")).where(single)
      .join(counts, Seq("piece"), "left_anti")
      .select(col("piece"), lit(0).cast(counts.schema(mass).dataType).as(mass)))
    val multis = counts.where(length(col("piece")) > 1)
      .orderBy(col(mass).desc, col("piece").asc).limit(budget)
    (counts.where(single) +: kept.toSeq :+ multis).reduce(_ unionByName _)
  }

  /** The one EM loop: persist the `(word, cnt)` table, seed it
    * ([[seedVocabFromWordCounts]] at `seedBudget`), run `iters` rounds
    * (`round(wc, model, i)`), materialize the final model, release the
    * table.
    */
  private def emTrain(wc: DataFrame, iters: Int, maxPieceLen: Int,
                      seedBudget: Int)(
      round: (DataFrame, DataFrame, Int) => DataFrame): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val table = wc.persist(StorageLevel.MEMORY_AND_DISK)
    var model = seedVocabFromWordCounts(table, maxPieceLen, seedBudget)
    for (i <- 0 until iters) model = round(table, model, i)
    // localCheckpoint, NOT persist: materializes the bounded model once
    // (before the word table it references is released) WITHOUT
    // registering the plan in the CacheManager — a registered never-
    // unpersisted model plan was silently substituted into every later
    // identical query (and the bench's second trial), i.e. accidental
    // cross-query result caching (r15 verdict #4's re-caching warning).
    val out = model.localCheckpoint(true)
    table.unpersist()
    out
  }

  // ---- operators ---------------------------------------------------------

  /** Seed vocabulary over a `(word, cnt)` table: every substring of
    * 1..`maxPieceLen` code points, weighted by word frequency (a
    * substring occurring twice in a word counts twice), through the
    * [[budgetCut]]. Output `(piece, cnt)`.
    */
  def seedVocabFromWordCounts(wc: DataFrame, maxPieceLen: Int = 10,
                              budget: Int = 4096): DataFrame = {
    require(maxPieceLen >= 1, s"maxPieceLen must be >= 1, got $maxPieceLen")
    require(budget >= 0, s"budget must be >= 0, got $budget")
    val n = length(col("word"))
    val subs = wc.select(col("cnt").cast("long").as("__c"),
      explode(flatten(transform(sequence(lit(1), n), s =>
        transform(sequence(lit(1), least(lit(maxPieceLen), n - s + lit(1))),
          l => col("word").substr(s, l))))).as("piece"))
    budgetCut(subs.groupBy("piece").agg(sum(col("__c")).as("cnt")), "cnt",
      budget, None)
  }

  /** [[seedVocabFromWordCounts]] over a corpus. */
  def seedVocab(docs: DataFrame, textCol: String, maxPieceLen: Int = 10,
                budget: Int = 4096): DataFrame =
    seedVocabFromWordCounts(Bpe.wordCounts(docs, textCol), maxPieceLen,
      budget)

  /** Collected piece→score map of a model (bounded-model contract, the
    * [[Bpe.mergesOf]] analogue): `score = max(cnt/N, 2^−40)` with N the
    * model's total mass.
    */
  def scoresOf(model: DataFrame): Map[String, Double] =
    scoreMap(model, col("cnt").cast("long").cast("decimal(20,0)"))

  /** Score lookup closure over a collected model: vocab pieces at their
    * clamped probability, OOV SINGLE code points at the floor, OOV
    * multi-cp pieces absent (−1 = not a lattice edge).
    */
  private[llm] def mkScore(m: Map[String, Double]): String => Double =
    piece => m.getOrElse(piece,
      if (piece.codePointCount(0, piece.length) == 1) POov else -1.0)

  /** The Viterbi segmenter over a collected score map, built per
    * partition: the per-word encoder [[Bpe.segmentRows]] memoizes.
    */
  private def viterbi(maxPieceLen: Int)(scores: Map[String, Double])
      : String => Array[String] = {
    val sc = mkScore(scores)
    w => viterbiSegment(w, sc, maxPieceLen)
  }

  /** [[Bpe.encodeDocs]] with `n_pieces` as long — every unigram encode's
    * `(idCol, outCol, n_pieces)` shape.
    */
  private def encodePieces[M: ClassTag, V: TypeTag: ClassTag](
      docs: DataFrame, idCol: String, text: Column,
      words: String => Iterator[String], model: M, outCol: String)(
      segment: M => String => Array[V]): DataFrame =
    Bpe.encodeDocs(docs, idCol, text, words, model, outCol, "n_pieces")(
        segment)
      .withColumn("n_pieces", col("n_pieces").cast("long"))

  /** Viterbi-encode a corpus under a model: `(idCol, pieces, n_pieces)`
    * — [[Bpe.Regime.Char]]'s normalizer and words through the shared
    * zero-shuffle kernel: broadcast scores, per-partition word→pieces
    * memo, empty text → empty array.
    */
  def encode(docs: DataFrame, idCol: String, textCol: String,
             model: DataFrame, maxPieceLen: Int = 10): DataFrame =
    encodePieces(docs, idCol, Bpe.Regime.Char.normalize(col(textCol)),
      Bpe.Regime.Char.words, scoresOf(model), "pieces")(viterbi(maxPieceLen))

  /** [[Bpe.segmentRows]] over a `(word, cnt)` table, each word one
    * unit, one output row per segment element: `(__c, __s)` — the
    * E-steps' shared narrow scan.
    */
  private def segmentWordCounts[M: ClassTag, V: TypeTag: ClassTag](
      wc: DataFrame, model: M)(segment: M => String => Array[V]): DataFrame = {
    import wc.sparkSession.implicits._
    Bpe.segmentRows(wc.select(col("cnt").cast("long"), col("word"))
        .as[(Long, String)], model, Iterator.single(_))(segment)
      .toDF("__c", "__seg")
      .select(col("__c"), explode(col("__seg")).as("__s"))
  }

  /** One hard-EM round: Viterbi-segment the distinct-word table under
    * `model`, recount pieces weighted by word frequency, then the
    * [[budgetCut]] keeping `model`'s singles. Output `(piece, cnt)` —
    * the next round's model.
    */
  def emStepHard(wc: DataFrame, model: DataFrame, maxPieceLen: Int = 10,
                 budget: Int = 4096): DataFrame = {
    val segmented = segmentWordCounts(wc, scoresOf(model))(
        viterbi(maxPieceLen))
      .select(col("__s").as("piece"), col("__c"))
    budgetCut(segmented.groupBy("piece").agg(sum(col("__c")).as("cnt")),
      "cnt", budget, Some(model))
  }

  // ---- ▁-marker (SentencePiece word-boundary) tier -----------------------
  //
  // The tier above lowercases and discards word boundaries — right for
  // shared-word analytics, wrong for a production artifact. SentencePiece
  // proper is CASE-PRESERVING and marks word boundaries with ▁ (U+2581):
  // whitespace runs collapse, every word carries a leading ▁ (including
  // the first — the add_dummy_prefix convention), and decode is
  // concat → ▁→space → drop the leading space. That makes the token
  // stream losslessly invertible back to the whitespace-collapsed text —
  // the [[Bpe.Regime.Bytes]] Ġ-convention, one family over. (Precondition
  // shared with real SentencePiece: text containing a literal ▁ decodes
  // it as a space — the marker is reserved.)

  /** The SP tier's normalizer: optional NFKC compatibility fold (the
    * SentencePiece nmt-NFKC-family default — ligatures split, fullwidth
    * forms fold, compatibility spaces become U+0020 BEFORE the
    * whitespace collapse, so an NBSP becomes a word boundary), then
    * trim + whitespace-run collapse.
    */
  private def spNorm(textCol: String, nfkc: Boolean): Column = {
    val t = coalesce(col(textCol), lit(""))
    val n = if (nfkc) graft.expressions.UnicodeNormalize.unicode_nfkc(t) else t
    regexp_replace(trim(n), "\\s+", " ")
  }

  /** The ▁ tier's words: every normalized word as `▁word`. */
  private def spWords(t: String): Iterator[String] =
    t.split(" ").iterator.map("▁" + _)

  /** Case-preserving `(word, cnt)` table with the ▁ marker prepended to
    * every word — the SP tier's training input, counted by
    * [[Bpe.countUnits]]. An empty split unit is no word here (the encode
    * side still emits it as a lone `▁`, which `decodeSp` reads back).
    */
  def wordCountsSp(docs: DataFrame, textCol: String,
                   nfkc: Boolean = false): DataFrame =
    Bpe.countUnits(docs, spNorm(textCol, nfkc), t => spWords(t).filter(_ != "▁"))

  /** [[seedVocab]] under the ▁ convention. */
  def seedVocabSp(docs: DataFrame, textCol: String, maxPieceLen: Int = 10,
                  budget: Int = 4096, nfkc: Boolean = false): DataFrame =
    seedVocabFromWordCounts(wordCountsSp(docs, textCol, nfkc), maxPieceLen,
      budget)

  /** [[encode]] under the ▁ convention: case preserved, every word
    * entering the kernel as `▁word`. Same zero-shuffle broadcast+memo
    * shape; [[decodeSp]] inverts the stream exactly.
    */
  def encodeSp(docs: DataFrame, idCol: String, textCol: String,
               model: DataFrame, maxPieceLen: Int = 10,
               nfkc: Boolean = false): DataFrame =
    encodePieces(docs, idCol, spNorm(textCol, nfkc), spWords,
      scoresOf(model), "pieces")(viterbi(maxPieceLen))

  /** Exact inverse of [[encodeSp]]: `(idCol, text_rt)` — concatenate,
    * ▁→space, drop the leading space. `decodeSp ∘ encodeSp` is the
    * identity on the whitespace-collapsed trimmed text (gate-pinned).
    */
  def decodeSp(enc: DataFrame, idCol: String): DataFrame = {
    val joined = array_join(col("pieces"), "")
    enc.select(col(idCol),
      when(size(col("pieces")) === 0, lit(""))
        .otherwise(substring(translate(joined, "▁", " "), 2,
          Int.MaxValue)).as("text_rt"))
  }

  /** [[trainHard]] under the ▁ convention. */
  def trainHardSp(docs: DataFrame, textCol: String, iters: Int = 2,
                  maxPieceLen: Int = 10, budget: Int = 4096,
                  seedBudget: Int = 65536, nfkc: Boolean = false): DataFrame =
    emTrain(wordCountsSp(docs, textCol, nfkc), iters, maxPieceLen,
      seedBudget)((wc, m, _) => emStepHard(wc, m, maxPieceLen, budget))

  /** Trainer-contract id table over a model: `(piece_id, piece)` with
    * ids assigned by `(cnt desc, piece asc)` — the budget ranking, so
    * id order IS mass order and a truncated id range keeps the
    * highest-mass pieces. Driver-side zipWithIndex over the collected
    * model (the [[Bpe.vocab]] bounded-model contract).
    */
  def vocabIds(model: DataFrame): DataFrame = {
    val spark = model.sparkSession
    import spark.implicits._
    val rows = model.select(col("piece"), col("cnt").cast("long"))
      .as[(String, Long)].collect()
      .sortBy { case (p, c) => (-c, p) }
    spark.createDataset(rows.toIndexedSeq.zipWithIndex
        .map { case ((p, _), i) => (i, p) })
      .toDF("piece_id", "piece")
  }

  /** Viterbi-encode to integer ids: `(idCol, piece_ids, n_pieces)` —
    * [[encode]]'s pieces mapped through a broadcast `(piece, piece_id)`
    * table ([[vocabIds]] output), the [[Bpe.encodeIds]] shape. Pieces
    * absent from the id table map to −1 (only possible for OOV
    * single-code-point pass-throughs when encoding text whose charset
    * the model never saw — impossible self-corpus, spec-pinned).
    */
  def encodeIds(docs: DataFrame, idCol: String, textCol: String,
                model: DataFrame, vocabDf: DataFrame,
                maxPieceLen: Int = 10): DataFrame =
    encodePieces(docs, idCol, Bpe.Regime.Char.normalize(col(textCol)),
      Bpe.Regime.Char.words,
      (scoresOf(model), Bpe.idsOf(vocabDf, "piece", "piece_id")),
      "piece_ids") { case (scores, vm) =>
      val seg = viterbi(maxPieceLen)(scores)
      w => seg(w).map(vm.getOrElse(_, -1))
    }

  /** Per-group fertility (pieces per word) under a model — the
    * [[Bpe.fertility]] shape: tokenizer-quality triage per language/
    * source slice, one encode scan + one partial-agg rollup, fertility
    * = ONE exactly-rounded double division.
    */
  def fertility(docs: DataFrame, idCol: String, textCol: String,
                groupCol: String, model: DataFrame,
                maxPieceLen: Int = 10): DataFrame =
    Bpe.fertilityRollup(encode(docs, idCol, textCol, model, maxPieceLen),
      docs, idCol, groupCol, Bpe.Regime.Char.wordCount(col(textCol)),
      "n_pieces")

  /** One SOFT-EM round (the true Kudo E-step, [[emStepHard]]'s
    * refinement): per-piece EXPECTED masses under the current model —
    * each lattice edge contributes its posterior probability times the
    * word's corpus frequency (the frequency multiply is one more
    * exactly-rounded op), quantized to `decimal(28,15)` and summed
    * EXACTLY (the [[LmScore]] portability recipe — no summation-order
    * dependence across partitionings or engines), then the
    * [[budgetCut]] by `(weight desc, piece asc)` — decimal comparisons
    * are exact, so the cut is deterministic. Output
    * `(piece, weight: decimal)`.
    *
    * What soft catches that hard cannot: a piece that is never in any
    * single BEST segmentation but carries posterior mass across many
    * near-best ones keeps a nonzero weight instead of being pruned on
    * the first round. (The training default stays [[trainHard]]:
    * integer masses keep every later consumer's exactness story one hop
    * shorter.)
    */
  def emStepSoft(wc: DataFrame, model: DataFrame, maxPieceLen: Int = 10,
                 budget: Int = 4096): DataFrame =
    emStepSoftScores(wc, scoresOf(model), model, maxPieceLen, budget)

  /** Score map of a WEIGHTED model (`piece, weight: decimal` — an
    * [[emStepSoft]] output): `p = max(weight/total, 2^−40)` through the
    * same [[scoreMap]]. The soft-EM loop's scoring half.
    */
  def scoresOfWeighted(model: DataFrame): Map[String, Double] =
    scoreMap(model, col("weight").cast("decimal(38,15)"))

  /** [[emStepSoft]] from a WEIGHTED model — the soft-EM loop's round
    * 2+. Same E-step and M-step; only the score map differs.
    */
  def emStepSoftW(wc: DataFrame, modelW: DataFrame, maxPieceLen: Int = 10,
                  budget: Int = 4096): DataFrame =
    emStepSoftScores(wc, scoresOfWeighted(modelW), modelW, maxPieceLen,
      budget)

  /** Shared soft-round body: E-step posteriors under `scores`, singles
    * retained from `prevModel`'s piece column, budgeted M-step.
    */
  private def emStepSoftScores(wc: DataFrame, scores: Map[String, Double],
                               prevModel: DataFrame, maxPieceLen: Int,
                               budget: Int): DataFrame = {
    // each lattice edge's posterior (pure in the word, memoized) times
    // the word's corpus frequency — one more exactly-rounded op
    val contrib = segmentWordCounts(wc, scores) { m =>
        val sc = mkScore(m)
        w => fbExpectations(w, sc, maxPieceLen).toArray
      }
      .select(col("__s._1").as("piece"),
        (col("__s._2") * col("__c").cast("double")).as("__w"))
    val weights = contrib
      .select(col("piece"), col("__w").cast("decimal(28,15)").as("__q"))
      .groupBy("piece").agg(sum(col("__q")).as("weight"))
    budgetCut(weights, "weight", budget, Some(prevModel))
  }

  /** SOFT-EM training — the literal Kudo loop: seed → one
    * [[emStepSoft]] round from counts → `iters − 1` [[emStepSoftW]]
    * rounds from weights. Output `(piece, weight: decimal)`; encode
    * under it with [[encodeW]]. (Vocabulary SHRINKING between rounds is
    * by mass budget, not the paper's likelihood-loss prune — the loss
    * criterion needs log-space sums across words, outside this repo's
    * bitwise-portability envelope; the budget cut is the documented
    * stand-in.)
    */
  def trainSoft(docs: DataFrame, textCol: String, iters: Int = 2,
                maxPieceLen: Int = 10, budget: Int = 4096,
                seedBudget: Int = 65536): DataFrame =
    emTrain(Bpe.wordCounts(docs, textCol), iters, maxPieceLen, seedBudget) {
      (wc, m, i) =>
        if (i == 0) emStepSoft(wc, m, maxPieceLen, budget)
        else emStepSoftW(wc, m, maxPieceLen, budget)
    }

  /** [[encode]] under a WEIGHTED model — Viterbi with
    * [[scoresOfWeighted]]; the soft-trained artifact's serving path.
    */
  def encodeW(docs: DataFrame, idCol: String, textCol: String,
              modelW: DataFrame, maxPieceLen: Int = 10): DataFrame =
    encodePieces(docs, idCol, Bpe.Regime.Char.normalize(col(textCol)),
      Bpe.Regime.Char.words, scoresOfWeighted(modelW),
      "pieces")(viterbi(maxPieceLen))

  /** Hard-EM training: seed → `iters` rounds of [[emStepHard]] over the
    * word-count table [[emTrain]] persists. Output `(piece, cnt)`.
    */
  def trainHard(docs: DataFrame, textCol: String, iters: Int = 2,
                maxPieceLen: Int = 10, budget: Int = 4096,
                seedBudget: Int = 65536): DataFrame =
    emTrain(Bpe.wordCounts(docs, textCol), iters, maxPieceLen, seedBudget)(
      (wc, m, _) => emStepHard(wc, m, maxPieceLen, budget))

  // ---- imported-vocabulary (SentencePiece `.vocab`) tier -----------------
  //
  // Everything above trains its own model; production users reach for
  // the unigram family WITH a published vocabulary (Llama/T5-class
  // SentencePiece artifacts) — the exact gap [[Bpe.loadMerges]]/
  // [[Bpe.loadVocab]] close for the GPT-2 merge family. The interchange
  // read here is SentencePiece's own text `.vocab` dump (`spm_export_vocab`:
  // one `piece<TAB>log_prob` line per piece, LINE ORDER = PIECE ID); the
  // binary `.model` protobuf is out of scope (a proto2 schema with
  // normalizer-FST blobs — users export the text form precisely for
  // interchange).
  //
  // Imported scores are LOG probabilities, so the imported tier runs
  // Viterbi in LOG space: `best(i) = max over j of best(j) + logp`.
  // IEEE `+` is one exactly-rounded op exactly as the self-trained
  // tier's `·`, so the DP stays bitwise engine-portable; there is no
  // underflow in log space, but the [[MaxDpLen]] chunking contract is
  // kept so per-word cost stays bounded and both tiers segment long
  // words identically.
  //
  // CONTROL pieces — `<unk>`, `<s>`, `</s>` and the byte-fallback tier
  // `<0x00>`..`<0xFF>` — never enter the lattice (they are artifact
  // conventions, not surface text; a document literally containing
  // "<unk>" segments it as characters). OOV handling follows
  // SentencePiece: an un-coverable code point segments as a single at
  // the pinned [[LogPOov]] floor, then the post-pass either expands it
  // into its UTF-8 `<0xXX>` byte pieces (when the vocabulary carries
  // all 256 — the `byte_fallback` convention, lossless round-trip on
  // arbitrary UTF-8) or leaves the surface piece mapped to `<unk>`'s id.

  /** OOV single-code-point log-score floor for the imported tier:
    * an exact pinned constant (−64 is far below any real vocabulary's
    * log-prob, and exactly representable, so any engine computes the
    * identical lattice).
    */
  val LogPOov: Double = -64.0

  /** Is `piece` a control/byte artifact piece (excluded from the
    * lattice)? `<unk>`/`<s>`/`</s>` + the `<0xXX>` byte tier.
    */
  def isControlPiece(piece: String): Boolean =
    piece == "<unk>" || piece == "<s>" || piece == "</s>" ||
      (piece.length == 6 && piece.startsWith("<0x") && piece.endsWith(">") &&
        piece.substring(3, 5).forall(c =>
          (c >= '0' && c <= '9') || (c >= 'A' && c <= 'F')))

  /** The `<0xXX>` byte-piece name of byte `b` (0..255) — SentencePiece's
    * byte-fallback surface convention.
    */
  def bytePiece(b: Int): String = f"<0x$b%02X>"

  /** Render a `(piece, log_prob)` model as SentencePiece's text `.vocab`
    * interchange (`piece<TAB>log_prob`, line order = piece id). Pieces
    * cannot contain tab/newline (the format cannot carry them).
    */
  def renderVocab(rows: Seq[(String, Double)]): String = {
    rows.foreach { case (p, _) =>
      require(p.nonEmpty && !p.exists(c => c == '\t' || c == '\n' || c == '\r'),
        s"a .vocab line cannot represent piece '$p'")
    }
    rows.map { case (p, lp) =>
      // shortest round-trip decimal: both engines' strtod re-read it
      // to the identical double
      val s = if (lp == lp.toLong.toDouble && math.abs(lp) < 1e15)
        lp.toLong.toString else lp.toString
      s"$p\t$s"
    }.mkString("\n")
  }

  /** Parse `.vocab` content: one `piece<TAB>log_prob` per line, blank
    * lines skipped; returns rows in LINE ORDER (= piece-id order).
    */
  def parseVocab(content: String): Array[(String, Double)] =
    content.linesIterator.filter(_.nonEmpty).map { ln =>
      val i = ln.indexOf('\t')
      require(i > 0 && i < ln.length - 1, s"malformed .vocab line: '$ln'")
      (ln.substring(0, i), ln.substring(i + 1).toDouble)
    }.toArray

  /** Load a published SentencePiece `.vocab` into model-as-rows form:
    * `(piece_id, piece, log_prob)` with `piece_id` the line index —
    * SentencePiece assigns ids by line order, so a truncated or
    * reordered read would silently remap every id (the gate pins the
    * full order). Reads through the Hadoop filesystem layer; bounded-
    * model contract (a vocabulary is an artifact, not a dataset).
    */
  def loadVocab(spark: org.apache.spark.sql.SparkSession,
                path: String): DataFrame = {
    val content = spark.sparkContext.wholeTextFiles(path)
      .map(_._2).collect().mkString("\n")
    val rows = parseVocab(content)
    import spark.implicits._
    spark.createDataset(rows.toIndexedSeq.zipWithIndex.map {
      case ((p, lp), i) => (i, p, lp)
    }).toDF("piece_id", "piece", "log_prob")
  }

  /** Collected imported model: lattice scores (non-control pieces →
    * log-prob), the id map, the longest lattice piece in code points,
    * byte-fallback availability, and `<unk>`'s id (−1 when absent).
    */
  private[llm] final case class ImportedModel(
      scores: Map[String, Double], ids: Map[String, Int],
      maxPieceLen: Int, byteFallback: Boolean, unkId: Int)

  private[llm] def collectImported(vocab: DataFrame): ImportedModel = {
    val rows = vocab.select(col("piece_id").cast("int"), col("piece"),
      col("log_prob").cast("double")).collect()
    val ids = rows.iterator.map(r => r.getString(1) -> r.getInt(0)).toMap
    require(ids.size == rows.length,
      "imported .vocab has duplicate pieces — ids would be ambiguous")
    val scores = rows.iterator.filterNot(r => isControlPiece(r.getString(1)))
      .map(r => r.getString(1) -> r.getDouble(2)).toMap
    val maxLen = if (scores.isEmpty) 1
      else scores.keysIterator.map(p => p.codePointCount(0, p.length)).max
    val byteFallback = (0 until 256).forall(b => ids.contains(bytePiece(b)))
    ImportedModel(scores, ids, math.max(1, maxLen), byteFallback,
      ids.getOrElse("<unk>", -1))
  }

  /** Log-space score lookup: vocab non-control pieces at their log-prob,
    * OOV SINGLE code points at [[LogPOov]], OOV multi-cp NaN (no edge).
    */
  private[llm] def mkScoreLog(m: Map[String, Double]): String => Double =
    piece => m.getOrElse(piece,
      if (piece.codePointCount(0, piece.length) == 1) LogPOov
      else Double.NaN)

  /** Log-space Viterbi: [[viterbiIn]] with `+` for `·` and NaN for
    * "no edge" — the same chunks, smallest-j tie-break and backpointer
    * walk as [[viterbiSegment]]. Totality holds the same way: every
    * single code point scores (vocab or [[LogPOov]]).
    */
  private[llm] def viterbiSegmentLog(word: String, score: String => Double,
                                     maxPieceLen: Int): Array[String] =
    viterbiIn(LogSpace, word, score, maxPieceLen)

  /** OOV post-pass of one segmented word under an imported model:
    * in-vocab pieces keep their surface and id; an OOV piece (a single
    * code point the Viterbi floored) expands into its UTF-8 `<0xXX>`
    * byte pieces when the vocabulary carries the byte tier, else keeps
    * its surface at `<unk>`'s id.
    */
  private[llm] def fallbackPieces(m: ImportedModel,
                                  segs: Array[String]): Array[(String, Int)] = {
    val out = mutable.ArrayBuffer.empty[(String, Int)]
    segs.foreach { p =>
      m.ids.get(p) match {
        case Some(id) if !isControlPiece(p) => out += ((p, id))
        case _ =>
          if (m.byteFallback) {
            p.getBytes(java.nio.charset.StandardCharsets.UTF_8).foreach { b =>
              val bp = bytePiece(b & 0xff)
              out += ((bp, m.ids(bp)))
            }
          } else out += ((p, m.unkId))
      }
    }
    out.toArray
  }

  /** Encode a corpus under an IMPORTED SentencePiece vocabulary —
    * production conventions end to end: case preserved, whitespace
    * collapsed, every word entering the lattice as `▁word`
    * (add_dummy_prefix), log-space Viterbi over the vocabulary's own
    * max piece length, byte-fallback/unk OOV post-pass. Output
    * `(idCol, pieces, piece_ids, n_pieces)`. The same shared kernel and
    * ▁ words as [[encodeSp]]; [[decodeImported]] inverts
    * the stream exactly under a byte-fallback vocabulary.
    */
  def encodeImported(docs: DataFrame, idCol: String, textCol: String,
                     vocab: DataFrame, nfkc: Boolean = false): DataFrame =
    encodePieces(docs, idCol, spNorm(textCol, nfkc), spWords,
        collectImported(vocab), "__ps") { m =>
      val sc = mkScoreLog(m.scores)
      w => fallbackPieces(m, viterbiSegmentLog(w, sc, m.maxPieceLen))
    }.select(col(idCol), transform(col("__ps"), _.getField("_1")).as("pieces"),
      transform(col("__ps"), _.getField("_2")).as("piece_ids"),
      col("n_pieces"))

  /** Exact inverse of [[encodeImported]] under a byte-fallback
    * vocabulary: `<0xXX>` runs → bytes → UTF-8, other pieces concatenate,
    * ▁ → space, drop the leading space. A JVM kernel (byte-run grouping
    * has no composable Column form), zero shuffle.
    */
  def decodeImported(enc: DataFrame, idCol: String): DataFrame = {
    val spark = enc.sparkSession
    import spark.implicits._
    enc.select(col(idCol).cast("long"), col("pieces"))
      .as[(Long, Seq[String])].map { case (id, pieces) =>
        val sb = new java.lang.StringBuilder
        val bytes = new java.io.ByteArrayOutputStream
        def flushBytes(): Unit = if (bytes.size() > 0) {
          sb.append(new String(bytes.toByteArray,
            java.nio.charset.StandardCharsets.UTF_8))
          bytes.reset()
        }
        pieces.foreach { p =>
          if (p.length == 6 && p.startsWith("<0x") && p.endsWith(">") &&
              isControlPiece(p))
            bytes.write(Integer.parseInt(p.substring(3, 5), 16))
          else { flushBytes(); sb.append(p) }
        }
        flushBytes()
        val joined = sb.toString.replace('▁', ' ')
        (id, if (joined.startsWith(" ")) joined.substring(1) else joined)
      }.toDF(idCol, "text_rt")
  }

  /** Vocabulary-coverage audit of an IMPORTED vocabulary over a corpus
    * slice column (typically language): per group, how much of the
    * encoded stream had to leave the learned pieces — byte-fallback (or
    * `<unk>`-mapped) pieces per total pieces. The triage a team runs
    * BEFORE committing a run to a published tokenizer: a language whose
    * fallback fraction is high is effectively character-modeled by that
    * vocabulary ([[Bpe.fertility]]'s counterpart for the imported
    * tier). One encode scan + one partial-agg rollup; `fallback_frac`
    * is ONE exactly-rounded double division of two exact longs (null
    * for piece-less groups) — engine-portable.
    *
    * A piece counts as fallback iff it is NOT a lattice piece: the
    * `<0xXX>` expansions under a byte-fallback vocabulary, or the
    * surface-at-`<unk>`-id pass-throughs without one.
    */
  def fallbackStats(docs: DataFrame, idCol: String, textCol: String,
                    groupCol: String, vocab: DataFrame,
                    nfkc: Boolean = false): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // the lattice-piece membership probe is a BROADCAST LEFT JOIN (no
    // UDF — stays inside codegen): a piece with no lattice match is a
    // fallback emission
    val lattice = broadcast(
      spark.createDataset(collectImported(vocab).scores.keys.toSeq)
        .toDF("__p").withColumn("__lat", lit(1)))
    val enc = encodeImported(docs, idCol, textCol, vocab, nfkc)
    enc.select(col(idCol), explode_outer(col("pieces")).as("__p"))
      .join(lattice, Seq("__p"), "left")
      .join(docs.select(col(idCol).cast("long").as(idCol), col(groupCol)),
        Seq(idCol))
      .groupBy(col(groupCol))
      .agg(count(col("__p")).as("n_pieces"),
        sum(when(col("__p").isNotNull && col("__lat").isNull, 1L)
          .otherwise(0L)).as("n_fallback"))
      .select(col(groupCol), col("n_pieces"), col("n_fallback"),
        when(col("n_pieces") === 0L, lit(null).cast("double"))
          .otherwise(col("n_fallback").cast("double")
            / col("n_pieces").cast("double")).as("fallback_frac"))
  }

  /** Export a self-trained ▁-tier model ([[trainHardSp]] output) as the
    * `.vocab` interchange rows [[renderVocab]] serializes and any
    * SentencePiece-family consumer (including [[loadVocab]] +
    * [[encodeImported]]) can read: specials first, then the full
    * `<0xXX>` byte tier (so the artifact is byte-fallback-complete),
    * then the trained pieces in the [[vocabIds]] mass order with
    * `log_prob = ln(max(cnt/N, 2^−40))`.
    *
    * The `ln` here is deliberate and OUT of the repo's bitwise-
    * portability envelope (libm's last ulp varies) — an exported
    * artifact is a one-way product for external consumers, never an
    * oracle-compared intermediate; the import side's log-space Viterbi
    * consumes whatever doubles the file carries. Byte pieces score at
    * the pinned −13 (below any real piece, above the import tier's −64
    * OOV floor). Bounded-model contract: the model is collected.
    */
  def exportVocab(model: DataFrame,
                  specials: Seq[String] = Seq("<unk>", "<s>", "</s>"),
                  byteFallback: Boolean = true): Seq[(String, Double)] = {
    val sc = scoresOf(model)
    val ranked = model.select(col("piece"), col("cnt").cast("long"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .sortBy { case (p, c) => (-c, p) }
    specials.map(_ -> 0.0) ++
      (if (byteFallback) (0 until 256).map(b => bytePiece(b) -> -13.0)
       else Seq.empty) ++
      ranked.map { case (p, _) => p -> math.log(sc(p)) }
  }
}
