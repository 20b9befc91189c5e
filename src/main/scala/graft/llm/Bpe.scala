package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable
import scala.reflect.ClassTag
import scala.reflect.runtime.universe.TypeTag

/** Byte-pair-encoding tokenizer: distributed vocabulary counting, a
  * budgeted driver-side merge learner, and a broadcast encode kernel —
  * the real-tokenizer upgrade over [[TextStats.approxBpeTokens]]'s
  * regex proxy. Token budgets drive every selection/packing operator
  * downstream ([[graft.operators.Selection]], [[Packing]]), so an
  * exact, learned subword count is the difference between "about this
  * many tokens" and the number the trainer will actually see.
  *
  * Semantics (pinned, engine-portable, and deliberately simple):
  *   - Words are the whitespace-normalized tokens of
  *     `trim(lower(text))` split on runs of whitespace — the same
  *     convention as every other word-level operator here. Merges never
  *     cross a word boundary; there is no end-of-word marker.
  *   - A MERGE PASS over a word's symbol sequence replaces adjacent
  *     `(left, right)` pairs left-to-right, NON-overlapping: `aaa`
  *     under `(a,a)` becomes `[aa, a]`, never `[a, aa]`.
  *   - ENCODING applies the learned merges IN RANK ORDER, one pass
  *     each (Sennrich et al. 2016's re-pair application, not the
  *     lowest-rank-pair priority queue — the two differ only on
  *     corpora where a later merge re-creates an earlier pair, and the
  *     pass form is restatable as chained non-overlapping string
  *     replaces, which is what the `bpe_encode` oracle does).
  *   - TRAINING picks, per round, the pair with the highest
  *     non-overlapping occurrence count (ties: lexicographic smallest
  *     left, then right) — the count of replacements the apply pass
  *     would actually make, so train and encode agree on degenerate
  *     runs. Deterministic by construction; no RNG anywhere.
  *
  * Scale shape (the 100 TB story): the corpus-sized work is ONE
  * distributed word-count aggregation; the learner runs on the
  * collected `(word, count)` table, which Heaps' law bounds far below
  * corpus size and [[vocabBudget]] bounds absolutely (top-`budget` by
  * count — the same bounded-collect contract as [[Ann]]'s 2^16
  * centroid budget; dropped tail words are reported, not silent).
  * Encoding is a narrow mapPartitions over a broadcast merge list with
  * a per-partition word→tokens memo ([[MemoCap]]-bounded) — Zipf
  * repetition makes the memo hit rate extreme, and there is no shuffle
  * at all.
  *
  * One [[Regime]] value decides how a document becomes the word units
  * the kernel sees: [[Regime.Char]] (the normalized shared-word
  * convention above), [[Regime.Bytes]] (GPT-2 byte symbols under the
  * same word convention) or [[Regime.Raw]] ([[preTokenize]] pieces,
  * normalization-free, exact identity round-trip; the production
  * tokenizer regime). [[train]], [[encodeWithMergesFast]],
  * [[encodeIds]] and [[fertility]] all take it, and every encode path —
  * here, in [[Unigram]] and in [[Sft]] — runs through the one memoized
  * narrow kernel [[segmentRows]].
  */
object Bpe {

  /** Per-partition encode-memo entry cap. The word→tokens memos in the
    * encode kernels are unbounded by Zipf assumption (distinct words per
    * 128 MB split ≪ this); a pathological high-entropy partition (random
    * strings) would otherwise grow one without limit. At the cap the
    * memo is cleared wholesale — O(1) amortized, no LRU bookkeeping on
    * the hot path — and output is unaffected (the memo is a pure cache).
    * BpeSpec proves output equality with distinct-word volume > cap.
    */
  val MemoCap: Int = 100000

  /** Cap-aware memo lookup: compute-and-insert on miss, clearing the
    * memo first when it is full. Pure-cache contract: `f` must be
    * deterministic in `k`.
    */
  private[llm] def memoized[V](memo: mutable.HashMap[String, V], k: String)
                              (f: => V): V =
    memo.get(k) match {
      case Some(v) => v
      case None =>
        if (memo.size >= MemoCap) memo.clear()
        val v = f
        memo.update(k, v)
        v
    }

  /** One non-overlapping left-to-right merge pass. */
  private[llm] def mergePass(syms: Array[String], l: String,
                             r: String): Array[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += l + r; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toArray
  }

  /** Pair→ascending-ranks index over a merge table, the model object of
    * the fast encode tier. Only `merges` is serialized (the broadcast
    * payload); the hash index is rebuilt lazily per executor. Duplicate
    * pairs (impossible in trained tables, legal in hand-written ones)
    * keep every rank, so the fast encoder stays exactly equivalent to
    * the pass form on any table.
    */
  final class MergeIndex(val merges: Array[(String, String)])
      extends Serializable {
    @transient lazy val pairRanks: java.util.HashMap[String, Array[Int]] = {
      val tmp = new java.util.HashMap[String, mutable.ArrayBuffer[Int]]()
      var k = 0
      while (k < merges.length) {
        val (l, r) = merges(k)
        val key = l + " " + r
        var b = tmp.get(key)
        if (b == null) { b = mutable.ArrayBuffer.empty[Int]; tmp.put(key, b) }
        b += k
        k += 1
      }
      val out = new java.util.HashMap[String, Array[Int]](tmp.size * 2)
      tmp.forEach((key, v) => out.put(key, v.toArray))
      out
    }
  }

  /** Production-scale encode of one word: identical tokens to
    * [[encodeWord]] (the rank-order pass form), but per-word cost tracks
    * the WORD, not the vocabulary — [[encodeWord]] runs `|merges|`
    * passes per distinct word (32k passes at a production vocabulary),
    * this runs one pass per merge that can actually fire.
    *
    * Mechanism: a min-heap of candidate ranks, seeded with the ranks of
    * the word's initial adjacent pairs (via [[MergeIndex.pairRanks]])
    * and refilled after every effective merge from the new symbol
    * sequence; ranks are popped ascending and applied as the same
    * whole-word non-overlapping [[mergePass]] the pass form runs, with
    * ranks ≤ the last applied rank discarded (the pass form never
    * revisits an earlier turn).
    *
    * Equivalence to the pass form holds for EVERY merge table, by
    * induction over the pass form's effective (state-changing) turns:
    * when rank k is popped, every smaller rank still in the heap has
    * been popped before it, so all effective ranks < k have been
    * applied and the symbol state equals the pass form's state at turn
    * k — a pair present at turn k was present initially or created by
    * an effective turn < k, both of which pushed k into the heap (a
    * pair destroyed and re-created keeps its heap entry: the `pushed`
    * set only dedups entries, never retires them). A rank whose pair
    * appears only AFTER its turn pops with k ≤ last and is dropped,
    * exactly the pass form's no-op. BpeSpec pins this with the
    * adversarial re-creation table and a seeded random-table sweep.
    */
  private[llm] def encodeWordFast(word: String,
                                  idx: MergeIndex): Array[String] = {
    var syms: Array[String] = word.map(_.toString).toArray
    if (syms.length < 2 || idx.merges.isEmpty) return syms
    val ranks = idx.pairRanks
    val heap = new java.util.PriorityQueue[Integer]()
    val pushed = new java.util.HashSet[Integer]()
    def pushCandidates(): Unit = {
      var i = 0
      while (i + 1 < syms.length) {
        val rs = ranks.get(syms(i) + " " + syms(i + 1))
        if (rs != null) {
          var j = 0
          while (j < rs.length) {
            val k: Integer = rs(j)
            if (pushed.add(k)) heap.add(k)
            j += 1
          }
        }
        i += 1
      }
    }
    pushCandidates()
    var last = -1
    while (!heap.isEmpty && syms.length > 1) {
      val k = heap.poll().intValue()
      if (k > last) {
        last = k
        val (l, r) = idx.merges(k)
        val merged = mergePass(syms, l, r)
        if (merged.length != syms.length) {
          syms = merged
          pushCandidates()
        }
      }
    }
    syms
  }

  /** HF/GPT-2-COMPATIBLE encode of one word: repeatedly find the
    * LOWEST-RANK merge whose pair is currently adjacent anywhere in the
    * symbol sequence and apply it as one non-overlapping left-to-right
    * [[mergePass]], until no listed pair remains — the published
    * GPT-2/HuggingFace BPE runtime algorithm (Radford et al. 2019's
    * `bpe()` loop: `min(pairs, key=rank)` then merge-all, re-probe).
    *
    * This is NOT [[encodeWordFast]]: the pass form applies ranks
    * ascending ONCE each and never revisits, so when applying rank k
    * re-creates the pair of an earlier rank j < k, the pass form leaves
    * it unmerged while this form goes back and merges it. The two agree
    * exactly when no merge's application can re-create an earlier
    * merge's pair — true of typical self-trained tables on their own
    * corpus, false for adversarial or imported tables (BpeSpec pins a
    * table where they provably differ; the `bpe_encode_hf` gate pins
    * this form against a DuckDB oracle that unrolls the min-rank
    * steps). WHICH TABLE CONSUMES WHICH: tables trained HERE ([[train]],
    * any regime) are encoded with the pass-form kernels (the trainer
    * applies merges as ranked passes, so the pass form reproduces the
    * train-time segmentation); an IMPORTED production vocabulary
    * ([[loadMerges]] of a published `merges.txt`) must be encoded with
    * THIS kernel, `Regime.Raw(hf = true)` — the artifact's publisher ran
    * this algorithm, and the pass form mistokenizes on exactly the
    * re-creation tables above.
    *
    * Cost: each step is one O(|syms|) min-scan + one merge pass, and
    * every step shortens the sequence, so a word costs O(len²) hash
    * probes worst-case — per WORD, independent of the merge-table size
    * (the property that matters at a 32k-merge production vocabulary),
    * and amortized away by the per-partition word memo like the other
    * kernels. This quadratic-in-word-length rescan is WHY the
    * heap-indexed [[encodeWordFast]] remains the default for
    * self-trained tables: the re-probing here is the HF semantics
    * itself, not an implementation shortcut, and no [[Unigram.MaxDpLen]]-
    * style chunk bound applies (chunking would change which pairs are
    * adjacent, i.e. the tokenization) — a pathologically long unbroken
    * "word" pays the full quadratic; the GPT-2 pre-splitter upstream is
    * what keeps real words short.
    */
  private[llm] def encodeWordHf(word: String,
                                idx: MergeIndex): Array[String] = {
    var syms: Array[String] = word.map(_.toString).toArray
    if (syms.length < 2 || idx.merges.isEmpty) return syms
    val ranks = idx.pairRanks
    while (syms.length > 1) {
      var best = Int.MaxValue
      var i = 0
      while (i + 1 < syms.length) {
        val rs = ranks.get(syms(i) + " " + syms(i + 1))
        // ranks arrays are ascending by construction; rs(0) is the
        // lowest rank mapping to this pair
        if (rs != null && rs(0) < best) best = rs(0)
        i += 1
      }
      if (best == Int.MaxValue) return syms
      val (l, r) = idx.merges(best)
      syms = mergePass(syms, l, r)
    }
    syms
  }

  /** Rank-order application of a merge list to one word — the
    * oracle-checkable REFERENCE form (one pass per merge, cost
    * O(|merges|) per word); [[encodeWordFast]] is the production
    * kernel, token-for-token equal.
    */
  private[llm] def encodeWord(word: String,
                              merges: Array[(String, String)]): Array[String] = {
    var syms = word.map(_.toString).toArray
    var k = 0
    while (k < merges.length && syms.length > 1) {
      val (l, r) = merges(k)
      // cheap containment probe: a pass can only fire if both symbol
      // texts appear in the word at all
      if (word.contains(l) && word.contains(r)) syms = mergePass(syms, l, r)
      k += 1
    }
    syms
  }

  /** How a document turns into the word units a merge kernel sees, and
    * which per-word kernel runs on them — the one place that decision
    * lives. A regime owns the Catalyst normalization of the text column
    * (null → empty), the per-string word splitter (its units are also
    * the encode memo keys), the symbol mapping + merge kernel applied to
    * each unit, and the word count [[fertility]] divides by.
    */
  sealed abstract class Regime extends Serializable {
    /** The normalized text, a Catalyst projection (never null). */
    def normalize(text: Column): Column
    /** Word units of one normalized text; none for empty text. */
    def words(t: String): Iterator[String]
    /** Kernel symbols of one word unit. */
    def symbols(w: String): String
    /** Words per document — the fertility denominator. */
    def wordCount(text: Column): Column
    protected def kernel: (String, MergeIndex) => Array[String] =
      encodeWordFast
    /** Per-word encoder over a merge index (built per partition). */
    final def encoder(idx: MergeIndex): String => Array[String] = {
      val k = kernel
      w => k(symbols(w), idx)
    }
    /** [[encoder]] with each token mapped through a `token → id`
      * vocabulary; an absent token maps to −1.
      */
    final def idEncoder(model: (MergeIndex, Map[String, Int]))
        : String => Array[Int] = {
      val (enc, vm) = (encoder(model._1), model._2)
      w => enc(w).map(vm.getOrElse(_, -1))
    }
  }

  object Regime {
    private def collapsed(text: Column): Column =
      Dedup.normalize(coalesce(text, lit("")))

    private def splitCount(t: Column): Column =
      when(t === "", lit(0L)).otherwise(size(split(t, " ")).cast("long"))

    /** Character symbols over the whitespace-normalized words of
      * `trim(lower(text))` — the shared-word analytics convention.
      * Empty split pieces are not words (they carry no symbols).
      */
    case object Char extends Regime {
      def normalize(text: Column): Column = collapsed(text)
      def words(t: String): Iterator[String] =
        t.split(" ").iterator.filter(_.nonEmpty)
      def symbols(w: String): String = w
      def wordCount(text: Column): Column = splitCount(normalize(text))
    }

    /** UTF-8 byte symbols ([[byteSyms]]) over the same normalized words;
      * every word after the first carries its LEADING SPACE into the
      * unit (GPT-2's `Ġword`), so the token stream is losslessly
      * invertible ([[decodeBytes]]; BpeBytesSpec and the
      * `bpe_bytes_roundtrip` gate pin it on multi-byte Vietnamese +
      * astral-plane input). No OOV symbol exists.
      */
    case object Bytes extends Regime {
      def normalize(text: Column): Column = collapsed(text)
      def words(t: String): Iterator[String] =
        if (t.isEmpty) Iterator.empty
        else t.split(" ").iterator.zipWithIndex.map { case (w, i) =>
          if (i == 0) w else " " + w
        }
      def symbols(w: String): String = byteSyms(w)
      def wordCount(text: Column): Column = splitCount(normalize(text))
    }

    /** Normalization-free byte symbols over [[preTokenize]] pieces of
      * the raw text (case- and whitespace-preserving; single spaces ride
      * into the following piece, whitespace RUNS are their own pieces).
      * The pieces partition the text and the byte mapping is a
      * bijection, so `decodeBytes ∘ encode` is the IDENTITY on arbitrary
      * UTF-8 (the `bpe_bytes_roundtrip_raw` gate). `gpt2Ws` swaps in
      * [[preTokenizeGpt2]]'s exact trailing-space split; `hf` swaps the
      * kernel for [[encodeWordHf]] — REQUIRED when the merges are an
      * imported production vocabulary ([[loadMerges]]). Words (for
      * fertility) are the [[PreTokPattern]] pieces holding a
      * non-whitespace character: whitespace-run pieces bear tokens but
      * are not words, and counting them would flatter fertility.
      */
    final case class Raw(gpt2Ws: Boolean = false, hf: Boolean = false)
        extends Regime {
      def normalize(text: Column): Column = coalesce(text, lit(""))
      def words(t: String): Iterator[String] =
        (if (gpt2Ws) preTokenizeGpt2(t) else preTokenize(t)).iterator
      def symbols(w: String): String = byteSyms(w)
      def wordCount(text: Column): Column =
        size(filter(regexp_extract_all(normalize(text), lit(PreTokPattern),
          lit(0)), p => p.rlike(NonWsClass))).cast("long")
      override protected def kernel: (String, MergeIndex) => Array[String] =
        if (hf) encodeWordHf else encodeWordFast
    }
  }

  /** THE narrow token kernel behind every encode path — [[Bpe]]'s
    * regimes, [[Unigram]]'s Viterbi segmenters and [[Sft]]'s
    * distinct-line encodes: `model` is broadcast once; per partition,
    * `segment` builds the per-word encoder from it and a
    * [[MemoCap]]-bounded word memo caches it (Zipf repetition makes the
    * hit rate extreme). Each row's text — already normalized, never
    * null — splits into `words`; empty text gives an empty array. One
    * mapPartitions, no shuffle.
    */
  private[llm] def segmentRows[K: TypeTag, M: ClassTag, V: TypeTag: ClassTag](
      rows: Dataset[(K, String)], model: M, words: String => Iterator[String])(
      segment: M => String => Array[V]): Dataset[(K, Array[V])] = {
    val spark = rows.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model)
    rows.mapPartitions { it =>
      val seg = segment(bc.value)
      val memo = mutable.HashMap.empty[String, Array[V]]
      it.map { case (k, t) =>
        val out = mutable.ArrayBuilder.make[V]
        if (t.nonEmpty) words(t).foreach(w => out ++= memoized(memo, w)(seg(w)))
        (k, out.result())
      }
    }
  }

  /** [[segmentRows]] over documents: `(idCol, outCol, countCol)` — the
    * id cast to long, `text` the normalized text Column (a Catalyst
    * projection in front of the kernel), `countCol` the int array size.
    */
  private[llm] def encodeDocs[M: ClassTag, V: TypeTag: ClassTag](
      docs: DataFrame, idCol: String, text: Column,
      words: String => Iterator[String], model: M, outCol: String,
      countCol: String)(segment: M => String => Array[V]): DataFrame = {
    import docs.sparkSession.implicits._
    segmentRows(docs.select(col(idCol).cast("long"), text.as("__t"))
        .as[(Long, String)], model, words)(segment)
      .toDF(idCol, outCol)
      .select(col(idCol), col(outCol), size(col(outCol)).as(countCol))
  }

  /** Collected `unit → id` map of a vocabulary table (bounded-model
    * contract: the vocabulary is collected, then broadcast).
    */
  private[llm] def idsOf(vocabDf: DataFrame, unitCol: String,
                         idCol: String): Map[String, Int] = {
    import vocabDf.sparkSession.implicits._
    vocabDf.select(col(unitCol), col(idCol).cast("int"))
      .as[(String, Int)].collect().toMap
  }

  /** Distributed `(word, cnt)` table over the corpus — the char-regime
    * words every word-level trainer here counts ([[Unigram]] too).
    */
  def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    unitCounts(docs, textCol, Regime.Char)

  /** BPE training input under `regime`: its word units, each mapped to
    * its kernel symbols (so the learned table's application domain is
    * exactly the encoder's input domain — a byte table trained on bare
    * words would never learn the `Ġ`-boundary merges production
    * tokenizers live on), counted. ONE distributed aggregation; the
    * split is a narrow per-row kernel inside it.
    */
  private def unitCounts(docs: DataFrame, textCol: String,
                         regime: Regime): DataFrame =
    countUnits(docs, regime.normalize(col(textCol)),
      t => regime.words(t).map(regime.symbols))

  /** The typed unit counter: `(word, cnt)` over the units `units` splits
    * each row of the normalized `text` into — [[unitCounts]] and
    * [[Unigram.wordCountsSp]].
    */
  private[llm] def countUnits(docs: DataFrame, text: Column,
                              units: String => Iterator[String]): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(text).as[String].flatMap(units)
      .toDF("word")
      .groupBy("word").agg(count(lit(1)).as("cnt"))
  }

  /** Learn `numMerges` merges from the corpus under `regime`. Returns
    * `(rank, left, right, pair_count)` — rank 0 first. The corpus-sized
    * work is ONE distributed word-count aggregation ([[unitCounts]]);
    * the driver-side loop runs over at most `vocabBudget` distinct
    * words (top by count, word-asc ties); `capStats`, when supplied,
    * receives the number of distinct words the budget dropped (0 on
    * typical corpora — the budget is a guard, not a sampler).
    */
  def train(docs: DataFrame, textCol: String, numMerges: Int,
            vocabBudget: Int = 1 << 16,
            capStats: Option[CapStats] = None,
            regime: Regime = Regime.Char): DataFrame = {
    val wc = unitCounts(docs, textCol, regime)
    val spark = wc.sparkSession
    import spark.implicits._
    val total = wc.count()
    val kept = wc.orderBy(col("cnt").desc, col("word").asc)
      .limit(vocabBudget).as[(String, Long)].collect()
    // Assignment semantics, matching Dedup.fillCapStats (every other cap
    // site overwrites, never accumulates — a CapStats instance reused
    // across sites must not report mixed totals). droppedBuckets here is
    // a 0/1 "budget hit" flag: the word table is one logical bucket.
    capStats.foreach { cs =>
      val dropped = math.max(0L, total - kept.length)
      cs.droppedBuckets = if (dropped > 0) 1L else 0L
      cs.droppedRows = dropped
    }
    val merges = trainOnCountsFast(kept, numMerges)
    spark.createDataFrame(
      spark.sparkContext.parallelize(merges.zipWithIndex.map {
        case ((l, r, c), i) => Row(i, l, r, c)
      }, 1),
      StructType(Seq(StructField("rank", IntegerType, nullable = false),
        StructField("left", StringType, nullable = false),
        StructField("right", StringType, nullable = false),
        StructField("pair_count", LongType, nullable = false))))
  }

  /** The merge loop over a collected word-count table (driver-side by
    * design — see the object header's budget argument) — the REFERENCE
    * form: per-pair counts recomputed over every word each round.
    * [[trainOnCountsFast]] is the production learner (merge-for-merge
    * equal, cost per round tracks the affected words); this form
    * survives for spec-level verification against hand-computed merges
    * and the equality sweep.
    */
  private[llm] def trainOnCounts(wordCounts: Array[(String, Long)],
                                 numMerges: Int): Array[(String, String, Long)] = {
    var words: Array[(Array[String], Long)] =
      wordCounts.map { case (w, c) => (w.map(_.toString).toArray, c) }
    val out = mutable.ArrayBuffer.empty[(String, String, Long)]
    var round = 0
    while (round < numMerges) {
      // per-pair NON-overlapping adjacent counts — exactly the number
      // of replacements mergePass would make for that pair, counted
      // independently per pair (a same-symbol run like `aaa` holds one
      // (a,a) occurrence, but `aab` still holds one (a,b))
      val counts = mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (syms, c) =>
        val lastEnd = mutable.HashMap.empty[(String, String), Int]
        var i = 0
        while (i + 1 < syms.length) {
          val p = (syms(i), syms(i + 1))
          if (i >= lastEnd.getOrElse(p, 0)) {
            counts.update(p, counts.getOrElse(p, 0L) + c)
            lastEnd.update(p, i + 2)
          }
          i += 1
        }
      }
      if (counts.isEmpty) round = numMerges
      else {
        val ((l, r), c) = counts.minBy { case ((pl, pr), pc) => (-pc, pl, pr) }
        out += ((l, r, c))
        words = words.map { case (syms, wc) =>
          (if (syms.length > 1) mergePass(syms, l, r) else syms, wc)
        }
        round += 1
      }
    }
    out.toArray
  }

  /** Production-scale merge learner: merge-for-merge (and
    * count-for-count) equal to [[trainOnCounts]], but per round costs
    * the AFFECTED words, not the vocabulary. The reference form
    * recomputes every pair count over every word each round —
    * O(rounds × total chars), ~2×10¹⁰ symbol visits at a 32k-merge /
    * 2¹⁶-word production configuration. This form maintains the global
    * pair counts incrementally: a round picks the best pair from an
    * ordered candidate set (count desc, left, right — the exact
    * [[trainOnCounts]] argmax), then re-derives ONLY the words that
    * contain that pair (subtract the word's old pair contributions,
    * merge-pass it, add the new ones), updating the ordered set by
    * delete+reinsert per touched pair. Zipf concentration makes the
    * affected-word set shrink fast with rank, so total cost tracks
    * Σ|affected| instead of rounds × vocabulary.
    *
    * Equality argument: the maintained totals are exactly the sums the
    * reference recomputes (same per-word non-overlap counting
    * function, exact integer deltas), and the TreeSet head under
    * (-count, left, right) is the same selection as the reference's
    * `minBy` over unique keys — BpeSpec pins both on hand-computed
    * corpora and a seeded random-corpus sweep.
    */
  private[llm] def trainOnCountsFast(wordCounts: Array[(String, Long)],
                                     numMerges: Int): Array[(String, String, Long)] = {
    val n = wordCounts.length
    val syms = Array.tabulate(n)(i => wordCounts(i)._1.map(_.toString).toArray)
    val wcnt = wordCounts.map(_._2)
    // per-word non-overlapping pair counts — the same counting rule as
    // the reference's inline loop
    def pairCountsOf(s: Array[String]): mutable.HashMap[(String, String), Int] = {
      val m = mutable.HashMap.empty[(String, String), Int]
      val lastEnd = mutable.HashMap.empty[(String, String), Int]
      var i = 0
      while (i + 1 < s.length) {
        val p = (s(i), s(i + 1))
        if (i >= lastEnd.getOrElse(p, 0)) {
          m.update(p, m.getOrElse(p, 0) + 1)
          lastEnd.update(p, i + 2)
        }
        i += 1
      }
      m
    }
    val perWord = Array.tabulate(n)(i => pairCountsOf(syms(i)))
    val total = mutable.HashMap.empty[(String, String), Long]
    val occ = mutable.HashMap.empty[(String, String), mutable.BitSet]
    var i = 0
    while (i < n) {
      perWord(i).foreach { case (p, c) =>
        total.update(p, total.getOrElse(p, 0L) + c.toLong * wcnt(i))
        occ.getOrElseUpdate(p, mutable.BitSet.empty) += i
      }
      i += 1
    }
    // candidate set ordered by (count desc, left asc, right asc) — the
    // reference argmax; keys are unique (count, l, r) triples because
    // (l, r) appears once and carries its current count
    val byBest = Ordering.by[(Long, String, String), (Long, String, String)] {
      case (c, l, r) => (-c, l, r)
    }
    val tree = mutable.TreeSet.empty[(Long, String, String)](byBest)
    total.foreach { case ((l, r), c) => tree += ((c, l, r)) }
    def retract(p: (String, String), delta: Long): Unit = {
      val old = total(p)
      tree -= ((old, p._1, p._2))
      val nw = old - delta
      if (nw == 0L) total.remove(p)
      else { total.update(p, nw); tree += ((nw, p._1, p._2)) }
    }
    def add(p: (String, String), delta: Long): Unit = {
      val old = total.getOrElse(p, 0L)
      if (old != 0L) tree -= ((old, p._1, p._2))
      total.update(p, old + delta)
      tree += ((old + delta, p._1, p._2))
    }
    val out = mutable.ArrayBuffer.empty[(String, String, Long)]
    var round = 0
    while (round < numMerges && tree.nonEmpty) {
      val (c, l, r) = tree.head
      out += ((l, r, c))
      val best = (l, r)
      occ.get(best).map(_.toArray).foreach { affected =>
        affected.foreach { w =>
          perWord(w).foreach { case (p, pc) =>
            retract(p, pc.toLong * wcnt(w))
            val s = occ(p); s -= w; if (s.isEmpty) occ.remove(p)
          }
          syms(w) = mergePass(syms(w), l, r)
          perWord(w) = pairCountsOf(syms(w))
          perWord(w).foreach { case (p, pc) =>
            add(p, pc.toLong * wcnt(w))
            occ.getOrElseUpdate(p, mutable.BitSet.empty) += w
          }
        }
      }
      round += 1
    }
    out.toArray
  }

  /** Rank-ordered merge list from a [[train]]-shaped table (`rank,
    * left, right`) — the LOAD half of model persistence: the model is
    * rows, so `merges.write.parquet(path)` saves it and
    * `mergesOf(spark.read.parquet(path))` restores it on any engine
    * with the same rank order (BpeBytesSpec pins the disk round-trip
    * for the byte regime). Bounded-model contract: |merges| rows
    * collected.
    */
  def mergesOf(merges: DataFrame): Array[(String, String)] = {
    import merges.sparkSession.implicits._
    merges.select(col("rank").cast("int"), col("left"), col("right"))
      .as[(Int, String, String)].collect().sortBy(_._1)
      .map { case (_, l, r) => (l, r) }
  }

  /** Pass-form REFERENCE encode: the shared kernel under
    * [[Regime.Char]] with [[encodeWord]] (one pass per merge), the
    * oracle-checkable form the `bpe_encode` gate pins.
    * `(id, tokens: array<string>, n_tokens)`.
    */
  def encodeWithMerges(docs: DataFrame, idCol: String, textCol: String,
                       merges: Array[(String, String)]): DataFrame =
    encodeDocs(docs, idCol, Regime.Char.normalize(col(textCol)),
      Regime.Char.words, merges, "tokens", "n_tokens")(
      ms => encodeWord(_, ms))

  /** Encode every document against an in-memory merge list (rank order
    * = array order) under `regime`: `(id, tokens: array<string>,
    * n_tokens)`. The production path — the regime's kernel
    * ([[encodeWordFast]], token-for-token equal to [[encodeWithMerges]]
    * with per-word cost independent of the merge-table size, or
    * [[encodeWordHf]] under `Raw(hf = true)`) over a broadcast merge
    * index in the one narrow memoized kernel; no shuffle.
    */
  def encodeWithMergesFast(docs: DataFrame, idCol: String, textCol: String,
                           merges: Array[(String, String)],
                           regime: Regime = Regime.Char): DataFrame =
    encodeDocs(docs, idCol, regime.normalize(col(textCol)), regime.words,
      new MergeIndex(merges), "tokens", "n_tokens")(regime.encoder)

  /** Token vocabulary implied by a merge table over a corpus:
    * `(token_id, token)` — base characters (every distinct character
    * of the corpus's normalized words, ordered ascending) take ids
    * `0..nBase-1`, then merge OUTPUTS in rank order (first rank wins
    * when two merge trees produce the same string). The GPT-2-style
    * deterministic assignment: no frequency dependence, so the same
    * merge table + character set yields the same ids on any engine,
    * any partitioning, any rerun. Bounded-model contract: the collect
    * is |charset| + |merges| rows.
    */
  def vocab(docs: DataFrame, textCol: String,
            merges: Array[(String, String)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val baseChars = wordCounts(docs, textCol)
      .select(explode(split(col("word"), "")).as("ch"))
      .filter(col("ch") =!= "")
      .distinct().as[String].collect().sorted
    val seen = mutable.LinkedHashSet.empty[String]
    baseChars.foreach(seen += _)
    merges.foreach { case (l, r) => seen += (l + r) }
    spark.createDataset(seen.toSeq.zipWithIndex
        .map { case (t, i) => (i, t) })
      .toDF("token_id", "token")
  }

  /** Encode to TRAINER-CONTRACT integer ids under `regime`: `(id,
    * token_ids: array<int>, n_tokens)` — the regime's tokens mapped
    * through a broadcast `(token, token_id)` vocabulary ([[vocab]] /
    * [[vocabBytes]] output or a tokenizer's own table, [[loadVocab]]),
    * the id lookup folded into the per-partition word memo. Tokens
    * absent from the vocabulary map to −1: impossible when the
    * vocabulary was built from the same corpus and merge table (the
    * spec pins both directions), and impossible BY CONSTRUCTION under a
    * byte regime with [[vocabBytes]] of the same merges (the byte
    * alphabet is closed; any `specials` prefix threads through, the
    * lookup is by token string).
    */
  def encodeIds(docs: DataFrame, idCol: String, textCol: String,
                merges: Array[(String, String)],
                vocabDf: DataFrame,
                regime: Regime = Regime.Char): DataFrame =
    encodeDocs(docs, idCol, regime.normalize(col(textCol)), regime.words,
      (new MergeIndex(merges), idsOf(vocabDf, "token", "token_id")),
      "token_ids", "n_tokens")(regime.idEncoder)

  // ---- Byte symbols -----------------------------------------------------

  /** GPT-2-style byte→unicode symbol mapping (Radford et al. 2019's
    * `bytes_to_unicode`, restated as a closed formula): every
    * "printable" byte — 33..126, 161..172, 174..255 — maps to its own
    * code point; the 68 remaining bytes (0..32 control+space, 127..160,
    * 173 soft hyphen) map to `256 + k` where `k` is the byte's index
    * among the excluded bytes ascending. Space (32) becomes `Ġ` (U+0120)
    * — the visible word-boundary marker of every production byte-level
    * tokenizer. The mapping is a bijection byte↔symbol, so byte-level
    * BPE has NO out-of-vocabulary symbol at all and round-trips
    * arbitrary UTF-8 exactly — the property the char regime cannot
    * offer (an unseen character there is an unsplittable singleton
    * token).
    */
  private def keepByte(b: Int): Boolean =
    (b >= 33 && b <= 126) || (b >= 161 && b <= 172) || (b >= 174 && b <= 255)

  /** Byte (0..255) → symbol character. */
  def byteSym(b: Int): Char =
    if (keepByte(b)) b.toChar
    else if (b <= 32) (256 + b).toChar
    else if (b == 127) (256 + 33).toChar
    else if (b <= 160) (256 + 34 + (b - 128)).toChar
    else (256 + 67).toChar // b == 173

  /** Symbol character → byte; exact inverse of [[byteSym]]. */
  def symByte(c: Char): Int = {
    val ci = c.toInt
    if (ci < 256) ci
    else {
      val k = ci - 256
      if (k <= 32) k
      else if (k == 33) 127
      else if (k <= 66) 128 + (k - 34)
      else 173 // k == 67
    }
  }

  /** UTF-8 bytes of `s`, one symbol character per byte. */
  def byteSyms(s: String): String = {
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val out = new Array[Char](bytes.length)
    var i = 0
    while (i < bytes.length) { out(i) = byteSym(bytes(i) & 0xff); i += 1 }
    new String(out)
  }

  /** Inverse of [[byteSyms]]: symbol characters → bytes → UTF-8. */
  def symsToString(syms: String): String = {
    val bytes = new Array[Byte](syms.length)
    var i = 0
    while (i < syms.length) { bytes(i) = symByte(syms(i)).toByte; i += 1 }
    new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Byte-regime vocabulary implied by a merge table: `(token_id,
    * token)` — `specials` (reserved BOS/EOS/PAD strings, optional)
    * take ids 0..k-1, the 256 byte symbols follow at k..k+255 (id =
    * k + byte value; the GPT-2 convention when k = 0), merge OUTPUTS
    * after that in rank order (first token string wins on duplicates,
    * ids compacted). Corpus-INDEPENDENT, unlike the char regime's
    * [[vocab]]: the byte alphabet is closed, so the same merge table +
    * special list yields the same ids with no corpus scan at all — and
    * no token can ever be out of vocabulary. |specials| + |merges| +
    * 256 rows; a driver-side literal.
    */
  def vocabBytes(spark: org.apache.spark.sql.SparkSession,
                 merges: Array[(String, String)],
                 specials: Seq[String] = Nil): DataFrame = {
    import spark.implicits._
    val seen = mutable.LinkedHashSet.empty[String]
    // Reserved special tokens (BOS/EOS/PAD…) pin ids 0..k-1 — the
    // trainer-contract slots every id consumer downstream can rely on
    // (`Sft.packTokens`' separator threads the EOS id from here). Byte
    // symbols shift to k..k+255 (id = k + byte value), merge outputs
    // follow. The specials list is VALIDATED, not trusted: a duplicate
    // special would silently shift every later id; a single-char
    // special could collide with a byte symbol and shift the whole
    // byte block; and a merge OUTPUT equal to a special would (under
    // the LinkedHashSet's first-wins) alias ordinary content onto the
    // special's id — special-token injection into trainer id streams.
    // All three fail loudly here instead.
    require(specials.distinct.size == specials.size,
      s"duplicate special tokens: ${specials.mkString(", ")}")
    specials.foreach { sp =>
      require(sp.length >= 2,
        s"special token '$sp' must be >= 2 chars (a single char could " +
          "collide with a byte symbol and silently shift byte ids)")
    }
    val specialSet = specials.toSet
    merges.foreach { case (l, r) =>
      require(!specialSet.contains(l + r),
        s"merge output '${l + r}' collides with a reserved special " +
          "token — encoding would emit the special's id for ordinary " +
          "content; rename the special or drop the merge")
    }
    specials.foreach(seen += _)
    (0 until 256).foreach(b => seen += byteSym(b).toString)
    merges.foreach { case (l, r) => seen += (l + r) }
    spark.createDataset(seen.toSeq.zipWithIndex
        .map { case (t, i) => (i, t) })
      .toDF("token_id", "token")
  }

  /** Decode a byte-regime token table back to text:
    * `(id, text_rt)`. Tokens concatenate with NO separator (the space
    * lives inside the `Ġ` symbols), then symbols → bytes → UTF-8 — the
    * exact inverse, independent of which merges fired. Narrow, no
    * shuffle, no model.
    */
  def decodeBytes(enc: DataFrame, idCol: String): DataFrame = {
    val spark = enc.sparkSession
    import spark.implicits._
    enc.select(col(idCol).cast("long"),
        concat_ws("", col("tokens")).as("__s"))
      .as[(Long, String)]
      .map { case (id, s) => (id, symsToString(s)) }
      .toDF(idCol, "text_rt")
  }

  // ---- Raw-regime pre-tokenizers (normalization-free) ------------------

  /** GPT-2-style pre-tokenizer pattern (Radford et al. 2019's
    * tokenizer regex, restated LOOKAHEAD-FREE so it is portable across
    * Java regex and RE2 — the same Java ∩ RE2 discipline as the PII
    * set): lowercase contraction suffixes, ` ?letters+`, ` ?digits+`,
    * ` ?punctuation-run`, then a whitespace-run branch. The original
    * `\s+(?!\S)` lookahead branch (splitting a trailing space off a
    * whitespace run) is dropped — RE2 has no lookahead — so here a
    * whitespace RUN is one piece while a SINGLE space attaches to the
    * following word (the `Ġword` convention); [[preTokenizeGpt2]]
    * restores the exact GPT-2 split. The whitespace class is spelled
    * EXPLICITLY as `[ \t\n\x0B\f\r]` rather than `\s`, because the two
    * engines disagree on `\s` at exactly one code point: Java's
    * (ASCII) `\s` includes U+000B vertical tab while RE2's excludes
    * it — the explicit class preserves Java semantics bit-for-bit and
    * makes RE2 agree. The alternation is a PARTITION of any string:
    * every character class is covered by some branch and matches never
    * skip, so the pieces concatenate back to exactly the input — the
    * invariant raw round-trip rests on (BpeRawSpec fuzzes it over
    * random unicode).
    */
  val PreTokPattern: String =
    "'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+" +
      "| ?[^ \\t\\n\\x0B\\f\\r\\p{L}\\p{N}]+|[ \\t\\n\\x0B\\f\\r]+"

  /** The pattern's explicit whitespace class as a NEGATED match — "this
    * piece contains a non-whitespace char", the engine∩RE2-portable
    * spelling of `\S` (which the engines likewise disagree on at
    * U+000B). Used wherever a piece is classified word vs whitespace.
    */
  val NonWsClass: String = "[^ \\t\\n\\x0B\\f\\r]"

  /** The positive whitespace class (the pattern's own spelling). */
  val WsClass: String = "[ \\t\\n\\x0B\\f\\r]"

  /** Is `c` in [[WsClass]] — the pattern's (Java-ASCII-`\s`) whitespace
    * set, NOT `Character.isWhitespace` (which adds unicode spaces the
    * pattern deliberately treats as punctuation, exactly as GPT-2's
    * `\s` does).
    */
  private def isPatWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' ||
      c == '\r'

  @transient private lazy val preTokCompiled =
    java.util.regex.Pattern.compile(PreTokPattern)

  /** Pieces of `s` under [[PreTokPattern]] — a lossless partition
    * (pieces concatenate back to exactly `s`); empty input → no pieces.
    */
  def preTokenize(s: String): Array[String] = {
    if (s.isEmpty) return Array.empty[String]
    val m = preTokCompiled.matcher(s)
    val out = mutable.ArrayBuffer.empty[String]
    while (m.find()) out += m.group()
    out.toArray
  }

  /** [[PreTokPattern]] pieces of `s[from, until)` appended to `out`. */
  private def preTokenizeInto(s: String, from: Int, until: Int,
                              out: mutable.ArrayBuffer[String]): Unit = {
    if (from >= until) return
    val m = preTokCompiled.matcher(s)
    m.region(from, until)
    while (m.find()) out += m.group()
  }

  /** GPT-2's EXACT pre-tokenization — [[preTokenize]] plus the
    * `\s+(?!\S)` trailing-space split the portable pattern drops: a
    * whitespace RUN followed by non-whitespace yields `run[0..n−2]` as
    * one piece and donates its LAST whitespace char to the following
    * piece (so indentation tokenizes as one multi-space token plus a
    * ` word`-style piece — the vocabulary shape production byte-BPE
    * tables learn on code). Runs at end of input stay one piece.
    *
    * Restated LOOKAHEAD-FREE so the DuckDB oracle (RE2 — no lookahead)
    * can follow the same construction: split the input into SEGMENTS
    * immediately before the last whitespace character of every maximal
    * whitespace run that is followed by non-whitespace (equivalently:
    * before every whitespace char whose successor is non-whitespace —
    * only a run's last char has that property), then tokenize each
    * segment independently with the plain [[PreTokPattern]].
    *
    * Why this equals the lookahead pattern: GPT-2's extra branch only
    * acts at such a run, where it matches exactly `run[0..n−2]` and
    * resumes at the donated char — i.e. precisely at the segment
    * boundary; at a segment start (one whitespace then non-whitespace)
    * the lookahead branch cannot match, so both patterns agree
    * branch-for-branch, and no match of either pattern can cross a
    * boundary (the run piece ends there by construction). Pieces must
    * be RE-tokenized per segment, not spliced — a donated space can
    * reshape downstream matches (` 'llama` → `[" '", "llama"]`, where
    * the run-less tokenization had `["'ll", "ama"]`). BpeRawSpec
    * fuzz-proves equality against the literal lookahead pattern under
    * Java, plus the lossless-partition invariant.
    *
    * Oracle-side the same surgery is one sentinel
    * `regexp_replace((ws)(nonws) → 0x01 + captures)` + per-segment
    * `regexp_extract_all` — see TrainGates' gpt2 word CTEs.
    */
  def preTokenizeGpt2(s: String): Array[String] = {
    if (s.isEmpty) return Array.empty[String]
    val out = mutable.ArrayBuffer.empty[String]
    var start = 0
    var i = 0
    while (i < s.length - 1) {
      if (isPatWs(s.charAt(i)) && !isPatWs(s.charAt(i + 1))) {
        preTokenizeInto(s, start, i, out)
        start = i
      }
      i += 1
    }
    preTokenizeInto(s, start, s.length, out)
    out.toArray
  }

  // ---- Vocabulary interchange (merges.txt / vocab.json) ----------------

  /** Render a merge table in the standard `merges.txt` interchange
    * format (the GPT-2/HuggingFace artifact layout): one optional
    * `#version:` header line, then one `left right` line per rank,
    * rank order = line order. Validates the format's implicit
    * contract — no symbol may contain a space or newline (byte-level
    * symbols never do: the space byte is `Ġ`, control bytes are
    * remapped ≥ U+0100) — and fails loudly rather than writing an
    * ambiguous file.
    */
  def renderMerges(merges: Array[(String, String)],
                   header: String = "#version: 0.2"): String = {
    merges.foreach { case (l, r) =>
      require(l.nonEmpty && r.nonEmpty,
        "merges.txt cannot represent empty symbols")
      require(!l.exists(c => c == ' ' || c == '\n' || c == '\r') &&
          !r.exists(c => c == ' ' || c == '\n' || c == '\r'),
        s"merges.txt cannot represent a symbol containing a space or " +
          s"newline: ('$l', '$r')")
    }
    (header +: merges.map { case (l, r) => s"$l $r" }).mkString("\n")
  }

  /** Parse `merges.txt` content: skip a leading `#version` header and
    * blank lines; every other line must be exactly `left right`.
    */
  def parseMerges(content: String): Array[(String, String)] = {
    val lines = content.linesIterator.toArray
    val body =
      if (lines.nonEmpty && lines.head.startsWith("#version")) lines.tail
      else lines
    body.iterator.filter(_.nonEmpty).map { ln =>
      val parts = ln.split(" ", -1)
      require(parts.length == 2 && parts(0).nonEmpty && parts(1).nonEmpty,
        s"malformed merges.txt line: '$ln'")
      (parts(0), parts(1))
    }.toArray
  }

  /** Load a published `merges.txt` into the model-as-rows form
    * ([[train]]'s `(rank, left, right)` shape, `pair_count` absent —
    * the artifact does not carry counts); `mergesOf` of the result is
    * the in-memory table [[encodeWithMergesFast]]/[[encodeIds]]
    * consume — under `Regime.Raw(hf = true)`, ALWAYS: the artifact's
    * publisher ran the min-rank algorithm, see [[encodeWordHf]]. Reads through
    * the Hadoop filesystem layer (any `wholeTextFiles`-able URI);
    * bounded-model contract — a merges.txt is a model artifact, not a
    * dataset.
    */
  def loadMerges(spark: org.apache.spark.sql.SparkSession,
                 path: String): DataFrame = {
    val content = spark.sparkContext.wholeTextFiles(path)
      .map(_._2).collect().mkString("\n")
    val ms = parseMerges(content)
    spark.createDataFrame(
      spark.sparkContext.parallelize(ms.zipWithIndex.map {
        case ((l, r), i) => Row(i, l, r)
      }.toSeq, 1),
      StructType(Seq(StructField("rank", IntegerType, nullable = false),
        StructField("left", StringType, nullable = false),
        StructField("right", StringType, nullable = false))))
  }

  private def jsonEscape(s: String): String = {
    val sb = new StringBuilder
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.toString
  }

  /** Render a `(token_id, token)` vocabulary as the standard
    * `vocab.json` interchange object (`{"token": id, …}`, raw UTF-8
    * with minimal JSON escaping), ordered by id. Bounded-model
    * contract: the vocabulary is collected.
    */
  def renderVocab(vocabDf: DataFrame): String = {
    import vocabDf.sparkSession.implicits._
    val rows = vocabDf.select(col("token_id").cast("int"), col("token"))
      .as[(Int, String)].collect().sortBy(_._1)
    rows.map { case (id, t) => s""""${jsonEscape(t)}": $id""" }
      .mkString("{", ", ", "}")
  }

  /** Load a published `vocab.json` into the `(token_id, token)`
    * model-as-rows form — the inverse of [[renderVocab]], and the
    * reader for HF tokenizer artifacts. The whole object parses as a
    * `map<string,int>` via Spark's own JSON reader (`from_json`), so
    * `\uXXXX` escapes and raw UTF-8 both work.
    */
  def loadVocab(spark: org.apache.spark.sql.SparkSession,
                path: String): DataFrame = {
    import spark.implicits._
    val content = spark.sparkContext.wholeTextFiles(path)
      .map(_._2).collect().mkString
    Seq(content).toDF("__j")
      .select(explode(from_json(col("__j"),
        MapType(StringType, IntegerType))).as(Seq("token", "token_id")))
      .select(col("token_id"), col("token"))
  }

  /** Tokenizer FERTILITY per group (typically language) under
    * `regime`: learned-subword tokens per word under a pinned merge
    * table — the coverage metric that decides whether a tokenizer
    * under-serves a language before a run commits to it (fertility
    * approaching mean word length — or, under a byte regime, the UTF-8
    * byte length — means the vocabulary is falling back to characters
    * or raw bytes there). Words are the regime's [[Regime.wordCount]];
    * `fertility` is ONE IEEE division of two exact long sums
    * (engine-portable), null for word-less groups.
    */
  def fertility(docs: DataFrame, idCol: String, textCol: String,
                groupCol: String,
                merges: Array[(String, String)],
                regime: Regime = Regime.Char): DataFrame =
    fertilityRollup(encodeWithMergesFast(docs, idCol, textCol, merges, regime),
      docs, idCol, groupCol, regime.wordCount(col(textCol)), "n_tokens")

  /** The fertility rollup shared with [[Unigram.fertility]]: one encode
    * scan (`enc`'s `unit` count column) + one narrow word-count scan
    * joined on the id (three slim columns), one partial agg.
    */
  private[llm] def fertilityRollup(enc: DataFrame, docs: DataFrame,
                                   idCol: String, groupCol: String,
                                   nWords: Column, unit: String): DataFrame = {
    val words = docs.select(col(idCol).cast("long").as(idCol),
      col(groupCol), nWords.as("__nw"))
    words.join(enc.select(col(idCol), col(unit).cast("long").as("__nt")),
        Seq(idCol))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__nw")).as("n_words"),
        sum(col("__nt")).as(unit))
      .select(col(groupCol), col("n_docs"), col("n_words"), col(unit),
        when(col("n_words") === 0L, lit(null).cast("double"))
          .otherwise(col(unit).cast("double")
            / col("n_words").cast("double")).as("fertility"))
  }
}
