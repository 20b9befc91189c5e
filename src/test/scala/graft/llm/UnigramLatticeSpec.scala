package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Unigram's shared lattice layer (one chunked scaffold, one Viterbi DP
  * for the product and the log space, one budget cut, one EM loop, one
  * unit counter) against the definitions each operator wrote out for
  * itself before the layer existed, kept verbatim in
  * [[UnigramLatticeSpec.Reference]]. Segmentations must be equal piece
  * for piece, expectations bit for bit, and every table row for row, on
  * words at and around the 24-code-point chunk edges, a surrogate pair
  * across that edge, bitwise ties in both score spaces, the extreme
  * `maxPieceLen`s, all-OOV words, and null, empty, tab-led and NBSP
  * documents.
  */
class UnigramLatticeSpec extends SparkSpec {
  import spark.implicits._
  import UnigramLatticeSpec.Reference

  private val rng = new scala.util.Random(1107)

  /** A word of `n` code points over `alphabet` (code points). */
  private def word(alphabet: Array[Int], n: Int): String =
    new String(Array.fill(n)(alphabet(rng.nextInt(alphabet.length))), 0, n)

  private val ab = "ab".codePoints().toArray
  private val wide = "abcé世🎉".codePoints().toArray
  private val lengths = Seq(0, 1, 24, 25, 48, 49)

  /** Words of every pinned length over both alphabets, plus a surrogate
    * pair on each side of the first chunk edge (its UTF-16 units sit at
    * 23/24 and 24/25, so a unit-counting chunker would split or shift it).
    */
  private lazy val words: Seq[String] = {
    val pairs = Seq("a" * 23 + "🎉" + "ab" * 5, "a" * 24 + "🎉" + "b" * 3,
      "ab" * 11 + "a🎉" + "ab" * 12)
    lengths.flatMap(n => Seq(word(ab, n), word(wide, n), word(wide, n))) ++ pairs
  }

  /** Product-space score closures: `{aa, a}` at equal mass ties every
    * split of a run of a's bitwise; the others are a mixed vocabulary
    * with multi-cp and non-BMP pieces, and one that knows no piece of
    * the words (all OOV, every position a floored single).
    */
  private lazy val productScores: Seq[String => Double] = {
    def sc(m: Map[String, Long]): String => Double = {
      val n = m.values.sum.toDouble
      Unigram.mkScore(m.map { case (k, v) => k -> math.max(v.toDouble / n, Unigram.POov) })
    }
    Seq(sc(Map("aa" -> 2L, "a" -> 2L)),
      sc(Map("ab" -> 5L, "ba" -> 3L, "aba" -> 4L, "a" -> 2L, "b" -> 2L,
        "é世" -> 3L, "🎉a" -> 2L, "c" -> 1L, "abab" -> 7L)),
      sc(Map("q" -> 1L, "qq" -> 1L)))
  }

  /** Log-space score closures: dyadic log-probs, so `[a][a]` and `[aa]`
    * tie bitwise (−2 = −1 + −1), plus a mixed and an all-OOV one. */
  private lazy val logScores: Seq[String => Double] = Seq(
    Unigram.mkScoreLog(Map("aa" -> -2.0, "a" -> -1.0, "b" -> -1.0, "ab" -> -2.0)),
    Unigram.mkScoreLog(Map("ab" -> -1.5, "aba" -> -2.25, "é世" -> -3.0,
      "🎉" -> -0.5, "a" -> -4.0, "abab" -> -2.0)),
    Unigram.mkScoreLog(Map("q" -> -1.0)))

  private val maxLens = Seq(1, 2, 4, 10, 60)

  private def bits(es: Iterator[(String, Double)]): Seq[(String, Long)] =
    es.map { case (p, e) => (p, java.lang.Double.doubleToRawLongBits(e)) }.toSeq

  test("viterbi in both score spaces equals the reference, ties and chunk edges included") {
    for (w <- words; m <- maxLens) {
      productScores.foreach { sc =>
        assert(Unigram.viterbiSegment(w, sc, m).toSeq ==
          Reference.viterbiSegment(w, sc, m).toSeq, s"product '$w' maxPieceLen=$m")
      }
      logScores.foreach { sc =>
        assert(Unigram.viterbiSegmentLog(w, sc, m).toSeq ==
          Reference.viterbiSegmentLog(w, sc, m).toSeq, s"log '$w' maxPieceLen=$m")
      }
    }
    // the pinned tie: ascending j with strict > keeps the smallest j
    val tie = productScores.head
    assert(Unigram.viterbiSegment("aaa", tie, 10).toSeq == Seq("a", "aa"))
    assert(Unigram.viterbiSegmentLog("aaa", logScores.head, 10).toSeq == Seq("a", "aa"))
    // a 24-cp chunk keeps the whole ab-run; a 25th cp starts its own chunk
    val abab = productScores(1)
    assert(Unigram.viterbiSegment("ab" * 12, abab, 4).toSeq == Seq.fill(6)("abab"))
    assert(Unigram.viterbiSegment("ab" * 12 + "a", abab, 4).last == "a")
  }

  test("fbExpectations equals the reference bit for bit") {
    for (w <- words; m <- maxLens; sc <- productScores)
      assert(bits(Unigram.fbExpectations(w, sc, m)) ==
        bits(Reference.fbExpectations(w, sc, m)), s"'$w' maxPieceLen=$m")
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def assertSame(got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema == want.schema)
    assert(rows(got) == rows(want))
  }

  /** Text with ties, long words past both chunk edges, non-BMP code
    * points and null/empty/whitespace-only documents. */
  private lazy val docs: DataFrame = Seq[(Long, String)](
    (1L, "abab abab aba b a " + "ab" * 13),
    (2L, "Aa aa aaa\taa   ba BA " + word(wide, 49)),
    (3L, "🎉a é世 🎉a " + word(wide, 25) + " " + word(ab, 48)),
    (4L, null), (5L, ""), (6L, "\tab ab"), (7L, "   "),
    (8L, "ab\u00A0ab ﬁne ＡＢ")).toDF("doc_id", "text")

  private lazy val wc: DataFrame = Bpe.wordCounts(docs, "text")

  test("the budget cut: seed and both EM steps equal the reference cuts") {
    for ((maxLen, budget) <- Seq((1, 0), (3, 4), (10, 16), (60, 4096)))
      assertSame(Unigram.seedVocabFromWordCounts(wc, maxLen, budget),
        Reference.seedVocabFromWordCounts(wc, maxLen, budget))
    // the previous model knows singles (x, y, z) no word of `wc` has:
    // the EM cut must keep them at mass 0
    val prev = Unigram.seedVocabFromWordCounts(
      wc.union(Seq(("xyz", 1L)).toDF("word", "cnt")), 10, 32)
    for ((maxLen, budget) <- Seq((1, 0), (4, 8), (10, 64))) {
      val hard = Unigram.emStepHard(wc, prev, maxLen, budget)
      assertSame(hard, Reference.emStepHard(wc, prev, maxLen, budget))
      assert(hard.where(col("piece") === "z").select("cnt").as[Long].collect().toSeq ==
        Seq(0L))
      val soft = Unigram.emStepSoft(wc, prev, maxLen, budget)
      assertSame(soft, Reference.emStepSoft(wc, prev, maxLen, budget))
      assertSame(Unigram.emStepSoftW(wc, soft, maxLen, budget),
        Reference.emStepSoftW(wc, soft, maxLen, budget))
    }
  }

  test("score maps equal the reference bit for bit") {
    val model = Unigram.seedVocabFromWordCounts(wc, 10, 16)
    def bitsOf(m: Map[String, Double]) =
      m.map { case (p, s) => p -> java.lang.Double.doubleToRawLongBits(s) }
    assert(bitsOf(Unigram.scoresOf(model)) == bitsOf(Reference.scoresOf(model)))
    val w = Unigram.emStepSoft(wc, model, 10, 16)
    assert(bitsOf(Unigram.scoresOfWeighted(w)) == bitsOf(Reference.scoresOfWeighted(w)))
  }

  test("the EM loop: all three trainers equal the reference trainers") {
    for ((iters, maxLen, budget, seedBudget) <- Seq((1, 1, 0, 0), (2, 4, 8, 64),
        (3, 60, 4096, 65536))) {
      assertSame(Unigram.trainHard(docs, "text", iters, maxLen, budget, seedBudget),
        Reference.trainHard(docs, "text", iters, maxLen, budget, seedBudget))
      assertSame(Unigram.trainSoft(docs, "text", iters, maxLen, budget, seedBudget),
        Reference.trainSoft(docs, "text", iters, maxLen, budget, seedBudget))
      for (nfkc <- Seq(false, true))
        assertSame(
          Unigram.trainHardSp(docs, "text", iters, maxLen, budget, seedBudget, nfkc),
          Reference.trainHardSp(docs, "text", iters, maxLen, budget, seedBudget, nfkc))
    }
  }

  test("wordCountsSp counts the reference rows; encodeSp keeps the tab-led lone ▁") {
    for (nfkc <- Seq(false, true)) {
      val got = Unigram.wordCountsSp(docs, "text", nfkc)
      val want = Reference.wordCountsSp(docs, "text", nfkc)
      // the typed counter's word column is nullable, as Bpe.wordCounts' is
      def typed(df: DataFrame) = df.schema.map(f => (f.name, f.dataType))
      assert(typed(got) == typed(want))
      assert(rows(got) == rows(want))
    }
    def counted(nfkc: Boolean): Set[String] =
      Unigram.wordCountsSp(docs, "text", nfkc).select("word").as[String].collect().toSet
    assert(!counted(false).contains("▁") && !counted(true).contains("▁"))
    // NFKC turns the NBSP into a word boundary before the collapse
    assert(counted(false).contains("▁ab\u00A0ab"))
    assert(!counted(true).exists(_.contains("\u00A0")))
    val model = Unigram.trainHardSp(docs, "text", iters = 1)
    val tabLed = Unigram.encodeSp(docs.where(col("doc_id") === 6L), "doc_id", "text", model)
      .select("pieces").as[Seq[String]].head()
    assert(tabLed.head == "▁")
  }
}

object UnigramLatticeSpec {

  /** The parent definitions of every operator the lattice layer now
    * serves, verbatim (helpers they called that are private to
    * [[Unigram]] are copied too).
    */
  object Reference {
    import Unigram.{MaxDpLen, POov, mkScore}

    def viterbiSegment(word: String, score: String => Double,
                       maxPieceLen: Int): Array[String] = {
      val n = word.codePointCount(0, word.length)
      if (n == 0) return Array.empty
      if (n > MaxDpLen) {
        val out = mutable.ArrayBuffer.empty[String]
        var s = 0
        var done = 0
        while (done < n) {
          val take = math.min(MaxDpLen, n - done)
          val e = word.offsetByCodePoints(s, take)
          out ++= viterbiSegment(word.substring(s, e), score, maxPieceLen)
          s = e
          done += take
        }
        return out.toArray
      }
      // code-point start offsets into the UTF-16 backing
      val offs = new Array[Int](n + 1)
      var o = 0
      var t = 0
      while (t < n) {
        offs(t) = o
        o = word.offsetByCodePoints(o, 1)
        t += 1
      }
      offs(n) = word.length
      val best = new Array[Double](n + 1)
      val bp = new Array[Int](n + 1)
      best(0) = 1.0
      var i = 1
      while (i <= n) {
        var b = -1.0
        var a = -1
        var j = math.max(0, i - maxPieceLen)
        while (j < i) {
          if (best(j) > 0) {
            val p = score(word.substring(offs(j), offs(i)))
            if (p > 0) {
              val cand = best(j) * p // ONE exactly-rounded multiply
              if (cand > b) { b = cand; a = j }
            }
          }
          j += 1
        }
        best(i) = b
        bp(i) = a
        i += 1
      }
      val buf = mutable.ListBuffer.empty[String]
      var k = n
      while (k > 0) {
        val j = bp(k)
        word.substring(offs(j), offs(k)) +=: buf
        k = j
      }
      buf.toArray
    }

    def viterbiSegmentLog(word: String, score: String => Double,
                          maxPieceLen: Int): Array[String] = {
      val n = word.codePointCount(0, word.length)
      if (n == 0) return Array.empty
      if (n > MaxDpLen) {
        val out = mutable.ArrayBuffer.empty[String]
        var s = 0
        var done = 0
        while (done < n) {
          val take = math.min(MaxDpLen, n - done)
          val e = word.offsetByCodePoints(s, take)
          out ++= viterbiSegmentLog(word.substring(s, e), score, maxPieceLen)
          s = e
          done += take
        }
        return out.toArray
      }
      val offs = new Array[Int](n + 1)
      var o = 0
      var t = 0
      while (t < n) {
        offs(t) = o
        o = word.offsetByCodePoints(o, 1)
        t += 1
      }
      offs(n) = word.length
      val best = new Array[Double](n + 1)
      val bp = new Array[Int](n + 1)
      best(0) = 0.0
      var i = 1
      while (i <= n) {
        var b = Double.NegativeInfinity
        var a = -1
        var j = math.max(0, i - maxPieceLen)
        while (j < i) {
          val p = score(word.substring(offs(j), offs(i)))
          if (!p.isNaN) {
            val cand = best(j) + p // ONE exactly-rounded add
            if (cand > b) { b = cand; a = j }
          }
          j += 1
        }
        best(i) = b
        bp(i) = a
        i += 1
      }
      val buf = mutable.ListBuffer.empty[String]
      var k = n
      while (k > 0) {
        val j = bp(k)
        word.substring(offs(j), offs(k)) +=: buf
        k = j
      }
      buf.toArray
    }

    def fbExpectations(word: String, score: String => Double,
                       maxPieceLen: Int): Iterator[(String, Double)] = {
      val n = word.codePointCount(0, word.length)
      if (n == 0) return Iterator.empty
      if (n > MaxDpLen) {
        // chunk exactly as viterbiSegment: independent sub-lattices
        val out = mutable.ArrayBuffer.empty[(String, Double)]
        var s = 0
        var done = 0
        while (done < n) {
          val take = math.min(MaxDpLen, n - done)
          val e = word.offsetByCodePoints(s, take)
          out ++= fbExpectations(word.substring(s, e), score, maxPieceLen)
          s = e
          done += take
        }
        return out.iterator
      }
      val offs = new Array[Int](n + 1)
      var o = 0
      var t = 0
      while (t < n) {
        offs(t) = o
        o = word.offsetByCodePoints(o, 1)
        t += 1
      }
      offs(n) = word.length
      def pieceAt(j: Int, i: Int): String = word.substring(offs(j), offs(i))
      val alpha = new Array[Double](n + 1)
      alpha(0) = 1.0
      var i = 1
      while (i <= n) {
        var s = 0.0
        var j = math.max(0, i - maxPieceLen)
        while (j < i) {
          val p = score(pieceAt(j, i))
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
          val p = score(pieceAt(j, e))
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
          val piece = pieceAt(jj, e)
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

    def scoresOf(model: DataFrame): Map[String, Double] = {
      val rows = model.select(col("piece"), col("cnt").cast("long")).collect()
      val n = rows.iterator.map(_.getLong(1)).sum
      require(n > 0L, "unigram model has zero total mass")
      val nd = n.toDouble
      rows.iterator.map { r =>
        r.getString(0) -> math.max(r.getLong(1).toDouble / nd, POov)
      }.toMap
    }

    def scoresOfWeighted(model: DataFrame): Map[String, Double] = {
      val rows = model
        .select(col("piece"), col("weight").cast("decimal(38,15)"))
        .collect()
      val total = rows.iterator.map(_.getDecimal(1))
        .foldLeft(java.math.BigDecimal.ZERO)(_ add _)
      val tD = total.doubleValue
      require(tD > 0, "weighted unigram model has zero total mass")
      rows.iterator.map { r =>
        r.getString(0) -> math.max(r.getDecimal(1).doubleValue / tD, POov)
      }.toMap
    }

    private def viterbi(maxPieceLen: Int)(scores: Map[String, Double])
        : String => Array[String] = {
      val sc = mkScore(scores)
      w => viterbiSegment(w, sc, maxPieceLen)
    }

    private def segmentWordCounts[M: scala.reflect.ClassTag,
        V: scala.reflect.runtime.universe.TypeTag: scala.reflect.ClassTag](
        wc: DataFrame, model: M)(segment: M => String => Array[V]): DataFrame = {
      import wc.sparkSession.implicits._
      Bpe.segmentRows(wc.select(col("cnt").cast("long"), col("word"))
          .as[(Long, String)], model, Iterator.single(_))(segment)
        .toDF("__c", "__seg")
        .select(col("__c"), explode(col("__seg")).as("__s"))
    }

    def seedVocabFromWordCounts(wc: DataFrame, maxPieceLen: Int = 10,
                                budget: Int = 4096): DataFrame = {
      require(maxPieceLen >= 1, s"maxPieceLen must be >= 1, got $maxPieceLen")
      require(budget >= 0, s"budget must be >= 0, got $budget")
      val n = length(col("word"))
      val subs = wc.select(col("cnt").cast("long").as("__c"),
        explode(flatten(transform(sequence(lit(1), n), s =>
          transform(sequence(lit(1), least(lit(maxPieceLen), n - s + lit(1))),
            l => col("word").substr(s, l))))).as("piece"))
      val counts = subs.groupBy("piece").agg(sum(col("__c")).as("cnt"))
      val singles = counts.where(length(col("piece")) === 1)
      val multis = counts.where(length(col("piece")) > 1)
        .orderBy(col("cnt").desc, col("piece").asc).limit(budget)
      singles.unionByName(multis)
    }

    def emStepHard(wc: DataFrame, model: DataFrame, maxPieceLen: Int = 10,
                   budget: Int = 4096): DataFrame = {
      val segmented = segmentWordCounts(wc, scoresOf(model))(
          viterbi(maxPieceLen))
        .select(col("__s").as("piece"), col("__c"))
      val counts = segmented.groupBy("piece").agg(sum(col("__c")).as("cnt"))
      val newSingles = counts.where(length(col("piece")) === 1)
      val keptSingles = model.select(col("piece"))
        .where(length(col("piece")) === 1)
        .join(counts, Seq("piece"), "left_anti")
        .select(col("piece"), lit(0L).as("cnt"))
      val multis = counts.where(length(col("piece")) > 1)
        .orderBy(col("cnt").desc, col("piece").asc).limit(budget)
      newSingles.unionByName(keptSingles).unionByName(multis)
    }

    private def spNorm(textCol: String, nfkc: Boolean): Column = {
      val t = coalesce(col(textCol), lit(""))
      val n = if (nfkc) graft.expressions.UnicodeNormalize.unicode_nfkc(t) else t
      regexp_replace(trim(n), "\\s+", " ")
    }

    def wordCountsSp(docs: DataFrame, textCol: String,
                     nfkc: Boolean = false): DataFrame =
      docs.select(explode(split(spNorm(textCol, nfkc), " ")).as("__w"))
        .filter(col("__w") =!= "")
        .select(concat(lit("▁"), col("__w")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("cnt"))

    def trainHardSp(docs: DataFrame, textCol: String, iters: Int = 2,
                    maxPieceLen: Int = 10, budget: Int = 4096,
                    seedBudget: Int = 65536, nfkc: Boolean = false): DataFrame = {
      require(iters >= 1, s"iters must be >= 1, got $iters")
      val wc = wordCountsSp(docs, textCol, nfkc)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      var model = seedVocabFromWordCounts(wc, maxPieceLen, seedBudget)
      var i = 0
      while (i < iters) {
        model = emStepHard(wc, model, maxPieceLen, budget)
        i += 1
      }
      val out = model.localCheckpoint(true)
      wc.unpersist()
      out
    }

    def emStepSoft(wc: DataFrame, model: DataFrame, maxPieceLen: Int = 10,
                   budget: Int = 4096): DataFrame =
      emStepSoftScores(wc, scoresOf(model), model, maxPieceLen, budget)

    def emStepSoftW(wc: DataFrame, modelW: DataFrame, maxPieceLen: Int = 10,
                    budget: Int = 4096): DataFrame =
      emStepSoftScores(wc, scoresOfWeighted(modelW), modelW, maxPieceLen,
        budget)

    private def emStepSoftScores(wc: DataFrame, scores: Map[String, Double],
                                 prevModel: DataFrame, maxPieceLen: Int,
                                 budget: Int): DataFrame = {
      val contrib = segmentWordCounts(wc, scores) { m =>
          val sc = mkScore(m)
          w => fbExpectations(w, sc, maxPieceLen).toArray
        }
        .select(col("__s._1").as("piece"),
          (col("__s._2") * col("__c").cast("double")).as("__w"))
      val weights = contrib
        .select(col("piece"), col("__w").cast("decimal(28,15)").as("__q"))
        .groupBy("piece").agg(sum(col("__q")).as("weight"))
      val newSingles = weights.where(length(col("piece")) === 1)
      val keptSingles = prevModel.select(col("piece"))
        .where(length(col("piece")) === 1)
        .join(weights, Seq("piece"), "left_anti")
        .select(col("piece"),
          lit(0).cast("decimal(28,15)").as("weight"))
      val multis = weights.where(length(col("piece")) > 1)
        .orderBy(col("weight").desc, col("piece").asc).limit(budget)
      newSingles.unionByName(keptSingles).unionByName(multis)
    }

    def trainSoft(docs: DataFrame, textCol: String, iters: Int = 2,
                  maxPieceLen: Int = 10, budget: Int = 4096,
                  seedBudget: Int = 65536): DataFrame = {
      require(iters >= 1, s"iters must be >= 1, got $iters")
      val wc = Bpe.wordCounts(docs, textCol)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      var model = emStepSoft(wc,
        seedVocabFromWordCounts(wc, maxPieceLen, seedBudget), maxPieceLen,
        budget)
      var i = 1
      while (i < iters) {
        model = emStepSoftW(wc, model, maxPieceLen, budget)
        i += 1
      }
      val out = model.localCheckpoint(true)
      wc.unpersist()
      out
    }

    def trainHard(docs: DataFrame, textCol: String, iters: Int = 2,
                  maxPieceLen: Int = 10, budget: Int = 4096,
                  seedBudget: Int = 65536): DataFrame = {
      require(iters >= 1, s"iters must be >= 1, got $iters")
      val wc = Bpe.wordCounts(docs, textCol)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      var model = seedVocabFromWordCounts(wc, maxPieceLen, seedBudget)
      var i = 0
      while (i < iters) {
        model = emStepHard(wc, model, maxPieceLen, budget)
        i += 1
      }
      val out = model.localCheckpoint(true)
      wc.unpersist()
      out
    }
  }
}
