package perfbench

/** Seeded text corpus with planted duplicates.
  *
  * `nOriginal` documents of 80–480 words drawn from a Zipf vocabulary
  * whose head is English stopwords, then planted on top of them:
  *   - 3% exact copies (re-cased, re-spaced: equal after normalization);
  *   - 10% near copies (3% of the words substituted: word-3-shingle
  *     Jaccard around 0.83, above the 0.7 near-dup threshold);
  *   - 2% shuffled copies (the same words in another order: a different
  *     text with the identical bag of words, a semantic duplicate);
  *   - 2% junk documents (mostly digits), which the quality filter drops.
  * Originals take ids 1..nOriginal and every plant a larger id, so a
  * min-id survivor rule keeps the original.
  */
final class CorpusGen(seed: Long, val nOriginal: Int) {
  import CorpusGen._

  private val rnd = new scala.util.Random(seed)

  /** Sampling CDF over the vocabulary ranks (Zipf, exponent 1.1). */
  private val cdf: Array[Double] = {
    val w = Array.tabulate(Vocab.length)(r => 1.0 / math.pow(r + 1, 1.1))
    val s = w.sum
    w.scanLeft(0.0)(_ + _ / s).tail
  }

  private def word(): String = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    Vocab(math.min(if (i >= 0) i else -i - 1, Vocab.length - 1))
  }

  private def words(n: Int): Array[String] = Array.fill(n)(word())

  val originals: IndexedSeq[Doc] =
    (1 to nOriginal).map(i => Doc(i.toLong, words(80 + rnd.nextInt(401)).mkString(" ")))

  private var nextId = nOriginal.toLong + 1
  private def fresh(): Long = { val i = nextId; nextId += 1; i }
  private def sampleOriginals(frac: Double): IndexedSeq[Doc] =
    rnd.shuffle(originals).take(math.round(nOriginal * frac).toInt)

  /** Exact copies: (original id, copy). */
  val exactCopies: IndexedSeq[(Long, Doc)] = sampleOriginals(0.03).map { d =>
    val t = d.text.split(" ").map(w => if (rnd.nextInt(4) == 0) w.capitalize else w)
      .mkString("  ")
    d.id -> Doc(fresh(), " " + t + " ")
  }

  /** Near copies: (original id, copy). */
  val nearCopies: IndexedSeq[(Long, Doc)] = sampleOriginals(0.10).map { d =>
    val ws = d.text.split(" ")
    val edits = math.max(1, math.round(ws.length * 0.03).toInt)
    (0 until edits).foreach { _ => ws(rnd.nextInt(ws.length)) = word() }
    d.id -> Doc(fresh(), ws.mkString(" "))
  }

  /** Shuffled copies: (original id, copy). */
  val shuffledCopies: IndexedSeq[(Long, Doc)] = sampleOriginals(0.02).map { d =>
    d.id -> Doc(fresh(), rnd.shuffle(d.text.split(" ").toSeq).mkString(" "))
  }

  val junk: IndexedSeq[Doc] = IndexedSeq.fill(math.round(nOriginal * 0.02).toInt) {
    val n = 80 + rnd.nextInt(200)
    Doc(fresh(), Array.fill(n)(if (rnd.nextInt(10) < 8) (1000 + rnd.nextInt(900000)).toString
                              else word()).mkString(" "))
  }

  /** Every document, in a seeded order. */
  val all: IndexedSeq[Doc] = rnd.shuffle(originals ++ exactCopies.map(_._2) ++
    nearCopies.map(_._2) ++ shuffledCopies.map(_._2) ++ junk)

  def textBytes: Long = all.map(_.text.getBytes("UTF-8").length.toLong).sum
}

object CorpusGen {
  final case class Doc(id: Long, text: String)

  private val Stopwords = IndexedSeq(
    "the", "of", "and", "to", "in", "a", "is", "that", "for", "it", "as",
    "was", "with", "be", "by", "on", "not", "he", "this", "are", "or", "his",
    "from", "at", "which", "but", "have", "an", "had", "they", "you", "were",
    "their", "one", "all", "we", "can", "her", "has", "there", "been", "if")

  /** Stopwords first, then 6 000 pronounceable content words (fixed,
    * independent of the corpus seed). */
  val Vocab: IndexedSeq[String] = {
    val r = new scala.util.Random(7)
    val on = IndexedSeq("b", "c", "d", "f", "g", "h", "k", "l", "m", "n", "p",
      "r", "s", "t", "v", "w", "z", "ch", "st", "tr", "br")
    val nu = IndexedSeq("a", "e", "i", "o", "u", "ai", "ea", "ou")
    val content = scala.collection.mutable.LinkedHashSet.empty[String]
    while (content.size < 6000) {
      val w = (0 until 2 + r.nextInt(2))
        .map(_ => on(r.nextInt(on.size)) + nu(r.nextInt(nu.size))).mkString
      if (!Stopwords.contains(w)) content += w
    }
    Stopwords ++ content
  }
}
