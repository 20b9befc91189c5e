package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Word n-gram shingles of an ALREADY-NORMALIZED string (single-space
  * separated — [[graft.llm.Dedup.normalize]]'s output) as ONE O(len)
  * pass — the hot kernel of every dedup/contamination/span operator.
  *
  * Replaces the chained `zip_with` construction (n−1 interpreted
  * higher-order passes, each materializing a full intermediate array of
  * freshly concatenated strings) with a single byte scan: because the
  * input is single-space separated, every shingle IS a contiguous
  * substring of the input between two word boundaries, so the kernel
  * finds the space positions once and emits `numWords − n + 1`
  * substrings — no per-gram concat, no intermediate arrays. Measured
  * ~7× faster at sf0.1 for n = 3 and more at n = 8 (the span tier),
  * where the old form pays 7 chained passes.
  *
  * Output is EXACTLY the old `shingles` contract (DedupSpec pins the
  * equivalence property on arbitrary strings):
  *   - null input → null;
  *   - fewer than n words → one-element array [whole input];
  *   - otherwise the n-gram substrings in order, no nulls;
  *   - `distinct = true` additionally drops later duplicates
  *     (first-occurrence order — `array_distinct` semantics, fused here
  *     to save the extra pass over the array).
  *
  * Space scanning is byte-safe in UTF-8: 0x20 never occurs inside a
  * multi-byte sequence.
  */
case class WordShingles(child: Expression, n: Int, distinct: Boolean)
  extends UnaryExpression with NativeKernel {
  require(n >= 1, s"word_shingles: n must be >= 1, got $n")
  override def prettyName: String = "word_shingles"
  override def inputTypes = Seq(StringType)
  // containsNull = true matches the type of the zip_with/filter chain it
  // replaces (When unifies both branches' nullability), so no downstream
  // plan or schema nullability flag moves.
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override protected def helper = (WordShingles, "shingle")
  override protected def state = Seq(n, distinct)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object WordShingles {

  def shingle(s: UTF8String, n: Int, distinct: Boolean): ArrayData = {
    val bytes = s.getBytes
    val len = bytes.length
    // space byte positions; words = segments between them
    var nSpaces = 0
    var i = 0
    while (i < len) { if (bytes(i) == 0x20) nSpaces += 1; i += 1 }
    val numWords = nSpaces + 1
    if (numWords < n) return new GenericArrayData(Array[Any](s))
    val spaces = new Array[Int](nSpaces)
    var j = 0
    i = 0
    while (i < len) { if (bytes(i) == 0x20) { spaces(j) = i; j += 1 }; i += 1 }
    val nGrams = numWords - n + 1
    def wordStart(w: Int): Int = if (w == 0) 0 else spaces(w - 1) + 1
    def wordEnd(w: Int): Int = if (w == nSpaces) len else spaces(w)
    if (!distinct) {
      val out = new Array[Any](nGrams)
      var g = 0
      while (g < nGrams) {
        val a = wordStart(g); val b = wordEnd(g + n - 1)
        out(g) = UTF8String.fromBytes(bytes, a, b - a)
        g += 1
      }
      new GenericArrayData(out)
    } else {
      val seen = new java.util.LinkedHashSet[UTF8String](nGrams * 2)
      var g = 0
      while (g < nGrams) {
        val a = wordStart(g); val b = wordEnd(g + n - 1)
        seen.add(UTF8String.fromBytes(bytes, a, b - a))
        g += 1
      }
      val out = new Array[Any](seen.size)
      val it = seen.iterator()
      var k = 0
      while (it.hasNext) { out(k) = it.next(); k += 1 }
      new GenericArrayData(out)
    }
  }

  def word_shingles(c: Column, n: Int, distinct: Boolean = false): Column =
    NativeKernel(c)(WordShingles(_, n, distinct))
}
