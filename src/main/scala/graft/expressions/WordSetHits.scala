package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-word-set hit counts over an ALREADY-NORMALIZED (single-space)
  * string, for K LITERAL word sets in ONE pass — the kernel behind
  * [[graft.llm.TextStats.stopwordRatio]] and [[graft.llm.TextStats.langId]],
  * replacing K interpreted `size(filter(split(norm, " "), w => w.isin(...)))`
  * trees (each of which materialized the word array and walked an
  * expression tree per word per set).
  *
  * Exactly `split(norm, " ")` semantics (single-space regex ≡ the 0x20
  * byte scan, empty fields INCLUDED — an empty word hits no set, like
  * `isin` on these literal sets), `In`-equality per word (UTF8String
  * equality), counts as Int like `size(...)`. Each distinct word is
  * looked up ONCE against a word→set-bitmask map, so K sets cost one
  * probe per word. Null input → null array (the old `filter(null)` →
  * `size(null)` → null propagation through every consumer expression).
  *
  * Returns array<int> of length K (the constructor's set order).
  */
case class WordSetHits(child: Expression, sets: Array[Array[String]])
  extends UnaryExpression with NativeKernel {
  require(sets.nonEmpty && sets.length <= 32,
    s"word_set_hits supports 1..32 sets, got ${sets.length}")
  override def prettyName: String = "word_set_hits"
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override protected def helper = (WordSetHits, "hits")
  override protected def state = Seq(WordSetHits.masks(sets), sets.length)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object WordSetHits {
  /** word → bitmask of the sets holding it. */
  def masks(sets: Array[Array[String]]): java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer]()
    var k = 0
    while (k < sets.length) {
      sets(k).foreach { w =>
        val u = UTF8String.fromString(w)
        val prev = m.get(u)
        m.put(u, Integer.valueOf((if (prev == null) 0 else prev.intValue()) | (1 << k)))
      }
      k += 1
    }
    m
  }

  def hits(norm: UTF8String, masks: java.util.HashMap[UTF8String, Integer],
           k: Int): ArrayData = {
    val bytes = norm.getBytes
    val counts = new Array[Int](k)
    val n = bytes.length
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || bytes(i) == 0x20) {
        val m = masks.get(UTF8String.fromBytes(bytes, start, i - start))
        if (m != null) {
          var bits = m.intValue()
          while (bits != 0) {
            val b = java.lang.Integer.numberOfTrailingZeros(bits)
            counts(b) += 1
            bits &= bits - 1
          }
        }
        start = i + 1
      }
      i += 1
    }
    new GenericArrayData(counts.map(Int.box))
  }

  def word_set_hits(norm: Column, sets: Array[Array[String]]): Column =
    NativeKernel(norm)(WordSetHits(_, sets))
}
