package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Drop the words at the given 0-based positions from an ALREADY-
  * NORMALIZED (single-space separated) string and re-join the survivors
  * with single spaces — the span-trim surgery
  * ([[graft.llm.Spans.trimDupSpans]]) as ONE O(len + |positions|) byte
  * pass.
  *
  * Equivalent by construction to
  * `array_join(transform(array_except(sequence(0, n−1), cov), p =>
  * element_at(split(norm, " "), p + 1)), " ")` — but that form
  * re-evaluates the whole split tree per kept token inside the
  * interpreted lambda (O(tokens · len) per row), and the index-filter
  * alternative scans the position array per word (O(tokens · covered)).
  * Here membership is one hash set; bytes are copied once. SpansSpec
  * pins the equivalence property.
  *
  * Null on either side → null (callers coalesce the position array).
  */
case class WordDropPositions(left: Expression, right: Expression)
  extends BinaryExpression with NativeKernel {
  override def prettyName: String = "word_drop_positions"
  override def inputTypes = Seq(StringType, ArrayType(IntegerType))
  override def dataType: DataType = StringType
  override protected def helper = (WordDropPositions, "drop")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object WordDropPositions {

  def drop(norm: UTF8String, cov: ArrayData): UTF8String = {
    val nCov = cov.numElements()
    if (nCov == 0) return norm
    val drop = new java.util.HashSet[Integer](nCov * 2)
    var i = 0
    while (i < nCov) { drop.add(cov.getInt(i)); i += 1 }
    val bytes = norm.getBytes
    val len = bytes.length
    val out = new Array[Byte](len)
    var o = 0
    var word = 0
    var start = 0
    var emitted = false
    i = 0
    while (i <= len) {
      if (i == len || bytes(i) == 0x20) {
        if (!drop.contains(word)) {
          if (emitted) { out(o) = 0x20; o += 1 }
          var k = start
          while (k < i) { out(o) = bytes(k); o += 1; k += 1 }
          emitted = true
        }
        word += 1
        start = i + 1
      }
      i += 1
    }
    UTF8String.fromBytes(out, 0, o)
  }

  def word_drop_positions(norm: Column, positions: Column): Column =
    NativeKernel(norm, positions)(WordDropPositions(_, _))
}
