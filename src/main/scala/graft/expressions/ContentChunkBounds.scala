package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Content-defined chunk boundaries (FastCDC/rsync-style) as a native
  * Catalyst expression: one O(n) pass over the text computing the
  * Rabin–Karp rolling hash of every `k`-code-point window (same base
  * and wrapping-long arithmetic as [[RollingHashMin]]) and cutting a
  * boundary wherever the low `maskBits` bits are zero — subject to a
  * `minLen` (no confetti chunks) and a `maxLen` forced cut. Expected
  * chunk length ≈ `2^maskBits` code points between the clamps.
  *
  * WHY content-defined: fixed-window chunking shifts EVERY boundary
  * when a prefix is edited, so chunk-level dedup loses all downstream
  * chunks; content-defined boundaries depend only on local content and
  * RESYNCHRONIZE within ~maxLen after an edit — the chunking layer
  * storage dedup and long-document near-dup both build on (property
  * pinned in ContentChunkSpec: append a prefix, the suffix chunks'
  * hashes survive).
  *
  * Output: `array<int>` of chunk END offsets (exclusive, ascending, in
  * UNICODE CODE POINTS — the unit Spark's `substring` slices by, so
  * `substring(text, prev+1, end−prev)` reconstructs chunks exactly);
  * empty text → empty array; the final offset is always the length.
  */
case class ContentChunkBounds(child: Expression, k: Int, maskBits: Int,
                              minLen: Int, maxLen: Int)
  extends UnaryExpression with NativeKernel {
  require(k >= 1, s"content_chunk_bounds: window k must be >= 1, got $k")
  require(maskBits >= 1 && maskBits <= 30,
    s"content_chunk_bounds: maskBits must be in 1..30, got $maskBits")
  require(minLen >= k,
    s"content_chunk_bounds: minLen must be >= k, got $minLen < $k")
  require(maxLen > minLen,
    s"content_chunk_bounds: need maxLen > minLen, got $maxLen <= $minLen")
  override def prettyName: String = "content_chunk_bounds"
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override protected def helper = (ContentChunkBounds, "evalArray")
  override protected def state = Seq(k, maskBits, minLen, maxLen)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object ContentChunkBounds {

  /** Cut after code point `i`
    * (0-based) when the window hash's low bits are zero AND the chunk
    * has `minLen` points, or unconditionally at `maxLen`. */
  def evalArray(input: UTF8String, k: Int, maskBits: Int,
                minLen: Int, maxLen: Int): ArrayData = {
    val s = input.toString
    val n = s.codePointCount(0, s.length)
    if (n == 0) return new GenericArrayData(Array.empty[Int])
    val cps = new Array[Int](n)
    var ci = 0; var off = 0
    while (off < s.length) {
      val cp = s.codePointAt(off)
      cps(ci) = cp; ci += 1; off += Character.charCount(cp)
    }
    val B = RollingHashMin.B
    var pow = 1L
    var i = 0
    while (i < k - 1) { pow *= B; i += 1 }
    val mask = (1L << maskBits) - 1L
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    var start = 0
    var h = 0L
    i = 0
    while (i < n) {
      h = if (i - start < k) h * B + cps(i)
          else (h - cps(i - k) * pow) * B + cps(i)
      val len = i - start + 1
      if (len == maxLen || (len >= minLen && (h & mask) == 0L)) {
        out += i + 1
        start = i + 1
        h = 0L
      }
      i += 1
    }
    if (start < n) out += n
    new GenericArrayData(out.toArray)
  }

  def content_chunk_bounds(c: Column, k: Int = 16, maskBits: Int = 6,
                           minLen: Int = 32, maxLen: Int = 256): Column =
    NativeKernel(c)(ContentChunkBounds(_, k, maskBits, minLen, maxLen))
}
