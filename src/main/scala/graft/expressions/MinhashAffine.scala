package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** The k-function MinHash signature kernel:
  * `signature(i) = min over h in hashes of (a_i·h + b_i) mod p` — one
  * tight k×|hashes| loop replacing k interpreted
  * `array_min(transform(hs, h => pmod(h·a + b, p)))` passes (each of
  * which materialized a transformed copy of the hash array per row).
  *
  * Arithmetic is IDENTICAL to the Column form: inputs are unsigned-32
  * longs and coefficients 31-bit, so `a·h + b < 2^63` never overflows
  * (the same bound the Column form relies on under ANSI mode), and all
  * operands are non-negative so `pmod ≡ %`.
  *
  * Null semantics replicate the old expression tree exactly (pinned in
  * OptKernelsSpec): NULL input array → an array of k NULLs (transform
  * propagates the null and array_min of null is null, but the array()
  * constructor itself never nulled); null ELEMENTS are ignored by the
  * min like array_min; an all-null/empty input yields k NULLs.
  */
case class MinhashAffine(child: Expression, coefsA: Array[Long],
                         coefsB: Array[Long], p: Long)
  extends UnaryExpression with NativeKernel {
  require(coefsA.length == coefsB.length && coefsA.nonEmpty,
    "minhash_affine: coefficient arrays must be same non-zero length")
  override def prettyName: String = "minhash_affine"
  override def inputTypes = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override protected def helper = (MinhashAffine, "sig")
  override protected def state = Seq(coefsA, coefsB, p)
  override protected def nullInput = true
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object MinhashAffine {

  /** Static kernel; `hs` may be null (→ k nulls). */
  def sig(hs: ArrayData, coefsA: Array[Long], coefsB: Array[Long],
          p: Long): ArrayData = {
    val k = coefsA.length
    val out = new Array[Any](k)
    if (hs == null) return new GenericArrayData(out) // k nulls
    val n = hs.numElements()
    var i = 0
    while (i < k) {
      val a = coefsA(i); val b = coefsB(i)
      var mn = Long.MaxValue
      var seen = false
      var j = 0
      while (j < n) {
        if (!hs.isNullAt(j)) {
          val v = (hs.getLong(j) * a + b) % p
          if (v < mn) mn = v
          seen = true
        }
        j += 1
      }
      out(i) = if (seen) java.lang.Long.valueOf(mn) else null
      i += 1
    }
    new GenericArrayData(out)
  }

  def minhash_affine(c: Column, coefs: IndexedSeq[(Long, Long)],
                     p: Long): Column =
    NativeKernel(c)(MinhashAffine(_, coefs.map(_._1).toArray, coefs.map(_._2).toArray, p))
}
