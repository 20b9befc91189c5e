package graft.expressions

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** The exact-decimal margin Σ_j dec28,15(x_j · w_j) of a double array
  * against a LITERAL weight vector, as one compiled loop — the per-row
  * kernel of [[graft.llm.LogReg]]'s training iterations and scoring
  * pass, replacing the interpreted
  * `aggregate(zip_with(x, wLit, (x,w) => (x·w).cast(dec28,15)), 0, +).cast(double)`
  * tree (an expression-tree walk and two boxed Decimal allocations per
  * ELEMENT, ×(dim+1) per row, ×2·iters passes in training).
  *
  * Bit-exact replication of the Column form, step by step:
  *   - x_j · w_j: one exactly-rounded IEEE double multiply (same op);
  *   - cast to decimal(28,15): Spark's Cast(Double→Decimal) goes
  *     through `BigDecimal(double)` = java `BigDecimal.valueOf` (the
  *     double's SHORTEST decimal representation, ≤ 17 significant
  *     digits — never the exact binary expansion) then
  *     `changePrecision(28, 15)` = setScale(15, HALF_UP). Replicated
  *     verbatim; the ≤ 17-digit input can never exceed DECIMAL128's 34
  *     digits, so Scala's MathContext never rounds and valueOf+setScale
  *     IS the whole cast.
  *   - accumulate: the Column fold's `(acc + t).cast(decimal(38,15))`
  *     is NOT an exact scale-15 add — `Add(dec(38,15), dec(28,15))`
  *     hits Spark's decimal precision adjustment (precision 39 > 38,
  *     allowPrecisionLoss) and lands on decimal(38,14), so the RUNNING
  *     sum is rounded HALF_UP to scale 14 after every add (the cast
  *     back to scale 15 then pads an exact zero). Replicated verbatim:
  *     `acc = (acc + t).setScale(14, HALF_UP)` — same fixed ascending
  *     order, bit-identical running values;
  *   - final cast decimal→double: BigDecimal.doubleValue, correctly
  *     rounded half-even — Spark's Decimal.toDouble exactly.
  *
  * Null semantics of the zip_with fold, replicated: null array → null;
  * any null element → null; array length ≠ weight length (zip_with
  * null-padding on either side) → null; a NaN or ±Inf product → null
  * (Cast(Double→Decimal) of a non-finite double is null, ANSI or not);
  * a product of 13 or more integer digits overflows decimal(28,15) →
  * null, or an ArithmeticException under ANSI, like the cast. The
  * running sum cannot overflow its 23 integer digits below 10^10
  * terms. OptKernelsSpec pins all of it against the verbatim old tree.
  */
case class Dec15Dot(child: Expression, w: Array[Double])
  extends UnaryExpression with NativeKernel {
  override def prettyName: String = "dec15_dot"
  override def inputTypes = Seq(ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override protected def helper = (Dec15Dot, "dot")
  override protected def state = Seq(w)
  override protected def nullResult = true
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object Dec15Dot {
  /** One pass; null (boxed) for ragged lengths, null elements and
    * non-finite products. */
  def dot(x: ArrayData, w: Array[Double]): java.lang.Double = {
    if (x.numElements() != w.length) return null
    var acc = JBigDecimal.ZERO
    var j = 0
    while (j < w.length) {
      if (x.isNullAt(j)) return null
      val p = x.getDouble(j) * w(j)
      if (p.isNaN || p.isInfinite) return null
      val t = JBigDecimal.valueOf(p).setScale(15, RoundingMode.HALF_UP)
      if (t.precision > 28) {
        if (org.apache.spark.sql.internal.SQLConf.get.ansiEnabled)
          throw new ArithmeticException(s"$t cannot be represented as Decimal(28, 15)")
        return null
      }
      acc = acc.add(t)
        .setScale(14, RoundingMode.HALF_UP) // Add((38,15),(28,15))→(38,14)
      j += 1
    }
    java.lang.Double.valueOf(acc.doubleValue())
  }

  def dec15_dot(x: Column, w: Array[Double]): Column = NativeKernel(x)(Dec15Dot(_, w))
}
