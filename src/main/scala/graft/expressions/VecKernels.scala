package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Dense-vector kernels for the ANN/embedding family — each one replaces
  * an interpreted `aggregate`/`zip_with`/`transform` higher-order
  * expression tree whose per-element lambda was the dominant per-row
  * cost (guide §1.2 step 2: interpreted HOFs pay an expression-tree walk
  * per element; these are tight compiled loops over the same doubles).
  *
  * Every kernel folds in ASCENDING index order with one exactly-rounded
  * IEEE op per step — bitwise-identical to the Column-level folds it
  * replaces (`Ann.dot`/`Ann.norm` convention), so every oracle-pinned
  * number is unchanged. Null semantics replicate the HOF trees exactly
  * (pinned in OptKernelsSpec):
  *
  *   - `vec_dot(a, b)` ≡ `aggregate(zip_with(a, b, (x,y) => xD·yD), 0.0, +)`:
  *     null array, ragged lengths (zip_with pads with null) or any null
  *     element → NULL; empty arrays → 0.0.
  *   - `vec_norm(a)` ≡ `sqrt(aggregate(transform(a, x => xD·xD), 0.0, +))`:
  *     null array / null element → NULL; empty → 0.0.
  *   - `vec_l2sq(a, b)` ≡ the same zip_with fold over (xD−yD)² —
  *     [[graft.llm.Pq.pqTopKRefined]]'s exact re-score.
  *
  * Element types may be FLOAT or DOUBLE (the HOF forms cast per element;
  * the kernels widen the same way). Which one is decided once per
  * expression instance and passed to the helper as a flag.
  */
object VecKernels {
  private[expressions] val Vec =
    org.apache.spark.sql.GraftColumnShim.anyOf(ArrayType(FloatType), ArrayType(DoubleType))
  private[expressions] def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  /** element j widened to double; the caller checks isNullAt. */
  @inline private def at(a: ArrayData, isFloat: Boolean, j: Int): Double =
    if (isFloat) a.getFloat(j).toDouble else a.getDouble(j)

  def dot(x: ArrayData, y: ArrayData, xf: Boolean, yf: Boolean): java.lang.Double = {
    // zip_with pads the shorter side with null → null product → null sum
    if (x.numElements() != y.numElements()) return null
    var s = 0.0
    var j = 0
    while (j < x.numElements()) {
      if (x.isNullAt(j) || y.isNullAt(j)) return null
      s += at(x, xf, j) * at(y, yf, j)
      j += 1
    }
    s
  }

  def norm(x: ArrayData, xf: Boolean): java.lang.Double = {
    var s = 0.0
    var j = 0
    while (j < x.numElements()) {
      if (x.isNullAt(j)) return null
      val v = at(x, xf, j)
      s += v * v
      j += 1
    }
    math.sqrt(s)
  }

  def l2sq(x: ArrayData, y: ArrayData, xf: Boolean, yf: Boolean): java.lang.Double = {
    if (x.numElements() != y.numElements()) return null
    var s = 0.0
    var j = 0
    while (j < x.numElements()) {
      if (x.isNullAt(j) || y.isNullAt(j)) return null
      val d = at(x, xf, j) - at(y, yf, j)
      s += d * d
      j += 1
    }
    s
  }

  /** `x` may be null (→ bucket 0). */
  def signBucket(x: ArrayData, planes: Array[Array[Double]], xf: Boolean): Long = {
    val dim = planes.head.length
    if (x == null || x.numElements() != dim) return 0L
    // widen once; bail to bucket 0 on any null element (the padded-null
    // semantics of every plane's zip_with)
    val v = new Array[Double](dim)
    var j = 0
    while (j < dim) {
      if (x.isNullAt(j)) return 0L
      v(j) = at(x, xf, j)
      j += 1
    }
    var bucket = 0L
    var i = 0
    while (i < planes.length) {
      val p = planes(i)
      var s = 0.0
      j = 0
      while (j < dim) { s += v(j) * p(j); j += 1 }
      if (s > 0) bucket |= (1L << i)
      i += 1
    }
    bucket
  }

  def adc(tbl: ArrayData, codes: ArrayData): java.lang.Double = {
    if (tbl.numElements() != codes.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < tbl.numElements()) {
      if (tbl.isNullAt(i) || codes.isNullAt(i)) return null
      val row = tbl.getArray(i)
      val c = codes.getInt(i)
      if (c < 0 || c >= row.numElements() || row.isNullAt(c)) return null
      s += row.getDouble(c)
      i += 1
    }
    s
  }

  def vec_dot(a: Column, b: Column): Column = NativeKernel(a, b)(VecDot)
  def vec_norm(a: Column): Column = NativeKernel(a)(VecNorm)
  def vec_l2sq(a: Column, b: Column): Column = NativeKernel(a, b)(VecL2Sq)
  def sign_bucket(v: Column, planes: Array[Array[Double]]): Column =
    NativeKernel(v)(SignBucket(_, planes))
  def adc_sum(tbl: Column, codes: Column): Column = NativeKernel(tbl, codes)(AdcSum)
}

case class VecDot(left: Expression, right: Expression)
  extends BinaryExpression with NativeKernel {
  override def prettyName: String = "vec_dot"
  override def inputTypes = Seq(VecKernels.Vec, VecKernels.Vec)
  override def dataType: DataType = DoubleType
  override protected def helper = (VecKernels, "dot")
  override protected def state = Seq(VecKernels.isFloat(left), VecKernels.isFloat(right))
  override protected def nullResult = true
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class VecNorm(child: Expression) extends UnaryExpression with NativeKernel {
  override def prettyName: String = "vec_norm"
  override def inputTypes = Seq(VecKernels.Vec)
  override def dataType: DataType = DoubleType
  override protected def helper = (VecKernels, "norm")
  override protected def state = Seq(VecKernels.isFloat(child))
  override protected def nullResult = true
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class VecL2Sq(left: Expression, right: Expression)
  extends BinaryExpression with NativeKernel {
  override def prettyName: String = "vec_l2sq"
  override def inputTypes = Seq(VecKernels.Vec, VecKernels.Vec)
  override def dataType: DataType = DoubleType
  override protected def helper = (VecKernels, "l2sq")
  override protected def state = Seq(VecKernels.isFloat(left), VecKernels.isFloat(right))
  override protected def nullResult = true
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Sign-random-projection bucket over literal hyperplanes — the whole
  * `bits`-plane loop of [[graft.llm.Ann.signBucket]] in ONE pass instead
  * of `bits` interpreted `aggregate(zip_with(vec, planeLit, ·))` trees
  * (each of which re-walked the vector with a per-element lambda).
  *
  * Per plane i (ascending j fold, identical FP): bit i = 1 iff
  * Σ_j vD_j·s_ij > 0. Null semantics replicate the Column form exactly:
  * the old `when(proj > 0, bit).otherwise(0)` maps a NULL projection
  * (null array, null element, or vec length ≠ plane length — zip_with
  * padding) to 0, so the bucket is 0L and the expression NEVER returns
  * null. NaN projections also fail `> 0` → bit 0.
  */
case class SignBucket(child: Expression, planes: Array[Array[Double]])
  extends UnaryExpression with NativeKernel {
  require(planes.nonEmpty && planes.forall(_.length == planes.head.length),
    "sign_bucket: planes must be non-empty and rectangular")
  override def prettyName: String = "sign_bucket"
  override def inputTypes = Seq(VecKernels.Vec)
  override def dataType: DataType = LongType
  override protected def helper = (VecKernels, "signBucket")
  override protected def state = Seq(planes, VecKernels.isFloat(child))
  override protected def nullInput = true
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** ADC distance: Σ_s tbl(s)(codes(s)) in ascending-subspace order — the
  * `aggregate(zip_with(tbl, codes, (t, c) => element_at(t, c + 1)), 0.0, +)`
  * fold of [[graft.llm.Pq.pqTopK]] as one loop. Null semantics: null
  * tbl/codes array or ragged lengths (zip_with padding) or a null
  * element on either side → NULL, and a code outside `[0, row length)`
  * (a stale or mismatched model) → NULL, `element_at`'s out-of-range
  * result with ANSI off — never an out-of-bounds read.
  */
case class AdcSum(left: Expression, right: Expression)
  extends BinaryExpression with NativeKernel {
  override def prettyName: String = "adc_sum"
  override def inputTypes =
    Seq(ArrayType(ArrayType(DoubleType)), ArrayType(IntegerType))
  override def dataType: DataType = DoubleType
  override protected def helper = (VecKernels, "adc")
  override protected def nullResult = true
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
