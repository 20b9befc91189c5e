package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
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
  * the kernels widen the same way). CodegenFallback is deliberate, the
  * [[MinhashAffine]] argument: the kernel IS the projection's work and
  * the eval path is a compiled Scala loop.
  */
private[expressions] trait VecKernelHelpers {
  protected def okArray(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  }
  /** element j widened to double; Double.NaN is a fine carrier but null
    * must be checked by the caller via isNullAt. */
  protected def elem(a: ArrayData, dt: DataType, j: Int): Double = dt match {
    case ArrayType(FloatType, _) => a.getFloat(j).toDouble
    case _ => a.getDouble(j)
  }
}

case class VecDot(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback with VecKernelHelpers {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (okArray(left.dataType) && okArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_dot needs two array<float|double>, got ${left.dataType}, ${right.dataType}")
  override def prettyName: String = "vec_dot"
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    // zip_with pads the shorter side with null → null product → null sum
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var s = 0.0
    var j = 0
    while (j < n) {
      if (x.isNullAt(j) || y.isNullAt(j)) return null
      s += elem(x, left.dataType, j) * elem(y, right.dataType, j)
      j += 1
    }
    s
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class VecNorm(child: Expression)
  extends UnaryExpression with CodegenFallback with VecKernelHelpers {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (okArray(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_norm needs array<float|double>, got ${child.dataType}")
  override def prettyName: String = "vec_norm"
  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var s = 0.0
    var j = 0
    while (j < n) {
      if (x.isNullAt(j)) return null
      val v = elem(x, child.dataType, j)
      s += v * v
      j += 1
    }
    math.sqrt(s)
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class VecL2Sq(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback with VecKernelHelpers {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (okArray(left.dataType) && okArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_l2sq needs two array<float|double>, got ${left.dataType}, ${right.dataType}")
  override def prettyName: String = "vec_l2sq"
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var s = 0.0
    var j = 0
    while (j < n) {
      if (x.isNullAt(j) || y.isNullAt(j)) return null
      val d = elem(x, left.dataType, j) - elem(y, right.dataType, j)
      s += d * d
      j += 1
    }
    s
  }
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
  extends UnaryExpression with CodegenFallback with VecKernelHelpers {
  require(planes.nonEmpty && planes.forall(_.length == planes.head.length),
    "sign_bucket: planes must be non-empty and rectangular")
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def checkInputDataTypes(): TypeCheckResult =
    if (okArray(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sign_bucket needs array<float|double>, got ${child.dataType}")
  override def prettyName: String = "sign_bucket"
  // NOT nullSafeEval: a null vector must still produce bucket 0L
  override def eval(input: InternalRow): Any = {
    val raw = child.eval(input)
    if (raw == null) return 0L
    val x = raw.asInstanceOf[ArrayData]
    val dim = planes.head.length
    if (x.numElements() != dim) return 0L
    // widen once; bail to bucket 0 on any null element (the padded-null
    // semantics of every plane's zip_with)
    val v = new Array[Double](dim)
    var j = 0
    while (j < dim) {
      if (x.isNullAt(j)) return 0L
      v(j) = elem(x, child.dataType, j)
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
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
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
  extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(ArrayType(DoubleType, _), _), ArrayType(IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"adc_sum needs (array<array<double>>, array<int>), got $other")
    }
  override def prettyName: String = "adc_sum"
  override def nullSafeEval(a: Any, b: Any): Any = {
    val tbl = a.asInstanceOf[ArrayData]; val codes = b.asInstanceOf[ArrayData]
    if (tbl.numElements() != codes.numElements()) return null
    val m = tbl.numElements()
    var s = 0.0
    var i = 0
    while (i < m) {
      if (tbl.isNullAt(i) || codes.isNullAt(i)) return null
      val row = tbl.getArray(i)
      val c = codes.getInt(i)
      if (c < 0 || c >= row.numElements() || row.isNullAt(c)) return null
      s += row.getDouble(c)
      i += 1
    }
    s
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object VecKernels {
  private def shim = org.apache.spark.sql.GraftColumnShim
  def vec_dot(a: Column, b: Column): Column =
    shim.column(VecDot(shim.expression(a), shim.expression(b)))
  def vec_norm(a: Column): Column =
    shim.column(VecNorm(shim.expression(a)))
  def vec_l2sq(a: Column, b: Column): Column =
    shim.column(VecL2Sq(shim.expression(a), shim.expression(b)))
  def sign_bucket(v: Column, planes: Array[Array[Double]]): Column =
    shim.column(SignBucket(shim.expression(v), planes))
  def adc_sum(tbl: Column, codes: Column): Column =
    shim.column(AdcSum(shim.expression(tbl), shim.expression(codes)))
}
