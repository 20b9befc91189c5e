package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StringType}

/** Jaccard similarity of two SORTED distinct string arrays as one merge
  * pass — the verify kernel of the near-dup tiers.
  *
  * Replaces the projected form
  * {{{
  *   __inter = size(array_intersect(__sa, __sb))
  *   jaccard = __inter / (size(__sa) + size(__sb) - __inter)
  * }}}
  * whose weakness is STRUCTURAL, not arithmetic: when the caller filters
  * `jaccard >= t`, Catalyst collapses the projection into the filter and
  * pushes the predicate into the JOIN CONDITION — where the full
  * expression (with `array_intersect` appearing in both numerator and
  * denominator, and no subexpression elimination in predicate context)
  * re-materializes the intersection array per CANDIDATE pair, not per
  * survivor. This kernel computes the ratio in ONE linear merge over the
  * two sorted arrays: no intersection array is ever built, and the
  * pushed-down predicate costs exactly one merge per candidate.
  *
  * Contract (pinned in OptKernelsSpec against the verbatim old tree):
  *   - inputs are DISTINCT arrays (shingleSets output) sorted ascending
  *     with nulls first (`sort_array` defaults) — sortedness is the
  *     caller's responsibility, sorted per ID before the pair join, not
  *     per pair;
  *   - result = |A∩B|.toDouble / (|A| + |B| − |A∩B|).toDouble, the
  *     IDENTICAL IEEE division of the old form (intersection count is
  *     order-independent, so sorting cannot move it);
  *   - null array on either side → null (array_intersect's null
  *     propagation through size/divide);
  *   - a null ELEMENT present in both arrays counts once, like
  *     array_intersect; both-empty → 0/0 = NaN, same as double divide.
  */
case class JaccardSorted(left: Expression, right: Expression)
  extends BinaryExpression with NativeKernel {
  override def prettyName: String = "jaccard_sorted"
  override def inputTypes =
    Seq(ArrayType(StringType), ArrayType(StringType))
  override def dataType: DataType = DoubleType
  override protected def helper = (JaccardSorted, "jaccard")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object JaccardSorted {
  /** One ascending merge over two sorted-asc-nulls-first distinct string
    * arrays; returns inter / (n + m − inter) as the exact IEEE double
    * division of the two int-derived operands.
    */
  def jaccard(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    val m = b.numElements()
    var i = 0
    var j = 0
    var inter = 0
    while (i < n && j < m) {
      val na = a.isNullAt(i)
      val nb = b.isNullAt(j)
      if (na && nb) { inter += 1; i += 1; j += 1 }
      else if (na) i += 1 // null sorts first
      else if (nb) j += 1
      else {
        val c = a.getUTF8String(i).compareTo(b.getUTF8String(j))
        if (c == 0) { inter += 1; i += 1; j += 1 }
        else if (c < 0) i += 1
        else j += 1
      }
    }
    inter.toDouble / (n + m - inter).toDouble
  }

  def jaccard_sorted(a: Column, b: Column): Column = NativeKernel(a, b)(JaccardSorted(_, _))
}
