package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Merge-count kernel behind [[SortedIntersectionSize]]: the value of
  * `size(array_intersect(a, b))` — the count of DISTINCT elements present
  * in both arrays, a null element matching a null — computed without
  * materializing the intersection array, with no allocation and no
  * hashing: one linear merge of two SORTED inputs (ascending binary
  * UTF8String order, nulls first — exactly `sort_array`'s default).
  * The pairwise-dedup confirm (DedupOps.pairStats) reads only this
  * cardinality. The caller owns the sortedness contract; both
  * production call sites sort ONCE per doc at the shingle-set build
  * (order is semantics-free there: signatures are min-over-lanes,
  * prefix ranks come from a global window), amortized over every pair
  * the doc appears in. DedupSpec pins value-equality against
  * `size(array_intersect)` on sorted random arrays incl. duplicates
  * and nulls, codegen fallback off. */
object SortedIntersectionSizeKernel {
  def intersectSize(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var n = 0
    var aNull = false; var bNull = false
    while (i < na && a.isNullAt(i)) { aNull = true; i += 1 }
    while (j < nb && b.isNullAt(j)) { bNull = true; j += 1 }
    if (aNull && bNull) n += 1
    while (i < na && j < nb) {
      val ua = a.getUTF8String(i); val ub = b.getUTF8String(j)
      val c = ua.compareTo(ub)
      if (c < 0) i += 1
      else if (c > 0) j += 1
      else {
        n += 1
        i += 1; j += 1
        // step over duplicates so the count stays DISTINCT-common
        while (i < na && !a.isNullAt(i) && a.getUTF8String(i) == ua) i += 1
        while (j < nb && !b.isNullAt(j) && b.getUTF8String(j) == ub) j += 1
      }
    }
    n
  }
}

/** Native Catalyst expression `size(array_intersect(a, b))` for
  * array<string> inputs the caller guarantees SORTED (ascending, nulls
  * first): [[SortedIntersectionSizeKernel]], null if either array is
  * null. */
case class SortedIntersectionSize(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"sorted_intersection_size expects two array<string>, got " +
          s"${left.dataType.sql}, ${right.dataType.sql}")
    }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_intersection_size"

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedIntersectionSizeKernel.intersectSize(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.SortedIntersectionSizeKernel" +
        s".intersectSize($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(newLeft, newRight)
}

object IntersectionSizeFunctions {
  import org.apache.spark.sql.GraftBridge

  /** Fused `size(array_intersect(a, b))` over two array<string> columns
    * the caller has ALREADY sorted ascending (nulls first, `sort_array`
    * default) — one linear merge, no intersection array. Wrong results
    * on unsorted input by contract. */
  def sortedIntersectionSize(a: Column, b: Column): Column =
    GraftBridge.column(SortedIntersectionSize(
      GraftBridge.expression(a), GraftBridge.expression(b)))
}
