package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression: |A ∩ B| for two SORTED array<bigint>
  * columns, by a single merge pass — the verification kernel of the
  * MinHash dedup pipelines.
  *
  * Why a custom Expression: exact-Jaccard verification used to explode
  * each candidate pair back into (pair, gram) rows and count matches
  * with a second corpus-scale join — at sf0.1 that intermediate is
  * ~240M rows for ~240k candidate pairs. Joining each pair to its two
  * pre-aggregated sorted gram arrays instead bounds the shuffle by the
  * candidate-doc count, and this merge loop (O(|A|+|B|), no
  * allocation) computes the intersection inside whole-stage codegen.
  * `array_intersect` would materialize the intersection array and
  * build a hash set per row; only the count is needed.
  *
  * SQL-caller contract (the function is SQL-registered, so arbitrary
  * callers reach it, not just the dedup pipelines):
  *  - Inputs MUST be sorted ascending (`sort_array` upstream). The
  *    merge pass cannot detect disorder without an O(n) pre-scan per
  *    row, so unsorted input is NOT rejected — it silently undercounts
  *    (garbage-in, garbage-out, like any merge-join on unsorted runs).
  *  - Duplicates are counted pairwise-min, which for set-semantics
  *    inputs (distinct grams) is plain intersection.
  *  - Null ARRAYS yield null; null ELEMENTS match nothing and are
  *    skipped (sort_array places them first, so the merge stays
  *    correct for nullable arrays from SQL casts).
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  private def ok(e: Expression): Boolean = e.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sorted_intersect_count expects array<bigint> arguments, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")

  override def dataType: DataType = LongType

  // null ELEMENTS match nothing (SQL equality), so they are skipped —
  // getLong on a null slot would read an undefined value and silently
  // miscount for SQL callers passing e.g. CAST(... AS ARRAY<BIGINT>).
  // The null checks are only emitted when the input TYPE admits nulls,
  // keeping the dedup hot path (collect_list output, containsNull =
  // false) a branch-free two-pointer loop.
  private def mayBeNull: Boolean = Seq(left, right).exists(_.dataType match {
    case ArrayType(_, n) => n
    case _ => false
  })

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedIntersectCount.count(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], mayBeNull)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi"); val yj = ctx.freshName("yj")
      val c = ctx.freshName("c")
      val nullSkip =
        if (mayBeNull)
          s"""if ($a.isNullAt($i)) { $i++; continue; }
              if ($b.isNullAt($j)) { $j++; continue; }"""
        else ""
      s"""
        int $nx = $a.numElements(); int $ny = $b.numElements();
        int $i = 0; int $j = 0; long $c = 0L;
        while ($i < $nx && $j < $ny) {
          $nullSkip
          long $xi = $a.getLong($i); long $yj = $b.getLong($j);
          if ($xi < $yj) $i++;
          else if ($xi > $yj) $j++;
          else { $c++; $i++; $j++; }
        }
        ${ev.value} = $c;
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "sorted_intersect_count"
}

object SortedIntersectCount {
  /** The interpreted merge pass: |x ∩ y| for sorted arrays, skipping
    * null elements when `checkNulls`. Also the streaming verifier's
    * kernel (over `ArrayData.toArrayData` of its state arrays). */
  def count(x: ArrayData, y: ArrayData, checkNulls: Boolean): Long = {
    val nx = x.numElements(); val ny = y.numElements()
    var i = 0; var j = 0; var c = 0L
    while (i < nx && j < ny) {
      if (checkNulls && x.isNullAt(i)) i += 1
      else if (checkNulls && y.isNullAt(j)) j += 1
      else {
        val xi = x.getLong(i); val yj = y.getLong(j)
        if (xi < yj) i += 1
        else if (xi > yj) j += 1
        else { c += 1; i += 1; j += 1 }
      }
    }
    c
  }
}
