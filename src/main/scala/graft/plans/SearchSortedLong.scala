package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** Rank-space bucketing primitive: the number of `boundaries` ≤ input
  * (boundaries sorted ascending), i.e. `searchsorted`, as a native
  * codegen'd expression — the per-row kernel of equi-depth Z-ordering
  * ([[graft.sources.ZoneMaps.clusteredWriteZN]]).
  *
  * Why a native expression (SURVEY.md §2.3 "UDF surface" preference
  * order): both declarative forms measured badly at write scale — a fold
  * over an array literal (`aggregate(lit(bounds), …)`) is a higher-order
  * function Spark evaluates INTERPRETED per element (255 lambda steps per
  * row), and a nested CASE WHEN binary tree generates branch code that
  * grows past JIT-friendly method sizes and still re-evaluates per stage.
  * This compiles to one static-method call looping ~log₂ 64 times over a
  * shared long[] reference — the cost of the bucket is the binary search
  * itself, inside whole-stage codegen. */
case class SearchSortedLong(child: Expression, boundaries: Seq[Long])
  extends UnaryExpression {
  require(boundaries.nonEmpty, "SearchSortedLong: empty boundary list")

  // Seq keeps case-class equality semantic (Array compares by reference);
  // the hot path works on a primitive array materialized once
  @transient private lazy val arr: Array[Long] = boundaries.toArray

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_search_sorted"

  override protected def nullSafeEval(input: Any): Any =
    SearchSortedLong.countLE(arr, input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("gssBounds", arr, "long[]")
    defineCodeGen(ctx, ev,
      c => s"graft.plans.SearchSortedLong.countLE($ref, $c)")
  }

  override protected def withNewChildInternal(newChild: Expression): SearchSortedLong =
    copy(child = newChild)
}

object SearchSortedLong {
  /** #elements of sorted `bs` that are ≤ v. Called from interpreted eval
    * and generated code. */
  def countLE(bs: Array[Long], v: Long): Long = {
    var lo = 0
    var hi = bs.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (bs(mid) <= v) lo = mid + 1 else hi = mid
    }
    lo.toLong
  }
}
