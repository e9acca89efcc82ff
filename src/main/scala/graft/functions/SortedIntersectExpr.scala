package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst expression counting the common elements of two
  * SORTED long arrays by a single merge walk — the hot kernel of
  * near-dup verification (`graft.llm.Dedup.verifyJaccardSets`), where
  * every candidate pair intersects its two shingle-hash sets.
  *
  * `size(array_intersect(a, b))` builds a hash set of one side PER
  * PAIR (O(|a|+|b|) allocations inside the join loop); this walks the
  * two pre-sorted buffers with two cursors and zero allocation, inside
  * whole-stage codegen — the fourth Expression-tier showcase after
  * [[ParseDuration]], [[RollingHash]] and [[DotProduct]]. Sorting
  * happens ONCE per document (array_sort at set-build time), not once
  * per pair; near-dup candidates touch each document many times, so
  * the sort amortizes across its pairs.
  *
  * Inputs must be ascending-sorted arrays of non-null longs (set
  * semantics: distinct elements). A null array or a null element
  * yields NULL. On (collision-induced) duplicate elements the walk
  * counts per matched occurrence where array_intersect would dedupe —
  * indistinguishable in practice: elements here are 64-bit hashes and
  * the corpus-level collision caveat is documented at the hashing
  * site (Dedup.jaccardPairs).
  */
case class SortedIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression {

  private def elemOk(t: DataType): Boolean = t match {
    case ArrayType(LongType, _) => true
    case _                      => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOk(left.dataType) && elemOk(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "sorted_intersect_size requires two array<bigint> arguments, " +
        s"got ${left.dataType} and ${right.dataType}")

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "sorted_intersect_size"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (SortedIntersectSize.hasNullElement(x) ||
        SortedIntersectSize.hasNullElement(y)) null
    else SortedIntersectSize.compute(x, y)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |if (graft.functions.SortedIntersectSize.hasNullElement($a) ||
         |    graft.functions.SortedIntersectSize.hasNullElement($b)) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.functions.SortedIntersectSize.compute($a, $b);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): SortedIntersectSize =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectSize {

  /** When true (-Dgraft.sorted_intersect.check=true, or set in tests),
    * [[compute]] validates the ascending-input precondition and throws
    * on unsorted arrays instead of returning a plausible wrong count —
    * the failure mode a SQL user who skipped array_sort would
    * otherwise silently hit. Off by default: the in-repo callers sort
    * once at set-build time, and the hot verify walk stays
    * branch-lean. */
  @volatile var checkOrder: Boolean =
    java.lang.Boolean.getBoolean("graft.sorted_intersect.check")

  private def requireSorted(a: ArrayData, side: String): Unit = {
    val n = a.numElements()
    var i = 1
    while (i < n) {
      if (a.getLong(i - 1) > a.getLong(i))
        throw new IllegalArgumentException(
          s"sorted_intersect_size: $side array is not ascending at " +
            s"index $i (${a.getLong(i - 1)} > ${a.getLong(i)}); " +
            "array_sort the inputs at set-build time")
      i += 1
    }
  }

  def hasNullElement(a: ArrayData): Boolean = {
    val n = a.numElements()
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return true
      i += 1
    }
    false
  }

  /** Two-cursor merge count over ascending-sorted long buffers. */
  def compute(a: ArrayData, b: ArrayData): Long = {
    if (checkOrder) { requireSorted(a, "left"); requireSorted(b, "right") }
    val n = a.numElements()
    val m = b.numElements()
    var count = 0L
    var i = 0
    var j = 0
    while (i < n && j < m) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x < y) i += 1
      else if (x > y) j += 1
      else { count += 1; i += 1; j += 1 }
    }
    count
  }

  /** Column-API entry point. */
  def sortedIntersectSize(a: Column, b: Column): Column =
    ColumnBridge.column(
      SortedIntersectSize(ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
