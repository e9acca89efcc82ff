package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, Expression, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graft.PlanBridge

/** Whole-operator extension showcase: top-k rows per key as ONE
  * physical operator with bounded per-key heaps.
  *
  * The composed alternative (`row_number().over(Window.partitionBy(
  * keys).orderBy(ord)) <= k`) must SORT every key group in full —
  * O(n log n) per group and the whole group resident/spilled — before
  * discarding all but k rows. This operator keeps only a k-element
  * heap per key (O(n log k), memory k·|keys per partition|), which at
  * 100 TB is the difference between a streaming pass and a spill
  * storm. Same clustered-by-key shuffle as the window; strictly less
  * work after it.
  *
  * Full extension stack, the (c) path of the custom-operator
  * preference order: logical [[TopKPerKeyNode]] → [[TopKPerKeyStrategy]]
  * (registrable via `SparkSessionExtensions.injectPlannerStrategy` —
  * see [[GraftExtensions]] — or `spark.experimental.extraStrategies`)
  * → physical [[TopKPerKeyExec]] declaring `ClusteredDistribution` so
  * EnsureRequirements/AQE own the shuffle.
  */
case class TopKPerKeyNode(keys: Seq[Expression], order: Seq[SortOrder],
    k: Int, child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  // we re-emit whole rows, so nothing may be pruned beneath us
  override def references: AttributeSet = AttributeSet(child.output)
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyNode =
    copy(child = newChild)
}

case class TopKPerKeyExec(keys: Seq[Expression], order: Seq[SortOrder],
    k: Int, child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    if (keys.isEmpty) AllTuples :: Nil else ClusteredDistribution(keys) :: Nil
  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)

  override lazy val metrics = Map(
    "numOutputRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of output rows"),
    "numKeys" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of distinct keys"))

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val keyExprs = keys
    val sortOrder = order
    val limit = k
    val outRows = longMetric("numOutputRows")
    val keyCount = longMetric("numKeys")
    child.execute().mapPartitions { iter =>
      // generated classes are built executor-side from serializable exprs
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      val ord = new LazilyGeneratedOrdering(sortOrder, childOutput)
      // max-heap per key: head = worst retained row; evict on better
      val heaps = mutable.LinkedHashMap
        .empty[InternalRow, mutable.PriorityQueue[InternalRow]]
      iter.foreach { row =>
        // probe with the reused projection output; copy the key only on
        // first sight — per-row key copies are pure garbage in the hot
        // loop when keys repeat (the normal case)
        val probe = keyProj(row)
        val heap = heaps.get(probe) match {
          case Some(h) => h
          case None =>
            val h = mutable.PriorityQueue.empty[InternalRow](ord)
            heaps.put(probe.copy(), h)
            h
        }
        if (heap.size < limit) heap.enqueue(row.copy())
        else if (ord.compare(row, heap.head) < 0) {
          heap.dequeue(); heap.enqueue(row.copy())
        }
      }
      // dequeueAll drains worst-first; reverse restores sort order
      keyCount += heaps.size
      heaps.valuesIterator.flatMap(_.dequeueAll.reverse)
        .map { r => outRows += 1; r }
    }
  }
}

object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyNode(keys, order, k, child) =>
      TopKPerKeyExec(keys, order, k, planLater(child)) :: Nil
    case _ => Nil
  }
}

/** Production registration: `--conf spark.sql.extensions=
  * graft.plans.GraftExtensions` plants the WHOLE native tier in every
  * session — the TopKPerKey planner strategy plus the five codegen
  * expressions of [[GraftExtensions.functions]], so SQL users get them
  * without any driver code. [[GraftExtensions.register]] adds the same
  * functions to a session that is already running (notebooks, specs). */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => TopKPerKeyStrategy)
    GraftExtensions.functions.foreach { case (name, cls, build) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), build))
    }
  }
}

object GraftExtensions {
  import graft.functions.{DotProduct, NfcNormalize, ParseDuration,
    RollingHash, SortedIntersectSize}

  /** The native SQL functions as (name, expression class, builder):
    * the one list both the session extension and [[register]] read. */
  val functions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("parse_duration_native", classOf[ParseDuration],
      e => ParseDuration(e.head)),
    ("rolling_hash_native", classOf[RollingHash], e => RollingHash(e.head)),
    ("dot_native", classOf[DotProduct], e => DotProduct(e(0), e(1))),
    ("sorted_intersect_size", classOf[SortedIntersectSize],
      e => SortedIntersectSize(e(0), e(1))),
    ("nfc_normalize_native", classOf[NfcNormalize],
      e => NfcNormalize(e.head)))

  /** Register every native SQL function in a running session. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    functions.foreach { case (name, _, build) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, build, "built-in")
    }
}

object TopKPerKey {

  /** Oracle-gated fixture: top-5 lineitems per return flag by price.
    * Output projects exactly the key+sort columns, so heap tie-breaks
    * at the k boundary cannot change the projected result — the DuckDB
    * window form is bit-identical. */
  val queries: Map[String, (org.apache.spark.sql.SparkSession, String) => DataFrame] =
    Map("topk_per_key" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val li = graft.Tables.load(s, dir, "lineitem")
      TopKPerKey(li, Seq("l_returnflag"),
          Seq(col("l_extendedprice").desc, col("l_orderkey").asc,
            col("l_linenumber").asc), 5)
        .select("l_returnflag", "l_orderkey", "l_linenumber",
          "l_extendedprice")
        // (l_orderkey, l_linenumber) is NOT unique in the fixtures —
        // include the price so the output sort is total
        .orderBy("l_returnflag", "l_orderkey", "l_linenumber",
          "l_extendedprice")
    }))

  val oracles: Map[String, String] = Map(
    "topk_per_key" ->
      """SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice
        |FROM (
        |  SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
        |    ROW_NUMBER() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
        |  FROM lineitem)
        |WHERE rn <= 5
        |ORDER BY l_returnflag, l_orderkey, l_linenumber,
        |  l_extendedprice""".stripMargin)

  /** DataFrame API: top `k` rows per `keyCols` group ordered by
    * `orderCols` (use `col(...).desc` etc. for direction). Registers
    * the planner strategy on the session idempotently.
    *
    * The sort columns are resolved by planting a throwaway `.sort()`
    * and harvesting its analyzed `Sort` node — Spark's own analyzer
    * converts the Column AST into bound catalyst `SortOrder`s, so this
    * API accepts exactly what `orderBy` accepts. */
  def apply(df: DataFrame, keyCols: Seq[String], orderCols: Seq[Column],
      k: Int): DataFrame = {
    require(orderCols.nonEmpty, "topKPerKey needs at least one sort column")
    val spark = df.sparkSession
    // check-then-append on the session's strategy list is not atomic —
    // serialize it so concurrent first calls can't register twice
    spark.experimental.synchronized {
      if (!spark.experimental.extraStrategies.contains(TopKPerKeyStrategy))
        spark.experimental.extraStrategies =
          spark.experimental.extraStrategies :+ TopKPerKeyStrategy
    }
    val sortPlan = df.sort(orderCols: _*).queryExecution.analyzed
      .asInstanceOf[logical.Sort]
    val child = sortPlan.child
    val keys = keyCols.map { n =>
      child.output.filter(_.name == n) match {
        case Seq(one) => one
        case Seq() => throw new IllegalArgumentException(
          s"key column $n not in ${child.output.map(_.name)}")
        case many => throw new IllegalArgumentException(
          s"key column $n is ambiguous (${many.size} attributes match, " +
            "e.g. after a self-join) — disambiguate with aliases first")
      }
    }
    PlanBridge.ofRows(spark,
      TopKPerKeyNode(keys, sortPlan.order, k, child))
  }
}
