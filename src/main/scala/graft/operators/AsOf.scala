package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** As-of (backward) join — the canonical time-series operator Spark's
  * SQL surface lacks: for each left row, the right row with the
  * greatest `on` value ≤ the left's, per `by` key.
  *
  * Implemented by COMPOSITION (builder-prompt preference (a), before
  * any custom SparkPlan): tag and union both sides, then one
  * co-partitioned window pass carries the latest right values forward.
  * Cost = one hash shuffle of both inputs on the key + a per-partition
  * sort — exactly what a dedicated merge-join physical operator would
  * shuffle, with Catalyst/Tungsten handling spill, codegen, and AQE.
  * Right rows sort before left rows at equal times, so `t == rt`
  * matches (ASOF's ≤ convention).
  *
  * Contract: right (by, on) pairs must be unique (dedup upstream —
  * e.g. groupBy(by, on).agg(last(...))); a genuinely-null right value
  * column is indistinguishable from "no match yet" in that column
  * (check `matched_on` nullity instead, as with any carry-forward).
  */
object AsOf {

  /** @param on        ordered time column name, present in both sides
    * @param by        equi-key column name, present in both sides
    * @param valueCols right-side payload columns to attach
    * @param tolerance max allowed (left.on − matched.on), in the time
    *                  column's own units; matches farther back yield
    *                  null payloads (matched_on stays, like merge_asof)
    */
  def joinBackward(left: DataFrame, right: DataFrame, on: String, by: String,
      valueCols: Seq[String], tolerance: Option[Long] = None): DataFrame = {
    val leftCols = left.columns.toSeq
    val passCols = leftCols.filter(c => c != by && c != on)
    val l = left.select(
      (col(by) +: col(on).as("__t") +: lit(1).as("__side") +:
        passCols.map(col)) ++
        (lit(null).cast("long").as("__rt") +:
          valueCols.map(c => lit(null).cast(right.schema(c).dataType).as(s"__v_$c"))): _*)
    val r = right.select(
      (col(by) +: col(on).as("__t") +: lit(0).as("__side") +:
        passCols.map(c => lit(null).cast(left.schema(c).dataType).as(c))) ++
        (col(on).cast("long").as("__rt") +:
          valueCols.map(c => col(c).as(s"__v_$c"))): _*)
    val w = Window.partitionBy(col(by))
      .orderBy(col("__t").asc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = l.unionByName(r)
      .withColumn("matched_on", last(col("__rt"), ignoreNulls = true).over(w))
    val withVals = valueCols.foldLeft(carried) { (df, c) =>
      val v = last(col(s"__v_$c"), ignoreNulls = true).over(w)
      val guarded = tolerance match {
        case Some(tol) =>
          when(col("__t").cast("long") - col("matched_on") <= tol, v)
        case None => v
      }
      df.withColumn(c, guarded)
    }
    withVals.filter(col("__side") === 1)
      .select((col(by) +: col("__t").as(on) +: passCols.map(col)) ++
        (col("matched_on") +: valueCols.map(col)): _*)
  }

  // --------------------------------------------------- fixture query

  type Q = (SparkSession, String) => DataFrame

  /** As-of join of every event against the latest earlier "reference"
    * event (every 7th) of the same key group, with and without a
    * tolerance bound; the DuckDB oracle is its native ASOF LEFT JOIN. */
  private val joinAsof: Q = (s, dir) => {
    val e = Tables.load(s, dir, "events")
    val left = e.select((col("user_id") % 50).as("k"),
      col("event_id").as("t"), col("event_id"))
    val right = e.filter(col("event_id") % 7 === 0)
      .select((col("user_id") % 50).as("k"), col("event_id").as("t"),
        col("value").as("v"))
    joinBackward(left, right, on = "t", by = "k", valueCols = Seq("v"))
      .withColumn("v_tol",
        when(col("t").cast("long") - col("matched_on") <= 1000, col("v")))
      .select("event_id", "k", "t", "matched_on", "v", "v_tol")
      .orderBy("event_id")
  }

  val queries: Map[String, Q] = Map("join_asof" -> joinAsof)

  val oracles: Map[String, String] = Map(
    "join_asof" ->
      """WITH l AS (
        |  SELECT user_id % 50 AS k, event_id AS t, event_id FROM events),
        |r AS (
        |  SELECT user_id % 50 AS k, event_id AS rt, value AS v
        |  FROM events WHERE event_id % 7 = 0)
        |SELECT l.event_id, l.k, l.t, r.rt AS matched_on, r.v,
        |  CASE WHEN l.t - r.rt <= 1000 THEN r.v END AS v_tol
        |FROM l ASOF LEFT JOIN r ON l.k = r.k AND l.t >= r.rt
        |ORDER BY l.event_id""".stripMargin)
}
