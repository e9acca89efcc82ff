package graft.scheduling

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One schedulable query: predicted and actual runtime in integer slots
  * (low-carbon-scheduling/src/workload.py `query` dataclass). */
case class SchedQuery(id: String, predSlots: Int, actualSlots: Int)

/** Workload construction + ordering policies (behavior of
  * `low-carbon-scheduling/src/workload.py`).
  *
  * The workload is small by construction (≤750 queries in the reference
  * sim, config.py:27-44), so ordering lives driver-side as stable sorts
  * over a collected Seq; the Spark-side variants below exist so the
  * same math can run inside a plan when the workload is a DataFrame
  * column of a much larger frame.
  */
object Workload {

  /** Runtime seconds → integer slots, at least 1
    * (workload.py `runtime_to_slots`): ceil first, then the variance
    * multiplier, then the int truncation — order matters. */
  def runtimeToSlots(runtimeSeconds: Double, slotSec: Double,
      addVariance: Double = 1.0): Int =
    math.max(1, (math.ceil(runtimeSeconds / slotSec) * addVariance).toInt)

  /** The most queries one (driver-collected) workload may carry. */
  private val MaxQueries = 100000

  /** Build the workload from a (prediction, label) frame — the shape of
    * the RF/GNN `values.csv` (workload.py `from_values_csv`). Row order
    * of the input defines arrival order and the q<i> ids. Collects the
    * first `limit` rows; more than [[MaxQueries]] fails fast. */
  def fromValues(df: DataFrame, slotSec: Double,
      limit: Option[Int] = None, addVariance: Double = 1.0): Seq[SchedQuery] = {
    val values = df.select(col("prediction").cast("double"),
      col("label").cast("double"))
    graft.Collect.collectBounded(limit.fold(values)(values.limit),
        MaxQueries, s"Workload.fromValues: the values frame (pass a " +
          s"queryLimit of at most $MaxQueries)")
      .toSeq.zipWithIndex.map { case (r, i) =>
        SchedQuery(s"q$i",
          runtimeToSlots(r.getDouble(0), slotSec, addVariance),
          runtimeToSlots(r.getDouble(1), slotSec))
      }
  }

  /** Perfect-predictor view: pred := actual (workload.py `oracle_view`). */
  def oracleView(qs: Seq[SchedQuery]): Seq[SchedQuery] =
    qs.map(q => q.copy(predSlots = q.actualSlots))

  /** Ordering policies (workload.py `ordered_queries`). Scala `sortBy`
    * is stable, like Python `sorted`, so arrival order breaks ties.
    * "random" is seeded-reproducible (not bit-identical to CPython's
    * Mersenne shuffle — same contract, different PRNG). */
  def ordered(qs: Seq[SchedQuery], policy: String = "arrival"): Seq[SchedQuery] =
    policy.toLowerCase match {
      case "arrival"               => qs
      case "pred_longest_first"    => qs.sortBy(q => -q.predSlots)
      case "pred_shortest_first"   => qs.sortBy(_.predSlots)
      case "actual_longest_first"  => qs.sortBy(q => -q.actualSlots)
      case "actual_shortest_first" => qs.sortBy(_.actualSlots)
      case "high_error_first"      => qs.sortBy(q => -math.abs(q.actualSlots - q.predSlots))
      case "low_error_first"       => qs.sortBy(q => math.abs(q.actualSlots - q.predSlots))
      case "random"                =>
        new scala.util.Random(0).shuffle(qs)
      case other => throw new IllegalArgumentException(s"Unknown order_policy '$other'")
    }

  /** The fixture workload every scheduling query shares: the first 750
    * events rows, slots derived from `value` so pred ≠ actual.
    * Mirrored literally in the oracle SQL. */
  def fixtureWorkload(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.load(spark, dir, "events")
      .filter(col("event_id") < 750)
      .select(col("event_id").as("query_id"),
        greatest(lit(1), ceil(col("value") / 8).cast("int")).as("pred_slots"),
        greatest(lit(1), ceil(col("value") / 10).cast("int")).as("actual_slots"))
}
