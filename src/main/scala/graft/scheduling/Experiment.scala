package graft.scheduling

import org.apache.spark.sql.{DataFrame, SparkSession}

/** End-to-end scheduling experiment (behavior of
  * `low-carbon-scheduling/src/experiment.py` `SchedulerExperiment`):
  * a (prediction, label) frame — the RF/GNN values.csv shape — plus a
  * CI profile drive a scheduler; outputs realized carbon, makespan
  * under max(pred, actual) blocking, and the per-rate summary. The
  * heavy inputs (workload frame, CI prefix sums) stay in Spark; the
  * ≤750-row schedule folds run driver-side ([[Schedulers]]).
  */
object Experiment {

  case class Result(name: String, label: String, scheduler: String,
      oracle: Boolean, carbonTotalGco2: Double, makespanSlots: Int,
      makespanSeconds: Double, numQueries: Int, powerKw: Double) {
    def summary: Map[String, Any] = Schedulers.summarize(name, label,
      scheduler, oracle, carbonTotalGco2, makespanSlots, numQueries,
      makespanSeconds / math.max(makespanSlots, 1), powerKw)
  }

  /** Makespan fold under max(pred, actual) blocking
    * (experiment.py `_compute_makespan_slots`). */
  def makespanSlots(qs: Seq[SchedQuery], schedule: Seq[(String, Int)]): Int =
    Schedulers.sequentialEnd(qs, schedule, oracle = true)

  /** Run one scheduler over one workload view.
    * @param values    (prediction, label) seconds frame — values.csv shape
    * @param profile   exact micro-unit CI prefix profile
    * @param scheduler "fifo" (with `orderPolicy`) or "greedy"
    * @param oracle    replace predictions with labels (perfect QPP)
    */
  def run(values: DataFrame, profile: Schedulers.CarbonProfileMicro,
      scheduler: String, name: String = "exp", label: String = "model",
      oracle: Boolean = false, orderPolicy: String = "arrival",
      queryLimit: Option[Int] = None, addVariance: Double = 1.0,
      powerKw: Double = Carbon.PowerKw,
      searchHours: Double = Carbon.SearchHours,
      candidateStepSlots: Int = Carbon.CandidateStep): Result = {
    val base = Workload.fromValues(values, profile.slotSec, queryLimit,
      addVariance)
    val wl = if (oracle) Workload.oracleView(base) else base
    val schedule = scheduler match {
      case "fifo"   => Schedulers.fifoSchedule(wl, orderPolicy)
      case "greedy" => Schedulers.greedyLowCarbonDefer(wl, profile,
        searchHours, candidateStepSlots)
      case other    => throw new IllegalArgumentException(s"scheduler $other")
    }
    val carbon = Schedulers.realisedCarbonSequential(wl, schedule, profile,
      powerKw)
    val mk = makespanSlots(wl, schedule)
    Result(name, label, scheduler, oracle, carbon, mk,
      mk * profile.slotSec, wl.size, powerKw)
  }

  /** Results → tagged frame with overhead_vs_oracle
    * (stats.py `panel_configs_to_overhead_df` shape). */
  def resultsFrame(spark: SparkSession, results: Seq[(Result, String, String)])
      : DataFrame = {
    import spark.implicits._
    val rows = results.map { case (r, location, scenario) =>
      (location, scenario, r.scheduler, r.label, r.oracle,
        r.carbonTotalGco2, r.makespanSeconds, r.numQueries)
    }.toDF("location", "scenario", "scheduler", "model", "oracle",
      "carbon_total_gco2", "makespan_seconds", "num_queries")
    Stats.addOverheadVsOracle(rows)
  }
}
