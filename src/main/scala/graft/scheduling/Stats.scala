package graft.scheduling

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Experiment-result statistics (behavior of
  * `low-carbon-scheduling/src/stats.py`): for each (location,
  * scenario, scheduler) group, compute each model's carbon overhead
  * relative to that group's Oracle row.
  *
  * Expressed as a broadcast-friendly self-join instead of pandas
  * groupby-apply: the oracle side is one row per group, so at any
  * scale Catalyst broadcasts it and the op stays shuffle-free on the
  * big side.
  */
object Stats {

  /** overhead_vs_oracle = (C_model − C_oracle) / C_oracle per
    * (location, scenario, scheduler) group; null when the group has no
    * oracle row (stats.py `add_overhead_vs_oracle`, oracle row keyed by
    * model == "Oracle"). */
  def addOverheadVsOracle(df: DataFrame,
      metric: String = "carbon_total_gco2",
      groupCols: Seq[String] = Seq("location", "scenario", "scheduler"),
      modelCol: String = "model", oracleLabel: String = "Oracle"): DataFrame = {
    val oracle = df.filter(col(modelCol) === oracleLabel)
      .groupBy(groupCols.map(col): _*)
      .agg(first(col(metric)).as("__c_oracle"))
    df.join(broadcast(oracle), groupCols, "left")
      .withColumn("overhead_vs_oracle",
        (col(metric) - col("__c_oracle")) / col("__c_oracle"))
      .drop("__c_oracle")
  }
}
