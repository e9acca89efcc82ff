package graft.scheduling

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Carbon-intensity time-series math (SURVEY.md §2.D group 4,
  * behavior of `low-carbon-scheduling/src/carbon.py`):
  * upsample-by-repetition and prefix sums; O(1) window-carbon
  * evaluation on top of the prefix sums is
  * [[Schedulers.CarbonProfileMicro]]'s.
  *
  * Scale note: every operation on the slot axis runs through the
  * range-bucketed distributed forms in [[graft.operators.Scale]]
  * (per-bucket work in parallel, constant-size offset folds on the
  * driver) — no single task ever sorts or sums the whole series, and
  * no plan contains an unpartitioned WindowExec.
  */
object Carbon {

  /** Default simulation constants (low-carbon-scheduling/config.py:28-44). */
  val PowerKw       = 0.150
  val SlotSec       = 1
  val SearchHours   = 12
  val CandidateStep = 3600

  /** Repeat each source slot `factor` times to reach the target slot
    * resolution (carbon.py:49-68; integer ratio enforced there, here by
    * construction). explode(sequence(...)) is a narrow op — no shuffle;
    * the slot ids come from the range-bucketed distributed rank, so no
    * single task numbers the whole upsampled series. The leading order
    * column must be numeric or a timestamp (it range-buckets the axis). */
  def upsample(ci: DataFrame, factor: Int,
      orderCols: Seq[String] = Seq("ts")): DataFrame = {
    val exploded =
      ci.withColumn("rep", explode(sequence(lit(0), lit(factor - 1))))
    graft.operators.Scale.rowNumberDistributed(exploded,
        bucketKey = col(orderCols.head).cast("double"),
        orderCols = (orderCols :+ "rep").map(col),
        outCol = "slot")
      .withColumn("slot", col("slot") - 1)
      .drop("rep")
  }

  /** Exclusive prefix sums over the slot axis (carbon.py:70-75):
    * prefix(i) = Σ ci[0..i). Runs through the range-bucketed
    * distributed form — decimal-exact, so bit-identical to a global
    * ordered window, but parallel over buckets. */
  def prefixSums(slots: DataFrame, slotCol: String = "slot",
      ciCol: String = "ci"): DataFrame =
    graft.operators.Scale.prefixSumsDistributed(slots, slotCol, ciCol)
}
