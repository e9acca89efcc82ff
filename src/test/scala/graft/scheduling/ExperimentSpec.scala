package graft.scheduling

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** End-to-end: a values.csv-shaped prediction frame drives FIFO /
  * greedy / oracle runs against a CI profile; overhead-vs-oracle wires
  * the stats layer on top — the reference's full experiment.py flow. */
class ExperimentSpec extends SparkSpec {

  private def valuesFrame = {
    import spark.implicits._
    // predictions systematically overestimate short queries
    (0 until 120).map { i =>
      val label = ((i % 13) + 1) * 2.0
      val pred = label * (if (i % 3 == 0) 1.5 else 0.9)
      (pred, label)
    }.toDF("prediction", "label")
  }

  private def profile = {
    // diurnal-ish CI: expensive first half, cheap second half
    val ci = Array.tabulate(100000)(i => if (i < 50000) 400.0 else 50.0)
    Schedulers.CarbonProfileMicro.fromCi(ci, slotSec = 1.0)
  }

  test("greedy defers into the cheap half and beats FIFO on carbon") {
    val p = profile
    val fifo = Experiment.run(valuesFrame, p, "fifo", label = "RF")
    val greedy = Experiment.run(valuesFrame, p, "greedy", label = "RF",
      searchHours = 20.0, candidateStepSlots = 3600)
    assert(fifo.numQueries === 120)
    assert(greedy.carbonTotalGco2 < fifo.carbonTotalGco2,
      s"greedy ${greedy.carbonTotalGco2} !< fifo ${fifo.carbonTotalGco2}")
    assert(fifo.makespanSlots > 0 && greedy.makespanSlots >= fifo.makespanSlots)
  }

  test("oracle view never does worse than the mispredicted workload under greedy") {
    val p = profile
    val model = Experiment.run(valuesFrame, p, "greedy", label = "RF",
      searchHours = 20.0, candidateStepSlots = 3600)
    val oracle = Experiment.run(valuesFrame, p, "greedy", label = "Oracle",
      oracle = true, searchHours = 20.0, candidateStepSlots = 3600)
    assert(oracle.carbonTotalGco2 <= model.carbonTotalGco2 * 1.05)
  }

  test("resultsFrame computes overhead_vs_oracle per group") {
    val p = profile
    val model = Experiment.run(valuesFrame, p, "greedy", label = "RF",
      searchHours = 20.0, candidateStepSlots = 3600)
    val oracle = Experiment.run(valuesFrame, p, "greedy", label = "Oracle",
      oracle = true, searchHours = 20.0, candidateStepSlots = 3600)
    val df = Experiment.resultsFrame(spark,
      Seq((model, "aws", "Baseline"), (oracle, "aws", "Baseline")))
    val rows = df.collect().map(r =>
      r.getAs[String]("model") -> r.getAs[Double]("overhead_vs_oracle")).toMap
    assert(rows("Oracle") === 0.0)
    assert(rows("RF") === (model.carbonTotalGco2 - oracle.carbonTotalGco2)
      / oracle.carbonTotalGco2)
  }

  test("an empty values frame reports the profile's slot length") {
    val ci = Array.fill(100)(300.0)
    val p = Schedulers.CarbonProfileMicro.fromCi(ci, slotSec = 60.0)
    val r = Experiment.run(valuesFrame.limit(0), p, "fifo")
    assert(r.numQueries === 0 && r.makespanSlots === 0)
    assert(r.summary("slot_length_sec") === 60.0)
    assert(r.summary("makespan_seconds") === 0.0)
  }

  test("fromValues fails fast on a frame over 100,000 queries, naming queryLimit") {
    val over = spark.range(100001L).select(col("id").cast("double").as("prediction"),
      col("id").cast("double").as("label"))
    val e = intercept[IllegalArgumentException](Workload.fromValues(over, 1.0))
    assert(e.getMessage.contains("Workload.fromValues: the values frame (pass a " +
      "queryLimit of at most 100000): more than 100000 rows"), e.getMessage)
    assert(Workload.fromValues(over, 1.0, limit = Some(3)).map(_.id) ===
      Seq("q0", "q1", "q2"))
  }

  test("summary map carries the reference's fields") {
    val r = Experiment.run(valuesFrame, profile, "fifo")
    val s = r.summary
    assert(s("num_queries") === 120)
    assert(s("carbon_total_gco2") === r.carbonTotalGco2)
    assert(s.contains("carbon_per_query_gco2") &&
      s.contains("carbon_per_second_gco2") && s.contains("makespan_seconds"))
  }
}
