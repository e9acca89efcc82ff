package graft.scheduling

import graft.SparkSpec
import graft.scheduling.Schedulers._

class SchedulingSpec extends SparkSpec {

  private def profile(ci: Array[Double], slotSec: Double = 1.0) =
    CarbonProfileMicro.fromCi(ci, slotSec)

  test("runtimeToSlots: ceil, at-least-1, variance after ceil") {
    assert(Workload.runtimeToSlots(0.0, 1.0) === 1)
    assert(Workload.runtimeToSlots(0.2, 1.0) === 1)
    assert(Workload.runtimeToSlots(1.0, 1.0) === 1)
    assert(Workload.runtimeToSlots(1.1, 1.0) === 2)
    assert(Workload.runtimeToSlots(10.0, 5.0) === 2)
    // int(ceil(r/s) * v): ceil first, then multiply, then truncate
    assert(Workload.runtimeToSlots(3.0, 1.0, addVariance = 1.5) === 4)
  }

  test("ordered: policies are stable sorts with arrival tie-break") {
    val qs = Seq(SchedQuery("q0", 3, 5), SchedQuery("q1", 3, 2),
      SchedQuery("q2", 7, 2), SchedQuery("q3", 1, 9))
    assert(Workload.ordered(qs, "pred_longest_first").map(_.id) ===
      Seq("q2", "q0", "q1", "q3"))
    assert(Workload.ordered(qs, "pred_shortest_first").map(_.id) ===
      Seq("q3", "q0", "q1", "q2"))
    assert(Workload.ordered(qs, "actual_shortest_first").map(_.id) ===
      Seq("q1", "q2", "q0", "q3"))
    // |actual-pred|: q0→2, q1→1, q2→5, q3→8
    assert(Workload.ordered(qs, "high_error_first").map(_.id) ===
      Seq("q3", "q2", "q0", "q1"))
    // seeded random is reproducible
    assert(Workload.ordered(qs, "random") === Workload.ordered(qs, "random"))
    assert(Workload.oracleView(qs).forall(q => q.predSlots == q.actualSlots))
    intercept[IllegalArgumentException](Workload.ordered(qs, "nope"))
  }

  test("windowCarbon: prefix sums, horizon clipping, zero-width") {
    val p = profile(Array(10.0, 20.0, 30.0, 40.0))
    assert(p.windowSumMicro(0, 2) === 30000000L)
    assert(p.windowSumMicro(1, 3) === 90000000L)
    assert(p.windowSumMicro(2, 10) === 70000000L) // clipped at horizon
    assert(p.windowSumMicro(4, 5) === 0L)         // starts at horizon
    assert(p.windowSumMicro(9, 1) === 0L)         // starts past horizon
    // gCO2 = sum * kW * h
    assert(math.abs(p.windowCarbon(0, 2, powerKw = 0.150) -
      30.0 * 0.150 / 3600.0) < 1e-12)
  }

  test("fifoSchedule: back-to-back on actual slots, order policy applied") {
    val qs = Seq(SchedQuery("q0", 1, 5), SchedQuery("q1", 1, 3),
      SchedQuery("q2", 1, 2))
    assert(fifoSchedule(qs) === Seq(("q0", 0), ("q1", 5), ("q2", 8)))
    assert(fifoSchedule(qs, "actual_shortest_first") ===
      Seq(("q2", 0), ("q1", 2), ("q0", 5)))
  }

  test("replaySequential: planned respected, machine-free pushes back") {
    val qs = Seq(SchedQuery("a", 2, 4), SchedQuery("b", 2, 2))
    // b planned at 1 but a (actual 4) blocks until 4
    val got = replaySequential(qs, Seq(("a", 0), ("b", 1)))
    assert(got === Seq(Placement("a", 0, 4), Placement("b", 4, 2)))
    // pred-blocking frees the machine at 2 instead
    val pred = replaySequential(qs, Seq(("a", 0), ("b", 1)), blockByPred = true)
    assert(pred === Seq(Placement("a", 0, 4), Placement("b", 2, 2)))
    // a gap in the plan leaves the machine idle
    val gap = replaySequential(qs, Seq(("a", 0), ("b", 10)))
    assert(gap === Seq(Placement("a", 0, 4), Placement("b", 10, 2)))
  }

  test("realisedCarbon matches direct per-window computation") {
    val ci = Array.tabulate(100)(i => (i % 7) + 1.0)
    val p = profile(ci)
    val qs = Seq(SchedQuery("q0", 3, 4), SchedQuery("q1", 2, 2),
      SchedQuery("q2", 5, 5))
    val sched = fifoSchedule(qs)
    val direct = Seq((0, 4), (4, 2), (6, 5))
      .map { case (s, d) => p.windowCarbon(s, d) }.sum
    assert(math.abs(realisedCarbonSequential(qs, sched, p) - direct) < 1e-12)
  }

  test("greedyLowCarbonDefer: defers into the low-carbon valley") {
    // high CI for 100 slots, then a deep valley within the horizon
    val ci = Array.tabulate(200)(i => if (i < 100) 100.0 else 1.0)
    val p = profile(ci)
    val qs = Seq(SchedQuery("q0", 10, 10))
    val sched = greedyLowCarbonDefer(qs, p,
      searchHours = 200.0 / 3600.0, candidateStepSlots = 10)
    assert(sched === Seq(("q0", 100)))
  }

  test("greedyLowCarbonDefer: cheapest query first, id tie-break, cursor advances") {
    val ci = Array.fill(1000)(5.0) // flat CI → all costs tie per duration
    val p = profile(ci)
    val qs = Seq(SchedQuery("q1", 4, 4), SchedQuery("q0", 4, 4),
      SchedQuery("q2", 2, 2))
    val sched = greedyLowCarbonDefer(qs, p,
      searchHours = 0.01, candidateStepSlots = 1)
    // shortest query is cheapest on flat CI; then ids break ties
    assert(sched === Seq(("q2", 0), ("q0", 2), ("q1", 6)))
    assert(scheduleFitsSequential(qs, sched, ciLen = 1000))
  }

  test("greedy on a truncated prefix + true horizon == greedy on the full profile") {
    // r11 (VERDICT r10 item 3): sched_greedy_defer collects the CI
    // prefix only up to the fold's access bound
    // (N+1)·(searchRange + maxD) instead of one row per corpus event;
    // CarbonProfileMicro.horizonSlots keeps the true horizon for the
    // end-clipping math. This pins the equivalence on a case where
    // the truncation is REAL (bound < ciLen) and the valley sits
    // inside reach, so the schedule is non-trivial.
    val ci = Array.tabulate(400)(i =>
      if (i >= 40 && i < 60) 1.0 else 50.0 + (i % 7))
    val full = profile(ci)
    val qs = Seq(SchedQuery("q0", 3, 4), SchedQuery("q1", 5, 2),
      SchedQuery("q2", 2, 2))
    val searchRange = 30 // = ceil((30/3600 h) / (1 s slot / 3600))
    val maxD = qs.map(_.predSlots).max
    val bound = (qs.length + 1) * (searchRange + maxD)
    assert(bound < ci.length, "test must exercise real truncation")
    val truncated = CarbonProfileMicro(
      full.prefixMicro.take(bound + 1), 1.0, horizonSlots = ci.length)
    assert(truncated.numSlots === ci.length)
    val a = greedyLowCarbonDefer(qs, full,
      searchHours = 30.0 / 3600.0, candidateStepSlots = 5)
    val b = greedyLowCarbonDefer(qs, truncated,
      searchHours = 30.0 / 3600.0, candidateStepSlots = 5)
    assert(a === b, "truncated-prefix schedule must be bit-identical")
  }

  test("greedy schedule never overlaps under pred-blocking and fits horizon") {
    val ci = Array.tabulate(5000)(i => ((i * 37) % 89) + 1.0)
    val p = profile(ci)
    val qs = (0 until 40).map(i =>
      SchedQuery(s"q$i", (i % 7) + 1, (i % 5) + 1))
    val sched = greedyLowCarbonDefer(qs, p,
      searchHours = 1.0, candidateStepSlots = 60)
    assert(sched.map(_._1).toSet === qs.map(_.id).toSet)
    val placements = replaySequential(qs, sched, blockByPred = true)
    placements.sliding(2).foreach {
      case Seq(a, b) =>
        val aPred = qs.find(_.id == a.id).get.predSlots
        assert(b.startSlot >= a.startSlot + aPred)
      case _ =>
    }
  }

  test("scheduleFitsSequential: horizon check under pred/oracle blocking") {
    val qs = Seq(SchedQuery("a", 3, 5), SchedQuery("b", 4, 2))
    val sched = Seq(("a", 0), ("b", 3))
    assert(scheduleFitsSequential(qs, sched, ciLen = 7))
    assert(!scheduleFitsSequential(qs, sched, ciLen = 6))
    // oracle blocking uses max(pred, actual): a blocks 5, ends at 9
    assert(!scheduleFitsSequential(qs, sched, ciLen = 8, oracle = true))
    assert(scheduleFitsSequential(qs, sched, ciLen = 9, oracle = true))
    // a blocks 0..5 (max(3, 5)); b waits for it and blocks 5..9
    assert(Experiment.makespanSlots(qs, sched) === 9)
  }

  test("summarize: per-query and per-second rates") {
    val s = summarize("n", "RF", "greedy", oracle = false,
      carbonTotal = 100.0, makespan = 50, numQueries = 4, slotSec = 2.0)
    assert(s("carbon_per_query_gco2") === 25.0)
    assert(s("makespan_seconds") === 100.0)
    assert(s("carbon_per_second_gco2") === 1.0)
  }

  test("fixture queries return rows on sf0.001") {
    for ((name, q) <- SchedulingQueries.queries) {
      assert(q(spark, sfSmoke).count() > 0, s"query $name returned no rows")
    }
  }

  test("sched_fifo window-sum starts equal the driver-side fold") {
    val df = SchedulingQueries.queries("sched_fifo")(spark, sfSmoke)
      .orderBy("query_id").collect()
    val wl = Workload.fixtureWorkload(spark, sfSmoke).orderBy("query_id")
      .collect().map(r => SchedQuery("q" + r.getLong(0), r.getInt(1), r.getInt(2)))
    val fold = fifoSchedule(wl.toSeq).toMap
    df.foreach { r =>
      assert(fold("q" + r.getLong(0)) === r.getLong(2))
    }
  }
}
