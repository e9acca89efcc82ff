package graft.scheduling

/** Sequential single-machine schedulers + realised-carbon replay
  * (behavior of `low-carbon-scheduling/src/scheduler.py`).
  *
  * These are inherently order-dependent folds over a ≤750-query
  * schedule (SURVEY.md §7.5) and run driver-side; the heavy math — CI
  * prefix sums over the full slot axis — stays in Spark
  * ([[Carbon.prefixSums]]) and arrives here as a collected prefix
  * array. At 100 TB the CI series is still tiny (one row per second);
  * what grows is the workload analytics upstream, which never leaves
  * Spark.
  *
  * Carbon arithmetic is kept in micro-gCO₂/kWh longs (the CI fixture
  * values are exact at 6 decimals), so candidate comparisons and
  * realised totals are integer-exact and engine-independent; only the
  * final report multiplies by power·dt in doubles.
  */
object Schedulers {

  /** CI series as exact micro-unit prefix sums: prefix(i) = Σ ci[0..i)
    * in 1e-6 units; length numSlots+1 (carbon.py `make_ci_prefix`).
    *
    * `horizonSlots` (default -1 = the array length) lets a caller hand
    * in a PREFIX-TRUNCATED array while keeping the true CI horizon for
    * the end-clipping math: the greedy fold below provably never reads
    * an index past its access bound (see [[graft.scheduling
    * .SchedulingQueries]] sched_greedy_defer), so at corpus scale the
    * caller collects only that bounded prefix instead of one row per
    * corpus event — results are bit-identical because every
    * windowSumMicro index stays inside the collected range while
    * lastPossible/clipping still see the true horizon. */
  final case class CarbonProfileMicro(prefixMicro: Array[Long], slotSec: Double,
      horizonSlots: Int = -1) {
    val numSlots: Int =
      if (horizonSlots >= 0) horizonSlots else prefixMicro.length - 1
    require(horizonSlots < 0 || horizonSlots >= prefixMicro.length - 1,
      "horizonSlots must be >= the materialized prefix range")
    val dtHours: Double = slotSec / 3600.0

    /** Window sum over [s, s+d) clipped at the horizon; 0 when the
      * window starts at/after the horizon (carbon.py
      * `carbon_emissions`: end = min(s+d, n); 0 if end <= s). */
    def windowSumMicro(start: Int, durationSlots: Int): Long = {
      val e = math.min(start + durationSlots, numSlots)
      if (e <= start) 0L
      else prefixMicro(e) - prefixMicro(math.max(start, 0))
    }

    /** gCO₂ = (g/kWh)·kW·h (carbon.py:99). */
    def windowCarbon(start: Int, durationSlots: Int,
        powerKw: Double = Carbon.PowerKw): Double =
      (windowSumMicro(start, durationSlots) / 1e6) * powerKw * dtHours
  }

  object CarbonProfileMicro {
    /** Build from a plain ci-per-slot array (values quantized to 1e-6). */
    def fromCi(ci: Array[Double], slotSec: Double): CarbonProfileMicro = {
      val prefix = new Array[Long](ci.length + 1)
      var i = 0
      while (i < ci.length) {
        prefix(i + 1) = prefix(i) + math.rint(ci(i) * 1e6).toLong
        i += 1
      }
      CarbonProfileMicro(prefix, slotSec)
    }
  }

  /** One placed query after replay: where it really ran. */
  final case class Placement(id: String, startSlot: Int, actualSlots: Int)

  /** FIFO: chosen order, back-to-back using actual_slots
    * (scheduler.py `FIFOScheduler.build_schedule`). Returns planned
    * (id, start_slot) in placement order. */
  def fifoSchedule(qs: Seq[SchedQuery],
      orderPolicy: String = "arrival"): Seq[(String, Int)] = {
    var cursor = 0
    Workload.ordered(qs, orderPolicy).map { q =>
      val s = (q.id, cursor)
      cursor += q.actualSlots
      s
    }
  }

  /** Greedy low-carbon defer: each round, for every remaining query,
    * scan candidate starts within the search horizon (step =
    * candidateStepSlots) and take the globally cheapest (query, start);
    * ties break on the smaller query id, string-compared like the
    * reference's f"q{i}" ids (scheduler.py
    * `GreedyLowCarbonDeferScheduler.build_schedule`). Costs compare as
    * exact micro-longs, so ordering never depends on float noise. */
  def greedyLowCarbonDefer(qs: Seq[SchedQuery], profile: CarbonProfileMicro,
      searchHours: Double = Carbon.SearchHours,
      candidateStepSlots: Int = Carbon.CandidateStep): Seq[(String, Int)] = {
    require(candidateStepSlots >= 1, "candidate_step_slots must be >= 1")
    val byId = qs.map(q => q.id -> q).toMap
    val remaining = scala.collection.mutable.TreeSet.from(qs.map(_.id))
    val searchRange = math.ceil(searchHours / profile.dtHours).toInt
    val ciLen = profile.numSlots
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Int)]
    var cursor = 0

    while (remaining.nonEmpty) {
      var bestId: String = null
      var bestStart = 0
      var bestCost = Long.MaxValue
      var bestDur = 0
      for (id <- remaining) {  // TreeSet iterates in sorted(id) order
        val d = byId(id).predSlots
        val earliest = cursor
        val lastPossible =
          if (cursor >= ciLen) cursor else math.max(ciLen - d, earliest)
        val searchEnd = math.min(earliest + searchRange, lastPossible)
        var qBestCost = Long.MaxValue
        var qBestStart = earliest
        var s = earliest
        while (s <= searchEnd) {
          val c = profile.windowSumMicro(s, d)
          if (c < qBestCost) { qBestCost = c; qBestStart = s }
          s += candidateStepSlots
        }
        if (qBestCost < bestCost ||
            (qBestCost == bestCost && (bestId == null || id < bestId))) {
          bestCost = qBestCost; bestId = id; bestStart = qBestStart; bestDur = d
        }
      }
      out += ((bestId, bestStart))
      cursor = bestStart + bestDur
      remaining.remove(bestId)
    }
    out.toSeq
  }

  /** Replay a planned schedule on one sequential machine: queries in
    * planned-start order, each really starting at max(planned, free);
    * the machine blocks for actual_slots (prediction-unaware replay) or
    * pred_slots (`blockByPred`) while carbon is always charged over the
    * actual runtime (scheduler.py `realised_carbon_sequential`). */
  def replaySequential(qs: Seq[SchedQuery], schedule: Seq[(String, Int)],
      blockByPred: Boolean = false): Seq[Placement] = {
    val byId = qs.map(q => q.id -> q).toMap
    var cursor = 0
    schedule.sortBy(_._2).map { case (id, planned) =>
      val q = byId(id)
      if (planned > cursor) cursor = planned
      val start = cursor
      cursor = start + (if (blockByPred) q.predSlots else q.actualSlots)
      Placement(id, start, q.actualSlots)
    }
  }

  /** Total realised carbon of a replayed schedule. */
  def realisedCarbonSequential(qs: Seq[SchedQuery], schedule: Seq[(String, Int)],
      profile: CarbonProfileMicro, powerKw: Double = Carbon.PowerKw,
      blockByPred: Boolean = false): Double = {
    val micro = replaySequential(qs, schedule, blockByPred)
      .map(p => profile.windowSumMicro(p.startSlot, p.actualSlots)).sum
    (micro / 1e6) * powerKw * profile.dtHours
  }

  /** Feasibility check: under pred-blocking (max(pred,actual) for an
    * oracle workload) the schedule must end within the CI horizon
    * (scheduler.py `assert_schedule_fits_sequential`). */
  def scheduleFitsSequential(qs: Seq[SchedQuery], schedule: Seq[(String, Int)],
      ciLen: Int, oracle: Boolean = false): Boolean =
    sequentialEnd(qs, schedule, oracle) <= ciLen

  /** End slot of a schedule on one sequential machine: queries in
    * planned-start order, each starting at max(planned, free) and
    * blocking for pred_slots, or for max(pred, actual) when `oracle`. */
  private[scheduling] def sequentialEnd(qs: Seq[SchedQuery],
      schedule: Seq[(String, Int)], oracle: Boolean): Int = {
    val byId = qs.map(q => q.id -> q).toMap
    var cursor = 0
    schedule.sortBy(_._2).foreach { case (id, planned) =>
      val q = byId(id)
      if (planned > cursor) cursor = planned
      cursor += (if (oracle) math.max(q.predSlots, q.actualSlots) else q.predSlots)
    }
    cursor
  }

  /** Compact experiment summary (experiment.py `ExperimentResult
    * .summary`): totals, per-query / per-second rates, makespan. */
  def summarize(name: String, label: String, scheduler: String,
      oracle: Boolean, carbonTotal: Double, makespan: Int,
      numQueries: Int, slotSec: Double,
      powerKw: Double = Carbon.PowerKw): Map[String, Any] = {
    val makespanSeconds = makespan * slotSec
    Map(
      "name" -> name, "label" -> label, "scheduler" -> scheduler,
      "oracle" -> oracle, "num_queries" -> numQueries,
      "carbon_total_gco2" -> carbonTotal,
      "carbon_per_query_gco2" ->
        (if (numQueries != 0) carbonTotal / numQueries else Double.NaN),
      "carbon_per_second_gco2" ->
        (if (makespanSeconds != 0) carbonTotal / makespanSeconds else Double.NaN),
      "makespan_seconds" -> makespanSeconds,
      "slot_length_sec" -> slotSec, "power_kw" -> powerKw)
  }
}
