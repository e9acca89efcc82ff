package graft.scheduling

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables

/** Oracle-verifiable fixture queries for the carbon-scheduling math
  * (SURVEY.md §2.D group 4). The CI time series and the workload are
  * both derived deterministically from the `events` fixture:
  * slot axis = events in event_id order, ci = value; workload = first
  * 750 events with slots ceil-derived from value.
  *
  * All carbon arithmetic runs in DECIMAL(18,6) (exact, associative)
  * and converts to double only at the edges, so Spark and the DuckDB
  * oracle agree bit-for-bit regardless of partitioning — the same
  * contract [[graft.functions.Exact]] establishes for the aggregate
  * queries.
  */
object SchedulingQueries {
  type Q = (SparkSession, String) => DataFrame
  private val D = DecimalType(18, 6)
  private val PowerDt = 0.150 / 3600.0 // gCO2 per (gCO2/kWh)·slot at 0.15 kW, 1 s slots

  private def ev(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")

  /** CI series: one slot per event, exact decimal intensity. Slot ids
    * come from the range-bucketed distributed rank
    * ([[graft.operators.Scale.rowNumberDistributed]]) — no global
    * single-partition window anywhere on the slot axis. */
  private def ciSlots(s: SparkSession, dir: String): DataFrame =
    graft.operators.Scale.rowNumberDistributed(ev(s, dir),
        bucketKey = col("event_id"), orderCols = Seq(col("event_id")),
        outCol = "slot")
      .select((col("slot") - 1).cast("long").as("slot"),
        col("value").cast(D).as("ci"))

  /** Exclusive prefix sums with a sentinel row at slot = numSlots, so
    * prefix lookups for horizon-clipped ends resolve by equi-join.
    * Computed through the range-bucketed distributed form
    * ([[graft.operators.Scale.prefixSumsDistributed]]) — bit-identical
    * to a global window (decimal-exact), but parallel over buckets,
    * so the oracle gate exercises the 100 TB path. */
  private def prefixFull(ci: DataFrame): DataFrame = {
    val p = graft.operators.Scale
      .prefixSumsDistributed(ci.withColumn("ci", col("ci").cast("double")))
      .select(col("slot"), col("prefix").cast(D).as("prefix"))
    val tot = ci.agg(count(lit(1)).as("slot"),
      coalesce(sum("ci"), lit(0).cast(D)).as("prefix"))
    p.unionByName(tot)
  }

  // ------------------------------------------------------------ queries

  /** carbon.py:49-68 — upsample-by-repetition, factor 3, via
    * [[Carbon.upsample]]'s explode(sequence). */
  private val tsUpsample: Q = (s, dir) => {
    val src = ev(s, dir).select(col("event_id"), col("value").as("ci"))
    Carbon.upsample(src, 3, orderCols = Seq("event_id"))
      .select(col("slot").cast("long").as("slot"), col("event_id"), col("ci"))
      .orderBy("slot")
  }

  /** carbon.py:70-75 — exclusive prefix sums over the slot axis via
    * [[Carbon.prefixSums]]. */
  private val tsPrefixSum: Q = (s, dir) => {
    val slots = ciSlots(s, dir).withColumn("ci", col("ci").cast("double"))
    Carbon.prefixSums(slots)
      .select("slot", "ci", "prefix")
      .orderBy("slot")
  }

  /** carbon.py:78-99 — window carbon over [s, s+d) with horizon
    * clipping, evaluated for 200 deterministic windows by equi-joining
    * the prefix frame twice (broadcast — it is tiny at any SF). */
  private val carbonWindow: Q = (s, dir) => {
    val ci = ciSlots(s, dir)
    val pfull = prefixFull(ci)
    val n = ci.agg(count(lit(1)).as("n"))
    val wins = ev(s, dir).filter(col("event_id") < 200)
      .select(col("event_id"),
        ((col("event_id") * 53) % 9000).as("start_slot"),
        ((col("event_id") % 120) + 1).as("duration_slots"))
      .crossJoin(broadcast(n))
    val ps = pfull.select(col("slot").as("ps_slot"), col("prefix").as("ps"))
    val pe = pfull.select(col("slot").as("pe_slot"), col("prefix").as("pe"))
    wins
      .join(broadcast(ps), least(col("start_slot"), col("n")) === col("ps_slot"))
      .join(broadcast(pe),
        least(col("start_slot") + col("duration_slots"), col("n")) === col("pe_slot"))
      .select(col("event_id"), col("start_slot"), col("duration_slots"),
        ((col("pe") - col("ps")).cast("double") * lit(PowerDt)).as("carbon_gco2"))
      .orderBy("event_id")
  }

  /** workload.py `ordered_queries`, pred_longest_first with stable
    * arrival tie-break, as a rank over the fixture workload. The rank
    * runs distributed, bucketed on the (negated, so descending-monotone)
    * prediction — one bucket per prediction band, ties broken within. */
  private val schedOrderPolicies: Q = (s, dir) =>
    graft.operators.Scale.rowNumberDistributed(
        Workload.fixtureWorkload(s, dir),
        bucketKey = -col("pred_slots"),
        orderCols = Seq(col("pred_slots").desc, col("query_id")),
        outCol = "position", numBuckets = 8)
      .select(col("query_id"), col("pred_slots"), col("actual_slots"),
        col("position").cast("int").as("position"))
      .orderBy("position")

  /** scheduler.py `FIFOScheduler` — back-to-back starts as an exclusive
    * running total of actual_slots in arrival order, computed through
    * the range-bucketed distributed prefix sums (values are integral, so
    * the decimal path is exact and the long cast loses nothing). */
  private val schedFifo: Q = (s, dir) =>
    graft.operators.Scale.prefixSumsDistributed(
        Workload.fixtureWorkload(s, dir),
        slotCol = "query_id", ciCol = "actual_slots", numBuckets = 8)
      .select(col("query_id"), col("actual_slots"),
        col("prefix").cast("long").as("start_slot"))
      .orderBy("query_id")

  /** [[Workload.fixtureWorkload]] on the driver in arrival order: at
    * most 750 rows, since every fixture's `event_id`s are distinct and
    * non-negative. */
  private def fixtureQueries(s: SparkSession, dir: String): Seq[SchedQuery] =
    graft.Collect.collectChecked(Workload.fixtureWorkload(s, dir).orderBy("query_id"),
      750, "the scheduling fixture workload (event_id < 750, one row per id)")
      .map(r => SchedQuery("q" + r.getLong(0), r.getInt(1), r.getInt(2))).toSeq

  /** scheduler.py `realised_carbon_sequential` on the FIFO schedule:
    * the driver-side integer replay fold produces placements, then the
    * carbon charge runs in Spark as decimal prefix-difference sums.
    * The DuckDB oracle recomputes the whole chain in SQL — this is the
    * correctness gate for the fold. */
  private val schedRealisedCarbon: Q = (s, dir) => {
    import s.implicits._
    val wl = fixtureQueries(s, dir)
    val placements = Schedulers.replaySequential(wl, Schedulers.fifoSchedule(wl))
    val pl = placements.toDF()
      .select(col("startSlot").cast("long").as("start_slot"),
        col("actualSlots").as("actual_slots"))
    val ci = ciSlots(s, dir)
    val pfull = prefixFull(ci)
    val n = ci.agg(count(lit(1)).as("n"))
    val ps = pfull.select(col("slot").as("ps_slot"), col("prefix").as("ps"))
    val pe = pfull.select(col("slot").as("pe_slot"), col("prefix").as("pe"))
    pl.crossJoin(broadcast(n))
      .join(broadcast(ps), least(col("start_slot"), col("n")) === col("ps_slot"))
      .join(broadcast(pe),
        least(col("start_slot") + col("actual_slots"), col("n")) === col("pe_slot"))
      .agg(
        (sum(col("pe") - col("ps")).cast("double") * lit(PowerDt)).as("carbon_total_gco2"),
        count(lit(1)).as("num_queries"),
        max(col("start_slot") + col("actual_slots")).as("makespan_slots"))
      .withColumn("carbon_per_query_gco2",
        col("carbon_total_gco2") / col("num_queries"))
      .select("carbon_total_gco2", "carbon_per_query_gco2",
        "num_queries", "makespan_slots")
  }

  /** scheduler.py `GreedyLowCarbonDeferScheduler` — driver-side greedy
    * fold over the exact micro-unit prefix array. 12 h horizon, hourly
    * candidate steps, 1 s slots. Oracle-gated since r4: the
    * order-dependent fold is re-expressed as a DuckDB recursive CTE
    * whose LATERAL argmin replays one greedy round per recursion step
    * (costs compare as exact micro-longs on both sides, so ordering
    * never depends on float noise); the pred-blocking replay is the
    * identity on greedy output because every candidate start is >= the
    * machine cursor. */
  private val schedGreedyDefer: Q = (s, dir) => {
    import s.implicits._
    val wl = fixtureQueries(s, dir)
    // The CI collect is BOUNDED by the workload and the search
    // horizon, never the corpus (r10 VERDICT item 3: the old
    // unconditional collect was one row per `events` row — corpus-
    // sized at large sf). True bound of every prefix index the greedy
    // fold can read: per round the cursor advances by at most
    // searchRange + d (bestStart <= cursor + searchRange, then
    // + bestDur), so over N = |wl| rounds every candidate window
    // [s, s+d) ends below (N+1)·(searchRange + maxD). Slots at or
    // past that index can influence NOTHING in the output
    // (placements only — no realised-carbon total here), so the
    // collect is clamped to it; the TRUE horizon still feeds
    // CarbonProfileMicro so end-clipping (lastPossible, window
    // truncation) is unchanged and results stay bit-identical. At the
    // fixture scales the bound (~33M slots) exceeds the corpus and
    // the collected rows are exactly the old ones.
    val searchHours = 12.0
    val searchRangeSlots = math.ceil(searchHours * 3600).toInt // 1 s slots
    val maxD = if (wl.isEmpty) 0 else wl.map(_.predSlots).max
    val accessBound = (wl.length.toLong + 1) * (searchRangeSlots.toLong + maxD)
    // one count over the events scan (parquet row-group metadata —
    // no data pass) gives the true horizon
    val nSlots = ev(s, dir).count()
    // slots are distinct and 0-based, so the filter leaves at most
    // accessBound rows; sorted on the driver, which saves the range
    // sort's sampling job
    val ciRows = graft.Collect.collectChecked(
        ciSlots(s, dir).filter(col("slot") < accessBound),
        math.min(accessBound, Int.MaxValue - 1L).toInt,
        "sched_greedy_defer: the carbon-intensity slots the greedy fold " +
          "can read (schedule a smaller workload)")
      .sortBy(_.getLong(0))
    val prefix = new Array[Long](ciRows.length + 1)
    var i = 0
    while (i < ciRows.length) {
      prefix(i + 1) = prefix(i) +
        ciRows(i).getDecimal(1).movePointRight(6).longValueExact()
      i += 1
    }
    val profile = Schedulers.CarbonProfileMicro(prefix, slotSec = 1.0,
      horizonSlots = math.min(nSlots, Int.MaxValue.toLong).toInt)
    val schedule = Schedulers.greedyLowCarbonDefer(wl, profile,
      searchHours = searchHours, candidateStepSlots = 3600)
    val placements = Schedulers.replaySequential(wl, schedule, blockByPred = true)
    placements.toDF()
      .select(col("id").as("query_id"), col("startSlot").as("start_slot"),
        col("actualSlots").as("actual_slots"))
      .orderBy("start_slot", "query_id")
  }

  /** stats.py `add_overhead_vs_oracle` — per-(location, scenario,
    * scheduler) overhead against the group's Oracle row, over a results
    * frame synthesized from events (model = event_type, 'view' plays
    * Oracle). */
  private val overheadVsOracle: Q = (s, dir) => {
    import graft.functions.Exact._
    val results = ev(s, dir)
      .groupBy((col("event_id") % 3).cast("long").as("location"),
        (col("event_id") % 2).cast("long").as("scenario"),
        col("event_type").as("model"))
      .agg(dsum(col("value")).as("carbon_total_gco2"))
      .withColumn("scheduler", lit("greedy"))
    Stats.addOverheadVsOracle(results,
        modelCol = "model", oracleLabel = "view")
      .select("location", "scenario", "model", "carbon_total_gco2",
        "overhead_vs_oracle")
      .orderBy("location", "scenario", "model")
  }

  val queries: Map[String, Q] = Map(
    "ts_upsample"           -> tsUpsample,
    "ts_prefix_sum"         -> tsPrefixSum,
    "carbon_window"         -> carbonWindow,
    "sched_order_policies"  -> schedOrderPolicies,
    "sched_fifo"            -> schedFifo,
    "sched_realised_carbon" -> schedRealisedCarbon,
    "sched_greedy_defer"    -> schedGreedyDefer,
    "overhead_vs_oracle"    -> overheadVsOracle,
  )

  // ------------------------------------------------------- oracle SQL

  private val wlSql =
    """SELECT event_id AS query_id,
      |  GREATEST(1, CAST(CEIL(value / 8) AS INT)) AS pred_slots,
      |  GREATEST(1, CAST(CEIL(value / 10) AS INT)) AS actual_slots
      |FROM events WHERE event_id < 750""".stripMargin

  private val ciSql =
    """SELECT CAST(ROW_NUMBER() OVER (ORDER BY event_id) - 1 AS BIGINT) AS slot,
      |  CAST(value AS DECIMAL(18,6)) AS ci FROM events""".stripMargin

  private val pfullSql =
    """SELECT slot, COALESCE(SUM(ci) OVER (ORDER BY slot
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |    CAST(0 AS DECIMAL(18,6))) AS prefix
      |  FROM ci
      |UNION ALL
      |SELECT COUNT(*) AS slot, COALESCE(SUM(ci), CAST(0 AS DECIMAL(18,6)))
      |  FROM ci""".stripMargin

  val oracles: Map[String, String] = Map(
    "ts_upsample" ->
      """SELECT CAST(ROW_NUMBER() OVER (ORDER BY event_id, rep) - 1 AS BIGINT)
        |    AS slot, event_id, ci
        |FROM (SELECT event_id, value AS ci, UNNEST(range(0, 3)) AS rep
        |      FROM events)
        |ORDER BY slot""".stripMargin,

    "ts_prefix_sum" ->
      """WITH ci AS (
        |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY event_id) - 1 AS BIGINT)
        |    AS slot, value AS ci FROM events)
        |SELECT slot, ci,
        |  CAST(COALESCE(SUM(CAST(ci AS DECIMAL(18,6))) OVER (ORDER BY slot
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE)
        |    AS prefix
        |FROM ci ORDER BY slot""".stripMargin,

    "carbon_window" ->
      s"""WITH ci AS ($ciSql),
         |pfull AS ($pfullSql),
         |n AS (SELECT COUNT(*) AS n FROM ci),
         |w AS (SELECT event_id, (event_id * 53) % 9000 AS start_slot,
         |        (event_id % 120) + 1 AS duration_slots
         |      FROM events WHERE event_id < 200)
         |SELECT w.event_id, w.start_slot, w.duration_slots,
         |  CAST(pe.prefix - ps.prefix AS DOUBLE) * (0.150 / 3600.0)
         |    AS carbon_gco2
         |FROM w CROSS JOIN n
         |JOIN pfull ps ON LEAST(w.start_slot, n.n) = ps.slot
         |JOIN pfull pe ON LEAST(w.start_slot + w.duration_slots, n.n) = pe.slot
         |ORDER BY w.event_id""".stripMargin,

    "sched_order_policies" ->
      s"""WITH w AS ($wlSql)
         |SELECT query_id, pred_slots, actual_slots,
         |  CAST(ROW_NUMBER() OVER (ORDER BY pred_slots DESC, query_id) AS INT)
         |    AS position
         |FROM w ORDER BY position""".stripMargin,

    "sched_fifo" ->
      s"""WITH w AS ($wlSql)
         |SELECT query_id, actual_slots,
         |  CAST(COALESCE(SUM(actual_slots) OVER (ORDER BY query_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |    AS start_slot
         |FROM w ORDER BY query_id""".stripMargin,

    "sched_realised_carbon" ->
      s"""WITH wq AS ($wlSql),
         |sched AS (
         |  SELECT query_id, actual_slots,
         |    CAST(COALESCE(SUM(actual_slots) OVER (ORDER BY query_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      AS start_slot
         |  FROM wq),
         |ci AS ($ciSql),
         |pfull AS ($pfullSql),
         |n AS (SELECT COUNT(*) AS n FROM ci)
         |SELECT
         |  CAST(SUM(pe.prefix - ps.prefix) AS DOUBLE) * (0.150 / 3600.0)
         |    AS carbon_total_gco2,
         |  (CAST(SUM(pe.prefix - ps.prefix) AS DOUBLE) * (0.150 / 3600.0))
         |    / COUNT(*) AS carbon_per_query_gco2,
         |  COUNT(*) AS num_queries,
         |  MAX(start_slot + actual_slots) AS makespan_slots
         |FROM sched CROSS JOIN n
         |JOIN pfull ps ON LEAST(sched.start_slot, n.n) = ps.slot
         |JOIN pfull pe ON LEAST(sched.start_slot + sched.actual_slots, n.n)
         |  = pe.slot""".stripMargin,

    // One greedy round per recursion step: the LATERAL picks the
    // globally cheapest (query, candidate-start) among the not-yet-
    // scheduled queries — min cost, then min id (string-compared like
    // the q<i> ids), then earliest start — exactly the Scala fold's
    // tie-break chain. Candidate costs are micro-gCO2 longs from the
    // same DECIMAL(18,6) CI series, so comparisons are integer-exact.
    "sched_greedy_defer" ->
      s"""WITH RECURSIVE
         |wq AS (
         |  SELECT 'q' || CAST(event_id AS VARCHAR) AS id,
         |         GREATEST(1, CAST(CEIL(value / 8) AS INT)) AS pred,
         |         GREATEST(1, CAST(CEIL(value / 10) AS INT)) AS act
         |  FROM events WHERE event_id < 750),
         |ci AS ($ciSql),
         |nn AS (SELECT COUNT(*) AS n FROM ci),
         |pm AS (
         |  SELECT slot,
         |    COALESCE(SUM(CAST(ci * 1000000 AS BIGINT)) OVER (ORDER BY slot
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pmicro
         |  FROM ci
         |  UNION ALL
         |  SELECT COUNT(*) AS slot,
         |    COALESCE(SUM(CAST(ci * 1000000 AS BIGINT)), 0) AS pmicro
         |  FROM ci),
         |sched(round, cursor, done_ids, id, start_slot) AS (
         |  SELECT 0, 0, CAST([] AS VARCHAR[]),
         |         CAST(NULL AS VARCHAR), CAST(NULL AS INT)
         |  UNION ALL
         |  SELECT s.round + 1, best.start_slot + best.pred,
         |         list_append(s.done_ids, best.id), best.id, best.start_slot
         |  FROM sched s, LATERAL (
         |    SELECT w.id, w.pred, CAST(cand.cs AS INT) AS start_slot,
         |           CASE WHEN LEAST(cand.cs + w.pred, nn.n) <= cand.cs THEN 0
         |                ELSE pe.pmicro - ps.pmicro END AS cost
         |    FROM wq w
         |    CROSS JOIN nn
         |    CROSS JOIN LATERAL (
         |      SELECT UNNEST(generate_series(
         |        s.cursor,
         |        LEAST(s.cursor + 43200,
         |          CASE WHEN s.cursor >= nn.n THEN s.cursor
         |               ELSE GREATEST(nn.n - w.pred, s.cursor) END),
         |        3600)) AS cs) cand
         |    JOIN pm ps ON ps.slot = LEAST(cand.cs, nn.n)
         |    JOIN pm pe ON pe.slot = LEAST(cand.cs + w.pred, nn.n)
         |    WHERE NOT list_contains(s.done_ids, w.id)
         |    ORDER BY cost, w.id, cand.cs
         |    LIMIT 1) best
         |  WHERE s.round < (SELECT COUNT(*) FROM wq))
         |SELECT s.id AS query_id, s.start_slot,
         |       CAST(w.act AS INTEGER) AS actual_slots
         |FROM sched s JOIN wq w ON s.id = w.id
         |ORDER BY s.start_slot, s.id""".stripMargin,

    "overhead_vs_oracle" ->
      s"""WITH results AS (
         |  SELECT event_id % 3 AS location, event_id % 2 AS scenario,
         |    event_type AS model,
         |    ${graft.functions.Exact.sqlSum("value")} AS carbon_total_gco2
         |  FROM events GROUP BY 1, 2, 3),
         |oracle AS (
         |  SELECT location, scenario, carbon_total_gco2 AS c_oracle
         |  FROM results WHERE model = 'view')
         |SELECT r.location, r.scenario, r.model, r.carbon_total_gco2,
         |  (r.carbon_total_gco2 - o.c_oracle) / o.c_oracle
         |    AS overhead_vs_oracle
         |FROM results r LEFT JOIN oracle o
         |  ON r.location = o.location AND r.scenario = o.scenario
         |ORDER BY r.location, r.scenario, r.model""".stripMargin,
  )
}
