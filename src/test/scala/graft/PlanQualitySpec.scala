package graft

/** Suite-wide physical-plan quality gate: every oracle query's plan is
  * asserted free of the two silent scale-killers — cartesian products
  * and nested-loop joins — unless the query is on the explicit
  * allowlist of shapes where an unkeyed join is the CORRECT plan
  * (single-row aggregate combinations, broadcast-small-side ANN
  * scoring, deliberate cross joins). A new query that accidentally
  * drops its equi key fails here at sf0.001 instead of melting at
  * 100 TB.
  */
class PlanQualitySpec extends SparkSpec {

  /** Queries where an unkeyed join IS the intended plan; every entry
    * must keep at least one side tiny (one-row aggregates, a
    * broadcast probe set, or an explicit cross-join fixture). */
  private val intendedUnkeyed: Set[String] = Set(
    "join_cross",            // the CROSS JOIN operator itself (5x3 dims)
    "tpcds_q90_count_ratio", // ratio of two one-row COUNT subqueries
    "carbon_window",         // one-row CI bounds frame attached to the grid
    "config_delta",          // two one-row config aggregates compared
    "sched_realised_carbon", // one-row schedule summary x prefix frame
    "uncorrelated_scalar_subquery", // one-row aggregate attached to the fact
    "tpcds_q28_band_probes", // 6 one-row band probes cross-joined
    "tpcds_q61_promo_ratio", // promo/total: two one-row aggregates crossed
    "curate_mix_temperature", // one-row pow-sum normalizer crossed onto per-domain counts
    "curate_mix_report",     // one-row total-chars aggregate crossed onto the rollup report
    "curate_importance_resample", // one-row target/raw totals crossed onto the bucket table
    "curate_perplexity_buckets", // one-row tertile-threshold frame crossed onto the scored docs
    "diag_key_skew",         // one-row (n_keys, total) stats crossed onto the top-k keys
    "retrieval_bm25_topk",   // one-row (N, total_len) corpus stats crossed onto partials
    "retrieval_rrf_fusion",  // same bm25 stats frame inside the lexical list
    "retrieval_ndcg",        // bm25 stats + one-row IDCG frame
    "retrieval_diversified", // same bm25 stats frame before the lang cap
    "retrieval_pipeline_e2e", // composed recipe carries the bm25 stats frame
    "text_pmi_bigrams"       // one-row total-bigrams normalizer crossed onto pairs
  )

  /** ONE sweep for the three suite-wide plan gates (unkeyed joins,
    * unpartitioned windows, stray caches): each used to construct and
    * physically plan all 262 oracle queries SEPARATELY — three of the
    * four slowest tests in the suite (3:04 + 2:37 + 2:19 at local[4],
    * r11 -oD durations) for one plan build's worth of information.
    * Folding them into a single pass keeps every assertion and cuts
    * ~5 min off `sbt test` (VERDICT r10 item 4: the driver's test run
    * must fit its harness budget). */
  test("plan sweep: no unintended cartesian/nested-loop, no unpartitioned window, no stray cache") {
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    // the sweep only visits live keys, so an allowlist entry naming a
    // removed or renamed query would be silently ignored
    val unknown = (intendedUnkeyed ++ intendedGlobalWindow)
      .diff(SparkEntry.queries.keySet)
    assert(unknown.isEmpty, s"allowlist entries name no query: $unknown")
    // a revision entry that outlives its key would be stamped into every
    // bench artifact for a workload that no longer exists
    val staleRevs = BenchExtra.workloadRev.keySet
      .diff(SparkEntry.queries.keySet ++ BenchExtra.queries.keySet)
    assert(staleRevs.isEmpty, s"workloadRev entries name no key: $staleRevs")
    val unkeyedOffenders = Seq.newBuilder[String]
    val windowOffenders = Seq.newBuilder[String]
    val windowStale = Seq.newBuilder[String]
    val cached = Seq.newBuilder[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val qe = fn(spark, sfSmoke).queryExecution
      val plan = qe.executedPlan.toString
      val unkeyed = plan.contains("CartesianProduct") ||
        plan.contains("BroadcastNestedLoopJoin")
      if (unkeyed && !intendedUnkeyed.contains(name)) unkeyedOffenders += name
      val gw = qe.sparkPlan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w.nodeName
        case w: WindowGroupLimitExec if w.partitionSpec.isEmpty => w.nodeName
      }
      if (gw.nonEmpty && !intendedGlobalWindow.contains(name))
        windowOffenders += name
      if (gw.isEmpty && intendedGlobalWindow.contains(name))
        windowStale += name
      if (plan.contains("InMemoryTableScan")) cached += name
    }
    assert(unkeyedOffenders.result().isEmpty,
      s"unintended cartesian/nested-loop joins in: ${unkeyedOffenders.result()}")
    assert(windowOffenders.result().isEmpty,
      "unpartitioned global windows (single-task sort at scale) in: " +
        s"${windowOffenders.result()}")
    assert(windowStale.result().isEmpty,
      s"global-window allowlist entries now clean: ${windowStale.result()}")
    assert(cached.result().isEmpty,
      s"unexpected cached scans in: ${cached.result()}")
  }

  test("allowlist stays minimal: every listed query still plans unkeyed") {
    // if an allowlisted query stops needing the exemption, shrink the
    // list rather than letting it mask future regressions
    val stale = intendedUnkeyed.toSeq.sorted.filterNot { name =>
      val plan = SparkEntry.queries(name)(spark, sfSmoke)
        .queryExecution.executedPlan.toString
      plan.contains("CartesianProduct") ||
        plan.contains("BroadcastNestedLoopJoin")
    }
    assert(stale.isEmpty, s"allowlist entries no longer unkeyed: $stale")
  }

  /** Queries where a single-partition (unpartitioned) window IS the
    * intended plan; every entry must run the global window over an
    * already-aggregated frame bounded by group cardinality, not by raw
    * input rows. */
  private val intendedGlobalWindow: Set[String] = Set(
    "tpcds_q44_dual_ranks",  // dual global ranks over the per-supplier aggregate
    "sqlx_chained_cte_ma3"   // 3-month moving average over the monthly frame
  )

  /** r5 canon sweep (VERDICT r4 item 6): every canon file that
    * references the same base table more than once, with the reason the
    * multi-scan is faithful. The q76-class hits — same-table CTE/UNION
    * arms differing ONLY in a literal predicate, where a single-scan
    * conditional-aggregation collapse is output-identical — were
    * rewritten this round (q16, q24, q32; q76 was rewritten in the
    * commit before). Everything below re-references the table because
    * the REFERENCE shape does:
    *  - EXISTS/NOT EXISTS cohort gates re-probing the fact:
    *    q4 q13 q33 q36 q40 q53 q58 q72
    *  - fact self-joins (sale⋈return⋈twin, funnel, self-pairing):
    *    q28 q37 q42 q84 q89 q11 q35 q66 q78
    *  - two-aggregate FULL OUTER / ratio / overlap twins (TPC-DS
    *    q51/q97/q90/q74/q61 are written this way): q3 q25 q41 q71 q75
    *  - INTERSECT / UNION channel stacks the reference also rescans
    *    per arm: q5 q9 q10 q73 q43
    *  - scalar-subquery stacks and band probes over one fact (TPC-DS
    *    q9/q28): q6 q65 (q7, the q88 shape, was collapsed r8 to
    *    single-scan conditional aggregation — contiguous disjoint
    *    bands over one identical join admit the q76-class rewrite)
    *  - dim re-use in a wide star or double geography lookup:
    *    q8 q46 q57
    *  - date-window IN-subquery arms per year (TPC-DS q83):
    *    q14 q79 plus orders-month lookups in q5 q36 q58 q72
    * Any NEW same-table multi-reference must be added here with a
    * reason — or collapsed like the q76-class hits were. */
  private val multiScanInventory: Map[String, Map[String, Int]] = Map(
    "q3"  -> Map("orders" -> 2),
    "q4"  -> Map("orders" -> 2),
    "q5"  -> Map("orders" -> 5),
    "q6"  -> Map("lineitem" -> 15),
    "q8"  -> Map("region" -> 3, "nation" -> 3),
    "q9"  -> Map("orders" -> 3, "lineitem" -> 2),
    "q10" -> Map("part" -> 2, "lineitem" -> 6),
    "q11" -> Map("lineitem" -> 2),
    "q13" -> Map("lineitem" -> 3),
    "q14" -> Map("orders" -> 2),
    "q25" -> Map("orders" -> 2),
    "q28" -> Map("orders" -> 2, "lineitem" -> 3),
    "q33" -> Map("part" -> 2),
    "q35" -> Map("part" -> 2),
    "q36" -> Map("orders" -> 2),
    "q37" -> Map("lineitem" -> 2),
    "q40" -> Map("orders" -> 2),
    "q41" -> Map("orders" -> 2),
    "q42" -> Map("lineitem" -> 2),
    "q43" -> Map("orders" -> 2),
    "q46" -> Map("nation" -> 2),
    "q53" -> Map("orders" -> 2),
    "q57" -> Map("customer" -> 2),
    "q58" -> Map("orders" -> 3),
    "q65" -> Map("lineitem" -> 6),
    "q66" -> Map("customer" -> 2),
    "q71" -> Map("lineitem" -> 2),
    "q72" -> Map("orders" -> 3),
    "q73" -> Map("events" -> 3),
    "q75" -> Map("orders" -> 2),
    "q78" -> Map("supplier" -> 2),
    "q79" -> Map("orders" -> 2, "lineitem" -> 2),
    "q84" -> Map("events" -> 2),
    "q89" -> Map("lineitem" -> 2))

  test("canon same-table multi-scans match the audited inventory") {
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    val dir = new java.io.File("workloads/tpcds_like")
    val found = dir.listFiles().filter(_.getName.endsWith(".sql")).flatMap {
      f =>
        // decode explicitly: the suite JVM's default charset is not
        // UTF-8 and several canon comments carry multibyte chars
        val sql = new String(java.nio.file.Files.readAllBytes(f.toPath),
          java.nio.charset.StandardCharsets.UTF_8)
          .linesIterator.filterNot(_.trim.startsWith("--")).mkString("\n")
        val counts = tables.map { t =>
          t -> s"(?:FROM|JOIN)\\s+$t\\b".r.findAllIn(sql).size
        }.filter(_._2 >= 2).toMap
        if (counts.nonEmpty) Some(f.getName.stripSuffix(".sql") -> counts)
        else None
    }.toMap
    assert(found === multiScanInventory,
      "same-table multi-scan inventory drifted — collapse the new " +
        "rescans (q76-class) or document them in the inventory above; " +
        s"new/changed: ${(found.toSet -- multiScanInventory.toSet)}, " +
        s"removed: ${(multiScanInventory.toSet -- found.toSet)}")
  }

  /** The r9 sf100 star-probe cliff rule (r10): a star probe whose dim
    * is FILTERED (tpcds_q3_star_probe's p_type = 'PROMO') flips
    * broadcast → SortMergeJoin once the dim file outgrows the static
    * threshold, because without column stats Catalyst estimates the
    * filtered dim at its UNfiltered scan size. A blanket threshold
    * raise closes that cliff (sf100 leg: 60.5 → 11.4 s) but also
    * broadcasts genuinely-full dims — the same leg measured the
    * UNfiltered-part probes regress (q55 6.5 → 14.8 s): no stat-less
    * static threshold can separate the two shapes, since their
    * estimates are equal by construction. WITH the catalog stats the
    * library already ships (Tables.registerCatalog: ANALYZE + column
    * stats) and CBO on, FilterEstimation shrinks the filtered dim's
    * estimate below the full dim's, and ONE threshold between the two
    * broadcasts the filtered star while keeping the full-dim join
    * shuffled — asserted here on the real fixture tables. */
  test("CBO stats separate filtered-dim broadcast from full-dim shuffle (star-cliff rule)") {
    Tables.registerCatalog(spark, sfSmoke, analyze = true, namespace = "cbostar")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      def est(sql: String): BigInt =
        spark.sql(sql).queryExecution.optimizedPlan.stats.sizeInBytes
      val filteredEst =
        est("SELECT p_partkey, p_brand FROM cbostar.part WHERE p_type = 'PROMO'")
      val fullEst = est("SELECT p_partkey, p_brand FROM cbostar.part")
      assert(filteredEst < fullEst,
        s"CBO must shrink the filtered dim estimate: $filteredEst vs $fullEst")
      val mid = (filteredEst + fullEst) / 2
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", mid.toString)
      def plan(dimFilter: String): String = spark.sql(
        s"""SELECT p_brand, COUNT(*) AS n
           |FROM cbostar.lineitem JOIN cbostar.part ON l_partkey = p_partkey
           |$dimFilter GROUP BY p_brand""".stripMargin)
        .queryExecution.executedPlan.toString
      val starPlan = plan("WHERE p_type = 'PROMO'")
      assert(starPlan.contains("BroadcastHashJoin"),
        s"filtered star dim must broadcast under the stats-based threshold:\n$starPlan")
      val fullPlan = plan("")
      assert(!fullPlan.contains("BroadcastHashJoin"),
        s"full dim must NOT broadcast under the same threshold:\n$fullPlan")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.cbo.enabled")
      Tables.names.foreach(n =>
        spark.sql(s"DROP TABLE IF EXISTS cbostar.$n"))
      spark.sql("DROP NAMESPACE IF EXISTS cbostar")
    }
  }

  /** r11: the library-level half of the star-cliff rule (VERDICT r10
    * item 1). The canon query path resolves TEMP VIEWS, which cannot
    * carry catalog/column stats, so the CBO separation above is out of
    * reach there and the q3-class FILTERED-dim star probes pin their
    * broadcast with an explicit BROADCAST(part) hint in the shared
    * Spark/DuckDB text (DuckDB parses the hint syntax as a plain block
    * comment — results unchanged, oracle-verified).
    * autoBroadcastJoinThreshold = -1
    * reproduces at gate scale the estimate-over-threshold state every
    * dim reaches at sf100: hinted probes must still broadcast; the
    * UNhinted full-dim probe (tpcds_q55_brand_probe) must not — the
    * r10 sf100 leg measured broadcasting a genuinely-full dim 2.3x
    * WORSE, so hinting it would re-open the other side of the cliff.
    * tpcds_q45_geo_membership is DELIBERATELY unhinted too: hinting
    * its p_size=1 membership arm produced a topologically-identical
    * plan with two fewer Exchanges yet measured 2.3x SLOWER at sf100
    * (82.4 s -> 171-190 s, reproduced across two clean legs) — the
    * reverted experiment is recorded in plans/r11/
    * tpcds_q45_geo_membership_hintexp_*.txt and OPTIMIZATION_r11.md. */
  test("filtered-dim star probes broadcast by hint at any threshold; full-dim stays unhinted") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def plan(key: String): String =
        graft.sources.TpcdsPromoted.queries(key)(spark, sfSmoke)
          .queryExecution.executedPlan.toString
      for (k <- Seq("tpcds_q3_star_probe", "tpcds_q61_promo_ratio"))
        assert(plan(k).contains("BroadcastHashJoin"),
          s"$k must broadcast its filtered dim via the hint at threshold -1")
      for (k <- Seq("tpcds_q55_brand_probe", "tpcds_q45_geo_membership"))
        assert(!plan(k).contains("BroadcastHashJoin"),
          s"$k must stay unhinted (no broadcast at -1) — see the " +
            "measured negative results in OPTIMIZATION_r11.md")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

}
