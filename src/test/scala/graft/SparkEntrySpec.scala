package graft

/** Global driver-contract guards: every oracle belongs to a query,
  * every query is oracle-gated unless explicitly declared rows-only,
  * and the flagship entry smokes. Catches the failure mode where a
  * future round adds a query but forgets its oracle (silently
  * downgrading the correctness gate) or leaves an orphan oracle. */
class SparkEntrySpec extends SparkSpec {

  /** Operators whose results are engine-specific or order-dependent by
    * design — the ONLY queries allowed to skip the DuckDB oracle. */
  private val declaredRowsOnly = Set(
    "plan_featurize")      // featurizes Spark plans, no SQL twin

  test("every oracle key has a matching query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
    // the gated key set only grows: a deletion must not drop a key
    assert(SparkEntry.queries.size >= 262 && SparkEntry.oracleSql.size >= 261,
      s"${SparkEntry.queries.size} keys, ${SparkEntry.oracleSql.size} oracles " +
        "(at least 262 and 261 expected)")
  }

  test("every query is oracle-gated unless declared rows-only") {
    val unGated = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(unGated === declaredRowsOnly,
      s"undeclared rows-only queries: ${unGated -- declaredRowsOnly}; " +
        s"stale declarations: ${declaredRowsOnly -- unGated}")
  }

  test("flagship entry returns rows (driver smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("no duplicate query keys across operator modules") {
    // Map ++ silently keeps the last binding, so a key collision only
    // shows up as a size deficit: the merged map must be exactly as
    // large as the sum of the (public) per-module maps. This catches
    // any collision regardless of total count and never goes stale.
    import graft.operators._
    import graft.analytics._
    import graft.scheduling.SchedulingQueries
    import graft.sources.{Ingest, SyntheticWorkload, TpcdsPromoted}
    import graft.llm._
    import graft.plans.TopKPerKey
    val modules = Seq(
      Relational.queries, Advanced.queries, AsOf.queries,
      TopKPerKey.queries, Scale.queries,
      TraceAnalytics.queries, Metrics.queries,
      PlanFeaturizer.queries, SchedulingQueries.queries, Ingest.queries,
      TpcdsPromoted.queries, SyntheticWorkload.queries,
      TextAnalysis.queries, Dedup.queries,
      Similarity.queries, Retrieval.queries, LinkGraph.queries,
      Multimodal.queries, Curation.queries)
    assert(SparkEntry.queries.size === modules.map(_.size).sum,
      "a query key is claimed by more than one module")
  }
}
