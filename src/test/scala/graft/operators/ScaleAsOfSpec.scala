package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ScaleAsOfSpec extends SparkSpec {

  // --------------------------------------------------------- AsOf

  test("joinBackward: latest earlier match, equal-time match, no-match nulls") {
    import spark.implicits._
    val left = Seq((1L, 10L, "l1"), (1L, 20L, "l2"), (2L, 15L, "l3"))
      .toDF("k", "t", "tag")
    val right = Seq((1L, 5L, 100.0), (1L, 20L, 200.0), (2L, 99L, 300.0))
      .toDF("k", "t", "v")
    val got = AsOf.joinBackward(left, right, on = "t", by = "k",
      valueCols = Seq("v")).orderBy("k", "t").collect()
    assert(got.length === 3)
    // k=1 t=10 → rt=5, v=100
    assert(got(0).getLong(3) === 5L && got(0).getDouble(4) === 100.0)
    // k=1 t=20 → equal-time match rt=20
    assert(got(1).getLong(3) === 20L && got(1).getDouble(4) === 200.0)
    // k=2 t=15: right row is later → no match
    assert(got(2).isNullAt(3) && got(2).isNullAt(4))
  }

  test("joinBackward tolerance nulls stale payloads but keeps matched_on") {
    import spark.implicits._
    val left = Seq((1L, 100L, "x")).toDF("k", "t", "tag")
    val right = Seq((1L, 10L, 7.0)).toDF("k", "t", "v")
    val tol = AsOf.joinBackward(left, right, "t", "k", Seq("v"),
      tolerance = Some(50L)).head()
    assert(tol.getLong(3) === 10L) // matched_on survives
    assert(tol.isNullAt(4))        // payload nulled: 90 > 50
    val ok = AsOf.joinBackward(left, right, "t", "k", Seq("v"),
      tolerance = Some(90L)).head()
    assert(ok.getDouble(4) === 7.0)
  }

  // --------------------------------------------------------- Scale

  /** Reference semantics: ONE global ordered window (the form the
    * production path deliberately avoids) — spelled out inline so the
    * distributed implementation is checked against first principles,
    * not against itself. */
  private def singleWindowPrefix(slots: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    slots.withColumn("prefix",
        coalesce(sum(col("ci").cast(DecimalType(18, 6))).over(
          Window.orderBy("slot")
            .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0).cast(DecimalType(18, 6))).cast("double"))
      .select("slot", "prefix").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
  }

  private def assertPrefixMatches(slots: org.apache.spark.sql.DataFrame,
      bucketCounts: Seq[Int]): Unit = {
    val single = singleWindowPrefix(slots)
    for (buckets <- bucketCounts) {
      val dist = Scale.prefixSumsDistributed(slots, numBuckets = buckets)
        .select("slot", "prefix").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(dist.size === single.size)
      dist.foreach { case (slot, p) =>
        assert(p === single(slot), s"slot $slot (buckets=$buckets)")
      }
    }
  }

  test("prefixSumsDistributed is bit-identical to the single-window form") {
    import org.apache.spark.sql.expressions.Window
    val e = graft.Tables.load(spark, sfSmoke, "events")
      .select((row_number().over(Window.orderBy("event_id")) - 1)
        .cast("long").as("slot"), col("value").as("ci"))
    assertPrefixMatches(e, Seq(1, 7))
  }

  test("prefixSumsDistributed: empty and negative-slot frames match the single-window form") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Double)].toDF("slot", "ci")
    assertPrefixMatches(empty, Seq(7))
    assert(Scale.prefixSumsDistributed(empty).columns.contains("prefix"))
    // slots spread over a ~1e9 range: buckets split (max − min), so at
    // most numBuckets partials reach the driver (collectChecked asserts)
    val negative = Seq((-1000000000L, 1.5), (-7L, 2.25), (-1L, 0.5), (0L, 4.0),
      (3L, 1.0), (10L, 8.0)).toDF("slot", "ci")
    assertPrefixMatches(negative, Seq(1, 4, 32))
  }

  test("rowNumberDistributed matches the global row_number") {
    import org.apache.spark.sql.expressions.Window
    val e = graft.Tables.load(spark, sfSmoke, "events")
      .select(col("event_id"), col("value"))
    val global = e.withColumn("rn",
        row_number().over(Window.orderBy(col("value").desc, col("event_id"))))
      .select("event_id", "rn").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    for (buckets <- Seq(1, 5, 32)) {
      val dist = Scale.rowNumberDistributed(e,
          bucketKey = -col("value"),
          orderCols = Seq(col("value").desc, col("event_id")),
          outCol = "rn", numBuckets = buckets)
        .select("event_id", "rn").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(dist.size === global.size)
      dist.foreach { case (id, rn) =>
        assert(rn === global(id).toLong, s"event $id (buckets=$buckets)")
      }
    }
  }

  test("join_asof fixture query returns rows on sf0.001") {
    assert(AsOf.queries("join_asof")(spark, sfSmoke).count() > 0)
  }

  test("AQE splits a skewed shuffle-join partition at runtime (skew=true)") {
    // one hot key dominating the left side must be detected and split
    // by AQE's skew-join rule, without any manual salting
    val prev = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled")
      .map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      val hot = spark.range(0, 200000).selectExpr("0L AS k", "id AS payload")
      val rest = spark.range(1, 64).selectExpr("id AS k", "id AS payload")
      val left = hot.unionAll(rest)
      val right = spark.range(0, 64).selectExpr("id AS k", "id * 2 AS v")
      val joined = left.join(right, "k")
      // execute THIS plan (count() would plan a different, pruned query
      // whose adaptive state says nothing about the join)
      assert(joined.collect().length === 200000 + 63)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        "expected AQE skew-join split:\n" + finalPlan.take(1200))
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
