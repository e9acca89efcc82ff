package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The custom whole-operator stack: logical node → strategy → exec.
  * Pinned against the composed window form it replaces. */
class TopKPerKeySpec extends SparkSpec {

  private def windowForm(df: org.apache.spark.sql.DataFrame, k: Int) =
    df.withColumn("__rn", row_number().over(
        Window.partitionBy("l_returnflag")
          .orderBy(col("l_extendedprice").desc, col("l_orderkey"),
            col("l_linenumber"))))
      .filter(col("__rn") <= k).drop("__rn")

  test("TopKPerKey equals the window row_number form on the fixture") {
    val li = graft.Tables.load(spark, sfSmoke, "lineitem")
    val expect = windowForm(li, 7)
      .select("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice")
      .collect().map(_.toSeq).toSet
    val got = TopKPerKey(li, Seq("l_returnflag"),
        Seq(col("l_extendedprice").desc, col("l_orderkey").asc,
          col("l_linenumber").asc), 7)
      .select("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice")
      .collect().map(_.toSeq).toSet
    assert(got === expect)
    assert(got.nonEmpty)
  }

  test("TopKPerKeyExec plans with a clustered shuffle and no sort") {
    val li = graft.Tables.load(spark, sfSmoke, "lineitem")
    val df = TopKPerKey(li, Seq("l_returnflag"),
      Seq(col("l_extendedprice").desc, col("l_orderkey"),
        col("l_linenumber")), 3)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey ["), plan.take(400))
    // the exec's ClusteredDistribution got a hash shuffle from
    // EnsureRequirements...
    assert(plan.contains("Exchange hashpartitioning(l_returnflag"),
      plan.take(800))
    // ...and, unlike the window form, NO per-group sort exists
    assert(!plan.contains("Sort "), "bounded heaps must replace the sort")
  }

  test("groups smaller than k emit whole groups; empty keys means global top-k") {
    import spark.implicits._
    val df = Seq(("a", 1), ("a", 2), ("b", 3)).toDF("g", "v")
    val perKey = TopKPerKey(df, Seq("g"), Seq(col("v").desc), 5)
      .collect().map(r => (r.getString(0), r.getInt(1))).toSet
    assert(perKey === Set(("a", 1), ("a", 2), ("b", 3)))
    val global = TopKPerKey(df, Seq.empty, Seq(col("v").desc), 2)
      .collect().map(_.getInt(1)).toSet
    assert(global === Set(3, 2))
  }

  test("GraftExtensions plants the strategy and the full native function tier") {
    import org.apache.spark.sql.SparkSession
    // a FRESH session built with the extensions (shares the context);
    // getOrCreate would return the spec session, so clear first
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    val ext = SparkSession.builder().master(spark.sparkContext.master)
      .config("spark.sql.shuffle.partitions", "2")
      .withExtensions(new GraftExtensions())
      .getOrCreate()
    try {
      assert(ext ne spark, "must be a fresh session")
      // all five codegen expressions resolve as SQL functions
      assert(ext.sql("SELECT parse_duration_native('2m')").head.getDouble(0)
        === 120.0)
      // ((0*131+97)*131+98)*131+99 mod 1e9+7
      assert(ext.sql("SELECT rolling_hash_native('abc')").head.getLong(0)
        === 1677554L)
      assert(ext.sql(
        "SELECT dot_native(array(1.0D, 2.0D), array(3.0D, 4.0D))")
        .head.getDouble(0) === 11.0)
      assert(ext.sql(
        "SELECT sorted_intersect_size(array(1L, 3L, 5L), array(3L, 5L, 7L))")
        .head.getLong(0) === 2L)
      // "e" + U+0301 (combining acute) composes to U+00E9
      assert(ext.sql("SELECT nfc_normalize_native('e\u0301')").head.getString(0)
        === "\u00e9")
      assert(GraftExtensions.functions.map(_._1).toSet === Set(
        "parse_duration_native", "rolling_hash_native", "dot_native",
        "sorted_intersect_size", "nfc_normalize_native"))
      // the planner strategy rides in without any driver-side call
      assert(ext.sessionState.planner.strategies.contains(TopKPerKeyStrategy),
        "TopKPerKeyStrategy must be injected")
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }
}
