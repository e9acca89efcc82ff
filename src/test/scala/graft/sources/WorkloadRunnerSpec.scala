package graft.sources

import graft.SparkSpec
import java.nio.file.Files
import scala.concurrent.duration._

class WorkloadRunnerSpec extends SparkSpec {

  test("runWorkload: name-sorted execution, timing, NDJSON log, plan dump, -1 sentinel") {
    graft.Tables.registerAll(spark, sfSmoke)
    val qdir = Files.createTempDirectory("graft_wl_q").toFile
    val odir = Files.createTempDirectory("graft_wl_o").toFile
    Files.writeString(new java.io.File(qdir, "q1.sql").toPath,
      "SELECT count(*) AS n FROM lineitem")
    Files.writeString(new java.io.File(qdir, "q2.sql").toPath,
      "SELECT broken syntax here")
    Files.writeString(new java.io.File(qdir, "q3.sql").toPath,
      "SELECT o_orderstatus, sum(o_totalprice) FROM orders GROUP BY 1")

    val results = WorkloadRunner.runWorkload(spark, qdir.getAbsolutePath,
      odir.getAbsolutePath, attempt = 2, dumpPlans = true)
    assert(results.map(_.queryId) === Seq("q1", "q2", "q3"))
    assert(results(0).runtimeS > 0)
    assert(results(1).runtimeS === -1.0) // failure sentinel
    assert(results(1).startTime === "-1")
    assert(results(2).runtimeS > 0)

    // NDJSON log loads through the trace-analytics reader shape,
    // including the reference's planning/execution split fields
    val log = spark.read.json(s"$odir/Workload_log_run_2.ndjson")
    assert(log.count() === 3)
    assert(log.columns.toSet ===
      Set("query_id", "start_time", "end_time", "Runtime (s)",
        "elapsed_s", "execution_s", "planning_s", "resource_waiting_s"))
    val q1row = log.filter(log("query_id") === "q1").collect()(0)
    val (el, ex, pl) = (q1row.getAs[Double]("elapsed_s"),
      q1row.getAs[Double]("execution_s"), q1row.getAs[Double]("planning_s"))
    assert(pl > 0 && ex > 0 && el >= pl + ex - 1e-6,
      s"split must account elapsed: $el >= $pl + $ex")
    // failed query carries the -1 sentinel in every numeric field
    val q2row = log.filter(log("query_id") === "q2").collect()(0)
    assert(q2row.getAs[Double]("execution_s") === -1.0)
    assert(q2row.getAs[Double]("planning_s") === -1.0)

    // the self-produced log round-trips through the trace-analytics
    // loader: elapsed_minus_execution_s ≈ planning overhead
    val loaded = graft.analytics.TraceAnalytics.loadWorkloadLogs(spark,
      s"$odir/Workload_log_run_*.ndjson")
    assert(loaded.columns.contains("elapsed_minus_execution_s"))
    val over = loaded.filter(loaded("query_id") === 1).collect()(0)
      .getAs[Double]("elapsed_minus_execution_s")
    assert(over >= 0, s"planning overhead must be non-negative, got $over")

    // plan dump exists for succeeding queries and parses as JSON
    val p1 = Files.readString(new java.io.File(odir, "plans/q1.json").toPath)
    assert(p1.contains("\"metrics\":{}"))
    assert(p1.contains("HashAggregate") || p1.contains("count"))
    assert(!new java.io.File(odir, "plans/q2.json").exists())
  }

  test("uploadResults streams artifacts to a FileSystem URL (file:// scheme)") {
    val src = Files.createTempDirectory("graft_upload_src")
    val dst = Files.createTempDirectory("graft_upload_dst")
    Files.writeString(src.resolve("Workload_log_run_1.ndjson"), "{\"a\":1}\n")
    Files.writeString(src.resolve("Workload_log_run_2.ndjson"), "{\"a\":2}\n")
    val urls = WorkloadRunner.uploadResults(spark, src.toString,
      s"file://$dst/logs/")
    assert(urls === Seq(s"file://$dst/logs/Workload_log_run_1.ndjson",
      s"file://$dst/logs/Workload_log_run_2.ndjson"))
    assert(Files.readString(dst.resolve("logs/Workload_log_run_1.ndjson"))
      === "{\"a\":1}\n")
    assert(Files.readString(dst.resolve("logs/Workload_log_run_2.ndjson"))
      === "{\"a\":2}\n")
    assert(WorkloadRunner.joinUrl("s3://bucket/", "/runs/", "x.ndjson")
      === "s3://bucket/runs/x.ndjson")
  }

  test("NoopDrain executes the plan without driver materialization") {
    graft.Tables.registerAll(spark, sfSmoke)
    // a result wide and tall enough that collect cost would be visible
    val r = WorkloadRunner.executeQuery(spark, "qwide",
      "SELECT l.*, o.* FROM lineitem l JOIN orders o ON l_orderkey = o_orderkey",
      drain = WorkloadRunner.NoopDrain)
    assert(r.runtimeS > 0 && r.executionS > 0, s"noop drain must time: $r")
    // a broken query still gets the sentinel under the noop drain
    val bad = WorkloadRunner.executeQuery(spark, "qbad",
      "SELECT nope FROM lineitem", drain = WorkloadRunner.NoopDrain)
    assert(bad.runtimeS === -1.0)
  }

  test("executeQuery timeout returns the -1 sentinel") {
    graft.Tables.registerAll(spark, sfSmoke)
    // a cartesian heavy enough to outlive 1ms
    val r = WorkloadRunner.executeQuery(spark, "qslow",
      "SELECT count(*) FROM lineitem a, lineitem b, lineitem c",
      timeout = 1.millisecond)
    assert(r.runtimeS === -1.0)
  }

  test("jsonQuote escapes quote, backslash and every control character") {
    assert(WorkloadRunner.jsonQuote("a\"b\\c\nd\re\tf\u0001g") ===
      "\"a\\\"b\\\\c\\nd\\re\\tf\\u0001g\"")
    assert(WorkloadRunner.jsonQuote("") === "\"\"")
  }

  test("a query id with a quote and a backslash round-trips through the plan doc") {
    val dir = Files.createTempDirectory("graft_wl_id").toFile
    val id = "q\"1\\x"
    val r = WorkloadRunner.executeQuery(spark, id, "SELECT 1 AS one",
      planDir = Some(dir.getAbsolutePath))
    assert(r.runtimeS > 0)
    val doc = Files.readString(new java.io.File(dir, s"$id.json").toPath)
    val tree = new com.fasterxml.jackson.databind.ObjectMapper().readTree(doc)
    assert(tree.get("query_id").asText() === id)
    assert(tree.get("plan").asText().nonEmpty)
  }
}
