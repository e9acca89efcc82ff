package graft.sources

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, Future, TimeoutException}

/** Sequential workload runner (behavior of
  * `docker/trino-client/src/run_workload.py` + the 5-minute
  * `query_max_run_time` session property, `import_tables.py:36`):
  * name-sorted q*.sql files execute one at a time against the session
  * catalog, each fully drained and wall-clock timed; failures (and
  * timeouts) record the reference's -1 sentinel; per-query plan JSON
  * replaces the Trino UI scrape with `queryExecution.explainString` +
  * Spark's own plan JSON — no HTTP, the plan is in-process (SURVEY.md
  * §3.1); results land as one NDJSON object per query.
  */
object WorkloadRunner {

  case class QueryResult(queryId: String, startTime: String, endTime: String,
      runtimeS: Double, planningS: Double = -1.0, executionS: Double = -1.0)

  /** How a query's result set is materialized. [[CollectDrain]]
    * mirrors the reference's cursor drain (run_workload.py:39-40 —
    * every row reaches the client); [[NoopDrain]] executes the full
    * plan but discards rows executor-side through Spark's `noop`
    * batch write, so timing a very wide result measures the engine,
    * not driver materialization. */
  sealed trait Drain
  case object CollectDrain extends Drain
  case object NoopDrain extends Drain

  private val TsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")
    .withZone(ZoneOffset.UTC)

  /** Run one SQL text: drain all rows, wall-clock it, dump plan JSON
    * next to `planDir` if given. Timeout cancels the job group and
    * returns the -1 sentinel (the reference's failed-query shape). */
  def executeQuery(spark: SparkSession, queryId: String, sql: String,
      timeout: Duration = Duration.Inf,
      planDir: Option[String] = None,
      drain: Drain = CollectDrain): QueryResult = {
    import scala.concurrent.ExecutionContext.Implicits.global
    val group = s"graft-workload-$queryId"
    spark.sparkContext.setJobGroup(group, queryId, interruptOnCancel = true)
    val startPerf = System.nanoTime()
    val startTime = TsFmt.format(Instant.now())
    // Survives the catch blocks: planning may complete (and be worth
    // reporting) even when execution later times out or fails.
    var planningS = -1.0
    try {
      val df = spark.sql(sql)
      // Planning/execution split (the reference logs analysisTime /
      // executionTime per query, make_lakehouse_workload_logs.sh:91-104):
      // forcing executedPlan runs analysis + optimization + physical
      // planning on the driver; what remains is execution. Caveat:
      // with AQE on, query stages re-optimize DURING execution, so
      // this split under-reports planning and over-reports execution
      // by the AQE re-plan time — same skew direction as the
      // reference's Trino split, where only the initial analysis is
      // "planning" and adaptive work lands in execution.
      df.queryExecution.executedPlan
      planningS = (System.nanoTime() - startPerf) / 1e9
      val execStart = System.nanoTime()
      val work = Future {
        drain match {
          case CollectDrain => df.collect() // the reference's cursor loop
          case NoopDrain    => df.write.mode("overwrite").format("noop").save()
        }
        ()
      }
      Await.result(work, timeout)
      val executionS = (System.nanoTime() - execStart) / 1e9
      val duration = (System.nanoTime() - startPerf) / 1e9
      val endTime = TsFmt.format(Instant.now())
      planDir.foreach { dir =>
        Files.createDirectories(Paths.get(dir))
        // the "metrics"-stripped query-info analog: formatted + JSON plan
        val doc = s"""{"query_id":${jsonQuote(queryId)},"plan":${
          jsonQuote(df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))},"metrics":{}}"""
        Files.writeString(Paths.get(dir, s"$queryId.json"), doc)
      }
      QueryResult(queryId, startTime, endTime, duration, planningS, executionS)
    } catch {
      case _: TimeoutException =>
        spark.sparkContext.cancelJobGroup(group)
        QueryResult(queryId, "-1", "-1", -1.0, planningS)
      case _: Throwable =>
        QueryResult(queryId, "-1", "-1", -1.0, planningS)
    } finally spark.sparkContext.clearJobGroup()
  }

  /** Run every q*.sql in `queryDir` (name-sorted), write the per-run
    * NDJSON workload log (`Workload_log_run_<attempt>.ndjson` shape:
    * query_id / start_time / end_time / "Runtime (s)"). */
  def runWorkload(spark: SparkSession, queryDir: String, outDir: String,
      attempt: Int = 1, timeout: Duration = Duration.Inf,
      dumpPlans: Boolean = false,
      drain: Drain = CollectDrain): Seq[QueryResult] = {
    val results = Ingest.loadQueryFiles(queryDir).map { case (name, sql) =>
      executeQuery(spark, name, sql, timeout,
        if (dumpPlans) Some(s"$outDir/plans") else None, drain)
    }
    Files.createDirectories(Paths.get(outDir))
    // Field set mirrors the reference's derived workload logs
    // (make_lakehouse_workload_logs.sh:96-102): elapsed_s twins
    // "Runtime (s)", planning/execution are the split, and
    // resource_waiting_s is 0 in local mode (no queueing tier) with the
    // -1 null sentinel on failures.
    val log = results.map { r =>
      val waiting = if (r.runtimeS < 0) -1.0 else 0.0
      s"""{"query_id":${jsonQuote(r.queryId)},"start_time":${jsonQuote(r.startTime)},""" +
        s""""end_time":${jsonQuote(r.endTime)},"Runtime (s)":${r.runtimeS},""" +
        s""""elapsed_s":${r.runtimeS},"execution_s":${r.executionS},""" +
        s""""planning_s":${r.planningS},"resource_waiting_s":$waiting}"""
    }.mkString("", "\n", "\n")
    Files.writeString(
      Paths.get(outDir, s"Workload_log_run_$attempt.ndjson"), log)
    results
  }

  /** `join_url` (run_workload.py:14-17): prefix + slash-trimmed parts. */
  def joinUrl(prefix: String, parts: String*): String = {
    val tail = parts.filter(_.nonEmpty)
      .map(_.replaceAll("^[/\\\\]+|[/\\\\]+$", "")).mkString("/")
    if (tail.isEmpty) prefix.replaceAll("/+$", "")
    else s"${prefix.replaceAll("/+$", "")}/$tail"
  }

  /** Object-storage upload (run_workload.py:19-24's fsspec copy): a
    * scheme-agnostic streamed byte copy through the Hadoop FileSystem
    * API — `file://`, `hdfs://`, and (with the provider jars on a real
    * cluster) `s3a://` / `abfss://` / `gs://` all resolve through the
    * same call, exactly like fsspec's registry. */
  def uploadFile(spark: SparkSession, localPath: String,
      remoteUrl: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dest = new org.apache.hadoop.fs.Path(remoteUrl)
    val fs = dest.getFileSystem(conf)
    val in = Files.newInputStream(Paths.get(localPath))
    try {
      val out = fs.create(dest, true)
      try {
        val buf = new Array[Byte](1024 * 1024)
        Iterator.continually(in.read(buf)).takeWhile(_ > 0)
          .foreach(n => out.write(buf, 0, n))
      } finally out.close()
    } finally in.close()
  }

  /** Upload every workload-log artifact under `localDir` to
    * `remotePrefix` (the post-run loop of run_workload.py). */
  def uploadResults(spark: SparkSession, localDir: String,
      remotePrefix: String): Seq[String] = {
    // listFiles() is null for a missing/non-directory path
    val files = Option(Paths.get(localDir).toFile.listFiles())
      .getOrElse(throw new IllegalArgumentException(
        s"not a readable directory: $localDir"))
      .filter(_.isFile).map(_.getName).sorted.toSeq
    files.map { name =>
      val url = joinUrl(remotePrefix, name)
      uploadFile(spark, s"$localDir/$name", url)
      url
    }
  }

  /** `s` as a JSON string literal: quote, backslash and every control
    * character (< 0x20) escaped — a tab or CR in a query text or in the
    * oracle SQL would otherwise make the reader's JSON parse fail. */
  private[graft] def jsonQuote(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
