package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.JsonScrub
import graft.functions.Exact._

/** Workload-trace processing + variance statistics (SURVEY.md §2.D
  * groups 1-2): the reference's jq/bash trace normalization
  * (`make_lakehouse_workload_logs.sh`) and pandas variance analytics
  * (`traces/tools/helpers.py:10-90,198-228`) re-expressed as Spark
  * DataFrame pipelines.
  *
  * The reusable transforms operate on real workload-log NDJSON; the
  * registered `queries` entries exercise the same math over the
  * deterministic `events` fixture so they are DuckDB-oracle-verifiable
  * (events.event_id % 5 plays the "run", % 97 the "query_id").
  */
object TraceAnalytics {
  type Q = (SparkSession, String) => DataFrame

  // ------------------------------------------------ reusable transforms

  /** Tag each NDJSON row with its run id parsed from the source file
    * name — mirror of helpers.py:113-163's glob + run-number extract. */
  def withRunId(df: DataFrame): DataFrame =
    df.withColumn("run",
      regexp_extract(input_file_name(), """_(\d+)\.ndjson$""", 1)
        .cast("int"))

  /** `"q96"` → 96 (helpers.py:139-148). */
  def normalizeQueryId(df: DataFrame, c: String): DataFrame =
    df.withColumn(c,
      regexp_extract(col(c), "^q(\\d+)$", 1).cast("int"))

  /** to_numeric(errors=coerce) + negative→null (helpers.py:150-159):
    * failed queries carry -1 and must not pollute statistics. */
  def cleanNumeric(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.foldLeft(df) { (d, c) =>
      d.withColumn(c,
        when(col(c).cast("double") < 0, lit(null)).otherwise(col(c).cast("double")))
    }

  /** Per-run mean runtime (helpers.py:40-43). */
  def perRunMean(df: DataFrame, runCol: String, valueCol: String): DataFrame =
    df.groupBy(col(runCol))
      .agg(davg(col(valueCol)).as("run_mean"))

  /** Across-run summary — Avg/Std(ddof=1)/P50/P99 of the run means
    * (helpers.py:46-49). Exact percentile (numpy-style linear
    * interpolation), not approx. */
  def summarize(runMeans: DataFrame): DataFrame =
    runMeans.agg(
      davg(col("run_mean")).as("avg_runtime"),
      dstddev(col("run_mean")).as("std_runtime"),
      expr("percentile(run_mean, 0.5)").as("p50_runtime"),
      expr("percentile(run_mean, 0.99)").as("p99_runtime"))

  /** Per-query repeatability: mean + Bessel std over runs, kept only
    * when exactly `nRuns` samples exist, CV% = 100·std/mean
    * (helpers.py:52-59). */
  def perQueryCv(samples: DataFrame, queryCol: String, valueCol: String,
      nRuns: Int): DataFrame =
    samples.groupBy(col(queryCol))
      .agg(
        davg(col(valueCol)).as("mean_runtime"),
        dstddev(col(valueCol)).as("std_runtime"),
        count(col(valueCol)).as("n_runs"))
      .filter(col("n_runs") === nRuns)
      .withColumn("cv_pct",
        lit(100.0) * col("std_runtime") / col("mean_runtime"))

  /** Baseline-vs-variant percentage delta on 1-row summaries
    * (helpers.py:198-228): 100·(comp−base)/base. */
  def configDelta(base: DataFrame, variant: DataFrame,
      metrics: Seq[String]): DataFrame = {
    val b = base.select(metrics.map(m => col(m).as(s"base_$m")): _*)
    val v = variant.select(metrics.map(m => col(m).as(s"comp_$m")): _*)
    val deltas = metrics.map(m =>
      (lit(100.0) * (col(s"comp_$m") - col(s"base_$m")) / col(s"base_$m"))
        .as(s"delta_$m"))
    b.crossJoin(v).select(deltas: _*)
  }

  /** Load a directory of Workload_log_*.ndjson into the normalized
    * frame the variance stats consume (helpers.py:97-169 shape). */
  def loadWorkloadLogs(spark: SparkSession, globPath: String): DataFrame = {
    val raw = spark.read.json(globPath)
    val tagged = withRunId(raw)
    val norm = normalizeQueryId(tagged, "query_id")
    cleanNumeric(norm, Seq("elapsed_s", "execution_s", "planning_s"))
      .withColumn("elapsed_minus_execution_s",
        col("elapsed_s") - col("execution_s"))
  }

  // --------------------------------------------------- fixture queries

  private def ev(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")

  /** Query-id normalization + coerce/negative-null cleaning
    * (helpers.py:139-159) exercised over synthetic ids built from the
    * events table: the [[normalizeQueryId]] and [[cleanNumeric]]
    * transforms [[loadWorkloadLogs]] runs. */
  private val traceNormalize: Q = (s, dir) => {
    val ids = ev(s, dir)
      .withColumn("qid_str", concat(lit("q"), col("event_id") % 100))
      .withColumn("query_id", col("qid_str"))
      .withColumn("cleaned", col("value") - 10.0)
    cleanNumeric(normalizeQueryId(ids, "query_id"), Seq("cleaned"))
      .select("event_id", "qid_str", "query_id", "cleaned")
      .orderBy("event_id")
  }

  /** helpers.py:40-49 over events: run = event_id%5, per-run exact mean
    * of value ([[perRunMean]]), then Avg/Std/P50/P99 across the run
    * means. */
  private val varianceSummary: Q = (s, dir) =>
    summarize(perRunMean(ev(s, dir).withColumn("run", col("event_id") % 5),
      "run", "value"))

  /** helpers.py:52-59 over events: query = event_id%97, runtime =
    * per-(query,run) exact sum of value (threshold filter makes some
    * cells empty so the exactly-5-runs gate really filters). */
  private val perQueryCvQ: Q = (s, dir) => {
    val samples = ev(s, dir)
      .filter(col("value") > 100.0)
      .groupBy((col("event_id") % 97).as("query_id"),
        (col("event_id") % 5).as("run"))
      .agg(dsum(col("value")).as("runtime"))
    perQueryCv(samples, "query_id", "runtime", 5)
      .orderBy("query_id")
  }

  /** helpers.py:198-228 over events: 'view' as baseline config, 'click'
    * as variant, delta% of mean value. */
  private val configDeltaQ: Q = (s, dir) => {
    val e = ev(s, dir)
    val base = e.filter(col("event_type") === "view")
      .agg(davg(col("value")).as("mean_value"))
    val variant = e.filter(col("event_type") === "click")
      .agg(davg(col("value")).as("mean_value"))
    configDelta(base, variant, Seq("mean_value"))
  }

  /** Duration parser driven through the native codegen expression
    * ([[graft.functions.ParseDuration]]) over strings constructed
    * from events — each row exercises one unit family, incl. H:MM:SS.
    * The registered UDF twin stays available for ad-hoc SQL. */
  private val parseDurationQ: Q = (s, dir) => {
    val e = ev(s, dir)
    val unit = col("event_id") % 7
    val durStr = when(unit === 0, concat(col("value").cast("string"), lit("ns")))
      .when(unit === 1, concat(col("value").cast("string"), lit("us")))
      .when(unit === 2, concat(col("value").cast("string"), lit("ms")))
      .when(unit === 3, concat(col("value").cast("string"), lit("s")))
      .when(unit === 4, concat(col("value").cast("string"), lit("m")))
      .when(unit === 5, concat(col("value").cast("string"), lit("h")))
      .otherwise(concat(col("event_id") % 3, lit(":"),
        lpad((col("event_id") % 60).cast("string"), 2, "0"), lit(":"),
        lpad((col("event_id") % 60).cast("string"), 2, "0")))
    e.withColumn("dur_str", durStr)
      .withColumn("seconds",
        graft.functions.ParseDuration.parseDuration(col("dur_str")))
      .select("event_id", "seconds")
      .orderBy("event_id")
  }

  /** Scrubber driven through the UDF over a query-info JSON document
    * assembled from events (scrub.jq semantics: drop self /
    * remoteUserAddress / ISO timestamps, redact splitInfo.path and
    * tableLocation; canonical sorted-key compact output). */
  private val scrubJsonQ: Q = (s, dir) => {
    JsonScrub.register(s)
    val doc = concat(
      lit("""{"self":"http://coord/ui/api/query/x","""),
      lit(""""session":{"remoteUserAddress":"10.0.0.1"},"""),
      lit(""""createTime":"2025-10-04T12:00:00Z","""),
      lit(""""k":"""), col("event_id"), lit(","),
      lit(""""queryStats":{"elapsedTime":""""), col("value").cast("string"),
      lit("""s"},"""),
      lit(""""outputStage":{"plan":{"splitInfo":{"path":"s3://b/f.parquet"},"tableLocation":"s3://b/t"}}}"""))
    ev(s, dir)
      .withColumn("scrubbed", call_udf("scrub_json", doc))
      .select("event_id", "scrubbed")
      .orderBy("event_id")
  }

  val queries: Map[String, Q] = Map(
    "trace_normalize"    -> traceNormalize,
    "variance_summary"   -> varianceSummary,
    "per_query_cv"       -> perQueryCvQ,
    "config_delta"       -> configDeltaQ,
    "parse_duration_udf" -> parseDurationQ,
    "scrub_json_udf"     -> scrubJsonQ,
  )

  val oracles: Map[String, String] = Map(
    "trace_normalize" ->
      """SELECT event_id,
        |  concat('q', event_id % 100) AS qid_str,
        |  CAST(regexp_extract(concat('q', event_id % 100), '^q(\d+)$', 1)
        |       AS INT) AS query_id,
        |  CASE WHEN value - 10.0 < 0 THEN NULL ELSE value - 10.0 END
        |    AS cleaned
        |FROM events ORDER BY event_id""".stripMargin,

    "variance_summary" ->
      s"""WITH runs AS (
         |  SELECT event_id % 5 AS run, ${sqlAvg("value")} AS run_mean
         |  FROM events GROUP BY event_id % 5)
         |SELECT ${sqlAvg("run_mean")} AS avg_runtime,
         |  ${sqlStddev("run_mean")} AS std_runtime,
         |  quantile_cont(run_mean, 0.5) AS p50_runtime,
         |  quantile_cont(run_mean, 0.99) AS p99_runtime
         |FROM runs""".stripMargin,

    "per_query_cv" ->
      s"""WITH samples AS (
         |  SELECT event_id % 97 AS query_id, event_id % 5 AS run,
         |    ${sqlSum("value")} AS runtime
         |  FROM events WHERE value > 100.0
         |  GROUP BY event_id % 97, event_id % 5)
         |SELECT query_id, mean_runtime, std_runtime, n_runs,
         |  100.0 * std_runtime / mean_runtime AS cv_pct
         |FROM (
         |  SELECT query_id, ${sqlAvg("runtime")} AS mean_runtime,
         |    ${sqlStddev("runtime")} AS std_runtime,
         |    COUNT(runtime) AS n_runs
         |  FROM samples GROUP BY query_id)
         |WHERE n_runs = 5
         |ORDER BY query_id""".stripMargin,

    "config_delta" ->
      s"""SELECT 100.0 * (comp.mean_value - base.mean_value)
         |         / base.mean_value AS delta_mean_value
         |FROM (SELECT ${sqlAvg("value")} AS mean_value FROM events
         |      WHERE event_type = 'view') base,
         |     (SELECT ${sqlAvg("value")} AS mean_value FROM events
         |      WHERE event_type = 'click') comp""".stripMargin,

    "parse_duration_udf" ->
      """SELECT event_id,
        |  CASE event_id % 7
        |    WHEN 0 THEN value * 1e-9
        |    WHEN 1 THEN value * 1e-6
        |    WHEN 2 THEN value * 1e-3
        |    WHEN 3 THEN value * 1.0
        |    WHEN 4 THEN value * 60.0
        |    WHEN 5 THEN value * 3600.0
        |    ELSE (event_id % 3) * 3600.0 + (event_id % 60) * 60.0
        |         + (event_id % 60)
        |  END AS seconds
        |FROM events ORDER BY event_id""".stripMargin,

    "scrub_json_udf" ->
      """SELECT event_id,
        |  concat('{"k":', event_id,
        |    ',"outputStage":{"plan":{"splitInfo":{"path":"[redacted]"},',
        |    '"tableLocation":"[redacted]"}},',
        |    '"queryStats":{"elapsedTime":"', CAST(value AS VARCHAR),
        |    's"},"session":{}}') AS scrubbed
        |FROM events ORDER BY event_id""".stripMargin,
  )
}
