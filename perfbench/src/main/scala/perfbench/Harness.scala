package perfbench

import graft.analytics.{PlanFeaturizer, TraceAnalytics}
import graft.llm.{Curation, Dedup, Retrieval}
import graft.ml.RuntimePrediction
import graft.scheduling.{Experiment, Schedulers}
import graft.sources.{FixtureGen, SyntheticWorkload, WorkloadRunner}
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** One benchmark run: builds its own Spark session, sets the workload
  * up, measures whole units of it in a closed loop with one client
  * until `--seconds` have passed, checks the outputs, and writes the
  * raw run record (`record.json` in `--out`). `perfbench/run.py`
  * builds this, starts it, and turns the record into metrics.
  *
  * Every call into the library is a public function, timed from the
  * outside inside a [[Span]]. A traced run (`--trace 1`) runs the same
  * units with tracing on: its spans carry the Spark work of their job
  * groups and give the per-layer metrics.
  *
  *  - `study_chain`: the paper's pipeline on a fixed synthetic corpus:
  *    generate → write query files → 3 runner passes (NDJSON logs) →
  *    variance summary and exactly-3 per-query CV → plan featurization
  *    → embedding, random-forest fit, scoring, q-error → FIFO and
  *    greedy carbon-aware scheduling of the scored queries.
  *  - `llm_curate`: a seeded Zipf-vocabulary corpus through curation,
  *    MinHash-LSH dedup, a postings-index write and a batch of BM25
  *    probes of the index just written.
  */
object Harness {

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, out: String, fixture: String, runId: String)

  /** Synthetic queries per corpus: 3 passes give 21 latency samples,
    * enough for a median with ten samples beyond it. */
  val StudyQueries = 7
  /** The synthetic corpus is fixed, as the paper's SQL workload is: at
    * seven queries, per-query cost differs by up to a third between
    * generator seeds, so a seed-drawn corpus would measure the corpus,
    * not the code. `--seed` drives the carbon-intensity profile. */
  val StudyCorpusSeed = 42L
  val StudyPasses = 3
  /** Documents in the Zipf corpus: the largest size tried (1k-16k) at
    * which a unit takes no longer than at 1k; 8k adds ~15 s a unit.
    * Most of a unit's CPU time is fixed per-call cost either way. And
    * BM25 probe queries per unit, issued as one request: each probe call
    * costs several Spark jobs (about 4 s even for ten queries), so more
    * requests would not fit. */
  val LlmDocs = 4000L
  val LlmProbes = 50
  val ProbeTerms = 6
  val TopK = 10
  /** Rows of the calibration probe (same shape as `graft.Bench`'s:
    * one xxhash64 + bit_xor pass over a range). */
  val ProbeRows = 40000000L

  def main(argv: Array[String]): Unit = {
    val o = parse(argv)
    val rec = new Harness(o)
    val code = try rec.run() finally rec.stop()
    sys.exit(code)
  }

  private def parse(argv: Array[String]): Opts = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("out"), need("fixture"), need("run-id"))
  }
}

final class Harness(o: Harness.Opts) {
  import Harness._

  private val t0 = System.nanoTime()
  private val startJiffies = cpuJiffies()
  private val cpus = Runtime.getRuntime.availableProcessors()
  private val work = new File(o.out).getAbsoluteFile
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private val spark: SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .appName(s"perfbench-${o.workload}")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    // one shuffle partition per core, as every session builder of the
    // library does
    .config("spark.sql.shuffle.partitions", cpus.toString)
    // keep every file the run writes inside its own directory
    .config("spark.local.dir", new File(work, "spark-local").getPath)
    .config("spark.sql.warehouse.dir", new File(work, "warehouse").toURI.toString)
    .getOrCreate()
  spark.sparkContext.setLogLevel("WARN")
  /** JVM start to a usable session: wall seconds, process CPU seconds
    * and the stolen share (see [[measure]]). */
  private val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
  private val sessionCpuS = cpuS()
  private val sessionSteal = stealShare(startJiffies, cpuJiffies())

  private val tracer = new Tracer(spark.sparkContext, o.runId, t0)
  private val failures = mutable.ArrayBuffer[String]()
  private var attempted = 0L
  private val outputs = mutable.LinkedHashMap[String, Map[String, Any]]()
  private val checks = mutable.LinkedHashMap[String, Boolean]()
  private val layers = mutable.LinkedHashMap[String, Double]()

  def stop(): Unit = spark.stop()

  private def log(msg: String): Unit = Console.err.println(s"[perfbench] $msg")

  private def cpuS(): Double = osBean.getProcessCpuTime / 1e9

  /** Time one library call as a span; an exception is a failed
    * operation and yields None. */
  private def op[A](name: String)(body: => A): Option[A] = {
    attempted += 1
    try Some(tracer.span(name)(body))
    catch {
      case e: Throwable =>
        failures += s"$name: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
        log(s"FAILED $name: $e")
        None
    }
  }

  private def check(name: String)(ok: => Boolean): Unit = {
    attempted += 1
    val passed = scala.util.Try(ok).getOrElse(false)
    checks(name) = passed
    if (!passed) { failures += s"check $name"; log(s"CHECK FAILED $name") }
  }

  /** Row count and an order-insensitive content hash of `df`: each
    * row's columns are rendered as strings and hashed; the hashes are
    * folded with XOR and with a sum that cannot overflow. */
  private def digest(df: DataFrame): Map[String, Any] = {
    val h = xxhash64(concat_ws("\u0001", df.columns.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*))
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), expr("bit_xor(h)"), sum(pmod(col("h"), lit(2147483647L))))
      .head()
    Map("rows" -> r.getLong(0),
      "hash" -> f"${if (r.isNullAt(1)) 0L else r.getLong(1)}%016x-${if (r.isNullAt(2)) 0L else r.getLong(2)}%x")
  }

  /** One calibration probe pass, in seconds. */
  private def probeOnce(): Double = {
    val s = System.nanoTime()
    spark.range(0L, ProbeRows, 1L, cpus)
      .select(xxhash64(col("id")).as("h")).select(expr("bit_xor(h)")).head()
    (System.nanoTime() - s) / 1e9
  }

  /** Calibration probe reading: one warm-up pass, then the median of 3. */
  private def probe(): Double = {
    probeOnce()
    Seq.fill(3)(probeOnce()).sorted.apply(1)
  }

  /** Runs `body`; returns its result, wall seconds, process CPU
    * seconds, and the share of the machine's CPU time the hypervisor
    * stole meanwhile. On a shared VM the process's CPU time grows with
    * that share; `run.py` corrects for it. */
  private def measure[A](body: => A): (A, Double, Double, Double) = {
    val j0 = cpuJiffies()
    val c0 = cpuS()
    val w0 = System.nanoTime()
    val a = body
    val wall = (System.nanoTime() - w0) / 1e9
    (a, wall, cpuS() - c0, stealShare(j0, cpuJiffies()))
  }

  private def stealShare(from: (Long, Long), to: (Long, Long)): Double =
    if (to._2 > from._2) (to._1 - from._1).toDouble / (to._2 - from._2) else 0.0

  /** (steal, total) jiffies of all CPUs from /proc/stat: time the
    * hypervisor gave this machine's CPUs to someone else. */
  private def cpuJiffies(): (Long, Long) =
    scala.util.Try {
      val f = scala.io.Source.fromFile("/proc/stat").getLines().next()
        .split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    }.getOrElse((0L, 0L))

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def dirBytes(f: File): Long =
    if (f.isFile) f.length else Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)

  // ------------------------------------------------------------------ run

  def run(): Int = {
    Files.createDirectories(work.toPath)
    val wl: Workload = o.workload match {
      case "study_chain" => new StudyChain
      case "llm_curate" => new LlmCurate
      case other => log(s"unknown workload $other"); return 2
    }
    // set-up: the data step three times; run.py counts the median round
    val rounds = (1 to 3).map(i => measure(wl.setupRound(i)))
    val (_, prepareS, prepareCpuS, prepareSteal) = measure(wl.prepare())
    log(f"setup: session $sessionS%.2fs, rounds ${rounds.map(r => f"${r._2}%.2f").mkString(",")}s wall")

    // the calibration probe brackets the timed region
    val probeBefore = probe()
    if (o.trace) tracer.enableTracing()
    // timed: whole units, closed loop, until `seconds` have passed. No
    // warm-up unit: a user of either chain runs it once per JVM, so the
    // first unit pays class loading, JIT and codegen, as theirs does.
    val units = mutable.ArrayBuffer[Map[String, Any]]()
    val latencies = mutable.ArrayBuffer[Double]()
    val timedStart = System.nanoTime()
    var i = 0
    while (i == 0 || (System.nanoTime() - timedStart) / 1e9 < o.seconds) {
      val (work, wall, cpu, steal) = measure(tracer.span(s"unit.$i")(wl.unit(i, latencies)))
      units += Map("wall_s" -> wall, "cpu_s" -> cpu, "steal_share" -> steal, "work" -> work)
      i += 1
    }
    val probeAfter = probe()
    try wl.checks()
    catch {
      case e: Throwable =>
        failures += s"checks: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
        log(s"checks FAILED: $e")
    }
    if (o.trace) {
      wl.layerMetrics()
      // per unit, so a run that fits two units reads like one that fits one
      layers.mapValuesInPlace((k, v) =>
        if (perUnit(k)) v / units.size else v)
      val wall = units.map(u => u("wall_s").asInstanceOf[Double]).sum
      layers("trace.throughput") = units.map(u => u("work").asInstanceOf[Double]).sum / wall
      layers("trace.overhead_pct") = 100.0 * tracer.overheadSeconds / wall
    }

    val record = mutable.LinkedHashMap[String, Any](
      "run_id" -> o.runId, "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
      "seconds" -> o.seconds, "cpus" -> cpus, "fixture" -> o.fixture,
      "spark_version" -> spark.version,
      "conf" -> nonDefaultConf(),
      "probe_s" -> Seq(probeBefore, probeAfter),
      "setup" -> Map("session_s" -> sessionS, "session_cpu_s" -> sessionCpuS,
        "session_steal_share" -> sessionSteal,
        "rounds_s" -> rounds.map(_._2), "rounds_cpu_s" -> rounds.map(_._3),
        "rounds_steal_share" -> rounds.map(_._4),
        "prepare_s" -> prepareS, "prepare_cpu_s" -> prepareCpuS,
        "prepare_steal_share" -> prepareSteal),
      "work_unit" -> wl.workUnit,
      "units" -> units.toSeq,
      "latencies_s" -> latencies.toSeq,
      "peak_rss_mb" -> peakRssMb(),
      "attempted" -> attempted, "failed" -> failures.size.toLong,
      "failures" -> failures.toSeq,
      "checks" -> checks, "outputs" -> outputs,
      // a layer whose value could not be measured (its call failed) is left out
      "layers" -> layers.filter { case (_, v) => !v.isNaN && !v.isInfinite },
      "spans" -> tracer.toJson)
    Files.writeString(Paths.get(work.getPath, "record.json"),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(record) + "\n")
    0
  }

  /** Spark conf entries the session carries beyond its defaults, minus
    * per-process identifiers. */
  private def nonDefaultConf(): Map[String, String] = {
    val volatile = Set("spark.app.id", "spark.app.startTime", "spark.app.submitTime",
      "spark.driver.host", "spark.driver.port", "spark.executor.id",
      "spark.app.initial.jar.urls", "spark.sql.execution.id",
      "spark.driver.extraJavaOptions", "spark.executor.extraJavaOptions")
    spark.conf.getAll.filter { case (k, _) => !volatile(k) }
  }

  // ------------------------------------------------------------ workloads

  private trait Workload {
    def workUnit: String
    /** One repetition of the data step of set-up. */
    def setupRound(i: Int): Unit
    /** Set-up that follows the rounds once (inputs derived from the data). */
    def prepare(): Unit = ()
    /** One timed unit; returns the work it completed. */
    def unit(i: Int, latencies: mutable.ArrayBuffer[Double]): Double
    /** Output checks, after the timed region. */
    def checks(): Unit
    /** Per-layer metrics from the traced units' spans. */
    def layerMetrics(): Unit
  }

  /** Per-layer metrics that are totals over the timed units (times,
    * counts, bytes) rather than ratios. */
  private def perUnit(name: String): Boolean =
    !Set("sources.register_s", "sources.zipf_gen_s", "sources.runner.task_skew",
      "analytics.query_cv_pct", "ml.qerror_p50", "scheduling.carbon_saving_pct",
      "llm.certified_frac", "llm.index_bytes_ratio")(name)

  /** Spans of the traced units whose name starts with `prefix`. */
  private def tracedSpans(prefix: String): Seq[Span] =
    tracer.spans.filter(s => s.id >= tracer.tracedFrom && s.name.startsWith(prefix)).toSeq

  private def spanSeconds(prefix: String): Double = tracedSpans(prefix).map(_.seconds).sum

  private def spanCounts(prefix: String): Counts =
    tracedSpans(prefix).flatMap(_.counts).foldLeft(new Counts)(_ add _)

  /** Median duration of the set-up rounds' spans named `name`. */
  private def setupSeconds(name: String): Double =
    median(tracer.spans.filter(_.name == name).map(_.seconds).toSeq)

  /** The paper's chain on a fixed synthetic corpus over the fixture. */
  private final class StudyChain extends Workload {
    val workUnit = "queries"
    private val runnerResults = mutable.ArrayBuffer[WorkloadRunner.QueryResult]()
    private var passWall = 0.0
    private var runnerCounts = new Counts
    private var qerrorP50 = Double.NaN
    private var cvMedian = Double.NaN
    private var carbonSaving = Double.NaN
    private var planDir: Option[File] = None

    def setupRound(i: Int): Unit = tracer.span("sources.register") {
      graft.Tables.registerAll(spark, o.fixture)
    }

    /** One pass of the chain; returns the queries it ran, counting
      * every pass (the post-run chain is inside the unit's time). */
    def unit(i: Int, latencies: mutable.ArrayBuffer[Double]): Double = {
      val dir = new File(work, s"unit$i")
      val n = StudyQueries
      val qdir = new File(dir, "queries").getPath
      val corpus = op("sources.synth_gen") {
        val qs = SyntheticWorkload.generate(n, StudyCorpusSeed)
        SyntheticWorkload.writeQueryFiles(qdir, qs)
        qs
      }.getOrElse(return 0.0)
      val queriesRun = n.toDouble * StudyPasses
      val dumpPlans = tracer.traced
      if (dumpPlans) planDir = Some(new File(dir, "plans"))
      (1 to StudyPasses).foreach { a =>
        val s = System.nanoTime()
        op("sources.runner.pass") {
          WorkloadRunner.runWorkload(spark, qdir, dir.getPath, attempt = a,
            dumpPlans = dumpPlans)
        }.foreach { rs =>
          passWall += (System.nanoTime() - s) / 1e9
          runnerResults ++= rs
          rs.foreach { r =>
            attempted += 1
            if (r.runtimeS < 0) failures += s"query ${r.queryId} pass $a returned -1"
            else latencies += r.runtimeS
          }
        }
        tracer.groupCounts("graft-workload-").foreach(runnerCounts.add)
      }
      val logs = TraceAnalytics.withRunId(
        spark.read.json(new File(dir, "Workload_log_run_*.ndjson").getPath))
      op("analytics.variance") {
        TraceAnalytics.summarize(TraceAnalytics.perRunMean(logs, "run", "Runtime (s)")).collect()
        TraceAnalytics.perQueryCv(logs, "query_id", "Runtime (s)", StudyPasses).collect()
      }.foreach { cv =>
        cvMedian = median(cv.map(_.getAs[Double]("cv_pct")).toSeq)
        check(s"cv_exactly_${StudyPasses}_samples") {
          cv.length == n && cv.forall(_.getAs[Long]("n_runs") == StudyPasses)
        }
      }
      op("analytics.featurize") {
        corpus.map(q => PlanFeaturizer.featurize(spark, spark.sql(q.sql))._1.count()).sum
      }
      import spark.implicits._
      val texts = corpus.map(q => (q.queryId, q.sql)).toDF("query_id", "SQL")
      val data = logs.filter(col("run") === 1).join(texts, "query_id")
        .select(col("query_id"), col("SQL"), col("Runtime (s)").as("runtime_s"))
      val dim = 16
      val emb = op("ml.embed") {
        val e = RuntimePrediction.flattenEmbedding(
          RuntimePrediction.meanPoolEmbedding(data, "SQL", dim), dim).cache()
        e.count()
        e
      }.getOrElse(return queriesRun)
      val fitted = op("ml.rf_fit") {
        val feats = RuntimePrediction.buildFeatures(emb, dim).fit(emb).transform(emb)
        (RuntimePrediction.trainRf(feats, numFolds = 2, trees = Seq(10),
          depths = Seq(4)).fit(feats), feats)
      }.getOrElse(return queriesRun)
      val scored = op("ml.score") {
        val sc = fitted._1.transform(fitted._2)
          .select(col("prediction"), col("runtime_s")).cache()
        RuntimePrediction.mae(sc, "prediction", "runtime_s").head()
        qerrorP50 = RuntimePrediction.qerror(sc, "prediction", "runtime_s").head().getDouble(0)
        sc
      }.getOrElse(return queriesRun)
      emb.unpersist()
      check("qerror_p50_finite_ge_1")(!qerrorP50.isNaN && !qerrorP50.isInfinite && qerrorP50 >= 1.0)
      val values = scored.select(col("prediction"), col("runtime_s").as("label"))
      val profile = carbonProfile()
      val fifo = op("scheduling.fifo")(Experiment.run(values, profile, "fifo"))
      val greedy = op("scheduling.greedy")(Experiment.run(values, profile, "greedy"))
      scored.unpersist()
      for (f <- fifo; g <- greedy) {
        carbonSaving = 100.0 * (f.carbonTotalGco2 - g.carbonTotalGco2) / f.carbonTotalGco2
        check("greedy_carbon_le_fifo")(g.carbonTotalGco2 <= f.carbonTotalGco2)
      }
      queriesRun
    }

    /** A seeded day of 1-second carbon-intensity slots: a diurnal wave
      * plus seeded noise, in gCO2/kWh. */
    private def carbonProfile(): Schedulers.CarbonProfileMicro = {
      val rng = new java.util.Random(o.seed)
      val ci = Array.tabulate(24 * 3600) { i =>
        300.0 + 150.0 * math.sin(2 * math.Pi * i / 86400.0) + 20.0 * rng.nextDouble()
      }
      Schedulers.CarbonProfileMicro.fromCi(ci, 1.0)
    }

    def layerMetrics(): Unit = {
      val done = runnerResults.filter(_.runtimeS >= 0)
      layers("sources.register_s") = setupSeconds("sources.register")
      layers("sources.synth_gen_s") = spanSeconds("sources.synth_gen")
      layers("sources.runner.planning_s") = done.map(_.planningS).sum
      layers("sources.runner.execution_s") = done.map(_.executionS).sum
      layers("sources.runner.overhead_s") = passWall - done.map(_.runtimeS).sum
      val c = runnerCounts
      layers("sources.runner.jobs") = c.jobs.toDouble
      layers("sources.runner.stages") = c.stages.toDouble
      layers("sources.runner.tasks") = c.tasks.toDouble
      layers("sources.runner.shuffle_bytes") = c.shuffleBytes.toDouble
      layers("sources.runner.spill_bytes") = c.spillBytes.toDouble
      layers("sources.runner.task_skew") = c.taskSkew
      layers("sources.runner.executor_cpu_s") = c.executorCpuNs / 1e9
      layers("sources.runner.gc_s") = c.gcMs / 1e3
      val (bhj, smj) = joinCounts()
      layers("sources.runner.bhj_joins") = bhj
      layers("sources.runner.smj_joins") = smj
      layers("analytics.variance_s") = spanSeconds("analytics.variance")
      layers("analytics.featurize_s") = spanSeconds("analytics.featurize")
      layers("analytics.query_cv_pct") = cvMedian
      layers("ml.embed_s") = spanSeconds("ml.embed")
      layers("ml.rf_fit_s") = spanSeconds("ml.rf_fit")
      layers("ml.score_s") = spanSeconds("ml.score")
      layers("ml.qerror_p50") = qerrorP50
      layers("scheduling.fifo_s") = spanSeconds("scheduling.fifo")
      layers("scheduling.greedy_s") = spanSeconds("scheduling.greedy")
      layers("scheduling.carbon_saving_pct") = carbonSaving
    }

    /** Broadcast-hash and sort-merge joins in the final plans the
      * traced unit's last pass dumped (one file per query). */
    private def joinCounts(): (Double, Double) = {
      val plans = planDir.flatMap(d => Option(d.listFiles))
        .getOrElse(Array.empty[File])
      val texts = plans.map(f => Files.readString(f.toPath))
      def count(op: String) = texts.map(t => s"\\) $op\\b".r.findAllIn(t).size).sum.toDouble
      (count("BroadcastHashJoin"), count("SortMergeJoin"))
    }

    def checks(): Unit =
      check("all_queries_succeeded")(failures.forall(!_.startsWith("query ")))
  }

  /** Seeded Zipf corpus through curation, dedup, index write and probes. */
  private final class LlmCurate extends Workload {
    val workUnit = "docs"
    private val corpusPath = new File(work, "corpus").getPath
    private lazy val docs: DataFrame = spark.read.parquet(corpusPath)
    private lazy val probes: Seq[(Long, String)] = probeQueries()
    private val prefix = "perfbench_bm25"
    private var certified = Double.NaN
    private val unitDigests = mutable.ArrayBuffer[Map[String, Map[String, Any]]]()
    /** (query_id, rank, doc_id, bm25, certified) of each unit's probe. */
    private val probeRows = mutable.ArrayBuffer[Array[org.apache.spark.sql.Row]]()

    def setupRound(i: Int): Unit = {
      tracer.span("sources.zipf_gen") {
        FixtureGen.documentsZipf(spark, o.fixture, LlmDocs, seed = o.seed)
          .write.mode("overwrite").parquet(corpusPath)
        spark.read.parquet(corpusPath).count()
      }
    }

    override def prepare(): Unit = probes

    /** Six-term queries: seeded documents, seeded positions in them. */
    private def probeQueries(): Seq[(Long, String)] = {
      val rng = new java.util.Random(o.seed * 31 + 7)
      val ids = Seq.fill(LlmProbes)(math.floorMod(rng.nextLong(), LlmDocs))
      val texts = docs.filter(col("doc_id").isin(ids.distinct: _*))
        .select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1).split(" ")).toMap
      ids.zipWithIndex.map { case (id, i) =>
        val words = texts(id)
        val terms = Seq.fill(ProbeTerms)(words(rng.nextInt(words.length)))
        (LlmDocs * 10 + i, terms.mkString(" "))
      }
    }

    private def queryFrame(qs: Seq[(Long, String)]): DataFrame = {
      import spark.implicits._
      qs.toDF("query_id", "text")
    }

    /** After the timed units: every unit's stage digests against the
      * first unit's (which the goldens check), and the two-phase probe
      * against the index-free BM25 top-k on the same queries. */
    def checks(): Unit = {
      outputs("corpus") = digest(docs)
      unitDigests.headOption.foreach(first => outputs ++= first)
      unitDigests.zipWithIndex.drop(1).foreach { case (d, i) =>
        check(s"unit${i}_outputs_repeat")(d == unitDigests.head)
      }
      probeRows.headOption.foreach { first =>
        val oracle = Retrieval.bm25TopK(docs, queryFrame(probes), TopK)
          .select("query_id", "rank", "doc_id", "bm25").collect()
        check("two_phase_matches_index_free_bm25")(sameTopK(first, oracle))
      }
    }

    /** Per query, the two rankings must hold the same scores (to 1e-9
      * relative) and the same documents, except among documents tied
      * with the k-th score, where either ranking may cut. */
    private def sameTopK(a: Array[org.apache.spark.sql.Row],
        b: Array[org.apache.spark.sql.Row]): Boolean = {
      def byQuery(rs: Array[org.apache.spark.sql.Row]) =
        rs.groupBy(_.getLong(0)).map { case (q, xs) =>
          q -> xs.map(r => (r.getLong(2), r.getDouble(3))).sortBy(-_._2).toSeq
        }
      val (qa, qb) = (byQuery(a), byQuery(b))
      def close(x: Double, y: Double) = math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y))
      qa.keySet == qb.keySet && qa.forall { case (q, xs) =>
        val ys = qb(q)
        xs.size == ys.size && xs.zip(ys).forall { case (x, y) => close(x._2, y._2) } && {
          val kth = ys.last._2
          xs.filterNot(x => close(x._2, kth)).map(_._1).toSet ==
            ys.filterNot(y => close(y._2, kth)).map(_._1).toSet
        }
      }
    }

    /** Each stage's output drains into its digest (one aggregate over
      * the output rows), so the checks compare what was timed. */
    def unit(i: Int, latencies: mutable.ArrayBuffer[Double]): Double = {
      val d = mutable.LinkedHashMap[String, Map[String, Any]]()
      op("llm.curate")(d("curate") = digest(Curation.pipelineE2e(docs)))
      op("llm.dedup")(d("dedup") =
        digest(Dedup.minHashLshPairs(Dedup.fixtureCorpusScaled(docs), 0.8)))
      op("llm.index_build")(Retrieval.writePostingsIndex(docs, prefix))
      val s = System.nanoTime()
      op("llm.index_probe") {
        Retrieval.bm25TopKFromIndexTwoPhase(prefix, queryFrame(probes), TopK)
          .select("query_id", "rank", "doc_id", "bm25", "certified").collect()
      }.foreach { rows =>
        latencies += (System.nanoTime() - s) / 1e9
        probeRows += rows
        import spark.implicits._
        d("probe") = digest(rows.toSeq.map(r => (r.getLong(0), r.getLong(2)))
          .toDF("query_id", "doc_id"))
        certified = rows.groupBy(_.getLong(0)).count(_._2.forall(_.getBoolean(4)))
          .toDouble / probes.size
      }
      unitDigests += d.toMap
      LlmDocs.toDouble
    }

    def layerMetrics(): Unit = {
      layers("sources.zipf_gen_s") = setupSeconds("sources.zipf_gen")
      layers("llm.curate_s") = spanSeconds("llm.curate")
      layers("llm.dedup_s") = spanSeconds("llm.dedup")
      layers("llm.index_build_s") = spanSeconds("llm.index_build")
      layers("llm.index_probe_s") = spanSeconds("llm.index_probe")
      val c = spanCounts("llm.")
      layers("llm.shuffle_bytes") = c.shuffleBytes.toDouble
      layers("llm.tasks") = c.tasks.toDouble
      layers("llm.gc_s") = c.gcMs / 1e3
      layers("llm.certified_frac") = certified
      val warehouse = new File(work, "warehouse")
      val indexBytes = Option(warehouse.listFiles).getOrElse(Array.empty[File])
        .filter(_.getName.startsWith(prefix)).map(dirBytes).sum
      layers("llm.index_bytes_ratio") = indexBytes.toDouble / dirBytes(new File(corpusPath))
    }
  }
}
