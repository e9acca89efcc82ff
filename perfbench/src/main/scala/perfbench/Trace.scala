package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Spark work counted per job group: jobs, stages, tasks, shuffle
  * write bytes, spill bytes, executor CPU and GC time, and the worst
  * task-time skew (max over median task duration) of any stage. */
final class Counts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var executorCpuNs = 0L
  var gcMs = 0L
  var taskSkew = 0.0

  def add(o: Counts): Counts = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
    executorCpuNs += o.executorCpuNs; gcMs += o.gcMs
    taskSkew = math.max(taskSkew, o.taskSkew)
    this
  }

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "shuffle_bytes" -> shuffleBytes, "spill_bytes" -> spillBytes,
    "executor_cpu_s" -> executorCpuNs / 1e9, "gc_s" -> gcMs / 1e3,
    "task_skew" -> taskSkew)
}

/** Attributes task metrics to the job group that was set when their
  * job started. The workload runner tags each query with
  * `graft-workload-<qid>`; the benchmark tags its own spans. */
final class GroupListener extends SparkListener {
  private val groupOfStage = mutable.Map[Int, String]()
  private val taskTimes = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  private val counts = mutable.Map[String, Counts]()
  private var busyNs = 0L

  /** Handle one event, timing the handler. */
  private def handle(body: => Unit): Unit = synchronized {
    val s = System.nanoTime()
    body
    busyNs += System.nanoTime() - s
  }

  /** Seconds spent handling events. */
  def busySeconds: Double = synchronized(busyNs / 1e9)

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")

  private def of(g: String): Counts = counts.getOrElseUpdate(g, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = handle {
    val g = groupOf(e.properties)
    e.stageIds.foreach(s => groupOfStage(s) = g)
    of(g).jobs += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = handle {
    groupOfStage.getOrElseUpdate(e.stageInfo.stageId, groupOf(e.properties))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = handle {
    val c = of(groupOfStage.getOrElse(e.stageId, ""))
    c.tasks += 1
    taskTimes.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.executorCpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = handle {
    val id = e.stageInfo.stageId
    val c = of(groupOfStage.getOrElse(id, ""))
    c.stages += 1
    taskTimes.remove(id).filter(_.nonEmpty).foreach { ts =>
      val sorted = ts.sorted
      val median = sorted(sorted.size / 2).toDouble
      if (median > 0) c.taskSkew = math.max(c.taskSkew, sorted.last / median)
    }
  }

  /** Remove and sum the counts of every group that starts with `prefix`. */
  def take(prefix: String): Counts = synchronized {
    val keys = counts.keys.filter(_.startsWith(prefix)).toSeq
    keys.foldLeft(new Counts)((acc, k) => acc.add(counts.remove(k).get))
  }
}

/** One timed call into the library: name, start and end on the
  * benchmark's monotonic clock (seconds since the run started), the
  * enclosing span, and — in a traced run — the Spark work it caused. */
final case class Span(id: Int, name: String, parent: Int, start: Double,
    end: Double, counts: Option[Counts]) {
  def seconds: Double = end - start
}

/** Spans recorded around every public library call the benchmark
  * makes. Timing is always on, since the spans are the measurement;
  * once tracing is enabled it also installs [[GroupListener]], tags each
  * span with its own job group and waits for the listener bus before
  * closing a span, so counts land on the span that caused them. Spans
  * stay in memory and are written out with the run record. */
final class Tracer(sc: SparkContext, runId: String, t0: Long) {
  val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var nextId = 0
  private var listener: Option[GroupListener] = None
  private var drainNs = 0L
  /** Id of the first span recorded with tracing on. */
  var tracedFrom: Int = Int.MaxValue

  def traced: Boolean = listener.isDefined

  def enableTracing(): Unit = if (!traced) {
    val l = new GroupListener
    sc.addSparkListener(l)
    listener = Some(l)
    tracedFrom = nextId
  }

  def now(): Double = (System.nanoTime() - t0) / 1e9

  /** Run `body` as span `name`. Work that runs under another job group
    * (the workload runner sets one per query) is collected afterwards
    * with [[groupCounts]]. */
  def span[A](name: String)(body: => A): A = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val group = s"perfbench-span-$id"
    if (traced) sc.setJobGroup(group, name)
    stack = id :: stack
    val start = now()
    try body
    finally {
      stack = stack.tail
      val counts = listener.map(take(_, group))
      spans += Span(id, name, parent, start, now(), counts)
      if (traced) stack.headOption match {
        case Some(p) => sc.setJobGroup(s"perfbench-span-$p", name)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Counts of every job group starting with `prefix` since the last
    * call (traced runs only). */
  def groupCounts(prefix: String): Option[Counts] = listener.map(take(_, prefix))

  /** Wait for the listener bus, then take the counts of `prefix`. */
  private def take(l: GroupListener, prefix: String): Counts = {
    val s = System.nanoTime()
    org.apache.spark.perfbench.ListenerBusAccess.drain(sc)
    val c = l.take(prefix)
    drainNs += System.nanoTime() - s
    c
  }

  /** Seconds tracing itself took: the listener's event handling (on
    * the listener bus thread) plus the waits for the bus when spans
    * close (on the benchmark's thread). The two may overlap, so this
    * is an upper bound on what tracing added. */
  def overheadSeconds: Double =
    drainNs / 1e9 + listener.map(_.busySeconds).getOrElse(0.0)

  /** Seconds of `span`'s interval not covered by its direct children. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  def toJson: Seq[Map[String, Any]] = spans.sortBy(_.id).toSeq.map { s =>
    Map("run_id" -> runId, "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_s" -> s.start, "end_s" -> s.end, "self_s" -> selfSeconds(s)) ++
      s.counts.map(c => Map("counts" -> c.toMap)).getOrElse(Map.empty)
  }
}
