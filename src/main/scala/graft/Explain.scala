package graft

/** Plan-inspection harness: print the formatted physical plan of named
  * queries (all of them with no args) — the iterate-on-the-plan loop
  * that keeps scans pruned, filters pushed, and small sides broadcast.
  *
  * Usage: runMain graft.Explain [sfDir] [queryName ...]
  *
  * Looks up names in [[SparkEntry.queries]] first, then
  * [[BenchExtra.queries]] (bench-only keys — note some of those write
  * standing-index tables as a side effect of plan construction).
  *
  * Session conf comes from [[Session]] (`SPARK_GRAFT_CPUS`, `-Dspark.*`
  * JVM properties) and prints first as a `[explain] conf` header. For
  * before/after plan capture:
  *  - SPARK_GRAFT_EXPLAIN_OUT=dir — write each plan to dir/name.txt
  *    instead of stdout;
  *  - -Dspark.sql.autoBroadcastJoinThreshold=-1 disables broadcast
  *    joins: reproduces at gate scale the SortMergeJoin shape a dim
  *    table crosses into at sf100 under the 10 MB default (the r9
  *    star-probe cliff).
  */
object Explain {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val all = SparkEntry.queries ++ BenchExtra.queries
    val names = if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = Session.start(logLevel = "ERROR")
    println(s"[explain] conf ${Session.confJson}")
    val outDir = sys.env.get("SPARK_GRAFT_EXPLAIN_OUT")
    outDir.foreach(d =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d)))
    names.foreach { name =>
      val body =
        try all(name)(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        catch { case e: Throwable => s"explain failed: ${e.getMessage}" }
      outDir match {
        case Some(d) =>
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(d, s"$name.txt"), body + "\n")
          println(s"[explain] wrote $d/$name.txt")
        case None =>
          println(s"\n========== $name ==========")
          println(body)
      }
    }
    spark.stop()
  }
}
