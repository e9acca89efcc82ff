package graft

import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** The one builder of the local session for the library's mains
  * ([[Bench]], [[Verify]], [[Explain]], `sources.FixtureGen`) and of the
  * test suites.
  *
  * Defaults: master `local[n]` and `spark.sql.shuffle.partitions = n`,
  * session time zone UTC, UI off, where n is `SPARK_GRAFT_CPUS` or else
  * the JVM's available processors. Any other conf — and any override of
  * a default — arrives as a `-Dspark.k=v` JVM system property, which
  * Spark loads into its SparkConf itself; a key set that way is never
  * set here. E.g. `-Dspark.sql.autoBroadcastJoinThreshold=-1` (force
  * shuffle joins), `-Dspark.sql.adaptive.coalescePartitions.initialPartitionNum=256`,
  * `-Dspark.sql.adaptive.logLevel=WARN` (surface AQE replans).
  *
  * [[conf]] is the effective stamp — every `spark.*` key set by the
  * defaults or by `-D` — so an artifact can say which conf it ran under.
  */
object Session {

  /** The stamp as a pure function of the environment, the JVM system
    * properties and the core count. A `SPARK_GRAFT_CPUS` that is not a
    * positive integer fails fast. */
  def resolve(env: Map[String, String], props: Map[String, String],
      cores: Int): Map[String, String] = {
    val n = env.get("SPARK_GRAFT_CPUS").fold(cores) { v =>
      v.trim.toIntOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException(
          s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
    }
    Map(
      "spark.master" -> s"local[$n]",
      "spark.sql.shuffle.partitions" -> n.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
    ) ++ props.filter(_._1.startsWith("spark."))
  }

  /** This JVM's stamp. */
  lazy val conf: Map[String, String] = resolve(sys.env, sys.props.toMap,
    Runtime.getRuntime.availableProcessors())

  /** The local session (getOrCreate: one per JVM) under [[conf]]. */
  def start(logLevel: String = "WARN"): SparkSession = {
    val builder = SparkSession.builder()
    conf.foreach { case (k, v) =>
      if (!sys.props.contains(k)) builder.config(k, v)
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** [[conf]] as one JSON object with sorted keys. */
  def confJson: String = new com.fasterxml.jackson.databind.ObjectMapper()
    .writeValueAsString(new java.util.TreeMap[String, String](conf.asJava))
}
