package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session —
  * getOrCreate returns the same instance across suites). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sfSmoke = "/root/testdata/sf0.001"
  val sfCorrect = "/root/testdata/sf0.01"
}

object SparkSpec {
  /** The suites' session is [[Session]]'s: local[SPARK_GRAFT_CPUS],
    * or every core when unset, with as many shuffle partitions; extra
    * conf arrives as `-Dspark.*` JVM properties. Every suite's
    * assertions are partitioning-invariant by repo discipline
    * (decimal-exact sums, rank-unique orderings), so the core count is
    * a pure speed knob. */
  lazy val session: SparkSession = Session.start()
}
