package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Session.resolve]] is pure in (env, system properties, cores), so
  * every conf rule is pinned here without building a second session. */
class SessionSpec extends AnyFunSuite {
  private val defaults = Map(
    "spark.master" -> "local[6]",
    "spark.sql.shuffle.partitions" -> "6",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  test("defaults: every core, as many shuffle partitions, UTC, UI off") {
    assert(Session.resolve(Map.empty, Map.empty, cores = 6) === defaults)
  }

  test("SPARK_GRAFT_CPUS sets the master and the shuffle partitions") {
    val conf = Session.resolve(Map("SPARK_GRAFT_CPUS" -> "3"), Map.empty, 6)
    assert(conf("spark.master") === "local[3]")
    assert(conf("spark.sql.shuffle.partitions") === "3")
  }

  test("a -Dspark.* property wins over the default and shows in the stamp") {
    val props = Map("spark.sql.shuffle.partitions" -> "64",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "java.version" -> "17")
    val conf = Session.resolve(Map.empty, props, 6)
    assert(conf === defaults ++ Map(
      "spark.sql.shuffle.partitions" -> "64",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1"))
  }

  test("a malformed SPARK_GRAFT_CPUS fails fast and names the variable") {
    for (bad <- Seq("abc", "0")) {
      val e = intercept[IllegalArgumentException] {
        Session.resolve(Map("SPARK_GRAFT_CPUS" -> bad), Map.empty, 6)
      }
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
    }
  }

  test("src/main builds sessions only through Session") {
    def files(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles).toSeq.flatten.flatMap(f =>
        if (f.isDirectory) files(f) else Seq(f))
    val sources = files(new java.io.File("src/main/scala"))
      .filter(_.getName.endsWith(".scala"))
    assert(sources.exists(_.getName == "Session.scala"))
    val builders = sources.filter(f => f.getName != "Session.scala" &&
      java.nio.file.Files.readString(f.toPath).contains("SparkSession.builder"))
    assert(builders.isEmpty, s"SparkSession.builder outside Session: $builders")
  }
}
