package graft

import org.apache.spark.sql.functions._

/** [[Collect.collectBounded]], and the source check that keeps every
  * other driver-side collect in `src/main` from growing. */
class CollectSpec extends SparkSpec {

  test("collectBounded returns the rows inside the bound and names the frame past it") {
    val df = spark.range(10).toDF("id")
    assert(Collect.collectBounded(df, 10, "ten ids").map(_.getLong(0)).sorted.toSeq ===
      (0L until 10L))
    assert(Collect.collectBounded(df.filter(col("id") < 0), 0, "no ids").isEmpty)
    val e = intercept[IllegalArgumentException](
      Collect.collectBounded(df, 9, "the id frame (filter it first)"))
    assert(e.getMessage.contains(
      "the id frame (filter it first): more than 9 rows would be collected"), e.getMessage)
  }

  test("collectAtMost is None past the bound; collectChecked asserts a planned bound") {
    val df = spark.range(10).toDF("id")
    assert(Collect.collectAtMost(df, 10).map(_.length) === Some(10))
    assert(Collect.collectAtMost(df, 9).isEmpty)
    assert(Collect.collectChecked(df, 10, "ten ids").length === 10)
    val e = intercept[IllegalArgumentException](
      Collect.collectChecked(df, 9, "the id frame (filter it first)"))
    assert(e.getMessage.contains(
      "the id frame (filter it first): more than 9 rows would be collected"), e.getMessage)
  }

  /** Bare collects per file of `src/main`: `.collect()` calls, and
    * lines that take `.head()` of a `collect_set`/`collect_list`
    * aggregate (a whole column gathered to the driver in one row). A
    * count may only go down. A new driver-side collect goes through
    * [[Collect.collectBounded]] with a stated bound. */
  private val bareCollects: Map[String, Int] = Map(
    "Collect.scala" -> 2,
    "WorkloadRunner.scala" -> 1)

  test("the source check counts .collect() and head() of a collect_set/collect_list") {
    assert(CollectSpec.bareCollectsIn(Seq(
      "df.collect()",
      "  .agg(collect_set(col(\"term\"))).head().getSeq[String](0)",
      "df.agg(collect_list(col(\"x\"))).head()",
      "df.agg(max(col(\"x\"))).head()",
      "df.head()").mkString("\n")) === 3)
  }

  test("src/main adds no bare .collect() outside the allowlist") {
    val counts = ReachSpec.scalaFiles(new java.io.File("src/main/scala"))
      .map(f => f.getName ->
        CollectSpec.bareCollectsIn(java.nio.file.Files.readString(f.toPath)))
      .filter(_._2 > 0).groupMapReduce(_._1)(_._2)(_ + _)
    val over = counts.filter { case (f, n) => n > bareCollects.getOrElse(f, 0) }
    assert(over.isEmpty, s"new bare collects (use Collect.collectBounded): $over")
    val slack = bareCollects.filter { case (f, n) => counts.getOrElse(f, 0) < n }
    assert(slack.isEmpty, s"collects were removed; lower these allowances to match: " +
      slack.map { case (f, n) => s"$f $n -> ${counts.getOrElse(f, 0)}" }.mkString(", "))
  }
}

object CollectSpec {
  private val aggregateHead = raw"collect_(set|list)\(.*\.head\(\)".r

  /** Bare collects in one source text: `.collect()` calls plus lines
    * that take `.head()` of a collect_set/collect_list aggregate. */
  def bareCollectsIn(src: String): Int =
    java.util.regex.Pattern.quote(".collect()").r.findAllIn(src).length +
      src.linesIterator.count(aggregateHead.findFirstIn(_).isDefined)
}
