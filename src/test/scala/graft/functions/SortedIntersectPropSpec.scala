package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SortedIntersectPropSpec extends SparkSpec {

  test("native merge count == size(array_intersect) on random sorted sets") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val rows = (1 to 300).map { i =>
      // overlapping value ranges so intersections are non-trivial
      val a = Seq.fill(rng.nextInt(60))(rng.nextInt(80).toLong)
        .distinct.sorted
      val b = Seq.fill(rng.nextInt(60))(rng.nextInt(80).toLong)
        .distinct.sorted
      (i, a, b)
    }
    val df = rows.toDF("i", "a", "b")
      .withColumn("nat",
        SortedIntersectSize.sortedIntersectSize(col("a"), col("b")))
      .withColumn("ref", size(array_intersect(col("a"), col("b"))).cast("long"))
    assert(df.filter(col("nat") =!= col("ref")).isEmpty)
    assert(df.filter(col("nat") > 0).count() > 50, "need real overlap")
  }

  test("NULL semantics: null array or null element yields NULL") {
    import spark.implicits._
    val df = Seq(
      (1, Some(Seq[java.lang.Long](1L, 2L)), None: Option[Seq[java.lang.Long]]),
      (2, Some(Seq[java.lang.Long](1L, null, 3L)),
        Some(Seq[java.lang.Long](1L, 2L))))
      .toDF("i", "a", "b")
      .withColumn("nat",
        SortedIntersectSize.sortedIntersectSize(col("a"), col("b")))
    assert(df.filter(col("nat").isNotNull).isEmpty)
  }

  test("SQL registration and codegen path") {
    graft.plans.GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT sorted_intersect_size(array(1L, 3L, 5L, 9L),
        |                             array(3L, 4L, 9L)) AS n""".stripMargin)
      .head().getLong(0)
    assert(r === 2L)
    // type check fires on wrong element types
    val e = intercept[Exception] {
      spark.sql("SELECT sorted_intersect_size(array('x'), array('y'))")
        .collect()
    }
    assert(e.getMessage.toLowerCase.contains("sorted_intersect_size") ||
      e.getMessage.contains("array<bigint>"))
  }

  test("checkOrder guard makes unsorted misuse fail loudly") {
    graft.plans.GraftExtensions.register(spark)
    val prev = SortedIntersectSize.checkOrder
    SortedIntersectSize.checkOrder = true
    try {
      // sorted inputs still compute under the guard
      val ok = spark.sql(
        "SELECT sorted_intersect_size(array(1L, 2L), array(2L, 3L)) AS n")
        .head().getLong(0)
      assert(ok === 1L)
      // unsorted input throws instead of returning a plausible count
      val e = intercept[Exception] {
        spark.sql(
          "SELECT sorted_intersect_size(array(5L, 1L), array(1L, 2L))")
          .collect()
      }
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: causes(t.getCause)
      assert(causes(e).exists(_.getMessage != null) &&
        causes(e).map(_.getMessage).filter(_ != null)
          .exists(_.contains("not ascending")), e.toString)
    } finally SortedIntersectSize.checkOrder = prev
  }
}
