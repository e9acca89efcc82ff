package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests: the native dot product is bit-identical to the
  * higher-order-function form it replaces, honors the HOF's NULL
  * semantics (length mismatch, null element), and the precomputed
  * hyperplane weights reproduce the old per-row md5 expression.
  * Fixed seeds — the offline cache has no scalatest-scalacheck
  * bridge. */
class DotProductPropSpec extends SparkSpec {

  private def samples[A](gen: Gen[A], n: Int, seed: Long = 7L): Seq[A] =
    (0 until n).map(i => gen.pureApply(Gen.Parameters.default, Seed(seed + i)))

  private def hofDot(x: org.apache.spark.sql.Column,
      y: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    aggregate(zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  test("native dot == HOF dot bit-for-bit on random float vectors") {
    import spark.implicits._
    val vecGen = Gen.listOfN(64,
      Gen.chooseNum(-1e3f, 1e3f)).map(_.toArray)
    val pairs = samples(Gen.zip(vecGen, vecGen), 200)
    val rows = pairs.toDF("a", "b")
      .withColumn("hof", hofDot(col("a"), col("b")))
      .withColumn("nat", DotProduct.dotNative(col("a"), col("b")))
      .collect()
    rows.foreach { r =>
      // bit-level equality, not tolerance — the accumulation order and
      // per-element casts must match exactly
      assert(java.lang.Double.doubleToLongBits(r.getDouble(2)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(3)))
    }
  }

  test("NULL semantics match the HOF form: mismatch and null element") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0f, 2.0f), Array(3.0f)),          // length mismatch
      (Array(1.0f, 2.0f), Array(3.0f, 4.0f))     // clean
    ).toDF("a", "b")
      .withColumn("hof", hofDot(col("a"), col("b")))
      .withColumn("nat", DotProduct.dotNative(col("a"), col("b")))
    val rows = df.collect()
    assert(rows(0).isNullAt(2) && rows(0).isNullAt(3))
    assert(rows(1).getDouble(2) === rows(1).getDouble(3))
    // null input → null out (both forms)
    val withNull = Seq((Some(Array(1.0f)), Option.empty[Array[Float]]))
      .toDF("a", "b")
      .withColumn("nat", DotProduct.dotNative(col("a"), col("b")))
    assert(withNull.collect()(0).isNullAt(2))
  }

  test("SQL registration, double/int/bigint arrays, null elements") {
    graft.plans.GraftExtensions.register(spark)
    import spark.implicits._
    val r = Seq((Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)))
      .toDF("a", "b").selectExpr("dot_native(a, b) AS d").head()
    assert(r.getDouble(0) === 32.0)
    // integer element types (the old zip_with form accepted them too)
    val ints = spark.sql(
      "SELECT dot_native(array(1, 2), array(3L, 4L)) AS d").head()
    assert(ints.getDouble(0) === 11.0)
    // a NULL ELEMENT inside the array nulls the product — same as the
    // HOF form, whose null product nulls the whole fold
    val withNullElem = spark.sql(
      """SELECT dot_native(array(1.0D, CAST(NULL AS DOUBLE)),
        |                  array(2.0D, 3.0D)) AS nat,
        |       aggregate(zip_with(array(1.0D, CAST(NULL AS DOUBLE)),
        |                          array(2.0D, 3.0D),
        |                          (p, q) -> p * q),
        |                 0.0D, (acc, v) -> acc + v) AS hof
        |""".stripMargin).head()
    assert(withNullElem.isNullAt(0) && withNullElem.isNullAt(1))
  }

  test("hyperplaneBucket fails loudly on a width-mismatched vector") {
    import graft.llm.Similarity
    import spark.implicits._
    val bad = Seq((1L, Array.fill(32)(0.5f))).toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      bad.select(Similarity.hyperplaneBucket(col("embedding"), 8, 64))
        .collect()
    }
    assert(ex.getMessage.contains("expected 64-dim") ||
      ex.getCause != null, ex.getMessage)
  }

  test("precomputed hyperplane weights equal the per-row md5 expression") {
    import graft.llm.{Dedup, Similarity}
    import spark.implicits._
    val numPlanes = 8
    val dims = 64
    val precomputed = Similarity.hyperplaneWeights(numPlanes, dims)
    // the old expression form, evaluated once over a dims-long index
    val exprRows = (0 until numPlanes).map { p =>
      spark.range(1, dims + 1)
        .select(((Dedup.md5Long(concat(lit(p.toString), lit(":"),
          col("id").cast("string"))) % 2001) - 1000).cast("double").as("w"))
        .collect().map(_.getDouble(0))
    }
    (0 until numPlanes).foreach { p =>
      assert(exprRows(p).toSeq === precomputed(p).toSeq, s"plane $p")
    }
  }
}
