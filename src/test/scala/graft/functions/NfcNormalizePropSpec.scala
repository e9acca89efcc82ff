package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class NfcNormalizePropSpec extends SparkSpec {

  // explicit escapes so source encoding can never blur the fixtures
  private val Decomposed = "cafe\u0301"   // e + combining acute
  private val Precomposed = "caf\u00e9"   // precomposed e-acute

  test("NFC: decomposed composes, precomposed unchanged, ASCII identity") {
    import spark.implicits._
    val rows = Seq(
      (1L, "plain ascii text"),
      (2L, Decomposed),
      (3L, Precomposed),
      (4L, "ring a\u030a end"),            // a + combining ring
      (5L, ""))
    val out = rows.toDF("i", "s")
      .withColumn("n", NfcNormalize.nfcNormalize(col("s")))
      .orderBy("i").select("n").collect().map(_.getString(0))
    assert(out(0) === "plain ascii text")
    assert(out(1) === Precomposed, "decomposed must compose to NFC")
    assert(out(2) === Precomposed, "precomposed must pass unchanged")
    assert(out(3) === "ring \u00e5 end")
    assert(out(4) === "")
  }

  test("native expression matches java.text.Normalizer on random unicode") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    // ASCII, combining marks, precomposed, CJK, astral plane, spaces
    val pool = ('a' to 'z').map(_.toString) ++ Seq("\u0301", "\u0308",
      "\u00e9", "\u00c5", "\u65e5", "\u672c", "\ud83d\ude00", " ")
    val rows = (1 to 200).map { i =>
      (i.toLong, Seq.fill(rng.nextInt(20))(pool(rng.nextInt(pool.size)))
        .mkString)
    }
    val got = rows.toDF("i", "s")
      .withColumn("n", NfcNormalize.nfcNormalize(col("s")))
      .orderBy("i").select("i", "n").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val ref = rows.map { case (i, s) =>
      (i, java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
    }
    assert(got.toSeq === ref)
  }

  test("normalizeText: control strip + whitespace collapse + trim") {
    import spark.implicits._
    val df = Seq(
      (1L, "  a\tb\u000bc  "),
      (2L, "no\u0000thing"),
      (3L, "already clean")).toDF("doc_id", "text")
      .withColumn("n", graft.llm.TextAnalysis.normalizeText(col("text")))
    val out = df.orderBy("doc_id").collect().map(_.getString(2))
    assert(out.toSeq === Seq("a b c", "no thing", "already clean"))
  }

  test("SQL registration and idempotence") {
    graft.plans.GraftExtensions.register(spark)
    val r = spark.sql("SELECT nfc_normalize_native('cafe\u0301') AS n")
      .head().getString(0)
    assert(r === Precomposed)
    val r2 = spark.sql(
      "SELECT nfc_normalize_native(nfc_normalize_native('cafe\u0301')) AS n")
      .head().getString(0)
    assert(r2 === r, "NFC must be idempotent")
  }
}
