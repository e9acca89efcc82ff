package graft.functions

import graft.SparkSpec
import graft.llm.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Bit-identity pin: the native MinHash-LSH kernel ([[MinHashLsh]] via
  * `Dedup.lshDocs`) equals the explode + groupBy reference the DuckDB
  * oracle mirrors — band buckets against
  * `lshBucketsWide(minHashSignaturesWide(charShingles(...)))`, verify
  * sets against `shingleSetRows(hashShingles(charShingles(...)))`, and
  * pairs against `minHashLshPairsFromShingles`. */
class MinHashLshPropSpec extends SparkSpec {

  private def samples[A](gen: Gen[A], n: Int, seed: Long = 23L): Seq[A] =
    (0 until n).map(i => gen.pureApply(Gen.Parameters.default, Seed(seed + i)))

  // multi-byte (2/3-byte) and non-BMP (4-byte, two UTF-16 units) pieces:
  // Spark's length/substring count code points, not UTF-16 units
  private val piece = Gen.oneOf("the", "quick", "fox", "a", " ", "тест",
    "漢字", "😀", "𝄞x", "0123456789", "ab")
  private val textGen: Gen[String] =
    Gen.chooseNum(0, 40).flatMap(n => Gen.listOfN(n, piece).map(_.mkString))

  private val edgeTexts: Seq[String] = Seq(
    "", "a", "abcdefgh", "abcdefghi", "😀", "😀😀😀😀😀😀😀😀😀😀", "𝄞𝄞𝄞",
    "тесттесттест", "漢字漢字漢字漢字漢字", "aaaaaaaaaaaaaaaaaaaaaaaa",
    "abcabcabcabcabcabcabcabcabc", "the quick fox the quick fox the quick fox")

  private def corpus(): DataFrame = {
    import spark.implicits._
    val texts: Seq[Option[String]] =
      (edgeTexts ++ samples(textGen, 80)).map(Some(_)) :+ None
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t.orNull) }
      .toDF("doc_id", "text")
  }

  private def fixture(): DataFrame = Dedup.fixtureCorpus(
    graft.Tables.load(spark, sfSmoke, "documents").filter(col("doc_id") < 40))

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq.map {
      case s: scala.collection.Seq[_] => s.toList
      case v => v
    }).toSeq.sortBy(_.mkString("|"))

  /** Kernel buckets and sets vs the grouped reference, columns and
    * column types included. */
  private def assertIdentical(df: DataFrame, numHashes: Int,
      rowsPerBand: Int, k: Int): Unit = {
    val shingles = Dedup.charShingles(df, k)
    val refBuckets = Dedup.lshBucketsWide(
      Dedup.minHashSignaturesWide(shingles, numHashes), numHashes, rowsPerBand)
    val refSets = Dedup.shingleSetRows(Dedup.hashShingles(shingles))
    val docRows = Dedup.lshRows(Dedup.lshDocs(df, numHashes, rowsPerBand, k),
      numHashes / rowsPerBand)
    val buckets = Dedup.lshBuckets(docRows)
    val sets = Dedup.lshSets(docRows)
    val params = s"(numHashes=$numHashes, rowsPerBand=$rowsPerBand, k=$k)"
    assert(buckets.schema.map(f => f.name -> f.dataType) ===
      refBuckets.schema.map(f => f.name -> f.dataType), params)
    assert(sets.schema.map(f => f.name -> f.dataType) ===
      refSets.schema.map(f => f.name -> f.dataType), params)
    assert(rows(buckets) === rows(refBuckets), s"buckets differ $params")
    assert(rows(sets) === rows(refSets), s"sets differ $params")
  }

  test("kernel buckets and sets equal the explode + groupBy reference") {
    val df = corpus().cache()
    try {
      Seq((16, 4, 9), (8, 2, 5), (10, 3, 4), (6, 4, 3)).foreach {
        case (n, r, k) => assertIdentical(df, n, r, k)
      }
      // the null text gives no row; "" and texts shorter than k give one
      // whole-text shingle
      val ids = Dedup.lshDocs(df).select("id", "set_size").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(!ids.contains(df.count() - 1), "null text must give no row")
      assert(ids(0L) === 1L && ids(1L) === 1L && ids(2L) === 1L)
      // repeated shingles collapse: 24 × 'a' has one distinct 9-gram
      assert(ids(9L) === 1L)
      // a band wider than the signature fails at plan time, by name
      val e = intercept[IllegalArgumentException](
        Dedup.lshDocs(df, numHashes = 4, rowsPerBand = 8))
      assert(e.getMessage.contains("rowsPerBand <= numHashes"))
    } finally df.unpersist()
  }

  test("kernel equals the grouped reference on the fixture corpus") {
    assertIdentical(fixture(), 16, 4, 9)
  }

  test("minHashLshPairs equals the grouped pipeline, default and non-default banding") {
    val df = fixture()
    def pairs(p: DataFrame) = rows(p.select("id_a", "id_b", "jaccard"))
    Seq((16, 4, 9), (8, 2, 5)).foreach { case (n, r, k) =>
      val got = pairs(Dedup.minHashLshPairs(df, 0.5, n, r, k))
      assert(got === pairs(Dedup.minHashLshPairsFromShingles(
        Dedup.charShingles(df, k), 0.5, n, r)), s"($n, $r, $k)")
      assert(got.nonEmpty)
    }
  }

  test("minHashLshPairs plan: no shingle explode, no sort aggregate, one reused exchange") {
    val docs = graft.Tables.load(spark, sfSmoke, "documents")
      .filter(col("doc_id") < 40)
    val pairs = Dedup.minHashLshPairs(docs, 0.5)
    pairs.collect()
    val plan = pairs.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("isFinalPlan=true"), plan)
    assert(!plan.contains("SortAggregate"), s"string min aggregate is back:\n$plan")
    assert(!plan.contains("Generate explode"), s"shingle explode is back:\n$plan")
    // both arms of the band self-join and the verify joins read ONE
    // document exchange: the kernel is planned once, the other arms
    // reuse its exchange
    assert("minhash_lsh\\(".r.findAllIn(plan).length === 1,
      s"kernel must run once per document:\n$plan")
    assert("ReusedExchange \\[id#\\d+L, buckets".r.findFirstIn(plan).nonEmpty,
      s"the document exchange must be reused:\n$plan")
  }
}
