package graft.functions

import graft.SparkSpec
import graft.llm.{Curation, Dedup}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The native decontamination kernel ([[ShingleOverlap]], the path
  * `Curation.decontaminate` takes for an eval set inside its driver
  * bounds) against the explode + shuffled-hash-join form
  * (`Curation.decontaminateByJoin`), which the DuckDB oracle mirrors. */
class ShingleOverlapPropSpec extends SparkSpec {

  import spark.implicits._

  private def samples[A](gen: Gen[A], n: Int, seed: Long): Seq[A] =
    (0 until n).map(i => gen.pureApply(Gen.Parameters.default, Seed(seed + i)))

  // multi-byte (2/3-byte) and non-BMP (4-byte, two UTF-16 units) pieces
  // from a small alphabet, so train and eval texts share shingles
  private val piece = Gen.oneOf("the", "quick", "fox", "a", " ", "тест",
    "漢字", "😀", "𝄞x", "0123456789", "ab")
  private val textGen: Gen[String] =
    Gen.chooseNum(0, 30).flatMap(n => Gen.listOfN(n, piece).map(_.mkString))

  private val edgeTexts: Seq[String] = Seq(
    "", "a", "abcdefgh", "abcdefghi", "😀", "😀😀😀😀😀😀😀😀😀😀", "𝄞𝄞𝄞",
    "тесттесттест", "漢字漢字漢字漢字漢字", "aaaaaaaaaaaaaaaaaaaaaaaa",
    "abcabcabcabcabcabcabcabcabc", "the quick fox the quick fox the quick fox")

  private def frame(texts: Seq[Option[String]], firstId: Long): DataFrame =
    texts.zipWithIndex.map { case (t, i) => (firstId + i, t.orNull) }
      .toDF("doc_id", "text")

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))

  /** Both decontamination paths, every column, for several gates. */
  private def assertPathsAgree(train: DataFrame, evalSet: DataFrame): Unit =
    Seq((10, 0.0), (1, 0.0), (3, 0.5)).foreach { case (minShared, minFrac) =>
      val kernel = Curation.decontaminate(train, evalSet, minShared, minFrac)
      val joined = Curation.decontaminateByJoin(train, evalSet, minShared, minFrac)
      assert(rows(kernel) === rows(joined), s"(minShared=$minShared, minFrac=$minFrac)")
    }

  test("kernel counts equal the shuffled-hash-join path on edge and random texts") {
    val evalTexts = edgeTexts.map(Some(_)) ++ samples(textGen, 30, 7L).map(Some(_)) :+ None
    val trainTexts = (edgeTexts ++ samples(textGen, 120, 101L) ++
      // verbatim copies and sub-shingle-size texts of eval documents
      evalTexts.flatten.take(20)).map(Some(_)) :+ None
    val train = frame(trainTexts, 0L).cache()
    val evalSet = frame(evalTexts, 100000L).cache()
    try {
      assertPathsAgree(train, evalSet)
      val out = Curation.decontaminate(train, evalSet)
      assert(out.count() > 20, "the copies must share shingles")
      // n_shingles is the distinct shingle count of shingleSetCol, for
      // every text; a null text gives a null count
      val bc = spark.sparkContext.broadcast(ShingleSet.of(
        evalTexts.flatten.iterator, 9, Int.MaxValue).get)
      val counts = train.select(col("doc_id"),
          ShingleOverlap.shingleOverlap(col("text"), bc).as("ov"),
          size(Dedup.shingleSetCol(col("text"))).as("ref"))
        .collect().map(r => r.getLong(0) ->
          (Option(r.getStruct(1)), Option(r.getAs[Integer](2)).map(_.toLong)))
        .toMap
      counts.foreach {
        case (id, (Some(ov), ref)) =>
          assert(Some(ov.getLong(1)) === ref, s"doc $id")
          assert(ov.getLong(0) <= ov.getLong(1), s"doc $id")
        case (id, (None, ref)) =>
          assert(id === trainTexts.length - 1L && ref.isEmpty,
            s"only the null text has no counts: $id")
      }
      // "" and texts shorter than k are one whole-text shingle, and
      // that shingle is in the eval set (the same texts are there)
      Seq(0L, 1L, 2L, 4L).foreach { id =>
        assert(counts(id)._1.map(r => (r.getLong(0), r.getLong(1))) === Some((1L, 1L)),
          s"doc $id")
      }
      // repeated shingles count once: 24 × 'a' has one distinct 9-gram
      assert(counts(9L)._1.map(_.getLong(1)) === Some(1L))
    } finally { train.unpersist(); evalSet.unpersist() }
  }

  test("non-BMP windows: k code points, not k UTF-16 units, compared byte-exactly") {
    // "😀" is one code point of two UTF-16 units: nine of them make one
    // 9-gram, which only a text holding the same nine matches
    val evalSet = frame(Seq(Some("😀😀😀😀😀😀😀😀😀")), 10L)
    val train = frame(Seq(Some("😀😀😀😀😀😀😀😀😀"), Some("ababababababababab"),
      Some("😀😀😀😀😀😀😀😀😀😀😀")), 0L)
    val got = Curation.decontaminate(train, evalSet, minShared = 1)
      .select("doc_id", "n_shared", "n_shingles").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got === Map(0L -> ((1L, 1L)), 2L -> ((1L, 1L))))
    assertPathsAgree(train, evalSet)
  }

  test("planted +30000 leaks: both paths flag every copy with identical rows") {
    val base = graft.Tables.load(spark, sfCorrect, "documents")
      .select(col("doc_id"), col("text"))
    val evalSet = base.filter(col("doc_id") % 41 === 0)
    val train = base.filter(col("doc_id") % 41 =!= 0)
      .unionByName(evalSet.select((col("doc_id") + lit(30000L)).as("doc_id"),
        col("text")))
    assertPathsAgree(train, evalSet)
    val flagged = Curation.decontaminate(train, evalSet)
      .filter(col("contaminated")).select("doc_id").collect().map(_.getLong(0)).toSet
    val planted = evalSet.select(col("doc_id") + 30000L).collect().map(_.getLong(0)).toSet
    assert(planted.nonEmpty && planted.subsetOf(flagged))
  }

  test("ShingleSet holds each distinct shingle once and stops past its bound") {
    // "abcdefghijk" has 3 windows of 9, "bcdefghij" is one of them; the
    // short texts are whole-text shingles
    val texts = Seq("abcdefghijk", "bcdefghij", null, "", "ab", "ab")
    val set = ShingleSet.of(texts.iterator, 9, 5).get
    assert(set.size === 5)
    assert(ShingleSet.of(texts.iterator, 9, 4).isEmpty)
    def has(t: String): Boolean = {
      val b = t.getBytes("UTF-8")
      set.contains(b, 0, b.length, MinHashLsh.windows(
        org.apache.spark.unsafe.types.UTF8String.fromString(t), 9).hash(0))
    }
    assert(Seq("abcdefghi", "bcdefghij", "cdefghijk", "", "ab").forall(has))
    assert(!has("abcdefghj") && !has("a"))
    // thousands of shingles: every one found after the table grew
    val many = (0 until 5000).map(i => f"shingle$i%05d")
    val big = ShingleSet.of(many.iterator, 12, 5000).get
    assert(big.size === 5000 && many.forall { t =>
      val b = t.getBytes("UTF-8")
      big.contains(b, 0, b.length, MinHashLsh.windows(
        org.apache.spark.unsafe.types.UTF8String.fromString(t), 12).hash(0))
    })
  }

  test("a non-string argument fails at analysis, naming the kernel") {
    val bc = spark.sparkContext.broadcast(ShingleSet.of(Iterator("abc"), 9, 1).get)
    val e = intercept[AnalysisException](
      Seq((1L, 2L)).toDF("doc_id", "text")
        .select(ShingleOverlap.shingleOverlap(col("text"), bc)).collect())
    assert(e.getMessage.contains("shingle_overlap requires a string argument"),
      e.getMessage)
  }

  test("pipelineE2e plan: no explode, no anti-join, the kernel once per row") {
    val docs = graft.Tables.load(spark, sfCorrect, "documents")
    val out = Curation.pipelineE2e(docs)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("isFinalPlan=true"), plan)
    assert(!plan.contains("Generate explode"), s"shingle explode is back:\n$plan")
    assert(!plan.contains("LeftAnti"), s"the contamination anti-join is back:\n$plan")
    assert("shingle_overlap\\(".r.findAllIn(plan).length === 1,
      s"kernel must run once per document:\n$plan")
  }
}
