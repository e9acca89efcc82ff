package graft.functions

import graft.SparkSpec
import graft.llm.TextAnalysis
import graft.ml.RuntimePrediction
import graft.sources.SyntheticWorkload
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** Bit-identity pin: the native embedding kernel ([[MeanPoolEmbed]] via
  * `RuntimePrediction.meanPoolEmbedding`) equals the column form it
  * replaced — one `aggregate(transform(qwen2Pretokenize(text),
  * xxhash64))` fold per dimension, kept below as the reference — bit
  * for bit, on SQL texts and tokenizer edge cases. */
class MeanPoolEmbedPropSpec extends SparkSpec {
  import spark.implicits._

  /** The per-dimension higher-order-function form. */
  private def reference(df: DataFrame, textCol: String, dim: Int): DataFrame = {
    val tokens = TextAnalysis.qwen2Pretokenize(col(textCol))
    val dims = (0 until dim).map { i =>
      val tok = aggregate(
        transform(tokens, t => xxhash64(t, lit(i)).cast("double")),
        lit(0.0), (acc, x) => acc + x / lit(9.223372036854776e18))
      (tok / greatest(size(tokens), lit(1)).cast("double")).as(s"e$i")
    }
    df.withColumn("emb", array(dims: _*))
  }

  private val edgeTexts: Seq[String] = Seq(
    "", " ", "   \t  ", "\r\n\t", "\n\n\r\n", "a\r\n\tb", " \r\nSELECT\r\n 1 \t",
    "it's", "IT'S", "we'LL", "you're'VE'd'm't", "'s", "'LL'll",
    "тест данных", "漢字 テスト", "😀", "a😀b 😀😀", "𝄞x 𝄞", "SELECT 'é' AS ü",
    "x    y", "12345 6.7e8", "a, b;; c -- d", "(((x)))")

  private def corpus(): DataFrame = {
    val synth = SyntheticWorkload.generate(400, 7).map(_.sql)
    val texts = (synth ++ edgeTexts).map(Some(_)) :+ None
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t.orNull) }.toDF("id", "SQL")
  }

  /** id -> the raw bits of every element (None for a null element). */
  private def bits(df: DataFrame): Map[Long, Seq[Option[Long]]] =
    df.select("id", "emb").collect().map { r =>
      r.getLong(0) -> r.getSeq[java.lang.Double](1).map(d =>
        Option(d).map(v => java.lang.Double.doubleToRawLongBits(v)))
    }.toMap

  /** Runs `f` with the session confs set, restoring them after. */
  private def withConf[A](confs: (String, String)*)(f: => A): A = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  // generated code only (a compile failure fails the test instead of
  // falling back), then the interpreted eval only
  private val paths = Seq(
    "codegen" -> Seq("spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
    "interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  test("kernel embeddings equal the per-dimension fold bit for bit") {
    // cached, so the projection runs in the plan, not folded into a
    // local relation by the optimizer
    val df = corpus().cache()
    try {
      val n = df.count()
      for ((path, confs) <- paths; dim <- Seq(1, 8, 16)) {
        val got = withConf(confs: _*)(bits(RuntimePrediction.meanPoolEmbedding(df, "SQL", dim)))
        val want = bits(reference(df, "SQL", dim))
        assert(got.size === n)
        val differ = got.keys.filter(k => got(k) != want(k)).toSeq.sorted
        assert(differ.size === 0, s"$path dim=$dim: ${differ.size} texts differ, first ids " +
          differ.take(5).mkString(","))
        assert(got.values.forall(_.length == dim))
        // the null text is the last id: dim null elements, not a null array
        assert(got(n - 1) === Seq.fill(dim)(None))
      }
      // only the null text has null elements
      val nonNull = bits(RuntimePrediction.meanPoolEmbedding(df, "SQL", 4))
        .filter(_._2.forall(_.isDefined))
      assert(nonNull.size === n - 1)
    } finally df.unpersist()
  }

  test("a numeric text column is cast to string, as the fold form did") {
    val df = Seq((0L, 7), (1L, -120), (2L, 0), (3L, Int.MaxValue)).toDF("id", "SQL").cache()
    try for ((_, confs) <- paths; dim <- Seq(1, 8)) {
      assert(withConf(confs: _*)(bits(RuntimePrediction.meanPoolEmbedding(df, "SQL", dim))) ===
        bits(reference(df, "SQL", dim)))
    } finally df.unpersist()
  }

  test("schema, emb_i column order and plan: one kernel call, no fold") {
    val df = corpus().limit(20).cache()
    val dim = 16
    val emb = RuntimePrediction.meanPoolEmbedding(df, "SQL", dim)
    val f = emb.schema("emb")
    assert(!f.nullable)
    assert(f.dataType === ArrayType(DoubleType, containsNull = true))
    assert(f.dataType === reference(df, "SQL", dim).schema("emb").dataType)

    val flat = RuntimePrediction.flattenEmbedding(emb, dim)
    assert(flat.columns.toSeq ===
      Seq("id", "SQL", "emb") ++ (0 until dim).map(i => s"emb_$i"))
    assert(flat.schema("emb_3").dataType === DoubleType)

    val plan = flat.queryExecution.optimizedPlan.toString
    assert("mean_pool_embed\\(".r.findAllIn(plan).length === 1, plan)
    Seq("aggregate", "transform", "regexp_extract_all").foreach(f =>
      assert(!plan.contains(f + "("), s"$f in plan:\n$plan"))
    // emb_i is element i of emb
    val rows = flat.collect()
    assert(rows.forall(r => (0 until dim).forall(i =>
      r.getAs[Double](s"emb_$i") == r.getSeq[Double](2)(i))))
    df.unpersist()
  }

  test("dim < 1 fails when the expression is built, naming dim") {
    val e = intercept[IllegalArgumentException](
      RuntimePrediction.meanPoolEmbedding(Seq("x").toDF("SQL"), "SQL", 0))
    assert(e.getMessage.contains("dim >= 1, got dim=0"), e.getMessage)
  }
}
