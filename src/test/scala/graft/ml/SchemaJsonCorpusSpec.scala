package graft.ml

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The declared-schema path of the corpus plan study on a corpus small
  * enough to ship inline: a two-table Trino schema JSON (the layout of
  * the reference's `JOB_Trino_Schema.json`) registered with
  * [[CorpusPlanStudy.registerSchemaJsonTables]], and a four-query
  * measured NDJSON corpus featurized with
  * [[CorpusPlanStudy.featurizeCorpus]]. */
class SchemaJsonCorpusSpec extends SparkSpec {

  private val schemaJson =
    """{"pcs_title": {"id": "INTEGER", "title": "VARCHAR", "kind_id": "INTEGER",
      |  "production_year": "INTEGER", "Rating Score": "DECIMAL(4,1)"},
      | "pcs_kind": {"id": "INTEGER", "kind": "VARCHAR(15)"}}""".stripMargin

  private val corpus = Seq(
    """{"query_id": "q1", "Runtime (s)": 1.5, "SQL": "SELECT COUNT(*) FROM \"pcs_title\" WHERE \"pcs_title\".\"production_year\" > 2000;"}""",
    """{"query_id": "q2", "Runtime (s)": 2.25, "SQL": "SELECT \"pcs_kind\".\"kind\", COUNT(*) FROM \"pcs_title\" JOIN \"pcs_kind\" ON \"pcs_title\".\"kind_id\" = \"pcs_kind\".\"id\" GROUP BY \"pcs_kind\".\"kind\""}""",
    """{"query_id": "q3", "Runtime (s)": 0.5, "SQL": "SELECT MIN(\"pcs_title\".\"title\") FROM \"pcs_title\" WHERE \"pcs_title\".\"title\" LIKE 'w_r%' OR \"pcs_title\".\"kind_id\" IN (1, 2)"}""",
    // names a table the schema does not declare: fails to plan, dropped
    """{"query_id": "q4", "Runtime (s)": 3.0, "SQL": "SELECT COUNT(*) FROM \"pcs_missing\""}""")

  test("declared-schema tables register; the corpus featurizes one row per planned query") {
    val dir = Files.createTempDirectory("schema-json-corpus")
    try {
      val schemaPath = dir.resolve("Trino_Schema.json")
      val corpusPath = dir.resolve("corpus_train.ndjson")
      Files.write(schemaPath, schemaJson.getBytes(StandardCharsets.UTF_8))
      Files.write(corpusPath, corpus.mkString("\n").getBytes(StandardCharsets.UTF_8))

      CorpusPlanStudy.registerSchemaJsonTables(spark, schemaPath.toString)
      // declared column order and types, names sanitized
      assert(spark.table("pcs_title").schema.map(f => f.name -> f.dataType) === Seq(
        "id" -> IntegerType, "title" -> StringType, "kind_id" -> IntegerType,
        "production_year" -> IntegerType, "rating_score" -> DecimalType(4, 1)))
      assert(spark.table("pcs_kind").schema.map(f => f.name -> f.dataType) === Seq(
        "id" -> IntegerType, "kind" -> StringType))

      val feats = CorpusPlanStudy.featurizeCorpus(spark, corpusPath.toString).cache()
      assert(CorpusPlanStudy.featureNames.length === 27)
      assert(feats.columns.toSeq === Seq("query_id", "runtime_s") ++ CorpusPlanStudy.featureNames)
      val rows = feats.orderBy("query_id").collect()
      assert(rows.map(_.getString(0)).toSeq === Seq("q1", "q2", "q3"))
      assert(rows.map(_.getDouble(1)).toSeq === Seq(1.5, 2.25, 0.5))
      val opCount = CorpusPlanStudy.featureNames.filter(_.startsWith("op_"))
        .map(col).reduce(_ + _)
      assert(feats.filter(opCount <= 0 || col("n_nodes") <= 0).isEmpty,
        "every planned query counts operators")
      // q2's join and grouped aggregate, q3's LIKE and IN
      val f = rows.map(r => r.getString(0) ->
        CorpusPlanStudy.featureNames.map(n => n -> r.getAs[Double](n)).toMap).toMap
      assert(f("q2")("op_Aggregate_FINAL") >= 1.0)
      assert(f("q2")("op_InnerJoin_REPLICATED") + f("q2")("op_InnerJoin_PARTITIONED") >= 1.0)
      assert(f("q3")("pred_like") >= 1.0 && f("q3")("pred_in") >= 1.0)
      feats.unpersist()
    } finally {
      Files.list(dir).forEach(p => Files.delete(p))
      Files.delete(dir)
    }
  }

  test("a corpus over 100,000 queries fails before any planning") {
    val corpus = spark.range(100001).select(
      concat(lit("q"), col("id")).as("query_id"),
      lit("SELECT 1").as("SQL"), lit(1.0).as("runtime_s"))
    val e = intercept[IllegalArgumentException](
      CorpusPlanStudy.featurizeDataset(spark, corpus))
    assert(e.getMessage.contains("split the corpus"), e.getMessage)
  }
}
