package graft.ml

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.analytics.PlanFeaturizer

/** Plan-featurization study over a *query corpus without its data*:
  * infer a planning schema from the corpus text, register empty
  * tables, optimize+physical-plan every query, and collapse each plan
  * graph into a fixed-width numeric feature row for the runtime-
  * prediction RF.
  *
  * This replicates the reference's plan-features path (its GNN
  * featurizes Trino EXPLAIN graphs of the same corpus —
  * models/GNN/readout.py, feature_stats.json opname/operator vocabs)
  * against the reference's shipped measured corpus
  * (the NDJSON files under models/Queries/Local_TPCDS), defined over the
  * public TPC-DS schema. No TPC-DS data is needed: Catalyst planning
  * is a metadata operation, so featurizing a 3.8k-query corpus is
  * driver-side work on empty relations — at 100 TB of *data* this
  * stage is unchanged (plans, not rows, are the input).
  *
  * Column types are inferred from the public TPC-DS column-naming
  * conventions (suffix rules below). Exact numeric widths are
  * irrelevant to plan *structure* — predicates adapt via implicit
  * casts — but keeping surrogate keys integral preserves the join
  * shapes the featurizer counts.
  */
object CorpusPlanStudy {

  /** `"table"."column"` references (every corpus query fully
    * qualifies). */
  private val colRef = raw""""(\w+)"\."(\w+)"""".r

  /** Public TPC-DS naming-convention type rules, most-specific
    * first. */
  private[ml] def inferType(column: String): DataType = {
    val c = column.toLowerCase
    // exceptions to the suffix rules below, learned from corpus usage:
    // d_current_* are 'Y'/'N' char flags; street/suite "numbers" are
    // text ("Suite F"); c_last_review_date holds a julian day NUMBER
    if (c.contains("_current_") ||
      c.endsWith("_suite_number") || c.endsWith("_street_number")) StringType
    else if (c.endsWith("_review_date")) LongType
    else if (c.endsWith("_sk") || c.endsWith("_seq")) LongType
    else if (c.endsWith("_date")) DateType
    else if (c.endsWith("_year") || c.endsWith("_qoy") ||
      c.endsWith("_moy") || c.endsWith("_dom") || c.endsWith("_dow") ||
      c.endsWith("_hour") || c.endsWith("_minute") ||
      c.endsWith("_second") || c.endsWith("_quantity") ||
      c.endsWith("_number") || c.endsWith("_count") ||
      c.endsWith("_cards") || c.endsWith("_week_seq")) IntegerType
    else if (c.endsWith("_price") || c.endsWith("_cost") ||
      c.endsWith("_amt") || c.endsWith("_tax") || c.endsWith("_fee") ||
      c.endsWith("_profit") || c.endsWith("_loss") ||
      c.endsWith("_paid") || c.endsWith("_credit") ||
      c.endsWith("_charge") || c.endsWith("_discount") ||
      c.endsWith("_wholesale") || c.endsWith("_coupon") ||
      c.endsWith("_cash") || c.endsWith("_net") ||
      c.endsWith("_refunded") || c.endsWith("_rate") ||
      c.endsWith("_percentage") || c.endsWith("_gmt_offset") ||
      c.endsWith("_amt_inc_tax")) DecimalType(7, 2)
    else StringType
  }

  /** Scan corpus SQL texts and build one planning StructType per
    * referenced table, from the union of its referenced columns. */
  def inferSchemas(sqls: IterableOnce[String]): Map[String, StructType] = {
    val cols = scala.collection.mutable.Map
      .empty[String, scala.collection.mutable.SortedSet[String]]
    sqls.iterator.foreach { sql =>
      colRef.findAllMatchIn(sql).foreach { m =>
        cols.getOrElseUpdate(m.group(1),
          scala.collection.mutable.SortedSet.empty[String]) += m.group(2)
      }
    }
    cols.iterator.map { case (t, cs) =>
      t -> StructType(cs.toSeq.map(c => StructField(c, inferType(c))))
    }.toMap
  }

  /** Register one empty table per schema (LocalRelation — planning
    * only, never executed). */
  def registerEmptyTables(spark: SparkSession,
      schemas: Map[String, StructType]): Unit =
    schemas.foreach { case (name, st) =>
      spark.createDataFrame(new java.util.ArrayList[Row](), st)
        .createOrReplaceTempView(name)
    }

  /** Register planning tables from a shipped multi-table Trino schema
    * JSON (the reference's `JOB_Trino_Schema.json` /
    * `SSB_Trino_Schema.json`) — when the benchmark's declared schema
    * is available, it beats naming-convention inference. */
  def registerSchemaJsonTables(spark: SparkSession, jsonPath: String): Unit =
    registerEmptyTables(spark,
      graft.sources.Ingest.parseSchemaJson(
        new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(jsonPath)),
          java.nio.charset.StandardCharsets.UTF_8)).toMap)

  /** Trino → Spark dialect shim for the corpus text: bare `varchar`
    * casts take a Spark-legal type name and the statement terminator
    * goes. Double-quoted identifiers are handled by the ANSI conf
    * (`spark.sql.ansi.doubleQuotedIdentifiers`), not rewriting. */
  def normalizeTrinoSql(sql: String): String = sql.trim
    .stripSuffix(";")
    .replaceAll("(?i)AS\\s+varchar\\s*\\)", "AS string)")

  /** Fixed feature vocabulary: reference Trino opnames the corpus
    * shapes can produce, predicate-operator dictionary, and three
    * global plan scalars. */
  val opnameVocab: Seq[String] = Seq(
    "ScanFilterProject", "FilterProject", "Project",
    "Aggregate_PARTIAL", "Aggregate_FINAL",
    "InnerJoin_REPLICATED", "InnerJoin_PARTITIONED",
    "LeftJoin_REPLICATED", "LeftJoin_PARTITIONED",
    "LocalExchange_HASH", "LocalExchange_SINGLE",
    "PartialSort", "Output", "Values", "Limit")
  val predVocab: Seq[String] = Seq("=", "<>", "AND", "OR", "IN", "LIKE", "CMP")

  val featureNames: Seq[String] =
    opnameVocab.map("op_" + _) ++ predVocab.map {
      case "=" => "pred_eq"; case "<>" => "pred_neq"
      case other => "pred_" + other.toLowerCase
    } ++ Seq("n_nodes", "n_literals", "n_aggs",
      // cardinality features — all-zero when planning against empty
      // tables, real signal when the corpus tables are registered with
      // data/statistics (the reference GNN's log1p est-rows node
      // feature, reduced to plan-level sum and max)
      "sum_log_rows", "max_log_rows")

  /** Plan one query against the registered empty tables and collapse
    * its physical plan into the fixed-width feature vector. Returns
    * None when the text fails to plan (caller counts and reports —
    * silent drops would overstate coverage). */
  def planFeatureVector(spark: SparkSession, sql: String): Option[Array[Double]] = {
    // the corpus quotes identifiers ANSI-style; empty planning tables
    // must also keep their plan STRUCTURE, so stop the optimizer from
    // constant-folding LocalRelations (which would collapse joins and
    // filters over the empty tables into nothing — we featurize shape,
    // not data). Both confs are restored on exit: the session is shared.
    val planningConfs = Map(
      "spark.sql.ansi.doubleQuotedIdentifiers" -> "true",
      "spark.sql.optimizer.excludedRules" ->
        ("org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation," +
         "org.apache.spark.sql.catalyst.optimizer.PropagateEmptyRelation"))
    val saved = planningConfs.keys
      .map(k => k -> spark.conf.getOption(k)).toMap
    planningConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val df = spark.sql(normalizeTrinoSql(sql))
      // physical planning + plan walk only — no Spark job launches
      val (planNodes, _) = PlanFeaturizer.collectGraph(df)
      val opCount = scala.collection.mutable.Map.empty[String, Int]
        .withDefaultValue(0)
      val predCount = scala.collection.mutable.Map.empty[String, Int]
        .withDefaultValue(0)
      var literals = 0; var aggs = 0
      var sumLogRows = 0.0; var maxLogRows = 0.0
      planNodes.foreach { n =>
        opCount(n.opname) += 1
        n.pred_ops.foreach { case (k, v) => predCount(k) += v }
        literals += n.literal_feature
        aggs += n.agg_fns.size
        sumLogRows += n.log1p_est_rows
        maxLogRows = math.max(maxLogRows, n.log1p_est_rows)
      }
      Some((opnameVocab.map(opCount(_).toDouble) ++
        predVocab.map(predCount(_).toDouble) ++
        Seq(planNodes.size.toDouble, literals.toDouble,
          aggs.toDouble, sumLogRows, maxLogRows)).toArray)
    } catch { case scala.util.control.NonFatal(_) => None }
    finally saved.foreach { case (k, vOpt) =>
      vOpt.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** Featurize a measured NDJSON corpus (RuntimePrediction.loadDataset
    * layout) into one row per successfully-planned query:
    * (query_id, runtime_s, one column per [[featureNames]]).
    * The SQL texts are collected to the driver — planning is inherently
    * a driver/metadata operation; the corpus is thousands of rows, not
    * data-scale. Caller must register the corpus tables first
    * ([[inferSchemas]] + [[registerEmptyTables]], or real tables). */
  def featurizeCorpus(spark: SparkSession, path: String): DataFrame =
    featurizeDataset(spark, RuntimePrediction.loadDataset(spark, path))

  /** Most queries [[featurizeDataset]] collects to plan on the driver. */
  private val MaxCorpus = 100000

  /** Same, over an already-loaded measured corpus with
    * (query_id, SQL, runtime_s) columns — e.g. a WorkloadRunner log
    * joined back to its query texts. With the corpus tables registered
    * over REAL data the feature rows carry live cardinality estimates
    * (sum/max_log_rows), which empty planning tables cannot provide. */
  def featurizeDataset(spark: SparkSession, dataset: DataFrame): DataFrame = {
    val ds = graft.Collect.collectBounded(dataset.select("query_id", "SQL", "runtime_s"),
      MaxCorpus, "featurizeDataset: query corpus (split the corpus into parts)")
    val rows = ds.iterator.flatMap { r =>
      planFeatureVector(spark, r.getAs[String]("SQL")).map { v =>
        Row.fromSeq(r.getAs[String]("query_id") +:
          r.getAs[Double]("runtime_s") +: v.toSeq)
      }
    }.toSeq
    val schema = StructType(
      StructField("query_id", StringType) ::
      StructField("runtime_s", DoubleType) ::
      featureNames.toList.map(StructField(_, DoubleType)))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }
}
