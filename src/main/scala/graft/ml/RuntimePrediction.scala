package graft.ml

import org.apache.spark.ml.{Estimator, Model, Pipeline}
import org.apache.spark.ml.evaluation.RegressionEvaluator
import org.apache.spark.ml.feature.{PCA, VectorAssembler}
import org.apache.spark.ml.linalg.SQLDataTypes.VectorType
import org.apache.spark.ml.regression.RandomForestRegressor
import org.apache.spark.ml.tuning.{CrossValidator, ParamGridBuilder}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType

/** Runtime-prediction pipeline (SURVEY.md §2.D group 3): the
  * reference's RF-over-SQL-text-embedding regressor
  * (`models/RF/Model/sql_encoder.py:33-41` mean-pooled embeddings,
  * `Dataloader.py:48-102` PCA+concat, `RF/train.ipynb` grid-searched
  * RandomForest with 5-fold CV scored by MAE), rebuilt on spark.ml.
  *
  * The reference's encoder is a frozen LLM token-embedding table; with
  * no model weights available the rebuild substitutes a deterministic
  * feature-hashing token embedding with identical dataflow shape
  * (tokenize → per-token vector → mean pool → fixed-width column).
  * Everything downstream (PCA(4) when wide, assembler, RF, CV, MAE,
  * Q-error) matches the reference's computation graph. CV runs only
  * when the grid has two or more points: with one candidate there is
  * nothing to select, and the CV's final refit is exactly one direct
  * fit, so [[trainRf]] returns that fit alone.
  */
object RuntimePrediction {

  /** Prediction-dataset NDJSON loader (`models/Queries/... .ndjson`:
    * query_id, SQL, "Runtime (s)", Runtime_log). */
  def loadDataset(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)
      .withColumnRenamed("Runtime (s)", "runtime_s")
      .filter(col("runtime_s").isNotNull && col("SQL").isNotNull)

  /** Tokenize SQL text with the reference tokenizer's pre-tokenization
    * rules ([[graft.llm.TextAnalysis.qwen2Pretokenize]] — the shipped
    * tokenizer_config.json declares Qwen2Tokenizer, case-sensitive)
    * and mean-pool per-token hash embeddings into a `dim`-wide array
    * column `emb` — the `sql_encoder.py` mean-pool shape, with
    * xxhash64-seeded pseudo-embeddings instead of LLM weights. One
    * native expression ([[graft.functions.MeanPoolEmbed]], codegen'd,
    * no UDF) tokenizes each text once and pools every dimension in
    * the same walk: at 100 TB this runs as a map-only stage. */
  def meanPoolEmbedding(df: DataFrame, textCol: String, dim: Int): DataFrame =
    df.withColumn("emb", graft.functions.MeanPoolEmbed.meanPoolEmbed(col(textCol), dim))

  /** Assemble [sql ∥ schema ∥ system] feature columns
    * (Dataloader.py:83-102), PCA-compressing the text block to 4 dims
    * when it is wide (Dataloader.py:48-58's dim>5000 rule, threshold
    * parameterized). `df` is checked, by schema only (no job), for
    * `emb_0 … emb_{embDim-1}` and every `extraCols` column. */
  def buildFeatures(df: DataFrame, embDim: Int, pcaThreshold: Int = 5000,
      extraCols: Seq[String] = Nil): Pipeline = {
    val have = df.columns.toSet
    val embCols = (0 until embDim).map(i => s"emb_$i")
    val noEmb = embCols.filterNot(have)
    require(noEmb.isEmpty, s"buildFeatures: df lacks ${noEmb.mkString(", ")}; " +
      s"make the emb_i columns with flattenEmbedding(meanPoolEmbedding(df, textCol, $embDim), $embDim)")
    val noExtra = extraCols.filterNot(have)
    require(noExtra.isEmpty, s"buildFeatures: extraCols not in df: ${noExtra.mkString(", ")}")
    val toVec = new VectorAssembler()
      .setInputCols(embCols.toArray)
      .setOutputCol("emb_vec")
    val stages = scala.collection.mutable.ArrayBuffer[org.apache.spark.ml.PipelineStage](toVec)
    val textOut = if (embDim > pcaThreshold) {
      stages += new PCA().setK(4).setInputCol("emb_vec").setOutputCol("emb_pca")
      "emb_pca"
    } else "emb_vec"
    stages += new VectorAssembler()
      .setInputCols((textOut +: extraCols).toArray)
      .setOutputCol("features")
    new Pipeline().setStages(stages.toArray)
  }

  /** Explode the pooled array into scalar columns for the assembler. */
  def flattenEmbedding(df: DataFrame, dim: Int): DataFrame =
    df.select(col("*") +: (0 until dim).map(i => col("emb").getItem(i).as(s"emb_$i")): _*)

  /** RF over the reference's grid axes (n_estimators, max_depth —
    * train.ipynb cell 0), tuned by `numFolds`-fold CV scored by MAE.
    * CV runs only when the grid has two or more points. A one-point
    * grid returns the seeded regressor with that point applied: CV
    * would fit one model per fold for scores no caller reads, then
    * refit the same candidate on all of `train` (Spark's
    * `CrossValidator.fit` ends with `est.fit(dataset, bestParamMap)`),
    * so both forms give the same model and this one fits once.
    * `train` is checked, by schema only (no job), for a vector
    * `features` column and a numeric `labelCol`. */
  def trainRf(train: DataFrame, labelCol: String = "runtime_s",
      numFolds: Int = 5,
      trees: Seq[Int] = Seq(200, 400),
      depths: Seq[Int] = Seq(5, 10)): Estimator[_ <: Model[_]] = {
    require(trees.nonEmpty, "trainRf: trees is empty; pass at least one numTrees value")
    require(depths.nonEmpty, "trainRf: depths is empty; pass at least one maxDepth value")
    require(numFolds >= 2, s"trainRf: numFolds must be >= 2, got $numFolds")
    def typeOf(c: String) = train.schema.find(_.name == c).map(_.dataType)
    require(typeOf("features").contains(VectorType),
      "trainRf: train needs a vector column `features`; make it with buildFeatures(df, embDim).fit(df).transform(df)")
    require(typeOf(labelCol).exists(_.isInstanceOf[NumericType]),
      s"trainRf: train needs a numeric label column `$labelCol`")
    val rf = new RandomForestRegressor()
      .setFeaturesCol("features").setLabelCol(labelCol).setSeed(42L)
    val grid = new ParamGridBuilder()
      .addGrid(rf.numTrees, trees)
      .addGrid(rf.maxDepth, depths)
      .build()
    if (grid.length == 1) rf.copy(grid.head)
    else new CrossValidator()
      .setEstimator(rf)
      .setEvaluator(new RegressionEvaluator()
        .setLabelCol(labelCol).setPredictionCol("prediction")
        .setMetricName("mae"))
      .setEstimatorParamMaps(grid)
      .setNumFolds(numFolds)
      .setSeed(42L)
  }

  /** MAE (train.ipynb evaluate_model). */
  def mae(df: DataFrame, predCol: String, labelCol: String): DataFrame =
    df.agg(avg(abs(col(predCol) - col(labelCol))).as("mae"))

  /** Q-error = max(y,ŷ)/max(min(y,ŷ),1e-3) over positive pairs, P50 +
    * P99 (train.ipynb percentile_qerror, identical in GNN/table3). */
  def qerror(df: DataFrame, predCol: String, labelCol: String): DataFrame = {
    val q = greatest(col(predCol), col(labelCol)) /
      greatest(least(col(predCol), col(labelCol)), lit(1e-3))
    df.filter(col(predCol) > 0 && col(labelCol) > 0)
      .select(q.as("qerr"))
      .agg(
        expr("percentile(qerr, 0.5)").as("p50_qerr"),
        expr("percentile(qerr, 0.99)").as("p99_qerr"),
        count(lit(1)).as("n"))
  }

  /** Optional Runtime_log target handling: exp-invert predictions at
    * eval (train.ipynb evaluate_model). */
  def expInvert(df: DataFrame, c: String): DataFrame =
    df.withColumn(c, exp(col(c)))
}
