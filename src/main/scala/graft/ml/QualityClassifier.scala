package graft.ml

import org.apache.spark.ml.classification.{LogisticRegression, LogisticRegressionModel}
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.llm.TextAnalysis

/** Model-based document quality filter — the learned stage that sits
  * behind the heuristic [[graft.llm.TextAnalysis.qualityColumns]]
  * facets in a production curation pipeline (the role the public
  * fastText "looks like a reference corpus" classifiers play in
  * CCNet/C4-style recipes): train a logistic regression ON the cheap
  * facets against a labeled seed set, then score the whole corpus with
  * one map-only model application.
  *
  * Scale shape: featurization is row-local column math (no shuffle),
  * L-BFGS training aggregates gradient partials tree-wise (one pass
  * per iteration over the labeled SEED set, which is tiny relative to
  * the corpus), and scoring broadcasts the coefficient vector — the
  * 100 TB cost is exactly one scan. Determinism: LR on a fixed
  * dataset/partitioning is a pure function (no random init in
  * spark.ml's L-BFGS path), so the same seed set trains the same
  * coefficients on every run — pinned in QualityClassifierSpec.
  */
object QualityClassifier {

  /** The facet columns used as features (a stable order matters: the
    * coefficient vector is positional). */
  val FeatureCols: Seq[String] = Seq(
    "n_tokens_ws", "punct_ratio", "stopword_ratio", "mean_token_len")

  /** Row-local featurization: the [[TextAnalysis.qualityColumns]]
    * facets with nulls (empty docs) zero-filled, assembled into the
    * spark.ml vector column. */
  def featurize(df: DataFrame, textCol: String = "text"): DataFrame = {
    val facets = TextAnalysis.qualityColumns(col(textCol)).toMap
    val withFacets = FeatureCols.foldLeft(df) { (d, name) =>
      d.withColumn(name,
        coalesce(facets(name).cast("double"), lit(0.0)))
    }
    new VectorAssembler().setInputCols(FeatureCols.toArray)
      .setOutputCol("features").transform(withFacets)
  }

  /** Train on a labeled seed frame (`labelCol` ∈ {0.0, 1.0}). */
  def train(seed: DataFrame, labelCol: String = "label",
      textCol: String = "text", maxIter: Int = 50,
      regParam: Double = 0.01): LogisticRegressionModel =
    new LogisticRegression()
      .setMaxIter(maxIter).setRegParam(regParam)
      .setLabelCol(labelCol).setFeaturesCol("features")
      .fit(featurize(seed, textCol))

  /** Score a corpus: appends `quality_prob` (P(label=1)) and the
    * 0/1 `quality_pred`. Map-only — the model rides the closure. */
  def score(model: LogisticRegressionModel, df: DataFrame,
      textCol: String = "text"): DataFrame = {
    val probOf = udf((v: org.apache.spark.ml.linalg.Vector) => v(1))
    model.transform(featurize(df, textCol))
      .withColumn("quality_prob", probOf(col("probability")))
      .withColumn("quality_pred", col("prediction"))
      .drop("features", "rawPrediction", "probability", "prediction")
  }
}
