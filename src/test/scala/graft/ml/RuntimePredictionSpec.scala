package graft.ml

import graft.SparkSpec
import org.apache.spark.graft.ListenerBusAccess
import org.apache.spark.ml.{Model, Transformer}
import org.apache.spark.ml.evaluation.RegressionEvaluator
import org.apache.spark.ml.regression.{RandomForestRegressionModel, RandomForestRegressor}
import org.apache.spark.ml.tuning.{CrossValidator, CrossValidatorModel, ParamGridBuilder}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class RuntimePredictionSpec extends SparkSpec {
  import spark.implicits._

  // synthetic prediction dataset: runtime correlates with query length
  private lazy val synth = {
    val rng = new scala.util.Random(42)
    (1 to 120).map { i =>
      val nJoins = rng.nextInt(6)
      val sql = ("SELECT a, COUNT(*) FROM t " +
        (1 to nJoins).map(j => s"JOIN d$j ON t.k$j = d$j.k").mkString(" ") +
        " GROUP BY a")
      val runtime = 0.5 + nJoins * 2.0 + rng.nextGaussian() * 0.3
      (s"q$i", sql, math.max(runtime, 0.05))
    }.toDF("query_id", "SQL", "runtime_s")
  }

  private val dim = 8
  private lazy val emb = RuntimePrediction.flattenEmbedding(
    RuntimePrediction.meanPoolEmbedding(synth, "SQL", dim), dim)
  private lazy val feats =
    RuntimePrediction.buildFeatures(emb, dim).fit(emb).transform(emb).cache()

  /** Spark jobs that `body` launches, counted by a listener. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    ListenerBusAccess.drain(sc)
    sc.addSparkListener(l)
    try { body; ListenerBusAccess.drain(sc) } finally sc.removeSparkListener(l)
    n.get
  }

  private def predictionBits(m: Transformer, df: DataFrame): Seq[Long] =
    m.transform(df).orderBy("query_id").select("prediction").collect()
      .map(r => java.lang.Double.doubleToRawLongBits(r.getDouble(0))).toSeq

  /** The forest's trees, without the header line that names its uid. */
  private def treesOf(m: Any): List[String] =
    m.asInstanceOf[RandomForestRegressionModel].toDebugString.linesIterator.drop(1).toList

  test("mean-pool embedding is deterministic, fixed-width, bounded") {
    val emb = RuntimePrediction.meanPoolEmbedding(synth, "SQL", 8)
    val rows = emb.select("emb").collect().map(_.getSeq[Double](0))
    assert(rows.forall(_.length == 8))
    assert(rows.forall(_.forall(v => v >= -1.0 && v <= 1.0)))
    val again = RuntimePrediction.meanPoolEmbedding(synth, "SQL", 8)
      .select("emb").collect().map(_.getSeq[Double](0))
    assert(rows.zip(again).forall { case (a, b) => a == b })
  }

  test("end-to-end: embed -> assemble -> RF+CV predicts join count signal") {
    val Array(train, test) = feats.randomSplit(Array(0.8, 0.2), seed = 1L)
    val model = RuntimePrediction.trainRf(train, numFolds = 3,
      trees = Seq(20), depths = Seq(5)).fit(train)
    val pred = model.transform(test)
    val maeVal = RuntimePrediction.mae(pred, "prediction", "runtime_s")
      .head.getDouble(0)
    // baseline MAE (predicting the mean) is ~1.5; the model must beat it
    assert(maeVal < 1.2, s"MAE $maeVal too high — model learned nothing")
    val qe = RuntimePrediction.qerror(pred, "prediction", "runtime_s").head
    assert(qe.getAs[Double]("p50_qerr") >= 1.0)
    assert(qe.getAs[Double]("p99_qerr") >= qe.getAs[Double]("p50_qerr"))
  }

  test("a one-point grid fits once: the CV's model bit for bit, under half its jobs") {
    // the perfbench shape (7 rows, 2 folds, 10 trees, depth 4) and the
    // specs' shape (3 folds, 20 trees, depth 5)
    val small = feats.filter(col("query_id").isin((1 to 7).map(i => s"q$i"): _*)).cache()
    for ((train, folds, nTrees, depth) <- Seq((small, 2, 10, 4), (feats, 3, 20, 5))) {
      val est = RuntimePrediction.trainRf(train, numFolds = folds,
        trees = Seq(nTrees), depths = Seq(depth))
      assert(est.isInstanceOf[RandomForestRegressor], est.getClass.getName)
      // the reference: Spark's CrossValidator over the same grid
      val rf = new RandomForestRegressor()
        .setFeaturesCol("features").setLabelCol("runtime_s").setSeed(42L)
      val cv = new CrossValidator()
        .setEstimator(rf)
        .setEvaluator(new RegressionEvaluator()
          .setLabelCol("runtime_s").setPredictionCol("prediction").setMetricName("mae"))
        .setEstimatorParamMaps(new ParamGridBuilder()
          .addGrid(rf.numTrees, Seq(nTrees)).addGrid(rf.maxDepth, Seq(depth)).build())
        .setNumFolds(folds)
        .setSeed(42L)
      var one: Model[_] = null
      var ref: CrossValidatorModel = null
      val oneJobs = jobsOf { one = est.fit(train) }
      val cvJobs = jobsOf { ref = cv.fit(train) }
      assert(predictionBits(one, feats) == predictionBits(ref.bestModel, feats),
        s"$folds folds: predictions differ from the CV's")
      assert(treesOf(one) == treesOf(ref.bestModel), s"$folds folds: trees differ")
      assert(2 * oneJobs < cvJobs, s"$folds folds: one fit ran $oneJobs jobs, the CV $cvJobs")
      info(s"$folds folds, $nTrees trees, depth $depth: one fit $oneJobs jobs, CV $cvJobs")
    }
    small.unpersist()
  }

  test("a two-point grid still cross-validates") {
    val est = RuntimePrediction.trainRf(feats, numFolds = 2,
      trees = Seq(5), depths = Seq(2, 3))
    assert(est.isInstanceOf[CrossValidator], est.getClass.getName)
    assert(est.fit(feats).asInstanceOf[CrossValidatorModel].avgMetrics.length == 2)
  }

  test("trainRf and buildFeatures check their frame's schema, launch no job, name the fix") {
    def msg(f: => Any): String = intercept[IllegalArgumentException](f).getMessage
    def fit(df: DataFrame = feats, label: String = "runtime_s", folds: Int = 2,
        trees: Seq[Int] = Seq(5), depths: Seq[Int] = Seq(2)) =
      RuntimePrediction.trainRf(df, labelCol = label, numFolds = folds,
        trees = trees, depths = depths)
    feats.schema // build the frames outside the count
    val jobs = jobsOf {
      fit()
      RuntimePrediction.buildFeatures(emb, dim)
      assert(msg(fit(folds = 1)).contains("trainRf: numFolds must be >= 2, got 1"))
      assert(msg(fit(trees = Nil)).contains(
        "trainRf: trees is empty; pass at least one numTrees value"))
      assert(msg(fit(depths = Nil)).contains(
        "trainRf: depths is empty; pass at least one maxDepth value"))
      val noFeatures = "trainRf: train needs a vector column `features`; " +
        "make it with buildFeatures(df, embDim).fit(df).transform(df)"
      assert(msg(fit(df = emb)).contains(noFeatures))
      assert(msg(fit(df = feats.withColumn("features", lit(1.0)))).contains(noFeatures))
      assert(msg(fit(label = "SQL")).contains(
        "trainRf: train needs a numeric label column `SQL`"))
      assert(msg(fit(label = "runtime")).contains(
        "trainRf: train needs a numeric label column `runtime`"))
      assert(msg(RuntimePrediction.buildFeatures(synth, 2)).contains(
        "buildFeatures: df lacks emb_0, emb_1; make the emb_i columns with " +
          "flattenEmbedding(meanPoolEmbedding(df, textCol, 2), 2)"))
      assert(msg(RuntimePrediction.buildFeatures(emb, dim + 1)).contains(
        s"buildFeatures: df lacks emb_$dim;"))
      assert(msg(RuntimePrediction.buildFeatures(emb, dim,
        extraCols = Seq("runtime_s", "n_joins"))).contains(
        "buildFeatures: extraCols not in df: n_joins"))
    }
    assert(jobs == 0, s"the checks launched $jobs jobs")
  }

  test("PCA engages above the width threshold") {
    val dim = 6
    val emb = RuntimePrediction.flattenEmbedding(
      RuntimePrediction.meanPoolEmbedding(synth, "SQL", dim), dim)
    val wide = RuntimePrediction.buildFeatures(emb, dim, pcaThreshold = 4)
      .fit(emb).transform(emb)
    val width = wide.select("features").head
      .getAs[org.apache.spark.ml.linalg.Vector](0).size
    assert(width == 4, "PCA(4) should compress the text block")
  }

  test("expInvert undoes a log label") {
    val df = Seq(0.0, 1.0, 2.0).toDF("p")
    val out = RuntimePrediction.expInvert(df, "p")
      .collect().map(_.getDouble(0))
    assert(out.zip(Seq(1.0, math.E, math.E * math.E))
      .forall { case (a, b) => math.abs(a - b) < 1e-12 })
  }
}
