package graft.ml

import graft.GraftQuery
import graft.sources.Tables
import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.evaluation.RegressionEvaluator
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.regression.RandomForestRegressor
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** spark.ml capability parity with the reference's sklearn layer
  * (SURVEY §2.11, /root/reference/Data-Insights/train.py):
  * M1 VectorAssembler ≙ 6-feature assembly (train.py:37-38),
  * M2 randomSplit(0.8/0.2, seed 42) ≙ train_test_split (train.py:40),
  * M3 RandomForestRegressor(seed 42) ≙ sklearn RF (train.py:44),
  * M4 true RMSE — the reference prints MSE mislabeled "RMSE"
  *    (train.py:51-52, a reference bug SURVEY notes; we implement
  *    real RMSE), M5 single-row transform for serving.
  *
  * Training data here is the testdata analog of the S6 pull
  * (train.py:26-33): numeric lineitem features → price regression.
  */
object Predictor {

  val featureCols: Array[String] =
    Array("l_quantity", "l_discount", "l_tax", "l_linenumber")

  def trainingPull(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .select((featureCols.map(col).toIndexedSeq :+ col("l_extendedprice").as("label")): _*)
      .where(col("l_quantity") > 0 && col("l_extendedprice") > 0)

  case class FitResult(model: org.apache.spark.ml.PipelineModel, rmse: Double,
      nTrain: Long, nTest: Long)

  def fit(data: DataFrame, numTrees: Int = 200,
      features: Array[String] = featureCols): FitResult = {
    // persist the split once: fit, evaluate, and both counts otherwise
    // each re-run the source scan AND the split sampling
    val Array(train, test) = data.randomSplit(Array(0.8, 0.2), seed = 42)
      .map(_.persist())
    try {
      // a fixed uid: the assembler names its cast columns `<col>_double_<uid>`
      // and that name is spelled into the generated code of every plan over
      // its output, so a random uid made each fit compile new classes
      val assembler = new VectorAssembler("graft_vecAssembler")
        .setInputCols(features).setOutputCol("features")
      val rf = new RandomForestRegressor()
        .setNumTrees(numTrees).setSeed(42)
        .setLabelCol("label").setFeaturesCol("features")
      val model = new Pipeline().setStages(Array(assembler, rf)).fit(train)
      val preds = model.transform(test)
      val rmse = new RegressionEvaluator().setMetricName("rmse")
        .setLabelCol("label").setPredictionCol("prediction").evaluate(preds)
      FitResult(model, rmse, train.count(), test.count())
    } finally {
      train.unpersist()
      test.unpersist()
    }
  }

  /** M5: single-row inference, 2dp-rounded like Application.py:16-23. */
  def predictOne(model: org.apache.spark.ml.PipelineModel, spark: SparkSession,
      features: Map[String, Double]): Double = {
    import spark.implicits._
    val row = featureCols.map(c => features.getOrElse(c, 0.0))
    val df = Seq(Tuple4(row(0), row(1), row(2), row(3).toInt))
      .toDF(featureCols.toIndexedSeq: _*)
    val p = model.transform(df).select("prediction").head().getDouble(0)
    math.rint(p * 100) / 100
  }

  /** Rows-only query (model outputs aren't SQL-expressible): trains a
    * compact forest and emits the fit summary. Kept small (20 trees)
    * so Verify stays fast; the 200-tree reference-parity config is the
    * [[fit]] default, exercised in the ScalaTest suite at sf0.001. */
  val qMlFit: GraftQuery = GraftQuery.noOracle("q36_ml_rf_fit") { (s, d) =>
    import s.implicits._
    val r = fit(trainingPull(s, d), numTrees = 20)
    Seq((r.nTrain, r.nTest, r.rmse > 0, r.rmse.isFinite))
      .toDF("n_train", "n_test", "rmse_positive", "rmse_finite")
  }

  def all: Seq[GraftQuery] = Seq(qMlFit)
}
