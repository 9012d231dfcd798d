package graft.ml

import org.apache.spark.ml.classification.{LogisticRegression, LogisticRegressionModel}
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ML scoring hook (SURVEY §2.15 M7) — the engine-side shape of the
  * reference's churn-prediction loop
  * (`ds-airflow-prod/business_logic/churn_prediction/logic.py:13-50`):
  * build a feature frame from warehouse tables, fit/load a model, score,
  * and write the scores back as a table other queries join against.
  *
  * Spark-first: features are plain DataFrame aggregates (one shuffle on
  * the entity key), assembly is MLlib's `VectorAssembler`, the model is a
  * real `LogisticRegression` (distributed fit), and scoring is a
  * model.transform — no driver-side loops anywhere. At 100 TB the fit
  * runs on a sampled/recent window while transform streams the full
  * entity population; both are the same code path here.
  */
object Scoring {

  /** RFM-style churn features per user from the events stream: recency,
    * frequency, monetary, error exposure — the reference's feature set
    * shape (aggregates per entity, one hash shuffle).
    */
  def churnFeatures(events: DataFrame, anchorDate: java.sql.Date): DataFrame =
    events
      .groupBy(col("user_id"))
      .agg(
        datediff(lit(anchorDate), max(col("ts")).cast("date")).cast("double")
          .as("recency_days"),
        count(lit(1)).cast("double").as("n_events"),
        coalesce(
          sum(when(col("event_type") === "purchase", col("value"))), lit(0.0))
          .as("purchase_value"),
        coalesce(
          sum(when(col("event_type") === "error", 1.0)), lit(0.0)).as("n_errors"))

  val FeatureCols: Array[String] =
    Array("recency_days", "n_events", "purchase_value", "n_errors")

  /** Fit the churn model on a labeled feature frame (`label` ∈ {0,1}). */
  def fitChurnModel(labeled: DataFrame): LogisticRegressionModel = {
    val assembled = assembler.transform(labeled)
    new LogisticRegression()
      .setFeaturesCol("features")
      .setLabelCol("label")
      .setMaxIter(25)
      .setRegParam(0.01)
      .fit(assembled)
  }

  private def assembler: VectorAssembler =
    new VectorAssembler().setInputCols(FeatureCols).setOutputCol("features")

  /** Score a feature frame: entity id + churn probability + hard class.
    * The probability column is extracted from MLlib's vector so the
    * result is a plain relational table (joinable, writable).
    */
  def score(model: LogisticRegressionModel, features: DataFrame): DataFrame = {
    val p1 = udf((v: org.apache.spark.ml.linalg.Vector) => v(1))
    model
      .transform(assembler.transform(features))
      .select(
        col("user_id"),
        p1(col("probability")).as("churn_probability"),
        col("prediction").cast("int").as("churn_predicted"))
  }

  /** The full loop: features → fit (on the labeled slice) → score the
    * population → write scores back atomically. Returns the scores frame.
    */
  def churnScoresWriteback(
      events: DataFrame,
      labels: DataFrame, // (user_id, label)
      anchorDate: java.sql.Date,
      outputPath: String): DataFrame = {
    val features = churnFeatures(events, anchorDate)
    val model = fitChurnModel(features.join(labels, "user_id"))
    val scores = score(model, features)
    graft.io.Writers.fullRefresh(scores, outputPath)
    // the schema just written: reading it back starts no inference job
    scores.sparkSession.read.schema(scores.schema).parquet(outputPath)
  }
}
