package graft.ml

import graft.{SparkSpec, Tables}
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.ListenerBusDrain
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** The driver-side churn fit against MLlib's `LogisticRegression` (test
  * only: the engine no longer uses MLlib), the bounded fit sample, and the
  * Spark work one `churnScoresWriteback` starts.
  */
class ScoringSpec extends SparkSpec {

  private val anchor = java.sql.Date.valueOf("2024-07-01")
  private def events(sf: String) = Tables.read(spark, s"/root/testdata/$sf", "events")

  /** Features labelled `user_id % 4 = 0`, the benchmark's churn labels. */
  private def labeled(ev: DataFrame): DataFrame =
    Scoring.churnFeatures(ev, anchor)
      .withColumn("label", (col("user_id") % 4 === 0).cast("double"))

  /** MLlib's fit of the same objective: (intercept, coefficients, user_id →
    * (probability, class)).
    */
  private def mllib(df: DataFrame): (Double, Array[Double], Map[Long, (Double, Int)]) = {
    val assembled = new VectorAssembler()
      .setInputCols(Scoring.FeatureCols).setOutputCol("features").transform(df)
    val model = new LogisticRegression()
      .setMaxIter(25).setRegParam(0.01).fit(assembled)
    // scored on the driver: `transform` ships the model with its training
    // summary, which holds the session, and after other suites have used
    // the session that fails to serialize (its `ObservationManager`)
    val scored = assembled.select("user_id", "features").collect().map { r =>
      val v = r.getAs[Vector](1)
      r.getLong(0) -> (model.predictProbability(v)(1), model.predict(v).toInt)
    }.toMap
    (model.intercept, model.coefficients.toArray, scored)
  }

  /** The engine's loop over the same events and labels: its scores by user_id. */
  private def engine(ev: DataFrame, df: DataFrame): Map[Long, (Double, Int)] = {
    val out = Files.createTempDirectory("graft-scoring").toString + "/scores"
    Scoring.churnScoresWriteback(ev, df.select("user_id", "label"), anchor, out)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getInt(2))).toMap
  }

  /** Fits `ev`'s labeled features both ways and compares coefficients,
    * probabilities and classes; returns the engine's coefficients.
    */
  private def assertSameFit(ev: DataFrame, what: String): Array[Double] = {
    val df = labeled(ev)
    val (b0, beta, scored) = mllib(df)
    val (c0, gamma) = Scoring.fit(Scoring.labeledSample(df, Scoring.SampleCap))
    (b0 +: beta).zip(c0 +: gamma).foreach { case (want, got) =>
      assert(math.abs(got - want) <= 1e-4 * math.max(1.0, math.abs(want)),
        s"$what: engine ${(c0 +: gamma).mkString(", ")} vs MLlib ${(b0 +: beta).mkString(", ")}")
    }
    val ours = engine(ev, df)
    assert(ours.keySet === scored.keySet)
    scored.foreach { case (u, (p, cls)) =>
      assert(math.abs(ours(u)._1 - p) <= 1e-5, s"$what user $u: ${ours(u)._1} vs $p")
      assert(ours(u)._2 === cls, s"$what user $u")
    }
    gamma
  }

  test("the fit matches MLlib's LogisticRegression at sf0.001 and sf0.01") {
    Seq("sf0.001", "sf0.01").foreach(sf => assertSameFit(events(sf), sf))
  }

  test("a constant feature gets coefficient 0, as in MLlib") {
    // no error events: n_errors is 0 for every user
    val ev = events("sf0.01").withColumn("event_type",
      when(col("event_type") === "error", "other").otherwise(col("event_type")))
    assert(assertSameFit(ev, "sf0.01 without errors")(3) === 0.0)
  }

  test("single-class labels give MLlib's answer: infinite intercept, zero coefficients") {
    Seq(0.0 -> Double.NegativeInfinity, 1.0 -> Double.PositiveInfinity).foreach {
      case (label, intercept) =>
        val df = labeled(events("sf0.001")).withColumn("label", lit(label))
        val (b0, beta, scored) = mllib(df)
        assert(b0 === intercept && beta.forall(_ == 0.0))
        val (c0, gamma) = Scoring.fit(Scoring.labeledSample(df, Scoring.SampleCap))
        assert(c0 === intercept && gamma.forall(_ == 0.0))
        val ours = engine(events("sf0.001"), df)
        assert(ours.size === 15)
        assert(ours.values.forall(_ == (label, label.toInt)), ours)
        assert(scored.values.forall(_ == (label, label.toInt)), scored)
    }
  }

  test("the sample is the cap rows of smallest (xxhash64(user_id), user_id), for any partitioning") {
    val df = labeled(events("sf0.001"))
    val all = Scoring.labeledSample(df, 100).map(_.toSeq).toSeq
    assert(all.size === 15)
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    val samples =
      try Seq("1", "8", saved, saved).map { n =>
        spark.conf.set(key, n)
        Scoring.labeledSample(labeled(events("sf0.001")), 10).map(_.toSeq).toSeq
      } finally spark.conf.set(key, saved)
    samples.foreach(s => assert(s === all.take(10)))
  }

  test("churnScoresWriteback over sf0.01 starts at most 6 jobs and writes without a UDF") {
    val ev = events("sf0.01")
    val labels = ev.select("user_id").distinct()
      .withColumn("label", (col("user_id") % 4 === 0).cast("double"))
    val out = Files.createTempDirectory("graft-scoring").toString + "/scores"
    val sc = spark.sparkContext
    val jobs = new AtomicInteger()
    val jobListener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val plans = mutable.ArrayBuffer.empty[QueryExecution]
    val qeListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.synchronized(plans += qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    try {
      Scoring.churnScoresWriteback(ev, labels, anchor, out)
      ListenerBusDrain(sc)
    } finally {
      sc.removeSparkListener(jobListener)
      spark.listenerManager.unregister(qeListener)
    }
    info(s"${jobs.get()} jobs")
    assert(jobs.get() <= 6, s"${jobs.get()} jobs")
    val helper = new AdaptiveSparkPlanHelper {}
    val writes = plans.synchronized(plans.toList).map(_.executedPlan)
      .filter(p => helper.find(p)(_.isInstanceOf[DataWritingCommandExec]).isDefined)
    assert(writes.nonEmpty)
    writes.foreach { p =>
      assert(helper.find(p)(_.expressions.exists(_.exists(_.isInstanceOf[ScalaUDF]))).isEmpty,
        p.toString)
    }
  }
}
