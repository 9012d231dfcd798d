package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ML scoring hook (SURVEY §2.15 M7), the engine-side shape of the reference's
  * churn loop (`ds-airflow-prod/business_logic/churn_prediction/logic.py:13-50`):
  * features from warehouse tables → fit → score → write the scores back.
  * The features (per-user aggregates, one shuffle) are computed once. The fit
  * minimises MLlib `LogisticRegression`'s objective by Newton's method on the
  * driver over at most [[SampleCap]] labeled rows chosen by a hash of `user_id`
  * (exact under the cap). At 100 TB the fit runs on that sample (the driver
  * holds cap × 5 doubles) while scoring, a plain Catalyst projection, streams
  * the full entity population.
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

  val FeatureCols: Array[String] = Array("recency_days", "n_events", "purchase_value", "n_errors")

  /** Most labeled rows the fit collects to the driver. */
  private[ml] val SampleCap = 100000

  /** The `cap` rows of `labeled` with the smallest `(xxhash64(user_id), user_id)`
    * as `label +: features`: one top-K job, the same rows for any partitioning. */
  private[ml] def labeledSample(labeled: DataFrame, cap: Int): Array[Array[Double]] =
    labeled.orderBy(xxhash64(col("user_id")), col("user_id"))
      .select(("label" +: FeatureCols).map(col(_).cast("double")): _*)
      .limit(cap).collect().map(r => Array.tabulate(r.length)(r.getDouble))

  /** `(intercept, coefficients)` minimising MLlib's objective (regParam 0.01) over
    * rows of `label +: features`: mean log-loss plus `0.01/2 · Σ (βⱼσⱼ)²`, σ the
    * sample standard deviation, the intercept unpenalised, β = 0 where σ = 0. */
  private[ml] def fit(rows: Array[Array[Double]]): (Double, Array[Double]) = {
    require(rows.nonEmpty, "churn fit: no labeled rows")
    val (n, k, y) = (rows.length, FeatureCols.length, rows.map(_(0)))
    val b00 = math.log(y.sum / (n - y.sum)) // ±∞ for one class: MLlib's answer, β = 0
    if (b00.isInfinite) return (b00, new Array(k))
    val mu = Array.tabulate(k)(j => rows.map(_(j + 1)).sum / n)
    val sd = Array.tabulate(k)(j =>
      math.sqrt(rows.map(r => math.pow(r(j + 1) - mu(j), 2)).sum / (n - 1)))
    // centred, standardized design with the intercept first, so w holds the
    // βⱼσⱼ the penalty reads; a constant feature is all zeros, as in MLlib
    val z = rows.map(r =>
      1.0 +: Array.tabulate(k)(j => if (sd(j) > 0) (r(j + 1) - mu(j)) / sd(j) else 0))
    def pen(a: Int) = if (a > 0) 0.01 else 0.0
    def mean(f: Int => Double) = { var s = 0.0; for (i <- 0 until n) s += f(i); s / n }
    def margins(w: Array[Double]) =
      z.map { zi => var m = 0.0; for (a <- w.indices) m += w(a) * zi(a); m }
    def objective(w: Array[Double]) = { val m = margins(w)
      mean(i => math.max(m(i), 0) + math.log1p(math.exp(-math.abs(m(i)))) - y(i) * m(i)) +
        w.indices.map(a => pen(a) / 2 * w(a) * w(a)).sum }
    var (w, moved) = (b00 +: new Array[Double](k), 1.0)
    for (_ <- 0 until 50 if moved > 1e-12) { // Newton, halving a step that rises
      val p = margins(w).map(m => 1 / (1 + math.exp(-m)))
      val g = Array.tabulate(k + 1)(a => mean(i => (p(i) - y(i)) * z(i)(a)) + pen(a) * w(a))
      val h = Array.tabulate(k + 1, k + 1)((a, b) =>
        mean(i => p(i) * (1 - p(i)) * z(i)(a) * z(i)(b)) + (if (a == b) pen(a) else 0))
      val step = solve(h, g); val f0 = objective(w)
      def at(t: Double) = w.indices.map(a => w(a) - t * step(a)).toArray
      val t = Iterator.iterate(1.0)(_ / 2).find(t => t < 1e-6 || objective(at(t)) <= f0).get
      w = at(t); moved = step.map(s => math.abs(t * s)).max
    }
    val beta = Array.tabulate(k)(j => if (sd(j) > 0) w(j + 1) / sd(j) else 0.0)
    (w(0) - beta.indices.map(j => beta(j) * mu(j)).sum, beta)
  }

  /** Solves `a · x = b` for a symmetric positive definite `a` by Gauss-Jordan
    * elimination, which needs no pivoting there; overwrites `a` and `b`. */
  private def solve(a: Array[Array[Double]], b: Array[Double]): Array[Double] = {
    for (p <- b.indices; r <- b.indices if r != p) {
      val f = a(r)(p) / a(p)(p)
      for (c <- p until b.length) a(r)(c) -= f * a(p)(c)
      b(r) -= f * b(p)
    }
    b.indices.map(r => b(r) / a(r)(r)).toArray
  }

  /** The full loop over `labels` (user_id, label): features → fit → score →
    * write back atomically. Returns the scores: user id, churn probability
    * and the class at MLlib's 0.5 threshold. */
  def churnScoresWriteback(events: DataFrame, labels: DataFrame, anchorDate: java.sql.Date,
      outputPath: String): DataFrame = {
    val features = churnFeatures(events, anchorDate).localCheckpoint()
    val (b0, beta) = fit(labeledSample(features.join(labels, "user_id"), SampleCap))
    val margin = FeatureCols.zip(beta).foldLeft(lit(b0)) { case (m, (c, b)) => m + col(c) * b }
    val scores = features.select(col("user_id"),
      (lit(1.0) / (lit(1.0) + exp(-margin))).as("churn_probability"),
      (margin > 0).cast("int").as("churn_predicted"))
    graft.io.Writers.fullRefresh(scores, outputPath)
    // the schema just written: reading it back starts no inference job
    scores.sparkSession.read.schema(scores.schema).parquet(outputPath)
  }
}
