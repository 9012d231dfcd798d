package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.ops.Ops

/** Runs the reference's recursive date dimension VERBATIM:
  * `bi-airflow-prod/dags/dim_dates/sql/dim_dates.sql` — a `WITH
  * RECURSIVE numbers(n)` spine (365 days from current_date), 13 derived
  * calendar attributes, and a self-referential high-water `INSERT INTO
  * public.dim_dates … WHERE datum > (SELECT max(datum) FROM
  * public.dim_dates)`. The table is referenced by ~150 reference files,
  * making this the single most-depended-on script in the corpus.
  *
  * Spark 4.1 executes the recursive CTE natively (`UnionLoop` in the
  * plan); the interpreter only pins `current_date` and routes
  * EXTRACT(DOW)/TO_CHAR through the Redshift-semantics shims. The
  * derived columns are then cross-checked against the engine's own
  * [[Ops.calendarAttributes]].
  */
class DimDatesSpec extends SparkSpec {

  private val script = Paths.get(
    "/root/reference/bi-airflow-prod/dags/dim_dates/sql/dim_dates.sql")
  private val Pinned = "2024-06-15"

  test("dim_dates.sql runs verbatim (recursive CTE) and appends idempotently") {
    assume(Files.exists(script))
    val text = new String(Files.readAllBytes(script), java.nio.charset.StandardCharsets.UTF_8)
    val layer = new LayerHarness.Layer(spark,
      Seq("dim_dates.sql" -> text), Some(Pinned), log = m => info(s"harness: $m"))
    val failures = layer.converge()
    println(layer.summaryJson("bi-airflow-prod/dim_dates", failures))
    failures.foreach { case (n, e) => info(s"FAILED $n: ${e.take(900)}") }
    assert(failures === Map.empty)

    // the reference's high-water append (`WHERE datum > (SELECT
    // max(datum) …)`) assumes a pre-populated warehouse table — over the
    // empty bootstrap, max() is NULL and nothing inserts (verbatim
    // Redshift behavior too). Seed one ancient row the way the real
    // warehouse pre-exists, then the append must fill the 365-day spine.
    assert(spark.table("public.dim_dates").count() === 0L)
    val seed = spark.table("dim_dates_temp").limit(1)
      .withColumn("datum", expr("date'1900-01-01'"))
    graft.pipeline.Catalog.replaceTable(seed, "public", "dim_dates")

    val root = tempDir("graft-dim-dates")
    assert(layer.runAll(root) === Map.empty)
    assert(spark.table("public.dim_dates").count() === 366L)

    // and the NEXT run appends nothing (idempotent high-water)
    assert(layer.runAll(root) === Map.empty)
    assert(spark.table("public.dim_dates").count() === 366L)
  }

  test("derived calendar columns match Ops.calendarAttributes") {
    assume(Files.exists(script))
    val dim = spark.table("public.dim_dates")
      .filter(col("datum") > lit("1901-01-01")) // exclude the seed row
    val cal = Ops.calendarAttributes(dim.select(col("datum")))
    val joined = dim.as("d").join(cal.as("c"), "datum")
    val bad = joined.filter(
      col("year_number") =!= col("year") ||
      col("qtr_number") =!= col("quarter") ||
      col("month_number") =!= col("month") ||
      col("year_week_number") =!= col("week_of_year") ||
      col("month_day_number") =!= col("day_of_month") ||
      col("week_day_number") =!= col("day_of_week") || // Redshift DOW 0=Sunday
      trim(col("d.month_name")) =!= col("c.month_name") ||
      trim(col("d.day_name")) =!= col("c.day_name") ||
      col("day_of_year") =!= dayofyear(col("datum")) ||
      col("day_is_weekday") =!= when(col("is_weekend"), 0).otherwise(1) ||
      col("day_is_first_of_month") =!= when(col("day_of_month") === 1, 1).otherwise(0))
    assert(bad.count() === 0L)

    // `week_number` is zero-padded 'YYYY-WW' of the same extracts
    val badWeek = dim.filter(
      col("week_number") =!= concat(
        col("year_number").cast("string"), lit("-"),
        lpad(col("year_week_number").cast("string"), 2, "0")))
    assert(badWeek.count() === 0L)

    // the reference's day_is_last_of_month flags only the PINNED month's
    // end (scalar subquery over month_end_dates) — verbatim means
    // reproducing exactly that
    val flagged = dim.filter(col("day_is_last_of_month") === 1)
      .select(col("datum").cast("string")).collect().map(_.getString(0))
    assert(flagged.toSeq === Seq("2024-06-30"))
  }
}
