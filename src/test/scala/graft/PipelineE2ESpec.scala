package graft

import graft.checks.Checks
import graft.io.Writers
import graft.ops.Ops
import graft.pipeline.Pipeline
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** The reference's full batch lifecycle (SURVEY §3.1) in miniature over the
  * fixture tables: ODS dedup → master entity state (MAX-CASE, as SQL text
  * like the reference's scripts) → daily historical snapshot → KPI mart →
  * monitoring checks. Exercises the spark.sql text path through the
  * pipeline runner, the snapshot writer, and the checks module together.
  */
class PipelineE2ESpec extends SparkSpec {

  test("ods → master → historical snapshot → mart, with invariants") {
    val dir = "/root/testdata/sf0.001"
    val base = tempDir("graft-e2e")
    val snapPath = s"$base/master_user_historical"

    val reports = Pipeline.run(spark, Seq(
      Pipeline.Stage("ods_events", s =>
        Ops.dedupLatest(
          Tables.events(s, dir),
          Seq(col("event_id")),
          Seq(col("ts").desc))),
      // master layer as SQL text — the reference's scripts are SQL; the
      // runner chains them through temp views
      Pipeline.Stage("master_user", s => s.sql(
        """SELECT user_id,
          |  MAX(CASE WHEN event_type = 'signup' THEN ts END) AS signup_at,
          |  MAX(CASE WHEN event_type = 'purchase' THEN ts END) AS last_purchase_at,
          |  SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2)) END) AS purchase_total,
          |  COUNT(*) AS n_events
          |FROM ods_events GROUP BY user_id""".stripMargin)),
      Pipeline.Stage("mart_daily_kpi", s => s.sql(
        """SELECT CAST(ts AS DATE) AS fact_date,
          |  COUNT(*) AS events,
          |  COUNT(DISTINCT user_id) AS active_users,
          |  SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2)) ELSE 0 END) AS revenue
          |FROM ods_events GROUP BY 1""".stripMargin),
        materializePath = Some(s"$base/mart_daily_kpi"))
    ))
    assert(reports.forall(_.ok), reports.mkString("; "))

    // historical layer: two daily snapshots of the master entity
    val master = spark.table("master_user")
    Writers.snapshotAppend(master, snapPath, java.time.LocalDate.parse("2024-01-30"))
    Writers.snapshotAppend(master, snapPath, java.time.LocalDate.parse("2024-01-31"))
    val hist = spark.read.parquet(snapPath)

    // the reference's monitoring invariants (SURVEY §5)
    assert(Checks.unique(hist, Seq("user_id", "snapshot_date")).passed)
    assert(Checks.dateContinuity(hist, "snapshot_date").passed)
    assert(Checks.rowCount(hist, master.count() * 2, master.count() * 2).passed)
    assert(Checks.notNull(spark.table("mart_daily_kpi"), Seq("fact_date", "events")).passed)
    assert(Checks.invariant(spark.table("mart_daily_kpi"), "revenue >= 0",
      col("revenue") >= 0).passed)

    // mart numbers reconcile with the master layer
    val martRevenue = spark.table("mart_daily_kpi")
      .agg(sum(col("revenue"))).collect()(0).getDecimal(0)
    val masterRevenue = master
      .agg(sum(col("purchase_total"))).collect()(0).getDecimal(0)
    assert(martRevenue.compareTo(masterRevenue) === 0)
  }

  test("catalog layering: qualified schema.table names resolve across layers") {
    import graft.pipeline.Catalog
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    Catalog.saveTable(events.limit(100), "ods_production", "events_sample")
    val master = spark.sql(
      """SELECT user_id, COUNT(*) AS n FROM ods_production.events_sample GROUP BY user_id""")
    Catalog.saveTable(master, "master", "user_activity")
    val out = Catalog.table(spark, "master", "user_activity")
    assert(out.agg(sum(col("n"))).collect()(0).getLong(0) === 100L)
    assert(spark.catalog.tableExists("ods_production.events_sample"))
  }

  test("runSqlDir executes numbered scripts in order with view chaining") {
    val dir = java.nio.file.Paths.get(tempDir("graft-sqldir"))
    Tables.events(spark, "/root/testdata/sf0.001").createOrReplaceTempView("stg_events")
    val mart = dir.resolve("out_mart")
    Files.writeString(dir.resolve("00_ods.sql"),
      """SELECT user_id, event_type, ts, CAST(value AS DECIMAL(18,2)) AS value
        |FROM stg_events WHERE is_valid_json(props)""".stripMargin)
    Files.writeString(dir.resolve("10_master.sql"),
      """SELECT user_id, COUNT(*) AS n, SUM(value) AS total
        |FROM ods GROUP BY user_id""".stripMargin)
    Files.writeString(dir.resolve("20_mart.sql"),
      s"""-- target: $mart
         |SELECT COUNT(*) AS n_users, SUM(total) AS grand_total FROM master""".stripMargin)
    val reports = Pipeline.runSqlDir(spark, dir.toString)
    assert(reports.map(r => (r.name, r.ok)) ===
      Seq(("ods", true), ("master", true), ("mart", true)))
    val out = spark.read.parquet(mart.toString).collect()(0)
    assert(out.getLong(0) === 15L)
  }
}
