package graft

import graft.checks.Checks
import graft.io.Writers
import java.nio.file.Files
import org.apache.spark.sql.functions._

class WritersChecksSpec extends SparkSpec {
  import sqlImplicits._

  private def tmp(): String = tempDir("graft-test")

  test("overwritePartitions replaces only the partitions present (idempotent rerun)") {
    val path = tmp() + "/t"
    val day1 = Seq((1, "2024-01-01"), (2, "2024-01-02")).toDF("id", "d")
    Writers.overwritePartitions(day1, path, Seq("d"))
    // reload only day 2 with new data — day 1 must survive
    val day2 = Seq((99, "2024-01-02")).toDF("id", "d")
    Writers.overwritePartitions(day2, path, Seq("d"))
    Writers.overwritePartitions(day2, path, Seq("d")) // rerun: idempotent
    // partition column comes back type-inferred (date) — stringify to compare
    val out = spark.read.parquet(path).collect()
      .map(r => (r.getInt(0), r.get(1).toString)).sorted.toSeq
    assert(out === Seq((1, "2024-01-01"), (99, "2024-01-02")))
  }

  test("snapshotAppend stamps and isolates snapshot dates") {
    val path = tmp() + "/snap"
    val master = Seq((1, "a"), (2, "b")).toDF("id", "v")
    Writers.snapshotAppend(master, path, java.time.LocalDate.parse("2024-01-01"))
    Writers.snapshotAppend(master.withColumn("v", lit("changed")), path,
      java.time.LocalDate.parse("2024-01-02"))
    val df = spark.read.parquet(path)
    assert(df.count() === 4)
    assert(df.filter(col("snapshot_date") === "2024-01-02")
      .select("v").distinct().collect().map(_.getString(0)).toSeq === Seq("changed"))
    // uniqueness invariant per (id, snapshot_date) — the reference's
    // master_duplicates monitor
    assert(Checks.unique(df, Seq("id", "snapshot_date")).passed)
  }

  test("atomicSwap: data always present in target-or-backup; failed swap rolls back; no leftovers") {
    val base = tmp()
    val path = base + "/t"
    Seq((1, "v1")).toDF("k", "v").write.parquet(path)
    // successful swap replaces contents and cleans tmp + backup
    val tmpDir = path + "__tmp"
    Seq((2, "v2")).toDF("k", "v").write.parquet(tmpDir)
    Writers.atomicSwap(spark, tmpDir, path)
    assert(spark.read.parquet(path).collect().map(_.getString(1)).toSeq === Seq("v2"))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path + "__tmp")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path + "__old")))
    // missing swap source: rejected up front, target untouched
    intercept[IllegalArgumentException] {
      Writers.atomicSwap(spark, base + "/nonexistent", path)
    }
    assert(spark.read.parquet(path).collect().map(_.getString(1)).toSeq === Seq("v2"))
    // a leftover backup from a crashed earlier swap is cleaned, not fatal
    Seq((9, "stale")).toDF("k", "v").write.parquet(path + "__old")
    Seq((3, "v3")).toDF("k", "v").write.parquet(tmpDir)
    Writers.atomicSwap(spark, tmpDir, path)
    assert(spark.read.parquet(path).collect().map(_.getString(1)).toSeq === Seq("v3"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path + "__old")))
  }

  test("view + materialized view: definition persists, refresh swaps in new data") {
    import graft.pipeline.Catalog
    Catalog.replaceTable(
      Seq((1, 10.0), (2, 20.0)).toDF("id", "v"), "rs_mv", "src")
    // plain view recomputes per query
    Catalog.createOrReplaceView(spark, "rs_mv.v_sum",
      "SELECT CAST(SUM(v) AS DOUBLE) AS total FROM rs_mv.src")
    assert(spark.table("rs_mv.v_sum").collect()(0).getDouble(0) === 30.0)
    // materialized view is frozen until refreshed
    val mvPath = tmp() + "/mv_sum"
    val mvSql = "SELECT CAST(SUM(v) AS DOUBLE) AS total FROM rs_mv.src"
    Catalog.createMaterializedView(spark, "rs_mv.mv_sum", mvSql, spark.sql(mvSql), mvPath)
    assert(spark.table("rs_mv.mv_sum").collect()(0).getDouble(0) === 30.0)
    Catalog.replaceTable(
      Seq((1, 10.0), (2, 20.0), (3, 30.0)).toDF("id", "v"), "rs_mv", "src")
    assert(spark.table("rs_mv.v_sum").collect()(0).getDouble(0) === 60.0) // view follows
    assert(spark.table("rs_mv.mv_sum").collect()(0).getDouble(0) === 30.0) // MV frozen
    Catalog.refreshMaterializedView(spark, "rs_mv.mv_sum")
    assert(spark.table("rs_mv.mv_sum").collect()(0).getDouble(0) === 60.0)
  }

  test("runFused evaluates all checks in one aggregate job, matching individual results") {
    import sqlImplicits._
    val df = Seq(
      (1, "2024-01-01", "x", 5.0), (2, "2024-01-02", "y", 6.0),
      (3, "2024-01-03", null, 7.0), (3, "2024-01-03", "z", -1.0))
      .toDF("id", "d", "s", "v").withColumn("d", col("d").cast("date"))
    val now = java.time.Instant.parse("2024-01-04T00:00:00Z")
    val specs = Seq(
      Checks.RowCountSpec(1),
      Checks.UniqueSpec(Seq("id")),
      Checks.NotNullSpec(Seq("s")),
      Checks.ContinuitySpec("d"),
      Checks.InvariantSpec("v_positive", col("v") > 0))
    def countJobs(body: => Seq[Boolean]): (Int, Seq[Boolean]) = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        val r = body
        Thread.sleep(500) // let the listener bus drain
        (jobs.get(), r)
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    val (fusedJobs, fused) = countJobs(Checks.runFused(df, specs, now).map(_.passed))
    val (indivJobs, indiv) = countJobs(Seq(
      Checks.rowCount(df, 1).passed,
      Checks.unique(df, Seq("id")).passed,
      Checks.notNull(df, Seq("s")).passed,
      Checks.dateContinuity(df, "d").passed,
      Checks.invariant(df, "v_positive", col("v") > 0).passed))
    // one QUERY for all five checks (AQE may stage it into 2-3 jobs) vs
    // five separate queries on the individual path
    assert(fusedJobs < indivJobs, s"fused=$fusedJobs individual=$indivJobs")
    assert(fused === indiv)
    assert(fused === Seq(true, false, false, true, false))
  }

  test("checks: rowCount, unique, notNull, continuity, invariant, freshness") {
    val df = Seq((1, "2024-01-01"), (2, "2024-01-02"), (3, "2024-01-03"))
      .toDF("id", "d").withColumn("d", col("d").cast("date"))
    assert(Checks.rowCount(df, 1).passed)
    assert(!Checks.rowCount(df, 10).passed)
    assert(Checks.unique(df, Seq("id")).passed)
    assert(!Checks.unique(df.union(df), Seq("id")).passed)
    assert(Checks.notNull(df, Seq("id", "d")).passed)
    assert(Checks.dateContinuity(df, "d").passed)
    assert(!Checks.dateContinuity(df.filter(col("id") =!= 2), "d").passed)
    assert(Checks.invariant(df, "positive ids", col("id") > 0).passed)
    assert(!Checks.invariant(df, "ids over 1", col("id") > 1).passed)
    val ts = Seq("2024-01-01 00:00:00").toDF("t").withColumn("t", col("t").cast("timestamp"))
    assert(Checks.freshness(ts, "t", maxAgeHours = 48,
      java.time.Instant.parse("2024-01-02T00:00:00Z")).passed)
    assert(!Checks.freshness(ts, "t", maxAgeHours = 1,
      java.time.Instant.parse("2024-01-09T00:00:00Z")).passed)
  }

  test("Soda-style YAML checks interpret and evaluate against tables") {
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val yaml =
      """checks for events:
        |  - freshness(ts) < 30d
        |  - row_count > 10
        |  - unique(event_id)
        |  - not_null(user_id, event_type)
        |  - bogus_check(x)
        |""".stripMargin
    val results = Checks.fromYaml(yaml, _ => events,
      java.time.Instant.parse("2024-02-05T00:00:00Z"))
    assert(results.length === 5)
    val byName = results.map(r => r.name -> r.passed).toMap
    assert(byName("events: freshness(ts)") === true) // data ends 2024-01-30
    assert(byName("events: row_count") === true)
    assert(byName("events: unique(event_id)") === true)
    assert(byName("events: not_null(user_id,event_type)") === true)
    assert(byName("events: bogus_check(x)") === false) // unknown syntax fails loud
    // stale `now` flips freshness
    val stale = Checks.fromYaml("checks for events:\n  - freshness(ts) < 1d\n",
      _ => events, java.time.Instant.parse("2025-01-01T00:00:00Z"))
    assert(!stale.head.passed)
  }

  test("pipeline runner chains temp views and honors continueOnError") {
    import graft.pipeline.Pipeline
    val path = tmp() + "/stage"
    val reports = Pipeline.run(spark, Seq(
      Pipeline.Stage("src_nums", s => s.range(10).toDF("n")),
      Pipeline.Stage("doubled", s => s.sql("SELECT n * 2 AS n2 FROM src_nums"),
        materializePath = Some(path)),
      Pipeline.Stage("boom", s => s.sql("SELECT * FROM does_not_exist")),
      Pipeline.Stage("after_boom", s => s.sql("SELECT COUNT(*) AS c FROM doubled"))
    ))
    assert(reports.map(_.ok) === Seq(true, true, false, true))
    assert(spark.sql("SELECT SUM(n2) FROM doubled").collect()(0).getLong(0) === 90L)
  }
}
