package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.checks.Checks
import graft.io.Writers
import graft.ml.Scoring
import graft.pipeline.{Catalog, RedshiftScript}
import graft.streaming.{Ingest, Stateful}

/** The nightly layered rebuild. Pass p is run date 2024-02-01 + p (set-up
  * ingests day 0, so timed passes start at p = 1):
  *   1. ingest ticks: land that day's JSON-lines event files (with re-sent
  *      duplicates and late events) and drain them with
  *      `Ingest.jsonLinesToPartitionedParquet` (AvailableNow) into the
  *      date/hour-partitioned staging target, checked against the
  *      generator's expected event set after every tick;
  *   2. the `Stateful` entity fold over the day's staged events;
  *   3. Redshift-dialect scripts through `RedshiftScript.Runner`:
  *      staging → ODS CTAS (JSON extraction, ROW_NUMBER dedup), master
  *      UPDATE … FROM and MERGE INTO, historical BEGIN/DELETE/INSERT/COMMIT,
  *      mart CTAS with lateral-alias windows;
  *   4. `Checks.runFused` on the mart and the historical table;
  *   5. a `Writers.export` of the mart;
  *   6. `Scoring.churnScoresWriteback` over the staged events;
  *   7. the in-repo script queries q54, q55 and q62, each written to a
  *      real table with `Catalog.replaceTable`.
  */
final class RebuildWorkload(work: String) extends Workload {
  private val dir = s"$work/inputs/base"
  private val ticks = s"$work/inputs/ticks"
  private val landing = s"$work/stream/landing"
  private val target = s"$work/stream/target"
  private val checkpoint = s"$work/stream/checkpoint"
  private val layout = s"$work/layout"
  private val capture = s"$work/capture"
  private val day0 = LocalDate.of(2024, 2, 1)
  private val days = mutable.ArrayBuffer.empty[LocalDate]
  private var tick = 0

  /** cumulative expected target after each tick: (rows, sum of ids, sum of cents) */
  private lazy val expected: IndexedSeq[(Long, Long, Long)] = {
    val src = scala.io.Source.fromFile(s"$ticks/expected.csv")
    try src.getLines().map { l =>
      val Array(a, b, c) = l.split(",").map(_.toLong)
      (a, b, c)
    }.toIndexedSeq
    finally src.close()
  }

  /** Tables, and the stream's history. There is no warm-up: a nightly
    * rebuild runs in a fresh process every night, so its users pay the
    * cold JVM and code-generation cost in every run, and the timed pass
    * includes it.
    */
  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    Files.createDirectories(Paths.get(landing))
    def empty(schema: StructType): DataFrame =
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    ctx.guard("setup.tables") {
      Catalog.replaceTable(empty(RebuildWorkload.ProfileSchema), "bench_master", "user_profile")
      Catalog.replaceTable(
        empty(StructType(RebuildWorkload.ProfileSchema.dropRight(1)).add("snapshot_date", DateType)),
        "bench_hist", "user_profile_hist")
      Seq("bench_ods", "bench_mart", "bench_out").foreach(Catalog.ensureDatabase(spark, _))
    }
    // the stream's history: day 0's tick leaves a checkpoint, a watermark
    // and partitions, so the timed night (day 1) meets late events, drops
    // and a partition merge
    ctx.pass = 0
    ingestTick(ctx)
  }

  def pass(ctx: Ctx, p: Int): Unit = {
    val spark = ctx.spark
    val t = ctx.trace
    val day = day0.plusDays(p)
    days += day
    ingestTick(ctx)

    ctx.op("stateful.fold", "streaming")(fold(ctx, day))
    ctx.guard("stage.view")(spark.read.parquet(target).createOrReplaceTempView("stg_events"))
    script(ctx, "ods", RebuildWorkload.Ods, day)
    script(ctx, "master", RebuildWorkload.Master, day)
    script(ctx, "hist", RebuildWorkload.Hist, day)
    script(ctx, "mart", RebuildWorkload.Mart, day)

    val now = day.plusDays(1).atStartOfDay(java.time.ZoneOffset.UTC).toInstant
    Seq(
      "mart" -> ("bench_mart.user_value", RebuildWorkload.MartChecks),
      "hist" -> ("bench_hist.user_profile_hist", RebuildWorkload.HistChecks)
    ).foreach { case (name, (table, specs)) =>
      ctx.op(s"checks.$name", "checks") {
        val results = ctx.window("checks") {
          t.timed("checks.ms", "checks")(Checks.runFused(spark.table(table), specs, now))
        }
        results.filterNot(_.passed).foreach(r => System.err.println(s"[bench] check $table $r"))
        results.forall(_.passed)
      }
    }

    ctx.op("io.export", "io") {
      Writers.export(spark.table("bench_mart.user_value"), s"$work/export/user_value", 100)
      true
    }

    ctx.op("ml.churn", "ml") {
      val events = spark.read.parquet(target).select("user_id", "ts", "event_type", "value")
      val labels = events.select("user_id").distinct()
        .withColumn("label", (col("user_id") % 4 === 0).cast("double"))
      val scores = ctx.window("ml") {
        Scoring.churnScoresWriteback(events, labels, java.sql.Date.valueOf(day), s"$work/ml/churn_scores")
      }
      val r = scores.agg(count(lit(1)), min("churn_probability"), max("churn_probability")).head()
      r.getLong(0) == labels.count() && r.getDouble(1) >= 0.0 && r.getDouble(2) <= 1.0
    }

    QueriesWorkload.Scripts.toSeq.sorted.foreach { q =>
      ctx.op(q, "pipeline") {
        val df = SparkEntry.queries(q)(spark, dir)
        t.timed("pipeline.swap_ms", "pipeline")(Catalog.replaceTable(df, "bench_out", q))
        true
      }
      t.add(s"q.$q.ms", ctx.ops.last.ms)
    }
  }

  private def ingestTick(ctx: Ctx): Unit = {
    val n = tick
    tick += 1
    val t = ctx.trace
    ctx.op("ingest.tick", "streaming") {
      Files.move(Paths.get(f"$ticks/$n%05d/events.json"), Paths.get(f"$landing/$n%05d.json"),
        StandardCopyOption.ATOMIC_MOVE)
      val q = t.timed("streaming.start_ms", "streaming") {
        Ingest.jsonLinesToPartitionedParquet(ctx.spark, landing, RebuildWorkload.EventSchema,
          target, checkpoint, "event_id", "ts")
      }
      t.span("streaming.await", "streaming")(q.awaitTermination())
      if (t.on) {
        val progress = q.recentProgress
        def d(k: String): Double =
          progress.map(pr => Option(pr.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum
        t.add("streaming.batches", progress.length)
        t.add("streaming.planning_ms", d("queryPlanning"))
        t.add("streaming.add_batch_ms", d("addBatch"))
        t.add("streaming.wal_ms", d("walCommit") + d("commitOffsets"))
        t.set("streaming.rows_per_s",
          progress.map(_.numInputRows).sum / math.max(1e-3, d("triggerExecution") / 1000))
        val state = progress.flatMap(_.stateOperators)
        t.add("streaming.late_dropped_rows", state.map(_.numRowsDroppedByWatermark).sum)
        state.lastOption.foreach(s => t.set("streaming.state_rows", s.numRowsTotal))
      }
      t.span("ingest.check", "bench") {
        val r = ctx.spark.read.parquet(target)
          .agg(count(lit(1)), sum("event_id"), sum(round(col("value") * 100).cast("long")))
          .head()
        val (rows, ids, cents) = expected(n)
        val ok = r.getLong(0) == rows && r.getLong(1) == ids && r.getLong(2) == cents
        if (!ok) System.err.println(
          s"[bench] tick $n target ${(r.getLong(0), r.getLong(1), r.getLong(2))} expected ${expected(n)}")
        ok
      }
    }
  }

  private def fold(ctx: Ctx, day: LocalDate): Boolean = {
    import Stateful._
    val events = ctx.spark.read.parquet(target)
      .filter(col("date") === lit(java.sql.Date.valueOf(day)))
      .select(col("user_id").as("entityId"), col("event_type").as("eventType"), col("ts"), col("value"))
      .as[EntityEvent]
    val n = events.count()
    val r = Stateful.entityState(events).agg(sum("nEvents"), count(lit(1))).head()
    n > 0 && r.getLong(0) == n
  }

  private def script(ctx: Ctx, name: String, sql: String, day: LocalDate): Unit =
    ctx.guard(s"script.$name")(runScript(ctx, name, sql, day))

  private def runScript(ctx: Ctx, name: String, sql: String, day: LocalDate): Unit = {
    val t = ctx.trace
    if (t.on) t.timed("pipeline.translate_ms", "pipeline") {
      RedshiftScript.splitStatements(sql).foreach(s => RedshiftScript.translate(s, Some(day.toString)))
    }
    val runner = new RedshiftScript.Runner(ctx.spark, layout, Some(day.toString))
    val res = ctx.window(s"script.$name")(t.span(s"script.$name", "pipeline")(runner.run(sql)))
    res.reports.foreach { r =>
      val verb = RebuildWorkload.verbKey(r.verb)
      t.add("pipeline.statements", 1)
      t.add(s"pipeline.stmt_ms.$verb", r.seconds * 1000)
      r.error.foreach(e => System.err.println(s"[bench] $name ${r.verb}: ${e.take(400)}"))
      ctx.record(s"stmt.$verb", r.seconds * 1000, r.ok)
    }
    val want = RedshiftScript.splitStatements(sql).size
    if (res.reports.size < want) ctx.record(s"script.$name.halted", 0.0, ok = false)
  }

  def layerMetrics(ctx: Ctx, passWindows: Map[Int, (Long, Long)]): Unit =
    passWindows.keys.foreach { p =>
      val t = ctx.trace
      t.pass = p
      def in(key: String => Boolean) =
        ctx.windows.filter(w => w._1 == p && key(w._2)).map(w => (w._4 - w._3, ctx.probe.window(w._3, w._4)))
      t.set("pipeline.driver_ms", in(_.startsWith("script.")).map { case (ms, c) => ms - c.jobMs }.sum)
      t.set("checks.jobs", in(_ == "checks").map(_._2.jobs).sum)
      val ml = in(_ == "ml")
      val score = ml.map(_._2.writeMs).sum
      t.set("ml.score_ms", score)
      t.set("ml.fit_ms", ml.map(_._1).sum - score)
    }

  /** Untimed checks: the mart and historical layer against an independent
    * DataFrame-API computation from the staged events, and the script
    * queries' tables captured for the DuckDB oracle.
    */
  def verify(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val dates = days.toSeq.map(java.sql.Date.valueOf)
    lazy val ev = spark.read.parquet(target).filter(col("date").isin(dates: _*))
    ctx.check("verify.mart") {
      val perDay = ev.groupBy("user_id", "date")
        .agg(count(lit(1)).as("n"), sum("value").as("v"), max("ts").as("last_ts"))
        .withColumn("rk", row_number().over(Window.partitionBy("user_id").orderBy(col("date").desc)))
      val profile = perDay.groupBy("user_id").agg(
        sum("n").as("lifetime_events"), sum("v").as("lifetime_value"),
        max("last_ts").as("last_seen"), max(when(col("rk") === 1, col("n"))).as("last_day_events"))
      val cohort = Window.partitionBy("last_day_events")
      val want = profile
        .withColumn("value_dec", col("lifetime_value").cast("decimal(18,2)"))
        .withColumn("avg_value", col("value_dec") / col("lifetime_events"))
        .withColumn("cohort_value", sum("value_dec").over(cohort))
        .withColumn("cohort_rank",
          row_number().over(cohort.orderBy(col("value_dec").desc, col("user_id"))))
      val cols = Seq("user_id", "lifetime_events", "last_seen", "last_day_events",
        "value_dec", "avg_value", "cohort_value", "cohort_rank")
      val got = RebuildWorkload.canon(spark.table("bench_mart.user_value"), cols)
      val exp = RebuildWorkload.canon(want, cols)
      if (got != exp) {
        ctx.fail(s"mart bench_mart.user_value: ${got.size} rows, expected ${exp.size}; " +
          s"first difference ${got.diff(exp).headOption} vs ${exp.diff(got).headOption}")
      }
      got == exp
    }

    // one snapshot per run date, each holding every user seen by then
    lazy val hist = spark.table("bench_hist.user_profile_hist")
      .groupBy("snapshot_date").agg(count(lit(1)), sum("lifetime_events"))
      .collect().map(r => r.getDate(0).toString -> (r.getLong(1), r.getLong(2))).toMap
    days.foreach { d =>
      ctx.check(s"verify.hist.$d") {
        val upTo = ev.filter(col("date") <= lit(java.sql.Date.valueOf(d)))
          .agg(countDistinct("user_id"), count(lit(1))).head()
        val exp = (upTo.getLong(0), upTo.getLong(1))
        if (!hist.get(d.toString).contains(exp))
          ctx.fail(s"historical snapshot $d: ${hist.get(d.toString)} expected $exp")
        hist.get(d.toString).contains(exp)
      }
    }

    QueriesWorkload.Scripts.toSeq.sorted.foreach { q =>
      ctx.check(s"capture.$q") {
        spark.table(s"bench_out.$q").write.mode("overwrite").parquet(s"$capture/$q")
        true
      }
    }
  }
}

object RebuildWorkload {
  val EventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  val ProfileSchema: StructType = StructType(Seq(
    StructField("user_id", LongType), StructField("lifetime_events", LongType),
    StructField("lifetime_value", DoubleType), StructField("last_seen", TimestampType),
    StructField("last_day_events", LongType)))

  /** Statement verb as reported by the interpreter → metric suffix. */
  def verbKey(verb: String): String = verb.toUpperCase match {
    case v if v.startsWith("CREATE") && v.contains("TABLE") => "ctas"
    case v if v.startsWith("INSERT") => "insert"
    case v if v.startsWith("DELETE") => "delete"
    case v if v.startsWith("UPDATE") => "update"
    case v if v.startsWith("MERGE") => "merge"
    case v if v.startsWith("COMMIT") => "commit"
    case v if v.startsWith("BEGIN") => "begin"
    case v if v.startsWith("DROP") => "drop"
    case _ => "other"
  }

  /** Rows as sorted strings, numbers compared at 6 decimals. */
  def canon(df: DataFrame, cols: Seq[String]): Seq[String] =
    df.select(cols.map(col): _*).collect().toSeq.map { r =>
      cols.indices.map { i =>
        r.get(i) match {
          case null => "NULL"
          case d: java.math.BigDecimal => d.setScale(6, java.math.RoundingMode.HALF_UP).toPlainString
          case d: Double => f"$d%.6f"
          case v => v.toString
        }
      }.mkString("|")
    }.sorted

  val Ods: String =
    """DROP TABLE IF EXISTS bench_ods.events_day;
      |CREATE TABLE bench_ods.events_day AS
      |WITH parsed AS (
      |  SELECT event_id, user_id, event_type, ts, value,
      |    NULLIF(json_extract_path_text(props, 'k'), '') AS k
      |  FROM stg_events
      |  WHERE date BETWEEN current_date - 1 AND current_date
      |),
      |dedup AS (
      |  SELECT *,
      |    ROW_NUMBER() OVER (PARTITION BY event_id ORDER BY ts DESC) AS rn
      |  FROM parsed
      |)
      |SELECT event_id, user_id, event_type, ts, value, CAST(k AS INT) AS k
      |FROM dedup
      |WHERE rn = 1;""".stripMargin

  val Master: String =
    """DROP TABLE IF EXISTS bench_ods.user_day;
      |CREATE TABLE bench_ods.user_day AS
      |SELECT user_id,
      |  COUNT(*) AS n_events,
      |  SUM(value) AS total_value,
      |  MAX(ts) AS last_ts
      |FROM bench_ods.events_day
      |WHERE CAST(ts AS DATE) = current_date
      |GROUP BY user_id;
      |
      |UPDATE bench_master.user_profile
      |SET lifetime_events = lifetime_events + s.n_events,
      |  lifetime_value = lifetime_value + s.total_value,
      |  last_seen = s.last_ts
      |FROM bench_ods.user_day s
      |WHERE bench_master.user_profile.user_id = s.user_id;
      |
      |MERGE INTO bench_master.user_profile
      |USING bench_ods.user_day s
      |  ON bench_master.user_profile.user_id = s.user_id
      |WHEN MATCHED THEN UPDATE SET last_day_events = s.n_events
      |WHEN NOT MATCHED THEN INSERT VALUES
      |  (s.user_id, s.n_events, s.total_value, s.last_ts, s.n_events);""".stripMargin

  val Hist: String =
    """BEGIN;
      |
      |DELETE FROM bench_hist.user_profile_hist
      |WHERE snapshot_date = current_date;
      |
      |INSERT INTO bench_hist.user_profile_hist
      |SELECT user_id, lifetime_events, lifetime_value, last_seen,
      |  current_date AS snapshot_date
      |FROM bench_master.user_profile;
      |
      |COMMIT;""".stripMargin

  val Mart: String =
    """DROP TABLE IF EXISTS bench_mart.user_value;
      |CREATE TABLE bench_mart.user_value AS
      |SELECT user_id, lifetime_events, last_seen, last_day_events,
      |  CAST(lifetime_value AS DECIMAL(18,2)) AS value_dec,
      |  value_dec / lifetime_events AS avg_value,
      |  SUM(value_dec) OVER (PARTITION BY last_day_events) AS cohort_value,
      |  ROW_NUMBER() OVER (PARTITION BY last_day_events
      |    ORDER BY value_dec DESC, user_id) AS cohort_rank
      |FROM bench_master.user_profile;""".stripMargin

  val MartChecks: Seq[Checks.Spec] = Seq(
    Checks.RowCountSpec(1),
    Checks.UniqueSpec(Seq("user_id")),
    Checks.NotNullSpec(Seq("user_id", "value_dec", "last_seen")),
    Checks.FreshnessSpec("last_seen", 48),
    Checks.InvariantSpec("cohort_rank_positive", col("cohort_rank") >= 1))

  val HistChecks: Seq[Checks.Spec] = Seq(
    Checks.RowCountSpec(1),
    Checks.UniqueSpec(Seq("user_id", "snapshot_date")),
    Checks.ContinuitySpec("snapshot_date"))
}
