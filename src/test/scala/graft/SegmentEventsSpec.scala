package graft

import graft.pipeline.{Catalog, RedshiftScript}
import org.apache.spark.sql.functions._

/** The reference's hottest incremental script —
  * `Datawarehouse-ETL/30_segment_events/01_track_events_incremental.sql` —
  * run through the interpreter: PartiQL/SUPER navigation
  * (`c."app"."build"::VARCHAR`), JSON_PARSE/IS_VALID_JSON, quoted
  * `"timestamp"` identifiers, a CTAS + BEGIN/DELETE USING/INSERT/UPDATE/END
  * transaction, and the `~` regex operator in the final projection.
  *
  * One documented patch: the reference file's `track_data` CTE has NO FROM
  * clause (both the full-load and incremental variants end the select list
  * at `… AS rn` and go straight to WHERE — the table reference was lost in
  * the reference repo itself; Redshift could not run the committed text
  * either). The spec injects `FROM segment.tracks_landing` at that spot and
  * runs the rest byte-for-byte.
  */
class SegmentEventsSpec extends SparkSpec {

  private def root(): String =
    tempDir("graft-segment")

  private val layerDir =
    java.nio.file.Paths.get("/root/reference/Datawarehouse-ETL/30_segment_events")

  /** Inject the landing-table FROM the reference files lost (see the class
    * doc); every script in the layer carries the identical defect.
    */
  private def patched(fileName: String): String = {
    val raw = java.nio.file.Files.readString(layerDir.resolve(fileName))
    if (!raw.contains("AS rn\nWHERE")) raw
    else raw.replace("AS rn\nWHERE", "AS rn\nFROM segment.tracks_landing\nWHERE")
  }

  private val ctx =
      """{"app":{"build":"411","name":"grover","namespace":"de.grover","version":"3.2"},
        |"device":{"id":"d1","manufacturer":"apple","model":"iphone14","name":"ip","type":"ios"},
        |"ip":"1.2.3.4","library":{"name":"analytics-swift","version":"1.5"},
        |"locale":"de-DE","network":{"cellular":"true","wifi":"false","bluetooth":"false","carrier":"o2"},
        |"os":{"name":"iOS","version":"17"},"protocols":{"sourceId":"src1"},
        |"screen":{"density":3.0,"height":2556,"width":1179},"timezone":"Europe/Berlin",
        |"page":{"path":"/p","referrer":"https://g.co/?utm_source=ebay_kleinanzeigen-web&utm_medium=cpc",
        |"search":"","title":"T","url":"https://grover.com/p?gclid=G123"},
        |"userAgent":"ua","traits":{"marketing_channel":"paid","marketing_consent":"true"},
        |"campaign":{"content":"cont","medium":"cpc","name":"camp","source":"ebay_kleinanzeigen-app","term":"t1"},
        |"session_id":"987654"}""".stripMargin.replaceAll("\n", "")
  private val props = """{"order_id":"o-1","store_id":7,"store_code":"de"}"""
  private val integ = """{"Actions Amplitude":{"session_id":"111222.5"}}"""

  /** One shared landing table feeds the whole layer — each script filters
    * its own event_type, as the reference's single Firehose landing does.
    */
  private def stageLanding(): Unit = {
    def row(anon: String, msg: String, userid: String, recv: String,
        etype: String, ename: String) =
      (anon, userid, msg, ename, ename, etype,
        java.sql.Timestamp.valueOf("2024-05-31 10:00:00"), integ, ctx, props,
        """{"email":"x@y.z","marketing_content":"tc"}""",
        java.sql.Timestamp.valueOf("2024-05-31 10:00:01"),
        java.sql.Timestamp.valueOf(recv), "2024", "05", "31")
    import spark.implicits._
    val landing = Seq(
      row("a1", "m1", "123.0", "2024-05-31 10:00:02", "track", "order_placed"),
      row("a1", "m1", "123.0", "2024-05-31 10:00:05", "track", "order_placed"), // later dup of m1 wins
      row("a2", "m2", "nan", "2024-05-31 10:01:02", "track", "order_placed"),
      row("a3", "m3", "None", "2024-05-31 10:02:02", "track", "order_placed"),
      row("a1", "p1", "123.0", "2024-05-31 10:03:02", "page", "page_viewed"),
      row("a2", "p2", "456.0", "2024-05-31 10:04:02", "page", "page_viewed"),
      row("a1", "i1", "123.0", "2024-05-31 10:05:02", "identify", "identify"),
      row("a3", "i2", "789.0", "2024-05-31 10:06:02", "identify", "identify"),
      row("a1", "s1", "123.0", "2024-05-31 10:07:02", "screen", "screen_viewed"),
      row("a2", "s2", "456.0", "2024-05-31 10:08:02", "screen", "screen_viewed")
    ).toDF("anonymous_id", "userid", "message_id", "name", "event_name", "event_type",
      "timestamp", "integrations", "context", "properties", "traits",
      "sent_at", "received_at", "year", "month", "day")
    Catalog.replaceTable(landing, "segment", "tracks_landing")
  }

  test("VERBATIM 01_track_events_incremental.sql runs (SUPER paths, txn DML) and dedups on rerun") {
    assume(java.nio.file.Files.exists(layerDir))
    val script = patched("01_track_events_incremental.sql")
    assert(script.contains("FROM segment.tracks_landing"), "reference defect shape changed")
    stageLanding()

    val layout = root()
    // the target table the script DELETEs from / INSERTs into: stand it up
    // empty with the script's own output schema by running its CTAS alone
    val runner0 = new RedshiftScript.Runner(spark, layout, Some("2024-06-01"))
    val stmts = RedshiftScript.splitStatements(script)
    val ctas = stmts.find(_.toUpperCase.contains("CREATE TEMP TABLE")).get
    assert(runner0.runStatement(ctas).ok)
    Catalog.replaceTable(
      spark.table("tmp_segment_track_events").limit(0), "segment", "track_events")

    val res = new RedshiftScript.Runner(spark, layout, Some("2024-06-01")).run(script)
    assert(res.ok, res.reports.filterNot(_.ok).mkString("; "))
    assert(res.reports.map(_.verb).count(_ == "UPDATE") === 2)

    val out = spark.table("segment.track_events").cache()
    assert(out.count() === 3) // m1 deduped to its latest received_at
    val m1 = out.filter(col("event_id") === "m1").collect()(0)
    assert(m1.getAs[String]("user_id") === "123") // split_part of '123.0', regex-guarded
    assert(m1.getAs[String]("app_build") === "411") // c."app"."build" navigation
    assert(m1.getAs[Long]("session_id") === 987654L) // c."session_id"::BIGINT
    assert(m1.getAs[String]("device_model") === "iphone14")
    assert(m1.getAs[Int]("screen_height") === 2556)
    assert(m1.getAs[String]("page_url").contains("gclid"))
    assert(m1.getAs[String]("click_id") === "G123") // url gclid extraction
    assert(m1.getAs[String]("order_id") === "o-1") // p."order_id" via props
    assert(m1.getAs[Int]("store_id") === 7)
    // the two post-INSERT UPDATEs inside the transaction
    assert(m1.getAs[String]("marketing_source") === "ebay_kleinanzeigen")
    val m2 = out.filter(col("event_id") === "m2").collect()(0)
    assert(m2.getAs[String]("user_id") === null) // 'nan' userid nulled
    assert(m2.getAs[Long]("session_id") === 987654L)
    out.unpersist()

    // rerun: DELETE USING clears the overlapping event_ids — no doubling
    val res2 = new RedshiftScript.Runner(spark, layout, Some("2024-06-01")).run(script)
    assert(res2.ok, res2.reports.filterNot(_.ok).mkString("; "))
    assert(spark.table("segment.track_events").count() === 3)
  }

  test("the WHOLE 30_segment_events layer runs verbatim: full loads, union, incrementals") {
    assume(java.nio.file.Files.exists(layerDir))
    stageLanding()
    val layout = root()
    def run(name: String): Unit = {
      val res = new RedshiftScript.Runner(spark, layout, Some("2024-06-01"))
        .run(patched(name))
      assert(res.ok, s"$name: " + res.reports.filterNot(_.ok).mkString("; "))
    }
    // phase 1: the full-load CTAS variants build the per-type tables,
    // then 05 unions identify+track+page into all_events
    Seq("01_track_events.sql", "02_page_events.sql", "03_identify_events.sql",
      "04_screen_events.sql", "05_all_events.sql").foreach(run)
    val perType = Map(
      "segment.track_events" -> 3L, "segment.page_events" -> 2L,
      "segment.identify_events" -> 2L, "segment.screen_events" -> 2L)
    perType.foreach { case (t, n) =>
      assert(spark.table(t).count() === n, s"$t row count")
    }
    val all = spark.table("segment.all_events").cache()
    assert(all.count() === 7) // identify(2) + track(3) + page(2); screen excluded
    assert(all.select("event_type").distinct().collect().map(_.getString(0)).toSet
      === Set("track", "page", "identify"))
    // the platform CASE over the navigated app_name
    assert(all.filter(col("platform") === "web").count() === 7) // fixture app is 'grover', not 'Grover'
    assert(all.filter(col("user_id") === 123).count() > 0) // ::INT cast applied
    all.unpersist()

    // phase 2: the incremental variants DELETE+INSERT the same day —
    // every per-type count and the union stay unchanged (idempotence)
    Seq("01_track_events_incremental.sql", "02_page_events_incremental.sql",
      "03_identify_events_incremental.sql", "04_screen_events_incremental.sql",
      "05_all_events_incremental.sql").foreach(run)
    perType.foreach { case (t, n) =>
      assert(spark.table(t).count() === n, s"$t after incremental")
    }
    assert(spark.table("segment.all_events").count() === 7)
  }
}
