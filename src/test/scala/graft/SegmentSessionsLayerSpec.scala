package graft

import graft.pipeline.{Catalog, RedshiftScript}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{functions => F}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Runs the reference's web/app traffic layer VERBATIM:
  * `/root/reference/Datawarehouse-ETL/31_segment_page_view_and_sessions/`
  * — all 26 scripts: the full-load CTAS chain (customer/url/device/consent
  * mappings → page views → marketing mapping → sessions → order mappings
  * → the segment∪snowplow union tables) and the 9 `_incremental`
  * variants, which exercise the high-water index-continuation idiom
  * (`COALESCE(last_page_view_index, 0) + ROW_NUMBER() …`,
  * `06_11_page_views_app_incremental.sql:79-82`) against the real text.
  *
  * Scripts run in DEPENDENCY order (the reference DAG's stage numbers,
  * with `06_04_snowplow_user_mapping.sql` after the 08 sessions scripts
  * it reads). Full loads create their own targets via DROP+CTAS; the one
  * pre-existing DELETE/INSERT target (`traffic.snowplow_user_mapping`)
  * is bootstrap-created from the script's own INSERT select. A second
  * full run must leave every target's count unchanged — the daily-rerun
  * property the incremental DELETE-window/INSERT pattern guarantees.
  */
class SegmentSessionsLayerSpec extends SparkSpec {

  private val layerDir =
    Paths.get("/root/reference/Datawarehouse-ETL/31_segment_page_view_and_sessions")
  private val Pinned = "2024-06-15"

  // reference DAG order: mappings → page views → marketing → sessions →
  // order mappings → snowplow_user_mapping (reads 08 outputs) → unions
  private val PhaseA1 = Seq(
    "06_00_customer_mapping.sql", "06_01_url_store_mapping.sql",
    "06_02_device_mapping.sql", "06_03_consent_mapping.sql",
    "06_10_page_views_app.sql", "06_page_views.sql",
    "08_10_sessions_app.sql",
    "08_sessions.sql", "09_00_order_event_mapping.sql",
    "09_01_order_user_mapping.sql")
  private val PhaseA2 = Seq(
    "06_04_snowplow_user_mapping.sql",
    "11_page_views_union.sql", "12_session_marketing_mapping_union.sql",
    "13_sessions_union.sql", "14_session_order_mapping_union.sql",
    "15_order_conversions_union.sql")
  private val PhaseA = PhaseA1 ++ PhaseA2
  private val PhaseB = Seq(
    "06_02_device_mapping_incremental.sql", "06_03_consent_mapping_incremental.sql",
    "06_11_page_views_app_incremental.sql", "06_page_views_incremental.sql",
    "08_11_sessions_app_incremental.sql",
    "08_sessions_incremental.sql", "14_session_order_mapping_incremental.sql",
    "15_order_conversions_incremental.sql")

  // Both 07_session_marketing_mapping variants are broken IN THE
  // REFERENCE: the first WHEN head of the channel CASE was deleted,
  // leaving `CASE` followed directly by `OR (b.page_url ilike …)`
  // (`07_session_marketing_mapping.sql:58-60`, same lines in the
  // incremental) — a syntax error on Redshift too. Their output table
  // pre-exists in the warehouse, so it stages as a fixture source here.
  private val BrokenInReference = Set(
    "07_session_marketing_mapping.sql",
    "07_session_marketing_mapping_incremental.sql")

  private val FixtureCols: Map[String, Seq[String]] = Map(
    "segment.page_events" -> Seq("anonymous_id", "user_id", "session_id",
      "event_id", "event_time", "loaded_at", "page_url", "page_path",
      "page_title", "page_type", "page_referrer", "properties", "store_id",
      "user_agent", "ip", "click_id", "marketing_medium", "marketing_source",
      "marketing_term", "marketing_content", "marketing_campaign"),
    "segment.identify_events" -> Seq("session_id", "event_time", "loaded_at",
      "user_agent", "device_type", "device_manufacturer", "traits"),
    "segment.track_events" -> Seq("session_id", "order_id", "event_time",
      "event_name", "loaded_at", "user_agent", "device_type",
      "device_manufacturer", "traits"),
    "segment.all_events" -> Seq("anonymous_id", "user_id", "platform",
      "event_id", "event_time", "loaded_at", "session_id", "session_start",
      "customer_id", "timestamp", "id", "src", "rn", "order_id",
      "context_actions_amplitude_session_id", "marketing_campaign",
      "marketing_content", "ip", "click_id", "timezone", "locale"),
    // ONLY the columns the scripts actually read from the app event
    // stream — padding it with sessions-table names would make
    // unqualified window PARTITION BY references ambiguous
    "react_native.screens" -> Seq("anonymous_id", "user_id", "id",
      "timestamp", "loaded_at", "context_actions_amplitude_session_id",
      "path", "slug", "store_id", "page_type", "locale",
      "search", "sku", "product_sku", "category", "category_name",
      "sub_category", "subcategory_name", "context_screen_width",
      "context_screen_height", "context_timezone", "context_ip",
      "context_device_manufacturer", "context_device_model",
      "context_device_type"),
    "react_native.order_submitted" -> Seq("context_actions_amplitude_session_id",
      "order_id", "timestamp"),
    "react_native.product_added_to_cart" -> Seq(
      "context_actions_amplitude_session_id", "order_id", "timestamp"),
    "master.customer" -> Seq("customer_id", "created_at",
      "start_date_of_first_subscription"),
    "master.order" -> Seq("order_id", "customer_id", "created_date",
      "submitted_date", "paid_date", "new_recurring", "voucher_code",
      "address_orders", "payment_orders"),
    "master.subscription" -> Seq("category_name", "subcategory_name"),
    "ods_production.order" -> Seq("order_id", "customer_id", "created_date",
      "submitted_date"),
    "ods_production.store" -> Seq("id", "store_label", "store_name",
      "store_name_normalized"),
    "marketing.marketing_cost_daily_facebook" -> Seq("campaign_name", "date"),
    "web.page_views_snowplow" -> Seq("root_id", "snowplow_user_id",
      "encoded_customer_id", "customer_id", "user_registration_date",
      "customer_acquisition_date", "customer_id_mapped", "session_id",
      "page_view_id", "page_view_date", "page_view_start", "page_view_end",
      "page_view_start_local", "page_view_end_local", "login_status",
      "time_engaged_in_s", "time_engaged_in_s_tier", "vertical_pixels_scrolled",
      "vertical_percentage_scrolled_tier", "user_bounced", "user_engaged",
      "page_url", "page_urlpath", "page_title", "page_type", "page_type_detail",
      "page_width", "page_height", "store_id", "store_name", "store_label",
      "referer_url", "referer_url_host", "referer_medium", "referer_source",
      "referer_term", "marketing_medium", "marketing_source", "marketing_term",
      "marketing_content", "marketing_campaign", "marketing_click_id",
      "marketing_network", "geo_country", "geo_region_name", "geo_city",
      "geo_zipcode", "geo_latitude", "geo_longitude", "geo_timezone",
      "ip_address", "platform", "os_family", "device", "device_type",
      "device_is_mobile"),
    "web.sessions_snowplow" -> Seq("snowplow_user_id", "encoded_customer_id",
      "customer_id", "session_id", "session_index", "page_view_index",
      "session_start", "session_end", "page_views", "bounced_page_views",
      "engaged_page_views", "time_engaged_in_s", "time_engaged_in_s_tier",
      "user_bounced", "user_engaged", "first_page_url", "is_qa_url",
      "is_voucher_join", "first_page_title", "first_page_type", "referer_url",
      "is_paid", "marketing_channel", "marketing_medium", "marketing_source",
      "marketing_term", "marketing_content", "marketing_campaign",
      "marketing_click_id", "marketing_network", "store_id", "store_label",
      "store_name", "geo_country", "geo_region_name", "geo_city", "geo_zipcode",
      "geo_latitude", "geo_longitude", "geo_timezone", "ip_address", "ip_isp",
      "ip_organization", "ip_domain", "ip_net_speed", "browser",
      "browser_language", "os", "os_timezone", "device", "device_type",
      "device_is_mobile"),
    "web.session_marketing_mapping_snowplow" -> Seq("session_id",
      "page_view_start", "marketing_medium", "marketing_campaign",
      "marketing_source", "marketing_term", "referer_url", "marketing_channel"),
    "scratch.session_order_event_mapping" -> Seq("session_id", "order_id",
      "collector_tstamp"),
    "scratch.session_order_url_mapping" -> Seq("session_id", "order_id",
      "etl_tstamp"),
    "scratch.session_order_sp_user_mapping" -> Seq("session_id", "order_id",
      "page_view_start"),
    "scratch.session_order_snowplow_user_mapping" -> Seq("session_id",
      "order_id", "session_date"),
    // pre-existing output of the broken-in-reference 07 scripts
    "segment.session_marketing_mapping_web" -> Seq("session_id",
      "anonymous_id", "customer_id", "session_start", "marketing_content",
      "marketing_medium", "marketing_campaign", "marketing_source",
      "marketing_term", "page_referrer", "marketing_channel"))

  // reference-shaped values where the generic row-index string won't do
  private val Overrides: Map[(String, String), org.apache.spark.sql.Column] = Map(
    ("segment.page_events", "properties") ->
      F.lit("""{"slug":"phones","product_sku":"SKU1"}"""),
    ("segment.page_events", "page_path") ->
      F.expr("element_at(array('/de-en/phones','/us-en/g/trending','/de/magic'), CAST(__id AS INT) + 1)"),
    ("segment.identify_events", "traits") -> F.lit(
      """{"cookie_consent":{"profiling":"true","performance":"false","functional":"true"},""" +
        """"device_brand":"apple","device_platform":"ios","device_type":"mobile"}"""),
    ("segment.track_events", "traits") -> F.lit(
      """{"device_brand":"samsung","device_platform":"android","device_type":"mobile"}"""),
    ("segment.track_events", "event_name") ->
      F.expr("element_at(array('Order Submitted','Order Completed','Page Viewed'), CAST(__id AS INT) + 1)"),
    ("segment.all_events", "platform") ->
      F.expr("element_at(array('web','web','android'), CAST(__id AS INT) + 1)"),
    // the segment sessions build this flag as a 0/1 INT — the snowplow
    // side must union-align with it
    ("web.sessions_snowplow", "is_voucher_join") ->
      F.expr("CAST(__id % 2 AS INT)"))

  private def isDateCol(c: String): Boolean =
    c == "date" || c == "timestamp" || c == "createddate" ||
      c.endsWith("_date") || c.endsWith("_at") || c.endsWith("tstamp") ||
      c.endsWith("_start") || c.endsWith("_end") || c.endsWith("_time") ||
      c == "start_date_of_first_subscription"

  private def isBoolCol(c: String): Boolean =
    c.startsWith("is_") || c == "user_bounced" || c == "user_engaged" ||
      c == "device_is_mobile"

  private def stage(name: String, cols: Seq[String]): Unit = {
    val fields = cols.map { c =>
      Overrides.get((name, c)).map(_.as(c)).getOrElse {
        if (isBoolCol(c)) (F.col("__id") % 2 === 0).as(c)
        else if (isDateCol(c))
          F.expr("timestampadd(DAY, CAST(__id * 37 AS INT), TIMESTAMP '2024-01-05 08:00:00')").as(c)
        else F.col("__id").cast("string").as(c)
      }
    }
    val df = spark.range(3).toDF("__id").select(fields: _*)
    val parts = name.split("\\.")
    Catalog.replaceTable(df, parts(0), parts(1))
  }

  private def norm(n: String): String = n.replace("\"", "").toLowerCase

  test("the whole 31_segment_page_view_and_sessions layer runs verbatim, twice") {
    assume(Files.exists(layerDir))
    def read(n: String): String =
      new String(Files.readAllBytes(layerDir.resolve(n)), java.nio.charset.StandardCharsets.UTF_8)
    val all = Files.list(layerDir).iterator().asScala
      .filter(_.toString.endsWith(".sql")).map(_.getFileName.toString).toSeq
    assert(all.toSet === (PhaseA ++ PhaseB ++ BrokenInReference).toSet,
      "layer roster drifted")

    FixtureCols.foreach { case (t, cols) => stage(t, cols) }
    val root = tempDir("graft-segment-layer")

    // an earlier layer suite in this shared session may have staged a
    // narrow fixture under the pre-existing target's name (harness
    // layers harvest `traffic.snowplow_user_mapping` with only the 3
    // columns THEY read) — the bootstrap below must own the shape
    spark.sql("DROP TABLE IF EXISTS traffic.snowplow_user_mapping")

    // the one pre-existing DELETE/INSERT target: bootstrap-create it from
    // the script's own INSERT select. Runs AFTER the 08 sessions scripts
    // the bootstrap's temp reads (its temp persists after the bootstrap
    // halts at the missing DELETE target).
    def ensureSnowplowUserMapping(): Unit =
      if (!spark.catalog.tableExists("traffic.snowplow_user_mapping")) {
        val snowUm = read("06_04_snowplow_user_mapping.sql")
        new RedshiftScript.Runner(spark, root, Some(Pinned)).run(snowUm)
        val insertSel = RedshiftScript.splitStatements(snowUm)
          .map(RedshiftScript.stripLeadingComments)
          .collectFirst {
            case RedshiftScript.InsertRe(name, cl, rawBody)
              if norm(name) == "traffic.snowplow_user_mapping" =>
              RedshiftScript.parseInsert(cl, rawBody)._2
          }.get
        Catalog.replaceTable(
          spark.sql(RedshiftScript.translate(insertSel, Some(Pinned))).limit(0),
          "traffic", "snowplow_user_mapping")
      }

    def runAll(names: Seq[String], tag: String): Set[String] = {
      val results = names.map { n =>
        (n, new RedshiftScript.Runner(spark, root, Some(Pinned)).run(read(n)))
      }
      results.filter(!_._2.ok).map { case (n, r) =>
        info(s"$tag FAILED $n: " + r.reports.filterNot(_.ok)
          .map(sr => s"[${sr.verb} ${sr.target.getOrElse("")}] ${sr.error.getOrElse("").take(300)}")
          .mkString("; "))
        n
      }.toSet
    }

    assert(runAll(PhaseA1, "FULL") === Set.empty)
    ensureSnowplowUserMapping()
    assert(runAll(PhaseA2, "FULL") === Set.empty)
    assert(runAll(PhaseB, "INCR") === Set.empty)

    // the main chain produced rows end-to-end
    val coreTargets = Seq(
      "segment.customer_mapping_web", "segment.url_store_mapping",
      "segment.device_mapping", "segment.page_views_web",
      "segment.session_marketing_mapping_web", "segment.sessions_web",
      "segment.session_order_event_mapping_web", "traffic.page_views",
      "traffic.sessions", "web.session_marketing_mapping",
      "traffic.session_order_mapping", "traffic.order_conversions")
    coreTargets.foreach(t =>
      assert(spark.table(t).count() > 0, s"$t empty after layer run"))

    // the index-continuation idiom: incremental page views continue from
    // the full load's high-water page_view_index, never reusing it
    val pvIdx = spark.table("segment.page_views_web")
      .groupBy("anonymous_id").agg(F.max("page_view_index").as("mx"),
        F.count(F.lit(1)).as("n"),
        F.countDistinct("page_view_index").as("nd"))
    assert(pvIdx.filter(F.col("nd") =!= F.col("n")).isEmpty,
      "page_view_index collided after the incremental run")

    // full + incremental rerun with the same pinned date is idempotent
    val allTargets = coreTargets ++ Seq("segment.page_views_app",
      "segment.sessions_app", "segment.cookie_consent",
      "traffic.snowplow_user_mapping")
    val counts = allTargets.map(t => t -> spark.table(t).count()).toMap
    assert(runAll(PhaseA, "FULL-RERUN") === Set.empty)
    assert(runAll(PhaseB, "INCR-RERUN") === Set.empty)
    assert(allTargets.map(t => t -> spark.table(t).count()).toMap === counts,
      "31_segment layer re-run was not idempotent")

    // LAST (their leading DROP deletes the staged mapping table): the two
    // broken-in-reference scripts must fail for the documented reason
    // (the decapitated CASE) — if this starts passing, the reference got
    // fixed and the roster above should absorb them
    BrokenInReference.foreach { n =>
      val r = new RedshiftScript.Runner(spark, root, Some(Pinned)).run(read(n))
      assert(!r.ok, s"$n unexpectedly ran — reference fixed?")
    }
  }
}
