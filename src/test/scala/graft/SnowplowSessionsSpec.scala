package graft

import graft.pipeline.{Catalog, RedshiftScript}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{functions => F}

/** SURVEY §7.3's canonical vertical slice run VERBATIM:
  * `7_snowplow/2_sessions/01_sessions.sql` — DISTKEY/SORTKEY DDL, the
  * page-view → session rollup, the full TO_CHAR format battery
  * (`YYYY-MM-DD HH24:MI:SS` down to `'d'`), `DATE_PART(Y, …)` /
  * `DATE_PART(hour, …)` bare units, and the Monday-indexed day-of-week
  * hand-fix `MOD(EXTRACT(DOW FROM ts)::INTEGER - 1 + 7, 7)` (`:47`).
  */
class SnowplowSessionsSpec extends SparkSpec {

  private val path = Paths.get(
    "/root/reference/Datawarehouse-ETL/7_snowplow/2_sessions/01_sessions.sql")

  test("7_snowplow/2_sessions/01_sessions.sql runs verbatim, twice") {
    assume(Files.exists(path))
    val script = new String(Files.readAllBytes(path), java.nio.charset.StandardCharsets.UTF_8)
    import sqlImplicits._

    // one page view per session; engagement seconds pick distinct tiers
    val pv = Seq(
      ("u0", "s0", "2024-03-04 10:00:00", 5, true, false),   // Monday
      ("u1", "s1", "2024-03-08 22:30:00", 65, false, true),  // Friday
      ("u2", "s2", "2024-03-10 07:15:00", 300, false, true)) // Sunday
      .toDF("snowplow_user_id", "session_id", "ts", "time_engaged_in_s",
        "user_bounced", "user_engaged")
      .withColumn("page_view_start", $"ts".cast("timestamp"))
      .withColumn("page_view_end",
        F.expr("page_view_start + INTERVAL 2 MINUTES"))
      .withColumn("page_view_start_local", $"page_view_start")
      .withColumn("page_view_end_local", $"page_view_end")
      .withColumn("page_view_in_session_index", F.lit(1))
      .withColumn("session_index", F.lit(1))
      .withColumn("page_view_index", F.lit(1))
      .withColumn("encoded_customer_id", F.lit(null).cast("string"))
      .withColumn("customer_id", $"snowplow_user_id")
      .withColumn("page_url",
        F.when($"session_id" === "s1", "https://x.example/join%20now")
          .otherwise("https://x.example/de-en/phones"))
      .withColumn("page_title", F.lit("title"))
      .withColumn("page_type", F.lit("category"))
      .withColumn("page_type_detail", F.lit("Phones"))
      .withColumn("marketing_content", F.lit("mc"))
      .withColumn("marketing_click_id", F.lit("ck"))
      .withColumn("marketing_network", F.lit("mn"))
      .withColumn("store_id", F.lit("1"))
      .withColumn("store_label", F.lit("grover-de"))
      .withColumn("store_name", F.lit("Grover DE"))
      .withColumn("geo_country", F.lit("DE"))
      .withColumn("geo_region_name", F.lit("BE"))
      .withColumn("geo_city", F.lit("Berlin"))
      .withColumn("geo_zipcode", F.lit("10115"))
      .withColumn("geo_latitude", F.lit("52.5"))
      .withColumn("geo_longitude", F.lit("13.4"))
      .withColumn("geo_timezone", F.lit("Europe/Berlin"))
      .withColumn("ip_address", F.lit("10.0.0.1"))
      .withColumn("ip_isp", F.lit("isp"))
      .withColumn("ip_organization", F.lit("org"))
      .withColumn("ip_domain", F.lit("dom"))
      .withColumn("ip_net_speed", F.lit("fast"))
      .withColumn("browser_family", F.lit("Firefox"))
      .withColumn("platform", F.lit("web"))
      .withColumn("browser_language", F.lit("de"))
      .withColumn("os_family", F.lit("Linux"))
      .withColumn("os_timezone", F.lit("Europe/Berlin"))
      .withColumn("device", F.lit("PC"))
      .withColumn("device_type", F.lit("computer"))
      .withColumn("device_is_mobile", F.lit(false))
      .drop("ts")
    Catalog.replaceTable(pv, "web", "page_views_snowplow")

    Catalog.replaceTable(
      Seq(("s0", true, "Paid Search", "cpc", "google", "camp", "term", "ref"),
        ("s1", false, "Others", "organic", "bing", "c2", "t2", "r2"))
        .toDF("session_id", "is_paid", "marketing_channel", "marketing_medium",
          "marketing_source", "marketing_campaign", "marketing_term", "referer_url"),
      "web", "session_marketing_mapping_snowplow")

    val root = tempDir("graft-snowplow")
    val res = new RedshiftScript.Runner(spark, root, Some("2024-06-15")).run(script)
    assert(res.ok, res.reports.filterNot(_.ok).mkString("; "))

    val out = spark.table("web.sessions_snowplow").cache()
    assert(out.count() === 3)
    val s0 = out.filter(F.col("session_id") === "s0").collect()(0)
    assert(s0.getAs[String]("time_engaged_in_s_tier") === "0s to 9s")
    assert(s0.getAs[Boolean]("user_bounced")) // 1 page view, bounced
    assert(s0.getAs[String]("marketing_channel") === "Paid Search")
    assert(s0.getAs[Boolean]("is_paid"))
    assert(s0.getAs[java.sql.Timestamp]("session_start").toString
      .startsWith("2024-03-04 10:00"))
    assert(s0.getAs[Long]("page_views") === 1L)
    val s1 = out.filter(F.col("session_id") === "s1").collect()(0)
    assert(s1.getAs[String]("time_engaged_in_s_tier") === "60s to 119s")
    assert(s1.getAs[Integer]("is_voucher_join") === 1) // %/join% url
    assert(s1.getAs[String]("marketing_channel") === "Other") // Others folds
    assert(s1.getAs[Boolean]("user_engaged"))
    val s2 = out.filter(F.col("session_id") === "s2").collect()(0)
    assert(s2.getAs[String]("time_engaged_in_s_tier") === "240s or more")
    assert(s2.getAs[String]("marketing_channel") === "n/a") // no mapping row
    assert(!s2.getAs[Boolean]("is_qa_url"))
    out.unpersist()

    // the TO_CHAR battery + DOW hand-fix live in the `sums` CTE (the
    // final select drops them); pin their semantics on the same input —
    // `MOD(EXTRACT(DOW FROM ts)::INTEGER - 1 + 7, 7)` Monday-indexes a
    // Monday/Friday/Sunday as 0/4/6, and 'd'/'HH24' formats render
    val fmt = spark.sql(RedshiftScript.translate(
      """SELECT TO_CHAR(t, 'YYYY-MM-DD HH24:MI:SS') a,
        |  TO_CHAR(DATE_TRUNC('quarter', t), 'YYYY-MM') q,
        |  TRIM(TO_CHAR(t, 'd')) d,
        |  MOD(EXTRACT(DOW FROM t)::INTEGER - 1 + 7, 7) dowfix,
        |  DATE_PART(Y, t)::INTEGER y, DATE_PART(hour, t)::INTEGER h
        |FROM (SELECT TIMESTAMP '2024-03-04 10:00:00' AS t)""".stripMargin))
      .collect()(0)
    assert(fmt.getString(0) === "2024-03-04 10:00:00")
    assert(fmt.getString(1) === "2024-01")
    assert(fmt.getString(2) === "2") // Redshift 'd': Sunday=1 → Monday=2
    assert(fmt.getInt(3) === 0) // Monday-indexed
    assert(fmt.getInt(4) === 2024 && fmt.getInt(5) === 10)

    // DROP + CTAS → rerun idempotent
    val res2 = new RedshiftScript.Runner(spark, root, Some("2024-06-15")).run(script)
    assert(res2.ok, res2.reports.filterNot(_.ok).mkString("; "))
    assert(spark.table("web.sessions_snowplow").count() === 3)
  }
}
