package graft

import graft.pipeline.{Catalog, RedshiftScript}
import org.apache.spark.sql.functions._

/** Assorted single-file verbatim reference scripts beyond the layer runs —
  * each staged from small hand-built fixtures and executed byte-for-byte.
  */
class VerbatimScriptsSpec extends SparkSpec {

  private def root(): String =
    tempDir("graft-verbatim")

  test("gdpr_personal_info.sql: DELETE + INSERT..WITH, listagg DISTINCT, window over aliases") {
    val path = java.nio.file.Paths.get(
      "/root/reference/Datawarehouse-ETL/8_monitoring/gdpr/gdpr_personal_info.sql")
    assume(java.nio.file.Files.exists(path))
    val script = java.nio.file.Files.readString(path)
    import spark.implicits._

    Catalog.replaceTable(Seq(1L, 2L).toDF("customer_id"),
      "staging_google_sheet", "gdpr_input")
    Catalog.replaceTable(
      Seq((1L, "Grover Finance II GmbH"), (1L, "Grover Finance I GmbH"),
        (1L, "Grover Finance II GmbH"), (2L, "SOMETHING ELSE"), (3L, "Grover Finance I GmbH"))
        .toDF("customer_id", "capital_source"),
      "ods_production", "payment_all")
    Catalog.replaceTable(
      Seq((1L, "DE", "10115", "Berlin", "Torstr 1", "DE", "10117", "Berlin", "Mittelstr 2", 100L),
        (1L, "DE", "10115", "Berlin", "Torstr 1", "DE", "10117", "Berlin", "Mittelstr 2", 99L),
        (3L, "AT", "1010", "Wien", "Ring 3", "AT", "1010", "Wien", "Ring 3", 50L))
        .toDF("customer_id", "billingcountry", "billingpostalcode", "billingcity",
          "billingstreet", "shippingcountry", "shippingpostalcode", "shippingcity",
          "shippingstreet", "order_id"),
      "ods_data_sensitive", "customer_order_pii")
    Catalog.replaceTable(
      Seq(
        (1L, "1990-01-01", "Ada", "L", "a@x.de", "+49", true,
          "DE", "berlin", "10115", "torstr", "1", "DE", "berlin", "10117"),
        (2L, "1985-05-05", "Bo", "M", "b@x.de", "+49", false,
          "DE", "hamburg", "20095", "weg", "2", "DE", "hamburg", "20095"),
        (9L, "2000-09-09", "Out", "side", "o@x.de", "+1", true,
          "US", "nyc", "10001", "st", "9", "US", "nyc", "10001"))
        .toDF("customer_id", "birthdate", "first_name", "last_name", "email",
          "phone_number", "email_subscribe", "billing_country", "billing_city",
          "billing_zip", "street", "house_number", "shipping_country",
          "shipping_city", "shipping_zip"),
      "ods_data_sensitive", "customer_pii")
    // the reverse-ETL target pre-exists (hightouch source table)
    Catalog.replaceTable(
      Seq.empty[(Long, String, String, String, String, String, Boolean, String, String, String)]
        .toDF("customer_id", "birthdate", "first_name", "last_name", "email",
          "phone_number", "email_subscribe", "billing_address", "shipping_address",
          "capital_source"),
      "hightouch_sources", "gdpr_personal_info")

    val res = new RedshiftScript.Runner(spark, root()).run(script)
    assert(res.ok, res.reports.filterNot(_.ok).mkString("; "))
    assert(res.reports.map(_.verb) === Seq("DELETE", "INSERT"))
    val out = spark.table("hightouch_sources.gdpr_personal_info").cache()
    assert(out.count() === 2) // only gdpr_input customers (1, 2); 9 excluded
    val c1 = out.filter(col("customer_id") === 1).collect()(0)
    // listagg DISTINCT over the CASE: the two Grover sources, deduped
    val cs = c1.getAs[String]("capital_source")
    assert(cs.split(", ").toSet === Set("Grover Finance I GmbH", "Grover Finance II GmbH"))
    // the PII address (rowno=1 over alias-partitioned window) wins COALESCE
    assert(c1.getAs[String]("billing_address") === "DE,10115,Berlin,Torstr 1")
    val c2 = out.filter(col("customer_id") === 2).collect()(0)
    assert(c2.getAs[String]("capital_source") === null) // non-Grover source → CASE null
    assert(c2.getAs[String]("billing_address").startsWith("DE, Hamburg")) // initcap fallback
    out.unpersist()

    // rerun: DELETE empties, INSERT rebuilds — idempotent
    val res2 = new RedshiftScript.Runner(spark, root()).run(script)
    assert(res2.ok, res2.reports.filterNot(_.ok).mkString("; "))
    assert(spark.table("hightouch_sources.gdpr_personal_info").count() === 2)
  }

  test("last_payment_event.sql: verbatim MERGE + numbers-cross-join JSON array explode") {
    val path = java.nio.file.Paths.get(
      "/root/reference/bi-airflow-prod/dags/us_debt_collections/sql/last_payment_event.sql")
    assume(java.nio.file.Files.exists(path))
    val script = java.nio.file.Files.readString(path)
    import spark.implicits._

    Catalog.replaceTable(
      Seq(("s1", "ann", "2024-05-01", "email", true, "open", "n1", "2024-05-10"),
        ("s1", "bob", "2024-05-03", "phone", false, "open", "n2", "2024-05-12"),
        ("s2", "cat", "2024-05-02", "email", true, "closed", "n3", "2024-05-11"))
        .toDF("subscription_id", "owner", "date", "channel", "responded",
          "current_state", "team_notes", "follow_up_date"),
      "debt_collection", "us_dc_customer_contact")
    Catalog.replaceTable(
      Seq(("s1", "card_declined"), ("s2", "expired")).toDF("subscription_id", "last_failed_reason"),
      "ods_production", "detailed_view_us_dc")
    // MERGE target pre-exists with one matched row (s1, stale) and one
    // retained-only row (s9) — positional INSERT order from the script
    Catalog.replaceTable(
      Seq(("s1", "old", "2024-01-01", "letter", false, "stale", "old-note", "2024-01-02", "old-fail"),
        ("s9", "zoe", "2024-02-02", "email", true, "kept", "keep", "2024-02-03", "none"))
        .toDF("subscription_id", "owner", "date", "channel", "responded",
          "current_state", "team_notes", "follow_up_date", "last_failed_reason"),
      "dm_debt_collection", "us_dc_customer_contact_retained")
    def payload(uuid: String, due: String, items: String, etype: String = "subscription") =
      s"""{"uuid":"$uuid","type":"$etype","due_date":"$due","currency":"USD",""" +
        s""""line_items":$items,"amount_due":{"in_cents":2999},"tax":{"in_cents":100}}"""
    val li1 =
      """[{"contract_ids":["c1","c2"],"order_number":"O1","total":{"in_cents":1999}},
        |{"contract_ids":["c3"],"order_number":"O1","total":{"in_cents":1000}}]"""
        .stripMargin.replaceAll("\n", "")
    Catalog.replaceTable(
      Seq((payload("u1", "2024-05-01", li1), "2024-05-01 10:00:00", "paid"),
        (payload("u1", "2024-05-01", li1), "2024-05-01 09:00:00", "failed"), // older, idx_ filters
        (payload("u2", "2024-06-01",
          """[{"contract_ids":["c1"],"order_number":"O2","total":{"in_cents":500}}]"""),
          "2024-06-01 10:00:00", "failed"),
        (payload("u3", "2024-06-02",
          """[{"contract_ids":["c9"],"order_number":"O3","total":{"in_cents":100}}]"""),
          "2024-06-02 10:00:00", "paid"))
        .toDF("payload", "consumed_at", "event_name"),
      "stg_curated", "stg_internal_billing_payments")
    Catalog.replaceTable((0 until 20).map(_.toLong).toDF("ordinal"), "public", "numbers")
    Catalog.replaceTable(Seq("u3").toDF("group_id"), "david", "group_ids_to_discard")

    val res = new RedshiftScript.Runner(spark, root(), Some("2024-06-15")).run(script)
    assert(res.ok, res.reports.filterNot(_.ok).mkString("; "))
    assert(res.reports.map(_.verb).contains("MERGE"))

    // MERGE: s1 updated from the latest contact (bob's 2024-05-03 entry),
    // owner NOT in the SET list keeps the old value; s2 inserted; s9 kept
    val retained = spark.table("dm_debt_collection.us_dc_customer_contact_retained").cache()
    assert(retained.count() === 3)
    val s1 = retained.filter(col("subscription_id") === "s1").collect()(0)
    assert(s1.getAs[String]("owner") === "old") // matched: owner not SET
    assert(s1.getAs[String]("team_notes") === "n2") // latest entry won dedup
    assert(s1.getAs[String]("last_failed_reason") === "card_declined")
    val s2 = retained.filter(col("subscription_id") === "s2").collect()(0)
    assert(s2.getAs[String]("owner") === "cat") // inserted takes all values
    retained.unpersist()

    // the JSON explode: u1's 2 line items × contracts (c1,c2 + c3) minus
    // paid-dedup → per-contract last event rows; u3 discarded via david.*
    val lpe = spark.table("ods_production.last_payment_event").cache()
    val contracts = lpe.select("contract_id").collect().map(_.getString(0)).toSet
    assert(contracts === Set("c1", "c2", "c3"))
    assert(lpe.filter(col("order_number") === "O3").isEmpty) // u3 discarded
    val c1 = lpe.filter(col("contract_id") === "c1").collect()
    assert(c1.length === 1)
    // c1's later failed (u2, due 06-01) postdates its last paid (05-01)
    assert(c1(0).getAs[String]("event_name") === "failed")
    assert(c1(0).getAs[java.sql.Date]("last_paid").toString === "2024-05-01")
    val c3 = lpe.filter(col("contract_id") === "c3").collect()(0)
    assert(c3.getAs[String]("event_name") === "paid")
    lpe.unpersist()
  }

  test("00_pricing_live_feed.sql: lateral alias chains in windows, agg IGNORE NULLS, UPDATE strip") {
    val path = java.nio.file.Paths.get(
      "/root/reference/Datawarehouse-ETL/2_ods_catman/00_pricing_live_feed.sql")
    assume(java.nio.file.Files.exists(path))
    val script = java.nio.file.Files.readString(path)
    import spark.implicits._

    // minimum_term_months staged as STRING: Spark's native listagg takes
    // string/binary only (Redshift casts implicitly)
    Catalog.replaceTable(
      Seq((10L, 100L, "29.90", "1", "True", "1"), (11L, 100L, "24.90", "3", "True", "1"),
        (12L, 100L, "19.90", "12", "True", "20"), (13L, 200L, "49.90", "1", "True", "1"),
        (14L, 300L, "9.90", "1", "False", "1"))
        .toDF("id", "product_id", "rental_plan_price", "minimum_term_months", "active", "store_id"),
      "s3_spectrum_rds_dwh_api_production", "rental_plans")
    Catalog.replaceTable(
      Seq((10L, "34.90", "2024-01-01 00:00:00"), (10L, "39.90", "2024-02-01 00:00:00"))
        .toDF("rental_plan_id", "price", "updated_at"),
      "s3_spectrum_rds_dwh_api_production", "old_prices")
    Catalog.replaceTable(
      Seq((100L, "SKU-V1", "Apple", "available"), (200L, "SKU-V2", "Sony", "sold_out"))
        .toDF("product_id", "variant_sku", "product_brand", "availability_state"),
      "ods_production", "variant")
    Catalog.replaceTable(
      Seq((100L, "Phones", "Smart", "SKU-P1", "iPhone", "iphone"),
        (200L, "TV", "OLED", "SKU-P2", "Bravia", "bravia"))
        .toDF("product_id", "category_name", "subcategory_name", "product_sku",
          "product_name", "slug"),
      "ods_production", "product")
    def priceRows(withUrl: Boolean, eur: Boolean) = {
      val base = Seq(
        ("2024-06-01", "2024-06-01", "e1", "a1", "black", "1kg", "", "SKU-V1", "SKU-P1",
          "", "m1", "g1", if (eur) "99.90 EUR" else "99.90", "t"),
        ("2024-05-25", "2024-05-25", "e1", "a1", "black", "1kg", "", "SKU-V1", "SKU-P1",
          "", "m1", "g1", if (eur) "89.90 EUR" else "89.90", "f"),
        ("2024-05-18", "2024-05-18", "e1", "a1", "black", "1kg", "", "SKU-V1", "SKU-P1",
          "", "m1", "g1", if (eur) "109.90 EUR" else "109.90", "f"))
      val df = base.toDF("week_date", "valid_from", "ean", "artikelnummer", "color",
        "weight", "crossedoutprice", "variant_sku", "product_sku", "product_eol_date",
        "mpn", "global_id", "price", "is_current")
      if (withUrl) df.withColumn("product_url", lit("http://x")) else df
    }
    Catalog.replaceTable(priceRows(withUrl = false, eur = false), "ods_external", "mm_price_data")
    Catalog.replaceTable(priceRows(withUrl = false, eur = false), "ods_external", "saturn_price_data")
    Catalog.replaceTable(priceRows(withUrl = false, eur = false), "ods_external", "mm_price_data_es")
    Catalog.replaceTable(priceRows(withUrl = true, eur = true), "ods_external", "mm_price_data_at")

    val res = new RedshiftScript.Runner(spark, root(), Some("2024-06-01")).run(script)
    assert(res.ok, res.reports.filterNot(_.ok).mkString("; "))

    val feed = spark.table("skyvia.pricing_data_livefeed").cache()
    assert(feed.count() === 3) // SKU-V1 × stores (1, 20) + SKU-V2 × store 1
    val v1 = feed.filter(col("variant_sku") === "SKU-V1" && col("store_id") === "1")
      .collect()(0)
    assert(v1.getAs[String]("rental_plans_DE") === "1  |  3")
    // 1-month plan price concat carries the LAST_VALUE old price (39.90)
    assert(v1.getAs[String]("rental_plan_price_1_month").contains("29.90"))
    assert(v1.getAs[String]("rental_plan_price_1_month").contains("39.90"))
    assert(v1.getAs[Boolean]("MM_ON")) // store 20 active
    assert(!v1.getAs[Boolean]("OTTO"))
    feed.unpersist()

    val mm = spark.table("skyvia.mm_price_data").cache()
    assert(mm.count() === 3)
    val today = mm.filter(col("week_date") === "2024-06-01").collect()(0)
    // lateral chain: is_live_today → vsku_price_today → windowed avg
    assert(today.getAs[Boolean]("is_live_today"))
    assert(today.getAs[java.math.BigDecimal]("avg_sku_price_today").doubleValue() === 99.90)
    assert(today.getAs[java.math.BigDecimal]("max_price").doubleValue() === 109.90)
    // date of the max rides the IGNORE NULLS last_value over the alias CASE
    assert(today.getAs[String]("date_max_price") === "2024-05-18")
    mm.unpersist()

    // the AT feed ran the UPDATE first: ' EUR' suffixes stripped
    val at = spark.table("ods_external.mm_price_data_at")
    assert(at.filter(col("price").contains("EUR")).count() === 0)
    assert(spark.table("skyvia.mm_price_data_at").count() === 3)
    assert(spark.table("skyvia.saturn_price_data").count() === 3)
    assert(spark.table("skyvia.mm_price_data_es").count() === 3)
  }
}
