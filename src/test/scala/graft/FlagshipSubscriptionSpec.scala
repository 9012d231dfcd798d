package graft

import graft.pipeline.{Catalog, RedshiftScript}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row

/** The reference's flagship script run VERBATIM:
  * `Datawarehouse-ETL/1_ods_core/00_subscription.sql` (755 lines) — ~50
  * JSON_EXTRACT_PATH_TEXT extractions over Kafka contract events, windowed
  * dedup with the purchase_option_disabled tie-break (`:62`), the
  * deleted-records exclusion join (`:101-104`), chained temp tables, a
  * legacy-vs-new-infra UNION, a DELETE with an IN-subquery over a temp
  * table, a 40-column UPDATE…FROM migration merge, and a
  * truncate+insert transaction into `ods_production.subscription`.
  *
  * Fixtures are synthetic, reference-SHAPED rows staged into the 20 source
  * tables the script reads; the script text itself is read from
  * `/root/reference` at test runtime and never copied.
  */
class FlagshipSubscriptionSpec extends SparkSpec {

  private def root(): String =
    tempDir("graft-flagship")

  // ---- kafka contract event payloads (reference-shaped, synthetic) ----
  private def bt(price: String, cur: String) =
    s"""{"price":"$price","currency":"$cur","type":"recurring","current_period":"1","next_period":"2"}"""
  private def payload(
      id: String, order: String, state: String, created: String,
      billing: String, committed: String, months: String,
      activated: String = "", sku: String = "SKU-V1"): String = {
    val act = if (activated.isEmpty) "" else s""""activated_at":"$activated","""
    s"""{"id":"$id","type":"flex","user_id":"U-$id","billing_account_id":"B-$id",""" +
      s""""order_number":"$order","state":"$state","created_at":"$created",$act""" +
      s""""goods":[{"variant_sku":"$sku"}],"billing_terms":$billing,""" +
      s""""duration_terms":{"committed_length":"$committed"},""" +
      s""""purchase_term":{"months_required":"$months"}}"""
  }

  private def stageFixtures(): Unit = {
    import sqlImplicits._

    // -- new-infra kafka stream ------------------------------------------
    val events = Seq(
      // K1: created → activated → extended (price/term from the `new` node)
      ("2024-01-03 10:00:00", "created", "1",
        payload("K1", "O1", "fulfilling", "2024-01-03 10:00:00", bt("29.90", "EUR"), "12", "24")),
      ("2024-01-05 09:00:00", "activated", "1",
        payload("K1", "O1", "active", "2024-01-03 10:00:00", bt("29.90", "EUR"), "12", "24",
          activated = "2024-01-05 09:00:00")),
      ("2024-02-01 12:00:00", "extended", "1",
        s"""{"id":"K1","type":"flex","user_id":"U-K1","billing_account_id":"B-K1",""" +
          s""""order_number":"O1","state":"active","created_at":"2024-01-03 10:00:00",""" +
          s""""activated_at":"2024-01-05 09:00:00","goods":[{"variant_sku":"SKU-V1"}],""" +
          s""""billing_terms":{"new":{"price":"34.90","currency":"EUR","type":"recurring",""" +
          s""""current_period":"2","next_period":"3"}},""" +
          s""""duration_terms":{"new":{"committed_length":"18"}},""" +
          s""""purchase_term":{"new":{"months_required":"20"}}}"""),
      // K2: created → activated → cancelled (DCA handover), USD currency
      ("2024-01-05 08:00:00", "created", "1",
        payload("K2", "O2", "fulfilling", "2024-01-05 08:00:00", bt("49.90", "USD"), "6", "",
          sku = "SKU-V2")),
      ("2024-01-07 08:00:00", "activated", "1",
        payload("K2", "O2", "active", "2024-01-05 08:00:00", bt("49.90", "USD"), "6", "",
          activated = "2024-01-07 08:00:00", sku = "SKU-V2")),
      ("2024-03-10 09:00:00", "cancelled", "1",
        s"""{"id":"K2","type":"flex","user_id":"U-K2","billing_account_id":"B-K2",""" +
          s""""order_number":"O2","state":"cancelled","created_at":"2024-01-05 08:00:00",""" +
          s""""activated_at":"2024-01-07 08:00:00","terminated_at":"2024-03-10 09:00:00",""" +
          s""""termination_reason":"handed_over_to_dca","goods":[{"variant_sku":"SKU-V2"}],""" +
          s""""billing_terms":${bt("49.90", "USD")},"duration_terms":{"committed_length":"6"}}"""),
      // K3: present in the stream but deleted in the source system
      ("2024-01-10 10:00:00", "created", "1",
        payload("K3", "O3", "fulfilling", "2024-01-10 10:00:00", bt("9.90", "EUR"), "1", "")),
      // K4: discount_applied and purchase_option_disabled share a
      // timestamp — the event_name DESC tie-break must pick the latter
      ("2024-02-01 08:00:00", "created", "1",
        payload("K4", "O4", "fulfilling", "2024-02-01 08:00:00", bt("19.90", "EUR"), "3", "")),
      ("2024-02-03 08:00:00", "activated", "1",
        payload("K4", "O4", "active", "2024-02-01 08:00:00", bt("19.90", "EUR"), "3", "",
          activated = "2024-02-03 08:00:00")),
      ("2024-03-01 10:00:00", "discount_applied", "1",
        payload("K4", "O4", "active", "2024-02-01 08:00:00", bt("19.90", "EUR"), "3", "",
          activated = "2024-02-03 08:00:00")),
      ("2024-03-01 10:00:00", "purchase_option_disabled", "1",
        s"""{"id":"K4","type":"flex","user_id":"U-K4","billing_account_id":"B-K4",""" +
          s""""order_number":"O4","state":"active","created_at":"2024-02-01 08:00:00",""" +
          s""""activated_at":"2024-02-03 08:00:00","goods":[{"variant_sku":"SKU-V1"}],""" +
          s""""billing_terms":{"price_next_period":"17.90","discounts":[{"reason":"loyalty"}]},""" +
          s""""duration_terms":{"committed_length":"3"}}"""))
      .toDF("event_timestamp", "event_name", "version", "payload")
      .withColumn("event_timestamp", col("event_timestamp").cast("timestamp"))
    Catalog.replaceTable(events, "stg_kafka_events_full", "stream_customers_contracts_v2")

    Catalog.replaceTable(Seq(("K3", "K3")).toDF("contract_id", "id"),
      "ods_production", "contracts_deleted_in_source")

    Catalog.replaceTable(
      Seq(("K2", "allocated")).toDF("subscription_id", "allocation_status_original"),
      "stg_kafka_events_full", "allocation_us")

    // -- fx --------------------------------------------------------------
    Catalog.replaceTable(
      Seq(("2024-01-05", "USD", 0.92), ("2024-02-29", "USD", 0.91),
        ("2024-05-31", "USD", 0.90))
        .toDF("date_", "currency", "exchange_rate_eur"),
      "trans_dev", "daily_exchange_rate")
    Catalog.replaceTable(
      Seq(("USD", 0.89)).toDF("currency", "exchange_rate_eur"),
      "trans_dev", "v_latest_daily_exchange_rate")

    // -- ods dimensions / facts -----------------------------------------
    Catalog.replaceTable(
      Seq(("O1", Some("2024-01-04 12:00:00"), false, 7001L, "S1", "Grover Germany", "credit card"),
        ("O2", None, true, 7002L, "S1", "Grover Germany", "invoice"),
        ("O4", Some("2024-02-02 12:00:00"), false, 7001L, "S2", "Grover International", "paypal"))
        .toDF("order_id", "paid_date", "is_pay_by_invoice", "customer_id", "store_id",
          "store_commercial", "payment_method"),
      "ods_production", "order")
    Catalog.replaceTable(
      Seq(("O1", "SKU-V1", "2024-01-04 13:00:00", "flex", "2", "1", "fulfilled"))
        .toDF("order_id", "sku_variant_code", "fulfilled_at", "order_mode",
          "initial_quantity", "quantity", "status"),
      "ods_production", "inventory_reservation")
    Catalog.replaceTable(
      Seq(("S1", "Grover DE", "grover-de", "Grover", "Grover Group", "Germany", "2020-01-01 00:00:00"),
        ("S2", "Grover AT", "grover-at", "Grover", "Grover Group", "Austria", "2020-01-01 00:00:00"))
        .toDF("id", "store_name", "store_label", "store_short", "account_name",
          "country_name", "updated_date"),
      "ods_production", "store")
    Catalog.replaceTable(
      Seq(("SKU-V1", Some(1001L), "2024-01-01 00:00:00"),
        ("SKU-V2", Some(1002L), "2024-01-01 00:00:00"))
        .toDF("variant_sku", "product_id", "variant_updated_at"),
      "ods_production", "variant")
    Catalog.replaceTable(
      Seq((1001L, "SKU-P1", "iPhone 15", "Phones", "Smartphones", "Apple", "2024-01-01 00:00:00"),
        (1002L, "SKU-P2", "Bravia", "TV", "OLED", "Sony", "2024-01-01 00:00:00"))
        .toDF("product_id", "product_sku", "product_name", "category_name",
          "subcategory_name", "brand", "updated_at"),
      "ods_production", "product")
    Catalog.replaceTable(
      Seq(("K2", 6)).toDF("contract_id", "months_required"),
      "ods_production", "new_infra_missing_history_months_required")
    Catalog.replaceTable(
      Seq(("SF1", true)).toDF("subscription_id", "is_bundle"),
      "ods_production", "allocation")

    // -- billing payments (order_tax CTE; joined, referenced only in
    //    commented-out expressions — must still execute) -----------------
    Catalog.replaceTable(
      Seq(("""{"country_code":"de","orders":[{"number":"O1","tax_rate":"0.19"}]}""",
        "2024-05-01 10:00:00"))
        .toDF("payload", "kafka_received_at"),
      "stg_curated", "stg_internal_billing_payments")

    // -- legacy salesforce stack ----------------------------------------
    val sfSchema = StructType(Seq(
      "id", "name", "subscription_id__c", "order_product__c", "customer__c", "order__c")
      .map(StructField(_, StringType)) ++
      Seq(StructField("amount__c", DoubleType)) ++
      Seq("currency__c", "date_start__c", "date_first_asset_delivery__c", "status__c",
        "date_cancellation__c", "date_cancellation_requested__c", "date_renewal__c",
        "date_renewal_next__c", "cancellation_note__c", "cancellation_reason__c",
        "cancellation_reason_picklist__c", "payment_method__c", "createddate",
        "lastmodifieddate", "systemmodstamp", "allocation_status__c")
        .map(StructField(_, StringType)) ++
      Seq(StructField("cross_sale_attempts__c", DoubleType),
        StructField("manual_allocation_attempts__c", DoubleType),
        StructField("allocation_tries__c", DoubleType)) ++
      Seq("minimum_cancellation_date__c").map(StructField(_, StringType)) ++
      Seq(StructField("minimum_term_months__c", DoubleType)) ++
      Seq("order_product_name__c", "payments_run_last__c", "coeo_claim_date__c",
        "coeo_claim_id__c", "coeo_claim_closed_date__c", "agency_for_dc_processing__c",
        "dc_agency_case_id__c", "dc_customer_contact_result__c", "automatic_handover_date__c")
        .map(StructField(_, StringType)) ++
      Seq(StructField("replacement_attempts__c", DoubleType)))
    val sfRows = Seq(
      Row("SF1", "Legacy One", "BO-1", "OI1", "AC1", "SO1", 25.0,
        "EUR", "2020-03-01 00:00:00", "2020-03-05 00:00:00", "ACTIVE",
        null, null, null,
        null, null, null,
        null, "credit card", "2020-03-01 00:00:00",
        "2020-04-01 00:00:00", "2020-04-01 00:00:00", "ALLOCATED",
        1.0, 0.0, 2.0,
        "2020-09-01 00:00:00", 6.0,
        "Legacy iPhone", "2020-04-01 00:00:00", null,
        null, null, null,
        null, "reached", null,
        0.0),
      Row("SF2", "Legacy K1", "K1", "OI2", "AC1", "SO2", 30.0,
        "EUR", "2023-11-01 00:00:00", "2023-11-03 00:00:00", "ACTIVE",
        null, null, null,
        null, null, null,
        null, "paypal", "2023-11-01 00:00:00",
        "2023-12-01 00:00:00", "2023-12-01 00:00:00", "ALLOCATED",
        0.0, 0.0, 0.0,
        null, 12.0,
        "Legacy MacBook", null, null,
        null, null, null,
        null, null, null,
        1.0))
    Catalog.replaceTable(
      spark.createDataFrame(spark.sparkContext.parallelize(sfRows, 1), sfSchema),
      "stg_salesforce", "subscription__c")

    Catalog.replaceTable(
      Seq(("OI1", 501L, 6.0, 25.0, "2020-04-01 00:00:00", "2020-04-01 00:00:00", "SKU-V1"),
        ("OI2", 502L, 12.0, 30.0, "2023-12-01 00:00:00", "2023-12-01 00:00:00", "SKU-V2"))
        .toDF("id", "spree_order_line_id__c", "minimum_term_months__c", "unitprice",
          "lastmodifieddate", "systemmodstamp", "f_product_sku_variant__c"),
      "stg_salesforce", "orderitem")
    Catalog.replaceTable(
      Seq((501L, 77L, None: Option[Int], "2020-04-02 00:00:00",
        """{"months_to_own":{"months_required":"18"},"buyout_disabled":"false"}"""),
        (502L, 88L, Some(14), "2023-12-02 00:00:00",
          """{"months_to_own":{"months_required":"12"},"buyout_disabled":"true",""" +
            """"buyout_disabled_at":"2024-01-15 00:00:00","buyout_disabled_reason":"existing_contract_discount"}"""))
        .toDF("id", "variant_id", "trial_days", "updated_at", "buyout"),
      "stg_api_production", "spree_line_items")
    Catalog.replaceTable(
      Seq(("AC1", 9001L, "normal_customer", "2020-04-01 00:00:00", "2020-04-01 00:00:00"))
        .toDF("id", "spree_customer_id__c", "customer_type__c", "lastmodifieddate",
          "systemmodstamp"),
      "stg_salesforce", "account")
    Catalog.replaceTable(
      Seq((9001L, "normal_customer", "2020-04-01 00:00:00"))
        .toDF("id", "user_type", "updated_at"),
      "stg_api_production", "spree_users")
    Catalog.replaceTable(
      Seq(("SO1", "R100", "S1", "2020-04-01 00:00:00", "2020-04-01 00:00:00"),
        ("SO2", "R200", "S1", "2023-12-01 00:00:00", "2023-12-01 00:00:00"))
        .toDF("id", "spree_order_number__c", "store_id__c", "lastmodifieddate",
          "systemmodstamp"),
      "stg_salesforce", "order")
    Catalog.replaceTable(
      Seq(("K1", "2023-12-15 00:00:00")).toDF("subscription_bo_id", "migration_date"),
      "stg_curated", "migrated_contracts")

    // -- the INSERT target (pre-existing warehouse table, 73 columns) ----
    val tgt = StructType(Seq(
      StructField("subscription_id", StringType),
      StructField("subscription_name", StringType),
      StructField("subscription_bo_id", StringType),
      StructField("order_item_sf_id", StringType),
      StructField("order_item_id", DoubleType),
      StructField("rental_period", DoubleType),
      StructField("subscription_plan", StringType),
      StructField("store_id", StringType),
      StructField("order_id", StringType),
      StructField("customer_id", LongType),
      StructField("subscription_value", DoubleType),
      StructField("committed_sub_value", DoubleType),
      StructField("currency", StringType),
      StructField("subscription_value_euro", DecimalType(10, 2)),
      StructField("reporting_subscription_value_euro", DecimalType(10, 2)),
      StructField("start_date", TimestampType),
      StructField("first_asset_delivery_date", TimestampType),
      StructField("asset_was_delivered", BooleanType),
      StructField("status", StringType),
      StructField("subscription_duration", IntegerType),
      StructField("subscription_duration_in_months", DecimalType(10, 2)),
      StructField("renewal_date", TimestampType),
      StructField("next_renewal_date", TimestampType),
      StructField("cancellation_requested_date", TimestampType),
      StructField("cancellation_date", TimestampType),
      StructField("cancellation_note", StringType),
      StructField("cancellation_reason", StringType),
      StructField("cancellation_reason_dropdown", StringType),
      StructField("payment_method", StringType),
      StructField("created_date", TimestampType),
      StructField("updated_date", TimestampType),
      StructField("allocation_status", StringType),
      StructField("cross_sale_attempts", IntegerType),
      StructField("manual_allocation_attempts", IntegerType),
      StructField("allocation_tries", DoubleType),
      StructField("minimum_cancellation_date", TimestampType),
      StructField("days_to_cancel", IntegerType),
      StructField("minimum_term_months", DoubleType),
      StructField("order_product_name", StringType),
      StructField("payments_last_run_date", TimestampType),
      StructField("coeo_claim_date__c", TimestampType),
      StructField("coeo_claim_id__c", StringType),
      StructField("agency_for_dc_processing__c", StringType),
      StructField("dc_agency_case_id__c", StringType),
      StructField("dc_status", StringType),
      StructField("debt_collection_handover_date", TimestampType),
      StructField("result_debt_collection_contact", StringType),
      StructField("reactivated_date", TimestampType),
      StructField("replacement_attempts", IntegerType),
      StructField("variant_sku", StringType),
      StructField("is_bundle", BooleanType),
      StructField("country_name", StringType),
      StructField("store_commercial", StringType),
      StructField("store_name", StringType),
      StructField("store_label", StringType),
      StructField("store_short", StringType),
      StructField("account_name", StringType),
      StructField("product_sku", StringType),
      StructField("product_name", StringType),
      StructField("category_name", StringType),
      StructField("subcategory_name", StringType),
      StructField("brand", StringType),
      StructField("trial_days", IntegerType),
      StructField("trial_variant", BooleanType),
      StructField("months_required_to_own", StringType),
      StructField("customer_acquisition_date", TimestampType),
      StructField("rank_subscriptions", IntegerType),
      StructField("subscriptions_per_customer", LongType),
      StructField("migration_date", TimestampType),
      StructField("buyout_disabled", BooleanType),
      StructField("buyout_disabled_at", TimestampType),
      StructField("buyout_disabled_reason", StringType),
      StructField("state", StringType)))
    Catalog.replaceTable(
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], tgt),
      "ods_production", "subscription")
  }

  test("1_ods_core/00_subscription.sql runs verbatim end-to-end, twice") {
    val path = java.nio.file.Paths.get(
      "/root/reference/Datawarehouse-ETL/1_ods_core/00_subscription.sql")
    assume(java.nio.file.Files.exists(path))
    val script = java.nio.file.Files.readString(path)
    stageFixtures()

    val res = new RedshiftScript.Runner(spark, root(), Some("2024-06-15")).run(script)
    assert(res.ok, res.reports.filterNot(_.ok).mkString("; "))
    val verbs = res.reports.map(_.verb)
    assert(verbs.count(_ == "CREATE TEMP TABLE") === 5) // kafka, new_infra, legacy, final, migrated
    assert(verbs.contains("DELETE") && verbs.contains("UPDATE FROM")
      && verbs.contains("TRUNCATE") && verbs.contains("INSERT"))

    val out = spark.table("ods_production.subscription").cache()
    // K1 (migrated), K2, K4, SF1 — K3 deleted in source, SF2's own row
    // removed by the IN-subquery DELETE
    assert(out.count() === 4)
    assert(out.filter(col("subscription_id") === "K3").isEmpty)

    // K1: the migration UPDATE merged SF2's legacy identity onto the kafka
    // row, while coalesce kept the kafka-derived money fields
    val k1 = out.filter(col("subscription_bo_id") === "K1").collect()(0)
    assert(k1.getAs[String]("subscription_id") === "SF2")
    assert(k1.getAs[String]("subscription_name") === "Legacy K1")
    assert(k1.getAs[Double]("subscription_value") === 34.9) // extended price kept
    assert(k1.getAs[Double]("rental_period") === 12.0) // legacy term wins the SET
    assert(k1.getAs[String]("order_id") === "R200")
    assert(k1.getAs[Long]("customer_id") === 9001L)
    assert(k1.getAs[String]("variant_sku") === "SKU-V2")
    assert(k1.getAs[Integer]("replacement_attempts") === 1)
    assert(k1.getAs[String]("months_required_to_own") === "12")
    assert(k1.getAs[java.sql.Timestamp]("migration_date") !== null)
    assert(k1.getAs[String]("status") === "ACTIVE") // not in the SET list
    assert(k1.getAs[Integer]("subscription_duration") === 162) // pinned now - active date
    assert(math.abs(k1.getAs[Double]("committed_sub_value") - 358.8) < 1e-9) // initial 29.90 × 12

    // K2: cancelled USD contract — fx paths, DCA handover, day math
    val k2 = out.filter(col("subscription_id") === "K2").collect()(0)
    assert(k2.getAs[String]("status") === "CANCELLED")
    assert(k2.getAs[java.math.BigDecimal]("subscription_value_euro")
      .compareTo(new java.math.BigDecimal("45.41")) === 0) // 49.90 × 0.91 (eom before cancel)
    assert(k2.getAs[java.math.BigDecimal]("reporting_subscription_value_euro")
      .compareTo(new java.math.BigDecimal("44.91")) === 0) // 49.90 × 0.90 (eom before pinned now)
    assert(k2.getAs[Integer]("days_to_cancel") === 65)
    assert(k2.getAs[Integer]("subscription_duration") === 63)
    assert(k2.getAs[String]("cancellation_reason") === "handed over to dca")
    assert(k2.getAs[java.sql.Timestamp]("debt_collection_handover_date").toString
      .startsWith("2024-03-10"))
    assert(k2.getAs[String]("allocation_status") === "ALLOCATED") // via allocation_us
    assert(k2.getAs[String]("months_required_to_own") === "6") // static-history table wins
    assert(math.abs(k2.getAs[Double]("committed_sub_value") - 275.448) < 1e-9)
    assert(k2.getAs[String]("product_name") === "Bravia")

    // K4: the same-timestamp tie-break picked purchase_option_disabled
    val k4 = out.filter(col("subscription_id") === "K4").collect()(0)
    assert(k4.getAs[Boolean]("buyout_disabled"))
    assert(k4.getAs[String]("buyout_disabled_reason") === "loyalty")
    assert(k4.getAs[Double]("subscription_value") === 17.9) // price_next_period
    assert(k4.getAs[String]("allocation_status") === "PENDING ALLOCATION")
    assert(k4.getAs[Integer]("rank_subscriptions") === 2) // after K1 for customer 7001
    assert(k4.getAs[String]("country_name") === "Austria")

    // SF1: pure legacy row
    val sf1 = out.filter(col("subscription_id") === "SF1").collect()(0)
    assert(sf1.getAs[Boolean]("is_bundle"))
    assert(!sf1.getAs[Boolean]("trial_variant"))
    assert(sf1.getAs[String]("months_required_to_own") === "18") // spree buyout JSON
    assert(sf1.getAs[String]("dc_status") === "NO DC")
    assert(sf1.getAs[String]("result_debt_collection_contact") === "normal_customer reached")
    assert(sf1.getAs[String]("store_commercial") === "Grover Germany")
    assert(sf1.getAs[java.sql.Timestamp]("customer_acquisition_date").toString
      .startsWith("2020-03-01"))
    // subscriptions_per_customer counted BEFORE the migrated-row delete
    assert(sf1.getAs[Long]("subscriptions_per_customer") === 2L)
    assert(sf1.getAs[Integer]("subscription_duration") > 1000)
    out.unpersist()

    // rerun: truncate+insert transaction and temp recreation → idempotent
    val res2 = new RedshiftScript.Runner(spark, root(), Some("2024-06-15")).run(script)
    assert(res2.ok, res2.reports.filterNot(_.ok).mkString("; "))
    val out2 = spark.table("ods_production.subscription")
    assert(out2.count() === 4)
    assert(out2.filter(col("subscription_bo_id") === "K1")
      .collect()(0).getAs[String]("subscription_id") === "SF2")
  }
}
