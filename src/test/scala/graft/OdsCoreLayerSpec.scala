package graft

import graft.pipeline.{Catalog, RedshiftScript}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{functions => F}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Runs the REST of the reference's ODS core layer VERBATIM (the
  * flagship `00_subscription.sql` has its own spec):
  * `/root/reference/Datawarehouse-ETL/1_ods_core/` — 9 scripts incl. the
  * 968-line `00_allocation.sql` whose correlated
  * `(SELECT … ORDER BY datediff(…) LIMIT 1)` warehouse lookup
  * (`:251-258`) exercises the min_by/max_by decorrelation fallback
  * against real text, plus `01_order.sql` (737 lines) and `01_asset.sql`
  * (407 lines).
  *
  * Prior-day state: the layer reads its own previous outputs
  * (`ods_production.asset` inside `00_allocation.sql`, …), so those
  * tables stage as fixtures first and the scripts DROP+rebuild them.
  * DELETE/INSERT targets that pre-exist in the warehouse
  * (`ods_production.order_item`, `ods_production.order`) are
  * bootstrap-created from each script's own INSERT select.
  */
class OdsCoreLayerSpec extends SparkSpec {

  private val layerDir = Paths.get("/root/reference/Datawarehouse-ETL/1_ods_core")
  private val Pinned = "2024-06-15"

  // reference numbering = dependency order
  private val Scripts = Seq(
    "00_allocation.sql", "00_asset_payments_new_infra.sql",
    "00_asset_subscription_mapping.sql", "00_customer.sql",
    "00_order_billing_payments_final.sql", "00_order_item.sql",
    "01_order.sql", "02_inventory_reservations_pending.sql")

  // `01_asset.sql` is broken IN THE REFERENCE: the office_or_sponsorships
  // CASE lost its THEN clause (`CASE WHEN a.status::text = 'OFFICE'::text
  // ELSE 'others'::text END`, `01_asset.sql:374-376`) — a syntax error on
  // Redshift too (the missing-THEN family already counted in the parse
  // floor). Its output table stays the staged prior-day fixture.
  private val BrokenInReference = Set("01_asset.sql")

  private val FixtureCols: Map[String, Seq[String]] = Map(
    // ---- prior-day layer outputs the scripts read before rebuilding ----
    "ods_production.allocation" -> Seq("allocation_id", "allocation_status_original",
      "allocated_at", "asset_id", "customer_id", "return_delivery_date",
      "subscription_id"),
    "ods_production.asset" -> Seq("asset_id", "capital_source_name", "asset_status_original",
      "warehouse", "serial_number", "product_sku", "variant_sku", "supplier",
      "initial_price", "purchased_date", "updated_date", "created_date"),
    "ods_production.subscription" -> Seq("subscription_id", "subscription_bo_id",
      "subscription_name", "country_name", "currency", "migration_date",
      "order_id", "status", "store_short", "subscription_value", "variant_sku",
      "allocation_status", "cancellation_date", "start_date"),
    "ods_production.inventory_reservation" -> Seq("cancelled_at", "customer_type",
      "declined_at", "deleted_at", "expired_at", "fulfilled_at",
      "initial_quantity", "order_mode", "order_number", "paid_at", "quantity",
      "sku_variant_code", "store_id", "uid"),
    // ---- external sources ------------------------------------------------
    "ods_b2b.consolidation_date" -> Seq("consolidation_day", "customer_id", "updatedat"),
    "ods_operations.allocation_shipment" -> Seq("allocation_id", "delivered_at",
      "subscription_id", "order_id", "failed_delivery_at"),
    "ods_operations.failed_deliveries" -> Seq("failed_timestamp", "tracking_id"),
    "ods_operations.ingram_allocation_mapping" -> Seq("allocation_id",
      "serial_number", "return_event"),
    "ods_production.companies" -> Seq("company_id", "company_name",
      "company_type_id", "company_type_name", "created_at", "status", "updated_at"),
    "ods_production.inventory_store_variant_availability" -> Seq(
      "availability_mode", "sku_variant_code", "store_id"),
    "ods_production.product" -> Seq("brand", "category_name", "product_id",
      "product_name", "product_sku", "subcategory_name", "updated_at",
      "risk_label"),
    "ods_production.purchase_request_item" -> Seq("capital_source_name",
      "purchase_request_item_sfid"),
    "ods_production.store" -> Seq("account_name", "country_name", "currency",
      "id", "store_code", "store_name", "store_short", "store_type"),
    "ods_production.supplier" -> Seq("last_modified_date", "locale__c",
      "supplier_account", "supplier_id", "supplier_name"),
    "ods_production.variant" -> Seq("ean", "product_id", "variant_id",
      "variant_name", "variant_sku", "variant_updated_at"),
    "ods_production.variantid_sku_historical_mapping" -> Seq("variant_id", "variant_sku"),
    "ods_production.order_voucher_mapping" -> Seq("order_id", "voucher_code",
      "voucher_type", "voucher_value", "voucher_discount", "voucher_category"),
    "oltp_billing.payment_order" -> Seq("payment_group_id", "uuid", "status",
      "contractid", "accountid", "paymenttype", "createddate", "taxincluded",
      "group", "id", "name"),
    "oltp_billing.transaction" -> Seq("account_id", "amount", "created_at",
      "failed_reason", "gateway_response", "id", "status", "type", "updated_at"),
    "public.dim_dates" -> Seq("datum", "day_is_weekday"),
    "public.dim_states" -> Seq("plz", "bundesland"),
    "public.numbers" -> Seq("ordinal"),
    "staging.customers_contracts" -> Seq("payload", "event_name",
      "event_timestamp", "kafka_received_at", "version", "contract_id",
      "order_number", "terminated_at", "termination_reason", "consumed_at"),
    "staging.shipment_inbound" -> Seq("allocation_uid", "created_date",
      "delivered_date", "exception_date", "failed_delivery_at", "shipped_date",
      "shipping_profile", "tracking_id", "tracking_number", "updated_at"),
    "staging.shipment_outbound" -> Seq("allocation_uid", "carrier", "contract_id",
      "created_date", "delivered_date", "exception_date", "failed_delivery_at",
      "package_id", "shipped_date", "shipping_profile", "tracking_id",
      "tracking_number", "updated_at"),
    // the spectrum operations tables are MATERIALIZED wide
    "staging.spectrum_operations_order_allocated" -> Seq("allocation_uid",
      "order_id", "customer_id", "reservation_uid", "asset_id",
      "serial_number", "store_id", "allocated_at", "warehouse",
      "salesforce_allocation_id"),
    "staging.spectrum_operations_replacement_allocated" -> Seq("allocation_uid",
      "order_id", "customer_id", "reservation_uid", "asset_id",
      "serial_number", "store_id", "allocated_at", "warehouse",
      "replaced_allocation_uid", "replacement_date",
      "salesforce_allocation_id"),
    "stg_api_production.spree_addresses" -> Seq("additional_info", "address1",
      "address2", "city", "company", "country_id", "created_at", "firstname",
      "id", "lastname", "phone", "updated_at", "user_id", "zipcode"),
    "stg_api_production.spree_countries" -> Seq("id", "iso", "name", "updated_at"),
    "stg_api_production.spree_line_items" -> Seq("any_variant", "campaign_id",
      "created_at", "currency", "id", "minimum_term_months", "order_id", "price",
      "quantity", "rental_plan_id", "trial_days", "updated_at", "variant_id"),
    "stg_api_production.spree_orders" -> Seq("approved_at", "bill_address_id",
      "canceled_at", "committed_months", "created_at", "currency",
      "current_payment_source_id", "id", "item_total", "number",
      "ship_address_id", "state", "step", "store_id", "updated_at", "user_id",
      "voucherify_coupon_code", "coupon_recurrent"),
    "stg_api_production.spree_users" -> Seq("bill_address_id", "birthdate",
      "company_id", "confirmed_at", "created_at", "default_locale", "first_name",
      "gender", "id", "mailchimp_status", "phone_number_verified_at",
      "referral_code", "ship_address_id", "signup_language", "subscription_limit",
      "subscription_limit_change_date", "updated_at", "user_type"),
    "stg_api_production.user_payment_methods" -> Seq("created_at", "id",
      "merchant_transaction_id", "user_id", "billing_account_id",
      "reference_id", "payment_gateway_id"),
    "stg_curated.checkout_eu_us_cart_orders_updated_v1" -> Seq("payload",
      "consumed_at", "kafka_received_at", "basket_size", "committed_months",
      "created_date", "currency", "customer_id", "id", "number", "order_id",
      "order_value", "payment_method_id", "price", "product_sku", "quantity",
      "status", "store_code", "total_amount", "updated_date", "variant_id",
      "variant_sku", "customer_ip_address"),
    "stg_curated.risk_eu_order_decision_intermediate_v1" -> Seq("payload",
      "consumed_at", "kafka_received_at", "order_id", "outcome_namespace"),
    "s3_spectrum_kafka_topics_raw_sensitive.risk_us_order_decision_intermediate_v1" ->
      Seq("payload", "consumed_at", "kafka_received_at", "order_id",
        "outcome_namespace"),
    "stg_curated.stg_internal_billing_payments" -> Seq("payload",
      "kafka_received_at", "consumed_at", "event_name", "version"),
    "stg_external_apis.discarded_payment_groups" -> Seq("a"),
    "stg_external_apis.name_gender" -> Seq("firstname", "gender"),
    "stg_kafka_events_full.order_allocated" -> Seq("payload", "consumed_at",
      "salesforce_allocation_id", "warehouse"),
    "stg_kafka_events_full.stream_internal_order_cancelled" -> Seq("payload",
      "consumed_at", "kafka_received_at", "event_name", "event_timestamp"),
    // the v1 order-placed stream is MATERIALIZED wide (the script selects
    // its columns directly, no payload extraction)
    "stg_kafka_events_full.stream_internal_order_placed" -> Seq(
      "event_timestamp", "total_in_cents", "country_id", "store_id",
      "order_number", "order_mode", "user_id", "billing_account_id",
      "source_type", "billing_address1", "billing_address2", "billing_city",
      "billing_country", "billing_zipcode", "shipping_address1",
      "shipping_address2", "shipping_city", "shipping_country",
      "shipping_zipcode", "shipping_additional_info", "line_items"),
    "stg_kafka_events_full.stream_internal_order_placed_v2" -> Seq("payload",
      "consumed_at", "kafka_received_at", "event_name", "event_timestamp"),
    // the risk-decision stream is materialized wide (q_.* + bare columns)
    "stg_kafka_events_full.stream_internal_risk_order_decisions_v3" -> Seq(
      "payload", "consumed_at", "kafka_received_at", "event_name",
      "event_timestamp", "order_number", "decision", "decision_message"),
    "stg_kafka_events_full.stream_scoring_customer_fraud_check_completed" -> Seq(
      "payload", "consumed_at", "kafka_received_at", "event_name", "event_timestamp"),
    "stg_salesforce.account" -> Seq("id", "lastmodifieddate", "name",
      "shippingcountry", "spree_customer_id__c", "systemmodstamp"),
    "stg_salesforce.asset" -> Seq("accountid", "amount_rrp__c",
      "asset_allocation__c", "asset_quality__c", "capital_source__c",
      "condition__c", "condition_note__c", "contractid", "cost_price__c",
      "createddate", "currency__c", "date_of_sale__c", "days_in_warehouse__c",
      "debt_collection_not_recoverable__c", "external_condition__c",
      "external_condition_note__c", "f_product_sku_product__c",
      "f_product_sku_variant__c", "final_condition__c",
      "functional_condition__c", "id", "initial_condition__c",
      "initial_external_condition__c", "initial_final_condition__c",
      "initial_functional_condition__c", "initial_package_condition__c",
      "returned_condition__c", "returned_external_condition__c",
      "returned_external_condition_note__c", "returned_final_condition__c",
      "returned_functional_condition__c", "returned_functional_condition_note__c",
      "returned_package_condition__c", "returned_package_condition_note__c",
      "invoice_date__c", "invoice_number__c",
      "invoice_total__c", "invoice_url__c", "lastmodifieddate", "lost_reason__c",
      "name", "number_of_rents__c", "package_condition__c",
      "purchase_request__c", "purchase_request_item__c", "purchased__c",
      "revenue_share__c", "sale_amount__c", "sell_price__c", "serialnumber",
      "sold__c", "status", "supplier__c", "systemmodstamp", "warehouse__c",
      "warehouse_refurbishment__c"),
    "stg_salesforce.asset_history" -> Seq("assetid", "createddate", "field",
      "newvalue", "oldvalue"),
    "stg_salesforce.asset_payment__c" -> Seq("amount_f_due__c", "amount_paid__c",
      "amount_refunded__c", "asset__c", "date_paid__c", "status__c", "type__c"),
    "stg_salesforce.capital_source__c" -> Seq("id", "lastmodifieddate", "name",
      "systemmodstamp"),
    "stg_salesforce.customer_asset_allocation__c" -> Seq("allocated__c",
      "asset__c", "automatically_allocated__c", "cancelltion_approved__c",
      "cancelltion_in_transit__c", "cancelltion_requested__c",
      "cancelltion_returned__c", "createddate", "customer__c", "delivered__c",
      "failed_delivery__c", "id", "issue_report_comments__c",
      "issue_report_date__c", "lastmodifieddate", "name", "order__c",
      "package_lost__c", "picked_by_carrier__c", "ready_to_ship__c",
      "replaced_by__c", "replacement_date__c", "replacement_for__c",
      "replacement_reason__c", "reported_issue_reason__c", "return_delivered__c",
      "return_label_created__c", "return_picked_by_carrier__c",
      "return_shipment_provider__c", "return_tracking_number__c",
      "shipcloud_profile__c", "shipcloud_return_shipment_id__c",
      "shipcloud_shipment_id__c", "shipment_date__c",
      "shipment_tracking_number__c", "shipping_label_created__c",
      "shipping_profile__c", "shipping_provider__c", "status__c",
      "subscription__c", "subscription_cancellation__c", "systemmodstamp",
      "tracking_url__c", "wh_feedback__c", "wh_goods_order__c",
      "wh_goods_order_id__c", "widerruf_claim_date__c",
      "widerruf_validity_date__c"),
    "stg_salesforce.order" -> Seq("amount_shipment__c", "approved__c",
      "billing_company__c", "billingcity", "billingcountry", "billingpostalcode",
      "billingstreet", "completed__c", "createddate", "id", "ip_address__c",
      "lastmodifieddate", "manual_review_ends_at__c", "payment_method_id_1__c",
      "payment_method_id_2__c", "payment_method_name__c", "reason__c",
      "scoring_decision__c", "shipping_additional_info__c",
      "shipping_company__c", "shippingcity", "shippingcountry",
      "shippingpostalcode", "shippingstreet", "spree_customer_id__c",
      "spree_order_number__c", "state_approved__c", "state_cancelled__c",
      "status", "store_id__c", "systemmodstamp", "voucher__c",
      "voucherify_coupon_type__c", "voucherify_coupon_value__c",
      "voucherify_discount__c"),
    "stg_salesforce.orderitem" -> Seq("id", "spree_order_line_id__c"),
    "stg_salesforce.product2" -> Seq("id", "product_id", "sku_variant__c",
      "variant_name", "variant_sku"),
    "stg_salesforce.purchase_request__c" -> Seq("id", "status__c"),
    "stg_salesforce.purchase_request_item__c" -> Seq("delivered__c",
      "effective_quantity__c", "id", "purchase_request__c", "variant__c"),
    "stg_salesforce.subscription__c" -> Seq("allocation__c",
      "date_cancellation__c", "date_first_asset_delivery__c", "id", "name",
      "number__c", "subscription__c"),
    "stg_salesforce.subscription_payment__c" -> Seq("allocation__c",
      "date_cancellation__c", "date_first_asset_delivery__c", "id", "name",
      "number__c", "subscription__c", "order__c", "date_due__c",
      "date_failed__c", "date_paid__c"),
    "stg_salesforce.v_account" -> Seq("id", "lastmodifieddate",
      "spree_customer_id__c", "systemmodstamp"),
    "traffic.page_views" -> Seq("page_url", "page_view_start",
      "customer_id_mapped", "user_registration_date"),
    "trans_dev.media_markt_revenue_share_percentage" -> Seq("product_sku",
      "revenue_share_percentage"))

  private val Overrides: Map[(String, String), org.apache.spark.sql.Column] = Map(
    // a return TIMESTAMP despite the name (coalesced with return dates,
    // `00_allocation.sql:916`)
    ("ods_operations.ingram_allocation_mapping", "return_event") ->
      F.expr("timestampadd(DAY, CAST(__id * 31 AS INT), TIMESTAMP '2024-02-01 09:00:00')"),
    // a goods-order TIMESTAMP (unioned with `so.created_date::timestamp`,
    // `00_allocation.sql:188,367`); the `_id__c` sibling stays a string
    ("stg_salesforce.customer_asset_allocation__c", "wh_goods_order__c") ->
      F.expr("timestampadd(DAY, CAST(__id * 29 AS INT), TIMESTAMP '2024-02-01 07:00:00')"),
    ("staging.customers_contracts", "payload") ->
      F.lit("""{"id":"K1","order_number":"O1","goods":[{"variant_sku":"SKU-V1"}]}"""),
    // a delivered QUANTITY, not a delivery timestamp (the name heuristic
    // would type it as a date)
    ("stg_salesforce.purchase_request_item__c", "delivered__c") ->
      F.col("__id").cast("double"),
    // money on the checkout stream is a JSON object, not a number
    ("stg_curated.checkout_eu_us_cart_orders_updated_v1", "order_value") ->
      F.lit("""{"in_cents":1999,"currency":"EUR"}"""),
    ("stg_curated.checkout_eu_us_cart_orders_updated_v1", "price") ->
      F.lit("""{"in_cents":1999,"currency":"EUR"}"""),
    ("stg_curated.checkout_eu_us_cart_orders_updated_v1", "total_amount") ->
      F.lit("""{"in_cents":1999,"currency":"EUR"}"""))

  private def isDateCol(c: String): Boolean =
    c == "date" || c == "datum" || c == "createddate" || c == "timestamp" ||
      c.endsWith("modifieddate") ||
      c.endsWith("_date") || c.endsWith("_at") || c.endsWith("modstamp") ||
      c.endsWith("tstamp") || c.endsWith("_timestamp") || c.startsWith("date_") ||
      c.endsWith("_day") || c.endsWith("__c") && (c.contains("date") ||
        c.contains("_at_") || c.stripSuffix("__c").endsWith("_at") ||
        c.contains("allocated") || c.contains("delivered") ||
        c.contains("requested") || c.contains("returned") ||
        c.contains("approved") || c.contains("in_transit") ||
        c.contains("cancel") || c.contains("failed_delivery") ||
        c.contains("picked_by_carrier") || c.contains("ready_to_ship") ||
        c.contains("shipment_date") || c.contains("label_created") ||
        c.contains("completed") || c.contains("purchased") ||
        c.contains("manual_review_ends"))

  private def isBoolCol(c: String): Boolean =
    c.startsWith("is_") || c == "day_is_weekday" || c == "taxincluded" ||
      c == "sold__c" || c == "any_variant" || c == "package_lost__c"

  private def isNumCol(c: String): Boolean =
    c.startsWith("amount") || c.endsWith("_amount") || c.contains("price") ||
      (c.contains("value") && c != "oldvalue" && c != "newvalue") ||
      c.contains("total") || c.endsWith("_rrp__c") ||
      c.contains("quantity") || c == "ordinal" || c.endsWith("_months") ||
      c.endsWith("_share__c") || c.contains("revenue_share_percentage") ||
      c.endsWith("discount__c") || c.endsWith("_limit")

  private def stage(name: String, cols: Seq[String]): Unit = {
    val fields = cols.map { c =>
      Overrides.get((name, c)).map(_.as(c)).getOrElse {
        if (isBoolCol(c)) (F.col("__id") % 2 === 0).as(c)
        else if (isDateCol(c))
          F.expr("timestampadd(DAY, CAST(__id * 37 AS INT), TIMESTAMP '2024-01-05 08:00:00')").as(c)
        else if (isNumCol(c)) F.col("__id").cast("double").as(c)
        else F.col("__id").cast("string").as(c)
      }
    }
    val df = spark.range(3).toDF("__id").select(fields: _*)
    val parts = name.split("\\.")
    Catalog.replaceTable(df, parts(0), parts(1))
  }

  private def norm(n: String): String = n.replace("\"", "").toLowerCase

  test("the 1_ods_core layer (beyond the flagship) runs verbatim, twice") {
    assume(Files.exists(layerDir))
    def read(n: String): String =
      new String(Files.readAllBytes(layerDir.resolve(n)), java.nio.charset.StandardCharsets.UTF_8)

    FixtureCols.foreach { case (t, cols) => stage(t, cols) }

    def insertTargets(text: String): Seq[(String, String)] =
      RedshiftScript.splitStatements(text)
        .map(RedshiftScript.stripLeadingComments)
        .flatMap {
          case RedshiftScript.InsertRe(name, cl, rawBody) if name.contains(".") =>
            val (_, body) = RedshiftScript.parseInsert(cl, rawBody)
            if (body.nonEmpty) Some(norm(name) -> body) else None
          case _ => None
        }

    // bootstrap the pre-existing DELETE/INSERT + TRUNCATE/INSERT targets
    // (order_item, order) from the scripts' own INSERT selects. Drop any
    // same-named table another spec left in the shared session catalog
    // first — the bootstrap must derive the schema from THIS layer's
    // scripts (full-suite ordering lesson: stage unconditionally).
    Scripts.foreach { name =>
      insertTargets(read(name)).foreach { case (t, _) =>
        if (!FixtureCols.contains(t)) spark.sql(s"DROP TABLE IF EXISTS $t")
      }
    }
    val root = tempDir("graft-ods-core")
    val bootErr = mutable.Map.empty[String, String]
    val created = mutable.Set.empty[String]
    // run the whole layer per pass (a script's CTAS may be another's
    // bootstrap dependency — 01_order reads billing_payments_final), then
    // create any still-missing pre-existing insert targets from the
    // temps/tables that pass left behind
    (1 to 3).foreach { _ =>
      Scripts.foreach { name =>
        val text = read(name)
        val br = new RedshiftScript.Runner(spark, root, Some(Pinned)).run(text)
        insertTargets(text)
          .filterNot(p => created(p._1) || spark.catalog.tableExists(p._1))
          .foreach { case (t, body) =>
            try {
              val df = spark.sql(RedshiftScript.translate(body, Some(Pinned))).limit(0)
              val parts = t.split("\\.")
              Catalog.replaceTable(df, parts(0), parts(1))
              bootErr.remove(t)
              created += t
            } catch {
              case e: Exception =>
                bootErr(t) = (br.reports.filterNot(_.ok)
                  .map(sr => s"[${sr.verb}] ${sr.error.getOrElse("").take(200)}") :+
                  s"eval: ${e.getMessage.take(300)}").mkString(" | ")
            }
          }
      }
    }

    def runAll(tag: String): Set[String] = {
      val results = Scripts.map { n =>
        (n, new RedshiftScript.Runner(spark, root, Some(Pinned)).run(read(n)))
      }
      results.filter(!_._2.ok).map { case (n, r) =>
        info(s"$tag FAILED $n: " + r.reports.filterNot(_.ok)
          .map(sr => s"[${sr.verb} ${sr.target.getOrElse("")}] ${sr.error.getOrElse("").take(900)}")
          .mkString("; "))
        n
      }.toSet
    }

    assert(runAll("MAIN") === Set.empty, bootErr.mkString("; "))
    val targets = Seq("ods_production.allocation", "ods_production.customer",
      "ods_production.asset_subscription_mapping",
      "ods_production.order", "ods_production.order_item",
      "ods_production.billing_payments_final",
      "ods_production.inventory_reservation_pending")
    val counts = targets.map(t => t -> spark.table(t).count()).toMap
    counts.foreach { case (t, n) => info(s"$t -> $n") }
    assert(spark.table("ods_production.customer").count() > 0)
    assert(spark.table("ods_production.allocation").count() > 0)

    assert(runAll("RERUN") === Set.empty)
    assert(targets.map(t => t -> spark.table(t).count()).toMap === counts,
      "1_ods_core re-run was not idempotent")

    // pin that the broken-in-reference script still fails (missing THEN)
    BrokenInReference.foreach { n =>
      val r = new RedshiftScript.Runner(spark, root, Some(Pinned)).run(read(n))
      assert(!r.ok, s"$n unexpectedly ran — reference fixed?")
    }
  }
}
