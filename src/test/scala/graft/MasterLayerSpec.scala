package graft

import graft.pipeline.{Catalog, RedshiftScript}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{functions => F}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Runs the reference's golden-entity layer VERBATIM:
  * `/root/reference/Datawarehouse-ETL/3_master/` — 15 scripts building
  * `master.subscription` / `order` / `customer` / `variant` / `allocation`
  * and the payment tables from the ods layer, each a BEGIN / temp-CTAS /
  * TRUNCATE-or-DELETE / INSERT / COMMIT transaction.
  *
  * Source tables are staged as typed fixture frames from a curated
  * column map (derived from the scripts' own alias-qualified references,
  * then hand-completed for unqualified columns — `exposure_to_default`
  * lives on subscription_cashflow, the burgel/verita scoring fields on
  * customer_scoring, …). Targets pre-exist in the reference warehouse, so
  * the spec pre-creates each one empty from the script's own INSERT
  * select via a bootstrap run (temp tables persist in the session after
  * the bootstrap halts at the missing-target TRUNCATE).
  *
  * Three scripts are broken IN THE REFERENCE and cannot run on any
  * engine, Redshift included:
  *  - `grover_care_subscription.sql` and `payment_addon_grover_care.sql`
  *    open with a bare SELECT whose FROM target was templated out
  *    (`FROM` followed by nothing) — same defect family as the two
  *    broken `5_master_historical` scripts;
  *  - `asset.sql` lost its `left join … gmv` line: two consecutive ON
  *    clauses and a dangling `gmv.` alias (`asset.sql:229-231`).
  * Everything else must pass: 12/15 of the layer, 100% of the runnable
  * scripts — and re-run idempotently (same per-target counts).
  */
class MasterLayerSpec extends SparkSpec {

  private val layerDir = Paths.get("/root/reference/Datawarehouse-ETL/3_master")
  private val Pinned = "2024-06-15"

  private val BrokenInReference = Set(
    "asset.sql", "grover_care_subscription.sql", "payment_addon_grover_care.sql")

  // -------------------------------------------------------- fixture map
  // table -> columns any runnable script references (alias-qualified refs
  // extracted from the scripts; unqualified refs hand-assigned)
  private val FixtureCols: Map[String, Seq[String]] = Map(
    "master.subscription_historical" -> Seq("currency", "customer_id", "date",
      "start_date", "status", "subscription_id", "subscription_value",
      "subscription_value_euro"),
    "dm_marketing.customer_rfm_segmentation_historical" -> Seq("customer_id",
      "rfm_segmentation", "recency", "frequency", "monetary", "date"),
    "ods_data_sensitive.customer_pii" -> Seq("customer_id", "updated_at"),
    "ods_external.mm_price_data" -> Seq("variant_sku", "week_date", "price"),
    "ods_operations.allocation_shipment" -> Seq("allocation_id", "carrier",
      "customer_type", "failed_reason", "receiver_city", "receiver_country",
      "receiver_state_name"),
    "ods_production.addon" -> Seq("add_on_status", "add_on_variant_id",
      "addon_amount", "addon_id", "addon_name", "approved_date",
      "avg_plan_duration", "category_name", "country", "customer_id", "duration",
      "initial_scoring_decision", "order_amount", "order_id", "order_status",
      "paid_date", "product_name", "quantity", "related_product_sku",
      "related_variant_sku", "subcategory_name", "submitted_date"),
    "ods_production.addon_35up_order" -> Seq("addon_item_count", "addon_price",
      "created_date", "customer_id", "customer_type", "new_recurring", "order_id",
      "order_item_count", "order_value", "paid_date", "refund_date", "status",
      "store_code", "store_country", "submitted_date"),
    "ods_production.allocation" -> Seq("allocated_at", "allocation_id",
      "allocation_sf_id", "allocation_status_original", "asset_id",
      "cancellation_returned_at", "created_at", "customer_id", "delivered_at",
      "failed_delivery_at", "is_last_allocation_per_asset",
      "is_manual_allocation", "is_package_lost", "is_recirculated",
      "order_approved_at", "order_completed_at", "order_id",
      "picked_by_carrier_at", "rank_allocations_per_asset",
      "rank_allocations_per_subscription", "ready_to_ship_at",
      "refurbishment_end_at", "refurbishment_start_at", "replaced_by",
      "replacement_date", "replacement_for", "replacement_reason",
      "return_delivery_date", "return_shipment_at",
      "return_shipment_label_created_at", "return_shipment_tracking_number",
      "returned_final_condition", "shipment_at", "shipment_label_created_at",
      "shipment_tracking_number", "subscription_id",
      "total_allocations_per_asset", "updated_at", "wh_goods_order__c"),
    "ods_production.asset" -> Seq("asset_id", "asset_status_original", "brand",
      "category_name", "days_since_purchase", "initial_price", "subcategory_name",
      "supplier", "updated_date", "variant_sku"),
    "ods_production.customer" -> Seq("age", "billing_city", "billing_country",
      "billing_zip", "bundesland", "company_created_at", "company_id",
      "company_name", "company_status", "company_type_name", "created_at",
      "customer_id", "customer_type", "default_locale", "email_subscribe",
      "profile_status", "referral_code", "shipping_city", "shipping_country",
      "shipping_zip", "signup_language", "subscription_limit",
      "subscription_limit_change_date", "updated_at"),
    "ods_production.customer_acquisition_cohort" -> Seq(
      "customer_acquisition_category_name", "customer_acquisition_cohort",
      "customer_acquisition_product_brand", "customer_acquisition_rental_plan",
      "customer_acquisition_subcategory_name", "customer_id", "subscription_id"),
    "ods_production.customer_allocation_history" -> Seq("customer_id",
      "delivered_allocations", "max_asset_delivered", "outstanding_purchase_price",
      "returned_allocations", "updated_at"),
    "ods_production.customer_orders_details" -> Seq("carts", "customer_id",
      "declined_orders", "last_cart_product_names", "max_cart_date",
      "max_submitted_order_date", "paid_orders", "signup_country",
      "submitted_orders", "updated_at", "voucher_usage"),
    // burgel/verita/fraud fields are referenced UNQUALIFIED in customer.sql —
    // they live on the scoring table in the reference warehouse
    "ods_production.customer_scoring" -> Seq("burgel_risk_category",
      "current_subscription_limit", "customer_id", "is_blacklisted",
      "is_whitelisted", "schufa_class", "tag_name", "trust_type", "updated_at",
      "initial_subscription_limit", "subscription_limit_defined_date",
      "customer_scoring_result", "burgel_score", "burgel_score_details",
      "burgel_person_known", "burgel_address_details", "verita_score",
      "verita_person_known_at_address", "fraud_type", "min_fraud_detected",
      "max_fraud_detected"),
    "ods_production.customer_subscription_details" -> Seq(
      "active_subscription_brand", "active_subscription_category",
      "active_subscription_product_names", "active_subscription_subcategory",
      "active_subscription_value", "active_subscriptions", "cancellation_date",
      "chargeback_subscriptions", "committed_subscription_value", "customer_id",
      "ever_rented_asset_purchase_price", "ever_rented_brands",
      "ever_rented_categories", "ever_rented_products", "ever_rented_sku",
      "ever_rented_subcategories", "ever_rented_variant_sku",
      "failed_subscriptions", "first_subscription_acquisition_channel",
      "first_subscription_duration", "first_subscription_product_category",
      "first_subscription_store", "is_bad_customer", "max_cancellation_date",
      "minimum_cancellation_date", "minimum_cancellation_product", "order_id",
      "paid_subscriptions", "payment_count", "refunded_subscriptions",
      "second_subscription_duration", "second_subscription_product_category",
      "second_subscription_store", "start_date_of_first_subscription", "status",
      "subs_12m", "subs_1m", "subs_24m", "subs_3m", "subs_6m", "subs_audio",
      "subs_cameras", "subs_computers", "subs_drones", "subs_gaming",
      "subs_other", "subs_pag", "subs_phones_and_tablets", "subs_wearables",
      "subscription_durations", "subscription_id",
      "subscription_revenue_chargeback", "subscription_revenue_due",
      "subscription_revenue_paid", "subscription_revenue_refunded",
      "subscriptions", "total_cashflow", "updated_at"),
    "ods_production.order" -> Seq("acquisition_date", "approved_date",
      "avg_plan_duration", "basket_size", "billingcity", "billingcountry",
      "billingpostalcode", "canceled_date", "cancellation_reason", "created_date",
      "customer_id", "initial_scoring_decision", "is_in_salesforce",
      "is_pay_by_invoice", "is_special_voucher", "is_trial_order", "order_id",
      "order_item_count", "order_rank", "order_value", "paid_date",
      "payment_method", "shippingcity", "shippingcountry", "shippingpostalcode",
      "status", "store_commercial", "store_id", "store_type", "submitted_date",
      "total_orders", "updated_date", "variant_sku", "voucher_code",
      "voucher_discount", "voucher_value"),
    "ods_production.order_conversion_labels" -> Seq("address_orders",
      "cancelled_orders", "cart_logged_in_orders", "cart_page_orders",
      "completed_orders", "declined_orders", "failed_first_payment_orders",
      "order_id", "paid_orders", "payment_orders", "summary_orders"),
    "ods_production.order_decline_reason" -> Seq("decline_reason_new", "order_id"),
    "ods_production.order_item" -> Seq("order_id"),
    "ods_production.order_journey" -> Seq("order_id", "order_journey"),
    "ods_production.order_marketing_channel" -> Seq("devicecategory",
      "marketing_campaign", "marketing_channel", "order_id"),
    "ods_production.order_retention_group" -> Seq("new_recurring", "order_id",
      "retention_group"),
    "ods_production.order_scoring" -> Seq("file_path", "order_id",
      "order_scoring_comments", "scoring_reason"),
    "ods_production.payment_addon" -> Seq("addon_id", "addon_name", "amount_due",
      "amount_paid", "amount_tax", "attempts_to_pay", "country_name",
      "created_at", "currency", "customer_id", "due_date", "failed_date",
      "failed_reason", "invoice_date", "invoice_number", "invoice_url",
      "money_received_at", "movement_id", "order_id", "paid_date",
      "payment_context_reason", "payment_id", "payment_method", "payment_type",
      "pending_date", "psp_reference_id", "refund_amount", "refund_date",
      "resource_id", "status", "tax_rate", "updated_at", "variant_id"),
    "ods_production.payment_addon_35up" -> Seq("addon_id", "addon_name",
      "amount_due", "amount_paid", "amount_tax", "attempts_to_pay",
      "country_name", "created_at", "currency", "customer_id", "due_date",
      "failed_date", "failed_reason", "invoice_date", "invoice_number",
      "invoice_url", "money_received_at", "movement_id", "order_id", "paid_date",
      "payment_context_reason", "payment_id", "payment_method", "payment_type",
      "pending_date", "psp_reference_id", "refund_amount", "refund_date",
      "resource_id", "status", "tax_rate", "updated_at"),
    "ods_production.payment_asset" -> Seq("asset_id", "payment_type", "status",
      "paid_date", "amount_paid"),
    "ods_production.payment_refund" -> Seq(),
    "ods_production.payment_subscription" -> Seq("allocation_id",
      "amount_discount", "amount_due", "amount_overdue_fee", "amount_paid",
      "amount_shipment", "amount_subscription", "amount_tax", "amount_voucher",
      "asset_id", "attempts_to_pay", "billing_period_end", "billing_period_start",
      "capital_source", "chargeback_amount", "country_name", "created_at",
      "currency", "customer_id", "date_debt_collection_handover", "due_date",
      "failed_date", "invoice_date", "invoice_number", "invoice_sent_date",
      "invoice_url", "money_received_at", "movement_id", "order_id", "paid_date",
      "paid_status", "payment_group_id", "payment_method",
      "payment_method_detailed", "payment_method_details", "payment_number",
      "payment_processor_message", "payment_type", "psp_reference_id",
      "refund_amount", "resource_id", "src_tbl", "status", "subscription_id",
      "subscription_payment_id", "subscription_payment_name", "tax_rate",
      "transaction_id", "updated_at"),
    "ods_production.payment_subscription_details" -> Seq("dpd",
      "is_eligible_for_refund", "next_due_date", "paid_date",
      "subscription_payment_category", "subscription_payment_id", "updated_at"),
    "ods_production.product" -> Seq("brand", "category_name", "created_at",
      "market_price", "product_id", "product_name", "product_sku", "rank",
      "slug", "subcategory_name"),
    "ods_production.purchase_request" -> Seq(
      "approved_pending_manual_review_alditalk",
      "approved_pending_manual_review_comspot",
      "approved_pending_manual_review_conrad",
      "approved_pending_manual_review_gravis",
      "approved_pending_manual_review_irobot", "approved_pending_manual_review_mm",
      "approved_pending_manual_review_others",
      "approved_pending_manual_review_samsung",
      "approved_pending_manual_review_saturn",
      "approved_pending_manual_review_shifter",
      "approved_pending_manual_review_unito",
      "approved_pending_manual_review_weltbild", "assets_book_mm",
      "assets_stock_alditalk", "assets_stock_comspot", "assets_stock_conrad",
      "assets_stock_gravis", "assets_stock_irobot", "assets_stock_mm",
      "assets_stock_mm_agan", "assets_stock_mm_new", "assets_stock_others",
      "assets_stock_quelle", "assets_stock_samsung", "assets_stock_saturn",
      "assets_stock_saturn_agan", "assets_stock_saturn_new",
      "assets_stock_shifter", "assets_stock_weltbild", "pending_allocation_alditalk",
      "pending_allocation_comspot", "pending_allocation_conrad",
      "pending_allocation_gravis", "pending_allocation_irobot",
      "pending_allocation_mm", "pending_allocation_others",
      "pending_allocation_samsung", "pending_allocation_saturn",
      "pending_allocation_shifter", "pending_allocation_unito",
      "pending_allocation_weltbild", "requested_alditalk", "requested_comspot",
      "requested_conrad", "requested_gravis", "requested_irobot", "requested_mm",
      "requested_others", "requested_quelle", "requested_samsung",
      "requested_saturn", "requested_shifter", "requested_weltbild",
      "variant_sku"),
    "ods_production.rental_plans" -> Seq("product_id", "store_id",
      "minimum_term_months", "product_store_rank"),
    "ods_production.store" -> Seq("country_name", "id", "store_label",
      "store_name", "store_number", "store_short", "store_type", "updated_date"),
    "ods_production.subscription" -> Seq("account_name", "allocation_status",
      "allocation_tries", "buyout_disabled", "buyout_disabled_at",
      "buyout_disabled_reason", "cancellation_date", "cancellation_note",
      "committed_sub_value", "country_name", "created_date",
      "cross_sale_attempts", "currency", "customer_id", "dc_status",
      "debt_collection_handover_date", "first_asset_delivery_date",
      "minimum_cancellation_date", "minimum_term_months",
      "months_required_to_own", "order_id", "payment_method", "product_sku",
      "rank_subscriptions", "reactivated_date", "rental_period",
      "replacement_attempts", "reporting_subscription_value_euro",
      "result_debt_collection_contact", "start_date", "state", "status",
      "store_commercial", "store_id", "store_label", "store_name", "store_short",
      "subcategory_name", "subscription_bo_id", "subscription_duration",
      "subscription_id", "subscription_name", "subscription_plan",
      "subscription_value", "subscription_value_euro",
      "subscriptions_per_customer", "trial_days", "trial_variant", "updated_at",
      "updated_date", "variant_sku"),
    "ods_production.subscription_assets" -> Seq("allocated_assets",
      "asset_recirculation_status", "avg_asset_purchase_price",
      "debt_collection_assets", "delivered_assets", "first_asset_delivered",
      "last_return_shipment_at", "outstanding_assets", "outstanding_purchase_price",
      "outstanding_residual_asset_value", "outstanding_rrp", "returned_assets",
      "returned_packages", "subscription_id", "updated_at"),
    "ods_production.subscription_cancellation_reason" -> Seq("cancellation_date",
      "cancellation_reason", "cancellation_reason_churn", "cancellation_reason_new",
      "is_widerruf", "subscription_id", "updated_at"),
    // exposure_to_default is referenced UNQUALIFIED in subscription.sql —
    // it lives on the cashflow rollup in the reference warehouse
    "ods_production.subscription_cashflow" -> Seq(
      "asset_cashflow_from_old_subscriptions", "default_date", "dpd",
      "exposure_to_default", "is_not_triggered_payments",
      "last_valid_payment_category", "max_payment_number",
      "net_subscription_revenue_paid", "outstanding_subscription_revenue",
      "paid_subscriptions", "payment_count", "subscription_id",
      "subscription_revenue_chargeback", "subscription_revenue_due",
      "subscription_revenue_paid", "subscription_revenue_refunded", "updated_at"),
    "ods_production.subscription_phase_mapping" -> Seq("end_date", "fact_day",
      "latest_phase_idx", "rental_period", "start_date", "subscription_id",
      "subscription_value_eur", "country_name"),
    "ods_production.subscription_plan_switching" -> Seq("subscription_id", "date",
      "duration_after"),
    "ods_production.variant" -> Seq("availability_state", "ean", "product_id",
      "variant_color", "variant_id", "variant_name", "variant_sku",
      "variant_updated_at"),
    "s3_spectrum_kafka_topics_raw.risk_customer_tags_apply_v1" -> Seq(
      "customer_id", "tag_id"),
    "trans_dev.daily_exchange_rate" -> Seq("currency", "date_",
      "exchange_rate_eur"))

  private def isDateCol(c: String): Boolean =
    c == "date" || c == "week_date" || c == "fact_day" ||
      c == "createddate" || c.endsWith("_date") || c.endsWith("_at") ||
      c.endsWith("_day") || c.endsWith("modstamp") || c.startsWith("date_") ||
      c.endsWith("_delivered") || // coalesced with delivery timestamps
      c == "customer_acquisition_cohort" // compared against dateadd() results

  private def isBoolCol(c: String): Boolean =
    c.startsWith("is_") || c == "email_subscribe"

  /** Money/measure columns must be NUMERIC: the scripts subtract and
    * GREATEST them, and Spark does not coerce string-string arithmetic
    * (`amount_due - amount_paid`) or mixed greatest(string, int).
    */
  private def isNumCol(c: String): Boolean =
    c.startsWith("amount_") || c.endsWith("_amount") || c.contains("price") ||
      c.contains("value") || c.contains("revenue") ||
      (c.contains("count") && !c.contains("country")) ||
      c.endsWith("_number") || c.contains("orders") || c.contains("subscriptions") ||
      c.startsWith("subs_") || c.contains("term_months") || c == "rental_period" ||
      c == "duration_after" || c == "latest_phase_idx" || c == "exchange_rate_eur" ||
      c.endsWith("_rank") || c == "rank" || c == "recency" || c == "frequency" ||
      c == "monetary" || c == "age" || c == "dpd" || c.endsWith("_rate") ||
      c.contains("outstanding") || c.endsWith("_allocations") ||
      c.endsWith("_assets") || c.contains("cashflow") || c.contains("exposure") ||
      c.endsWith("_fee") || c.endsWith("_tries") || c.endsWith("_attempts") ||
      c.endsWith("_limit") || c.endsWith("_rrp")

  /** Stage a 3-row typed fixture: timestamps for date-named columns,
    * booleans for `is_*`, doubles for money/measure names, the row index
    * as a numeric-castable string for everything else (ids join on
    * equality, residual numeric strings still coerce under ANSI).
    */
  private def stage(name: String, cols: Seq[String]): Unit = {
    val all = if (cols.isEmpty) Seq("rec_id") else cols
    val fields = all.map { c =>
      if (isBoolCol(c)) (F.col("__id") % 2 === 0).as(c)
      else if (isDateCol(c))
        F.expr("timestampadd(DAY, CAST(__id * 37 AS INT), TIMESTAMP '2024-01-05 08:00:00')").as(c)
      else if (isNumCol(c)) F.col("__id").cast("double").as(c)
      else F.col("__id").cast("string").as(c)
    }
    val df = spark.range(3).toDF("__id").select(fields: _*)
    val parts = name.split("\\.")
    Catalog.replaceTable(df, parts(0), parts(1))
  }

  private def norm(n: String): String = n.replace("\"", "").toLowerCase

  test("the whole 3_master layer runs verbatim and re-runs idempotently") {
    assume(Files.exists(layerDir))
    val scripts = Files.list(layerDir).iterator().asScala
      .filter(_.toString.endsWith(".sql")).toSeq.sortBy(_.getFileName.toString)
      .map(p => (p.getFileName.toString, new String(Files.readAllBytes(p), java.nio.charset.StandardCharsets.UTF_8)))
    assert(scripts.size === 15)

    FixtureCols.foreach { case (t, cols) => stage(t, cols) }

    // insert targets per script (all master.*)
    def insertTargets(text: String): Seq[(String, String)] =
      RedshiftScript.splitStatements(text)
        .map(RedshiftScript.stripLeadingComments)
        .flatMap {
          case RedshiftScript.InsertRe(name, cl, rawBody) if norm(name).startsWith("master.") =>
            val (_, body) = RedshiftScript.parseInsert(cl, rawBody)
            if (body.nonEmpty) Some(norm(name) -> body) else None
          case _ => None
        }

    // bootstrap to a fixpoint: run each script (halts at the missing or
    // foreign-schema TRUNCATE/INSERT target, leaving its temps
    // registered), then create the target empty from the script's own
    // INSERT select. UNCONDITIONAL replace — another spec on the shared
    // session may have left a same-named master.* table with a different
    // schema (the MasterHistoricalLayerSpec lesson).
    val root = tempDir("graft-master-layer")
    val runnable = scripts.filterNot(s => BrokenInReference(s._1))
    val bootErr = mutable.Map.empty[String, String]
    val created = mutable.Set.empty[String]
    var progress = true
    while (progress) {
      progress = false
      runnable.foreach { case (name, text) =>
        val pending = insertTargets(text).filterNot(p => created(p._1))
        if (pending.nonEmpty) {
          val br = new RedshiftScript.Runner(spark, root, Some(Pinned)).run(text)
          pending.foreach { case (t, body) =>
            try {
              val df = spark.sql(RedshiftScript.translate(body, Some(Pinned))).limit(0)
              val parts = t.split("\\.")
              Catalog.replaceTable(df, parts(0), parts(1))
              bootErr.remove(t)
              created += t
              progress = true
            } catch {
              case e: Exception =>
                bootErr(t) = (br.reports.filterNot(_.ok)
                  .map(sr => s"[${sr.verb}] ${sr.error.getOrElse("").take(200)}") :+
                  s"eval: ${e.getMessage.take(300)}").mkString(" | ")
            }
          }
        }
      }
    }
    val targets = runnable.flatMap(s => insertTargets(s._2).map(_._1)).distinct
    val notCreated = targets.filterNot(created)
    assert(notCreated.isEmpty, notCreated.map(t =>
      s"bootstrap failed to create $t: ${bootErr.getOrElse(t, "?")}").mkString("\n"))

    def runAll(tag: String): Set[String] = {
      val results = scripts.map { case (name, text) =>
        (name, new RedshiftScript.Runner(spark, root, Some(Pinned)).run(text))
      }
      results.filter(!_._2.ok).map { case (n, r) =>
        info(s"$tag FAILED $n: " + r.reports.filterNot(_.ok)
          .map(sr => s"[${sr.verb} ${sr.target.getOrElse("")}] ${sr.error.getOrElse("").take(300)}")
          .mkString("; "))
        n
      }.toSet
    }

    assert(runAll("MAIN") === BrokenInReference)
    val counts = targets.map(t => t -> spark.table(t).count()).toMap
    counts.foreach { case (t, n) => assert(n > 0, s"$t empty after layer run") }

    assert(runAll("RERUN") === BrokenInReference)
    assert(targets.map(t => t -> spark.table(t).count()).toMap === counts,
      "3_master re-run was not idempotent")
  }
}
