package graft

import graft.pipeline.{Catalog, RedshiftScript}
import org.apache.spark.sql.{Column, SparkSession, functions => F}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Self-healing fixture stager for running whole reference layers
  * VERBATIM. The curated-map approach of the earlier layer specs
  * (OdsCoreLayerSpec, MasterLayerSpec) hand-derives each source table's
  * column list from the scripts; this harness mechanizes the same
  * derivation so a new layer costs a seed map of special cases, not a
  * 200-line transcription:
  *
  *  1. HARVEST — bind `FROM`/`JOIN` aliases to dotted source tables and
  *     collect every `alias.column` reference in the layer's text.
  *  2. STAGE — 3-row frames with name-driven types (dates by `_at`/
  *     `_date`/… suffixes, numerics by `amount`/`price`/…, booleans by
  *     `is_`), exactly the heuristics the curated specs use.
  *  3. FIX LOOP — run the layer; classify each failure the way a human
  *     would (missing table → stage it; unresolved column → add it to
  *     the referenced fixture; STRING-vs-TIMESTAMP cast or type
  *     mismatch → retype the named fixture columns) and re-run until
  *     green or no progress.
  *
  * Only FIXTURE tables self-heal — script-built temps/targets are
  * excluded from harvesting and never patched, so an interpreter defect
  * still fails the layer instead of being papered over.
  */
object LayerHarness {

  // ------------------------------------------------------- type tagging
  sealed trait ColType
  case object TStr extends ColType
  case object TTs extends ColType
  case object TDate extends ColType
  case object TNum extends ColType
  case object TInt extends ColType
  case object TBool extends ColType
  /** STRING-typed column whose values are timestamp text — the
    * all-varchar landing-table pattern (`NULLIF(date_received_gmt, '')
    * ::TIMESTAMP`, `data-airflow-prod/dags/ups/sql/stage_data.sql:20`):
    * the column must stay comparable to '' as a string, yet castable to
    * TIMESTAMP. */
  case object TTsStr extends ColType
  /** Redshift TIME (dim_times.time) — staged as a day-time interval so
    * `datum + time` composes to a TIMESTAMP the way Redshift's
    * date+time addition does. */
  case object TTime extends ColType

  def heuristicType(c: String): ColType =
    if (c == "time") TTime
    else if (isBoolCol(c)) TBool
    // Redshift naming convention splits the temporal families: `*_date`/
    // `datum`/`*_day` columns are DATE (so `x_date - y_date` is INTEGER
    // day arithmetic, `dm_risk.v_asset_value_written_off_and_lost.sql`
    // subtracts purchased_date bare), `*_at`/`*stamp` are TIMESTAMP
    else if (isTsCol(c)) TTs
    else if (isDateCol(c)) TDate
    else if (isIntCol(c)) TInt
    else if (isNumCol(c)) TNum
    else TStr

  private def isTsCol(c: String): Boolean =
    c == "timestamp" || c.endsWith("_at") || c.endsWith("modstamp") ||
      c.endsWith("tstamp") || c.endsWith("_timestamp") ||
      c.endsWith("_datetime") ||
      // bare past-participle stamps (Mozenda scrape feeds:
      // `substring(created,1,10)` as a date string,
      // `9_SPV/Mozenda/mozenda_amazon.sql:26`)
      c == "created" || c == "updated" || c == "extracted" ||
      (c.endsWith("__c") && isDateCol(c))

  /** Integer-typed warehouse columns that flow into INT-only contexts
    * (`date_sub(date, max_dpd)` — days-past-due feeds day arithmetic,
    * `4_dwh_risk/spain_customer_limit.sql`). */
  private def isIntCol(c: String): Boolean =
    c == "dpd" || c.endsWith("_dpd") || c == "payment_number"

  private def isDateCol(c: String): Boolean =
    c == "date" || c == "datum" || c == "createddate" || c == "timestamp" ||
      c.endsWith("modifieddate") || c.endsWith("_date") || c.endsWith("_at") ||
      c.endsWith("modstamp") || c.endsWith("tstamp") || c.endsWith("_timestamp") ||
      c.startsWith("date_") || c.contains("_date_") ||
      c.endsWith("_day") || c.endsWith("_month") ||
      c.endsWith("_week") || c == "fact_date" || c == "fact_day" ||
      c.endsWith("_eom") || c.endsWith("_bom") || c.endsWith("_till") ||
      c.endsWith("_from") || c.endsWith("_datetime") ||
      (c.endsWith("__c") && {
        val b = c.stripSuffix("__c")
        c.contains("date") || c.contains("_at_") || b.endsWith("_at") ||
        c.contains("allocated") || c.contains("delivered") ||
        c.contains("requested") || c.contains("returned") ||
        c.contains("approved") || c.contains("in_transit") ||
        c.contains("cancel") || c.contains("failed_delivery") ||
        c.contains("picked_by_carrier") || c.contains("ready_to_ship") ||
        c.contains("shipment_date") || c.contains("label_created") ||
        c.contains("completed") || c.contains("purchased")
      })

  private def isBoolCol(c: String): Boolean =
    c.startsWith("is_") || c.startsWith("has_") || c.endsWith("_flag") ||
      c.startsWith("day_is_") || c == "taxincluded"

  private def isNumCol(c: String): Boolean =
    c.startsWith("amount") || c.endsWith("_amount") || c.contains("price") ||
      (c.contains("value") && c != "oldvalue" && c != "newvalue") ||
      c.contains("total") || c.contains("quantity") || c == "ordinal" ||
      c.endsWith("_months") || c.endsWith("_days") || c.endsWith("_num") ||
      c.endsWith("_count") || c.endsWith("_cents") || c.endsWith("_eur") ||
      c.endsWith("_usd") || c.endsWith("_euro") || c.endsWith("_pct") ||
      c.endsWith("_rate") || c.endsWith("_share") || c.endsWith("_score") ||
      c.endsWith("_limit") || c.contains("revenue") || c.contains("discount") ||
      c.endsWith("_fee") || c.endsWith("_cost") || c.endsWith("costs") ||
      // snowplow page-ping pixel coordinates (`pp_xoffset_min`,
      // `pp_yoffset_max` — `1_page_view/04_events_scroll_incremental
      // .sql` folds them through least/greatest/min/max with 0 literals)
      c.contains("offset")

  // ------------------------------------------------------------ staging
  /** Deterministic per-column day step so joined date columns don't all
    * coincide; seeded by name hash, never by wall clock.
    */
  private def dayStep(c: String): Int = math.abs(c.hashCode % 37) + 1

  /** Kafka/S3 partition-folder columns are stringly date PARTS that
    * scripts concatenate into castable dates (`s.year||'-'||s."month"||
    * '-'||s."day"`, `0_ods_core/00_inventory_reservations.sql:29`) —
    * generic `__id` values would make the cast throw under ANSI.
    */
  private val partValues = Map(
    "year" -> "2024", "month" -> "06", "day" -> "14", "hour" -> "07")

  def colExpr(c: String, t: ColType): Column =
    partValues.get(c).map(v => F.lit(v).as(c)).getOrElse(colExprTyped(c, t))

  private def colExprTyped(c: String, t: ColType): Column = t match {
    case TBool => (F.col("__id") % 2 === 0).as(c)
    case TTs => F.expr(
      s"timestampadd(DAY, CAST(__id * ${dayStep(c)} AS INT), TIMESTAMP '2024-01-05 08:00:00')").as(c)
    case TDate => F.expr(
      s"date_add(DATE '2024-01-05', CAST(__id * ${dayStep(c)} AS INT))").as(c)
    // 1-based, never 0: staged numerics appear as divisors
    // (`customer_rfm_segmentation_historical.sql:9` `csv/subscriptions`)
    // and Redshift throws on a zero divisor exactly like ANSI Spark — the
    // reference's real data is nonzero wherever it divides
    case TNum => (F.col("__id") + 1).cast("double").as(c)
    case TInt => (F.col("__id") + 1).cast("int").as(c)
    case TTime => F.expr(
      s"make_dt_interval(0, CAST(__id + 8 AS INT), ${dayStep(c) % 60}, 0)").as(c)
    // 1-based like the numerics: string-typed fixture columns get cast
    // to numerics by scripts (`customer_rfm_segmentation_historical
    // .sql:9` `c.subscriptions::float` as a divisor) and "0" would
    // divide-by-zero under ANSI — as it would in Redshift
    case TStr => (F.col("__id") + 1).cast("string").as(c)
    case TTsStr => F.expr(
      s"CAST(timestampadd(DAY, CAST(__id * ${dayStep(c)} AS INT), " +
        "TIMESTAMP '2024-01-05 08:00:00') AS STRING)").as(c)
  }

  // --------------------------------------------------- seed persistence
  /** Converged fixture knowledge, serializable so a later run stages the
    * final fixtures immediately instead of re-deriving every repair —
    * the committed seed cache turns a 30-minute from-scratch convergence
    * into a single verification pass. Deleting the cache file restores
    * the from-scratch proof.
    */
  final case class Seeds(
      cols: Map[String, Seq[String]],
      types: Map[(String, String), ColType],
      structs: Map[(String, String), Seq[String]],
      order: Map[String, Seq[String]])

  private val typeName: Map[ColType, String] = Map(
    TStr -> "str", TTs -> "ts", TDate -> "date", TNum -> "num",
    TInt -> "int", TBool -> "bool", TTime -> "time", TTsStr -> "tsstr")
  private val typeFromName: Map[String, ColType] = typeName.map(_.swap)

  /** Committed seed-cache directory (tests run with cwd = repo root). */
  val seedsDir = "src/test/resources/layer_seeds"

  /** Layer suites still being converged run only when this env flag is
    * set (`GRAFT_WIP_LAYERS=1 sbt "testOnly …"`), so the default
    * `sbt test` gate stays green while a layer's residual failures are
    * worked down. Remove a suite's gate once it converges.
    */
  def wipEnabled: Boolean = sys.env.contains("GRAFT_WIP_LAYERS")

  /** Split a statement at its TOP-LEVEL set operators (UNION [ALL] /
    * EXCEPT / MINUS / INTERSECT), string- and paren-aware. CTE bodies
    * and subqueries sit at depth > 0 and stay intact. The keyword is
    * matched against the full remaining string via a region matcher —
    * a fixed probe window would truncate `UNION      ALL` (5+
    * whitespace chars) to plain UNION and leak `all` into the next
    * half, breaking nthSelectItem's positional-retype resolution. */
  private[graft] def splitSetOpHalvesImpl(span: String): Seq[String] = {
    val s = span
    val parts = mutable.ListBuffer.empty[String]
    var depth = 0; var inStr = false; var last = 0; var i = 0
    val Kw = "(?is)^(union\\s+all|union|except|minus|intersect)\\b".r
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) { if (c == '\'') inStr = false }
      else c match {
        case '\'' => inStr = true
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ if depth == 0 && c.isLetter &&
            (i == 0 || (!s.charAt(i - 1).isLetterOrDigit && s.charAt(i - 1) != '_')) =>
          val km = Kw.pattern.matcher(s)
          km.region(i, s.length)
          if (km.lookingAt()) {
            parts += s.substring(last, i)
            last = km.end
            i = last - 1
          }
        case _ => ()
      }
      i += 1
    }
    parts += s.substring(last)
    parts.toSeq
  }

  private def seedsPath(layerName: String) =
    java.nio.file.Paths.get(seedsDir, layerName.replaceAll("[^\\w.-]", "_") + ".json")

  def loadSeeds(layerName: String): Option[Seeds] = {
    val p = seedsPath(layerName)
    if (!java.nio.file.Files.exists(p)) return None
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(java.nio.file.Files.readString(p))
    val cols = mutable.Map.empty[String, Seq[String]]
    val types = mutable.Map.empty[(String, String), ColType]
    val structs = mutable.Map.empty[(String, String), Seq[String]]
    val order = mutable.Map.empty[String, Seq[String]]
    root.fields().asScala.foreach { e =>
      val t = e.getKey
      val tn = e.getValue
      val cn = tn.get("cols")
      if (cn != null) {
        val cs = mutable.ArrayBuffer.empty[String]
        cn.fields().asScala.foreach { ce =>
          cs += ce.getKey
          typeFromName.get(ce.getValue.asText()).foreach(ty => types((t, ce.getKey)) = ty)
        }
        cols(t) = cs.toSeq
      }
      val on = tn.get("order")
      if (on != null) order(t) = on.elements().asScala.map(_.asText()).toSeq
      val sn = tn.get("structs")
      if (sn != null) sn.fields().asScala.foreach { se =>
        structs((t, se.getKey)) = se.getValue.elements().asScala.map(_.asText()).toSeq
      }
    }
    Some(Seeds(cols.toMap, types.toMap, structs.toMap, order.toMap))
  }

  /** Write the seed cache if its content changed; returns true when the
    * file was (re)written.
    */
  def saveSeeds(layerName: String, json: String): Boolean = {
    val p = seedsPath(layerName)
    val prev = if (java.nio.file.Files.exists(p))
      Some(java.nio.file.Files.readString(p)) else None
    if (prev.contains(json)) false
    else {
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p, json)
      true
    }
  }

  /** The standard layer-suite contract in one call: build a Layer with
    * the committed seed cache, converge, persist what was learned
    * (pass or fail — partial knowledge still shortens the next run),
    * then prove whole-layer idempotence on a fresh warehouse root.
    * Returns (convergeFailures, rerunFailures, summaryJson).
    */
  def runSeeded(
      spark: SparkSession,
      layerName: String,
      scripts: Seq[(String, String)],
      pinned: Option[String],
      broken: Set[String] = Set.empty,
      neverCols: Set[(String, String)] = Set.empty,
      log: String => Unit = _ => ()): (Map[String, String], Map[String, String], String) = {
    // GRAFT_HARNESS_TRACE=1 tees repair logs to stderr LIVE — ScalaTest
    // info() buffers until the test ends, which makes long convergences
    // impossible to observe
    val effLog: String => Unit =
      if (sys.env.contains("GRAFT_HARNESS_TRACE"))
        m => { Console.err.println(s"[harness $layerName] $m"); log(m) }
      else log
    val layer = new Layer(spark, scripts, pinned, broken = broken,
      neverCols = neverCols, seeds = loadSeeds(layerName), log = effLog)
    val failures = layer.converge()
    saveSeeds(layerName, layer.exportSeeds())
    val rerun =
      if (failures.nonEmpty) Map.empty[String, String]
      else {
        // re-stage fixtures before the idempotence rerun: a cleanup
        // script may have DROPped a source the orchestration reloads
        // before every run (`95_machine_learning/userid_session_id_
        // matching/02_clean_up.sql` drops the RDS-loaded temps)
        layer.stageAll()
        layer.runAll(
          SparkSpec.tempDir(s"graft-rerun"))
      }
    (failures, rerun, layer.summaryJson(layerName, failures))
  }

  final class Layer(
      val spark: SparkSession,
      allScripts: Seq[(String, String)],
      pinned: Option[String],
      seedCols: Map[String, Seq[String]] = Map.empty,
      seedTypes: Map[(String, String), ColType] = Map.empty,
      overrides: Map[(String, String), Column] = Map.empty,
      broken: Set[String] = Set.empty,
      /** curated (table, column) placements the real warehouse provably
        * lacks — the guess/pin machinery may never add them, and the
        * ambiguity repair always drops them. Breaks repair fights where
        * a forwarding CTE keeps ranking a column onto the wrong spine
        * table (`master.customer` + `subscription_id`,
        * `4_dwh_risk/v_b2b_payments_report.sql`). */
      neverCols: Set[(String, String)] = Set.empty,
      /** converged fixture knowledge from a committed seed cache —
        * merged additively under the spec-passed seedCols/seedTypes */
      seeds: Option[Seeds] = None,
      log: String => Unit = _ => ()) {

    /** broken-in-reference scripts don't run; their output tables become
      * ordinary fixtures (they pre-exist in the real warehouse).
      */
    private val scripts = allScripts.filterNot(s => broken(s._1))

    /** `(table, "*")` in neverCols freezes the whole fixture: its seeded
      * column set is authoritative and no repair may add anything — the
      * shape for known one-column lookup lists that otherwise absorb a
      * span's unqualified demands (the Airbyte publisher exclusion list
      * in `7_snowplow/2_sessions/00_marketing_details.sql`). */
    private def neverCol(t: String, c: String): Boolean =
      neverCols((t, c)) || neverCols((t, "*"))

    private def norm(n: String): String = n.replace("\"", "").toLowerCase

    /** Every CTE name defined anywhere in the layer's scripts — a bare
      * 1-part relation matching one is a CTE reference, never an
      * Athena-style default-database table, even when the span under
      * analysis is a sub-span that can't see the definition.
      */
    private val allCteNames: Set[String] = scripts.flatMap { case (_, text) =>
      "(?i)(?<![\\w.])(\\w+)\\s*(?:\\([^()]*\\)\\s*)?as\\s*\\(".r.findAllMatchIn(text)
        .map(_.group(1).toLowerCase)
    }.toSet

    /** 1-part temp name → dotted source for `CREATE [TEMP] TABLE t
      * (LIKE schema.src)` clones: demands on the temp route to the
      * source fixture's schema. */
    private val likeLineage: Map[String, String] = scripts.flatMap {
      case (_, text) =>
        ("(?is)create\\s+(?:temp(?:orary)?\\s+)?table\\s+([\\w\"]+)\\s*" +
          "\\(\\s*like\\s+([\\w.\"]+)\\s*\\)").r.findAllMatchIn(text)
          .map(m => norm(m.group(1)).toLowerCase -> norm(m.group(2)).toLowerCase)
          .filter(_._2.contains("."))
    }.toMap

    private val CreateHead =
      "(?is)^CREATE\\s+(?:OR\\s+REPLACE\\s+)?(?:TEMP(?:ORARY)?\\s+)?(?:TABLE|VIEW|MATERIALIZED\\s+VIEW)\\s+(?:IF\\s+NOT\\s+EXISTS\\s+)?([\\w.\"]+)".r

    // ---- what the layer builds itself (never staged, never patched)
    private val built: Set[String] = {
      val out = mutable.Set.empty[String]
      scripts.foreach { case (_, text) =>
        RedshiftScript.splitStatements(text)
          .map(RedshiftScript.stripLeadingComments).foreach { st =>
            CreateHead.findFirstMatchIn(st).foreach(m => out += norm(m.group(1)))
            RedshiftScript.InsertRe.findFirstMatchIn(st)
              .foreach(m => out += norm(m.group(1)))
          }
      }
      out.toSet
    }

    /** For each table the layer CTAS-builds: the select-list names of
      * its producing body. A built-elsewhere placeholder staged from
      * these columns resolves its consumers on the first pass even when
      * the directory's sort order runs a consumer BEFORE its producer
      * (`91_External/Intercom/intercom_assignments.sql` reads
      * `last_close_at` from `intercom_first_conversation`, which sorts
      * after it), and the ambiguity repair treats them as ownership
      * evidence — without this the column war-guesses onto innocent
      * joined dims and the idempotence rerun fails in a fresh root.
      */
    private val producerCols: Map[String, Seq[String]] = {
      val CtasRe = ("(?is)^CREATE\\s+(?:OR\\s+REPLACE\\s+)?(?:TEMP(?:ORARY)?\\s+)?" +
        "TABLE\\s+(?:IF\\s+NOT\\s+EXISTS\\s+)?([\\w.\"]+)" +
        "((?:\\s+(?:diststyle\\s+\\w+|distkey\\s*\\([^)]*\\)|" +
        "(?:compound\\s+|interleaved\\s+)?sortkey\\s*\\([^)]*\\)|" +
        "backup\\s+\\w+))*)\\s+as\\b(.*)$").r
      val out = mutable.Map.empty[String, Seq[String]]
      scripts.foreach { case (_, text) =>
        RedshiftScript.splitStatements(text)
          .map(RedshiftScript.stripLeadingComments).foreach { st =>
            CtasRe.findFirstMatchIn(st).foreach { m =>
              val t = norm(m.group(1))
              if (t.contains(".") && !out.contains(t)) {
                // a `SELECT * FROM <cte>` tail (the reference's
                // `format`-CTE idiom) defeats the select-list parse —
                // chase the star into the named CTE's body, repeatedly
                var body = m.group(3)
                var names = selectListNames(body)
                var hops = 0
                while (names.isEmpty && hops < 4) {
                  hops += 1
                  val Star =
                    "(?is)\\bselect\\s+(?:distinct\\s+)?\\*\\s+from\\s+(\\w+)\\s*;?\\s*$".r
                  Star.findFirstMatchIn(body.trim) match {
                    case Some(sm) =>
                      val cte = sm.group(1)
                      val Open = ("(?is)(?<![\\w.])" +
                        java.util.regex.Pattern.quote(cte) +
                        "\\s*(?:\\([^()]*\\)\\s*)?as\\s*\\(").r
                      Open.findFirstMatchIn(body) match {
                        case Some(om) =>
                          var d = 1; var i = om.end
                          while (i < body.length && d > 0) {
                            body.charAt(i) match {
                              case '(' => d += 1
                              case ')' => d -= 1
                              case _ => ()
                            }
                            i += 1
                          }
                          if (d == 0) {
                            body = body.substring(om.end, i - 1)
                            names = selectListNames(body)
                          } else hops = 4
                        case None => hops = 4
                      }
                    case None => hops = 4
                  }
                }
                if (names.nonEmpty && names.distinct.size == names.size)
                  out(t) = names
              }
            }
          }
      }
      out.toMap
    }

    /** insert/delete targets that pre-exist in the reference warehouse:
      * built via INSERT but never CREATEd by the layer itself. Each keeps
      * its owning script so a missing target can be re-derived after
      * running just that script (its temps feed the INSERT body).
      */
    /** derived loader targets fed by a POSITIONAL INSERT (no column
      * list): their arity is load-bearing, so the repair machinery may
      * RENAME their columns (squash-match) but never append new ones.
      */
    private def positionalTarget(t: String): Boolean =
      // a PLACEHOLDER standing in for the target is a 1-column dummy —
      // its arity carries no derivation, so repairs may widen it (the
      // positional INSERT then re-derives in place on the arity error)
      !placeholdered(t) && insertTargets.exists(p => p._1 == t && p._2.isEmpty)

    private val insertTargets: Seq[(String, Option[Seq[String]], String, String)] = scripts.flatMap {
      case (script, text) =>
        RedshiftScript.splitStatements(text)
          .map(RedshiftScript.stripLeadingComments)
          .flatMap {
            case RedshiftScript.InsertRe(name, cl, rawBody) if name.contains(".") =>
              val created = scripts.exists { case (_, t2) =>
                RedshiftScript.splitStatements(t2)
                  .map(RedshiftScript.stripLeadingComments)
                  .exists(s => CreateHead.findFirstMatchIn(s)
                    .exists(m => norm(m.group(1)) == norm(name)))
              }
              if (created) None
              else {
                val (cols, body) = RedshiftScript.parseInsert(cl, rawBody)
                if (body.nonEmpty) Some((norm(name), cols, body, script)) else None
              }
            case _ => None
          }
    }

    private val AliasKw = Set("left", "right", "inner", "full", "cross",
      "join", "on", "where", "and", "or", "using", "group", "order", "limit",
      "union", "qualify", "having", "select", "when", "then", "set", "natural")

    /** (alias-or-basename → table) bindings in `span`, covering
      * `FROM a.b x`, `JOIN a.b AS x`, quoted forms (`FROM "dwh"
      * ."product_reporting" "product_reporting"` —
      * `Weekly_monthly_category_performance.sql:93`), and
      * COMMA-separated from-lists (`FROM fact_days f,
      * ods_production.asset AS s` — same file:104). ONE-part targets
      * (CTE/temp names, `JOIN churn c`) are also emitted: they carry no
      * fixture columns, but tell the harvester an alias does NOT
      * uniquely name a dotted source in this statement.
      */
    protected[graft] def tableBindings(rawSpan: String): Seq[(String, String)] = {
      // strip `--` line comments (outside string literals) BEFORE the
      // scan: `FROM stg_api_production.spree_users u --getting the
      // customer_id to join on google sheet file` (`0_ods_core/
      // 00_companies.sql:15`) otherwise loses the binding — the comment's
      // own word "join" reads as a stop keyword mid-item
      val sb = new StringBuilder
      var ci = 0; var inS = false
      while (ci < rawSpan.length) {
        val c = rawSpan.charAt(ci)
        if (inS) { if (c == '\'') inS = false; sb.append(c); ci += 1 }
        else if (c == '\'') { inS = true; sb.append(c); ci += 1 }
        else if (c == '-' && ci + 1 < rawSpan.length && rawSpan.charAt(ci + 1) == '-') {
          while (ci < rawSpan.length && rawSpan.charAt(ci) != '\n') ci += 1
        } else { sb.append(c); ci += 1 }
      }
      val span = sb.toString.replace("\"", "")
      // CTE names defined in this span: a 1-part relation naming one is
      // never a warehouse table. The span may be a SUB-span (a CTE body
      // under repair-scope analysis) that can't see its statement's
      // OUTER definitions — union with the layer-wide CTE names so
      // `FROM status_change_add_on` inside the `last_idx` body doesn't
      // mis-bind to `default.status_change_add_on`
      // (`2_ods_finance/00_addon.sql:31-35`)
      val spanLocalCtes: Set[String] =
        "(?i)(?<![\\w.])(\\w+)\\s*(?:\\([^()]*\\)\\s*)?as\\s*\\(".r.findAllMatchIn(span)
          .map(_.group(1).toLowerCase).toSet
      val spanCtes: Set[String] = spanLocalCtes ++ allCteNames
      val out = mutable.ListBuffer.empty[(String, String)]
      def bind(tblRaw: String, alias: Option[String]): Unit = {
        val tbl = norm(tblRaw)
        val parts = tbl.split("\\.")
        val al = alias.map(_.toLowerCase).filterNot(AliasKw)
        // exactly schema.table, both parts real — keeps EXTRACT(x FROM y)
        // text and dangling-dot fragments out of the fixture set
        if (parts.length == 2 && parts.forall(_.matches("\\w+")) &&
            !tbl.endsWith(".")) {
          al.foreach(a => out += a -> tbl)
          out += parts.last -> tbl
        } else if (parts.length == 1 && tbl.matches("[a-z_]\\w*")) {
          // a bare relation that is neither a CTE of this span nor a
          // table the layer builds is an Athena-style default-database
          // table (`FROM "spree_products"`, `data-airflow-prod/dags/
          // reverse_etl/braze/price_drop/sql/athena_product_data.sql`) —
          // bind it dotted so harvest and column repairs can reach its
          // fixture
          if (!spanCtes(tbl) && !built(tbl)) {
            val dotted = s"default.$tbl"
            al.foreach(a => out += a -> dotted)
            out += tbl -> dotted
          } else {
            // a LAYER-WIDE CTE name (defined only in a different script)
            // suppressing a would-be default-db binding is usually right
            // (sub-span under repair can't see its outer WITH), but can
            // also hide a genuine Athena bare table that collides with a
            // CTE elsewhere — surface it so a stalled convergence has a
            // visible cause instead of a confusing missing-table failure
            if (!spanLocalCtes(tbl) && !built(tbl) && allCteNames(tbl))
              log(s"bare relation '$tbl' bound as a CTE via the " +
                "layer-wide name set (not defined in this span); if it " +
                "is really a default-database table, seed it explicitly")
            al.foreach(a => out += a -> tbl)
            // a 1-part relation used WITHOUT an alias (`LEFT JOIN sp ON …`
            // where sp is a CTE) self-binds, so a table alias of the SAME
            // name elsewhere in the statement stops uniquely naming its
            // dotted source — otherwise `sp.first_failed` (the CTE's
            // lateral-alias output, `ds-airflow-prod/dags/labels/sql/
            // subscription_data.sql:77,122`) harvests onto the fixture
            // table and shadows the lateral alias with a real column
            // (MISSING_AGGREGATION at run time)
            if (al.isEmpty) out += tbl -> tbl
          }
        }
      }
      val Item = "(?i)^\\s*([\\w.\"]+)(?:\\s+(?:as\\s+)?([a-z_]\\w*))?\\s*$".r
      val FromJoin = "(?i)\\b(from|join)\\s+".r
      // innermost unclosed '(' before each index (string-aware; line
      // comments already stripped) — a FROM whose innermost scope is a
      // FUNCTION call (`EXTRACT(DOW FROM b.col)`, `SUBSTRING(x FROM 2)`,
      // `TRIM(LEADING 'x' FROM y)`) introduces no relation; only a
      // scope that begins with SELECT/WITH (or top level) binds
      val openAt = new Array[Int](span.length + 1)
      locally {
        var inS = false; var st = List.empty[Int]; var k = 0
        while (k < span.length) {
          openAt(k) = st.headOption.getOrElse(-1)
          val c = span.charAt(k)
          if (inS) { if (c == '\'') inS = false }
          else c match {
            case '\'' => inS = true
            case '(' => st = k :: st
            case ')' => if (st.nonEmpty) st = st.tail
            case _ => ()
          }
          k += 1
        }
      }
      def queryScope(pos: Int): Boolean = openAt(pos) match {
        case -1 => true
        case o =>
          val rest = span.substring(o + 1).dropWhile(_.isWhitespace)
          rest.take(6).equalsIgnoreCase("select") ||
            rest.take(4).equalsIgnoreCase("with") ||
            rest.startsWith("(") // nested paren: treat as query-ish
      }
      val StopKw = Seq("WHERE", "JOIN", "LEFT", "RIGHT", "INNER", "FULL",
        "CROSS", "GROUP", "ORDER", "QUALIFY", "LIMIT", "HAVING", "WINDOW",
        "UNION", "ON", "USING", "SELECT", "INTERSECT", "EXCEPT", "NATURAL")
      FromJoin.findAllMatchIn(span)
        .filter(m => m.group(1).equalsIgnoreCase("join") || queryScope(m.start))
        .foreach { m =>
        // scan the comma-list: items at depth 0 until a stop keyword
        var i = m.end
        var cur = new StringBuilder
        var depth = 0; var inStr = false; var done = false
        val items = mutable.ListBuffer.empty[String]
        while (i < span.length && !done) {
          val c = span.charAt(i)
          if (inStr) { if (c == '\'') inStr = false; cur.append(c) }
          else c match {
            case '\'' => inStr = true; cur.append(c)
            case '(' => depth += 1; cur.append(c)
            case ')' =>
              if (depth == 0) done = true else { depth -= 1; cur.append(c) }
            case ',' if depth == 0 => items += cur.toString; cur = new StringBuilder
            case _ if depth == 0 && c.isLetter &&
                // identifier boundary on BOTH sides: `ods_production.order_item`
                // and `master."order"` must not stop the scan at ORDER/ON
                (i == 0 || { val p = span.charAt(i - 1)
                  !p.isLetterOrDigit && p != '_' && p != '.' && p != '"' }) &&
                StopKw.exists(k => span.regionMatches(true, i, k, 0, k.length) &&
                  (i + k.length >= span.length || { val n = span.charAt(i + k.length)
                    !Character.isLetterOrDigit(n) && n != '_' && n != '"' && n != '.' })) =>
              done = true
            case _ => cur.append(c)
          }
          i += 1
        }
        items += cur.toString
        items.foreach {
          case Item(tbl, alias) => bind(tbl, Option(alias))
          case _ => ()
        }
      }
      out.toSeq
    }

    // ---- 1. harvest --------------------------------------------------
    // statement-scoped: an alias (`o`, `s`) rebinds to different tables
    // across statements, so each statement's qualified references go to
    // every table that statement binds under the alias. A multi-bind
    // attribution is WEAK — over-staged by construction, and the only
    // placements the ambiguity repair may remove besides guesses.
    private val weak = mutable.Set.empty[(String, String)]

    /** single-bind qualified attestations from the initial harvest —
      * layer-wide textual proof a table owns a column; the ambiguity
      * repair must never drop these, and may drop unattested holders
      * even when untracked (a directQual mis-add under an alias
      * collision leaves no tracking) */
    private val strongHarvest = mutable.Set.empty[(String, String)]

    val fixtureCols: mutable.Map[String, mutable.Set[String]] = {
      val refs = mutable.Map.empty[String, mutable.Set[String]]
      val strong = strongHarvest
      scripts.foreach { case (_, text) =>
        RedshiftScript.splitStatements(text).foreach { st =>
          val binds = mutable.Map.empty[String, mutable.Set[String]]
          val arity = mutable.Map.empty[String, mutable.Set[String]]
          tableBindings(st).foreach { case (a, tbl) =>
            arity.getOrElseUpdate(a, mutable.Set.empty) += tbl
            if (tbl.contains(".") && !built(tbl)) {
              refs.getOrElseUpdate(tbl, mutable.Set.empty)
              binds.getOrElseUpdate(a, mutable.Set.empty) += tbl
            }
          }
          if (binds.nonEmpty) {
            val stripped = st.replace("\"", "")
            // CTE bodies per defined name: an alias that is ALSO a CTE
            // name in this statement refers to the TABLE only inside the
            // CTE's own body — references elsewhere (`LEFT JOIN sp ON
            // sp.customer_id …`, `WHERE o.createddate <= sp.first_failed`
            // with CTE sp over `FROM master.subscription_payment sp`,
            // `ds-airflow-prod/dags/labels/sql/subscription_data.sql`)
            // name the CTE's OUTPUTS and must not harvest fixture
            // columns (a staged `first_failed` column shadows the CTE's
            // lateral alias: MISSING_AGGREGATION at run time)
            val cteSpans: Map[String, Seq[(Int, Int)]] = {
              val out = mutable.Map.empty[String, mutable.ListBuffer[(Int, Int)]]
              for (mm <- "(?i)(?<![\\w.])(\\w+)\\s*(?:\\([^()]*\\)\\s*)?as\\s*\\(".r
                  .findAllMatchIn(stripped)) {
                var d = 1; var i = mm.end; var inS = false
                while (i < stripped.length && d > 0) {
                  val c = stripped.charAt(i)
                  if (inS) { if (c == '\'') inS = false }
                  else c match {
                    case '\'' => inS = true
                    case '(' => d += 1
                    case ')' => d -= 1
                    case _ => ()
                  }
                  i += 1
                }
                out.getOrElseUpdate(mm.group(1).toLowerCase,
                  mutable.ListBuffer.empty) += ((mm.end, i))
              }
              out.view.mapValues(_.toSeq).toMap
            }
            val QualRef = ("(?i)\\b(" + binds.keys.map(java.util.regex.Pattern.quote)
              .mkString("|") + ")\\.(\\w+)").r
            QualRef.findAllMatchIn(stripped).foreach { m =>
              val a = m.group(1).toLowerCase
              val inTableScope = cteSpans.get(a) match {
                case Some(spans) => spans.exists(s => m.start >= s._1 && m.start < s._2)
                case None => true
              }
              val tbls = if (inTableScope) binds.getOrElse(a, Set.empty)
                else Set.empty[String]
              val col0 = m.group(2).toLowerCase
              tbls.filterNot(t => neverCol(t, col0)).foreach { tbl =>
                val col = col0
                refs.getOrElseUpdate(tbl, mutable.Set.empty) += col
                // a WEAK attribution: the alias binds >1 dotted table, OR
                // also a CTE/temp/built target in the same statement
                // (`reporting_churn.sql` binds `c` to both
                // `ods_production.subscription_cancellation_reason` and
                // the `churn` CTE — `c.customer_type` at :232 is the
                // CTE's, and must stay droppable on ambiguity)
                if (tbls.size > 1 || arity.get(a).exists(_.size > 1))
                  weak += ((tbl, col))
                else strong += ((tbl, col))
              }
            }
            // USING(col, …) join keys never appear alias-qualified, so
            // the QualRef harvest misses them — the joined table AND the
            // statement's first FROM table (the left side of the join
            // tree) both need the key (`data-airflow-prod/dags/
            // reverse_etl/crm/sql/eu_offline_conversion_upload.sql:16-17`)
            val Using = ("(?i)\\b(?:from|join)\\s+([\\w.]+)" +
              "(?:\\s+(?:as\\s+)?(?!using\\b)\\w+)?\\s+using\\s*\\(([^)]*)\\)").r
            val firstFrom = "(?i)\\bfrom\\s+([\\w.]+)".r
              .findFirstMatchIn(stripped).map(mm => norm(mm.group(1)))
            Using.findAllMatchIn(stripped).foreach { mm =>
              val cols = mm.group(2).split(",").map(_.trim.toLowerCase)
                .filter(_.matches("\\w+"))
              (Seq(norm(mm.group(1))) ++ firstFrom)
                .filter(t => t.contains(".") && !built(t))
                .foreach { t =>
                  cols.foreach { c =>
                    refs.getOrElseUpdate(t, mutable.Set.empty) += c
                    strong += ((t, c))
                  }
                }
            }
          }
        }
      }
      weak --= strong
      seedCols.foreach { case (t, cols) =>
        refs.getOrElseUpdate(norm(t), mutable.Set.empty) ++= cols.map(_.toLowerCase)
      }
      refs
    }

    val colTypes: mutable.Map[(String, String), ColType] =
      mutable.Map(seedTypes.map { case ((t, c), ty) => (norm(t), c.toLowerCase) -> ty }.toSeq: _*)

    /** Fixtures whose column ORDER is schema-bearing (LIKE-clone sources
      * feeding positional INSERTs) — stage() preserves it, appending any
      * later harvest additions at the end.
      */
    private val orderedFix = mutable.Map.empty[String, Seq[String]]

    /** fixtures forced to ONE row because a script reads them through a
      * scalar subquery — the warehouse table is single-row control state
      * (`(SELECT updated_at FROM dm_marketing.braze_date_cntrl)`,
      * `91_External/Braze/SQL/custom_attributes_export.sql:49`) */
    private val singleRow = mutable.Set.empty[String]

    /** Output column names of a SELECT body's top-level select list;
      * empty when any item defeats the name parse (a star) or names
      * collide.
      */
    private def selectListNames(body: String): Seq[String] = {
      val translated = RedshiftScript.translate(body, pinned)
      val selIdx = RedshiftScript.topKeywordIndex(translated, "SELECT")
      if (selIdx < 0) return Seq.empty
      val listText = RedshiftScript.splitTopKeyword(
        translated.substring(selIdx + 6), "FROM")._1
      if (RedshiftScript.splitTop(listText).exists(_.trim.matches("\\*|[\\w.]+\\.\\*")))
        return Seq.empty
      val AsAlias = "(?is)^.*\\s+as\\s+(\\w+)\\s*$".r
      val Implicit = "(?is)^.*[)'\"`\\w]\\s+(\\w+)\\s*$".r
      val CastCol =
        "(?is)^\\s*[\\w.]*?(\\w+)\\s*(?:::\\s*\\w+(?:\\s*\\(\\s*\\d+(?:\\s*,\\s*\\d+)?\\s*\\))?)+\\s*$".r
      val Qual = "(?is)^[\\w.]*?(\\w+)\\s*$".r
      val cols = RedshiftScript.splitTop(listText).zipWithIndex.map {
        case (AsAlias(a), _) => a.toLowerCase
        case (Implicit(a), _) if !a.matches("(?i)end|null|true|false") => a.toLowerCase
        case (CastCol(a), _) => a.toLowerCase
        case (Qual(a), _) => a.toLowerCase
        case (_, i) => s"col_$i"
      }
      // a DUPLICATE alias in a positional INSERT body is valid Redshift
      // (`org_w3_performance_timing_1.sql` aliases ms_first_paint twice,
      // a reference typo) — arity is what matters, so uniquify repeats
      // instead of defeating derivation
      val seen = mutable.Map.empty[String, Int]
      cols.map { c =>
        val n = seen.getOrElse(c, 0); seen(c) = n + 1
        if (n == 0) c else s"${c}_dup$n"
      }
    }

    // ---- 2. stage ----------------------------------------------------
    def stage(name: String): Unit = {
      val cols = orderedFix.get(name)
        .map(o => o ++ fixtureCols(name).toSeq.filterNot(o.contains).sorted)
        .getOrElse(fixtureCols(name).toSeq.sorted)
      if (cols.isEmpty) return
      val fields = cols.map { c =>
        structFields.get((name, c)) match {
          // SUPER columns navigated with quoted field names (Airbyte
          // `"_airbyte_data"."Customer ID"`) stage as STRUCTs carrying
          // the demanded fields; digit-string values survive the
          // scripts' VARCHAR and regexp-stripped DECIMAL casts
          // a field-less struct cannot be written to parquet ("empty
          // group" — `payment_group_tax_breakdown` staged before any
          // navigation was seen): stay a string until a field is known
          // field names may be DOTTED ("source.attachments") — a field
          // that is itself navigated stages as a NESTED struct; a name
          // that appears both bare and as a prefix builds as the struct
          // (the bare leaf is subsumed)
          case Some(fs) if fs.nonEmpty =>
            def nested(fields: Seq[String]): Seq[Column] =
              fields.groupBy(_.split("\\.", 2)(0)).toSeq.sortBy(_._1).map {
                case (head, grp) =>
                  val children = grp.filter(_.contains("."))
                    .map(_.split("\\.", 2)(1))
                  if (children.nonEmpty)
                    F.struct(nested(children): _*).as(head)
                  else (F.col("__id") + 1).cast("string").as(head)
              }
            F.struct(nested(fs.toSeq.sorted): _*).as(c)
          case _ => overrides.get((name, c)).map(_.as(c)).getOrElse(
            colExpr(c, colTypes.getOrElse((name, c), heuristicType(c))))
        }
      }
      val df = spark.range(if (singleRow(name)) 1 else 3)
        .toDF("__id").select(fields: _*)
      val parts = name.split("\\.")
      Catalog.replaceTable(df, parts(0), parts(1))
    }

    def stageAll(): Unit = fixtureCols.keys.foreach(stage)

    /** Seed a built-elsewhere placeholder with its PRODUCER's select-list
      * columns (union when the fixture already exists) — the faithful
      * pre-existing shape; "id" only when the producer's list is
      * unparseable. `producerKey` may differ from `tbl` for bare names.
      */
    private def seedPlaceholderCols(tbl: String, producerKey: String): Unit = {
      val pc = producerCols.getOrElse(norm(producerKey),
        producerCols.getOrElse(tbl, Nil))
      if (!fixtureCols.contains(tbl))
        fixtureCols(tbl) =
          if (pc.nonEmpty) mutable.Set(pc: _*) else mutable.Set("id")
      else {
        if (pc.nonEmpty)
          fixtureCols(tbl) ++= pc.filterNot(c => neverCol(tbl, c))
        if (fixtureCols(tbl).isEmpty) fixtureCols(tbl) += "id"
      }
    }

    /** After an in-place catalog re-derivation, mirror the derived
      * schema into the fixture knowledge — the idempotence rerun
      * re-stages every fixture from `fixtureCols`/`orderedFix`, so a
      * catalog-only widening silently reverts there and the rerun fails
      * on the very column the derive added (`read` on
      * `stg_external_apis.intercom_conversations`,
      * `91_External/Intercom/intercom_first_conversation.sql:93`). */
    private def syncFixtureToDerived(
        t: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val names = df.schema.fields.map(_.name.toLowerCase).toSeq
      if (names.isEmpty || names.toSet.size != names.size) return
      if (!fixtureCols.contains(t)) return
      orderedFix(t) = names
      fixtureCols(t) = mutable.Set(names: _*)
      df.schema.fields.foreach { f =>
        import org.apache.spark.sql.types._
        val ty = f.dataType match {
          case DateType => TDate
          case _: TimestampType | _: TimestampNTZType => TTs
          case BooleanType => TBool
          case IntegerType | LongType | ShortType => TInt
          case _: NumericType => TNum
          case _ => TStr
        }
        colTypes((t, f.name.toLowerCase)) = ty
      }
    }

    /** Empty target from the INSERT body's own top-level select-list
      * aliases — for SELF-REFERENTIAL historical appends (`insert into
      * dwh.weekly_reporting_historical … from dwh
      * .weekly_reporting_historical …`) the body can't evaluate before
      * the target exists, but its select list still names every column.
      */
    private def deriveFromSelectList(t: String, body: String): Unit = {
      val translated = RedshiftScript.translate(body, pinned)
      // `INSERT INTO t SELECT * FROM some_temp WHERE … t …` (self-
      // referential high-water append, `dim_dates.sql:49-53`): the body
      // can't evaluate before the target exists and `*` defeats the
      // select-list parse, but the target's schema IS the source
      // table's — clone it empty.
      val StarFrom = "(?is)^\\s*SELECT\\s+\\*\\s+FROM\\s+([\\w.]+)".r
      StarFrom.findFirstMatchIn(translated).foreach { m =>
        val src = m.group(1).toLowerCase
        if (spark.catalog.tableExists(src)) {
          log(s"derive self-referential target $t from SELECT * source $src")
          val parts = norm(t).split("\\.")
          Catalog.replaceTable(spark.table(src).limit(0), parts(0), parts(1))
          return
        }
      }
      // a star item defeats the name parse (selectListNames returns
      // empty) — deriving would register a bogus `col_0` schema that
      // later INSERTs arity-mismatch against; the StarFrom clone above
      // is the only safe star derivation
      val cols = selectListNames(body)
      if (cols.isEmpty) return
      // register as a fixture: the table pre-exists in the real warehouse,
      // and registration lets the retype repair reach its columns (the
      // select-list heuristic can mis-type, e.g. `day_is_last_of_month`
      // is a 0/1 flag, not a month date)
      log(s"derive self-referential target $t from its select list (${cols.size} cols)")
      // MERGE with previously learned columns — overwriting here dropped
      // repair-added placements (`_airbyte_emitted_at` on
      // staging.intercom_conversation_parts) every re-derivation round,
      // so the same auto-add re-applied forever and convergence never
      // reached zero applied fixes
      fixtureCols.get(norm(t)) match {
        case Some(prev) => prev ++= cols
        case None => fixtureCols(norm(t)) = mutable.Set(cols: _*)
      }
      // the select-list order IS the positional column order — record it
      // so arity stays exact and the squash-rename repair (mis-spelled
      // loader aliases) recognizes this as an ordered loader target
      if (!orderedFix.contains(norm(t))) orderedFix(norm(t)) = cols
      // repairable like a placeholder (see deriveFromInsertCols): the
      // real table may carry differently-spelled columns than the
      // positional INSERT's aliases
      placeholdered += norm(t)
      stage(norm(t))
    }

    // ---- bootstrap pre-existing insert targets -----------------------
    // lenient runs (stopOnError=false): a DELETE on the missing target
    // opens many scripts, and the temps the INSERT body needs are
    // created AFTER it
    /** script text with DROP TABLE statements removed — derivation runs
      * need the script's own temps alive AFTER the run, but the
      * reference's cleanup tail drops them (`4_dwh_catman/
      * commercial_campaigns_tracking.sql:521` drops the very temp its
      * INSERT body selects from). */
    private def sansDrops(text: String): String =
      RedshiftScript.splitStatements(text)
        .filterNot(st => RedshiftScript.stripLeadingComments(st).trim
          // single-part names only — the session-local temps; dotted
          // warehouse tables keep their DROPs (a kept stale temp that
          // shadows nothing is harmless, a skipped warehouse DROP is not)
          .matches("(?is)^DROP\\s+TABLE\\s+(?:IF\\s+EXISTS\\s+)?[\\w\"]+\\s*;?\\s*"))
        .mkString(";\n")

    private def bootstrap(root: String): Unit = {
      insertTargets.map(_._1).distinct
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      (1 to 2).foreach { _ =>
        scripts.foreach { case (_, text) =>
          new RedshiftScript.Runner(spark, root, pinned, stopOnError = false)
            .run(sansDrops(text))
          insertTargets.filterNot(p => spark.catalog.tableExists(p._1))
            .foreach { case (t, cols, body, _) =>
              if (!deriveFromInsertCols(t, cols)) {
                try {
                  val df = spark.sql(RedshiftScript.translate(body, pinned)).limit(0)
                  val parts = t.split("\\.")
                  Catalog.replaceTable(df, parts(0), parts(1))
                  // a POSITIONAL insert's body-derived schema carries the
                  // SELECT aliases, not the real warehouse table's column
                  // names — register it as an ordered repairable fixture
                  // so the squash-rename repair can reach it when a
                  // downstream script reads the real name
                  // (`spv."condition"` over 6_0_spv_report.sql's
                  // `asset_condition_spv`, `9_SPV/7_0_final_output.sql`)
                  val names = df.columns.map(_.toLowerCase).toSeq
                  if (names.nonEmpty && names.toSet.size == names.size) {
                    fixtureCols.getOrElseUpdate(norm(t), mutable.Set.empty) ++= names
                    if (!orderedFix.contains(norm(t))) orderedFix(norm(t)) = names
                    df.schema.fields.foreach { f =>
                      import org.apache.spark.sql.types._
                      val ty = f.dataType match {
                        case DateType => TDate
                        case _: TimestampType | _: TimestampNTZType => TTs
                        case BooleanType => TBool
                        case IntegerType | LongType | ShortType => TInt
                        case _: NumericType => TNum
                        case _ => TStr
                      }
                      if (!colTypes.contains((norm(t), f.name.toLowerCase)))
                        colTypes((norm(t), f.name.toLowerCase)) = ty
                    }
                    placeholdered += norm(t)
                  }
                } catch { case _: Exception =>
                  try deriveFromSelectList(t, body)
                  catch { case _: Exception => () }
                }
              }
            }
        }
      }
    }

    /** An INSERT with an EXPLICIT column list carries the pre-existing
      * target's schema verbatim (Redshift binds positionally, so even a
      * duplicate select-list alias — `events.sql:205` `pp_yoffset_max
      * ::int AS pp_yoffset_min`, a reference typo — is valid there and
      * must not defeat derivation). Register as an ORDERED fixture so
      * positional reads and the retype repair both work.
      */
    private def deriveFromInsertCols(t: String, cols: Option[Seq[String]]): Boolean =
      cols.filter(_.nonEmpty) match {
        case Some(cs) =>
          val lc = cs.map(_.toLowerCase)
          log(s"derive pre-existing insert target $t from its column list (${lc.size} cols)")
          fixtureCols.getOrElseUpdate(norm(t), mutable.Set.empty) ++= lc
          if (!orderedFix.contains(norm(t))) orderedFix(norm(t)) = lc
          // registered like a placeholder: the table is in `built` (its
          // own INSERT targets it) but behaves as a fixture, so the
          // column/type repairs must be allowed to reach it — the real
          // warehouse table has MORE columns than the column list names
          // (`08_timing_incremental.sql` reads pt.secure_connection_start
          // that the loader never writes)
          placeholdered += norm(t)
          stage(norm(t))
          true
        case None => false
      }

    // ---- 3. classify-and-fix loop ------------------------------------
    // name may be catalog-qualified 3-part (`spark_catalog`.`db`.`tbl`)
    // when the demanded database doesn't exist yet — take the LAST two
    // parts (the former group(1)=spark_catalog mis-parse tried to create
    // a database literally named after the catalog: INTERNAL_ERROR)
    private val NotFound =
      "TABLE_OR_VIEW_NOT_FOUND.*?(?:`[^`]+`\\.)*`([^`]+)`\\.`([^`]+)`".r
    private val Unresolved = "UNRESOLVED_COLUMN[^`]*`([^`]+)`(?:\\.`([^`]+)`)?".r
    private val Ambiguous = "AMBIGUOUS_REFERENCE[^`]*`([^`]+)`".r
    private val CastTo = """CAST_INVALID_INPUT.*?cannot be cast to "(\w+)""".r
    private val MismatchExpr = "(?s)Cannot resolve \"([^\"]+)\"".r

    /** columns placed by UNQUALIFIED-reference guessing — the only ones
      * the ambiguity repair may remove */
    private val guessed = mutable.Set.empty[(String, String)]

    /** placements removed by the ambiguity repair — never guessed onto
      * the same table again, so add/drop cannot oscillate and the guess
      * walks down the candidate list instead */
    private val tabu = mutable.Set.empty[(String, String)]

    /** ambiguity drops where a non-fixture candidate anchored the name —
      * evidence the fixture never owns the column; the pin override may
      * not resurrect these */
    private val anchoredDrops = mutable.Set.empty[(String, String)]

    /** (table, col) pairs dropped once by the UNTRACKED ambiguity
      * fallback (no guessed/weak/pinned marker). A re-add after such a
      * drop is evidence the holder is real — the fallback never drops
      * the same pair twice (oscillation guard).
      */
    private val untrackedDrops = mutable.Set.empty[(String, String)]

    /** fixtures already re-derived from a union-star sibling — one shot
      * each, or a mismatched sibling pick oscillates */
    private val unionDerived = mutable.Set.empty[String]

    /** (table, oldName) pairs consumed by a derived-column rename: a
      * later demand for the OLD spelling on the same table must not
      * rename back (`asset_id` ⇄ `assetid` oscillation) — it belongs to
      * another relation and places elsewhere.
      */
    private val renamed = mutable.Set.empty[(String, String)]

    /** built-elsewhere tables staged as fixture placeholders because a
      * consumer (or a cycle) demanded them before their producer ran —
      * faithful previous-run warehouse state; the producer replaces them */
    private val placeholdered = mutable.Set.empty[String]

    /** insert targets already dropped once for re-derivation after a
      * DELETE referenced a column the first derivation missed */
    private val redropped = mutable.Set.empty[String]

    /** placements the analyzer DEMANDED after every candidate was tabu
      * (a prior scope-blind ambiguity drop removed the true owner, e.g.
      * `asset_condition` at `9_SPV/Pricing_V2/00_step_outlier_removal_1
      * .sql:179` whose subquery binds only s=union_sources/p=product
      * while the statement-wide holder list led with mm_price_data) —
      * never droppable again */
    private val pinnedCols = mutable.Set.empty[(String, String)]

    /** placements already restored to heuristic type once by the
      * INCOMPATIBLE_COLUMN_TYPE repair — never flipped again */
    private val flipped = mutable.Set.empty[(String, String)]

    /** SUPER fixture columns staged as structs: (table, column) →
      * demanded field names (original spelling — they carry spaces and
      * punctuation, `"Amount Overdue** (PbI Adjusted)"`) */
    private val structFields =
      mutable.Map.empty[(String, String), mutable.Set[String]]

    /** placements a repair moved TO a temporal type — analyzer-demanded
      * DATE/TIMESTAMP evidence beats the weaker operator-shape
      * inferences, so these never demote back to int/num (the
      * `purchased_date` TInt↔TDate tug-of-war, `4_dwh_risk`) */
    private val temporalDemanded = mutable.Set.empty[(String, String)]

    // merge the committed seed cache (additive; spec-passed seedTypes
    // and the layer's own built set win — declared AFTER `guessed` so
    // seed-only placements can register as droppable)
    seeds.foreach { s =>
      s.cols.foreach { case (t, cs) =>
        val tn = norm(t)
        if (!built(tn)) {
          val have = fixtureCols.getOrElseUpdate(tn, mutable.Set.empty)
          cs.map(_.toLowerCase).foreach { c =>
            // a seed-only placement the fresh harvest did NOT derive is
            // replayed knowledge that may include past mis-guesses —
            // keep it droppable by the ambiguity repair
            if (!have(c)) guessed += ((tn, c))
            have += c
          }
        }
      }
      s.types.foreach { case ((t, c), ty) =>
        val k = (norm(t), c.toLowerCase)
        if (!built(k._1) && !colTypes.contains(k)) colTypes(k) = ty
      }
      s.structs.foreach { case ((t, c), fs) =>
        if (!built(norm(t)))
          structFields.getOrElseUpdate((norm(t), c.toLowerCase), mutable.Set.empty) ++= fs
      }
      s.order.foreach { case (t, o) =>
        if (!built(norm(t)) && !orderedFix.contains(norm(t))) orderedFix(norm(t)) = o
      }
    }

    /** Serialize the converged fixture knowledge — call after a green
      * converge() and commit via [[LayerHarness.saveSeeds]].
      */
    def exportSeeds(): String = {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = new java.util.TreeMap[String, Object]()
      fixtureCols.toSeq.sortBy(_._1).foreach { case (t, cs) =>
        val tbl = new java.util.TreeMap[String, Object]()
        val cols = new java.util.TreeMap[String, String]()
        cs.toSeq.sorted.foreach { c =>
          cols.put(c, typeName(colTypes.getOrElse((t, c), heuristicType(c))))
        }
        tbl.put("cols", cols)
        orderedFix.get(t).foreach { o =>
          val lst = new java.util.ArrayList[String](); o.foreach(lst.add); tbl.put("order", lst)
        }
        val st = structFields.toSeq.collect {
          case ((`t`, c), fs) => c -> fs.toSeq.sorted }
        if (st.nonEmpty) {
          val sm = new java.util.TreeMap[String, Object]()
          st.sortBy(_._1).foreach { case (c, fs) =>
            val lst = new java.util.ArrayList[String](); fs.foreach(lst.add); sm.put(c, lst)
          }
          tbl.put("structs", sm)
        }
        root.put(t, tbl)
      }
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root) + "\n"
    }

    /** every type a placement has already HELD — a retype back to one of
      * these is a repair cycle (two statements demanding incompatible
      * types); refuse it and leave the residual to a statement-text
      * repair instead of spinning the round budget */
    private val typeHistory =
      mutable.Map.empty[(String, String), mutable.Set[ColType]]

    /** (table, column, type) triples already applied by the positional
      * set-op repair — its ordinal evidence overrides typeHistory, so it
      * needs its own ping-pong brake. */
    private val setOpRetyped = mutable.Set.empty[(String, String, ColType)]

    /** Layer-wide lowercase \w+ token counts — a derived column whose
      * name occurs once in the whole corpus (its own definition site) is
      * read back by nothing and may be renamed freely. */
    private lazy val layerWordCount: Map[String, Int] = {
      val counts = mutable.Map.empty[String, Int]
      scripts.foreach { case (_, text) =>
        "[a-z_]\\w*".r.findAllIn(text.toLowerCase)
          .foreach(w => counts(w) = counts.getOrElse(w, 0) + 1)
      }
      counts.toMap
    }

    /** Rename a derived column of ordered target `t` that no script text
      * references (corpus occurrence ≤ 1 — its own definition) to the
      * demanded `col`, preserving positional arity. */
    private def renameUnreferencedDerived(t: String, col: String): Boolean = {
      if (!orderedFix.contains(t) || !fixtureCols.contains(t)) return false
      if (fixtureCols(t)(col) || renamed((t, col))) return false
      val cands = orderedFix(t).filter(c0 => c0 != col &&
        layerWordCount.getOrElse(c0, 0) <= 1)
      // expression evidence first: the owning INSERT body's select item
      // at a candidate's position NAMES the demanded column — the typo'd
      // `JSON_SERIALIZE("_airbyte_data".author) as type` answers the
      // `author` demand; `_airbyte_emitted_at _airtbyte_normalized_at`
      // (missing comma) answers `_airbyte_emitted_at`
      val bodyItems: Seq[String] =
        insertTargets.find(_._1 == t).map(_._3).toSeq.flatMap { b =>
          val translated = RedshiftScript.translate(b, pinned)
          val selIdx = RedshiftScript.topKeywordIndex(translated, "SELECT")
          if (selIdx < 0) Seq.empty
          else RedshiftScript.splitTop(RedshiftScript.splitTopKeyword(
            translated.substring(selIdx + 6), "FROM")._1)
        }
      val colRe = ("(?i)\\b" + java.util.regex.Pattern.quote(col) + "\\b").r
      val byExpr = cands.filter { c0 =>
        val idx = orderedFix(t).indexOf(c0)
        idx >= 0 && bodyItems.lift(idx).exists(it => colRe.findFirstIn(it).isDefined)
      }
      // fallback: closest relative by character-bigram overlap — but a
      // zero-overlap rename is a blind guess; refuse it
      def bigrams(s: String) = s.replace("_", "").sliding(2).toSet
      val target = bigrams(col)
      def sim(c0: String) = {
        val b = bigrams(c0)
        (b & target).size.toDouble / (b.size + target.size + 1)
      }
      val pick =
        if (byExpr.nonEmpty) byExpr.sortBy(c0 => -sim(c0)).headOption
        else cands.filter(sim(_) > 0).sortBy(c0 => -sim(c0)).headOption
      pick match {
        case Some(c0) =>
          log(s"rename derived column $t.$c0 -> $col (unreferenced, arity-preserving)")
          fixtureCols(t) -= c0; fixtureCols(t) += col
          renamed += ((t, c0))
          orderedFix(t) = orderedFix(t).map(c => if (c == c0) col else c)
          colTypes.remove((t, c0)).foreach(ty => colTypes((t, col)) = ty)
          structFields.remove((t, c0)).foreach(fs => structFields((t, col)) = fs)
          stage(t); true
        case None => false
      }
    }

    private def splitSetOpHalves(span: String): Seq[String] =
      LayerHarness.splitSetOpHalvesImpl(span)

    /** The Nth (1-based) item of a half's outermost select list, when it
      * is a plain [qualifier.]column reference — complex expressions
      * return None (no single column to retype). */
    private def nthSelectItem(half: String, n: Int): Option[(Option[String], String)] = {
      // last top-level SELECT (a CTAS prefix or WITH list precedes it;
      // CTE selects are parenthesized, so depth-0 scan skips them)
      var depth = 0; var inStr = false; var i = 0
      var selStart = -1
      while (i < half.length) {
        val c = half.charAt(i)
        if (inStr) { if (c == '\'') inStr = false }
        else c match {
          case '\'' => inStr = true
          case '(' => depth += 1
          case ')' => depth -= 1
          case 's' | 'S' if depth == 0 &&
              (i == 0 || (!half.charAt(i - 1).isLetterOrDigit && half.charAt(i - 1) != '_')) &&
              half.substring(i, math.min(half.length, i + 7))
                .matches("(?is)select\\b.*|select$") =>
            selStart = i + 6
          case _ => ()
        }
        i += 1
      }
      if (selStart < 0) return None
      // collect depth-0 comma-separated items until depth-0 FROM
      val items = mutable.ListBuffer.empty[String]
      val sb = new StringBuilder
      depth = 0; inStr = false; i = selStart
      var done = false
      while (i < half.length && !done) {
        val c = half.charAt(i)
        if (inStr) { if (c == '\'') inStr = false; sb.append(c) }
        else c match {
          case '\'' => inStr = true; sb.append(c)
          case '(' => depth += 1; sb.append(c)
          case ')' => depth -= 1; sb.append(c)
          case ',' if depth == 0 => items += sb.toString; sb.clear()
          case 'f' | 'F' if depth == 0 &&
              (!half.charAt(i - 1).isLetterOrDigit && half.charAt(i - 1) != '_') &&
              half.substring(i, math.min(half.length, i + 5))
                .matches("(?is)from\\b.*|from$") =>
            done = true
          case _ => sb.append(c)
        }
        i += 1
      }
      items += sb.toString
      items.lift(n - 1).map(_.trim).flatMap { raw =>
        val it = raw.replaceAll("(?is)^(distinct|all)\\b", "").trim
        val Qual = "(?is)^\"?(\\w+)\"?\\s*\\.\\s*\"?([\\w ]+)\"?$".r
        val Bare = "(?is)^\"?([\\w ]+)\"?$".r
        it match {
          case Qual(q, c) => Some((Some(q.toLowerCase), c.trim.toLowerCase))
          case Bare(c) => Some((None, c.trim.toLowerCase))
          case _ => None
        }
      }
    }

    /** Apply one fix for this failure. True = something changed. */
    private def applyFix(
        script: String, text: String, failing: Option[String], err: String): Boolean = {
      // fixture tables bound in the failing statement (whole script as
      // fallback) — an alias may bind DIFFERENT tables across CTEs of
      // one statement, so attribution keeps every candidate in order
      def bindingsIn(span: String): Seq[(String, String)] =
        (tableBindings(span) // 1-part CTE binds are harvest-only signals
          ++ // a temp cloned `(LIKE fixture)` carries the fixture's
             // schema, so a demand on the temp IS a demand on its source
             // (`create temp table temp_mm_price_data (like
             // stg_external_apis_dl.mm_price_data_new)` then `INSERT …
             // SELECT id,… FROM temp_mm_price_data`,
             // `91_External/SFTP/mediamarkt_price_data.sql`)
          tableBindings(span).collect {
            case (a, t) if !t.contains(".") && likeLineage.contains(t) =>
              (a, likeLineage(t))
          }
          ++ // DML TARGETS bind too: an UPDATE has no FROM, yet its SET
             // expressions demand the target's columns (`UPDATE … SET
             // is_current=0 … ELSE is_current END`,
             // `91_External/SFTP/mediamarkt_price_data.sql`)
          ("(?i)\\b(?:update|delete\\s+from|insert\\s+into|merge\\s+into)\\s+" +
            "([\\w.\"]+)").r.findAllMatchIn(span).map { m =>
              val t = m.group(1).replace("\"", "").toLowerCase
              (t.split("\\.").last, t)
            }.toSeq)
          .filter(_._2.contains("."))
          // CREATED tables own their schema (never patched); a derived
          // PRE-EXISTING insert target is a fixture — its guessed schema
          // stays repairable (the `spv.condition` rename on
          // `ods_production.spv_report_master`, `9_SPV/7_0_final_output
          // .sql` over `6_0_spv_report.sql`'s positional INSERT)
          .filterNot { case (_, t) => built(t) && !placeholdered(t) &&
            !insertTargets.exists(_._1 == t) }
      /** Scope evidence for an unqualified column: for each bare
        * occurrence of `col` in the span, walk OUT from the innermost
        * enclosing parenthesized block to the first one that binds
        * fixtures; a block binding exactly ONE distinct fixture is the
        * script's own statement of ownership (`first_touchpoint_order as
        * (select first_touchpoint_30d … from traffic.order_conversions)`
        * — the CTE's sole source must hold the column). Ordered by
        * attestation count, strongest first. Evidence outranks the
        * placement heuristics, overrides tabu, and shields the holder
        * from ambiguity drops — a mis-sprayed guess elsewhere must not
        * drag the true holder down with it (marketing_risk_dashbaord's
        * 6-table spray-then-drop-all freeze).
        */
      def scopeEvidence(span: String, col: String): Seq[String] = {
        val s = span
        val n = s.length
        if (n == 0 || n > 400000) return Nil
        val encl = new Array[Int](n)
        val closeOf = mutable.Map.empty[Int, Int]
        val inStr = new Array[Boolean](n)
        var cur = -1
        var stack = List.empty[Int]
        var str = false
        var i = 0
        while (i < n) {
          val c = s.charAt(i)
          if (str) { inStr(i) = true; encl(i) = cur; if (c == '\'') str = false }
          else c match {
            case '\'' => str = true; inStr(i) = true; encl(i) = cur
            case '(' => encl(i) = cur; stack = i :: stack; cur = i
            case ')' => stack match {
                case h :: t =>
                  closeOf(h) = i; stack = t
                  cur = t.headOption.getOrElse(-1)
                case Nil => ()
              }
              encl(i) = cur
            case _ => encl(i) = cur
          }
          i += 1
        }
        val bare = ("(?i)(?<![\\w.$])" +
          java.util.regex.Pattern.quote(col) + "\\b(?!\\s*[.(])").r
        // `AS col` names an output, not a source column — a CTE aliasing
        // `user_id AS customer_id` must not vote its source table as a
        // customer_id holder
        def isAliasDef(start: Int): Boolean = {
          var j = start - 1
          while (j >= 0 && s.charAt(j).isWhitespace) j -= 1
          j >= 1 && s.charAt(j).toLower == 's' && s.charAt(j - 1).toLower == 'a' &&
            (j - 2 < 0 || !s.charAt(j - 2).isLetterOrDigit)
        }
        val votes = mutable.Map.empty[String, Int]
        for (m <- bare.findAllMatchIn(s) if !inStr(m.start) && !isAliasDef(m.start)) {
          var o = encl(m.start)
          var done = false
          while (o >= 0 && !done) {
            val block = s.substring(o + 1, math.min(closeOf.getOrElse(o, n), n))
            val bs = bindingsIn(block).map(_._2).distinct
            // the block must bind exactly ONE relation overall — a CTE
            // or temp alongside the lone fixture can own the column
            // (`FROM a LEFT JOIN marketing.campaigns_brand_non_brand b`,
            // `7_snowplow/2_sessions/00_marketing_details.sql:192-193`:
            // the bare marketing_source is CTE a's, not b's)
            val rels = tableBindings(block).map(_._2).distinct
            if (bs.size == 1 && rels.size <= 1) {
              votes(bs.head) = votes.getOrElse(bs.head, 0) + 1; done = true
            }
            else if (bs.size > 1 || rels.size > 1) done = true // multi-bind scope
            else o = encl(o)
          }
        }
        votes.toSeq.sortBy(-_._2).map(_._1)
      }
      /** The parenthesized body of CTE `name` in `span`, if any. */
      def cteSpanOf(span: String, name: String): Option[String] = {
        ("(?i)(?<![\\w.])" + java.util.regex.Pattern.quote(name) +
          "\\s+as\\s*\\(").r.findFirstMatchIn(span).flatMap { mm =>
          var depth = 1; var i = mm.end; var inStr = false
          while (i < span.length && depth > 0) {
            val c = span.charAt(i)
            if (inStr) { if (c == '\'') inStr = false }
            else c match {
              case '\'' => inStr = true
              case '(' => depth += 1
              case ')' => depth -= 1
              case _ => ()
            }
            i += 1
          }
          if (depth == 0) Some(span.substring(mm.end, i - 1)) else None
        }
      }
      /** Root fixture of a star-forwarding CTE chain: `SELECT * […]
        * FROM x` where x is another CTE recurses into x's body until a
        * DOTTED relation appears — the star makes every column of the
        * root visible through the chain.
        */
      def starChainSource(span: String, body: String, depth: Int): Seq[String] = {
        if (depth > 4) return Nil
        val StarFrom =
          "(?is)^\\s*select\\s+(?:distinct\\s+)?\\*.*?\\bfrom\\s+([\\w.\"]+)".r
        StarFrom.findFirstMatchIn(body.trim) match {
          case Some(m) =>
            val src = norm(m.group(1).replace("\"", ""))
            if (src.contains(".")) Seq(src)
            else cteSpanOf(span, src)
              .map(b => starChainSource(span, b, depth + 1)).getOrElse(Nil)
          case None => Nil
        }
      }
      // 1-part missing table (an Athena bare name, `FROM spree_products`
      // — `data-airflow-prod/dags/reverse_etl/braze/price_drop/sql/
      // athena_product_data.sql`): resolve against the session's default
      // database, where the scripts' bare references land. A bare name
      // BUILT by another script in the layer gets the usual
      // built-elsewhere placeholder treatment through the same path.
      val bare1 =
        "TABLE_OR_VIEW_NOT_FOUND[^`]*`([\\w]+)` cannot be found".r
          .findFirstMatchIn(err).map(_.group(1).toLowerCase)
      bare1.foreach { b =>
        val tbl = s"default.$b"
        if (built(b) || built(tbl)) {
          if (spark.catalog.tableExists(tbl) || spark.catalog.tableExists(b))
            return true
          log(s"placeholder-stage built-elsewhere bare table $tbl")
          placeholdered += tbl
          seedPlaceholderCols(tbl, b)
          stage(tbl); return true
        }
        if (!fixtureCols.contains(tbl)) {
          log(s"auto-stage missing bare table $tbl")
          fixtureCols(tbl) = mutable.Set("id")
        } else if (fixtureCols(tbl).isEmpty) fixtureCols(tbl) += "id"
        stage(tbl); return true
      }
      NotFound.findFirstMatchIn(err) match {
        case Some(m) =>
          val tbl = s"${m.group(1)}.${m.group(2)}".toLowerCase
          // built/bootstrapped targets materialize once their producing
          // script is fixed — nothing to patch here. If the producer ran
          // LATER in this same round (alphabetical order), the table
          // exists NOW: claim progress so converge loops once more and
          // the consumer sees it (`00_inventory_store_variant_
          // availability.sql` UPDATEs `ods_production.variant`, built by
          // the later `00_variant.sql`).
          if (insertTargets.exists(_._1 == tbl) && !built(tbl))
            return spark.catalog.tableExists(tbl)
          if (built(tbl)) {
            if (spark.catalog.tableExists(tbl)) return true
            // a script-built table demanded before (or cyclically with)
            // its producer: the real warehouse holds the PREVIOUS run's
            // table, so a fixture placeholder is faithful pre-existing
            // state — the producer's CREATE replaces it
            // (`live_reporting.order.sql` ⇄ `live_reporting
            // .subscription.sql` read each other)
            log(s"placeholder-stage built-elsewhere table $tbl")
            placeholdered += tbl
            seedPlaceholderCols(tbl, tbl)
            stage(tbl); return true
          }
          if (!fixtureCols.contains(tbl)) {
            log(s"auto-stage missing table $tbl")
            fixtureCols(tbl) = mutable.Set("id")
          } else if (fixtureCols(tbl).isEmpty) fixtureCols(tbl) += "id"
          stage(tbl); return true
        case None => ()
      }
      // DELETE on a derived pre-existing insert target referencing a
      // column the derivation missed (`DELETE … WHERE fact_day >= …` on
      // a target cloned mid-bootstrap from an incomplete temp,
      // `4_dwh_catman/weekly_performance_report_financial_metrics.sql`):
      // drop the target once so rebootstrapMissing re-derives it whole
      if (err.contains("UNRESOLVED_COLUMN")) {
        val DelRe = "(?is)^DELETE\\s+FROM\\s+([\\w.\"]+).*".r
        failing.map(RedshiftScript.stripLeadingComments).foreach {
          case DelRe(nm) =>
            val t = norm(nm)
            // a PLACEHOLDER target is not dropped again (that loops
            // drop → missing → placeholder forever when the producer
            // isn't runnable yet) — the Unresolved repair below widens
            // the placeholder instead, and the later positional INSERT
            // re-derives it in place on the arity error
            if (insertTargets.exists(_._1 == t) && !redropped(t) &&
                !placeholdered(t) && spark.catalog.tableExists(t)) {
              log(s"drop mis-derived insert target $t for re-derivation (DELETE)")
              redropped += t
              spark.sql(s"DROP TABLE IF EXISTS $t")
              return true
            }
          case _ => ()
        }
      }
      // a scalar subquery over a staged fixture returns 3 rows where the
      // warehouse's control table holds one — force the subquery's
      // fixture sources to a single row
      if (err.contains("SCALAR_SUBQUERY_TOO_MANY_ROWS")) {
        val Sub = "(?is)\\(\\s*select\\s+[^()]*?\\bfrom\\s+([\\w.]+)[^()]*?\\)".r
        val tabs = Sub.findAllMatchIn(failing.getOrElse(text))
          .map(m => norm(m.group(1))).toSeq.distinct
          .filter(t => fixtureCols.contains(t) && !singleRow(t))
        if (tabs.nonEmpty) {
          tabs.foreach { t =>
            log(s"single-row stage scalar-subquery source $t")
            singleRow += t; stage(t)
          }
          return true
        }
      }
      // a fixture gap surfacing as a correlation leak: the subquery's
      // local column is missing, Spark resolved the name to the OUTER
      // query and rejects the aggregate over it (`min(to_date)`,
      // `4_dwh_catman/dm_commercial.commercial_metrics_overview.sql:522`)
      if (err.contains("CORRELATED_REFERENCE")) {
        val OuterCol = """outer\((?:[\w`]+\.)*`?(\w+)`?\)""".r
        OuterCol.findFirstMatchIn(err) match {
          case Some(m2) =>
            val col = m2.group(1).toLowerCase
            val binds2 = bindingsIn(failing.getOrElse(text))
            binds2.map(_._2).distinct.find(t => fixtureCols.contains(t) &&
                !fixtureCols(t)(col) && !tabu((t, col)) &&
                !neverCol(t, col)) match {
              case Some(t) if positionalTarget(t) =>
                // arity is load-bearing on a positional insert target —
                // appending would break its INSERT, and the arity
                // re-derive would strip the column right back (the
                // add ⇄ re-derive loop that exhausted rounds on
                // staging.intercom_conversation_parts). Rename an
                // arity-preserving derived column no other script text
                // references instead (`_airbyte_emitted_at
                // _airtbyte_normalized_at` — the reference's missing
                // comma aliased the emitted_at position to a name
                // nothing reads back).
                if (renameUnreferencedDerived(t, col)) return true
              case Some(t) =>
                log(s"auto-add (correlated-leak) $t.$col")
                fixtureCols(t) += col; guessed += ((t, col))
                stage(t); return true
              case None => ()
            }
          case None => ()
        }
      }
      Unresolved.findFirstMatchIn(err) match {
        case Some(m) =>
          val span = failing.getOrElse(text)
          val binds = bindingsIn(span)
          // the unresolved name may be a column of a BOOTSTRAPPED insert
          // target whose derivation under-shot (its source is CTAS'd
          // later in the same script — `4_dwh_catman/
          // portfolio_overview_sf_and_im.sql:223` DELETEs on `date`
          // before the INSERT that defines it): re-derive from the
          // cached INSERT body now that the producer ran this round
          locally {
            val qualName = Option(m.group(2)).map(_ => m.group(1).toLowerCase)
            val demanded = Option(m.group(2)).getOrElse(m.group(1)).toLowerCase
            // qualified demands name their target; a BARE demand may
            // still belong to an insert target bound in the failing span
            // (`REPLACE(conditions, …) FROM marketing.voucherify_…`)
            val candTargets: Seq[String] = qualName match {
              case Some(q) => insertTargets.map(_._1).distinct
                .filter(t => t == norm(q) || t.split("\\.").last == q)
              case None => binds.map(_._2).distinct
                .filter(t => insertTargets.exists(_._1 == t))
            }
            for (t0 <- candTargets) {
              insertTargets.find { case (t, _, _, _) =>
                t == t0 &&
                  spark.catalog.tableExists(t) &&
                  !spark.table(t).columns.map(_.toLowerCase).contains(demanded)
              }.foreach { case (t, _, body, _) =>
                try {
                  val df = spark.sql(RedshiftScript.translate(body, pinned)).limit(0)
                  if (df.columns.map(_.toLowerCase).contains(demanded)) {
                    val parts = t.split("\\.")
                    log(s"re-derive insert target $t in place (unresolved $demanded)")
                    Catalog.replaceTable(df, parts(0), parts(1))
                    syncFixtureToDerived(t, df)
                    return true
                  }
                } catch { case _: Exception => () }
                // the target is a `SELECT * FROM <fixture>` clone and the
                // demand names a column the SOURCE fixture is missing —
                // the clone pair shares the warehouse schema, so add the
                // column upstream and re-derive the clone
                // (`marketing.voucherify_validation_rules_extracted
                // .conditions` demanded by insert_voucherify_voucher_
                // transactions.sql while the clone source
                // `staging.….sql` never saw it)
                val StarFrom =
                  "(?is)^\\s*select\\s+\\*\\s+from\\s+([\\w.\"]+)\\s*;?\\s*$".r
                for (sm <- StarFrom.findFirstMatchIn(body)) {
                  val src = norm(sm.group(1).replace("\"", ""))
                  if (fixtureCols.contains(src) && !fixtureCols(src)(demanded) &&
                      !tabu((src, demanded)) && !neverCol(src, demanded)) {
                    log(s"auto-add $src.$demanded (clone-source of $t)")
                    fixtureCols(src) += demanded; guessed += ((src, demanded))
                    stage(src)
                    try {
                      val df2 = spark.sql(
                        RedshiftScript.translate(body, pinned)).limit(0)
                      val parts = t.split("\\.")
                      log(s"re-derive insert target $t in place (clone +$demanded)")
                      Catalog.replaceTable(df2, parts(0), parts(1))
                    } catch { case _: Exception => () }
                    return true
                  }
                }
              }
            }
          }
          /** One placement attempt for an unresolved (qual, col); the
            * error-named column first, then other unresolved attributes
            * harvested from the plan dump (Spark reports ONE name and it
            * may be a DOWNSTREAM casualty: `duplicate_subscriptions`'s
            * `subscription_id` is unresolvable only because `base_`'s
            * `subscription_bo_id`/`date` are the real gaps —
            * `4_dwh_risk/v_b2b_payments_report.sql`). */
          def tryPlace(qual: Option[String], col: String,
              fieldCase: Option[String], fallback: Boolean = false): Boolean = {
            // the qualifier may name a CTE (no fixture binds it):
            // resolve THROUGH it — a fallback whose column the CTE's own
            // text already carries is a downstream casualty of another
            // gap, not a gap itself (plan dumps mark `'a.allocation_id`
            // even though CTE `a` selects `ps.allocation_id` explicitly;
            // placing it on the CTE's other source manufactures a
            // `pr.*`-vs-explicit duplicate). When the CTE does NOT carry
            // it, the CTE's own span is the placement scope.
            val cteScope = qual.filter(q => !binds.exists(_._1 == q))
              .flatMap(q => cteSpanOf(span, q).orElse(
                // `FROM exclude_from_control_group ce`: the alias binds a
                // 1-part CTE name — resolve through the CTE's body
                tableBindings(span).collectFirst {
                  case (a, t) if a == q && !t.contains(".") => t
                }.flatMap(n => cteSpanOf(span, n))))
            for (cs <- cteScope)
              if (fallback && ("(?i)(?<![\\w.$])" +
                  java.util.regex.Pattern.quote(col) + "\\b").r
                    .findFirstIn(cs).isDefined) return false
            // a select-list (lateral) alias defines the bare name: it
            // resolves in place once the root gap is fixed
            if (fallback && qual.isEmpty &&
                ("(?i)\\bas\\s+" + java.util.regex.Pattern.quote(col) +
                  "\\b").r.findFirstIn(span).isDefined) return false
            // `"_airbyte_data"."Customer ID"`: the "qualifier" is itself
            // a SUPER column on a bound fixture (Airbyte raw landing,
            // `4_dwh_risk/pbi_customer_tracking.sql:10`) — stage that
            // column as a STRUCT carrying the demanded field. Only when
            // no alias of this name is bound (a real alias always wins).
            for (q <- qual) {
              // the alias check must include 1-part CTE binds: `slug.slug`
              // where `slug` is a CTE over ods_production.product must NOT
              // structify product.slug (`7_snowplow/1_page_view/
              // 13_page_type.sql:3-4,41`)
              val anyAlias = tableBindings(span).exists(_._1 == q)
              if (!anyAlias && (q.startsWith("_airbyte") ||
                  binds.map(_._2).exists(t => fixtureCols.get(t).exists(_(q))))) {
                val holder = binds.map(_._2).distinct
                  .find(t => fixtureCols.get(t).exists(_(q)))
                  .orElse(binds.map(_._2).headOption)
                for (t <- holder) {
                  fixtureCols.get(t).foreach(_ += q)
                  val fs = structFields.getOrElseUpdate((t, q), mutable.Set.empty)
                  val field = fieldCase.getOrElse(col)
                  if (!fs.exists(_.equalsIgnoreCase(field))) {
                    log(s"auto-add struct field $t.$q.`$field`")
                    fs += field; stage(t); return true
                  }
                }
              }
            }
            val candidates = qual match {
              case Some(q) =>
                val direct = binds.collect { case (a, t) if a == q => t }.distinct
                if (direct.nonEmpty) direct
                else if (cteScope.exists(cs => bindingsIn(cs).nonEmpty))
                  // place inside the CTE's own scope
                  cteScope.map(cs => bindingsIn(cs).map(_._2).distinct).get
                else if (cteScope.exists(cs =>
                    starChainSource(span, cs, 0).nonEmpty))
                  // the CTE star-forwards another CTE which star-forwards
                  // a fixture (`li` → `last_idx` → `status_change_add_on`
                  // → `stg_curated.addons_order_status_change_v1`,
                  // `2_ods_finance/00_addon.sql:25-35,76`): the demanded
                  // column lives on the chain's root fixture
                  cteScope.map(cs => starChainSource(span, cs, 0)).get
                else {
                  // the alias names a CTE (`targets AS (SELECT *, … FROM
                  // dwh.commercial_targets_daily_country)`): a `SELECT *`
                  // CTE forwards a fixture's columns, so rank fixtures by
                  // how many of the analyzer's sibling suggestions
                  // (`t`.`id`, `t`.`country`) they already hold
                  val sibs = ("`" + java.util.regex.Pattern.quote(q) + "`\\.`(\\w+)`").r
                    .findAllMatchIn(err).map(_.group(1).toLowerCase).toSet - col
                  binds.map(_._2).distinct
                    .sortBy(t => -fixtureCols.get(t).map(cs => sibs.count(cs)).getOrElse(0))
                }
              case None =>
                // the analyzer's suggestions name the IN-SCOPE aliases
                // (`[`f`.`fact_day`, `s`.`sold_date`]`) — an unqualified
                // guess must land inside that scope, not on a table another
                // part of the statement binds. Rank by suggestion count:
                // the alias contributing most in-scope columns is the wide
                // source table likeliest to own an unqualified reference
                val suggPairs = "`(\\w+)`\\.`\\w+`".r.findAllMatchIn(err)
                  .map(_.group(1).toLowerCase).toSeq
                val sugg = suggPairs.toSet
                val byAlias = suggPairs.groupBy(identity).map { case (a, o) => a -> o.size }
                val scoped = binds.collect { case (a, t) if sugg(a) => (a, t) }
                if (scoped.nonEmpty)
                  scoped.sortBy { case (a, _) => -byAlias.getOrElse(a, 0) }
                    .map(_._2).distinct
                else binds.map(_._2).distinct
            }
            // DELETE statements bind their target implicitly (no FROM
            // alias): `DELETE FROM t WHERE col …` and the USING
            // rewrite's `__t` alias both resolve against the target —
            // a placeholder target missing the column is repairable
            // (`commercial_campaigns_tracking.sql` event_time_page_loaded)
            val delTarget = "(?is)^\\s*delete\\s+from\\s+([\\w.\"]+)".r
              .findFirstMatchIn(RedshiftScript.stripLeadingComments(span))
              .map(mm => norm(mm.group(1).replace("\"", "")))
              .filter(t => fixtureCols.contains(t))
            val candidates1 = delTarget match {
              case Some(dt) if qual.isEmpty || qual.contains("__t") ||
                  qual.exists(q => dt == q || dt.endsWith("." + q)) =>
                (dt +: candidates).distinct
              case _ => candidates
            }
            // `<entity>_id` columns almost surely live on the `<entity>`
            // table — rank candidates by that affinity (stable: preserves
            // the suggestion ranking within equal affinity) so guesses and
            // pins land on master.subscription_historical for
            // `subscription_id`, not master.customer
            def affinity(t: String): Int = {
              val base = t.split("\\.").last
              if (col.endsWith("_id") &&
                  base.startsWith(col.stripSuffix("_id"))) 1
              else 0
            }
            // scope evidence outranks the heuristics: the script text
            // itself names the owner, so it also overrides a tabu left
            // by an earlier over-drop
            val evidence =
              if (qual.isEmpty) scopeEvidence(span, col) else Nil
            val evid = evidence.toSet
            // a table whose span alias QUALIFIES the column somewhere
            // (`s.product_sku` with s → subscription) is the attested
            // owner — rank it ahead of anchors and affinity. An alias
            // bound to SEVERAL different tables across the statement's
            // CTEs (`b` → publishers, campaigns AND backup in
            // `7_snowplow/2_sessions/00_marketing_details.sql`) attests
            // none of them: `b.col` is evidence for whichever scope it
            // appears in, which the flat bind list can't tell apart
            def aliasUniq(a: String): Boolean =
              binds.filter(_._1 == a).map(_._2).distinct.size == 1
            def attestedT(t: String): Boolean = binds.exists { case (a, t2) =>
              t2 == t && aliasUniq(a) && ("(?i)(?<![\\w.])" +
                java.util.regex.Pattern.quote(a) + "\\s*\\.\\s*" +
                java.util.regex.Pattern.quote(col) + "\\b").r
                  .findFirstIn(span).isDefined }
            // a built-elsewhere placeholder whose producer's select list
            // names the column outranks everything: the producer defines
            // the warehouse schema
            def producerOwnedT(t: String): Boolean =
              built(t) && producerCols.get(t).exists(_.contains(col))
            val ranked = (evidence.filter(candidates1.contains) ++
              candidates1.sortBy(t =>
                (if (producerOwnedT(t)) -1 else if (attestedT(t)) 0 else 1,
                  -affinity(t)))).distinct
            // add to the first candidate fixture that lacks it; repeated
            // rounds walk down the list until the analyzer is satisfied.
            // Only a DIRECTLY-bound alias is analyzer-confirmed evidence
            // of ownership; CTE-sibling-ranked placements are still
            // guesses — they mark guessed and respect tabu like
            // unqualified ones
            // a qualified demand is analyzer-confirmed ownership only
            // when the alias maps to ONE table across the statement —
            // `b.marketing_campaign` with `b` → publishers, campaigns
            // AND backup in different CTEs is a guess, not evidence
            // (the flat bind list can't tell which scope demanded it)
            val directQual = qual.exists(q =>
              binds.filter(_._1 == q).map(_._2).distinct.size == 1)
            // a derived-ordered loader target (positional INSERT) must
            // keep its arity: when the demanded name squash-matches an
            // existing column (loader alias `secureconnectionstart` vs
            // the real table's `secure_connection_start`,
            // `7_snowplow/1_page_view/08_timing_incremental.sql:44`),
            // RENAME the column instead of appending a new one
            def squash(s: String) = s.replace("_", "")
            // rename only under a QUALIFIED demand that binds THIS
            // target: an unqualified name (`partition by assetid`) may
            // belong to a different relation of the span, and renaming
            // the derived target ping-pongs with the other spelling's
            // demands (`asset_id` ⇄ `assetid` on spv_report_master,
            // `9_SPV/7_0_final_output.sql`)
            for (t <- ranked.find(t => orderedFix.contains(t) &&
                fixtureCols.contains(t) && !fixtureCols(t)(col) &&
                qual.exists(q => binds.exists(b => b._1 == q && b._2 == t)) &&
                !renamed((t, col)))) {
              // second preference: a UNIQUE derived column CONTAINING the
              // demanded name — a positional INSERT's select alias need
              // not match the real table's column name at all
              // (`asset_condition_spv` feeds the column 7_0_final_output
              // reads as `spv."condition"`, `9_SPV/6_0_spv_report.sql:26`)
              def containsMatch: Option[String] = {
                val cands = fixtureCols(t).toSeq.filter(c0 => c0 != col &&
                  (squash(c0).contains(squash(col)) ||
                    squash(col).contains(squash(c0))))
                if (cands.size == 1) cands.headOption
                else if (cands.size > 1) {
                  // several containing candidates (`condition` is inside
                  // asset_condition_spv AND both average_of_sources_on_
                  // condition_* aliases): the closest name — the unique
                  // squash-shortest — is the one the real table renamed
                  val bySize = cands.sortBy(c0 => squash(c0).length)
                  bySize match {
                    case a +: b +: _
                        if squash(a).length < squash(b).length => Some(a)
                    case _ => None
                  }
                } else None
              }
              fixtureCols(t).find(c0 => c0 != col && squash(c0) == squash(col))
                .orElse(containsMatch)
                .foreach { c0 =>
                  log(s"rename derived column $t.$c0 -> $col (squash-match)")
                  fixtureCols(t) -= c0; fixtureCols(t) += col
                  renamed += ((t, c0))
                  orderedFix(t) = orderedFix(t).map(c => if (c == c0) col else c)
                  colTypes.remove((t, c0)).foreach(ty => colTypes((t, col)) = ty)
                  structFields.remove((t, c0)).foreach(fs => structFields((t, col)) = fs)
                  stage(t); return true
                }
            }
            // a POSITIONAL target missing the demanded name can't take an
            // append (arity is load-bearing); rename an unreferenced
            // derived column in place instead — the double-`type` typo'd
            // Intercom parts INSERT answers the later `author` demand
            for (t <- ranked.find(t => positionalTarget(t) &&
                orderedFix.contains(t) && fixtureCols.get(t).exists(!_(col)) &&
                !neverCol(t, col)))
              if (renameUnreferencedDerived(t, col)) return true
            ranked.find(t => fixtureCols.contains(t) && !fixtureCols(t)(col) &&
                !positionalTarget(t) &&
                !neverCol(t, col) &&
                (directQual || evid(t) || !tabu((t, col)))) match {
              case Some(t) =>
                log(s"auto-add $t.$col" + (if (evid(t)) " (scope evidence)" else ""))
                fixtureCols(t) += col
                if (evid(t)) tabu -= ((t, col))
                if (!directQual && !evid(t)) guessed += ((t, col))
                else weak -= ((t, col)) // analyzer/text-confirmed: no longer droppable
                stage(t); true
              case None =>
                // every candidate is tabu from a prior ambiguity drop, yet
                // the analyzer demands the column HERE: re-add to the
                // best-ranked candidate and PIN it so the repair can't
                // drop it again — but never pin a SECOND holder for the
                // same name (pinning both sides is what froze the
                // v_b2b_payments_report ambiguity)
                val alreadyPinned = candidates.exists(t => pinnedCols((t, col)))
                // pin onto the statement's FROM-anchor table first — an
                // unqualified name overwhelmingly belongs to the anchor,
                // and pinning a joined dim instead starts the pin war
                // the ambiguity repair then has to unwind
                // (5_dwh_widgets start_date/product_sku fights)
                val anchorFirst = binds.headOption.map(_._2) match {
                  case Some(a) => ranked.sortBy(t =>
                    if (evid(t)) -2 else if (attestedT(t)) -1
                    else if (t == a) 0 else 1)
                  case None => ranked
                }
                anchorFirst.find(t => fixtureCols.contains(t) &&
                    !fixtureCols(t)(col) && !positionalTarget(t) &&
                    !neverCol(t, col) &&
                    (!anchoredDrops((t, col)) || evid(t)) && !alreadyPinned) match {
                  case Some(t) =>
                    log(s"re-add pinned $t.$col (tabu override)")
                    tabu -= ((t, col)); fixtureCols(t) += col
                    pinnedCols += ((t, col)); guessed -= ((t, col))
                    stage(t); true
                  case None => false
                }
            }
          }
          val (qual0, col0) = Option(m.group(2)) match {
            case Some(c) => (Some(m.group(1).toLowerCase), c.toLowerCase)
            case None => (None, m.group(1).toLowerCase)
          }
          if (tryPlace(qual0, col0, Option(m.group(2)))) return true
          // fallback: the plan dump marks every unresolved attribute with
          // a leading apostrophe — try those (dotted first: they carry
          // their own alias evidence). Function heads are excluded by the
          // no-`(`-follows guard; plan node names start uppercase.
          val keywords = Set("asc", "desc", "nulls", "first", "last", "true",
            "false", "null", "interval", "list")
          // mask CLOSED single-quoted literals first (`= 'delivered'`)
          // so they are not harvested as guessed columns — plan-style
          // markers ('name, no closing quote) survive: a marker run like
          // `'a, 'b` contains a comma/space the mask pattern excludes
          val errMasked = err.replaceAll("'[a-z_][\\w.]*'", "''")
          val dotted = "'(\\w+)\\.(\\w+)\\b(?![\\w(.])".r.findAllMatchIn(errMasked)
            .map(mm => (Some(mm.group(1).toLowerCase), mm.group(2).toLowerCase))
            .toSeq
          val bare = "'([a-z_]\\w*)\\b(?![\\w(.])".r.findAllMatchIn(errMasked)
            .map(mm => (None: Option[String], mm.group(1).toLowerCase)).toSeq
          val fallbacks = (dotted ++ bare).distinct
            .filterNot { case (q2, c2) =>
              (q2, c2) == (qual0, col0) || keywords(c2) }
          // place EVERY placeable fallback this round — one-per-round
          // convergence can exhaust the round budget before reaching the
          // true gap when a statement has many unresolved names
          var anyPlaced = false
          for ((q2, c2) <- fallbacks)
            if (tryPlace(q2, c2, None, fallback = true)) anyPlaced = true
          if (anyPlaced) return true
          return false
        case None => ()
      }
      // `SELECT * FROM <fixture> UNION ALL SELECT * FROM <cte>` where the
      // fixture is still a 1-column placeholder: the union siblings SHARE
      // the warehouse schema positionally, so derive the fixture's
      // columns from a sibling CTE's select list
      // (`1_ods_finance/00_payment_refund.sql:599` unions
      // `finance.us_static_chargebacks` with four refund CTEs)
      if (err.contains("NUM_COLUMNS_MISMATCH")) {
        val span = failing.getOrElse(text)
        // only branches ADJACENT to a UNION are union members — a plain
        // `SELECT * FROM t WHERE …` CTE body must not be rederived
        val Branch = ("(?is)(?:\\bunion(?:\\s+all)?\\s+select\\s+(?:distinct\\s+)?" +
          "\\*\\s+from\\s+([\\w.\"]+))|(?:\\bselect\\s+(?:distinct\\s+)?\\*\\s+" +
          "from\\s+([\\w.\"]+)\\s+union\\b)").r
        val branches = Branch.findAllMatchIn(span)
          .map(m => norm(Option(m.group(1)).getOrElse(m.group(2)).replace("\"", "")))
          .toSeq.distinct
        val cteCols: Option[Seq[String]] = branches.collectFirst {
          case b if !b.contains(".") && cteSpanOf(span, b).isDefined &&
              selectListNames(cteSpanOf(span, b).get).nonEmpty &&
              selectListNames(cteSpanOf(span, b).get).distinct.sizeIs ==
                selectListNames(cteSpanOf(span, b).get).size =>
            selectListNames(cteSpanOf(span, b).get)
        }
        for (cols <- cteCols) {
          branches.filter(b => b.contains(".") && fixtureCols.contains(b) &&
              fixtureCols(b).toSet != cols.toSet &&
              !unionDerived(b)).foreach { b =>
            log(s"derive union-star fixture $b from sibling branch (${cols.size} cols)")
            unionDerived += b
            fixtureCols(b) = mutable.Set(cols: _*)
            orderedFix(b) = cols
            stage(b); return true
          }
        }
        // `select stg.* from <built> stg MINUS select hist.* from
        // <fixture> hist` (the Braze delta-export idiom,
        // `91_External/Braze/SQL/custom_subscription_attributes.sql:60`):
        // the history fixture mirrors the just-built staging table —
        // clone the resolvable side's schema onto the fixture side
        // unanchored: the first half usually carries the CTAS head
        // (`create table X as select stg.* from …`)
        val StarHalf =
          "(?is)\\bselect\\s+(?:distinct\\s+)?(?:\\w+\\s*\\.\\s*)?\\*\\s+from\\s+([\\w.\"]+)".r
        val halves = splitSetOpHalves(span)
          .flatMap(h => StarHalf.findFirstMatchIn(h).map(m =>
            norm(m.group(1).replace("\"", ""))))
        if (halves.size >= 2) {
          val donor = halves.find(r => !fixtureCols.contains(r) &&
            spark.catalog.tableExists(r))
          for (d <- donor) {
            val fields = spark.table(d).schema.fields.toSeq
            val cols = fields.map(_.name.toLowerCase)
            halves.filter(r => r != d && fixtureCols.contains(r) &&
                fixtureCols(r).toSet != cols.toSet && !unionDerived(r))
              .foreach { r =>
                log(s"derive set-op star fixture $r from $d (${cols.size} cols)")
                unionDerived += r
                fixtureCols(r) = mutable.Set(cols: _*)
                orderedFix(r) = cols
                // types ride along — heuristic names would re-diverge
                // from the donor and trade the arity error for a column
                // type one
                import org.apache.spark.sql.types._
                fields.foreach { f =>
                  val ct = f.dataType match {
                    case _: TimestampType | _: TimestampNTZType => TTs
                    case _: DateType => TDate
                    case _: BooleanType => TBool
                    case _: IntegerType | _: LongType | _: ShortType => TInt
                    case _: DoubleType | _: FloatType | _: DecimalType => TNum
                    case _ => TStr
                  }
                  colTypes((r, f.name.toLowerCase)) = ct
                }
                stage(r); return true
              }
          }
        }
      }
      // INSERT arity mismatches have two classified causes:
      //  (a) a bootstrap mis-derivation left a wrongly-shaped
      //      pre-existing target — drop it so rebootstrapMissing
      //      re-derives after this round's lenient re-run;
      //  (b) the target is a `CREATE … (LIKE <fixture>)` clone and the
      //      fixture's harvested columns under-cover the warehouse
      //      table's true schema — which IS the INSERT body's select
      //      list, positionally (`0_ods_core/00_inventory_reservations
      //      .sql:3-89`): re-derive the fixture exactly, in list order.
      if (err.contains("INSERT arity")) {
        failing.map(RedshiftScript.stripLeadingComments).foreach {
          case RedshiftScript.InsertRe(name, cl, rawBody) =>
            val t = norm(name)
            if (insertTargets.exists(_._1 == t)) {
              // re-derive IN PLACE from this statement's own body under
              // the CURRENT session state: the failing script stopped
              // before its cleanup DROPs, so its temps are still
              // registered, and fixtures have their current columns —
              // the drop-and-rebootstrap path re-derived under a stale
              // state and chased the evolving fixtures forever
              // (4_dwh_catman: 15 targets × every round)
              try {
                val (insCols, body) = RedshiftScript.parseInsert(cl, rawBody)
                // the body may need the Runner's analysis-repair chain
                // (Redshift alias-in-WHERE: `… AS event_id … WHERE
                // event_id NOT IN (…)`, `1_ods_ops/91_shipcloud_incoming
                // .sql:52,58`) — plain translate+sql under-resolves
                val df0 = new RedshiftScript.Runner(spark,
                  SparkSpec.tempDir("graft-arity"),
                  pinned, stopOnError = false).queryDf(body).limit(0)
                // a DUPLICATE select alias is valid Redshift positional
                // (the Intercom parts INSERT aliases `type` twice) but
                // saveAsTable throws COLUMN_ALREADY_EXISTS — and
                // replaceTable has already DROPPED the target by then,
                // leaving it missing and the bootstrap looping. Uniquify
                // first; arity is what matters.
                val seenN = mutable.Map.empty[String, Int]
                val uniq = df0.columns.map { c0 =>
                  val k = c0.toLowerCase
                  val n = seenN.getOrElse(k, 0); seenN(k) = n + 1
                  if (n == 0) c0 else s"${c0}_dup$n"
                }
                val df = if (uniq.sameElements(df0.columns)) df0
                  else df0.toDF(uniq.toIndexedSeq: _*)
                val parts = t.split("\\.")
                log(s"re-derive insert target $t in place (arity)")
                Catalog.replaceTable(df, parts(0), parts(1))
                // a POSITIONAL insert's body-derived arity is canonical:
                // sync the fixture knowledge to it and un-placeholder the
                // target so positionalTarget() blocks future appends —
                // otherwise a downstream bare-column demand re-widens it
                // (`shipment_uid` ranked onto `staging.shipcloud_incoming`
                // by `93_tracking_events.sql` while `91_shipcloud_incoming
                // .sql`'s 10-column INSERT needs the arity back) and the
                // pair oscillates to round-exhaustion; with the pin, the
                // demand walks down the ranked list to the true holder
                if (insCols.isEmpty) {
                  val names = df.schema.fields.map(_.name.toLowerCase).toSeq
                  if (names.nonEmpty && names.toSet.size == names.size) {
                    orderedFix(t) = names
                    fixtureCols(t) = mutable.Set(names: _*)
                    df.schema.fields.foreach { f =>
                      import org.apache.spark.sql.types._
                      val ty = f.dataType match {
                        case DateType => TDate
                        case _: TimestampType | _: TimestampNTZType => TTs
                        case BooleanType => TBool
                        case IntegerType | LongType | ShortType => TInt
                        case _: NumericType => TNum
                        case _ => TStr
                      }
                      colTypes((t, f.name.toLowerCase)) = ty
                    }
                    placeholdered -= t
                  }
                }
                return true
              } catch { case e: Exception => log(
                s"arity re-derive of $t failed: ${String.valueOf(e.getMessage).take(300)}") }
              if (!redropped(t)) {
                log(s"drop mis-derived insert target $t for re-derivation")
                redropped += t
                spark.sql(s"DROP TABLE IF EXISTS $t")
                return true
              }
            }
            //  (c) the target is script-BUILT (CTAS earlier in the
            //      script) and the body is `SELECT * [, extras] FROM
            //      <fixture>`: the star must cover exactly the target's
            //      leading columns, so the fixture's true shape IS that
            //      prefix (`8_monitoring/system_issues/
            //      snowplow_monitoring.sql:17` — `select *,'ga' from
            //      stg_external_apis.session_pageview_info` into a
            //      6-column CTAS target)
            locally {
              val StarFrom =
                "(?is)^\\s*select\\s+\\*\\s*(,.*?)?\\s+from\\s+([\\w.\"]+)\\s*;?\\s*$".r
              try {
                val (_, body) = RedshiftScript.parseInsert(cl, rawBody)
                for (sm <- StarFrom.findFirstMatchIn(body)) {
                  val src = norm(sm.group(2).replace("\"", ""))
                  val extras = Option(sm.group(1)) match {
                    case None => 0
                    case Some(ex) =>
                      // top-level commas only
                      var d2 = 0; var cnt = 0; var inS = false
                      for (ch <- ex) {
                        if (inS) { if (ch == '\'') inS = false }
                        else ch match {
                          case '\'' => inS = true
                          case '(' => d2 += 1
                          case ')' => d2 -= 1
                          case ',' if d2 == 0 => cnt += 1
                          case _ => ()
                        }
                      }
                      cnt
                  }
                  if (fixtureCols.contains(src) && spark.catalog.tableExists(t)) {
                    val tFields = spark.table(t).schema.fields
                    val want = tFields.length - extras
                    if (want > 0 && fixtureCols(src).size != want) {
                      val prefix = tFields.take(want)
                      log(s"re-derive star-source $src from target $t prefix ($want cols)")
                      orderedFix(src) = prefix.map(_.name.toLowerCase).toSeq
                      fixtureCols(src) =
                        mutable.Set(prefix.map(_.name.toLowerCase): _*)
                      prefix.foreach { f =>
                        import org.apache.spark.sql.types._
                        val ty = f.dataType match {
                          case DateType => TDate
                          case _: TimestampType | _: TimestampNTZType => TTs
                          case BooleanType => TBool
                          case IntegerType | LongType | ShortType => TInt
                          case _: NumericType => TNum
                          case _ => TStr
                        }
                        colTypes((src, f.name.toLowerCase)) = ty
                      }
                      stage(src)
                      return true
                    }
                  }
                }
              } catch { case _: Exception => () }
            }
            val LikeCreate = ("(?is)CREATE\\s+(?:TEMP(?:ORARY)?\\s+)?TABLE\\s+" +
              java.util.regex.Pattern.quote(name) +
              "\\s*\\(\\s*LIKE\\s+([\\w.\"]+)\\s*\\)").r
            LikeCreate.findFirstMatchIn(text).foreach { lm =>
              val src = norm(lm.group(1))
              if (fixtureCols.contains(src)) {
                val (_, body) = RedshiftScript.parseInsert(cl, rawBody)
                // a star item (`select a.*, p.product_name …`,
                // `Order_Mapping/0_event_properties_incremental.sql:64`)
                // defeats the name parse — analyze the body under the
                // current session instead, the sources are staged
                val cols0 = selectListNames(body)
                val cols =
                  if (cols0.nonEmpty) cols0
                  else try spark.sql(RedshiftScript.translate(body, pinned))
                    .schema.fieldNames.map(_.toLowerCase).toSeq
                  catch { case _: Exception => Seq.empty }
                if (cols.nonEmpty && cols.distinct.size == cols.size) {
                  log(s"re-derive LIKE source $src from INSERT list (${cols.size} cols)")
                  orderedFix(src) = cols
                  fixtureCols(src) = mutable.Set(cols.map(_.toLowerCase): _*)
                  stage(src)
                  return true
                }
              }
            }
          case _ => ()
        }
      }
      // UPDATE target fixture lacks a SET column — the harvest only sees
      // alias-qualified references, but `UPDATE t SET price = …` names
      // the target's columns bare (`2_ods_catman/00_pricing_live_feed.sql`)
      locally {
        val UpdateUnknown =
          "UPDATE ([\\w.]+)(?: SET)? references unknown column\\(s\\): (.+)".r
        UpdateUnknown.findFirstMatchIn(err) match {
          case Some(m) =>
            val t = norm(m.group(1))
            val cols = m.group(2).split(",").map(_.trim.toLowerCase)
              .filter(_.matches("\\w+"))
            if (fixtureCols.contains(t) && cols.exists(!fixtureCols(t)(_))) {
              cols.foreach { c => log(s"auto-add UPDATE SET $t.$c"); fixtureCols(t) += c }
              stage(t); return true
            }
          case None => ()
        }
      }
      // an INSERT-alignment runtime cast failure (alignTo positionally
      // casts the incoming frame to the target schema) names no column:
      // retype bound string-staged fixture columns whose NAME carries
      // the temporal family (`schufa_date_of_birth` feeding the DATE
      // `date_of_birth` slot, `8_monitoring/gdpr/gdpr_credit_bureau.sql`)
      if (err.contains("CAST_INVALID_INPUT") && err.contains("alignTo")) {
        // general positional diagnosis first: derive the INSERT body's
        // schema and retype the TARGET fixture columns whose declared
        // type matches the failing cast while the body delivers STRING —
        // the incoming data is the truth (`ods_production
        // .payment_subscription` staged a heuristic-TBool column the
        // body feeds with text, `1_ods_finance/00_payment_subscription
        // .sql`)
        for (castTo <- CastTo.findFirstMatchIn(err).map(_.group(1))) {
          // inside BEGIN…COMMIT the write defers and the error surfaces
          // on the COMMIT statement — fall back to every INSERT in the
          // script (`1_ods_finance/00_payment_subscription.sql`)
          val insertStmts: Seq[String] = {
            val f = failing.map(RedshiftScript.stripLeadingComments).toSeq
            if (f.exists(s => RedshiftScript.InsertRe.findFirstMatchIn(s).isDefined)) f
            else RedshiftScript.splitStatements(text)
              .map(RedshiftScript.stripLeadingComments)
              .filter(s => RedshiftScript.InsertRe.findFirstMatchIn(s).isDefined)
          }
          insertStmts.foreach {
            case RedshiftScript.InsertRe(name, cl, rawBody) =>
              val t = norm(name)
              if (fixtureCols.contains(t) && spark.catalog.tableExists(t)) {
                try {
                  val (insCols, body) = RedshiftScript.parseInsert(cl, rawBody)
                  val src = new RedshiftScript.Runner(spark,
                    SparkSpec.tempDir("graft-align"),
                    pinned, stopOnError = false).queryDf(body).limit(0)
                    .schema.fields
                  val tgt = spark.table(t).schema.fields
                  if (insCols.isEmpty && tgt.length == src.length) {
                    import org.apache.spark.sql.types._
                    // temporal cast targets keep the specialized source-
                    // side repair below (the target's DATE is usually
                    // right and the STAGED STRING source is what needs
                    // promoting) — this positional diff handles the
                    // non-temporal families only
                    val wantTyName: DataType => Boolean = castTo match {
                      case "BOOLEAN" => _ == BooleanType
                      case "INT" | "BIGINT" =>
                        d => d == IntegerType || d == LongType
                      case "DOUBLE" | "DECIMAL" => _.isInstanceOf[NumericType]
                      case _ => _ => false
                    }
                    val hits = tgt.zip(src).collect {
                      case (tf, sf) if wantTyName(tf.dataType) &&
                          sf.dataType == StringType &&
                          fixtureCols(t)(tf.name.toLowerCase) &&
                          !temporalDemanded((t, tf.name.toLowerCase)) =>
                        tf.name.toLowerCase
                    }
                    if (hits.nonEmpty) {
                      hits.foreach { c =>
                        log(s"align-retype $t.$c -> TStr (body delivers text)")
                        typeHistory.getOrElseUpdate((t, c), mutable.Set.empty) +=
                          colTypes.getOrElse((t, c), heuristicType(c))
                        colTypes((t, c)) = TStr
                      }
                      stage(t); return true
                    } else log(s"align diagnose $t: no STRING->$castTo " +
                      s"position (tgt ${tgt.length} src ${src.length} cols; " +
                      s"tgt-bool=" + tgt.zipWithIndex.collect {
                        case (f, i) if f.dataType == BooleanType =>
                          s"$i:${f.name}<-${src.lift(i).map(_.dataType.simpleString).getOrElse("?")}"
                      }.mkString(",") + ")")
                  }
                } catch { case e: Exception => log(
                  s"align diagnose of $t failed: ${String.valueOf(e.getMessage).take(250)}") }
              }
            case _ => ()
          }
        }
        val toTy = CastTo.findFirstMatchIn(err).map(_.group(1)) match {
          case Some("DATE") => Some(TDate)
          case Some("TIMESTAMP") => Some(TTs)
          case _ => None
        }
        val failedValue = """The value '([^']*)'""".r
          .findFirstMatchIn(err).map(_.group(1))
        for (ty <- toTy) {
          val span = failing.getOrElse(text)
          if (failedValue.exists(_.matches("\\d{1,4}"))) {
            // a bare staged-string value ("1"): the SOURCE column is
            // temporal in the warehouse — retype string-staged fixture
            // columns with temporal names (`schufa_date_of_birth`
            // feeding the DATE `date_of_birth` slot, gdpr_credit_bureau)
            val hits = for {
              t <- bindingsIn(span).map(_._2).distinct
              c <- fixtureCols.getOrElse(t, mutable.Set.empty[String]).toSeq
              if colTypes.getOrElse((t, c), heuristicType(c)) == TStr &&
                (c.contains("date") || c.contains("time")) &&
                ("(?i)(?<![\\w.])" + java.util.regex.Pattern.quote(c) + "\\b").r
                  .findFirstIn(span).isDefined
            } yield (t, c)
            if (hits.nonEmpty) {
              hits.foreach { case (t, c) =>
                log(s"retype $t.$c -> $ty (insert-alignment cast)")
                colTypes((t, c)) = ty; temporalDemanded += ((t, c)); stage(t)
              }
              return true
            }
          } else {
            // a composite value ('2024-01-19/3' from `expiry_month +
            // '/' + expiry_year`): the TARGET's declared temporal type
            // is the lie — the warehouse column holds text
            // (`8_monitoring/gdpr/gdpr_payment_info.sql:31`). Re-derive
            // a bootstrapped target from its body; retype a fixture
            // target's temporal columns back to string
            failing.map(RedshiftScript.stripLeadingComments).foreach {
              case RedshiftScript.InsertRe(name, _, _) =>
                val t = norm(name)
                if (fixtureCols.contains(t)) {
                  val hits = fixtureCols(t).toSeq.filter(c =>
                    Set[ColType](TDate, TTs)(
                      colTypes.getOrElse((t, c), heuristicType(c))) &&
                    !temporalDemanded((t, c)))
                  if (hits.nonEmpty) {
                    hits.foreach { c =>
                      log(s"retype $t.$c -> TStr (insert-alignment concat)")
                      colTypes((t, c)) = TStr
                    }
                    stage(t); return true
                  }
                } else if (insertTargets.exists(_._1 == t) && !redropped(t)) {
                  log(s"drop mis-typed insert target $t for re-derivation (cast)")
                  redropped += t
                  spark.sql(s"DROP TABLE IF EXISTS $t")
                  return true
                }
              case _ => ()
            }
          }
        }
      }
      // an over-eager unqualified guess put the column on several joined
      // fixtures: remove the guessed placements (keep at least one)
      Ambiguous.findFirstMatchIn(err) match {
        case Some(m) =>
          val col = m.group(1).split("\\.").last.toLowerCase
          val span = failing.getOrElse(text)
          val binds = bindingsIn(span)
          // the analyzer names the ambiguous candidates as
          // `alias`.`col` pairs — restrict the drop to THAT scope, not
          // every table the statement binds (a statement-wide drop can
          // keep a holder no subquery scope actually sees)
          val aliasesInErr = ("`(\\w+)`\\.`" +
            java.util.regex.Pattern.quote(col) + "`").r
            .findAllMatchIn(err).map(_.group(1).toLowerCase).toSet
          val scopedTables = binds.collect {
            case (a, t) if aliasesInErr(a) => t }.distinct
          val holderPool =
            if (scopedTables.nonEmpty) scopedTables else binds.map(_._2).distinct
          val holders = holderPool.filter(t => fixtureCols.get(t).exists(_(col)))
          // candidates the analyzer named that are NOT droppable fixtures
          // (a CTE, temp, or built table owns the column there): those
          // anchor the name, so EVERY removable fixture holder may drop
          // (`…out_of_stock_pdp.sql:69` `AND continent = ss.continent`
          // where ss is a CTE — traffic.sessions must LOSE the guessed
          // continent; Redshift resolved the bare name to the CTE's)
          // a SINGLE bare candidate in the list is a select-list
          // (lateral) alias — Redshift resolved the name to it, so it
          // anchors (`weekly_reporting_brand.sql` variant_sku vs a
          // guessed dim_dates placement). TWO OR MORE bare candidates
          // are just Spark printing fixture columns unqualified — no
          // anchor, or the drop would take every holder including the
          // true one
          val bareCands =
            ("(?<=[\\[,] )`" + java.util.regex.Pattern.quote(col) +
              "`(?=[,\\]])").r.findAllIn(err).size +
            ("(?<=\\[)`" + java.util.regex.Pattern.quote(col) +
              "`(?=[,\\]])").r.findAllIn(err).size
          val immovable = aliasesInErr.exists(a =>
            !binds.exists { case (a2, t) =>
              a2 == a && fixtureCols.get(t).exists(_(col)) }) ||
            bareCands == 1
          if (holders.size > 1 || (holders.nonEmpty && immovable)) {
            // a holder whose own single-bind scope mentions the column
            // is text-attested — never drop it for a guess elsewhere
            val evidS = scopeEvidence(span, col).toSet
            // qualified attestation: when `s.product_sku` appears in the
            // span (s → subscription) but no alias of master.order ever
            // qualifies the column, the order placement was a mis-add —
            // attested / harvest-attested / scope-evidenced holders must
            // survive the drop (`4_dwh_risk/onfido_trigger_performance
            // .sql:25`, commercial_metrics cancelled_subs)
            // an alias bound to several DIFFERENT tables across the
            // statement's CTEs attests none of them (see attestedT):
            // `b.marketing_campaign` in the backup-scoped CTE must not
            // shield publishers/campaigns placements from the drop
            def attested(t: String): Boolean = binds.exists { case (a, t2) =>
              t2 == t &&
                binds.filter(_._1 == a).map(_._2).distinct.size == 1 &&
                ("(?i)(?<![\\w.])" +
                java.util.regex.Pattern.quote(a) + "\\s*\\.\\s*" +
                java.util.regex.Pattern.quote(col) + "\\b").r
                  .findFirstIn(span).isDefined }
            // a built-elsewhere placeholder whose PRODUCER's select list
            // names the column owns it — the strongest evidence there is
            def producerOwned(t: String): Boolean =
              built(t) && producerCols.get(t).exists(_.contains(col))
            val droppable =
              holders.filter(t => neverCol(t, col) ||
                  (((guessed((t, col)) || weak((t, col))) &&
                  !pinnedCols((t, col))) && !producerOwned(t)) ||
                  // a PIN yields to positive attestation: when another
                  // holder is alias-qualified with the column in THIS
                  // span and the pinned holder is not, the pin was a
                  // tabu-override mis-placement (publishers taking
                  // page_view_start while pv's placeholder briefly
                  // lacked it, `7_snowplow/2_sessions/
                  // 00_marketing_details.sql`) — evidence beats the pin
                  (pinnedCols((t, col)) && !attested(t) && !evidS(t) &&
                    !producerOwned(t) &&
                    holders.exists(o => o != t &&
                      (attested(o) || evidS(o) || producerOwned(o)))))
            val keep = holders.filter(t =>
              attested(t) || strongHarvest((t, col)) || evidS(t) ||
                producerOwned(t)).toSet
            val removable0 =
              if (keep.nonEmpty && droppable.exists(t => !keep(t)))
                droppable.filterNot(keep)
              else droppable match {
                case all if all.size == holders.size && !immovable => all.tail
                case some => some
              }
            val removable =
              if (removable0.nonEmpty) removable0
              else if (keep.nonEmpty && keep.size < holders.size) {
                // unattested holders are droppable even when untracked:
                // a directQual mis-add under an alias collision leaves
                // no guessed/weak/pinned marker. Oscillation guard: a
                // holder RE-ADDED after one such drop earned its way
                // back with fresh directQual/evidence (tabu blocks bare
                // re-guesses) — treat the re-add as attestation and
                // never fallback-drop it a second time, else a true
                // holder referenced only bare in this span could cycle
                // drop/re-add forever across convergence rounds
                val cands = holders.filterNot(keep)
                val (repeat, once) =
                  cands.partition(t => untrackedDrops((t, col)))
                repeat.foreach(t => log(
                  s"keep $t.$col: re-added after an untracked drop — anchoring"))
                once.foreach(t => untrackedDrops += ((t, col)))
                once
              }
              else Nil
            if (removable.nonEmpty) {
              // a pin that yields to attestation must never be re-pinned
              // by the tabu-override path: re-pinning recreates the same
              // ambiguity and the convergence loops forever (the
              // publishers⇄backup page_view_start war in
              // `7_snowplow/2_sessions/00_marketing_details.sql`)
              removable.filter(t => pinnedCols((t, col)))
                .foreach(t => anchoredDrops += ((t, col)))
              removable.foreach(t => pinnedCols -= ((t, col)))
              removable.foreach { t =>
                log(s"auto-drop ambiguous $t.$col")
                fixtureCols(t) -= col; guessed -= ((t, col)); weak -= ((t, col))
                tabu += ((t, col)); stage(t)
                // a NON-fixture candidate (CTE/temp/built) anchored the
                // name: the drop is evidence-backed, not heuristic — the
                // pin override may never resurrect it
                // (`4_dwh_catman/commercial_campaigns_tracking.sql:499`
                // campaign_title lives on the CTE, never on
                // ods_production.product)
                if (immovable) anchoredDrops += ((t, col))
              }
              return true
            }
            // PIN WAR: every holder is pinned (each pin was earned in a
            // different statement scope, `5_dwh_widgets` start_date on
            // master.subscription vs ods_production.store) — resolve by
            // the FROM-anchor convention: an unqualified predicate
            // belongs to the statement's first FROM table; drop from
            // the joined dims and make the drop permanent
            if (holders.size > 1 && holders.forall(t => pinnedCols((t, col)))) {
              val anchor = binds.headOption.map(_._2)
              val drops = holders.filterNot(anchor.contains)
              if (drops.nonEmpty && drops.size < holders.size) {
                drops.foreach { t =>
                  log(s"auto-drop ambiguous $t.$col (pin war, non-anchor)")
                  fixtureCols(t) -= col; guessed -= ((t, col)); weak -= ((t, col))
                  pinnedCols -= ((t, col)); tabu += ((t, col))
                  anchoredDrops += ((t, col)); stage(t)
                }
                return true
              }
            }
            log(s"ambiguous $col unresolved: holders=${holders.mkString(",")} " +
              s"droppable=${droppable.mkString(",")} keep=${keep.mkString(",")}")
          }
          return false
        case None => ()
      }
      // dotted field access over a string-staged SUPER column
      // (`tags_v1."tags"` / `source.delivered_as`,
      // `91_External/Intercom/intercom_first_conversation.sql`) — stage
      // the column as a STRUCT carrying every field the failing
      // statement navigates
      locally {
        val BadExtract = """Can't extract a value from "(\w+)"""".r
        BadExtract.findFirstMatchIn(err) match {
          case Some(m) =>
            val colName = m.group(1).toLowerCase
            val span = failing.getOrElse(text)
            val aliasBound = tableBindings(span).exists(_._1 == colName)
            if (!aliasBound) {
              val q = java.util.regex.Pattern.quote(colName)
              def navigated: Set[String] =
                (("(?i)\\b" + q + "\"?\\s*\\.\\s*\"([^\"]+)\"").r
                  .findAllMatchIn(span).map(_.group(1)) ++
                ("(?i)\\b" + q + "\"?\\s*\\.\\s*([a-z_]\\w*)").r
                  .findAllMatchIn(span).map(_.group(1))).toSet
              val holder = bindingsIn(span).map(_._2).distinct
                .find(t => fixtureCols.get(t).exists(_(colName)))
              holder match {
                case Some(t) =>
                  val fs = structFields.getOrElseUpdate((t, colName), mutable.Set.empty)
                  val fresh = navigated.filterNot(f => fs.exists(_.equalsIgnoreCase(f)))
                  if (fresh.nonEmpty) {
                    log(s"struct-stage $t.$colName fields ${fresh.mkString(",")}")
                    fs ++= fresh; stage(t); return true
                  }
                case None =>
                  // the column is a struct FIELD surfaced through a BUILT
                  // table (CTAS selects `"_airbyte_data"."source"`, a later
                  // INSERT navigates `"source".attachments` — `91_External/
                  // Intercom/intercom_source_preparing.sql`): upgrade the
                  // field to a NESTED struct on its owning fixture by
                  // adding dotted field names
                  val owners = structFields.keys.filter(k =>
                    structFields(k).exists(_.equalsIgnoreCase(colName))).toSeq
                  for (k <- owners) {
                    val fs = structFields(k)
                    val fresh = navigated
                      .map(f => s"$colName.$f")
                      .filterNot(f => fs.exists(_.equalsIgnoreCase(f)))
                    if (fresh.nonEmpty) {
                      log(s"nested-struct-stage ${k._1}.${k._2}.$colName " +
                        s"fields ${fresh.map(_.stripPrefix(s"$colName.")).mkString(",")}")
                      fs ++= fresh; stage(k._1); return true
                    }
                  }
              }
            }
          case None => ()
        }
      }
      // a second field demanded from an already-struct-staged SUPER
      // column (`"_airbyte_data"."Amount Overdue** (PbI Adjusted)"` after
      // "Customer ID" made `_airbyte_data` a struct)
      locally {
        val FieldNotFound = "FIELD_NOT_FOUND[^`]*`([^`]+)`".r
        FieldNotFound.findFirstMatchIn(err) match {
          case Some(m) =>
            val field = m.group(1)
            val spanTables = bindingsIn(failing.getOrElse(text)).map(_._2).toSet
            val targets = structFields.keys
              .filter(k => spanTables.isEmpty || spanTables(k._1)).toSeq
            val fresh = targets.filterNot(k =>
              structFields(k).exists(_.equalsIgnoreCase(field)))
            if (fresh.nonEmpty) {
              fresh.foreach { k =>
                log(s"auto-add struct field ${k._1}.${k._2}.`$field`")
                structFields(k) += field; stage(k._1)
              }
              return true
            }
          case None => ()
        }
      }
      // `SELECT a.*, b.x` duplicating an output name because a guess put
      // `x` on BOTH starred fixtures — same removal rule as ambiguity
      locally {
        val AlreadyExists = "COLUMN_ALREADY_EXISTS[^`]*`([^`]+)`".r
        AlreadyExists.findFirstMatchIn(err) match {
          case Some(m) =>
            val col = m.group(1).split("\\.").last.toLowerCase
            val span = failing.getOrElse(text)
            val holders = bindingsIn(span).map(_._2).distinct
              .filter(t => fixtureCols.get(t).exists(_(col)))
            // `SELECT o.*, … AS col`: the explicit alias anchors the
            // output name, so EVERY guessed fixture placement may drop —
            // even a single holder (`dm_marketing.v_order_and_product_
            // category.sql:86` computes marketing_channel_detailed over
            // `o.*` after a guess parked it on master.order)
            val definesExplicitly = ("(?i)\\bas\\s+\"?" +
              java.util.regex.Pattern.quote(col) + "\"?\\b").r
              .findFirstIn(span.replaceAll("'[^']*'", "''")).isDefined
            if (holders.size > 1 || (holders.nonEmpty && definesExplicitly)) {
              val removable =
                holders.filter(t => (guessed((t, col)) || weak((t, col))) &&
                    !pinnedCols((t, col))) match {
                  case all if all.size == holders.size && !definesExplicitly => all.tail
                  case some => some
                }
              if (removable.nonEmpty) {
                removable.foreach { t =>
                  log(s"auto-drop duplicated $t.$col")
                  fixtureCols(t) -= col; guessed -= ((t, col)); weak -= ((t, col))
                  tabu += ((t, col)); stage(t)
                }
                return true
              }
            }
          case None => ()
        }
      }
      // type repair: the analyzer/runtime names the offending expression;
      // retype the fixture columns appearing in it
      val fragWhole = MismatchExpr.findFirstMatchIn(err).map(_.group(1))
        .orElse(Some(err.substring(err.indexOf("==") match {
          case -1 => 0; case i => i
        }))).getOrElse(err)
      // UNEXPECTED_INPUT_TYPE names the exact offending operand after
      // `however "…" has` — retyping ids from the WHOLE call would drag
      // innocent arguments along (`date_sub(date, max_dpd)`: the second
      // parameter's INT demand must not retype `date`)
      val frag =
        if (err.contains("UNEXPECTED_INPUT_TYPE"))
          """however "([^"]+)" has""".r.findFirstMatchIn(err)
            .map(_.group(1))
            // a LITERAL operand (`INTERVAL '01' SECOND` in `time *
            // interval '1 second'`, 90_Hightouch epoch math) names no
            // column — the mis-typed column is elsewhere in the call
            .filter(n => "[a-z_]{2,}".r.findFirstIn(n).isDefined)
            .getOrElse(fragWhole)
        else fragWhole
      // `CAST(submitted_date AS DATE)` over a fixture column an earlier
      // repair (or mis-heuristic) left INT — the analyzer names the
      // impossible cast's target (CAST_WITH_FUNC_SUGGESTION /
      // CANNOT_CAST); retype the named columns to the target type
      val CastTo2 = """cannot cast "\w+" to "(\w+)""".r
      // a RUNTIME cast failure whose malformed value is plainly
      // non-numeric text ('n/a') proves the column family is STRING in
      // the warehouse — a comparison against a numerically-mis-retyped
      // fixture forced the cast (`asv.store_id = pv.store_id`,
      // `4_dwh_catman/product_reporting.sql:467`); retype the fixture
      // side back to string, overriding the type-cycle guard (data
      // evidence beats repair history)
      val castFailVal = """The value '([^']*)'""".r.findFirstMatchIn(err)
        .map(_.group(1))
      val dataProvenStr = err.contains("CAST_INVALID_INPUT") &&
        castFailVal.exists(v => v.nonEmpty &&
          !v.matches("-?\\d+(\\.\\d+)?([eE][+-]?\\d+)?") &&
          !v.matches("\\d{4}-\\d{2}-\\d{2}.*") && v != "true" && v != "false")
      // `NULLIF(col, '')::TIMESTAMP` over an all-varchar landing table:
      // the '' literal coerced to TIMESTAMP under a temporally-retyped
      // column proves the column is a STRING holding timestamp text —
      // stage it as such (string type, parseable values)
      val emptyToTemporal = err.contains("CAST_INVALID_INPUT") &&
        castFailVal.contains("") &&
        (err.contains("\"TIMESTAMP\"") || err.contains("\"DATE\""))
      // an impossible-cast diagnosis names the precise target type —
      // strong evidence that overrides the repair-cycle guard (the weak
      // operator-shape inferences stay cycle-bound, so the ratchet is
      // one-way toward analyzer-proven types)
      val strongCast = dataProvenStr ||
        CastTo.findFirstMatchIn(err).isDefined ||
        CastTo2.findFirstMatchIn(err).isDefined
      // a NUMERIC operand where a temporal was required, inside +/-
      // COLUMN arithmetic (`purchase_quantity__c - delivered__c`,
      // `1_ods_ops/00_purchase_request_item.sql:34`): Redshift ran this
      // as numeric arithmetic, so the temporally-NAMED other operand is
      // really a quantity — demote it to match the numeric side
      // the analyzer may state the requirement as a parenthesized type
      // UNION — `requires the "(TIMESTAMP OR TIMESTAMP WITHOUT TIME
      // ZONE)" type` (`1_ods_ops/00_purchase_request_item.sql:34`)
      val errTemporal = err.contains("\"TIMESTAMP\"") || err.contains("\"DATE\"") ||
        err.contains("\"(TIMESTAMP") || err.contains("\"(DATE")
      val arithNumProof = err.contains("UNEXPECTED_INPUT_TYPE") &&
        errTemporal &&
        (err.contains("\"DOUBLE\"") || err.contains("\"INT\"") ||
          err.contains("\"BIGINT\"") || err.contains("\"DECIMAL\"")) &&
        "(?s)\"\\s*\\(?\\w+ [-+] \\w+\\)?".r.findFirstIn(err).isDefined
      // COALESCE mixing a temporally-NAMED column with a NUMERIC literal
      // (`coalesce(item.delivered__c, 0)` — delivered quantities,
      // `1_ods_ops/00_purchase_request.sql`): the literal side is
      // immovable, so the column is really numeric in the warehouse
      val numLiteralProof = err.contains("DATA_DIFF_TYPES") && errTemporal &&
        (err.contains("\"DOUBLE\"") || err.contains("\"DECIMAL\"") ||
          err.contains("\"INT\"") || err.contains("\"BIGINT\"")) &&
        "(?i)CAST\\(\\s*-?\\d+(\\.\\d+)?\\s+AS\\s+(DOUBLE|DECIMAL|INT|BIGINT)"
          .r.findFirstIn(fragWhole).isDefined
      val wanted: Option[ColType] =
        if (arithNumProof || numLiteralProof) Some(TNum)
        else if (emptyToTemporal) Some(TTsStr)
        else if (dataProvenStr) Some(TStr)
        else CastTo.findFirstMatchIn(err).map(_.group(1))
          .orElse(CastTo2.findFirstMatchIn(err).map(_.group(1))) match {
          case Some("TIMESTAMP") => Some(TTs)
          case Some("DATE") => Some(TDate)
          case Some("BOOLEAN") => Some(TBool)
          case Some("DOUBLE") | Some("DECIMAL") | Some("BIGINT") => Some(TNum)
          case Some("INT") => Some(TInt)
          case _ =>
            // NTZ/LTZ spellings count: fixture parquet decodes as
            // TIMESTAMP_NTZ under driver-regenerated fixtures, and CASE
            // mismatches quote that flavor (`… ELSE valid_to END` is
            // ["TIMESTAMP_NTZ", "INT"], 91_External/SFTP)
            val hasTemporal = err.contains("\"TIMESTAMP\"") ||
              err.contains("\"TIMESTAMP_NTZ\"") ||
              err.contains("\"TIMESTAMP_LTZ\"") || err.contains("\"DATE\"")
            val hasInt = err.contains("\"INT\"") || err.contains("\"BIGINT\"")
            if (err.contains("DATA_DIFF_TYPES") && err.contains("\"STRING\"") && hasTemporal)
              Some(TTs)
            // string fixture column compared against a timestamp operand
            // (`canceled_date >= fact_date`, dm_risk manual-review reports)
            else if (err.contains("BINARY_OP_DIFF_TYPES") &&
                err.contains("\"STRING\"") && hasTemporal) Some(TTs)
            // `asset_was_delivered is true` over a string fixture column —
            // the was_/flag column is boolean in the warehouse
            else if (err.contains("BINARY_OP_DIFF_TYPES") &&
                err.contains("\"BOOLEAN\"") && err.contains("\"STRING\""))
              Some(TBool)
            // `WHERE day_is_last_of_month` — non-boolean fixture column
            // used bare as a predicate
            else if (err.contains("FILTER_NOT_BOOLEAN")) Some(TBool)
            else if (err.contains("BINARY_OP_DIFF_TYPES") && hasTemporal && hasInt)
              // Redshift `date + n` day arithmetic vs a 0/1 int flag
              // compared with `=`: the operator disambiguates
              (if (frag.contains("+") || frag.contains("-")) Some(TDate) else Some(TInt))
            else if (err.contains("BINARY_OP_DIFF_TYPES") &&
                err.contains("\"BOOLEAN\"") && hasInt) Some(TInt)
            // `coalesce(max(is_discount), 0)` — the is_ heuristic said
            // boolean but the script treats it as a 0/1 int flag
            else if (err.contains("DATA_DIFF_TYPES") &&
                err.contains("\"BOOLEAN\"") && hasInt) Some(TInt)
            // CASE branches mixing a genuine timestamp expression with a
            // fixture column an earlier repair forced to INT (`… THEN
            // convert_timezone(…) ELSE valid_to`, 91_External/SFTP) —
            // the temporal side wins
            else if (err.contains("DATA_DIFF_TYPES") && hasTemporal && hasInt)
              Some(TTs)
            // `redirect_end - redirect_start` over string-staged loader
            // columns: the operator demands NUMERIC outright
            // (`7_snowplow/1_page_view/08_timing_incremental.sql`)
            else if (err.contains("BINARY_OP_WRONG_TYPE") &&
                err.contains("\"NUMERIC\"") && err.contains("\"STRING\""))
              Some(TNum)
            else if (err.contains("DATA_DIFF_TYPES") && err.contains("\"STRING\"") &&
                (err.contains("\"DOUBLE\"") || err.contains("\"DECIMAL\"") ||
                  // a STRING-staged column mixed with an INT literal
                  // (`greatest(case … category_weight else original_weight
                  // end, 1)`, IntraStat_v2.sql) — numeric in the warehouse
                  err.contains("\"INT\"") || err.contains("\"BIGINT\""))) Some(TNum)
            // the analyzer states what the parameter REQUIRES — retype
            // toward the required type, not toward whatever type the
            // operand happens to have (`year((date - 30))` requires DATE
            // because `date` drifted to INT; the old hasInt shortcut read
            // the INT and retyped the wrong way, oscillating —
            // `4_dwh_risk/sku_market_valuation.sql`)
            else if (err.contains("UNEXPECTED_INPUT_TYPE")) {
              // `requires the "(TIMESTAMP OR …)"` union form puts the
              // paren INSIDE the quotes — accept either nesting
              val Req = """requires the [("]{1,2}(\w+)""".r
              Req.findFirstMatchIn(err).map(_.group(1)) match {
                case Some("DATE") => Some(TDate)
                case Some("TIMESTAMP") => Some(TTs)
                case Some("BOOLEAN") => Some(TBool)
                case Some("INT") | Some("BIGINT") | Some("SMALLINT") |
                    Some("INTEGRAL") => Some(TInt)
                // `sum(is_paid)` — NUMERIC over a bool 0/1 flag
                case Some("NUMERIC") | Some("DOUBLE") | Some("DECIMAL") =>
                  Some(TInt)
                case _ => if (hasInt) Some(TInt) else None
              }
            }
            // runtime to_timestamp/to_date parse failure over a
            // string-staged fixture column ("Text '2' could not be
            // parsed", `13_finance_reporting/Asset Reconciliation/
            // finance.asset_reconciliation_amount_monitoring.sql`):
            // the column is temporal in the warehouse
            else if (err.contains("CANNOT_PARSE_TIMESTAMP")) Some(TTs)
            else None
        }
      // positional set-op mismatch: the analyzer names the EXACT column
      // ordinal ("The 7th column of the second table is "BOOLEAN" …
      // not compatible with "TIMESTAMP""). Resolve the Nth select item
      // of the named half and retype just that fixture column toward the
      // other half's type — the identifier sweep must not drag the other
      // 18 columns of a wide EXCEPT along (dm_marketing
      // .braze_export_history, `91_External/Braze/SQL/
      // custom_attributes_export.sql`)
      if (err.contains("INCOMPATIBLE_COLUMN_TYPE")) {
        val PosRe = ("""The (\d+)\w{2} column of the (first|second) table is "(\w+)"""" +
          """ type which is not compatible with "(\w+)"""").r
        PosRe.findFirstMatchIn(err) match {
          case Some(pm) =>
            val n = pm.group(1).toInt
            val namedSecond = pm.group(2) == "second"
            val namedTy = pm.group(3); val otherTy = pm.group(4)
            def toCt(s: String): Option[ColType] = s match {
              case "TIMESTAMP" | "TIMESTAMP_NTZ" | "TIMESTAMP_LTZ" => Some(TTs)
              case "DATE" => Some(TDate)
              case "BOOLEAN" => Some(TBool)
              case "DOUBLE" | "DECIMAL" | "BIGINT" => Some(TNum)
              case "INT" => Some(TInt)
              case "STRING" => Some(TStr)
              case _ => None
            }
            val span = failing.getOrElse(text)
            val halves = splitSetOpHalves(span)
            // the named half's Nth item is the suspect; the other half's
            // is the fallback (either side may be the staged fixture)
            val attempts: Seq[(Option[String], Option[ColType])] =
              if (namedSecond)
                Seq((halves.lift(1), toCt(otherTy)), (halves.headOption, toCt(namedTy)))
              else
                Seq((halves.headOption, toCt(otherTy)), (halves.lift(1), toCt(namedTy)))
            for ((halfOpt, tyOpt) <- attempts; half <- halfOpt; ty <- tyOpt;
                 (qual, c) <- nthSelectItem(half, n)) {
              val binds = bindingsIn(half)
              val holder = qual.flatMap(q => binds.find(_._1 == q).map(_._2))
                .orElse(binds.map(_._2).distinct
                  .find(t => fixtureCols.get(t).exists(_(c))))
              for (t <- holder
                   if fixtureCols.get(t).exists(_(c)) &&
                     !overrides.contains((t, c)) &&
                     colTypes.getOrElse((t, c), heuristicType(c)) != ty &&
                     // ordinal-exact evidence outranks typeHistory (a
                     // broad sweep may have put `ty` in the history);
                     // its own once-per-(t,c,ty) memo prevents ping-pong
                     !setOpRetyped((t, c, ty))) {
                log(s"retype $t.$c -> $ty (set-op column $n, positional)")
                setOpRetyped += ((t, c, ty))
                typeHistory.getOrElseUpdate((t, c), mutable.Set.empty) +=
                  colTypes.getOrElse((t, c), heuristicType(c))
                colTypes((t, c)) = ty
                stage(t); return true
              }
            }
          case None => ()
        }
      }
      // a UNION mixing TRUE/FALSE literals with a flag column an earlier
      // repair forced to int (`dm_marketing.v_marketing_runrates.sql`
      // is_paid CTE: `SELECT …, is_paid FROM traffic.sessions UNION
      // SELECT 'Paid Social', TRUE`): the literal side can't change, so
      // FLIP the named bool/int flag columns bound in the failing span
      if (err.contains("INCOMPATIBLE_COLUMN_TYPE") &&
          err.contains("\"BOOLEAN\"") &&
          (err.contains("\"INT\"") || err.contains("\"BIGINT\""))) {
        val flipIds = "\\b([a-z_]\\w*)\\b".r.findAllMatchIn(frag.toLowerCase)
          .map(_.group(1)).toSet
        val changedTabs = mutable.Set.empty[String]
        bindingsIn(failing.getOrElse(text)).map(_._2).distinct.foreach { t =>
          fixtureCols.get(t).foreach(_.foreach { c =>
            // only restore DRIFTED placements to their heuristic type —
            // the plan fragment names many identifiers, and flipping a
            // flag that never drifted would churn unrelated columns.
            // Once per placement: the restore must not tug-of-war with
            // the retype that caused the drift
            if (flipIds(c) && !overrides.contains((t, c)) &&
                !flipped((t, c))) {
              val cur = colTypes.getOrElse((t, c), heuristicType(c))
              val home = heuristicType(c)
              if (cur != home && Set[ColType](TInt, TBool)(cur) &&
                  Set[ColType](TInt, TBool)(home)) {
                log(s"flip $t.$c $cur -> $home (restore heuristic)")
                colTypes((t, c)) = home; flipped += ((t, c)); changedTabs += t
              }
            }
          })
        }
        // restage only the fixtures whose types changed — stageAll() here
        // rewrote EVERY fixture per applied fix, turning a wide layer's
        // convergence quadratic in fixture count
        if (changedTabs.nonEmpty) { changedTabs.foreach(stage); return true }
      }
      // runtime `CAST_INVALID_INPUT: The value ''` with the failing span
      // comparing a column to '': the EMPTY-STRING literal is being cast
      // because the column side is numeric — the real warehouse column is
      // a VARCHAR holding numeric text (Google-sheet landing tables:
      // `case when cancelledsubvalue='' then null else … end::numeric`,
      // `91_External/Catman/0_commercial_targets_daily_store_country
      // .sql:17`). Stage it TStr (numeric strings — castable back).
      if (err.contains("CAST_INVALID_INPUT") && err.contains("The value ''")) {
        val span = failing.getOrElse(text)
        val emptyCmp = "(?i)(?<![\\w'])([a-z_]\\w*)\\s*(?:=|<>|!=)\\s*''".r
          .findAllMatchIn(span).map(_.group(1).toLowerCase).toSet
        val changedTabs = mutable.Set.empty[String]
        for (t <- bindingsIn(span).map(_._2).distinct;
             cols <- fixtureCols.get(t).toSeq; c <- cols
             if emptyCmp(c) && !overrides.contains((t, c)) &&
               Set[ColType](TNum, TInt)(
                 colTypes.getOrElse((t, c), heuristicType(c))) &&
               !typeHistory.get((t, c)).exists(_(TStr))) {
          log(s"retype $t.$c -> str (''-comparison on a numeric-staged column)")
          typeHistory.getOrElseUpdate((t, c), mutable.Set.empty) +=
            colTypes.getOrElse((t, c), heuristicType(c))
          colTypes((t, c)) = TStr
          changedTabs += t
        }
        if (changedTabs.nonEmpty) { changedTabs.foreach(stage); return true }
      }
      // an impossible cast names BOTH sides: when the named fixture
      // column already HOLDS the cast's target type, the cast came from
      // INSERT alignment against the fixture's own (wrong) declared type
      // — the incoming data's type is the truth, so retype toward the
      // SOURCE side (`sum(…) AS created_asv_last_week` DOUBLE vs the
      // `_week`-heuristic DATE target, `90_Hightouch/product_data_
      // livefeed.sql:47`)
      // only the column textually INSIDE the impossible cast may reverse
      // — frag also contains the cast's TYPE KEYWORD (`AS DATE`), which
      // must not drag a fixture column named `date` along
      val castOperand: Option[String] =
        """(?i)CAST\(\s*(\w+)\s+AS\s""".r.findFirstMatchIn(fragWhole)
          .map(_.group(1).toLowerCase)
      val castSrcTy: Option[ColType] =
        """cannot cast "(\w+)" to "\w+"""".r.findFirstMatchIn(err)
          .flatMap(_.group(1) match {
            case "DOUBLE" | "DECIMAL" | "BIGINT" => Some(TNum)
            case "INT" => Some(TInt)
            case "TIMESTAMP" => Some(TTs)
            case "DATE" => Some(TDate)
            case "BOOLEAN" => Some(TBool)
            case "STRING" => Some(TStr)
            case _ => None
          })
      wanted match {
        case Some(ty) =>
          if (sys.env.contains("GRAFT_RETYPE_TRACE")) log(
            s"retype-trigger wanted=$ty err=${err.replaceAll("\\s+", " ").take(260)}")
          // arithmetic-numeric proof must see the WHOLE expression — the
          // `however` operand is the already-numeric side
          val idSrc0 = if (arithNumProof) fragWhole else frag
          // a branch-type mismatch (`Input to casewhen/greatest should
          // all be the same type`) concerns the THEN/ELSE operands — the
          // WHEN condition's identifiers are innocent (`CASE WHEN
          // is_weight_missing THEN category_weight ELSE original_weight`:
          // sweeping the boolean condition to TNum starts a retype war,
          // IntraStat_v2.sql)
          val idSrc =
            if (err.contains("DATA_DIFF_TYPES"))
              idSrc0.replaceAll("(?is)\\bWHEN\\b.*?\\bTHEN\\b", " WHEN THEN ")
            else idSrc0
          var ids0 = "\\b([a-z_]\\w*)\\b".r.findAllMatchIn(idSrc.toLowerCase)
            .map(_.group(1)).toSet
          // a runtime ANSI implicit cast ('2' → BOOLEAN) under a
          // DataFrame-context error names NO expression — the cast comes
          // from a bare column used as a CASE predicate (`WHEN
          // sp.f_paid_manually__c THEN …`, `1_ods_finance/
          // 00_payment_subscription.sql:143`): harvest the span's bare
          // WHEN/boolean-position identifiers as the retype candidates
          if (ty == TBool && err.contains("CAST_INVALID_INPUT") &&
              !err.contains("== SQL")) {
            // the error may surface on the deferred COMMIT — scan the
            // whole script, not just the failing statement
            val spanB = (failing.filter(
              "(?i)\\bwhen\\b".r.findFirstIn(_).isDefined).getOrElse(text))
              .toLowerCase
            ids0 ++= "(?i)\\bwhen\\s+(?:not\\s+)?(?:\\w+\\.)?(\\w+)\\s+then\\b".r
              .findAllMatchIn(spanB).map(_.group(1)).toSet
            // …and columns aliased onto boolean-named outputs
            // (`sp.f_paid_debt_agency__c AS is_paid_to_debt_agency`) —
            // a UNION with FALSE literals coerces the string side and
            // the target-type alignment cast then fails the same way
            ids0 ++= "(?i)(?<![\\w.])(?:\\w+\\.)?(\\w+)\\s+as\\s+(?:is_|has_)\\w+".r
              .findAllMatchIn(spanB).map(_.group(1)).toSet
          }
          // the error may name a CTE ALIAS of the real fixture column
          // (`contract_start_date::timestamp` over `i.start__c AS
          // contract_start_date`, `1_ods_ops/00_insurance_allocation
          // .sql:15,133`) — chase `x AS alias` select items in the
          // failing statement back to their base identifiers, but ONLY
          // for the frag's own CAST OPERANDS: expanding every frag word
          // through a 600-line statement's aliases swept 18 fixtures to
          // TDate in one round (00_payment_refund triage)
          val ids: Set[String] = {
            val stText = failing.getOrElse(text).toLowerCase
            val idLow = idSrc.toLowerCase
            val tyWords = Set("date", "timestamp", "int", "bigint",
              "smallint", "double", "decimal", "numeric", "string",
              "text", "boolean", "varchar", "float", "interval")
            val castOps: Set[String] =
              ("(\\w+)\\s*::".r.findAllMatchIn(idLow).map(_.group(1)) ++
                "cast\\s*\\(\\s*(\\w+)\\s+as\\b".r.findAllMatchIn(idLow)
                  .map(_.group(1))).toSet.filterNot(tyWords)
            // a runtime cast failure's caret region may span NEIGHBORING
            // select items — when the region contains explicit cast
            // operands, THEY are the evidence; sweeping every word
            // retyped `type`/`value`/`a` to TDate in one round
            // (00_payment_refund triage)
            if (err.contains("CAST_INVALID_INPUT") && castOps.nonEmpty)
              ids0 = castOps
            var frontier = castOps.filter(ids0); var cur = ids0
            var guard = 0
            while (frontier.nonEmpty && guard < 3) {
              guard += 1
              val next = mutable.Set.empty[String]
              for (a <- frontier) {
                val AliasRe = ("(?<![\\w.'])([\\w.]+)\\s+as\\s+" +
                  java.util.regex.Pattern.quote(a) + "\\b").r
                for (m <- AliasRe.findAllMatchIn(stText)
                    if m.group(1).exists(_.isLetter) && !tyWords(m.group(1))) {
                  val base = m.group(1).split("\\.").last
                  if (!cur(base) && !tyWords(base)) { cur += base; next += base }
                }
              }
              frontier = next.toSet
            }
            cur
          }
          // retype only fixtures the FAILING statement binds (whole
          // script as fallback): a name-global retype bleeds across
          // scripts — forcing web.session_conversions.is_paid to int
          // because THIS statement sums it must not also flip
          // master.order.is_paid, which another statement unions with
          // TRUE literals
          val changedTabs = mutable.Set.empty[String]
          // enforce the bound-tables scope the comment above promises:
          // the 91_External Intercom scripts cast THEIR updated_at to
          // epoch int while other scripts' tables keep temporal
          // updated_at — a fixtureCols-wide sweep tugged 8 tables
          // TDate ⇄ TInt 200+ times; only tables the failing span binds
          // may retype (empty bind set falls back to the old sweep)
          val boundTabs: Set[String] =
            bindingsIn(failing.getOrElse(text)).map(_._2).toSet
          if (sys.env.contains("GRAFT_RETYPE_TRACE")) log(
            s"retype-candidates ids=${ids.toSeq.sorted.take(30).mkString(",")} " +
              s"bound=${boundTabs.mkString(",")}")
          fixtureCols.foreach { case (t, cols) =>
            if (boundTabs.nonEmpty && !boundTabs(t)) ()
            else
            cols.foreach { c =>
              val cur = colTypes.getOrElse((t, c), heuristicType(c))
              // reverse an INSERT-alignment cast: the column already
              // holds the demanded type, so the incoming side's type is
              // the evidence (see castSrcTy above)
              val reversed = cur == ty && castSrcTy.exists(_ != cur) &&
                castOperand.contains(c)
              val tyEff0 = if (reversed) castSrcTy.get else ty
              // data proved the column STRING, but its NAME is temporal
              // and scripts also cast it (`latest_lifecycle_event_
              // timestamp <> 'string'` … `::timestamp`,
              // `1_ods_ops/92_tracking_shipment_update.sql`): stage
              // timestamp TEXT — string-comparable AND castable —
              // instead of oscillating TTs ⇄ TStr
              val tyEff =
                if (tyEff0 == TStr && dataProvenStr &&
                    Set[ColType](TTs, TDate)(heuristicType(c))) TTsStr
                else tyEff0
              // DATE satisfies TIMESTAMP contexts by coercion — never
              // walk a date back up, or +int repair would oscillate
              val skip = tyEff == TTs && cur == TDate
              // the script ITSELF casts the column to a numeric type
              // (`updated_at::int`, 91_External/Intercom epoch columns)
              // — Redshift can't cast timestamps to int either, so the
              // column must be numeric in the warehouse; this explicit
              // evidence overrides temporal demands and name heuristics
              val ownNumCast = strongCast && castOperand.contains(c) &&
                Set[ColType](TInt, TNum)(tyEff)
              // analyzer-demanded temporal placements never demote
              val demote = Set[ColType](TInt, TNum, TBool, TStr)(tyEff) &&
                temporalDemanded((t, c)) && !ownNumCast && !arithNumProof &&
                !numLiteralProof
              // strongCast may override history ONCE (first reversal);
              // a column that has already held ≥2 types is oscillating
              // between two scripts' strong demands — freeze it and let
              // the residual failure surface instead of spinning the
              // round budget (updated_at TDate ⇄ TInt, 91_External)
              val cycle =
                typeHistory.get((t, c)).exists(_(tyEff)) &&
                  (!strongCast || typeHistory.get((t, c)).exists(_.size >= 2))
              // a frag-derived int/num demand must not demote a column
              // whose NAME reads temporal — one giant fallback frag
              // swept datum/date/day_is_* to INT across 12 catman
              // scripts; the strong cannot-cast evidence never comes
              // through this weak path for temporal names — EXCEPT the
              // reversed-alignment case, where the impossible cast is
              // precisely the proof the temporal name lies
              // an interval-literal MULTIPLIED by the column where
              // NUMERIC was required proves a temporally-named column is
              // really epoch seconds (`b."time" * interval '1 second'`,
              // 90_Hightouch; `interval '1 second' * created_at`,
              // 91_External/Intercom) — analyzer evidence beats the
              // name heuristic
              val intervalProof = err.contains("UNEXPECTED_INPUT_TYPE") &&
                fragWhole.contains("INTERVAL") && fragWhole.contains("*")
              val intDemote = Set[ColType](TInt, TNum)(tyEff) &&
                Set[ColType](TDate, TTs, TTime)(heuristicType(c)) &&
                !reversed && !intervalProof && !ownNumCast &&
                !arithNumProof && !numLiteralProof
              // a RUNTIME cast failure's frag sweeps every identifier in
              // the expression — promoting non-temporal NAMES
              // (session_id, position) to DATE on that evidence is how
              // one bad concat poisoned eight fixtures; runtime temporal
              // promotion needs a temporal name
              // ...but an error carrying a precise `== SQL` caret
              // context names the cast's own operand (`v.creation_time
              // ::Date`) — that promotion is evidence-backed, keep it
              val runtimeTemporalSweep = err.contains("CAST_INVALID_INPUT") &&
                !err.contains("== SQL") &&
                Set[ColType](TDate, TTs)(tyEff) &&
                !Set[ColType](TDate, TTs, TTime)(heuristicType(c))
              if (ids(c) && cur != tyEff && !skip && !demote && !cycle &&
                  !intDemote && !runtimeTemporalSweep &&
                  !overrides.contains((t, c))) {
                log(s"retype $t.$c $cur -> $tyEff")
                typeHistory.getOrElseUpdate((t, c), mutable.Set.empty) += cur
                colTypes((t, c)) = tyEff; changedTabs += t
                if (tyEff == TDate || tyEff == TTs) temporalDemanded += ((t, c))
              }
            }
          }
          // stage only the retyped fixtures (see the flip repair above)
          if (changedTabs.nonEmpty) { changedTabs.foreach(stage); return true }
        case None => ()
      }
      false
    }

    /** Re-derive any missing pre-existing insert target from its cached
      * INSERT body, running the owning script leniently first so its
      * temps exist.
      */
    private def rebootstrapMissing(root: String): Unit =
      insertTargets.filterNot(p => spark.catalog.tableExists(p._1))
        .foreach { case (t, cols, body, script) =>
          if (!deriveFromInsertCols(t, cols)) {
            try {
              val text = scripts.collectFirst { case (`script`, s) => s }.get
              new RedshiftScript.Runner(spark, root, pinned, stopOnError = false)
                .run(sansDrops(text))
              val df = spark.sql(RedshiftScript.translate(body, pinned)).limit(0)
              val parts = t.split("\\.")
              Catalog.replaceTable(df, parts(0), parts(1))
            } catch { case _: Exception =>
              try deriveFromSelectList(t, body)
              catch { case _: Exception => () }
            }
          }
        }

    /** applyFix, then — for UNRESOLVED_COLUMN errors where the NAMED
      * column yields no repair — retry with every other unresolved token
      * the plan text carries. The analyzer may report a DOWNSTREAM
      * victim while the plan buries the root (`'sku` over
      * public.cn8_list inside the raw_cn8 CTE surfaces as `period`
      * at the unused export CTE, `91_External/Legal/IntraStat NL/
      * IntraStat_v2.sql:106`).
      */
    private def applyFixExpanded(
        script: String, text: String, failing: Option[String], err: String): Boolean =
      applyFix(script, text, failing, err) || {
        if (!err.contains("UNRESOLVED_COLUMN")) false
        else {
          val named = Unresolved.findFirstMatchIn(err)
            .map(m => Option(m.group(2)).getOrElse(m.group(1)).toLowerCase).toSet
          def keep(t: String) =
            !named(t) && !t.startsWith("__") && !t.startsWith("_we") &&
              t.length > 1 && !err.contains(s"'$t(")
          val qualified = "'([a-z_]\\w*)\\.([a-z_]\\w*)".r.findAllMatchIn(err)
            .map(m => (m.group(1).toLowerCase, m.group(2).toLowerCase))
            .filter(p => keep(p._2)).toSeq.distinct
          val bare = "'([a-z_]\\w*)(?![\\w.(])".r.findAllMatchIn(err)
            .map(_.group(1).toLowerCase).filter(keep).toSeq.distinct
          val attempts =
            qualified.map { case (q, c) => s"[UNRESOLVED_COLUMN.WITHOUT_SUGGESTION] " +
              s"A column, variable, or function parameter with name `$q`.`$c` " +
              "cannot be resolved. (plan-harvested root candidate)" } ++
            bare.map { c => s"[UNRESOLVED_COLUMN.WITHOUT_SUGGESTION] " +
              s"A column, variable, or function parameter with name `$c` " +
              "cannot be resolved. (plan-harvested root candidate)" }
          attempts.take(24).exists { fake =>
            val hit = applyFix(script, text, failing, fake)
            if (hit) log(s"plan-harvested unresolved root repaired: " +
              fake.split("name ").last.split(" cannot").head)
            hit
          } || cteProbe(script, text, failing, err)
        }
      }

    /** Analyze each CTE of the failing statement CUMULATIVELY; the first
      * CTE that fails yields the TRUE error. Spark can misattribute a
      * type error deep inside one CTE as an unrelated UNRESOLVED_COLUMN
      * in a downstream CTE (`greatest(category_weight, original_weight)`
      * with mixed fixture types inside `_final` reports `period` at the
      * unused export CTE, `91_External/Legal/IntraStat NL/IntraStat_v2
      * .sql:106`). */
    private def cteProbe(
        script: String, text: String, failing: Option[String], err: String): Boolean = {
      val span = RedshiftScript.stripLeadingComments(failing.getOrElse(text))
      val Head = "(?is)^(?:create\\s+(?:or\\s+replace\\s+)?(?:temp(?:orary)?\\s+)?" +
        "(?:table|view)\\s+[\\w.\"]+\\s+as\\s*)?\\s*with\\s"
      val hm = Head.r.findFirstMatchIn(span).getOrElse {
        log(s"cte-probe: no WITH head in span (${span.take(60).replaceAll("\\s+", " ")})")
        return false
      }
      log(s"cte-probe: head at ${hm.end}")
      // parse `name [(cols)] as ( body )` defs, paren/string-aware
      var i = hm.end - 1
      val defs = mutable.ListBuffer.empty[(String, String)] // (name, full def text)
      var guard = 0
      while (guard < 24) {
        guard += 1
        val rest = span.substring(i)
        val NameRe = "(?is)^[\\s,]*([\\w\"]+)\\s*(\\([^()]*\\))?\\s*as\\s*\\(".r
        NameRe.findFirstMatchIn(rest) match {
          case Some(nm) =>
            // find the matching close paren of the body — comment-aware:
            // the reference comments out join conditions WITH parens
            // (`on --replace(ltrim(replace(c.ean,…`, IntraStat_v2.sql)
            var j = i + nm.end; var d = 1; var inS = false
            var inLc = false; var inBc = false
            while (j < span.length && d > 0) {
              val c = span.charAt(j)
              val nx = if (j + 1 < span.length) span.charAt(j + 1) else ' '
              if (inLc) { if (c == '\n') inLc = false }
              else if (inBc) { if (c == '*' && nx == '/') { inBc = false; j += 1 } }
              else if (inS) { if (c == '\'') inS = false }
              else c match {
                case '\'' => inS = true
                case '-' if nx == '-' => inLc = true; j += 1
                case '/' if nx == '*' => inBc = true; j += 1
                case '(' => d += 1
                case ')' => d -= 1
                case _ => ()
              }
              j += 1
            }
            if (d != 0) return false
            defs += ((nm.group(1).replace("\"", ""),
              span.substring(i + nm.start(1), j)))
            i = j
          case None =>
            log(s"cte-probe: def parse stops at «${rest.take(50).replaceAll("\\s+", " ")}»")
            guard = 24
        }
      }
      if (defs.isEmpty) return false
      log(s"cte-probe: ${defs.size} defs (${defs.map(_._1).mkString(",")})")
      // plain translate+sql (no Runner repair chain): the chain would
      // textually fix the probe and hide the root; a probe error the
      // repair machinery can't classify just moves to the next CTE
      val tried = mutable.Set.empty[String]
      defs.indices.foreach { k =>
        val probeSql = RedshiftScript.translate(
          "with " + defs.take(k + 1).map(_._2).mkString(",\n") +
            s"\nselect * from ${defs(k)._1} limit 0", pinned)
        try spark.sql(probeSql).queryExecution.analyzed
        catch {
          case e: Exception =>
            val pe = String.valueOf(e.getMessage)
            val key = pe.take(120)
            if (pe.nonEmpty && pe != err && !tried(key)) {
              tried += key
              log(s"cte-probe: ${defs(k)._1} fails first: ${pe.take(200)}")
              if (applyFix(script, text, failing, pe)) return true
            }
        }
      }
      false
    }

    /** Stage, bootstrap, then fix-loop until every runnable script
      * passes or no classified fix applies. Returns per-script failures
      * (empty = layer green).
      */
    def converge(maxRounds: Int = 60): Map[String, String] = {
      stageAll()
      val root = SparkSpec.tempDir("graft-layer")
      bootstrap(root)
      var round = 0
      var lastErr = Map.empty[String, String]
      while (round < maxRounds) {
        round += 1
        val failures = mutable.LinkedHashMap.empty[String, (Option[String], String)]
        scripts.foreach { case (name, text) =>
          val r = new RedshiftScript.Runner(spark, root, pinned).run(text)
          if (!r.ok) {
            val idx = r.reports.indexWhere(!_.ok)
            val stmt = RedshiftScript.splitStatements(text).lift(idx)
            failures(name) = (stmt, r.reports.filterNot(_.ok)
              .map(sr => s"[${sr.verb} ${sr.target.getOrElse("")}] ${sr.error.getOrElse("")}")
              .mkString("; "))
          }
        }
        if (failures.isEmpty) return Map.empty
        var applied = 0
        failures.foreach { case (name, (stmt0, err0)) =>
          val text = scripts.collectFirst { case (`name`, t) => t }.get
          // DRAIN this script's fixable defects in one round: a wide
          // statement can need dozens of one-column repairs (the
          // `00_pricing_live_feed.sql` star-CTE statements each miss
          // ~14 unqualified columns) — one-fix-per-round exhausts
          // maxRounds before converging
          var cur: Option[(Option[String], String)] = Some((stmt0, err0))
          var drain = 0
          while (drain < 80 && cur.exists(c => applyFixExpanded(name, text, c._1, c._2))) {
            applied += 1; drain += 1
            val r = new RedshiftScript.Runner(spark, root, pinned).run(text)
            cur =
              if (r.ok) None
              else {
                val idx = r.reports.indexWhere(!_.ok)
                val stmt = RedshiftScript.splitStatements(text).lift(idx)
                Some((stmt, r.reports.filterNot(_.ok)
                  .map(sr => s"[${sr.verb} ${sr.target.getOrElse("")}] ${sr.error.getOrElse("")}")
                  .mkString("; ")))
              }
          }
        }
        lastErr = failures.map { case (n, (_, e)) => n -> e }.toMap
        log(s"converge round $round: ${failures.size} failing scripts, " +
          s"$applied fixes applied (${failures.keys.take(5).mkString(", ")})")
        lastErr.foreach { case (n, e) =>
          log(s"still failing $n: ${e.replaceAll("\\s+", " ").take(280)}") }
        if (applied == 0) return lastErr
        rebootstrapMissing(root)
      }
      lastErr
    }

    /** One-line machine-trendable coverage record for the test report —
      * lets future rounds chart verbatim-layer coverage the way parse
      * rate is charted. Print AFTER converge (and pass its result).
      */
    def summaryJson(layerName: String, failures: Map[String, String]): String = {
      val brokenCount = allScripts.count(s => broken(s._1))
      s"""{"layer":"$layerName","scripts_total":${allScripts.size},""" +
        s""""broken_in_reference":$brokenCount,"ran":${scripts.size},""" +
        s""""failed":${failures.size},"fixtures_staged":${fixtureCols.size}}"""
    }

    def runAll(root: String): Map[String, String] = {
      val failures = mutable.LinkedHashMap.empty[String, String]
      scripts.foreach { case (name, text) =>
        val r = new RedshiftScript.Runner(spark, root, pinned).run(text)
        if (!r.ok)
          failures(name) = r.reports.filterNot(_.ok)
            .map(sr => s"[${sr.verb} ${sr.target.getOrElse("")}] ${sr.error.getOrElse("").take(400)}")
            .mkString("; ")
      }
      failures.toMap
    }
  }
}
