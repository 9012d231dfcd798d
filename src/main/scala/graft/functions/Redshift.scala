package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Redshift-dialect compatibility shims (SURVEY §2.8–2.11, §4.3).
  *
  * Each function is a plain `Column => Column` composition of built-in
  * (codegen'd) Spark functions — no UDFs, so every shim stays inside
  * whole-stage codegen and is optimizable by Catalyst (constant folding,
  * pushdown through the expression).
  *
  * Semantics follow Redshift where it differs from Spark:
  *   - `dateDiff(unit, a, b)` counts *boundary crossings* from a to b
  *     (reference usage: `Datawarehouse-ETL/3_master/subscription.sql:75-94`).
  *   - `extract('dow', d)` is 0=Sunday..6=Saturday (Spark dayofweek is
  *     1=Sunday); the reference hand-corrects this at
  *     `7_snowplow/2_sessions/01_sessions.sql:47`.
  *   - `toChar` translates Redshift/Postgres format patterns to Spark's
  *     `date_format` patterns (`dim_dates.sql:21-28`).
  */
object Redshift {

  // ---------------------------------------------------------------- null/branch

  /** NVL — 577 reference files (e.g. `1_ods_core/00_subscription.sql:244`). */
  def nvl(c: Column, fallback: Column): Column = coalesce(c, fallback)

  def nvl2(c: Column, notNull: Column, isNull: Column): Column =
    when(c.isNotNull, notNull).otherwise(isNull)

  /** DECODE(expr, k1, v1, k2, v2, ..., default) — Redshift/Oracle style. */
  def decode(expr: Column, pairsAndDefault: Column*): Column = {
    val (pairs, default) =
      if (pairsAndDefault.length % 2 == 1)
        (pairsAndDefault.init, Some(pairsAndDefault.last))
      else (pairsAndDefault, None)
    val branches = pairs.grouped(2).foldLeft(Option.empty[Column]) {
      case (acc, Seq(k, v)) =>
        Some(acc.fold(when(expr <=> k, v))(_.when(expr <=> k, v)))
      case (acc, _) => acc
    }
    branches match {
      case Some(c) => default.fold(c)(d => c.otherwise(d))
      case None    => default.getOrElse(lit(null))
    }
  }

  /** The ubiquitous NULLIF(x, '') empty-string-as-null idiom. */
  def emptyAsNull(c: Column): Column = nullif(c, lit(""))

  // ---------------------------------------------------------------- date/time

  /** Truncate a timestamp/date to the start of the unit boundary, normalized
    * to Redshift unit spellings (day/d, week/w, month/mon, etc.).
    */
  def dateTrunc(unit: String, ts: Column): Column =
    date_trunc(normalizeUnit(unit), ts)

  /** DATEADD(unit, n, ts) — Redshift argument order
    * (`4_dwh_catman/contentful_campaigns.sql:114`). Works for date and
    * timestamp inputs; returns timestamp for sub-day units.
    */
  def dateAdd(unit: String, n: Column, ts: Column): Column = {
    val zero = lit(0)
    normalizeUnit(unit) match {
      case "year"    => add_months(ts, n * 12).cast("timestamp")
      case "quarter" => add_months(ts, n * 3).cast("timestamp")
      case "month"   => add_months(ts, n).cast("timestamp")
      case "week"    => ts.cast("timestamp") + make_dt_interval(n * 7, zero, zero, lit(0.0))
      case "day"     => ts.cast("timestamp") + make_dt_interval(n, zero, zero, lit(0.0))
      case "hour"    => ts.cast("timestamp") + make_dt_interval(zero, n, zero, lit(0.0))
      case "minute"  => ts.cast("timestamp") + make_dt_interval(zero, zero, n, lit(0.0))
      case "second"  => ts.cast("timestamp") + make_dt_interval(zero, zero, zero, n.cast("double"))
      case other     => throw new IllegalArgumentException(s"dateAdd unit: $other")
    }
  }

  def dateAdd(unit: String, n: Int, ts: Column): Column = dateAdd(unit, lit(n), ts)

  /** DATEDIFF(unit, start, end) with Redshift *boundary-crossing* semantics:
    * datediff('month', '2024-01-31', '2024-02-01') = 1;
    * datediff('year', '2024-12-31', '2025-01-01') = 1.
    * Implemented by truncating both sides to the unit then counting whole
    * units between the truncated values — exactly the boundary count.
    */
  def dateDiff(unit: String, start: Column, end: Column): Column = {
    val u = normalizeUnit(unit)
    u match {
      case "year" => (year(end) - year(start)).cast("long")
      case "quarter" =>
        ((year(end) - year(start)) * 4 + (quarter(end) - quarter(start))).cast("long")
      case "month" =>
        ((year(end) - year(start)) * 12 + (month(end) - month(start))).cast("long")
      case "week" =>
        // Redshift DATEDIFF counts SUNDAY boundaries (a week boundary is
        // the Saturday→Sunday transition), even though its own
        // DATE_TRUNC('week') is Monday-based. Sunday-on-or-before(d) =
        // monday_trunc(d + 1 day) - 1 day.
        def sundayFloor(c: Column): Column =
          date_sub(date_trunc("week", date_add(c.cast("date"), 1)).cast("date"), 1)
        (datediff(sundayFloor(end), sundayFloor(start)) / 7).cast("long")
      case "day" =>
        datediff(end.cast("date"), start.cast("date")).cast("long")
      case "hour" | "minute" | "second" =>
        val secs = Map("hour" -> 3600L, "minute" -> 60L, "second" -> 1L)(u)
        floorDiv(epochSeconds(end), secs) - floorDiv(epochSeconds(start), secs)
      case other => throw new IllegalArgumentException(s"dateDiff unit: $other")
    }
  }

  private def epochSeconds(c: Column): Column =
    floorDiv(unix_micros(c.cast("timestamp_ltz")), 1000000L)

  private def floorDiv(c: Column, d: Long): Column =
    floor(c / d.toDouble).cast("long")

  /** EXTRACT / DATE_PART with Redshift unit semantics:
    * dow: 0=Sunday..6=Saturday; epoch: seconds since 1970-01-01.
    * (`dim_dates.sql:19-27`, `01_sessions.sql:40-47`)
    */
  def datePart(unit: String, ts: Column): Column = unit.toLowerCase match {
    case "dow" | "dayofweek"        => dayofweek(ts) - 1
    case "doy" | "dayofyear"        => dayofyear(ts)
    case "epoch"                    => epochSeconds(ts)
    case "year" | "y" | "yr" | "yrs"=> year(ts)
    case "quarter" | "qtr"          => quarter(ts)
    case "month" | "mon"            => month(ts)
    case "week" | "w"               => weekofyear(ts)
    case "day" | "d"                => dayofmonth(ts)
    case "hour" | "h" | "hr"        => hour(ts)
    case "minute" | "min" | "m"     => minute(ts)
    case "second" | "sec" | "s"     => second(ts)
    case other                      => throw new IllegalArgumentException(s"datePart unit: $other")
  }

  /** TO_CHAR(ts, fmt) — translate the Redshift/Postgres patterns the
    * reference actually uses (`dim_dates.sql:25,28`, `01_sessions.sql:33-46`)
    * into `date_format` patterns. Case-sensitive name patterns ('Month',
    * 'Day', 'Mon', 'Dy') map to Spark's MMMM/EEEE with appropriate casing.
    */
  def toChar(ts: Column, fmt: String): Column = fmt match {
    case "Month" => date_format(ts, "MMMM")
    case "month" => lower(date_format(ts, "MMMM"))
    case "MONTH" => upper(date_format(ts, "MMMM"))
    case "Mon"   => date_format(ts, "MMM")
    case "Day"   => date_format(ts, "EEEE")
    case "day"   => lower(date_format(ts, "EEEE"))
    case "DAY"   => upper(date_format(ts, "EEEE"))
    case "Dy"    => date_format(ts, "EEE")
    case "d"     => (dayofweek(ts)).cast("string") // Redshift 'd': 1=Sunday..7
    case other   => date_format(ts, translateDateFormat(other))
  }

  /** Redshift/Postgres TO_CHAR pattern → java.time pattern. */
  private[graft] def translateDateFormat(fmt: String): String = {
    // longest-first token replacement
    val tokens = Seq(
      "YYYY" -> "yyyy", "YY" -> "yy",
      "MM" -> "MM", "DD" -> "dd",
      "HH24" -> "HH", "HH12" -> "hh", "HH" -> "hh",
      "MI" -> "mm", "SS" -> "ss", "MS" -> "SSS",
      "AM" -> "a", "PM" -> "a",
      "TZ" -> "zzz", "Q" -> "Q", "WW" -> "ww", "IW" -> "ww",
      "DDD" -> "DDD", "J" -> "DDD"
    )
    val ordered = tokens.sortBy { case (k, _) => -k.length }
    val sb = new StringBuilder
    var i = 0
    while (i < fmt.length) {
      ordered.find { case (k, _) => fmt.startsWith(k, i) } match {
        case Some((k, v)) => sb.append(v); i += k.length
        case None         => sb.append(fmt.charAt(i)); i += 1
      }
    }
    sb.toString
  }

  /** CONVERT_TIMEZONE('CET', ts): interpret a UTC-stored timestamp in the
    * target zone (`1_ods_core/02_inventory_reservations_pending.sql:21`).
    */
  def convertTimezone(targetTz: String, ts: Column): Column =
    from_utc_timestamp(ts, targetTz)

  def convertTimezone(sourceTz: String, targetTz: String, ts: Column): Column =
    from_utc_timestamp(to_utc_timestamp(ts, sourceTz), targetTz)

  // ---------------------------------------------------------------- string

  /** SPLIT_PART(s, delim, n) — 1-based, '' when out of range (85 files,
    * `0_ods_core/00_variant.sql:103`).
    */
  def splitPart(s: Column, delim: String, n: Int): Column =
    coalesce(split_part(s, lit(delim), lit(n)), lit(""))

  /** POSITION/STRPOS/CHARINDEX — 1-based index, 0 when absent. */
  def strpos(s: Column, sub: String): Column = instr(s, sub)

  /** LEFT/RIGHT slices. */
  def leftStr(s: Column, n: Int): Column = substring(s, 1, n)
  def rightStr(s: Column, n: Int): Column =
    when(length(s) <= n, s).otherwise(substring(s, -n, n))

  /** MD5 surrogate key over concatenated parts
    * (`91_External/Intercom/intercom_source_preparing.sql:140`).
    */
  def md5Key(parts: Column*): Column = md5(concat_ws("||", parts: _*))

  /** TO_NUMBER locale money parse: '1.234,56 €' → 1234.56
    * (`1_ods_grover_card/01_grover_card_transactions.sql:30`).
    * Strips everything but digits, comma, dot, minus; then treats ',' as the
    * decimal separator when it appears after the last '.'.
    */
  def toNumberEu(s: Column): Column = {
    val cleaned = regexp_replace(s, "[^0-9,.-]", "")
    val normalized = regexp_replace(regexp_replace(cleaned, "\\.", ""), ",", ".")
    normalized.cast("double")
  }

  // ---------------------------------------------------------------- JSON

  /** JSON_EXTRACT_PATH_TEXT(json, 'a', 'b', ...) — nested text extraction,
    * NULL on missing/invalid (147 files; `00_subscription.sql:8-57`).
    */
  def jsonExtractPathText(json: Column, path: String*): Column =
    get_json_object(json, "$." + path.mkString("."))

  /** JSON_EXTRACT_ARRAY_ELEMENT_TEXT(json, i) — 0-based. */
  def jsonExtractArrayElementText(json: Column, i: Int): Column =
    get_json_object(json, s"$$[$i]")

  /** Column-index variant — the path is built per row (the GetJsonObject
    * EXPRESSION accepts a non-foldable path; only the function API pins a
    * literal; a non-literal path just skips the cached-path fast path). */
  def jsonExtractArrayElementText(json: Column, i: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    val path = concat(lit("$["), i.cast("int").cast("string"), lit("]"))
    ColumnBridge.toColumn(org.apache.spark.sql.catalyst.expressions.GetJsonObject(
      ColumnBridge.toExpression(json), ColumnBridge.toExpression(path)))
  }

  /** IS_VALID_JSON guard (54 files): true when the string parses as a JSON
    * object or array.
    */
  def isValidJson(json: Column): Column =
    try_parse_json(json).isNotNull

  /** Single-parse payload decoding — the replacement for the reference's
    * hottest JSON idiom: 30–50 `JSON_EXTRACT_PATH_TEXT(payload, …)` calls
    * on one column (`1_ods_core/00_subscription.sql:8-57`; 147 files),
    * each of which re-parses the JSON. One `from_json` to a `StructType`
    * parses the payload once and every field is a plain (codegen'd)
    * struct-field access after that — O(parse + fields) instead of
    * O(parse × fields) per row. At 100 TB the payload parse dominates the
    * scan; this is the difference between reading the events table once
    * and reading it 40×.
    */
  def payloadStruct(json: Column, schema: org.apache.spark.sql.types.StructType): Column =
    from_json(json, schema)

  /** [[payloadStruct]] + flatten: decode the payload and select every
    * schema field as a top-level column in one pass.
    */
  def withPayloadFields(
      df: org.apache.spark.sql.DataFrame,
      jsonCol: String,
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame = {
    val parsed = df.withColumn("__payload", payloadStruct(col(jsonCol), schema))
    val fields = schema.fieldNames.map(f => col(s"__payload.$f").as(f))
    parsed.select((df.columns.map(col) ++ fields): _*).drop("__payload")
  }

  // ---------------------------------------------------------------- agg helpers

  /** LISTAGG(DISTINCT x, sep) WITHIN GROUP (ORDER BY x) with deterministic
    * ordering — `collect_set` order is partition-dependent, so sort the
    * array before joining (SURVEY §7.5-5; reference usage
    * `4_dwh_sustainability/dm_sustainability.v_multi_items_orders.sql:21`).
    */
  def listAggDistinct(c: Column, sep: String): Column =
    array_join(array_sort(collect_set(c)), sep)

  /** LISTAGG(x, sep) WITHIN GROUP (ORDER BY x) — with duplicates kept. */
  def listAgg(c: Column, sep: String): Column =
    array_join(array_sort(collect_list(c)), sep)

  // ---------------------------------------------------------------- misc

  private[graft] def normalizeUnit(unit: String): String = unit.toLowerCase match {
    case "y" | "yr" | "yrs" | "year" | "years"       => "year"
    case "q" | "qtr" | "qtrs" | "quarter" | "quarters" => "quarter"
    case "mon" | "mons" | "month" | "months"         => "month"
    case "w" | "wk" | "week" | "weeks"               => "week"
    case "d" | "day" | "days"                        => "day"
    case "h" | "hr" | "hrs" | "hour" | "hours"       => "hour"
    case "m" | "min" | "mins" | "minute" | "minutes" => "minute"
    case "s" | "sec" | "secs" | "second" | "seconds" => "second"
    case other                                       => other
  }
}
