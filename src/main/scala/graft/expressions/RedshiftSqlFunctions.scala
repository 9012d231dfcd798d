package graft.expressions

import graft.functions.{Redshift => R}
import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Cast, Ceil, Expression, ExpressionInfo, Floor, If, LessThan, Literal, Remainder, Subtract}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{BooleanType, ByteType, DateType, DecimalType, DoubleType, FloatType, IntegerType, LongType, ShortType, StringType, TimestampNTZType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** SQL-text entry points for the Redshift-dialect shims (SURVEY §4.3's
  * optional FunctionRegistry layer): lets reference-shaped SQL run through
  * `spark.sql` / the pipeline runner without rewriting to the Column API.
  *
  * Functions Spark already provides under the same name+semantics (NVL,
  * DECODE, SPLIT_PART, CONVERT_TIMEZONE, …) are not re-registered; a
  * builtin whose argument check rejects a Redshift form is wrapped, for
  * that argument count only (end of [[register]]). DATEDIFF/DATEADD get
  * the Redshift 3-argument forms — 2-argument calls fall through to
  * Spark's own semantics.
  */
object RedshiftSqlFunctions {

  private def col(e: Expression): Column = ColumnBridge.toColumn(e)
  private def ex(c: Column): Expression = ColumnBridge.toExpression(c)

  private def litString(e: Expression, what: String): String = e match {
    case Literal(s: UTF8String, StringType) => s.toString
    case other =>
      throw new IllegalArgumentException(s"$what must be a string literal, got $other")
  }

  def register(ext: SparkSessionExtensions): Unit = {
    // builtin-registry registration too — session-injected functions are
    // TEMPORARY objects, which persistent views refuse to reference
    // (see GraftExtensions)
    def injectAs(info: ExpressionInfo, builder: Seq[Expression] => Expression): Unit = {
      val id = FunctionIdentifier(info.getName)
      FunctionRegistry.builtin.registerFunction(id, info, builder)
      ext.injectFunction((id, info, builder))
    }
    def inject(name: String)(builder: Seq[Expression] => Expression): Unit =
      injectAs(new ExpressionInfo(RedshiftSqlFunctions.getClass.getName, name), builder)

    inject("json_extract_path_text") { children =>
      require(children.size >= 2, "json_extract_path_text(json, key, ...)")
      // Redshift's optional trailing null_if_invalid BOOLEAN flag
      // (`ds-airflow-prod/dags/anomaly_detection/sql/nethone_data.sql:3`)
      // is this engine's default behavior — drop it
      val args = children.tail match {
        case init :+ Literal(_: Boolean, _) if init.nonEmpty => init
        case other => other
      }
      if (args.forall(_.isInstanceOf[Literal])) {
        val path = args.map(litString(_, "path element"))
        ex(R.jsonExtractPathText(col(children.head), path: _*))
      } else {
        // a path element may be any expression — Redshift evaluates it
        // per row (`JSON_EXTRACT_PATH_text(…, id)` keys the contact map
        // by another column, `1_ods_ops/00_intercom.sql:31`); the
        // GetJsonObject EXPRESSION accepts a non-foldable path (only
        // the function API pins a literal). Redshift treats each path
        // element as a LITERAL key, so emit bracket-quoted segments —
        // `$['k']` — rather than `$.`+k, which would let JSONPath
        // metacharacters (. [ *) in a runtime key change the path and
        // silently extract the wrong value. Known residual: Spark's
        // JsonPathParser reads a quoted segment as [^']+, so a runtime
        // key CONTAINING a single quote renders $['a'b'] unparseable
        // and this returns NULL where Redshift matches the key
        // literally — accepted divergence, no such key in the corpus.
        import org.apache.spark.sql.catalyst.expressions.{Concat, Cast}
        import org.apache.spark.sql.types.StringType
        val parts = Literal("$") +: args.flatMap(a =>
          Seq(Literal("['"), Cast(a, StringType), Literal("']")))
        org.apache.spark.sql.catalyst.expressions.GetJsonObject(
          children.head, Concat(parts))
      }
    }
    // IS_VALID_JSON_ARRAY([NOT] the object form): true when the string
    // parses as JSON AND is an array (`1_ods_finance/
    // 00_payment_subscription.sql:358` gates the lineitems explode);
    // the optional trailing null_if_invalid flag is dropped like
    // json_extract_path_text's
    inject("is_valid_json_array") { children =>
      require(children.nonEmpty, "is_valid_json_array(text)")
      val c = col(children.head)
      ex(R.isValidJson(c) &&
        org.apache.spark.sql.functions.trim(c).startsWith("["))
    }
    // Presto/Athena JSONPath extraction (`data-airflow-prod/
    // business_logic/manual_review_us/sql/order_shipping_address_stat
    // .sql:5`, intercom conversation exports): both the JSON-returning
    // and the scalar form lower to get_json_object — the scripts CAST
    // the result themselves.
    inject("json_extract") { children =>
      require(children.size == 2, "json_extract(json, jsonpath)")
      org.apache.spark.sql.catalyst.expressions.GetJsonObject(
        children.head, children(1))
    }
    inject("json_extract_scalar") { children =>
      require(children.size == 2, "json_extract_scalar(json, jsonpath)")
      org.apache.spark.sql.catalyst.expressions.GetJsonObject(
        children.head, children(1))
    }
    inject("json_extract_array_element_text") { children =>
      // 2- or 3-arg (Redshift's trailing null_if_invalid flag is this
      // engine's default behavior); the index may be any expression —
      // `json_extract_array_element_text(line_items, numbers.ordinal, TRUE)`
      // drives the reference's numbers-cross-join array explode
      // (`us_debt_collections/sql/last_payment_event.sql:78-80`)
      require(children.size == 2 || children.size == 3,
        "json_extract_array_element_text(json, index[, null_if_invalid])")
      children(1) match {
        case Literal(v: Int, _) => ex(R.jsonExtractArrayElementText(col(children.head), v))
        case ix => ex(R.jsonExtractArrayElementText(col(children.head), col(ix)))
      }
    }
    inject("is_valid_json") { children =>
      ex(R.isValidJson(col(children.head)))
    }
    // Redshift argument order & boundary-crossing semantics. Spark's
    // parser claims the bare `datediff`/`dateadd` names as special syntax
    // (unquoted units, TIMESTAMPDIFF complete-unit semantics), so the
    // dialect forms are registered under `_rs` suffixes.
    inject("datediff_rs") { children =>
      require(children.size == 3, "datediff_rs(unit, start, end)")
      ex(R.dateDiff(litString(children.head, "datediff unit"),
        col(children(1)), col(children(2))))
    }
    inject("dateadd_rs") { children =>
      require(children.size == 3, "dateadd_rs(unit, n, ts)")
      ex(R.dateAdd(litString(children.head, "dateadd unit"),
        col(children(1)), col(children(2))))
    }
    inject("to_char_rs") { children =>
      require(children.size == 2, "to_char_rs(ts, fmt)")
      ex(R.toChar(col(children.head), litString(children(1), "to_char format")))
    }
    inject("date_part_rs") { children =>
      require(children.size == 2, "date_part_rs(unit, ts)")
      ex(R.datePart(litString(children.head, "date_part unit"), col(children(1))))
    }
    // Redshift TIMEZONE('tz', naive_ts): interpret ts AS BEING IN tz and
    // convert to UTC — the INVERSE of convert_timezone('tz', ts); the
    // dialect layer routes only naive-operand calls here (timestamptz
    // operands keep convert_timezone). Argument order is Redshift's
    // (tz, ts), swapped onto Spark's to_utc_timestamp(ts, tz).
    inject("timezone_rs") { children =>
      require(children.size == 2, "timezone_rs(tz, ts)")
      ex(org.apache.spark.sql.functions.to_utc_timestamp(
        col(children(1)), col(children.head)))
    }
    // warehouse UDF guarding numeric casts (`7_snowplow/2_sessions/
    // Order_Mapping/4_01_session_table.sql:5`, `Price Collection Views/
    // staging_price_collection.ods_amazon.sql:245`): true when the text
    // parses as a signed integer/decimal
    inject("isnumeric") { children =>
      require(children.size == 1, "isnumeric(text)")
      ex(col(children.head).cast("string")
        .rlike("^\\s*[+-]?\\d+(\\.\\d+)?\\s*$"))
    }
    // Redshift REGEXP_SUBSTR(str, pat[, position[, occurrence[,
    // parameters]]]) — Spark's builtin stops at 2 args
    // (`91_External/Gmail/partner_online_order_tracking.sql:9` pulls
    // the Nth tracking link). Non-match of a non-NULL source yields ''
    // like Redshift; a NULL source yields NULL.
    val regexpSubstrRs: Seq[Expression] => Expression = { children =>
      require(children.size >= 2 && children.size <= 5,
        "regexp_substr_rs(str, pat[, pos[, occurrence[, params]]])")
      val F = org.apache.spark.sql.functions
      val str0 = col(children.head)
      val pat0 = col(children(1))
      val pat =
        if (children.size == 5 &&
            litString(children(4), "regexp params").contains("i"))
          F.concat(F.lit("(?i)"), pat0)
        else pat0
      val base =
        if (children.size >= 3) str0.substr(col(children(2)), F.lit(Int.MaxValue))
        else str0
      val occ = if (children.size >= 4) col(children(3)) else F.lit(1)
      ex(F.when(str0.isNotNull, F.coalesce(
        F.try_element_at(F.regexp_extract_all(base, pat, F.lit(0)), occ),
        F.lit(""))))
    }
    inject("regexp_substr_rs")(regexpSubstrRs)
    // Redshift CHARINDEX(substring, string) — Spark's instr with the
    // argument order swapped (`91_External/Gmail/
    // partner_online_order_tracking.sql`)
    inject("charindex") { children =>
      require(children.size == 2, "charindex(substring, string)")
      ex(org.apache.spark.sql.functions.instr(
        col(children(1)), col(children.head)))
    }
    // JSON_SERIALIZE over a genuine variant/struct container serializes
    // to JSON text; over a SUPER SCALAR (string field navigation,
    // `91_External/Intercom/intercom_source_preparing.sql`) Redshift
    // returns the value's JSON rendering — for strings that is the value
    // itself, which downstream code treats as text
    inject("json_serialize_rs") { children =>
      require(children.size == 1, "json_serialize_rs(super)")
      import org.apache.spark.sql.types._
      val serializable =
        try children.head.dataType match {
          case _: StructType | _: ArrayType | _: MapType | _: VariantType => true
          case _ => false
        } catch { case _: Exception => true }
      if (serializable) ex(org.apache.spark.sql.functions.to_json(col(children.head)))
      else org.apache.spark.sql.catalyst.expressions.Cast(
        children.head, StringType)
    }
    inject("getdate") { children =>
      require(children.isEmpty, "getdate()")
      org.apache.spark.sql.catalyst.expressions.CurrentTimestamp()
    }
    // Redshift REPLICATE(str, n) ≡ Spark repeat(str, n) — the GDPR
    // anonymization chain masks values with
    // `REPLICATE('x', LEN(col))` (`8_monitoring/gdpr/
    // anonymize_gdpr_columns.sql:14`)
    inject("replicate") { children =>
      require(children.size == 2, "replicate(str, n)")
      ex(org.apache.spark.sql.functions.repeat(col(children.head),
        col(children(1)).cast("int")))
    }

    // Redshift argument counts Spark's builtins reject. Every other call
    // goes to Spark's own builder unchanged, so Spark SQL keeps its
    // meaning. The builder comes from the static `FunctionRegistry
    // .expressions`, not from the builtin registry written here, so a
    // second session does not wrap a wrapper.
    def wrap(name: String)(
        redshift: (Seq[Expression] => Expression) => PartialFunction[Seq[Expression], Expression]): Unit = {
      val (info, spark) = FunctionRegistry.expressions(name)
      injectAs(info, args => redshift(spark).applyOrElse(args, spark))
    }
    // 1-arg GREATEST/LEAST is the argument
    // (`13_finance_reporting/Luxco_Reporting/…/spv_historical.sql`)
    Seq("greatest", "least").foreach(wrap(_)(_ => { case Seq(x) => x }))
    // 2-arg REGEXP_REPLACE deletes the matches
    // (`31_segment_page_view_and_sessions/06_01_url_store_mapping.sql:8`)
    wrap("regexp_replace")(spark => { case Seq(s, p) => spark(Seq(s, p, Literal(""))) })
    // JSON_ARRAY_LENGTH(json, null_if_invalid): Spark's already returns
    // NULL on invalid input (`1_ods_core/00_order_item.sql:28`)
    wrap("json_array_length")(spark => { case Seq(j, Literal(_, BooleanType)) => spark(Seq(j)) })
    // 1-arg TRUNC of a date or timestamp is its date
    // (`91_External/Catman/0_commercial_targets_daily_store_country.sql`),
    // of a number the number truncated toward zero: a DECIMAL(p, s) gives
    // DECIMAL(p - s + 1, 0), a FLOAT or DOUBLE its own type
    wrap("trunc")(_ => {
      case Seq(t) if t.resolved &&
          Seq(DateType, TimestampType, TimestampNTZType).contains(t.dataType) => Cast(t, DateType)
      case Seq(n) if n.resolved && Seq(ByteType, ShortType, IntegerType, LongType).contains(n.dataType) => n
      case Seq(n) if n.resolved && n.dataType.isInstanceOf[DecimalType] =>
        If(LessThan(n, Literal(0)), Ceil(n), Floor(n))
      case Seq(n) if n.resolved && Seq(FloatType, DoubleType).contains(n.dataType) =>
        Subtract(n, Remainder(n, Cast(Literal(1), n.dataType)))
    })
    wrap("regexp_substr")(_ => { case args if args.size >= 3 => regexpSubstrRs(args) })
    // the warehouse's UDF over SHA1 used by the snowplow user decode
    // (`7_snowplow/1_page_view/14_decoding_user.sql:14`)
    val (sha1, sha1Builder) = FunctionRegistry.expressions("sha1")
    injectAs(new ExpressionInfo(sha1.getClassName, "func_sha1"), sha1Builder)
  }
}
