package graft

import graft.pipeline.{Catalog, Pipeline, RedshiftScript}
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** The multi-statement script interpreter against the two canonical
  * reference shapes: the BEGIN/DELETE/INSERT/COMMIT snapshot-historical
  * script (`5_master_historical/addon_35up_order_historical.sql`) and the
  * DROP + CREATE TEMP TABLE … AS + CREATE TABLE AS staging chain
  * (`1_ods_core/00_subscription.sql`).
  */
class RedshiftScriptSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private def root(): String = RedshiftScript.tempLayoutRoot(spark, "graft-script")

  test("splitStatements respects strings, line comments and block comments") {
    val s =
      """-- a comment; with a semicolon
        |SELECT 'a;b' AS x; /* block; comment */ SELECT 2;
        |SELECT 'it''s; fine'""".stripMargin
    val parts = RedshiftScript.splitStatements(s)
    assert(parts.size === 3)
    assert(parts(0).contains("'a;b'"))
    assert(parts(2).contains("it''s; fine"))
  }

  test("translate rewrites dialect forms and pins current_date") {
    val t = RedshiftScript.translate(
      "SELECT datediff(day, a, b), dateadd(month, 1, c), date_part(dow, d), " +
        "to_char(e, 'YYYY'), sysdate, current_date - 1, current_date",
      currentDate = Some("2024-06-01"))
    assert(t.contains("datediff_rs('day', a, b)"))
    assert(t.contains("dateadd_rs('month', 1, c)"))
    assert(t.contains("date_part_rs('dow', d)"))
    assert(t.contains("to_char_rs(e, 'YYYY')"))
    assert(t.contains("current_timestamp"))
    assert(t.contains("date_sub(DATE '2024-06-01', 1)"))
    assert(!t.toLowerCase.contains("current_date "))
  }

  test("both-sides-::date subtraction rewrites to integer datediff") {
    spark.sql(
      """SELECT * FROM VALUES
        |  (1, TIMESTAMP '2024-07-01 10:00:00'),
        |  (2, TIMESTAMP '2024-06-10 23:30:00'),
        |  (3, CAST(NULL AS TIMESTAMP))
        |  AS t(k, minimum_cancellation_date)""".stripMargin).createOrReplaceTempView("dd_src")
    val r = new RedshiftScript.Runner(spark, root(), currentDate = Some("2024-06-15")).run(
      """SELECT k, (s.minimum_cancellation_date::Date - CURRENT_DATE::Date) AS d,
        |  s.minimum_cancellation_date::date - 1 AS prev
        |FROM dd_src s ORDER BY k;""".stripMargin)
    assert(r.ok, r.reports.mkString("; "))
    val df = r.lastSelect.get
    // Redshift's DATE - DATE is an INT day count
    assert(df.schema("d").dataType === org.apache.spark.sql.types.IntegerType)
    // one-sided date casts keep Redshift's date ± int arithmetic
    assert(df.schema("prev").dataType === org.apache.spark.sql.types.DateType)
    assert(df.collect().toSeq.map(_.mkString("|")) ===
      Seq("1|16|2024-06-30", "2|-5|2024-06-09", "3|null|null"))
  }

  test("Redshift date arithmetic: date - date is INT days, timestamp ± int moves whole days") {
    import org.apache.spark.sql.types.{DateType, DoubleType, IntegerType, TimestampType}
    val df = spark.sql(
      """SELECT d1 - d0 AS days,
        |  ts - 1 AS ts_minus, ts + 2 AS ts_plus, 3 + ts AS plus_ts,
        |  (d2 - d0) / 30 AS months,
        |  1 + (d2 - d0) / 30 * 0.03 AS factor,
        |  d1 - (d1 - d0) AS back
        |FROM VALUES (DATE '2024-02-01', DATE '2024-03-01', DATE '2024-05-01',
        |  TIMESTAMP '2024-03-01 10:00:00') AS t(d0, d1, d2, ts)""".stripMargin)
    assert(df.schema.map(_.dataType) === Seq(IntegerType, TimestampType, TimestampType,
      TimestampType, DoubleType, DoubleType, DateType))
    val row = df.head()
    assert(row.getInt(0) === 29)
    assert(row.getTimestamp(1).toString === "2024-02-29 10:00:00.0")
    assert(row.getTimestamp(2).toString === "2024-03-03 10:00:00.0")
    assert(row.getTimestamp(3).toString === "2024-03-04 10:00:00.0")
    assert(row.getDouble(4) === 3.0)
    assert(math.abs(row.getDouble(5) - 1.09) < 1e-12)
    assert(row.getDate(6).toString === "2024-02-01")
  }

  // Redshift's implicit coercions, each shape pinned at the Runner with its
  // rows and result schema. `co_src` holds numeric text (`n1`, `n2`,
  // `plz`), labels, integers, a 0/1 flag and a boolean, with NULLs in row 3.
  private def coercionFixture(): Unit =
    spark.sql(
      """SELECT * FROM VALUES
        |  (1, '10', '2.5', 'DE', 'web', 'ABC', 'Acme Partner', 4, 7, 'x', 'y', 'z', '10115', 0, true),
        |  (2, '3', NULL, 'NL', 'app', 'XY', 'Big Deal Co', 12, 5, 'p', 'q', 'r', '01067', 1, false),
        |  (3, NULL, '1', 'AT', NULL, 'Q', 'Solo', NULL, 3, 'm', NULL, 'n', NULL, NULL, NULL)
        |  AS t(k, n1, n2, country, channel, code, name, a, b, s1, s2, s3, plz, flag, is_last)""".stripMargin)
      .createOrReplaceTempView("co_src")

  /** Runs the one-statement `sql` and asserts the schema and rows of its
    * result, analyzed on the first attempt: the analyzer applies the
    * coercion ([[graft.expressions.RedshiftCoercions]]), no repair does.
    */
  private def assertCoercion(sql: String, schema: String, rows: String*): Unit = {
    coercionFixture()
    val r = new RedshiftScript.Runner(spark, root()).run(sql + ";")
    assert(r.ok, r.reports.mkString("; "))
    val df = r.lastSelect.get
    assert(df.schema.simpleString === schema)
    assert(df.collect().toSeq.map(_.mkString("|")) === rows)
  }

  test("Redshift coercion: `+` of two numeric-text varchar columns adds them") {
    assertCoercion("SELECT k, n1 + n2 AS total FROM co_src ORDER BY k",
      "struct<k:int,total:double>", "1|12.5", "2|null", "3|null")
  }

  test("Redshift coercion: `+` beside a string literal, string function, string cast or || concatenates") {
    assertCoercion("SELECT k, country + ' - ' + channel AS label FROM co_src ORDER BY k",
      "struct<k:int,label:string>", "1|DE - web", "2|NL - app", "3|null")
    assertCoercion(
      "SELECT k, '%' + code + split_part(name, ' ', 2) + '%' AS pattern FROM co_src ORDER BY k",
      "struct<k:int,pattern:string>", "1|%ABCPartner%", "2|%XYDeal%", "3|%Q%")
    assertCoercion("SELECT k, a::varchar + b::varchar AS ab FROM co_src ORDER BY k",
      "struct<k:int,ab:string>", "1|47", "2|125", "3|null")
    assertCoercion("SELECT k, s1 || s2 + s3 AS joined FROM co_src ORDER BY k",
      "struct<k:int,joined:string>", "1|xyz", "2|pqr", "3|null")
  }

  test("Redshift coercion: a quoted number plus a text cast stays a numeric add") {
    assertCoercion("SELECT k, '0' + plz::text AS plz_num FROM co_src ORDER BY k",
      "struct<k:int,plz_num:bigint>", "1|10115", "2|1067", "3|null")
  }

  test("Redshift coercion: an integer CASE condition tests the value against 0") {
    assertCoercion(
      "SELECT k, CASE WHEN flag THEN 'on' ELSE 'off' END AS state FROM co_src ORDER BY k",
      "struct<k:int,state:string>", "1|off", "2|on", "3|off")
  }

  test("Redshift coercion: a boolean compared with an integer literal") {
    assertCoercion("SELECT k FROM co_src WHERE is_last = 1 ORDER BY k", "struct<k:int>", "1")
    assertCoercion("SELECT k FROM co_src WHERE is_last <> 0 ORDER BY k", "struct<k:int>", "1")
    assertCoercion("SELECT k FROM co_src WHERE is_last != 0 ORDER BY k", "struct<k:int>", "1")
    assertCoercion("SELECT k FROM co_src WHERE is_last = 0 ORDER BY k", "struct<k:int>", "2")
  }

  test("UPDATE casts the SET value to the column type, not the untouched rows") {
    import org.apache.spark.sql.functions._
    val p = tempDir("upd-cast")
    // valid_to staged as STRING with non-timestamp contents; the SET
    // expression is a TIMESTAMP — untouched rows must survive verbatim
    Catalog.replaceTable(
      spark.range(3).toDF("id")
        .withColumn("valid_to", concat(lit("v"), col("id"))),
      "upd_cast_db", "t1")
    val r = new RedshiftScript.Runner(spark, p, Some("2024-06-15")).run(
      "UPDATE upd_cast_db.t1 SET valid_to = current_timestamp WHERE id = 1;")
    assert(r.ok, r.reports.flatMap(_.error).mkString("; "))
    val vals = spark.table("upd_cast_db.t1").orderBy("id")
      .select("valid_to").collect().map(_.getString(0))
    assert(vals(0) === "v0" && vals(2) === "v2")
    assert(vals(1) != "v1") // updated row carries the cast timestamp text
  }

  test("snapshot-historical script (BEGIN/DELETE/INSERT/COMMIT) runs and is idempotent") {
    Catalog.replaceTable(Tables.read(spark, sfDir, "orders"), "rs_master", "orders_src")
    Catalog.replaceTable(
      Tables.read(spark, sfDir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
        .withColumn("date", lit(null).cast("date"))
        .limit(0),
      "rs_master", "order_hist")
    val script =
      """BEGIN;
        |
        |DELETE FROM rs_master.order_hist
        |WHERE date = current_date - 1;
        |
        |INSERT INTO rs_master.order_hist
        |SELECT o_orderkey,
        |o_custkey,
        |o_orderstatus,
        |o_totalprice,
        |current_date - 1 AS date
        |FROM rs_master.orders_src
        |WHERE o_orderdate < current_date;
        |
        |COMMIT;""".stripMargin
    val expected = Tables.read(spark, sfDir, "orders")
      .filter(col("o_orderdate") < lit("1998-12-01").cast("date")).count()

    val r1 = new RedshiftScript.Runner(spark, root(), Some("1998-12-01")).run(script)
    assert(r1.ok, r1.reports.mkString("; "))
    assert(r1.reports.map(_.verb) === Seq("BEGIN", "DELETE", "INSERT", "COMMIT"))
    assert(spark.table("rs_master.order_hist").count() === expected)

    // second run: DELETE clears yesterday's snapshot, INSERT rebuilds it —
    // the count must not double
    val r2 = new RedshiftScript.Runner(spark, root(), Some("1998-12-01")).run(script)
    assert(r2.ok)
    val hist = spark.table("rs_master.order_hist")
    assert(hist.count() === expected)
    assert(hist.select("date").distinct().collect().map(_.getDate(0).toString).toSeq
      === Seq("1998-11-30"))
  }

  test("staging-chain script (DROP + CREATE TEMP + CREATE TABLE AS) with JSON/windows/dialect") {
    Catalog.replaceTable(Tables.read(spark, sfDir, "events"), "rs_ods", "events_src")
    val script =
      """DROP TABLE IF EXISTS stg_user_events;
        |	CREATE TEMP TABLE stg_user_events
        |	SORTKEY(user_id)
        |	DISTKEY(user_id)
        |    AS
        |WITH parsed AS (
        |	SELECT event_id, user_id, event_type, ts,
        |		NULLIF(json_extract_path_text(props, 'k'), '') AS k
        |	FROM rs_ods.events_src
        |),
        |dedup AS (
        |	SELECT *,
        |		COUNT(*) OVER (PARTITION BY user_id) AS total_events,
        |		ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS idx
        |	FROM parsed
        |)
        |SELECT * FROM dedup WHERE idx = 1;
        |
        |DROP TABLE IF EXISTS rs_ods.user_state;
        |CREATE TABLE rs_ods.user_state AS
        |SELECT user_id, event_id, event_type, CAST(k AS INT) AS k, total_events,
        |	datediff(day, ts, current_date) AS days_since_last
        |FROM stg_user_events;""".stripMargin
    val res = new RedshiftScript.Runner(spark, root(), Some("2024-06-01")).run(script)
    assert(res.ok, res.reports.mkString("; "))
    val out = spark.table("rs_ods.user_state")
    assert(out.count() === 15) // one row per user
    assert(out.schema("k").dataType.typeName === "integer")
    // datediff day boundary-crossing vs the pinned date
    val sample = out.filter(col("user_id") === 1).collect()(0)
    assert(sample.getAs[Long]("days_since_last") > 0)
  }

  test("a VERBATIM reference script file runs end-to-end (addon_35up_order_historical.sql)") {
    // the actual file from the reference repo, byte-for-byte — only the
    // tables it names are stood up from fixture data
    val path = java.nio.file.Paths.get(
      "/root/reference/Datawarehouse-ETL/5_master_historical/addon_35up_order_historical.sql")
    assume(java.nio.file.Files.exists(path))
    val script = java.nio.file.Files.readString(path)
    Catalog.ensureDatabase(spark, "master")
    val src = Tables.read(spark, sfDir, "orders").select(
      col("o_orderkey").as("order_id"),
      col("o_custkey").as("customer_id"),
      col("o_orderdate").as("created_date"),
      col("o_orderdate").as("submitted_date"),
      col("o_orderdate").as("paid_date"),
      col("o_orderstatus").as("status"),
      col("o_totalprice").as("order_value"),
      lit("NEW").as("new_recurring"),
      lit("DE").as("store_country"),
      lit("normal").as("customer_type"),
      lit(1).as("order_item_count"),
      lit("de").as("store_code"),
      lit(null).cast("timestamp").as("refund_date"),
      lit(0).as("addon_item_count"),
      lit(0.0).as("addon_price"))
    Catalog.replaceTable(src, "master", "addon_35up_order")
    Catalog.replaceTable(
      src.withColumn("date", lit(null).cast("date")).limit(0),
      "master", "addon_35up_order_historical")

    val expected = src.filter(col("created_date") < lit("1998-12-01").cast("date")).count()
    assert(expected > 0)
    // run TWICE: the reference schedules this daily; rerun must not double
    (1 to 2).foreach { i =>
      val r = new RedshiftScript.Runner(spark, root(), Some("1998-12-01")).run(script)
      assert(r.ok, s"run $i: " + r.reports.filterNot(_.ok).mkString("; "))
      assert(r.reports.map(_.verb) === Seq("BEGIN", "DELETE", "INSERT", "COMMIT"))
    }
    val hist = spark.table("master.addon_35up_order_historical")
    assert(hist.count() === expected)
    assert(hist.select("date").distinct().collect().map(_.getDate(0).toString).toSeq
      === Seq("1998-11-30"))
  }

  test("UPDATE and TRUNCATE verbs") {
    import sqlImplicits._
    Catalog.replaceTable(
      Seq((1, "a", 10.0), (2, "b", 20.0)).toDF("id", "name", "v"), "rs_misc", "tgt")
    val r = new RedshiftScript.Runner(spark, root()).run(
      "UPDATE rs_misc.tgt SET name = 'REDACTED', v = v * 2 WHERE id = 2;")
    assert(r.ok, r.reports.mkString("; "))
    val rows = spark.table("rs_misc.tgt").orderBy("id")
      .collect().map(x => (x.getInt(0), x.getString(1), x.getDouble(2))).toSeq
    assert(rows === Seq((1, "a", 10.0), (2, "REDACTED", 40.0)))
    val r2 = new RedshiftScript.Runner(spark, root()).run("TRUNCATE TABLE rs_misc.tgt;")
    assert(r2.ok)
    assert(spark.table("rs_misc.tgt").count() === 0)
  }

  test("MERGE INTO upserts: matched rows take SET columns, unmatched insert (reference shape)") {
    import sqlImplicits._
    Catalog.replaceTable(
      Seq((1L, "alice", "old-state", "keep-note"), (2L, "bob", "stale", "note2"))
        .toDF("subscription_id", "owner", "current_state", "team_notes"),
      "rs_merge", "retained")
    Catalog.replaceTable(
      Seq((2L, "bob-src", "active", "fresh"), (3L, "carol", "new", "hello"))
        .toDF("subscription_id", "owner", "current_state", "team_notes"),
      "rs_merge", "updates")
    // mirrors last_payment_event.sql:23-45: SET updates SOME columns
    // (owner is NOT in the SET list and must survive), INSERT takes all
    val r = new RedshiftScript.Runner(spark, root()).run(
      """MERGE INTO rs_merge.retained
        |USING rs_merge.updates dcc
        |	ON rs_merge.retained.subscription_id = dcc.subscription_id
        |WHEN MATCHED THEN
        |UPDATE
        |	SET current_state = dcc.current_state,
        |	team_notes = dcc.team_notes
        |WHEN NOT MATCHED THEN INSERT VALUES
        |	(dcc.subscription_id,
        |	dcc."owner",
        |	dcc.current_state,
        |	dcc.team_notes);""".stripMargin)
    assert(r.ok, r.reports.mkString("; "))
    val out = spark.table("rs_merge.retained").orderBy("subscription_id")
      .collect().map(x => (x.getLong(0), x.getString(1), x.getString(2), x.getString(3))).toSeq
    assert(out === Seq(
      (1L, "alice", "old-state", "keep-note"), // untouched
      (2L, "bob", "active", "fresh"),          // SET applied; owner kept
      (3L, "carol", "new", "hello")))          // inserted
  }

  test("DDL CREATE TABLE, ALTER on temp tables, GRANT/ANALYZE no-ops") {
    Catalog.ensureDatabase(spark, "rs_ddl")
    spark.sql("DROP TABLE IF EXISTS rs_ddl.tgt")
    val r = new RedshiftScript.Runner(spark, root()).run(
      """CREATE TEMP TABLE stg_alter AS SELECT 1 AS id, 'x' AS keep_me, 2.5 AS tmp_col;
        |ALTER TABLE stg_alter DROP COLUMN tmp_col;
        |ALTER TABLE stg_alter ADD COLUMN added_at timestamp;
        |ALTER TABLE stg_alter RENAME COLUMN keep_me TO kept;
        |
        |CREATE TABLE rs_ddl.tgt (
        |  id bigint encode az64,
        |  name varchar(64),
        |  amount numeric(18,2),
        |  created_at timestamp,
        |  is_active boolean
        |);
        |INSERT INTO rs_ddl.tgt SELECT id, kept, 12.34, added_at, true FROM stg_alter;
        |GRANT SELECT ON rs_ddl.tgt TO GROUP bi;
        |ANALYZE rs_ddl.tgt;""".stripMargin)
    assert(r.ok, r.reports.mkString("; "))
    assert(r.reports.map(_.verb).count(_.endsWith("(no-op)")) === 2)
    val tgt = spark.table("rs_ddl.tgt")
    assert(tgt.schema.map(f => (f.name, f.dataType.typeName)).toSeq === Seq(
      ("id", "long"), ("name", "string"), ("amount", "decimal(18,2)"),
      ("created_at", "timestamp"), ("is_active", "boolean")))
    val row = tgt.collect()(0)
    assert(row.getLong(0) === 1L && row.getString(1) === "x" &&
      row.getDecimal(2).toString === "12.34" && row.getBoolean(4))
  }

  test("DELETE USING and UPDATE ... FROM (Redshift join-DML forms)") {
    import sqlImplicits._
    Catalog.replaceTable(
      Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)).toDF("id", "state", "v"),
      "rs_jdml", "tgt")
    Catalog.replaceTable(
      Seq((2L, "B2"), (3L, "C2")).toDF("id", "new_state"), "rs_jdml", "upd")
    // UPDATE ... FROM a subquery with WHERE join condition
    val r1 = new RedshiftScript.Runner(spark, root()).run(
      """UPDATE rs_jdml.tgt
        |SET state = u.new_state
        |FROM (SELECT id, new_state FROM rs_jdml.upd WHERE id < 3) u
        |WHERE tgt.id = u.id;""".stripMargin)
    assert(r1.ok, r1.reports.mkString("; "))
    assert(r1.reports.map(_.verb) === Seq("UPDATE FROM"))
    val afterUpd = spark.table("rs_jdml.tgt").orderBy("id")
      .collect().map(x => (x.getLong(0), x.getString(1), x.getDouble(2))).toSeq
    assert(afterUpd === Seq((1L, "a", 10.0), (2L, "B2", 20.0), (3L, "c", 30.0)))
    // DELETE USING (the reference's segment-events incremental shape)
    val r2 = new RedshiftScript.Runner(spark, root()).run(
      "DELETE FROM rs_jdml.tgt USING rs_jdml.upd u WHERE tgt.id = u.id;")
    assert(r2.ok, r2.reports.mkString("; "))
    assert(spark.table("rs_jdml.tgt").collect().map(_.getLong(0)).toSeq === Seq(1L))
  }

  test("DROP-CREATE missing-semicolon idiom, END TRANSACTION, SET no-op, paren INSERT") {
    import sqlImplicits._
    Catalog.ensureDatabase(spark, "rs_idiom")
    spark.sql("DROP TABLE IF EXISTS rs_idiom.made")
    Catalog.replaceTable(Seq((1, "x")).toDF("id", "s"), "rs_idiom", "src")
    val r = new RedshiftScript.Runner(spark, root()).run(
      """SET enable_case_sensitive_identifier TO TRUE;
        |BEGIN;
        |drop table if exists rs_idiom.made
        |create table rs_idiom.made as select id, s from rs_idiom.src;
        |INSERT INTO rs_idiom.made (SELECT id + 1, 'y' FROM rs_idiom.src);
        |END TRANSACTION;""".stripMargin)
    assert(r.ok, r.reports.mkString("; "))
    assert(r.reports.map(_.verb) ===
      Seq("SET (no-op)", "BEGIN", "CREATE TABLE", "INSERT", "COMMIT"))
    assert(spark.table("rs_idiom.made").count() === 2)
  }

  test("UPDATE evaluates all SET expressions against the OLD row (swap idiom)") {
    import sqlImplicits._
    Catalog.replaceTable(
      Seq((1, 10.0, 20.0), (2, 3.0, 4.0)).toDF("id", "a", "b"), "rs_upd", "swap")
    val r = new RedshiftScript.Runner(spark, root()).run(
      "UPDATE rs_upd.swap SET a = b, b = a WHERE id = 1;")
    assert(r.ok, r.reports.mkString("; "))
    val rows = spark.table("rs_upd.swap").orderBy("id")
      .collect().map(x => (x.getInt(0), x.getDouble(1), x.getDouble(2))).toSeq
    // sequential withColumn semantics would give (20.0, 20.0)
    assert(rows === Seq((1, 20.0, 10.0), (2, 3.0, 4.0)))
    // a scalar subquery containing FROM in the SET list must NOT route to
    // the UPDATE ... FROM form
    val r2 = new RedshiftScript.Runner(spark, root()).run(
      "UPDATE rs_upd.swap SET a = (SELECT MAX(b) FROM rs_upd.swap) WHERE id = 2;")
    assert(r2.ok, r2.reports.mkString("; "))
    assert(r2.reports.map(_.verb) === Seq("UPDATE"))
    assert(spark.table("rs_upd.swap").filter(col("id") === 2)
      .collect()(0).getDouble(1) === 10.0)
  }

  test("read-your-writes: a later statement in a transaction sees earlier mutations") {
    import sqlImplicits._
    Catalog.replaceTable(Seq((1, "keep"), (2, "drop")).toDF("id", "s"), "rs_txn", "a")
    Catalog.replaceTable(Seq((99, "old")).toDF("id", "s"), "rs_txn", "b")
    // b's INSERT reads table a, which the same transaction already
    // mutated: the raw-SQL body reads a's staged rows (read-your-writes,
    // as Redshift), while the two-phase commit still writes b against
    // a's pre-commit FILES (swapping a first would yank b's input files
    // mid-commit)
    // the SELECT base-qualifies columns (`a.id`) — the staged rows carry
    // the table's qualified name, so such references keep resolving
    val r = new RedshiftScript.Runner(spark, root()).run(
      """BEGIN;
        |DELETE FROM rs_txn.a WHERE s = 'drop';
        |INSERT INTO rs_txn.b SELECT a.id, a.s FROM rs_txn.a;
        |COMMIT;""".stripMargin)
    assert(r.ok, r.reports.mkString("; "))
    assert(spark.table("rs_txn.a").count() === 1)
    // b gets a's POST-delete rows: old + the one surviving row of a
    assert(spark.table("rs_txn.b").count() === 2)
    val kept = spark.table("rs_txn.b").orderBy("id")
      .collect().map(x => (x.getInt(0), x.getString(1))).toSeq
    assert(kept === Seq((1, "keep"), (99, "old")))
    // a SELECT inside the next transaction also sees the staged state
    val r2 = new RedshiftScript.Runner(spark, root(), stopOnError = false).run(
      """BEGIN;
        |DELETE FROM rs_txn.b WHERE id = 99;
        |SELECT COUNT(*) AS n FROM rs_txn.b;
        |ROLLBACK;""".stripMargin)
    assert(r2.ok, r2.reports.mkString("; "))
    assert(r2.lastSelect.get.collect()(0).getLong(0) === 1) // staged delete visible
    assert(spark.table("rs_txn.b").count() === 2)           // rolled back on disk
  }

  test("a temp table taking a staged table's base name is read by that name") {
    import sqlImplicits._
    Catalog.replaceTable(Seq((1, "keep"), (2, "drop")).toDF("id", "s"), "rs_rc", "t")
    // the DELETE stages rs_rc.t; the CREATE TEMP TABLE then takes its base
    // name — the INSERT's bare `FROM t` must read the USER's temp table,
    // and COMMIT must not drop it. The INSERT's target goes through the
    // overlay, so the final table proves both the temp read and
    // read-your-writes.
    val r = new RedshiftScript.Runner(spark, root()).run(
      """BEGIN;
        |DELETE FROM rs_rc.t WHERE s = 'drop';
        |CREATE TEMP TABLE t AS SELECT 99 AS id, 'tmp' AS s;
        |INSERT INTO rs_rc.t SELECT id, s FROM t;
        |COMMIT;""".stripMargin)
    assert(r.ok, r.reports.mkString("; "))
    val rows = spark.table("rs_rc.t").orderBy("id")
      .collect().map(x => (x.getInt(0), x.getString(1))).toSeq
    assert(rows === Seq((1, "keep"), (99, "tmp")))
    // the user's temp table survived COMMIT's view cleanup
    assert(spark.sessionState.catalog.isTempView(Seq("t")))
    spark.catalog.dropTempView("t")
  }

  test("DROP of a staged table leaves it unreadable in the transaction") {
    import sqlImplicits._
    Catalog.replaceTable(Seq((1, "x"), (2, "y")).toDF("id", "s"), "rs_dv", "t2")
    val runner = new RedshiftScript.Runner(spark, root(), stopOnError = false)
    assert(runner.runStatement("BEGIN").ok)
    assert(runner.runStatement("DELETE FROM rs_dv.t2 WHERE id = 1").ok)
    assert(runner.runStatement("SELECT COUNT(*) AS n FROM rs_dv.t2").ok)
    // DROP removes the staged rows with the table (stale staged rows
    // would keep the dropped table readable)
    assert(runner.runStatement("DROP TABLE rs_dv.t2").ok)
    assert(!runner.runStatement("SELECT COUNT(*) AS n FROM rs_dv.t2").ok)
    assert(runner.runStatement("ROLLBACK").ok)
  }

  test("a failed statement aborts the transaction: COMMIT rolls back (Redshift semantics)") {
    import sqlImplicits._
    Catalog.replaceTable(Seq((1, "x"), (2, "y")).toDF("id", "s"), "rs_abort", "t")
    // the DELETE fails (unknown column); the INSERT after it must NOT
    // execute and COMMIT must roll the overlay back — committing the
    // partial transaction would double rows on the reference's
    // DELETE-yesterday + INSERT-yesterday daily scripts
    val script =
      """BEGIN;
        |DELETE FROM rs_abort.t WHERE no_such_column = 1;
        |INSERT INTO rs_abort.t SELECT id + 10, s FROM rs_abort.t;
        |COMMIT;""".stripMargin
    val r = new RedshiftScript.Runner(spark, root(), stopOnError = false).run(script)
    assert(!r.ok)
    val byVerb = r.reports.map(x => x.verb -> x.ok)
    assert(byVerb(0) === ("BEGIN", true))
    assert(!byVerb(1)._2)                       // DELETE failed
    assert(!byVerb(2)._2)                       // INSERT refused: txn aborted
    assert(r.reports(2).error.get.contains("aborted"))
    assert(byVerb(3)._1 === "COMMIT" && !byVerb(3)._2) // COMMIT rolled back
    assert(r.reports(3).error.get.contains("rolled back"))
    assert(spark.table("rs_abort.t").count() === 2) // unchanged
    // default stopOnError: execution halts at the failure instead
    val r2 = new RedshiftScript.Runner(spark, root()).run(script)
    assert(!r2.ok && r2.reports.size === 2)
    assert(spark.table("rs_abort.t").count() === 2)
  }

  test("a clean trailing transaction commits despite an earlier unrelated failure") {
    import sqlImplicits._
    Catalog.replaceTable(Seq((1, "x"), (2, "y")).toDF("id", "s"), "rs_tail", "t")
    // the bad statement fails OUTSIDE any transaction; the later clean
    // open transaction must still auto-commit at end-of-script (the gate
    // is the transaction's own aborted state, not the whole script's)
    val r = new RedshiftScript.Runner(spark, root(), stopOnError = false).run(
      """UPDATE rs_tail.t SET no_such = 1;
        |BEGIN;
        |DELETE FROM rs_tail.t WHERE id = 2;""".stripMargin)
    assert(!r.ok) // the first statement did fail
    assert(spark.table("rs_tail.t").collect().map(_.getInt(0)).toSeq === Seq(1))
  }

  test("an aborted OPEN transaction at script end rolls back, no temp view left") {
    import sqlImplicits._
    Catalog.replaceTable(Seq((1, "x"), (2, "y")).toDF("id", "s"), "rs_ab2", "t")
    val runner = new RedshiftScript.Runner(spark, root(), stopOnError = false)
    // DELETE stages an overlay, the SELECT reads it, then a failure
    // aborts the txn and the script ENDS without COMMIT/ROLLBACK
    val r = runner.run(
      """BEGIN;
        |DELETE FROM rs_ab2.t WHERE id = 1;
        |SELECT COUNT(*) AS n FROM rs_ab2.t;
        |UPDATE rs_ab2.t SET no_such = 1;""".stripMargin)
    assert(!r.ok)
    // no temp view may survive the script: it would shadow the real
    // table for later queries on the shared session
    assert(!spark.sessionState.catalog.isTempView(Seq("t")))
    assert(spark.table("rs_ab2.t").count() === 2) // rolled back
    // a REUSED runner starts clean: its next transaction must not
    // resurrect the aborted script's staged DELETE at COMMIT
    val r2 = runner.run(
      "BEGIN;\nINSERT INTO rs_ab2.t SELECT 3, 'z';\nCOMMIT;")
    assert(r2.ok, r2.reports.mkString("; "))
    assert(spark.table("rs_ab2.t").count() === 3)
  }

  test("read-your-writes resolves quoted-identifier (backticked) table references") {
    import sqlImplicits._
    Catalog.replaceTable(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), "rs_byw", "order")
    // post-translate the reference's `rs_byw."order"` spells as
    // rs_byw.`order` — the staged read must match that spelling or the
    // in-transaction read silently sees the pre-transaction snapshot
    val r = new RedshiftScript.Runner(spark, root()).run(
      """BEGIN;
        |DELETE FROM rs_byw."order" WHERE id = 1;
        |CREATE TEMP TABLE byw_check AS SELECT COUNT(*) AS n FROM rs_byw."order";
        |COMMIT;""".stripMargin)
    assert(r.ok, r.reports.mkString("; "))
    assert(spark.table("byw_check").collect()(0).getLong(0) === 1L)
    assert(spark.table("rs_byw.`order`").count() === 1)
  }

  test("a failed COMMIT write leaves no orphan __txn staging dirs") {
    import sqlImplicits._
    Catalog.replaceTable(Seq((1L, "x"), (2L, "y")).toDF("id", "s"), "rs_c1", "a")
    Catalog.replaceTable(Seq((1L, "t1")).toDF("k", "v"), "rs_c1", "b")
    Catalog.replaceTable(Seq((1L, "s1"), (1L, "s2")).toDF("k", "v"), "rs_c1", "dup")
    def loc(t: String): String = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(t, Some("rs_c1")))
      .location.getPath
    // overlay `a` stages cleanly; overlay `b` is poisoned (the MERGE
    // uniqueness raise_error fires at materialization) — COMMIT's phase 1
    // writes a's staging dir, then fails on b: BOTH tmp dirs must be
    // cleaned up, not left as orphans next to the tables
    val r = new RedshiftScript.Runner(spark, root(), stopOnError = false).run(
      """BEGIN;
        |DELETE FROM rs_c1.a WHERE id = 1;
        |MERGE INTO rs_c1.b USING rs_c1.dup s ON rs_c1.b.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT VALUES (s.k, s.v);
        |COMMIT;""".stripMargin)
    assert(!r.ok)
    val commitRep = r.reports.find(_.verb == "COMMIT").get
    assert(!commitRep.ok)
    // origin named: the failing table and Spark's error class
    assert(commitRep.error.get.contains("rs_c1.b") &&
      commitRep.error.get.contains("MERGE_CARDINALITY_VIOLATION"), commitRep.error.get)
    assert(!new java.io.File(loc("a") + "__txn").exists())
    assert(!new java.io.File(loc("b") + "__txn").exists())
    assert(spark.table("rs_c1.a").count() === 2) // untouched
    assert(spark.table("rs_c1.b").count() === 1)
  }

  test("a failed END-OF-SCRIPT auto-commit reports failure and resets the runner") {
    import sqlImplicits._
    Catalog.replaceTable(Seq((1L, "t1")).toDF("k", "v"), "rs_ac", "b")
    Catalog.replaceTable(Seq((1L, "s1"), (1L, "s2")).toDF("k", "v"), "rs_ac", "dup")
    val runner = new RedshiftScript.Runner(spark, root())
    // the script ends mid-transaction with a poisoned overlay (the MERGE
    // uniqueness raise_error defers to materialization) — the implicit
    // session-end commit must not throw out of run(): that would leave
    // the overlay registered and inTxn set on a reused runner
    val r = runner.run(
      """BEGIN;
        |MERGE INTO rs_ac.b USING rs_ac.dup s ON rs_ac.b.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT VALUES (s.k, s.v);""".stripMargin)
    assert(!r.ok)
    val commitRep = r.reports.find(_.verb == "COMMIT").get
    assert(!commitRep.ok)
    assert(commitRep.error.get.contains("auto-commit"), commitRep.error.get)
    assert(spark.table("rs_ac.b").count() === 1) // untouched
    assert(!spark.sessionState.catalog.isTempView(Seq("b"))) // overlay gone
    // the reused runner starts clean — no stale overlay, no open txn
    val r2 = runner.run("BEGIN;\nINSERT INTO rs_ac.b SELECT 2, 'z';\nCOMMIT;")
    assert(r2.ok, r2.reports.mkString("; "))
    assert(spark.table("rs_ac.b").count() === 2)
  }

  test("bare ~ rewrites only with a left operand (unary bitwise NOT survives)") {
    val t = RedshiftScript.translate(
      "SELECT a & ~b, ~flags, x ~ '^ab', 'lit' ~ y, z !~ '^c' FROM t")
    assert(t.contains("a & ~b"), t)
    assert(t.contains("~flags"), t)
    assert(t.matches("(?s).*\\bx\\s+rlike\\s+'\\^ab'.*"), t)
    assert(t.matches("(?s).*'lit'\\s+rlike\\s+y.*"), t)
    assert(t.matches("(?s).*\\bz\\s+not rlike\\s+'\\^c'.*"), t)
  }

  test("keyword-preceded bare ~ stays unary (SELECT/WHERE/AND/THEN)") {
    // the keyword's trailing letter is a word char — without the keyword
    // guard these corrupt to `select rlike flags` (wrong answers, no error)
    val t = RedshiftScript.translate(
      "SELECT ~flags, CASE WHEN ok THEN ~mask ELSE ~other END " +
        "FROM t WHERE ~deleted AND ~(f & 1) OR ~g")
    assert(!t.toLowerCase.contains("rlike"), t)
    Seq("~flags", "~mask", "~other", "~deleted", "~(f & 1)", "~g")
      .foreach(s => assert(t.contains(s), s"$s missing in: $t"))
    // CASE … END is a real operand: END ~ 'p' is the binary regex match
    val b = RedshiftScript.translate("SELECT CASE WHEN a THEN b ELSE c END ~ '^x' FROM t")
    assert(b.matches("(?is).*\\bend\\s+rlike\\s+'\\^x'.*"), b)
    // identifiers merely ENDING in a keyword are still operands
    val i = RedshiftScript.translate("SELECT 1 FROM t WHERE colselect ~ '^y'")
    assert(i.matches("(?s).*\\bcolselect\\s+rlike\\s+'\\^y'.*"), i)
  }

  test("translate dialect conversions: SIMILAR TO, operators, types, Presto dates") {
    val t = RedshiftScript.translate(
      "SELECT a FROM t WHERE ean SIMILAR TO 'a.c%' AND x ~ '^[0-9]+$' AND y ~~ '%z%' " +
        "AND b::text = c::character varying AND d = date_add(d, 7) " +
        "AND e < date_diff('day', f, g) AND lv = last_value(v ignore nulls) " +
        "AND ts > timestamp 'epoch'")
    assert(t.contains("rlike '^(?:a\\.c.*)$'"), t)            // . literal, % mapped
    // '^' escapes as a literal EXCEPT in bracket negation
    val neg = RedshiftScript.translate("SELECT 1 WHERE x SIMILAR TO '[^0-9]%' AND y SIMILAR TO 'a^b'")
    assert(neg.contains("rlike '^(?:[^0-9].*)$'"), neg)
    assert(neg.contains("rlike '^(?:a\\^b)$'"), neg)
    assert(t.matches("(?s).*\\brlike\\s+'\\^\\[0-9]\\+\\$'.*"), t) // ~ operator
    assert(t.matches("(?s).*\\blike\\s+'%z%'.*"), t)          // ~~ operator
    // `::text` is left to the session's parser (graft.expressions.GraftParser)
    assert(t.contains("b::text = c::string"), t)
    assert(t.contains("date_add(d, 7)"), t)                 // 2-arg Spark form untouched
    assert(t.contains("datediff_rs('day', f, g)"), t)       // quoted Presto form mapped
    assert(t.contains("last_value(v) ignore nulls"), t)
    assert(t.contains("timestamp '1970-01-01 00:00:00'"), t)
  }

  test("translate leaves dialect tokens inside string literals and comments verbatim") {
    val in =
      "SELECT 'report as of current_date', 'call to_char(x)', -- current_date here\n" +
        "datediff(day, a, current_date) /* sysdate too */ FROM t"
    val t = RedshiftScript.translate(in, currentDate = Some("2024-06-01"))
    assert(t.contains("'report as of current_date'"))
    assert(t.contains("'call to_char(x)'"))
    assert(t.contains("-- current_date here"))
    assert(t.contains("/* sysdate too */"))
    assert(t.contains("datediff_rs('day', a, DATE '2024-06-01')"))
  }

  test("QUALIFY rewrites to a ranked subquery and executes (verbatim reference shapes)") {
    Catalog.replaceTable(Tables.read(spark, sfDir, "events"), "rs_q", "events")
    // shape of 4_dwh_b2b/b2b_po_voucher.sql:14 — no space before Over,
    // mixed case, top-level QUALIFY
    val r1 = new RedshiftScript.Runner(spark, root()).run(
      """SELECT user_id, event_id, ts FROM rs_q.events
        |QUALIFY ROW_NUMBER()Over(PARTITION BY user_id ORDER BY ts DESC)=1;""".stripMargin)
    assert(r1.ok, r1.reports.mkString("; "))
    val top = r1.lastSelect.get
    assert(top.columns.toSeq === Seq("user_id", "event_id", "ts"))
    assert(top.count() === 15) // one row per user
    // shape of 1_ods_core/00_allocation.sql:78 — QUALIFY inside a CTE,
    // spaces inside row_number (), lowercase
    val r2 = new RedshiftScript.Runner(spark, root()).run(
      """WITH latest AS (
        |  SELECT user_id, event_type, ts FROM rs_q.events
        |  qualify row_number () over (partition by user_id order by ts desc) = 1
        |)
        |SELECT COUNT(*) AS n FROM latest;""".stripMargin)
    assert(r2.ok, r2.reports.mkString("; "))
    assert(r2.lastSelect.get.collect()(0).getLong(0) === 15)
    // shape of lost_report_historical_losses.sql:34 — LEAD … IS NULL with
    // a trailing line comment, then ORDER BY after the predicate
    val r3 = new RedshiftScript.Runner(spark, root()).run(
      """SELECT user_id, ts FROM rs_q.events
        |QUALIFY LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts ASC) IS NULL -- last event per user
        |ORDER BY user_id;""".stripMargin)
    assert(r3.ok, r3.reports.mkString("; "))
    assert(r3.lastSelect.get.count() === 15)
    // DISTINCT moves outside: filter first, then de-duplicate
    val r4 = new RedshiftScript.Runner(spark, root()).run(
      """SELECT DISTINCT user_id FROM rs_q.events
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY event_id ORDER BY ts) = 1;""".stripMargin)
    assert(r4.ok, r4.reports.mkString("; "))
    assert(r4.lastSelect.get.columns.toSeq === Seq("user_id"))
    assert(r4.lastSelect.get.count() === 15)
  }

  test("a VERBATIM QUALIFY-bearing reference script runs end-to-end (00_billing_invoices_clerk.sql)") {
    // two QUALIFYs: one inside a CTE after WHERE TRUE, one top-level
    // after a join with alias-qualified COALESCE partition keys — the
    // exact shapes the rewrite has to get right, byte-for-byte from the
    // reference repo
    val path = java.nio.file.Paths.get(
      "/root/reference/Datawarehouse-ETL/1_ods_finance/00_billing_invoices_clerk.sql")
    assume(java.nio.file.Files.exists(path))
    val script = java.nio.file.Files.readString(path)
    val o = Tables.read(spark, sfDir, "orders").limit(200)
    val inv = o.select(
      col("o_orderkey").as("id"),
      concat(lit("N-"), col("o_orderkey")).as("number"),
      (col("o_orderkey") % 5).as("number_sequence"),
      when(col("o_orderkey") % 3 === 0, col("o_custkey")).as("payment_group_id"),
      when(col("o_orderkey") % 3 === 1, col("o_orderkey") * 2).as("movement_id"),
      col("o_orderdate").cast("timestamp").as("created_at"),
      when(col("o_orderkey") % 10 === 0, lit("CREDIT NOTE"))
        .otherwise(lit("INVOICE")).as("type"))
    Catalog.replaceTable(inv, "oltp_clerk", "invoice")
    val p0 = o.select(
      col("o_orderkey").as("invoice_id"),
      when(col("o_orderkey") % 4 === 0, col("o_orderkey") + 1000000).as("payments_id"),
      concat(lit("INV-"), col("o_orderkey")).as("invoice_number"),
      col("o_orderdate").as("invoice_date"),
      concat(lit("https://pdf/"), col("o_orderkey")).as("public_url"),
      col("o_orderkey").cast("string").as("order_number"),
      date_add(col("o_orderdate"), 14).as("invoice_due_date"),
      col("o_custkey").as("customer_id"),
      col("o_orderdate").as("invoice_start"),
      date_add(col("o_orderdate"), 30).as("invoice_end"),
      col("o_totalprice").as("amount_total"),
      col("o_orderdate").cast("timestamp").as("created_at"))
    // a stale and a fresh pdf row per invoice: the CTE QUALIFY must keep
    // only the fresh (/v2) one
    val pdfAll = p0.unionByName(p0
      .withColumn("created_at", col("created_at") + expr("INTERVAL 1 DAY"))
      .withColumn("public_url", concat(col("public_url"), lit("/v2"))))
    Catalog.replaceTable(pdfAll, "oltp_clerk", "invoice_pdf")

    val r = new RedshiftScript.Runner(spark, root()).run(script)
    assert(r.ok, r.reports.filterNot(_.ok).mkString("; "))
    assert(r.reports.map(_.verb) === Seq("DROP", "CREATE TABLE"))
    val out = spark.table("ods_production.billing_invoices_clerk")
    assert(out.columns.toSeq === Seq(
      "invoice_id", "number_", "invoice_sequence", "invoice_number_pdf",
      "invoice_date", "invoice_url", "order_id", "due_date", "payment_id",
      "payment_group_id", "movement_id", "customer_id",
      "billing_period_start", "billing_period_end", "total_invoice_amount"))
    // every surviving pdf row is the fresh one
    assert(out.filter(!col("invoice_url").endsWith("/v2")).count() === 0)
    // CREDIT NOTEs excluded
    assert(out.filter(col("invoice_id") % 10 === 0).count() === 0)
    // final QUALIFY keeps exactly one row per COALESCE key (NULL keys
    // form one window partition, as in Redshift)
    import org.apache.spark.sql.expressions.Window
    val lastPdf = pdfAll
      .withColumn("rn", row_number().over(
        Window.partitionBy(coalesce(col("payments_id"), col("invoice_id")))
          .orderBy(col("created_at").desc)))
      .filter(col("rn") === 1).drop("rn")
    val joined = inv.alias("i")
      .join(lastPdf.alias("pdf"), col("i.id") === col("pdf.invoice_id"))
      .filter(col("i.type") =!= "CREDIT NOTE")
    val expectedRows = joined.select(
      coalesce(col("i.payment_group_id"), col("i.movement_id"), col("pdf.payments_id")).as("k"))
      .distinct().count()
    assert(out.count() === expectedRows)
  }

  test("COPY: the VERBATIM affiliate staging script loads a fixture CSV") {
    // affiliate_everflow_staging.sql writes its COPY without a FROM clause
    // (the orchestration injects the S3 path) — the Runner takes the
    // source path via copyPaths, keyed by target table
    val path = java.nio.file.Paths.get(
      "/root/reference/Datawarehouse-ETL/11_marketing_reporting/Affiliate_Automation/affiliate_everflow_staging.sql")
    assume(java.nio.file.Files.exists(path))
    val script = java.nio.file.Files.readString(path)
    val csv = java.nio.file.Paths.get(tempDir("graft-copy")).resolve("everflow.csv")
    Files.writeString(csv,
      """conversion_id;conversion_unix_timestamp;sub1;status;revenue;country;device_type;event;transaction_id;click_unix_timestamp;sale_amount;coupon_code;order_id;url;currency_id
        |c1;1717200000;s1;approved;12.5;DE;mobile;sale;t1;1717100000;100.0;CODE1;o1;https://x.example/a;EUR
        |c2;1717200001;;pending;0;NL;desktop;sale;t2;1717100001;55.5;;o2;https://x.example/b;EUR
        |""".stripMargin)
    Catalog.ensureDatabase(spark, "staging")
    spark.sql("DROP TABLE IF EXISTS staging.everflow")
    val r = new RedshiftScript.Runner(spark, root(),
      copyPaths = Map("staging.everflow" -> csv.toString)).run(script)
    assert(r.ok, r.reports.filterNot(_.ok).mkString("; "))
    assert(r.reports.map(_.verb) === Seq("DROP", "CREATE TABLE (DDL)", "COPY"))
    val out = spark.table("staging.everflow")
    assert(out.count() === 2)
    val r2 = out.orderBy("conversion_id").collect()
    assert(r2(0).getAs[String]("conversion_id") === "c1")
    assert(r2(0).getAs[String]("sale_amount") === "100.0")
    // EMPTYASNULL: the empty sub1/coupon_code fields land as NULL
    assert(r2(1).getAs[String]("sub1") == null)
    assert(r2(1).getAs[String]("coupon_code") == null)
  }

  test("every VERBATIM affiliate/partnership staging script (DDL + COPY) loads a fixture CSV") {
    val mk = "/root/reference/Datawarehouse-ETL/11_marketing_reporting"
    val scripts = Seq(
      s"$mk/Affiliate_Automation/affiliate_daisycon_staging.sql" -> "staging.daisycon",
      s"$mk/Affiliate_Automation/affiliate_tradedoubler_staging.sql" -> "staging.tradedoubler",
      s"$mk/Affiliate_Automation/affiliate_cj_staging.sql" -> "staging.cj_orders",
      s"$mk/Partnership_Automation/partnership_everflow_staging.sql" -> "staging.partnership_everflow")
    // top-level comma count inside the DDL's column list = column arity,
    // used to generate a matching fixture CSV for each script
    def arity(ddl: String): Int = {
      val body = ddl.substring(ddl.indexOf('(') + 1, ddl.lastIndexOf(')'))
      var depth = 0; var inStr = false; var n = 1
      body.foreach {
        case '\'' => inStr = !inStr
        case '(' if !inStr => depth += 1
        case ')' if !inStr => depth -= 1
        case ',' if !inStr && depth == 0 => n += 1
        case _ => ()
      }
      n
    }
    Catalog.ensureDatabase(spark, "staging")
    scripts.foreach { case (p, table) =>
      val path = java.nio.file.Paths.get(p)
      assume(java.nio.file.Files.exists(path))
      val script = java.nio.file.Files.readString(path)
      val ddl = RedshiftScript.splitStatements(script)
        .find(s => RedshiftScript.classify(s) == "CREATE TABLE (DDL)")
        .getOrElse(fail(s"no DDL statement in $p"))
      val n = arity(ddl)
      assert(n >= 5, s"$table arity $n") // cj_orders is the smallest at 5
      val csv = java.nio.file.Paths.get(tempDir("graft-copy-all")).resolve("data.csv")
      val header = (1 to n).map(i => s"c$i").mkString(";")
      val rows = (1 to 3).map(r => (1 to n).map(i => s"v${r}_$i").mkString(";"))
      Files.writeString(csv, (header +: rows).mkString("", "\n", "\n"))
      spark.sql(s"DROP TABLE IF EXISTS $table")
      val r = new RedshiftScript.Runner(spark, root(),
        copyPaths = Map(table -> csv.toString)).run(script)
      assert(r.ok, s"$table: " + r.reports.filterNot(_.ok).mkString("; "))
      assert(r.reports.map(_.verb).count(_ == "COPY") === 1, s"$table verbs: ${r.reports.map(_.verb)}")
      val out = spark.table(table)
      assert(out.count() === 3, table)
      assert(out.columns.length === n, table)
    }
  }

  test("COPY FROM '<path>' FORMAT AS PARQUET with path remapping") {
    import sqlImplicits._
    Catalog.replaceTable(
      Seq((1L, "a"), (2L, "b")).toDF("id", "s").limit(0), "rs_copy", "pq")
    val dir = tempDir("graft-copy-pq")
    Seq((10L, "x"), (11L, "y")).toDF("id", "s").write.mode("overwrite").parquet(dir)
    // shape of catman/sql/copy_pricing_data.sql:5-8 (s3:// path remapped)
    val r = new RedshiftScript.Runner(spark, root(),
      remapPath = p => p.replace("s3://fixture-bucket/pricing", dir)).run(
      s"""COPY rs_copy.pq
         |FROM 's3://fixture-bucket/pricing'
         |IAM_ROLE 'arn:aws:iam::000000000000:role/ignored'
         |FORMAT AS PARQUET;""".stripMargin)
    assert(r.ok, r.reports.mkString("; "))
    assert(spark.table("rs_copy.pq").orderBy("id").collect().map(_.getLong(0)).toSeq
      === Seq(10L, 11L))
  }

  test("DROP VIEW, ALTER APPEND [FILLTARGET], UNLOAD, quoted \"order\" identifiers") {
    import sqlImplicits._
    // quoted table name that is also a SQL keyword (`master."order"` in
    // the reference's order.sql)
    Catalog.replaceTable(Seq((1L, "a")).toDF("id", "s"), "rs_quot", "order")
    val r0 = new RedshiftScript.Runner(spark, root()).run(
      """TRUNCATE TABLE rs_quot."order";
        |INSERT INTO rs_quot."order" SELECT 7, 'z';""".stripMargin)
    assert(r0.ok, r0.reports.mkString("; "))
    assert(spark.table("rs_quot.`order`").collect().map(_.getLong(0)).toSeq === Seq(7L))
    // DROP VIEW IF EXISTS (~120 statements in the reference corpus)
    Catalog.ensureDatabase(spark, "rs_vw")
    val r1 = new RedshiftScript.Runner(spark, root()).run(
      """CREATE OR REPLACE VIEW rs_vw.v_top AS(SELECT id FROM rs_quot."order");
        |DROP VIEW IF EXISTS rs_vw.v_top;
        |DROP VIEW IF EXISTS rs_vw.v_never_existed;""".stripMargin)
    assert(r1.ok, r1.reports.mkString("; "))
    assert(r1.reports.map(_.verb) === Seq("CREATE VIEW", "DROP VIEW", "DROP VIEW"))
    // ALTER APPEND moves rows (the *_on_failure.sql recovery scripts);
    // FILLTARGET nulls the missing column
    Catalog.replaceTable(Seq((1L, "x", 5.0)).toDF("id", "s", "extra"), "rs_app", "tgt")
    Catalog.replaceTable(Seq((2L, "y")).toDF("id", "s"), "rs_app", "old")
    val r2 = new RedshiftScript.Runner(spark, root()).run(
      "ALTER TABLE rs_app.tgt APPEND FROM rs_app.old FILLTARGET;")
    assert(r2.ok, r2.reports.mkString("; "))
    val app = spark.table("rs_app.tgt").orderBy("id").collect()
    assert(app.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(app(1).isNullAt(2)) // filled
    assert(spark.table("rs_app.old").count() === 0) // source emptied
    // UNLOAD (sku_market_valuation.sql shape, TO injected)
    val out = tempDir("graft-unload") + "/export"
    // the query ends in an ''-escaped literal — the UNLOAD capture must
    // not truncate at the escaped quote before the closing paren
    val r3 = new RedshiftScript.Runner(spark, root()).run(
      s"""UNLOAD ('SELECT id, coalesce(s, '''') AS s FROM rs_app.tgt')
         |TO '$out'
         |IAM_ROLE 'arn:aws:iam::000000000000:role/ignored'
         |PARALLEL OFF ALLOWOVERWRITE FORMAT AS PARQUET MAXFILESIZE 2048 MB;""".stripMargin)
    assert(r3.ok, r3.reports.mkString("; "))
    assert(spark.read.parquet(out).count() === 2)
  }

  test("MERGE with a non-unique source fails instead of multiplying rows") {
    import sqlImplicits._
    Catalog.replaceTable(
      Seq((1L, "t1")).toDF("k", "v"), "rs_mdup", "tgt")
    Catalog.replaceTable(
      Seq((1L, "s1"), (1L, "s2")).toDF("k", "v"), "rs_mdup", "src")
    val r = new RedshiftScript.Runner(spark, root()).run(
      """MERGE INTO rs_mdup.tgt USING rs_mdup.src s ON rs_mdup.tgt.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT VALUES (s.k, s.v);""".stripMargin)
    assert(!r.ok)
    assert(r.reports.head.error.get.contains("MERGE_CARDINALITY_VIOLATION"))
    assert(spark.table("rs_mdup.tgt").count() === 1) // target untouched
  }

  test("UPDATE ... FROM with a multi-matching source fails instead of multiplying rows") {
    Catalog.replaceTable(
      spark.sql("SELECT k, CAST(v AS DOUBLE) AS v FROM VALUES (1, 10.0), (2, 20.0) AS t(k, v)"),
      "rs_updg", "tgt")
    spark.sql("SELECT * FROM VALUES (1, 1.0), (1, 2.0) AS t(k, nv)")
      .createOrReplaceTempView("updg_src")
    val r = new RedshiftScript.Runner(spark, root())
      .run("UPDATE rs_updg.tgt SET v = s.nv FROM updg_src s WHERE rs_updg.tgt.k = s.k;")
    assert(!r.ok)
    assert(r.reports.exists(_.error.exists(_.contains("MERGE_CARDINALITY_VIOLATION"))),
      r.reports.mkString("; "))
    // the auto-commit failure cleared the overlay — target untouched
    assert(spark.table("rs_updg.tgt").count() === 2)
    // a deduped 1:1 source still updates cleanly
    spark.sql("SELECT * FROM VALUES (1, 3.0) AS t(k, nv)")
      .createOrReplaceTempView("updg_src2")
    val ok = new RedshiftScript.Runner(spark, root())
      .run("UPDATE rs_updg.tgt SET v = s.nv FROM updg_src2 s WHERE rs_updg.tgt.k = s.k;")
    assert(ok.ok, ok.reports.mkString("; "))
    assert(spark.table("rs_updg.tgt").filter(col("k") === 1)
      .collect()(0).getDouble(1) === 3.0)
  }

  test("UPDATE edge cases: _from columns, commented FROM, string literals, unknown columns") {
    import sqlImplicits._
    Catalog.replaceTable(
      Seq((1, "2020-06-01", "x"), (2, "2019-01-01", "y"))
        .toDF("id", "valid_from", "note"), "rs_edge", "t")
    // a snake_case *_from column must not route to the UPDATE..FROM path
    val r1 = new RedshiftScript.Runner(spark, root()).run(
      "UPDATE rs_edge.t SET note = 'new' WHERE valid_from > '2020-01-01';")
    assert(r1.ok, r1.reports.mkString("; "))
    assert(r1.reports.map(_.verb) === Seq("UPDATE"))
    assert(spark.table("rs_edge.t").filter(col("id") === 1)
      .collect()(0).getString(2) === "new")
    // FROM inside an inline comment must not route either
    val r2 = new RedshiftScript.Runner(spark, root()).run(
      "UPDATE rs_edge.t SET note = 'c' -- copied FROM legacy\n WHERE id = 2;")
    assert(r2.ok, r2.reports.mkString("; "))
    assert(r2.reports.map(_.verb) === Seq("UPDATE"))
    // alias rewriting must not corrupt string literals containing "t."
    Catalog.replaceTable(Seq((1, "s1")).toDF("id", "v"), "rs_edge", "src")
    val r3 = new RedshiftScript.Runner(spark, root()).run(
      "UPDATE rs_edge.t SET note = 'see t.note' FROM rs_edge.src s WHERE t.id = s.id;")
    assert(r3.ok, r3.reports.mkString("; "))
    assert(spark.table("rs_edge.t").filter(col("id") === 1)
      .collect()(0).getString(2) === "see t.note")
    // unknown SET column fails loudly instead of a silent no-op
    val r4 = new RedshiftScript.Runner(spark, root()).run(
      "UPDATE rs_edge.t SET no_such_col = 1;")
    assert(!r4.ok)
    assert(r4.reports.head.error.get.contains("UNRESOLVED_COLUMN") &&
      r4.reports.head.error.get.contains("no_such_col"), r4.reports.head.error.get)
    // ALTER ... ADD CONSTRAINT is a recorded no-op, not a failure
    val r5 = new RedshiftScript.Runner(spark, root()).run(
      "ALTER TABLE rs_edge.t ADD CONSTRAINT pk PRIMARY KEY (id);")
    assert(r5.ok, r5.reports.mkString("; "))
    assert(r5.reports.map(_.verb) === Seq("ALTER CONSTRAINT (no-op)"))
  }

  test("ROLLBACK discards staged mutations") {
    import sqlImplicits._
    Catalog.replaceTable(Seq((1, "keep")).toDF("id", "s"), "rs_misc", "rb")
    val r = new RedshiftScript.Runner(spark, root()).run(
      "BEGIN; DELETE FROM rs_misc.rb; ROLLBACK;")
    assert(r.ok)
    assert(spark.table("rs_misc.rb").count() === 1)
  }

  test("verb coverage over the FULL reference corpus: every .sql file, every statement") {
    val root = java.nio.file.Paths.get("/root/reference")
    assume(java.nio.file.Files.exists(root))
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".sql") && java.nio.file.Files.isRegularFile(p))
      .toSeq
    assert(files.size > 900) // the reference's ~1,300 scripts
    val verbs = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    val unsupportedStmts = scala.collection.mutable.ListBuffer.empty[(String, String)]
    var total = 0
    files.foreach { f =>
      val txt = new String(java.nio.file.Files.readAllBytes(f), java.nio.charset.StandardCharsets.UTF_8)
      RedshiftScript.splitStatements(txt).foreach { st =>
        total += 1
        val v = RedshiftScript.classify(st)
        verbs(v) += 1
        if (v.startsWith("UNSUPPORTED"))
          unsupportedStmts += ((f.getFileName.toString,
            RedshiftScript.stripLeadingComments(st).replaceAll("\\s+", " ")))
      }
    }
    // Every unrecognized statement must fall into a NAMED defect bucket —
    // all of them defects of the committed reference text, not gaps in
    // the interpreter. An unexplained statement fails the test.
    def bucket(s: String): String = {
      val up = s.trim.toUpperCase
      if (up.matches("(?s)^(WHERE|AND|OR|ON|EXCEPT|\\)|,).*") ||
        up.matches("(?s)^\\w+\\s*,.*"))
        // psql/Athena fragment files the orchestration string-concatenates
        // (bare WHERE/AND continuations, `) SELECT …` tails, column lists)
        "fragment-continuation"
      else if (up.startsWith("AS WITH"))
        "fragment-continuation" // file begins mid-CTAS (header lost)
      else if (up.startsWith("SORTKEY"))
        "fragment-continuation" // CTAS split from its CREATE header
      else if (up.startsWith("#"))
        "mysql-hash-comments" // '#' comments — not Redshift SQL at all
      else if (up.matches("(?s)^DROP\\s+TABLE\\s+IF\\s+EXISTS\\s+TABLE\\b.*"))
        "malformed-double-table-keyword"
      else if (up.matches("(?s)^DELETE\\s+FROM\\s+WHERE\\b.*"))
        "malformed-missing-delete-target"
      else if (up.startsWith("INSERT") && s.contains("/*"))
        // 00_subscription_discount_new_infra.sql: the doc comment after
        // INSERT INTO is not closed until line 51, swallowing the query's
        // entire WITH clause — the body starts mid-CTE on Redshift too
        "block-comment-swallows-query-head"
      else "UNEXPLAINED"
    }
    val buckets = unsupportedStmts.groupBy(p => bucket(p._2))
    buckets.toSeq.sortBy(-_._2.size).foreach { case (b, ss) =>
      info(f"  $b%-32s ${ss.size}")
      ss.take(2).foreach { case (fn, s) => info(s"    $fn: ${s.take(160)}") }
    }
    assert(buckets.getOrElse("UNEXPLAINED", Nil).isEmpty,
      buckets.getOrElse("UNEXPLAINED", Nil).map(p => s"${p._1}: ${p._2.take(200)}").mkString("\n"))
    val unsupported = unsupportedStmts.size
    val rate = 1.0 - unsupported.toDouble / total
    info(f"statements=$total recognized=${(rate * 100)}%.2f%% unexplained=0")
    verbs.toSeq.sortBy(-_._2).foreach { case (v, n) => info(f"  $v%-28s $n") }
    // PINNED FLOOR (mirrors the ≥95% body-parse floor in
    // ParseCoverageSpec): ≥99.5% of the corpus's 5,972 statements map to
    // an executable verb, and 100% of the remainder is hand-classified
    // broken-in-reference text (asserted bucket-by-bucket above).
    assert(rate >= 0.995, f"recognition rate ${rate * 100}%.2f%%")
    assert(unsupported <= 25, s"unsupported grew: $unsupported")
  }

  test("translate: quoted EXTRACT unit, AT TIME ZONE, agg IGNORE NULLS, type spellings") {
    val t = RedshiftScript.translate(
      "SELECT extract('epoch' from ts), current_timestamp at time zone 'CET', " +
        "avg(x ignore nulls) over (partition by k), a::bool, b::bpchar, " +
        "c::timestamp(0), 'now'::text::timestamp with time zone, d::varchar(max), " +
        "e isnull, f notnull FROM t")
    // EPOCH is not a Spark extract field (INVALID_EXTRACT_FIELD) — the
    // quoted unit unquotes and then routes through the dialect form
    assert(t.contains("date_part_rs('epoch', ts)"))
    // TIMESTAMPTZ operand → the zone's local; a naive column is
    // interpreted IN the zone (to UTC); cast chains ride along
    assert(t.contains("convert_timezone('CET', current_timestamp)"))
    val naive = RedshiftScript.translate(
      "SELECT created_at::timestamp AT TIME ZONE 'CET', ts AT TIME ZONE 'MST' FROM t")
    assert(naive.contains("to_utc_timestamp(created_at::timestamp, 'CET')"), naive)
    assert(naive.contains("to_utc_timestamp(ts, 'MST')"))
    assert(t.contains("avg(x) over"))
    // the type names Spark's visitor rejects are left to the session's
    // parser (graft.expressions.GraftParser; RedshiftSpellingSpec runs them)
    assert(t.contains("a::bool, b::bpchar, c::timestamp(0),"), t)
    // postgres current-date idiom: Spark's CAST('now' AS TIMESTAMP) is
    // NULL, so the literal form maps to the function
    assert(t.contains("current_timestamp,"))
    assert(t.contains("d::string"))
    assert(t.contains("e  is null "))
    assert(t.contains("f  is not null "))
    // multiline EXTRACT with the unit on its own line (18_dm_finance shape)
    val m = RedshiftScript.translate("SELECT EXTRACT('Month'\nFROM\n  sh.date) + 1 FROM t")
    assert(m.contains("extract(Month"))
    // ::boolean must not double-rewrite
    assert(RedshiftScript.translate("SELECT a::boolean FROM t").contains("a::boolean"))
  }

  test("translate: Tableau (col AS alias) parens, dangling commas, glued GRANT tail") {
    val t = RedshiftScript.translate(
      "SELECT (committed_sub_value as additional_committed) as committed, cast(x as int)")
    assert(t.contains("(committed_sub_value) as committed"))
    assert(t.contains("cast(x as int)")) // cast is NOT stripped
    // a multiline cast beyond the lookbehind bound is saved by the
    // type-name check: cast targets are always types, Tableau aliases never
    val ml = RedshiftScript.translate("SELECT CAST\n            (order_id AS varchar) FROM t")
    assert(ml.toLowerCase.contains("(order_id as varchar)"), ml) // cast kept
    // dangling comma before FROM — also across a comment line
    val d = RedshiftScript.translate(
      "SELECT a, b, --total revenue net due\nFROM t")
    assert(d.matches("(?s).*b,?\\s*--total revenue net due\\s*FROM t.*")
      && !d.contains("b,"), d)
    val d2 = RedshiftScript.translate("SELECT x, (SELECT max(y), FROM u) FROM t")
    assert(!d2.contains("max(y),"))
    // glued GRANT tail is stripped…
    val g = RedshiftScript.translate(
      "SELECT a FROM t\nGRANT SELECT ON schema.tbl TO tableau")
    assert(!g.toLowerCase.contains("grant"))
    // …but a commented-out GRANT block survives (and so does the text after)
    val gc = RedshiftScript.translate(
      "SELECT a FROM (\n/*\nGRANT SELECT ON x TO y;\n*/\nSELECT 1 AS a\n) s")
    assert(gc.contains("GRANT SELECT ON x TO y"))
    assert(gc.contains("SELECT 1"))
  }

  test("advice r6: DELETE text in literals, table-ref parens, comment-aware splitTop") {
    // a WITH…SELECT whose string literal merely MENTIONS a DELETE FROM …
    // USING must stay a SELECT, not become a destructive staged delete
    val lit = "WITH x AS (SELECT 1 AS a) SELECT a, " +
      "'DELETE FROM t USING u WHERE 1=1' AS note FROM x WHERE a = 1"
    assert(RedshiftScript.classify(lit) == "SELECT")
    // …same for a comment
    val cmt = "WITH x AS (SELECT 1 AS a)\n-- DELETE FROM old USING stage WHERE junk\nSELECT a FROM x WHERE a = 1"
    assert(RedshiftScript.classify(cmt) == "SELECT")
    // a DELETE inside the CTE's parens (depth > 0) is not the statement verb
    val real = "WITH dups AS (SELECT id FROM src) DELETE FROM tgt USING dups d WHERE tgt.id = d.id"
    assert(RedshiftScript.classify(real) == "DELETE USING")
    // parenthesized TABLE references keep their alias — stripping it would
    // orphan later a.col references
    val t = RedshiftScript.translate(
      "SELECT a.c, x.d FROM (schema1.tbl AS a) JOIN (t2 AS x) ON a.id = x.id")
    assert(t.contains("tbl AS a"), t)
    assert(t.contains("t2 AS x"), t)
    // splitTop: an apostrophe inside a line comment must not flip the
    // string state and mis-split the remaining items
    val parts = RedshiftScript.splitTop("a -- it's a note\n, b, c")
    assert(parts.size == 3, parts)
    assert(parts(1) == "b" && parts(2) == "c")
  }

  test("advice r8: literal-safe qualifier collapse, agg-head breadth, json_serialize, TIMEZONE direction") {
    // (1) runStatement's doubled-qualifier collapse must not reach into
    // string literals: a version string / IP / dotted path with an x.x.y
    // triple passes through verbatim …
    val r = new RedshiftScript.Runner(spark, root())
    assert(r.run(
      "CREATE TEMP TABLE adv8_lit AS SELECT '1.1.2' AS ver, '10.10.0.1' AS ip, 'a.a.b' AS p;").ok)
    val row = spark.table("adv8_lit").collect().head
    assert(row.getString(0) == "1.1.2", row)
    assert(row.getString(1) == "10.10.0.1")
    assert(row.getString(2) == "a.a.b")
    // … while a doubled qualifier on a DML target still collapses
    import sqlImplicits._
    Catalog.replaceTable(Seq((1, "x")).toDF("id", "name"), "adv8s", "tgt")
    val r2 = new RedshiftScript.Runner(spark, root()).run(
      "UPDATE adv8s.adv8s.tgt SET name = 'y' WHERE id = 1;")
    assert(r2.ok, r2.reports.mkString("; "))
    assert(spark.table("adv8s.tgt").collect().head.getString(1) == "y")

    // (2) SELECT-* + ordinal GROUP BY: a non-core aggregate groups, a
    // varchar cast does not (the "Redshift shape: SELECT * with GROUP BY
    // ordinals …" case)

    // (3) json_serialize: identity ONLY over the already-stringified
    // SUPER navigation rewriteSuperPaths emits; a genuine variant operand
    // serializes for real via to_json
    val js = RedshiftScript.translate(
      "WITH l AS (SELECT JSON_PARSE(fields) AS f FROM src) " +
        "SELECT json_serialize(f.\"productIDs\".en)::text AS ids, " +
        "JSON_SERIALIZE(raw_super) AS s2 FROM l")
    assert(js.contains("(CAST(variant_get(f, '$.productIDs.en') AS STRING))"), js)
    assert(!js.toLowerCase.contains("json_serialize_rs(cast(variant_get"), js)
    assert(js.toLowerCase.contains("json_serialize_rs(raw_super)"), js)

    // (4) prefix TIMEZONE('tz', x) splits by operand type like AT TIME
    // ZONE: timestamptz-typed operands convert TO the zone; a naive
    // column is interpreted AS the zone → UTC (inverse sign)
    val tz = RedshiftScript.translate(
      "SELECT TIMEZONE('US/Eastern', timestamptz(current_timestamp)) AS a, " +
        "TIMEZONE('Europe/Berlin', created_at) AS b FROM t")
    assert(tz.contains("convert_timezone('US/Eastern', timestamp(current_timestamp))"), tz)
    assert(tz.contains("timezone_rs('Europe/Berlin', created_at)"), tz)
    // live: Berlin winter local noon is 11:00 UTC — convert_timezone
    // ('Europe/Berlin', …) would have said 13:00 local instead
    val u = spark.sql(
      "SELECT timezone_rs('Europe/Berlin', timestamp'2026-01-15 12:00:00') AS u")
      .collect().head.getTimestamp(0).toString
    assert(u.startsWith("2026-01-15 11:00:00"), u)
  }

  test("correlated ORDER BY + LIMIT 1 rewrites to min_by/max_by and executes") {
    // the 00_allocation.sql:251-258 shape: latest warehouse code
    // at-or-before the allocation, nearest by minute distance
    limit1Fixtures()
    val df = spark.sql(RedshiftScript.translate(
      """SELECT a.asset_id,
        |  coalesce(null, (select warehouse from cl1_h h
        |    where a.asset_id = h.asset_id
        |    and date_trunc('day', a.allocated_at::timestamp) >= date_trunc('day', h.created_date::timestamp)
        |    order by datediff('minute', h.created_date::timestamp, a.allocated_at::timestamp) asc
        |    limit 1)) as warehouse
        |FROM cl1_a a""".stripMargin))
    // datediff(inner, outer) ASC ⇒ max_by inner
    val picks = df.queryExecution.analyzed.collectWithSubqueries { case p =>
      p.expressions.flatMap(_.collect {
        case e: org.apache.spark.sql.catalyst.expressions.aggregate.MaxMinBy => e.prettyName
      })
    }.flatten
    assert(picks === Seq("max_by"))
    val rows = df.collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(rows === Map(1 -> "wh_late", 2 -> "wh_only", 3 -> null))
  }

  test("translate: double-quoted identifiers containing -- are not comments") {
    val t = RedshiftScript.translate("""SELECT x AS "1-->2", y AS "a--b" FROM t""")
    assert(t.contains("`1-->2`"))
    assert(t.contains("`a--b`"))
  }

  test("LISTAGG DISTINCT ordered by another column rewrites and executes") {
    // the native listagg only orders by the DISTINCT argument itself —
    // the reference orders distinct event names by their timestamps
    // (60_00_grover_card_identification.sql:17-18)
    spark.sql("SELECT * FROM VALUES (1,'open','2024-01-03'), (1,'close','2024-01-01'), " +
      "(1,'open','2024-01-05'), (1,'ship','2024-01-02') AS t(id, status, ts)")
      .createOrReplaceTempView("la_src")
    val sql = "SELECT id, listagg(distinct status, '->' ) " +
      "within group (order by ts asc) AS journey FROM la_src GROUP BY id"
    val out = spark.sql(RedshiftScript.translate(sql)).collect()
    // each value ordered by its MINIMUM ts: close@01, ship@02, open@03
    assert(out(0).getString(1) === "close->ship->open")
    // …and the same-column form stays on the native listagg path
    val native = RedshiftScript.translate(
      "SELECT listagg(distinct v, ',') within group (order by v) FROM t GROUP BY 1")
    assert(native.contains("listagg"))
  }

  test("SUPER/PartiQL dot paths: JSON_PARSE-bound aliases navigate via get_json_object") {
    val t = RedshiftScript.translate(
      """SELECT c."app"."build"::VARCHAR AS app_build,
        |  COALESCE(c."page"."path", p."path")::VARCHAR AS page_path,
        |  t2."arr"[0] AS first_el,
        |  m."order".x AS mixed
        |FROM (SELECT
        |  CASE WHEN IS_VALID_JSON(ctx) THEN JSON_PARSE(ctx) ELSE NULL END AS c,
        |  CASE WHEN IS_VALID_JSON(props) THEN JSON_PARSE(NULLIF(props,'nan')) ELSE NULL END AS p,
        |  JSON_PARSE(arrcol) AS t2, JSON_PARSE(os) AS m
        |FROM raw)""".stripMargin)
    assert(t.contains("CAST(variant_get(c, '$.app.build') AS STRING)::VARCHAR"))
    assert(t.contains("coalesce") || t.contains("COALESCE"))
    assert(t.contains("variant_get(p, '$.path')"))
    assert(t.contains("variant_get(t2, '$.arr[0]')"))
    assert(t.contains("variant_get(m, '$.order.x')"))
    // JSON_PARSE becomes the one-parse-per-row variant materialization;
    // a non-JSON alias is untouched
    assert(t.contains("try_parse_json("))
    assert(!t.toLowerCase.contains("json_parse(ctx)"))
    assert(RedshiftScript.translate("""SELECT s."timestamp" FROM master.orders s""")
      .contains("s.`timestamp`"))
  }

  test("SUPER navigation parses ONCE per row: the variant stays a materialized column") {
    spark.range(10).selectExpr("concat('{\"a\":', id, '}') AS ctx")
      .createOrReplaceTempView("super_raw")
    val sql = RedshiftScript.translate(
      """SELECT c."a"."b"::VARCHAR AS f1, c."a"."c"::VARCHAR AS f2,
        |  c."d"::VARCHAR AS f3, c."e"::INT AS f4
        |FROM (SELECT CASE WHEN IS_VALID_JSON(ctx) THEN JSON_PARSE(ctx) ELSE NULL END AS c
        |      FROM super_raw)""".stripMargin)
    val plan = spark.sql(sql).queryExecution.optimizedPlan.toString
    // four navigations, ONE parse: CollapseProject must not inline the
    // parse into every variant_get reference (30+ re-parses per row in
    // the segment scripts otherwise — the idiom q51 exists to kill)
    assert("parseJson".r.findAllIn(plan).size === 1, plan)
    assert("variant_get".r.findAllIn(plan).size === 4, plan)
  }

  test("PartiQL array unnest (LEFT JOIN alias.path AS items ON TRUE) explodes laterally") {
    spark.sql("""SELECT * FROM VALUES
      ('lp1', '{"pageContent": {"en": [{"sys":{"id":"e1"}},{"sys":{"id":"e2"}}]}}'),
      ('lp2', '{"pageContent": {"en": [{"sys":{"id":"e3"}}]}}')
      AS t(slug, fields)""").createOrReplaceTempView("contentful_src")
    // the contentful_campaigns.sql:16-38 shape: json_parse alias + unnest join
    val sql =
      """WITH cte AS (
        |  SELECT *, json_parse(fields) AS f FROM contentful_src
        |)
        |SELECT slug, items.sys.id::text AS link_entry_id
        |FROM cte t
        |LEFT JOIN t.f."pageContent".en AS items ON TRUE""".stripMargin
    val out = spark.sql(RedshiftScript.translate(sql))
      .collect().map(r => (r.getString(0), r.getString(1))).sortBy(identity)
    assert(out.toSeq === Seq(("lp1", "e1"), ("lp1", "e2"), ("lp2", "e3")))
  }

  test("a VERBATIM LISTAGG reference script runs end-to-end (order_manual_review_previous_order_history.sql)") {
    val path = java.nio.file.Paths.get(
      "/root/reference/Datawarehouse-ETL/1_ods_risk/order_manual_review_previous_order_history.sql")
    assume(java.nio.file.Files.exists(path))
    val script = java.nio.file.Files.readString(path)
    import spark.implicits._
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    // customer 1 has a MANUAL REVIEW order with one related order in the
    // 5-day window (product name carries a `"` to exercise the REPLACE);
    // customer 2's lone order joins nothing and must drop out
    val orders = Seq(
      ("A", "MANUAL REVIEW", ts("2024-06-01 10:00:00"), ts("2024-06-01 11:00:00"),
        "iPhone", "12", "1", 1L),
      ("B", "PAID", ts("2024-05-30 09:00:00"), null.asInstanceOf[java.sql.Timestamp],
        "MacBook \"Pro\"", "6", "2", 1L),
      ("C", "MANUAL REVIEW", ts("2024-06-01 08:00:00"), ts("2024-06-01 09:00:00"),
        "iPad", "3", "1", 2L)
    ).toDF("order_id", "status", "created_date", "submitted_date",
      "ordered_products", "ordered_plan_durations", "ordered_quantities", "customer_id")
    Catalog.replaceTable(orders, "ods_production", "order")
    val layout = root()
    val res = new RedshiftScript.Runner(spark, layout, Some("2024-06-15")).run(script)
    assert(res.ok, res.reports.filterNot(_.ok).mkString("; "))
    val out = spark.table("ods_production.order_manual_review_previous_order_history").collect()
    assert(out.length === 1)
    assert(out(0).getString(0) === "A")
    val agg = out(0).getString(1)
    assert(agg.startsWith("[{") && agg.endsWith("}]"))
    assert(agg.contains("\"related_order_id\": \"B\"")) // LISTAGG payload
    assert(agg.contains("MacBook Pro")) // quote stripped by REPLACE
    assert(agg.contains("2024-06-15")) // COALESCE(submitted_at, pinned current_date)
    // the intermediate table was dropped by the script's last statement
    assert(!spark.catalog.tableExists("ods_production.order_previous_order_history"))
    // rerun is idempotent (full CTAS refresh)
    val res2 = new RedshiftScript.Runner(spark, layout, Some("2024-06-15")).run(script)
    assert(res2.ok)
    assert(spark.table("ods_production.order_manual_review_previous_order_history").count() === 1)
  }

  test("alias-in-WHERE substitution: Redshift lateral aliases resolve in predicates") {
    // qualified names, literals and ORDER BY are pinned in the `la_` cases below
    spark.sql("SELECT * FROM VALUES (1, 5), (2, 9) AS t(k, v)")
      .createOrReplaceTempView("aw_src")
    // the analyzer resolves the alias: one spark.sql, no repair pass
    assert(spark.sql("SELECT v * 2 AS doubled FROM aw_src WHERE doubled > 10")
      .collect().map(_.getInt(0)).toSeq === Seq(18))
    val r = new RedshiftScript.Runner(spark,
      tempDir("graft-aw"))
      .run("SELECT v * 2 AS doubled FROM aw_src WHERE doubled > 10;")
    assert(r.ok, r.reports.mkString("; "))
    assert(r.lastSelect.get.collect().map(_.getInt(0)).toSeq === Seq(18))
    // …and inside a window spec
    val rw = new RedshiftScript.Runner(spark,
      tempDir("graft-aw2"))
      .run("SELECT k, v * 2 AS dd, ROW_NUMBER() OVER (PARTITION BY dd ORDER BY k) AS rn FROM aw_src;")
    assert(rw.ok, rw.reports.mkString("; "))
    assert(rw.lastSelect.get.count() === 2)
  }

  // Redshift lateral aliases, each shape pinned at the Runner against the
  // same query nested by hand. `la_src` has source columns named like some
  // of the aliases (`v`, `created_at`), `la_hist` feeds the correlated
  // subqueries and `la_profile` has the rebuild mart's input columns.
  private def lateralFixtures(): Unit = {
    spark.sql(
      """SELECT * FROM VALUES
        |  (1, 'a', 5, TIMESTAMP '2024-06-03 10:00:00'),
        |  (2, 'a', 9, TIMESTAMP '2024-06-05 11:00:00'),
        |  (3, 'b', 2, TIMESTAMP '2024-06-10 09:00:00'),
        |  (4, 'b', 7, TIMESTAMP '2024-06-12 12:00:00'),
        |  (5, 'c', 4, TIMESTAMP '2024-06-04 08:00:00'),
        |  (6, 'a', 1, TIMESTAMP '2024-06-11 07:00:00')
        |  AS t(k, g, v, created_at)""".stripMargin).createOrReplaceTempView("la_src")
    spark.sql("SELECT * FROM VALUES (1, 3), (1, 6), (2, 8), (3, 1), (4, 10), (4, 2) AS t(k, w)")
      .createOrReplaceTempView("la_hist")
    spark.sql(
      """SELECT * FROM VALUES
        |  (1, 4L, 10.5D, TIMESTAMP '2024-06-14 10:00:00', 2L),
        |  (2, 2L, 3.25D, TIMESTAMP '2024-06-14 11:00:00', 2L),
        |  (3, 5L, 20.0D, TIMESTAMP '2024-06-13 09:00:00', 1L),
        |  (4, 1L, 7.0D, TIMESTAMP '2024-06-14 08:00:00', 1L)
        |  AS t(user_id, lifetime_events, lifetime_value, last_seen, last_day_events)""".stripMargin)
      .createOrReplaceTempView("la_profile")
  }

  /** Runs `script` and asserts its last SELECT equals `nested`, the same
    * query with every lateral alias nested into a derived table by hand.
    */
  private def assertSameAsNested(
      script: String, nested: String, ordered: Boolean = false): RedshiftScript.ScriptResult = {
    lateralFixtures()
    val r = new RedshiftScript.Runner(spark, root()).run(script)
    assert(r.ok, r.reports.filterNot(_.ok).mkString("; "))
    assertSameRows(r.lastSelect.get, spark.sql(RedshiftScript.translate(nested)), ordered)
    r
  }

  private def assertSameRows(
      got: org.apache.spark.sql.DataFrame, want: org.apache.spark.sql.DataFrame,
      ordered: Boolean = false): Unit = {
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] = {
      val s = df.collect().toSeq.map(_.toSeq.mkString("|"))
      if (ordered) s else s.sorted
    }
    assert(got.columns.toSeq === want.columns.toSeq)
    assert(rows(got) === rows(want))
  }

  test("q62's and the rebuild mart's lateral aliases analyze in a single spark.sql") {
    lateralFixtures()
    Tables.read(spark, sfDir, "lineitem").createOrReplaceTempView("q62_lineitem")
    val netPrice = """CAST(l_extendedprice AS DECIMAL(18,2)) *
                     |  (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))""".stripMargin
    val q62 = spark.sql(
      s"""SELECT l_orderkey, l_linenumber,
         |  $netPrice AS net_price,
         |  SUM(net_price) OVER (PARTITION BY l_orderkey) AS order_net,
         |  ROW_NUMBER() OVER (PARTITION BY l_orderkey
         |    ORDER BY net_price DESC, l_linenumber) AS price_rank
         |FROM q62_lineitem
         |WHERE net_price > 900""".stripMargin)
    assertSameRows(q62, spark.sql(
      s"""SELECT l_orderkey, l_linenumber, net_price,
         |  SUM(net_price) OVER (PARTITION BY l_orderkey) AS order_net,
         |  ROW_NUMBER() OVER (PARTITION BY l_orderkey
         |    ORDER BY net_price DESC, l_linenumber) AS price_rank
         |FROM (SELECT l_orderkey, l_linenumber, $netPrice AS net_price FROM q62_lineitem) x
         |WHERE net_price > 900""".stripMargin))
    assert(q62.count() > 0)
    val q62Run = new RedshiftScript.Runner(spark, root()).run(QueriesLLM.Q62Script)
    assert(q62Run.ok && q62Run.reports.size === 2, q62Run.reports)
    val mart = spark.sql(
      """SELECT user_id, lifetime_events, last_seen, last_day_events,
        |  CAST(lifetime_value AS DECIMAL(18,2)) AS value_dec,
        |  value_dec / lifetime_events AS avg_value,
        |  SUM(value_dec) OVER (PARTITION BY last_day_events) AS cohort_value,
        |  ROW_NUMBER() OVER (PARTITION BY last_day_events
        |    ORDER BY value_dec DESC, user_id) AS cohort_rank
        |FROM la_profile""".stripMargin)
    assertSameRows(mart, spark.sql(
      """SELECT user_id, lifetime_events, last_seen, last_day_events, value_dec,
        |  value_dec / lifetime_events AS avg_value,
        |  SUM(value_dec) OVER (PARTITION BY last_day_events) AS cohort_value,
        |  ROW_NUMBER() OVER (PARTITION BY last_day_events
        |    ORDER BY value_dec DESC, user_id) AS cohort_rank
        |FROM (SELECT *, CAST(lifetime_value AS DECIMAL(18,2)) AS value_dec
        |  FROM la_profile) x""".stripMargin))
  }

  test("lateral alias inside a window: plain, and as the PARTITION BY key") {
    assertSameAsNested(
      """SELECT k, v * 2 AS dd,
        |  SUM(dd) OVER (PARTITION BY g ORDER BY k) AS run,
        |  ROW_NUMBER() OVER (PARTITION BY dd ORDER BY k) AS rn
        |FROM la_src;""".stripMargin,
      """SELECT k, dd,
        |  SUM(dd) OVER (PARTITION BY g ORDER BY k) AS run,
        |  ROW_NUMBER() OVER (PARTITION BY dd ORDER BY k) AS rn
        |FROM (SELECT k, g, v * 2 AS dd FROM la_src) x""".stripMargin)
  }

  test("lateral alias inside a window: grouped, ordered by an aggregate alias") {
    assertSameAsNested(
      "SELECT g, SUM(v) AS total, RANK() OVER (ORDER BY total DESC) AS rk FROM la_src GROUP BY g;",
      """SELECT g, total, RANK() OVER (ORDER BY total DESC) AS rk
        |FROM (SELECT g, SUM(v) AS total FROM la_src GROUP BY g) x""".stripMargin)
  }

  test("lateral alias inside a window: grouped, partitioned by a grouping alias") {
    assertSameAsNested(
      """SELECT UPPER(g) AS gu, k % 2 AS par, COUNT(*) AS n,
        |  SUM(COUNT(*)) OVER (PARTITION BY gu) AS gn
        |FROM la_src GROUP BY UPPER(g), k % 2;""".stripMargin,
      """SELECT gu, par, n, SUM(n) OVER (PARTITION BY gu) AS gn
        |FROM (SELECT UPPER(g) AS gu, k % 2 AS par, COUNT(*) AS n
        |  FROM la_src GROUP BY UPPER(g), k % 2) x""".stripMargin)
    // the grouped window over select aliases behind MISSING_AGGREGATION
    // (`dm_marketing.v_product_sku_vs_paid_orders.sql:26-28`)
    assertSameAsNested(
      """SELECT g AS sku, k > 3 AS late, COUNT(*) AS n,
        |  ROW_NUMBER() OVER (PARTITION BY sku ORDER BY late) AS rn
        |FROM la_src GROUP BY 1, 2;""".stripMargin,
      """SELECT sku, late, n, ROW_NUMBER() OVER (PARTITION BY sku ORDER BY late) AS rn
        |FROM (SELECT g AS sku, k > 3 AS late, COUNT(*) AS n FROM la_src GROUP BY 1, 2) x""".stripMargin)
  }

  test("lateral alias inside a window: a two-step alias chain inlines fully") {
    assertSameAsNested(
      """SELECT k, g, v + 1 AS a1, a1 * 10 AS a2,
        |  MAX(a2) OVER (PARTITION BY g) AS mx
        |FROM la_src;""".stripMargin,
      """SELECT k, g, a1, a2, MAX(a2) OVER (PARTITION BY g) AS mx
        |FROM (SELECT k, g, a1, a1 * 10 AS a2
        |  FROM (SELECT k, g, v + 1 AS a1 FROM la_src) x) y""".stripMargin)
  }

  test("lateral alias inside a window: a self-shadowed alias reads the source column") {
    // `date_trunc('week',created_at) AS created_at` (`9_SPV/Pricing_V2/
    // 05_pricing_1.sql:53-55`): in an expression Redshift reads the SOURCE
    // column; the rows fall in two weeks but on six distinct timestamps
    assertSameAsNested(
      """SELECT k, date_trunc('week', created_at) AS created_at, v * 2 AS dv,
        |  SUM(dv) OVER (PARTITION BY created_at) AS s,
        |  ROW_NUMBER() OVER (PARTITION BY created_at ORDER BY k) AS rn
        |FROM la_src;""".stripMargin,
      """SELECT k, date_trunc('week', created_at) AS created_at, v * 2 AS dv,
        |  SUM(v * 2) OVER (PARTITION BY la_src.created_at) AS s,
        |  ROW_NUMBER() OVER (PARTITION BY la_src.created_at ORDER BY k) AS rn
        |FROM la_src""".stripMargin)
  }

  test("lateral alias in WHERE and inside windows of the same select (q62's shape)") {
    assertSameAsNested(
      """SELECT k, g, v * 3 AS net,
        |  SUM(net) OVER (PARTITION BY g) AS gnet,
        |  ROW_NUMBER() OVER (PARTITION BY g ORDER BY net DESC, k) AS rk
        |FROM la_src
        |WHERE net > 5;""".stripMargin,
      """SELECT k, g, net,
        |  SUM(net) OVER (PARTITION BY g) AS gnet,
        |  ROW_NUMBER() OVER (PARTITION BY g ORDER BY net DESC, k) AS rk
        |FROM (SELECT k, g, v * 3 AS net FROM la_src) x
        |WHERE net > 5""".stripMargin)
  }

  test("lateral aliases of the rebuild mart CTAS, its body inside a CTE") {
    val r = assertSameAsNested(
      """DROP TABLE IF EXISTS la_db.la_mart;
        |CREATE TABLE la_db.la_mart AS
        |WITH m AS (
        |  SELECT user_id, lifetime_events, last_seen, last_day_events,
        |    CAST(lifetime_value AS DECIMAL(18,2)) AS value_dec,
        |    value_dec / lifetime_events AS avg_value,
        |    SUM(value_dec) OVER (PARTITION BY last_day_events) AS cohort_value,
        |    ROW_NUMBER() OVER (PARTITION BY last_day_events
        |      ORDER BY value_dec DESC, user_id) AS cohort_rank
        |  FROM la_profile
        |)
        |SELECT * FROM m;
        |SELECT * FROM la_db.la_mart;""".stripMargin,
      """SELECT user_id, lifetime_events, last_seen, last_day_events, value_dec,
        |  value_dec / lifetime_events AS avg_value,
        |  SUM(value_dec) OVER (PARTITION BY last_day_events) AS cohort_value,
        |  ROW_NUMBER() OVER (PARTITION BY last_day_events
        |    ORDER BY value_dec DESC, user_id) AS cohort_rank
        |FROM (SELECT *, CAST(lifetime_value AS DECIMAL(18,2)) AS value_dec
        |  FROM la_profile) x""".stripMargin)
    assert(r.reports.map(_.verb) === Seq("DROP", "CREATE TABLE", "SELECT"))
  }

  test("ORDER BY count(DISTINCT v) over a redundant DISTINCT sorts a CTAS body and a returned SELECT") {
    spark.sql("SELECT * FROM VALUES (1, 'a'), (1, 'b'), (2, 'a') AS t(k, v)")
      .createOrReplaceTempView("os_src")
    val body = "SELECT DISTINCT k FROM os_src GROUP BY k ORDER BY count(DISTINCT v) DESC"
    val ctas = new RedshiftScript.Runner(spark, root()).run(s"CREATE TABLE os_db.os_out AS $body;")
    assert(ctas.ok, ctas.reports.mkString("; "))
    assert(spark.table("os_db.os_out").count() === 2)
    // a returned SELECT gets Redshift's order: k = 1 has two distinct values
    val select = new RedshiftScript.Runner(spark, root()).run(s"$body;")
    assert(select.ok, select.reports.mkString("; "))
    assert(select.lastSelect.get.collect().toSeq.map(_.getInt(0)) === Seq(1, 2))
  }

  test("each Redshift shape analyzes in one spark.sql") {
    lateralFixtures()
    def rows(sql: String): Seq[String] = spark.sql(RedshiftScript.translate(sql))
      .collect().toSeq.map(_.toSeq.mkString("|")).sorted
    val abc = Seq("a", "b", "c")
    assert(rows("SELECT s.min FROM (SELECT g, min(created_at)::date FROM la_src GROUP BY g) AS s") ===
      Seq("2024-06-03", "2024-06-04", "2024-06-10"))
    assert(rows("SELECT q.max FROM (SELECT MAX(v) FROM la_src) q") === Seq("9"))
    assert(rows("WITH w AS (SELECT DISTINCT s.g AS g FROM la_src s ORDER BY s.g DESC) SELECT * FROM w") === abc)
    assert(rows("SELECT DISTINCT s.g AS g FROM la_src s ORDER BY s.g") === abc)
    assert(rows("SELECT * FROM (SELECT DISTINCT s.g FROM la_src s ORDER BY s.v DESC) x") === abc)
    // a view stores its body as written; the rules apply where it is read
    Catalog.replaceTable(spark.table("la_src"), "la_db", "src")
    spark.sql("CREATE OR REPLACE VIEW la_db.one_inner AS " +
      "SELECT * FROM (SELECT DISTINCT s.g FROM la_db.src s ORDER BY s.v DESC) x")
    assert(rows("SELECT * FROM la_db.one_inner") === abc)
    spark.sql("CREATE OR REPLACE VIEW la_db.one_top AS " +
      "SELECT DISTINCT g FROM la_db.src GROUP BY g ORDER BY count(DISTINCT v) DESC")
    assert(rows("SELECT * FROM la_db.one_top") === abc)
    val kw = Seq("1|3", "1|6", "2|8", "3|1", "4|10", "4|2")
    assert(rows("SELECT b.*, max(w) AS mw FROM la_hist b GROUP BY 1, 2") === kw.map(r => r + "|" + r.split('|')(1)))
    assert(rows("SELECT b.*, stddev_samp(w) AS sd FROM la_hist b GROUP BY 1, 2") === kw.map(_ + "|null"))
    assert(rows(
      """SELECT b.*, cast(w as varchar(10)) AS s, row_number() over (order by w) AS rn
        |FROM la_hist b GROUP BY 1, 2, 3""".stripMargin) ===
      Seq("1|3|3|3", "1|6|6|4", "2|8|8|5", "3|1|1|1", "4|10|10|6", "4|2|2|2"))
    assert(rows("SELECT * FROM la_hist GROUP BY 1, 2") === kw)
    val perKey = Seq("1|6|1", "2|8|1", "3|1|1", "4|10|1", "5|null|1", "6|null|1")
    val sub = "(SELECT MAX(h.w) FROM la_hist h WHERE h.k = o.k)"
    assert(rows(s"SELECT o.k, $sub AS top, COUNT(*) AS n FROM la_src o GROUP BY o.k") === perKey)
    assert(rows(s"SELECT o.k, $sub AS top, COUNT(*) AS n FROM la_src o GROUP BY o.k, o.g") === perKey)
    // Spark 4.1 analyzes these natively
    assert(rows(s"SELECT o.k, $sub AS top, COUNT(*) FROM la_src o GROUP BY 1, 2") === perKey)
    assert(rows("SELECT o.g, (SELECT MAX(h.w) FROM la_hist h) AS top, COUNT(*) FROM la_src o GROUP BY 1, 2") ===
      Seq("a|10|3", "b|10|2", "c|10|1"))
    assert(rows("SELECT k, (SELECT h.w FROM la_hist h WHERE h.k = o.k ORDER BY h.w DESC LIMIT 1) FROM la_src o") ===
      Seq("1|6", "2|8", "3|1", "4|10", "5|null", "6|null"))
  }

  test("Redshift shapes that Redshift rejects too still fail") {
    lateralFixtures()
    def error(sql: String): String = {
      val r = new RedshiftScript.Runner(spark, root()).run(sql)
      assert(!r.ok, r.reports.mkString("; "))
      r.reports.last.error.getOrElse("")
    }
    // a body's top-level ORDER BY on an input column the DISTINCT drops
    assert(error("CREATE TABLE sh_db.sh_out AS SELECT DISTINCT s.g FROM la_src s ORDER BY s.v;")
      .contains("UNRESOLVED_COLUMN"))
    // an inner ORDER BY on a column that exists nowhere
    assert(error("SELECT * FROM (SELECT DISTINCT s.g FROM la_src s ORDER BY s.nope DESC) x;")
      .contains("UNRESOLVED_COLUMN"))
    assert(error("SELECT * FROM (SELECT s.g FROM la_src s ORDER BY s.nope DESC) x;")
      .contains("UNRESOLVED_COLUMN"))
    // a scalar subquery correlated on an ungrouped column
    assert(error(
      """SELECT o.g, (SELECT MAX(h.w) FROM la_hist h WHERE h.k = o.k) AS top, COUNT(*) AS n
        |FROM la_src o GROUP BY o.g;""".stripMargin)
      .contains("SCALAR_SUBQUERY_IS_IN_GROUP_BY"))
  }

  // The cl1 fixtures: allocations and a warehouse history, the
  // `1_ods_core/00_allocation.sql:251-258` shape
  private def limit1Fixtures(): Unit = {
    spark.sql("SELECT * FROM VALUES (1, TIMESTAMP '2024-01-01 10:00:00'), " +
      "(2, TIMESTAMP '2024-01-05 10:00:00'), (3, TIMESTAMP '2024-01-01 00:00:00') " +
      "t(asset_id, allocated_at)").createOrReplaceTempView("cl1_a")
    spark.sql("SELECT * FROM VALUES (1, 'wh_early', TIMESTAMP '2024-01-01 08:00:00'), " +
      "(1, 'wh_late', TIMESTAMP '2024-01-01 09:30:00'), " +
      "(2, 'wh_only', TIMESTAMP '2024-01-04 00:00:00') " +
      "t(asset_id, warehouse, created_date)").createOrReplaceTempView("cl1_h")
  }

  // The latest (`DESC`) or earliest warehouse at or before the allocation,
  // by a window over the join
  private def nearestWarehouse(dir: String): String =
    s"""SELECT asset_id, warehouse FROM (
       |  SELECT a.asset_id, h.warehouse,
       |    ROW_NUMBER() OVER (PARTITION BY a.asset_id ORDER BY h.created_date $dir) AS rn
       |  FROM cl1_a a LEFT JOIN cl1_h h ON a.asset_id = h.asset_id
       |    AND date_trunc('day', a.allocated_at) >= date_trunc('day', h.created_date)) x
       |WHERE rn = 1""".stripMargin

  test("Redshift shape: an unaliased function item of a derived table takes the function's name") {
    // `4_dwh_core/v_weekly_cs_reporting.sql:8-11` reads `s.min`
    assertSameAsNested(
      "SELECT s.min FROM (SELECT g, min(created_at)::date FROM la_src GROUP BY g) AS s;",
      "SELECT s.min FROM (SELECT g, CAST(min(created_at) AS DATE) AS min FROM la_src GROUP BY g) AS s")
    assertSameAsNested(
      "SELECT q.max FROM (SELECT MAX(v) FROM la_src) q;",
      "SELECT q.max FROM (SELECT MAX(v) AS max FROM la_src) q")
  }

  test("Redshift shape: ORDER BY over a DISTINCT in a CTE, a derived table and a view") {
    // the qualified key names the DISTINCT's output column
    // (`2_ods_catman/00_waiting_list.sql:16`)
    assertSameAsNested(
      "WITH w AS (SELECT DISTINCT s.g AS g FROM la_src s ORDER BY s.g DESC) SELECT * FROM w;",
      "SELECT DISTINCT g FROM la_src")
    assertSameAsNested(
      "SELECT DISTINCT s.g AS g FROM la_src s ORDER BY s.g;",
      "SELECT DISTINCT g FROM la_src ORDER BY g", ordered = true)
    // a void sort on an input column the DISTINCT does not output
    // (`91_External/Braze/SQL/custom_subscription_attributes.sql:23`)
    assertSameAsNested(
      "WITH a AS (SELECT DISTINCT g FROM la_src ORDER BY v DESC) SELECT g FROM a;",
      "SELECT DISTINCT g FROM la_src")
    lateralFixtures()
    Catalog.replaceTable(spark.table("la_src"), "la_db", "src")
    assertSameAsNested(
      """CREATE VIEW la_db.sh_inner AS
        |SELECT * FROM (SELECT DISTINCT s.g FROM la_db.src s ORDER BY s.v DESC) x;
        |SELECT * FROM la_db.sh_inner;""".stripMargin,
      "SELECT DISTINCT g FROM la_src")
    // `7_snowplow/1_page_view/10_url_mapping.sql:21`
    assertSameAsNested(
      """CREATE VIEW la_db.sh_top AS
        |SELECT DISTINCT g FROM la_db.src GROUP BY g ORDER BY count(DISTINCT v) DESC;
        |SELECT * FROM la_db.sh_top;""".stripMargin,
      "SELECT g FROM la_src GROUP BY g")
  }

  test("Redshift shape: native sorts stay, a window ORDER BY and a LIMITed subquery sort") {
    assertSameAsNested(
      """WITH c AS (SELECT DISTINCT g, lag(v) OVER (PARTITION BY g ORDER BY k) AS pv FROM la_src)
        |SELECT * FROM c;""".stripMargin,
      "SELECT DISTINCT g, pv FROM (SELECT g, lag(v) OVER (PARTITION BY g ORDER BY k) AS pv FROM la_src) x")
    assertSameAsNested(
      "SELECT * FROM (SELECT g FROM la_src ORDER BY v LIMIT 2) q;",
      "SELECT * FROM VALUES ('a'), ('b') AS t(g)")
  }

  test("Redshift shape: SELECT * with GROUP BY ordinals groups with an aggregate, else de-duplicates") {
    // `4_dwh_catman/purchase_discount_report.sql:122-129`
    assertSameAsNested(
      "SELECT b.*, max(w) AS mw FROM la_hist b GROUP BY 1, 2;",
      "SELECT k, w, max(w) AS mw FROM la_hist GROUP BY k, w")
    assertSameAsNested(
      "SELECT b.*, stddev_samp(w) AS sd FROM la_hist b GROUP BY 1, 2;",
      "SELECT k, w, stddev_samp(w) AS sd FROM la_hist GROUP BY k, w")
    assertSameAsNested(
      "SELECT b.*, array_agg(w) AS ws FROM la_hist b GROUP BY 1, 2;",
      "SELECT k, w, collect_list(w) AS ws FROM la_hist GROUP BY k, w")
    // a varchar cast is no aggregate, and a window is not a plain one
    // (`4_dwh_catman/widget_0_feed.sql:121-135`)
    assertSameAsNested(
      """SELECT b.*, cast(w as varchar(10)) AS s, row_number() over (order by w) AS rn
        |FROM la_hist b GROUP BY 1, 2, 3;""".stripMargin,
      """SELECT DISTINCT k, w, CAST(w AS STRING) AS s, row_number() OVER (ORDER BY w) AS rn
        |FROM la_hist""".stripMargin)
    // `2_ods_catman/00_product_live_feed.sql:99-102`
    assertSameAsNested(
      "SELECT * FROM la_hist GROUP BY 1, 2;",
      "SELECT DISTINCT k, w FROM la_hist")
  }

  test("Redshift shape: a correlated scalar subquery in a grouped select, and one a GROUP BY ordinal picks") {
    // `13_finance_reporting/dm_finance.v_asset_yield_report.sql:10-14`
    val sub = "(SELECT MAX(h.w) FROM la_hist h WHERE h.k = o.k)"
    assertSameAsNested(
      s"SELECT o.k, $sub AS top, COUNT(*) AS n FROM la_src o GROUP BY o.k;",
      s"""SELECT x.k, x.top, COUNT(*) AS n
         |FROM (SELECT o.k, $sub AS top FROM la_src o) x GROUP BY x.k, x.top""".stripMargin)
    assertSameAsNested(
      s"SELECT o.k, $sub AS top, COUNT(*) AS n FROM la_src o GROUP BY o.k, o.g;",
      s"""SELECT x.k, x.top, COUNT(*) AS n
         |FROM (SELECT o.k, o.g, $sub AS top FROM la_src o) x GROUP BY x.k, x.g, x.top""".stripMargin)
    assertSameAsNested(
      s"SELECT o.k, $sub AS top, COUNT(*) AS n FROM la_src o GROUP BY 1, 2;",
      s"""SELECT x.k, x.top, COUNT(*) AS n
         |FROM (SELECT o.k, $sub AS top FROM la_src o) x GROUP BY x.k, x.top""".stripMargin)
    assertSameAsNested(
      "SELECT o.g, (SELECT MAX(h.w) FROM la_hist h) AS top, COUNT(*) AS n FROM la_src o GROUP BY 1, 2;",
      "SELECT g, 10 AS top, COUNT(*) AS n FROM la_src GROUP BY g")
  }

  test("Redshift shape: a correlated ORDER BY … LIMIT 1 on an outer key, and on an inner key") {
    limit1Fixtures()
    // the `00_allocation.sql:251-258` shape: nearest by minute distance
    assertSameAsNested(
      """SELECT a.asset_id,
        |  coalesce(null, (select warehouse from cl1_h h
        |    where a.asset_id = h.asset_id
        |    and date_trunc('day', a.allocated_at::timestamp) >= date_trunc('day', h.created_date::timestamp)
        |    order by datediff('minute', h.created_date::timestamp, a.allocated_at::timestamp) asc
        |    limit 1)) as warehouse
        |FROM cl1_a a;""".stripMargin,
      nearestWarehouse("DESC"))
    // the outer argument first: ASC picks the earliest, DESC the latest
    def byDistance(dir: String) =
      s"""SELECT a.asset_id,
         |  (select warehouse from cl1_h h
         |    where a.asset_id = h.asset_id
         |    and date_trunc('day', a.allocated_at) >= date_trunc('day', h.created_date)
         |    order by datediff(minute, a.allocated_at, h.created_date) $dir
         |    limit 1) as warehouse
         |FROM cl1_a a;""".stripMargin
    limit1Fixtures()
    assertSameAsNested(byDistance("asc"), nearestWarehouse("ASC"))
    limit1Fixtures()
    assertSameAsNested(byDistance("desc"), nearestWarehouse("DESC"))
    // an inner key and a subquery with no LIMIT analyze natively
    assertSameAsNested(
      "SELECT k, (SELECT h.w FROM la_hist h WHERE h.k = o.k ORDER BY h.w DESC LIMIT 1) AS top FROM la_src o;",
      "SELECT k, (SELECT MAX(h.w) FROM la_hist h WHERE h.k = o.k) AS top FROM la_src o")
    assertSameAsNested(
      "SELECT k, (SELECT h.w FROM la_hist h WHERE h.k = o.k ORDER BY h.w LIMIT 1) AS low FROM la_src o;",
      "SELECT k, (SELECT MIN(h.w) FROM la_hist h WHERE h.k = o.k) AS low FROM la_src o")
  }

  test("lateral alias in WHERE: a source column of that name wins") {
    assertSameAsNested(
      "SELECT k, v * 10 AS v FROM la_src WHERE v > 4;",
      "SELECT k, v * 10 AS v FROM la_src WHERE la_src.v > 4")
  }

  test("lateral alias in WHERE: an alias defined by an aggregate is left alone") {
    // Redshift reads the SOURCE column there
    // (`11_marketing_reporting/marketing.v_user_price_drop.sql:330`)
    assertSameAsNested(
      "SELECT g, MAX(v) AS v FROM la_src WHERE v > 1 GROUP BY g;",
      "SELECT g, MAX(v) AS v FROM la_src WHERE la_src.v > 1 GROUP BY g")
    // with no source column the statement fails on that name rather than
    // growing an aggregate predicate
    lateralFixtures()
    val r = new RedshiftScript.Runner(spark, root())
      .run("SELECT g, SUM(v) AS tot FROM la_src WHERE tot > 1 GROUP BY g;")
    assert(!r.ok)
    assert(r.reports.last.error.exists(_.contains("`tot`")), r.reports.mkString("; "))
  }

  test("lateral alias of the outer select in a correlated subquery's WHERE") {
    // `1_ods_core/00_allocation.sql:784`
    assertSameAsNested(
      """SELECT k, v + 1 AS lim,
        |  (SELECT MAX(h.w) FROM la_hist h WHERE h.k = la_src.k AND h.w <= lim) AS best
        |FROM la_src;""".stripMargin,
      """SELECT k, v + 1 AS lim,
        |  (SELECT MAX(h.w) FROM la_hist h WHERE h.k = la_src.k AND h.w <= la_src.v + 1) AS best
        |FROM la_src""".stripMargin)
    // an outer source column of the alias's name wins
    assertSameAsNested(
      """SELECT k, v * 2 AS v,
        |  (SELECT MAX(h.w) FROM la_hist h WHERE h.k = la_src.k AND h.w > v) AS best
        |FROM la_src;""".stripMargin,
      """SELECT k, v * 2 AS v,
        |  (SELECT MAX(h.w) FROM la_hist h WHERE h.k = la_src.k AND h.w > la_src.v) AS best
        |FROM la_src""".stripMargin)
    // an inner column of the alias's name wins
    assertSameAsNested(
      """SELECT k, v AS w,
        |  (SELECT MAX(h.w) FROM la_hist h WHERE h.k = la_src.k AND w > 2) AS best
        |FROM la_src;""".stripMargin,
      """SELECT k, v AS w,
        |  (SELECT MAX(h.w) FROM la_hist h WHERE h.k = la_src.k AND h.w > 2) AS best
        |FROM la_src""".stripMargin)
  }

  test("lateral aliases in a temp-table body and in a CREATE VIEW body read back") {
    assertSameAsNested(
      """CREATE TEMP TABLE la_tmp AS
        |SELECT k, g, v * 2 AS dd, RANK() OVER (PARTITION BY g ORDER BY dd DESC, k) AS rk
        |FROM la_src;
        |SELECT * FROM la_tmp;""".stripMargin,
      """SELECT k, g, dd, RANK() OVER (PARTITION BY g ORDER BY dd DESC, k) AS rk
        |FROM (SELECT k, g, v * 2 AS dd FROM la_src) x""".stripMargin)
    lateralFixtures()
    Catalog.replaceTable(spark.table("la_src"), "la_db", "src")
    assertSameAsNested(
      """CREATE VIEW la_db.la_view AS
        |SELECT k, g, v * 2 AS dd, SUM(dd) OVER (PARTITION BY g) AS gs
        |FROM la_db.src
        |WHERE dd > 3;
        |SELECT * FROM la_db.la_view;""".stripMargin,
      """SELECT k, g, dd, SUM(dd) OVER (PARTITION BY g) AS gs
        |FROM (SELECT k, g, v * 2 AS dd FROM la_src) x
        |WHERE dd > 3""".stripMargin)
    // stored view text re-analyzes with no session setting: a view over a
    // temp view fails (INVALID_TEMP_OBJ_REFERENCE), so it reads the table
    assertSameAsNested(
      """CREATE VIEW la_db.la_grouped_view AS
        |SELECT g AS country, 'B2B' || ' ' || country AS store, COUNT(*) AS n
        |FROM la_db.src GROUP BY 1, 2;
        |SELECT * FROM la_db.la_grouped_view;""".stripMargin,
      """SELECT country, 'B2B' || ' ' || country AS store, COUNT(*) AS n
        |FROM (SELECT g AS country FROM la_src) x GROUP BY 1, 2""".stripMargin)
  }

  test("no lateral alias, a plain select-list one, and an exact duplicated alias line") {
    assertSameAsNested(
      "SELECT k, g, v FROM la_src WHERE v > 2;",
      "SELECT k, g, v FROM la_src WHERE v > 2")
    assertSameAsNested(
      "SELECT k, v + 1 AS a, a * 2 AS b FROM la_src;",
      "SELECT k, v + 1 AS a, (v + 1) * 2 AS b FROM la_src")
    // a whole line duplicated (`us_debt_collections/sql/last_payment_event
    // .sql:79-80`) makes the later reference ambiguous in Spark
    assertSameAsNested(
      "SELECT k, v + 1 AS a, v + 1 AS a, a * 2 AS b FROM la_src;",
      "SELECT k, v + 1 AS a, (v + 1) * 2 AS b FROM la_src")
    assertSameAsNested(
      "SELECT g, SUM(v) AS s, SUM(v) AS s, s * 2 AS s2 FROM la_src GROUP BY g;",
      "SELECT g, s, s * 2 AS s2 FROM (SELECT g, SUM(v) AS s FROM la_src GROUP BY g) x")
  }

  test("lateral alias in GROUP BY: an ordinal or a name picks an item reading one") {
    // `11_marketing_reporting/marketing.marketing_daily_asv_targets.sql:28-39`
    val nested = """SELECT country, 'B2B' || ' ' || country AS store, COUNT(*) AS n
                   |FROM (SELECT g AS country FROM la_src) x GROUP BY 1, 2""".stripMargin
    assertSameAsNested(
      """SELECT g AS country, 'B2B' || ' ' || country AS store, COUNT(*) AS n
        |FROM la_src GROUP BY 1, 2;""".stripMargin, nested)
    assertSameAsNested(
      """SELECT g AS country, 'B2B' || ' ' || country AS store, COUNT(*) AS n
        |FROM la_src GROUP BY country, store;""".stripMargin, nested)
    // a four-alias chain, every item picked by an ordinal
    assertSameAsNested(
      """SELECT g AS a1, a1 || 'x' AS a2, a2 || 'y' AS a3, a3 || 'z' AS a4, COUNT(*)
        |FROM la_src GROUP BY 1, 2, 3, 4;""".stripMargin,
      """SELECT a1, a2, a3, a3 || 'z' AS a4, COUNT(*)
        |FROM (SELECT a1, a2, a2 || 'y' AS a3
        |  FROM (SELECT a1, a1 || 'x' AS a2
        |    FROM (SELECT g AS a1 FROM la_src) w) x) y
        |GROUP BY 1, 2, 3, 4""".stripMargin)
    // each UNION branch with its own aliases
    assertSameAsNested(
      """SELECT g AS country, 'B2B' || ' ' || country AS store, COUNT(*) AS n
        |FROM la_src GROUP BY 1, 2
        |UNION ALL
        |SELECT g AS region, 'B2C' || ' ' || region AS shop, SUM(v) AS n
        |FROM la_src GROUP BY 1, 2;""".stripMargin,
      """SELECT country, 'B2B' || ' ' || country AS store, COUNT(*) AS n
        |FROM (SELECT g AS country FROM la_src) x GROUP BY 1, 2
        |UNION ALL
        |SELECT region, 'B2C' || ' ' || region AS shop, SUM(v) AS n
        |FROM (SELECT g AS region, v FROM la_src) y GROUP BY 1, 2""".stripMargin)
  }

  test("lateral alias inside an aggregate function, alone and with a GROUP BY ordinal") {
    assertSameAsNested(
      "SELECT g, v * 2 AS dv, MAX(dv) AS mx FROM la_src GROUP BY g, v;",
      """SELECT g, v * 2 AS dv, MAX(dv2) AS mx
        |FROM (SELECT g, v, v * 2 AS dv2 FROM la_src) x GROUP BY g, v""".stripMargin)
    assertSameAsNested(
      """SELECT g AS grp, grp || '!' AS loud, SUM(LENGTH(loud)) AS n
        |FROM la_src GROUP BY 1, 2;""".stripMargin,
      """SELECT grp, loud, SUM(LENGTH(loud)) AS n
        |FROM (SELECT grp, grp || '!' AS loud FROM (SELECT g AS grp FROM la_src) x) y
        |GROUP BY 1, 2""".stripMargin)
  }

  test("lateral alias in a grouped select over a same-named ungrouped source column") {
    // `count(…) AS stock_on_hand, …, stock_on_hand + reserved_count`
    // (`4_dwh_catman/contentful_campaigns.sql:646-656`): the alias wins
    assertSameAsNested(
      "SELECT g, COUNT(k) AS v, v + 1 AS v1 FROM la_src GROUP BY g;",
      "SELECT g, v, v + 1 AS v1 FROM (SELECT g, COUNT(k) AS v FROM la_src GROUP BY g) x")
    assertSameAsNested(
      """SELECT g, COUNT(k) AS v, CASE WHEN v > 1 THEN 'many' ELSE 'one' END AS v1
        |FROM la_src GROUP BY g;""".stripMargin,
      """SELECT g, v, CASE WHEN v > 1 THEN 'many' ELSE 'one' END AS v1
        |FROM (SELECT g, COUNT(k) AS v FROM la_src GROUP BY g) x""".stripMargin)
    // self-shadowed: the `v` of `v + 1` is the alias, the one inside SUM the source
    assertSameAsNested(
      "SELECT g, SUM(v) AS v, v + 1 AS v1 FROM la_src GROUP BY g;",
      "SELECT g, v, v + 1 AS v1 FROM (SELECT g, SUM(v) AS v FROM la_src GROUP BY g) x")
  }

  test("lateral alias in a grouped select: the source column wins where it is valid") {
    // inside an aggregate function: SUM reads the source `v`
    assertSameAsNested(
      "SELECT g, k * 100 AS v, SUM(v) AS sv FROM la_src GROUP BY g, k;",
      """SELECT g, k * 100 AS v, SUM(src_v) AS sv
        |FROM (SELECT g, k, v AS src_v FROM la_src) x GROUP BY g, k""".stripMargin)
    // in an item a GROUP BY ordinal picks: the key is the source `v * 10`
    assertSameAsNested(
      "SELECT k % 2 AS v, v * 10 AS v10 FROM la_src GROUP BY 1, 2;",
      """SELECT k % 2 AS v, src_v * 10 AS v10
        |FROM (SELECT k, v AS src_v FROM la_src) x GROUP BY 1, 2""".stripMargin)
    // under GROUP BY ALL every item is a key
    assertSameAsNested(
      "SELECT k % 2 AS v, v * 10 AS v10, COUNT(*) AS n FROM la_src GROUP BY ALL;",
      """SELECT k % 2 AS v, src_v * 10 AS v10, COUNT(*) AS n
        |FROM (SELECT k, v AS src_v FROM la_src) x GROUP BY ALL""".stripMargin)
  }

  test("lateral aliases in a CTE that an unused CTE reads, with and without GROUP BY") {
    // rebuilt from `91_External/Legal/IntraStat NL/IntraStat_v2.sql:106`:
    // the CASE of `_final` reads two aliases, and `export` reads `period`
    assertSameAsNested(
      """WITH src AS (SELECT k, g, v FROM la_src),
        |_final AS (
        |  SELECT k, g AS period, v AS supplementary_unit,
        |    CASE WHEN supplementary_unit > 4 THEN period ELSE 'n/a' END AS unit_period
        |  FROM src
        |),
        |export AS (SELECT period, unit_period FROM _final WHERE period <> 'x')
        |SELECT * FROM _final;""".stripMargin,
      """SELECT k, period, supplementary_unit,
        |  CASE WHEN supplementary_unit > 4 THEN period ELSE 'n/a' END AS unit_period
        |FROM (SELECT k, g AS period, v AS supplementary_unit FROM la_src) x""".stripMargin)
    assertSameAsNested(
      """WITH src AS (SELECT k, g, v FROM la_src),
        |_final AS (
        |  SELECT g AS period, SUM(v) AS supplementary_unit,
        |    CASE WHEN supplementary_unit > 5 THEN period ELSE 'n/a' END AS unit_period
        |  FROM src GROUP BY g
        |),
        |export AS (SELECT period, unit_period FROM _final WHERE period <> 'x')
        |SELECT * FROM _final;""".stripMargin,
      """SELECT period, supplementary_unit,
        |  CASE WHEN supplementary_unit > 5 THEN period ELSE 'n/a' END AS unit_period
        |FROM (SELECT g AS period, SUM(v) AS supplementary_unit FROM la_src GROUP BY g) x""".stripMargin)
  }

  test("lateral aliases in WHERE leave qualified names, literals and ORDER BY alone") {
    spark.sql("SELECT * FROM VALUES ('x', 'b', 2), ('b', 'y', 2), ('b', 'b', 1) AS t(a, b, c)")
      .createOrReplaceTempView("la_abc")
    // `la_abc.b` is the source column and 'b' a literal, whatever alias `b` means
    assertSameAsNested(
      "SELECT a AS b, c * 2 AS c2 FROM la_abc WHERE la_abc.b = 'b' AND c2 = 4;",
      "SELECT a AS b, c * 2 AS c2 FROM la_abc WHERE la_abc.b = 'b' AND c * 2 = 4")
    // ORDER BY still sorts by the output alias
    assertSameAsNested(
      """SELECT o.k AS main_id, o2.k AS rel_id
        |FROM la_src o JOIN la_src o2 ON o.g = o2.g
        |WHERE main_id != rel_id AND o.v > 1
        |ORDER BY main_id, rel_id;""".stripMargin,
      """SELECT o.k AS main_id, o2.k AS rel_id
        |FROM la_src o JOIN la_src o2 ON o.g = o2.g
        |WHERE o.k != o2.k AND o.v > 1
        |ORDER BY main_id, rel_id""".stripMargin,
      ordered = true)
  }

  test("CTE-prefixed DELETE USING resolves the source from the WITH list") {
    Catalog.replaceTable(Tables.read(spark, sfDir, "orders")
      .select(col("o_orderkey").as("id"), col("o_totalprice").as("v")), "rs_cte", "tgt")
    val before = spark.table("rs_cte.tgt").count()
    val doomed = spark.table("rs_cte.tgt").filter(col("v") > 200000).count()
    assert(doomed > 0)
    val script =
      """with cte_remove_dups as
        |(
        |select id from rs_cte.tgt where v > 200000 group by 1
        |)
        |DELETE FROM rs_cte.tgt
        |USING  cte_remove_dups src
        |WHERE  src.id  = rs_cte.tgt.id;""".stripMargin
    val res = new RedshiftScript.Runner(spark, root()).run(script)
    assert(res.ok, res.reports.mkString("; "))
    assert(res.reports.head.verb === "DELETE USING")
    assert(spark.table("rs_cte.tgt").count() === before - doomed)
  }

  test("tempLayoutRoot makes a directory that is deleted at JVM exit") {
    val root = RedshiftScript.tempLayoutRoot(spark, "graft-layout")
    val path = new org.apache.hadoop.fs.Path(root)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    assert(fs.getFileStatus(path).isDirectory)
    // cancelling finds the registration
    assert(fs.cancelDeleteOnExit(path))
    fs.delete(path, true)
  }

  test("runSqlDir routes a multi-statement file through the interpreter") {
    Catalog.replaceTable(Tables.read(spark, sfDir, "orders"), "rs_dir", "orders_src")
    val dir = tempDir("graft-sqldir")
    Files.writeString(java.nio.file.Paths.get(s"$dir/01_build.sql"),
      """DROP TABLE IF EXISTS rs_dir.big_orders;
        |CREATE TABLE rs_dir.big_orders AS
        |SELECT o_orderkey, o_totalprice FROM rs_dir.orders_src WHERE o_totalprice > 200000;
        |SELECT COUNT(*) AS n FROM rs_dir.big_orders;""".stripMargin)
    val reports = Pipeline.runSqlDir(spark, dir, continueOnError = false,
      scriptLayoutRoot = Some(root()))
    assert(reports.forall(_.ok), reports.mkString("; "))
    // the file-stem view is the script's final SELECT
    val n = spark.table("build").collect()(0).getLong(0)
    assert(n === spark.table("rs_dir.big_orders").count())
    assert(n > 0)
  }
}
