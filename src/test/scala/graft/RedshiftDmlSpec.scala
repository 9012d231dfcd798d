package graft

import graft.pipeline.{Catalog, RedshiftScript}
import org.apache.spark.sql.DataFrame

/** The Runner's join DML (UPDATE … FROM, DELETE … USING, MERGE), each
  * shape pinned against the same result written by hand as a join over
  * the tables as they were before the statement ran.
  */
class RedshiftDmlSpec extends SparkSpec {

  private def root(): String = RedshiftScript.tempLayoutRoot(spark, "graft-dml")

  // `dml.tgt` is the target; `dml.src` matches two of its rows and has
  // one new key; `dml.pii` is a second relation for joined sources and
  // `dml.dup` matches target row 2 twice
  private def fixtures(): Unit = {
    def table(name: String, rows: String, cols: String): Unit =
      Catalog.replaceTable(spark.sql(s"SELECT * FROM VALUES $rows AS t($cols)"), "dml", name)
    table("tgt", "(1, 'a', 10), (2, 'b', 20), (3, 'c', 30), (4, 'd', 40)", "k, v, w")
    table("src", "(2, 'B', 200), (3, 'C', 300), (5, 'E', 500)", "k, v, w")
    table("pii", "(2, 'gone'), (3, 'gone too')", "k, note")
    table("dup", "(2, 'x'), (2, 'y'), (3, 'z')", "k, tag")
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.mkString("|")).sorted

  /** Runs `script` and asserts `dml.tgt` then equals `hand`, rows and
    * columns, where `hand` reads the tables as they were before.
    */
  private def assertDml(script: String, hand: String): RedshiftScript.ScriptResult = {
    fixtures()
    val want = spark.sql(hand)
    val (wantCols, wantRows) = (want.columns.toSeq, rows(want))
    val r = new RedshiftScript.Runner(spark, root()).run(script)
    assert(r.ok, r.reports.filterNot(_.ok).mkString("; "))
    val got = spark.table("dml.tgt")
    assert(got.columns.toSeq === wantCols)
    assert(rows(got) === wantRows)
    r
  }

  // the full-outer upsert of `dml.src` into `dml.tgt` on k: SET v, all
  // three columns inserted
  private def upsertHand(): String =
    """SELECT coalesce(x.k, s.k) AS k,
      |  CASE WHEN x.k IS NULL OR s.k IS NOT NULL THEN s.v ELSE x.v END AS v,
      |  CASE WHEN x.k IS NULL THEN s.w ELSE x.w END AS w
      |FROM dml.tgt x FULL JOIN dml.src s ON x.k = s.k""".stripMargin

  test("UPDATE FROM a join whose SET reads the second relation's alias") {
    // the `8_monitoring/gdpr/anonymize_gdpr_columns.sql` shape
    val r = assertDml(
      """UPDATE dml.tgt SET v = p.note, w = t.w + 1
        |FROM dml.tgt t INNER JOIN dml.pii p ON t.k = p.k
        |WHERE tgt.k = t.k;""".stripMargin,
      """SELECT x.k, CASE WHEN p.k IS NULL THEN x.v ELSE p.note END AS v,
        |  CASE WHEN p.k IS NULL THEN x.w ELSE x.w + 1 END AS w
        |FROM dml.tgt x LEFT JOIN dml.pii p ON x.k = p.k""".stripMargin)
    assert(r.reports.map(_.verb) === Seq("UPDATE FROM"))
  }

  test("UPDATE FROM with no WHERE sets every row from one fixed source row") {
    // the source row first in the order of all its columns
    assertDml(
      "UPDATE dml.tgt SET v = s.v FROM dml.src s;",
      """SELECT x.k, s.v, x.w FROM dml.tgt x
        |CROSS JOIN (SELECT * FROM dml.src ORDER BY k, v, w LIMIT 1) s""".stripMargin)
  }

  test("UPDATE FROM a source with a quoted column") {
    assertDml(
      """UPDATE dml.tgt SET v = s."v" FROM dml.src s WHERE tgt.k = s."k";""",
      """SELECT x.k, CASE WHEN s.k IS NULL THEN x.v ELSE s.v END AS v, x.w
        |FROM dml.tgt x LEFT JOIN dml.src s ON x.k = s.k""".stripMargin)
  }

  test("CTE-prefixed DELETE USING matches a hand anti join") {
    val r = assertDml(
      """WITH big AS (SELECT k FROM dml.src WHERE w >= 300)
        |DELETE FROM dml.tgt USING big b WHERE dml.tgt.k = b.k;""".stripMargin,
      "SELECT * FROM dml.tgt x LEFT ANTI JOIN (SELECT k FROM dml.src WHERE w >= 300) b ON x.k = b.k")
    assert(r.reports.map(_.verb) === Seq("DELETE USING"))
  }

  test("DELETE USING a source that matches one row twice deletes it once") {
    assertDml(
      "DELETE FROM dml.tgt USING dml.dup d WHERE tgt.k = d.k;",
      "SELECT * FROM dml.tgt x LEFT ANTI JOIN dml.dup d ON x.k = d.k")
  }

  test("MERGE reads quoted source columns in ON, SET and INSERT") {
    val r = assertDml(
      """MERGE INTO dml.tgt USING dml.src s ON dml.tgt.k = s."k"
        |WHEN MATCHED THEN UPDATE SET v = s."v"
        |WHEN NOT MATCHED THEN INSERT VALUES (s."k", s."v", s."w");""".stripMargin,
      upsertHand())
    assert(r.reports.map(_.verb) === Seq("MERGE"))
  }

  test("UPDATE FROM and MERGE on a table overlaid earlier in the transaction") {
    assertDml(
      """BEGIN;
        |DELETE FROM dml.tgt WHERE k = 4;
        |UPDATE dml.tgt SET v = s.v FROM dml.src s WHERE tgt.k = s.k;
        |MERGE INTO dml.tgt USING dml.src s ON tgt.k = s.k
        |WHEN MATCHED THEN UPDATE SET w = s.w
        |WHEN NOT MATCHED THEN INSERT VALUES (s.k, s.v, s.w);
        |COMMIT;""".stripMargin,
      """WITH a AS (SELECT * FROM dml.tgt WHERE k <> 4),
        |b AS (SELECT a.k, CASE WHEN s.k IS NULL THEN a.v ELSE s.v END AS v, a.w
        |      FROM a LEFT JOIN dml.src s ON a.k = s.k)
        |SELECT coalesce(b.k, s.k) AS k, CASE WHEN b.k IS NULL THEN s.v ELSE b.v END AS v,
        |  CASE WHEN s.k IS NULL THEN b.w ELSE s.w END AS w
        |FROM b FULL JOIN dml.src s ON b.k = s.k""".stripMargin)
  }

  test("MERGE upserts a keyed source without duplicating rows") {
    import sqlImplicits._
    Catalog.replaceTable(Seq((1, "old"), (2, "keep")).toDF("k", "v"), "dml", "kv")
    Catalog.replaceTable(Seq((1, "new"), (3, "ins")).toDF("k", "v"), "dml", "kv_upd")
    val r = new RedshiftScript.Runner(spark, root()).run(
      """MERGE INTO dml.kv USING dml.kv_upd u ON kv.k = u.k
        |WHEN MATCHED THEN UPDATE SET v = u.v
        |WHEN NOT MATCHED THEN INSERT VALUES (u.k, u.v);""".stripMargin)
    assert(r.ok, r.reports.mkString("; "))
    val out = spark.table("dml.kv").collect().map(x => (x.getInt(0), x.getString(1))).sorted.toSeq
    assert(out === Seq((1, "new"), (2, "keep"), (3, "ins")))
  }

  test("UPDATE WHERE redacts one row and nulls a column (GDPR anonymize shape)") {
    import sqlImplicits._
    Catalog.replaceTable(Seq((1, "alice", "keep@x.com"), (2, "bob", "gone@x.com"))
      .toDF("id", "name", "email"), "dml", "people")
    val r = new RedshiftScript.Runner(spark, root()).run(
      "UPDATE dml.people SET name = 'REDACTED', email = NULL WHERE id = 2;")
    assert(r.ok, r.reports.mkString("; "))
    val out = spark.table("dml.people").orderBy("id")
      .collect().map(x => (x.getInt(0), x.getString(1), x.getString(2))).toSeq
    assert(out === Seq((1, "alice", "keep@x.com"), (2, "REDACTED", null)))
  }

  test("UPDATE FROM a comma list of two relations") {
    assertDml(
      "UPDATE dml.tgt SET v = s.v || p.note FROM dml.src s, dml.pii p WHERE tgt.k = s.k AND s.k = p.k;",
      """SELECT x.k, CASE WHEN m.k IS NULL THEN x.v ELSE m.v END AS v, x.w
        |FROM dml.tgt x LEFT JOIN (
        |  SELECT s.k, s.v || p.note AS v FROM dml.src s JOIN dml.pii p ON s.k = p.k) m
        |ON x.k = m.k""".stripMargin)
  }

  private val insert = "WHEN NOT MATCHED THEN INSERT VALUES (s.k, s.v, s.w);"

  test("MERGE with a target alias") {
    assertDml(
      s"MERGE INTO dml.tgt t USING dml.src s ON t.k = s.k WHEN MATCHED THEN UPDATE SET v = s.v, w = t.w + s.w $insert",
      """SELECT coalesce(x.k, s.k) AS k, coalesce(s.v, x.v) AS v,
        |  CASE WHEN x.k IS NULL THEN s.w WHEN s.k IS NULL THEN x.w ELSE x.w + s.w END AS w
        |FROM dml.tgt x FULL JOIN dml.src s ON x.k = s.k""".stripMargin)
  }

  test("MERGE WHEN MATCHED AND … THEN DELETE") {
    assertDml(
      "MERGE INTO dml.tgt USING dml.src s ON tgt.k = s.k " +
        s"WHEN MATCHED AND s.v = 'B' THEN DELETE WHEN MATCHED THEN UPDATE SET v = s.v $insert",
      s"SELECT * FROM (${upsertHand()}) WHERE k <> 2")
  }

  test("MERGE with a non-equi ON term") {
    // the source row the ON term rejects is inserted beside its key's target row
    assertDml(
      s"MERGE INTO dml.tgt USING dml.src s ON tgt.k = s.k AND s.w >= 300 WHEN MATCHED THEN UPDATE SET v = s.v $insert",
      """SELECT coalesce(x.k, s.k) AS k, coalesce(s.v, x.v) AS v, coalesce(x.w, s.w) AS w
        |FROM dml.tgt x FULL JOIN dml.src s ON x.k = s.k AND s.w >= 300""".stripMargin)
  }

  test("MERGE from a subquery source and from a CTE") {
    val hand = """SELECT coalesce(x.k, s.k) AS k, coalesce(s.v, x.v) AS v, coalesce(x.w, s.w) AS w
                 |FROM dml.tgt x FULL JOIN (SELECT k, upper(v) AS v, w FROM dml.src WHERE k < 5) s
                 |ON x.k = s.k""".stripMargin
    assertDml("MERGE INTO dml.tgt USING (SELECT k, upper(v) AS v, w FROM dml.src WHERE k < 5) s " +
      s"ON tgt.k = s.k WHEN MATCHED THEN UPDATE SET v = s.v $insert", hand)
    val r = assertDml("WITH d AS (SELECT k, upper(v) AS v, w FROM dml.src WHERE k < 5) " +
      s"MERGE INTO dml.tgt USING d s ON tgt.k = s.k WHEN MATCHED THEN UPDATE SET v = s.v $insert", hand)
    assert(r.reports.map(_.verb) === Seq("MERGE"))
  }

  test("MERGE inserts every source row of a key no target row matches") {
    // Redshift inserts both; a target row two source rows match still fails
    Catalog.replaceTable(spark.sql("SELECT * FROM VALUES (7, 'x', 1), (7, 'y', 2) AS t(k, v, w)"),
      "dml", "twin")
    assertDml(
      s"MERGE INTO dml.tgt USING dml.twin s ON tgt.k = s.k WHEN MATCHED THEN UPDATE SET v = s.v $insert",
      "SELECT * FROM dml.tgt UNION ALL SELECT * FROM dml.twin")
  }

  test("a target row two source rows match fails the MERGE and names the table") {
    fixtures()
    val r = new RedshiftScript.Runner(spark, root()).run(
      "MERGE INTO dml.tgt USING dml.dup d ON tgt.k = d.k WHEN MATCHED THEN UPDATE SET v = d.tag;")
    assert(!r.ok)
    val error = r.reports.head.error.get
    assert(error.contains("MERGE_CARDINALITY_VIOLATION") && error.contains("dml.tgt"), error)
    assert(rows(spark.table("dml.tgt")).size === 4) // target untouched
  }

  test("ON CONFLICT DO UPDATE with two incoming rows for one key fails") {
    // PostgreSQL: "ON CONFLICT DO UPDATE command cannot affect row a second time"
    fixtures()
    val r = new RedshiftScript.Runner(spark, root()).run(
      "INSERT INTO dml.tgt VALUES (2, 'p', 0), (2, 'q', 0) ON CONFLICT (k) DO UPDATE SET v = excluded.v;")
    assert(!r.ok)
    assert(r.reports.head.error.get.contains("MERGE_CARDINALITY_VIOLATION"), r.reports)
    assert(rows(spark.table("dml.tgt")).size === 4)
  }

  test("a crashed swap's backup is restored before the Runner reads the table") {
    import sqlImplicits._
    Catalog.replaceTable(Seq((1, "v1"), (2, "v2")).toDF("k", "v"), "dml", "crash")
    Catalog.replaceTable(Seq((2, "v2b"), (3, "v3")).toDF("k", "v"), "dml", "crash_upd")
    val path = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier("crash", Some("dml"))).location
    val fs = org.apache.hadoop.fs.FileSystem.get(path, spark.sparkContext.hadoopConfiguration)
    val (dir, backup) = (new org.apache.hadoop.fs.Path(path), new org.apache.hadoop.fs.Path(s"${path}__old"))
    // a crash between rename-aside and rename-in leaves the only copy in
    // the backup; a fresh process sees the table directory missing
    fs.rename(dir, backup)
    spark.catalog.refreshTable("dml.crash")
    val r = new RedshiftScript.Runner(spark, root()).run(
      """MERGE INTO dml.crash USING dml.crash_upd u ON crash.k = u.k
        |WHEN MATCHED THEN UPDATE SET v = u.v
        |WHEN NOT MATCHED THEN INSERT VALUES (u.k, u.v);""".stripMargin)
    assert(r.ok, r.reports.mkString("; "))
    val out = spark.table("dml.crash").collect().map(x => (x.getInt(0), x.getString(1))).sorted.toSeq
    assert(out === Seq((1, "v1"), (2, "v2b"), (3, "v3")))
    assert(!fs.exists(backup))
  }
}
