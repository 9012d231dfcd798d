package graft

import graft.pipeline.{Catalog, RedshiftScript}

/** Read-your-writes inside a transaction: a statement that reads a table
  * the same BEGIN … COMMIT block changed earlier sees the staged rows, in
  * every place a query can name the table. Each case checks rows.
  */
class StagedReadSpec extends SparkSpec {

  private def root(): String = RedshiftScript.tempLayoutRoot(spark, "graft-staged")

  /** `db.t(k, v)` holding (1, 10), (2, 20), (3, 30). */
  private def table(db: String, t: String = "t"): Unit = {
    import sqlImplicits._
    Catalog.replaceTable(Seq((1, 10), (2, 20), (3, 30)).toDF("k", "v"), db, t)
  }

  /** Runs `script` and returns the last SELECT's rows as `a|b` strings. */
  private def rows(script: String): Seq[String] = {
    val r = new RedshiftScript.Runner(spark, root()).run(script)
    assert(r.ok, r.reports.mkString("; "))
    r.lastSelect.get.collect().toSeq.map(_.mkString("|"))
  }

  private def tableRows(name: String): Seq[String] =
    spark.table(name).orderBy("k").collect().toSeq.map(_.mkString("|"))

  test("a bare-alias column t.k reads the staged rows of db.t") {
    table("sr_alias")
    assert(rows(
      """BEGIN;
        |DELETE FROM sr_alias.t WHERE k = 2;
        |SELECT t.k, t.v FROM sr_alias.t ORDER BY t.k;
        |ROLLBACK;""".stripMargin) === Seq("1|10", "3|30"))
    assert(tableRows("sr_alias.t") === Seq("1|10", "2|20", "3|30"))
  }

  test("IN, EXISTS and scalar subqueries read the staged rows") {
    import sqlImplicits._
    table("sr_sub")
    Catalog.replaceTable(Seq(1, 2, 3).toDF("k"), "sr_sub", "u")
    assert(rows(
      """BEGIN;
        |DELETE FROM sr_sub.t WHERE k = 2 OR v = 30;
        |INSERT INTO sr_sub.t SELECT 3, 33;
        |SELECT k, (SELECT max(v) FROM sr_sub.t) AS m FROM sr_sub.u
        |WHERE k IN (SELECT k FROM sr_sub.t)
        |  AND EXISTS (SELECT 1 FROM sr_sub.t x WHERE x.k = u.k AND x.v > 5)
        |ORDER BY k;
        |ROLLBACK;""".stripMargin) === Seq("1|33", "3|33"))
  }

  test("a CTE named like a staged table's base name reads the CTE") {
    table("sr_cte")
    assert(rows(
      """BEGIN;
        |DELETE FROM sr_cte.t WHERE k = 2;
        |SELECT count(*) FROM sr_cte.t;
        |WITH t AS (SELECT 7 AS k, 70 AS v) SELECT t.k, t.v FROM t;
        |ROLLBACK;""".stripMargin) === Seq("7|70"))
  }

  test("a CTE body reads the staged rows") {
    table("sr_cteb")
    assert(rows(
      """BEGIN;
        |DELETE FROM sr_cteb.t WHERE k = 2;
        |WITH w AS (SELECT k + 100 AS k FROM sr_cteb.t) SELECT k FROM w ORDER BY k;
        |ROLLBACK;""".stripMargin) === Seq("101", "103"))
  }

  test("a quoted table name db.\"order\" reads the staged rows") {
    table("sr_q", "order")
    assert(rows(
      """BEGIN;
        |DELETE FROM sr_q."order" WHERE k = 1;
        |SELECT k FROM sr_q."order" ORDER BY k;
        |ROLLBACK;""".stripMargin) === Seq("2", "3"))
  }

  test("UPDATE and DELETE of a table staged earlier in the same transaction") {
    table("sr_dml")
    val r = new RedshiftScript.Runner(spark, root()).run(
      """BEGIN;
        |INSERT INTO sr_dml.t SELECT 4, 40;
        |UPDATE sr_dml.t SET v = v + 1 WHERE k >= 3;
        |DELETE FROM sr_dml.t WHERE k = 1;
        |COMMIT;""".stripMargin)
    assert(r.ok, r.reports.mkString("; "))
    assert(tableRows("sr_dml.t") === Seq("2|20", "3|31", "4|41"))
  }

  test("the historical DELETE + INSERT transaction, run twice, keeps one snapshot") {
    import sqlImplicits._
    Catalog.replaceTable(Seq((1, 10), (2, 20)).toDF("k", "v"), "sr_hist", "src")
    Catalog.replaceTable(Seq((1, 5, java.sql.Date.valueOf("2024-05-31"))).toDF("k", "v", "d"),
      "sr_hist", "h")
    val script =
      """BEGIN;
        |DELETE FROM sr_hist.h WHERE d = current_date;
        |INSERT INTO sr_hist.h SELECT k, v, current_date AS d FROM sr_hist.src;
        |COMMIT;""".stripMargin
    (1 to 2).foreach { _ =>
      val r = new RedshiftScript.Runner(spark, root(), Some("2024-06-01")).run(script)
      assert(r.ok, r.reports.mkString("; "))
    }
    assert(spark.table("sr_hist.h").orderBy("d", "k").collect().toSeq.map(_.mkString("|")) ===
      Seq("1|5|2024-05-31", "1|10|2024-06-01", "2|20|2024-06-01"))
  }

  test("db.t.k in SELECT, UPDATE … FROM and MERGE ON reads the staged rows") {
    import sqlImplicits._
    table("sr_fq")
    Catalog.replaceTable(Seq((1, 100), (3, 300), (4, 400)).toDF("k", "w"), "sr_fq", "x")
    assert(rows(
      """BEGIN;
        |DELETE FROM sr_fq.t WHERE k = 2;
        |SELECT sr_fq.t.k, sr_fq.t.v FROM sr_fq.t ORDER BY sr_fq.t.k;
        |ROLLBACK;""".stripMargin) === Seq("1|10", "3|30"))
    val r = new RedshiftScript.Runner(spark, root()).run(
      """BEGIN;
        |DELETE FROM sr_fq.t WHERE k = 2;
        |UPDATE sr_fq.t SET v = x.w FROM sr_fq.x x WHERE sr_fq.t.k = x.k AND x.w > 200;
        |MERGE INTO sr_fq.t USING sr_fq.x x ON sr_fq.t.k = x.k
        |WHEN MATCHED THEN UPDATE SET v = sr_fq.t.v + 1
        |WHEN NOT MATCHED THEN INSERT VALUES (x.k, x.w);
        |COMMIT;""".stripMargin)
    assert(r.ok, r.reports.mkString("; "))
    assert(tableRows("sr_fq.t") === Seq("1|11", "3|301", "4|400"))
  }

  test("two staged tables with one base name join by qualified columns") {
    table("sr_two")
    table("sr_two2")
    assert(rows(
      """BEGIN;
        |DELETE FROM sr_two.t WHERE k = 1;
        |DELETE FROM sr_two2.t WHERE k = 3;
        |SELECT sr_two.t.k, sr_two2.t.v FROM sr_two.t JOIN sr_two2.t ON sr_two.t.k = sr_two2.t.k;
        |ROLLBACK;""".stripMargin) === Seq("2|20"))
  }

  test("a quoted table name qualifies a column: db.\"order\".k") {
    table("sr_ord", "order")
    assert(rows(
      """BEGIN;
        |DELETE FROM sr_ord."order" WHERE k = 1;
        |SELECT sr_ord."order".k FROM sr_ord."order" ORDER BY 1;
        |ROLLBACK;""".stripMargin) === Seq("2", "3"))
  }

  test("a staged table read twice, in a self-join and an IN subquery") {
    table("sr_self")
    assert(rows(
      """BEGIN;
        |MERGE INTO sr_self.t USING (SELECT 4 AS k, 40 AS v) s ON sr_self.t.k = s.k
        |WHEN NOT MATCHED THEN INSERT VALUES (s.k, s.v);
        |UPDATE sr_self.t SET v = v + 1 WHERE k = 1;
        |SELECT a.k, b.v FROM sr_self.t a JOIN sr_self.t b ON a.k = b.k
        |WHERE a.k IN (SELECT k FROM sr_self.t WHERE v > 15 AND k > 2) OR b.v = 11
        |ORDER BY a.k;
        |ROLLBACK;""".stripMargin) === Seq("1|11", "3|30", "4|40"))
  }

  test("INSERT … ON CONFLICT into a staged table reads the staged rows") {
    import sqlImplicits._
    table("sr_up")
    Catalog.replaceTable(Seq((1, 100), (3, 300), (4, 400)).toDF("k", "w"), "sr_up", "x")
    val r = new RedshiftScript.Runner(spark, root()).run(
      """BEGIN;
        |DELETE FROM sr_up.t WHERE k = 3;
        |INSERT INTO sr_up.t SELECT k, w FROM sr_up.x ON CONFLICT (k) DO UPDATE SET v = excluded.v;
        |COMMIT;""".stripMargin)
    assert(r.ok, r.reports.mkString("; "))
    assert(tableRows("sr_up.t") === Seq("1|100", "2|20", "3|300", "4|400"))
  }

  test("CREATE VIEW over a staged table reads the table after COMMIT") {
    table("sr_view")
    val r = new RedshiftScript.Runner(spark, root()).run(
      """BEGIN;
        |DELETE FROM sr_view.t WHERE k = 2;
        |CREATE VIEW sr_view.vw AS SELECT k FROM sr_view.t;
        |COMMIT;""".stripMargin)
    assert(r.ok, r.reports.mkString("; "))
    assert(tableRows("sr_view.vw") === Seq("1", "3"))
  }

  test("CREATE MATERIALIZED VIEW over a staged table refreshes after COMMIT") {
    table("sr_mv")
    val runner = new RedshiftScript.Runner(spark, root())
    val r = runner.run(
      """BEGIN;
        |DELETE FROM sr_mv.t WHERE k = 2;
        |CREATE MATERIALIZED VIEW sr_mv.mv AS SELECT k FROM sr_mv.t;
        |COMMIT;""".stripMargin)
    assert(r.ok, r.reports.mkString("; "))
    assert(tableRows("sr_mv.mv") === Seq("1", "3"))
    val r2 = runner.run(
      "INSERT INTO sr_mv.t SELECT 5, 50;\nREFRESH MATERIALIZED VIEW sr_mv.mv;")
    assert(r2.ok, r2.reports.mkString("; "))
    assert(tableRows("sr_mv.mv") === Seq("1", "3", "5"))
  }

  test("a bare name that names no table fails inside a transaction, as outside one") {
    table("sr_bare", "t_bare_only")
    def run(script: String) = new RedshiftScript.Runner(spark, root()).run(script)
    Seq("SELECT k FROM t_bare_only;", "INSERT INTO t_bare_only SELECT 9, 90;").foreach { stmt =>
      val outside = run(stmt)
      assert(!outside.ok)
      val inside = run(
        s"""BEGIN;
           |DELETE FROM sr_bare.t_bare_only WHERE k = 2;
           |SELECT count(*) FROM sr_bare.t_bare_only;
           |$stmt
           |COMMIT;""".stripMargin)
      assert(!inside.ok && inside.reports.map(_.ok) === Seq(true, true, true, false),
        inside.reports.mkString("; "))
      assert(inside.reports(3).error === outside.reports.head.error)
    }
    assert(tableRows("sr_bare.t_bare_only") === Seq("1|10", "2|20", "3|30"))
  }

  test("the last SELECT keeps its rows when a later COMMIT swaps the table it read") {
    import sqlImplicits._
    Catalog.replaceTable(Seq((1, 10)).toDF("k", "v"), "sr_last", "t")
    assert(rows(
      """BEGIN;
        |INSERT INTO sr_last.t SELECT 2, 20;
        |SELECT k FROM sr_last.t ORDER BY k;
        |COMMIT;""".stripMargin) === Seq("1", "2"))
    assert(rows(
      """SELECT k FROM sr_last.t WHERE k IN (SELECT k FROM sr_last.t) ORDER BY k;
        |INSERT INTO sr_last.t SELECT 5, 50;""".stripMargin) === Seq("1", "2"))
    assert(tableRows("sr_last.t") === Seq("1|10", "2|20", "5|50"))
  }
}
