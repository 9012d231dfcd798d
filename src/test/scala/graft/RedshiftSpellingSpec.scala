package graft

import graft.pipeline.{Catalog, RedshiftScript}

/** Redshift spellings that Spark's parser or a builtin's argument check
  * rejects, run through the Runner. Each case checks the rows, the
  * schema and the name Spark gives the unaliased column.
  */
class RedshiftSpellingSpec extends SparkSpec {

  private def root(): String = RedshiftScript.tempLayoutRoot(spark, "graft-spelling")

  private def fixture(): Unit =
    spark.sql(
      """SELECT * FROM VALUES
        |  (12, DATE'2024-03-05', TIMESTAMP'2024-03-05 10:11:12.345', '2024-03-05 10:11:12',
        |   'a-b-c', '[1,2,3]', 'true'),
        |  (7, DATE'2023-12-31', TIMESTAMP'2023-12-31 23:59:59', '2023-12-31 23:59:59',
        |   'x-y', '[]', 'false')
        |  AS t(k, d, ts, ds, s, j, bt)""".stripMargin)
      .createOrReplaceTempView("sp_src")

  /** Runs `select` through a Runner over `sp_src` and checks the schema's
    * simple string (column names and types) and the rows ordered by `k`
    * (by the output column when an item takes that name, as in Redshift).
    */
  private def assertRunner(select: String, schema: String, rows: String*): Unit = {
    fixture()
    val r = new RedshiftScript.Runner(spark, root()).run(s"SELECT $select FROM sp_src ORDER BY k;")
    assert(r.ok, r.reports.mkString("; "))
    val df = r.lastSelect.get
    assert(df.schema.simpleString === schema)
    assert(df.collect().toSeq.map(_.mkString("|")) === rows)
  }

  Seq(
    ("k::int8", "struct<k:bigint>", Seq("7", "12")),
    ("k::int4", "struct<k:int>", Seq("7", "12")),
    ("k::int2", "struct<k:smallint>", Seq("7", "12")),
    ("k::float8", "struct<k:double>", Seq("7.0", "12.0")),
    ("k::float4", "struct<k:float>", Seq("7.0", "12.0")),
    ("k::text", "struct<k:string>", Seq("12", "7")),
    ("k::varchar", "struct<k:string>", Seq("12", "7")),
    ("k::bpchar", "struct<k:string>", Seq("12", "7")),
    ("k::char(5)", "struct<k:string>", Seq("12", "7")),
    ("k::character(5)", "struct<k:string>", Seq("12", "7")),
    ("bt::bool", "struct<bt:boolean>", Seq("false", "true")),
    ("ds::datetime", "struct<ds:timestamp>",
      Seq("2023-12-31 23:59:59.0", "2024-03-05 10:11:12.0")),
    ("ds::timestamptz", "struct<ds:timestamp>",
      Seq("2023-12-31 23:59:59.0", "2024-03-05 10:11:12.0")),
    ("ts::timestamp(3)", "struct<ts:timestamp>",
      Seq("2023-12-31 23:59:59.0", "2024-03-05 10:11:12.345"))
  ).foreach { case (cast, schema, rows) =>
    test(s"Runner: $cast casts to Spark's type and keeps Spark's column name") {
      assertRunner(cast, schema, rows: _*)
    }
  }

  Seq(
    ("int8", "bigint", Seq("7", "12")),
    ("int4", "int", Seq("7", "12")),
    ("int2", "smallint", Seq("7", "12")),
    ("float8", "double", Seq("7.0", "12.0")),
    ("float4", "float", Seq("7.0", "12.0")),
    ("bpchar", "string", Seq("12", "7")),
    ("varchar", "string", Seq("12", "7")),
    ("text", "string", Seq("12", "7"))
  ).foreach { case (name, spark, rows) =>
    test(s"Runner: CAST(k AS $name) casts to $spark") {
      assertRunner(s"CAST(k AS $name)", s"struct<k:$spark>", rows: _*)
    }
  }

  test("Runner: FLOAT is FLOAT8 and a bare NUMERIC or DECIMAL is DECIMAL(18,0), as in Redshift") {
    val r = new RedshiftScript.Runner(spark, root()).run(
      """SELECT n::float AS a, CAST(n AS float) AS b, n::numeric AS c, CAST(n AS numeric) AS d,
        |  n::decimal AS e, CAST(n AS DECIMAL) AS f, n::numeric(13,2) AS g, n::float4 AS h
        |FROM (SELECT 12345678901 AS n);""".stripMargin)
    assert(r.ok, r.reports.mkString("; "))
    val df = r.lastSelect.get
    assert(df.schema.simpleString === "struct<a:double,b:double,c:decimal(18,0)," +
      "d:decimal(18,0),e:decimal(18,0),f:decimal(18,0),g:decimal(13,2),h:float>")
    assert(df.collect().toSeq.map(_.mkString("|")) === Seq(
      "1.2345678901E10|1.2345678901E10|12345678901|12345678901|12345678901|12345678901|" +
        "12345678901.00|1.23456788E10"))
  }

  test("Runner: string literals that spell a rewritten call come back verbatim") {
    val calls = Seq("greatest(x)", "least(x)", "trunc(x)", "regexp_replace(a, b)",
      "json_array_length(x, true)", "rtrim(a, b)", "ltrim(a, b)", "count(t.*)")
    fixture()
    val r = new RedshiftScript.Runner(spark, root()).run(
      calls.zipWithIndex.map { case (c, i) => s"'$c' AS c$i" }
        .mkString("SELECT ", ", ", ", count(t.*) AS n FROM sp_src t;"))
    assert(r.ok, r.reports.mkString("; "))
    assert(r.lastSelect.get.collect().head.toSeq === calls :+ 2L)
  }

  test("a persistent view over Redshift spellings reads back from DataFrame code") {
    fixture()
    Catalog.replaceTable(spark.table("sp_src"), "sp_db", "src")
    // written as Spark SQL: the session's parser and builders take the
    // spellings, so the stored view text needs no translation
    spark.sql("CREATE OR REPLACE VIEW sp_db.v_sql AS " +
      "SELECT k::int8 AS k8, greatest(k) AS g, CAST(ds AS timestamptz) AS t, " +
      "regexp_substr(s, '[a-z]', 1, 2) AS r, func_sha1(s) = sha1(s) AS h FROM sp_db.src")
    assert(spark.table("sp_db.v_sql").orderBy("k8").collect().map(_.mkString("|")).toSeq ===
      Seq("7|7|2023-12-31 23:59:59.0|y|true", "12|12|2024-03-05 10:11:12.0|b|true"))
    assert(spark.table("sp_db.v_sql").schema.simpleString ===
      "struct<k8:bigint,g:int,t:timestamp,r:string,h:boolean>")
    // created by a Runner statement
    val r = new RedshiftScript.Runner(spark, root()).run(
      "CREATE VIEW sp_db.v_runner AS SELECT k::int8 AS k8, greatest(k) AS g FROM sp_db.src;")
    assert(r.ok, r.reports.mkString("; "))
    assert(spark.table("sp_db.v_runner").orderBy("k8").collect().map(_.mkString("|")).toSeq ===
      Seq("7|7", "12|12"))
  }

  test("1-arg TRUNC of another type is Spark's error, and Spark's own argument counts are unchanged") {
    fixture()
    val r = new RedshiftScript.Runner(spark, root()).run("SELECT trunc(s) FROM sp_src;")
    assert(!r.ok && r.reports.head.error.exists(_.contains("WRONG_NUM_ARGS")), r.reports)
    assert(spark.sql("SELECT trunc(DATE'2024-03-05', 'MM'), greatest(1, 3), " +
      "regexp_replace('a-b', '-', '+'), json_array_length('[1]')").head().toSeq ===
      Seq(java.sql.Date.valueOf("2024-03-01"), 3, "a+b", 1))
  }

  test("Runner: 1-arg GREATEST and LEAST return the argument") {
    assertRunner("greatest(k)", "struct<k:int>", "7", "12")
    assertRunner("least(s)", "struct<s:string>", "x-y", "a-b-c")
  }

  test("Runner: 1-arg TRUNC of a DATE or a TIMESTAMP is its date") {
    assertRunner("trunc(ts)", "struct<ts:date>", "2023-12-31", "2024-03-05")
    assertRunner("trunc(d)", "struct<d:date>", "2023-12-31", "2024-03-05")
  }

  test("Runner: 2-arg REGEXP_REPLACE deletes the matches") {
    assertRunner("regexp_replace(s, '-')", "struct<regexp_replace(s, -, , 1):string>", "xy", "abc")
    // a comma inside the pattern literal is not an argument separator,
    // and a nested call is one argument
    assertRunner("regexp_replace(s, '[,-]')", "struct<regexp_replace(s, [,-], , 1):string>",
      "xy", "abc")
    assertRunner("REGEXP_REPLACE(replace(s, '-', '_'), '_.')",
      "struct<regexp_replace(replace(s, -, _), _., , 1):string>", "x", "a")
    assertRunner("regexp_replace(s, '-', '+')", "struct<regexp_replace(s, -, +, 1):string>",
      "x+y", "a+b+c")
  }

  test("Runner: JSON_ARRAY_LENGTH drops Redshift's null_if_invalid flag") {
    assertRunner("json_array_length(j, true)", "struct<json_array_length(j):int>", "0", "3")
    assertRunner("json_array_length(j, FALSE)", "struct<json_array_length(j):int>", "0", "3")
  }

  test("Runner: REGEXP_SUBSTR with position and occurrence, and Redshift's '' on no match") {
    assertRunner("regexp_substr(s, '[a-z]', 1, 2)",
      "struct<CASE WHEN (s IS NOT NULL) THEN coalesce(try_element_at(regexp_extract_all(" +
        "substr(s, 1, 2147483647), [a-z], 0), 2), ) END:string>",
      "y", "b")
    assertRunner("regexp_substr(s, 'b|y')",
      "struct<CASE WHEN (s IS NOT NULL) THEN coalesce(try_element_at(regexp_extract_all(s, b|y, 0), 1), ) END:string>",
      "y", "b")
    assertRunner("regexp_substr(s, 'q') AS none", "struct<none:string>", "", "")
    assertRunner("regexp_substr(s, 'q', 1, 2) AS none", "struct<none:string>", "", "")
  }

  test("Runner: REGEXP_SUBSTR of a NULL source is NULL") {
    val r = new RedshiftScript.Runner(spark, root()).run(
      "SELECT regexp_substr(CAST(NULL AS VARCHAR), 'a') IS NULL AS n, " +
        "regexp_substr(CAST(NULL AS VARCHAR), 'a', 1, 2) IS NULL AS n4;")
    assert(r.ok, r.reports.mkString("; "))
    assert(r.lastSelect.get.collect().toSeq.map(_.mkString("|")) === Seq("true|true"))
  }

  test("Runner: 1-arg TRUNC of a number truncates toward zero") {
    val r = new RedshiftScript.Runner(spark, root()).run(
      """SELECT trunc(111.86) AS a, trunc(-12.7) AS b, trunc(CAST(111.86 AS DOUBLE)) AS c,
        |  trunc(-12.7::float8) AS d, trunc(k) AS e
        |FROM (SELECT 7 AS k);""".stripMargin)
    assert(r.ok, r.reports.mkString("; "))
    val df = r.lastSelect.get
    assert(df.schema.simpleString === "struct<a:decimal(4,0),b:decimal(3,0),c:double,d:double,e:int>")
    assert(df.collect().toSeq.map(_.mkString("|")) === Seq("111|-12|111.0|-12.0|7"))
  }

  test("Runner: FUNC_SHA1 is SHA1") {
    assertRunner("func_sha1(s)", "struct<sha1(s):string>",
      "aace079d3f57b531e8cd699df5595629fbd6cd72", "e088d9e3f737c091378fe8494936b16d51eb42ee")
  }

  test("Runner: CREATE TABLE (columns) maps every Redshift column type") {
    val r = new RedshiftScript.Runner(spark, root()).run(
      """CREATE TEMP TABLE sp_ddl (
        |  a numeric(12,2), b decimal(5), c numeric, d decimal,
        |  e varchar(20), f character varying(10), g char(3), h character(2), i text,
        |  j nvarchar(5), k varchar(max), l smallint, m int2, n integer, o int, p int4,
        |  q bigint, r int8, s real, t float4, u double precision, v float8, w float,
        |  x boolean, y bool, z date, aa timestamp, ab timestamp without time zone,
        |  ac timestamptz, ad timestamp with time zone, ae int identity(1,1),
        |  af varchar(10) encode zstd not null, ag bigint default 0);""".stripMargin)
    assert(r.ok, r.reports.mkString("; "))
    assert(spark.table("sp_ddl").schema.catalogString ===
      "struct<a:decimal(12,2),b:decimal(5,0),c:decimal(18,0),d:decimal(18,0)," +
        "e:string,f:string,g:string,h:string,i:string,j:string,k:string," +
        "l:smallint,m:smallint,n:int,o:int,p:int,q:bigint,r:bigint,s:float,t:float," +
        "u:double,v:double,w:double,x:boolean,y:boolean,z:date,aa:timestamp,ab:timestamp," +
        "ac:timestamp,ad:timestamp,ae:int,af:string,ag:bigint>")
  }
}
