package graft

import graft.pipeline.{Catalog, RedshiftScript, Templates}

/** Template rendering + the Postgres-flavor `ON CONFLICT` upsert verb. */
class TemplatesSpec extends SparkSpec {

  private def root(): String =
    tempDir("graft-templates")

  test("renders all three template dialects deterministically") {
    // Jinja params + xcom (quotes around the slot live in the source)
    assert(Templates.render("x_{{ params.tbl_suffix }}_eu") == "x_jun_2024_eu")
    assert(Templates.render("d < '{{ params.last_day_of_prev_month }}'") ==
      "d < '2024-05-31'")
    assert(Templates.render("year = '{{ti.xcom_pull(key='year')}}'") ==
      "year = '2024'")
    assert(Templates.render(
      "t = '{{ ti.xcom_pull(task_ids='date_time_extraction_from_filename')}}'") ==
      "t = '2024-06-14 07:00:00'")
    assert(Templates.render(
      "{{ var.json.cfg.redshift_target_schema }}.{{ var.json.cfg.redshift_target_table }}") ==
      "tpl_schema.tpl_target_table")
    // shell flavor carries its own quotes (bare `${X}::DATE` in source)
    assert(Templates.render("d >= ${START_FROM}::DATE") == "d >= '2024-06-01'::DATE")
    // python-format
    assert(Templates.render("FROM {schema_name}.{table_name} WHERE m = {model_id}") ==
      "FROM tpl_schema.tpl_table WHERE m = 1")
    assert(Templates.render("INTERVAL '{interval_hour}'") == "INTERVAL '1 hour'")
    // untouched text: braces in regexy SQL bodies don't match the
    // single-identifier python-format shape
    val sql = "SELECT regexp_replace(x, '[0-9]{2}') FROM t"
    assert(Templates.render(sql) == sql)
    assert(!Templates.isTemplated(sql))
    // rendering is idempotent and total — no slot survives
    val luxco = "ods_spv_historical.luxco_reporting_{{ params.tbl_suffix }}_snapshot"
    assert(!Templates.isTemplated(Templates.render(luxco)))
  }

  test("INSERT ... ON CONFLICT DO UPDATE upserts; DO NOTHING keeps existing") {
    import sqlImplicits._
    Catalog.replaceTable(
      Seq((1L, "old", "2024-01-01 00:00:00"), (2L, "keep", "2024-01-01 00:00:00"))
        .toDF("customer_id", "label", "updated_at"),
      "graft_upsert", "labels")
    // the ds-airflow-prod/dags/labels/sql/insert_on_conflict.sql shape,
    // template-rendered VALUES
    val r = new RedshiftScript.Runner(spark, root()).run(Templates.render(
      """INSERT INTO graft_upsert.labels (customer_id, label, updated_at)
        |VALUES {parameters} ON CONFLICT (customer_id) DO
        |UPDATE SET label = EXCLUDED.label, updated_at = EXCLUDED.updated_at;""".stripMargin))
    assert(r.ok, r.reports.mkString("; "))
    val rows = spark.table("graft_upsert.labels").orderBy("customer_id").collect()
    assert(rows.length == 2, rows.toSeq)
    assert(rows(0).getLong(0) == 1L && rows(0).getString(1) == "graft_label", rows(0))
    assert(rows(1).getString(1) == "keep")

    // DO NOTHING: conflicting row unchanged, fresh key appended
    val r2 = new RedshiftScript.Runner(spark, root()).run(
      "INSERT INTO graft_upsert.labels (customer_id, label, updated_at) " +
        "VALUES (2, 'clobber', '2024-06-14 07:00:00'), (3, 'new', '2024-06-14 07:00:00') " +
        "ON CONFLICT (customer_id) DO NOTHING;")
    assert(r2.ok, r2.reports.mkString("; "))
    val rows2 = spark.table("graft_upsert.labels").orderBy("customer_id").collect()
    assert(rows2.length == 3, rows2.toSeq)
    assert(rows2(1).getString(1) == "keep")
    assert(rows2(2).getString(1) == "new")
  }
}
