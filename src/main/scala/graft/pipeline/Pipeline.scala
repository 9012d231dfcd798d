package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** Ordered-stage pipeline runner — the engine-side equivalent of the
  * reference's Airflow fullload DAG (SURVEY §3.1;
  * `bi-airflow-prod/dags/pipeline/fullload/dag_fullload_pipeline.py:43-80`,
  * `pipeline_config.json:1-50`).
  *
  * A stage consumes previously-registered temp views and either registers
  * its result as a view (a temp table in the reference) or materializes it.
  * `continueOnError` mirrors the reference's `trigger_rule='all_done'`.
  */
object Pipeline {

  final case class Stage(
      name: String,
      build: SparkSession => DataFrame,
      materializePath: Option[String] = None,
      cache: Boolean = false)

  final case class StageReport(name: String, ok: Boolean, seconds: Double, error: Option[String])

  /** Status notification hook (SURVEY §2.1 S12 — the reference POSTs DAG
    * status to a Slack webhook): send the run's stage reports as one JSON
    * payload, with the same retry/backoff discipline as the reverse-ETL
    * sink. Driver-side (reports are tiny); failures throw after retries
    * so a broken webhook is visible, not silent.
    */
  def notifyWebhook(
      reports: Seq[StageReport],
      url: String,
      maxRetries: Int = 3): Unit = {
    def esc(s: String) = s.flatMap {
      case '\\' => "\\\\"
      case '"' => "\\\""
      case c if c < ' ' => f"\\u${c.toInt}%04x" // ALL control chars, per JSON spec
      case c => c.toString
    }
    val body = reports.map { r =>
      s"""{"name":"${esc(r.name)}","ok":${r.ok},"seconds":${r.seconds},""" +
        s""""error":${r.error.map(e => "\"" + esc(e) + "\"").getOrElse("null")}}"""
    }.mkString("""{"stages":[""", ",", s"""],"ok":${reports.forall(_.ok)}}""")
    graft.io.HttpSink.postWithRetry(
      java.net.http.HttpClient.newHttpClient(),
      graft.io.HttpSink.Config(url, maxRetries = maxRetries, initialBackoffMs = 100),
      body)
  }

  /** Run a directory of SQL scripts in sorted filename order — the
    * reference's `RunQueryFromRepoOperator` over numbered script dirs
    * (`Datawarehouse-ETL/1_ods_core/00_*.sql` …;
    * `dag_fullload_pipeline.py:69-80`). Each script's result is registered
    * as a temp view named by the file stem, so later scripts query earlier
    * ones exactly like the reference's temp-table chaining. A `-- target:`
    * header line materializes the result to that path first.
    *
    * @param scriptLayoutRoot where multi-statement scripts' `db.table`
    *                         targets materialize (see [[RedshiftScript]])
    * @param scriptCurrentDate pin `current_date` inside scripts for
    *                         deterministic reruns
    */
  def runSqlDir(
      spark: SparkSession,
      dir: String,
      continueOnError: Boolean = true,
      scriptLayoutRoot: Option[String] = None,
      scriptCurrentDate: Option[String] = None): Seq[StageReport] = {
    val scripts = new java.io.File(dir)
      .listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".sql"))
      .sortBy(_.getName)
      .toSeq
    val stages = scripts.map { f =>
      val sql = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      val name = f.getName.stripSuffix(".sql").replaceAll("^\\d+_", "")
      val target = sql.linesIterator
        .find(_.trim.startsWith("-- target:"))
        .map(_.trim.stripPrefix("-- target:").trim)
      if (RedshiftScript.splitStatements(sql).size > 1) {
        // a real reference-shaped script: DROP/CREATE TEMP/DELETE/INSERT/
        // BEGIN-COMMIT chains run through the statement interpreter; the
        // file-stem view is the script's final SELECT (when present), so
        // later scripts chain off it exactly like the one-SELECT form
        Stage(name, s => {
          val root = scriptLayoutRoot.getOrElse(RedshiftScript.tempLayoutRoot(s, "graft-script"))
          val res = new RedshiftScript.Runner(s, root, scriptCurrentDate).run(sql)
          res.reports.find(!_.ok).foreach { r =>
            throw new RuntimeException(
              s"${r.verb}${r.target.fold("")(" " + _)} failed: ${r.error.getOrElse("?")}")
          }
          res.lastSelect.getOrElse(s.emptyDataFrame)
        }, materializePath = target)
      } else Stage(name, s => s.sql(sql), materializePath = target)
    }
    run(spark, stages, continueOnError)
  }

  def run(
      spark: SparkSession,
      stages: Seq[Stage],
      continueOnError: Boolean = true): Seq[StageReport] = {
    val reports = mutable.ListBuffer.empty[StageReport]
    stages.foreach { st =>
      val t0 = System.nanoTime()
      try {
        var df = st.build(spark)
        if (st.cache) df = df.cache()
        st.materializePath match {
          case Some(path) =>
            df.write.mode("overwrite").parquet(path)
            // downstream stages read the materialized form (a real
            // evaluation barrier, like the reference's temp tables)
            spark.read.parquet(path).createOrReplaceTempView(st.name)
          case None =>
            df.createOrReplaceTempView(st.name)
        }
        reports += StageReport(st.name, ok = true, (System.nanoTime() - t0) / 1e9, None)
      } catch {
        case e: Exception =>
          reports += StageReport(st.name, ok = false, (System.nanoTime() - t0) / 1e9,
            Some(e.getMessage))
          if (!continueOnError) return reports.toSeq
      }
    }
    reports.toSeq
  }
}
