package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Catalog layering — the reference's schema convention
  * (`ods_production` → `master` → `dwh_*` → `dm_*` databases; every
  * script reads qualified `schema.table` names, e.g.
  * `Datawarehouse-ETL/3_master/subscription.sql:24-26`).
  *
  * Persistent catalog tables (vs temp views) give cross-session lineage
  * and let `spark.sql` resolve the reference's qualified names directly.
  */
object Catalog {

  def ensureDatabase(spark: SparkSession, db: String): Unit =
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")

  /** CREATE TABLE AS with optional date partitioning — the materialized
    * form of a pipeline layer (partitioned layers get partition-pruned
    * reads downstream).
    */
  def saveTable(
      df: DataFrame,
      db: String,
      table: String,
      partitionBy: Seq[String] = Nil): Unit = {
    ensureDatabase(df.sparkSession, db)
    var w = df.write.mode("overwrite").format("parquet")
    if (partitionBy.nonEmpty) w = w.partitionBy(partitionBy: _*)
    w.saveAsTable(s"$db.$table")
  }

  def table(spark: SparkSession, db: String, name: String): DataFrame =
    spark.table(s"$db.$name")

  /** saveAsTable that survives a previous process's leftovers: with an
    * in-memory catalog the warehouse DIRECTORY outlives the catalog entry,
    * and a fresh session's `saveAsTable` then fails with
    * LOCATION_ALREADY_EXISTS. Drop the entry AND clear the default
    * location before writing.
    */
  def replaceTable(df: DataFrame, db: String, table: String): Unit = {
    val spark = df.sparkSession
    ensureDatabase(spark, db)
    // the name may currently be held by a VIEW (a prior run's CREATE
    // VIEW over the same name, e.g. product_requests.feed) — DROP TABLE
    // alone raises WRONG_COMMAND_FOR_OBJECT_TYPE on it
    try spark.sql(s"DROP VIEW IF EXISTS $db.$table")
    catch { case _: Exception => () }
    spark.sql(s"DROP TABLE IF EXISTS $db.$table")
    val loc = spark.sessionState.catalog.defaultTablePath(
      org.apache.spark.sql.catalyst.TableIdentifier(table, Some(db)))
    val fs = org.apache.hadoop.fs.FileSystem.get(loc, spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(loc), true)
    df.write.mode("overwrite").saveAsTable(s"$db.$table")
  }

  /** Register a READ-ONLY source frame under `db.table` without copying
    * its data: when `df` is a bare single-root parquet scan (what
    * [[graft.Tables.read]] returns for micros-flavor fixtures), the
    * catalog entry is an EXTERNAL parquet table pointing at the source
    * files — `CREATE TABLE … USING parquet LOCATION`. The old path
    * (still the fallback for anything that isn't a bare scan, e.g. the
    * nanos-timestamp adapter projection) was a full CTAS copy: staging a
    * 100 TB input meant WRITING 100 TB before the script read a row
    * (guide §6 — don't rewrite the input to rename it).
    *
    * READ-ONLY is the caller's contract: a script that DML'd this table
    * would stage its commit swap at the table's location — the source
    * files. Use [[replaceTable]] for anything a script mutates.
    */
  def stageSourceReadOnly(df: DataFrame, db: String, table: String): Unit = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val bare = df.queryExecution.analyzed match {
      case lr: LogicalRelation =>
        lr.relation match {
          case fs: HadoopFsRelation
              if fs.fileFormat.isInstanceOf[
                org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat] &&
                fs.location.rootPaths.length == 1 =>
            Some(fs.location.rootPaths.head.toString)
          case _ => None
        }
      case _ => None
    }
    bare match {
      case Some(loc) =>
        val spark = df.sparkSession
        ensureDatabase(spark, db)
        try spark.sql(s"DROP VIEW IF EXISTS $db.$table")
        catch { case _: Exception => () }
        spark.sql(s"DROP TABLE IF EXISTS $db.$table")
        spark.sql(s"CREATE TABLE $db.$table USING parquet LOCATION '$loc'")
      case None => replaceTable(df, db, table)
    }
  }

  /** CREATE OR REPLACE VIEW — the reference's presentation layer
    * (222 `v_*` view files, `4_dwh_core/v_daily_kpi_report.sql:1-2`):
    * a saved logical plan in the session catalog, recomputed per query.
    */
  def createOrReplaceView(spark: SparkSession, name: String, viewSql: String): Unit = {
    val parts = name.split("\\.")
    if (parts.length > 1) ensureDatabase(spark, parts.head)
    try spark.sql(s"CREATE OR REPLACE VIEW $name AS $viewSql")
    catch {
      // the name is occupied by a TABLE (a fixture placeholder staged
      // before the producing script ran) — the view definition wins
      case e: Exception
          if String.valueOf(e.getMessage).contains("EXPECT_VIEW_NOT_TABLE") =>
        spark.sql(s"DROP TABLE IF EXISTS $name")
        spark.sql(s"CREATE OR REPLACE VIEW $name AS $viewSql")
    }
  }

  /** Materialized view as materialize-plus-refresh (the reference has 8;
    * Spark has no native MV): the defining SQL is stored beside the data
    * so [[refreshMaterializedView]] can re-run it — each refresh writes
    * new data and swaps it in atomically ([[graft.io.Writers.atomicSwap]]),
    * so readers always see a complete snapshot. The first materialization
    * writes `rows`, the definition's rows as the caller reads them (the
    * Runner reads a transaction's staged tables).
    */
  def createMaterializedView(
      spark: SparkSession,
      name: String,
      viewSql: String,
      rows: DataFrame,
      path: String): Unit = {
    val parts = name.split("\\.")
    if (parts.length > 1) ensureDatabase(spark, parts.head)
    writeText(spark, defPath(path), viewSql)
    rows.write.mode("overwrite").parquet(path)
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(s"CREATE TABLE $name USING parquet LOCATION '$path'")
  }

  /** Re-run the stored definition and swap the result in atomically. */
  def refreshMaterializedView(spark: SparkSession, name: String): Unit = {
    // full URI, not getPath — stripping scheme/authority would resolve
    // against the default filesystem instead of the table's actual store
    val path = spark.sessionState.catalog
      .getTableMetadata(tableId(name)).location.toString
    val viewSql = readText(spark, defPath(path))
    val tmp = path + "__refresh"
    spark.sql(viewSql).write.mode("overwrite").parquet(tmp)
    graft.io.Writers.atomicSwap(spark, tmp, path)
    spark.sql(s"REFRESH TABLE $name")
  }

  private def tableId(name: String): org.apache.spark.sql.catalyst.TableIdentifier = {
    val parts = name.split("\\.")
    org.apache.spark.sql.catalyst.TableIdentifier(
      parts.last, if (parts.length > 1) Some(parts.head) else None)
  }

  private def defPath(dataPath: String): String = dataPath + ".mvdef.sql"

  private def writeText(spark: SparkSession, path: String, text: String): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(path), true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  private def readText(spark: SparkSession, path: String): String = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val in = fs.open(new org.apache.hadoop.fs.Path(path))
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }
}
