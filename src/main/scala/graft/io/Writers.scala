package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental-maintenance writers — the reference's "engine verbs"
  * (SURVEY §2.13). Each reproduces a Redshift DML pattern with an
  * idempotent, partition-atomic Parquet equivalent.
  */
object Writers {

  /** Full refresh: DROP TABLE + CREATE TABLE AS
    * (`1_ods_core/00_subscription.sql:1-5`). Plain overwrite.
    */
  def fullRefresh(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** Incremental window reload: DELETE WHERE date-range + INSERT
    * (`30_segment_events/01_track_events_incremental.sql:206-212`).
    * With `partitionOverwriteMode=dynamic`, overwrite replaces exactly the
    * partitions present in `df` and leaves the rest — idempotent on rerun
    * (SURVEY §7.5-6).
    */
  def overwritePartitions(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Daily snapshot append — the historical layer
    * (`5_master_historical/addon_35up_order_historical.sql:1-26`): stamp
    * every row with the snapshot date and overwrite that single date
    * partition (delete-yesterday + insert-yesterday made atomic).
    */
  def snapshotAppend(
      df: DataFrame,
      path: String,
      snapshotDate: java.time.LocalDate,
      dateCol: String = "snapshot_date"): Unit =
    overwritePartitions(
      df.withColumn(dateCol, lit(java.sql.Date.valueOf(snapshotDate))),
      path,
      Seq(dateCol))

  /** MERGE-by-key into an existing Parquet table
    * (`bi-airflow-prod/dags/us_debt_collections/sql/last_payment_event.sql:23`):
    * updates win over existing rows; result fully rewritten (for a
    * transactional table format this would be a native MERGE).
    */
  def mergeByKey(
      spark: SparkSession,
      updates: DataFrame,
      path: String,
      keys: Seq[String]): Unit = {
    // a swap that crashed between rename-aside and rename-in left the
    // data in the backup; restore BEFORE reading — falling through to the
    // empty-table branch here would silently merge against nothing and
    // then destroy the backup
    recoverCrashedSwap(spark, path)
    val existing =
      try spark.read.parquet(path)
      catch { case _: Exception => spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], updates.schema) }
    val merged = existing.join(updates.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(updates)
    // write-new-then-swap so a failed write never corrupts the target
    // (reference "no ghost reads": business_logic/segment/parquet_rewriter.py:36-54)
    val tmp = path + "__tmp"
    merged.write.mode("overwrite").parquet(tmp)
    atomicSwap(spark, tmp, path)
  }

  /** Restore a swap that crashed between rename-aside and rename-in:
    * target absent + backup present ⇒ the backup holds the only copy.
    */
  private[graft] def recoverCrashedSwap(spark: SparkSession, path: String): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val target = new org.apache.hadoop.fs.Path(path)
    val backup = new org.apache.hadoop.fs.Path(path + "__old")
    if (!fs.exists(target) && fs.exists(backup)) {
      require(fs.rename(backup, target),
        s"crashed-swap recovery failed: could not rename $backup back to $path")
    }
  }

  /** Swap a freshly-written directory into place via rename-aside:
    * target → backup, tmp → target, drop backup. Compared to
    * delete-then-rename this (a) shrinks the no-table window from a full
    * recursive delete to two metadata renames (on HDFS each rename is an
    * atomic ~ms namenode op), and (b) is crash-safe: at every step the
    * data exists intact in either target or backup — a crashed swap is
    * recovered by the next run's leftover-backup cleanup, never lost.
    * On object stores without atomic rename a manifest/pointer layer
    * (or a table format) is the real answer; this is the best possible
    * shape for path-addressed parquet.
    */
  private[graft] def atomicSwap(spark: SparkSession, tmpDir: String, path: String): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val target = new org.apache.hadoop.fs.Path(path)
    val tmp = new org.apache.hadoop.fs.Path(tmpDir)
    val backup = new org.apache.hadoop.fs.Path(path + "__old")
    require(fs.exists(tmp), s"swap source $tmpDir does not exist")
    // crash recovery FIRST: a previous swap that died between
    // rename-aside and rename-in left the only copy in the backup —
    // restore it before anything else (deleting it here would destroy
    // the pre-crash table)
    recoverCrashedSwap(spark, path)
    if (fs.exists(backup)) {
      // backup still present ⇒ target also exists (recovery above would
      // have restored it otherwise) — safe leftover cleanup
      require(fs.exists(target), s"refusing to delete sole copy at ${backup}")
      fs.delete(backup, true)
    }
    val hadTarget = fs.exists(target)
    if (hadTarget) {
      if (!fs.rename(target, backup))
        throw new IllegalStateException(s"could not rename $path aside")
    }
    if (!fs.rename(tmp, target)) {
      if (hadTarget) fs.rename(backup, target) // roll back: table restored
      throw new IllegalStateException(s"could not rename $tmpDir into $path")
    }
    fs.delete(backup, true)
  }

  /** UPDATE … WHERE as read-modify-swap — the reference's post-hoc fix
    * pattern (45 files; e.g. GDPR anonymization,
    * `8_monitoring/gdpr/anonymize_gdpr_columns.sql`): rows matching the
    * condition get the assignments applied; the table is rewritten behind
    * an atomic rename so readers never see a partial update.
    */
  def updateWhere(
      spark: SparkSession,
      path: String,
      condition: org.apache.spark.sql.Column,
      assignments: Map[String, org.apache.spark.sql.Column]): Unit = {
    recoverCrashedSwap(spark, path) // see mergeByKey
    val current = spark.read.parquet(path)
    val updated = assignments.foldLeft(current) { case (df, (c, v)) =>
      df.withColumn(c, when(condition, v).otherwise(col(c)))
    }
    val tmp = path + "__tmp"
    updated.write.mode("overwrite").parquet(tmp)
    atomicSwap(spark, tmp, path)
  }

  /** Bucketed + sorted catalog table — the DISTKEY/SORTKEY analogue
    * (`7_snowplow/2_sessions/01_sessions.sql:3-4`; 73/69 reference files
    * tune these by hand). Two tables bucketed on the same key with the
    * same bucket count join WITHOUT a shuffle — the co-located join the
    * reference buys with DISTSTYLE KEY. Proven plan-level in
    * BucketingSpec.
    */
  def bucketedTable(
      df: DataFrame,
      tableName: String,
      bucketCols: Seq[String],
      numBuckets: Int,
      sortCols: Seq[String] = Nil): Unit = {
    var w = df.write
      .mode("overwrite")
      .format("parquet")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    if (sortCols.nonEmpty) w = w.sortBy(sortCols.head, sortCols.tail: _*)
    w.saveAsTable(tableName)
  }

  /** Export with bounded file sizes (UNLOAD MAXFILESIZE analogue,
    * `4_dwh_risk/sku_market_valuation.sql:146-148`).
    */
  def export(df: DataFrame, path: String, maxRecordsPerFile: Int, singleFile: Boolean = false): Unit = {
    val out = if (singleFile) df.coalesce(1) else df
    out.write.mode("overwrite").option("maxRecordsPerFile", maxRecordsPerFile.toLong).parquet(path)
  }
}
