package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Micro-batch streaming ingestion (SURVEY §2.14, §3.2) — the Spark-native
  * form of the reference's Firehose→rewriter→Spectrum path
  * (`data-airflow-prod/business_logic/segment/parquet_rewriter.py:29-97`).
  *
  * One Structured Streaming job replaces the reference's three moving parts
  * (hourly rewriter, Glue partition handler, incremental DELETE+INSERT):
  * file/Kafka source → parse → watermark dedup → foreachBatch dynamic
  * partition overwrite. `Trigger.AvailableNow` gives the reference's
  * cron-cadence semantics with streaming exactly-once bookkeeping. Like the
  * rewriter, the sink compacts: every hour partition it touches ends up as
  * one parquet file (see [[mergeBatchIntoPartitions]]).
  */
object Ingest {

  /** JSON-lines directory → deduplicated, date/hour-partitioned Parquet.
    *
    * @param idCol       dedup key (the reference dedups on `message_id`,
    *                    `30_segment_events/01_track_events_incremental.sql:24`)
    * @param tsCol       event-time column used for the watermark
    * @param lateness    allowed lateness (reference: 2h lookback,
    *                    `parquet_rewriter.py:54`)
    */
  def jsonLinesToPartitionedParquet(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      targetDir: String,
      checkpointDir: String,
      idCol: String,
      tsCol: String,
      lateness: String = "2 hours"): StreamingQuery = {
    val parsed = spark.readStream
      .schema(schema)
      .json(sourceDir)
      .withWatermark(tsCol, lateness)
      .dropDuplicates(idCol, tsCol)
      .withColumn("date", to_date(col(tsCol)))
      .withColumn("hour", hour(col(tsCol)))

    parsed.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        mergeBatchIntoPartitions(batch, targetDir, Seq(idCol, tsCol))
      }
      .start()
  }

  /** Merge one micro-batch into a date/hour-partitioned parquet target.
    *
    * Dynamic partition overwrite alone would replace each touched partition
    * with ONLY the batch's rows — on recurring runs, a late event for an
    * already-written hour would silently delete that hour's earlier rows.
    * So: union the batch with the current contents of exactly the
    * partitions it touches (partition-pruned read), dedup on the id key,
    * then dynamically overwrite those partitions. Idempotent under batch
    * replay (the dedup absorbs re-delivered rows) and still atomic per
    * partition via the overwrite commit.
    *
    * Layout: the merged rows are hash-clustered by (date, hour) before the
    * write, so each touched hour directory is rewritten as exactly one
    * parquet file — the reference rewriter's output shape, one file per
    * hour partition. The dedup runs inside that same shuffle: `date` and
    * `hour` are functions of the event time, which is in the dedup key, so
    * widening the key by them keeps the same rows, and the clustering
    * satisfies the aggregate's distribution (one exchange, not two). A
    * plain repartition, not a rebalance: AQE may split a skewed rebalance
    * partition, which would break the co-location the dedup relies on.
    *
    * Scale: a batch touches O(lateness/hour) partitions; the merge re-reads
    * and rewrites only those, never the table, with one writer task per
    * hour partition — the reference's own unit of work (one 10 GiB / 4 vCPU
    * rewriter task per hour,
    * `data-airflow-prod/dags/segment/parquet_rewriter.py:14-20`). The
    * `collect()` is over the distinct touched (date, hour) pairs — bounded
    * and tiny by design.
    */
  private[graft] def mergeBatchIntoPartitions(
      batch: DataFrame,
      targetDir: String,
      dedupKey: Seq[String]): Unit = {
    val spark = batch.sparkSession
    val b = batch.persist()
    try {
      val touched = b.select(col("date"), col("hour")).distinct().collect()
      if (touched.nonEmpty) {
        val existing =
          try {
            // null-safe equality: a malformed record with null event time
            // lands in the null partition — plain === never matches null,
            // so its existing rows would be clobbered by the overwrite
            // (the exact late-event loss mode this merge prevents)
            val touchedFilter = touched
              .map(r => col("date") <=> lit(r.get(0)) && col("hour") <=> lit(r.get(1)))
              .reduce(_ || _)
            spark.read
              .schema(b.schema)
              .parquet(targetDir)
              .filter(touchedFilter)
              // REQUIRED barrier: we are about to overwrite the very
              // partition directories this plan reads — materialize first
              .localCheckpoint()
          } catch {
            // first batch: target doesn't exist yet
            case _: org.apache.spark.sql.AnalysisException =>
              spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], b.schema)
          }
        b.unionByName(existing)
          .repartition(col("date"), col("hour"))
          .dropDuplicates(Seq("date", "hour") ++ dedupKey)
          .write
          .mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("date", "hour")
          .parquet(targetDir)
      }
    } finally b.unpersist()
  }

  /** The wire schema the `spark-sql-kafka` source emits — pinned here so
    * the contract test and a real Kafka deployment share one shape.
    */
  val kafkaWireSchema: StructType = StructType(Seq(
    org.apache.spark.sql.types.StructField("key", org.apache.spark.sql.types.BinaryType),
    org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.BinaryType),
    org.apache.spark.sql.types.StructField("topic", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("partition", org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("offset", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("timestamp", org.apache.spark.sql.types.TimestampType),
    org.apache.spark.sql.types.StructField("timestampType", org.apache.spark.sql.types.IntegerType)))

  /** Kafka entity-event ingestion (SURVEY §2.1 S5): the same
    * parse → watermark-dedup → date/hour merge-sink chain as the file
    * source, over the exact DataFrame shape the `spark-sql-kafka` source
    * produces (`value` is the JSON payload). In production the input is
    * `spark.readStream.format("kafka")…load()` — the connector jar is not
    * in this container, so the contract test drives the chain with a
    * MemoryStream of [[kafkaWireSchema]]-shaped records; everything from
    * the first select onward is identical either way.
    */
  def kafkaShapedToPartitionedParquet(
      kafka: DataFrame,
      schema: StructType,
      targetDir: String,
      checkpointDir: String,
      idCol: String,
      tsCol: String,
      lateness: String = "2 hours"): StreamingQuery = {
    val parsed = kafka
      .select(from_json(col("value").cast("string"), schema).as("__r"))
      .select("__r.*")
      .withWatermark(tsCol, lateness)
      .dropDuplicates(idCol, tsCol)
      .withColumn("date", to_date(col(tsCol)))
      .withColumn("hour", hour(col(tsCol)))
    parsed.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        mergeBatchIntoPartitions(batch, targetDir, Seq(idCol, tsCol))
      }
      .start()
  }

  /** Windowed streaming aggregation with watermark (tumbling event-time
    * windows — the daily/weekly KPI tables' streaming form).
    */
  def windowedCounts(
      events: DataFrame,
      tsCol: String,
      windowLen: String,
      lateness: String,
      keyCols: Seq[String]): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy((window(col(tsCol), windowLen) +: keyCols.map(col)): _*)
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
}
