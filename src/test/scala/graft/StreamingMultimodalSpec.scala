package graft

import graft.multimodal.Multimodal
import graft.streaming.Ingest
import java.nio.file.Files
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

class StreamingMultimodalSpec extends SparkSpec {

  test("jsonLinesToPartitionedParquet ingests, dedups, partitions (AvailableNow e2e)") {
    val base = tempDir("graft-stream")
    val src = s"$base/src"; val tgt = s"$base/tgt"; val chk = s"$base/chk"
    new java.io.File(src).mkdirs()
    Files.writeString(java.nio.file.Paths.get(s"$src/batch1.json"),
      """{"id":"a","ts":"2024-01-01T10:00:00.000Z","v":1}
        |{"id":"b","ts":"2024-01-01T11:30:00.000Z","v":2}
        |{"id":"a","ts":"2024-01-01T10:00:00.000Z","v":1}
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("id", StringType), StructField("ts", TimestampType),
      StructField("v", IntegerType)))
    val q = Ingest.jsonLinesToPartitionedParquet(
      spark, src, schema, tgt, chk, idCol = "id", tsCol = "ts")
    q.awaitTermination(60000)
    val out = spark.read.parquet(tgt)
    assert(out.count() === 2) // duplicate "a" dropped
    assert(out.select("hour").distinct().collect().map(_.getInt(0)).sorted.toSeq === Seq(10, 11))
  }

  test("late events for an already-written hour merge instead of clobbering it") {
    val base = tempDir("graft-stream-late")
    val src = s"$base/src"; val tgt = s"$base/tgt"; val chk = s"$base/chk"
    new java.io.File(src).mkdirs()
    val schema = StructType(Seq(
      StructField("id", StringType), StructField("ts", TimestampType),
      StructField("v", IntegerType)))
    // run 1: two events in hour 10
    Files.writeString(java.nio.file.Paths.get(s"$src/batch1.json"),
      """{"id":"a","ts":"2024-01-01T10:00:00.000Z","v":1}
        |{"id":"b","ts":"2024-01-01T10:30:00.000Z","v":2}
        |""".stripMargin)
    Ingest.jsonLinesToPartitionedParquet(
      spark, src, schema, tgt, chk, idCol = "id", tsCol = "ts").awaitTermination(60000)
    assert(spark.read.parquet(tgt).count() === 2)
    // run 2 (cron-cadence restart, same checkpoint): a LATE event lands in
    // hour 10 alongside a new hour-11 event, plus a replay of id=a that the
    // merge dedup must absorb
    Files.writeString(java.nio.file.Paths.get(s"$src/batch2.json"),
      """{"id":"c","ts":"2024-01-01T10:45:00.000Z","v":3}
        |{"id":"d","ts":"2024-01-01T11:05:00.000Z","v":4}
        |{"id":"a","ts":"2024-01-01T10:00:00.000Z","v":1}
        |""".stripMargin)
    Ingest.jsonLinesToPartitionedParquet(
      spark, src, schema, tgt, chk, idCol = "id", tsCol = "ts").awaitTermination(60000)
    val out = spark.read.parquet(tgt)
    // pre-fix, dynamic overwrite replaced hour 10 with only the late row,
    // losing a and b
    assert(out.filter(col("hour") === 10).select("id").collect().map(_.getString(0)).sorted.toSeq
      === Seq("a", "b", "c"))
    assert(out.count() === 4)
    // the merge rewrites each touched hour as one file, like the rewriter
    assert(StreamingMultimodalSpec.parquetFilesPerHourDir(tgt) ===
      Map("date=2024-01-01/hour=10" -> 1, "date=2024-01-01/hour=11" -> 1))
  }

  test("merge sink: batch replay is idempotent, one file per hour, one shuffle") {
    import sqlImplicits._
    // three hours over two days, with an in-batch duplicate and two rows
    // sharing an id at different event times (both kept: ts is in the key)
    val batch = Seq(
      ("a", "2024-01-01 10:00:00", 1), ("b", "2024-01-01 10:30:00", 2),
      ("a", "2024-01-01 10:00:00", 1), ("c", "2024-01-01 11:05:00", 3),
      ("c", "2024-01-02 00:15:00", 4), ("d", "2024-01-02 00:45:00", 5))
      .toDF("id", "ts", "v")
      .withColumn("ts", to_timestamp(col("ts")))
      .withColumn("date", to_date(col("ts")))
      .withColumn("hour", hour(col("ts")))
    val shuffles = new java.util.concurrent.ConcurrentLinkedQueue[Int]
    val helper = new AdaptiveSparkPlanHelper {}
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val plan = qe.executedPlan
        if (helper.collect(plan) { case w: DataWritingCommandExec => w }.nonEmpty)
          shuffles.add(helper.collect(plan) { case e: ShuffleExchangeExec => e }.size)
      }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    val aqeKey = "spark.sql.adaptive.enabled"
    val aqeWas = spark.conf.get(aqeKey)
    spark.listenerManager.register(listener)
    // a stream's micro-batches run with AQE off (Structured Streaming
    // disables it), a direct caller's with it on: neither may change the
    // layout or add a shuffle
    try for (aqe <- Seq("false", "true")) {
      spark.conf.set(aqeKey, aqe)
      shuffles.clear()
      val tgt = tempDir("graft-merge-replay") + "/tgt"
      def rows() = spark.read.parquet(tgt).orderBy("id", "ts").collect().map(_.toString).toSeq
      Ingest.mergeBatchIntoPartitions(batch, tgt, Seq("id", "ts"))
      val first = rows()
      assert(first.size === 5, first)
      Ingest.mergeBatchIntoPartitions(batch, tgt, Seq("id", "ts"))
      assert(rows() === first, s"AQE $aqe")
      // the listener bus is asynchronous: wait for both writes' plans
      val deadline = System.currentTimeMillis() + 30000
      while (shuffles.size < 2 && System.currentTimeMillis() < deadline) Thread.sleep(50)
      // into an empty target and into existing partitions alike, the
      // clustering shuffle is the only one: the dedup adds no exchange
      assert(shuffles.toArray.toSeq === Seq(1, 1), s"AQE $aqe")
      assert(StreamingMultimodalSpec.parquetFilesPerHourDir(tgt) === Map(
        "date=2024-01-01/hour=10" -> 1, "date=2024-01-01/hour=11" -> 1,
        "date=2024-01-02/hour=0" -> 1), s"AQE $aqe")
    } finally {
      spark.listenerManager.unregister(listener)
      spark.conf.set(aqeKey, aqeWas)
    }
  }

  test("null-timestamp rows land in the null partition and survive later merges") {
    val base = tempDir("graft-stream-nullts")
    val src = s"$base/src"; val tgt = s"$base/tgt"; val chk = s"$base/chk"
    new java.io.File(src).mkdirs()
    val schema = StructType(Seq(
      StructField("id", StringType), StructField("ts", TimestampType),
      StructField("v", IntegerType)))
    // run 1: a malformed record (null ts → null date/hour partition)
    Files.writeString(java.nio.file.Paths.get(s"$src/batch1.json"),
      """{"id":"ok1","ts":"2024-01-01T10:00:00.000Z","v":1}
        |{"id":"bad1","ts":null,"v":9}
        |""".stripMargin)
    Ingest.jsonLinesToPartitionedParquet(
      spark, src, schema, tgt, chk, idCol = "id", tsCol = "ts").awaitTermination(60000)
    assert(spark.read.parquet(tgt).count() === 2)
    // run 2: ANOTHER malformed record touches the null partition — with a
    // plain === touched-filter the null partition's existing rows are not
    // read back and the dynamic overwrite deletes bad1
    Files.writeString(java.nio.file.Paths.get(s"$src/batch2.json"),
      """{"id":"bad2","ts":null,"v":8}
        |""".stripMargin)
    Ingest.jsonLinesToPartitionedParquet(
      spark, src, schema, tgt, chk, idCol = "id", tsCol = "ts").awaitTermination(60000)
    val out = spark.read.parquet(tgt)
    assert(out.filter(col("date").isNull).select("id")
      .collect().map(_.getString(0)).sorted.toSeq === Seq("bad1", "bad2"))
    assert(out.count() === 3)
  }

  test("windowedCounts groups into tumbling event-time windows") {
    import sqlImplicits._
    val events = Seq(
      ("2024-01-01 10:05:00", "x", 1.0), ("2024-01-01 10:55:00", "x", 2.0),
      ("2024-01-01 11:05:00", "x", 4.0))
      .toDF("ts", "k", "value").withColumn("ts", col("ts").cast("timestamp"))
    val out = Ingest.windowedCounts(events, "ts", "1 hour", "2 hours", Seq("k"))
      .select(col("window.start").cast("string").as("s"), col("n"), col("total_value"))
      .orderBy("s").collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(out === Seq(("2024-01-01 10:00:00", 2L, 3.0), ("2024-01-01 11:00:00", 1L, 4.0)))
  }

  test("multimodal stages stay in the Dataset world: no ExistingRDD in the plan") {
    val media = Multimodal.synthetic(spark, 30)
    for (df <- Seq(Multimodal.extractFeatures(media, dim = 8),
                   Multimodal.resizeImages(media, maxDim = 100))) {
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("ExistingRDD"), p)
      assert(p.contains("MapPartitions"), p)
      assert(p.contains("SerializeFromObject"), p) // Tungsten on the way out
    }
  }

  test("multimodal feature extraction is deterministic and schema-stable") {
    val media = Multimodal.synthetic(spark, 30)
    val f1 = Multimodal.extractFeatures(media, dim = 8)
    assert(f1.schema.fieldNames.last === "features")
    val norms1 = f1.select(col("media_id"), col("features"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val norms2 = Multimodal.extractFeatures(media, dim = 8)
      .select(col("media_id"), col("features"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(norms1 === norms2)
    assert(norms1.values.forall(_.length === 8))
    // metadata-only projection never touches the binary column
    val meta = Multimodal.metadataOnly(media)
    assert(!meta.schema.fieldNames.contains("content"))
    assert(meta.count() === 30)
  }

  test("resizeImages bounds dimensions and leaves non-images untouched") {
    val media = Multimodal.synthetic(spark, 30)
    val out = Multimodal.resizeImages(media, maxDim = 100)
    val images = out.filter(col("media_type") === "image").collect()
    assert(images.nonEmpty)
    images.foreach { r =>
      assert(r.getInt(3) <= 100 && r.getInt(4) <= 100) // width, height bounded
      assert(r.getInt(3) === 100) // 640x480 → 100x75
      assert(r.getInt(4) === 75)
    }
    val audio = out.filter(col("media_type") === "audio").count()
    assert(audio === media.filter(col("media_type") === "audio").count())
  }

  test("sampleFrames fans each video out to ordinal frame rows") {
    val media = Multimodal.synthetic(spark, 30)
    val frames = Multimodal.sampleFrames(media, everyNth = 5)
    assert(frames.columns.toSeq ===
      Seq("media_id", "frame_idx", "frame_ts_ms", "frame", "format"))
    val byVideo = frames.groupBy("media_id").count().collect()
    assert(byVideo.nonEmpty)
    // frame indices step by 5 from 0
    val idxs = frames.filter(col("media_id") === byVideo.map(_.getLong(0)).max)
      .select("frame_idx").collect().map(_.getLong(0)).sorted.toSeq
    assert(idxs === idxs.indices.map(_ * 5L))
  }
}

object StreamingMultimodalSpec {

  /** Parquet data files in each `date=…/hour=…` directory of a target. */
  def parquetFilesPerHourDir(target: String): Map[String, Int] = {
    def dirs(f: java.io.File, prefix: String) =
      f.listFiles().toSeq.filter(d => d.isDirectory && d.getName.startsWith(prefix))
    (for {
      d <- dirs(new java.io.File(target), "date=")
      h <- dirs(d, "hour=")
    } yield s"${d.getName}/${h.getName}" ->
      h.listFiles().count(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))).toMap
  }
}
