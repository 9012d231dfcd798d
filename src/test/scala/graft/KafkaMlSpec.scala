package graft

import graft.ml.Scoring
import graft.streaming.Ingest
import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Kafka-source contract (S5) and the ML scoring hook (M7). */
class KafkaMlSpec extends SparkSpec {
  import sqlImplicits._

  /** Exactly the spark-sql-kafka source row shape. */
  case class KafkaRecord(
      key: Array[Byte], value: Array[Byte], topic: String,
      partition: Int, offset: Long,
      timestamp: java.sql.Timestamp, timestampType: Int)

  private def rec(offset: Long, json: String): KafkaRecord =
    KafkaRecord(null, json.getBytes("UTF-8"), "entity-events", 0, offset,
      java.sql.Timestamp.valueOf("2024-01-01 12:00:00"), 0)

  test("kafka-shaped stream runs the same parse/dedup/merge-sink chain (S5 contract)") {
    val base = Files.createTempDirectory("graft-kafka").toString
    val tgt = s"$base/tgt"; val chk = s"$base/chk"
    val schema = StructType(Seq(
      StructField("id", StringType), StructField("ts", TimestampType),
      StructField("v", IntegerType)))
    implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[KafkaRecord]
    // the MemoryStream DF has the kafka wire shape (names + types; the
    // case class's primitives are non-nullable, which only narrows it)
    assert(input.toDF().schema.map(f => (f.name, f.dataType)) ===
      Ingest.kafkaWireSchema.map(f => (f.name, f.dataType)))
    input.addData(
      rec(0, """{"id":"a","ts":"2024-01-01T10:00:00.000Z","v":1}"""),
      rec(1, """{"id":"b","ts":"2024-01-01T10:30:00.000Z","v":2}"""),
      rec(2, """{"id":"a","ts":"2024-01-01T10:00:00.000Z","v":1}""")) // dup
    Ingest.kafkaShapedToPartitionedParquet(
      input.toDF(), schema, tgt, chk, idCol = "id", tsCol = "ts")
      .awaitTermination(60000)
    assert(spark.read.parquet(tgt).count() === 2) // dup dropped

    // second trigger run: a LATE hour-10 record merges instead of clobbering
    input.addData(
      rec(3, """{"id":"c","ts":"2024-01-01T10:45:00.000Z","v":3}"""),
      rec(4, """{"id":"d","ts":"2024-01-01T11:05:00.000Z","v":4}"""))
    Ingest.kafkaShapedToPartitionedParquet(
      input.toDF(), schema, tgt, chk, idCol = "id", tsCol = "ts")
      .awaitTermination(60000)
    val out = spark.read.parquet(tgt)
    assert(out.filter(col("hour") === 10).count() === 3) // a, b, c all present
    assert(out.count() === 4)
    // one file per hour partition
    assert(StreamingMultimodalSpec.parquetFilesPerHourDir(tgt) ===
      Map("date=2024-01-01/hour=10" -> 1, "date=2024-01-01/hour=11" -> 1))
  }

  test("churn scoring: features -> fit -> score -> writeback (M7 loop)") {
    val events = Tables.read(spark, "/root/testdata/sf0.001", "events")
    val anchor = java.sql.Date.valueOf("2024-07-01")
    val features = Scoring.churnFeatures(events, anchor)
    assert(features.count() === 15)
    assert(features.columns.toSet ===
      (Set("user_id") ++ Scoring.FeatureCols))
    // deterministic separable labels: churn = below-median activity
    val median = features.stat.approxQuantile("n_events", Array(0.5), 0.0)(0)
    val labels = features
      .select(col("user_id"), (col("n_events") < median).cast("double").as("label"))
    val out = Files.createTempDirectory("graft-ml").toString + "/scores"
    val scores = Scoring.churnScoresWriteback(events, labels, anchor, out)
    assert(scores.count() === 15)
    assert(scores.columns.toSeq ===
      Seq("user_id", "churn_probability", "churn_predicted"))
    assert(scores.schema === spark.read.parquet(out).schema)
    // probabilities are valid and the model separates the planted signal:
    // mean probability among labeled churners exceeds non-churners
    val joined = scores.join(labels, "user_id")
    val probs = joined.groupBy(col("label"))
      .agg(avg(col("churn_probability")).as("p"))
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(probs(1.0) > probs(0.0), probs.toString)
    scores.collect().foreach { r =>
      val p = r.getDouble(1)
      assert(p >= 0.0 && p <= 1.0)
    }
    // writeback is a real table on disk
    assert(spark.read.parquet(out).count() === 15)
  }
}
