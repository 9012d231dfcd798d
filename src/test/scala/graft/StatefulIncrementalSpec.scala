package graft

import graft.checks.Checks
import graft.io.Writers
import graft.ops.Ops
import graft.streaming.Stateful
import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StatefulIncrementalSpec extends SparkSpec {
  import sqlImplicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("stateful entityState maintains running state across streaming batches") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Stateful.EntityEvent]
    val q = Stateful.entityStateQuery(
      input.toDS(), tempDir("graft-state"), "entity_state_test")
      .start()
    try {
      input.addData(
        Stateful.EntityEvent(1L, "signup", ts("2024-01-01 10:00:00"), 0.0),
        Stateful.EntityEvent(1L, "purchase", ts("2024-01-01 11:00:00"), 9.5))
      q.processAllAvailable()
      input.addData(Stateful.EntityEvent(1L, "purchase", ts("2024-01-01 12:00:00"), 0.5))
      q.processAllAvailable()
      val out = spark.sql(
        "SELECT nEvents, lastEventType, totalValue FROM entity_state_test " +
          "ORDER BY nEvents DESC LIMIT 1").collect()(0)
      // state carried across batches: 3 events total, last=purchase, sum=10.0
      assert(out.getLong(0) === 3L)
      assert(out.getString(1) === "purchase")
      assert(out.getDouble(2) === 10.0)
    } finally q.stop()
  }

  test("skewSaltedJoin matches plain join results under a hot key") {
    val left = (1 to 500).map(i => (if (i % 10 == 0) 7L else i.toLong, s"v$i")).toDF("k", "lv")
    val right = Seq((7L, "hot"), (3L, "cold"), (999L, "unseen")).toDF("k", "rv")
    val plain = left.join(right, Seq("k"), "inner")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted.toSeq
    val salted = Ops.skewSaltedJoin(left, right, Seq("k"), saltFactor = 8)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted.toSeq
    assert(salted === plain && plain.nonEmpty)
  }

  test("incremental window reload end-to-end: dedup + partition overwrite, idempotent") {
    // the reference's 01_track_events_incremental pattern: reprocess a
    // 2-day window, dedup on message id, DELETE+INSERT the window only
    val target = tempDir("graft-incr") + "/t"
    val day1 = Seq((1L, "2024-01-01", "a"), (2L, "2024-01-01", "b")).toDF("mid", "d", "v")
    Writers.overwritePartitions(day1, target, Seq("d"))

    // late + duplicate + corrected events arrive for day 1–2
    val increment = Seq(
      (2L, "2024-01-01", "b_corrected"), (2L, "2024-01-01", "b_corrected"),
      (3L, "2024-01-02", "c"))
      .toDF("mid", "d", "v")
    def reload(): Unit = {
      val existing = spark.read.parquet(target).filter(col("d") >= "2024-01-01")
      val merged = Ops.dedupLatest(
        existing.withColumn("__prio", lit(0))
          .unionByName(increment.withColumn("__prio", lit(1))),
        Seq(col("mid")),
        Seq(col("__prio").desc)).drop("__prio")
      Writers.overwritePartitions(merged, target, Seq("d"))
    }
    reload(); reload() // rerun must be a no-op (idempotence)

    // partition-table read order: data columns (mid, v) then partition col d
    val out = spark.read.parquet(target)
      .collect().map(r => (r.getLong(0), r.getString(1), r.get(2).toString)).sorted.toSeq
    assert(out === Seq(
      (1L, "a", "2024-01-01"), (2L, "b_corrected", "2024-01-01"), (3L, "c", "2024-01-02")))
    assert(Checks.unique(spark.read.parquet(target), Seq("mid")).passed)
    assert(Checks.dateContinuity(spark.read.parquet(target), "d").passed)
  }
}
