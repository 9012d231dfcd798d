package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.functions._

import graft.checks.Checks

/** Timestamp-flavor robustness gate.
  *
  * The fixture parquet's `ts` column can decode as `TIMESTAMP_NTZ` or
  * `TIMESTAMP_LTZ` depending on how the writer stamped `isAdjustedToUTC`
  * (the driver regenerated fixtures mid-round-7 and flipped the flavor,
  * breaking `unix_micros` call sites). The engine must be agnostic: every
  * `SparkEntry` query has to at least analyze against BOTH flavors, and the
  * timestamp-arithmetic-heavy ones (q18 gap math, q28/entry sessionization,
  * freshness checks) have to fully execute with identical results.
  */
class TimestampFlavorSpec extends SparkSpec {

  private val srcDir = "/root/testdata/sf0.001"

  /** Fixture dir with `events.ts` forced to the given flavor; every other
    * table is symlinked from sf0.001 unchanged.
    */
  private def flavorDir(flavor: String): String = {
    val dir = java.nio.file.Paths.get(tempDir(s"graft-ts-$flavor"))
    val src = Paths.get(srcDir)
    Files.list(src).forEach { p: Path =>
      if (p.getFileName.toString != "events.parquet")
        Files.createSymbolicLink(dir.resolve(p.getFileName), p)
    }
    Tables.events(spark, srcDir)
      .withColumn("ts", col("ts").cast(flavor))
      .coalesce(1)
      .write.mode("overwrite")
      .parquet(dir.resolve("events.parquet").toString)
    dir.toString
  }

  private lazy val ntzDir = flavorDir("timestamp_ntz")
  private lazy val ltzDir = flavorDir("timestamp_ltz")

  test("fixture copies carry the intended flavors") {
    assert(Tables.events(spark, ntzDir).schema("ts").dataType.typeName === "timestamp_ntz")
    assert(Tables.events(spark, ltzDir).schema("ts").dataType.typeName === "timestamp")
  }

  test("every SparkEntry query analyzes against NTZ and LTZ events") {
    for (dir <- Seq(ntzDir, ltzDir); (name, fn) <- SparkEntry.queries) {
      // analysis (schema resolution) is where DATATYPE_MISMATCH surfaces
      val df = fn(spark, dir)
      assert(df.schema.fields.nonEmpty, s"$name @ $dir")
    }
  }

  test("timestamp-arithmetic queries execute identically on both flavors") {
    for (name <- Seq("q18_lag_lead", "q28_sessions", "q16_dedup_latest")) {
      val fn = SparkEntry.queries(name)
      val ntz = fn(spark, ntzDir)
      val ltz = fn(spark, ltzDir)
      // same rows modulo the ts flavor itself: compare on a canonical form
      val canon = (df: org.apache.spark.sql.DataFrame) => {
        val tsCols = df.schema.fields.filter(_.dataType.typeName.startsWith("timestamp")).map(_.name)
        tsCols.foldLeft(df)((d, c) => d.withColumn(c, col(c).cast("timestamp_ltz")))
      }
      assert(canon(ntz).exceptAll(canon(ltz)).isEmpty &&
        canon(ltz).exceptAll(canon(ntz)).isEmpty, name)
      assert(ntz.count() > 0, name)
    }
  }

  test("Checks.freshness and fused runner accept NTZ, LTZ and java8 Instant") {
    val now = java.time.Instant.parse("2026-01-01T00:00:00Z")
    for (dir <- Seq(ntzDir, ltzDir)) {
      val ev = Tables.events(spark, dir)
      val r = Checks.freshness(ev, "ts", maxAgeHours = 24 * 365 * 50, now = now)
      assert(r.passed, s"$dir: ${r.detail}")
      val fused = Checks.runFused(ev, Seq(Checks.FreshnessSpec("ts", 24 * 365 * 50)), now)
      assert(fused.forall(_.passed), s"$dir: $fused")
    }
    assert(Checks.tsToInstant(java.sql.Timestamp.from(now)) === now)
    assert(Checks.tsToInstant(now) === now)
    assert(Checks.tsToInstant(
      java.time.LocalDateTime.ofInstant(now, java.time.ZoneOffset.UTC)) === now)
  }
}
