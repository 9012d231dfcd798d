package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One operation: a query, a script statement, an ingest tick, a
  * pipeline step or an untimed check. `ok` is false when it threw or its
  * output was wrong; only `timed` operations give latencies.
  */
final case class Op(pass: Int, name: String, ms: Double, ok: Boolean, timed: Boolean)

/** Shared state of a run: the op log, the tracer, the Spark probe and
  * the windows (epoch ms) that per-layer metrics are read over.
  */
final class Ctx(val spark: SparkSession, val trace: Trace, val probe: Probe) {
  val ops = mutable.ArrayBuffer.empty[Op]
  val failures = mutable.ArrayBuffer.empty[String]
  /** (pass, key, from, to) — read against the probe after the bus drains */
  val windows = mutable.ArrayBuffer.empty[(Int, String, Long, Long)]
  var pass = -1
  /** true during the timed passes */
  var timedPhase = false

  def fail(what: String): Unit = {
    failures += what
    System.err.println(s"[bench] FAILED $what")
  }

  /** Run one operation; `body` returns whether its output checked out. */
  def op(name: String, layer: String, timed: Boolean = true)(body: => Boolean): Boolean = {
    trace.op += 1
    val t = System.nanoTime()
    val ok =
      try trace.span(name, layer)(body)
      catch {
        case e: Exception =>
          System.err.println(s"[bench] $name threw: ${e.toString.take(400)}")
          false
      }
    record(name, (System.nanoTime() - t) / 1e6, ok, timed)
    ok
  }

  /** An untimed correctness check: an operation without a latency. */
  def check(name: String)(body: => Boolean): Boolean = op(name, "bench", timed = false)(body)

  /** Run a step that is not itself an operation. An exception it lets out
    * is recorded as the failed untimed operation `name` and the run goes
    * on, so the run still ends with its result.
    */
  def guard(name: String)(body: => Unit): Unit =
    try body
    catch {
      case e: Exception =>
        System.err.println(s"[bench] $name threw: ${e.toString.take(400)}")
        record(name, 0.0, ok = false, timed = false)
    }

  def record(name: String, ms: Double, ok: Boolean, timed: Boolean = true): Unit = {
    val t = timed && timedPhase
    ops += Op(pass, name, ms, ok, t)
    if (!ok) fail(if (t) s"pass $pass op $name" else s"check $name")
  }

  /** Time `body` and remember its window under `key` when tracing. */
  def window[T](key: String)(body: => T): T =
    if (!trace.on) body
    else {
      val from = System.currentTimeMillis()
      try body finally windows += ((pass, key, from, System.currentTimeMillis()))
    }
}

trait Workload {
  /** untimed set-up: staging and warm-up (where query results are captured) */
  def setup(ctx: Ctx): Unit
  def pass(ctx: Ctx, p: Int): Unit
  /** per-layer metrics derived from the traced passes' windows */
  def layerMetrics(ctx: Ctx, passWindows: Map[Int, (Long, Long)]): Unit
  /** untimed correctness checks after the timed passes */
  def verify(ctx: Ctx): Unit
}

/** Entry point: `graftbench.Main --workload W --seed N --seconds S
  * --trace 0|1 --work DIR --result FILE --spans FILE`.
  * Inputs are read from DIR/inputs (written by gen.py); everything the
  * run writes stays under DIR.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = a("work")
    val t0 = System.nanoTime()
    val spark = graft.Engine.session(appName = "graftbench")
    val sessionMs = (System.nanoTime() - t0) / 1e6
    val trace = new Trace(t0)
    val ctx = new Ctx(spark, trace, new Probe(spark))
    val wl: Workload = workload match {
      case "queries" => new QueriesWorkload(work, seed)
      case "rebuild" => new RebuildWorkload(work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val setupStart = System.nanoTime()
    ctx.guard("setup")(wl.setup(ctx))
    val setupMs = (System.nanoTime() - setupStart) / 1e6
    val firstOpEpochMs = System.currentTimeMillis()

    // timed passes: whole passes while another one is expected to end
    // nearer the time budget than stopping now would, at least one. A
    // traced run makes exactly one pass, so its counts repeat for a seed.
    val passMs = mutable.ArrayBuffer.empty[Double]
    val passWindows = mutable.Map.empty[Int, (Long, Long)]
    var p = ctx.pass + 1
    val bytes = new ByteCounter
    spark.sparkContext.addSparkListener(bytes)
    if (traced) {
      ctx.probe.start()
      trace.on = true
    }
    ctx.timedPhase = true
    System.gc() // start the timed passes from the same heap state
    val timedStart = System.nanoTime()
    def elapsedS = (System.nanoTime() - timedStart) / 1e9
    while (passMs.isEmpty || (!traced && elapsedS + passMs.sum / passMs.size / 2000.0 < seconds)) {
      ctx.pass = p
      trace.pass = p
      val e0 = System.currentTimeMillis()
      val s = System.nanoTime()
      ctx.guard(s"pass.$p")(trace.span("pass", "bench")(wl.pass(ctx, p)))
      passMs += (System.nanoTime() - s) / 1e6
      passWindows(p) = (e0, System.currentTimeMillis())
      p += 1
    }
    trace.on = false
    ctx.timedPhase = false
    ctx.probe.drain()
    spark.sparkContext.removeSparkListener(bytes)
    val peakRssMb = vmHwmMb()

    val layers = mutable.LinkedHashMap.empty[String, Double]
    if (traced) {
      val tp = passWindows.keys.toSeq.sorted
      ctx.guard("layer metrics")(wl.layerMetrics(ctx, passWindows.toMap))
      val slots = spark.sparkContext.defaultParallelism
      tp.foreach { pp =>
        val (from, to) = passWindows(pp)
        val c = ctx.probe.window(from, to)
        trace.pass = pp
        trace.set("ops.jobs", c.jobs)
        trace.set("ops.stages", c.stages)
        trace.set("ops.tasks", c.tasks)
        trace.set("ops.exchanges", c.exchanges)
        trace.set("ops.broadcasts", c.broadcasts)
        trace.set("ops.idle_slot_pct",
          100.0 * (1.0 - c.taskRunMs.toDouble / math.max(1.0, (to - from).toDouble * slots)))
        trace.set("ops.shuffle_write_bytes", c.shuffleWrite)
        trace.set("ops.shuffle_read_bytes", c.shuffleRead)
        trace.set("ops.spill_bytes", c.spill)
        trace.set("ops.task_run_ms", c.taskRunMs)
        trace.set("ops.task_cpu_ms", c.taskCpuMs)
        trace.set("ops.gc_ms", c.gcMs)
        trace.set("io.write_ms", c.writeMs)
        trace.set("io.bytes_written", c.outputBytes)
        trace.set("io.files_written", c.filesWritten)
        trace.set("io.output_rows", c.outputRows)
        trace.set("io.write_amp", c.outputBytes.toDouble / math.max(1L, c.inputBytes))
      }
      layers ++= trace.medians(tp)
      layers ++= trace.selfMs(tp)
      layers("engine.session_ms") = sessionMs
      layers("warmup_ms") = setupMs
      trace.writeJsonLines(a("spans"))
    }

    val verifyStart = System.nanoTime()
    ctx.guard("verify")(wl.verify(ctx))
    val verifyMs = (System.nanoTime() - verifyStart) / 1e6
    val result = Json.obj(Seq(
      "workload" -> workload,
      "seed" -> seed,
      "session_ms" -> sessionMs,
      "setup_ms" -> setupMs,
      "verify_ms" -> verifyMs,
      "first_op_epoch_ms" -> firstOpEpochMs,
      "pass_ms" -> passMs.toSeq,
      "ops" -> ctx.ops.toSeq.map(o =>
        Map("pass" -> o.pass, "name" -> o.name, "ms" -> o.ms, "ok" -> o.ok, "timed" -> o.timed)),
      "failures" -> ctx.failures.toSeq,
      "peak_rss_mb" -> peakRssMb,
      "bytes_read" -> bytes.read.get,
      "bytes_written" -> bytes.written.get,
      "layers" -> layers.toMap))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$work/oracle_sql.json"),
      Json.obj(graft.SparkEntry.oracleSql.toSeq))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a("result")), result)
    spark.stop()
  }

  /** The process's peak resident set (VmHWM), in MB. */
  private def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }
}
