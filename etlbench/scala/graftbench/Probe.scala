package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters Spark reports for one wall-clock window. */
final case class Counters(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    exchanges: Long = 0, broadcasts: Long = 0,
    shuffleWrite: Long = 0, shuffleRead: Long = 0, spill: Long = 0,
    taskRunMs: Long = 0, taskCpuMs: Long = 0, gcMs: Long = 0,
    inputRows: Long = 0, inputBytes: Long = 0,
    outputRows: Long = 0, outputBytes: Long = 0, filesWritten: Long = 0,
    jobMs: Long = 0, writeMs: Double = 0)

/** Reads the engine from outside: a [[SparkListener]] for jobs, stages and
  * task metrics, a [[QueryExecutionListener]] for final physical plans,
  * and Spark's SQL status store for write statistics. Events are kept
  * with their wall-clock times (epoch ms) and attributed to whatever
  * window they fall in, so no engine code needs to know it is observed.
  */
final class Probe(spark: SparkSession) {
  private case class Job(submit: Long, end: Long)
  private case class Task(launch: Long, run: Long, cpuNs: Long, gc: Long, shufW: Long,
      shufR: Long, spill: Long, inRows: Long, inBytes: Long, outRows: Long, outBytes: Long)
  private case class Plan(end: Long, durMs: Double, exchanges: Int, broadcasts: Int, write: Boolean)

  private val jobStarts = mutable.Map.empty[Int, Long]
  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val stages = mutable.ArrayBuffer.empty[Long]
  private val tasks = mutable.ArrayBuffer.empty[Task]
  private val plans = mutable.ArrayBuffer.empty[Plan]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Probe.this.synchronized { jobStarts(e.jobId) = e.time }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Probe.this.synchronized {
      jobStarts.remove(e.jobId).foreach(s => jobs += Job(s, e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Probe.this.synchronized { e.stageInfo.submissionTime.foreach(stages += _) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) Probe.this.synchronized {
        tasks += Task(e.taskInfo.launchTime, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.inputMetrics.recordsRead, m.inputMetrics.bytesRead,
          m.outputMetrics.recordsWritten, m.outputMetrics.bytesWritten)
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val (ex, bc, write) = Probe.planShape(qe.executedPlan)
      Probe.this.synchronized {
        plans += Plan(System.currentTimeMillis(), durationNs / 1e6, ex, bc, write)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(planListener)
  }

  /** Wait for the listener bus so a window read now is complete. */
  def drain(): Unit = org.apache.spark.BusDrain(spark.sparkContext)

  /** Sum of every counter whose event falls in [from, to] (epoch ms). */
  def window(from: Long, to: Long): Counters = synchronized {
    def in(t: Long) = t >= from && t <= to
    val js = jobs.filter(j => in(j.submit))
    val ts = tasks.filter(t => in(t.launch))
    val ps = plans.filter(p => in(p.end))
    Counters(
      jobs = js.size, stages = stages.count(in), tasks = ts.size,
      exchanges = ps.map(_.exchanges.toLong).sum, broadcasts = ps.map(_.broadcasts.toLong).sum,
      shuffleWrite = ts.map(_.shufW).sum, shuffleRead = ts.map(_.shufR).sum,
      spill = ts.map(_.spill).sum, taskRunMs = ts.map(_.run).sum,
      taskCpuMs = ts.map(_.cpuNs).sum / 1000000, gcMs = ts.map(_.gc).sum,
      inputRows = ts.map(_.inRows).sum, inputBytes = ts.map(_.inBytes).sum,
      outputRows = ts.map(_.outRows).sum, outputBytes = ts.map(_.outBytes).sum,
      filesWritten = filesWritten(from, to),
      jobMs = Probe.unionMs(js.map(j => (j.submit, j.end)).toSeq),
      writeMs = ps.filter(_.write).map(_.durMs).sum)
  }

  /** Files written by SQL executions submitted in the window, as Spark's
    * own SQL status store counts them.
    */
  private def filesWritten(from: Long, to: Long): Long = {
    import scala.jdk.CollectionConverters._
    val store = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.statusStore
    store.executionsList().iterator
      .filter(e => e.submissionTime >= from && e.submissionTime <= to)
      .map { e =>
        val ids = e.metrics.filter(_.name == "number of written files").map(_.accumulatorId).toSet
        if (ids.isEmpty) 0L
        else {
          val values = Option(e.metricValues).getOrElse(store.executionMetrics(e.executionId))
          ids.toSeq.flatMap(values.get).map(v => v.trim.replace(",", "").toLong).sum
        }
      }.sum
  }
}

/** Bytes read and written by tasks — the only counters an untraced run
  * keeps, for its write amplification.
  */
final class ByteCounter extends SparkListener {
  val read = new java.util.concurrent.atomic.AtomicLong
  val written = new java.util.concurrent.atomic.AtomicLong
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      read.addAndGet(m.inputMetrics.bytesRead)
      written.addAndGet(m.outputMetrics.bytesWritten)
    }
  }
}

object Probe extends AdaptiveSparkPlanHelper {

  /** (exchanges, broadcasts, is a write) in a final plan, looking through
    * adaptive query stages and subqueries. Reused exchanges run once and
    * are not counted again.
    */
  def planShape(plan: SparkPlan): (Int, Int, Boolean) = {
    val kinds = collectWithSubqueries(plan) {
      case _: ShuffleExchangeLike => 0
      case _: BroadcastExchangeLike => 1
      case p if p.nodeName.contains("Write") || p.nodeName.contains("Insert") => 2
    }
    (kinds.count(_ == 0), kinds.count(_ == 1), kinds.contains(2))
  }

  /** Total length of the union of [start, end] intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
