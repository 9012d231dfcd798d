package graftbench

import graft.SparkEntry

/** The relational DataFrame queries of [[SparkEntry.queries]] (q01-q28,
  * from `graft.Queries`) over small generated inputs, each forced through
  * the `noop` sink. A pass runs every query once, in an order permuted by
  * seed and pass.
  */
final class QueriesWorkload(work: String, seed: Long) extends Workload {
  private val dir = s"$work/inputs/base"
  private val capture = s"$work/capture"
  val names: Seq[String] =
    SparkEntry.queries.keys.toSeq.filter(QueriesWorkload.Relational).sorted

  /** The warm-up pass writes every result to parquet for the oracle. It
    * is untimed, so it runs queries on one driver thread per core: cold
    * planning and code generation are single-threaded driver work.
    */
  def setup(ctx: Ctx): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      ctx.spark.sparkContext.defaultParallelism)
    try {
      val failed = names.map { n =>
        n -> pool.submit[Boolean] { () =>
          try {
            SparkEntry.queries(n)(ctx.spark, dir).write.mode("overwrite").parquet(s"$capture/$n")
            true
          } catch {
            case e: Exception =>
              System.err.println(s"[bench] $n threw during capture: ${e.toString.take(400)}")
              false
          }
        }
      }.filterNot(_._2.get)
      failed.foreach { case (n, _) => ctx.fail(s"capture $n") }
    } finally pool.shutdown()
  }

  def pass(ctx: Ctx, p: Int): Unit = {
    val order = new scala.util.Random(seed * 1000003L + p).shuffle(names)
    order.foreach { n =>
      ctx.window(s"q.$n") {
        ctx.op(n, "query") {
          val t = ctx.trace
          val df = t.timed("plan.build_ms", "plan")(SparkEntry.queries(n)(ctx.spark, dir))
          if (t.on) t.timed("plan.optimize_ms", "plan")(df.queryExecution.executedPlan)
          t.timed("exec_ms", "exec")(df.write.format("noop").mode("overwrite").save())
          true
        }
      }
      if (ctx.trace.on) ctx.trace.add(s"q.$n.ms", ctx.ops.last.ms)
    }
  }

  def layerMetrics(ctx: Ctx, passWindows: Map[Int, (Long, Long)]): Unit = {
    // exec time per input row over the expression-bound queries
    passWindows.keys.foreach { p =>
      val ws = ctx.windows.filter(w => w._1 == p && QueriesWorkload.ExpressionBound(w._2.stripPrefix("q.")))
      val rows = ws.map(w => ctx.probe.window(w._3, w._4).inputRows).sum
      val ms = ctx.ops.filter(o => o.pass == p && QueriesWorkload.ExpressionBound(o.name)).map(_.ms).sum
      ctx.trace.pass = p
      ctx.trace.set("expressions.ns_per_row", if (rows == 0) 0.0 else ms * 1e6 / rows)
    }
  }

  def verify(ctx: Ctx): Unit = ()
}

object QueriesWorkload {
  /** q01-q28, the queries of `graft.Queries` */
  def Relational(name: String): Boolean = name.drop(1).takeWhile(_.isDigit).toInt <= 28

  val Scripts: Set[String] =
    Set("q54_script_subscription", "q55_script_historical", "q62_lateral_window")

  /** Queries whose cost is mostly per-row expression evaluation (string,
    * date, math and JSON functions) rather than exchanges.
    */
  val ExpressionBound: Set[String] =
    Set("q23_string_funcs", "q24_date_funcs", "q25_math_case", "q26_json")
}
