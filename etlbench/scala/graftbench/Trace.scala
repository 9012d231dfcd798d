package graftbench

import scala.collection.mutable

/** One timed call into a layer. Times are ms since the run started. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    pass: Int, op: Int, start: Double, end: Double)

/** In-memory span recorder plus per-pass metric sums. When off, [[span]]
  * only runs its body, so untraced passes carry no timers.
  */
final class Trace(t0: Long) {
  var on = false
  var pass = -1
  var op = -1
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  /** metric -> pass -> summed value, for traced passes only */
  private val sums = mutable.LinkedHashMap.empty[String, mutable.Map[Int, Double]]

  def nowMs: Double = (System.nanoTime() - t0) / 1e6

  def span[T](name: String, layer: String)(body: => T): T =
    if (!on) body
    else {
      val id = spans.size
      val start = nowMs
      spans += Span(id, stack.headOption.getOrElse(-1), name, layer, pass, op, start, start)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(end = nowMs)
      }
    }

  /** [[span]] whose duration is also added to metric `metric`. */
  def timed[T](metric: String, layer: String)(body: => T): T =
    if (!on) body
    else {
      val s = nowMs
      try span(metric, layer)(body) finally add(metric, nowMs - s)
    }

  def add(metric: String, v: Double): Unit =
    if (on) {
      val m = sums.getOrElseUpdate(metric, mutable.Map.empty)
      m(pass) = m.getOrElse(pass, 0.0) + v
    }

  /** Set a per-pass value; also used after the passes, from their windows. */
  def set(metric: String, v: Double): Unit =
    sums.getOrElseUpdate(metric, mutable.Map.empty)(pass) = v

  /** Median over the traced passes of each metric's per-pass sum; a
    * metric a pass never touched counts 0 for that pass.
    */
  def medians(passes: Seq[Int]): Map[String, Double] =
    sums.map { case (k, m) => k -> Stats.median(passes.map(p => m.getOrElse(p, 0.0))) }.toMap

  /** Self time (span minus its children) per layer, median over passes. */
  def selfMs(passes: Seq[Int]): Map[String, Double] = {
    val child = mutable.Map.empty[Int, Double].withDefaultValue(0.0)
    spans.foreach(s => if (s.parent >= 0) child(s.parent) += s.end - s.start)
    val perPass = spans.groupBy(_.pass).map { case (p, ss) =>
      p -> ss.groupBy(_.layer).map { case (l, xs) => l -> xs.map(s => s.end - s.start - child(s.id)).sum }
    }
    val layers = spans.map(_.layer).distinct
    layers.map { l =>
      s"self_ms.$l" -> Stats.median(passes.map(p => perPass.get(p).flatMap(_.get(l)).getOrElse(0.0)))
    }.toMap
  }

  def writeJsonLines(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "layer" -> s.layer, "pass" -> s.pass, "op" -> s.op,
        "start_ms" -> s.start, "end_ms" -> s.end)))
    } finally w.close()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

/** Just enough JSON writing for the result file and the span log. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
