package perfbench

import scala.collection.mutable

/** A percentile together with the number of samples it was taken over. */
final case class Pct(p: Double, value: Double, n: Int)

object Stats {
  /** Linear-interpolated percentile (numpy's default rule); NaN when empty. */
  def pct(xs: Seq[Double], p: Double): Pct = {
    val s = xs.sorted
    if (s.isEmpty) Pct(p, Double.NaN, 0)
    else {
      val h = (s.length - 1) * p / 100.0
      val lo = math.floor(h).toInt; val hi = math.ceil(h).toInt
      Pct(p, s(lo) + (h - lo) * (s(hi) - s(lo)), s.length)
    }
  }

  def median(xs: Seq[Double]): Double = pct(xs, 50).value

  /** Total length of the union of [start, end) intervals. */
  def covered(intervals: Seq[(Double, Double)]): Double = {
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (curE.isNaN || s > curE) {
        if (!curE.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curE.isNaN) total += curE - curS
    total
  }
}

/** Named metrics in insertion order, each with its unit. */
final class Metrics {
  private val m = mutable.LinkedHashMap.empty[String, (Double, String)]
  def put(name: String, value: Double, unit: String): Unit = m(name) = (value, unit)
  def get(name: String): Double = m(name)._1
  def contains(name: String): Boolean = m.contains(name)
  def items: Seq[(String, Double, String)] = m.toSeq.map { case (k, (v, u)) => (k, v, u) }
  def select(names: Seq[String]): Metrics = {
    val out = new Metrics
    names.foreach(n => m.get(n).foreach { case (v, u) => out.put(n, v, u) })
    out
  }
}

/** Progress lines on stderr: elapsed seconds since the JVM started. */
object Mark {
  private val t0 = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  def apply(what: String): Unit =
    System.err.println(f"[perfbench +${(System.currentTimeMillis - t0) / 1000.0}%.1fs] $what")
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def result(correct: Boolean, attempted: Long, failed: Long, metrics: Metrics): String =
    obj(Seq("correct" -> correct.toString, "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> obj(metrics.items.map { case (k, v, u) =>
        k -> obj(Seq("value" -> num(v), "unit" -> str(u)))
      })))
}
