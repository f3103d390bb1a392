package graftbench

import scala.collection.mutable

/** Small numeric and JSON helpers shared by the workloads. */
object Stats {

  /** Linear-interpolated percentile (q in [0, 1]) of a non-empty sample. */
  def pct(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  def nowS(): Double = System.nanoTime() / 1e9

  /** Wall seconds of `body`, with its result. */
  def timed[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** Minimal JSON rendering for maps, sequences, strings and numbers. */
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}

/** What one workload run reports back to [[Main]]. `endToEnd` holds the
  * values of the shared end-to-end metrics; `layers` the per-layer
  * metrics of a traced run (empty in a timed run). `notes` are printed
  * for the reader but are not metrics. */
final case class Outcome(
    attempted: Long,
    failed: Long,
    failures: Seq[String],
    endToEnd: Map[String, Double],
    layers: Map[String, Double],
    notes: mutable.LinkedHashMap[String, Any])

/** Per-layer samples of a traced run: one value per cycle or pass,
  * reported as the median. */
final class Samples {
  private val m = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def add(k: String, v: Double): Unit = m.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
  def medians: Map[String, Double] = m.map { case (k, v) => k -> Stats.median(v.toSeq) }.toMap
}
