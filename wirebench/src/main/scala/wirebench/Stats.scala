package wirebench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** Thread-safe sample collector for one timing, in milliseconds. */
final class Samples {
  private val q = new ConcurrentLinkedQueue[java.lang.Double]()
  def add(ms: Double): Unit = { q.add(ms); () }
  def n: Int = q.size
  def sorted: Array[Double] = q.asScala.map(_.doubleValue).toArray.sorted
  def clear(): Unit = q.clear()
  /** Linear-interpolated percentile, `p` in [0, 1]; NaN when empty. */
  def pct(p: Double): Double = Stats.pct(sorted, p)
}

object Stats {
  def pct(s: Array[Double], p: Double): Double =
    if (s.isEmpty) Double.NaN
    else {
      val x = p * (s.length - 1)
      val lo = math.floor(x).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (x - lo)
    }

  def median(xs: Seq[Double]): Double = pct(xs.sorted.toArray, 0.5)

  def ms(fromNanos: Long, toNanos: Long): Double = (toNanos - fromNanos) / 1e6

  /** splitmix64 finalizer: the seeded, order-free hash every input
    * of the benchmark is derived from.
    */
  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Minimal JSON writer for the flat and nested maps the report uses. */
  def json(v: Any): String = v match {
    case null => "null"
    case s: String =>
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => json(f.toDouble)
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case a: Array[_] => json(a.toSeq)
    case other => json(other.toString)
  }
}
