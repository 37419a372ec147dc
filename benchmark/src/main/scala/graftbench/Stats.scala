package graftbench

import scala.collection.mutable

/** Small numeric and JSON helpers shared by every workload. */
object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val m = s.size / 2
      if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)

  def jsonString(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def jsonNumber(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
}

/** Thread-safe latency samples (milliseconds) per operation family and kind,
 * and op counters. A kind is one shape of operation inside a family (a rare
 * or a common keyword query); a family's kinds may cost very different
 * amounts, so medians that must stay steady are taken per kind. */
final class Recorder {
  private val samples = mutable.LinkedHashMap.empty[(String, String), mutable.ArrayBuffer[Double]]
  private var attempted0 = 0L
  private var failed0 = 0L
  private val errors = mutable.ArrayBuffer.empty[String]

  def add(family: String, ms: Double, kind: String = ""): Unit = synchronized {
    samples.getOrElseUpdate((family, if (kind.isEmpty) family else kind), mutable.ArrayBuffer.empty) += ms
  }
  def attempt(n: Int = 1): Unit = synchronized { attempted0 += n }
  def fail(family: String, e: Throwable, n: Int = 1): Unit = synchronized {
    failed0 += n
    if (errors.size < 5)
      errors += s"$family: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
  }

  /** Forgets everything recorded so far (the warm-up's operations). */
  def reset(): Unit = synchronized {
    samples.clear(); attempted0 = 0; failed0 = 0; errors.clear()
  }

  def attempted: Long = synchronized(attempted0)
  def failed: Long = synchronized(failed0)
  def failures: Seq[String] = synchronized(errors.toList)
  /** Every sample of a family, all its kinds together. */
  def of(family: String): Seq[Double] = synchronized(samples.toList.collect { case ((f, _), xs) if f == family => xs }.flatten)
  def p50(family: String): Double = Stats.median(of(family))
  /** Every sample of each kind, in the order kinds were first seen. */
  def kinds: Seq[(String, Seq[Double])] = synchronized(samples.toList.map { case ((_, k), xs) => k -> xs.toList })
  def kindMedians: Seq[(String, Double)] = kinds.map { case (k, xs) => k -> Stats.median(xs) }
  def count: Long = synchronized(samples.values.map(_.size.toLong).sum)
}
