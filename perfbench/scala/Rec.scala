package perfbench

import scala.collection.mutable

/** What one run records: latency samples by class, counters, and
  * failures. Written to the result file, from which
  * `perfbench/harness/stats.py` computes every metric. */
final class Rec {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val counters = mutable.LinkedHashMap.empty[String, Double]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  def add(name: String, v: Double): Unit =
    counters(name) = counters.getOrElse(name, 0.0) + v
  def fail(msg: String): Unit = {
    System.err.println(s"[perfbench] CHECK FAILED: $msg")
    failures += msg
  }
  /** Check `ok`; a false check counts as a failed operation. */
  def check(ok: Boolean, msg: => String): Unit = if (!ok) fail(msg)
}

/** A minimal JSON writer for the result file. */
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
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def nums(xs: Iterable[Double]): String = arr(xs.map(num))
}

/** Wall-clock helpers. */
object Clock {
  def ms[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  def dirBytes(f: java.io.File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  def dirFiles(f: java.io.File, suffix: String): Int =
    if (f.isFile) (if (f.getName.endsWith(suffix)) 1 else 0)
    else Option(f.listFiles()).map(_.map(dirFiles(_, suffix)).sum).getOrElse(0)

  def delete(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }
}
