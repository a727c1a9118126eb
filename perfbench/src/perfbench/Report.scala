package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.Locale

import scala.collection.mutable

/** Statistics and the run's output: one `metric <name> <value> <unit>`
  * line per metric, the artifact file, and the result line the runner
  * turns into the benchmark's last line. Every number is formatted with
  * `Locale.ROOT`, never the platform locale. */
object Report {

  /** Nearest-rank percentile, q in [0, 100]; NaN for no samples. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q / 100.0 * s.size).toInt - 1)))
    }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(x => math.log(x.max(1e-9))).sum / xs.size)

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else String.format(Locale.ROOT, "%.6f", Double.box(v))

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
    case c if c < ' ' => String.format(Locale.ROOT, "\\u%04x", Int.box(c.toInt))
    case c => c.toString
  } + "\""

  /** Minimal JSON rendering of nested Maps/Seqs/strings/numbers. */
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case o => str(o.toString)
  }

  def loadavg(): String =
    try Files.readString(Path.of("/proc/loadavg")).trim.split("\\s+").take(3).mkString(" ")
    catch { case _: Exception => "unavailable" }

  def write(p: Path, text: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, text.getBytes(StandardCharsets.UTF_8))
  }
}

/** Metrics of one run, in declaration order, with units. */
final class Metrics {
  private val values = mutable.LinkedHashMap.empty[String, (Double, String)]
  def update(name: String, unit: String, v: Double): Unit = values(name) = (v, unit)
  def toSeq: Seq[(String, Double, String)] = values.toSeq.map { case (k, (v, u)) => (k, v, u) }

  def printLines(): Unit = toSeq.foreach { case (k, v, u) =>
    println(s"metric $k ${Report.num(v)} $u")
  }

  def asJson: collection.Map[String, Any] = values.map { case (k, (v, u)) =>
    k -> mutable.LinkedHashMap[String, Any]("value" -> v, "unit" -> u)
  }
}
