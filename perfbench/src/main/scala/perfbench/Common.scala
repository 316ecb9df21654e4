package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.Comparator

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Wall clock with sub-millisecond resolution: epoch milliseconds derived
  * from `nanoTime`, anchored once to `currentTimeMillis`, so span starts and
  * ends from the benchmark line up with Spark's epoch-ms event times. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Progress lines on stderr, stamped with seconds since the JVM started. */
object Log {
  private val t0 = Clock.nowMs
  def apply(msg: String): Unit = System.err.println(f"perfbench ${(Clock.nowMs - t0) / 1000}%8.2fs $msg")
}

object Stats {
  /** Linear-interpolation quantile (q in [0, 1]); NaN on no samples. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)
}

/** One reported number: name, value, unit, and how many samples it rests on. */
final case class Metric(name: String, value: Double, unit: String, samples: Long)

/** Collects the run's metrics and failure counts and renders the result:
  * one readable line per metric, then the one-line JSON result. */
final class Report {
  private val metrics = mutable.LinkedHashMap[String, Metric]()
  var attempted = 0L
  var failed = 0L
  val notes = mutable.ArrayBuffer[String]()

  /** Record a metric; a value that is not a number is left out, so the run
    * reports the metric as not produced instead of printing a made-up one. */
  def put(name: String, value: Double, unit: String, samples: Long = 1): Unit =
    if (value.isNaN || value.isInfinite) notes += s"no value for $name"
    else metrics(name) = Metric(name, value, unit, samples)
  def names: Iterable[String] = metrics.keys

  def fail(n: Long, why: String): Unit = if (n > 0) { failed += n; notes += s"FAIL $why ($n)" }

  private def num(d: Double): String = java.math.BigDecimal.valueOf(d).toPlainString

  def render(keep: Seq[String]): Seq[String] = {
    val lines = mutable.ArrayBuffer[String]()
    notes.foreach(n => lines += s"# $n")
    val ratio = if (attempted == 0) 0.0 else failed.toDouble / attempted
    lines += f"# fail_ratio $ratio%.6f ratio (failed $failed of $attempted attempted)"
    metrics.values.foreach { m =>
      lines += s"# ${m.name} ${num(m.value)} ${m.unit} (n=${m.samples})"
    }
    val body = keep.flatMap(k => metrics.get(k)).map { m =>
      s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}"""
    }.mkString(", ")
    lines += s"""{"correct": ${failed == 0}, "attempted": ${math.max(1L, attempted)}, """ +
      s""""failed": $failed, "metrics": {$body}}"""
    lines.toSeq
  }
}

object Fs {
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(Comparator.reverseOrder[Path]()).iterator().asScala.foreach(Files.delete)
    finally s.close()
  }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { src =>
      val dst = to.resolve(from.relativize(src).toString)
      if (Files.isDirectory(src)) Files.createDirectories(dst)
      else Files.copy(src, dst, StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }

  /** (file count, total bytes) of regular files under `p` whose relative
    * path passes `keep`. */
  def usage(p: Path, keep: String => Boolean = _ => true): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        val files = s.iterator().asScala
          .filter(f => Files.isRegularFile(f) && keep(p.relativize(f).toString)).toSeq
        (files.size.toLong, files.map(f => Files.size(f)).sum)
      } finally s.close()
    }

  /** name -> size of the regular files directly in `dir`. */
  def sizes(dir: Path): Map[String, Long] =
    if (!Files.isDirectory(dir)) Map.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.getFileName.toString -> Files.size(f)).toMap
      finally s.close()
    }
}
