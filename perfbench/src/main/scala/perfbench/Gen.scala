package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Seeded input files: small CSVs whose rows are (id, file_id, due_ms, v).
  * Row ids are `file_id * rowsPerFile + r`, so the expected id checksum of
  * any set of files is known without reading them back. The seed picks the
  * file names (and with them the source cache's iteration order) and the
  * payload strings; the same seed gives byte-identical files. */
final class InputFiles(val dir: Path, seed: Long, val rowsPerFile: Int) {
  Files.createDirectories(dir)
  private val tag = java.lang.Long.toHexString(new SplittableRandom(seed).nextLong())

  def path(fileId: Long): Path = dir.resolve(f"$tag-$fileId%07d.csv")

  /** Write file `fileId` with `dueMs` stamped into every row; returns the
    * URI the notification announces. */
  def write(fileId: Long, dueMs: Long): String = {
    val rnd = new SplittableRandom(seed * 1000003L + fileId)
    val sb = new java.lang.StringBuilder(rowsPerFile * 48)
    var r = 0
    while (r < rowsPerFile) {
      sb.append(fileId * rowsPerFile + r).append(',').append(fileId).append(',')
        .append(dueMs).append(',')
      var c = 0
      while (c < 12) { sb.append(('a' + rnd.nextInt(26)).toChar); c += 1 }
      sb.append('\n')
      r += 1
    }
    val p = path(fileId)
    Files.write(p, sb.toString.getBytes(StandardCharsets.UTF_8))
    "file:" + p.toAbsolutePath
  }

  /** Write file `fileId` with no rows; returns its URI. */
  def writeEmpty(fileId: Long): String = {
    val p = path(fileId)
    Files.write(p, Array.emptyByteArray)
    "file:" + p.toAbsolutePath
  }

  def uri(fileId: Long): String = "file:" + path(fileId).toAbsolutePath
}

object InputFiles {
  val schema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("file_id", LongType),
    StructField("due_ms", LongType), StructField("v", StringType)))

  def notification(uri: String, dueMs: Long): String =
    s"""{"path":"$uri","timestampMs":$dueMs}"""

  /** Sum of row ids over the given files. */
  def idSum(fileIds: Iterable[Long], rowsPerFile: Int): BigInt = {
    val r = BigInt(rowsPerFile)
    fileIds.foldLeft(BigInt(0))((acc, f) => acc + r * r * f + r * (r - 1) / 2)
  }

  /** Deterministic permutation of 0 until n. */
  def shuffled(n: Int, seed: Long): Array[Long] = {
    val a = Array.tabulate(n)(_.toLong)
    val rnd = new SplittableRandom(seed)
    var i = n - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }
}

/** Open-loop generator: item `i` is due at `t0 + i / rate`, whatever
  * happened to the items before it. It sleeps until each due time and then
  * calls `emit(i, dueMs)`. When `emit` stalls, the items after it go out
  * late but keep their due times, so a latency measured from the due time
  * includes the wait the stall imposed on them. */
final class OpenLoopGen(
    ratePerS: Double,
    count: Int,
    emit: (Int, Long) => Unit,
    now: () => Double = () => Clock.nowMs,
    sleepMs: Double => Unit = OpenLoopGen.sleep) {
  require(ratePerS > 0 && count > 0)
  val dueMs = new Array[Long](count)
  /** When `emit` began for each item. */
  val startedMs = new Array[Double](count)

  def run(t0Ms: Double): Unit = {
    var i = 0
    while (i < count) {
      val due = t0Ms + i * 1000.0 / ratePerS
      val wait = due - now()
      if (wait > 0) sleepMs(wait)
      dueMs(i) = math.round(due)
      startedMs(i) = now()
      emit(i, dueMs(i))
      i += 1
    }
  }

  /** How late each item went out, in ms (0 when on time). */
  def lateMs: Seq[Double] = (0 until count).map(i => math.max(0.0, startedMs(i) - dueMs(i)))
}

object OpenLoopGen {
  def sleep(ms: Double): Unit = {
    val whole = ms.toLong
    Thread.sleep(whole, ((ms - whole) * 1e6).toInt)
  }
}
