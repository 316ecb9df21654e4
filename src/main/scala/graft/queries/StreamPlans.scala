package graft.queries

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.{StreamExecution, StreamingQueryWrapper}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.TempDirs

/** Capture point for the last micro-batch physical plan of each streaming
  * gate query, so `PlanLawSpec` can sweep the `stream_*` inventory with
  * the same cartesian/BNLJ laws it enforces on the batch plans.
  *
  * Streaming queries have no standing batch plan to inspect — the
  * executed plan lives on the `StreamExecution` as an
  * `IncrementalExecution` and becomes unreachable once the harness stops
  * the query — so each harness records it here right after the query
  * terminates. The capture is a single `toString` of
  * an already-materialized plan (no extra planning, no job), so it stays
  * on for gate/bench runs too; a missing entry makes the law spec fail by
  * name rather than pass vacuously.
  */
object StreamPlans {
  private val plans = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val stateRows = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Record `q`'s most recent micro-batch executed plan under `name`,
    * plus the total state-store row count from the final progress — the
    * measured side of each harness's "state is O(key domain), not
    * O(events)" claim (StateInvarianceSpec replays volumes against it). */
  private[queries] def capture(name: String, q: StreamingQuery): Unit = try {
    val exec: StreamExecution = q match {
      case w: StreamingQueryWrapper => w.streamingQuery
      case e: StreamExecution => e
      case other => sys.error(s"unexpected StreamingQuery impl ${other.getClass}")
    }
    Option(exec.lastExecution).foreach(e => plans.put(name, e.executedPlan.toString))
    Option(q.lastProgress).filter(_.stateOperators.nonEmpty).foreach { p =>
      stateRows.put(name, java.lang.Long.valueOf(p.stateOperators.map(_.numRowsTotal).sum))
    }
  } catch { case NonFatal(_) => () } // missing plan => law spec fails by name

  /** Record an explicitly-planned frame. For `foreachBatch` harnesses the
    * interesting plan (the per-batch transform) runs inside the lambda
    * where `lastExecution` only sees the source scan, so the lambda
    * registers the frame it is about to write. */
  private[queries] def capturePlan(name: String, df: DataFrame): Unit =
    try plans.put(name, df.queryExecution.executedPlan.toString)
    catch { case NonFatal(_) => () }

  def get(name: String): Option[String] = Option(plans.get(name))
  def all: Map[String, String] = plans.asScala.toMap

  /** Total state rows of `name`'s final progress (absent if the harness
    * hasn't run in this JVM or the query carries no state operator). */
  def stateRowsOf(name: String): Option[Long] =
    Option(stateRows.get(name)).map(_.longValue)

  // --------------------------- storage-state ingest accounting
  /** One micro-batch's contribution to a harness's ON-STORAGE state
    * (`stream_cc_delta`'s shingle/band/edge dirs, `stream_decontaminate`'s
    * hit dir live OUTSIDE `stateOperators.numRowsTotal`'s view), plus its
    * wall seconds — recorded by the harness's own foreachBatch, which is
    * the only place batch boundaries are visible. */
  final case class IngestBatch(batchId: Long, appendedBytes: Long,
      wallSec: Double, compacted: Boolean = false, filesAfter: Int = 0)
  private val ingest =
    new java.util.concurrent.ConcurrentHashMap[String, Vector[IngestBatch]]()
  private val prepSec = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()

  private[queries] def resetIngest(name: String): Unit = {
    ingest.remove(name); prepSec.remove(name)
  }
  private[queries] def recordIngest(name: String, batchId: Long,
      appendedBytes: Long, wallSec: Double, compacted: Boolean = false,
      filesAfter: Int = 0): Unit =
    ingest.merge(name,
      Vector(IngestBatch(batchId, appendedBytes, wallSec, compacted, filesAfter)),
      _ ++ _)
  /** Harness prep wall (standing-artifact read + eval-index build +
    * materialize) — the cost that must be paid ONCE, not per batch. */
  private[queries] def recordPrep(name: String, sec: Double): Unit =
    prepSec.put(name, java.lang.Double.valueOf(sec))

  /** Per-batch on-storage appends of `name`'s last run, batch order. */
  def ingestLogOf(name: String): Vector[IngestBatch] =
    Option(ingest.get(name)).getOrElse(Vector.empty)
  def prepSecOf(name: String): Option[Double] =
    Option(prepSec.get(name)).map(_.doubleValue)

  /** Recursive byte size of a directory (0 if absent) — filesystem
    * metadata only, no Spark job. */
  private[queries] def dirBytes(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (!f.exists()) 0L
      // listFiles() is null if the dir vanished or errored between the
      // exists() check and the list (TOCTOU) — accounting must not NPE
      // the streaming query it rides in
      else if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).map(walk).sum
      else f.length()
    walk(new java.io.File(path))
  }

  /** Count of `.parquet` data files under `path` (0 if absent) — the
    * small-file-growth measurement for on-storage standing tables. */
  private[queries] def parquetFileCount(path: String): Int = {
    def walk(f: java.io.File): Int =
      if (!f.exists()) 0
      else if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).map(walk).sum
      else if (f.getName.endsWith(".parquet")) 1
      else 0
    walk(new java.io.File(path))
  }

  /** Number of generation subdirectories under a standing dir (0 if
    * absent) — the compaction trigger reading. */
  private[queries] def generationCount(dir: String): Int =
    Option(new java.io.File(dir).listFiles())
      .getOrElse(Array.empty[java.io.File]).count(_.isDirectory)

  /** Recover a standing dir from a compaction that crashed mid-swap —
    * MUST run before any read or generation write against `d` after a
    * restart (the streaming harness calls it per batch; it is a pure
    * filesystem-metadata no-op on a healthy dir).
    *
    * The swap is `d -> d.old`, `d.next -> d`, `rm d.old` (two atomic
    * renames + a delete, never delete-then-rename: at no point is the
    * ONLY copy of the standing rows in a directory a later step
    * deletes). Recovery cases:
    *  - `d` missing + `d.next` carries a marker: the fold completed
    *    (the marker is the last thing written into `.next` before the
    *    first rename) — roll FORWARD by renaming `.next` into place.
    *  - `d` missing + no complete `.next`: roll BACK from `d.old`
    *    (the first rename happened but `.next` is not trustworthy —
    *    cannot occur with the write order above, handled defensively).
    *  - `d` present: any `d.old` is a swept-too-late leftover and any
    *    `d.next` is pre-swap debris — both safe to drop, because `d`
    *    itself is complete in every such window. */
  private[queries] def recoverCompaction(d: String): Unit = {
    val cur = new java.io.File(d)
    val next = new java.io.File(s"$d.next")
    val old = new java.io.File(s"$d.old")
    if (!cur.exists()) {
      if (java.nio.file.Files.exists(
          java.nio.file.Paths.get(s"$d.next", CompactedUptoMarker))) {
        require(next.renameTo(cur), s"compaction roll-forward failed: $d")
      } else if (old.exists()) {
        require(old.renameTo(cur), s"compaction roll-back failed: $d")
      }
    }
    if (cur.exists()) {
      if (old.exists()) TempDirs.delete(old)
      if (next.exists()) TempDirs.delete(next)
      // a crash between markCompactedUpto's createTempFile and its
      // ATOMIC_MOVE abandons a `._compacted_upto*.tmp` in the staging
      // dir; the swap then carries it into `d`, where nothing else
      // would ever reclaim it (dot-prefixed, invisible to Spark —
      // harmless to correctness, but debris accretes forever)
      Option(cur.listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.startsWith(s".$CompactedUptoMarker") &&
          f.getName.endsWith(".tmp"))
        .foreach(f => f.delete())
    }
  }

  /** Fold every generation of standing dir `d` into one compacted gen
    * (`d/genDir`) and advance the replay marker to `upToBatchId`.
    *
    * Crash-window contract (each window asserted by
    * CompactionReplaySpec):
    *  - entry runs [[recoverCompaction]], so debris from any earlier
    *    crash window (pre-swap `.next`, mid-swap missing `d`, post-swap
    *    `d.old`) is resolved before a new fold starts;
    *  - the marker must commit ATOMICALLY with the swap: written after
    *    the swap, a failure between the two would leave the per-batch
    *    gens already folded away while `compactedUpto` still reads -1,
    *    and the replayed batch would rewrite its gen — the exact
    *    duplication hazard the marker exists to prevent. Writing it
    *    into `$d.next` BEFORE the first rename makes marker and
    *    compacted data travel together (the old dir's marker is
    *    carried forward via max: the swap retires it with the gens);
    *  - the swap itself never deletes the only copy: `d` steps aside
    *    to `d.old` (atomic), `.next` renames into place (atomic), and
    *    only then is `d.old` dropped — a crash between any two steps
    *    leaves a complete copy for [[recoverCompaction]]. */
  private[queries] def compactGenerations(s: SparkSession, d: String,
      genDir: String, cols: Seq[String], upToBatchId: Long): Unit = {
    recoverCompaction(d)
    val next = new java.io.File(s"$d.next")
    s.read.parquet(d).select(cols.map(col): _*)
      .coalesce(s.sparkContext.defaultParallelism)
      .write.parquet(s"$d.next/$genDir")
    markCompactedUpto(s"$d.next", math.max(compactedUpto(d), upToBatchId))
    val old = new java.io.File(s"$d.old")
    require(new java.io.File(d).renameTo(old),
      s"compaction step-aside failed: $d")
    require(next.renameTo(new java.io.File(d)),
      s"compaction swap failed: $d")
    TempDirs.delete(old)
  }

  /** Replay-idempotence marker for batch-generation standing dirs.
    *
    * Generation compaction folds gens 0..N into one compacted gen and
    * DELETES the per-batch dirs — after which a REPLAYED batch id <= N
    * (micro-batch retried because the failure hit between the
    * foreachBatch body and the checkpoint commit) must NOT rewrite its
    * `gen=<id>` dir: its rows already live in the compacted gen, and a
    * duplicate would not be harmless for SHINGLE/BAND rows (duplicated
    * band rows occupy rank slots in the bucket-local candidate window
    * and can push a true pair outside it — unlike duplicate EDGE rows,
    * which the label fixpoint absorbs). The marker is an
    * underscore-prefixed file, so Spark's file index ignores it and
    * `dirBytes` accounting barely sees it. */
  private val CompactedUptoMarker = "_compacted_upto"
  private[queries] def markCompactedUpto(dir: String, batchId: Long): Unit = {
    val d = java.nio.file.Paths.get(dir)
    val f = d.resolve(CompactedUptoMarker)
    val prev = compactedUpto(dir)
    // an in-place writeString truncates before it writes, so a crash
    // mid-write leaves a partial/empty marker — which parses to the
    // UNSAFE direction (-1 re-enables duplicate generation writes on
    // replay). Stage to a temp file in the same directory and
    // ATOMIC_MOVE it into place: the marker is either the old value or
    // the new one, never torn.
    val tmp = java.nio.file.Files.createTempFile(
      d, s".$CompactedUptoMarker", ".tmp")
    java.nio.file.Files.writeString(tmp, math.max(prev, batchId).toString)
    java.nio.file.Files.move(tmp, f,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }
  private[queries] def compactedUpto(dir: String): Long = {
    val f = java.nio.file.Paths.get(dir, CompactedUptoMarker)
    if (!java.nio.file.Files.exists(f)) -1L
    else {
      val raw = java.nio.file.Files.readString(f).trim
      // a marker that EXISTS but does not parse means a compaction DID
      // run and its watermark has been lost; swallowing that to -1
      // would silently re-enable the replay duplication the marker
      // exists to prevent. Writes are atomic (above), so a torn file
      // cannot come from this code — treat it as an integrity failure
      // and fail the batch rather than guess in the unsafe direction.
      try raw.toLong catch {
        case _: NumberFormatException => throw new IllegalStateException(
          s"corrupt $CompactedUptoMarker marker in $dir: '$raw' — " +
            "refusing to treat as -1 (would re-enable replay duplication)")
      }
    }
  }
}
