package graft.queries

import java.util.concurrent.ConcurrentHashMap

import graft.operators.Models

/** Per-JVM staged-parquet fixture store for the streaming gates.
  *
  * Every streaming gate row simulates cold ingest by writing a subset of
  * a base table as parquet files and announcing them on a fresh queue.
  * The CONNECTOR read (admission, offset arithmetic, micro-batch
  * materialization) is the semantics under test; the staging WRITE is
  * harness setup that produces a deterministic input fixture — and the
  * r21 verdict measured that setup at ~0.3-0.5 s × 29 rows of pure
  * repeated work: eleven rows stage the identical `events < 2000` slice
  * in the identical 2-file layout, three rows the identical full
  * documents table, and the bench's min-of-2 re-run pays every write
  * twice more.
  *
  * This store gives the staged fixtures the [[graft.operators.Models]]
  * train-once discipline: keyed on (logical subset + layout + an
  * input-file fingerprint), written once per JVM, reused by every later
  * row that needs the same fixture. Reuse NEVER crosses a data change
  * (the fingerprint folds file names/sizes/mtimes, so a regenerated
  * fixture re-stages) and never crosses JVMs (the backing dirs are
  * shutdown-deleted temp dirs) — each bench/verify invocation still
  * computes every fixture from the parquet inputs. The first row to
  * need a fixture pays the staging inside its own timed region, exactly
  * as before.
  *
  * Per-gate staging wall-seconds are recorded (cache hits included — a
  * hit costs only the fingerprint walk) so the bench record can print
  * the staging/prep/query split the r21 verdict asked for.
  */
private[graft] object StageCache {
  /** Cumulative staging wall charged to each gate row this JVM. */
  private val stagingSecs = new ConcurrentHashMap[String, java.lang.Double]()

  private[queries] def recordStaging(gate: String, sec: Double): Unit =
    stagingSecs.merge(gate, java.lang.Double.valueOf(sec),
      (a, b) => java.lang.Double.valueOf(a.doubleValue + b.doubleValue))

  /** Per-gate cumulative staging seconds (bench record + specs). */
  def stagingSec: Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    stagingSecs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
  }

  private[graft] def reset(): Unit = stagingSecs.clear()

  /** The staged directory for `key`, building it with `write` on first
    * use this JVM (or after the fixture files under `fingerprintPaths`
    * changed). `write` must leave a `_SUCCESS` marker in the directory —
    * a plain parquet write does; multi-subdir fixtures create it
    * explicitly. Staging wall (hit or miss) is charged to `gate`. */
  def dir(gate: String, key: String, fingerprintPaths: Seq[String])
      (write: String => Unit): String = {
    val t0 = System.nanoTime()
    try Models.root(s"stream-stage|$key|in=${Models.inputFingerprint(fingerprintPaths: _*)}")(write)
    finally recordStaging(gate, (System.nanoTime() - t0) / 1e9)
  }

  /** Copy every `.parquet` file of `from` into `to` (the dual-directory
    * fixtures: same rows announced twice from distinct paths, so
    * duplicates span micro-batches without a second Spark write). */
  private[queries] def copyParquet(from: String, to: String): Unit = {
    val dst = java.nio.file.Paths.get(to)
    java.nio.file.Files.createDirectories(dst)
    Option(new java.io.File(from).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet"))
      .foreach { f =>
        java.nio.file.Files.copy(f.toPath, dst.resolve(f.getName),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
  }
}
