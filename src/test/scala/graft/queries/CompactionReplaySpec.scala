package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.SuiteTempDirs

/** Crash-window assertions for generation compaction
  * ([[StreamPlans.compactGenerations]] + the `_compacted_upto` replay
  * marker). The streaming CC harness folds per-batch generation dirs
  * into one compacted gen and relies on three recovery properties that
  * until now were only argued in scaladoc:
  *
  *  1. a compact that crashed BEFORE the swap leaves `$d.next` debris
  *     and an intact `d` with no marker — the next compact must sweep
  *     the debris and succeed (not die on "path already exists"), and
  *     replayed batches may legitimately rewrite their gens;
  *  2. the marker commits ATOMICALLY with the swap — there is no
  *     observable state in which the per-batch gens are gone but the
  *     marker still reads the old watermark;
  *  3. a marker that exists but does not parse is an integrity failure
  *     (fail the batch), never a silent -1 (which would re-enable the
  *     replay duplication the marker exists to prevent).
  *
  * Each test drives the REAL helper over real parquet dirs and asserts
  * the standing row multiset — the quantity whose duplication breaks
  * bucket-local candidate ranking downstream.
  */
class CompactionReplaySpec extends AnyFunSuite with SuiteTempDirs {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = try spark.stop() finally super.afterAll()

  /** The exact per-batch generation write the streaming harness does,
    * including its replay guard. */
  private def writeGen(dir: String, id: Long): Unit = {
    import spark.implicits._
    if (id > StreamPlans.compactedUpto(dir))
      Seq.tabulate(10)(i => (id * 100 + i, id))
        .toDF("doc_id", "sh")
        .write.mode("overwrite").parquet(s"$dir/gen=$id")
  }

  /** Standing rows as a sorted multiset — duplicates must be visible. */
  private def rows(dir: String): Seq[(Long, Long)] = {
    import spark.implicits._
    spark.read.parquet(dir).select($"doc_id", $"sh")
      .as[(Long, Long)].collect().toSeq.sorted
  }

  private def tmp(prefix: String): String =
    tempDir(prefix).resolve("standing").toString

  test("compaction folds gens, advances the marker, and replay skips") {
    val d = tmp("graft-compact-basic")
    (0L to 4L).foreach(writeGen(d, _))
    val before = rows(d)
    assert(StreamPlans.generationCount(d) == 5)

    StreamPlans.compactGenerations(spark, d, "gen=-5",
      Seq("doc_id", "sh"), upToBatchId = 4L)

    assert(StreamPlans.generationCount(d) == 1, "one compacted gen")
    assert(StreamPlans.compactedUpto(d) == 4L)
    assert(rows(d) == before, "compaction preserves the row multiset")

    // replayed batches 0..4 must SKIP (their rows live in the compacted
    // gen) — a rewrite would duplicate; batch 5 must still write
    (0L to 4L).foreach(writeGen(d, _))
    assert(rows(d) == before, "replayed pre-compaction batches are no-ops")
    writeGen(d, 5L)
    assert(rows(d).size == before.size + 10, "post-marker batch writes")
  }

  test("stale .next debris from a pre-swap crash is swept, compact succeeds") {
    val d = tmp("graft-compact-debris")
    (0L to 3L).foreach(writeGen(d, _))
    val before = rows(d)

    // simulate a compact that crashed before the rename: d intact, no
    // marker moved, arbitrary junk under $d.next (incl. a half-written
    // parquet dir and a marker that must NOT leak into d's watermark)
    val next = Paths.get(s"$d.next")
    Files.createDirectories(next.resolve("gen=-9"))
    Files.writeString(next.resolve("gen=-9").resolve("part-junk.parquet"), "torn")
    Files.writeString(next.resolve("_compacted_upto"), "99")

    // the crash left the watermark untouched: replays may rewrite
    assert(StreamPlans.compactedUpto(d) == -1L)

    StreamPlans.compactGenerations(spark, d, "gen=-4",
      Seq("doc_id", "sh"), upToBatchId = 3L)
    assert(rows(d) == before, "recovered compact preserves rows")
    assert(StreamPlans.compactedUpto(d) == 3L,
      "debris marker (99) must not survive the sweep")
    assert(!Files.exists(next), ".next consumed by the swap")
  }

  test("marker is invisible until the swap — no gens-gone/marker-old state") {
    val d = tmp("graft-compact-atomic")
    (0L to 2L).foreach(writeGen(d, _))
    val before = rows(d)

    // replicate compactGenerations UP TO the crash point between
    // marker-write and rename: .next holds compacted data + new marker
    import org.apache.spark.sql.functions.col
    spark.read.parquet(d).select(Seq("doc_id", "sh").map(col): _*)
      .coalesce(2).write.parquet(s"$d.next/gen=-3")
    StreamPlans.markCompactedUpto(s"$d.next", 2L)

    // crash here: d is INTACT and its watermark is unchanged — the
    // fold has not happened from the reader's point of view, so a
    // replayed batch rewriting its gen is safe (overwrite, not dup)
    assert(StreamPlans.compactedUpto(d) == -1L)
    assert(rows(d) == before)
    writeGen(d, 1L) // replay overwrites its own gen
    assert(rows(d) == before, "pre-swap replay is overwrite-idempotent")

    // recovery: the next compact sweeps the orphan .next and converges
    StreamPlans.compactGenerations(spark, d, "gen=-3",
      Seq("doc_id", "sh"), upToBatchId = 2L)
    assert(rows(d) == before)
    assert(StreamPlans.compactedUpto(d) == 2L)
  }

  test("second compaction carries the watermark forward via max") {
    val d = tmp("graft-compact-carry")
    (0L to 4L).foreach(writeGen(d, _))
    StreamPlans.compactGenerations(spark, d, "gen=-5",
      Seq("doc_id", "sh"), upToBatchId = 4L)
    writeGen(d, 5L); writeGen(d, 6L)
    val before = rows(d)

    // a replayed COMPACT trigger can arrive with a stale (lower) batch
    // id — the standing watermark must never move backwards
    StreamPlans.compactGenerations(spark, d, "gen=-3",
      Seq("doc_id", "sh"), upToBatchId = 2L)
    assert(StreamPlans.compactedUpto(d) == 4L, "max(prev=4, 2) carried forward")
    assert(rows(d) == before)

    StreamPlans.compactGenerations(spark, d, "gen=-7",
      Seq("doc_id", "sh"), upToBatchId = 6L)
    assert(StreamPlans.compactedUpto(d) == 6L)
    assert(rows(d) == before)
    (0L to 6L).foreach(writeGen(d, _))
    assert(rows(d) == before, "full replay after two compactions is a no-op")
  }

  test("mid-swap crash (d renamed aside, .next complete): recovery rolls FORWARD") {
    val d = tmp("graft-compact-midswap")
    (0L to 3L).foreach(writeGen(d, _))
    val before = rows(d)

    // replicate compactGenerations up to the crash point BETWEEN the
    // two renames: fold written + marker in .next, d stepped aside
    import org.apache.spark.sql.functions.col
    spark.read.parquet(d).select(Seq("doc_id", "sh").map(col): _*)
      .coalesce(2).write.parquet(s"$d.next/gen=-4")
    StreamPlans.markCompactedUpto(s"$d.next", 3L)
    assert(new java.io.File(d).renameTo(new java.io.File(s"$d.old")))

    // crash here: d is GONE — before the fix, a replayed batch would
    // recreate a skeleton d and the next compact's sweep would delete
    // .next, the only complete copy. Recovery must restore d first.
    StreamPlans.recoverCompaction(d)
    assert(rows(d) == before, "roll-forward restores the full fold")
    assert(StreamPlans.compactedUpto(d) == 3L, "marker travelled with the fold")
    assert(!new java.io.File(s"$d.next").exists())
    assert(!new java.io.File(s"$d.old").exists())

    (0L to 3L).foreach(writeGen(d, _))
    assert(rows(d) == before, "replays after recovery are no-ops")
  }

  test("mid-swap crash with an incomplete .next: recovery rolls BACK from d.old") {
    val d = tmp("graft-compact-rollback")
    (0L to 2L).foreach(writeGen(d, _))
    val before = rows(d)

    // defensive window: d stepped aside but .next carries NO marker
    // (cannot occur with the write order, but recovery must not strand d)
    Files.createDirectories(Paths.get(s"$d.next").resolve("gen=-3"))
    Files.writeString(
      Paths.get(s"$d.next", "gen=-3").resolve("part-torn.parquet"), "torn")
    assert(new java.io.File(d).renameTo(new java.io.File(s"$d.old")))

    StreamPlans.recoverCompaction(d)
    assert(rows(d) == before, "roll-back restores the original gens")
    assert(StreamPlans.compactedUpto(d) == -1L, "no fold happened")
    assert(!new java.io.File(s"$d.next").exists(), "untrusted .next swept")
  }

  test("post-swap crash (stale d.old): recovery keeps d, sweeps the leftover") {
    val d = tmp("graft-compact-postswap")
    (0L to 4L).foreach(writeGen(d, _))
    StreamPlans.compactGenerations(spark, d, "gen=-5",
      Seq("doc_id", "sh"), upToBatchId = 4L)
    val after = rows(d)

    // simulate the crash between the second rename and the delete of d.old
    Files.createDirectories(Paths.get(s"$d.old").resolve("gen=0"))
    Files.writeString(Paths.get(s"$d.old", "gen=0").resolve("stale.parquet"), "x")

    StreamPlans.recoverCompaction(d)
    assert(rows(d) == after, "current dir untouched")
    assert(!new java.io.File(s"$d.old").exists(), "stale step-aside swept")
    assert(StreamPlans.compactedUpto(d) == 4L)
  }

  test("randomized crash-sequence soak: 40 interleaved writes/replays/crashed compactions never lose or duplicate a row") {
    // the deterministic windows above each pin ONE crash point; this
    // soak interleaves them in a seeded random order with recoveries
    // and replays in between, asserting after every step that the
    // standing multiset equals the batch-id ledger — the invariant all
    // the machinery exists to protect
    import org.apache.spark.sql.functions.col
    val rng = new scala.util.Random(18L)
    val d = tmp("graft-compact-soak")
    var nextId = 0L
    val written = scala.collection.mutable.Set.empty[Long]
    def expected(): Seq[(Long, Long)] =
      written.toSeq.flatMap(id => Seq.tabulate(10)(i => (id * 100 + i, id))).sorted
    def foldPrefix(upTo: Long): Unit = {
      // the real fold steps, stopped before the first rename
      val next = new java.io.File(s"$d.next")
      if (next.exists()) graft.TempDirs.delete(next)
      spark.read.parquet(d).select(Seq("doc_id", "sh").map(col): _*)
        .coalesce(2).write.parquet(s"$d.next/gen=${-(upTo + 1)}")
      StreamPlans.markCompactedUpto(s"$d.next",
        math.max(StreamPlans.compactedUpto(d), upTo))
    }
    writeGen(d, nextId); written += nextId; nextId += 1
    for (step <- 1 to 40) {
      rng.nextInt(6) match {
        case 0 | 1 => // new batch
          writeGen(d, nextId); written += nextId; nextId += 1
        case 2 => // replay a random earlier batch (guard decides)
          writeGen(d, rng.nextLong(nextId))
        case 3 => // crash BEFORE the first rename (complete or junk .next)
          if (rng.nextBoolean()) foldPrefix(nextId - 1)
          else {
            Files.createDirectories(Paths.get(s"$d.next").resolve("gen=-9"))
            Files.writeString(
              Paths.get(s"$d.next", "gen=-9").resolve("junk.parquet"), "torn")
          }
        case 4 => // crash BETWEEN the renames (roll-forward window)
          foldPrefix(nextId - 1)
          assert(new java.io.File(d).renameTo(new java.io.File(s"$d.old")))
        case 5 => // clean compaction, then a stale d.old leftover
          StreamPlans.compactGenerations(spark, d, s"gen=${-nextId}",
            Seq("doc_id", "sh"), nextId - 1)
          if (rng.nextBoolean()) {
            Files.createDirectories(Paths.get(s"$d.old").resolve("gen=0"))
            Files.writeString(
              Paths.get(s"$d.old", "gen=0").resolve("stale.parquet"), "x")
          }
      }
      StreamPlans.recoverCompaction(d) // the restart every window gets
      assert(rows(d) == expected(),
        s"step $step: standing multiset diverged from the ledger")
      // and replays stay no-ops against whatever the marker now says
      if (written.nonEmpty) {
        writeGen(d, rng.nextLong(nextId))
        assert(rows(d) == expected(), s"step $step: replay duplicated rows")
      }
    }
  }

  test("corrupt marker fails the batch instead of re-enabling replay writes") {
    val d = tmp("graft-compact-corrupt")
    Files.createDirectories(Paths.get(d))
    Files.writeString(Paths.get(d, "_compacted_upto"), "not-a-number")
    val e = intercept[IllegalStateException](StreamPlans.compactedUpto(d))
    assert(e.getMessage.contains("corrupt"))
  }

  test("abandoned marker temp file (crash between create and move) is swept on recovery") {
    val d = tmp("graft-compact-tmpdebris")
    (0L to 2L).foreach(writeGen(d, _))
    StreamPlans.compactGenerations(spark, d, "gen=-3",
      Seq("doc_id", "sh"), upToBatchId = 2L)
    val before = rows(d)

    // simulate markCompactedUpto dying between createTempFile and
    // ATOMIC_MOVE: the staging file sits in the dir forever (both the
    // rolled-forward-into-d case and a direct write are this shape)
    val orphan = Files.createTempFile(Paths.get(d), "._compacted_upto", ".tmp")
    Files.writeString(orphan, "7")

    StreamPlans.recoverCompaction(d)
    assert(!Files.exists(orphan), "abandoned marker tmp swept")
    assert(rows(d) == before, "sweep touches only the tmp debris")
    assert(StreamPlans.compactedUpto(d) == 2L,
      "the committed marker is not the sweep's business")
  }

  test("marker writes stage through a temp file and leave no debris") {
    val d = tmp("graft-compact-tmp")
    Files.createDirectories(Paths.get(d))
    (1L to 5L).foreach(StreamPlans.markCompactedUpto(d, _))
    val leftovers = Option(new java.io.File(d).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(_.getName.startsWith("._compacted_upto"))
    assert(leftovers.isEmpty, s"tmp staging files left: ${leftovers.mkString(",")}")
    assert(StreamPlans.compactedUpto(d) == 5L)
  }
}
