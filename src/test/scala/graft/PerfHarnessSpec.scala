package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The relative-perf harness must VALIDATE, not just time: both consumers
  * land exactly the generated rows (count + id checksum), bulk and
  * incremental phases included. */
class PerfHarnessSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** Entries of the system temp dir whose names start with `prefix`. */
  private def tempEntries(prefix: String): Set[String] =
    Option(new java.io.File(System.getProperty("java.io.tmpdir")).list())
      .fold(Set.empty[String])(_.filter(_.startsWith(prefix)).toSet)

  test("both consumers drain bulk + incremental phases to identical validated sinks") {
    val before = tempEntries("graft-pt")
    val r = PerfHarness.run(spark, nFiles = 12, rowsPerFile = 20)
    assert(tempEntries("graft-pt") -- before == Set.empty, "run leaves no temp dir behind")
    assert(r.valid, s"row/checksum validation failed: $r")
    // 12 bulk + 1 untimed settling round + 10 timed rounds, 8 files each
    assert(r.rows == (12 + 11 * 8) * 20L)
    assert(r.graftSec > 0 && r.fileSourceSec > 0 && r.graftIncSec > 0 && r.fileSourceIncSec > 0)
    // per-trigger samples feed the soak's tail percentiles
    assert(r.graftIncRounds.size == 10 && r.fileSourceIncRounds.size == 10)
    assert(PerfHarness.percentile(r.graftIncRounds, 0.5) <=
      PerfHarness.percentile(r.graftIncRounds, 0.95))
  }

  test("bulk sweep: each maxFilesPerTrigger drains the backlog to validated sinks") {
    val before = tempEntries("graft-bulk")
    val out = PerfHarness.bulkSweep(spark, nFiles = 12, rowsPerFile = 5, mfpts = Seq(5, 12))
    assert(tempEntries("graft-bulk") -- before == Set.empty, "the sweep leaves no temp dir behind")
    assert(out.contains(""""metric":"bulk_sweep","backlog_files":12"""), out)
    assert(out.contains(""""max_files_per_trigger":5,"triggers":3,"""), out)
    assert(out.contains(""""max_files_per_trigger":12,"triggers":1,"""), out)
    assert(""""valid":true""".r.findAllIn(out).size == 2, s"both configs must validate: $out")
  }

  test("layout soak: churned sessions agree on results and report the cache split") {
    val out = PerfHarness.layoutSoak(spark, "/root/testdata/sf0.001", sessions = 3, rounds = 2)
    assert(out.contains(""""metric":"layout_soak""""), out)
    assert(out.contains(""""valid":true"""),
      s"row counts diverged across churned sessions: $out")
    // every soaked query reports all three bands the claim is made of
    for (n <- Seq("q49_compact_small_files", "q50_zorder_cluster", "q52_dpp_prune")) {
      assert(out.contains(s""""$n":{"first_build_sec""""), s"missing $n in: $out")
    }
    assert(out.contains("later_first_p95_sec") && out.contains("steady_p50_sec"), out)
  }

  test("nearest-rank percentile picks the documented ranks") {
    val xs = Seq(5.0, 1.0, 3.0, 2.0, 4.0)
    assert(PerfHarness.percentile(xs, 0.5) == 3.0)
    assert(PerfHarness.percentile(xs, 0.95) == 5.0)
    assert(PerfHarness.percentile(Seq(7.0), 0.95) == 7.0)
  }
}
