package graft.operators

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SuiteTempDirs

/** Job-count laws for the CC fixpoint ([[Dedup.dedupClusters]]) and the
  * survivor-selection overload.
  *
  * The fixpoint truncates lineage with a LAZY `localCheckpoint(false)` so
  * the convergence-witness aggregate is each round's ONE action: it
  * materializes the checkpoint and returns the label sum in the same job.
  * If the lazy checkpoint ever re-computed (doCheckpoint finding uncached
  * partitions and launching repair jobs) or a refactor re-introduced a
  * separate materialization pass, the per-round job count would rise —
  * this suite pins it. AQE and auto-broadcast are disabled in this
  * session so one action == one Spark job deterministically (AQE splits
  * an action into per-stage jobs; broadcast exchanges submit their own
  * collect jobs), making the law an equality, not a bound.
  */
class DedupJobsSpec extends AnyFunSuite with SuiteTempDirs {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.adaptive.enabled", "false")
    .config("spark.sql.autoBroadcastJoinThreshold", "-1")
    .getOrCreate()

  override def afterAll(): Unit = try spark.stop() finally super.afterAll()

  private def plantDocs(rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = tempDir("graft-jobsdocs").toString
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("fixture"))
      .withColumn("n_chars", length($"text").cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** 80-doc sliding-window chain: consecutive docs are near-dups, the
    * whole chain is one diameter-79 component — enough fixpoint rounds
    * to make a per-round job leak unmissable. */
  private lazy val chainDir: String = {
    val stream = (1 to 120).map(i => f"w$i%03d")
    plantDocs((0 until 80).map { i =>
      (i + 1).toLong -> stream.slice(i, i + 40).mkString(" ")
    })
  }

  /** Count jobs started while `body` runs. Listener events post
    * asynchronously, so poll until the count is stable for 500 ms. */
  private def countJobs[A](body: => A): (Int, A) = {
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val result = body
      var prev = -1
      var stableSince = System.nanoTime()
      while (System.nanoTime() - stableSince < 500L * 1000 * 1000) {
        val cur = jobs.get()
        if (cur != prev) { prev = cur; stableSince = System.nanoTime() }
        Thread.sleep(50)
      }
      (jobs.get(), result)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("dedupClusters costs exactly one job per fixpoint round (+ bookends)") {
    // warm the parquet read path once so schema/footer jobs (if any) are
    // measured and charged to the bookend constant, not guessed at
    graft.queries.Tables.documents(spark, chainDir).count()
    val (jobs, out) = countJobs(Dedup.dedupClusters(spark, chainDir))
    val rounds = Dedup.lastCcRounds
    assert(rounds >= 5 && rounds < 50, s"chain fixture should need O(log 79) rounds, got $rounds")
    // Bookend jobs (measured by stage-name audit, stable under AQE-off):
    // 1 parquet schema-inference, 2 for the initial label-sum witness,
    // 2 for the result's orderBy (range-partitioner sample) + count.
    // Everything else must be the ONE witness-aggregate job per round —
    // its stages include the lazy localCheckpoint materialization, never
    // a separate doCheckpoint repair job. An eager checkpoint (or a lazy
    // one that re-computes) adds >= 1 job per round and trips the upper
    // bound; a skipped witness trips the lower.
    assert(jobs >= rounds + 2 && jobs <= rounds + 5,
      s"expected 1 job/round + <=5 bookends for $rounds rounds, saw $jobs jobs")
    val labels = out.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(labels.length == 80 && labels.forall(_._2 == 1L),
      "the chain must still collapse to one component rooted at 1")
    out.unpersist()
  }

  test("dedupKeepCanonical(precomputed clusterMap) == gate path, without re-running CC") {
    val base = (1 to 40).map(i => f"tok$i%02d").mkString(" ")
    val dir = plantDocs(Seq(
      10L -> base, 20L -> (base + " extrapad"),
      30L -> base.replace("tok01", "tokY"),
      99L -> "completely unrelated words about catalyst physical planning"))
    val viaGate = Dedup.dedupKeepCanonical(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    // production path: persist the cluster map once, pass it in
    val clusterMap = Dedup.dedupClusters(spark, dir)
    val ccRoundsBefore = Dedup.lastCcRounds
    val (jobs, viaOverload) = countJobs(
      Dedup.dedupKeepCanonical(spark, dir, clusterMap).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet)
    assert(viaOverload == viaGate && viaGate.nonEmpty,
      s"overload must agree with the gate path: $viaOverload vs $viaGate")
    // the overload must never pay the CC fixpoint again: parquet schema
    // inference + orderBy sample + collect over a cached cluster map —
    // not rounds-many witness jobs (re-entering CC would be >= 10 here)
    assert(jobs <= 3, s"survivor selection over a precomputed map should be ~1 action, saw $jobs jobs")
    assert(Dedup.lastCcRounds == ccRoundsBefore,
      "the overload must not have re-entered the fixpoint")
    clusterMap.unpersist()
  }
}
