package graft.operators

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.SuiteTempDirs

/** Train-once / query-many laws for the [[Models]] artifact store
  * (r11 VERDICT "Next round" item 3): the second invocation of an ANN
  * query in a JVM must reuse the committed artifact — zero training
  * jobs — and a torn artifact must retrain instead of being served.
  */
class ModelsSpec extends AnyFunSuite with SuiteTempDirs {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.codegen.maxFields", "256")
    .getOrCreate()

  override def beforeAll(): Unit = Models.reset()
  override def afterAll(): Unit = try spark.stop() finally super.afterAll()

  private val sf = "/root/testdata/sf0.001"

  /** Jobs started while `body` runs (listener posts async — poll until
    * stable, the [[DedupJobsSpec]] harness). */
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

  test("ann_topk_pq trains its codebooks ONCE: second invocation runs zero Lloyd jobs") {
    val key = Clustering.pqBooksKey(sf)
    assert(Models.builds(key) === 0, "stale artifact from another spec — reset failed")
    val (jobs1, first) = countJobs(Clustering.annTopKPq(spark, sf).collect().toSeq)
    assert(Models.builds(key) === 1, "first invocation must train+commit the codebooks")
    val (jobs2, second) = countJobs(Clustering.annTopKPq(spark, sf).collect().toSeq)
    assert(Models.builds(key) === 1,
      "second invocation retrained — the train-once store failed to serve the artifact")
    assert(second === first, "cached codebooks changed the query result")
    // training = 1 init collect + PqIters iteration aggregates + the
    // artifact write/read; all of it must be gone from the second call
    assert(jobs2 < jobs1,
      s"second invocation should shed the training jobs: first=$jobs1, second=$jobs2")
  }

  test("emb_pq shares the trained codebooks with ann_topk_pq (one training per dir)") {
    val key = Clustering.pqBooksKey(sf)
    val before = Models.builds(key)
    Clustering.embPq(spark, sf).collect()
    assert(Models.builds(key) === math.max(before, 1),
      "emb_pq must reuse the dir's committed codebooks, not retrain its own")
  }

  test("ann_topk_ivf samples its coarse centroids once, then reloads them") {
    val key = s"ivf-centroids|$sf|k=16" +
      s"|in=${Models.inputFingerprint(s"$sf/embeddings.parquet")}"
    val first = Similarity.annTopKIvf(spark, sf).collect().toSeq
    assert(Models.builds(key) === 1)
    val second = Similarity.annTopKIvf(spark, sf).collect().toSeq
    assert(Models.builds(key) === 1, "second invocation re-sampled the corpus")
    assert(second === first)
  }

  test("regenerating data under the same path changes the cache key") {
    val dir = tempDir("graft-fp").toString
    Files.write(Paths.get(dir, "part-0.parquet"), Array[Byte](1, 2, 3))
    val fp1 = Models.inputFingerprint(dir)
    assert(fp1 === Models.inputFingerprint(dir), "fingerprint must be stable")
    // same path, different bytes + size — the driver's fixture regeneration
    Files.write(Paths.get(dir, "part-0.parquet"), Array[Byte](9, 9, 9, 9))
    assert(Models.inputFingerprint(dir) !== fp1,
      "regenerated data under the same path must change the fingerprint")
  }

  test("a torn artifact (missing _SUCCESS) retrains instead of being served") {
    val key = Clustering.pqBooksKey(sf)
    assert(Models.builds(key) >= 1, "run after the training tests")
    val dir = Models.root(key)(_ => fail("root must hit, not rebuild"))
    Files.delete(Paths.get(dir, "_SUCCESS")) // simulate an external cleaner / torn write
    val before = Models.builds(key)
    val rebuilt = Clustering.annTopKPq(spark, sf).collect()
    assert(Models.builds(key) === before + 1,
      "lost commit marker must trigger a retrain, not serve the torn artifact")
    assert(rebuilt.nonEmpty)
  }
}
