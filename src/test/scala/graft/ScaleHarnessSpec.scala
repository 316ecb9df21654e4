package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Laws of the scale-exponent harness: the synthetic corpus must pass the
  * fixture schema guard (the ops under measurement load through
  * `Tables.table`), carry the planted scale-invariant structure the
  * measured claims rest on, and the slope fit must be exact on planted
  * power laws.
  */
class ScaleHarnessSpec extends AnyFunSuite with SuiteTempDirs {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = try spark.stop() finally super.afterAll()

  test("synthetic corpus passes the fixture schema guard and is deterministic") {
    val dir = tempDir("graft-scalespec")
    PerfHarness.synthCorpus(spark, dir, nDocs = 500, nVecs = 200)
    // Tables.table applies assertFixtureSchema — a drift throws here
    val docs = graft.queries.Tables.documents(spark, dir.toString)
    val embs = graft.queries.Tables.embeddings(spark, dir.toString)
    assert(docs.count() == 500 && embs.count() == 200)
    // deterministic: regenerating yields the identical corpus
    val dir2 = tempDir("graft-scalespec2")
    PerfHarness.synthCorpus(spark, dir2, nDocs = 500, nVecs = 200)
    val a = docs.orderBy("doc_id").collect().map(_.toString).toSeq
    val b = graft.queries.Tables.documents(spark, dir2.toString)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    assert(a == b, "synthCorpus must be deterministic for reproducible slopes")
  }

  test("planted near-dup structure: fixed per-doc rate, diameter <= 2 components") {
    val dir = tempDir("graft-scalespec3")
    PerfHarness.synthCorpus(spark, dir, nDocs = 2000, nVecs = 10)
    val clusters = graft.operators.Dedup.dedupClusters(spark, dir.toString).collect()
    // blocks of 50: every block plants >=1 near pair, every 5th a 3-chain;
    // short docs (<29 tokens) legitimately fall under the 0.8 jaccard
    // edge threshold, so assert a healthy band, not an exact count
    val nClustered = clusters.length
    assert(nClustered > 40 && nClustered <= 2 * (2000 / 50) + 2000 / 250,
      s"planted near-dup density off: $nClustered clustered docs")
    // diameter <= 2 must converge in very few pointer-doubling rounds —
    // the scale-invariant CC-rounds claim the harness measures
    assert(graft.operators.Dedup.lastCcRounds <= 3,
      s"planted components should converge fast, took ${graft.operators.Dedup.lastCcRounds}")
    val sizes = clusters.map(_.getLong(2)).toSet
    assert(sizes.subsetOf(Set(2L, 3L)), s"component sizes should be 2..3, got $sizes")
  }

  test("dedup_cc_lsh: the LSH candidate path yields the exact path's components") {
    val dir = tempDir("graft-scalespec4")
    PerfHarness.synthCorpus(spark, dir, nDocs = 2000, nVecs = 10)
    val exact = graft.operators.Dedup.dedupClusters(spark, dir.toString)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val lsh = graft.operators.Dedup.dedupClustersLsh(spark, dir.toString)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(exact.nonEmpty, "planted corpus must cluster")
    assert(lsh == exact,
      s"LSH CC must match exact CC on the planted corpus (exact=${exact.size}, lsh=${lsh.size})")
  }

  test("dedup_cc_lsh: an oversized duplicate pile reconnects transitively through windowed links") {
    val s = spark; import s.implicits._
    val dir = tempDir("graft-scalespec5").toString
    // one dup pile of 80 near-identical docs (> BucketW+1 = 65): every
    // band bucket holds all 80, so the window emits only rank-local
    // pairs — the pile must still collapse to ONE component, proving
    // the windowed candidate generation loses fan-out, not connectivity
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val rows = (0L until 80L).map(i => (i, s"$base end$i", "en", "s", 250L)) ++
      (100L until 150L).map(i => (i, (1 to 30).map(j => s"u${i}_$j").mkString(" "), "en", "s", 200L))
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val comps = graft.operators.Dedup.dedupClustersLsh(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(comps.length == 80, s"all 80 pile members must cluster, got ${comps.length}")
    assert(comps.forall(c => c._2 == 0L && c._3 == 80L),
      s"pile must be ONE component rooted at 0 with size 80: ${comps.take(5).mkString(", ")}")
  }

  test("semdedup_bounded: recursive splitting bounds every cell; verdicts equal the cell-local rule") {
    val s = spark; import s.implicits._
    val dir = tempDir("graft-scalespec6")
    // 5000 vectors > SemTarget forces at least one split level
    PerfHarness.synthCorpus(spark, dir, nDocs = 10, nVecs = 5000)
    val cells = graft.operators.Dedup2.boundedCells(spark, dir.toString)
      .select($"vec_id", $"cell").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cells.size == 5000, "every vector must come out of the splitter")
    val sizes = cells.values.groupBy(identity).map(_._2.size)
    assert(sizes.max <= 2000, s"split must bound every cell at SemTarget, max=${sizes.max}")
    assert(sizes.size > 1, "a 5000-vector corpus must actually split")
    // determinism: the same corpus splits the same way
    val cells2 = graft.operators.Dedup2.boundedCells(spark, dir.toString)
      .select($"vec_id", $"cell").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cells2 == cells, "splitting must be deterministic")
    // the verdict law: dropped iff a lower-id cell-mate sits at cosine >= theta
    val verdicts = graft.operators.Dedup2.semDedupBounded(spark, dir.toString)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val embs = graft.queries.Tables.embeddings(spark, dir.toString)
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1 }
      math.rint(d / (math.sqrt(na) * math.sqrt(nb)) * 1e6) / 1e6
    }
    val byCell = cells.toSeq.groupBy(_._2)
    val expDropped = byCell.values.flatMap { members =>
      val ids = members.map(_._1).sorted
      ids.filter(b => ids.exists(a => a < b && cos(embs(a), embs(b)) >= 0.35))
    }.toSet
    val gotDropped = verdicts.filter(!_._2).keySet
    assert(gotDropped == expDropped,
      s"verdicts must equal the cell-local rule: extra=${(gotDropped -- expDropped).take(5)} missing=${(expDropped -- gotDropped).take(5)}")
  }

  test("scale record names its core count and shuffle partitions") {
    val json = PerfHarness.scaleRun(spark, Seq(1), Seq("dedup_exact"), reps = 1)
    assert(json.contains(s""""cores":${GraftSession.cpus},"""), json)
    assert(json.contains(""""shuffle_partitions":4,"""), json)
    assert(json.contains(""""dedup_exact":{"wall_sec":["""), json)
  }

  test("log-log slope fit is exact on planted power laws") {
    val xs = Seq(1.0, 10.0, 100.0)
    assert(math.abs(PerfHarness.logLogSlope(xs, xs.map(x => 3.0 * x)) - 1.0) < 1e-9)
    assert(math.abs(PerfHarness.logLogSlope(xs, xs.map(x => 0.5 * x * x)) - 2.0) < 1e-9)
    assert(math.abs(PerfHarness.logLogSlope(xs, xs.map(_ => 7.0))) < 1e-9)
  }
}
