package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.SuiteTempDirs

/** The CC kernels' checkpoint trade, pinned (r21 verdict item 8):
  *
  *  - DEFAULT mode is the lazy LOCAL checkpoint — fast, but blocks live
  *    on executors, so an executor loss makes the truncated lineage
  *    unrecomputable. Acceptable on this harness; at cluster scale the
  *    fixpoint needs an escape hatch.
  *  - `spark.graft.cc.reliableCheckpoint=true` routes every kernel
  *    truncation through the RELIABLE `checkpoint(false)` (requires
  *    `sc.setCheckpointDir`), which survives executor loss. Labels must
  *    be bit-identical across the modes.
  *  - Checkpoint blocks release DETERMINISTICALLY
  *    ([[Par.releaseLocalCheckpoint]]), not when the GC happens to
  *    collect the frame reference (r21 ADVICE on lazy-checkpoint
  *    reclamation).
  */
class CcReliableCheckpointSpec extends AnyFunSuite with SuiteTempDirs {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.codegen.maxFields", "256")
    .getOrCreate()

  override def afterAll(): Unit = try spark.stop() finally super.afterAll()

  private def pairs() = {
    val s = spark
    import s.implicits._
    // two chained components + a singleton pair: exercises the shortcut
    Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L), (21L, 22L))
      .toDF("a_id", "b_id")
  }

  test("reliable-checkpoint mode produces bit-identical labels") {
    val s = spark
    val local = Dedup.ccFixpoint(pairs()).collect().map(_.toString).sorted
    val ckDir = tempDir("graft-ccck").toString
    s.sparkContext.setCheckpointDir(ckDir)
    s.conf.set("spark.graft.cc.reliableCheckpoint", "true")
    try {
      val reliable = Dedup.ccFixpoint(pairs()).collect().map(_.toString).sorted
      assert(reliable.sameElements(local),
        "reliable and local checkpoint modes must label identically")
      // the reliable path actually wrote checkpoint data
      assert(new java.io.File(ckDir).listFiles().nonEmpty,
        "reliable mode must write to the checkpoint dir")
    } finally s.conf.unset("spark.graft.cc.reliableCheckpoint")
  }

  test("releaseLocalCheckpoint frees the checkpoint blocks deterministically") {
    val s = spark
    import s.implicits._
    val before = s.sparkContext.getPersistentRDDs.keySet
    val df = Seq(1L, 2L, 3L).toDF("id").localCheckpoint(false)
    assert(df.count() == 3)
    val added = s.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.nonEmpty, "a materialized local checkpoint registers its RDD")
    Par.releaseLocalCheckpoint(df)
    val after = s.sparkContext.getPersistentRDDs.keySet
    assert(added.forall(!after.contains(_)),
      "release must drop the checkpointed RDD's blocks without waiting on GC")
    // no-op on a non-checkpoint frame
    Par.releaseLocalCheckpoint(Seq(1L).toDF("id"))
  }
}
