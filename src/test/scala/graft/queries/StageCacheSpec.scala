package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.SuiteTempDirs

/** Laws for the streaming-gate staged-fixture store (r21 verdict item 1:
  * cut the stream family's non-semantic fixed cost). The store must
  * behave like [[graft.operators.Models]]: stage once per (key, input
  * fingerprint) per JVM, re-stage when the input files change, and
  * record the staging wall per gate row so the bench record can print
  * the staging/query split. */
class StageCacheSpec extends AnyFunSuite with SuiteTempDirs {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = try spark.stop() finally super.afterAll()

  test("same key reuses the staged dir; the write runs once") {
    val s = spark
    import s.implicits._
    val src = tempDir("graft-scs-src").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.mode("overwrite").parquet(src)
    var builds = 0
    def stage(): String =
      StageCache.dir("scs_gate", s"scs|$src|hash:1:id", Seq(src)) { out =>
        builds += 1
        s.read.parquet(src).repartition(1, $"id").write.mode("overwrite").parquet(out)
      }
    val d1 = stage()
    val d2 = stage()
    assert(d1 == d2, "second call must serve the staged dir")
    assert(builds == 1, "the staging write must run exactly once per JVM")
    assert(Files.exists(Paths.get(d1, "_SUCCESS")))
    assert(StageCache.stagingSec.getOrElse("scs_gate", 0.0) > 0.0,
      "staging wall must be charged to the gate row")
  }

  test("a changed input fixture re-stages under the same logical key") {
    val s = spark
    import s.implicits._
    val src = tempDir("graft-scs-src2").toString
    Seq((1L, "a")).toDF("id", "v").write.mode("overwrite").parquet(src)
    def stage(): String =
      StageCache.dir("scs_gate2", s"scs2|$src|hash:1:id", Seq(src)) { out =>
        s.read.parquet(src).write.mode("overwrite").parquet(out)
      }
    val d1 = stage()
    // regenerate the fixture under the SAME path (what the driver does
    // between rounds) — sizes/mtimes move, so the fingerprint must too
    Thread.sleep(5)
    Seq((1L, "a"), (2L, "bb")).toDF("id", "v").write.mode("overwrite").parquet(src)
    val d2 = stage()
    assert(d1 != d2, "a regenerated fixture must re-stage, never serve stale files")
    assert(s.read.parquet(d2).count() == 2)
  }

  test("copyParquet duplicates exactly the data files") {
    val s = spark
    import s.implicits._
    val a = tempDir("graft-scs-a").toString
    Seq((1L, "x"), (2L, "y")).toDF("id", "v").coalesce(1)
      .write.mode("overwrite").parquet(a)
    val b = tempDir("graft-scs-b").toString + "/copy"
    StageCache.copyParquet(a, b)
    val aFiles = new java.io.File(a).listFiles().filter(_.getName.endsWith(".parquet"))
    val bFiles = new java.io.File(b).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(aFiles.map(_.getName).sorted.sameElements(bFiles.map(_.getName).sorted))
    assert(s.read.parquet(b).orderBy("id").collect()
      .sameElements(s.read.parquet(a).orderBy("id").collect()))
  }
}
