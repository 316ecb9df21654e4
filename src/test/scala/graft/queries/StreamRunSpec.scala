package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.SuiteTempDirs
import graft.sources.InMemoryQueueRegistry
import StreamRun.Feed

/** Lifecycle laws of the stream-row runner: a run releases every queue
  * it registered and its checkpoint dir whether the query succeeds or
  * fails, and a file announced twice lands its rows once. */
class StreamRunSpec extends AnyFunSuite with SuiteTempDirs {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = try spark.stop() finally super.afterAll()

  private val schema = StructType(Seq(StructField("id", LongType)))

  /** Ids 0..39 staged as 4 parquet files. */
  private lazy val stage: String = {
    val d = tempDir("graft-streamrun-spec").resolve("ids").toString
    spark.range(0L, 40L, 1L, 4).toDF("id").write.parquet(d)
    d
  }

  private def causes(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq

  test("a failing foreachBatch rethrows; the run leaves no queue or checkpoint dir") {
    var seen: StreamRun = null
    val e = intercept[Exception] {
      StreamRun(spark, "streamrun_spec_fail") { run =>
        seen = run
        run.foreachBatch(run.source(schema, Seq(Feed(stage)))) { (_, _) =>
          throw new IllegalStateException("streamrun-spec boom")
        }
      }
    }
    assert(causes(e).exists(c => String.valueOf(c.getMessage).contains("streamrun-spec boom")),
      s"the batch error must surface, got: $e")
    assert(seen.queueNames.nonEmpty)
    assert(InMemoryQueueRegistry.names.intersect(seen.queueNames.toSet).isEmpty,
      s"queues left registered: ${seen.queueNames}")
    val cp = seen.checkpointDir.getOrElse(fail("the foreachBatch run made no checkpoint dir"))
    assert(!new java.io.File(cp).exists(), s"checkpoint dir left behind: $cp")
  }

  test("every file announced twice, one per trigger: each row lands once, the plan is recorded") {
    val gate = "streamrun_spec_twice"
    var queues = Seq.empty[String]
    val ids = StreamRun(spark, gate) { run =>
      val df = run.source(schema, Seq(Feed(stage, copies = 2)), "maxFilesPerTrigger" -> "1")
      queues = run.queueNames
      run.memory(df, "append").collect().map(_.getLong(0)).sorted.toSeq
    }
    assert(ids == (0L until 40L))
    assert(StreamPlans.get(gate).exists(_.nonEmpty), "memory-sink runs record their plan")
    assert(InMemoryQueueRegistry.names.intersect(queues.toSet).isEmpty)
  }
}
