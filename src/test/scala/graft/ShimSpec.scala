package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.datasources.{DataSource, LogicalRelation}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.runtime.{FileStreamSourceOffset, StreamExecution, StreamingQueryWrapper}
import org.apache.spark.sql.graftshim.GraftShims
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Spark-version drift canary (SURVEY §7.3 risk #1): the engine leans on
  * a handful of `private[sql]` / internal seams — `GraftShims`
  * (classic.Dataset.ofRows, Column⇄Expression, internalCreateDataFrame),
  * `DataSource.resolveRelation` + `LogicalRelation`, the streaming
  * runtime classes (`StreamExecution`, `StreamingQueryWrapper`,
  * `FileStreamSourceOffset`), `CheckpointFileManager`, and the
  * `TypedImperativeAggregate` base of the custom aggregates. A Spark
  * minor bump that moves any of them should fail HERE, in one named
  * spec per seam, instead of surfacing as 200 opaque gate failures.
  * Every test exercises the seam end-to-end (resolve + round-trip), not
  * just classloading.
  */
class ShimSpec extends AnyFunSuite with SuiteTempDirs {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = try spark.stop() finally super.afterAll()

  test("GraftShims.ofRows: a hand-built LogicalPlan becomes a working DataFrame") {
    val plan = spark.range(5).toDF("x").queryExecution.logical
    val df = GraftShims.ofRows(spark, plan)
    assert(df.count() == 5)
    assert(df.schema.fieldNames.toSeq == Seq("x"))
  }

  test("GraftShims.column/expression: Column <-> Expression round-trips") {
    val e = Literal(42)
    val c = GraftShims.column(e)
    assert(GraftShims.expression(c) == e)
    // and a wrapped expression is usable in a real plan
    val got = spark.range(1).select(c.as("v")).head().getInt(0)
    assert(got == 42)
  }

  test("GraftShims.emptyStreamingDataFrame: isStreaming with the declared schema") {
    val schema = StructType(Seq(StructField("a", LongType), StructField("b", StringType)))
    val df = GraftShims.emptyStreamingDataFrame(spark, schema)
    assert(df.isStreaming, "must be a streaming frame (zero-file batches depend on it)")
    assert(df.schema == schema)
  }

  test("GraftShims.drainListenerBus: a slow listener has seen every task end of a job") {
    import java.util.concurrent.ConcurrentLinkedQueue
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    val sc = spark.sparkContext
    assert(GraftShims.drainListenerBus(sc, 30000)) // earlier tests' events
    val stages = new ConcurrentLinkedQueue[Integer]()
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        Thread.sleep(50) // slower than the tasks: events queue up on the bus
        stages.add(e.stageId)
      }
    }
    sc.addSparkListener(listener)
    def runJob(): Seq[Int] = {
      stages.clear()
      sc.parallelize(1 to 8, 8).count()
      assert(GraftShims.drainListenerBus(sc, 30000))
      stages.toArray.toSeq.map(_.asInstanceOf[Integer].intValue)
    }
    try {
      val first = runJob()
      assert(first.size == 8, "all 8 task ends delivered once the drain returns")
      val second = runJob()
      assert(second.size == 8)
      assert(second.toSet.intersect(first.toSet).isEmpty,
        "no task end of the first job is counted against the next")
    } finally sc.removeSparkListener(listener)
  }

  test("DataSource.resolveRelation + LogicalRelation + ofRows: the getBatch spelling") {
    val dir = tempDir("graft-shim").toString
    spark.range(7).toDF("v").write.parquet(s"$dir/t.parquet")
    // the exact spelling GraftFileSource.getBatch uses: resolve a file
    // relation without existence re-checks, wrap, lift to DataFrame
    val rel = DataSource(
      sparkSession = spark,
      paths = Seq(s"$dir/t.parquet"),
      className = "parquet").resolveRelation(checkFilesExist = false)
    val df = GraftShims.ofRows(spark, LogicalRelation(rel))
    assert(df.count() == 7)
  }

  test("FileStreamSourceOffset: construct, serialize, and re-extract") {
    val off = FileStreamSourceOffset(13L)
    assert(off.logOffset == 13L)
    // the offset-log round-trip is json-based; the seam is the field name
    assert(off.json.contains("13"))
    assert(FileStreamSourceOffset(org.apache.spark.sql.execution.streaming.SerializedOffset(off.json)).logOffset == 13L)
  }

  test("CheckpointFileManager: atomic create + read-back") {
    val dir = new org.apache.hadoop.fs.Path(
      tempDir("graft-shim-cfm").toString)
    val fm = CheckpointFileManager.create(dir, spark.sessionState.newHadoopConf())
    val f = new org.apache.hadoop.fs.Path(dir, "probe")
    val out = fm.createAtomic(f, overwriteIfPossible = true)
    out.write("shim-probe".getBytes("UTF-8")); out.close()
    val in = fm.open(f)
    val buf = new Array[Byte](10); in.readFully(buf); in.close()
    assert(new String(buf, "UTF-8") == "shim-probe")
    assert(fm.exists(f))
  }

  test("StreamingQueryWrapper -> StreamExecution: the lastExecution unwrap") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val ms = MemoryStream[Long](spark)
    ms.addData(1L, 2L)
    val q = ms.toDF().writeStream.format("memory").queryName("shim_probe")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val exec: StreamExecution = q match {
      case w: StreamingQueryWrapper => w.streamingQuery
      case e: StreamExecution => e
      case other => fail(s"unexpected query runtime class: ${other.getClass}")
    }
    assert(exec.lastExecution != null, "lastExecution must expose the executed plan")
    assert(spark.table("shim_probe").count() == 2)
  }

  test("TypedImperativeAggregate seams: the custom aggregates still extend it") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
    assert(classOf[TypedImperativeAggregate[_]]
      .isAssignableFrom(classOf[graft.functions.MinHashAgg]))
    assert(classOf[TypedImperativeAggregate[_]]
      .isAssignableFrom(classOf[graft.functions.TopKMinAgg]))
    assert(classOf[TypedImperativeAggregate[_]]
      .isAssignableFrom(classOf[graft.functions.BoundedGroupAgg]))
    // and one evaluates end-to-end through the Column wrapper
    import spark.implicits._
    val sig = Seq(1L, 2L, 3L).toDF("h")
      .agg(graft.functions.MinHashAgg.minhashAgg(org.apache.spark.sql.functions.col("h"), 4))
      .head().getSeq[Long](0)
    assert(sig.size == 4)
  }
}
