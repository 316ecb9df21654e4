package graft

import org.apache.spark.sql.graftshim.GraftShims

/** Dev tool: steady-state timing of a query subset without the full
  * [[Bench]] sweep. `runMain graft.TimeQueries <sfDir> <n1,n2,...> [reps]`
  * prints per-run and min seconds per query (min = least-noise estimate,
  * same rationale as Bench's re-run rule), plus per-run SHUFFLE WRITE
  * bytes — the metric that binds at cluster scale, and the one a flat
  * sf0.1 wall can hide (a deleted corpus-wide shuffle reads as noise on
  * one box but is the whole win on 1000 executors).
  */
object TimeQueries {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val selected = SparkEntry.lookup(args(1).split(",").toSeq)
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
      SparkListenerStageCompleted}
    val shufW = new java.util.concurrent.atomic.LongAdder
    // driver job count per run: at bench SF each job is ~0.1-0.4 s of
    // driver-side planning/scheduling constants, so for the iterative
    // kernels (CC delta merge) the JOB COUNT is the cost model — the
    // r21 verdict's item-4 metric
    val jobs = new java.util.concurrent.atomic.LongAdder
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        if (m != null) shufW.add(m.shuffleWriteMetrics.bytesWritten)
      }
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.add(1)
    }
    spark.sparkContext.addSparkListener(listener)
    // the listener bus posts async: drain it, then read the settled sum
    def drainStable(): Long = {
      GraftShims.drainListenerBus(spark.sparkContext, Bench.DrainTimeoutMs)
      shufW.sum()
    }
    try selected.foreach { case (name, fn) =>
      // rows via one untimed count (sanity), timing via the noop sink —
      // count() lets Catalyst prune row-count-preserving tails (left
      // joins against unique aggregates vanish entirely; see Bench)
      val rows = fn(spark, sfDir).count()
      // drain the count's async listener events BEFORE the first reset,
      // or rep 1's reading absorbs the untimed count's shuffle bytes
      drainStable()
      val times = (1 to reps).map { i =>
        shufW.reset(); jobs.reset()
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        val sec = (System.nanoTime() - t0) / 1e9
        val mb = drainStable() / 1e6
        val nJobs = jobs.sum()
        println(f"TIME $name%-26s run$i $sec%7.2fs rows=$rows shufW=$mb%.1fMB jobs=$nJobs")
        (sec, mb, nJobs)
      }
      println(f"TIME $name%-26s min  ${times.map(_._1).min}%7.2fs " +
        f"shufW=${times.map(_._2).min}%.1fMB jobs=${times.map(_._3).min}")
    } finally spark.sparkContext.removeSparkListener(listener)
    spark.stop()
  }
}
