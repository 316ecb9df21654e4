package graft

/** Dev tool: print the formatted physical plan of one gate query
  * WITHOUT executing it — `runMain graft.ExplainQuery <sfDir> <name>`.
  * The plan-shape companion to [[Bench]]'s focused mode: when a query dies at a
  * scale the fixtures never reach (partitioning lies, zip mismatches,
  * codegen fallbacks), the plan names the offending operator without a
  * 10-minute run.
  *
  * Exception to the no-execute contract: queries whose FRAME
  * CONSTRUCTION already runs Spark jobs execute for real here —
  * every `stream_*` harness (building the returned frame runs the
  * whole stream to completion) and guard-bearing rows like
  * `emb_outlier` (its i64-headroom guard is a collect at construction
  * time). For those names this tool prints the plan of the FINAL
  * read-back frame and pays the run; prefer `graft.Bench <names>
  * <rounds>` when the run itself is what you want measured.
  *
  * Plans are not all stable across JVM histories: explained among all
  * 219 rows in one JVM, `corpus_stats` can swap the `Expand` group order
  * of its two distinct aggregates (the order follows how many
  * expressions the JVM created before). A whole-inventory plan diff
  * re-explains that row alone (`graft.ExplainQuery <sfDir>
  * corpus_stats`) before calling it changed. */
object ExplainQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val selected = SparkEntry.lookup(args(1).split(",").toSeq)
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    selected.foreach { case (name, fn) =>
      println(s"==== $name ====")
      println(fn(spark, sfDir).queryExecution.executedPlan.toString)
    }
    spark.stop()
  }
}
