package graft

import org.apache.spark.sql.SparkSession

/** The local session of the mains ([[Bench]], [[Verify]], [[ExplainQuery]],
  * [[PerfHarness]]): `local[cpus]` with one shuffle
  * partition per core, UI off, the UTC session zone every event-time
  * oracle assumes, and a codegen field cap of 256 so the 128-column
  * minhash signature aggregate stays inside whole-stage codegen (the
  * default cap is 100). Every query is decimal-exact by construction, so
  * the core count never changes results.
  */
object GraftSession {
  /** `SPARK_GRAFT_CPUS`, else the core count capped at 32. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    math.min(32, Runtime.getRuntime.availableProcessors()).toString)

  def local(): SparkSession = {
    val n = cpus
    SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.maxFields", "256")
      .getOrCreate()
  }
}
