package org.apache.spark.sql.graftshim

import java.util.concurrent.TimeoutException

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.{ClassicConversions, ColumnConversions}
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.SchemaUtils
import org.apache.spark.util.{HadoopFSUtils, ThreadUtils}

/** The `private[spark]`/`private[sql]` escape hatch this engine needs.
  *
  * Spark 4 moved `Dataset.ofRows` behind `org.apache.spark.sql.classic`
  * with `private[sql]` access, so turning a hand-built `LogicalRelation`
  * into a user-facing streaming DataFrame requires one file inside the
  * `org.apache.spark.sql` package tree. The reference does the identical
  * thing for Spark 3 (S3SparkUtils.scala:18,58-59); SNIPPETS.md shows the
  * pattern is standard for out-of-tree V1 sources. The source's batch
  * relation also keeps Spark's listing rules through here (hidden names,
  * schema checks, a bounded stat pool).
  * Everything else in the engine uses public/DeveloperApi surface.
  */
object GraftShims {
  def ofRows(spark: org.apache.spark.sql.SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Wrap a raw Catalyst Expression as a user-facing Column (Spark 4 hides
    * the Column(expr) constructor behind classic ClassicConversions). */
  def column(e: Expression): Column =
    ClassicConversions.ColumnConstructorExt(Column).apply(e)

  /** Extract the Catalyst Expression backing a Column. */
  def expression(c: Column): Expression = ColumnConversions.expression(c)

  /** Empty *streaming* DataFrame (isStreaming=true), for zero-file batches. */
  def emptyStreamingDataFrame(
      spark: org.apache.spark.sql.SparkSession,
      schema: StructType): DataFrame = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    val rdd: RDD[InternalRow] = cs.sparkContext.emptyRDD[InternalRow]
    cs.internalCreateDataFrame(rdd, schema, isStreaming = true)
  }

  /** Block until every listener has handled every event posted so far,
    * for at most `timeoutMs`; false if the bus was still busy then. The
    * bus delivers asynchronously, so a listener's counters read right
    * after an action may miss that action's last task and stage events. */
  def drainListenerBus(sc: SparkContext, timeoutMs: Long): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: TimeoutException => false }

  /** `schema` with every field nullable, at every depth. */
  def asNullable(schema: StructType): StructType = schema.asNullable

  /** Fail on two columns of `schema` whose names `equality` matches. */
  def checkColumnNameDuplication(schema: StructType,
      equality: (String, String) => Boolean): Unit =
    SchemaUtils.checkSchemaColumnNameDuplication(schema, equality)

  /** Whether a listing drops a file or directory of this name, as
    * `HadoopFSUtils` does (`_x`, `.x`; not `_metadata` or `_k=v`). */
  def isHiddenName(name: String): Boolean = HadoopFSUtils.shouldFilterOutPathName(name)

  /** `f` over `in` on a pool of at most `maxThreads` threads named
    * `prefix`, in input order; the pool is shut down on return. */
  def parmap[I, O](in: Seq[I], prefix: String, maxThreads: Int)(f: I => O): Seq[O] =
    ThreadUtils.parmap(in, prefix, maxThreads)(f)

  /** `DataSource`'s error for a partition column in neither the user
    * schema nor the inferred partitions. */
  def partitionColumnNotSpecified(format: String, column: String): Throwable =
    QueryCompilationErrors.partitionColumnNotSpecifiedError(format, column)
}
