package perfbench

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.connector.read.streaming.{Offset => ConnectorOffset, ReadLimit, ReportsSourceMetrics, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.sources.StreamSourceProvider
import org.apache.spark.sql.types.StructType

import graft.sources.{GraftFileSource, GraftFileSourceProvider}

/** Stream source provider for traced runs: builds the `graft-files` source
  * through its public provider and wraps it so that every call the engine
  * makes into it is recorded as a `source` span. Used as
  * `readStream.format(classOf[TracedGraftProvider].getName)`. */
final class TracedGraftProvider extends StreamSourceProvider {
  private val inner = new GraftFileSourceProvider

  override def sourceSchema(
      sqlContext: SQLContext,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    inner.sourceSchema(sqlContext, schema, providerName, parameters)

  override def createSource(
      sqlContext: SQLContext,
      metadataPath: String,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): Source = {
    val src = TracedSource.timed("create") {
      inner.createSource(sqlContext, metadataPath, schema, providerName, parameters)
    }
    new TracedSource(src.asInstanceOf[GraftFileSource])
  }
}

final class TracedSource(d: GraftFileSource)
  extends Source with SupportsTriggerAvailableNow with ReportsSourceMetrics {
  import TracedSource.timed

  override def schema: StructType = d.schema
  override def getOffset: Option[Offset] = timed("latest_offset")(d.getOffset)
  override def getDefaultReadLimit: ReadLimit = d.getDefaultReadLimit
  override def latestOffset(start: ConnectorOffset, limit: ReadLimit): ConnectorOffset =
    timed("latest_offset")(d.latestOffset(start, limit))
  override def prepareForTriggerAvailableNow(): Unit =
    timed("prepare")(d.prepareForTriggerAvailableNow())
  override def getBatch(start: Option[Offset], end: Offset): DataFrame =
    timed("get_batch")(d.getBatch(start, end))
  override def commit(end: Offset): Unit = timed("commit")(d.commit(end))
  override def metrics(latest: java.util.Optional[ConnectorOffset]): java.util.Map[String, String] =
    d.metrics(latest)
  override def stop(): Unit = d.stop()
  override def toString: String = d.toString
}

object TracedSource {
  /** Spans of every traced source in this JVM. */
  val spans = new SpanLog

  def timed[T](name: String)(body: => T): T = {
    val t0 = Clock.nowMs
    try body finally spans.add(Span("source", name, t0, Clock.nowMs, -1L))
  }
}
