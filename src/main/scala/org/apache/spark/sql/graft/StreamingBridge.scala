package org.apache.spark.sql.graft

import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.{SinkProgress, SourceProgress, StateOperatorProgress, StreamingQueryException, StreamingQueryProgress, StreamingQueryStatus}
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

/** Bridge into the `private[sql]` constructors of Spark's streaming
  * progress, status, event and failure objects, so that graft's own
  * emitter loop reports through the public `StreamingQuery` and
  * `StreamingQueryListener` types. Lives under `org.apache.spark.sql`
  * solely for access; contains no Spark code.
  */
object StreamingBridge {

  /** One batch's progress: its phase times, no state operator, and one
    * source that read `numInputRows` rows from offset `batchId - 1` to `batchId`. */
  def progress(id: UUID, runId: UUID, name: String, timestamp: String, batchId: Long,
      durationMs: Seq[(String, Long)], source: String, sink: String, numInputRows: Long): StreamingQueryProgress = {
    val total = durationMs.collectFirst { case ("triggerExecution", ms) => ms }.getOrElse(0L)
    val rate = if (total > 0) numInputRows * 1000.0 / total else Double.NaN
    val src = new SourceProgress(source, (batchId - 1).toString, batchId.toString, batchId.toString,
      numInputRows, Double.NaN, rate, Map.empty[String, String].asJava)
    new StreamingQueryProgress(id, runId, name, timestamp, batchId, total,
      durationMs.map { case (k, v) => k -> java.lang.Long.valueOf(v) }.toMap.asJava,
      Map.empty[String, String].asJava, Array.empty[StateOperatorProgress], Array(src),
      new SinkProgress(sink, SinkProgress.DEFAULT_NUM_OUTPUT_ROWS, Map.empty[String, String].asJava),
      Map.empty[String, org.apache.spark.sql.Row].asJava)
  }

  def progressEvent(p: StreamingQueryProgress): QueryProgressEvent = new QueryProgressEvent(p)

  def status(message: String, isDataAvailable: Boolean, isTriggerActive: Boolean): StreamingQueryStatus =
    new StreamingQueryStatus(message, isDataAvailable, isTriggerActive)

  def started(id: UUID, runId: UUID, name: String, timestamp: String): QueryStartedEvent =
    new QueryStartedEvent(id, runId, name, timestamp)

  def terminated(id: UUID, runId: UUID, exception: Option[String]): QueryTerminatedEvent =
    new QueryTerminatedEvent(id, runId, exception)

  /** The failure `awaitTermination` throws: Spark's `STREAM_FAILED`, caused by `cause`. */
  def failure(id: UUID, runId: UUID, name: String, cause: Throwable): StreamingQueryException = {
    val msg = String.valueOf(cause.getMessage)
    new StreamingQueryException(
      s"[STREAM_FAILED] Query [id = $id, runId = $runId] ($name) terminated with exception: $msg",
      cause, "STREAM_FAILED", Map("id" -> id.toString, "runId" -> runId.toString, "message" -> msg))
  }
}
