package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spark engine counters, summed per harness layer. A job's layer is the
  * `perfbench.layer` local property of the thread that submitted it; jobs
  * of a streaming query without that property belong to `emitter`.
  */
final class EngineListener extends SparkListener {
  import EngineListener._

  private val byLayer = mutable.Map.empty[String, Array[Long]]
  private val stageLayer = mutable.Map.empty[Int, String]

  private def counters(layer: String): Array[Long] =
    byLayer.getOrElseUpdate(layer, new Array[Long](Names.size))

  private def layerOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(LayerKey))).getOrElse {
      if (props != null && props.getProperty("sql.streaming.queryId") != null) "emitter"
      else "other"
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val layer = layerOf(e.properties)
    counters(layer)(Jobs) += 1
    e.stageIds.foreach(stageLayer(_) = layer)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    counters(stageLayer.getOrElse(e.stageInfo.stageId, "other"))(Stages) += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counters(stageLayer.getOrElse(e.stageId, "other"))
    c(Tasks) += 1
    if (!e.taskInfo.successful) c(TasksFailed) += 1
    val m = e.taskMetrics
    if (m != null) {
      c(RunMs) += m.executorRunTime
      c(CpuMs) += m.executorCpuTime / 1000000L
      c(GcMs) += m.jvmGCTime
      val overhead = m.executorRunTime + m.executorDeserializeTime +
        m.resultSerializationTime + e.taskInfo.gettingResultTime
      c(SchedDelayMs) += math.max(0L, e.taskInfo.duration - overhead)
      c(ShuffleRead) += m.shuffleReadMetrics.totalBytesRead
      c(ShuffleWrite) += m.shuffleWriteMetrics.bytesWritten
      c(Spill) += m.memoryBytesSpilled + m.diskBytesSpilled
      c(InputBytes) += m.inputMetrics.bytesRead
      c(OutputBytes) += m.outputMetrics.bytesWritten
    }
  }

  /** Copy of the counters: layer → counter name → value. */
  def snapshot(): Map[String, Map[String, Long]] = synchronized {
    byLayer.map { case (l, a) => l -> Names.zip(a).toMap }.toMap
  }
}

object EngineListener {
  val LayerKey = "perfbench.layer"

  val Names: Seq[String] = Seq("jobs", "stages", "tasks", "tasks_failed", "executor_run_ms",
    "executor_cpu_ms", "scheduler_delay_ms", "gc_ms", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "input_bytes", "output_bytes")
  private val Jobs = 0; private val Stages = 1; private val Tasks = 2; private val TasksFailed = 3
  private val RunMs = 4; private val CpuMs = 5; private val SchedDelayMs = 6; private val GcMs = 7
  private val ShuffleRead = 8; private val ShuffleWrite = 9; private val Spill = 10
  private val InputBytes = 11; private val OutputBytes = 12

  /** Counters accrued between two snapshots, summed over the given layers (all when empty). */
  def delta(before: Map[String, Map[String, Long]], after: Map[String, Map[String, Long]],
      layers: Set[String] = Set.empty): Map[String, Long] =
    Names.map { n =>
      n -> after.collect { case (l, m) if layers.isEmpty || layers(l) =>
        m(n) - before.get(l).map(_(n)).getOrElse(0L)
      }.sum
    }.toMap

  /** Run `body` with this thread's jobs counted under `layer`. */
  def inLayer[T](sc: org.apache.spark.SparkContext, layer: String)(body: => T): T = {
    val prev = sc.getLocalProperty(LayerKey)
    sc.setLocalProperty(LayerKey, layer)
    try body finally sc.setLocalProperty(LayerKey, prev)
  }
}

/** One trigger of a streaming query, as its progress event reports it. */
final case class Trigger(
    batchId: Long,
    startMs: Long,
    inputRows: Long,
    durations: Map[String, Long],
    stateRows: Long,
    stateBytes: Long,
    stateCommitMs: Long)

/** Keeps every progress event of the named query. */
final class ProgressListener(queryName: String) extends StreamingQueryListener {
  import StreamingQueryListener._

  private val triggers = new ConcurrentLinkedQueue[Trigger]()

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.name == queryName) {
      val ops = p.stateOperators.toSeq
      triggers.add(Trigger(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.numInputRows, p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum, ops.map(_.commitTimeMs).sum))
    }
  }

  /** The id of the latest micro-batch reported, or -1 before the first. */
  def lastBatchId: Long = triggers.asScala.foldLeft(-1L)((m, t) => math.max(m, t.batchId))

  /** Progress of triggers that ran a micro-batch (idle heartbeats excluded). */
  def batches: Seq[Trigger] = triggers.asScala.toSeq.filter(_.durations.contains("addBatch"))
}
