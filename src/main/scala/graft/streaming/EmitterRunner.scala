package graft.streaming

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.parquet.HadoopReadOptions
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.{AvailableNowTrigger, ProcessingTimeTrigger}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StructType}

/** The consumer-side run loop (reference `WindowEmitter.run`,
  * minibatch/window.py:13-227), owned by graft: one driver thread per
  * emitter ([[EmitterQuery]]) lists, records, reads, windows, emits,
  * persists and commits each batch, with no Spark streaming engine.
  *
  * Stage mapping (SURVEY.md §3 E2): `window_ready`+`sleep` → trigger;
  * `query` → [[BufferSource.take]]; `process`/`timestamp`/`commit` → the
  * batch record and its commit marker; `emit` → `emitFn`; `undo` →
  * failed-batch replay (at-least-once into side effects, as the
  * reference's undo/redo, window.py:119-124); `persist(keep=True)` → the
  * stream's windows table (window.py:126-136). The record is written
  * before the batch is read and the marker after it is persisted: a
  * replayable source plus idempotent writes give effectively-once output.
  *
  * Every strategy windows on the driver: a batch's buffer files are
  * decoded by [[MbStream.readBufferFile]] and cut by [[CountCarry.step]]
  * (count strategies, from the record's carry) or [[cutTime]]. Each
  * window, and each `emitEmpty` gap window, reaches `emitFn` in id order
  * as a local DataFrame with [[MbStream.MessageSchema]] in arrival order.
  * `keep(true)` writes the batch's windows on the driver
  * ([[MbStream.writeWindows]]), and a batch sink gets them as one local
  * frame, which [[graft.sources.IdempotentTableSink]] writes on the driver
  * too: a trigger runs no Spark job, no cache, no shuffle and no state
  * store. The driver holds one batch at a time; `maxFilesPerTrigger`
  * bounds it.
  */
object EmitterRunner {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  case class Message(stream: String, created: Timestamp, data: String)

  /** Reserved control message: a CountWindow batch that holds this
    * payload emits its sub-N remainder as a final partial window (see
    * [[EmitterBuilder.flushPartialOnDrain]]). Never surfaces as data — all
    * strategies filter it out of the message flow.
    */
  val FlushSentinel: String = """{"__graft_flush__":true}"""

  sealed trait Strategy
  /** Emit a window for every N messages, exact, across micro-batches
    * (reference CountWindow, window.py:305-327). */
  final case class CountWindow(size: Int) extends Strategy
  /** [[CountWindow]] with BOUNDED STALENESS: exact-N windows, but a sub-N
    * remainder flushes as one final partial window once event time moves
    * `maxAgeSeconds` past the remainder's oldest message. The reference's
    * CountWindow has no such bound — a remainder below N waits in the
    * buffer forever (window.py:305-327 only ever emits complete windows);
    * this is the standard fix (count trigger OR timeout, whichever first).
    * The flush is driven by the newest arrival time seen, not the wall
    * clock, so it is deterministic and replay-safe (see [[CountCarry.step]]).
    */
  final case class CountWindowTimeout(size: Int, maxAgeSeconds: Long) extends Strategy
  /** Aligned tumbling windows over arrival time (reference FixedTimeWindow,
    * window.py:229-278). A window fragments across micro-batches only if
    * the trigger outpaces the window interval — the same hazard the
    * reference mitigates by over-sleeping (window.py:269-278); run with
    * trigger interval ≥ window interval.
    */
  final case class FixedTimeWindow(intervalSeconds: Long) extends Strategy
  /** Each micro-batch is one window — exactly Spark's contract (reference
    * RelaxedTimeWindow, window.py:281-302). */
  case object RelaxedTimeWindow extends Strategy

  /** A message's arrival order within a micro-batch: `created`, then payload. */
  def arrivalOrder(batch: Seq[Message]): Seq[Message] =
    batch.sortBy(m => (m.created.getTime, m.created.getNanos, m.data))

  /** The [[FixedTimeWindow]] id, Spark's `floor(unix_timestamp(created) / secs)`:
    * epoch seconds truncate toward zero as in `unix_timestamp`, so a
    * fraction of a second before 1970 joins the later whole second. */
  def fixedWindowId(created: Timestamp, secs: Long): Long =
    Math.floorDiv(MbStream.toMicros(created) / 1000000L, secs)

  /** Cut one micro-batch into time windows, in id order, each window's
    * messages in arrival order: [[FixedTimeWindow]] by [[fixedWindowId]],
    * [[RelaxedTimeWindow]] as one window with id `batchId`. Count windows
    * carry state across batches and are cut by [[CountCarry.step]].
    */
  def cutTime(strategy: Strategy, batch: Seq[Message], batchId: Long): Seq[(Long, Seq[Message])] = {
    val msgs = arrivalOrder(batch.filter(_.data != FlushSentinel))
    strategy match {
      case FixedTimeWindow(secs) => msgs.groupBy(m => fixedWindowId(m.created, secs)).toSeq.sortBy(_._1)
      case RelaxedTimeWindow => if (msgs.isEmpty) Nil else Seq((batchId, msgs))
      case count => throw new IllegalArgumentException(s"$count is cut by CountCarry.step")
    }
  }

  /** Start the emitter: per batch, cut the strategy's windows on the
    * driver and hand each to `emitFn` (the reference's dill-marshalled
    * emitfn — here an ordinary closure; JVM serialization is free,
    * marshaller.py is moot). `keep=true` appends emitted windows to the
    * stream's windows table (reference persist(keep), window.py:126-136).
    * Failed emitFn → whole-batch replay from its record (at-least-once,
    * window.py:119-124). `trigger` is `Trigger.ProcessingTime` or
    * `Trigger.AvailableNow`; any other is refused.
    */
  def start(
      stream: MbStream,
      strategy: Strategy,
      emitFn: (Long, DataFrame) => Unit,
      keep: Boolean = false,
      trigger: Trigger = Trigger.AvailableNow(),
      queryName: Option[String] = None,
      maxWorkers: Int = 1,
      maxFilesPerTrigger: Option[Int] = None,
      batchSink: Option[(DataFrame, Long) => Unit] = None,
      emitEmpty: Boolean = false,
      maxGapWindows: Int = 1000): StreamingQuery = {
    // emit_empty (reference FixedTimeWindow default, window.py:251): gap
    // intervals between observed windows emit a zero-row window,
    // synthesized when the NEXT data batch arrives (deltas vs the
    // reference's wall-clock loop: (1) during total silence nothing fires;
    // (2) the high-water mark is kept in the batch log, so gap windows
    // spanning a restart are synthesized, with or without keep; (3) a gap
    // burst is capped at `maxGapWindows` per batch — older gaps are logged
    // and collapsed, so a long outage cannot wedge the emitter).
    val interval = triggerInterval(trigger)
    val count = strategy match {
      case CountWindow(n) => Some((n, None))
      case CountWindowTimeout(n, secs) => Some((n, Some(secs * 1000L)))
      case _ => None
    }
    EmitterQuery.requireIdle(stream)
    val source = new BufferSource(stream, maxFilesPerTrigger,
      BatchState(count.map(_ => CountCarry.Empty), Long.MinValue))
    val (firstId, firstIn) = source.upcoming
    // a time-window emitter's batches leave no carry: starting a count
    // emitter there would restart window ids at 0
    if (count.nonEmpty && firstIn.carry.isEmpty) throw new IllegalStateException(
      s"stream '${stream.name}': a time-window emitter wrote batch ${firstId - 1} under ${BufferSource.logDir(stream)}, " +
        "so count-window ids cannot resume. Drain it with that emitter (a count emitter drains its remainder with " +
        s"flushPartialOnDrain(true)), or delete ${stream.checkpointsDir} to re-read the buffer from its start.")
    val spark = stream.spark
    val buffer = java.nio.file.Paths.get(stream.bufferDir)
    val readOpts = HadoopReadOptions.builder(spark.sparkContext.hadoopConfiguration).build()
    def gapIds(ids: Seq[Long], mark: Long): Seq[Long] = strategy match {
      case FixedTimeWindow(_) if emitEmpty && ids.nonEmpty =>
        val from = if (mark == Long.MinValue) ids.head else mark + 1
        val present = ids.toSet
        // cap the synthesized burst: a long outage can leave millions of
        // missed intervals; emitting one window per interval in a single
        // batch would wedge the emitter. Clamp the range BEFORE
        // materializing it, then trim exactly.
        val span = ids.last - from + 1
        val clampedFrom =
          if (span > maxGapWindows.toLong + ids.size) {
            val cf = ids.last - (maxGapWindows.toLong + ids.size) + 1
            log.warn(s"emitEmpty: gap of ${span - ids.size} missed windows " +
              s"exceeds maxGapWindows=$maxGapWindows; emitting only the most " +
              s"recent $maxGapWindows empty windows (ids < $cf collapsed)")
            cf
          } else from
        (clampedFrom to ids.last).filterNot(present).takeRight(maxGapWindows)
      case _ => Seq.empty
    }
    def local(rows: Seq[Row], schema: StructType): DataFrame = spark.createDataFrame(rows.asJava, schema)
    // persist(keep=True) (window.py:126-136): the kept history is written
    // from the batch's messages on this thread, no frame and no Spark job,
    // as one slice per batch that a replayed batch replaces whole — the
    // same effectively-once trick as IdempotentTableSink
    def persist(windows: Seq[(Long, Seq[Message])], batchId: Long): Unit = {
      if (keep) stream.writeWindows(batchId, windows)
      // batch-level sink (gets the batch id → enables idempotent,
      // replay-safe writes, e.g. IdempotentTableSink)
      batchSink.foreach(_(local(windows.flatMap { case (id, ms) => ms.map(m => Row(m.stream, m.created, m.data, id)) },
        MbStream.MessageSchema.add("window_id", LongType, nullable = false)), batchId))
    }
    def runBatch(r: BatchRecord): (BatchState, Long) = {
      // a file deleted since the source took it reads as no rows
      val msgs = r.files.flatMap(f => MbStream.readBufferFile(buffer.resolve(f), readOpts))
      val (windows, carry) = count match {
        case Some((n, maxAgeMs)) =>
          val (ws, c) = CountCarry.step(r.in.carry.getOrElse(CountCarry.Empty), msgs, n, maxAgeMs)
          (ws, Some(c))
        case None => (cutTime(strategy, msgs, r.batchId), None)
      }
      val ids = windows.map(_._1)
      val byId = windows.toMap
      emitAll((ids ++ gapIds(ids, r.in.mark)).sorted, id => emitFn(id, local(
        byId.getOrElse(id, Nil).map(m => Row(m.stream, m.created, m.data)), MbStream.MessageSchema)),
        maxWorkers)
      if (windows.nonEmpty) persist(windows, r.batchId)
      // monotone: a late batch's older windows must not lower the mark, or
      // the next batch re-emits ids up to it as empty gap windows
      (BatchState(carry, ids.lastOption.fold(r.in.mark)(math.max(r.in.mark, _))), msgs.size.toLong)
    }
    new EmitterQuery(stream, queryName.orNull, interval, source, runBatch).start()
  }

  /** The trigger decoder, the one place that reads Spark's trigger case
    * classes: the interval of `Trigger.ProcessingTime`, or None for
    * `Trigger.AvailableNow`. */
  private def triggerInterval(t: Trigger): Option[Long] = t match {
    case ProcessingTimeTrigger(ms) => Some(ms)
    case AvailableNowTrigger => None
    case other => throw new IllegalArgumentException(
      s"a graft emitter runs on Trigger.ProcessingTime or Trigger.AvailableNow, not $other")
  }

  /** Emit windows of one batch, optionally in parallel (the
    * reference's ProcessPoolExecutor `max_workers`, window.py:84,145-146 —
    * proven by test_slow_emitfn: one worker falls behind a slow emitfn,
    * five keep up). Spark supports concurrent job submission from multiple
    * threads, so each worker can run full DataFrame actions. Any window's
    * failure fails the whole batch (reference undo is per-window; our
    * replay unit is the micro-batch — documented semantic delta).
    */
  private def emitAll(ids: Seq[Long], emit: Long => Unit, maxWorkers: Int): Unit =
    if (maxWorkers <= 1 || ids.size <= 1) ids.foreach(emit)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(maxWorkers, ids.size))
      try {
        val futures = ids.map(id => pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = emit(id)
        }))
        futures.foreach { f =>
          try f.get()
          catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
        }
      } finally pool.shutdownNow()
    }
}
