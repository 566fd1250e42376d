package graft.streaming

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.LongType

/** The consumer-side run loop (reference `WindowEmitter.run`,
  * minibatch/window.py:13-227) on Structured Streaming.
  *
  * Stage mapping (SURVEY.md §3 E2): `window_ready`+`sleep` → trigger;
  * `query` → source offsets; `process`/`timestamp`/`commit` → checkpoint
  * commit log; `emit` → foreachBatch; `undo` → failed-batch replay
  * (at-least-once into side effects, same as the reference's undo/redo,
  * window.py:119-124); `persist(keep=True)` → append to the stream's
  * windows table (window.py:126-136).
  *
  * Count windows run on the driver: each micro-batch is collected, cut by
  * [[CountCarry.step]] and handed to `emitFn` window by window as local
  * DataFrames, so a trigger runs one scan job and no shuffle or state
  * store. The carry (next window id, newest `created`, sub-N remainder)
  * is one small file per batch under `checkpoints/graft-count/` (format
  * in [[CountCarry]]); batch `b` starts from the carry of `b - 1`, so a
  * batch replayed after a failed emit recomputes the same windows. Carry
  * files older than `spark.sql.streaming.minBatchesToRetain` are pruned.
  * The driver holds one micro-batch at a time; `maxFilesPerTrigger`
  * bounds it.
  */
object EmitterRunner {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  case class Message(stream: String, created: Timestamp, data: String)
  case class WindowedMessage(stream: String, created: Timestamp, data: String, window_id: Long)

  implicit val msgEnc: Encoder[Message] = Encoders.product[Message]
  implicit val winMsgEnc: Encoder[WindowedMessage] = Encoders.product[WindowedMessage]

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

  /** Open the buffer as a stream (the reference's polling `query()` over
    * unprocessed docs — offsets instead of `processed` flags).
    * `maxFilesPerTrigger` caps each micro-batch (the reference's
    * producer-side Batcher size / poll-batch tuning, SURVEY §1.3: Spark's
    * micro-batch sizing knob subsumes it).
    */
  def readBuffer(stream: MbStream, maxFilesPerTrigger: Option[Int] = None): Dataset[Message] = {
    val reader = stream.spark.readStream
      .schema(MbStream.MessageSchema)
      // tolerate the retention loop deleting aged files under a running
      // emitter (same concurrency the reference's autoclear thread has)
      .option("ignoreMissingFiles", "true")
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.parquet(stream.bufferDir).as[Message]
  }

  /** Assign window ids for the time strategies (Fixed, Relaxed); count
    * windows are cut on the driver by [[CountCarry.step]].
    */
  def assign(ds: Dataset[Message], strategy: Strategy): Dataset[WindowedMessage] = {
    val windowId = strategy match {
      case FixedTimeWindow(secs) => floor(unix_timestamp(col("created")) / secs)
      // window id assigned per micro-batch in the runner (batchId)
      case RelaxedTimeWindow => lit(-1L)
      case count => throw new IllegalArgumentException(s"$count is cut by CountCarry.step, not assign")
    }
    ds.filter(_.data != FlushSentinel).withColumn("window_id", windowId).as[WindowedMessage]
  }

  /** Start the emitter: strategy-assign, then per micro-batch hand each
    * complete window to `emitFn` (the reference's dill-marshalled emitfn —
    * here an ordinary closure; JVM serialization is free, marshaller.py is
    * moot). `keep=true` appends emitted windows to the stream's windows
    * table (reference persist(keep), window.py:126-136). Failed emitFn →
    * whole-batch replay from checkpoint (at-least-once, window.py:119-124).
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
    // intervals between observed windows emit a zero-row window. Spark's
    // micro-batch loop only wakes on data, so gap windows are synthesized
    // when the NEXT data batch arrives (documented deltas vs the
    // reference's wall-clock loop: (1) during total silence nothing fires;
    // (2) the high-water mark is in-memory — after a restart from
    // checkpoint it is recovered from the kept windows history when
    // keep=true, but with keep=false gap windows spanning the restart are
    // not synthesized; (3) a gap burst is capped at `maxGapWindows` per
    // micro-batch — after a long outage only the most recent gaps emit,
    // older ones are logged and collapsed, so a weekend of silence cannot
    // wedge the query with one emitFn call per missed interval).
    val lastMaxWindow = new java.util.concurrent.atomic.AtomicLong(Long.MinValue)
    if (emitEmpty && keep) {
      // recover the high-water mark from the kept history so gap windows
      // spanning a restart are synthesized instead of silently dropped.
      // An absent/empty history is the normal first start (windows() returns
      // an empty relation, row is null — no recovery needed). A failed read
      // (corrupt history, permissions) is warn-logged and the query starts
      // anyway: gap-window synthesis is best-effort decoration of the data
      // path, and refusing to start the emitter over it would turn a
      // recoverable history problem into an ingest outage. The cost is that
      // gap windows spanning THIS restart are not synthesized — the WARN
      // below is the signal.
      try {
        val row = stream.windows().agg(max(col("window_id"))).head()
        if (!row.isNullAt(0)) lastMaxWindow.set(row.getLong(0))
      } catch {
        case scala.util.control.NonFatal(e) =>
          log.warn("emitEmpty: failed to recover the window high-water mark " +
            s"from the kept history at ${stream.windowsDir}; gap windows " +
            "spanning this restart will not be synthesized", e)
      }
    }
    val count = strategy match {
      case CountWindow(n) => Some((n, None))
      case CountWindowTimeout(n, secs) => Some((n, Some(secs * 1000L)))
      case _ => None
    }
    if (count.nonEmpty) CountCarry.requireResumable(stream)
    val spark = stream.spark
    val retain = spark.conf.get("spark.sql.streaming.minBatchesToRetain").toInt
    def persist(windowed: DataFrame, batchId: Long): Unit = {
      if (keep) {
        // replay-safe history: partition by batch_id and overwrite ONLY
        // this batch's partition (dynamic mode), so a failed-then-
        // replayed micro-batch rewrites its own slice instead of
        // appending duplicates — the same effectively-once trick as
        // IdempotentTableSink, built into the keep path
        windowed.withColumn("batch_id", lit(batchId))
          .select("stream", "created", "data", "window_id", "batch_id")
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(stream.windowsDir)
      }
      // batch-level sink (gets the batch id → enables idempotent,
      // replay-safe writes, e.g. IdempotentTableSink)
      batchSink.foreach(_(windowed, batchId))
    }
    val writer = readBuffer(stream, maxFilesPerTrigger).writeStream
      .trigger(trigger)
      .option("checkpointLocation", stream.checkpointsDir)
      .foreachBatch { (batch: Dataset[Message], batchId: Long) =>
        count match {
          case Some((n, maxAgeMs)) =>
            val (windows, carry) =
              CountCarry.step(CountCarry.before(stream, batchId), batch.collect().toSeq, n, maxAgeMs)
            val byId = windows.toMap
            emitAll(windows.map(_._1), id => emitFn(id, spark.createDataFrame(
              byId(id).map(m => Row(m.stream, m.created, m.data)).asJava, MbStream.MessageSchema)),
              maxWorkers)
            if (windows.nonEmpty)
              persist(spark.createDataFrame(
                windows.flatMap { case (id, ms) => ms.map(m => Row(m.stream, m.created, m.data, id)) }.asJava,
                MbStream.MessageSchema.add("window_id", LongType, nullable = false)), batchId)
            CountCarry.write(stream, batchId, carry, retain)
          case None =>
            val assigned = assign(batch, strategy)
            val df = strategy match {
              case RelaxedTimeWindow => assigned.toDF().withColumn("window_id", lit(batchId))
              case _ => assigned.toDF()
            }
            val cached = df.cache()
            try {
              val ids = cached.select("window_id").distinct()
                .collect().map(_.getLong(0)).sorted
              val fillIds: Seq[Long] = strategy match {
                case FixedTimeWindow(_) if emitEmpty && ids.nonEmpty =>
                  val from =
                    if (lastMaxWindow.get() == Long.MinValue) ids.head
                    else lastMaxWindow.get() + 1
                  val present = ids.toSet
                  // cap the synthesized burst: a long outage can leave millions
                  // of missed intervals; emitting one window (≈ one Spark job)
                  // per interval in a single micro-batch would wedge the query.
                  // Clamp the range BEFORE materializing it, then trim exactly.
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
              val emptyWindow = cached.filter(lit(false)).drop("window_id")
              val presentIds = ids.toSet
              emitAll((ids ++ fillIds).sorted.toIndexedSeq,
                id =>
                  if (presentIds(id))
                    emitFn(id, cached.filter(col("window_id") === id).drop("window_id"))
                  else emitFn(id, emptyWindow),
                maxWorkers)
              if (ids.nonEmpty) {
                lastMaxWindow.set(ids.last)
                persist(cached, batchId)
              }
            } finally cached.unpersist()
        }
      }
    queryName.fold(writer)(writer.queryName).start()
  }

  /** Emit windows of one micro-batch, optionally in parallel (the
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

  /** Drain-and-stop: process everything currently buffered, then return
    * (the deterministic test/batch mode; reference tests' produce-sleep-stop
    * choreography collapses to Trigger.AvailableNow + awaitTermination).
    */
  def drain(
      stream: MbStream,
      strategy: Strategy,
      emitFn: (Long, DataFrame) => Unit,
      keep: Boolean = false): Unit = {
    val q = start(stream, strategy, emitFn, keep, Trigger.AvailableNow())
    q.awaitTermination()
  }
}
