package graft.streaming

import java.net.URI
import java.nio.file.{Path, Paths}
import java.sql.Timestamp
import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.parquet.HadoopReadOptions
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.checkpointing.OffsetSeqLog
import org.apache.spark.sql.execution.streaming.runtime.{FileStreamSourceLog, FileStreamSourceOffset, SerializedOffset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StructType}

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
  * Every strategy windows on the driver: each micro-batch is read there
  * (see [[BatchFiles]]: its buffer files come from the query's own
  * checkpoint logs and are decoded by [[MbStream.readBufferFile]], so a
  * trigger runs no Spark job) and cut by [[CountCarry.step]] (count
  * strategies, carried across batches as described there) or [[cutTime]].
  * Each window, and each `emitEmpty` gap window, reaches `emitFn` in id
  * order as a local DataFrame with [[MbStream.MessageSchema]] in arrival
  * order, so emitting starts no Spark job either; only `keep(true)` runs
  * one, the kept-history write. No cache, no shuffle, no state store. The
  * driver holds one micro-batch at a time; `maxFilesPerTrigger` bounds it.
  *
  * Spark still plans the file-source scan of each micro-batch for
  * `foreachBatch`, but never executes it, so `lastProgress.numInputRows`
  * of a graft emitter reads 0; [[lastInputRows]] holds the engine's own
  * count, which [[Minibatch.status]] reports.
  *
  * The checkpoint logs a trigger writes (`sources/0`, `offsets`,
  * `commits`) go through [[LocalCheckpointFileManager]], which [[start]]
  * registers on the session unless it already names a manager of its own.
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

  /** Open the buffer as a stream (the reference's polling `query()` over
    * unprocessed docs — offsets instead of `processed` flags).
    * `maxFilesPerTrigger` caps each micro-batch (the reference's
    * producer-side Batcher size / poll-batch tuning, SURVEY §1.3: Spark's
    * micro-batch sizing knob subsumes it).
    */
  def readBuffer(stream: MbStream, maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = stream.spark.readStream
      .schema(MbStream.MessageSchema)
      // tolerate the retention loop deleting aged files under a running
      // emitter (same concurrency the reference's autoclear thread has)
      .option("ignoreMissingFiles", "true")
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.parquet(stream.bufferDir)
  }

  /** The buffer files of each micro-batch of an emitter, read from its own
    * checkpoint logs: batch `b` holds the file-source log entries in
    * `(logOffset(b - 1), logOffset(b)]`, the offsets being those of
    * `checkpoints/offsets`, which is exactly the set `FileStreamSource`
    * scans for it. Every `compactInterval`-th source-log batch (10 by
    * default) keeps its entries only in `<batch>.compact`, which lists
    * every file the source has seen, so reading such a batch grows with
    * the stream's history, as Spark's own compaction write does.
    */
  private final class BatchFiles(stream: MbStream) {
    private val offsets = new OffsetSeqLog(stream.spark, s"${stream.checkpointsDir}/offsets")
    private val sources =
      new FileStreamSourceLog(FileStreamSourceLog.VERSION, stream.spark, s"${stream.checkpointsDir}/sources/0")

    private def logOffset(batchId: Long): Long =
      if (batchId < 0) -1L
      else offsets.get(batchId)
        .getOrElse(throw new IllegalStateException(s"stream '${stream.name}': no offsets for batch $batchId"))
        .offsets.headOption.flatten.fold(-1L)(o => FileStreamSourceOffset(SerializedOffset(o.json)).logOffset)

    def apply(batchId: Long): Seq[Path] = {
      val (from, to) = (logOffset(batchId - 1), logOffset(batchId))
      if (to <= from) Nil
      else sources.get(Some(from + 1), Some(to)).toSeq.flatMap(_._2).map(e => Paths.get(new URI(e.path)))
    }
  }

  // keyed by query id, which the checkpoint keeps: one entry per checkpoint,
  // replaced when its emitter restarts
  private val inputRows = new ConcurrentHashMap[UUID, AtomicLong]()

  /** The rows an emitter started by [[start]] read in its latest
    * micro-batch (flush sentinels included), or None before its first. */
  def lastInputRows(query: StreamingQuery): Option[Long] =
    Option(inputRows.get(query.id)).map(_.get).filter(_ >= 0)

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

  /** Start the emitter: per micro-batch, cut the strategy's windows on the
    * driver and hand each to `emitFn` (the reference's dill-marshalled
    * emitfn — here an ordinary closure; JVM serialization is free,
    * marshaller.py is moot). `keep=true` appends emitted windows to the
    * stream's windows table (reference persist(keep), window.py:126-136).
    * Failed emitFn → whole-batch replay from checkpoint (at-least-once,
    * window.py:119-124).
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
    if (spark.conf.getOption(LocalCheckpointFileManager.ClassKey).isEmpty)
      spark.conf.set(LocalCheckpointFileManager.ClassKey, classOf[LocalCheckpointFileManager].getName)
    val retain = spark.conf.get("spark.sql.streaming.minBatchesToRetain").toInt
    // the logs open on the query's thread, after Spark has set the checkpoint up
    lazy val files = new BatchFiles(stream)
    val readOpts = HadoopReadOptions.builder(spark.sparkContext.hadoopConfiguration).build()
    val rowsRead = new AtomicLong(-1L)
    def gapIds(ids: Seq[Long]): Seq[Long] = strategy match {
      case FixedTimeWindow(_) if emitEmpty && ids.nonEmpty =>
        val from =
          if (lastMaxWindow.get() == Long.MinValue) ids.head
          else lastMaxWindow.get() + 1
        val present = ids.toSet
        // cap the synthesized burst: a long outage can leave millions of
        // missed intervals; emitting one window per interval in a single
        // micro-batch would wedge the query. Clamp the range BEFORE
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
    def persist(windows: Seq[(Long, Seq[Message])], batchId: Long): Unit = if (keep || batchSink.nonEmpty) {
      val windowed = local(windows.flatMap { case (id, ms) => ms.map(m => Row(m.stream, m.created, m.data, id)) },
        MbStream.MessageSchema.add("window_id", LongType, nullable = false))
      if (keep) {
        // replay-safe history: partition by batch_id and overwrite ONLY
        // this batch's partition (dynamic mode), so a failed-then-
        // replayed micro-batch rewrites its own slice instead of
        // appending duplicates — the same effectively-once trick as
        // IdempotentTableSink, built into the keep path
        windowed.withColumn("batch_id", lit(batchId))
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
      .foreachBatch { (_: DataFrame, batchId: Long) =>
        val msgs = files(batchId).flatMap(MbStream.readBufferFile(_, readOpts))
        rowsRead.set(msgs.size)
        val (windows, carry) = count match {
          case Some((n, maxAgeMs)) =>
            val (ws, c) = CountCarry.step(CountCarry.before(stream, batchId), msgs, n, maxAgeMs)
            (ws, Some(c))
          case None => (cutTime(strategy, msgs, batchId), None)
        }
        val ids = windows.map(_._1)
        val byId = windows.toMap
        emitAll((ids ++ gapIds(ids)).sorted, id => emitFn(id, local(
          byId.getOrElse(id, Nil).map(m => Row(m.stream, m.created, m.data)), MbStream.MessageSchema)),
          maxWorkers)
        if (windows.nonEmpty) {
          lastMaxWindow.set(ids.last)
          persist(windows, batchId)
        }
        carry.foreach(CountCarry.write(stream, batchId, _, retain))
      }
    val query = queryName.fold(writer)(writer.queryName).start()
    inputRows.put(query.id, rowsRead)
    query
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
