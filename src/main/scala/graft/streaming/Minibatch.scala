package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Front-door facade — the engine analogue of the reference's `@streaming`
  * decorator / `make_emitter` dispatch (minibatch/__init__.py:15-75,
  * 89-120): choose the emitter by configuration (`size=` → CountWindow;
  * `interval=` → RelaxedTimeWindow, or FixedTimeWindow when relaxed=false;
  * neither → size=1, __init__.py:94), wire an optional source bridge and
  * sink, then run.
  *
  * {{{
  * val mb = Minibatch(spark, "/tmp/streams")
  * val query = mb.streaming("sensor").size(2).keep(true)
  *   .emit((windowId, df) => ...)
  *   .start()
  * }}}
  */
final case class Minibatch(spark: SparkSession, root: String) {
  val registry = new StreamRegistry(spark, root)

  def stream(name: String): MbStream = registry.getOrCreate(name)

  /** `Stream(..., max_age=N)` (reference models.py:251,364-370): a stream
    * with retention — creation auto-starts the background autoclear loop,
    * keeping ≤ ~2× maxAge of buffered data with no manual `runRetention`
    * call. Stop via `stream.stopRetention()`.
    */
  def stream(name: String, maxAgeSeconds: Double): MbStream = {
    val s = stream(name)
    s.startRetention(maxAgeSeconds)
    s
  }

  def streaming(name: String): EmitterBuilder = EmitterBuilder(stream(name))

  /** Emitter status by stream name — the engine-level analogue of the
    * reference's StreamingApp `/status` watcher (contrib/apps/omegaml.py:
    * 8-136), backed by the running emitter's `status`/`lastProgress`
    * instead of a Flask endpoint. The emitter is the one this JVM runs on
    * the stream ([[EmitterQuery]]'s registry); `numInputRows` is the rows
    * its latest batch read (none for a drain's flush batch).
    */
  def status(name: String): EmitterStatus = {
    // lifecycle status from the durable meta.json (reference Stream.status
    // field, models.py:164): "open"/"closed", or "unknown" for a name never
    // registered — independent of whether an emitter is running right now
    val lifecycle = registry.statusOf(name).getOrElse("unknown")
    EmitterQuery.of(java.nio.file.Paths.get(root, name).toString) match {
      case Some(q) =>
        val lp = Option(q.lastProgress)
        EmitterStatus(name, running = q.isActive, queryId = Some(q.id.toString),
          lastBatchId = lp.map(_.batchId), numInputRows = lp.map(_.numInputRows),
          message = q.status.message, streamStatus = lifecycle)
      case None =>
        EmitterStatus(name, running = false, None, None, None,
          message = if (lifecycle == "closed") "closed" else "no active emitter",
          streamStatus = lifecycle)
    }
  }
}

object Minibatch {
  def queryNameFor(stream: String): String = s"graft-emitter-$stream"

  /** Register a progress watcher on the session (the push analogue of
    * [[Minibatch.status]] — reference StreamingApp's watcher thread,
    * contrib/apps/omegaml.py:29-44): records the latest progress event per
    * graft emitter. Remove with `spark.streams.removeListener(l)`.
    */
  def watch(spark: SparkSession): GraftStatusListener = {
    val l = new GraftStatusListener
    spark.streams.addListener(l)
    l
  }
}

/** Retains the most recent `StreamingQueryProgress` JSON per graft-named
  * emitter, keyed by stream name.
  */
final class GraftStatusListener
    extends org.apache.spark.sql.streaming.StreamingQueryListener {
  import org.apache.spark.sql.streaming.StreamingQueryListener._

  private val prefix = "graft-emitter-"
  private val latest = new java.util.concurrent.ConcurrentHashMap[String, String]()

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val n = e.progress.name
    if (n != null && n.startsWith(prefix))
      latest.put(n.stripPrefix(prefix), e.progress.json)
  }
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()

  /** Latest progress JSON for a stream's emitter, if any arrived yet. */
  def progressJson(stream: String): Option[String] = Option(latest.get(stream))

  /** Streams with at least one recorded progress event. */
  def watched(): Set[String] = latest.keySet().asScala.toSet
}

/** Snapshot of one named emitter's run state (reference status payload:
  * running flag + progress counters, contrib/apps/omegaml.py:101-118).
  */
final case class EmitterStatus(
    stream: String,
    running: Boolean,
    queryId: Option[String],
    lastBatchId: Option[Long],
    numInputRows: Option[Long],
    message: String,
    streamStatus: String = "unknown")

final case class EmitterBuilder(
    stream: MbStream,
    strategy: Option[EmitterRunner.Strategy] = None,
    keepWindows: Boolean = false,
    trigger: Trigger = Trigger.AvailableNow(),
    emitFn: Option[(Long, DataFrame) => Unit] = None,
    sinkFn: Option[DataFrame => Unit] = None,
    workers: Int = 1,
    filesPerTrigger: Option[Int] = None,
    batchSinkFn: Option[(DataFrame, Long) => Unit] = None,
    emitEmptyWindows: Boolean = false,
    gapCap: Int = 1000,
    flushPartial: Boolean = false) {

  /** max_workers= → parallel window emit within a micro-batch (reference
    * ProcessPoolExecutor, window.py:84).
    */
  def maxWorkers(n: Int): EmitterBuilder = copy(workers = n)

  /** Micro-batch size cap (reference Batcher/poll-batch size, A4/S3). */
  def maxFilesPerTrigger(n: Int): EmitterBuilder = copy(filesPerTrigger = Some(n))

  /** size= → CountWindow (reference __init__.py:107-115). */
  def size(n: Int): EmitterBuilder = copy(strategy = Some(EmitterRunner.CountWindow(n)))

  /** size= with bounded staleness: exact-N windows, but a sub-N tail
    * flushes as one partial window once event time moves `maxWaitSeconds`
    * past its oldest message (count OR timeout, whichever first — the
    * reference's CountWindow can starve a remainder forever).
    */
  def size(n: Int, maxWaitSeconds: Long): EmitterBuilder =
    copy(strategy = Some(EmitterRunner.CountWindowTimeout(n, maxWaitSeconds)))

  /** interval= → RelaxedTimeWindow, or FixedTimeWindow when relaxed=false. */
  def interval(seconds: Long, relaxed: Boolean = true): EmitterBuilder =
    copy(strategy = Some(
      if (relaxed) EmitterRunner.RelaxedTimeWindow
      else EmitterRunner.FixedTimeWindow(seconds)),
      trigger = Trigger.ProcessingTime(seconds * 1000))

  /** emitter= → custom strategy (reference custom WindowEmitter, A9). */
  def emitter(s: EmitterRunner.Strategy): EmitterBuilder = copy(strategy = Some(s))

  /** persist(keep=True) → window history table (reference __init__.py:116). */
  def keep(k: Boolean): EmitterBuilder = copy(keepWindows = k)

  /** emit_empty=True (reference FixedTimeWindow default, window.py:251):
    * gap intervals emit zero-row windows, synthesized when the next data
    * batch arrives. Only meaningful with `interval(..., relaxed=false)`.
    */
  def emitEmpty(e: Boolean): EmitterBuilder = copy(emitEmptyWindows = e)

  /** Cap on empty gap windows synthesized per micro-batch (after a long
    * outage only the most recent N gaps emit; older ones are logged and
    * collapsed so a burst cannot wedge the query).
    */
  def maxGapWindows(n: Int): EmitterBuilder = copy(gapCap = n)

  /** On a `Trigger.AvailableNow` drain ([[run]], or [[start]] with that
    * trigger), emit the sub-N CountWindow tail as one final PARTIAL window
    * instead of carrying it — so a batch job consuming a finite corpus sees
    * every message. Default off (reference parity: CountWindow only ever
    * emits complete windows, window.py:305-327). Only meaningful with
    * [[size]]; time-window strategies ignore it. The flush is a batch of
    * the emitter's batch log that takes no message: it gets the next
    * window id and is committed and replayed like any other batch, so a
    * restart emits an uncommitted flush whatever this flag then says.
    */
  def flushPartialOnDrain(f: Boolean): EmitterBuilder = copy(flushPartial = f)

  def withTrigger(t: Trigger): EmitterBuilder = copy(trigger = t)

  def emit(fn: (Long, DataFrame) => Unit): EmitterBuilder = copy(emitFn = Some(fn))

  /** forward() → sink.put (reference window.py:155-157): the emitted window
    * is forwarded to the sink after the user emit function runs.
    */
  def sink(fn: DataFrame => Unit): EmitterBuilder = copy(sinkFn = Some(fn))

  /** Batch-level sink receiving the micro-batch id — use with
    * [[graft.sources.IdempotentTableSink]] for replay-safe output.
    */
  def batchSink(fn: (DataFrame, Long) => Unit): EmitterBuilder = copy(batchSinkFn = Some(fn))

  def start(): StreamingQuery = {
    // neither size nor interval given → size=1 (reference __init__.py:94)
    val strat = strategy.getOrElse(EmitterRunner.CountWindow(1))
    val emitter = emitFn.getOrElse((_: Long, _: DataFrame) => ())
    val combined: (Long, DataFrame) => Unit = (id, df) => {
      emitter(id, df)
      sinkFn.foreach(_(df))
    }
    EmitterRunner.start(stream, strat, combined, keepWindows, trigger,
      queryName = Some(Minibatch.queryNameFor(stream.name)),
      maxWorkers = workers, maxFilesPerTrigger = filesPerTrigger,
      batchSink = batchSinkFn, emitEmpty = emitEmptyWindows,
      maxGapWindows = gapCap, flushPartialOnDrain = flushPartial)
  }

  /** Blocking drain (the reference's run(blocking=True) against a finite
    * buffer; deterministic in tests): [[start]] under `Trigger.AvailableNow`.
    * It writes nothing to the buffer, so it also drains a closed stream.
    */
  def run(): Unit = withTrigger(Trigger.AvailableNow()).start().awaitTermination()
}
