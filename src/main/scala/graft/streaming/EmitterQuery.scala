package graft.streaming

import java.nio.file.Paths
import java.time.ZoneOffset
import java.time.format.DateTimeFormatter
import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.StreamingBridge
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException, StreamingQueryListener, StreamingQueryProgress, StreamingQueryStatus}
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

/** A running emitter: one daemon driver thread that runs list → record →
  * read, cut, emit and persist (`runBatch`) → commit per trigger, behind
  * the public `StreamingQuery` interface. A poll that finds no file or
  * segment record, and no uncommitted record to run again, ends the trigger: it writes
  * nothing, posts nothing and runs no Spark job.
  *
  * `interval` is `Some(ms)` for `Trigger.ProcessingTime(ms)`, on Spark's
  * schedule (the next trigger at the first multiple of `ms`, in epoch ms,
  * after this one's start, or at once if the batch overran), or None for
  * `Trigger.AvailableNow` (list once, drain, end). With `flushOnDrain`, a
  * drain that took its whole snapshot and leaves a count carry holding
  * rows ends with one more batch, a flush: its record takes no file and
  * no range ([[BatchRecord.isFlush]]), and it is run and committed like
  * any other, so a restart replays an uncommitted flush.
  *
  * As in Spark's loop, the thread's `sql.streaming.queryId` and
  * `streaming.sql.batchId` local properties name the emitter and the
  * batch, and emit workers inherit them. After each commit a
  * `QueryProgressEvent` goes to every listener of `spark.streams`, with
  * the phases `latestOffset` (list), `walCommit` (record), `addBatch`
  * (`runBatch`) and `commitOffsets` (marker), and the rows read as
  * `numInputRows`; started and terminated events go there too, and a
  * listener's failure is logged.
  *
  * A `runBatch` failure ends the emitter with the batch uncommitted:
  * `awaitTermination` throws a `StreamingQueryException` caused by it.
  * [[stop]] stops polling and waits for the batch in flight to commit;
  * unlike Spark's, it never interrupts the emit function.
  */
private[streaming] final class EmitterQuery(
    stream: MbStream,
    override val name: String,
    interval: Option[Long],
    flushOnDrain: Boolean,
    source: BufferSource,
    runBatch: BatchRecord => (BatchState, Long)) extends StreamingQuery {
  import EmitterQuery._

  override val id: UUID = source.queryId
  override val runId: UUID = UUID.randomUUID()
  override def sparkSession: SparkSession = stream.spark

  private val key = keyOf(stream.dir)
  private val thread = new Thread(() => loop(), s"graft-emitter-${stream.name}")
  thread.setDaemon(true)
  private val done = new CountDownLatch(1)
  private val lock = new Object
  private val keepProgress = stream.spark.conf.get("spark.sql.streaming.numRecentProgressUpdates").toInt
  private val progress = new java.util.ArrayDeque[StreamingQueryProgress]()

  @volatile private var stopping = false
  @volatile private var failure: Option[StreamingQueryException] = None
  @volatile private var state = StreamingBridge.status("Initializing sources", false, false)
  // triggers started, and the last one that found no file (under `lock`)
  private var polls = 0L
  private var lastIdle = 0L

  private[streaming] def start(): this.type = {
    if (active.putIfAbsent(key, this) != null) throw alreadyActive(stream)
    thread.start()
    this
  }

  private def loop(): Unit = {
    stream.spark.sparkContext.setLocalProperty("sql.streaming.queryId", id.toString)
    SparkSession.setActiveSession(stream.spark)
    post(StreamingBridge.started(id, runId, name, timestamp(System.currentTimeMillis())))
    try interval match {
      case None =>
        source.prepareAvailableNow()
        while (!stopping && trigger()) {}
        if (!stopping && flushOnDrain && source.upcoming._2.carry.exists(_.pending.nonEmpty)) trigger(flush = true)
      case Some(ms) =>
        while (!stopping) {
          val start = System.currentTimeMillis()
          val ran = trigger()
          // after an idle poll, wait Spark's pollingDelay (10 ms) at least: ProcessingTime(0) must not spin
          val aligned = if (ms == 0) start else start / ms * ms + ms
          val next = if (ran) aligned else math.max(aligned, System.currentTimeMillis() + 10L)
          lock.synchronized {
            var now = System.currentTimeMillis()
            while (!stopping && now < next) { lock.wait(next - now); now = System.currentTimeMillis() }
          }
        }
    } catch {
      case e: Throwable =>
        failure = Some(StreamingBridge.failure(id, runId, name, e))
        log.error(s"emitter of stream '${stream.name}' failed", e)
        if (!NonFatal(e)) throw e
    } finally {
      state = StreamingBridge.status("Stopped", false, false)
      active.remove(key, this)
      post(StreamingBridge.terminated(id, runId, failure.map(_.toString)))
      done.countDown()
      lock.synchronized(lock.notifyAll())
    }
  }

  /** One trigger; false when it found no file. With `flush` it takes
    * nothing and records a flush. */
  private def trigger(flush: Boolean = false): Boolean = {
    val n = lock.synchronized { polls += 1; polls }
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val taken = if (source.pending.isEmpty && !flush) source.take() else Taken(Nil, Nil)
    val t1 = System.nanoTime()
    source.pending.orElse(if (taken.isEmpty && !flush) None else Some(source.record(taken))) match {
      case None =>
        lock.synchronized { lastIdle = n; lock.notifyAll() }
        false
      case Some(r) =>
        val t2 = System.nanoTime()
        state = StreamingBridge.status("Processing new data", true, true)
        stream.spark.sparkContext.setLocalProperty("streaming.sql.batchId", r.batchId.toString)
        val (out, rows) = runBatch(r)
        val t3 = System.nanoTime()
        source.commit(r, out)
        val t4 = System.nanoTime()
        // whole ms between clock readings, as Spark's: unbiased when summed
        def ms(a: Long, b: Long) = b / 1000000L - a / 1000000L
        val p = StreamingBridge.progress(id, runId, name, timestamp(startMs), r.batchId,
          Seq("triggerExecution" -> ms(t0, t4), "latestOffset" -> ms(t0, t1), "walCommit" -> ms(t1, t2),
            "addBatch" -> ms(t2, t3), "commitOffsets" -> ms(t3, t4)),
          s"graft buffer ${stream.bufferDir}", s"graft emitter of stream '${stream.name}'", rows)
        progress.synchronized {
          progress.addLast(p)
          while (progress.size > keepProgress) progress.removeFirst()
        }
        state = StreamingBridge.status("Waiting for data to arrive", false, false)
        post(StreamingBridge.progressEvent(p))
        true
    }
  }

  private def post(e: StreamingQueryListener.Event): Unit =
    stream.spark.streams.listListeners().foreach { l =>
      try e match {
        case s: QueryStartedEvent => l.onQueryStarted(s)
        case p: QueryProgressEvent => l.onQueryProgress(p)
        case t: QueryTerminatedEvent => l.onQueryTerminated(t)
      } catch { case NonFatal(x) => log.warn(s"listener $l failed on ${e.getClass.getSimpleName}", x) }
    }

  override def isActive: Boolean = done.getCount > 0
  override def exception: Option[StreamingQueryException] = failure
  override def status: StreamingQueryStatus = state
  override def recentProgress: Array[StreamingQueryProgress] = progress.synchronized(progress.toArray(Array.empty[StreamingQueryProgress]))
  override def lastProgress: StreamingQueryProgress = progress.synchronized(progress.peekLast())

  override def awaitTermination(): Unit = awaitTermination(Long.MaxValue)

  override def awaitTermination(timeoutMs: Long): Boolean = {
    val ended = done.await(timeoutMs, TimeUnit.MILLISECONDS)
    failure.foreach(throw _)
    ended
  }

  /** Waits until a trigger started after this call finds no new file, or the emitter ends. */
  override def processAllAvailable(): Unit = {
    lock.synchronized {
      val after = polls
      while (lastIdle <= after && isActive) lock.wait(100)
    }
    failure.foreach(throw _)
  }

  /** Stops polling, lets the batch in flight commit, and waits for the thread. */
  override def stop(): Unit = {
    stopping = true
    lock.synchronized(lock.notifyAll())
    if (Thread.currentThread() ne thread) thread.join()
  }

  override def explain(): Unit = explain(extended = false)
  override def explain(extended: Boolean): Unit = println(s"$this over ${stream.bufferDir}: no Spark plan")

  override def toString: String = s"EmitterQuery[id = $id, runId = $runId, name = $name]"
}

private[streaming] object EmitterQuery {
  private lazy val log = org.slf4j.LoggerFactory.getLogger(classOf[EmitterQuery])

  private val Iso = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").withZone(ZoneOffset.UTC)
  private def timestamp(epochMs: Long): String = Iso.format(java.time.Instant.ofEpochMilli(epochMs))

  // the running emitters of this JVM, keyed by stream directory
  private val active = new ConcurrentHashMap[String, EmitterQuery]()

  private def keyOf(streamDir: String): String = Paths.get(streamDir).toAbsolutePath.normalize.toString

  /** The running emitter of the stream in `streamDir`, if any. */
  def of(streamDir: String): Option[EmitterQuery] = Option(active.get(keyOf(streamDir)))

  /** Refuse to start a second emitter on a stream whose emitter runs. */
  def requireIdle(stream: MbStream): Unit = if (of(stream.dir).nonEmpty) throw alreadyActive(stream)

  private def alreadyActive(stream: MbStream) = new IllegalArgumentException(
    s"Cannot start an emitter on stream '${stream.name}' (${stream.dir}): an emitter of that stream " +
      "is already active in this JVM")
}
