package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicIntegerArray, AtomicLong}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger => SparkTrigger}

import graft.sources.IdempotentTableSink
import graft.streaming.{EmitterBuilder, MbStream, Minibatch}

/** The two streaming workloads: producer `append` → buffer → emitter →
  * window → emit → commit, driven by an open-loop rate ladder.
  *
  * `stream.count` sends one default `MbStream.append` per message into a
  * `size(1)` CountWindow polled every 10 ms; `stream.fixed_keep` sends one
  * `appendAll` bundle every 500 ms into a kept 2 s FixedTimeWindow with an
  * [[IdempotentTableSink]], while a reader aggregates the kept history once
  * a second.
  */
final class StreamBench(workload: String, seed: Long, seconds: Int, work: String) {
  import StreamBench._

  private val bundled = workload == "stream.fixed_keep"
  private val cpus = Runtime.getRuntime.availableProcessors()
  /** Ladder floor in msg/s; each later rung doubles it. */
  private val floorRate = if (bundled) 1000.0 else 1.0
  private val bundleNs = 500L * 1000000L

  /** In whole seconds, so that bundles keep their phase. An untimed soak
    * at the floor rate always comes first, long enough for the emitter's
    * trigger times to settle. An untraced run then holds the floor rate for
    * all of `seconds`; a traced run climbs the ladder: three fifths of
    * `seconds` at the floor, then 4 s at each of four doubling rates.
    */
  private def wholeSeconds(share: Double): Long = math.max(1L, (seconds * share).toLong) * 1000000000L
  private val soakNs = SoakSeconds * 1000000000L
  private val ladderFloorNs = wholeSeconds(0.6)
  private val rungNs = 4L * 1000000000L
  private val nRungs = 5

  private val payloads = new Payloads(seed)

  /** Per-pass state: one stream, one emitter, one schedule. Seqs run
    * through the warm-up, the soak and then the timed rungs.
    */
  private final class Pass(val spark: SparkSession, val stream: MbStream, val tracer: Tracer,
      val soak: Rung, val rungs: Seq[Rung], val warmupMsgs: Int) {
    val firstTimed: Int = warmupMsgs + soak.messages
    val maxSeq: Int = firstTimed + rungs.map(_.messages).sum
    val emitted = new AtomicIntegerArray(maxSeq)
    val emittedTotal = new AtomicLong()
    val sent = new AtomicLong()
    val appendFailed = new AtomicLong()
    val badWindows = new AtomicLong()
    val samples = new ConcurrentLinkedQueue[(Int, Double)]() // (rung, latency ms)
    val appendMs = new ConcurrentLinkedQueue[java.lang.Double]()
    val lateMs = new ConcurrentLinkedQueue[java.lang.Double]()
    val emitMs = new ConcurrentLinkedQueue[java.lang.Double]()
    val sinkMs = new ConcurrentLinkedQueue[java.lang.Double]()
    val readMs = new ConcurrentLinkedQueue[java.lang.Double]()
    val readsFailed = new AtomicLong()
    /** the highest micro-batch that has called the emit function */
    val lastEmitBatch = new AtomicLong(-1L)
    val stop = new AtomicBoolean(false)
    @volatile var originNs: Long = Long.MaxValue
    /** first ladder seq of each rung, then one past the last */
    val rungSeq: Array[Int] = rungs.scanLeft(firstTimed)(_ + _.messages).toArray

    /** The timed rung a seq belongs to; -1 for warm-up and soak. */
    def rungOf(seq: Int): Int = {
      var r = 0
      while (r < rungs.size && seq >= rungSeq(r + 1)) r += 1
      if (seq < firstTimed) -1 else r
    }

    def markEmitted(seq: Int): Unit =
      if (seq >= 0 && seq < maxSeq) { emitted.incrementAndGet(seq); emittedTotal.incrementAndGet() }
      else badWindows.incrementAndGet()
  }

  private final case class Prepared(pass: Pass, query: StreamingQuery, progress: ProgressListener)

  // ── the emit function and sink, both timed apart from the runner ──────────

  private def emitFn(p: Pass): (Long, DataFrame) => Unit = (windowId, df) => {
    val sc = p.spark.sparkContext
    val batch = Option(sc.getLocalProperty("streaming.sql.batchId")).getOrElse("?")
    batch.toLongOption.foreach(b => p.lastEmitBatch.accumulateAndGet(b, (x, y) => math.max(x, y)))
    val t0 = System.nanoTime()
    EngineListener.inLayer(sc, "emit") {
      p.tracer.span("emit", s"window:$windowId", "trigger.addBatch", s"batch:$batch") {
        if (!bundled) {
          val rows = df.select("data").collect()
          val now = System.nanoTime()
          if (rows.length != 1) p.badWindows.incrementAndGet()
          rows.foreach { r =>
            val (seq, due) = parseSeqDue(r.getString(0))
            p.markEmitted(seq)
            val rung = p.rungOf(seq)
            if (rung >= 0) p.samples.add((rung, (now - p.originNs - due) / 1e6))
          }
        } else {
          // one job collects the window, which is then counted by payload
          // key, as the reference's emit functions work on a window's documents
          val rows = df.select(col("data"), floor(unix_micros(col("created")) / (WindowSeconds * 1000000L))).collect()
          val now = System.nanoTime()
          val perKey = mutable.Map.empty[String, Int]
          var lastDue = Long.MinValue; var lastSeq = -1
          rows.foreach { r =>
            val json = r.getString(0)
            val (seq, due) = parseSeqDue(json)
            KeyRe.findFirstMatchIn(json).foreach(k => perKey(k.group(1)) = perKey.getOrElse(k.group(1), 0) + 1)
            if (r.getLong(1) != windowId) p.badWindows.incrementAndGet()
            p.markEmitted(seq)
            if (due > lastDue) { lastDue = due; lastSeq = seq }
          }
          if (perKey.values.sum != rows.length) p.badWindows.incrementAndGet()
          val rung = if (lastSeq >= 0) p.rungOf(lastSeq) else -1
          if (rung >= 0) p.samples.add((rung, (now - p.originNs - lastDue) / 1e6))
        }
      }
    }
    p.emitMs.add((System.nanoTime() - t0) / 1e6)
  }

  private def sinkFn(p: Pass, sink: IdempotentTableSink): (DataFrame, Long) => Unit = (df, batchId) => {
    val t0 = System.nanoTime()
    EngineListener.inLayer(p.spark.sparkContext, "sink") {
      p.tracer.span("sink.put", s"batch:$batchId", "trigger.addBatch", s"batch:$batchId") {
        sink.put(df, batchId)
      }
    }
    p.sinkMs.add((System.nanoTime() - t0) / 1e6)
  }

  private def sinkDir(stream: MbStream) = s"${stream.dir}/sink"

  private def builder(mb: Minibatch, name: String): EmitterBuilder =
    if (!bundled) mb.streaming(name).size(1).withTrigger(SparkTrigger.ProcessingTime(10L))
    else mb.streaming(name).interval(WindowSeconds, relaxed = false).keep(true).maxWorkers(cpus)

  private def startEmitter(p: Pass, mb: Minibatch): StreamingQuery = {
    var b = builder(mb, p.stream.name).emit(emitFn(p))
    if (bundled) b = b.batchSink(sinkFn(p, new IdempotentTableSink(sinkDir(p.stream))))
    b.start()
  }

  // ── load generator ─────────────────────────────────────────────────────────

  /** Messages per send event and the due times (ns after the ladder origin) of a rung. */
  private def schedule(r: Rung): Iterator[(Long, Int)] =
    if (!bundled) {
      val gap = 1e9 / r.rate
      Iterator.from(0).map(i => (r.startNs + (i * gap).toLong, 1)).takeWhile(_._1 < r.endNs)
    } else {
      val per = (r.rate * bundleNs / 1e9).toInt
      Iterator.iterate(r.startNs)(_ + bundleNs).takeWhile(_ < r.endNs).map(d => (d, per))
    }

  private def rung(rate: Double, startNs: Long, endNs: Long): Rung = {
    val r = Rung(rate, startNs, endNs)
    r.copy(messages = schedule(r).map(_._2).sum)
  }

  /** The soak at the floor rate just before the ladder origin. */
  private def soak(): Rung = rung(floorRate, -soakNs, 0L)

  /** The floor rate held for `floorNs`. */
  private def floorOnly(floorNs: Long): Seq[Rung] = Seq(rung(floorRate, 0L, floorNs))

  /** The timed rungs from the ladder origin: the floor, then doubling rates. */
  private def ladder(): Seq[Rung] = {
    val rs = ArrayBuffer.empty[Rung]
    var start = 0L
    for (k <- 0 until nRungs) {
      val len = if (k == 0) ladderFloorNs else rungNs
      rs += rung(floorRate * (1 << k), start, start + len)
      start += len
    }
    rs.toSeq
  }

  /** Sends the schedule open-loop: each send waits for its due time only,
    * never for the system, and is timed from that due time.
    */
  private def generator(p: Pass, firstSeq: Int): Thread = {
    val t = new Thread(() => {
      val sc = p.spark.sparkContext
      sc.setLocalProperty(EngineListener.LayerKey, "append")
      var seq = firstSeq
      for (r <- p.soak +: p.rungs; (due, n) <- schedule(r) if !p.stop.get) {
        val dueAbs = p.originNs + due
        var now = System.nanoTime()
        while (now < dueAbs && !p.stop.get) {
          val ms = (dueAbs - now) / 1000000L
          if (ms > 1) Thread.sleep(ms - 1) else Thread.onSpinWait()
          now = System.nanoTime()
        }
        if (!p.stop.get) {
          p.lateMs.add((now - dueAbs) / 1e6)
          send(p, seq, n, due)
          seq += n
        }
      }
    }, "perfbench-generator")
    t.setDaemon(true)
    t
  }

  private def send(p: Pass, seq: Int, n: Int, due: Long): Unit = {
    val t0 = System.nanoTime()
    try {
      if (!bundled)
        p.tracer.span("append", s"seq:$seq") { p.stream.append(payloads.json(seq, due)) }
      else
        p.tracer.span("appendAll", s"bundle:$seq") {
          p.stream.appendAll((seq until seq + n).map(payloads.json(_, due)))
        }
    } catch {
      case scala.util.control.NonFatal(e) =>
        p.appendFailed.addAndGet(n)
        System.err.println(s"[perfbench] append of seq $seq failed: $e")
    }
    p.appendMs.add((System.nanoTime() - t0) / 1e6)
    p.sent.addAndGet(n)
  }

  /** Aggregates the last ten micro-batches of the kept history once a
    * second while the ladder runs, a quarter second into each second, so
    * that reads meet the emitter at the same phase in every run. The batch
    * filter prunes partitions, so the read itself does not grow with the
    * run's length.
    */
  private def reader(p: Pass, progress: ProgressListener): Thread = {
    val t = new Thread(() => {
      p.spark.sparkContext.setLocalProperty(EngineListener.LayerKey, "reader")
      val period = 1000000000L
      var i = 0
      while (!p.stop.get) {
        val wall = wallNs0(System.nanoTime())
        val next = System.nanoTime() + (period + period / 4 - wall % period) % period
        while (System.nanoTime() < next && !p.stop.get) Thread.sleep(5)
        if (!p.stop.get) {
          val t0 = System.nanoTime()
          try p.tracer.span("windows.read", s"read:$i") {
            p.stream.windows().where(col("batch_id") >= progress.lastBatchId - 10)
              .groupBy("window_id").count().collect()
          } catch {
            case scala.util.control.NonFatal(e) =>
              p.readsFailed.incrementAndGet()
              System.err.println(s"[perfbench] history read failed: $e")
          }
          p.readMs.add((System.nanoTime() - t0) / 1e6)
          i += 1
        }
      }
    }, "perfbench-reader")
    t.setDaemon(true)
    t
  }

  // ── one run ────────────────────────────────────────────────────────────────

  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def waitUntil(deadlineNs: Long)(cond: => Boolean): Boolean = {
    while (!cond && System.nanoTime() < deadlineNs) Thread.sleep(20)
    cond
  }

  private val perSend: Int = if (bundled) (floorRate * bundleNs / 1e9).toInt else 1
  /** Warm-up messages: two floor bundles, or three single messages. */
  private val warmMsgs: Int = if (bundled) 2 * perSend else 3

  /** Whether the micro-batch that last called the emit function has
    * finished. That batch writes the kept history and the sink after its
    * emit calls; its progress event is posted once it has committed.
    */
  private def lastEmitCommitted(p: Pass, progress: ProgressListener): Boolean =
    progress.lastBatchId >= p.lastEmitBatch.get

  /** A fresh stream and emitter on `mb`, warmed up until the warm-up
    * messages are all emitted and the micro-batch that emitted them has
    * committed, so that its history and sink writes are not timed and the
    * kept history exists before the reader starts. The progress listener of
    * the new emitter is registered before it starts.
    */
  private def prepare(spark: SparkSession, mb: Minibatch, tracer: Tracer, rungs: Seq[Rung]): Prepared = {
    val name = s"${workload}_${System.nanoTime()}".replace('.', '_')
    val p = new Pass(spark, mb.stream(name), tracer, soak(), rungs, warmMsgs)
    val progress = new ProgressListener(Minibatch.queryNameFor(name))
    spark.streams.addListener(progress)
    // the warm-up is buffered before the emitter starts, so its first
    // trigger emits it without waiting for the next trigger time
    var seq = 0
    while (seq < warmMsgs) { send(p, seq, math.min(perSend, warmMsgs - seq), 0L); seq += perSend }
    val q = startEmitter(p, mb)
    val warmEnd = System.nanoTime() + 60000000000L
    if (!waitUntil(warmEnd)(p.emittedTotal.get >= warmMsgs) || !waitUntil(warmEnd)(lastEmitCommitted(p, progress)))
      throw new IllegalStateException(s"$workload: warm-up not emitted and committed within 60 s")
    p.sent.set(0); p.appendMs.clear(); p.lateMs.clear(); p.emitMs.clear(); p.sinkMs.clear()
    p.samples.clear(); p.emittedTotal.set(0)
    Prepared(p, q, progress)
  }

  /** Set-up is measured three times, each from a fresh session through a
    * warmed-up emitter; the last set-up stays up and is measured, and the
    * median set-up time is reported. A traced run first measures an
    * untraced floor rung, then the traced ladder on a second stream.
    */
  def run(trace: Boolean): Result = {
    val setups = ArrayBuffer.empty[Double]
    var live: (SparkSession, Minibatch, EngineListener, Prepared) = null
    for (i <- 0 until 3) {
      val t0 = System.nanoTime()
      val spark = session()
      val engine = new EngineListener
      spark.sparkContext.addSparkListener(engine)
      val mb = Minibatch(spark, s"$work/streams")
      val prep = prepare(spark, mb, new Tracer(false),
        floorOnly(if (trace) ladderFloorNs else seconds * 1000000000L))
      setups += (System.nanoTime() - t0) / 1e9
      if (i < 2) { prep.query.stop(); spark.stop() }
      else live = (spark, mb, engine, prep)
    }
    val (spark, mb, engine, first) = live
    val m0 = measure(first, engine)
    val result =
      if (!trace) Result(setups.toSeq, m0, None)
      else Result(setups.toSeq, measure(prepare(spark, mb, new Tracer(true), ladder()), engine), Some(m0))
    spark.stop()
    result
  }

  /** Runs the ladder of a prepared pass and checks its outputs. */
  private def measure(prep: Prepared, engine: EngineListener): Measured = {
    val Prepared(p, q, progress) = prep
    val spark = p.spark
    val stream = p.stream
    val tracer = p.tracer
    val engineBefore = engine.snapshot()
    // the ladder origin follows the soak; for bundles it starts a window,
    // so the trigger finds each window's last bundle 500 ms old in every run
    val startNs = {
      val now = System.nanoTime() + soakNs + 50000000L
      val windowNs = WindowSeconds * 1000000000L
      if (!bundled) now
      else now + (windowNs - wallNs0(now) % windowNs)
    }
    p.originNs = startNs
    val gen = generator(p, p.warmupMsgs)
    val rd = if (bundled) Some(reader(p, progress)) else None
    gen.start(); rd.foreach(_.start())

    // watch the ladder: backlog every 100 ms, each rung's verdict once its
    // latency limit has passed, stop at the first failing rung
    val backlog = ArrayBuffer.empty[(Long, Long)]
    val steps = ArrayBuffer.empty[Stats.Step]
    val backlogAtEnd = new Array[Long](p.rungs.size)
    var rung = 0
    var failed = false
    val limitNs = (LatencyLimitMs * 1e6).toLong
    while (steps.size < p.rungs.size && !failed) {
      Thread.sleep(100)
      val now = System.nanoTime() - startNs
      if (now >= 0) backlog += ((p.sent.get, p.emittedTotal.get))
      if (rung < p.rungs.size && now >= p.rungs(rung).endNs) {
        backlogAtEnd(rung) = (p.rungSeq(rung + 1) - warmMsgs) - p.emittedTotal.get
        rung += 1
      }
      // a rung's verdict is due once its latency limit has passed, or
      // earlier once all its messages are emitted
      val k = steps.size
      if (k < rung && (now >= p.rungs(k).endNs + limitNs ||
          (p.rungSeq(k) until p.rungSeq(k + 1)).forall(p.emitted.get(_) > 0))) {
        val lat = p.samples.asScala.collect { case (r, ms) if r == k => ms }.toSeq
        val expected = if (!bundled) p.rungs(k).messages
          else (p.rungs(k).endNs - p.rungs(k).startNs) / (WindowSeconds * 1000000000L)
        val st = Stats.Step(p.rungs(k).rate, lat, math.max(0, expected.toInt - lat.size),
          backlogAtEnd(k), (p.appendFailed.get + p.badWindows.get).toInt)
        steps += st
        failed = !Stats.stepPasses(st, LatencyLimitMs, BacklogSeconds)
      }
    }
    p.stop.set(true)
    gen.join(); rd.foreach(_.join())

    // drain: every sent message must be emitted exactly once, and the
    // query is stopped only after the batch that emitted the last window
    // has committed its history and sink writes
    val sentTotal = p.sent.get
    val drainEnd = System.nanoTime() + DrainNs
    waitUntil(drainEnd)(p.emittedTotal.get >= sentTotal)
    waitUntil(drainEnd)(lastEmitCommitted(p, progress))
    Thread.sleep(if (bundled) 1000 else 100) // let a duplicate show
    q.stop()
    spark.streams.removeListener(progress)
    val engineAfter = engine.snapshot()

    val lastSeq = warmMsgs + sentTotal.toInt
    var notOnce = 0L
    for (i <- warmMsgs until lastSeq) if (p.emitted.get(i) != 1) notOnce += 1
    for (i <- lastSeq until p.maxSeq) if (p.emitted.get(i) != 0) notOnce += 1

    // kept history and sink rows must equal what was emitted, warm-up included
    val checks = ArrayBuffer.empty[(String, Boolean)]
    if (bundled) {
      val emittedRows = (0 until lastSeq).map(p.emitted.get(_).toLong).sum
      val hist = stream.windows().count()
      val sinkRows = spark.read.parquet(sinkDir(stream)).count()
      checks += (s"kept history rows $hist = emitted $emittedRows" -> (hist == emittedRows))
      checks += (s"sink rows $sinkRows = emitted $emittedRows" -> (sinkRows == emittedRows))
    }
    val bufferFiles = listFiles(stream.bufferDir)
    Measured(
      steps = steps.toSeq,
      floorLatencies = p.samples.asScala.collect { case (0, ms) => ms }.toSeq,
      sent = sentTotal,
      notOnce = notOnce,
      badWindows = p.badWindows.get,
      reads = p.readMs.size.toLong,
      readsFailed = p.readsFailed.get,
      checks = checks.toSeq,
      appendMs = p.appendMs.asScala.map(_.doubleValue).toSeq,
      lateMs = p.lateMs.asScala.map(_.doubleValue).toSeq,
      emitMs = p.emitMs.asScala.map(_.doubleValue).toSeq,
      sinkMs = p.sinkMs.asScala.map(_.doubleValue).toSeq,
      readMs = p.readMs.asScala.map(_.doubleValue).toSeq,
      backlog = backlog.toSeq,
      triggers = progress.batches.filter(t => t.startMs * 1000000L >= wallNs0(startNs)),
      engine = EngineListener.delta(engineBefore, engineAfter),
      engineByLayer = engineAfter.keySet.map(l => l -> EngineListener.delta(engineBefore, engineAfter, Set(l))).toMap,
      bufferFiles = bufferFiles.size,
      bufferBytes = bufferFiles.map(f => java.nio.file.Files.size(f)).sum,
      spans = tracer.all ++ triggerSpans(progress.batches),
      originNs = startNs,
      tracingCostMs = tracer.recordingCostMs)
  }

  private val nanoToWall = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def wallNs0(nano: Long): Long = nano + nanoToWall

  /** Trigger phases rebuilt as spans from progress events; the phases run
    * one after another from the trigger's start.
    */
  private def triggerSpans(ts: Seq[Trigger]): Seq[Span] =
    ts.flatMap { t =>
      val start = t.startMs * 1000000L - nanoToWall
      val id = s"batch:${t.batchId}"
      val total = t.durations.getOrElse("triggerExecution", 0L) * 1000000L
      var at = start
      val phases = PhaseOrder.flatMap { ph =>
        t.durations.get(ph).map { ms =>
          val s = Span(s"trigger.$ph", id, "trigger", id, at, at + ms * 1000000L)
          at += ms * 1000000L
          s
        }
      }
      Span("trigger", id, "", "", start, start + total) +: phases
    }
}

object StreamBench {
  val LatencyLimitMs = 2000.0
  val SoakSeconds = 8L
  /** `stream.fixed_keep`'s window and trigger interval. */
  val WindowSeconds = 2L
  val BacklogSeconds = 2.0
  private val DrainNs = 30L * 1000000000L
  /** MicroBatchExecution's phase order inside one trigger. */
  val PhaseOrder: Seq[String] = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")

  final case class Rung(rate: Double, startNs: Long, endNs: Long, messages: Int = 0)

  final case class Measured(
      steps: Seq[Stats.Step],
      floorLatencies: Seq[Double],
      sent: Long,
      notOnce: Long,
      badWindows: Long,
      reads: Long,
      readsFailed: Long,
      checks: Seq[(String, Boolean)],
      appendMs: Seq[Double],
      lateMs: Seq[Double],
      emitMs: Seq[Double],
      sinkMs: Seq[Double],
      readMs: Seq[Double],
      backlog: Seq[(Long, Long)],
      triggers: Seq[Trigger],
      engine: Map[String, Long],
      engineByLayer: Map[String, Map[String, Long]],
      bufferFiles: Int,
      bufferBytes: Long,
      spans: Seq[Span],
      originNs: Long,
      tracingCostMs: Double) {
    def attempted: Long = sent + reads + checks.size
    def failed: Long = math.min(attempted,
      notOnce + badWindows + readsFailed + checks.count(!_._2))
    def sustained: Double = Stats.sustained(steps, LatencyLimitMs, BacklogSeconds)
  }

  final case class Result(setupSeconds: Seq[Double], m: Measured, untraced: Option[Measured])

  private val SeqRe = """"seq":(\d+)""".r
  private val KeyRe = """"key":"([^"]*)"""".r
  private val DueRe = """"due_ns":(-?\d+)""".r

  def parseSeqDue(json: String): (Int, Long) =
    (SeqRe.findFirstMatchIn(json).map(_.group(1).toInt).getOrElse(-1),
      DueRe.findFirstMatchIn(json).map(_.group(1).toLong).getOrElse(0L))

  def listFiles(dir: String): Seq[java.nio.file.Path] = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) Nil
    else {
      val s = java.nio.file.Files.list(p)
      try s.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
      finally s.close()
    }
  }
}

/** Message payloads `{seq, due_ns, key, pad}`, a function of the seed and
  * the schedule only.
  */
final class Payloads(seed: Long) {
  private val keys = 16
  private val padLen = 48
  private val alphabet = "abcdefghijklmnopqrstuvwxyz0123456789"

  def json(seq: Int, dueNs: Long): String = {
    val r = new java.util.SplittableRandom(seed * 1000003L + seq)
    // skewed keys: the lower of two uniform draws
    val key = math.min(r.nextInt(keys), r.nextInt(keys))
    val pad = new StringBuilder(padLen)
    for (_ <- 0 until padLen) pad += alphabet.charAt(r.nextInt(alphabet.length))
    s"""{"seq":$seq,"due_ns":$dueNs,"key":"k$key","pad":"$pad"}"""
  }
}
