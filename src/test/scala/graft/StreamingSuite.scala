package graft

import java.nio.file.Files
import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, get_json_object, lit, pmod, xxhash64}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming._
import graft.sources.{TableSink, TableTailSource}

/** Semantic ports of the reference's behavioral tests (SURVEY.md §5:
  * minibatch/tests/test_minibatch.py) against the emitter run loop.
  */
class StreamingSuite extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def freshRoot(): String =
    Files.createTempDirectory("graft-streams").toString

  /** Collect emitted windows as (windowId -> payloads). */
  private def collector(): (mutable.ArrayBuffer[(Long, Seq[String])], (Long, DataFrame) => Unit) = {
    val sink = mutable.ArrayBuffer.empty[(Long, Seq[String])]
    val fn = (id: Long, df: DataFrame) => {
      val rows = df.select("data").collect().map(_.getString(0)).toSeq.sorted
      sink.synchronized { sink += ((id, rows)) }
      ()
    }
    (sink, fn)
  }

  test("append writes messages to the buffer (test_stream port)") {
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("test")
    st.append("""{"foo":"bar1"}""")
    st.append("""{"foo":"bar2"}""")
    st.flush()
    assert(st.buffer().count() === 2)
    assert(st.buffer().select("stream").distinct().collect().map(_.getString(0)).toSeq === Seq("test"))
  }

  test("count window size=2: 10 messages -> exactly 5 windows of 2 (test_fixed_size port)") {
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("counted")
    st.appendAll((0 until 10).map(i => s"""{"index":$i}"""))
    val (sink, fn) = collector()
    mb.streaming("counted").size(2).keep(true).emit(fn).run()
    assert(sink.size === 5, s"expected 5 windows, got: $sink")
    assert(sink.map(_._1).sorted === Seq(0L, 1L, 2L, 3L, 4L))
    sink.foreach { case (_, rows) => assert(rows.size === 2) }
    // keep=true persisted the window history (persist(keep) port)
    assert(st.windows().count() === 10)
    assert(st.windows().select("window_id").distinct().count() === 5)
  }

  test("commit semantics: a second drain emits nothing (test_buffer_cleaned port)") {
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("cleaned")
    st.appendAll((0 until 4).map(i => s"""{"i":$i}"""))
    val (sink1, fn1) = collector()
    mb.streaming("cleaned").size(2).emit(fn1).run()
    assert(sink1.size === 2)
    // batches are committed in the batch log — consumed messages never re-emit
    val (sink2, fn2) = collector()
    mb.streaming("cleaned").size(2).emit(fn2).run()
    assert(sink2.isEmpty, s"re-drain must emit nothing, got $sink2")
  }

  test("count window keeps exact N across micro-batches (remainder carry)") {
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("carry")
    st.appendAll((0 until 7).map(i => s"""{"i":$i}"""))
    val (sink1, fn1) = collector()
    mb.streaming("carry").size(3).emit(fn1).run()
    assert(sink1.size === 2) // 7 = 2 full windows + remainder 1 held in state
    st.appendAll((7 until 9).map(i => s"""{"i":$i}"""))
    val (sink2, fn2) = collector()
    mb.streaming("carry").size(3).emit(fn2).run()
    assert(sink2.size === 1, s"remainder + 2 new = exactly one window, got $sink2")
    assert(sink2.head._1 === 2L) // window ids continue across batches
    val all = (sink1 ++ sink2).flatMap(_._2)
    assert(all.size === 9 && all.distinct.size === 9) // every message exactly once
  }

  test("relaxed time window: each micro-batch is one window (test_relaxed port)") {
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("relaxed")
    st.appendAll((0 until 5).map(i => s"""{"i":$i}"""))
    val (sink, fn) = collector()
    mb.streaming("relaxed").emitter(EmitterRunner.RelaxedTimeWindow).emit(fn).run()
    assert(sink.map(_._2.size).sum === 5)
    // everything available at trigger time lands in one batch-window
    assert(sink.size === 1)
  }

  test("fixed time window groups by aligned arrival-time intervals (test_timed_window port)") {
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("timed")
    // craft arrival timestamps directly in the buffer (deterministic analogue
    // of the reference's produce-sleep choreography)
    val base = 1700000000L // aligned to 60s grid
    val rows = (0 until 10).map { i =>
      Row("timed", new Timestamp((base + i * 30) * 1000L), s"""{"i":$i}""")
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), MbStream.MessageSchema)
      .write.mode("append").parquet(st.bufferDir)
    val (sink, fn) = collector()
    mb.streaming("timed").emitter(EmitterRunner.FixedTimeWindow(60)).emit(fn).run()
    // 10 msgs at 30s spacing = 300s span = 5 aligned 60s windows of 2
    assert(sink.size === 5, s"got $sink")
    sink.foreach { case (_, r) => assert(r.size === 2) }
    assert(sink.map(_._1).sorted === (0 until 5).map(i => base / 60 + i).map(_.toLong))
  }

  test("retention drops buffer files older than max_age (housekeeping port)") {
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("aged")
    val oldTs = new Timestamp(System.currentTimeMillis() - 7200 * 1000L)
    val rows = (0 until 3).map(i => Row("aged", oldTs, s"""{"i":$i}"""))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), MbStream.MessageSchema)
      .write.mode("append").parquet(st.bufferDir)
    st.append("""{"fresh":true}""")
    st.flush()
    assert(st.buffer().count() === 4)
    val dropped = st.runRetention(maxAgeSeconds = 3600)
    assert(dropped === 1)
    assert(st.buffer().count() === 1) // only the fresh message survives
  }

  test("registry is idempotent, race-safe shaped, listable, droppable") {
    val root = freshRoot()
    val mb = Minibatch(spark, root)
    val a = mb.stream("alpha")
    val b = mb.stream("alpha") // get-or-create: same stream
    assert(a.dir === b.dir)
    mb.stream("beta")
    assert(mb.registry.list() === Seq("alpha", "beta"))
    assert(mb.registry.exists("alpha"))
    mb.registry.drop("alpha")
    assert(!mb.registry.exists("alpha"))
    assert(mb.registry.list() === Seq("beta"))
  }

  test("table-tail source polls new rows by monotonic key (MongoSource port)") {
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("tailed")
    val src = new TableTailSource(spark, s"${TestSpark.sf0001}/nation.parquet", "n_nationkey")
    val n1 = src.poll(st)
    assert(n1 === 25)
    val n2 = src.poll(st) // nothing new
    assert(n2 === 0)
    assert(st.buffer().count() === 25)
    src.cancel()
    assert(src.poll(st) === 0)
  }

  test("sink receives forwarded windows (MongoSink port)") {
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("sunk")
    st.appendAll((0 until 4).map(i => s"""{"i":$i}"""))
    val target = Files.createTempDirectory("graft-sink").toString + "/out"
    val sink = new TableSink(target)
    mb.streaming("sunk").size(2).sink(df => sink.put(df)).run()
    assert(spark.read.parquet(target).count() === 4)
  }

  test("dataset source -> stream -> emitter -> dataset sink end-to-end (test_omegaml port)") {
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("omds")
    // om.datasets.put({'foo':'bar'}, 'stream-test') — a cataloged table the
    // source tails by monotonic key
    val srcDir = Files.createTempDirectory("graft-omsrc").toString + "/ds"
    spark.range(1).selectExpr("id AS k", "'bar' AS foo")
      .write.mode("append").parquet(srcDir)
    val src = new TableTailSource(spark, srcDir, "k")
    val attached = st.attach(s => src.poll(s), pollMs = 100)
    try {
      val deadline = System.currentTimeMillis() + 30000
      while (st.buffer().count() < 1 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(st.buffer().count() === 1, "attached source never forwarded the dataset row")
    } finally { src.cancel(); attached.detach() }
    val outDir = Files.createTempDirectory("graft-omsink").toString + "/out"
    val sink = new TableSink(outDir)
    mb.streaming("omds").size(1).sink(df => sink.put(df)).run()
    val out = spark.read.parquet(outDir)
    assert(out.count() === 1)
    assert(out.select("data").head.getString(0).contains(""""foo":"bar""""))
  }

  test("table-tail source: capped poll drains an outage backlog loss-free with bounded memory") {
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("backlog")
    val srcDir = Files.createTempDirectory("graft-backlog").toString + "/ds"
    // a 10k-row backlog (as after an outage) against a 1k-per-poll cap:
    // each poll must stay under the cap (driver memory bound) and the
    // cursor must advance only past FORWARDED keys, so the drain loses and
    // duplicates nothing across polls
    spark.range(10000).selectExpr("id AS k", "concat('v', id) AS v")
      .write.mode("append").parquet(srcDir)
    val src = new TableTailSource(spark, srcDir, "k", maxRowsPerPoll = 1000)
    var polls = 0
    var total = 0
    var got = src.poll(st)
    while (got > 0) {
      assert(got <= 1000, s"poll returned $got rows, above the cap")
      total += got; polls += 1
      got = src.poll(st)
    }
    assert(total === 10000, "every backlog row must be forwarded")
    assert(polls === 10, s"10k backlog at cap 1000 should drain in 10 polls, took $polls")
    val ks = st.buffer()
      .selectExpr("CAST(get_json_object(data, '$.k') AS LONG) AS k")
    assert(ks.count() === 10000)
    assert(ks.distinct().count() === 10000, "no key may be forwarded twice")
  }

  test("parallel emit keeps up with a slow emitfn (test_slow_emitfn port)") {
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("slow")
    st.appendAll((0 until 10).map(i => s"""{"i":$i}"""))
    val spans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val slowFn = (_: Long, df: DataFrame) => {
      val t0 = System.nanoTime()
      df.count() // a real Spark action inside the worker thread
      Thread.sleep(300)
      spans.add((t0, System.nanoTime()))
      ()
    }
    mb.streaming("slow").size(2).maxWorkers(5).emit(slowFn).run()
    import scala.jdk.CollectionConverters._
    val s = spans.asScala.toSeq
    assert(s.size === 5)
    // emit phase wall-clock: all 5 windows (300ms sleep each) must overlap,
    // beating the 1.5s sequential lower bound
    val emitWallMs = (s.map(_._2).max - s.map(_._1).min) / 1e6
    assert(emitWallMs < 1400, s"parallel emit should beat the 1.5s sequential bound, took ${emitWallMs}ms")
  }

  test("failed emit replays the batch; successful rerun emits all (undo port)") {
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("undone")
    st.appendAll((0 until 4).map(i => s"""{"i":$i}"""))
    val boom = (_: Long, _: DataFrame) => throw new RuntimeException("emitfn failed")
    val failed = intercept[Exception] {
      mb.streaming("undone").size(2).emit(boom).run()
    }
    assert(failed.getMessage != null)
    // nothing was committed: a rerun with a working emitfn sees every message
    val (sink, fn) = collector()
    mb.streaming("undone").size(2).emit(fn).run()
    assert(sink.size === 2, s"failed batch must be redelivered, got $sink")
    assert(sink.flatMap(_._2).size === 4)
  }

  test("event-time session windows with watermark (streaming session_window)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val sessions = input.toDF().toDF("ts", "user", "value")
      .withWatermark("ts", "10 seconds")
      .groupBy(session_window(col("ts"), "30 seconds").as("sw"), col("user"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"))
      .select(col("user"), col("n"), col("sv"))
    val q = sessions.writeStream
      .format("memory").queryName("graft_sessions").outputMode("append").start()
    val base = 1700000000L
    def ts(off: Long) = new Timestamp((base + off) * 1000L)
    // user a: two events 10s apart (one session); user b: one event
    input.addData((ts(0), "a", 1.0), (ts(10), "a", 2.0), (ts(5), "b", 5.0))
    q.processAllAvailable()
    // advance event time far past the watermark so the sessions close
    input.addData((ts(300), "c", 0.0))
    q.processAllAvailable()
    input.addData((ts(600), "c", 0.0))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("graft_sessions")
      .select("user", "n", "sv").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(out.contains(("a", 2L, 3.0)), s"merged session for a, got $out")
    assert(out.contains(("b", 1L, 5.0)), s"singleton session for b, got $out")
  }

  test("event-time sliding windows with watermark drop late data") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Double)]
    val agg = input.toDF().toDF("ts", "value")
      .withWatermark("ts", "5 seconds")
      .groupBy(window(col("ts"), "20 seconds", "10 seconds").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").cast("long").as("ws"), col("n"))
    val q = agg.writeStream
      .format("memory").queryName("graft_sliding").outputMode("append").start()
    val base = 1700000000L // multiple of 20
    def ts(off: Long) = new Timestamp((base + off) * 1000L)
    input.addData((ts(0), 1.0), (ts(12), 1.0))
    q.processAllAvailable()
    input.addData((ts(100), 1.0)) // advances watermark to 95: closes early windows
    q.processAllAvailable()
    // late arrival far behind the watermark: must be dropped, not re-open a window
    input.addData((ts(1), 9.0))
    q.processAllAvailable()
    input.addData((ts(200), 1.0))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("graft_sliding").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // event@0 in windows [-10,10) and [0,20); event@12 in [0,20) and [10,30)
    assert(out.get(base - 10) === Some(1L), s"got $out")
    assert(out.get(base) === Some(2L), s"got $out")
    assert(out.get(base + 10) === Some(1L), s"got $out")
  }

  test("attach runs a polling source on a background thread (stream.attach port)") {
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("attached")
    val src = new TableTailSource(spark, s"${TestSpark.sf0001}/region.parquet", "r_regionkey")
    val handle = st.attach(s => src.poll(s), pollMs = 50L)
    // wait until the background thread has ingested the table
    val deadline = System.currentTimeMillis() + 10000
    while (st.buffer().count() < 5 && System.currentTimeMillis() < deadline) Thread.sleep(100)
    handle.detach()
    assert(!handle.isRunning)
    assert(st.buffer().count() === 5)
    // detached: appending to the source table no longer flows (cancel port)
    src.cancel()
    assert(src.poll(st) === 0)
  }

  test("stream-static join enriches windows against a dimension table") {
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("enriched")
    // payloads referencing nation keys
    st.appendAll(Seq(0, 1, 2, 0).map(k => s"""{"nkey":$k}"""))
    val nations = spark.read.parquet(s"${TestSpark.sf0001}/nation.parquet")
      .select(org.apache.spark.sql.functions.col("n_nationkey"),
        org.apache.spark.sql.functions.col("n_name"))
    val seen = mutable.ArrayBuffer.empty[(Long, String)]
    val fn = (id: Long, df: DataFrame) => {
      import org.apache.spark.sql.functions._
      val joined = df
        .withColumn("nkey", get_json_object(col("data"), "$.nkey").cast("long"))
        .join(broadcast(nations), col("nkey") === col("n_nationkey"))
      joined.select("n_name").collect().foreach(r => seen.synchronized {
        seen += ((id, r.getString(0)))
      })
      ()
    }
    mb.streaming("enriched").size(2).emit(fn).run()
    assert(seen.size === 4, s"all messages enriched, got $seen")
    assert(seen.map(_._2).sorted === Seq("NATION_0", "NATION_0", "NATION_1", "NATION_2"), s"got $seen")
  }

  test("streaming exact dedup within watermark emits each key once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val deduped = input.toDF().toDF("ts", "doc_key")
      .withWatermark("ts", "10 seconds")
      .dropDuplicatesWithinWatermark("doc_key")
    val q = deduped.writeStream
      .format("memory").queryName("graft_dedup").outputMode("append").start()
    val base = 1700000000L
    def ts(off: Long) = new Timestamp((base + off) * 1000L)
    input.addData((ts(0), "a"), (ts(1), "b"), (ts(2), "a"))
    q.processAllAvailable()
    input.addData((ts(3), "a"), (ts(4), "c")) // 'a' again within watermark
    q.processAllAvailable()
    q.stop()
    val keys = spark.table("graft_dedup").select("doc_key")
      .collect().map(_.getString(0)).toSeq.sorted
    assert(keys === Seq("a", "b", "c"), s"each key exactly once, got $keys")
  }

  test("stream-stream interval join matches purchases to preceding clicks") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Timestamp, Long)]
    val purchases = MemoryStream[(Timestamp, Long)]
    val c = clicks.toDF().toDF("cts", "cuser").withWatermark("cts", "10 seconds")
    val p = purchases.toDF().toDF("pts", "puser").withWatermark("pts", "10 seconds")
    val joined = p.join(c,
      expr("cuser = puser AND cts BETWEEN pts - interval 60 seconds AND pts"))
      .select(col("puser"), col("pts").cast("long").as("pts_s"), col("cts").cast("long").as("cts_s"))
    val q = joined.writeStream
      .format("memory").queryName("graft_ssj").outputMode("append").start()
    val base = 1700000000L
    def ts(off: Long) = new Timestamp((base + off) * 1000L)
    clicks.addData((ts(0), 1L), (ts(5), 2L), (ts(100), 1L))
    purchases.addData((ts(30), 1L), (ts(40), 3L))
    q.processAllAvailable()
    clicks.addData((ts(500), 9L)) // advance watermark, close the join windows
    purchases.addData((ts(500), 9L))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("graft_ssj").select("puser", "cts_s")
      .collect().map(r => (r.getLong(0), r.getLong(1) - base)).toSet
    // purchase by user1 @30 matches click @0 (within 60s before); user3 has
    // no click; user1's click @100 is AFTER the purchase — excluded
    assert(out === Set((1L, 0L), (9L, 500L)), s"got $out")
  }

  test("draining an empty stream emits nothing and does not fail") {
    val mb = Minibatch(spark, freshRoot())
    mb.stream("empty") // created, never appended to
    val (sink, fn) = collector()
    mb.streaming("empty").size(2).emit(fn).run()
    assert(sink.isEmpty)
  }

  test("bufferTyped projects JSON payloads to typed columns, keeps raw data") {
    import org.apache.spark.sql.types._
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("typed")
    st.appendAll(Seq(
      """{"sensor":"s1","v":1.5,"extra":"kept-in-raw"}""",
      """{"sensor":"s2","v":2.5}"""))
    val typed = st.bufferTyped(StructType(Seq(
      StructField("sensor", StringType), StructField("v", DoubleType))))
    val rows = typed.select("sensor", "v", "data").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getString(2))).sortBy(_._1)
    assert(rows.map(t => (t._1, t._2)).toSeq === Seq(("s1", 1.5), ("s2", 2.5)))
    // unknown fields survive in the raw payload
    assert(rows(0)._3.contains("kept-in-raw"))
  }

  test("maxFilesPerTrigger caps micro-batch size (Batcher sizing port)") {
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("capped")
    // three separate appends -> three buffer files
    (0 until 3).foreach(i => st.appendAll(Seq(s"""{"i":$i}""")))
    val (sink, fn) = collector()
    // relaxed windows = one window per micro-batch; capping at 1 file per
    // trigger must therefore yield 3 windows instead of 1
    mb.streaming("capped").emitter(EmitterRunner.RelaxedTimeWindow)
      .maxFilesPerTrigger(1).emit(fn).run()
    assert(sink.size === 3, s"one window per capped micro-batch, got $sink")
    assert(sink.flatMap(_._2).size === 3)
  }

  test("idempotent batch sink: replaying a batch does not duplicate output") {
    import graft.sources.IdempotentTableSink
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("idem")
    st.appendAll((0 until 4).map(i => s"""{"i":$i}"""))
    val target = Files.createTempDirectory("graft-idem").toString + "/out"
    val sink = new IdempotentTableSink(target)
    mb.streaming("idem").size(2).batchSink((df, id) => sink.put(df, id)).run()
    assert(spark.read.parquet(target).count() === 4)
    // simulate the undo/replay path: in a real replay the batch comes from
    // the upstream buffer (materialize it — don't lazily read the files
    // being overwritten); writing it again must OVERWRITE its partition
    val batch0 = spark.read.parquet(target).where("batch_id = 0").drop("batch_id")
    val rows = batch0.collect().toSeq
    val replay = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), batch0.schema)
    sink.put(replay, 0L)
    assert(spark.read.parquet(target).count() === 4, "replay must be idempotent")
    // the same replay as a local frame takes the driver-side path, and
    // overwrites the slice just as well
    import scala.jdk.CollectionConverters._
    val localReplay = spark.createDataFrame(rows.asJava, batch0.schema)
    assert(localReplay.isLocal && !replay.isLocal)
    sink.put(localReplay, 0L)
    assert(spark.read.parquet(target).count() === 4, "a local replay must be idempotent")
    assert(spark.read.parquet(target).where("batch_id = 0").drop("batch_id").collect().toSeq.sortBy(_.toString) ===
      rows.sortBy(_.toString))
    // a genuinely new batch still lands
    sink.put(replay.limit(1), 99L)
    assert(spark.read.parquet(target).count() === 5)

    import org.apache.spark.sql.types._
    def roundTrip(df: DataFrame): (Seq[Row], Boolean) = {
      val dir = Files.createTempDirectory("graft-idem").toString + "/out"
      val s = new IdempotentTableSink(dir)
      s.put(df, 3L)
      s.put(df, 3L)
      // Spark's writer names its files part-<task>-<uuid>.c000…; the
      // driver-side path writes one part-<uuid>.parquet
      val names = Files.list(java.nio.file.Paths.get(dir, "batch_id=3")).toArray.toSeq.map(_.toString)
      (spark.read.parquet(dir).drop("batch_id").collect().toSeq.sortBy(_.toString), names.exists(_.contains(".c000")))
    }
    // every flat type, nulls included, reads back equal from the driver-side path
    val flat = spark.createDataFrame(Seq(
        Row("a", 1L, 2, 0.5, true, new Timestamp(1700000000123L)),
        Row(null, -3L, 0, -1.25, false, null)).asJava,
      new StructType().add("s", StringType).add("l", LongType, nullable = false).add("i", IntegerType)
        .add("d", DoubleType).add("b", BooleanType).add("t", TimestampType))
    assert(roundTrip(flat) === ((flat.collect().toSeq.sortBy(_.toString), false)))
    // a local frame with a column outside the flat set goes through Spark's writer
    val nested = spark.createDataFrame(Seq(Row("a", new java.math.BigDecimal("1.25"), Seq(1, 2))).asJava,
      new StructType().add("s", StringType).add("m", DecimalType(10, 2)).add("xs", ArrayType(IntegerType)))
    assert(nested.isLocal)
    assert(roundTrip(nested) === ((nested.collect().toSeq, true)))
  }

  test("upsert sink: bucket-granular latest-wins CDC apply, replay-safe, untouched buckets not rewritten") {
    import graft.sources.UpsertTableSink
    import spark.implicits._
    val target = Files.createTempDirectory("graft-upsert").toString + "/table"
    val sink = new UpsertTableSink(target, Seq("k"), "ver", nBuckets = 8)
    def table() = spark.read.parquet(target)
      .select("k", "payload", "ver").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    def bucketFiles(): Map[String, Set[String]] = {
      val d = new java.io.File(target)
      d.listFiles().filter(_.getName.startsWith("bucket=")).map(b =>
        b.getName -> b.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet).toMap
    }
    sink.put(Seq((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 1L)).toDF("k", "payload", "ver"))
    assert(table() === Map(1L -> (("a", 1L)), 2L -> (("b", 1L)), 3L -> (("c", 1L))))
    val before = bucketFiles()
    // update k=1 (newer ver wins), stale k=2 (older ver loses), insert k=4
    val b1 = Seq((1L, "a2", 2L), (2L, "stale", 0L), (4L, "d", 1L)).toDF("k", "payload", "ver")
    sink.put(b1)
    val want = Map(1L -> (("a2", 2L)), 2L -> (("b", 1L)), 3L -> (("c", 1L)), 4L -> (("d", 1L)))
    assert(table() === want)
    // buckets no key of b1 hashes into must keep their exact files — the
    // dynamic overwrite may only rewrite touched partitions
    val touched = b1.select(
        pmod(xxhash64(col("k")), lit(8L)).cast("int")).distinct()
      .collect().map(r => s"bucket=${r.getInt(0)}").toSet
    val after = bucketFiles()
    before.keys.filterNot(touched).foreach { b =>
      assert(after(b) === before(b), s"untouched $b was rewritten")
    }
    // checkpoint-replay: re-applying the same batch is a no-op
    sink.put(b1)
    assert(table() === want, "replayed batch must not change the table")
    // end-to-end through the emitter loop: windows of CDC records land
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("cdc")
    st.appendAll(Seq(
      """{"k":3,"payload":"c2","ver":5}""",
      """{"k":5,"payload":"e","ver":1}"""))
    mb.streaming("cdc").size(2).batchSink((df, _) =>
      sink.put(df.select(
        get_json_object(col("data"), "$.k").cast("long").as("k"),
        get_json_object(col("data"), "$.payload").as("payload"),
        get_json_object(col("data"), "$.ver").cast("long").as("ver")))).run()
    assert(table() === (want ++ Map(3L -> (("c2", 5L)), 5L -> (("e", 1L)))))
  }

  test("clear() empties the buffer (stream.clear port)") {
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("cleared")
    st.appendAll((0 until 3).map(i => s"""{"i":$i}"""))
    assert(st.buffer().count() === 3)
    st.clear()
    assert(st.buffer().count() === 0)
  }

  test("flushPartialOnDrain emits the sub-N tail as a final partial window; default carries it") {
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("flushy")
    st.appendAll((0 until 7).map(i => s"""{"i":$i}"""))
    // default (reference parity): only complete windows emit, remainder carries
    val (sink1, fn1) = collector()
    mb.streaming("flushy").size(3).emit(fn1).run()
    assert(sink1.size === 2, s"expected 2 complete windows, got $sink1")
    assert(sink1.map(_._2.size).sum === 6)
    // flush drain: the 1-message remainder emits as window id 2
    val (sink2, fn2) = collector()
    mb.streaming("flushy").size(3).flushPartialOnDrain(true).emit(fn2).run()
    assert(sink2.size === 1, s"expected the partial tail window, got $sink2")
    assert(sink2.head._1 === 2L)
    assert(sink2.head._2 === Seq("""{"i":6}"""))
    // window ids continue past the flushed window; no message re-emits
    st.appendAll((10 until 13).map(i => s"""{"i":$i}"""))
    val (sink3, fn3) = collector()
    mb.streaming("flushy").size(3).emit(fn3).run()
    assert(sink3.size === 1)
    assert(sink3.head._1 === 3L)
    assert(sink3.head._2.size === 3)
  }

  test("close() flips status open->closed, refuses appends; reopen() restores (Stream.stop port)") {
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("life")
    assert(st.status === "open")
    st.append("""{"i":1}""")
    st.close()
    assert(st.isClosed && st.status === "closed")
    // durable: a fresh handle from the registry sees closed and does NOT
    // silently reopen (documented getOrCreate behavior)
    val again = mb.stream("life")
    assert(again.isClosed, "getOrCreate must not silently reopen a closed stream")
    intercept[IllegalStateException] { st.append("""{"i":2}""") }
    intercept[IllegalStateException] { again.appendAll(Seq("""{"i":2}""")) }
    // reads keep working on a closed stream (close flushed the pending batch)
    assert(st.buffer().count() === 1)
    // status facade surfaces the lifecycle
    val s = mb.status("life")
    assert(!s.running && s.streamStatus === "closed" && s.message === "closed")
    // idempotent
    st.close()
    // explicit reopen restores appends, on every handle
    again.reopen()
    assert(!st.isClosed)
    st.append("""{"i":3}""")
    st.flush()
    assert(st.buffer().count() === 2)
    assert(mb.status("life").streamStatus === "open")
  }

  test("streaming rolling anomalies match the batch operator for in-order arrival") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.streaming.StreamingAnomaly
    implicit val sqlCtx = spark.sqlContext
    // same shape as the batch spec: steady series + one spike, two keys
    val rows =
      (1 to 20).map(i => StreamingAnomaly.Obs("a", i.toLong * 60, 10.0 + (i % 2) * 0.2)) ++
        Seq(StreamingAnomaly.Obs("a", 21L * 60, 500.0)) ++
        (1 to 20).map(i => StreamingAnomaly.Obs("b", i.toLong * 60, 7.0 + (i % 3) * 0.1))
    val input = MemoryStream[StreamingAnomaly.Obs]
    val q = StreamingAnomaly.flags(input.toDS(), windowSeconds = 3600, z = 3.0, minN = 10)
      .writeStream.format("memory").queryName("graft_anomaly")
      .outputMode("append").start()
    try {
      // two micro-batches split mid-series: state must carry the ring across
      val (first, second) = rows.splitAt(25)
      input.addData(first)
      q.processAllAvailable()
      input.addData(second)
      q.processAllAvailable()
      val streamed = spark.table("graft_anomaly")
        .collect().map(r => ((r.getString(0), r.getLong(1)), r.getBoolean(4))).toMap
      val batch = graft.operators.Timeseries.rollingAnomalies(
          rows.toDF("key", "ts", "v"), col("key"), col("ts"), col("v"),
          windowSeconds = 3600, z = 3.0, minN = 10)
        .collect().map(r => ((r.getString(0), r.getLong(1)), r.getBoolean(6))).toMap
      assert(streamed.keySet === batch.keySet)
      streamed.foreach { case (k, flag) =>
        assert(flag === batch(k), s"flag mismatch at $k")
      }
      assert(streamed.count(_._2) === 1, "exactly the spike flags")
    } finally q.stop()
  }

  test("streaming SCD2 closed intervals match the batch operator; open runs stay in state across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{col => c}
    import spark.implicits._
    import graft.streaming.StreamingScd2
    implicit val sqlCtx = spark.sqlContext
    // key a: x x y y x (three runs, last open); key b: null null z; the
    // mid-run batch split must NOT close a's second run early
    val rows = Seq(
      StreamingScd2.Change("a", 10L, 1L, "x"), StreamingScd2.Change("a", 20L, 2L, "x"),
      StreamingScd2.Change("a", 30L, 3L, "y"), StreamingScd2.Change("a", 40L, 4L, "y"),
      StreamingScd2.Change("a", 50L, 5L, "x"),
      StreamingScd2.Change("b", 10L, 6L, null), StreamingScd2.Change("b", 20L, 7L, null),
      StreamingScd2.Change("b", 30L, 8L, "z"))
    val input = MemoryStream[StreamingScd2.Change]
    val q = StreamingScd2.intervals(input.toDS())
      .writeStream.format("memory").queryName("graft_scd2")
      .outputMode("append").start()
    try {
      // split inside a's y-run: (a,40,y) and later arrive in batch 2
      val (first, second) = rows.splitAt(3)
      input.addData(first)
      q.processAllAvailable()
      input.addData(second)
      q.processAllAvailable()
      val streamed = spark.table("graft_scd2")
        .collect().map(r => (r.getString(0), Option(r.getString(1)), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      val batchClosed = graft.operators.Timeseries.changeIntervals(
          rows.toDF("key", "ts", "seq", "value"), c("key"), c("ts"), c("seq"), c("value"))
        .filter(c("valid_to").isNotNull)
        .collect().map(r => (r.getString(0), Option(r.getString(1)), r.getLong(2),
          r.getLong(4), r.getLong(3))).toSet
      assert(streamed === batchClosed,
        s"streamed closed intervals must equal batch:\n$streamed\nvs\n$batchClosed")
      // the split y-run closed as ONE run of 2 (state carried it), and the
      // open runs (a's trailing x, b's z) were never emitted
      assert(streamed.contains(("a", Some("y"), 30L, 50L, 2L)))
      assert(!streamed.exists(i => i._1 == "a" && i._3 == 50L), "open run must stay in state")
      assert(!streamed.exists(i => i._1 == "b" && i._2 == Some("z")))
    } finally q.stop()
  }

  test("streaming anomalies judge late events at arrival (documented delta)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import graft.streaming.StreamingAnomaly
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamingAnomaly.Obs]
    val q = StreamingAnomaly.flags(input.toDS(), windowSeconds = 3600, z = 3.0, minN = 10)
      .writeStream.format("memory").queryName("graft_anomaly_late")
      .outputMode("append").start()
    try {
      // batch 1: 12 steady in-order observations
      input.addData((1 to 12).map(i => StreamingAnomaly.Obs("k", i.toLong * 60, 10.0 + (i % 2) * 0.2)))
      q.processAllAvailable()
      // batch 2: a LATE spike (event time before everything already seen):
      // judged against the state AT ARRIVAL — the full ring is within
      // [ts-window, ts+...]? no: ring keeps obs >= ts-3600; ts=30 keeps all
      input.addData(Seq(StreamingAnomaly.Obs("k", 30L, 500.0)))
      q.processAllAvailable()
      val rows = spark.table("graft_anomaly_late")
        .collect().map(r => (r.getLong(1), (r.getLong(3), r.getBoolean(4)))).toMap
      // the late spike saw the 12 earlier observations plus itself
      assert(rows(30L)._1 === 13L, s"late event frame size: ${rows(30L)}")
      assert(rows(30L)._2 === true, "late spike must still flag at arrival")
      // in the BATCH operator the same late row would see only itself
      // (nothing earlier in event time) — the documented delta
      val batch = graft.operators.Timeseries.rollingAnomalies(
          ((1 to 12).map(i => ("k", i.toLong * 60, 10.0 + (i % 2) * 0.2)) :+ (("k", 30L, 500.0)))
            .toDF("key", "ts", "v"),
          org.apache.spark.sql.functions.col("key"),
          org.apache.spark.sql.functions.col("ts"),
          org.apache.spark.sql.functions.col("v"),
          windowSeconds = 3600, z = 3.0, minN = 10)
        .collect().map(r => (r.getLong(1), r.getBoolean(6))).toMap
      assert(batch(30L) === false, "batch event-time frame sees nothing before ts=30")
    } finally q.stop()
  }

  test("close() detaches background sources and stops the retention loop") {
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("bg")
    val src = st.attach(_ => 0, pollMs = 20L)
    val ret = st.startRetention(3600.0, intervalMs = 50L)
    assert(src.isRunning && ret.isRunning)
    st.close()
    assert(!src.isRunning, "attached source must stop on close")
    assert(!ret.isRunning, "retention loop must stop on close")
  }

  test("count window with timeout: exact-N windows; sub-N tail flushes once event time passes maxAge") {
    def msg(sec: Long, d: String) =
      EmitterRunner.Message("s", new Timestamp(1700000000000L + sec * 1000L), d)
    def step(c: CountCarry, batch: EmitterRunner.Message*) = CountCarry.step(c, batch, 5, Some(60000L))
    // 7 messages: one full window of 5 emits, 2 stay pending
    val (w1, c1) = step(CountCarry.Empty, (0 until 7).map(i => msg(i, s"m$i")): _*)
    assert(w1.map { case (id, ms) => (id, ms.size) } === Seq((0L, 5)), "exactly one full window before the timeout")
    assert(c1.pending.map(_.data) === Seq("m5", "m6"))
    // within maxAge of the tail's oldest message (5 s): it joins the tail, nothing flushes
    val (w2, c2) = step(c1, msg(30, "m7"))
    assert(w2.isEmpty)
    // event time far past oldest-pending + 60 s: the tail flushes as one partial window
    val (w3, c3) = step(c2, msg(300, "m8"))
    assert(step(c2, msg(300, "m8")) === ((w3, c3)), "a replay from the same carry recomputes the same windows")
    val rows = (w1 ++ w3).flatMap { case (id, ms) => ms.map(m => (m.data, id)) }
    assert(rows.size === 9, s"every message emitted once: $rows")
    val tail = rows.filter(r => r._1 == "m5" || r._1 == "m6").map(_._2).distinct
    assert(tail === Seq(1L), s"tail must land in ONE window, id 1 after the full window's: $rows")
    // and the full window ids are untouched by the flush
    assert(rows.filter(r => r._1 < "m5").map(_._2).distinct === Seq(0L))
    assert(c3.nextWindowId === 2L && c3.pending.isEmpty)
  }

  test("size(n, maxWait): rows older than an earlier batch's newest are windowed, not dropped") {
    // two producers on one stream: the second one's batch arrives after a
    // newer row from the first was already consumed
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("two_producers")
    val (sink, fn) = collector()
    for (batch <- Seq(Seq("a" -> 100L), Seq("b" -> 50L, "c" -> 51L), Seq("d" -> 101L))) {
      val rows = batch.map { case (d, sec) =>
        Row(st.name, new Timestamp(1700000000000L + sec * 1000L), s"""{"m":"$d"}""") }
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), MbStream.MessageSchema)
        .write.mode("append").parquet(st.bufferDir)
      mb.streaming("two_producers").size(2, 600).emit(fn).run()
    }
    assert(sink.toSeq === Seq(
      0L -> Seq("""{"m":"a"}""", """{"m":"b"}"""),
      1L -> Seq("""{"m":"c"}""", """{"m":"d"}""")), s"late rows must not be dropped: $sink")
  }

  test("a count emitter refuses a checkpoint with committed batches but no window carry") {
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("upgraded")
    st.appendAll(Seq("""{"i":0}"""))
    // committed batches that leave no count carry: a time-window emitter's checkpoint
    mb.streaming("upgraded").emitter(EmitterRunner.RelaxedTimeWindow).emit((_, _) => ()).run()
    st.appendAll(Seq("""{"i":1}""", """{"i":2}"""))
    val e = intercept[IllegalStateException] {
      mb.streaming("upgraded").size(2).emit((_, _) => ()).run()
    }
    Seq("'upgraded'", "flushPartialOnDrain", st.checkpointsDir).foreach(s =>
      assert(e.getMessage.contains(s), s"the message must name $s: ${e.getMessage}"))
    // the named fix works: without the checkpoint the buffer is re-read from its start
    val cp = java.nio.file.Paths.get(st.checkpointsDir)
    Files.walk(cp).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    val (sink, fn) = collector()
    mb.streaming("upgraded").size(2).emit(fn).run()
    assert(sink.map(_._2.size) === Seq(2), s"one full window of the three messages: $sink")
  }

  test("windows() skips Spark's hidden staging dir beside an empty history") {
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("staging")
    // the first kept write's in-flight rows, as dynamic partition overwrite stages them
    spark.range(2).selectExpr("'staging' AS stream", "current_timestamp() AS created",
        "'{}' AS data", "id AS window_id")
      .write.parquet(s"${st.windowsDir}/.spark-staging-0/batch_id=0")
    assert(st.windows().count() === 0)
    assert(st.windows().columns.toSeq === Seq("stream", "created", "data", "window_id", "batch_id"))
    st.appendAll((0 until 4).map(i => s"""{"i":$i}"""))
    mb.streaming("staging").size(2).keep(true).run()
    assert(st.windows().count() === 4)
  }

  test("buffer compatibility: Spark-written INT96 and flushed INT64 files read identically") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.types._
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("compat")
    val ts = (0 until 3).map(i => new Timestamp(1700000000123L + i * 7))
    def rows(src: String) = ts.zipWithIndex.map { case (t, i) => (s"""{"src":"$src","i":$i}""", t) }
    // the earlier buffer format: Spark's own writer
    spark.createDataFrame(spark.sparkContext.parallelize(
        rows("old").map { case (d, t) => Row(st.name, t, d) }, 1), MbStream.MessageSchema)
      .write.mode("append").parquet(st.bufferDir)
    st.writeBufferFile(rows("new"))
    val files = Files.list(java.nio.file.Paths.get(st.bufferDir)).toArray.toSeq.map(_.toString)
      .filter(f => f.endsWith(".parquet") && !f.split('/').last.startsWith("."))
    val createdTypes = files.map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f), spark.sparkContext.hadoopConfiguration))
      val schema = r.getFooter.getFileMetaData.getSchema
      try schema.getType(schema.getFieldIndex("created")).asPrimitiveType.getPrimitiveTypeName.name
      finally r.close()
    }
    assert(createdTypes.sorted === Seq("INT64", "INT96"))
    // (src, i) -> created ms, through each read path
    def expectTwins(got: Seq[(String, Long, Long)], via: String): Unit =
      assert(got.sorted === (for (src <- Seq("new", "old"); i <- ts.indices)
        yield (src, i.toLong, ts(i).getTime)), s"via $via")
    expectTwins(st.buffer().selectExpr("get_json_object(data, '$.src')",
        "CAST(get_json_object(data, '$.i') AS LONG)", "unix_millis(created)")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq, "buffer()")
    expectTwins(st.bufferTyped(new StructType().add("src", StringType).add("i", LongType))
      .collect().map(r => (r.getAs[String]("src"), r.getAs[Long]("i"), r.getAs[Timestamp]("created").getTime))
      .toSeq, "bufferTyped")
    val drained = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()
    mb.streaming("compat").size(2).emit((_, df) => df.collect().foreach { r =>
      val d = r.getString(2)
      drained.add((if (d.contains("old")) "old" else "new", d.filter(_.isDigit).toLong,
        r.getTimestamp(1).getTime))
    }).run()
    import scala.jdk.CollectionConverters._
    expectTwins(drained.asScala.toSeq, "a drain")
    // retention compares each file's newest created to the cutoff, to the ms
    val newest = ts.last.getTime
    assert(st.runRetention(1.0, nowMs = newest - 1 + 1000) === 0)
    assert(st.runRetention(1.0, nowMs = newest + 1000) === 2)
  }

  test("a directory listing taken during flush never shows a non-hidden partial file") {
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("listed")
    val dir = java.nio.file.Paths.get(st.bufferDir)
    Files.createDirectories(dir)
    val seen = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    var listings = 0
    val lister = new Thread(() => while (!done.get) {
      val s = Files.list(dir)
      try s.forEach { f =>
        val n = f.getFileName.toString
        if (!n.startsWith(".") && !n.startsWith("_"))
          try seen.merge(n, Files.size(f), (a, b) => math.min(a, b))
          catch { case _: java.nio.file.NoSuchFileException => () }
      } finally s.close()
      listings += 1
    })
    lister.start()
    try (0 until 40).foreach(i => st.append(s"""{"i":$i,"pad":"${"x" * 2000}"}"""))
    finally { done.set(true); lister.join() }
    assert(listings > 1 && seen.size > 0)
    import scala.jdk.CollectionConverters._
    seen.asScala.foreach { case (n, size) =>
      assert(n.endsWith(".parquet"), s"unexpected visible file $n")
      assert(size.longValue === Files.size(dir.resolve(n)), s"$n was listed before it was complete")
    }
    assert(st.buffer().count() === 40)
  }

  /** A `SparkListener` log, registered for the body of [[around]]: per job
    * its tag (set by [[tagged]]), its streaming query id and its stage ids,
    * and the stages that ran shuffle-map tasks. [[settle]] waits until the
    * listener has seen every job started before it.
    */
  private class JobLog {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
    import scala.jdk.CollectionConverters._
    private val sc = spark.sparkContext
    private val tagKey = "graft.test.layer"
    private val log = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, Seq[Int])]()
    private val shuffleStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    private val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        log.add((p.map(_.getProperty(tagKey)).orNull, p.map(_.getProperty("sql.streaming.queryId")).orNull,
          e.stageIds))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskType == "ShuffleMapTask") shuffleStages.add(e.stageId)
    }
    def jobs: Seq[(String, String, Seq[Int])] = log.asScala.toSeq
    def tagged[T](tag: String)(body: => T): T = {
      sc.setLocalProperty(tagKey, tag)
      try body finally sc.setLocalProperty(tagKey, null)
    }
    def shuffled(job: (String, String, Seq[Int])): Boolean = job._3.exists(shuffleStages.contains)
    // listener events arrive in order: once a marker job's start is seen,
    // every earlier job's start has been too
    def settle(): Unit = {
      val marker = s"marker-${java.util.UUID.randomUUID()}"
      tagged(marker)(spark.range(1).count())
      val deadline = System.currentTimeMillis() + 30000
      while (!jobs.exists(_._1 == marker) && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(jobs.exists(_._1 == marker), "the listener never saw the marker job")
    }
    def around[T](body: JobLog => T): T = {
      sc.addSparkListener(listener)
      try body(this) finally sc.removeSparkListener(listener)
    }
  }

  test("regression guard: appends post no Spark job; a size(1) drain runs no shuffle and no state store") {
    new JobLog().around { jl =>
      val mb = Minibatch(spark, freshRoot())
      val st = mb.stream("guarded")
      val k = 6
      jl.tagged("append") {
        (0 until k).foreach(i => st.append(s"""{"i":$i}"""))
        st.appendAll(Seq("""{"i":"b0"}""", """{"i":"b1"}"""))
      }
      jl.settle()
      assert(jl.jobs.count(_._1 == "append") === 0, "append and appendAll must start no Spark job")
      val (sink, fn) = collector()
      val q = mb.streaming("guarded").size(1).emit(fn).start()
      q.awaitTermination()
      jl.settle()
      assert(sink.size === k + 2)
      val drain = jl.jobs.filter(_._2 == q.id.toString)
      val batches = q.recentProgress.count(_.durationMs.containsKey("addBatch"))
      assert(batches > 0 && drain.isEmpty, s"a drain reads its micro-batches without a Spark job: $drain")
      assert(!drain.exists(jl.shuffled), "a count drain must run no shuffle stage")
      assert(q.recentProgress.forall(_.stateOperators.isEmpty), "a count drain must keep no state store")
      assert(!Files.exists(java.nio.file.Paths.get(st.checkpointsDir, "state")))
    }
  }

  test("regression guard: a size(1) drain of 40 files in one micro-batch runs no Spark job") {
    new JobLog().around { jl =>
      val mb = Minibatch(spark, freshRoot())
      val st = mb.stream("wide")
      val n = 40 // more than spark.sql.sources.parallelPartitionDiscovery.threshold (32)
      (0 until n).foreach(i => st.append(s"""{"i":$i}"""))
      val (sink, fn) = collector()
      val q = mb.streaming(st.name).size(1).emit(fn)
        .withTrigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      jl.settle()
      assert(sink.size === n)
      assert(q.recentProgress.count(_.durationMs.containsKey("addBatch")) === 1, "all files in one micro-batch")
      val drain = jl.jobs.filter(_._2 == q.id.toString)
      assert(drain.isEmpty, s"listing the batch's files must start no Spark job: $drain")
    }
  }

  test("regression guard: appends and a size(1) drain leave no .crc sidecar in the buffer or the checkpoint logs") {
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("sidecars")
    (0 until 4).foreach(i => st.append(s"""{"i":$i}"""))
    st.appendAll(Seq("""{"i":"b0"}""", """{"i":"b1"}"""))
    val (sink, fn) = collector()
    mb.streaming("sidecars").size(1).emit(fn).run()
    assert(sink.size === 6)
    val dirs = Seq(java.nio.file.Paths.get(st.bufferDir), BufferSource.logDir(st))
    val crcs = dirs.flatMap { d =>
      assert(Files.isDirectory(d), s"$d must exist after a drain")
      val s = Files.walk(d)
      try s.toArray.toSeq.map(_.toString).filter(_.endsWith(".crc")) finally s.close()
    }
    assert(crcs.isEmpty, s"checksum sidecars: $crcs")
  }

  private val CheckpointManagerKey = "spark.sql.streaming.checkpointFileManagerClass"
  private val SparkDefaultManager =
    "org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager"

  /** Run `body` with the session's checkpoint manager class set to `cls`
    * (None: unset, the emitter's own java.nio writes alone), and check that
    * the emitter left the setting as it found it. */
  private def underManager[T](cls: Option[String])(body: => T): T = {
    val before = spark.conf.getOption(CheckpointManagerKey)
    cls.fold(spark.conf.unset(CheckpointManagerKey))(spark.conf.set(CheckpointManagerKey, _))
    try {
      val r = body
      assert(spark.conf.getOption(CheckpointManagerKey) === cls)
      r
    } finally before.fold(spark.conf.unset(CheckpointManagerKey))(spark.conf.set(CheckpointManagerKey, _))
  }

  /** The `.crc` sidecars in the stream's batch log: none, whatever manager
    * the session names, since the emitter writes the log through java.nio. */
  private def batchLogSidecars(st: MbStream): Seq[String] = {
    val s = Files.list(BufferSource.logDir(st))
    try s.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path].getFileName.toString).filter(_.endsWith(".crc"))
    finally s.close()
  }

  for ((label, first, second) <- Seq(("Spark's default manager resumes under the NIO one", Some(SparkDefaultManager), None),
      ("the NIO manager resumes under Spark's default one", None, Some(SparkDefaultManager)))) {
    test(s"restart: a size(2) checkpoint of $label: exactly once, ids and carry continue") {
      val mb = Minibatch(spark, freshRoot())
      val st = mb.stream("restart-count")
      st.appendAll((0 until 5).map(i => s"""{"i":$i}"""))
      val (sink1, fn1) = collector()
      underManager(first)(mb.streaming(st.name).size(2).emit(fn1).run())
      assert(sink1.map(_._1) === Seq(0L, 1L))
      st.appendAll((5 until 8).map(i => s"""{"i":$i}"""))
      val (sink2, fn2) = collector()
      underManager(second)(mb.streaming(st.name).size(2).emit(fn2).run())
      // the carried {"i":4} opens window 2
      assert(sink2.toSeq === Seq(2L -> Seq("""{"i":4}""", """{"i":5}"""), 3L -> Seq("""{"i":6}""", """{"i":7}""")))
      val all = (sink1 ++ sink2).flatMap(_._2)
      assert(all.sorted === (0 until 8).map(i => s"""{"i":$i}""").sorted)
      assert(batchLogSidecars(st).isEmpty)
    }

    test(s"restart: an interval(60, relaxed = false).keep(true) checkpoint of $label: exactly once, ids and history continue") {
      val mb = Minibatch(spark, freshRoot())
      val st = mb.stream("restart-fixed")
      val base = 1699999980L // aligned to the 60 s grid
      def write(offs: Long*): Unit =
        st.writeBufferFile(offs.map(o => (s"""{"o":$o}""", new Timestamp((base + o) * 1000L))))
      def drain(cls: Option[String]): Seq[(Long, Seq[String])] = {
        val (sink, fn) = collector()
        underManager(cls)(mb.streaming(st.name).interval(60, relaxed = false).keep(true).emitEmpty(true)
          .emit(fn).run())
        sink.toSeq.map { case (id, rows) => (id - base / 60, rows) }
      }
      write(0L, 70L)
      assert(drain(first) === Seq(0L -> Seq("""{"o":0}"""), 1L -> Seq("""{"o":70}""")))
      write(190L, 200L)
      // the gap window 2 comes from the high-water mark in the batch log
      assert(drain(second) === Seq(2L -> Nil, 3L -> Seq("""{"o":190}""", """{"o":200}""")))
      assert(st.windows().selectExpr("window_id - " + base / 60).collect().map(_.getLong(0)).sorted.toSeq ===
        Seq(0L, 1L, 3L, 3L))
      assert(batchLogSidecars(st).isEmpty)
    }
  }

  /** Write one buffer file per element of `files`, each with a modification
    * time a second after the previous one's, so the file source takes them
    * in this order (oldest first); the paths written, in order. */
  private def writeInOrder(st: MbStream, files: Seq[Seq[(String, Timestamp)]]): Seq[java.nio.file.Path] = {
    val mtime0 = System.currentTimeMillis() - 60000L
    files.zipWithIndex.map { case (rows, f) =>
      Files.setLastModifiedTime(st.writeBufferFile(rows), java.nio.file.attribute.FileTime.fromMillis(mtime0 + f * 1000L))
    }
  }

  test("a maxFilesPerTrigger(1) size(2) drain across the source log's .compact batches resumes exactly once") {
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("compacted")
    val n = 24
    val now = new Timestamp(System.currentTimeMillis())
    writeInOrder(st, (0 until n).map(i => Seq((s"""{"i":$i}""", now))))
    // window w holds messages 2w and 2w + 1, emitted by batch 2w + 1; the
    // emit of window 6 fails, which leaves batch 13 recorded, uncommitted
    val stopAt = 6L
    val (sink1, fn1) = collector()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      mb.streaming(st.name).size(2).maxFilesPerTrigger(1).emit { (id, df) =>
        if (id == stopAt) sys.error("stop at window 6")
        fn1(id, df)
      }.run()
    }
    assert(sink1.map(_._1) === (0L until stopAt))
    val sources = BufferSource.logDir(st)
    assert(Files.exists(sources.resolve("9.compact")) && !Files.exists(sources.resolve("19.compact")))
    assert(Files.exists(sources.resolve("13")) && !Files.exists(sources.resolve("13.commit")))
    val (sink2, fn2) = collector()
    mb.streaming(st.name).size(2).maxFilesPerTrigger(1).emit(fn2).run()
    assert(Files.exists(sources.resolve("19.compact")))
    // a compaction keeps the entries since the previous one
    assert(!Files.exists(sources.resolve("9.compact")) && !Files.exists(sources.resolve("9")) &&
      !Files.exists(sources.resolve("9.commit")) && Files.exists(sources.resolve("10")))
    assert((sink1 ++ sink2).toSeq === (0 until n / 2).map(w =>
      w.toLong -> Seq(s"""{"i":${2 * w}}""", s"""{"i":${2 * w + 1}}""")))
  }

  test("a buffer file deleted before its micro-batch reads it is skipped; later files still emit") {
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("vanishing")
    val now = new Timestamp(System.currentTimeMillis())
    val files = writeInOrder(st, (0 until 3).map(i => Seq((s"""{"i":$i}""", now))))
    val (sink, fn) = collector()
    mb.streaming(st.name).size(1).maxFilesPerTrigger(1).emit { (id, df) =>
      if (id == 0) Files.delete(files(1))
      fn(id, df)
    }.run()
    // the source had listed the file before it went, so batch 1 names it
    assert(logEntry(st, "1") === Seq(files(1).getFileName.toString))
    assert(sink.toSeq === Seq(0L -> Seq("""{"i":0}"""), 1L -> Seq("""{"i":2}""")))
  }

  /** Wait up to a minute for `cond`. */
  private def await(what: String)(cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + 60000
    while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(20)
    assert(cond, s"timed out waiting for $what")
  }

  /** The file names a batch record or a compact file of the batch log holds. */
  private def logEntry(st: MbStream, name: String): Seq[String] = {
    val in = new java.io.DataInputStream(Files.newInputStream(BufferSource.logDir(st).resolve(name)))
    try {
      assert(in.readInt() === 1, "batch log format")
      Seq.fill(in.readInt())(in.readUTF())
    } finally in.close()
  }

  test("a file published late, with an older mtime than files already emitted, is emitted exactly once") {
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("late-file")
    val now = new Timestamp(System.currentTimeMillis())
    val files = writeInOrder(st, Seq(1, 2).map(i => Seq((s"""{"i":$i}""", now))))
    val (sink, fn) = collector()
    val q = mb.streaming(st.name).size(1).withTrigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .emit(fn).start()
    try {
      await("the first two files")(sink.size == 2)
      // a slow producer's file: written elsewhere, aged, then moved in whole
      val staged = mb.stream("late-file-staging").writeBufferFile(Seq(("""{"i":0}""", now)))
      Files.setLastModifiedTime(staged, java.nio.file.attribute.FileTime.fromMillis(
        Files.getLastModifiedTime(files.head).toMillis - 60000L))
      Files.move(staged, java.nio.file.Paths.get(st.bufferDir).resolve(staged.getFileName),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      await("the late file")(sink.size == 3)
      Thread.sleep(300) // further triggers must not take it again
    } finally q.stop()
    val (again, fn2) = collector()
    mb.streaming(st.name).size(1).emit(fn2).run()
    assert(again.isEmpty, s"a restart must not take the late file again: $again")
    assert(sink.toSeq === Seq(0L -> Seq("""{"i":1}"""), 1L -> Seq("""{"i":2}"""), 2L -> Seq("""{"i":0}""")))
  }

  test("a restart after the source log recorded files that no micro-batch ran emits them exactly once") {
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("recorded")
    val now = new Timestamp(System.currentTimeMillis())
    def publish(f: Int): Unit = writeInOrder(st, Seq(Seq((s"""{"f":$f}""", now))))
    // relaxed windows: the window id is the micro-batch id
    def drain(fn: (Long, DataFrame) => Unit): Unit =
      mb.streaming(st.name).emitter(EmitterRunner.RelaxedTimeWindow).emit(fn).run()
    val (sink, fn) = collector()
    publish(0)
    drain(fn)
    publish(1)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](drain((_, _) => sys.error("emit failed")))
    // batch 1's record names f1 and has no commit marker
    assert(logEntry(st, "1").size === 1 && !Files.exists(BufferSource.logDir(st).resolve("1.commit")))
    publish(2)
    drain(fn)
    // batch 1 reran its record instead of listing f1 and f2 together
    assert(sink.toSeq === Seq(0L -> Seq("""{"f":0}"""), 1L -> Seq("""{"f":1}"""), 2L -> Seq("""{"f":2}""")))
    assert(logEntry(st, "1").size === 1 && logEntry(st, "2").size === 1)
  }

  test("a file removed by runRetention under a running emitter is not emitted again and leaves the seen set") {
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("retained")
    val old = new Timestamp(System.currentTimeMillis() - 3600 * 1000L)
    val aged = writeInOrder(st, (0 until 3).map(i => Seq((s"""{"old":$i}""", old)))).map(_.getFileName.toString)
    val (sink, fn) = collector()
    val q = mb.streaming(st.name).size(1).maxFilesPerTrigger(1)
      .withTrigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)).emit(fn).start()
    val fresh = 12
    try {
      await("the aged files")(sink.size == 3)
      assert(st.runRetention(60) === 3)
      (0 until fresh).foreach(i => st.append(s"""{"new":$i}"""))
      await("the fresh files")(sink.size == 3 + fresh)
      Thread.sleep(300)
    } finally q.stop()
    val expected = (0 until 3).map(i => s"""{"old":$i}""") ++ (0 until fresh).map(i => s"""{"new":$i}""")
    assert(sink.flatMap(_._2).sorted === expected.sorted, "every message exactly once")
    // entry 9 (the tenth) was taken after the sweep: its compaction holds
    // entries 3-9, the fresh files, and none of the removed ones
    val seen = logEntry(st, "9.compact")
    assert(seen.size === 7 && seen.intersect(aged).isEmpty, s"$seen against $aged")
  }

  test("an emitter refuses a checkpoint written by the file-source emitter, naming it and the way out") {
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("file-source")
    st.appendAll(Seq("""{"i":0}""", """{"i":1}"""))
    // the checkpoint the earlier emitter left: Spark's parquet file source over the buffer
    spark.readStream.schema(MbStream.MessageSchema).parquet(st.bufferDir).writeStream
      .option("checkpointLocation", st.checkpointsDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch((_: DataFrame, _: Long) => ()).start().awaitTermination()
    val cp = java.nio.file.Paths.get(st.checkpointsDir)
    assert(Files.isDirectory(cp.resolve("sources/0")) && !Files.exists(BufferSource.logDir(st)))
    val (sink, fn) = collector()
    val e = intercept[IllegalStateException](mb.streaming(st.name).size(1).emit(fn).run())
    Seq("'file-source'", cp.resolve("sources/0").toString, s"delete ${st.checkpointsDir}").foreach(s =>
      assert(e.getMessage.contains(s), s"the message must name $s: ${e.getMessage}"))
    assert(sink.isEmpty)
    // the named way out: without the checkpoint the buffer is re-read from its start
    Files.walk(cp).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    mb.streaming(st.name).size(1).emit(fn).run()
    assert(sink.flatMap(_._2).sorted === Seq("""{"i":0}""", """{"i":1}"""))
  }

  test("an emitter refuses a checkpoint left by the emitter on Spark's streaming engine, naming it and both ways out") {
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("spark-loop")
    st.appendAll(Seq("""{"i":0}""", """{"i":1}"""))
    // the checkpoint that emitter left: Spark's offsets and commits logs,
    // its metadata, and its own graft-source and graft-count logs
    val cp = java.nio.file.Paths.get(st.checkpointsDir)
    for (f <- Seq("metadata", "offsets/0", "commits/0", "graft-source/0", "graft-count/0")) {
      Files.createDirectories(cp.resolve(f).getParent)
      Files.write(cp.resolve(f), "v1\n".getBytes("UTF-8"))
    }
    val (sink, fn) = collector()
    val e = intercept[IllegalStateException](mb.streaming(st.name).size(1).emit(fn).run())
    Seq("'spark-loop'", cp.resolve("offsets").toString, "on the release that wrote the checkpoint",
        s"delete ${st.checkpointsDir}").foreach(s =>
      assert(e.getMessage.contains(s), s"the message must name $s: ${e.getMessage}"))
    assert(sink.isEmpty && !Files.exists(BufferSource.logDir(st)))
    Files.walk(cp).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    mb.streaming(st.name).size(1).emit(fn).run()
    assert(sink.flatMap(_._2).sorted === Seq("""{"i":0}""", """{"i":1}"""))
  }

  test("start() refuses a second emitter on a stream whose emitter runs") {
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("single")
    val q = mb.streaming(st.name).size(1)
      .withTrigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(50)).start()
    try {
      val e = intercept[IllegalArgumentException](mb.streaming(st.name).size(1).run())
      assert(e.getMessage.contains(st.name), e.getMessage)
      assert(q.isActive && q.exception.isEmpty, "the running emitter is untouched")
    } finally q.stop()
    assert(!q.isActive)
    mb.streaming(st.name).size(1).run() // the stream is free again
  }

  test("start() refuses any trigger but ProcessingTime and AvailableNow, naming it") {
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("once")
    val e = intercept[IllegalArgumentException](mb.streaming(st.name).size(1)
      .withTrigger(org.apache.spark.sql.streaming.Trigger.Once()).start())
    assert(e.getMessage.contains("OneTimeTrigger"), e.getMessage)
  }

  /** Records the progress events of one emitter. */
  private final class Progress(name: String) extends org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    val events = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = if (e.progress.name == name) events.add(e.progress)
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  test("an idle ProcessingTime emitter posts no progress event and runs no Spark job; one append posts one") {
    new JobLog().around { jl =>
      val mb = Minibatch(spark, freshRoot())
      val st = mb.stream("idle")
      val progress = new Progress(Minibatch.queryNameFor(st.name))
      spark.streams.addListener(progress)
      val (sink, fn) = collector()
      val q = mb.streaming(st.name).size(1)
        .withTrigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(10)).emit(fn).start()
      try {
        Thread.sleep(1000)
        jl.settle()
        assert(progress.events.isEmpty, s"idle polls posted ${progress.events.size} progress events")
        assert(jl.jobs.filter(_._2 == q.id.toString).isEmpty, "idle polls must start no Spark job")
        st.append("""{"i":0}""")
        await("the appended message")(sink.size == 1 && !progress.events.isEmpty)
        Thread.sleep(300)
        import scala.jdk.CollectionConverters._
        val ps = progress.events.asScala.toSeq
        assert(ps.size === 1, s"one batch, one event: $ps")
        assert(ps.head.durationMs.containsKey("addBatch") && ps.head.numInputRows === 1 && ps.head.batchId === 0)
        assert(ps.head.stateOperators.isEmpty)
      } finally { q.stop(); spark.streams.removeListener(progress) }
    }
  }

  test("stop() while emitFn blocks lets the batch commit first; a restart re-emits nothing from it") {
    import graft.sources.IdempotentTableSink
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("stopped")
    st.appendAll(Seq("""{"i":0}""", """{"i":1}"""))
    val target = Files.createTempDirectory("graft-stop-sink").toString + "/out"
    val sink = new IdempotentTableSink(target)
    val inEmit = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val (emitted, fn) = collector()
    val q = mb.streaming(st.name).size(1).keep(true).batchSink((df, b) => sink.put(df, b))
      .withTrigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(10))
      .emit { (id, df) =>
        fn(id, df)
        if (id == 0) { inEmit.countDown(); release.await() }
      }.start()
    assert(inEmit.await(60, java.util.concurrent.TimeUnit.SECONDS), "the emitter never reached window 0")
    val stopper = new Thread(() => q.stop())
    stopper.start()
    Thread.sleep(300)
    assert(stopper.isAlive, "stop() must wait for the batch in flight")
    release.countDown()
    stopper.join(60000)
    assert(!stopper.isAlive && !q.isActive && q.exception.isEmpty)
    assert(emitted.map(_._1) === Seq(0L, 1L))
    assert(Files.exists(BufferSource.logDir(st).resolve("0.commit")), "batch 0 is committed")
    assert(st.windows().where("batch_id = 0").count() === 2)
    assert(spark.read.parquet(target).where("batch_id = 0").count() === 2)
    val (again, fn2) = collector()
    mb.streaming(st.name).size(1).keep(true).batchSink((df, b) => sink.put(df, b)).emit(fn2).run()
    assert(again.isEmpty, s"a restart must not emit batch 0 again: $again")
  }

  test("a size(2) batch recorded but not committed replays with the same carry and window ids") {
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("replay-count")
    def drain(): Seq[(Long, Seq[String])] = {
      val (sink, fn) = collector()
      mb.streaming(st.name).size(2).emit(fn).run()
      sink.toSeq
    }
    st.appendAll((0 until 3).map(i => s"""{"i":$i}"""))
    assert(drain().map(_._1) === Seq(0L))
    st.appendAll((3 until 6).map(i => s"""{"i":$i}"""))
    val batch1 = drain()
    assert(batch1 === Seq(1L -> Seq("""{"i":2}""", """{"i":3}"""), 2L -> Seq("""{"i":4}""", """{"i":5}""")))
    // the emitter dies between batch 1's record and its commit marker
    Files.delete(BufferSource.logDir(st).resolve("1.commit"))
    st.appendAll(Seq("""{"i":6}"""))
    assert(drain() === batch1, "batch 1 runs again from its own files and carry")
    st.appendAll(Seq("""{"i":7}"""))
    assert(drain() === Seq(3L -> Seq("""{"i":6}""", """{"i":7}""")), "ids and carry continue after the replay")
  }

  test("an interval(60, relaxed = false).emitEmpty(true) batch recorded but not committed replays its gap window, keep(false)") {
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("replay-fixed")
    val base = 1699999980L // aligned to the 60 s grid
    def write(offs: Long*): Unit =
      st.writeBufferFile(offs.map(o => (s"""{"o":$o}""", new Timestamp((base + o) * 1000L))))
    def drain(): Seq[(Long, Seq[String])] = {
      val (sink, fn) = collector()
      mb.streaming(st.name).interval(60, relaxed = false).emitEmpty(true).keep(false).emit(fn).run()
      sink.toSeq.map { case (id, rows) => (id - base / 60, rows) }
    }
    write(0L)
    assert(drain() === Seq(0L -> Seq("""{"o":0}""")))
    write(130L)
    // the gap window 1 spans the restart: the mark comes from the batch log
    val batch1 = drain()
    assert(batch1 === Seq(1L -> Nil, 2L -> Seq("""{"o":130}""")))
    Files.delete(BufferSource.logDir(st).resolve("1.commit"))
    assert(drain() === batch1, "batch 1 runs again from its own files and mark")
    write(250L)
    assert(drain() === Seq(3L -> Nil, 4L -> Seq("""{"o":250}""")))
  }

  test("tooling guard: src/main imports no Spark streaming internals but the trigger decoder's, and sets no checkpoint manager") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 50, s"the sources under ${root.toAbsolutePath}")
    val allowed = (java.nio.file.Paths.get("src/main/scala/graft/streaming/EmitterRunner.scala"),
      "import org.apache.spark.sql.execution.streaming.{AvailableNowTrigger, ProcessingTimeTrigger}")
    val bad = files.flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (l, i) if (l.contains("org.apache.spark.sql.execution.streaming") && (f, l.trim) != allowed) ||
            l.contains("checkpointFileManagerClass") => s"$f:${i + 1}: ${l.trim}"
      }
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("emitEmpty: a late micro-batch does not lower the high-water mark, so no window is emitted twice") {
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("late-mark")
    val base = 1699999980L // aligned to the 60 s grid
    val w = base / 60
    // one file per micro-batch, at windows W+10, W (late) and W+12
    writeInOrder(st, Seq(10L, 0L, 12L).map(k => Seq((s"""{"w":$k}""", new Timestamp((base + 60 * k) * 1000L)))))
    val (sink, fn) = collector()
    mb.streaming(st.name).interval(60, relaxed = false).emitEmpty(true).maxFilesPerTrigger(1).emit(fn).run()
    val emitted = sink.toSeq.map { case (id, rows) => (id - w, rows) }
    assert(emitted.map(_._1).sorted === Seq(0L, 10L, 11L, 12L), s"every id reaches emitFn once: $emitted")
    assert(emitted.collect { case (id, rows) if rows.isEmpty => id } === Seq(11L), s"W+11 is the only gap window: $emitted")
  }

  /** The kept history as sorted (stream, created µs, data, window_id, batch_id). */
  private def history(st: MbStream): Seq[(String, Long, String, Long, Long)] =
    st.windows().selectExpr("stream", "unix_micros(created)", "data", "window_id", "batch_id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4))).toSeq.sorted

  /** The entries of the windows directory, each with its files' names and
    * modification times. */
  private def slices(st: MbStream): Map[String, Seq[(String, Long)]] = {
    def list(d: java.nio.file.Path): Seq[java.nio.file.Path] = {
      val s = Files.list(d)
      try s.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path]) finally s.close()
    }
    list(java.nio.file.Paths.get(st.windowsDir)).map(d => d.getFileName.toString ->
      (if (Files.isDirectory(d)) list(d).map(f => (f.getFileName.toString, Files.getLastModifiedTime(f).toMillis)).sorted
       else Nil)).toMap
  }

  /** Three buffer files, one 1 s window each, taken one per micro-batch. */
  private def threeWindows(st: MbStream): Unit = {
    val t0 = 1700000000000L
    writeInOrder(st, (0 until 3).map(f => (0 until 3).map(j => (s"""{"f":$f,"j":$j}""", new Timestamp(t0 + f * 1000L + j)))))
  }

  test("regression guard: a kept fixed-window drain into an IdempotentTableSink runs no Spark job") {
    import graft.sources.IdempotentTableSink
    new JobLog().around { jl =>
      val mb = Minibatch(spark, freshRoot())
      val st = mb.stream("kept-guard")
      val t0 = 1700000000000L
      // five files, two a micro-batch, over two 1 s windows: each window
      // spans two micro-batches, so it is emitted and kept in two parts
      writeInOrder(st, (0 until 5).map(f => (0 until 3).map(j => (s"""{"f":$f,"j":$j}""", new Timestamp(t0 + f * 400L + j)))))
      val emitted = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, String, Long)]()
      val target = Files.createTempDirectory("graft-kept-sink").toString + "/out"
      val sink = new IdempotentTableSink(target)
      val q = mb.streaming(st.name).interval(1, relaxed = false).keep(true).maxFilesPerTrigger(2)
        .emit((id, df) => df.selectExpr("stream", "unix_micros(created)", "data").collect().foreach(r =>
          emitted.add((r.getString(0), r.getLong(1), r.getString(2), id))))
        .batchSink((df, b) => sink.put(df, b))
        .withTrigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      jl.settle()
      assert(q.recentProgress.count(_.durationMs.containsKey("addBatch")) === 3)
      val drain = jl.jobs.filter(_._2 == q.id.toString)
      assert(drain.isEmpty, s"the kept-history and sink writes must start no Spark job: $drain")
      import scala.jdk.CollectionConverters._
      val want = emitted.asScala.toSeq.sorted
      assert(want.size === 15 && want.map(_._4).distinct.size === 2)
      val kept = history(st)
      assert(kept.map(r => (r._1, r._2, r._3, r._4)) === want, "kept history = emitted windows, row for row")
      assert(kept.map(_._5).distinct === Seq(0L, 1L, 2L))
      val written = spark.read.parquet(target)
        .selectExpr("stream", "unix_micros(created)", "data", "window_id", "CAST(batch_id AS LONG)").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4))).toSeq.sorted
      assert(written === kept, "sink table = kept history, batch ids included")
    }
  }

  test("kept history: a replayed batch replaces its batch_id slice exactly; other slices are untouched") {
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("kept-replay")
    threeWindows(st)
    val (sink, fn) = collector()
    def drain(): Unit = mb.streaming(st.name).interval(1, relaxed = false).keep(true).maxFilesPerTrigger(1).emit(fn).run()
    drain()
    val before = history(st)
    val layout = slices(st)
    assert(before.size === 9 && layout.keySet === Set("batch_id=0", "batch_id=1", "batch_id=2"))
    // a failure after batch 2's writes and before its commit: the restart re-runs it
    Files.delete(BufferSource.logDir(st).resolve("2.commit"))
    drain()
    assert(sink.size === 4 && sink(3) === sink(2), s"batch 2's window is emitted again: $sink")
    assert(history(st) === before)
    val after = slices(st)
    assert(after.keySet === layout.keySet, s"no hidden entry is left: ${after.keySet}")
    assert(after - "batch_id=2" === layout - "batch_id=2", "the other slices are untouched")
    assert(after("batch_id=2").size === 1 && after("batch_id=2") != layout("batch_id=2"), "batch 2's slice is rewritten")
  }

  test("kept history: what an interrupted slice swap leaves is never read, and the replay of that batch removes it") {
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("kept-crash")
    threeWindows(st)
    def drain(): Unit = mb.streaming(st.name).interval(1, relaxed = false).keep(true).maxFilesPerTrigger(1).run()
    drain()
    val before = history(st)
    // batch 2 stopped mid-swap: its slice moved aside, and a second staged
    // copy written but not moved; batch 1's slice has a stale staged copy too
    val dir = java.nio.file.Paths.get(st.windowsDir)
    val file = slices(st)("batch_id=2").head._1
    Files.move(dir.resolve("batch_id=2"), dir.resolve(".batch_id=2.a.old"))
    for (staged <- Seq(".batch_id=2.b.tmp", ".batch_id=1.c.tmp")) {
      Files.createDirectories(dir.resolve(staged))
      Files.copy(dir.resolve(".batch_id=2.a.old").resolve(file), dir.resolve(staged).resolve(file))
    }
    assert(history(st) === before.filter(_._5 != 2L), "windows() reads no hidden slice")
    Files.delete(BufferSource.logDir(st).resolve("2.commit"))
    drain()
    assert(history(st) === before)
    assert(slices(st).keySet === Set("batch_id=0", "batch_id=1", "batch_id=2", ".batch_id=1.c.tmp"),
      "writing slice 2 removes slice 2's leftovers and no other slice's")
  }

  test("kept history: a Spark-written INT96 slice beside locally written ones reads back, and recovers the emitEmpty mark") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.io.LocalInputFile
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("kept-mixed")
    val t0 = 1700000000000L
    // batch 0 holds the newest window, so the high-water mark is in the slice Spark rewrites
    writeInOrder(st, Seq(2L, 0L, 1L).map(k => Seq((s"""{"k":$k}""", new Timestamp(t0 + k * 1000L)))))
    mb.streaming(st.name).interval(1, relaxed = false).keep(true).maxFilesPerTrigger(1).run()
    val before = history(st)
    assert(before.map(_._5) === Seq(1L, 2L, 0L))
    st.windows().where(col("batch_id") === 0).write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic").partitionBy("batch_id").parquet(st.windowsDir)
    def createdTypes(slice: String): Seq[String] = slices(st)(slice).map(_._1).filter(_.endsWith(".parquet")).map { f =>
      val r = ParquetFileReader.open(new LocalInputFile(java.nio.file.Paths.get(st.windowsDir, slice, f)))
      val schema = r.getFooter.getFileMetaData.getSchema
      try schema.getType(schema.getFieldIndex("created")).asPrimitiveType.getPrimitiveTypeName.name
      finally r.close()
    }.distinct
    assert(createdTypes("batch_id=0") === Seq("INT96") && createdTypes("batch_id=1") === Seq("INT64"))
    assert(history(st) === before)
    // a restart with emitEmpty takes window 2 as the mark from the batch
    // log: windows 3 and 4 are gaps before the new window 5
    writeInOrder(st, Seq(Seq(("""{"k":5}""", new Timestamp(t0 + 5000L)))))
    val (sink, fn) = collector()
    mb.streaming(st.name).interval(1, relaxed = false).keep(true).emitEmpty(true).emit(fn).run()
    assert(sink.toSeq.map { case (id, rows) => (id - t0 / 1000, rows) } ===
      Seq(3L -> Nil, 4L -> Nil, 5L -> Seq("""{"k":5}""")))
  }

  test("status reports the rows the emitter read in its latest micro-batch") {
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("counted")
    val k = 5
    st.appendAll((0 until k).map(i => s"""{"i":$i}"""))
    val emitted = new java.util.concurrent.atomic.AtomicInteger()
    val q = mb.streaming(st.name).size(1)
      .withTrigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(100))
      .emit((_, df) => { emitted.addAndGet(df.collect().length); () }).start()
    try {
      val deadline = System.currentTimeMillis() + 60000
      // the batch's progress is reported once it has committed, after its emits
      while ((emitted.get < k || q.lastProgress == null) && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(emitted.get === k)
      val s = mb.status(st.name)
      assert(s.running && s.numInputRows === Some(k.toLong))
      assert(q.lastProgress.numInputRows === k)
      val srv = new StatusServer(mb, port = 0)
      try {
        val conn = java.net.URI.create(s"http://127.0.0.1:${srv.boundPort}/status/${st.name}").toURL.openStream()
        val body = try new String(conn.readAllBytes(), "UTF-8") finally conn.close()
        assert(body.contains(s""""num_input_rows":$k"""), body)
      } finally srv.close()
    } finally q.stop()
  }

  private def timestampOfMicros(us: Long): Timestamp = {
    val ts = new Timestamp(Math.floorDiv(us, 1000L))
    ts.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    ts
  }

  for ((label, relaxed) <- Seq(("an interval(60, relaxed = false) emitEmpty", false),
      ("a RelaxedTimeWindow", true)); keep <- Seq(false, true)) {
    test(s"regression guard: $label drain, keep=$keep, emits local frames and runs no shuffle or cache") {
      new JobLog().around { jl =>
        val mb = Minibatch(spark, freshRoot())
        val st = mb.stream(s"timeguard-$relaxed-$keep")
        val base = 1699999980L // aligned to the 60 s grid
        // fixed windows base/60 + {0, 2, 3}, so one gap window, base/60 + 1;
        // two files per micro-batch in the order written
        writeInOrder(st, Seq(Seq(0L, 30L), Seq(130L), Seq(200L, 210L), Seq(230L)).zipWithIndex.map { case (offs, f) =>
          offs.map(o => (s"""{"f":$f,"o":$o}""", new Timestamp((base + o) * 1000L)))
        })
        // other suites share the session and may leave their own RDDs cached
        val sc = spark.sparkContext
        val cachedBefore = sc.getPersistentRDDs.keySet
        def cachedSince() = sc.getPersistentRDDs.keySet -- cachedBefore
        val frames = new java.util.concurrent.ConcurrentLinkedQueue[(Long, org.apache.spark.sql.types.StructType, Int)]()
        val cachedDuringEmit = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
        val b = mb.streaming(st.name).keep(keep).maxFilesPerTrigger(2)
        val q = (if (relaxed) b.emitter(EmitterRunner.RelaxedTimeWindow) else b.interval(60, relaxed = false)
          .emitEmpty(true))
          .emit { (id, df) =>
            cachedSince().foreach(cachedDuringEmit.add)
            frames.add((id, df.schema, jl.tagged("emit")(df.collect()).length))
          }
          .withTrigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.awaitTermination()
        jl.settle()
        import scala.jdk.CollectionConverters._
        val emitted = frames.asScala.toSeq
        assert(emitted.map(_._3).sum === 6)
        emitted.foreach { case (id, schema, _) =>
          assert(schema === MbStream.MessageSchema, s"window $id reached emitFn as $schema")
        }
        if (relaxed) assert(emitted.map(_._1) === Seq(0L, 1L), "one window per micro-batch, id = batch id")
        else assert(emitted.map(w => (w._1 - base / 60, w._3)) === Seq((0L, 2), (1L, 0), (2L, 1), (3L, 3)),
          "fixed windows in id order, the gap window empty")
        val batches = q.recentProgress.count(_.durationMs.containsKey("addBatch"))
        assert(batches === 2)
        val drain = jl.jobs.filter(_._2 == q.id.toString)
        assert(drain.isEmpty, s"no Spark job per micro-batch, the keep write included: $drain")
        assert(!jl.jobs.exists(_._1 == "emit"), "emitFn's collect() must start no Spark job")
        assert(!drain.exists(jl.shuffled), "a time-window drain must run no shuffle stage")
        assert(cachedDuringEmit.isEmpty && cachedSince().isEmpty, "a time-window drain must cache nothing")
        if (keep) assert(st.windows().count() === 6)
      }
    }
  }

  test("fixed window ids keep the SQL boundaries floor(unix_timestamp(created) / secs)") {
    val micros = Seq(0L, 7000000L, 1699999995000000L, 1699999995999000L, 1699999995999999L,
      1700000001999000L, 1700000000123456L, 1700000002000001L,
      -1L, -999L, -1000L, -999999L, -1000000L, -1000001L, -6999999L, -7000000L, -7000001L,
      -946684799123457L, -946684800000000L)
    import org.apache.spark.sql.types.{StructField, StructType, TimestampType}
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      micros.map(us => Row(timestampOfMicros(us))), 1), StructType(Seq(StructField("created", TimestampType))))
    for (secs <- Seq(1L, 7L, 60L)) {
      val got = df.selectExpr("created", s"CAST(floor(unix_timestamp(created) / $secs) AS LONG)").collect()
      assert(got.length === micros.size)
      got.foreach { r =>
        assert(EmitterRunner.fixedWindowId(r.getTimestamp(0), secs) === r.getLong(1),
          s"created ${r.getTimestamp(0)} secs $secs")
      }
    }
    // the emitter cuts by the same id, each window in arrival order
    val msgs = micros.map(us => EmitterRunner.Message("s", timestampOfMicros(us), s"""{"us":$us}"""))
    val cut = EmitterRunner.cutTime(EmitterRunner.FixedTimeWindow(7), scala.util.Random.shuffle(msgs), 0L)
    assert(cut.map(_._1) === cut.map(_._1).sorted.distinct)
    assert(cut.flatMap(_._2) === msgs.sortBy(m => (m.created.getTime, m.created.getNanos)))
    cut.foreach { case (id, ms) => ms.foreach(m => assert(EmitterRunner.fixedWindowId(m.created, 7) === id)) }
  }

  test("a retention sweep over many buffer files is one Spark job and drops what the per-file rule drops") {
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("swept")
    val now = 1700000000000L
    // newest created per file, as seconds before `now`: old, fresh, and
    // one old-and-fresh file that the newest-row rule keeps
    val files = Seq(Seq(7200L), Seq(30L), Seq(4000L, 3700L), Seq(10L, 9000L), Seq(3601L), Seq(3599L), Seq(86400L))
    files.zipWithIndex.foreach { case (ages, f) =>
      st.writeBufferFile(ages.map(a => (s"""{"f":$f}""", new Timestamp(now - a * 1000L))))
    }
    val dir = java.nio.file.Paths.get(st.bufferDir)
    def listed(): Set[String] = {
      val s = Files.list(dir)
      try s.toArray.map(_.toString).filter(_.endsWith(".parquet")).toSet finally s.close()
    }
    // the per-file rule: a file goes when its newest row is at least maxAge old
    val expected = listed().filter { f =>
      spark.read.parquet(f).selectExpr("max(unix_millis(created))").head().getLong(0) <= now - 3600 * 1000L
    }
    assert(expected.size === 4 && listed().size === files.size)
    new JobLog().around { jl =>
      val dropped = jl.tagged("sweep")(st.runRetention(3600, nowMs = now))
      jl.settle()
      assert(jl.jobs.count(_._1 == "sweep") <= 1, "one sweep, at most one job")
      assert(dropped === expected.size)
    }
    assert((listed() & expected).isEmpty && listed().size === files.size - expected.size)
    assert(st.buffer().count() === 4)
  }

  test("observe: streaming gate metrics surface per micro-batch in query progress") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long)]
    val observed = graft.sources.Observe.withMetrics(
      input.toDF().toDF("id", "n_chars").filter(col("n_chars") >= 10),
      "gate", Seq("n_kept" -> count(lit(1)), "mass" -> sum(col("n_chars"))))
    val q = observed.writeStream
      .format("memory").queryName("graft_observe_gate").outputMode("append").start()
    try {
      input.addData((1L, 5L), (2L, 20L), (3L, 30L))
      q.processAllAvailable()
      val gates = q.recentProgress.toSeq
        .flatMap(pr => Option(pr.observedMetrics.get("gate")))
        .filter(_.getAs[Long]("n_kept") > 0)
      assert(gates.nonEmpty, "expected a progress entry carrying the gate metrics")
      assert(gates.map(_.getAs[Long]("n_kept")).sum === 2L) // the 5-char row is gated out
      assert(gates.map(_.getAs[Long]("mass")).sum === 50L)
    } finally q.stop()
  }

  test("streaming CUSUM: level shift alarms once then restarts; constant stream never alarms") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import graft.streaming.StreamingCusum
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamingCusum.Obs]
    val q = StreamingCusum.alarms(input.toDS(), threshold = 30.0, slack = 0.5)
      .writeStream.format("memory").queryName("graft_cusum")
      .outputMode("append").start()
    try {
      // key c: constant — zero excursion forever
      // key s: 20 at level 0, then 20 at level 10 — the shift accumulates
      //        ~9.5/obs against the pre-shift mean → alarms within a few
      //        observations, then restarts
      input.addData((1 to 20).map(i => StreamingCusum.Obs("c", i.toLong, 5.0)) ++
        (1 to 20).map(i => StreamingCusum.Obs("s", i.toLong, 0.0)))
      q.processAllAvailable()
      input.addData((21 to 40).map(i => StreamingCusum.Obs("s", i.toLong, 10.0)) ++
        (21 to 40).map(i => StreamingCusum.Obs("c", i.toLong, 5.0)))
      q.processAllAvailable()
      val rows = spark.table("graft_cusum").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getBoolean(6)))
      assert(!rows.exists(r => r._1 == "c" && r._3), "constant stream must never alarm")
      val sAlarms = rows.filter(r => r._1 == "s" && r._3).map(_._2).sorted
      assert(sAlarms.nonEmpty, "a 10-sigma level shift must alarm")
      assert(sAlarms.head > 20L && sAlarms.head <= 26L,
        s"first alarm lands shortly after the shift at t=21: ${sAlarms.toSeq}")
      // restart semantics: alarms are sparse detections, not a saturated flag
      assert(sAlarms.size < 10, s"post-alarm restart must space detections: ${sAlarms.toSeq}")
      // state survives batch splits: no alarm inside the pre-shift batch
      assert(rows.filter(r => r._1 == "s" && r._2 <= 20L).forall(!_._3))
    } finally q.stop()
  }

  test("streaming rolling-median flags match the batch census across a mid-series batch split") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{col, count, lit, min, sum, when}
    import spark.implicits._
    import graft.streaming.StreamingRollingMedian
    implicit val sqlCtx = spark.sqlContext
    // noisy: ±1 jitter around 10, 40.0 spike at t=20; const: flat line
    val obs =
      (1 to 30).map { t =>
        val v = if (t == 20) 40.0 else 10.0 + (t % 2)
        StreamingRollingMedian.Obs("noisy", t.toLong, v)
      } ++ (1 to 30).map(t => StreamingRollingMedian.Obs("const", t.toLong, 7.0))
    val input = MemoryStream[StreamingRollingMedian.Obs]
    val q = StreamingRollingMedian.flags(input.toDS(), frameRows = 7, k = 3)
      .writeStream.format("memory").queryName("graft_rollmed")
      .outputMode("append").start()
    try {
      // frames for rows 16-22 straddle this split, incl. the spike's own
      val (first, second) = obs.partition(_.ts_s <= 15)
      input.addData(first)
      q.processAllAvailable()
      input.addData(second)
      q.processAllAvailable()
      def census(df: org.apache.spark.sql.DataFrame, flagCol: String, iCol: String) =
        df.groupBy(col("key")).agg(
            count(lit(1)).as("n"),
            sum(when(col(flagCol), 1L).otherwise(0L)).as("nf"),
            min(when(col(flagCol), col(iCol))).as("first"))
          .collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
            if (r.isNullAt(3)) -1L else r.getAs[Number](3).longValue())).toSeq.sorted
      val streamed = census(spark.table("graft_rollmed"), "outlier", "i")
      val batch = graft.operators.Analytics.rollingMadCensus(
          obs.toDF("key", "ts_s", "v"), "key",
          Seq(col("ts_s"), col("v")), col("v"), frameRows = 7, k = 3)
        .select(col("key"), col("n_eval").as("n"), col("n_outliers").as("nf"),
          col("first_outlier").as("first"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getAs[Number](3).longValue())).toSeq.sorted
      assert(streamed === batch,
        "streaming ring-state flags must reproduce the batch census exactly")
      val noisy = streamed.find(_._1 == "noisy").get
      assert(noisy._3 === 1L && noisy._4 === 20L,
        s"exactly the spike flags, at i=20: $noisy")
      assert(streamed.find(_._1 == "const").get._3 === 0L)
    } finally q.stop()
  }

  test("streaming EWMA values match the batch column bit-for-bit across a mid-series batch split") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{col, unix_micros}
    import spark.implicits._
    import graft.streaming.StreamingEwma
    implicit val sqlCtx = spark.sqlContext
    // a ramp + a step key; values exercise the micro-unit quantization
    val obs =
      (1 to 30).map(t => StreamingEwma.Obs("ramp", t.toLong, t * 1.2345)) ++
      (1 to 30).map(t => StreamingEwma.Obs("step", t.toLong, if (t <= 15) 3.3 else 9.9))
    val input = MemoryStream[StreamingEwma.Obs]
    val q = StreamingEwma.smooth(input.toDS(), alpha = 0.3, horizon = 8)
      .writeStream.format("memory").queryName("graft_ewma")
      .outputMode("append").start()
    try {
      // every output for rows 18-25 straddles the batch boundary's ring
      val (first, second) = obs.partition(_.ts_s <= 17)
      input.addData(first)
      q.processAllAvailable()
      input.addData(second)
      q.processAllAvailable()
      val streamed = spark.table("graft_ewma")
        .select(col("key"), col("ts_s"), col("ewma"))
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val batch = obs.toDF("key", "ts_s", "v")
        .withColumn("e", graft.operators.Analytics.ewma("key",
          Seq(col("ts_s"), col("v")), "v", 0.3, 8))
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(3)).toMap
      assert(streamed.size === batch.size)
      val diffs = batch.collect {
        case (k, v) if !(streamed(k) == v) => (k, v, streamed(k))
      }
      assert(diffs.isEmpty,
        s"streaming ring must replay the batch arithmetic exactly: ${diffs.take(5)}")
    } finally q.stop()
  }

  test("streaming TWAP stints reproduce the batch segmentation and average across a batch split") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{col, count, floor, lit, sum}
    import spark.implicits._
    import graft.streaming.StreamingTwap
    implicit val sqlCtx = spark.sqlContext
    // irregular sampling: a burst of dense readings must not dominate
    val obs = Seq(
      StreamingTwap.Obs("k1", 0L, 10.0), StreamingTwap.Obs("k1", 1000000L, 10.0),
      StreamingTwap.Obs("k1", 1001000L, 99.0), StreamingTwap.Obs("k1", 1002000L, 10.0),
      StreamingTwap.Obs("k1", 2002000L, 10.0),
      StreamingTwap.Obs("k2", 0L, 1.5), StreamingTwap.Obs("k2", 500000L, 2.5),
      StreamingTwap.Obs("k2", 1500000L, 2.5))
    val input = MemoryStream[StreamingTwap.Obs]
    val q = StreamingTwap.stints(input.toDS())
      .writeStream.format("memory").queryName("graft_twap")
      .outputMode("append").start()
    try {
      // split so open stints straddle the boundary for both keys
      val (first, second) = obs.partition(_.ts_us <= 1000500L)
      input.addData(first)
      q.processAllAvailable()
      input.addData(second)
      q.processAllAvailable()
      // re-aggregate streamed stints with the batch operator's tail math
      val streamed = spark.table("graft_twap")
        .groupBy(col("key")).agg(
          count(lit(1)).as("n_segments"),
          sum(col("dur_ms")).as("dur_ms"),
          sum(col("vu").cast("decimal(38,0)") * col("dur_ms")).as("num"))
        .filter(col("dur_ms") > 0)
        .select(col("key"), col("n_segments"), col("dur_ms"),
          (floor(col("num").cast("double") / col("dur_ms").cast("double")
            + 0.5d) / 10000d).as("twavg"))
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
      val batch = graft.operators.Timeseries.timeWeightedAvg(
          obs.toDF("key", "ts_us", "v"), col("key"), col("ts_us"),
          Seq(col("ts_us"), col("v")), col("v"))
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
      assert(streamed === batch,
        s"streamed stints must reproduce the batch TWAP exactly: $streamed vs $batch")
      // the dense 99.0 burst covers only 2ms of 2002ms — TWAP stays near 10
      assert(batch("k1")._3 < 11.0, s"burst must not dominate: ${batch("k1")}")
    } finally q.stop()
  }

  test("streaming dwell stints reproduce the batch census across a batch split") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    import graft.streaming.StreamingDwell
    implicit val sqlCtx = spark.sqlContext
    val obs = Seq(
      StreamingDwell.Obs("u1", 0L, 1L, "a"), StreamingDwell.Obs("u1", 10L, 2L, "b"),
      StreamingDwell.Obs("u1", 15L, 3L, "a"), StreamingDwell.Obs("u1", 40L, 4L, "c"),
      StreamingDwell.Obs("u2", 100L, 5L, "a"), StreamingDwell.Obs("u2", 103L, 6L, "b"))
    val input = MemoryStream[StreamingDwell.Obs]
    val q = StreamingDwell.stints(input.toDS())
      .writeStream.format("memory").queryName("graft_dwell")
      .outputMode("append").start()
    try {
      // split so both users hold an open stint across the boundary
      val (first, second) = obs.partition(_.ts_us <= 12)
      input.addData(first)
      q.processAllAvailable()
      input.addData(second)
      q.processAllAvailable()
      val streamed = graft.operators.Timeseries
        .dwellCensusFromStints(spark.table("graft_dwell"),
          col("state"), col("dur_us"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      val batch = graft.operators.Timeseries.dwellCensus(
          obs.toDF("k", "ts_us", "seq", "st"), "k", Seq(col("ts_us"), col("seq")),
          col("ts_us"), col("st"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      assert(streamed === batch,
        s"streamed stints must reproduce the batch dwell census: $streamed vs $batch")
      assert(batch("a") === ((3L, 38L, 13L)),
        "a: stints 10 + 25 + 3, mean 38/3 rounds half-up to 13")
    } finally q.stop()
  }

  test("streaming SPC against frozen limits reproduces the batch census rule for rule") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{col, lit, sum, when, count}
    import spark.implicits._
    import graft.streaming.StreamingSpc
    implicit val sqlCtx = spark.sqlContext
    // spiky: 19 tens + one 100 (R1 at the spike, R4 runs below the mean);
    // steps: 10 zeros then 10 tens (R4 only)
    val obs =
      ((1 to 19).map(t => StreamingSpc.Obs("spiky", t.toLong, 10.0)) :+
        StreamingSpc.Obs("spiky", 20L, 100.0)) ++
      (1 to 20).map(t => StreamingSpc.Obs("steps", t.toLong, if (t <= 10) 0.0 else 10.0))
    // frozen limits = each series' own full exact moments (cents)
    val limits = obs.groupBy(_.key).map { case (k, os) =>
      val cents = os.map(o => java.math.BigDecimal.valueOf(o.v * 100)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue())
      k -> StreamingSpc.Limits(cents.size.toLong,
        cents.map(BigInt(_)).sum, cents.map(c => BigInt(c) * c).sum)
    }
    val input = MemoryStream[StreamingSpc.Obs]
    val q = StreamingSpc.flags(input.toDS(), limits)
      .writeStream.format("memory").queryName("graft_spc")
      .outputMode("append").start()
    try {
      val (first, second) = obs.partition(_.ts_s <= 11)
      input.addData(first)
      q.processAllAvailable()
      input.addData(second)
      q.processAllAvailable()
      def cnt(c: org.apache.spark.sql.Column) = sum(when(c, 1L).otherwise(0L))
      val streamed = spark.table("graft_spc")
        .groupBy(col("key")).agg(count(lit(1)).as("n"), cnt(col("r1")).as("r1"),
          cnt(col("r2")).as("r2"), cnt(col("r3")).as("r3"), cnt(col("r4")).as("r4"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSeq.sorted
      val batch = graft.operators.Analytics.spcCensus(
          obs.toDF("key", "ts_s", "v"), "key", Seq(col("ts_s"), col("v")), col("v"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSeq.sorted
      assert(streamed === batch,
        s"frozen-limit streaming flags must reproduce the batch census: $streamed vs $batch")
      // a key without a baseline is silently unjudged
      input.addData(Seq(StreamingSpc.Obs("nobase", 1L, 5.0)))
      q.processAllAvailable()
      assert(spark.table("graft_spc").filter(col("key") === "nobase").count() === 0L)
    } finally q.stop()
  }

  test("streaming Bollinger flags match the batch census across a mid-series batch split") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{col, count, lit, min, sum, when}
    import spark.implicits._
    import graft.streaming.StreamingBollinger
    implicit val sqlCtx = spark.sqlContext
    // key noisy: ±1 alternating warmup around 10, one 30.0 spike at t=40
    // (the batch spec's series); key const: flat line — zero variance,
    // must never breach
    val obs =
      (1 to 40).map { t =>
        val v = if (t == 40) 30.0 else 10.0 + (t % 2)
        StreamingBollinger.Obs("noisy", t.toLong, v)
      } ++ (1 to 40).map(t => StreamingBollinger.Obs("const", t.toLong, 42.0))
    val input = MemoryStream[StreamingBollinger.Obs]
    val q = StreamingBollinger.flags(input.toDS(), frameRows = 20, k = 2)
      .writeStream.format("memory").queryName("graft_bollinger")
      .outputMode("append").start()
    try {
      // the ring state must carry the frame across this split: every frame
      // for rows 31-49 straddles the batch boundary (incl. the spike's own)
      val (first, second) = obs.partition(_.ts_s <= 30)
      input.addData(first)
      q.processAllAvailable()
      input.addData(second)
      q.processAllAvailable()
      val streamed = spark.table("graft_bollinger")
        .groupBy(col("key")).agg(
          count(lit(1)).as("n_eval"),
          sum(when(col("breach"), 1L).otherwise(0L)).as("n_breaches"),
          min(when(col("breach"), col("i"))).as("first_breach"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getAs[Number](3).longValue())).toSeq.sorted
      val batch = graft.operators.Analytics.bollingerCensus(
          obs.toDF("key", "ts_s", "v"), "key",
          Seq(col("ts_s"), col("v")), col("v"), frameRows = 20, k = 2)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getAs[Number](3).longValue())).toSeq.sorted
      assert(streamed === batch,
        "streaming ring-state flags must reproduce the batch census exactly")
      val noisy = streamed.find(_._1 == "noisy").get
      assert(noisy._3 >= 1L && noisy._4 === 40L,
        s"the spike at i=40 must be the first breach: $noisy")
      assert(streamed.find(_._1 == "const").get._3 === 0L,
        "zero-variance stream must never breach")
    } finally q.stop()
  }

  test("streaming OHLC bars match the batch resample once the watermark closes the window") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.operators.Timeseries
    implicit val sqlCtx = spark.sqlContext
    // (key, epoch-second, seq, value) — two 1-hour buckets per key, rows
    // arrive OUT of event-time order within a batch; a final late-watermark
    // batch closes everything
    val rows = Seq(
      ("k1", 100L, 1L, 5.0), ("k1", 50L, 2L, 9.0), ("k1", 3599L, 3L, 2.0),
      ("k1", 3600L, 4L, 7.0), ("k1", 4000L, 5L, 1.0),
      ("k2", 10L, 6L, 4.0), ("k2", 20L, 7L, 4.5))
    val input = MemoryStream[(String, Long, Long, Double)]
    val src = input.toDF().toDF("key", "t", "seq", "v")
      .withColumn("ts", timestamp_seconds(col("t")))
      .withWatermark("ts", "0 seconds")
    val aggs = Timeseries.ohlcAggs(struct(col("t"), col("seq")), col("v"))
    val q = src.groupBy(col("key"), window(col("ts"), "3600 seconds"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("key"), unix_timestamp(col("window.start")).as("bucket_s"),
        col("open"), col("high"), col("low"), col("close"),
        col("n_events"), col("sum_u"))
      .writeStream.format("memory").queryName("graft_ohlc")
      .outputMode("append").start()
    try {
      input.addData(rows)
      q.processAllAvailable()
      input.addData(("k9", 999999L, 99L, 0.0)) // advance the watermark past all buckets
      q.processAllAvailable()
      val streamed = spark.table("graft_ohlc")
        .filter(col("key") =!= "k9")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
          r.getDouble(4), r.getDouble(5), r.getLong(6), r.getLong(7))).toSet
      val batch = Timeseries.resampleOhlc(
          rows.toDF("key", "t", "seq", "v").withColumn("ts", timestamp_seconds(col("t"))),
          col("key"), col("ts"), Seq(col("t"), col("seq")), col("v"), 3600L)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
          r.getDouble(4), r.getDouble(5), r.getLong(6), r.getLong(7))).toSet
      assert(streamed === batch,
        s"streamed bars must equal the batch resample:\n$streamed\nvs\n$batch")
      // out-of-order arrivals resolved by EVENT order: k1 bucket 0 opens at
      // t=50 (9.0) and closes at t=3599 (2.0)
      assert(streamed.contains(("k1", 0L, 9.0, 9.0, 2.0, 2.0, 3L, 160000L)))
    } finally q.stop()
  }

  test("twin state TTL evicts idle keys (state rows drop) and the key restarts cold") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    import graft.streaming.StreamingBollinger
    implicit val sqlCtx = spark.sqlContext
    // maxIdle 1h: key a (events at 1..4s) must be evicted once the
    // event-time watermark (driven by key b, hours later) passes 4s + 1h
    val input = MemoryStream[StreamingBollinger.Obs]
    val q = StreamingBollinger.flags(input.toDS(), frameRows = 3, k = 2,
        maxIdleMs = Some(3600L * 1000))
      .writeStream.format("memory").queryName("graft_ttl_ring")
      .outputMode("append").start()
    try {
      input.addData((1 to 4).map(t => StreamingBollinger.Obs("a", t.toLong, 10.0 + t)))
      q.processAllAvailable() // a: full frames at i=3,4 -> 2 evaluated rows
      input.addData(Seq(StreamingBollinger.Obs("b", 10000L, 1.0)))
      q.processAllAvailable() // watermark -> 10000s - 1h delay = 6400s
      input.addData(Seq(StreamingBollinger.Obs("b", 10001L, 2.0)))
      q.processAllAvailable() // a's timer (4s + 1h = 3604s < 6400s) fires
      val total = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(total === 1L, s"idle key a must be evicted, only b's state remains: $total")
      // a returns COLD: its old ring is gone, so this row has frame size 1
      // and evaluates nothing (were the state alive, the frame would be
      // full and a third evaluated row would appear)
      input.addData(Seq(StreamingBollinger.Obs("a", 10002L, 500.0)))
      q.processAllAvailable()
      assert(spark.table("graft_ttl_ring").filter(col("key") === "a").count() === 2L,
        "the returning key must re-fill its frame before evaluating again")
    } finally q.stop()
  }

  test("twin state TTL: a never-expire TTL (Long.MaxValue) neither crashes nor evicts") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import graft.streaming.StreamingBollinger
    implicit val sqlCtx = spark.sqlContext
    // Spark's interval parser multiplies the watermark delay ms -> us with
    // multiplyExact, so an unclamped Long.MaxValue delay throws at query
    // DEFINITION; the runner clamps the delay (the deadline arithmetic
    // saturates independently), keeping the sentinel usable
    val input = MemoryStream[StreamingBollinger.Obs]
    val q = StreamingBollinger.flags(input.toDS(), frameRows = 2, k = 2,
        maxIdleMs = Some(Long.MaxValue))
      .writeStream.format("memory").queryName("graft_ttl_never")
      .outputMode("append").start()
    try {
      input.addData(Seq(StreamingBollinger.Obs("a", 1L, 1.0)))
      q.processAllAvailable()
      input.addData(Seq(StreamingBollinger.Obs("b", 100000000L, 1.0)))
      q.processAllAvailable()
      val total = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(total === 2L, s"no key may ever evict under a never-expire TTL: $total")
    } finally q.stop()
  }

  test("twin state TTL: an accepted out-of-order arrival never shortens the horizon") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import graft.streaming.StreamingBollinger
    implicit val sqlCtx = spark.sqlContext
    // maxIdle 1h, which is also the watermark delay (lateness allowance).
    // Key a's max event time is 10000s; a LATE-but-accepted arrival at
    // 7000s (above the 6400s watermark) must re-arm the deadline from the
    // ALL-TIME max (10000s + 1h = 13600s), not the batch max (7000s + 1h
    // = 10600s) — arming from the batch max would evict a once the
    // watermark passes 10600s, an hour short of its documented horizon.
    val input = MemoryStream[StreamingBollinger.Obs]
    val q = StreamingBollinger.flags(input.toDS(), frameRows = 3, k = 2,
        maxIdleMs = Some(3600L * 1000))
      .writeStream.format("memory").queryName("graft_ttl_ooo")
      .outputMode("append").start()
    try {
      input.addData(Seq(StreamingBollinger.Obs("a", 10000L, 1.0)))
      q.processAllAvailable() // watermark -> 10000s - 1h = 6400s
      input.addData(Seq(StreamingBollinger.Obs("a", 7000L, 2.0)))
      q.processAllAvailable() // accepted (7000 > 6400); max stays 10000s
      input.addData(Seq(StreamingBollinger.Obs("b", 14500L, 1.0)))
      q.processAllAvailable() // watermark -> 10900s: past the batch-max
      // deadline (10600s) but short of the all-time-max one (13600s)
      val mid = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(mid === 2L,
        s"key a must survive a watermark short of last-event + TTL: $mid")
      input.addData(Seq(StreamingBollinger.Obs("b", 18000L, 1.0)))
      q.processAllAvailable() // watermark -> 14400s > 13600s: a evicts
      val fin = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(fin === 1L,
        s"key a must still evict once truly idle past its horizon: $fin")
    } finally q.stop()
  }

  test("twin state TTL: an evicted open stint dies unpublished, never spliced across the gap") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    import graft.streaming.StreamingTwap
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamingTwap.Obs]
    val q = StreamingTwap.stints(input.toDS(), maxIdleMs = Some(3600L * 1000))
      .writeStream.format("memory").queryName("graft_ttl_twap")
      .outputMode("append").start()
    try {
      // a: two obs 1s apart -> one closed stint; the second stays open.
      // (ts starts at 1s, not 0: the TTL path's watermark late-filter is
      // `eventTime <= watermark` and the watermark starts at 0, so an
      // epoch-0 row would be dropped before reaching the twin)
      input.addData(Seq(StreamingTwap.Obs("a", 1000000L, 10.0),
        StreamingTwap.Obs("a", 2000000L, 20.0)))
      q.processAllAvailable()
      // b drives the watermark hours ahead (10000s - 1h delay = 6400s,
      // past a's 2s + 1h = 3602s deadline); a's open stint evicts
      input.addData(Seq(StreamingTwap.Obs("b", 10000L * 1000000, 1.0)))
      q.processAllAvailable()
      input.addData(Seq(StreamingTwap.Obs("b", 10001L * 1000000, 1.0)))
      q.processAllAvailable()
      // a returns 3h after its last obs: were the open stint still alive, a
      // giant 10800s-1s stint would emit — it must NOT (died unpublished)
      input.addData(Seq(StreamingTwap.Obs("a", 10800L * 1000000, 30.0),
        StreamingTwap.Obs("a", 10801L * 1000000, 40.0)))
      q.processAllAvailable()
      val aStints = spark.table("graft_ttl_twap").filter(col("key") === "a")
        .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
      assert(aStints === Set((1000000L, 1000L), (10800L * 1000000, 1000L)),
        s"exactly the pre-gap stint and the fresh post-gap stint: $aStints")
    } finally q.stop()
  }

  test("a TTL longer than the series span is output-neutral (Bollinger parity holds with TTL on)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{col, count, lit, sum, when}
    import spark.implicits._
    import graft.streaming.StreamingBollinger
    implicit val sqlCtx = spark.sqlContext
    val obs =
      (1 to 40).map { t =>
        val v = if (t == 40) 30.0 else 10.0 + (t % 2)
        StreamingBollinger.Obs("noisy", t.toLong, v)
      } ++ (1 to 40).map(t => StreamingBollinger.Obs("const", t.toLong, 42.0))
    val input = MemoryStream[StreamingBollinger.Obs]
    // horizon far beyond the 40 s series: no key can ever idle past it
    val q = StreamingBollinger.flags(input.toDS(), frameRows = 20, k = 2,
        maxIdleMs = Some(365L * 24 * 3600 * 1000))
      .writeStream.format("memory").queryName("graft_ttl_parity")
      .outputMode("append").start()
    try {
      val (first, second) = obs.partition(_.ts_s <= 30)
      input.addData(first)
      q.processAllAvailable()
      input.addData(second)
      q.processAllAvailable()
      val streamed = spark.table("graft_ttl_parity")
        .groupBy(col("key")).agg(count(lit(1)).as("n_eval"),
          sum(when(col("breach"), 1L).otherwise(0L)).as("n_breaches"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sorted
      val batch = graft.operators.Analytics.bollingerCensus(
          obs.toDF("key", "ts_s", "v"), "key",
          Seq(col("ts_s"), col("v")), col("v"), frameRows = 20, k = 2)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sorted
      assert(streamed === batch,
        s"an un-hit TTL must not change a single flag: $streamed vs $batch")
    } finally q.stop()
  }
}
