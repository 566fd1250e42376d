package graft

import java.nio.file.Files
import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources._
import graft.streaming._

/** Connector-envelope and housekeeping ports of the reference's contrib
  * tests (test_mqtt.py, test_kafka.py, test_celery.py,
  * test_minibatch.py::test_buffer_housekeeping) — injectable fake clients
  * in place of the reference's MagicMock broker clients.
  */
/** Executor-side capture for the MQTT sink: the sink publishes inside
  * foreachPartition, so the capturing state must live in a STATIC (top-
  * level object) registry the executor-side clients can reach in local
  * mode — an instance-held buffer would be mutated on a deserialized
  * closure copy and the assertions would read the untouched original.
  */
private[graft] object MqttSinkCapture {
  val published = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
  val connects = new java.util.concurrent.atomic.AtomicInteger(0)
  val disconnects = new java.util.concurrent.atomic.AtomicInteger(0)
  def reset(): Unit = { published.clear(); connects.set(0); disconnects.set(0) }
  def newClient(): MqttClientLike = new MqttClientLike {
    def connect(): Unit = { connects.incrementAndGet(); () }
    def subscribe(topic: String): Unit = ()
    def onMessage(h: (String, String, Int, Boolean) => Unit): Unit = ()
    def publish(topic: String, payloadJson: String): Unit = {
      published.add((topic, payloadJson)); ()
    }
    def disconnect(): Unit = { disconnects.incrementAndGet(); () }
  }
  def publishedSeq: Seq[(String, String)] = {
    val it = published.iterator()
    val b = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    while (it.hasNext) b += it.next()
    b.toSeq
  }
}

class ConnectorsSuite extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def freshRoot(): String =
    Files.createTempDirectory("graft-connectors").toString

  /** Fake MQTT client (reference test_mqtt.py:21-43 injects a MagicMock). */
  private final class FakeMqttClient {
    val published = mutable.ArrayBuffer.empty[(String, String)]
    val subscribed = mutable.ArrayBuffer.empty[String]
    var connected = 0
    var disconnected = 0
    var handler: Option[(String, String, Int, Boolean) => Unit] = None
    val client: MqttClientLike = new MqttClientLike {
      def connect(): Unit = connected += 1
      def subscribe(topic: String): Unit = subscribed += topic
      def onMessage(h: (String, String, Int, Boolean) => Unit): Unit = handler = Some(h)
      def publish(topic: String, payloadJson: String): Unit =
        published += ((topic, payloadJson))
      def disconnect(): Unit = disconnected += 1
    }
    /** Simulate a broker delivery. */
    def deliver(topic: String, payloadJson: String, qos: Int, retain: Boolean): Unit =
      handler.get.apply(topic, payloadJson, qos, retain)
  }

  test("auto retention: max_age stream empties itself (test_buffer_housekeeping port)") {
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("housekept")
    st.append("""{"foo":"bar1"}""")
    st.append("""{"foo":"bar1"}""")
    st.append("""{"foo":"bar1"}""")
    // count BEFORE retention exists: on a loaded JVM the sweep can fire
    // faster than this thread reaches the count, so asserting 3 after
    // starting the loop races by design
    assert(st.buffer().count() === 3)
    // reference: Stream.get_or_create('test', max_age=.5) auto-starts the
    // housekeeping thread (models.py:364-370)
    val kept = mb.stream("housekept", maxAgeSeconds = 0.5)
    try {
      // reference sleeps 1s (2x max_age); give the file-scan loop headroom
      val deadline = System.currentTimeMillis() + 60000
      var n = kept.buffer().count()
      while (n > 0 && System.currentTimeMillis() < deadline) {
        Thread.sleep(200)
        n = kept.buffer().count()
      }
      assert(n === 0, "retention loop did not clear the aged buffer")
    } finally kept.stopRetention()
  }

  test("retention loop racing a RUNNING emitter: aged files vanish mid-stream without failing the query") {
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("race")
    st.appendAll((0 until 6).map(i => s"""{"i":$i}"""))
    val emitted = new java.util.concurrent.atomic.AtomicInteger(0)
    // aggressive retention, but above micro-batch latency: files older than
    // 2s are deleted every 200ms while the emitter consumes. (Messages that
    // outlive max_age unprocessed ARE dropped — same as the reference's
    // autoclear; the contract under test is that concurrent deletion never
    // fails the streaming query or a buffer read.)
    st.startRetention(maxAgeSeconds = 2.0, intervalMs = 200)
    try {
      val q = mb.streaming("race").size(3)
        .withTrigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(200))
        .emit((_, df) => { emitted.addAndGet(df.count().toInt); () })
        .start()
      try {
        val deadline = System.currentTimeMillis() + 60000
        while (emitted.get() < 6 && System.currentTimeMillis() < deadline) {
          Thread.sleep(200)
          // keep feeding while old files are being deleted underneath
          if (emitted.get() < 6) st.appendAll(Seq(s"""{"late":${emitted.get()}}"""))
        }
        assert(emitted.get() >= 6, "emitter failed to make progress under concurrent retention")
        assert(q.exception.isEmpty, s"query died: ${q.exception}")
      } finally { q.stop(); q.awaitTermination() }
      // buffer reads stay alive even as files disappear
      st.buffer().count()
    } finally st.stopRetention()
  }

  test("mqtt source: inbound message appends the {topic,payload,qos,retain} envelope (test_mqtt.py:21-34 port)") {
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("mqtt_in")
    val fake = new FakeMqttClient
    val source = new MqttSource(fake.client, "TEST/#")
    source.stream(st)
    assert(fake.connected === 1 && fake.subscribed.toSeq === Seq("TEST/#"))
    fake.deliver("TEST/1", """{"foo":"bar"}""", 1, retain = true)
    val env = StructType(Seq(
      StructField("topic", StringType), StructField("qos", IntegerType),
      StructField("retain", BooleanType)))
    val rows = st.buffer()
      .withColumn("e", from_json(col("data"), env))
      .withColumn("foo", get_json_object(col("data"), "$.payload.foo"))
      .select("e.topic", "e.qos", "e.retain", "foo").collect()
    assert(rows.toSeq === Seq(Row("TEST/1", 1, true, "bar")))
    source.cancel()
    assert(fake.disconnected === 1)
  }

  test("mqtt sink: forwarded window publishes each row as JSON, on executors (test_mqtt.py:36-43 port)") {
    MqttSinkCapture.reset()
    val sink = new MqttSink(() => MqttSinkCapture.newClient(), "TEST/#")
    val df = spark.range(1).selectExpr("'bar' AS foo")
    sink.put(df)
    assert(MqttSinkCapture.publishedSeq === Seq(("TEST/#", """{"foo":"bar"}""")))
    // one connect/disconnect pair per NON-EMPTY partition — empty
    // partitions of the range must not have opened broker connections
    assert(MqttSinkCapture.connects.get() === 1)
    assert(MqttSinkCapture.disconnects.get() === 1)
  }

  test("mqtt end-to-end: source -> stream -> emitter -> mqtt sink") {
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("mqtt_e2e")
    val inFake = new FakeMqttClient
    new MqttSource(inFake.client, "IN/#").stream(st)
    inFake.deliver("IN/a", """{"v":1}""", 0, retain = false)
    inFake.deliver("IN/b", """{"v":2}""", 0, retain = false)
    MqttSinkCapture.reset()
    val sink = new MqttSink(() => MqttSinkCapture.newClient(), "OUT")
    mb.streaming("mqtt_e2e").size(2)
      .sink(df => sink.put(
        df.select(get_json_object(col("data"), "$.topic").as("topic"),
          get_json_object(col("data"), "$.payload.v").cast("int").as("v"))))
      .run()
    val published = MqttSinkCapture.publishedSeq
    assert(published.size === 2)
    assert(published.forall(_._1 === "OUT"))
    val payloads = published.map(_._2).sorted
    assert(payloads === Seq("""{"topic":"IN/a","v":1}""", """{"topic":"IN/b","v":2}"""))
  }

  test("http status surface: /status lists streams, /status/<name> serves one, unknown is 404 (StreamingApp /status parity)") {
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("http_a")
    st.append("""{"v":1}""")
    st.append("""{"v":2}""")
    mb.stream("http_b")
    // drain an emitter so http_a has real progress behind its status
    val emitted = new java.util.concurrent.atomic.AtomicInteger(0)
    mb.streaming("http_a").size(1).emit((_, df) => { emitted.addAndGet(df.count().toInt); () }).run()
    assert(emitted.get() === 2)

    val srv = new StatusServer(mb, port = 0)
    try {
      def get(path: String): (Int, String) = {
        val conn = java.net.URI.create(s"http://127.0.0.1:${srv.boundPort}$path")
          .toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
        val code = conn.getResponseCode
        val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
        val body = new String(is.readAllBytes(), "UTF-8")
        is.close()
        (code, body)
      }
      val (lc, listBody) = get("/status")
      assert(lc === 200)
      assert(listBody.startsWith("[") &&
        listBody.contains("\"stream\":\"http_a\"") &&
        listBody.contains("\"stream\":\"http_b\""))
      val (oc, one) = get("/status/http_a")
      assert(oc === 200)
      // drained emitter: registered + open, not currently running
      assert(one.contains("\"stream\":\"http_a\"") &&
        one.contains("\"running\":false") &&
        one.contains("\"stream_status\":\"open\""))
      val (nc, err) = get("/status/nope")
      assert(nc === 404 && err.contains("unknown stream"))
    } finally srv.close()
  }

  test("celery source: task event appends the task-info envelope (test_celery semantics)") {
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("celery_in")
    val source = new CeleryEventSource
    source.stream(st)
    source.taskEvent(event = "task-succeeded", name = "tasks.add",
      uuid = "abc-123", infoJson = """{"args":"(1, 2)"}""",
      state = "SUCCESS", runtimeSeconds = 0.25)
    source.rawEvent("""{"type":"worker-heartbeat","hostname":"w1"}""")
    source.cancel()
    // post-cancel events are dropped (receiver.should_stop semantics)
    source.taskEvent("task-failed", "tasks.add", "zzz", "{}", "FAILURE", 0.1)
    val env = StructType(Seq(
      StructField("task_event", StringType), StructField("task_name", StringType),
      StructField("task_id", StringType), StructField("task_state", StringType),
      StructField("task_runtime", DoubleType), StructField("type", StringType)))
    val rows = st.buffer().withColumn("e", from_json(col("data"), env))
      .select("e.task_event", "e.task_name", "e.task_id", "e.task_state", "e.task_runtime", "e.type")
      .collect().toSeq
    assert(rows.size === 2)
    assert(rows.contains(Row("task-succeeded", "tasks.add", "abc-123", "SUCCESS", 0.25, null)))
    assert(rows.contains(Row(null, null, null, null, null, "worker-heartbeat")))
  }

  /** Kafka's raw record shape, as `format("kafka")` yields it. */
  private def kafkaShaped() = {
    val schema = StructType(Seq(
      StructField("key", BinaryType), StructField("value", BinaryType),
      StructField("topic", StringType), StructField("partition", IntegerType),
      StructField("offset", LongType), StructField("timestamp", TimestampType),
      StructField("timestampType", IntegerType)))
    val rows = Seq(
      Row("k1".getBytes("UTF-8"), """{"foo":"bar"}""".getBytes("UTF-8"),
        "t", 0, 42L, Timestamp.valueOf("2026-01-01 00:00:00"), 0),
      Row(null, """{"foo":"baz"}""".getBytes("UTF-8"),
        "t", 1, 7L, Timestamp.valueOf("2026-01-01 00:00:01"), 0))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  test("kafka source projection: raw record schema -> string envelope (test_kafka.py:19-46 shape)") {
    val out = KafkaIO.project(kafkaShaped())
    assert(out.schema.fields.map(f => (f.name, f.dataType)).toSeq === Seq(
      ("key", StringType), ("value", StringType), ("topic", StringType),
      ("partition", IntegerType), ("offset", LongType), ("timestamp", TimestampType)))
    val got = out.orderBy("offset").select("key", "value", "topic", "partition", "offset").collect().toSeq
    assert(got === Seq(
      Row(null, """{"foo":"baz"}""", "t", 1, 7L),
      Row("k1", """{"foo":"bar"}""", "t", 0, 42L)))
  }

  test("kafka sink serialization: row -> single JSON value column, round-trips (test_kafka.py:50-63 shape)") {
    val df = spark.range(1).selectExpr("'baz' AS foo", "7 AS n")
    val out = KafkaIO.serialize(df)
    assert(out.schema.fields.map(_.name).toSeq === Seq("value"))
    val back = out.select(
      get_json_object(col("value"), "$.foo").as("foo"),
      get_json_object(col("value"), "$.n").cast("long").as("n")).collect()
    assert(back.toSeq === Seq(Row("baz", 7L)))
  }

  test("fixed windows with emit_empty: gap intervals emit zero-row windows (window.py:251 port)") {
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("spine")
    st.appendAll(Seq("""{"phase":"early"}"""))
    Thread.sleep(2500) // silence spanning >=2 one-second windows
    st.appendAll(Seq("""{"phase":"late"}"""))
    val seen = mutable.ArrayBuffer.empty[(Long, Long)]
    mb.streaming("spine").interval(1, relaxed = false).emitEmpty(true)
      .emit((id, df) => seen.synchronized { seen += ((id, df.count())); () })
      .run()
    val sorted = seen.sortBy(_._1)
    assert(sorted.map(_._2).sum === 2, s"both messages emitted: $sorted")
    // window ids are contiguous from first to last — the gap was filled
    val ids = sorted.map(_._1)
    assert(ids === (ids.head to ids.last),
      s"expected contiguous window ids, got $ids")
    assert(sorted.exists(_._2 === 0), s"expected at least one empty gap window: $sorted")
  }

  test("windows history is replay-safe: rewriting a batch partition does not duplicate") {
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("kept")
    st.appendAll((0 until 10).map(i => s"""{"i":$i}"""))
    mb.streaming("kept").size(2).keep(true).emit((_, _) => ()).run()
    assert(st.windows().count() === 10)
    val batchIds = st.windows().select("batch_id").distinct().collect().map(_.getLong(0))
    // simulate a replayed micro-batch: push the same batch's rows through
    // the same writer configuration — dynamic overwrite must replace the
    // partition, not append to it
    val replay = st.windows().filter(col("batch_id") === batchIds.head)
    replay.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(st.windowsDir)
    assert(st.windows().count() === 10)
    // and other batches' partitions were untouched by the dynamic overwrite
    assert(st.windows().select("batch_id").distinct().count() === batchIds.length.toLong)
  }

  /** Write messages with crafted created timestamps straight into the
    * buffer (appendAll stamps wall-clock now; gap tests need control).
    */
  private def writeBuffer(st: MbStream, rows: Seq[(String, Long)]): Unit = {
    val rws = rows.map { case (data, tsMs) => Row(st.name, new Timestamp(tsMs), data) }
    spark.createDataFrame(spark.sparkContext.parallelize(rws, 1), MbStream.MessageSchema)
      .write.mode("append").parquet(st.bufferDir)
  }

  test("emit_empty gap burst is capped at maxGapWindows (an outage cannot wedge the query)") {
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("gapped")
    val t0 = 1700000000L * 1000L
    // ~10000 missed one-second windows between the two messages
    writeBuffer(st, Seq(("""{"phase":"early"}""", t0), ("""{"phase":"late"}""", t0 + 10000L * 1000L)))
    val seen = mutable.ArrayBuffer.empty[(Long, Long)]
    mb.streaming("gapped").interval(1, relaxed = false).emitEmpty(true).maxGapWindows(5)
      .emit((id, df) => seen.synchronized { seen += ((id, df.count())); () })
      .run()
    val sorted = seen.sortBy(_._1)
    assert(sorted.map(_._2).sum === 2, s"both data windows emitted: $sorted")
    val empties = sorted.filter(_._2 == 0L).map(_._1)
    assert(empties.size === 5, s"gap capped at 5 empty windows, got: $sorted")
    // the synthesized gaps are the MOST RECENT ones, contiguous below the late window
    val lateId = t0 / 1000L + 10000L
    assert(empties === (lateId - 5 until lateId), s"expected newest gaps, got: $empties")
  }

  test("emit_empty high-water mark is recovered from kept history across a restart") {
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("restarted")
    val t0 = 1700000000L * 1000L
    writeBuffer(st, Seq(("""{"run":1}""", t0)))
    val seen1 = mutable.ArrayBuffer.empty[(Long, Long)]
    mb.streaming("restarted").interval(1, relaxed = false).emitEmpty(true).keep(true)
      .emit((id, df) => seen1.synchronized { seen1 += ((id, df.count())); () }).run()
    assert(seen1.map(_._2).sum === 1)
    // "restart": a brand-new runner loses the in-memory high-water mark;
    // with keep=true it must recover it from the windows history, so the
    // 3 gap windows spanning the restart are synthesized, not dropped
    writeBuffer(st, Seq(("""{"run":2}""", t0 + 4000L)))
    val seen2 = mutable.ArrayBuffer.empty[(Long, Long)]
    mb.streaming("restarted").interval(1, relaxed = false).emitEmpty(true).keep(true)
      .emit((id, df) => seen2.synchronized { seen2 += ((id, df.count())); () }).run()
    val sorted2 = seen2.sortBy(_._1)
    val w0 = t0 / 1000L
    assert(sorted2.map(_._1) === (w0 + 1 to w0 + 4),
      s"gap windows spanning the restart synthesized: $sorted2")
    assert(sorted2.map(_._2) === Seq(0L, 0L, 0L, 1L))
  }

  test("streaming ingest dedup: each window drops docs already in the kept corpus") {
    import graft.operators.{Dedup, TextAnalysis}
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("ingest")
    val keptDir = freshRoot() + "/kept"
    // size(1): every message is its own window, emitted in window-id order
    // (sequential with the default single emit worker), so each doc is
    // deduped against a corpus that already holds every earlier keeper —
    // including earlier windows of the SAME drain. Count state checkpoints
    // across drains, so window ids keep advancing over both batches.
    def drainInto(): Unit =
      mb.streaming("ingest").size(1).emit((_, df) => {
        val batch = df.select(
          get_json_object(col("data"), "$.id").cast("long").as("doc_id"),
          get_json_object(col("data"), "$.t").as("text"))
        // corpus-if-exists lives in the library (first window of the first
        // drain finds no keptDir yet and passes the batch through)
        Dedup.incrementalExactAgainstTable(batch, keptDir,
            TextAnalysis.md5Fingerprint(col("text")))
          .write.mode("append").parquet(keptDir)
      }).run()
    // batch 1: doc 3 duplicates doc 1 (same text)
    st.appendAll(Seq(
      """{"id":1,"t":"alpha beta"}""",
      """{"id":2,"t":"gamma delta"}""",
      """{"id":3,"t":"alpha beta"}"""))
    drainInto()
    // batch 2: doc 4 duplicates the corpus, doc 5 is new
    st.appendAll(Seq(
      """{"id":4,"t":"gamma delta"}""",
      """{"id":5,"t":"epsilon zeta"}"""))
    drainInto()
    val kept = spark.read.parquet(keptDir)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept === Seq(1L, 2L, 5L), s"kept corpus wrong: $kept")
  }

  test("streaming ingest near-dup gate: edited re-posts are dropped against the kept corpus") {
    import graft.operators.Dedup
    // the incremental MinHash gate inside the emitter loop: each window is
    // screened against everything kept so far, so a lightly-EDITED re-post
    // of an earlier keeper (same text, one word changed — exact fingerprints
    // differ) is still dropped
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("neardup_ingest")
    val keptDir = freshRoot() + "/kept_docs"
    def drainInto(): Unit =
      mb.streaming("neardup_ingest").size(1).emit((_, df) => {
        val batch = df.select(
          get_json_object(col("data"), "$.id").cast("long").as("doc_id"),
          get_json_object(col("data"), "$.t").as("text"))
        Dedup.incrementalMinhashNewAgainstTable(batch, keptDir, "doc_id", "text",
            shingleSize = 2, threshold = 0.5)
          .write.mode("append").parquet(keptDir)
      }).run()
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    st.appendAll(Seq(
      s"""{"id":1,"t":"$base"}""",
      """{"id":2,"t":"one two three four five six seven eight nine ten"}"""))
    drainInto()
    // doc 3 edits one word of doc 1 (high Jaccard, different fingerprint);
    // doc 4 is genuinely new
    st.appendAll(Seq(
      s"""{"id":3,"t":"${base.replace("epsilon", "EDITED")}"}""",
      """{"id":4,"t":"red orange yellow green blue indigo violet black white gray"}"""))
    drainInto()
    val kept = spark.read.parquet(keptDir)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept === Seq(1L, 2L, 4L), s"kept corpus wrong: $kept")
  }

  test("streaming image-ingest gate: JPEG re-posts of kept images are dropped against the persisted hash table") {
    import graft.operators.{Dedup, Multimodal}
    // the incremental perceptual-hash gate inside the emitter loop: each
    // window decodes its payloads, probes the persisted dHash table of
    // everything kept so far, and appends the keepers' hashes — a JPEG
    // re-encode of an earlier keeper (same picture, different bytes: the
    // dominant crawled-image duplicate class) is still dropped, while a
    // genuinely new picture and a NON-image payload pass
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("image_ingest")
    val root = freshRoot()
    val hashDir = root + "/kept_image_hashes"
    val keptDir = root + "/kept_images"
    def drainInto(): Unit =
      mb.streaming("image_ingest").size(1).emit((_, df) => {
        val batch = df.select(
          get_json_object(col("data"), "$.id").cast("long").as("media_id"),
          lit("image").as("media_type"),
          unbase64(get_json_object(col("data"), "$.b64")).as("content"))
        val kept = Dedup.incrementalImageNewAgainstTable(
          batch, hashDir, maxHamming = 10)
        kept.write.mode("append").parquet(keptDir)
        Multimodal.perceptualHashes(kept)
          .write.mode("append").parquet(hashDir)
      }).run()
    def b64(bytes: Array[Byte]) =
      java.util.Base64.getEncoder.encodeToString(bytes)
    def smoothBmp(id: Long, fx: Double, fy: Double, ph: Double): String = {
      val img = new java.awt.image.BufferedImage(
        72, 64, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 64; x <- 0 until 72) {
        val s = math.sin(2.0 * math.Pi * (fx * x / 72.0 + fy * y / 64.0) + ph)
        val v = (128 + 84 * s).toInt
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "bmp", baos)
      s"""{"id":$id,"b64":"${b64(baos.toByteArray)}"}"""
    }
    def jpegRepost(id: Long, fx: Double, fy: Double, ph: Double): String = {
      val img = new java.awt.image.BufferedImage(
        72, 64, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 64; x <- 0 until 72) {
        val s = math.sin(2.0 * math.Pi * (fx * x / 72.0 + fy * y / 64.0) + ph)
        val v = (128 + 84 * s).toInt
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", baos)
      s"""{"id":$id,"b64":"${b64(baos.toByteArray)}"}"""
    }
    st.appendAll(Seq(smoothBmp(1L, 1.7, 1.2, 0.3), smoothBmp(2L, 2.6, 0.7, 2.9)))
    drainInto()
    // 3 = JPEG re-post of keeper 1 (different bytes, same picture: drop);
    // 4 = new picture (keep); 5 = non-image payload (image gate passes it)
    st.appendAll(Seq(
      jpegRepost(3L, 1.7, 1.2, 0.3),
      smoothBmp(4L, 0.9, 2.2, 1.1),
      s"""{"id":5,"b64":"${b64("not an image".getBytes("UTF-8"))}"}"""))
    drainInto()
    val kept = spark.read.parquet(keptDir)
      .select("media_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept === Seq(1L, 2L, 4L, 5L), s"kept corpus wrong: $kept")
    // the persisted artifact holds hashes only for rows that DECODED
    val hashed = spark.read.parquet(hashDir)
      .select("media_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(hashed === Seq(1L, 2L, 4L), s"hash table wrong: $hashed")
  }

  test("streaming audio-ingest gate: u-law re-posts of kept clips are dropped against the persisted hash table") {
    import graft.operators.{Dedup, Multimodal}
    // the audio twin of the image-ingest gate: a μ-law TRANSCODE of an
    // earlier keeper (same clip, half the bit depth, different bytes) is
    // dropped by the envelope-hash probe; new clips and non-audio pass
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("audio_ingest")
    val root = freshRoot()
    val hashDir = root + "/kept_audio_hashes"
    val keptDir = root + "/kept_audio"
    def drainInto(): Unit =
      mb.streaming("audio_ingest").size(1).emit((_, df) => {
        val batch = df.select(
          get_json_object(col("data"), "$.id").cast("long").as("media_id"),
          lit("audio").as("media_type"),
          unbase64(get_json_object(col("data"), "$.b64")).as("content"))
        val kept = Dedup.incrementalAudioNewAgainstTable(
          batch, hashDir, maxHamming = 10)
        kept.write.mode("append").parquet(keptDir)
        Multimodal.perceptualAudioHashes(kept)
          .write.mode("append").parquet(hashDir)
      }).run()
    def b64(bytes: Array[Byte]) = java.util.Base64.getEncoder.encodeToString(bytes)
    def pcmWav(seed: Long): Array[Byte] = {
      val rnd = new java.util.Random(seed)
      val n = 2080
      val data = new Array[Byte](n * 2)
      for (s <- 0 until n) {
        val v = (rnd.nextInt(30000) - 15000) * 2
        data(2 * s) = (v & 0xFF).toByte
        data(2 * s + 1) = ((v >> 8) & 0xFF).toByte
      }
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(data), fmt, n.toLong)
      val baos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(
        ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
      baos.toByteArray
    }
    def ulawOf(bytes: Array[Byte]): Array[Byte] = {
      import spark.implicits._
      Multimodal.reencodeUlaw(
          Seq((0L, "audio", bytes)).toDF("media_id", "media_type", "content"))
        .collect()(0).getAs[Array[Byte]]("content")
    }
    val clip1 = pcmWav(42L); val clip2 = pcmWav(77L)
    st.appendAll(Seq(
      s"""{"id":1,"b64":"${b64(clip1)}"}""",
      s"""{"id":2,"b64":"${b64(clip2)}"}"""))
    drainInto()
    // 3 = u-law re-post of keeper 1 (drop); 4 = new clip (keep);
    // 5 = non-audio payload (the audio gate passes it)
    st.appendAll(Seq(
      s"""{"id":3,"b64":"${b64(ulawOf(clip1))}"}""",
      s"""{"id":4,"b64":"${b64(pcmWav(4711L))}"}""",
      s"""{"id":5,"b64":"${b64("not audio".getBytes("UTF-8"))}"}"""))
    drainInto()
    val kept = spark.read.parquet(keptDir)
      .select("media_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept === Seq(1L, 2L, 4L, 5L), s"kept corpus wrong: $kept")
    val hashed = spark.read.parquet(hashDir)
      .select("media_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(hashed === Seq(1L, 2L, 4L), s"hash table wrong: $hashed")
  }

  test("streaming video-ingest gate: re-encoded re-posts of kept videos are dropped against the persisted frame-hash table") {
    import graft.operators.{Dedup, Multimodal}
    import spark.implicits._
    // the video twin of the image-ingest gate: a per-frame JPEG re-encode
    // of an earlier keeper (same footage, rebuilt container, different
    // bytes) is dropped by the packed-fid frame-hash probe when >= 2 of
    // its frames match ONE corpus video; a video sharing only a single
    // frame, a new video, and a non-video payload all pass
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("video_ingest")
    val root = freshRoot()
    val hashDir = root + "/kept_video_frame_hashes"
    val keptDir = root + "/kept_videos"
    def drainInto(): Unit =
      mb.streaming("video_ingest").size(1).emit((_, df) => {
        val batch = df.select(
          get_json_object(col("data"), "$.id").cast("long").as("media_id"),
          lit("video").as("media_type"),
          unbase64(get_json_object(col("data"), "$.b64")).as("content"))
        val kept = Dedup.incrementalVideoNewAgainstTable(
          batch, hashDir, maxHamming = 10, minFrames = 2)
        kept.write.mode("append").parquet(keptDir)
        Multimodal.perceptualFrameHashes(kept)
          .write.mode("append").parquet(hashDir)
      }).run()
    def b64(bytes: Array[Byte]) = java.util.Base64.getEncoder.encodeToString(bytes)
    def smoothFrame(fx: Double, fy: Double, ph: Double): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(
        72, 64, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 64; x <- 0 until 72) {
        val s = math.sin(2.0 * math.Pi * (fx * x / 72.0 + fy * y / 64.0) + ph)
        val v = (128 + 84 * s).toInt
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      img
    }
    def avi(frames: Seq[java.awt.image.BufferedImage]): Array[Byte] =
      Multimodal.buildMjpegAvi(frames.map { img =>
        val baos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "jpg", baos)
        baos.toByteArray
      })
    val clipA = Seq(smoothFrame(1.7, 1.2, 0.3), smoothFrame(0.9, 2.2, 1.1),
      smoothFrame(2.6, 0.7, 2.9))
    val clipB = Seq(smoothFrame(3.1, 1.9, 4.1), smoothFrame(1.1, 3.2, 5.3),
      smoothFrame(2.2, 2.8, 0.9))
    st.appendAll(Seq(
      s"""{"id":1,"b64":"${b64(avi(clipA))}"}""",
      s"""{"id":2,"b64":"${b64(avi(clipB))}"}"""))
    drainInto()
    // 3 = quality-0.6 re-encode of keeper 1 (all 3 frames match: drop);
    // 4 = shares only ONE frame with keeper 1 (below minFrames: keep);
    // 5 = non-video payload (the video gate passes it)
    val repost = Multimodal.reencodeVideo(
        Seq((0L, "video", avi(clipA))).toDF("media_id", "media_type", "content"),
        quality = 0.6f)
      .collect()(0).getAs[Array[Byte]]("content")
    st.appendAll(Seq(
      s"""{"id":3,"b64":"${b64(repost)}"}""",
      s"""{"id":4,"b64":"${b64(avi(Seq(clipA.head,
        smoothFrame(4.2, 0.8, 1.7), smoothFrame(0.8, 4.1, 3.3))))}"}""",
      s"""{"id":5,"b64":"${b64("not a video".getBytes("UTF-8"))}"}"""))
    drainInto()
    val kept = spark.read.parquet(keptDir)
      .select("media_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept === Seq(1L, 2L, 4L, 5L), s"kept corpus wrong: $kept")
    // the artifact holds one row per DECODED frame of each keeper
    val hashed = spark.read.parquet(hashDir)
      .groupBy("media_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hashed === Map(1L -> 3L, 2L -> 3L, 4L -> 3L), s"hash table wrong: $hashed")
  }

  test("streaming leakage-safe split gate: micro-batches inherit splits from the frozen corpus artifact") {
    import graft.operators.Pipeline
    // splitLeakageSafeIncremental inside the emitter loop: every drained
    // window of new docs is split against the FROZEN already-split corpus
    // parquet — a near-dup of a train doc must land in train no matter
    // which micro-batch carries it, and the per-window decisions must be
    // identical to running the batch operator over all new docs at once
    // (matching is only ever batch-vs-corpus, so windowing cannot change
    // the assignment).
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("split_ingest")
    val corpusDir = freshRoot() + "/corpus_split"
    val outDir = freshRoot() + "/batch_splits"
    val base1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val base2 = "one two three four five six seven eight nine ten"
    import spark.implicits._
    Seq((1L, base1, "train"), (2L, base2, "test"))
      .toDF("doc_id", "text", "split")
      .withColumn("b", lit(0L))
      .write.mode("overwrite").parquet(corpusDir)
    def drainInto(): Unit =
      mb.streaming("split_ingest").size(1).emit((_, df) => {
        val batch = df.select(
            get_json_object(col("data"), "$.id").cast("long").as("doc_id"),
            get_json_object(col("data"), "$.t").as("text"))
          .withColumn("b", lit(0L))
        Pipeline.splitLeakageSafeIncremental(batch, spark.read.parquet(corpusDir),
            "doc_id", "text", "split", Seq("b"), shingleSize = 2, threshold = 0.5)
          .write.mode("append").parquet(outDir)
      }).run()
    // window 1: doc 10 edits one word of corpus doc 1 (train); doc 11 fresh
    st.appendAll(Seq(
      s"""{"id":10,"t":"${base1.replace("epsilon", "EDITED")}"}""",
      """{"id":11,"t":"red orange yellow green blue indigo violet black white gray"}"""))
    drainInto()
    // window 2: doc 12 edits one word of corpus doc 2 (test); doc 13 fresh
    st.appendAll(Seq(
      s"""{"id":12,"t":"${base2.replace("seven", "EDITED")}"}""",
      """{"id":13,"t":"do re mi fa sol la si do re mi"}"""))
    drainInto()
    val streamed = spark.read.parquet(outDir)
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(streamed(10L) === "train", "near-dup of a train corpus doc must inherit train")
    assert(streamed(12L) === "test", "near-dup of a test corpus doc must inherit test")
    // gate decisions ≡ the batch operator over all new docs at once
    val allNew = Seq(
      (10L, base1.replace("epsilon", "EDITED")),
      (11L, "red orange yellow green blue indigo violet black white gray"),
      (12L, base2.replace("seven", "EDITED")),
      (13L, "do re mi fa sol la si do re mi"))
      .toDF("doc_id", "text").withColumn("b", lit(0L))
    val batchMap = Pipeline.splitLeakageSafeIncremental(allNew,
        spark.read.parquet(corpusDir), "doc_id", "text", "split", Seq("b"),
        shingleSize = 2, threshold = 0.5)
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(streamed === batchMap,
      s"streamed split decisions must equal the batch operator: $streamed vs $batchMap")
  }

  test("streaming ingest chunks docs and dedups chunks against the kept corpus") {
    import graft.operators.{Dedup, Pipeline}
    // the LLM-pipeline ops inside the emitter loop, not just as batch
    // queries: each window chunks its docs (4-token windows) and keeps only
    // chunks whose content hash is not already in the kept-chunk corpus —
    // partial overlap between documents is deduped at chunk granularity.
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("chunk_ingest")
    val keptDir = freshRoot() + "/kept_chunks"
    def drainInto(): Unit =
      mb.streaming("chunk_ingest").size(1).emit((_, df) => {
        val batch = df.select(
          get_json_object(col("data"), "$.id").cast("long").as("doc_id"),
          get_json_object(col("data"), "$.t").as("text"))
        val chunks = Pipeline.chunkTokens(batch, col("doc_id"), col("text"),
          window = 4, stride = 4)
        Dedup.incrementalExactAgainstTable(chunks, keptDir, col("chunk_hash"))
          .write.mode("append").parquet(keptDir)
      }).run()
    // doc 1 → chunks ["a b c d", "e f g h"]; doc 2's first chunk repeats
    // doc 1's first — only its second chunk survives
    st.appendAll(Seq(
      """{"id":1,"t":"a b c d e f g h"}""",
      """{"id":2,"t":"a b c d x y z w"}"""))
    drainInto()
    // a later drain: every chunk of doc 3 is already in the corpus (one
    // from doc 1, one from doc 2) — nothing is admitted
    st.appendAll(Seq("""{"id":3,"t":"e f g h x y z w"}"""))
    drainInto()
    val kept = spark.read.parquet(keptDir)
      .select("id", "chunk_idx").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(kept === Set((1L, 0L), (1L, 1L), (2L, 1L)),
      s"chunk-level incremental dedup kept the wrong set: $kept")
  }

  test("streaming fluency gate: windows scored against frozen reference LM counts; disfluent docs dropped") {
    import graft.operators.Pipeline
    // the CCNet gate inside the emitter loop: the reference corpus is a
    // FROZEN artifact (written once, nightly-job style), every window is
    // LM-scored against it, and the keep threshold comes from the
    // reference's own score distribution — keep what reads like the
    // reference. Probe side is always the window batch, like the
    // incremental dedup gates.
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("fluency_ingest")
    val keptDir = freshRoot() + "/kept_fluent"
    val refDir = freshRoot() + "/ref_corpus"
    spark.createDataFrame(Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the dog sat on the rug"),
      (3L, "a cat sat on a rug"),
      (4L, "the dog ran to the mat"))).toDF("doc_id", "text")
      .write.parquet(refDir)
    val refDf = spark.read.parquet(refDir)
    // threshold = the reference's own floor: anything at least as fluent
    // as the least-fluent reference doc passes
    val thr = Pipeline.bigramLogLikelihood(refDf, refDf, "doc_id", "text")
      .agg(min(col("avg_logp"))).head().getDouble(0)
    def drainInto(): Unit =
      mb.streaming("fluency_ingest").size(1).emit((_, df) => {
        val batch = df.select(
          get_json_object(col("data"), "$.id").cast("long").as("doc_id"),
          get_json_object(col("data"), "$.t").as("text"))
        val passing = Pipeline.bigramLogLikelihood(batch, spark.read.parquet(refDir),
            "doc_id", "text")
          .filter(col("avg_logp") >= thr).select("doc_id")
        batch.join(passing, Seq("doc_id"), "left_semi")
          .write.mode("append").parquet(keptDir)
      }).run()
    // doc 10 recombines SEEN bigrams (fluent); doc 11 is unseen vocabulary
    // (every gram scores the -ln(ctx + V) floor)
    st.appendAll(Seq(
      """{"id":10,"t":"the cat sat on the rug"}""",
      """{"id":11,"t":"zebra quark flux nonce blip"}"""))
    drainInto()
    // a second window: fluent again, must also pass against the same
    // frozen artifact
    st.appendAll(Seq("""{"id":12,"t":"the dog sat on the mat"}"""))
    drainInto()
    val kept = spark.read.parquet(keptDir)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept === Seq(10L, 12L), s"fluency gate kept the wrong docs: $kept")
  }

  test("streaming KN gate: windows scored against a frozen KnModel artifact with serve-time graded backoff") {
    import graft.operators.Pipeline
    // the PRODUCTION CCNet serving shape inside the emitter loop: the
    // modified-KN model is trained ONCE and persisted as the full-backoff
    // KnModel artifact (nightly-job style), the loop loads it and scores
    // every window through knScoreAgainstModel — so OOV grams in streamed
    // docs BACK OFF through the persisted count tables instead of
    // dropping (the slim (gram, logp) artifact would mis-score every
    // partly-OOV window; a crawl stream is always partly OOV).
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("kn_ingest")
    val keptDir = freshRoot() + "/kept_kn"
    val modelDir = freshRoot() + "/kn_model"
    val ref = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the dog sat on the rug"),
      (3L, "a cat sat on a rug"),
      (4L, "the dog ran to the mat"))
    val refDf = spark.createDataFrame(ref).toDF("doc_id", "text")
    Pipeline.knTrainModel(refDf, "text").save(modelDir)
    val model = Pipeline.KnModel.load(spark, modelDir)
    // threshold = the reference's own floor THROUGH THE SERVING PATH
    val thr = Pipeline.knScoreAgainstModel(refDf, model, "doc_id", "text")
      .agg(min(col("avg_logp"))).head().getDouble(0)
    val scoredDir = freshRoot() + "/kn_scores"
    def drainInto(): Unit =
      mb.streaming("kn_ingest").size(1).emit((_, df) => {
        val batch = df.select(
          get_json_object(col("data"), "$.id").cast("long").as("doc_id"),
          get_json_object(col("data"), "$.t").as("text"))
        val scores = Pipeline.knScoreAgainstModel(batch, model, "doc_id", "text")
        scores.write.mode("append").parquet(scoredDir)
        batch.join(scores.filter(col("avg_logp") >= thr).select("doc_id"),
            Seq("doc_id"), "left_semi")
          .write.mode("append").parquet(keptDir)
      }).run()
    // doc 10 = a reference doc verbatim (scores that doc's own value, so
    // >= the floor by construction); doc 11 is alien vocabulary (every
    // continuation w is OOV -> all grams drop -> the doc is never scored)
    st.appendAll(Seq(
      """{"id":10,"t":"the cat sat on the mat"}""",
      """{"id":11,"t":"zebra quark flux nonce blip"}"""))
    drainInto()
    // a second window: "the cat ran to the mat" — 4 trigrams, 2 unseen
    // ("the cat ran": seen context, backoff; "cat ran to": unseen context,
    // seen continuation bigram) but every continuation w IS in the model's
    // unigram vocabulary, so ALL 4 grams score via the graded ladder
    st.appendAll(Seq("""{"id":12,"t":"the cat ran to the mat"}"""))
    drainInto()
    val scored = spark.read.parquet(scoredDir)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_grams"), r.getAs[Double]("avg_logp"))).toMap
    assert(scored.contains(10L) && !scored.contains(11L),
      s"alien-vocab doc must drop from scoring entirely: $scored")
    assert(scored(12L)._1 === 4L,
      s"serve-time backoff must score ALL 4 grams of the partly-OOV doc " +
        s"(the slim artifact would keep 2): $scored")
    val kept = spark.read.parquet(keptDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept.contains(10L) && !kept.contains(11L),
      s"KN gate kept the wrong docs: $kept")
    // the streaming gate's decisions equal the batch census over the same
    // docs through the same frozen artifact (the twin property)
    val all = spark.createDataFrame(Seq(
      (10L, "the cat sat on the mat"),
      (11L, "zebra quark flux nonce blip"),
      (12L, "the cat ran to the mat"))).toDF("doc_id", "text")
    val batchKept = Pipeline.knScoreAgainstModel(all, model, "doc_id", "text")
      .filter(col("avg_logp") >= thr)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === batchKept,
      s"streaming gate must equal the batch census: $kept vs $batchKept")
  }

  test("streaming blocklist gate: one-pass Aho-Corasick drop rule inside the emitter loop") {
    import graft.functions.AhoCorasick
    // the C4 badwords drop rule running where production runs it — at
    // INGEST: the automaton (a frozen driver artifact, like the KN model
    // and classifier gates above) rides the expression into every window;
    // gate decisions must equal the batch census over the same docs
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("bl_ingest")
    val keptDir = freshRoot() + "/kept_bl"
    val pats = Seq("bad phrase", "bad", "zz top")
    def drainInto(): Unit =
      mb.streaming("bl_ingest").size(1).emit((_, df) => {
        val batch = df.select(
          get_json_object(col("data"), "$.id").cast("long").as("doc_id"),
          get_json_object(col("data"), "$.t").as("text"))
        batch.filter(!AhoCorasick.acAnyMatch(col("text"), pats))
          .write.mode("append").parquet(keptDir)
      }).run()
    st.appendAll(Seq(
      """{"id":1,"t":"a perfectly clean document"}""",
      """{"id":2,"t":"contains the bad phrase here"}""",
      """{"id":3,"t":"nested badness counts too"}"""))
    drainInto()
    st.appendAll(Seq("""{"id":4,"t":"another clean one"}"""))
    drainInto()
    val kept = spark.read.parquet(keptDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 4L),
      s"blocklist gate kept the wrong docs (3 contains nested 'bad'): $kept")
    // twin property: the streaming decisions equal the batch census
    val all = spark.createDataFrame(Seq(
      (1L, "a perfectly clean document"),
      (2L, "contains the bad phrase here"),
      (3L, "nested badness counts too"),
      (4L, "another clean one"))).toDF("doc_id", "text")
    val batchKept = all.filter(!AhoCorasick.acAnyMatch(col("text"), pats))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === batchKept, s"streaming gate must equal the batch census")
  }

  test("streaming classifier gate: windows scored with a frozen model; noise dropped across windows") {
    import graft.operators.QualityModel
    // the model-based analogue of the fluency gate: the classifier is
    // trained ONCE (the frozen artifact a nightly job produces) and every
    // window is scored with the native broadcast-weights scan — no
    // training anywhere in the streaming loop
    val clean = graft.core.Tables.documents(spark, TestSpark.sf0001)
      .filter(col("lang") === "en").select(col("doc_id"), col("text"))
    val noise = clean.select((col("doc_id") + 100000L).as("doc_id"),
      QualityModel.syntheticNoise(col("text")).as("text"))
    val model = QualityModel.trainQualityClassifier(clean, noise, "text",
      numFeatures = 1 << 15, maxIter = 10)

    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("classifier_ingest")
    val keptDir = freshRoot() + "/kept_scored"
    def drainInto(): Unit =
      mb.streaming("classifier_ingest").size(1).emit((_, df) => {
        val batch = df.select(
          get_json_object(col("data"), "$.id").cast("long").as("doc_id"),
          get_json_object(col("data"), "$.t").as("text"))
        QualityModel.scoreQuality(batch, "text", model)
          .filter(col("quality_prob") >= 0.5)
          .select(col("doc_id"), col("quality_prob"))
          .write.mode("append").parquet(keptDir)
      }).run()
    // window 1: clean text + a noise doc drawn from the SAME noise
    // distribution the model was trained against (unseen-vocabulary noise
    // hits zero-weight buckets and scores sigmoid(intercept) ~ 0.5 — the
    // gate can only reject what the negative class taught it)
    val cleanSample = clean.orderBy(col("doc_id")).limit(2)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val noiseSample = clean.orderBy(col("doc_id")).limit(1)
      .select(QualityModel.syntheticNoise(col("text")).as("t")).head().getString(0)
    st.appendAll(Seq(
      s"""{"id":20,"t":"${cleanSample(0)._2.replace("\"", "")}"}""",
      s"""{"id":21,"t":"$noiseSample"}"""))
    drainInto()
    // window 2: the same frozen model gates again
    st.appendAll(Seq(s"""{"id":22,"t":"${cleanSample(1)._2.replace("\"", "")}"}"""))
    drainInto()
    val kept = spark.read.parquet(keptDir)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept === Seq(20L, 22L), s"classifier gate kept the wrong docs: $kept")
  }

  test("streaming ANN ingest: emitter windows append to the persisted index; search sees streamed vectors") {
    // the ANN analogue of the chunk-ingest spec: vectors arrive on a
    // stream, each window is encoded with the FROZEN index artifacts and
    // appended (IndexStore.appendIvfPq inside the emitter loop — no
    // trainer anywhere), and a search immediately after the drain finds
    // the streamed vectors
    val emb = graft.core.Tables.embeddings(spark, TestSpark.sf0001)
    val root = freshRoot() + "/ivfpq_stream"
    IndexStore.saveIvfPq(emb.filter(col("vec_id") < 400), "vec_id", "embedding", root,
      dim = 64, nlist = 8, m = 16, ksub = 32, iters = 1, trainSample = 1024)

    // streamed payloads: exact duplicates of vectors 0 and 1 under new ids
    // (identical embedding => same cell + codes => must rank first)
    val dups = emb.filter(col("vec_id") < 2)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (9100L + r.getLong(0),
        r.getAs[scala.collection.Seq[Float]]("embedding").mkString("[", ",", "]")))
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("vec_ingest")
    st.appendAll(dups.toSeq.map { case (id, e) => s"""{"id":$id,"e":$e}""" })
    mb.streaming("vec_ingest").size(2).emit((_, df) => {
      val batch = df.select(
        get_json_object(col("data"), "$.id").cast("long").as("vec_id"),
        from_json(get_json_object(col("data"), "$.e"),
          ArrayType(FloatType)).as("embedding"))
      IndexStore.appendIvfPq(batch, "vec_id", "embedding", root)
    }).run()

    assert(spark.read.parquet(root + "/codes").count() === 402L)
    val hits = IndexStore.searchIvfPq(spark, root,
        emb.filter(col("vec_id") < 2), "vec_id", "embedding", k = 3, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    Seq(0L, 1L).foreach { q =>
      assert(hits.contains((q, 9100L + q, 1)),
        s"streamed duplicate of $q must rank first: ${hits.filter(_._1 == q).toList}")
    }
  }

  test("scan posture: column pruning and filter pushdown reach the parquet scans") {
    // a 2-column projection must produce a 2-column ReadSchema — reading
    // all of documents (notably a future binary payload column) for a
    // (doc_id, lang) census would drag the whole corpus through the scan.
    // Read a PRIVATE copy of the table: suites run in parallel on a shared
    // session, and OperatorsSuite caches the canonical documents relation —
    // the CacheManager would substitute that cache into this plan and the
    // scan under an InMemoryRelation legitimately reads every column.
    val docsRoot = freshRoot() + "/docs_private"
    TestSpark.spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
      .write.parquet(docsRoot)
    val docs = TestSpark.spark.read.parquet(docsRoot)
    val proj = docs.filter(col("lang") === "en").select(col("doc_id"), col("lang"))
    val scan = proj.queryExecution.executedPlan.toString
    val readSchema = scan.linesIterator.find(_.contains("ReadSchema")).getOrElse(
      fail(s"no ReadSchema in plan:\n$scan"))
    assert(readSchema.contains("doc_id") && readSchema.contains("lang") &&
      !readSchema.contains("text"),
      s"projection must prune to the selected columns: $readSchema")
    assert(scan.contains("PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]"),
      s"the lang filter must reach the scan: $scan")

    // same through an operator: a media table written with its binary
    // payload keeps the payload OUT of a metadata-only plan
    val media = graft.operators.Multimodal.syntheticMedia(docs, "doc_id", "text")
    val root = freshRoot() + "/media"
    media.write.parquet(root)
    val meta = TestSpark.spark.read.parquet(root)
      .filter(col("media_type") === "video")
      .select(col("media_id"), col("duration_ms"))
    val metaScan = meta.queryExecution.executedPlan.toString
    val metaSchema = metaScan.linesIterator.find(_.contains("ReadSchema")).get
    assert(!metaSchema.contains("content"),
      s"binary payload must be pruned from a metadata-only read: $metaSchema")
  }

  test("partitioned layout: one file per partition value; filtered reads prune to the partition") {
    val docs = TestSpark.spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    val out = freshRoot() + "/docs_by_lang"
    Layout.writePartitioned(docs, out, partitionCols = Seq("lang"), sortCols = Seq("doc_id"))
    // hive-style dirs, one parquet file per partition value (repartition by
    // the partition key prevents the per-task small-files explosion)
    val langDirs = java.nio.file.Files.list(java.nio.file.Paths.get(out)).toArray.toSeq
      .map(_.toString).filter(_.contains("lang="))
    assert(langDirs.nonEmpty)
    langDirs.foreach { d =>
      val files = java.nio.file.Files.list(java.nio.file.Paths.get(d)).toArray.toSeq
        .map(_.toString).filter(_.endsWith(".parquet"))
      assert(files.size === 1, s"expected one file in $d, got ${files.size}")
    }
    // partition pruning: the physical scan of a lang-filtered read must
    // select ONLY that partition directory (inputFiles can't show this —
    // it lists the relation before pushdown)
    val en = spark.read.parquet(out).filter(col("lang") === "en")
    val scan = en.queryExecution.executedPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("no file scan in plan"))
    assert(scan.selectedPartitions.partitionCount === 1,
      s"expected only lang=en to survive pruning, scanned ${scan.selectedPartitions.partitionCount} partitions")
    // and the layout is lossless
    assert(spark.read.parquet(out).count() === docs.count())
    assert(en.count() === docs.filter(col("lang") === "en").count())
  }

  test("bucketed layout: same-key same-count tables join with no exchange") {
    val ev = graft.core.Tables.events(TestSpark.spark, TestSpark.sf0001)
      .select(col("event_id"), col("user_id"), col("value"))
    val root = freshRoot()
    Layout.writeBucketed(ev, "graft_bkt_a", Seq("user_id"), numBuckets = 8,
      sortCols = Seq("user_id"), path = Some(root + "/bkt_a"))
    Layout.writeBucketed(ev, "graft_bkt_b", Seq("user_id"), numBuckets = 8,
      sortCols = Seq("user_id"), path = Some(root + "/bkt_b"))
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force a non-broadcast join so the distribution requirement is real
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("graft_bkt_a").as("a")
        .join(spark.table("graft_bkt_b").as("b"), "user_id")
        .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      val n = j.count()
      assert(n > 0)
      val plan = j.queryExecution.executedPlan.toString
      // both the join AND the aggregation are satisfied by the write-time
      // bucketing: no shuffle anywhere in the plan
      assert(!plan.contains("Exchange"),
        s"bucketed join/agg must not shuffle:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS graft_bkt_a")
      spark.sql("DROP TABLE IF EXISTS graft_bkt_b")
    }
  }

  test("z-order layout: every file bounds BOTH dimensions; single-column sort bounds only its own") {
    // a full 64×64 grid: the worst case for locality claims (perfectly
    // uniform, nothing to get lucky on)
    val grid = spark.range(0, 64L * 64L).select(
      (col("id") % 64).as("x"), (col("id") / 64).cast("long").as("y"), col("id").as("payload"))
    val out = freshRoot() + "/zorder"
    Layout.zorderWrite(grid, col("x"), col("y"), bits = 6, path = out, numFiles = 16)
    def spans(path: String) = spark.read.parquet(path)
      .groupBy(input_file_name().as("f"))
      .agg((max(col("x")) - min(col("x"))).as("sx"), (max(col("y")) - min(col("y"))).as("sy"))
      .collect().map(r => (r.getAs[Long]("sx"), r.getAs[Long]("sy")))
    val z = spans(out)
    assert(z.length >= 8, s"expected ~16 files, got ${z.length}")
    // ideal: 16 files = 16 perfect 16×16 Z-blocks (span 15 each); range
    // boundaries come from sampling, so allow straddle slack — the claim
    // is BOTH dims bounded well under the global span of 63
    val meanSx = z.map(_._1).sum.toDouble / z.length
    val meanSy = z.map(_._2).sum.toDouble / z.length
    assert(meanSx <= 34 && meanSy <= 34,
      s"z-order must bound both dims on average: meanSx=$meanSx meanSy=$meanSy spans=${z.toSeq}")
    // contrast: the same data sorted by x alone leaves y at full span
    val xo = freshRoot() + "/xorder"
    grid.repartitionByRange(16, col("x")).sortWithinPartitions(col("x"))
      .write.parquet(xo)
    val xs = spans(xo)
    val meanSyX = xs.map(_._2).sum.toDouble / xs.length
    assert(meanSyX >= 55,
      s"x-sorted layout should NOT bound y (got mean y-span $meanSyX) — else the z-order claim is vacuous")
    // lossless
    assert(spark.read.parquet(out).count() === 64L * 64L)
  }

  test("compact: fragmented directory collapses to target-sized files, content byte-identical, stats true") {
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    val frag = freshRoot() + "/fragmented"
    docs.repartition(32).write.parquet(frag)
    val filesBefore = java.nio.file.Files.list(java.nio.file.Paths.get(frag)).toArray.toSeq
      .map(_.toString).count(f => !f.split('/').last.startsWith("_") && !f.split('/').last.startsWith("."))
    assert(filesBefore >= 16, s"fixture should be fragmented, got $filesBefore files")
    val expect = docs.collect().map(_.getAs[Long]("doc_id")).sorted
    val stats = Layout.compact(spark, frag, targetBytes = 1L << 30, sortCols = Seq("doc_id"))
    assert(stats.filesBefore === filesBefore)
    assert(stats.filesAfter === 1, s"1 GiB target must collapse to one file: $stats")
    assert(stats.rows === expect.length.toLong)
    val got = spark.read.parquet(frag).collect().map(_.getAs[Long]("doc_id")).sorted
    assert(got.toSeq === expect.toSeq, "compaction must be content-preserving")
    // no tmp/backup residue from the swap protocol
    val residue = java.nio.file.Files.list(java.nio.file.Paths.get(frag).getParent).toArray.toSeq
      .map(_.toString).filter(f => f.contains(".compact-"))
    assert(residue.isEmpty, s"swap must clean up: $residue")
  }

  test("observe: gate metrics ride the scan's own pass and match recomputation; unknown name fails loudly") {
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    val base = docs.filter(col("n_chars") >= 200).select(col("doc_id"), col("n_chars"))
    val observed = Observe.withMetrics(base, "gate", Seq(
      "n" -> count(lit(1)),
      "sum_chars" -> sum(col("n_chars")),
      "min_doc" -> min(col("doc_id"))))
    val (rows, m) = Observe.collectWithMetrics(observed, "gate")
    assert(rows.nonEmpty)
    assert(m.getAs[Long]("n") === rows.length.toLong)
    assert(m.getAs[Long]("sum_chars") === rows.map(_.getAs[Long]("n_chars")).sum)
    assert(m.getAs[Long]("min_doc") === rows.map(_.getAs[Long]("doc_id")).min)
    val boom = intercept[IllegalStateException](Observe.collectWithMetrics(observed, "nope"))
    assert(boom.getMessage.contains("gate"), s"error should list present metric names: ${boom.getMessage}")
  }

  test("observe: writeWithMetrics reads gate metrics off a WRITE action — no driver materialization") {
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    val base = docs.filter(col("n_chars") >= 200).select(col("doc_id"), col("n_chars"))
    val observed = Observe.withMetrics(base, "wgate", Seq(
      "n" -> count(lit(1)),
      "sum_chars" -> sum(col("n_chars"))))
    val outDir = freshRoot() + "/observed-out"
    val m = Observe.writeWithMetrics(observed, "wgate")(
      _.write.mode("overwrite").parquet(outDir))
    // the metrics row matches an independent recomputation, AND the write
    // actually landed (the rows never passed through the driver)
    val out = spark.read.parquet(outDir)
    assert(m.getAs[Long]("n") === out.count())
    assert(m.getAs[Long]("sum_chars") ===
      out.agg(sum(col("n_chars"))).head.getLong(0))
    // a name that never rides the plan times out loudly rather than hanging
    val boom = intercept[IllegalStateException] {
      Observe.writeWithMetrics(observed, "nope", timeoutSec = 2)(
        _.write.mode("overwrite").parquet(outDir))
    }
    assert(boom.getMessage.contains("nope"))
  }

  test("kafka: real-broker round-trip (env-gated, set GRAFT_KAFKA_BOOTSTRAP to run)") {
    // Offline this cancels (skipped-green): no broker and no spark-sql-kafka
    // jar exist in the sandbox. With GRAFT_KAFKA_BOOTSTRAP=host:port (and the
    // connector on the classpath) it exercises the real format("kafka")
    // wiring end-to-end: serialize → batch write → batch read → project.
    val bootstrap = sys.env.get("GRAFT_KAFKA_BOOTSTRAP")
    assume(bootstrap.isDefined,
      "GRAFT_KAFKA_BOOTSTRAP not set — kafka integration spec skipped offline")
    val servers = bootstrap.get
    val topic = s"graft_it_${System.currentTimeMillis()}"
    val df = spark.range(5).selectExpr("id", "concat('m', id) AS msg")
    KafkaIO.serialize(df).write.format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("topic", topic)
      .save()
    val back = KafkaIO.project(
      spark.read.format("kafka")
        .option("kafka.bootstrap.servers", servers)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")
        .load())
    val values = back.select("value").collect().map(_.getString(0)).sorted
    assert(values.length === 5)
    (0 until 5).foreach { i =>
      assert(values.exists(v => v.contains(s""""msg":"m$i"""")),
        s"missing message m$i in $topic: ${values.toList}")
    }
  }

  test("IndexStore: persisted IVF-PQ artifacts search identically to the in-plan operator; codes prune by cell") {
    val emb = graft.core.Tables.embeddings(spark, TestSpark.sf0001)
    val queries = emb.filter(col("vec_id") < 5)
    val root = freshRoot() + "/ivfpq"
    IndexStore.saveIvfPq(emb, "vec_id", "embedding", root,
      dim = 64, nlist = 8, m = 16, ksub = 32, iters = 1, trainSample = 1024)

    // artifact shapes: nlist centroid rows; codes hive-partitioned by cell
    assert(spark.read.parquet(root + "/centroids").count() === 8L)
    val cellDirs = new java.io.File(root + "/codes").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("ivf_cell="))
    assert(cellDirs.nonEmpty && cellDirs.length <= 8,
      s"codes must be hive-partitioned by cell, got ${cellDirs.map(_.getName).toList}")
    assert(spark.read.parquet(root + "/codes").count() === emb.count())

    // the deterministic trainers make artifact search ≡ the in-plan
    // operator bit-for-bit, row-for-row
    val direct = graft.operators.Similarity.ivfPqTopK(
        emb, queries, "vec_id", "embedding",
        dim = 64, k = 5, nlist = 8, nprobe = 3, m = 16, ksub = 32, iters = 1,
        trainSample = 1024)
      .orderBy(col("query_id"), col("rank"))
      .collect().toSeq
    val viaStore = IndexStore.searchIvfPq(spark, root, queries, "vec_id", "embedding",
        k = 5, nprobe = 3)
      .orderBy(col("query_id"), col("rank"))
      .collect().toSeq
    assert(viaStore === direct)
    assert(viaStore.size === 25)

    // a static cell filter prunes the partitioned codes scan at plan time
    val pruned = spark.read.parquet(root + "/codes").filter(col("ivf_cell") === 0)
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("ivf_cell"),
      s"expected partition filter on the codes scan:\n$scan")

    // kNN GRAPH through the artifacts — corpus as queries, no trainer in
    // the plan, nothing corpus-sized broadcast (the SemDeDup-at-scale
    // backbone): k rows for every vector, recall floor vs the exact join
    val n = emb.count()
    val graph = IndexStore.searchIvfPq(spark, root, emb, "vec_id", "embedding",
        k = 3, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(graph.size === 3 * n, "k neighbors for every corpus vector")
    val exact = graft.operators.Similarity.bruteForceTopK(emb, emb, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & graph.toSet).size.toDouble / exact.size
    assert(recall >= 0.2,
      s"kNN-graph recall below structural floor (3/8 cells + PQ noise on random fixtures): $recall")
  }

  test("IndexStore append: new batch encoded with frozen artifacts; duplicate lands in same cell, found at search") {
    val emb = graft.core.Tables.embeddings(spark, TestSpark.sf0001)
    val base = emb.filter(col("vec_id") < 400)
    val root = freshRoot() + "/ivfpq_inc"
    IndexStore.saveIvfPq(base, "vec_id", "embedding", root,
      dim = 64, nlist = 8, m = 16, ksub = 32, iters = 1, trainSample = 1024)

    // daily batch: the held-out tail + an exact duplicate of vector 0
    // under a new id (the re-post the incremental dedup family hunts)
    val dup = emb.filter(col("vec_id") === 0)
      .select(lit(9000L).as("vec_id"), col("embedding"), col("label"))
    val batch = emb.filter(col("vec_id") >= 400)
      .select(col("vec_id"), col("embedding"), col("label"))
      .unionByName(dup)
    IndexStore.appendIvfPq(batch, "vec_id", "embedding", root)

    val codes = spark.read.parquet(root + "/codes")
    assert(codes.count() === 501L, "400 base + 100 appended + 1 duplicate")
    // identical embedding => identical cell AND identical codes
    val zero = codes.filter(col("vec_id") === 0L).head()
    val nine = codes.filter(col("vec_id") === 9000L).head()
    assert(nine.getAs[Any]("ivf_cell") === zero.getAs[Any]("ivf_cell"))
    assert(nine.getAs[scala.collection.Seq[Long]]("codes") ===
      zero.getAs[scala.collection.Seq[Long]]("codes"))

    // searching with vector 0 as the query must surface its appended
    // duplicate: same cell (always probed — it is the query's nearest
    // centroid), same codes => the maximum ADC score in the index
    val hits = IndexStore.searchIvfPq(spark, root,
        emb.filter(col("vec_id") === 0), "vec_id", "embedding", k = 3, nprobe = 3)
      .collect()
    assert(hits.map(_.getLong(1)).contains(9000L),
      s"duplicate not in top-3: ${hits.map(r => (r.getLong(1), r.getDouble(2))).toList}")
    assert(hits.find(_.getLong(1) == 9000L).get.getInt(3) === 1,
      "an identical vector must rank first")
  }

  test("status surface: running and stopped emitters are observable (StreamingApp /status port)") {
    val mb = Minibatch(spark, freshRoot())
    val st = mb.stream("watched")
    assert(!mb.status("watched").running)
    assert(mb.status("watched").message === "no active emitter")
    val listener = Minibatch.watch(spark)
    st.appendAll((0 until 4).map(i => s"""{"i":$i}"""))
    val q = mb.streaming("watched").size(2)
      .withTrigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(250))
      .emit((_, _) => ()).start()
    try {
      val deadline = System.currentTimeMillis() + 60000
      var s = mb.status("watched")
      while ((!s.running || s.lastBatchId.isEmpty) && System.currentTimeMillis() < deadline) {
        Thread.sleep(200)
        s = mb.status("watched")
      }
      assert(s.running, "emitter never reported running with progress")
      assert(s.queryId.nonEmpty)
      assert(s.lastBatchId.nonEmpty)
      // the push-side watcher captured progress for this emitter, by stream name
      val wDeadline = System.currentTimeMillis() + 15000
      while (listener.progressJson("watched").isEmpty && System.currentTimeMillis() < wDeadline)
        Thread.sleep(200)
      assert(listener.watched().contains("watched"))
      assert(listener.progressJson("watched").get.contains("\"batchId\""))
    } finally q.stop()
    q.awaitTermination()
    spark.streams.removeListener(listener)
    val after = mb.status("watched")
    assert(!after.running)
  }

  test("compactTree: only fragmented leaves compact; cold partitions untouched") {
    import java.nio.file.{Files, Paths}
    val sp = TestSpark.spark
    import sp.implicits._
    val out = freshRoot() + "/tree"
    // lang=a: fragmented (8 files); lang=b: already one file (cold)
    (1 to 80).map(i => (i.toLong, "a")).toDF("id", "lang")
      .repartition(8).write.partitionBy("lang").parquet(out)
    (1000 to 1040).map(i => (i.toLong, "b")).toDF("id", "lang")
      .coalesce(1).write.mode("append").partitionBy("lang").parquet(out)
    def filesOf(p: String) = Files.list(Paths.get(s"$out/lang=$p")).toArray.toSeq
      .map(_.toString).filter(_.endsWith(".parquet")).sorted
    val bFiles = filesOf("b").map(f => (f, Files.size(Paths.get(f))))
    assert(filesOf("a").size > 1)
    val total = spark.read.parquet(out).count()

    val (examined, compacted) = Layout.compactTree(TestSpark.spark, out,
      targetBytes = 1L << 30, minFilesToCompact = 2)
    assert(examined === 2 && compacted === 1, s"only lang=a should compact: $examined/$compacted")
    assert(filesOf("a").size === 1, "fragmented leaf must collapse to one file")
    assert(filesOf("b").map(f => (f, Files.size(Paths.get(f)))) === bFiles,
      "cold partition must keep its exact files")
    assert(spark.read.parquet(out).count() === total, "compaction is content-preserving")
  }

  test("takedown deleteByKey: only hit partitions rewrite; others stay byte-identical") {
    import java.nio.file.{Files, Paths}
    val sp = TestSpark.spark
    import sp.implicits._
    val docs = TestSpark.spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    val out = freshRoot() + "/docs_takedown"
    Layout.writePartitioned(docs, out, partitionCols = Seq("lang"), sortCols = Seq("doc_id"))
    val total = docs.count()

    // victim keys: three docs from ONE language partition
    val victims = docs.filter(col("lang") === "en").select("doc_id").limit(3)
    val victimIds = victims.as[Long].collect().toSet
    assert(victimIds.size === 3)

    // fingerprint every partition's files before the takedown
    def fileBytes(): Map[String, Seq[(String, Long)]] =
      Files.list(Paths.get(out)).toArray.toSeq.map(_.toString)
        .filter(_.contains("lang=")).map { d =>
          d -> Files.list(Paths.get(d)).toArray.toSeq.map(_.toString)
            .filter(_.endsWith(".parquet"))
            .sorted.map(f => (f, Files.size(Paths.get(f))))
        }.toMap
    val before = fileBytes()

    val stats = Layout.deleteByKey(TestSpark.spark, out, "lang", "doc_id",
      victims.toDF("doc_id"))
    assert(stats.rowsDeleted === 3L, s"expected 3 deletions: $stats")
    assert(stats.nPartitionsRewritten === 1, s"only lang=en should rewrite: $stats")
    assert(stats.nPartitionsTotal === before.size)

    // deleted rows are gone, everything else survives
    val remaining = spark.read.parquet(out)
    assert(remaining.count() === total - 3)
    assert(remaining.filter(col("doc_id").isin(victimIds.toSeq: _*)).count() === 0)

    // untouched partitions: identical file lists and sizes; the rewritten
    // one changed; no tmp/backup residue anywhere
    val after = fileBytes()
    for ((d, files) <- before if !d.endsWith("lang=en"))
      assert(after(d) === files, s"untouched partition $d must keep its exact files")
    assert(after(before.keys.find(_.endsWith("lang=en")).get)
      !== before(before.keys.find(_.endsWith("lang=en")).get))
    assert(!Files.list(Paths.get(out)).toArray.toSeq.map(_.toString)
      .exists(_.contains(".takedown-")), "no swap residue")

    // keys carrying the partition column skip the locate scan and still work
    val more = docs.filter(col("lang") === "de").select("doc_id", "lang").limit(2)
    val stats2 = Layout.deleteByKey(TestSpark.spark, out, "lang", "doc_id", more)
    assert(stats2.rowsDeleted === 2L && stats2.nPartitionsRewritten === 1)
    assert(spark.read.parquet(out).count() === total - 5)

    // a key that exists nowhere: no rewrites, nothing changes
    val stats3 = Layout.deleteByKey(TestSpark.spark, out, "lang", "doc_id",
      Seq(999999999L).toDF("doc_id"))
    assert(stats3.rowsDeleted === 0L && stats3.nPartitionsRewritten === 0)
    assert(spark.read.parquet(out).count() === total - 5)
  }
}
