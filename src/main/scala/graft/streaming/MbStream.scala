package graft.streaming

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.io.{ColumnIOFactory, LocalInputFile}
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, MessageTypeParser, PrimitiveType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One durable stream: producer `append`, buffer/window accessors, clear,
  * retention — the reference's `Stream` + `Buffer` surface
  * (minibatch/models.py:209-226, 282-288, 309-348).
  *
  * Message shape mirrors Buffer docs `{stream, created, data, processed}`
  * (models.py:139-154): payload rides as a JSON string (`data`), `created`
  * is stamped at append, and `processed` is subsumed by streaming
  * checkpoints.
  */
final class MbStream(val spark: SparkSession, val name: String, val dir: String) {
  import MbStream._

  private lazy val log = org.slf4j.LoggerFactory.getLogger(classOf[MbStream])

  val bufferDir: String = s"$dir/buffer"
  val windowsDir: String = s"$dir/windows"
  val checkpointsDir: String = s"$dir/checkpoints"
  val metaPath: java.nio.file.Path = Paths.get(dir, "meta.json")

  private val pending = new ArrayBuffer[(String, Timestamp)]()
  private val attached = new ArrayBuffer[AttachedSource]()

  /** Producer ingest (reference `Stream.append`, models.py:209-211): stamp
    * arrival time, accumulate in the producer-side batcher (models.py:25-81),
    * flush as one parquet file per `batchSize` messages. The durable file is
    * the process boundary — no ack protocol, like the reference's
    * fast-insert path (models.py:84-113). Starts no Spark job: see [[flush]].
    */
  def append(dataJson: String, batchSize: Int = 1): Unit = synchronized {
    refuseIfClosed()
    pending += ((dataJson, new Timestamp(System.currentTimeMillis())))
    if (pending.size >= batchSize) flush()
  }

  def appendAll(rows: Seq[String]): Unit = synchronized {
    refuseIfClosed()
    val now = new Timestamp(System.currentTimeMillis())
    pending ++= rows.map(r => (r, now))
    flush()
  }

  /** Engine-internal append for control messages (e.g. the CountWindow
    * flush sentinel): skips the closed-stream check — flush-draining the
    * tail of a stream you just closed is the expected shutdown sequence.
    */
  private[streaming] def appendControl(dataJson: String): Unit = synchronized {
    pending += ((dataJson, new Timestamp(System.currentTimeMillis())))
    flush()
  }

  /** Flush the producer batch to one parquet file in the buffer dir.
    *
    * The file is written on the calling thread with parquet's example
    * writer, not by a Spark job: per-message appends would otherwise pay a
    * job's scheduling cost each. Its schema is [[BufferParquetSchema]]
    * (`created` as INT64 TIMESTAMP(MICROS, UTC); files written by Spark's
    * own writer, with INT96 `created`, read back identically) and its codec
    * is the session's `spark.sql.parquet.compression.codec`. The rows go
    * through parquet's `LocalOutputFile` to a hidden
    * `.part-<uuid>.parquet.tmp` and are moved (`ATOMIC_MOVE`) to
    * `part-<uuid>.parquet` once the footer is written
    * ([[LocalParquet.writeFile]]), so the emitter's
    * [[BufferSource]] and [[buffer]] never list a partial file. No Hadoop
    * filesystem is involved: no `.crc` sidecar, and no forked `chmod`/`stat`
    * process where Hadoop's native library is absent.
    */
  def flush(): Unit = synchronized {
    if (pending.nonEmpty) {
      writeBufferFile(pending.toSeq)
      pending.clear()
    }
  }

  /** Write `rows` as one buffer file, as [[flush]] does; the file's path. */
  private[graft] def writeBufferFile(rows: Seq[(String, Timestamp)]): java.nio.file.Path = {
    val groups = new SimpleGroupFactory(BufferParquetSchema)
    LocalParquet.writeFile(spark,
      Files.createDirectories(Paths.get(bufferDir)).resolve(s"part-${java.util.UUID.randomUUID()}.parquet"),
      BufferParquetSchema, rows.iterator.map { case (d, ts) =>
        groups.newGroup().append("stream", name).append("created", toMicros(ts)).append("data", d)
      })
  }

  /** Write micro-batch `batchId`'s kept windows as the history slice
    * `windows/batch_id=<batchId>` (schema [[WindowParquetSchema]]), on the
    * calling thread and without a Spark job, replacing a slice an earlier
    * run of the batch wrote ([[LocalParquet.replaceSlice]]): a replayed
    * batch overwrites its own slice, as a dynamic partition overwrite
    * would, and leaves the others alone.
    */
  private[streaming] def writeWindows(batchId: Long, windows: Seq[(Long, Seq[EmitterRunner.Message])]): Unit = {
    val groups = new SimpleGroupFactory(WindowParquetSchema)
    LocalParquet.replaceSlice(spark, Files.createDirectories(Paths.get(windowsDir)), "batch_id", batchId,
      WindowParquetSchema, windows.iterator.flatMap { case (id, ms) =>
        ms.iterator.map(m => groups.newGroup().append("stream", m.stream)
          .append("created", toMicros(m.created)).append("data", m.data).append("window_id", id))
      })
  }

  /** Filtered read of the buffer (reference `stream.buffer()`, models.py:282-284). */
  def buffer(): DataFrame = readOrEmpty(bufferDir, MessageSchema)

  /** Read of the emitted-window history (reference `stream.window()`).
    * The history is partitioned by batch_id (one slice per micro-batch,
    * replaced whole on replay, see [[writeWindows]]), so the read discovers
    * partitions rather than listing top-level files. Slices written by
    * Spark's own writer (INT96 `created`) read back beside them.
    */
  def windows(): DataFrame = {
    // Spark's own listing skips `.`/`_` entries; so must this walk, or a
    // hidden staging dir reads as history: a slice being written or moved
    // aside by writeWindows (`.batch_id=<b>.<uuid>.tmp`/`.old`, left behind
    // if the write was interrupted), or Spark's `.spark-staging-*`
    def hasData(p: java.nio.file.Path): Boolean = Files.isDirectory(p) && {
      try {
        val s = Files.list(p)
        try s.iterator().asScala.exists { f =>
          val n = f.getFileName.toString
          !n.startsWith(".") && !n.startsWith("_") && (n.endsWith(".parquet") || hasData(f))
        } finally s.close()
      } catch { case _: java.nio.file.NoSuchFileException => false } // replaced mid-walk
    }
    if (!hasData(Paths.get(windowsDir)))
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], WindowSchema)
    else
      spark.read.option("ignoreMissingFiles", "true").parquet(windowsDir)
        .select(col("stream"), col("created"), col("data"),
          col("window_id"), col("batch_id").cast("long").as("batch_id"))
  }

  /** Typed projection of the schemaless JSON payload (SURVEY.md §1.3: raw
    * payload stays a JSON string; consumers project it to a StructType on
    * read — unknown fields are preserved in `data`, never dropped).
    */
  def bufferTyped(payloadSchema: StructType): DataFrame =
    buffer()
      .withColumn("payload", from_json(col("data"), payloadSchema))
      .select(col("stream"), col("created"), col("data"), col("payload.*"))

  /** Delete all buffered messages (reference `stream.clear()`, models.py:216-217). */
  def clear(): Unit = {
    deleteChildren(bufferDir)
  }

  // ── lifecycle (reference Stream.status INIT→OPEN→CLOSED, models.py:164,
  //    228-237: stop() halts source + housekeeping; the `closed` timestamp
  //    field records when) ────────────────────────────────────────────────

  /** Current lifecycle status, read from the durable meta.json so every
    * process sharing the stream directory sees the same answer. A stream
    * without a meta file (constructed directly, not via the registry) is
    * "open" — the registry writes status:"open" at creation, the analogue
    * of the reference's ensure_initialized INIT→OPEN flip (models.py:192-195).
    */
  def status: String = MbStream.readMetaStatus(metaPath).getOrElse("open")

  def isClosed: Boolean = status == "closed"

  /** Close the stream (reference `Stream.stop()`, models.py:228-237, plus
    * the `closed` timestamp and CLOSED status, models.py:164-166): flush the
    * producer batcher, detach background sources, stop the retention loop,
    * and durably flip meta.json status open→closed. After close, `append`/
    * `appendAll` throw; buffered data and window history remain readable.
    * Idempotent. Reopen explicitly with [[reopen]] — `getOrCreate` never
    * silently reopens (see [[StreamRegistry.getOrCreate]]).
    */
  def close(): Unit = synchronized {
    flush()
    attached.foreach(_.detach())
    attached.clear()
    stopRetention()
    MbStream.writeMetaStatus(metaPath, name, "closed",
      closedMs = Some(System.currentTimeMillis()))
  }

  /** Explicitly reopen a closed stream — the deliberate inverse of [[close]];
    * nothing reopens implicitly.
    */
  def reopen(): Unit = synchronized {
    MbStream.writeMetaStatus(metaPath, name, "open", closedMs = None)
  }

  private def refuseIfClosed(): Unit =
    if (isClosed)
      throw new IllegalStateException(
        s"stream '$name' is closed — reopen() it before appending")

  /** Retention / housekeeping (reference `max_age` autoclear,
    * models.py:309-348): drop buffer files whose NEWEST row is older than
    * maxAge. File-granularity deletion means at most one extra batch of
    * young-enough rows survives — same ≤2× maxAge guarantee the reference
    * documents (models.py:327-338). At cluster scale this is a partition
    * drop on a date-partitioned buffer, never a row rewrite.
    *
    * One sweep is one Spark job: every partition reports the newest
    * `created` per file it read (`_metadata.file_path`), and the driver
    * merges them, so a file split across partitions is judged whole.
    * Files deleted between the listing and the scan are skipped.
    */
  def runRetention(maxAgeSeconds: Double, nowMs: Long = System.currentTimeMillis()): Int = {
    val cutoff = nowMs - (maxAgeSeconds * 1000L).toLong
    import spark.implicits._
    // the directory, not a list of its files: Spark lists more than a few
    // dozen explicit paths with a job of its own
    val newest = if (listParquet(bufferDir).isEmpty) Map.empty[String, Long] else
      spark.read.schema(MessageSchema).option("ignoreMissingFiles", "true").parquet(bufferDir)
        .select(col("_metadata.file_path"), col("created")).as[(String, Timestamp)]
        .mapPartitions { rows =>
          val m = scala.collection.mutable.Map.empty[String, Long]
          rows.foreach { case (f, ts) => if (ts != null) m(f) = math.max(m.getOrElse(f, Long.MinValue), ts.getTime) }
          m.iterator
        }.collect()
        .groupMapReduce(_._1)(_._2)(math.max)
    newest.count { case (f, ms) =>
      ms <= cutoff && { Files.deleteIfExists(Paths.get(new java.net.URI(f))); true }
    }
  }

  @volatile private var retentionHandle: Option[AttachedSource] = None

  /** Auto-scheduled retention (reference: a `max_age` stream starts an
    * autoclear thread on creation, models.py:364-370, keeping at most ~2×
    * max_age of data, models.py:309-348). Runs [[runRetention]] on a
    * background daemon thread every `intervalMs` (default: half of maxAge,
    * floored at 50 ms so tests with sub-second ages still cycle). Idempotent:
    * a second call with a retention loop already running returns the
    * existing handle. `stopRetention()`/`detach()` stops the loop.
    */
  def startRetention(maxAgeSeconds: Double, intervalMs: Long = -1L): AttachedSource = synchronized {
    retentionHandle.filter(_.isRunning).getOrElse {
      val every = if (intervalMs > 0) intervalMs
        else math.max(50L, (maxAgeSeconds * 1000L / 2).toLong)
      val running = new java.util.concurrent.atomic.AtomicBoolean(true)
      val t = new Thread(() => {
        try {
          while (running.get()) {
            try runRetention(maxAgeSeconds)
            catch {
              case _: InterruptedException => running.set(false)
              // a transient scan failure (concurrent writer, busy cluster)
              // must not kill the housekeeping loop — warn and retry next
              // sweep (reference hk_logger.warning, models.py:322-324); a
              // PERSISTENT failure stays visible in the logs instead of
              // silently growing the buffer forever
              case scala.util.control.NonFatal(e) =>
                log.warn(s"graft-retention-$name: sweep failed, retrying in ${every}ms", e)
            }
            Thread.sleep(every)
          }
        } catch { case _: InterruptedException => running.set(false) }
      }, s"graft-retention-$name")
      t.setDaemon(true)
      t.start()
      val h = new AttachedSource(running, t)
      retentionHandle = Some(h)
      h
    }
  }

  def stopRetention(): Unit = synchronized {
    retentionHandle.foreach(_.detach())
    retentionHandle = None
  }

  /** Attach a polling source on a background daemon thread (reference
    * `stream.attach(source, background=True)`, models.py:219-226, 350-356):
    * calls `poll()` every `pollMs` until `cancel()`/`detach()`. Returns a
    * handle whose `detach()` stops the thread (reference `source.cancel()`).
    */
  def attach(poll: MbStream => Int, pollMs: Long = 100L): AttachedSource = {
    val running = new java.util.concurrent.atomic.AtomicBoolean(true)
    val t = new Thread(() => {
      while (running.get()) {
        poll(this)
        Thread.sleep(pollMs)
      }
    }, s"graft-source-$name")
    t.setDaemon(true)
    t.start()
    val h = new AttachedSource(running, t)
    synchronized { attached += h }
    h
  }

  private def listParquet(d: String): Seq[String] = {
    val p = Paths.get(d)
    if (!Files.exists(p)) Seq.empty
    else {
      val s = Files.list(p)
      try {
        val b = ArrayBuffer.empty[String]
        s.forEach(f => if (f.toString.endsWith(".parquet")) b += f.toString)
        b.toSeq.sorted
      } finally s.close()
    }
  }

  private def readOrEmpty(d: String, schema: StructType): DataFrame =
    if (listParquet(d).isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    // ignoreMissingFiles: the retention loop deletes whole files at any
    // time between a reader's file-listing and its execution — a
    // retention-enabled buffer must tolerate that, not fail the scan
    else spark.read.schema(schema).option("ignoreMissingFiles", "true").parquet(d)

  private def deleteChildren(d: String): Unit = {
    val p = Paths.get(d)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder())
        .filter(f => f != p)
        .forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }
  }
}

/** Handle for a background-attached source thread. */
final class AttachedSource(
    running: java.util.concurrent.atomic.AtomicBoolean,
    thread: Thread) {
  def detach(): Unit = {
    running.set(false)
    thread.join(5000)
  }
  def isRunning: Boolean = thread.isAlive
}

object MbStream {

  private[graft] def toMicros(ts: Timestamp): Long = ts.getTime * 1000L + ts.getNanos / 1000 % 1000

  private[streaming] def fromMicros(us: Long): Timestamp = {
    val ts = new Timestamp(Math.floorDiv(us, 1000L))
    ts.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    ts
  }

  private val StatusRe = """"status"\s*:\s*"([a-z]+)"""".r
  private val CreatedRe = """"created_ms"\s*:\s*(\d+)""".r

  /** Parse the status field out of a meta.json written by [[StreamRegistry]]
    * / [[writeMetaStatus]] (we own the format — a two-field regex beats a
    * JSON library dependency). None when the file doesn't exist.
    */
  def readMetaStatus(meta: java.nio.file.Path): Option[String] =
    if (!Files.exists(meta)) None
    else StatusRe.findFirstMatchIn(
      new String(Files.readAllBytes(meta), "UTF-8")).map(_.group(1))

  /** Rewrite meta.json with the new status, preserving created_ms and adding
    * closed_ms (reference `closed` DateTimeField, models.py:166) when set.
    * Atomic replace (temp + ATOMIC_MOVE) so a concurrent reader never sees a
    * torn file.
    */
  def writeMetaStatus(
      meta: java.nio.file.Path,
      name: String,
      status: String,
      closedMs: Option[Long]): Unit = {
    val createdMs = (if (Files.exists(meta))
      CreatedRe.findFirstMatchIn(new String(Files.readAllBytes(meta), "UTF-8"))
        .map(_.group(1).toLong)
    else None).getOrElse(System.currentTimeMillis())
    val closedField = closedMs.map(ms => s""","closed_ms":$ms""").getOrElse("")
    val json =
      s"""{"name":"$name","status":"$status","created_ms":$createdMs$closedField}"""
    val tmp = meta.resolveSibling(meta.getFileName.toString + ".tmp")
    Files.write(tmp, json.getBytes("UTF-8"))
    Files.move(tmp, meta,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Mirrors Buffer `{stream, created, data}` (models.py:139-154); the
    * `processed` flag is replaced by the emitter's batch log.
    */
  val MessageSchema: StructType = StructType(Seq(
    StructField("stream", StringType, nullable = false),
    StructField("created", TimestampType, nullable = false),
    StructField("data", StringType, nullable = false)))

  /** [[MessageSchema]] as the parquet schema of the buffer files that
    * [[MbStream.flush]] writes.
    */
  val BufferParquetSchema: MessageType = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  required binary stream (STRING);
      |  required int64 created (TIMESTAMP(MICROS,true));
      |  required binary data (STRING);
      |}""".stripMargin)

  /** The parquet schema of a kept-history file ([[MbStream.writeWindows]]):
    * [[BufferParquetSchema]] plus the window id; `batch_id` is the
    * directory's partition value. */
  val WindowParquetSchema: MessageType = new MessageType("spark_schema",
    (BufferParquetSchema.getFields.asScala :+ Types.required(PrimitiveTypeName.INT64).named("window_id")).asJava)

  /** The Julian day number of 1970-01-01, the epoch of INT96 timestamps' day field. */
  private val JulianDayOfEpoch = 2440588

  /** Read one buffer file on the calling thread, without a Spark job:
    * every row as a [[EmitterRunner.Message]], in file order. `created` may
    * be INT64 `TIMESTAMP(MICROS)`, as [[MbStream.flush]] writes it, or
    * Spark's INT96, as buffers written by Spark's own writer hold it.
    * `opts` carries the Hadoop configuration the codecs read: build it once
    * per reader, since a fresh `Configuration` re-parses Hadoop's XML
    * defaults. No rows when the file is gone, as a scan with
    * `ignoreMissingFiles` skips it.
    */
  private[streaming] def readBufferFile(file: java.nio.file.Path, opts: ParquetReadOptions): Seq[EmitterRunner.Message] = {
    val opened =
      try Some(ParquetFileReader.open(new LocalInputFile(file), opts))
      catch { case _: java.io.FileNotFoundException | _: java.nio.file.NoSuchFileException => None }
    opened.fold(Seq.empty[EmitterRunner.Message]) { reader =>
      try {
        val schema = reader.getFooter.getFileMetaData.getSchema
        val io = new ColumnIOFactory().getColumnIO(schema)
        val Seq(stream, created, data) = Seq("stream", "created", "data").map(schema.getFieldIndex)
        val micros = createdMicros(file, schema.getType(created).asPrimitiveType, created)
        val rows = ArrayBuffer.empty[EmitterRunner.Message]
        var pages = reader.readNextRowGroup()
        while (pages != null) {
          val records = io.getRecordReader(pages, new GroupRecordConverter(schema))
          for (_ <- 0L until pages.getRowCount) {
            val g = records.read()
            rows += EmitterRunner.Message(g.getString(stream, 0), fromMicros(micros(g)), g.getString(data, 0))
          }
          pages = reader.readNextRowGroup()
        }
        rows.toSeq
      } finally reader.close()
    }
  }

  /** Epoch µs of the `created` field (index `field`, type `t`) of a row. */
  private def createdMicros(file: java.nio.file.Path, t: PrimitiveType, field: Int): Group => Long =
    (t.getPrimitiveTypeName, t.getLogicalTypeAnnotation) match {
      case (PrimitiveTypeName.INT96, _) => g =>
        val b = g.getInt96(field, 0).toByteBuffer.order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val nanosOfDay = b.getLong
        (b.getInt - JulianDayOfEpoch) * 86400000000L + nanosOfDay / 1000L
      case (PrimitiveTypeName.INT64, ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation)
          if ts.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS => g => g.getLong(field, 0)
      case _ => throw new IllegalArgumentException(s"$file: created is $t, not INT96 or INT64 TIMESTAMP(MICROS)")
    }

  /** Mirrors Window `{stream, created, data, query}` (models.py:116-136),
    * one row per message with its window id (relational, not list-of-dicts).
    */
  val WindowSchema: StructType = StructType(Seq(
    StructField("stream", StringType, nullable = false),
    StructField("created", TimestampType, nullable = false),
    StructField("data", StringType, nullable = false),
    StructField("window_id", LongType, nullable = false),
    StructField("batch_id", LongType, nullable = false)))
}
