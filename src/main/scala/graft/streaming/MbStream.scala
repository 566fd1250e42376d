package graft.streaming

import java.nio.file.{Files, NoSuchFileException, Paths}
import java.nio.file.attribute.BasicFileAttributes
import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.parquet.{HadoopReadOptions, ParquetReadOptions}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.io.{ColumnIOFactory, LocalInputFile}
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, MessageTypeParser, PrimitiveType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.FrameBridge
import org.apache.spark.sql.types._

/** One durable stream: producer `append`, buffer/window accessors, clear,
  * retention — the reference's `Stream` + `Buffer` surface
  * (minibatch/models.py:209-226, 282-288, 309-348).
  *
  * Message shape mirrors Buffer docs `{stream, created, data, processed}`
  * (models.py:139-154): payload rides as a JSON string (`data`), `created`
  * is stamped at append, and `processed` is subsumed by the emitter's
  * batch log.
  *
  * `buffer/` holds parquet files, which Spark and external writers may
  * add, and this handle's open segment of the segment log
  * ([[Segments]]): every append is a record written to it before the call
  * returns, and the segment is sealed into a parquet file at a size or
  * age bound, at [[close]], or by a retention sweep. Segment names are
  * hidden, so `buffer/` reads as a parquet table; [[buffer]] adds the
  * records of unsealed segments.
  */
final class MbStream(val spark: SparkSession, val name: String, val dir: String) {
  import MbStream._

  private lazy val log = org.slf4j.LoggerFactory.getLogger(classOf[MbStream])

  val bufferDir: String = s"$dir/buffer"
  private val bufferPath = Paths.get(bufferDir)
  val windowsDir: String = s"$dir/windows"
  val checkpointsDir: String = s"$dir/checkpoints"
  val metaPath: java.nio.file.Path = Paths.get(dir, "meta.json")

  private val attached = new ArrayBuffer[AttachedSource]()

  // this producer's segments are .seg-<producer>-<n>.log; the open one, if
  // any, and whether its first append has swept the orphans (under `this`)
  private val producer = java.util.UUID.randomUUID().toString
  private var segments = 0L
  private var open: Option[Segments.Open] = None
  private var swept = false

  /** Producer ingest (reference `Stream.append`, models.py:209-211): stamp
    * arrival time ([[arrivalMicros]]) and write the message as one record
    * of this producer's open segment, with one `write`, before returning. The
    * written record is the process boundary — no ack protocol and no
    * fsync, like the reference's fast-insert path (models.py:84-113).
    * Starts no Spark job and writes no parquet, except when the segment
    * is due to be sealed (see [[Segments.SealBytes]]).
    */
  def append(dataJson: String): Unit = synchronized {
    refuseIfClosed()
    write(Seq(dataJson))
  }

  /** [[append]] of several messages as one write, with one arrival time. */
  def appendAll(rows: Seq[String]): Unit = synchronized {
    refuseIfClosed()
    write(rows)
  }

  /** Append `rows` to the open segment: the first append of this handle
    * seals the segments their dead producers left; a segment at its size
    * or age bound is sealed and a new one opened. */
  private def write(rows: Seq[String]): Unit = if (rows.nonEmpty) {
    val createdMicros = arrivalMicros()
    val nowMs = createdMicros / 1000L
    if (!swept) {
      Segments.sealOrphans(spark, bufferPath)
      swept = true
    }
    if (open.exists(_.due(nowMs))) sealOpen()
    val s = open.getOrElse {
      val o = Segments.open(Files.createDirectories(bufferPath), s"$producer-$segments", name, this, nowMs)
      segments += 1
      open = Some(o)
      o
    }
    try s.append(Segments.encode(rows, createdMicros), nowMs)
    catch {
      case e: Throwable =>
        // a failed write may leave a torn record, past which no reader reads:
        // later appends go to a new segment, and a sweep seals this one
        open = None
        try s.close() catch { case c: Throwable => e.addSuppressed(c) }
        throw e
    }
  }

  /** Seal the open segment, if any (a log that `clear()` removed leaves nothing). */
  private def sealOpen(): Unit = synchronized {
    open.foreach { s =>
      Segments.seal(spark, bufferPath, s.id)
      s.close()
      open = None
    }
  }

  /** Seal the open segment if it is segment `id` and its newest append is
    * no newer than `cutoffMs`: a retention sweep's request. */
  private[streaming] def sealIfIdle(id: String, cutoffMs: Long): Unit = synchronized {
    if (open.exists(s => s.id == id && s.newestMs <= cutoffMs)) sealOpen()
  }

  /** Write `rows` as one parquet file in the buffer dir, with this
    * stream's name; the file's path. For messages with chosen `created`
    * times, and files that stand for another writer's.
    */
  private[graft] def writeBufferFile(rows: Seq[(String, Timestamp)]): java.nio.file.Path =
    writeMessages(spark,
      Files.createDirectories(bufferPath).resolve(s"part-${java.util.UUID.randomUUID()}.parquet"),
      rows.iterator.map { case (d, ts) => EmitterRunner.Message(name, ts, d) })

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

  /** Read of the buffer (reference `stream.buffer()`, models.py:282-284):
    * the parquet files, read by Spark (`*.parquet`), and the records of
    * every segment not sealed yet, decoded on the driver. The segments are
    * decoded first, and one whose sealed file Spark then lists is taken
    * from that file, so a seal racing the read neither drops nor doubles
    * its rows.
    */
  def buffer(): DataFrame = {
    val unsealed = Segments.list(bufferPath)._2.flatMap(id => Segments.read(bufferPath.resolve(Segments.logName(id)), 0L)
      .map(r => id -> r.appends.flatMap(_.messages)))
    val files =
      if (parquetFiles().isEmpty) spark.createDataFrame(spark.sparkContext.emptyRDD[Row], MessageSchema)
      // ignoreMissingFiles: the retention loop deletes whole files at any
      // time between a reader's file-listing and its execution — a
      // retention-enabled buffer must tolerate that, not fail the scan
      else spark.read.schema(MessageSchema).option("ignoreMissingFiles", "true")
        .option("pathGlobFilter", "*.parquet").parquet(bufferDir)
    val listed = files.inputFiles.map(f => f.substring(f.lastIndexOf('/') + 1)).toSet
    val rows = unsealed.collect { case (id, ms) if !listed(Segments.sealedName(id)) => ms }.flatten
    if (rows.isEmpty) files
    else files.union(FrameBridge.local(spark, MessageSchema, rows.map(EmitterRunner.internalRow(_))))
  }

  /** The parquet files of `buffer/` a reader reads, as [[BufferSource]] lists them ([[Segments.list]]). */
  private def parquetFiles(): Seq[java.nio.file.Path] =
    Segments.list(bufferPath)._1.filter(_.endsWith(".parquet")).map(bufferPath.resolve)

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

  /** Delete all buffered messages (reference `stream.clear()`,
    * models.py:216-217), this handle's open segment too; the next append
    * opens a new one. Another producer's segment goes as well, and that
    * producer opens a new one at its next append. */
  def clear(): Unit = synchronized {
    LocalParquet.deleteTree(bufferPath, keepRoot = true)
    open.foreach(_.close())
    open = None
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
    * the `closed` timestamp and CLOSED status, models.py:164-166): detach
    * background sources, stop the retention loop, seal this handle's open
    * segment, and durably flip meta.json status open→closed. After close, `append`/
    * `appendAll` throw; buffered data and window history remain readable.
    * Idempotent. Reopen explicitly with [[reopen]] — `getOrCreate` never
    * silently reopens (see [[StreamRegistry.getOrCreate]]).
    */
  def close(): Unit = synchronized {
    attached.foreach(_.detach())
    attached.clear()
    stopRetention()
    sealOpen()
    MbStream.writeMetaStatus(metaPath, name, "closed",
      closedMs = Some(System.currentTimeMillis()))
  }

  /** Explicitly reopen a closed stream — the deliberate inverse of [[close]];
    * nothing reopens implicitly.
    */
  def reopen(): Unit = synchronized {
    MbStream.writeMetaStatus(metaPath, name, "open", closedMs = None)
  }

  // meta.json's (file key, modification time, size) when last read, and whether it said closed
  private var metaSeen: Option[(AnyRef, Boolean)] = None

  /** Refuse an append to a closed stream. meta.json is read again only
    * when its file key, modification time or size changed: it is replaced
    * by `ATOMIC_MOVE` of a new file on every [[close]] and [[reopen]], so
    * each append costs one `readAttributes`. */
  private def refuseIfClosed(): Unit = {
    val closed = try {
      val a = Files.readAttributes(metaPath, classOf[BasicFileAttributes])
      val key = (a.fileKey, a.lastModifiedTime, a.size)
      metaSeen.collect { case (k, c) if a.fileKey != null && k == key => c }.getOrElse {
        val c = isClosed
        metaSeen = Some(key -> c)
        c
      }
    } catch { case _: NoSuchFileException => false }
    if (closed)
      throw new IllegalStateException(
        s"stream '$name' is closed — reopen() it before appending")
  }

  /** Retention / housekeeping (reference `max_age` autoclear,
    * models.py:309-348): drop buffer files whose NEWEST row is older than
    * maxAge. File-granularity deletion means at most one extra batch of
    * young-enough rows survives — same ≤2× maxAge guarantee the reference
    * documents (models.py:327-338). At cluster scale this is a partition
    * drop on a date-partitioned buffer, never a row rewrite.
    *
    * A sweep runs no Spark job. It first seals the segments no live
    * producer holds, and the open segments of this JVM's producers whose
    * newest record has expired ([[Segments.sealOrphans]]); a live
    * producer of another process keeps its segment until it seals it.
    * Each parquet file is then judged by the `created` maximum in its
    * footer statistics, or, where the footer has none (Spark writes no
    * statistics for INT96 `created`), by reading that one column on the
    * driver. A file deleted since the listing is skipped.
    */
  def runRetention(maxAgeSeconds: Double, nowMs: Long = System.currentTimeMillis()): Int = {
    val cutoff = nowMs - (maxAgeSeconds * 1000L).toLong
    Segments.sealOrphans(spark, bufferPath, idleBefore = Some(cutoff))
    val opts = HadoopReadOptions.builder(spark.sparkContext.hadoopConfiguration).build()
    parquetFiles().count(p => newestCreatedMs(p, opts).exists(_ <= cutoff) && { Files.deleteIfExists(p); true })
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

  private val lastArrival = new java.util.concurrent.atomic.AtomicLong(Long.MinValue)

  /** The arrival time of an append, epoch µs: the clock's, or, when that is
    * no later, one µs past the previous append's in this JVM. Appends
    * through different handles then keep the order they were made in,
    * which an emitter capped by `maxFilesPerTrigger` takes them in, and
    * which a window orders its messages by. */
  private[streaming] def arrivalMicros(): Long = {
    val now = java.time.Instant.now()
    val us = now.getEpochSecond * 1000000L + now.getNano / 1000
    lastArrival.updateAndGet(prev => math.max(us, prev + 1))
  }

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
    * [[MbStream.writeBufferFile]] writes.
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

  /** Write `msgs` as the parquet file `file` (schema [[BufferParquetSchema]]),
    * on the calling thread and without a Spark job; the file's path.
    *
    * The file is written with parquet's example writer, not by a Spark
    * job. Its schema has `created` as INT64 TIMESTAMP(MICROS, UTC); files
    * written by Spark's own writer, with INT96 `created`, read back
    * identically. Its codec is the session's
    * `spark.sql.parquet.compression.codec`. The rows go through parquet's
    * `LocalOutputFile` to the hidden `.<name>.tmp` and are moved
    * (`ATOMIC_MOVE`) to `file` once the footer is written
    * ([[LocalParquet.writeFile]]), so the emitter's [[BufferSource]] and
    * [[MbStream.buffer]] never list a partial file. No Hadoop filesystem is
    * involved: no `.crc` sidecar, and no forked `chmod`/`stat` process
    * where Hadoop's native library is absent.
    */
  private[streaming] def writeMessages(spark: SparkSession, file: java.nio.file.Path,
      msgs: Iterator[EmitterRunner.Message]): java.nio.file.Path = {
    val groups = new SimpleGroupFactory(BufferParquetSchema)
    LocalParquet.writeFile(spark, file, BufferParquetSchema, msgs.map(m =>
      groups.newGroup().append("stream", m.stream).append("created", toMicros(m.created)).append("data", m.data)))
  }

  /** The Julian day number of 1970-01-01, the epoch of INT96 timestamps' day field. */
  private val JulianDayOfEpoch = 2440588

  /** Read one buffer file on the calling thread, without a Spark job:
    * every row as a [[EmitterRunner.Message]], in file order. `created` may
    * be INT64 `TIMESTAMP(MICROS)`, as [[MbStream.writeBufferFile]] writes it, or
    * Spark's INT96, as buffers written by Spark's own writer hold it.
    * `opts` carries the Hadoop configuration the codecs read: build it once
    * per reader, since a fresh `Configuration` re-parses Hadoop's XML
    * defaults. No rows when the file is gone, as a scan with
    * `ignoreMissingFiles` skips it.
    */
  private[streaming] def readBufferFile(file: java.nio.file.Path, opts: ParquetReadOptions): Seq[EmitterRunner.Message] =
    withReader(file, opts)(Seq.empty[EmitterRunner.Message]) { reader =>
      val schema = reader.getFooter.getFileMetaData.getSchema
      val Seq(stream, created, data) = Seq("stream", "created", "data").map(schema.getFieldIndex)
      val micros = createdMicros(file, schema.getType(created).asPrimitiveType, created)
      val rows = ArrayBuffer.empty[EmitterRunner.Message]
      eachRow(reader, schema)(g => rows += EmitterRunner.Message(g.getString(stream, 0), fromMicros(micros(g)), g.getString(data, 0)))
      rows.toSeq
    }

  /** `body` of a reader of `file`, or `gone` when the file is gone. */
  private def withReader[T](file: java.nio.file.Path, opts: ParquetReadOptions)(gone: => T)(body: ParquetFileReader => T): T = {
    val opened =
      try Some(ParquetFileReader.open(new LocalInputFile(file), opts))
      catch { case _: java.io.FileNotFoundException | _: NoSuchFileException => None }
    opened.fold(gone)(reader => try body(reader) finally reader.close())
  }

  /** Every row of `reader`'s file in the columns of `schema` (the file's, or the reader's requested schema), in file order. */
  private def eachRow(reader: ParquetFileReader, schema: MessageType)(f: Group => Unit): Unit = {
    val io = new ColumnIOFactory().getColumnIO(schema, reader.getFooter.getFileMetaData.getSchema)
    var pages = reader.readNextRowGroup()
    while (pages != null) {
      val records = io.getRecordReader(pages, new GroupRecordConverter(schema))
      for (_ <- 0L until pages.getRowCount) f(records.read())
      pages = reader.readNextRowGroup()
    }
  }

  /** The rows of a buffer file from its footer; None when the file is gone. */
  private[streaming] def rowCount(file: java.nio.file.Path, opts: ParquetReadOptions): Option[Long] =
    withReader(file, opts)(Option.empty[Long])(r => Some(r.getRecordCount))

  /** The newest `created` of a buffer file, in epoch ms (µs floored), or
    * None when it has no row or is gone: from the footer's statistics when
    * every row group has them, else from that one column, read here. */
  private[streaming] def newestCreatedMs(file: java.nio.file.Path, opts: ParquetReadOptions): Option[Long] =
    withReader(file, opts)(Option.empty[Long]) { reader =>
      val schema = reader.getFooter.getFileMetaData.getSchema
      val t = schema.getType(schema.getFieldIndex("created")).asPrimitiveType
      val stats = reader.getFooter.getBlocks.asScala.toSeq.map(_.getColumns.asScala
        .find(_.getPath.toDotString == "created").map(_.getStatistics).filter(_.hasNonNullValue))
      val micros = t.getLogicalTypeAnnotation match {
        case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
            if ts.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS && stats.forall(_.nonEmpty) =>
          stats.flatten.map(_.genericGetMax.asInstanceOf[java.lang.Long].longValue).maxOption
        case _ =>
          val column = new MessageType(schema.getName, t)
          reader.setRequestedSchema(column)
          val value = createdMicros(file, t, 0)
          var newest = Option.empty[Long]
          eachRow(reader, column)(g => newest = Some(newest.fold(value(g))(math.max(_, value(g)))))
          newest
      }
      micros.map(Math.floorDiv(_, 1000L))
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
