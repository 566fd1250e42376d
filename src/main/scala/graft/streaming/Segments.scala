package graft.streaming

import java.lang.ref.WeakReference
import java.nio.ByteBuffer
import java.nio.channels.{FileChannel, OverlappingFileLockException}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, NoSuchFileException, Path, StandardCopyOption}
import java.nio.file.StandardOpenOption.{APPEND, CREATE, CREATE_NEW, READ, WRITE}
import java.util.concurrent.ConcurrentHashMap
import java.util.zip.CRC32C

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.streaming.EmitterRunner.Message

/** The buffer's segment log: where `MbStream.append` writes.
  *
  * Each producer (one [[MbStream]] handle) appends to its open segment,
  * `buffer/.seg-<producer>-<n>.log`. The log is a header (magic, format
  * version, the stream name as a length and UTF-8 bytes) and then
  * records, each a payload's byte length, a CRC32C, `created` in epoch
  * µs, a flag byte and the UTF-8 payload; the CRC covers `created`, the
  * flag and the payload. One append, of one message or of
  * `appendAll`'s N, is one `write`, and its last record's flag marks
  * the end of the append. A reader takes whole appends only: a short,
  * torn or CRC-failing record, or records whose append has not ended,
  * end what it reads, so a crash mid-write loses at most the append it
  * interrupted, whose call never returned.
  *
  * A segment is sealed into `part-<producer>-<n>.parquet` ([[seal]]): its
  * records in log order, so row `i` of the sealed file is the log's
  * record `i`. Once that file exists the log is ignored by every reader
  * and deleted; a log whose readable records end short of its size is
  * moved aside to `.seg-<producer>-<n>.log.damaged` instead, with a
  * warning, so the bytes past the damage stay on disk. Segment names
  * start with `.`, so Spark's listing, and any reader of `buffer/` as a
  * parquet table, never sees one.
  *
  * Liveness: the producer holds a `FileChannel` lock on the hidden
  * sidecar `.seg-<producer>-<n>.lock` while its segment is open. The
  * lock is on a sidecar because on POSIX systems closing any descriptor
  * of a file drops every lock the process holds on it, and emitters and
  * `buffer()` open and close the log itself all the time. The same rule
  * is why a sweep never opens the sidecar of a segment that a producer
  * of its own JVM holds ([[sealOrphans]]); another process's segment is
  * "held" when its lock cannot be taken.
  */
private[graft] object Segments {

  private lazy val logger = org.slf4j.LoggerFactory.getLogger(getClass)

  /** A segment is sealed at the first append that finds it this large.
    * 4 MiB keeps a sealed file to one parquet row group of a few
    * thousand messages, so a reader of `buffer/` sees few files, while
    * re-reading a whole open segment (`buffer()`, a sweep) stays cheap. */
  val SealBytes: Long = 4L << 20

  /** ... or its first record this old (ms), so a slow producer's messages
    * still reach parquet, and a retention judgement, within about a
    * minute. Both bounds are checked at the next append: an idle
    * producer's segment waits for it, for `close()`, or for a retention
    * sweep that finds its newest record expired. */
  val SealAgeMs: Long = 60000L

  private val Magic = 0x4753454c // "GSEL"
  private val FormatVersion = 1
  private val HeaderFixed = 12
  /** length, CRC32C, created µs, flags */
  private val RecordHeader = 17
  private val EndsAppend: Byte = 1

  private val LogName = """\.seg-(.+)\.log""".r

  /** The segment id of a log's file name. */
  def segmentOf(fileName: String): Option[String] = fileName match {
    case LogName(id) => Some(id)
    case _ => None
  }

  def logName(id: String): String = s".seg-$id.log"
  def damagedName(id: String): String = s".seg-$id.log.damaged"
  def lockName(id: String): String = s".seg-$id.lock"
  def sealedName(id: String): String = s"part-$id.parquet"

  /** One append's records: the byte just past them, and their messages. */
  final case class Append(end: Long, messages: Vector[Message])

  /** What [[read]] found: the byte it started at, the complete appends
    * from there, and the byte it read up to. */
  final case class Read(start: Long, appends: Vector[Append], upTo: Long) {
    /** The byte just past the last complete append: short of [[upTo]] when
      * what follows is torn, fails its CRC, or is an append not ended yet. */
    def end: Long = appends.lastOption.fold(start)(_.end)
  }

  private def header(stream: String): ByteBuffer = {
    val name = stream.getBytes(UTF_8)
    ByteBuffer.allocate(HeaderFixed + name.length).putInt(Magic).putInt(FormatVersion).putInt(name.length).put(name).flip()
  }

  /** The records of one append of `rows`, created at `createdMicros`. */
  def encode(rows: Seq[String], createdMicros: Long): ByteBuffer = {
    val payloads = rows.map(_.getBytes(UTF_8))
    val buf = ByteBuffer.allocate(payloads.map(RecordHeader + _.length).sum)
    val crc = new CRC32C()
    payloads.iterator.zipWithIndex.foreach { case (p, i) =>
      val at = buf.position()
      buf.putInt(p.length).putInt(0).putLong(createdMicros)
        .put(if (i == payloads.size - 1) EndsAppend else 0.toByte).put(p)
      crc.reset()
      crc.update(buf.array, at + 8, 9 + p.length)
      buf.putInt(at + 4, crc.getValue.toInt)
    }
    buf.flip()
  }

  /** `n` bytes of `ch` from `at`, fewer if the file ends first. */
  private def bytes(ch: FileChannel, at: Long, n: Int): Array[Byte] = {
    val b = ByteBuffer.allocate(n)
    while (b.hasRemaining && ch.read(b, at + b.position()) >= 0) {}
    if (b.hasRemaining) java.util.Arrays.copyOf(b.array, b.position()) else b.array
  }

  /** The complete appends of the log `log` from byte `from` (0: its first
    * record, which must otherwise be where an append starts) up to byte
    * `until`; None when the log is gone. */
  def read(log: Path, from: Long, until: Long = Long.MaxValue): Option[Read] = {
    val ch = try FileChannel.open(log, READ) catch { case _: NoSuchFileException => return None }
    try {
      val size = math.min(ch.size, until)
      val fixed = ByteBuffer.wrap(bytes(ch, 0, HeaderFixed))
      if (fixed.limit() < HeaderFixed) Some(Read(from, Vector.empty, size)) // being created
      else {
        if (fixed.getInt(0) != Magic || fixed.getInt(4) != FormatVersion)
          throw new IllegalStateException(s"$log: not a graft segment log of format $FormatVersion")
        val nameLen = fixed.getInt(8)
        val start = math.max(from, HeaderFixed.toLong + nameLen)
        val stream = new String(bytes(ch, HeaderFixed, nameLen), UTF_8)
        val arr = if (size <= start) Array.emptyByteArray else bytes(ch, start, Math.toIntExact(size - start))
        Some(Read(start, parse(stream, arr, start), math.max(start, size)))
      }
    } finally ch.close()
  }

  /** The complete appends in `arr`, which starts at byte `base` of a log. */
  private def parse(stream: String, arr: Array[Byte], base: Long): Vector[Append] = {
    val buf = ByteBuffer.wrap(arr)
    val crc = new CRC32C()
    val appends = Vector.newBuilder[Append]
    var open = Vector.newBuilder[Message]
    var p = 0
    var intact = true
    while (intact && arr.length - p >= RecordHeader) {
      val len = buf.getInt(p)
      intact = len >= 0 && arr.length - p - RecordHeader >= len && {
        crc.reset()
        crc.update(arr, p + 8, 9 + len)
        crc.getValue.toInt == buf.getInt(p + 4)
      }
      if (intact) {
        open += Message(stream, MbStream.fromMicros(buf.getLong(p + 8)), new String(arr, p + RecordHeader, len, UTF_8))
        val ends = (buf.get(p + 16) & EndsAppend) != 0
        p += RecordHeader + len
        if (ends) {
          appends += Append(base + p, open.result())
          open = Vector.newBuilder[Message]
        }
      }
    }
    appends.result()
  }

  /** A name a parquet file source reads: it starts with neither `.` nor `_`. */
  def visible(name: String): Boolean = !name.startsWith(".") && !name.startsWith("_")

  /** `dir` now: the visible names, and the ids of its segment logs, sorted. */
  def list(dir: Path): (Seq[String], Seq[String]) =
    try {
      val s = Files.newDirectoryStream(dir)
      try {
        val names = s.iterator().asScala.map(_.getFileName.toString).toSeq
        (names.filter(visible), names.flatMap(segmentOf).sorted)
      } finally s.close()
    } catch { case _: NoSuchFileException => (Nil, Nil) }

  /** Seal segment `id` of `buffer`, whose lock the caller holds: write its
    * readable records, in log order, as `part-<id>.parquet`
    * ([[MbStream.writeMessages]]: a hidden temp file published by
    * `ATOMIC_MOVE`), then delete the log, or, when bytes past its readable
    * records are torn or fail their CRC, move it aside to
    * `.seg-<id>.log.damaged` and warn. A log whose sealed file exists
    * already is only deleted, and one with no record leaves no file. */
  def seal(spark: SparkSession, buffer: Path, id: String): Unit = {
    val seg = buffer.resolve(logName(id))
    val file = buffer.resolve(sealedName(id))
    if (!Files.exists(file)) read(seg, 0L).foreach { r =>
      val msgs = r.appends.flatMap(_.messages)
      if (msgs.nonEmpty) MbStream.writeMessages(spark, file, msgs.iterator)
      if (r.end < r.upTo) {
        val aside = buffer.resolve(damagedName(id))
        logger.warn(s"$seg: the ${r.upTo - r.end} bytes from byte ${r.end} are torn or fail their CRC, so no reader " +
          s"reads them; sealed the ${msgs.size} records before them into $file and moved the log to $aside")
        Files.move(seg, aside, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      }
    }
    Files.deleteIfExists(seg)
  }

  // the logs that producers of this JVM hold open, each to its producer
  private val held = new ConcurrentHashMap[Path, WeakReference[MbStream]]()

  private def key(log: Path): Path = log.toAbsolutePath.normalize

  /** The live producer of this JVM that holds `log` open, if any. */
  private def holder(log: Path): Option[MbStream] = Option(held.get(key(log))).flatMap { ref =>
    val owner = Option(ref.get)
    if (owner.isEmpty) held.remove(key(log), ref) // its producer is gone; its channels close with it
    owner
  }

  /** Seal every segment of `buffer` that no live producer holds: those a
    * producer of this JVM holds are left alone, and any other whose lock
    * can be taken is sealed under it. With `idleBefore` (epoch ms), a
    * producer of this JVM whose newest record is no newer seals its own
    * segment as well, so retention can judge it. */
  def sealOrphans(spark: SparkSession, buffer: Path, idleBefore: Option[Long] = None): Unit =
    list(buffer)._2.foreach { id =>
      holder(buffer.resolve(logName(id))) match {
        case Some(owner) => idleBefore.foreach(owner.sealIfIdle(id, _))
        case None => sealIfUnlocked(spark, buffer, id)
      }
    }

  private def sealIfUnlocked(spark: SparkSession, buffer: Path, id: String): Unit = {
    val lockFile = buffer.resolve(lockName(id))
    val ch = try FileChannel.open(lockFile, CREATE, WRITE) catch { case _: NoSuchFileException => return }
    try {
      // held by another channel of this JVM: a producer gone unreachable whose channels are not closed yet
      val lock = try ch.tryLock() catch { case _: OverlappingFileLockException => null }
      if (lock != null) {
        seal(spark, buffer, id)
        Files.deleteIfExists(lockFile)
      }
    } finally ch.close()
  }

  /** A producer's open segment: the log it appends to, the lock it holds,
    * its size, and the times of its first and newest appends (epoch ms). */
  final class Open private[Segments] (val id: String, log: Path, lockFile: Path, lockCh: FileChannel,
      ch: FileChannel, firstMs: Long) {
    private var size = ch.size
    var newestMs: Long = firstMs

    /** Write one append's records with one `write`. */
    def append(records: ByteBuffer, nowMs: Long): Unit = {
      size += records.remaining
      while (records.hasRemaining) ch.write(records)
      newestMs = nowMs
    }

    /** Whether the next append must seal or leave this segment first: it is
      * at its size or age bound, or its log is gone (`clear()`). */
    def due(nowMs: Long): Boolean = size >= SealBytes || nowMs - firstMs >= SealAgeMs || !Files.exists(log)

    /** Close the log and give up the lock; the sidecar goes with it. */
    def close(): Unit =
      try ch.close()
      finally try lockCh.close() finally { Files.deleteIfExists(lockFile); held.remove(key(log)) }
  }

  /** Open segment `id` in `buffer` for `owner`, whose stream is `stream`:
    * its lock first, so a sweep never finds the log unlocked, then the log
    * and its header. */
  def open(buffer: Path, id: String, stream: String, owner: MbStream, nowMs: Long): Open = {
    val log = buffer.resolve(logName(id))
    val lockFile = buffer.resolve(lockName(id))
    held.put(key(log), new WeakReference(owner))
    val lockCh = FileChannel.open(lockFile, CREATE_NEW, WRITE)
    try {
      lockCh.lock()
      val ch = FileChannel.open(log, CREATE_NEW, WRITE, APPEND)
      val head = header(stream)
      while (head.hasRemaining) ch.write(head)
      new Open(id, log, lockFile, lockCh, ch, nowMs)
    } catch {
      case e: Throwable =>
        lockCh.close()
        Files.deleteIfExists(lockFile)
        held.remove(key(log))
        throw e
    }
  }
}
