package graft.streaming

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, NoSuchFileException, Path, Paths, StandardCopyOption, StandardOpenOption}
import java.nio.file.attribute.BasicFileAttributes
import java.util.UUID

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.streaming.EmitterRunner.Message

/** What a batch starts from, and what it leaves to its successor: the
  * count-window carry (None for a time-window emitter) and the `emitEmpty`
  * high-water mark, the newest window id emitted (`Long.MinValue` before
  * the first).
  */
private[streaming] final case class BatchState(carry: Option[CountCarry], mark: Long)

/** Batch `batchId` of an emitter: the buffer files it takes, and the state it starts from. */
private[streaming] final case class BatchRecord(batchId: Long, files: Seq[String], in: BatchState)

/** The buffer files each batch of an emitter takes, and the emitter's
  * batch log. Used by one emitter thread at a time.
  *
  * [[take]] lists `buffer/` with NIO and takes the files a parquet file
  * source would (regular files whose names start with neither `.` nor
  * `_`) that no batch has taken, oldest modification time first (then by
  * name), at most `maxFilesPerTrigger`. After [[prepareAvailableNow]] it
  * takes only the files untaken then, so `Trigger.AvailableNow` lists once.
  *
  * The log, `checkpoints/graft-batches/`, holds:
  *  - `<k>`, the [[BatchRecord]] of batch `k`, written before the batch is
  *    read and published by a hard link from a hidden temp file, which
  *    fails if `<k>` exists: an emitter racing for batch `k` fails instead
  *    of emitting it twice;
  *  - `<k>.commit`, the state batch `k` leaves, written once it is emitted
  *    and persisted;
  *  - `<k>.compact` with every [[CompactInterval]]-th record: every file
  *    taken up to batch `k` that the buffer still held.
  *
  * A restarted source takes the newest compact plus the records after it
  * as the files it has seen. A newest record with no marker is
  * [[pending]]: it runs again with the same files and state before any
  * new file is taken. Otherwise the next batch starts from the marker's
  * state and never re-reads the committed files, which retention may have
  * deleted. The seen set drops every name the buffer no longer lists
  * (buffer file names are UUIDs and never return), so it is bounded by the
  * buffer; a compaction deletes the records and markers up to the
  * previous compaction.
  */
private[streaming] final class BufferSource(stream: MbStream, maxFiles: Option[Int], initial: BatchState) {
  import BufferSource._

  private val buffer = Paths.get(stream.bufferDir)
  private val log = logDir(stream)

  // every name taken so far, and the untaken files (name -> modification
  // time) when Trigger.AvailableNow started
  private val seen = mutable.HashSet.empty[String]
  private var availableNow: Option[Map[String, Long]] = None

  /** The state the last committed batch left, and the id of the next new batch. */
  private var committed: BatchState = initial
  private var nextId: Long = 0L

  /** The record written but not committed yet: the batch to run (again) first. */
  var pending: Option[BatchRecord] = None

  locally {
    refuseSparkCheckpoint(stream)
    val names = list(log)
    val records = names.collect { case RecordName(k) => k.toLong }.sorted
    val compact = names.collect { case CompactName(k) => k.toLong }.maxOption
    compact.foreach(c => seen ++= read(log.resolve(s"$c.compact"))(readNames))
    records.filter(_ > compact.getOrElse(-1L)).foreach(k => seen ++= readRecord(k).files)
    records.lastOption.foreach { k =>
      nextId = k + 1
      try committed = read(marker(k))(readState)
      catch { case _: NoSuchFileException => pending = Some(readRecord(k)) }
    }
  }

  /** The emitter's query id, the same on every start over this log. */
  val queryId: UUID = UUID.nameUUIDFromBytes(log.toAbsolutePath.normalize.toString.getBytes(UTF_8))

  /** The batch that runs next: its id and the state it starts from. */
  def upcoming: (Long, BatchState) = pending.fold((nextId, committed))(r => (r.batchId, r.in))

  def prepareAvailableNow(): Unit = availableNow = Some(untaken().toMap)

  /** The listed files not taken yet, with their modification times; the
    * seen set first drops every name the buffer no longer lists. */
  private def untaken(): Seq[(String, Long)] = {
    val listed = list(buffer).toSet
    seen.filterInPlace(listed.contains)
    (listed -- seen).toSeq.flatMap { n =>
      try {
        val a = Files.readAttributes(buffer.resolve(n), classOf[BasicFileAttributes])
        if (a.isRegularFile) Some((n, a.lastModifiedTime.toMillis)) else None
      } catch { case _: NoSuchFileException => None } // deleted since the listing
    }
  }

  /** The names of the files the next batch takes, in order; empty when there is none. */
  def take(): Seq[String] = {
    val fresh = availableNow.fold(untaken())(_.toSeq.filterNot(f => seen(f._1)))
      .sortBy { case (n, mtime) => (mtime, n) }.map(_._1)
    maxFiles.fold(fresh)(fresh.take)
  }

  /** Record the next batch as taking `files`, starting from the committed state. */
  def record(files: Seq[String]): BatchRecord = {
    val r = BatchRecord(nextId, files, committed)
    publish(log.resolve(r.batchId.toString), replace = false) { out => writeNames(out, files); writeState(out, r.in) }
    seen ++= files
    pending = Some(r)
    nextId += 1
    if ((r.batchId + 1) % CompactInterval == 0) compact(r.batchId)
    r
  }

  /** Mark `r` committed, leaving `out` to the next batch. */
  def commit(r: BatchRecord, out: BatchState): Unit = {
    publish(marker(r.batchId), replace = true)(writeState(_, out))
    committed = out
    pending = None
  }

  private def marker(k: Long): Path = log.resolve(s"$k.commit")

  private def readRecord(k: Long): BatchRecord = read(log.resolve(k.toString))(in => BatchRecord(k, readNames(in), readState(in)))

  private def compact(k: Long): Unit = {
    publish(log.resolve(s"$k.compact"), replace = true)(writeNames(_, seen.toSeq.sorted))
    list(log).foreach {
      case CompactName(c) if c.toLong < k => Files.deleteIfExists(log.resolve(s"$c.compact"))
      case n @ (RecordName(_) | MarkerName(_)) if n.takeWhile(_.isDigit).toLong <= k - CompactInterval =>
        Files.deleteIfExists(log.resolve(n))
      case _ => ()
    }
  }
}

private[graft] object BufferSource {

  /** A compact file is written with every `CompactInterval`-th record, as
    * Spark's file source log compacts by default. */
  private val CompactInterval = 10

  private val Version = 1
  private val RecordName = """(\d+)""".r
  private val MarkerName = """(\d+)\.commit""".r
  private val CompactName = """(\d+)\.compact""".r

  /** The batch log of the emitter of `stream`. */
  def logDir(stream: MbStream): Path = Paths.get(stream.checkpointsDir, "graft-batches")

  /** Refuse a checkpoint that an emitter on Spark's streaming engine wrote
    * (Spark's `offsets/` log, or its file source's `sources/0`) and that
    * has no batch log: which buffer files it emitted cannot be told from
    * new ones. */
  private def refuseSparkCheckpoint(stream: MbStream): Unit = {
    val sparkLogs = Seq("offsets", "sources/0").map(Paths.get(stream.checkpointsDir, _)).filter(Files.exists(_))
    if (sparkLogs.nonEmpty && !Files.exists(logDir(stream)))
      throw new IllegalStateException(
        s"stream '${stream.name}': the checkpoint ${stream.checkpointsDir} was written by an earlier emitter " +
          s"on Spark's streaming engine (it has ${sparkLogs.mkString(" and ")}, and no ${logDir(stream)}), " +
          "so the files it emitted cannot be told from new ones. Drain the stream on the release that " +
          s"wrote the checkpoint, or delete ${stream.checkpointsDir} to re-read the buffer from its start.")
  }

  /** The names in `dir` that start with neither `.` nor `_` (a file
    * source skips the others; whether one is a regular file is checked
    * only for names not taken yet). */
  private def list(dir: Path): Seq[String] =
    try {
      val s = Files.newDirectoryStream(dir)
      try s.iterator().asScala.map(_.getFileName.toString).filter(n => !n.startsWith(".") && !n.startsWith("_")).toSeq
      finally s.close()
    } catch { case _: NoSuchFileException => Nil }

  /** Write `f` through a hidden temp file: moved over `f` when `replace`,
    * hard-linked to `f` otherwise, which fails if `f` exists. */
  private def publish(f: Path, replace: Boolean)(body: DataOutputStream => Unit): Unit = {
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    out.writeInt(Version)
    body(out)
    out.flush()
    Files.createDirectories(f.getParent)
    val tmp = f.resolveSibling(s".${f.getFileName}.${UUID.randomUUID()}.tmp")
    Files.write(tmp, bytes.toByteArray, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
    try {
      if (replace) Files.move(tmp, f, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      else Files.createLink(f, tmp)
    } finally Files.deleteIfExists(tmp)
  }

  private def read[T](f: Path)(body: DataInputStream => T): T = {
    val in = new DataInputStream(new ByteArrayInputStream(Files.readAllBytes(f)))
    val version = in.readInt()
    if (version != Version) throw new IllegalStateException(s"$f: batch log format $version, expected $Version")
    body(in)
  }

  private def writeNames(out: DataOutputStream, names: Seq[String]): Unit = {
    out.writeInt(names.size)
    names.foreach(out.writeUTF)
  }

  private def readNames(in: DataInputStream): Seq[String] = Seq.fill(in.readInt())(in.readUTF())

  // a payload may exceed writeUTF's 64 KB, so messages carry byte lengths
  private def writeState(out: DataOutputStream, s: BatchState): Unit = {
    def utf8(v: String): Unit = { val b = v.getBytes(UTF_8); out.writeInt(b.length); out.write(b) }
    out.writeLong(s.mark)
    out.writeBoolean(s.carry.isDefined)
    s.carry.foreach { c =>
      out.writeLong(c.nextWindowId)
      out.writeLong(c.newestMs)
      out.writeInt(c.pending.size)
      c.pending.foreach { m => utf8(m.stream); out.writeLong(MbStream.toMicros(m.created)); utf8(m.data) }
    }
  }

  private def readState(in: DataInputStream): BatchState = {
    def utf8(): String = { val b = new Array[Byte](in.readInt()); in.readFully(b); new String(b, UTF_8) }
    val mark = in.readLong()
    val carry = if (!in.readBoolean()) None else {
      val next = in.readLong()
      val newest = in.readLong()
      Some(CountCarry(next, newest, Vector.fill(in.readInt())(Message(utf8(), MbStream.fromMicros(in.readLong()), utf8()))))
    }
    BatchState(carry, mark)
  }
}
