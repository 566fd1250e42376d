package graft.streaming

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, NoSuchFileException, Path, Paths, StandardCopyOption, StandardOpenOption}
import java.nio.file.attribute.BasicFileAttributes
import java.util.UUID
import java.util.concurrent.TimeUnit

import scala.collection.mutable

import org.apache.parquet.HadoopReadOptions

import graft.streaming.EmitterRunner.Message

/** What a batch starts from, and what it leaves to its successor: the
  * count-window carry (None for a time-window emitter) and the `emitEmpty`
  * high-water mark, the newest window id emitted (`Long.MinValue` before
  * the first).
  */
private[streaming] final case class BatchState(carry: Option[CountCarry], mark: Long)

/** Records `[fromRow, toRow)` of segment `segment` (row `i` is the log's
  * record `i`, and row `i` of its sealed file): bytes `[fromByte, toByte)`
  * of its log, or, when they were taken from the sealed file,
  * `fromByte = toByte = -1`. */
private[streaming] final case class SegmentRange(segment: String, fromByte: Long, toByte: Long, fromRow: Long, toRow: Long)

/** Batch `batchId` of an emitter: the whole buffer files and the segment
  * ranges it takes, and the state it starts from. A record that takes
  * neither is a drain's flush: it emits the count carry's sub-N tail
  * (see [[EmitterBuilder.flushPartialOnDrain]]). */
private[streaming] final case class BatchRecord(batchId: Long, files: Seq[String], ranges: Seq[SegmentRange], in: BatchState) {
  def isFlush: Boolean = files.isEmpty && ranges.isEmpty
}

/** What [[BufferSource.take]] found for the next batch. */
private[streaming] final case class Taken(files: Seq[String], ranges: Seq[SegmentRange]) {
  def isEmpty: Boolean = files.isEmpty && ranges.isEmpty
}

/** The buffer files and segment records each batch of an emitter takes,
  * and the emitter's batch log. Used by one emitter thread at a time.
  *
  * [[take]] lists `buffer/` with NIO and finds the units it may take:
  *  - the files a parquet file source would (regular files whose names
  *    start with neither `.` nor `_`) that no batch has taken, each whole,
  *    aged by its modification time;
  *  - the rest of each sealed file whose segment earlier batches read in
  *    part, aged by its first untaken record, and none of a sealed file
  *    whose rows were all taken from its log: that file is marked seen
  *    unread;
  *  - each unsealed segment's new complete appends, from its cursor, each
  *    append one unit, as its parquet file was before appends went to a
  *    log ([[Segments]]), aged by its `created`. A short, torn or
  *    CRC-failing record ends what is read, so no cursor passes it.
  * It takes them oldest first, across all sources, at most
  * `maxFilesPerTrigger` of them: a producer that appends faster than the
  * cap does not starve another, and a capped drain emits in the order the
  * appends were made in. After [[prepareAvailableNow]] it takes
  * only the files untaken then and each segment's records up to its
  * readable end then, from its log or, once it is sealed, its sealed
  * file, so `Trigger.AvailableNow` lists once.
  *
  * The log, `checkpoints/graft-batches/`, holds:
  *  - `<k>`, the [[BatchRecord]] of batch `k`, written before the batch is
  *    read and published by a hard link from a hidden temp file, which
  *    fails if `<k>` exists: an emitter racing for batch `k` fails instead
  *    of emitting it twice;
  *  - `<k>.commit`, the state batch `k` leaves, written once it is emitted
  *    and persisted;
  *  - `<k>.compact` with every [[CompactInterval]]-th record: every file
  *    taken up to batch `k` that the buffer still held, and every
  *    segment's cursor (the byte and row its records were taken up to).
  *
  * A restarted source takes the newest compact plus the records after it
  * as the files it has seen and the cursors. A newest record with no
  * marker is [[pending]]: it runs again with the same files, ranges and
  * state before anything new is taken, reading each range from its log
  * or, once the segment is sealed, from the same rows of its sealed file.
  * Otherwise the next batch starts from the marker's state and never
  * re-reads what was committed, which retention may have deleted. The
  * seen set drops every name the buffer no longer lists, and a cursor
  * goes once neither its log nor its sealed file exists (buffer file and
  * segment names are UUIDs and never return), so both are bounded by the
  * buffer; a compaction deletes the records and markers up to the
  * previous compaction. A log of format 1, written before appends went
  * to segments, lists files only and resumes as it is.
  */
private[streaming] final class BufferSource(stream: MbStream, maxFiles: Option[Int], initial: BatchState) {
  import BufferSource._

  private val buffer = Paths.get(stream.bufferDir)
  private val log = logDir(stream)
  private val readOpts = HadoopReadOptions.builder(stream.spark.sparkContext.hadoopConfiguration).build()

  // every name taken so far, each segment's cursor, and what was untaken
  // when Trigger.AvailableNow started
  private val seen = mutable.HashSet.empty[String]
  private val cursors = mutable.HashMap.empty[String, Cursor]
  private var availableNow: Option[Snapshot] = None
  // the messages of the ranges the latest take read from their logs
  private var fresh = Map.empty[SegmentRange, Seq[Message]]

  /** The state the last committed batch left, and the id of the next new batch. */
  private var committed: BatchState = initial
  private var nextId: Long = 0L

  /** The record written but not committed yet: the batch to run (again) first. */
  var pending: Option[BatchRecord] = None

  locally {
    refuseSparkCheckpoint(stream)
    val names = Segments.list(log)._1
    val records = names.collect { case RecordName(k) => k.toLong }.sorted
    val compact = names.collect { case CompactName(k) => k.toLong }.maxOption
    compact.foreach(c => read(log.resolve(s"$c.compact")) { (in, version) =>
      seen ++= readNames(in)
      if (version > 1) cursors ++= readCursors(in)
    })
    records.filter(_ > compact.getOrElse(-1L)).foreach(k => advance(readRecord(k)))
    records.lastOption.foreach { k =>
      nextId = k + 1
      try committed = read(marker(k))((in, _) => readState(in))
      catch { case _: NoSuchFileException => pending = Some(readRecord(k)) }
    }
  }

  /** The emitter's query id, the same on every start over this log. */
  val queryId: UUID = UUID.nameUUIDFromBytes(log.toAbsolutePath.normalize.toString.getBytes(UTF_8))

  /** The batch that runs next: its id and the state it starts from. */
  def upcoming: (Long, BatchState) = pending.fold((nextId, committed))(r => (r.batchId, r.in))

  /** Take what a record of `r` took: its files are seen, its segments' cursors move to its ranges' ends. */
  private def advance(r: BatchRecord): Unit = {
    seen ++= r.files
    r.ranges.foreach { g =>
      val c = cursors.getOrElse(g.segment, Start)
      cursors(g.segment) = Cursor(if (g.toByte < 0) c.byte else g.toByte, g.toRow)
    }
  }

  /** `buffer/` now: the visible names, and the ids of the logs whose sealed file is not listed. */
  private def listing(): (Seq[String], Seq[String]) = {
    val (files, logs) = Segments.list(buffer)
    val fileSet = files.toSet
    (files, logs.filterNot(id => fileSet(Segments.sealedName(id))))
  }

  /** The complete appends of log `id` after its cursor, up to byte `until`;
    * None when the log is gone. */
  private def appendsOf(id: String, until: Long): Option[Segments.Read] = {
    val c = cursors.getOrElse(id, Start)
    val f = buffer.resolve(Segments.logName(id))
    val none = Segments.Read(c.byte, Vector.empty, c.byte)
    val size = try Some(Files.size(f)) catch { case _: NoSuchFileException => None }
    size.flatMap(n => if (until > c.byte && n > c.byte) Segments.read(f, c.byte, until) else Some(none))
  }

  /** Drop the names the buffer no longer lists from the seen set, and the
    * cursors of segments whose log and sealed file are both gone. */
  private def prune(files: Seq[String], logs: Seq[String]): Unit = {
    val fileSet = files.toSet
    seen.filterInPlace(fileSet)
    // a listing taken during a seal may show neither the log nor its sealed file
    cursors.filterInPlace { case (id, _) =>
      logs.contains(id) || fileSet(Segments.sealedName(id)) ||
        Files.exists(buffer.resolve(Segments.logName(id))) || Files.exists(buffer.resolve(Segments.sealedName(id)))
    }
  }

  /** Snapshot what `Trigger.AvailableNow` drains. Every segment gets a
    * cursor, so that once it is sealed its records up to the snapshot's
    * end are taken from its sealed file; a log sealed since the listing
    * ends at its sealed file's last row. */
  def prepareAvailableNow(): Unit = {
    val (files, logs) = listing()
    prune(files, logs)
    availableNow = Some(Snapshot(untaken(files).toMap, logs.map { id =>
      val c = cursors.getOrElseUpdate(id, Start)
      id -> (appendsOf(id, Long.MaxValue) match {
        case Some(r) => Cursor(r.end, c.row + r.appends.map(_.messages.size).sum)
        case None => Cursor(c.byte, MbStream.rowCount(buffer.resolve(Segments.sealedName(id)), readOpts).getOrElse(c.row))
      })
    }.toMap))
  }

  /** Whether `file` is the sealed file of a segment with a cursor, whose rest is taken from the cursor. */
  private def sealedRest(file: String): Boolean = cursors.keysIterator.exists(Segments.sealedName(_) == file)

  /** The listed files not taken yet, nor the rest of a segment with a
    * cursor, with their modification times (epoch µs). */
  private def untaken(files: Seq[String]): Seq[(String, Long)] =
    files.filterNot(f => seen(f) || sealedRest(f)).flatMap { n =>
      try {
        val a = Files.readAttributes(buffer.resolve(n), classOf[BasicFileAttributes])
        if (a.isRegularFile) Some((n, a.lastModifiedTime.to(TimeUnit.MICROSECONDS))) else None
      } catch { case _: NoSuchFileException => None } // deleted since the listing
    }

  /** The rest of each listed sealed file whose segment earlier batches
    * read in part, with its records; a sealed file whose rows were all
    * taken is marked seen, unread. */
  private def sealedRests(fileSet: Set[String]): Seq[(SegmentRange, Seq[Message])] =
    cursors.toSeq.sortBy(_._1).flatMap { case (id, c) =>
      val name = Segments.sealedName(id)
      if (!fileSet(name) || seen(name)) None
      else MbStream.rowCount(buffer.resolve(name), readOpts).flatMap { n =>
        val end = availableNow.fold(n)(s => if (s.files.contains(name)) n else s.ends.get(id).fold(c.row)(e => math.min(n, e.row)))
        if (c.row >= n) seen += name
        val rows = if (end > c.row) MbStream.readBufferFile(buffer.resolve(name), readOpts).slice(c.row.toInt, end.toInt) else Nil
        if (rows.isEmpty) None else Some(SegmentRange(id, -1L, -1L, c.row, end) -> rows)
      }
    }

  /** What the next batch takes; empty when there is nothing new. */
  def take(): Taken = {
    val (files, logs) = listing()
    // a file of the AvailableNow snapshot is taken even if it is gone since, and reads as no rows
    if (availableNow.isEmpty) prune(files, logs)
    val whole = availableNow.fold(untaken(files))(_.files.toSeq.filterNot { case (f, _) => seen(f) || sealedRest(f) })
    val rests = sealedRests(files.toSet)
    val appends = logs.flatMap { id =>
      val c = cursors.getOrElse(id, Start)
      appendsOf(id, availableNow.fold(Long.MaxValue)(_.ends.get(id).fold(c.byte)(_.byte)))
        .filter(_.appends.nonEmpty).map(r => (id, c, r))
    }
    // every unit as (age µs, kind, source, place): a whole file (kind 0),
    // a sealed rest (1) or a segment's append (2). The ages of a segment's
    // appends are made non-decreasing, so what a cap takes of it is a prefix
    def age(m: Message): Long = MbStream.toMicros(m.created)
    val units = whole.map { case (f, mtime) => (mtime, 0, f, 0) } ++
      rests.map { case (g, rows) => (age(rows.head), 1, g.segment, 0) } ++
      appends.flatMap { case (id, _, r) =>
        r.appends.map(a => age(a.messages.head)).scanLeft(Long.MinValue)(math.max).tail
          .zipWithIndex.map { case (t, i) => (t, 2, id, i) }
      }
    val taken = maxFiles.fold(units)(units.sorted.take(_)).groupMapReduce(u => (u._2, u._3))(_ => 1)(_ + _)
    def count(kind: Int, source: String): Int = taken.getOrElse((kind, source), 0)
    val wholeTaken = whole.sortBy { case (n, mtime) => (mtime, n) }.map(_._1).filter(count(0, _) > 0)
    val fromRests = rests.filter { case (g, _) => count(1, g.segment) > 0 }
    val fromLogs = appends.flatMap { case (id, c, r) =>
      val as = r.appends.take(count(2, id))
      val msgs = as.flatMap(_.messages)
      as.lastOption.map(a => SegmentRange(id, r.start, a.end, c.row, c.row + msgs.size) -> msgs)
    }
    fresh = (fromRests ++ fromLogs).toMap
    Taken(wholeTaken, (fromRests ++ fromLogs).map(_._1))
  }

  /** Record the next batch as taking `t`, starting from the committed
    * state; an empty `t` records a flush. */
  def record(t: Taken): BatchRecord = {
    val r = BatchRecord(nextId, t.files, t.ranges, committed)
    publish(log.resolve(r.batchId.toString), replace = false) { out =>
      writeNames(out, r.files)
      writeRanges(out, r.ranges)
      writeState(out, r.in)
    }
    advance(r)
    pending = Some(r)
    nextId += 1
    if ((r.batchId + 1) % CompactInterval == 0) compact(r.batchId)
    r
  }

  /** Batch `r`'s messages: its files' rows, then its ranges' records, each
    * read from its log or, once the segment is sealed, its sealed file. A
    * file, log or sealed file removed since reads as no rows. */
  def messages(r: BatchRecord): Seq[Message] =
    r.files.flatMap(f => MbStream.readBufferFile(buffer.resolve(f), readOpts)) ++
      r.ranges.flatMap(g => fresh.getOrElse(g, readRange(g)))

  private def readRange(g: SegmentRange): Seq[Message] = {
    def sealedRows = MbStream.readBufferFile(buffer.resolve(Segments.sealedName(g.segment)), readOpts)
      .slice(g.fromRow.toInt, g.toRow.toInt)
    if (g.fromByte < 0) sealedRows
    else Segments.read(buffer.resolve(Segments.logName(g.segment)), g.fromByte, g.toByte)
      .filter(_.appends.lastOption.exists(_.end == g.toByte))
      .fold(sealedRows)(_.appends.flatMap(_.messages))
  }

  /** Mark `r` committed, leaving `out` to the next batch. */
  def commit(r: BatchRecord, out: BatchState): Unit = {
    publish(marker(r.batchId), replace = true)(writeState(_, out))
    committed = out
    pending = None
    fresh = Map.empty
  }

  private def marker(k: Long): Path = log.resolve(s"$k.commit")

  private def readRecord(k: Long): BatchRecord = read(log.resolve(k.toString)) { (in, version) =>
    val files = readNames(in)
    BatchRecord(k, files, if (version > 1) readRanges(in) else Nil, readState(in))
  }

  private def compact(k: Long): Unit = {
    publish(log.resolve(s"$k.compact"), replace = true) { out =>
      writeNames(out, seen.toSeq.sorted)
      writeCursors(out, cursors.toSeq.sortBy(_._1))
    }
    Segments.list(log)._1.foreach {
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

  /** Format 2 adds the segment ranges to a record and the cursors to a
    * compact; format 1 (files only) is still read. */
  private val Version = 2
  private val RecordName = """(\d+)""".r
  private val MarkerName = """(\d+)\.commit""".r
  private val CompactName = """(\d+)\.compact""".r

  /** A segment's records taken so far: up to byte `byte` of its log (0:
    * none), `row` records. */
  private final case class Cursor(byte: Long, row: Long)
  private val Start = Cursor(0L, 0L)

  /** What `Trigger.AvailableNow` drains: the untaken files (name ->
    * modification time, epoch µs) and each unsealed segment's readable end. */
  private final case class Snapshot(files: Map[String, Long], ends: Map[String, Cursor])

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

  private def read[T](f: Path)(body: (DataInputStream, Int) => T): T = {
    val in = new DataInputStream(new ByteArrayInputStream(Files.readAllBytes(f)))
    val version = in.readInt()
    if (version < 1 || version > Version) throw new IllegalStateException(s"$f: batch log format $version, expected 1 to $Version")
    body(in, version)
  }

  private def writeNames(out: DataOutputStream, names: Seq[String]): Unit = {
    out.writeInt(names.size)
    names.foreach(out.writeUTF)
  }

  private def readNames(in: DataInputStream): Seq[String] = Seq.fill(in.readInt())(in.readUTF())

  private def writeRanges(out: DataOutputStream, ranges: Seq[SegmentRange]): Unit = {
    out.writeInt(ranges.size)
    ranges.foreach { g =>
      out.writeUTF(g.segment)
      Seq(g.fromByte, g.toByte, g.fromRow, g.toRow).foreach(out.writeLong)
    }
  }

  private def readRanges(in: DataInputStream): Seq[SegmentRange] =
    Seq.fill(in.readInt())(SegmentRange(in.readUTF(), in.readLong(), in.readLong(), in.readLong(), in.readLong()))

  private def writeCursors(out: DataOutputStream, cursors: Seq[(String, Cursor)]): Unit = {
    out.writeInt(cursors.size)
    cursors.foreach { case (id, c) => out.writeUTF(id); out.writeLong(c.byte); out.writeLong(c.row) }
  }

  private def readCursors(in: DataInputStream): Seq[(String, Cursor)] =
    Seq.fill(in.readInt())((in.readUTF(), Cursor(in.readLong(), in.readLong())))

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
