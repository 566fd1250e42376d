package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, NoSuchFileException, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.BasicFileAttributes

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The emitter's Spark source: a micro-batch stream over a stream's buffer
  * directory, built on the public `connector.read.streaming` API only.
  *
  * Spark keeps its trigger loop, its `offsets`/`commits` logs and its
  * progress events; the source only decides which buffer files each batch
  * holds. [[BufferSource.Stream.latestOffset]] lists `buffer/` with NIO,
  * takes the files `FileStreamSource` takes (regular files whose names start
  * with neither `.` nor `_`) that it has not taken before, oldest
  * modification time first (then by name), at most `maxFilesPerTrigger` of
  * them, and records them as entry `k` of its own log before it returns
  * offset `k`. Each offset advances by one entry and Spark runs one batch
  * per new offset, so batch `k` holds exactly the files of entry `k`:
  * [[BufferSource.batchFiles]] reads them back for the emitter, which
  * decodes them on the driver. Spark's own scan of a batch has no
  * partitions and reads nothing. Under `Trigger.AvailableNow` the buffer
  * is listed once, when the trigger starts, and only the files not taken
  * by then are taken, in capped batches, as `FileStreamSource` does.
  *
  * The log is `checkpoints/graft-source/`, beside Spark's logs:
  *
  *  - `<k>`: `v1`, then the name of each file of entry `k`, one a line;
  *  - `<k>.compact`, written with every [[CompactInterval]]-th entry: every
  *    file taken up to entry `k` that the buffer still held, one a line.
  *
  * Both are written to a hidden temp file and published by `ATOMIC_MOVE`.
  * A restarted source takes the newest compact file plus the entries after
  * it as the files it has seen, and reuses an entry recorded after Spark's
  * last offset (a stop between the two writes) instead of listing again,
  * so those files reach one batch only. The seen set drops every name the
  * buffer no longer lists (buffer file names are UUIDs and never return),
  * so it is bounded by the buffer, not by the stream's history; a
  * compaction keeps only the entries after the previous compaction.
  */
final class BufferSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = MbStream.MessageSchema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = BufferSource.BufferTable
}

object BufferSource {

  /** A compact file is written with every `CompactInterval`-th entry, as
    * Spark's file source log compacts by default. */
  private val CompactInterval = 10

  private val Version = "v1"
  private val EntryName = """(\d+)""".r
  private val CompactName = """(\d+)\.compact""".r

  /** The source log of the emitter whose checkpoint is `checkpointsDir`. */
  private[graft] def logDir(checkpointsDir: String): Path = Paths.get(checkpointsDir, "graft-source")

  /** The buffer files of micro-batch `batchId` of the emitter of `stream`. */
  private[streaming] def batchFiles(stream: MbStream, batchId: Long): Seq[Path] = {
    val names = read(logDir(stream.checkpointsDir).resolve(batchId.toString)).getOrElse(
      throw new IllegalStateException(s"stream '${stream.name}': no source log entry for batch $batchId " +
        s"under ${logDir(stream.checkpointsDir)}"))
    names.map(Paths.get(stream.bufferDir).resolve(_))
  }

  /** Refuse a checkpoint written by the earlier emitter, whose Spark file
    * source kept its log in `sources/0`: this source cannot tell which
    * buffer files that emitter has already emitted. */
  private[streaming] def requireOwnLog(stream: MbStream): Unit = {
    val fileSourceLog = Paths.get(stream.checkpointsDir, "sources", "0")
    if (Files.exists(fileSourceLog) && !Files.exists(logDir(stream.checkpointsDir)))
      throw new IllegalStateException(
        s"stream '${stream.name}': the checkpoint ${stream.checkpointsDir} was written by the earlier " +
          s"file-source emitter (its log is $fileSourceLog; it has no ${logDir(stream.checkpointsDir)}), " +
          "so the files it emitted cannot be told from new ones. Drain the stream on the release that " +
          s"wrote the checkpoint, or delete ${stream.checkpointsDir} to re-read the buffer from its start.")
  }

  private object BufferTable extends Table with SupportsRead {
    override def name(): String = "graft-buffer"
    override def schema(): StructType = MbStream.MessageSchema
    override def capabilities(): java.util.Set[TableCapability] =
      java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = () => new Scan {
      override def readSchema(): StructType = MbStream.MessageSchema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = new Stream(
        Paths.get(options.get("path")), Paths.get(options.get("log")),
        Option(options.get("maxFilesPerTrigger")).map(_.toInt))
    }
  }

  private final case class EntryOffset(entry: Long) extends Offset {
    override def json(): String = entry.toString
  }

  private final class Stream(buffer: Path, log: Path, maxFiles: Option[Int])
      extends MicroBatchStream with SupportsTriggerAvailableNow {

    private def entries(): Seq[Long] = list(log).collect { case EntryName(k) => k.toLong }
    private def compacts(): Seq[Long] = list(log).collect { case CompactName(k) => k.toLong }

    // the newest entry recorded, and every name taken so far
    private var lastEntry: Long = -1L
    private val seen = mutable.HashSet.empty[String]
    locally {
      val recorded = entries()
      val compact = compacts().maxOption
      lastEntry = recorded.maxOption.getOrElse(-1L)
      compact.foreach(c => seen ++= read(log.resolve(s"$c.compact")).getOrElse(Nil))
      recorded.filter(_ > compact.getOrElse(-1L)).foreach(k => seen ++= read(log.resolve(k.toString)).getOrElse(Nil))
    }

    // the untaken files (name -> modification time) when Trigger.AvailableNow
    // started: the only files it takes, so it lists the buffer once
    private var availableNow: Option[Map[String, Long]] = None

    override def initialOffset(): Offset = EntryOffset(-1L)
    override def deserializeOffset(json: String): Offset = EntryOffset(json.trim.toLong)
    override def commit(end: Offset): Unit = ()
    override def stop(): Unit = ()

    override def latestOffset(): Offset =
      throw new UnsupportedOperationException("latestOffset(Offset, ReadLimit) should be called instead")

    override def getDefaultReadLimit: ReadLimit = maxFiles.fold(ReadLimit.allAvailable())(ReadLimit.maxFiles)

    override def prepareForTriggerAvailableNow(): Unit = availableNow = Some(untaken().toMap)

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

    override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
      val next = start.asInstanceOf[EntryOffset].entry + 1
      if (next <= lastEntry) EntryOffset(next)
      else {
        val fresh = availableNow.fold(untaken())(_.toSeq.filterNot(f => seen(f._1)))
          .sortBy { case (n, mtime) => (mtime, n) }.map(_._1)
        val taken = limit match {
          case m: ReadMaxFiles => fresh.take(m.maxFiles)
          case _ => fresh
        }
        // no offset at all before the first file, or Spark runs an empty batch 0
        if (taken.isEmpty) { if (next == 0) null else start }
        else {
          write(log, next.toString, taken)
          seen ++= taken
          lastEntry = next
          if ((next + 1) % CompactInterval == 0) compact(next)
          EntryOffset(next)
        }
      }
    }

    private def compact(k: Long): Unit = {
      write(log, s"$k.compact", seen.toSeq.sorted)
      compacts().filter(_ < k).foreach(c => Files.deleteIfExists(log.resolve(s"$c.compact")))
      entries().filter(_ <= k - CompactInterval).foreach(e => Files.deleteIfExists(log.resolve(e.toString)))
    }

    override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = Array.empty

    override def createReaderFactory(): PartitionReaderFactory = (_: InputPartition) =>
      throw new UnsupportedOperationException("the emitter reads buffer files on the driver")
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

  private def write(dir: Path, name: String, names: Seq[String]): Unit = {
    Files.createDirectories(dir)
    val tmp = dir.resolve(s".$name.tmp")
    Files.write(tmp, (Version +: names).mkString("", "\n", "\n").getBytes(UTF_8))
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  private def read(f: Path): Option[Seq[String]] =
    try {
      val lines = new String(Files.readAllBytes(f), UTF_8).split('\n').toSeq
      if (lines.headOption.contains(Version)) Some(lines.tail.filter(_.nonEmpty))
      else throw new IllegalStateException(s"$f: source log format ${lines.headOption.getOrElse("")}, expected $Version")
    } catch { case _: NoSuchFileException => None }
}
