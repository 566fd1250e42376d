package graft.streaming

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.nio.file.{Files, NoSuchFileException, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import graft.streaming.EmitterRunner.{FlushSentinel, Message, arrivalOrder}

/** What a count-window emitter carries from one micro-batch to the next:
  * the id of the next window, the newest `created` seen (epoch ms), and
  * the sub-N remainder in arrival order.
  */
final case class CountCarry(nextWindowId: Long, newestMs: Long, pending: Vector[Message])

/** Count windows (reference CountWindow, window.py:305-327) as one pure
  * driver-side step per micro-batch, plus the carry's durable form.
  *
  * The carry of batch `b` is stored as `checkpoints/graft-count/<b>`, one
  * small binary file written beside Spark's own checkpoint logs:
  * `int version (1), long nextWindowId, long newestMs, int n`, then `n`
  * messages as `utf8 stream, long created (epoch µs), utf8 data`, each
  * utf8 field a byte length followed by its bytes. Batch `b` starts from
  * the carry of `b - 1`, so a replayed batch recomputes the same windows.
  */
object CountCarry {

  val Empty: CountCarry = CountCarry(0L, Long.MinValue, Vector.empty)
  private val Version = 1

  /** Window one micro-batch: `batch` in arrival order (by `created`, then
    * payload) after the carried remainder, cut into exact-`size` windows.
    * A sub-N tail becomes one final partial window when the batch holds
    * the flush sentinel, or — with `maxAgeMs` — once the newest `created`
    * seen is more than `maxAgeMs` past the tail's oldest message. Rows
    * older than an earlier batch's newest are windowed like any other.
    */
  def step(carry: CountCarry, batch: Seq[Message], size: Int,
      maxAgeMs: Option[Long]): (Seq[(Long, Seq[Message])], CountCarry) = {
    val (sentinels, incoming) = arrivalOrder(batch).partition(_.data == FlushSentinel)
    val newest = batch.foldLeft(carry.newestMs)((t, m) => math.max(t, m.created.getTime))
    val all = carry.pending ++ incoming
    val nFull = all.size / size
    val (full, rest) = all.splitAt(nFull * size)
    val windows = full.grouped(size).zipWithIndex
      .map { case (w, i) => (carry.nextWindowId + i, w: Seq[Message]) }.toVector
    val nextId = carry.nextWindowId + nFull
    val stale = maxAgeMs.exists(age => rest.nonEmpty && newest > rest.map(_.created.getTime).min + age)
    if (rest.nonEmpty && (sentinels.nonEmpty || stale))
      (windows :+ ((nextId, rest)), CountCarry(nextId + 1, newest, Vector.empty))
    else (windows, CountCarry(nextId, newest, rest))
  }

  private def dir(stream: MbStream): Path = Paths.get(stream.checkpointsDir, "graft-count")

  /** The carry batch `batchId` starts from. */
  def before(stream: MbStream, batchId: Long): CountCarry =
    if (batchId == 0) Empty
    else read(dir(stream).resolve((batchId - 1).toString)).getOrElse(throw missing(stream, batchId - 1))

  /** Refuse a checkpoint whose last committed batch left no carry: one
    * written by the earlier `flatMapGroupsWithState` plan or by a time
    * window, where starting would silently restart window ids at 0.
    */
  def requireResumable(stream: MbStream): Unit =
    numbered(Paths.get(stream.checkpointsDir, "commits")).maxOption.foreach { b =>
      if (!Files.exists(dir(stream).resolve(b.toString))) throw missing(stream, b)
    }

  private def missing(stream: MbStream, batchId: Long) = new IllegalStateException(
    s"stream '${stream.name}': the count-window checkpoint has no carry for committed batch " +
      s"$batchId under ${dir(stream)}, so window ids and the sub-N remainder cannot resume. " +
      "Drain the stream with flushPartialOnDrain(true) on the release that wrote the checkpoint, " +
      s"or delete ${stream.checkpointsDir} to re-read the buffer from its start.")

  /** Store the carry batch `batchId` leaves (temp file + atomic rename),
    * then drop carries older than Spark's `minBatchesToRetain`.
    */
  def write(stream: MbStream, batchId: Long, carry: CountCarry, retain: Int): Unit = {
    val d = Files.createDirectories(dir(stream))
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    def utf8(s: String): Unit = { val b = s.getBytes("UTF-8"); out.writeInt(b.length); out.write(b) }
    out.writeInt(Version)
    out.writeLong(carry.nextWindowId)
    out.writeLong(carry.newestMs)
    out.writeInt(carry.pending.size)
    carry.pending.foreach { m =>
      utf8(m.stream); out.writeLong(MbStream.toMicros(m.created)); utf8(m.data)
    }
    out.flush()
    val tmp = d.resolve(s".$batchId.tmp")
    Files.write(tmp, bytes.toByteArray)
    Files.move(tmp, d.resolve(batchId.toString),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    numbered(d).filter(_ < batchId - retain).foreach(b => Files.deleteIfExists(d.resolve(b.toString)))
  }

  private def read(f: Path): Option[CountCarry] =
    try {
      val in = new DataInputStream(new java.io.ByteArrayInputStream(Files.readAllBytes(f)))
      def utf8(): String = { val b = new Array[Byte](in.readInt()); in.readFully(b); new String(b, "UTF-8") }
      val version = in.readInt()
      if (version != Version) throw new IllegalStateException(s"$f: carry format $version, expected $Version")
      val next = in.readLong()
      val newest = in.readLong()
      val pending = Vector.fill(in.readInt())(Message(utf8(), MbStream.fromMicros(in.readLong()), utf8()))
      Some(CountCarry(next, newest, pending))
    } catch { case _: NoSuchFileException => None }

  /** The batch ids named by the files of a checkpoint log directory. */
  private def numbered(d: Path): Seq[Long] =
    if (!Files.isDirectory(d)) Nil
    else {
      val s = Files.list(d)
      try s.iterator().asScala.map(_.getFileName.toString).filter(_.forall(_.isDigit)).map(_.toLong).toSeq
      finally s.close()
    }
}
