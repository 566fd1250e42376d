package graft.streaming

import graft.streaming.EmitterRunner.{FlushSentinel, Message, arrivalOrder}

/** What a count-window emitter carries from one micro-batch to the next:
  * the id of the next window, the newest `created` seen (epoch ms), and
  * the sub-N remainder in arrival order.
  */
final case class CountCarry(nextWindowId: Long, newestMs: Long, pending: Vector[Message])

/** Count windows (reference CountWindow, window.py:305-327) as one pure
  * driver-side step per batch. The carry is kept in the emitter's batch
  * log ([[BufferSource]]): each batch record holds the carry it starts
  * from, so a replayed batch recomputes the same windows.
  */
object CountCarry {

  val Empty: CountCarry = CountCarry(0L, Long.MinValue, Vector.empty)

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
}
