package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

/** One timed call across a layer boundary. Spans of one unit of work share
  * an id (`seq:17`, `window:4`, `batch:9`); a span names its parent by the
  * parent's name and id.
  */
final case class Span(
    name: String,
    id: String,
    parentName: String,
    parentId: String,
    startNs: Long,
    endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder; [[Trace.json]] writes the spans out at the end.
  * When disabled, [[span]] only runs its body. The time spent recording is
  * measured so the traced run can state its own cost.
  */
final class Tracer(enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val costNs = new java.util.concurrent.atomic.AtomicLong()

  def record(s: Span): Unit = if (enabled) {
    val t0 = System.nanoTime()
    spans.add(s)
    costNs.addAndGet(System.nanoTime() - t0)
  }

  def span[T](name: String, id: String, parentName: String = "", parentId: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val t0 = System.nanoTime()
      try body
      finally record(Span(name, id, parentName, parentId, t0, System.nanoTime()))
    }

  def all: Seq[Span] = spans.asScala.toSeq

  def recordingCostMs: Double = costNs.get / 1e6
}

object Trace {
  /** Per span name: (count, total ms, self ms). Self time is a span's
    * duration minus the part of it that its children's union covers.
    */
  def selfTimes(spans: Seq[Span]): Map[String, (Int, Double, Double)] = {
    val children = spans.filter(_.parentName.nonEmpty).groupBy(s => (s.parentName, s.parentId))
    spans.groupBy(_.name).map { case (name, ss) =>
      val self = ss.map { s =>
        val kids = children.getOrElse((s.name, s.id), Nil)
          .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
          .filter { case (a, b) => b > a }
          .sortBy(_._1)
        var covered = 0L; var end = Long.MinValue
        kids.foreach { case (a, b) =>
          val from = math.max(a, end)
          if (b > from) covered += b - from
          end = math.max(end, b)
        }
        s.durNs - covered
      }.sum
      name -> ((ss.size, ss.map(_.durNs).sum / 1e6, self / 1e6))
    }
  }

  /** Spans as one JSON array, times in ms since `originNs`. */
  def json(spans: Seq[Span], originNs: Long): String =
    spans.sortBy(_.startNs).map { s =>
      f"""{"name":"${s.name}","id":"${s.id}","parent":"${s.parentName}","parent_id":"${s.parentId}","start_ms":${(s.startNs - originNs) / 1e6}%.3f,"end_ms":${(s.endNs - originNs) / 1e6}%.3f}"""
    }.mkString("[\n", ",\n", "\n]\n")
}
