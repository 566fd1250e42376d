package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.{col, timestamp_seconds}

/** Streaming analogue of [[graft.operators.Timeseries.rollingAnomalies]]:
  * per-key z-score flags over a trailing event-time window, maintained as
  * `flatMapGroupsWithState` state — window FUNCTIONS (the batch RANGE
  * frame) do not exist in Structured Streaming, so the frame becomes
  * explicit per-key state: a ring of the key's observations inside the
  * trailing window, carried from one micro-batch to the next.
  *
  * Semantics: events are processed in (ts, value) order within each
  * micro-batch; each event is judged against the observations in
  * [ts − windowSeconds, ts] HELD IN STATE at arrival, itself included —
  * identical to the batch operator for in-order arrival with distinct
  * timestamps. The deltas, documented like every emitter's: a LATE event
  * is judged at arrival (its frame may already contain newer
  * observations, which the batch frame would exclude), and ts-PEERS that
  * arrive in later batches are not retroactively included. State is
  * bounded by windowSeconds × per-key event rate (the ring only keeps the
  * trailing window).
  *
  * The in-state ring is a simple list scanned per event — right for
  * windows of 10²-10⁴ observations (the z-score use case); a
  * per-key deque + running moments is the constant-time swap-in if a key
  * sustains higher rates.
  */
object StreamingAnomaly {

  case class Obs(key: String, ts_s: Long, v: Double)
  case class Flag(key: String, ts_s: Long, v: Double, n_window: Long, is_anomaly: Boolean)
  case class Ring(obs: List[(Long, Double)])

  /** @param maxIdleMs optional event-time state TTL (see [[TwinRunner]];
    *                   also the lateness allowance: the TTL
    *                   watermark drops rows more than maxIdleMs
    *                   behind the stream's max event time, and a dead
    *                   key's state survives ~2x maxIdleMs of stream
    *                   advance before its watermark-relative horizon
    *                   passes).
    *                   Eviction semantics:
    *                   a key idle past the horizon is evicted; its ring
    *                   re-fills cold on return.
    */
  def flags(
      ds: Dataset[Obs],
      windowSeconds: Long,
      z: Double,
      minN: Int = 10,
      maxIdleMs: Option[Long] = None): Dataset[Flag] = {
    require(windowSeconds > 0 && z > 0, "streaming anomalies: windowSeconds and z must be positive")
    import ds.sparkSession.implicits._
    TwinRunner.run[Obs, Ring, Flag](
        ds, _.key, timestamp_seconds(col("ts_s")), _.ts_s * 1000L, maxIdleMs) {
      (key, events, prior) =>
        var ring = prior.map(_.obs).getOrElse(Nil)
        val out = Seq.newBuilder[Flag]
        events.sortBy(o => (o.ts_s, o.v)).foreach { o =>
          ring = ((o.ts_s, o.v) :: ring).filter(_._1 >= o.ts_s - windowSeconds)
          val n = ring.size
          val anomaly = n >= minN && {
            // two-pass mean/centered variance over the small ring: the
            // numerically stable formulation, matching stddev_samp
            val mean = ring.iterator.map(_._2).sum / n
            val variance =
              ring.iterator.map(t => (t._2 - mean) * (t._2 - mean)).sum / (n - 1)
            val std = math.sqrt(variance)
            std > 0 && math.abs(o.v - mean) > std * z
          }
          out += Flag(key, o.ts_s, o.v, n.toLong, anomaly)
        }
        (out.result(), Some(Ring(ring)))
    }
  }
}
