package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch-expressible window-assignment transforms mirroring the reference's
  * emitter strategies (minibatch/window.py):
  *
  *   - CountWindow  (window.py:305-327): every N buffered messages form one
  *     window, in arrival order.
  *   - FixedTimeWindow (window.py:229-278): aligned tumbling intervals over
  *     the arrival timestamp; empty intervals are still emitted.
  *   - RelaxedTimeWindow (window.py:281-302): "everything unprocessed up to
  *     the cutoff" — Spark's micro-batch contract; batch form is a cutoff
  *     filter.
  *   - SortedWindow (README.rst:203-234): the custom-emitter example — filter
  *     to even values, sort, emit in batches of N.
  *
  * Each transform ADDS a `window_id` (and for time windows `window_start`)
  * column; downstream aggregation is ordinary `groupBy` so Catalyst plans a
  * partial+final hash aggregate.
  *
  * Scale note: `countWindow` uses a GLOBAL row_number (single-partition sort)
  * because the reference semantics are a total arrival order. That is
  * inherently sequential; at cluster scale callers should prefer
  * `countWindowPerKey` (per-stream/user ordering — parallel by key) or the
  * streaming count window (`EmitterBuilder.size`, [[graft.streaming.CountCarry]]),
  * which carries each stream's sub-N remainder and never globally sorts.
  */
object WindowAssign {

  /** window_id = floor((row_number over (order by orderCols) - 1) / size). */
  def countWindow(df: DataFrame, size: Int, orderCols: Seq[Column]): DataFrame = {
    val w = Window.orderBy(orderCols: _*)
    df.withColumn("window_id", floor((row_number().over(w) - lit(1)) / lit(size)))
  }

  /** Parallel variant: arrival order is per key, so the sort shards by key. */
  def countWindowPerKey(df: DataFrame, size: Int, key: Column, orderCols: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(key).orderBy(orderCols: _*)
    df.withColumn("window_id", floor((row_number().over(w) - lit(1)) / lit(size)))
  }

  /** Aligned tumbling window over `ts`; adds `window_start` truncated to the
    * interval grid anchored at the epoch (matches FixedTimeWindow's
    * last_read + k*interval grid, window.py:254-267).
    */
  def fixedTimeWindow(df: DataFrame, tsCol: Column, intervalSeconds: Long): DataFrame = {
    val secs = unix_timestamp(tsCol)
    df.withColumn(
      "window_start",
      timestamp_seconds(floor(secs / intervalSeconds) * intervalSeconds))
  }

  /** The empty-window spine: one row per interval between min and max ts,
    * including intervals with no data (FixedTimeWindow emit_empty=True,
    * window.py:251). Left-join aggregated data onto this spine.
    */
  def intervalSpine(df: DataFrame, tsCol: Column, intervalSeconds: Long): DataFrame = {
    df.agg(
        (floor(unix_timestamp(min(tsCol)) / intervalSeconds) * intervalSeconds).as("lo"),
        (floor(unix_timestamp(max(tsCol)) / intervalSeconds) * intervalSeconds).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"), lit(intervalSeconds))).as("epoch_s"))
      .select(timestamp_seconds(col("epoch_s")).as("window_start"))
  }

  /** Relaxed window batch form: all not-yet-consumed rows at or before the
    * cutoff (window.py:281-302 — no lower bound, catches stragglers).
    */
  def relaxedWindow(df: DataFrame, tsCol: Column, cutoff: Column): DataFrame =
    df.filter(tsCol <= cutoff)

  /** README SortedWindow example: keep rows where `filterCol` is even, sort
    * by `sortCol`, group into batches of `size` (README.rst:216-231).
    */
  def sortedWindow(df: DataFrame, filterCol: Column, sortCol: Column, size: Int): DataFrame = {
    val w = Window.orderBy(sortCol, filterCol)
    df.filter(filterCol % 2 === 0)
      .withColumn("window_id", floor((row_number().over(w) - lit(1)) / lit(size)))
  }

  /** Gap-based session assignment (the batch form of
    * `session_window(ts, gap)`): a new session starts when the gap since the
    * previous event of the same key exceeds `gapSeconds`. Adds a 1-based
    * `session_id` per key. One shuffle on the key; sorting is per-key, so
    * this parallelizes across keys (no global sort).
    */
  def sessionWindow(
      df: DataFrame,
      key: Column,
      tsSecs: Column,
      tieBreak: Column,
      gapSeconds: Long): DataFrame = {
    val w = Window.partitionBy(key).orderBy(tsSecs, tieBreak)
    df.withColumn("_prev_ts_s", lag(tsSecs, 1).over(w))
      .withColumn("_new_sess",
        when(col("_prev_ts_s").isNull || tsSecs - col("_prev_ts_s") > gapSeconds, 1)
          .otherwise(0))
      .withColumn("session_id",
        sum(col("_new_sess"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("_prev_ts_s", "_new_sess")
  }

  /** Sliding (hopping) window assignment: every row lands in
    * `size/slide` windows; `window_start_s = (floor(ts_s/slide) - k) * slide`
    * for k in [0, size/slide). Pure map-side explode + integer math — no
    * shuffle until the downstream aggregation, same ideal shape as tumbling.
    * `sizeSeconds` must be a multiple of `slideSeconds`.
    */
  def slidingWindow(df: DataFrame, tsSecs: Column, sizeSeconds: Long, slideSeconds: Long): DataFrame = {
    require(sizeSeconds % slideSeconds == 0, "size must be a multiple of slide")
    val k = (sizeSeconds / slideSeconds).toInt
    df.withColumn("window_start_s",
      explode(transform(sequence(lit(0), lit(k - 1)),
        kk => (floor(tsSecs / slideSeconds) - kk) * slideSeconds)))
  }
}
