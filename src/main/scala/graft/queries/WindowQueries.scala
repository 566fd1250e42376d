package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables.events
import graft.operators.{Timeseries, WindowAssign}

/** Minibatch emitter strategies in their batch-expressible forms: count,
  * fixed-time, relaxed, sorted, session and sliding windows over `events`.
  */
object WindowQueries {

  def specs: Seq[QuerySpec] = Seq(

    // A6 CountWindow — ORACLE SHAPE: total arrival order forces a global
    // single-partition sort. The front doors at scale are
    // count_window_per_key (sort shards by key) and the streaming
    // CountWindow (EmitterBuilder.size — per-stream carry, never sorts
    // globally); this query exists to oracle-check their semantics.
    QuerySpec("count_window_agg", (s, dir) => {
      val ev = events(s, dir).select(col("event_id"), col("value"))
      WindowAssign.countWindow(ev, 100, Seq(col("event_id")))
        .groupBy(col("window_id"))
        .agg(
          count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("sum_value"),
          round(avg(col("value")), 4).as("avg_value"),
          min(col("event_id")).as("first_id"),
          max(col("event_id")).as("last_id"))
        .orderBy(col("window_id"))
    },
      oracleSql = Some("""SELECT window_id,
        |       count(*) AS n_events,
        |       round(sum(value), 2) AS sum_value,
        |       round(avg(value), 4) AS avg_value,
        |       min(event_id) AS first_id,
        |       max(event_id) AS last_id
        |FROM (SELECT event_id, value,
        |             (row_number() OVER (ORDER BY event_id) - 1) // 100 AS window_id
        |      FROM events)
        |GROUP BY window_id
        |ORDER BY window_id""".stripMargin),
      scaleNote = Some("ORACLE SHAPE: total arrival order = single-partition global sort. " +
        "Scale paths: count_window_per_key (WindowAssign.countWindowPerKey, sort shards by key) " +
        "or the streaming CountWindow (EmitterBuilder.size — per-stream carry, no global sort).")),

    // A6 CountWindow, per-key variant (scales: sort shards by user).
    QuerySpec("count_window_per_key", (s, dir) => {
      val ev = events(s, dir).select(col("event_id"), col("user_id"), col("value"))
      WindowAssign.countWindowPerKey(ev, 10, col("user_id"), Seq(col("event_id")))
        .groupBy(col("user_id"), col("window_id"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("user_id"), col("window_id"))
    },
      oracleSql = Some("""SELECT user_id, window_id, count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM (SELECT user_id, value,
        |             (row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1) // 10 AS window_id
        |      FROM events)
        |GROUP BY user_id, window_id
        |ORDER BY user_id, window_id""".stripMargin)),

    // A7 FixedTimeWindow: aligned 1h tumbling windows (epoch-seconds grid).
    QuerySpec("fixed_time_window", (s, dir) => {
      events(s, dir)
        .withColumn("window_start_s", floor(unix_timestamp(col("ts")) / 3600) * 3600)
        .groupBy(col("window_start_s"))
        .agg(
          count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("sum_value"),
          round(avg(col("value")), 4).as("avg_value"))
        .orderBy(col("window_start_s"))
    },
      oracleSql = Some("""SELECT (epoch_ns(ts) // 3600000000000) * 3600 AS window_start_s,
        |       count(*) AS n_events,
        |       round(sum(value), 2) AS sum_value,
        |       round(avg(value), 4) AS avg_value
        |FROM events
        |GROUP BY window_start_s
        |ORDER BY window_start_s""".stripMargin)),

    // A7 with emit_empty=True: 300s grid spine keeps empty windows.
    QuerySpec("fixed_time_window_spine", (s, dir) => {
      val ev = events(s, dir)
        .withColumn("window_start_s", floor(unix_timestamp(col("ts")) / 300) * 300)
      val agg = ev.groupBy(col("window_start_s"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sv"))
      val spine = ev
        .agg(min(col("window_start_s")).as("lo"), max(col("window_start_s")).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"), lit(300L))).as("window_start_s"))
      spine.join(agg, Seq("window_start_s"), "left")
        .select(
          col("window_start_s"),
          coalesce(col("n"), lit(0L)).as("n_events"),
          coalesce(col("sv"), lit(0.0)).as("sum_value"))
        .orderBy(col("window_start_s"))
    },
      oracleSql = Some("""WITH ev AS (SELECT (epoch_ns(ts) // 300000000000) * 300 AS ws, value FROM events),
        |     bounds AS (SELECT min(ws) AS lo, max(ws) AS hi FROM ev),
        |     spine AS (SELECT unnest(generate_series(lo, hi, 300)) AS window_start_s FROM bounds),
        |     agg AS (SELECT ws, count(*) AS n, round(sum(value), 2) AS sv FROM ev GROUP BY ws)
        |SELECT s.window_start_s,
        |       coalesce(a.n, 0) AS n_events,
        |       coalesce(a.sv, 0.0) AS sum_value
        |FROM spine s LEFT JOIN agg a ON s.window_start_s = a.ws
        |ORDER BY s.window_start_s""".stripMargin)),

    // A8 RelaxedTimeWindow batch form: everything at or before the cutoff.
    QuerySpec("relaxed_time_window", (s, dir) => {
      WindowAssign.relaxedWindow(events(s, dir), col("ts"),
          lit("2024-01-15 00:00:00").cast("timestamp"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("event_type"))
    },
      oracleSql = Some("""SELECT event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM events
        |WHERE ts <= TIMESTAMP '2024-01-15 00:00:00'
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin)),

    // A9 custom emitter (README SortedWindow): evens, sorted, batches of 50.
    // ORACLE SHAPE: the example's total sort order forces a global sort,
    // like count_window_agg; a scale deployment keys the sort.
    QuerySpec("sorted_window", (s, dir) => {
      WindowAssign.sortedWindow(
          events(s, dir).select(col("event_id"), col("value")),
          col("event_id"), col("value"), 50)
        .groupBy(col("window_id"))
        .agg(
          count(lit(1)).as("n_events"),
          round(min(col("value")), 2).as("min_value"),
          round(max(col("value")), 2).as("max_value"))
        .orderBy(col("window_id"))
    },
      oracleSql = Some("""SELECT window_id, count(*) AS n_events,
        |       round(min(value), 2) AS min_value,
        |       round(max(value), 2) AS max_value
        |FROM (SELECT value,
        |             (row_number() OVER (ORDER BY value, event_id) - 1) // 50 AS window_id
        |      FROM events WHERE event_id % 2 = 0)
        |GROUP BY window_id
        |ORDER BY window_id""".stripMargin),
      scaleNote = Some("ORACLE SHAPE: the README example's total sort order = single-partition global sort. " +
        "Scale deployments key the sort (Window.partitionBy).")),

    // A18 buffer accessor: filtered projected read (predicate pushdown).
    QuerySpec("stream_buffer_filter", (s, dir) => {
      events(s, dir)
        .filter(col("event_type") === "error" && col("value") > 150)
        .select(col("event_id"), col("user_id"), col("value"))
        .orderBy(col("event_id"))
    },
      oracleSql = Some("""SELECT event_id, user_id, value
        |FROM events
        |WHERE event_type = 'error' AND value > 150
        |ORDER BY event_id""".stripMargin)),

    // A17 retention (max_age): rows younger than max(ts) - 7 days.
    QuerySpec("retention_cutoff", (s, dir) => {
      val ev = events(s, dir).withColumn("ts_s", unix_timestamp(col("ts")))
      val cutoff = ev.agg((max(col("ts_s")) - lit(7L * 86400)).as("cutoff_s"))
      ev.crossJoin(broadcast(cutoff))
        .filter(col("ts_s") > col("cutoff_s"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"), min(col("event_id")).as("first_id"))
        .orderBy(col("event_type"))
    },
      oracleSql = Some("""SELECT event_type, count(*) AS n_events, min(event_id) AS first_id
        |FROM events
        |WHERE epoch_ns(ts) // 1000000000 >
        |      (SELECT max(epoch_ns(ts) // 1000000000) - 7*86400 FROM events)
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin)),

    // Gap-based session windows (6h gap), per user.
    QuerySpec("session_window", (s, dir) => {
      val ev = events(s, dir).withColumn("ts_s", unix_timestamp(col("ts")))
      WindowAssign.sessionWindow(ev, col("user_id"), col("ts_s"), col("event_id"), 21600L)
        .groupBy(col("user_id"), col("session_id"))
        .agg(
          count(lit(1)).as("n_events"),
          min(col("ts_s")).as("session_start_s"),
          (max(col("ts_s")) - min(col("ts_s"))).as("duration_s"),
          round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("user_id"), col("session_id"))
    },
      oracleSql = Some("""WITH e AS (SELECT user_id, event_id, value,
        |                  epoch_ns(ts) // 1000000000 AS ts_s
        |           FROM events),
        |     f AS (SELECT *, CASE WHEN lag(ts_s) OVER w IS NULL
        |                            OR ts_s - lag(ts_s) OVER w > 21600
        |                          THEN 1 ELSE 0 END AS new_sess
        |           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)),
        |     g AS (SELECT *, (sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS session_id
        |           FROM f)
        |SELECT user_id, session_id, count(*) AS n_events,
        |       min(ts_s) AS session_start_s,
        |       max(ts_s) - min(ts_s) AS duration_s,
        |       round(sum(value), 2) AS sum_value
        |FROM g
        |GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin)),

    // Gap-fill + linear interpolation: each user's irregular event values
    // densified to an hourly grid with forward-fill and between-neighbor
    // interpolation (user_id < 30 bounds the verify artifact; the operator
    // is per-key-parallel at any user count).
    QuerySpec("events_gapfill", (s, dir) => {
      val ev = events(s, dir).filter(col("user_id") < 30)
      Timeseries.gapFillInterpolate(ev, col("user_id"),
          unix_timestamp(col("ts")), col("value"), 3600L)
        .select(col("key").as("user_id"), col("bucket_s"), col("is_observed"),
          col("v_ffill"), col("v_interp"))
        .orderBy(col("user_id"), col("bucket_s"))
    },
      oracleSql = Some("""WITH b AS (
        |  SELECT user_id, (epoch_ns(ts) // 1000000000 // 3600) * 3600 AS bucket_s,
        |         CAST(round(avg(value) * 10000, 0) AS BIGINT) AS v_u
        |  FROM events WHERE user_id < 30 GROUP BY 1, 2),
        |spine AS (
        |  SELECT user_id, unnest(range(min(bucket_s), max(bucket_s) + 3600, 3600)) AS bucket_s
        |  FROM b GROUP BY user_id),
        |j AS (
        |  SELECT s.user_id, s.bucket_s, b.v_u
        |  FROM spine s LEFT JOIN b USING (user_id, bucket_s)),
        |w AS (
        |  SELECT user_id, bucket_s, v_u,
        |    last_value(v_u IGNORE NULLS) OVER
        |      (PARTITION BY user_id ORDER BY bucket_s) AS prev_u,
        |    last_value(CASE WHEN v_u IS NOT NULL THEN bucket_s END IGNORE NULLS) OVER
        |      (PARTITION BY user_id ORDER BY bucket_s) AS prev_t,
        |    first_value(v_u IGNORE NULLS) OVER
        |      (PARTITION BY user_id ORDER BY bucket_s
        |       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_u,
        |    first_value(CASE WHEN v_u IS NOT NULL THEN bucket_s END IGNORE NULLS) OVER
        |      (PARTITION BY user_id ORDER BY bucket_s
        |       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_t
        |  FROM j)
        |SELECT user_id, bucket_s, (v_u IS NOT NULL) AS is_observed,
        |       prev_u / 10000.0 AS v_ffill,
        |       (CASE WHEN v_u IS NOT NULL THEN v_u
        |             WHEN prev_t IS NOT NULL AND next_t IS NOT NULL THEN
        |               (prev_u * (next_t - bucket_s) + next_u * (bucket_s - prev_t))
        |                 // (next_t - prev_t)
        |             ELSE coalesce(prev_u, next_u) END) / 10000.0 AS v_interp
        |FROM w
        |ORDER BY user_id, bucket_s""".stripMargin)),

    // Sliding (hopping) windows: 1h size, 15min slide — every event in 4.
    QuerySpec("sliding_window", (s, dir) => {
      val ev = events(s, dir).withColumn("ts_s", unix_timestamp(col("ts")))
      WindowAssign.slidingWindow(ev, col("ts_s"), 3600L, 900L)
        .groupBy(col("window_start_s"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("window_start_s"))
    },
      oracleSql = Some("""SELECT ws AS window_start_s, count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM (SELECT value,
        |             unnest([((epoch_ns(ts) // 1000000000) // 900 - k) * 900
        |                     for k in [0, 1, 2, 3]]) AS ws
        |      FROM events)
        |GROUP BY ws
        |ORDER BY ws""".stripMargin))
  )
}
