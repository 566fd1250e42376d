package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables.{lineitem, events, documents}
import graft.operators.{Analytics, Guards, Incremental, Timeseries}

/** Time-series and statistical analytics over `events` and the corpora:
  * rolling and seasonal stats, change points, attribution, basket rules
  * and mixture divergences.
  */
object AnalyticsQueries {

  def specs: Seq[QuerySpec] = Seq(

    // Rolling z-score anomaly census: every event judged against its own
    // user's trailing 24 h — the streaming-shaped outlier screen next to
    // the global MAD census. One shuffle on the user key, per-key RANGE
    // frame; census output so measure-zero boundary flips can't move the
    // hash.
    QuerySpec("events_anomaly", (s, dir) => {
      val ev = events(s, dir)
      Timeseries.rollingAnomalies(ev, col("user_id"),
          unix_timestamp(col("ts")), col("value"), windowSeconds = 86400L, z = 3.0)
        .groupBy(col("key").as("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("is_anomaly"), 1L).otherwise(0L)).as("n_anomalies"))
        .orderBy(col("user_id"))
    },
      oracleSql = Some("""WITH e AS (SELECT user_id, epoch_ns(ts) // 1000000000 AS ts_s, value FROM events),
        |w AS (SELECT user_id, value,
        |             count(value) OVER fr AS n_window,
        |             avg(value) OVER fr AS mean_w,
        |             stddev_samp(value) OVER fr AS std_w
        |      FROM e
        |      WINDOW fr AS (PARTITION BY user_id ORDER BY ts_s
        |                    RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW))
        |SELECT user_id, count(*)::BIGINT AS n_events,
        |       sum(CASE WHEN n_window >= 10 AND std_w > 0
        |                 AND abs(value - mean_w) > std_w * 3.0
        |            THEN 1 ELSE 0 END)::BIGINT AS n_anomalies
        |FROM w
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin)),

    // Bounded-horizon EWMA per user: exponential smoothing re-expressed as
    // a pure function of the last 8 rows (geometric weights truncated where
    // they vanish), so the sequential recurrence becomes one per-key window
    // — embarrassingly parallel, no cross-row state. Value quantized once
    // to micro-units; weight literals embedded identically in the oracle.
    QuerySpec("events_ewma", (s, dir) => {
      events(s, dir)
        .withColumn("ewma", Analytics.ewma("user_id",
          Seq(unix_micros(col("ts")), col("event_id")), "value",
          alpha = 0.3, horizon = 8))
        .filter(pmod(col("event_id"), lit(20)) === 0)
        .select(col("event_id"), col("user_id"), col("ewma"))
        .orderBy(col("event_id"))
    },
      // EWMA: the lag-unrolled bounded-horizon form, with the (1-α)^j weight
      // literals emitted from the SAME math.pow calls the Spark plan embeds
      // (Double.toString round-trips, so DuckDB parses the identical double)
      // and the numerator/denominator summed in the same ascending-j
      // association order — the final division is bit-identical.
      oracleSql = Some(ewmaOracleSql(alpha = 0.3, horizon = 8))),

    // Rolling 20-row Pearson correlation of value against time per user,
    // from exact integer moment sums (decimal ≡ DuckDB HUGEINT) — the
    // engines' native `corr` window aggregate accumulates doubles in
    // engine-private order and can't be checked cross-engine. Degenerate
    // frames (zero variance) yield sentinel 2.0, never NULL.
    QuerySpec("events_rolling_corr", (s, dir) => {
      events(s, dir)
        .withColumn("corr20", Analytics.rollingCorr("user_id",
          Seq(unix_micros(col("ts")), col("event_id")),
          xCol = unix_timestamp(col("ts")) - 1704067200L,
          yCol = round(col("value") * 10000, 0).cast("long"),
          frameRows = 20))
        .filter(pmod(col("event_id"), lit(20)) === 0)
        .select(col("event_id"), col("user_id"), col("corr20"))
        .orderBy(col("event_id"))
    },
      // moment differences cast ::BIGINT::DOUBLE (single hardware cvt) —
      // DuckDB's direct HUGEINT→DOUBLE is not correctly rounded; the bounded
      // 20-row frame keeps every difference far inside int64.
      oracleSql = Some("""WITH e AS (
        |  SELECT event_id, user_id, epoch_ns(ts) // 1000 AS ts_us,
        |         (epoch_ns(ts) // 1000000000 - 1704067200)::HUGEINT AS x,
        |         CAST(round(value * 10000, 0) AS BIGINT)::HUGEINT AS y
        |  FROM events),
        |w AS (
        |  SELECT event_id, user_id,
        |         count(*) OVER fr AS n,
        |         sum(x) OVER fr AS sx, sum(y) OVER fr AS sy,
        |         sum(x * y) OVER fr AS sxy,
        |         sum(x * x) OVER fr AS sxx, sum(y * y) OVER fr AS syy
        |  FROM e
        |  WINDOW fr AS (PARTITION BY user_id ORDER BY ts_us, event_id
        |                ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
        |SELECT event_id, user_id,
        |       CASE WHEN (n * sxx - sx * sx)::BIGINT::DOUBLE > 0
        |             AND (n * syy - sy * sy)::BIGINT::DOUBLE > 0
        |            THEN floor((n * sxy - sx * sy)::BIGINT::DOUBLE
        |                       / sqrt((n * sxx - sx * sx)::BIGINT::DOUBLE)
        |                       / sqrt((n * syy - sy * sy)::BIGINT::DOUBLE)
        |                       * 10000.0 + 0.5)::BIGINT / 10000.0
        |            ELSE 2.0 END AS corr20
        |FROM w
        |WHERE event_id % 20 = 0
        |ORDER BY event_id""".stripMargin),
      scaleNote = Some("one key shuffle + per-key sort; six DECIMAL(38,0) moment sums over a 20-row frame " +
        "per row — exact integer moments chosen over the native double corr so the result " +
        "is cross-engine checkable. Cost is per-row CPU in one window pass, no extra exchange.")),

    // Autocorrelation census per event type at lags 1..3 — the
    // seasonality/persistence detector. One window pass computes all lags'
    // leads, one hash agg per (type, lag); exact deci-unit moments (chosen
    // so moment differences stay inside int64 through sf1 for the oracle's
    // single-cvt BIGINT→DOUBLE), sentinel 2.0 on degenerate lags.
    QuerySpec("events_acf", (s, dir) => {
      Analytics.autocorrCensus(events(s, dir), "event_type",
          Seq(unix_micros(col("ts")), col("event_id")), col("value"),
          lags = Seq(1, 2, 3))
        .select(col("event_type"), col("lag"), col("n_pairs"), col("acf"))
        .orderBy(col("event_type"), col("lag"))
    },
      oracleSql = Some("""WITH e AS (
        |  SELECT event_type, epoch_ns(ts) // 1000 AS ts_us, event_id,
        |         CAST(round(value * 10, 0) AS BIGINT) AS x
        |  FROM events),
        |l AS (
        |  SELECT event_type, x,
        |         lead(x, 1) OVER w AS y1,
        |         lead(x, 2) OVER w AS y2,
        |         lead(x, 3) OVER w AS y3
        |  FROM e
        |  WINDOW w AS (PARTITION BY event_type ORDER BY ts_us, event_id)),
        |p AS (
        |  SELECT event_type, 1 AS lag, x::HUGEINT AS x, y1::HUGEINT AS y
        |  FROM l WHERE y1 IS NOT NULL AND x IS NOT NULL
        |  UNION ALL
        |  SELECT event_type, 2, x::HUGEINT, y2::HUGEINT FROM l
        |  WHERE y2 IS NOT NULL AND x IS NOT NULL
        |  UNION ALL
        |  SELECT event_type, 3, x::HUGEINT, y3::HUGEINT FROM l
        |  WHERE y3 IS NOT NULL AND x IS NOT NULL),
        |a AS (
        |  SELECT event_type, lag, count(*)::HUGEINT AS n,
        |         sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
        |         sum(x * x) AS sxx, sum(y * y) AS syy
        |  FROM p GROUP BY 1, 2)
        |SELECT event_type, lag, n::BIGINT AS n_pairs,
        |       CASE WHEN (n * sxx - sx * sx)::BIGINT::DOUBLE > 0
        |             AND (n * syy - sy * sy)::BIGINT::DOUBLE > 0
        |            THEN floor((n * sxy - sx * sy)::BIGINT::DOUBLE
        |                       / sqrt((n * sxx - sx * sx)::BIGINT::DOUBLE)
        |                       / sqrt((n * syy - sy * sy)::BIGINT::DOUBLE)
        |                       * 10000.0 + 0.5)::BIGINT / 10000.0
        |            ELSE 2.0 END AS acf
        |FROM a
        |ORDER BY event_type, lag""".stripMargin)),

    // Interval-union coverage per user: each event holds activity open for
    // 5 minutes; overlapping holds merge into maximal spans (total active
    // time — the union metric a gap-cut session window can't express).
    // Gaps-and-islands in exact epoch-µs integers: one per-key sort, a
    // prior-ends running max, flag-sum island ids, two hash aggs.
    QuerySpec("events_active_spans", (s, dir) => {
      Timeseries.coverageSpans(events(s, dir), "user_id",
          unix_micros(col("ts")), holdSeconds = 300)
        .select(col("user_id"), col("n_spans"), col("active_us"), col("max_span_us"))
        .orderBy(col("user_id"))
    },
      oracleSql = Some("""WITH e AS (
        |  SELECT user_id, epoch_ns(ts) // 1000 AS s,
        |         epoch_ns(ts) // 1000 + 300000000 AS e
        |  FROM events),
        |f AS (
        |  SELECT user_id, s, e,
        |         max(e) OVER (PARTITION BY user_id ORDER BY s, e
        |                      ROWS BETWEEN UNBOUNDED PRECEDING
        |                      AND 1 PRECEDING) AS pme
        |  FROM e),
        |g AS (
        |  SELECT user_id, s, e,
        |         CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END AS nw
        |  FROM f),
        |h AS (
        |  SELECT user_id, s, e,
        |         sum(nw) OVER (PARTITION BY user_id ORDER BY s, e
        |                       ROWS BETWEEN UNBOUNDED PRECEDING
        |                       AND CURRENT ROW) AS isl
        |  FROM g),
        |i AS (
        |  SELECT user_id, isl, min(s) AS f, max(e) AS t FROM h GROUP BY 1, 2)
        |SELECT user_id, count(*)::BIGINT AS n_spans,
        |       sum(t - f)::BIGINT AS active_us,
        |       max(t - f)::BIGINT AS max_span_us
        |FROM i GROUP BY user_id
        |ORDER BY user_id""".stripMargin)),

    // State-dwell census: how long users sit in each event type before
    // their next event (stint = holds-until-next, the TWAP duration
    // model on a categorical) — the natural companion to the transition
    // census. Exact epoch-µs; mean is the family round-half-up division.
    QuerySpec("events_dwell", (s, dir) => {
      Timeseries.dwellCensus(events(s, dir), "user_id",
          Seq(unix_micros(col("ts")), col("event_id")),
          unix_micros(col("ts")), col("event_type"))
        .select(col("state"), col("n_stints"), col("total_us"), col("mean_us"))
        .orderBy(col("state"))
    },
      oracleSql = Some("""WITH e AS (
        |  SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, event_id, event_type
        |  FROM events),
        |d AS (
        |  SELECT event_type AS state,
        |         lead(ts_us) OVER (PARTITION BY user_id
        |                           ORDER BY ts_us, event_id) - ts_us AS dur
        |  FROM e)
        |SELECT state, count(*)::BIGINT AS n_stints, sum(dur)::BIGINT AS total_us,
        |       ((sum(dur) * 2 + count(*)) // (count(*) * 2))::BIGINT AS mean_us
        |FROM d WHERE dur IS NOT NULL
        |GROUP BY state
        |ORDER BY state""".stripMargin)),

    // SAX symbolic discretization per user: 8 PAA segments, 4-symbol
    // alphabet over the series' own nearest-rank quartile breakpoints —
    // the time-series-to-word transform, bit-exact because breakpoints
    // are data quantiles (exact integers), not Gaussian z-norm floats.
    QuerySpec("events_sax", (s, dir) => {
      Timeseries.saxSymbols(events(s, dir), "user_id",
          Seq(unix_micros(col("ts")), col("event_id")), col("value"),
          buckets = 8, alphabet = 4)
        .orderBy(col("user_id"), col("bucket"))
    },
      oracleSql = Some("""WITH e AS (
        |  SELECT user_id AS k, epoch_ns(ts) // 1000 AS ts_us, event_id,
        |         CAST(round(value * 10000, 0) AS BIGINT) AS v
        |  FROM events),
        |r AS (
        |  SELECT k, v,
        |         row_number() OVER (PARTITION BY k
        |                            ORDER BY ts_us, event_id) AS rn,
        |         row_number() OVER (PARTITION BY k
        |                            ORDER BY v, ts_us, event_id) AS rv,
        |         count(*) OVER (PARTITION BY k) AS n
        |  FROM e),
        |paa AS (
        |  SELECT k, ((rn - 1) * 8) // n AS b,
        |         count(*)::BIGINT AS c, sum(v)::BIGINT AS s
        |  FROM r GROUP BY 1, 2),
        |pa AS (SELECT k, b, (s * 2 + c) // (c * 2) AS paa_u FROM paa),
        |bp AS (
        |  SELECT k, v AS bpv FROM r
        |  WHERE rv = (n * 1 + 3) // 4 OR rv = (n * 2 + 3) // 4
        |     OR rv = (n * 3 + 3) // 4)
        |SELECT pa.k AS user_id, pa.b AS bucket, pa.paa_u,
        |       sum(CASE WHEN bp.bpv <= pa.paa_u THEN 1 ELSE 0 END)::BIGINT
        |         AS symbol
        |FROM pa LEFT JOIN bp ON pa.k = bp.k
        |GROUP BY 1, 2, 3
        |ORDER BY user_id, bucket""".stripMargin)),

    // SAX word census: each user's 8-symbol SAX word (segments in order)
    // counted across the population — the motif table ("how many users
    // share this activity shape"). Composition over events_sax; the word
    // assembles from an ORDERED collect, deterministic on both engines.
    QuerySpec("events_sax_words", (s, dir) => {
      Timeseries.saxSymbols(events(s, dir), "user_id",
          Seq(unix_micros(col("ts")), col("event_id")), col("value"),
          buckets = 8, alphabet = 4)
        .groupBy(col("user_id"))
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("bucket"), col("symbol")))),
          x => x.getField("symbol").cast("string")), "").as("sax_word"))
        .groupBy(col("sax_word"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("sax_word"))
    },
      oracleSql = Some("""WITH e AS (
        |  SELECT user_id AS k, epoch_ns(ts) // 1000 AS ts_us, event_id,
        |         CAST(round(value * 10000, 0) AS BIGINT) AS v
        |  FROM events),
        |r AS (
        |  SELECT k, v,
        |         row_number() OVER (PARTITION BY k
        |                            ORDER BY ts_us, event_id) AS rn,
        |         row_number() OVER (PARTITION BY k
        |                            ORDER BY v, ts_us, event_id) AS rv,
        |         count(*) OVER (PARTITION BY k) AS n
        |  FROM e),
        |paa AS (
        |  SELECT k, ((rn - 1) * 8) // n AS b,
        |         count(*)::BIGINT AS c, sum(v)::BIGINT AS s
        |  FROM r GROUP BY 1, 2),
        |pa AS (SELECT k, b, (s * 2 + c) // (c * 2) AS paa_u FROM paa),
        |bp AS (
        |  SELECT k, v AS bpv FROM r
        |  WHERE rv = (n * 1 + 3) // 4 OR rv = (n * 2 + 3) // 4
        |     OR rv = (n * 3 + 3) // 4),
        |sym AS (
        |  SELECT pa.k, pa.b,
        |         sum(CASE WHEN bp.bpv <= pa.paa_u THEN 1 ELSE 0 END)::BIGINT
        |           AS symbol
        |  FROM pa LEFT JOIN bp ON pa.k = bp.k
        |  GROUP BY 1, 2),
        |words AS (
        |  SELECT k, string_agg(symbol::VARCHAR, '' ORDER BY b) AS sax_word
        |  FROM sym GROUP BY k)
        |SELECT sax_word, count(*)::BIGINT AS n_users
        |FROM words GROUP BY 1
        |ORDER BY sax_word""".stripMargin)),

    // Multi-touch attribution census: which event types earn conversion
    // credit under first-touch / last-touch / linear models at once.
    // Exact integer ppm — the last touch absorbs the split remainder, so
    // every converted window sums to exactly 1e6.
    QuerySpec("events_attribution", (s, dir) => {
      Analytics.attributionCensus(events(s, dir), "user_id",
          Seq(unix_micros(col("ts")), col("event_id")),
          col("event_type"), convType = "purchase")
        .orderBy(col("event_type"))
    },
      oracleSql = Some("""WITH e AS (
        |  SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, event_id, event_type,
        |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
        |  FROM events),
        |m AS (
        |  SELECT user_id, ts_us, event_id, event_type, conv,
        |         sum(conv) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           - conv + 1 AS tgt,
        |         sum(conv) OVER (PARTITION BY user_id) AS nc
        |  FROM e),
        |t AS (SELECT * FROM m WHERE conv = 0 AND tgt <= nc),
        |r AS (
        |  SELECT event_type,
        |         row_number() OVER (PARTITION BY user_id, tgt
        |                            ORDER BY ts_us, event_id) AS rn,
        |         count(*) OVER (PARTITION BY user_id, tgt) AS n
        |  FROM t),
        |c AS (
        |  SELECT event_type, rn, n,
        |         1000000 // n + CASE WHEN rn = n
        |                       THEN 1000000 - n * (1000000 // n)
        |                       ELSE 0 END AS lin
        |  FROM r)
        |SELECT event_type,
        |       sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::BIGINT AS first_n,
        |       sum(CASE WHEN rn = n THEN 1 ELSE 0 END)::BIGINT AS last_n,
        |       sum(lin)::BIGINT AS linear_ppm
        |FROM c GROUP BY event_type
        |ORDER BY event_type""".stripMargin)),

    // Western-Electric SPC rule census per user over the user's own
    // control limits — the 1956 handbook run rules (beyond 3σ; 2-of-3
    // beyond 2σ same side; 4-of-5 beyond 1σ same side; 8 same side), all
    // as cross-multiplied integer inequalities in decimal, zero floats.
    QuerySpec("events_spc", (s, dir) => {
      Analytics.spcCensus(events(s, dir), "user_id",
          Seq(unix_micros(col("ts")), col("event_id")), col("value"))
        .orderBy(col("user_id"))
    },
      oracleSql = Some("""WITH e AS (
        |  SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, event_id,
        |         CAST(round(value * 100, 0) AS BIGINT) AS v
        |  FROM events),
        |st AS (
        |  SELECT user_id, ts_us, event_id, v,
        |         count(*) OVER wk AS n,
        |         sum(v) OVER wk AS s,
        |         sum(v::HUGEINT * v) OVER wk AS q,
        |         row_number() OVER wt AS rn
        |  FROM e
        |  WINDOW wk AS (PARTITION BY user_id),
        |         wt AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |d AS (
        |  SELECT user_id, ts_us, event_id, rn, n,
        |         v::HUGEINT * n - s AS dev,
        |         n::HUGEINT * q - s::HUGEINT * s AS vr
        |  FROM st),
        |f AS (
        |  SELECT user_id, ts_us, event_id, rn, n, dev,
        |         (dev * dev * (n - 1) > 9 * n::HUGEINT * vr) AS b3,
        |         (dev * dev * (n - 1) > 4 * n::HUGEINT * vr) AS b2,
        |         (dev * dev * (n - 1) > 1 * n::HUGEINT * vr) AS b1
        |  FROM d),
        |w2 AS (
        |  SELECT user_id, n, rn, b3,
        |         sum(CASE WHEN b2 AND dev > 0 THEN 1 ELSE 0 END) OVER w3 AS p2,
        |         sum(CASE WHEN b2 AND dev < 0 THEN 1 ELSE 0 END) OVER w3 AS m2,
        |         sum(CASE WHEN b1 AND dev > 0 THEN 1 ELSE 0 END) OVER w5 AS p1,
        |         sum(CASE WHEN b1 AND dev < 0 THEN 1 ELSE 0 END) OVER w5 AS m1,
        |         sum(CASE WHEN dev > 0 THEN 1 ELSE 0 END) OVER w8 AS pp,
        |         sum(CASE WHEN dev < 0 THEN 1 ELSE 0 END) OVER w8 AS mm
        |  FROM f
        |  WINDOW w3 AS (PARTITION BY user_id ORDER BY ts_us, event_id
        |                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
        |         w5 AS (PARTITION BY user_id ORDER BY ts_us, event_id
        |                ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
        |         w8 AS (PARTITION BY user_id ORDER BY ts_us, event_id
        |                ROWS BETWEEN 7 PRECEDING AND CURRENT ROW))
        |SELECT user_id, count(*)::BIGINT AS n,
        |       sum(CASE WHEN b3 THEN 1 ELSE 0 END)::BIGINT AS r1,
        |       sum(CASE WHEN rn >= 3 AND (p2 >= 2 OR m2 >= 2)
        |           THEN 1 ELSE 0 END)::BIGINT AS r2,
        |       sum(CASE WHEN rn >= 5 AND (p1 >= 4 OR m1 >= 4)
        |           THEN 1 ELSE 0 END)::BIGINT AS r3,
        |       sum(CASE WHEN rn >= 8 AND (pp = 8 OR mm = 8)
        |           THEN 1 ELSE 0 END)::BIGINT AS r4
        |FROM w2 GROUP BY user_id
        |ORDER BY user_id""".stripMargin)),

    // Pettitt changepoint census per user: the rank-based (outlier-immune)
    // "where does this series split into before/after regimes" locator —
    // the robust complement to the CUSUM census. Doubled average ranks
    // keep tie handling integer; |U| <= 2n^2 stays in int64 at any sf.
    QuerySpec("events_pettitt", (s, dir) => {
      Analytics.pettittCensus(events(s, dir), "user_id",
          Seq(unix_micros(col("ts")), col("event_id")), col("value"))
        .orderBy(col("user_id"))
    },
      oracleSql = Some("""WITH e AS (
        |  SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, event_id,
        |         CAST(round(value * 10000, 0) AS BIGINT) AS v
        |  FROM events),
        |r AS (
        |  SELECT user_id, v,
        |         count(*) OVER (PARTITION BY user_id) AS n,
        |         2 * rank() OVER (PARTITION BY user_id ORDER BY v)
        |           + count(*) OVER (PARTITION BY user_id, v) - 1 AS d,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY ts_us, event_id) AS t
        |  FROM e),
        |u AS (
        |  SELECT user_id, n, t,
        |         sum(d - n - 1) OVER (PARTITION BY user_id ORDER BY t
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ut
        |  FROM r),
        |w AS (
        |  SELECT user_id, n, t, ut, abs(ut) AS a,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY abs(ut) DESC, t) AS rn
        |  FROM u WHERE t < n)
        |SELECT user_id, n::BIGINT AS n, a::BIGINT AS k2_stat,
        |       t::BIGINT AS t_hat,
        |       (CASE WHEN ut > 0 THEN 1 WHEN ut < 0 THEN -1
        |             ELSE 0 END)::BIGINT AS direction
        |FROM w WHERE rn = 1
        |ORDER BY user_id""".stripMargin)),

    // Association-rule census over order baskets (which parts co-occur):
    // support/confidence/lift in exact integer ppm. Pairs come from a
    // self-join ON THE BASKET KEY (fanout Σ|basket|², never |items|²),
    // min-support cut on the aggregated pairs, marginals joined back.
    QuerySpec("basket_rules", (s, dir) => {
      Analytics.associationRules(lineitem(s, dir),
          col("l_orderkey"), col("l_partkey"), minSupport = 2)
        .orderBy(col("item_a"), col("item_b"))
    },
      oracleSql = Some("""WITH b AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
        |           FROM lineitem),
        |nb AS (SELECT count(DISTINCT bk)::HUGEINT AS N FROM b),
        |i AS (SELECT it, count(*)::HUGEINT AS ni FROM b GROUP BY 1),
        |p AS (SELECT l.it AS item_a, r.it AS item_b, count(*)::HUGEINT AS nab
        |      FROM b l JOIN b r ON l.bk = r.bk AND l.it < r.it
        |      GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT p.item_a, p.item_b, nab::BIGINT AS n_ab,
        |       ((nab * 2000000 + N) // (N * 2))::BIGINT AS supp_ppm,
        |       ((nab * 2000000 + a.ni) // (a.ni * 2))::BIGINT AS conf_ab_ppm,
        |       ((nab * 2000000 + c.ni) // (c.ni * 2))::BIGINT AS conf_ba_ppm,
        |       ((nab * N * 2000000 + a.ni * c.ni)
        |        // (a.ni * c.ni * 2))::BIGINT AS lift_ppm
        |FROM p JOIN i a ON p.item_a = a.it
        |       JOIN i c ON p.item_b = c.it
        |       CROSS JOIN nb
        |ORDER BY item_a, item_b""".stripMargin),
      scaleNote = Some("pair volume = sum of |basket|^2 over baskets (the self-join keys on the basket id), " +
        "never |items|^2; marginals broadcast, grand total a 1-row broadcast. The basket " +
        "table is NOT pinned — its two self-join sides share one exchange (ReusedExchange).")),

    // First-order Markov transition census over per-user event sequences —
    // the sequence-mining companion to funnel/cohort: which step follows
    // which, with conditional probability in integer ppm (pure integer
    // round-half-up; no float anywhere). Per-key lead() shards by user;
    // the census is a hash agg on at most |states|² rows.
    QuerySpec("events_transitions", (s, dir) => {
      Analytics.transitionCensus(events(s, dir), "user_id",
          Seq(unix_micros(col("ts")), col("event_id")), "event_type")
        .orderBy(col("from_state"), col("to_state"))
    },
      oracleSql = Some("""WITH p AS (
        |  SELECT event_type AS from_state,
        |         lead(event_type) OVER (PARTITION BY user_id
        |           ORDER BY epoch_ns(ts) // 1000, event_id) AS to_state
        |  FROM events),
        |c AS (
        |  SELECT from_state, to_state, count(*)::BIGINT AS n
        |  FROM p WHERE to_state IS NOT NULL GROUP BY 1, 2),
        |t AS (
        |  SELECT *, sum(n) OVER (PARTITION BY from_state) AS tot FROM c)
        |SELECT from_state, to_state, n,
        |       ((n * 2000000 + tot) // (tot * 2))::BIGINT AS p_ppm
        |FROM t
        |ORDER BY from_state, to_state""".stripMargin)),

    // Shannon entropy (nats) of the language distribution per source — the
    // corpus-diversity / label-skew monitor. Counts aggregate exactly; the
    // single float step (Σ c·ln c over ≤ a few categories) sits far inside
    // the 6dp round.
    QuerySpec("source_lang_entropy", (s, dir) => {
      Analytics.categoricalEntropy(documents(s, dir),
          Seq(col("source")), col("lang"))
        .select(col("source"), col("n_cats"), col("entropy"))
        .orderBy(col("source"))
    },
      oracleSql = Some("""WITH c AS (
        |  SELECT source, lang, count(*)::BIGINT AS c
        |  FROM documents GROUP BY 1, 2)
        |SELECT source, count(*)::BIGINT AS n_cats,
        |       round(ln(sum(c)::DOUBLE)
        |             - sum(c::DOUBLE * ln(c::DOUBLE)) / sum(c), 6) AS entropy
        |FROM c GROUP BY source
        |ORDER BY source""".stripMargin)),

    // Mixture-drift monitor: KL divergence of each source's language mix
    // against the corpus blend. One corpus hash agg to joint counts; the
    // divergence math runs on the compact count table (marginals broadcast).
    QuerySpec("mixture_kl", (s, dir) => {
      Analytics.klDivergence(documents(s, dir), Seq(col("source")), col("lang"))
        .select(col("source"), col("n_rows"), col("n_cats"), col("kl"))
        .orderBy(col("source"))
    },
      oracleSql = Some("""WITH j AS (SELECT source, lang, count(*)::BIGINT AS ngc
        |           FROM documents GROUP BY 1, 2),
        |g AS (SELECT source, sum(ngc)::BIGINT AS ng FROM j GROUP BY 1),
        |c AS (SELECT lang, sum(ngc)::BIGINT AS nc FROM j GROUP BY 1),
        |n AS (SELECT sum(nc)::BIGINT AS n FROM c)
        |SELECT j.source, max(g.ng)::BIGINT AS n_rows, count(*)::BIGINT AS n_cats,
        |       round(sum(ngc::DOUBLE * (ln(ngc::DOUBLE) + ln(n.n::DOUBLE)
        |                                - ln(g.ng::DOUBLE) - ln(c.nc::DOUBLE)))
        |             / max(g.ng)::DOUBLE, 6) AS kl
        |FROM j JOIN g USING (source) JOIN c USING (lang), n
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Independence census: per-source Pearson chi-square contribution of
    // the lang×source table (textbook form incl. unobserved cells, which
    // are synthesised by crossing the tiny marginal tables).
    QuerySpec("mixture_chi2", (s, dir) => {
      Analytics.chiSquare(documents(s, dir), col("source"), col("lang"))
        .select(col("row_cat").as("source"), col("n_rows"), col("n_cells"), col("chi2"))
        .orderBy(col("source"))
    },
      oracleSql = Some("""WITH j AS (SELECT source AS r, lang AS cst, count(*)::BIGINT AS o
        |           FROM documents GROUP BY 1, 2),
        |rt AS (SELECT r, sum(o)::BIGINT AS nr FROM j GROUP BY 1),
        |ct AS (SELECT cst, sum(o)::BIGINT AS nc FROM j GROUP BY 1),
        |n AS (SELECT sum(nc)::BIGINT AS n FROM ct),
        |cells AS (
        |  SELECT rt.r, ct.cst, rt.nr,
        |         coalesce(j.o, 0)::DOUBLE AS od,
        |         rt.nr::DOUBLE * ct.nc::DOUBLE / n.n::DOUBLE AS e
        |  FROM rt CROSS JOIN ct CROSS JOIN n
        |  LEFT JOIN j ON j.r = rt.r AND j.cst = ct.cst)
        |SELECT r AS source, max(nr)::BIGINT AS n_rows, count(*)::BIGINT AS n_cells,
        |       round(sum((od - e) * (od - e) / e), 6) AS chi2
        |FROM cells GROUP BY 1 ORDER BY 1""".stripMargin)),

    // OHLC downsample: per-user daily bars (open/close = min_by/max_by row
    // selections under a total order, no float arithmetic; sums in exact
    // micro-units). ONE map-side-combined hash agg — no sort anywhere.
    QuerySpec("events_ohlc", (s, dir) => {
      Timeseries.resampleOhlc(events(s, dir), col("user_id"), col("ts"),
          Seq(unix_micros(col("ts")), col("event_id")), col("value"), 86400L)
        .select(col("__k").as("user_id"), col("bucket_s"), col("open"),
          col("high"), col("low"), col("close"), col("n_events"), col("sum_u"))
        .orderBy(col("user_id"), col("bucket_s"))
    },
      oracleSql = Some("""WITH e AS (
        |  SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us,
        |         (epoch_ns(ts) // 1000000000 // 86400) * 86400 AS bucket_s, value
        |  FROM events),
        |r AS (
        |  SELECT *,
        |         row_number() OVER (PARTITION BY user_id, bucket_s
        |                            ORDER BY ts_us, event_id) AS ra,
        |         row_number() OVER (PARTITION BY user_id, bucket_s
        |                            ORDER BY ts_us DESC, event_id DESC) AS rd
        |  FROM e)
        |SELECT user_id, bucket_s,
        |       round(max(CASE WHEN ra = 1 THEN value END), 2) AS open,
        |       round(max(value), 2) AS high,
        |       round(min(value), 2) AS low,
        |       round(max(CASE WHEN rd = 1 THEN value END), 2) AS close,
        |       count(*)::BIGINT AS n_events,
        |       sum(CAST(round(value * 10000, 0) AS BIGINT))::BIGINT AS sum_u
        |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Bollinger-band breach census: rows leaving the rolling mean ± 2σ
    // band of the trailing 20 observations — the squared cross-multiplied
    // form keeps EVERYTHING integer (no σ, no sqrt, no division), so the
    // census is bit-exact cross-engine. One per-key window pass + hash agg.
    QuerySpec("events_bollinger", (s, dir) => {
      Analytics.bollingerCensus(events(s, dir), "user_id",
          Seq(unix_micros(col("ts")), col("event_id")), col("value"),
          frameRows = 20, k = 2)
        .select(col("user_id"), col("n_eval"), col("n_breaches"), col("first_breach"))
        .orderBy(col("user_id"))
    },
      oracleSql = Some("""WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, event_id,
        |                  CAST(round(value * 10000, 0) AS BIGINT) AS vu
        |           FROM events),
        |m AS (SELECT user_id, vu,
        |        row_number() OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS i,
        |        count(*) OVER fr AS n, sum(vu) OVER fr AS sx,
        |        sum(vu * vu) OVER fr AS sxx
        |      FROM e
        |      WINDOW fr AS (PARTITION BY user_id ORDER BY ts_us, event_id
        |                    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
        |f AS (SELECT user_id, i,
        |             (vu * n - sx) * (vu * n - sx) * (n - 1) >
        |               4 * n * (n * sxx - sx * sx) AS b
        |      FROM m WHERE n = 20)
        |SELECT user_id, count(*)::BIGINT AS n_eval,
        |       sum(CASE WHEN b THEN 1 ELSE 0 END)::BIGINT AS n_breaches,
        |       min(CASE WHEN b THEN i END)::BIGINT AS first_breach
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Robust rolling-outlier census — the median/MAD twin of
    // events_bollinger: a spike inside the frame shifts a mean/σ band
    // enough to mask the NEXT anomaly but barely moves the median/MAD.
    // Odd frame → lower median IS the median; median, deviations, and MAD
    // are exact micro-unit integers and |v−med| > k·MAD never touches a
    // float. One frame-bounded window pass + one hash agg.
    QuerySpec("events_rolling_median", (s, dir) => {
      Analytics.rollingMadCensus(events(s, dir), "user_id",
          Seq(unix_micros(col("ts")), col("event_id")), col("value"),
          frameRows = 7, k = 3)
        .select(col("user_id"), col("n_eval"), col("n_outliers"), col("first_outlier"))
        .orderBy(col("user_id"))
    },
      oracleSql = Some("""WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, event_id,
        |                  CAST(round(value * 10000, 0) AS BIGINT) AS vu
        |           FROM events WHERE value IS NOT NULL),
        |f AS (SELECT user_id, vu,
        |        row_number() OVER w AS i,
        |        list(vu) OVER (w ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS arr
        |      FROM e
        |      WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |m AS (SELECT user_id, vu, i, arr, list_sort(arr)[4] AS med
        |      FROM f WHERE len(arr) = 7),
        |d AS (SELECT user_id, i,
        |             abs(vu - med) > 3 * list_sort([abs(x - med) for x in arr])[4] AS b
        |      FROM m)
        |SELECT user_id, count(*)::BIGINT AS n_eval,
        |       sum(CASE WHEN b THEN 1 ELSE 0 END)::BIGINT AS n_outliers,
        |       min(CASE WHEN b THEN i END)::BIGINT AS first_outlier
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Time-weighted average per user: each reading holds until the next
    // (step-function integral / elapsed time) — the irregular-sampling
    // mean a plain AVG gets wrong on bursty streams. Micro-units ×
    // whole-ms durations sum as DECIMAL(38,0); one lead window pass + one
    // hash agg, final division is the family's floor-rounding.
    QuerySpec("events_twap", (s, dir) => {
      Timeseries.timeWeightedAvg(events(s, dir), col("user_id"),
          unix_micros(col("ts")),
          Seq(unix_micros(col("ts")), col("event_id")), col("value"))
        .select(col("__k").as("user_id"), col("n_segments"), col("dur_ms"),
          col("twavg"))
        .orderBy(col("user_id"))
    },
      oracleSql = Some("""WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, event_id,
        |                  CAST(round(value * 10000, 0) AS BIGINT) AS vu
        |           FROM events),
        |s AS (SELECT user_id, vu, ts_us,
        |             lead(ts_us) OVER (PARTITION BY user_id
        |                               ORDER BY ts_us, event_id) AS next_ts
        |      FROM e),
        |seg AS (SELECT user_id, vu, (next_ts - ts_us) // 1000 AS dur_ms
        |        FROM s WHERE next_ts IS NOT NULL),
        |a AS (SELECT user_id, count(*)::BIGINT AS n_segments,
        |             sum(dur_ms)::BIGINT AS dur_ms,
        |             sum(vu::HUGEINT * dur_ms) AS num
        |      FROM seg GROUP BY 1)
        |SELECT user_id, n_segments, dur_ms,
        |       floor(num::DOUBLE / dur_ms::DOUBLE + 0.5) / 10000 AS twavg
        |FROM a WHERE dur_ms > 0 ORDER BY user_id""".stripMargin)),

    // Hour-of-day seasonal profile per event type (ratio-to-overall
    // decomposition): phase mean ÷ type mean, cross-multiplied into exact
    // DECIMAL(38,0) products. One corpus hash agg → |types·24| rows; the
    // per-type totals window runs over THAT bounded table only.
    QuerySpec("events_seasonal", (s, dir) => {
      Timeseries.seasonalIndex(events(s, dir), col("event_type"),
          hour(col("ts")).cast("long"), col("value"))
        .select(col("__k").as("event_type"), col("__p").as("hr"), col("n"),
          col("idx"))
        .orderBy(col("event_type"), col("hr"))
    },
      oracleSql = Some("""WITH e AS (SELECT event_type, hour(ts)::BIGINT AS hr,
        |                  CAST(round(value * 10000, 0) AS BIGINT) AS vu
        |           FROM events),
        |g AS (SELECT event_type, hr, count(*)::BIGINT AS n,
        |             sum(vu)::BIGINT AS sum_u
        |      FROM e GROUP BY 1, 2),
        |t AS (SELECT event_type, hr, n, sum_u,
        |             sum(n) OVER (PARTITION BY event_type) AS tn,
        |             sum(sum_u) OVER (PARTITION BY event_type) AS tsum
        |      FROM g)
        |SELECT event_type, hr, n,
        |       floor((sum_u::HUGEINT * tn)::DOUBLE / (n::HUGEINT * tsum)::DOUBLE
        |             * 10000 + 0.5) / 10000 AS idx
        |FROM t WHERE tsum > 0 ORDER BY 1, 2""".stripMargin)),

    // Distinct-user overlap across half-years from two persisted THETA
    // set states — |A|, |B|, |A∩B|, |A∪B|, |A\B| per event type with NO
    // rescan of either half (theta sketches close under union/
    // intersection/difference, unlike HLL's union-only). Rows-tier: the
    // estimates are sketch-family-dependent; IncrementalSuite pins
    // exactness below sketch capacity and the set-algebra identities.
    QuerySpec("events_user_overlap", (s, dir) => {
      val e = events(s, dir)
      val cut = lit("2024-01-16").cast("timestamp") // events span Jan 2024
      val keys = Seq(col("event_type"))
      val a = Incremental.setState(e.filter(col("ts") < cut), keys, col("user_id"))
      val b = Incremental.setState(e.filter(col("ts") >= cut), keys, col("user_id"))
      Incremental.setOverlap(Seq("event_type"), a, b)
        .orderBy(col("event_type"))
    }),

    // The SAME theta set algebra in its EXACT regime: below 2^lgK retained
    // hashes a theta sketch stores EVERY distinct hash (theta = 1), so
    // estimate == exact distinct count and union/intersection/difference
    // are exact set operations — which hands the whole persisted-state
    // serving path (sketch agg, intersection, AnotB, union, estimate) a
    // DuckDB set-algebra oracle. The third generated-oracle conversion
    // after BPE and Misra-Gries. The premise is ENFORCED in the plan: an
    // assert on the true distinct-user count raises loudly if a corpus
    // ever outgrows the exact range, instead of failing the gate with an
    // estimate-vs-exact diff.
    QuerySpec("events_user_overlap_exact", (s, dir) => {
      val e = events(s, dir)
      val cut = lit("2024-01-16").cast("timestamp")
      val keys = Seq(col("event_type"))
      val guard = e.agg(countDistinct(col("user_id")).as("__nd"))
      val a = Incremental.setState(e.filter(col("ts") < cut), keys, col("user_id"))
      val b = Incremental.setState(e.filter(col("ts") >= cut), keys, col("user_id"))
      Guards.inPlanAssert(
          Incremental.setOverlap(Seq("event_type"), a, b),
          guard, col("__nd") <= 4096,
          "events_user_overlap_exact: distinct users exceed the theta " +
            "exact range (2^12 retained hashes) — estimates would diverge from " +
            "the set oracle; use events_user_overlap (sketch regime)")
        .orderBy(col("event_type"))
    },
      // theta set algebra in its exact regime: plain set operations on the
      // distinct (event_type, user_id) pairs of the two halves
      oracleSql = Some("""WITH a AS (SELECT DISTINCT event_type, user_id FROM events
        |           WHERE ts < TIMESTAMP '2024-01-16'),
        |b AS (SELECT DISTINCT event_type, user_id FROM events
        |      WHERE ts >= TIMESTAMP '2024-01-16'),
        |ka AS (SELECT event_type, count(*)::BIGINT AS n_a FROM a GROUP BY 1),
        |kb AS (SELECT event_type, count(*)::BIGINT AS n_b FROM b GROUP BY 1),
        |nboth AS (SELECT event_type, count(*)::BIGINT AS n_both
        |          FROM (SELECT * FROM a INTERSECT SELECT * FROM b) GROUP BY 1),
        |neither AS (SELECT event_type, count(*)::BIGINT AS n_either
        |            FROM (SELECT * FROM a UNION SELECT * FROM b) GROUP BY 1),
        |nonly AS (SELECT event_type, count(*)::BIGINT AS n_only_a
        |          FROM (SELECT * FROM a EXCEPT SELECT * FROM b) GROUP BY 1)
        |SELECT ka.event_type, n_a, n_b,
        |       coalesce(n_both, 0)::BIGINT AS n_both,
        |       n_either,
        |       coalesce(n_only_a, 0)::BIGINT AS n_only_a
        |FROM ka
        |JOIN kb USING (event_type)
        |JOIN neither USING (event_type)
        |LEFT JOIN nboth USING (event_type)
        |LEFT JOIN nonly USING (event_type)
        |ORDER BY event_type""".stripMargin)),

    // The KLL quantile state in its EXACT regime: while a group's count
    // stays ≤ k the sketch never compacts — no random coins, every item
    // retained — so merged-state quantiles ARE order statistics, and the
    // DataSketches INCLUSIVE rank rule (smallest item whose rank/n ≥ p)
    // coincides with DuckDB's quantile_disc (probed: identical at n=4/5/8
    // and through the merge path). That hands the whole maintenance path
    // (agg → serialize → sorted pairwise merge fold → quantile eval) a
    // SQL oracle — the fourth generated-oracle conversion after BPE,
    // Misra-Gries, and theta. Probabilities are binary-exact (1/4, 1/2,
    // 3/4, 7/8) so the ceil(p·n) boundary can't flip on float rounding in
    // either engine; value is floored to micro-units in BOTH engines
    // (DuckDB's double→BIGINT cast rounds where Spark's truncates — floor
    // first makes the quantized longs identical). The premise is ENFORCED
    // in the plan: an assert on the max per-group count raises loudly if
    // a corpus outgrows the exact range, instead of failing the gate with
    // a sketch-estimate-vs-exact diff.
    QuerySpec("events_quantiles_exact", (s, dir) => {
      val e = events(s, dir)
      val cut = lit("2024-01-16").cast("timestamp")
      val k = 32768
      val v = floor(col("value") * lit(1000000.0d)).cast("long")
      val keys = Seq(col("event_type"))
      val guard = e.groupBy(col("event_type")).count()
        .agg(max(col("count")).as("__mx"))
      val a = Incremental.quantileState(e.filter(col("ts") < cut), keys, v, k)
      val b = Incremental.quantileState(e.filter(col("ts") >= cut), keys, v, k)
      val m = Incremental.mergeQuantileStates(Seq("event_type"), a, b)
      Guards.inPlanAssert(
          Incremental.finishQuantiles(m, Seq("event_type"),
            Seq(0.25, 0.5, 0.75, 0.875)),
          guard, col("__mx") <= k,
          "events_quantiles_exact: a group outgrew the KLL exact range " +
            s"(k=$k retained items) — compaction would turn quantiles into " +
            "sketch estimates; raise k or use the rank-error spec tier")
        .orderBy(col("event_type"))
    },
      // KLL quantile maintenance in its exact regime: the merged states
      // retain every item, so the serving quantiles are plain inclusive
      // order statistics — quantile_disc on the identically-quantized longs
      oracleSql = Some("""SELECT event_type,
        |       quantile_disc(v, 0.25)  AS q_p25,
        |       quantile_disc(v, 0.5)   AS q_p50,
        |       quantile_disc(v, 0.75)  AS q_p75,
        |       quantile_disc(v, 0.875) AS q_p88
        |FROM (SELECT event_type, CAST(floor(value * 1000000) AS BIGINT) AS v
        |      FROM events)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // CUSUM changepoint census per user (Page 1954): mean-centered
    // cumulative deviation in the n-scaled integer form (no division, no
    // float anywhere), crossings flagged against a 300-unit excursion
    // budget. One per-key window pass + one hash agg.
    QuerySpec("events_cusum", (s, dir) => {
      Analytics.cusumCensus(events(s, dir), col("user_id"),
          Seq(unix_micros(col("ts")), col("event_id")), col("value"),
          thresholdUnits = 300.0)
        .select(col("__k").as("user_id"), col("n_events"), col("n_crossings"),
          col("max_dev_u"), col("first_cross"))
        .orderBy(col("user_id"))
    },
      oracleSql = Some("""WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, event_id,
        |                  CAST(round(value * 10000, 0) AS BIGINT) AS vu
        |           FROM events),
        |w AS (SELECT user_id,
        |        row_number() OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS i,
        |        sum(vu) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |        count(*) OVER (PARTITION BY user_id) AS n,
        |        sum(vu) OVER (PARTITION BY user_id) AS s
        |      FROM e),
        |c AS (SELECT user_id, i, n, n * cum - i * s AS cdev FROM w)
        |SELECT user_id, max(n)::BIGINT AS n_events,
        |       sum(CASE WHEN abs(cdev) > 3000000 * n THEN 1 ELSE 0 END)::BIGINT
        |         AS n_crossings,
        |       (max(abs(cdev)) // max(n))::BIGINT AS max_dev_u,
        |       min(CASE WHEN abs(cdev) > 3000000 * n THEN i END)::BIGINT AS first_cross
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin)),

    // 3-step sequence mining: the most frequent event-type trigram paths
    // across per-user timelines (the PrefixSpan-lite census behind funnel
    // discovery). Two leads over one per-user sort, then a hash agg on at
    // most |types|³ rows; total (n desc, steps) order makes the top-20 cut
    // deterministic.
    QuerySpec("events_sequences", (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(unix_micros(col("ts")), col("event_id"))
      events(s, dir)
        .withColumn("s2", lead(col("event_type"), 1).over(w))
        .withColumn("s3", lead(col("event_type"), 2).over(w))
        .filter(col("s3").isNotNull)
        .groupBy(col("event_type").as("step1"), col("s2").as("step2"),
          col("s3").as("step3"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("step1"), col("step2"), col("step3"))
        .limit(20)
    },
      oracleSql = Some("""WITH e AS (SELECT user_id, event_type, epoch_ns(ts) // 1000 AS ts_us, event_id
        |           FROM events),
        |l AS (SELECT user_id, event_type AS step1,
        |             lead(event_type, 1) OVER w AS step2,
        |             lead(event_type, 2) OVER w AS step3
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id))
        |SELECT step1, step2, step3, count(*)::BIGINT AS n
        |FROM l WHERE step3 IS NOT NULL
        |GROUP BY 1, 2, 3
        |ORDER BY n DESC, step1, step2, step3
        |LIMIT 20""".stripMargin))
  )

  /** DuckDB mirror of [[Analytics.ewma]]: weight literals printed from the
    * SAME `math.pow(1-α, j)` doubles the Spark plan embeds (Double.toString
    * round-trips through DuckDB's literal parser to the identical bits) and
    * terms summed in the same ascending-j association order.
    */
  private def ewmaOracleSql(alpha: Double, horizon: Int): String = {
    val lagCols = (0 until horizon).map { j =>
      if (j == 0) "xu AS x0" else s"lag(xu, $j) OVER w AS x$j"
    }.mkString(", ")
    def w(j: Int) = java.lang.Double.toString(math.pow(1 - alpha, j))
    val num = (0 until horizon)
      .map(j => s"(CASE WHEN x$j IS NOT NULL THEN ${w(j)} * x$j ELSE 0.0 END)")
      .mkString(" + ")
    val den = (0 until horizon)
      .map(j => s"(CASE WHEN x$j IS NOT NULL THEN ${w(j)} ELSE 0.0 END)")
      .mkString(" + ")
    s"""WITH e AS (
       |  SELECT event_id, user_id, epoch_ns(ts) // 1000 AS ts_us,
       |         CAST(round(value * 10000, 0) AS BIGINT) AS xu
       |  FROM events),
       |l AS (
       |  SELECT event_id, user_id, $lagCols
       |  FROM e
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id))
       |SELECT event_id, user_id,
       |       round(($num) / ($den) / 10000.0, 4) AS ewma
       |FROM l
       |WHERE event_id % 20 = 0
       |ORDER BY event_id""".stripMargin
  }
}
