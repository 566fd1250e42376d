package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables.{lineitem, orders, customer, part, supplier, nation, region, events, documents}
import graft.operators.{Analytics, Guards, Incremental, Profile, Relational, TextAnalysis, Timeseries}

/** The relational surface: joins, windows, sets, rollups, percentiles,
  * profiles and the other TPC-H/events analytics named `q_*`, plus the
  * mergeable-state aggregates `agg_incremental*`.
  */
object RelationalQueries {

  def specs: Seq[QuerySpec] = Seq(

    // Partial+final hash aggregation, TPC-H Q1 shape.
    QuerySpec("q1_agg", (s, dir) => {
      lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("1995-09-02 00:00:00").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          round(avg(col("l_discount")), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
      oracleSql = Some("""SELECT l_returnflag, l_linestatus,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       round(sum(l_extendedprice), 2) AS sum_base_price,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |       round(avg(l_quantity), 4) AS avg_qty,
        |       round(avg(l_discount), 4) AS avg_disc,
        |       count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1995-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // Multi-way join; small dims broadcast explicitly.
    QuerySpec("q_join_broadcast", (s, dir) => {
      orders(s, dir)
        .join(customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("revenue"))
        .orderBy(col("r_name"), col("n_name"))
    },
      oracleSql = Some("""SELECT r_name, n_name, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin)),

    // Bloom-pruned shuffle join (semi-join reduction): the dim side is a
    // selective filter of orders whose KEYS build a Bloom sketch; fact
    // rows failing the sketch die at the scan and never enter the join
    // exchange. No false negatives → result ≡ the plain join the oracle
    // runs. Integer-exact revenue (price and discount carried as scaled
    // longs) so the sum is order-independent across engines.
    QuerySpec("q_join_bloom_pruned", (s, dir) => {
      val dim = orders(s, dir)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_orderdate"))
      Relational.bloomPrunedJoin(
          lineitem(s, dir)
            .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")),
          col("l_orderkey"), dim, col("o_orderkey"))
        .groupBy((year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
          .as("month"))
        .agg(count(lit(1)).as("n_items"),
          sum(round(col("l_extendedprice") * 100, 0).cast("long") *
            (lit(10000L) - round(col("l_discount") * 10000, 0).cast("long")))
            .as("revenue_u"))
        .orderBy(col("month"))
    },
      // plain join: the Bloom prune is invisible to the result (no false
      // negatives; join removes false positives)
      oracleSql = Some("""SELECT year(o.o_orderdate) * 100 + month(o.o_orderdate) AS month,
        |       count(*)::BIGINT AS n_items,
        |       sum(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)
        |           * (10000 - CAST(round(l.l_discount * 10000, 0) AS BIGINT)))::BIGINT
        |         AS revenue_u
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderpriority = '1-URGENT'
        |GROUP BY 1
        |ORDER BY 1""".stripMargin)),

    // Left-semi join (EXISTS).
    QuerySpec("q_semi_join", (s, dir) => {
      customer(s, dir)
        .join(orders(s, dir), col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"), round(sum(col("c_acctbal")), 2).as("sum_acctbal"))
        .orderBy(col("c_mktsegment"))
    },
      oracleSql = Some("""SELECT c_mktsegment, count(*) AS n_customers, round(sum(c_acctbal), 2) AS sum_acctbal
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin)),

    // Left-anti join (NOT EXISTS): customers with no 1995 orders.
    QuerySpec("q_anti_join", (s, dir) => {
      customer(s, dir)
        .join(orders(s, dir).filter(year(col("o_orderdate")) === 1995),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .join(broadcast(nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("n_name"))
    },
      oracleSql = Some("""SELECT n_name, count(*) AS n_customers
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND year(o_orderdate) = 1995)
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin)),

    // Ranking window function: top-3 parts per brand.
    QuerySpec("q_topk_per_group", (s, dir) => {
      val w = Window.partitionBy(col("p_brand"))
        .orderBy(col("p_retailprice").desc, col("p_partkey"))
      part(s, dir)
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("p_brand"), col("rnk"), col("p_partkey"), col("p_retailprice"))
        .orderBy(col("p_brand"), col("rnk"))
    },
      oracleSql = Some("""SELECT p_brand, rnk, p_partkey, p_retailprice
        |FROM (SELECT p_brand, p_partkey, p_retailprice,
        |             row_number() OVER (PARTITION BY p_brand
        |                                ORDER BY p_retailprice DESC, p_partkey) AS rnk
        |      FROM part)
        |WHERE rnk <= 3
        |ORDER BY p_brand, rnk""".stripMargin),
      scaleNote = Some("ranking window = exchange + sort of every row before the rank filter. " +
        "Scale path: q_topk_per_group_agg (TopKPairs bounded-heap agg, map-side combine, " +
        "<= k rows per (group, partition) through the exchange).")),

    // Scale companion to q_topk_per_group: the SAME result through the
    // graft.functions.TopKPairs bounded-heap aggregate — a hash agg with
    // map-side combine instead of a partition-wide ranking-window sort.
    // At scale the exchange carries <= k rows per (group, input
    // partition) instead of every row of the table; identical tie order
    // (score desc, id asc), so the oracle SQL is the window form's.
    QuerySpec("q_topk_per_group_agg", (s, dir) => {
      part(s, dir)
        .groupBy(col("p_brand"))
        .agg(graft.functions.TopKPairs.topK(
          col("p_retailprice"), col("p_partkey"), 3).as("t"))
        .select(col("p_brand"), posexplode(col("t")).as(Seq("pos0", "p")))
        .select(col("p_brand"), (col("pos0") + 1).as("rnk"),
          col("p.id").as("p_partkey"), col("p.score").as("p_retailprice"))
        .orderBy(col("p_brand"), col("rnk"))
    },
      oracleSql = Some("""SELECT p_brand, rnk, p_partkey, p_retailprice
        |FROM (SELECT p_brand, p_partkey, p_retailprice,
        |             row_number() OVER (PARTITION BY p_brand
        |                                ORDER BY p_retailprice DESC, p_partkey) AS rnk
        |      FROM part)
        |WHERE rnk <= 3
        |ORDER BY p_brand, rnk""".stripMargin)),

    // Analytic window functions with explicit ROWS frame.
    QuerySpec("q_window_running", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      orders(s, dir)
        .withColumn("running_total",
          round(sum(col("o_totalprice"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2))
        .withColumn("prev_price", round(coalesce(lag(col("o_totalprice"), 1).over(w), lit(0.0)), 2))
        .withColumn("rn", row_number().over(w))
        .select(col("o_orderkey"), col("o_custkey"), col("running_total"),
          col("prev_price"), col("rn"))
        .orderBy(col("o_orderkey"))
    },
      oracleSql = Some("""SELECT o_orderkey, o_custkey,
        |       round(sum(o_totalprice) OVER w_frame, 2) AS running_total,
        |       round(coalesce(lag(o_totalprice, 1) OVER w, 0), 2) AS prev_price,
        |       row_number() OVER w AS rn
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        |       w_frame AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey""".stripMargin)),

    // Value window functions (first/last/nth over an explicit full-
    // partition frame) — per-key windows shard by customer, money in
    // integer cents. A customer's second-ever order is NULL for singleton
    // histories → sentinel -1 (oracle hash never sees a NULL).
    QuerySpec("q_window_value_fns", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      orders(s, dir)
        .withColumn("price_c", round(col("o_totalprice") * 100, 0).cast("long"))
        .withColumn("first_c", first(col("price_c")).over(full))
        .withColumn("last_c", last(col("price_c")).over(full))
        .withColumn("second_c", coalesce(nth_value(col("price_c"), 2).over(full), lit(-1L)))
        .select(col("o_orderkey"), col("o_custkey"), col("price_c"),
          col("first_c"), col("last_c"), col("second_c"))
        .orderBy(col("o_orderkey"))
    },
      oracleSql = Some("""SELECT o_orderkey, o_custkey,
        |       round(o_totalprice * 100)::BIGINT AS price_c,
        |       first_value(round(o_totalprice * 100)::BIGINT) OVER wf AS first_c,
        |       last_value(round(o_totalprice * 100)::BIGINT) OVER wf AS last_c,
        |       coalesce(nth_value(round(o_totalprice * 100)::BIGINT, 2) OVER wf, -1)::BIGINT AS second_c
        |FROM orders
        |WINDOW wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_orderkey""".stripMargin)),

    // TPC-H Q3 shape (shipping priority): selective filters on all three
    // inputs reach the scans, the small filtered dimension broadcasts,
    // and the final top-10 plans as TakeOrderedAndProject — per-partition
    // heaps, never a materialized global sort (plan-asserted). Revenue in
    // integer micro-units (cents × basis points), exact cross-engine.
    QuerySpec("q_shipping_priority", (s, dir) => {
      val cut = lit("1998-01-01").cast("timestamp")
      lineitem(s, dir).filter(col("l_shipdate") > cut)
        .join(orders(s, dir).filter(col("o_orderdate") < cut),
          col("l_orderkey") === col("o_orderkey"))
        .join(customer(s, dir).filter(col("c_mktsegment") === "BUILDING"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderpriority"))
        .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long") *
          (lit(10000L) - round(col("l_discount") * 10000, 0).cast("long"))).as("revenue_u"))
        .orderBy(col("revenue_u").desc, col("l_orderkey"))
        .limit(10)
        .select(col("l_orderkey"), col("o_orderpriority"), col("revenue_u"))
    },
      oracleSql = Some("""SELECT l_orderkey, o_orderpriority,
        |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
        |                (10000 - CAST(round(l_discount * 10000) AS BIGINT))) AS BIGINT)
        |         AS revenue_u
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY l_orderkey, o_orderpriority
        |ORDER BY revenue_u DESC, l_orderkey
        |LIMIT 10""".stripMargin)),

    // Distribution window functions: percent_rank / cume_dist / ntile
    // over a total order (unique tie-break), so every value is a single
    // integer division — bit-identical cross-engine. The window computes
    // over FULL partitions; the output filter only bounds result size.
    QuerySpec("q_window_dist", (s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      orders(s, dir)
        .withColumn("pr", percent_rank().over(w))
        .withColumn("cd", cume_dist().over(w))
        .withColumn("nt", ntile(10).over(w).cast("long"))
        .filter(pmod(col("o_orderkey"), lit(100)) === 0)
        .select(col("o_orderkey"), col("o_orderpriority"), col("pr"), col("cd"), col("nt"))
        .orderBy(col("o_orderkey"))
    },
      oracleSql = Some("""SELECT o_orderkey, o_orderpriority, pr, cd, nt
        |FROM (SELECT o_orderkey, o_orderpriority,
        |             percent_rank() OVER w AS pr,
        |             cume_dist()   OVER w AS cd,
        |             ntile(10)     OVER w AS nt
        |      FROM orders
        |      WINDOW w AS (PARTITION BY o_orderpriority
        |                   ORDER BY o_totalprice, o_orderkey))
        |WHERE o_orderkey % 100 = 0
        |ORDER BY o_orderkey""".stripMargin)),

    // Global sort + limit (top-k).
    QuerySpec("q_sort_limit", (s, dir) => {
      orders(s, dir)
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(20)
        .select(col("o_orderkey"), col("o_totalprice"))
    },
      oracleSql = Some("""SELECT o_orderkey, o_totalprice
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 20""".stripMargin)),

    // Set operations: INTERSECT / EXCEPT / UNION on distinct key sets.
    QuerySpec("q_set_ops", (s, dir) => {
      def keys(st: String) =
        orders(s, dir).filter(col("o_orderstatus") === st).select(col("o_custkey")).distinct()
      def counted(df: DataFrame, opName: String) =
        df.agg(count(lit(1)).as("n")).select(lit(opName).as("op"), col("n"))
      counted(keys("O").intersect(keys("F")), "intersect")
        .union(counted(keys("O").except(keys("F")), "except"))
        .union(counted(keys("O").union(keys("F")).distinct(), "union"))
        .orderBy(col("op"))
    },
      oracleSql = Some("""SELECT 'intersect' AS op, count(*) AS n FROM (
        |  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |  INTERSECT
        |  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F')
        |UNION ALL
        |SELECT 'except' AS op, count(*) AS n FROM (
        |  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |  EXCEPT
        |  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F')
        |UNION ALL
        |SELECT 'union' AS op, count(*) AS n FROM (
        |  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |  UNION
        |  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F')
        |ORDER BY op""".stripMargin)),

    // UNPIVOT (wide→long melt) through Spark's native unpivot operator;
    // measures are pre-scaled to integer micro-units so the per-metric
    // totals are integer-exact cross-engine. Oracle is the portable
    // UNION ALL formulation of the same melt.
    QuerySpec("q_unpivot", (s, dir) => {
      lineitem(s, dir)
        .select(
          col("l_returnflag"),
          round(col("l_quantity") * 100, 0).cast("long").as("quantity_c"),
          round(col("l_discount") * 10000, 0).cast("long").as("discount_bp"),
          round(col("l_tax") * 10000, 0).cast("long").as("tax_bp"))
        .unpivot(
          Array(col("l_returnflag")),
          Array(col("quantity_c"), col("discount_bp"), col("tax_bp")),
          "metric", "v")
        .groupBy(col("l_returnflag"), col("metric"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_v"))
        .orderBy(col("l_returnflag"), col("metric"))
    },
      oracleSql = Some("""SELECT l_returnflag, metric, count(*) AS n, CAST(sum(v) AS BIGINT) AS sum_v
        |FROM (
        |  SELECT l_returnflag, 'quantity_c' AS metric,
        |         CAST(round(l_quantity * 100) AS BIGINT) AS v FROM lineitem
        |  UNION ALL
        |  SELECT l_returnflag, 'discount_bp',
        |         CAST(round(l_discount * 10000) AS BIGINT) FROM lineitem
        |  UNION ALL
        |  SELECT l_returnflag, 'tax_bp',
        |         CAST(round(l_tax * 10000) AS BIGINT) FROM lineitem)
        |GROUP BY l_returnflag, metric
        |ORDER BY l_returnflag, metric""".stripMargin)),

    // Conditional / filtered aggregation: count_if, bool_and/bool_or, and
    // a FILTER-style conditional max (max is comparison-only, so the raw
    // double is cross-engine exact — no rounding needed).
    QuerySpec("q_conditional_agg", (s, dir) => {
      customer(s, dir)
        .join(broadcast(nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          count(lit(1)).as("n_cust"),
          count_if(col("c_acctbal") > 0).as("n_pos"),
          bool_or(col("c_mktsegment") === "BUILDING").as("any_building"),
          bool_and(col("c_acctbal") > 0).as("all_pos"),
          max(when(col("c_mktsegment") === "BUILDING", col("c_acctbal"))).as("max_building_bal"))
        .orderBy(col("n_name"))
    },
      oracleSql = Some("""SELECT n_name,
        |       count(*) AS n_cust,
        |       count(*) FILTER (WHERE c_acctbal > 0) AS n_pos,
        |       bool_or(c_mktsegment = 'BUILDING') AS any_building,
        |       bool_and(c_acctbal > 0) AS all_pos,
        |       max(c_acctbal) FILTER (WHERE c_mktsegment = 'BUILDING') AS max_building_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin)),

    // Correlated scalar subquery — Catalyst de-correlates it into an
    // aggregate + join (no per-row re-execution, unlike the reference's
    // per-message Python callbacks). min() is comparison-only and ×2 is
    // exact IEEE, so the predicate is bit-stable cross-engine and
    // run-to-run (an avg() here would make the boundary summation-order
    // dependent — the q_outliers_mad failure class).
    QuerySpec("q_scalar_subquery", (s, dir) => {
      orders(s, dir).createOrReplaceTempView("graft_sq_orders")
      s.sql("""SELECT o_orderpriority, count(*) AS n_big
              |FROM graft_sq_orders o
              |WHERE o_totalprice > 2 * (SELECT min(o2.o_totalprice)
              |                          FROM graft_sq_orders o2
              |                          WHERE o2.o_custkey = o.o_custkey)
              |GROUP BY o_orderpriority
              |ORDER BY o_orderpriority""".stripMargin)
    },
      oracleSql = Some("""SELECT o_orderpriority, count(*) AS n_big
        |FROM orders o
        |WHERE o_totalprice > 2 * (SELECT min(o2.o_totalprice)
        |                          FROM orders o2
        |                          WHERE o2.o_custkey = o.o_custkey)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin),
      scaleNote = Some("the correlated scalar subquery is de-correlated by Catalyst into an aggregate + " +
        "equi-join — the plan must show one agg over orders joined back on o_custkey, " +
        "never a per-row subquery re-execution.")),

    // Z-order (Morton) clustering arithmetic: bucket census over the
    // interleaved bits of two join keys — pure integer shift/mask, exact
    // in any engine. The write-side twin (Layout.zorderWrite) has its
    // both-dimensions-bounded locality property asserted in ScalaTest;
    // this query oracle-pins the curve arithmetic itself.
    QuerySpec("q_zorder_cluster", (s, dir) => {
      lineitem(s, dir)
        .withColumn("z_bucket",
          shiftright(graft.sources.Layout.zValue(col("l_partkey"), col("l_suppkey"), 6), 6)
            .cast("long"))
        .groupBy(col("z_bucket"))
        .agg(count(lit(1)).as("n"),
          min(pmod(col("l_partkey"), lit(64))).as("min_x"),
          max(pmod(col("l_partkey"), lit(64))).as("max_x"),
          min(pmod(col("l_suppkey"), lit(64))).as("min_y"),
          max(pmod(col("l_suppkey"), lit(64))).as("max_y"))
        .orderBy(col("z_bucket"))
    },
      oracleSql = Some("""WITH b AS (
        |  SELECT l_partkey % 64 AS x, l_suppkey % 64 AS y FROM lineitem),
        |z AS (
        |  SELECT x, y,
        |         (((x >> 0) & 1) * 1    + ((y >> 0) & 1) * 2
        |        + ((x >> 1) & 1) * 4    + ((y >> 1) & 1) * 8
        |        + ((x >> 2) & 1) * 16   + ((y >> 2) & 1) * 32
        |        + ((x >> 3) & 1) * 64   + ((y >> 3) & 1) * 128
        |        + ((x >> 4) & 1) * 256  + ((y >> 4) & 1) * 512
        |        + ((x >> 5) & 1) * 1024 + ((y >> 5) & 1) * 2048) AS zv
        |  FROM b)
        |SELECT zv >> 6 AS z_bucket, count(*) AS n,
        |       min(x) AS min_x, max(x) AS max_x,
        |       min(y) AS min_y, max(y) AS max_y
        |FROM z
        |GROUP BY z_bucket
        |ORDER BY z_bucket""".stripMargin)),

    // Distinct aggregation.
    QuerySpec("q_distinct_agg", (s, dir) => {
      events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("event_type"))
    },
      oracleSql = Some("""SELECT event_type,
        |       count(DISTINCT user_id) AS n_users,
        |       count(*) AS n_events,
        |       round(sum(value), 2) AS sum_value
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin)),

    // HLL approximate distinct — no DuckDB oracle (sketch-dependent);
    // accuracy asserted against exact counts in ScalaTest. Spark's HLL++
    // has NO exact regime (register estimation approximates at any
    // cardinality), so this entry stays rows-tier BY NATURE, not by gap —
    // the distinct-count sketch with an exact regime is the theta path
    // (Incremental.setState: k-smallest-hashes IS the distinct set below
    // 2^lgK), hash-gated end to end in events_user_overlap_exact.
    QuerySpec("q_approx_distinct", (s, dir) => {
      lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          approx_count_distinct(col("l_orderkey")).as("approx_orders"),
          approx_count_distinct(col("l_partkey")).as("approx_parts"))
        .orderBy(col("l_returnflag"))
    }),

    // ROLLUP grouping sets (rolled-up levels shown as 'ALL').
    QuerySpec("q_rollup", (s, dir) => {
      lineitem(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("n"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("sum_qty"), col("n"))
        .orderBy(col("returnflag"), col("linestatus"))
    },
      oracleSql = Some("""SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |       coalesce(l_linestatus, 'ALL') AS linestatus,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       count(*) AS n
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin)),

    // Semi-structured payload: JSON extraction from events.props.
    QuerySpec("q_json_extract", (s, dir) => {
      events(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy(pmod(col("k"), lit(10)).as("k_mod"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          round(avg(col("value")), 4).as("avg_value"))
        .orderBy(col("k_mod"))
    },
      oracleSql = Some("""SELECT (json_extract_string(props, '$.k')::INTEGER) % 10 AS k_mod,
        |       count(*) AS n,
        |       sum(json_extract_string(props, '$.k')::INTEGER)::BIGINT AS sum_k,
        |       round(avg(value), 4) AS avg_value
        |FROM events
        |GROUP BY k_mod
        |ORDER BY k_mod""".stripMargin)),

    // Scalar string functions.
    QuerySpec("q_scalar_funcs", (s, dir) => {
      part(s, dir)
        .withColumn("type_prefix", element_at(split(col("p_type"), " "), 1))
        .groupBy(col("type_prefix"))
        .agg(
          count(lit(1)).as("n_parts"),
          round(avg(col("p_retailprice")), 2).as("avg_price"),
          max(length(col("p_name"))).as("max_name_len"),
          min(upper(col("p_brand"))).as("min_brand"))
        .orderBy(col("type_prefix"))
    },
      oracleSql = Some("""SELECT split_part(p_type, ' ', 1) AS type_prefix,
        |       count(*) AS n_parts,
        |       round(avg(p_retailprice), 2) AS avg_price,
        |       max(length(p_name)) AS max_name_len,
        |       min(upper(p_brand)) AS min_brand
        |FROM part
        |GROUP BY type_prefix
        |ORDER BY type_prefix""".stripMargin)),

    // Date/time functions.
    QuerySpec("q_date_agg", (s, dir) => {
      orders(s, dir)
        .groupBy(year(col("o_orderdate")).as("o_year"), quarter(col("o_orderdate")).as("o_quarter"))
        .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("revenue"))
        .orderBy(col("o_year"), col("o_quarter"))
    },
      oracleSql = Some("""SELECT year(o_orderdate) AS o_year, quarter(o_orderdate) AS o_quarter,
        |       count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
        |FROM orders
        |GROUP BY o_year, o_quarter
        |ORDER BY o_year, o_quarter""".stripMargin)),

    // As-of join: for each purchase, the latest click at or before it by
    // the same user. Linear formulation (sort-carry), not a range join.
    QuerySpec("q_asof_join", (s, dir) => {
      Relational.lastMatchAsOf(
          events(s, dir), col("user_id"), col("event_id"),
          col("event_type") === "click", col("event_id"), "last_click_id")
        .filter(col("event_type") === "purchase")
        .select(
          col("event_id").as("purchase_id"),
          col("user_id"),
          coalesce(col("last_click_id"), lit(-1L)).as("last_click_id"))
        .orderBy(col("purchase_id"))
    },
      oracleSql = Some("""SELECT event_id AS purchase_id, user_id, coalesce(last_click_id, -1) AS last_click_id
        |FROM (SELECT event_id, user_id, event_type,
        |             last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
        |               OVER (PARTITION BY user_id ORDER BY event_id
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_id
        |      FROM events)
        |WHERE event_type = 'purchase'
        |ORDER BY purchase_id""".stripMargin)),

    // NEAREST as-of with tolerance (pandas merge_asof direction='nearest'):
    // every click matched to its time-closest purchase within 1h, either
    // direction, nulls when none. Two RANGE-window passes over one
    // key-hash shuffle — never a per-row probe join; all ties
    // deterministic and mirrored in the oracle's ORDER BY.
    QuerySpec("q_asof_join_nearest", (s, dir) => {
      val ev = events(s, dir).withColumn("ts_us", unix_micros(col("ts")))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us").as("p_ts_us"), col("value"))
      Relational.nearestAsOf(clicks, purchases, "user_id",
          col("ts_us"), col("p_ts_us"), col("value"), tolerance = 3600000000L)
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("matched_v").as("purchase_value"),
          col("matched_t").as("purchase_ts_us"), col("dist"))
        .orderBy(col("event_id"))
    },
      // tie mirror of Relational.nearestAsOf: equal distance → earlier
      // (backward) candidate; equal time backward → larger value, forward →
      // smaller (the CASE sign flip)
      oracleSql = Some("""WITH l AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us
        |  FROM events WHERE event_type = 'click'),
        |r AS (
        |  SELECT user_id, epoch_us(ts) AS p_ts, value
        |  FROM events WHERE event_type = 'purchase'),
        |m AS (
        |  SELECT l.event_id, l.user_id, l.ts_us, r.value AS pv, r.p_ts,
        |         abs(r.p_ts - l.ts_us) AS dist,
        |         row_number() OVER (PARTITION BY l.event_id
        |           ORDER BY abs(r.p_ts - l.ts_us), r.p_ts,
        |                    CASE WHEN r.p_ts <= l.ts_us THEN -r.value
        |                         ELSE r.value END) AS rn
        |  FROM l JOIN r ON l.user_id = r.user_id
        |  WHERE abs(r.p_ts - l.ts_us) <= 3600000000)
        |SELECT event_id, user_id, ts_us, pv AS purchase_value,
        |       p_ts AS purchase_ts_us, dist
        |FROM m WHERE rn = 1
        |UNION ALL
        |SELECT l.event_id, l.user_id, l.ts_us, NULL, NULL, NULL
        |FROM l
        |WHERE NOT EXISTS (SELECT 1 FROM r
        |                  WHERE r.user_id = l.user_id
        |                    AND abs(r.p_ts - l.ts_us) <= 3600000000)
        |ORDER BY event_id""".stripMargin)),

    // Range/interval join against broadcast value tiers (theta join).
    QuerySpec("q_range_join", (s, dir) => {
      import s.implicits._
      val tiers = Seq(
        (0.0, 50.0, "t1_low"), (50.0, 100.0, "t2_mid"),
        (100.0, 150.0, "t3_high"), (150.0, 100000.0, "t4_extreme"))
        .toDF("lo", "hi", "tier")
      Relational.rangeJoin(events(s, dir), tiers, col("value"), col("lo"), col("hi"))
        .groupBy(col("tier"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("tier"))
    },
      oracleSql = Some("""SELECT tier, count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM events e
        |JOIN (VALUES (0.0, 50.0, 't1_low'), (50.0, 100.0, 't2_mid'),
        |             (100.0, 150.0, 't3_high'), (150.0, 100000.0, 't4_extreme'))
        |     t(lo, hi, tier)
        |  ON e.value >= t.lo AND e.value < t.hi
        |GROUP BY tier
        |ORDER BY tier""".stripMargin)),

    // Funnel analysis: per-user ordered stage completion (view -> click ->
    // purchase by event time). One hash agg computes each user's first
    // time per stage; the stage comparison is a map-side projection.
    QuerySpec("q_funnel", (s, dir) => {
      val firsts = events(s, dir)
        .groupBy(col("user_id"))
        .agg(
          min(when(col("event_type") === "view", col("ts"))).as("t_view"),
          min(when(col("event_type") === "click", col("ts"))).as("t_click"),
          min(when(col("event_type") === "purchase", col("ts"))).as("t_purchase"))
      firsts.agg(
          count(lit(1)).as("n_users"),
          sum(when(col("t_view").isNotNull, 1).otherwise(0)).as("n_view"),
          sum(when(col("t_view").isNotNull && col("t_click") > col("t_view"), 1)
            .otherwise(0)).as("n_view_click"),
          sum(when(col("t_view").isNotNull && col("t_click") > col("t_view") &&
              col("t_purchase") > col("t_click"), 1)
            .otherwise(0)).as("n_view_click_purchase"))
    },
      oracleSql = Some("""SELECT count(*) AS n_users,
        |       sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_view,
        |       sum(CASE WHEN t_view IS NOT NULL AND t_click > t_view
        |                THEN 1 ELSE 0 END)::BIGINT AS n_view_click,
        |       sum(CASE WHEN t_view IS NOT NULL AND t_click > t_view
        |                 AND t_purchase > t_click
        |                THEN 1 ELSE 0 END)::BIGINT AS n_view_click_purchase
        |FROM (
        |  SELECT user_id,
        |         min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t_view,
        |         min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS t_click,
        |         min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t_purchase
        |  FROM events GROUP BY user_id)""".stripMargin)),

    // Cohort retention: users cohorted by FIRST event day, distinct users
    // counted per (cohort, day offset) — the standard product-analytics
    // retention matrix. Day ids are integer epoch days end to end (dates
    // as date32 round-trip differently through the two engines' pandas
    // paths). Shape: the first-touch table derives from the same user_id
    // shuffle the join consumes (exchange reuse), then one hash agg on
    // (cohort, offset) — n_users at offset 0 IS the cohort size, every
    // other offset counts a subset of it.
    QuerySpec("q_cohort_retention", (s, dir) => {
      val ev = events(s, dir)
        .select(col("user_id"), datediff(to_date(col("ts")), lit("1970-01-01")).as("d"))
      val first = ev.groupBy(col("user_id")).agg(min(col("d")).as("cohort_day"))
      ev.join(first, Seq("user_id"))
        .groupBy(col("cohort_day"), (col("d") - col("cohort_day")).as("day_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("cohort_day"), col("day_offset"))
    },
      oracleSql = Some("""WITH e AS (SELECT user_id,
        |                  date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d
        |           FROM events),
        |f AS (SELECT user_id, min(d) AS cohort_day FROM e GROUP BY user_id)
        |SELECT f.cohort_day, e.d - f.cohort_day AS day_offset,
        |       count(DISTINCT e.user_id)::BIGINT AS n_users
        |FROM e JOIN f USING (user_id)
        |GROUP BY 1, 2
        |ORDER BY cohort_day, day_offset""".stripMargin)),

    // Data profiling: fixed-width value histogram — the pre-training
    // distribution check. Bin id is integer math (map-side); one hash agg.
    QuerySpec("q_histogram", (s, dir) => {
      events(s, dir)
        .groupBy(floor(col("value") / 25).cast("long").as("bin"))
        .agg(count(lit(1)).as("n"),
          round(min(col("value")), 2).as("lo"),
          round(max(col("value")), 2).as("hi"))
        .orderBy(col("bin"))
    },
      oracleSql = Some("""SELECT floor(value / 25)::BIGINT AS bin, count(*) AS n,
        |       round(min(value), 2) AS lo, round(max(value), 2) AS hi
        |FROM events
        |GROUP BY 1
        |ORDER BY bin""".stripMargin)),

    // Equi-DEPTH histogram (equal row counts per bucket) — ORACLE SHAPE:
    // exact ntile needs one global sort with a total tie-break order. The
    // scale path computes bucket boundaries with approx_percentile (one
    // pass, mergeable sketch — see q_approx_percentiles) and range-buckets
    // rows against the broadcast boundaries, never sorting globally.
    QuerySpec("q_histogram_equidepth", (s, dir) => {
      val w = Window.orderBy(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
      lineitem(s, dir)
        .select(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
        .withColumn("bucket", ntile(8).over(w))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          round(min(col("l_extendedprice")), 2).as("lo"),
          round(max(col("l_extendedprice")), 2).as("hi"),
          round(avg(col("l_extendedprice")), 2).as("avg_price"))
        .orderBy(col("bucket"))
    },
      oracleSql = Some("""WITH t AS (
        |  SELECT l_extendedprice,
        |         ntile(8) OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS bucket
        |  FROM lineitem)
        |SELECT bucket, count(*)::BIGINT AS n_rows,
        |       round(min(l_extendedprice), 2) AS lo,
        |       round(max(l_extendedprice), 2) AS hi,
        |       round(avg(l_extendedprice), 2) AS avg_price
        |FROM t
        |GROUP BY bucket
        |ORDER BY bucket""".stripMargin),
      scaleNote = Some("ORACLE SHAPE: exact ntile = one global single-partition sort. " +
        "Scale path: q_histogram_equidepth_scale (approx_percentile boundaries broadcast, " +
        "rows range-bucketed map-side, no global sort).")),

    // SCD2 change intervals: each user's event_type mutation log collapsed
    // into [valid_from, valid_to) validity runs; the open (current) run's
    // valid_to is the 9999-12-31 sentinel so the oracle hash never sees a
    // NULL. Gaps-and-islands: one shuffle on user, runs collapse to a hash
    // agg before the lead() window ever sorts anything.
    QuerySpec("q_scd2_intervals", (s, dir) => {
      val ev = events(s, dir).withColumn("ts_s", unix_timestamp(col("ts")))
      Timeseries.changeIntervals(ev, col("user_id"), col("ts_s"),
          col("event_id"), col("event_type"))
        .select(col("user_id"), col("value").as("event_type"),
          col("valid_from"),
          coalesce(col("valid_to"), lit(253402300800L)).as("valid_to"),
          col("n_events"))
        .orderBy(col("user_id"), col("valid_from"))
    },
      oracleSql = Some("""WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000000000 AS ts_s, event_type FROM events),
        |c AS (SELECT user_id, event_id, ts_s, event_type,
        |             CASE WHEN lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_s, event_id)
        |                       IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
        |      FROM e),
        |r AS (SELECT user_id, ts_s, event_type,
        |             sum(chg) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
        |                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS run_id
        |      FROM c),
        |g AS (SELECT user_id, run_id, min(event_type) AS event_type,
        |             min(ts_s)::BIGINT AS valid_from, count(*)::BIGINT AS n_events
        |      FROM r GROUP BY 1, 2)
        |SELECT user_id, event_type, valid_from,
        |       coalesce(lead(valid_from) OVER (PARTITION BY user_id ORDER BY run_id),
        |                253402300800)::BIGINT AS valid_to,
        |       n_events
        |FROM g
        |ORDER BY user_id, valid_from""".stripMargin)),

    // Interval-overlap (temporal) join: per validity interval of the first
    // user cohort, how many intervals of the second cohort were in force
    // at the same time — concurrency analysis as a banded equi-join on the
    // time band (each pair emitted only in its overlap-start band: exactly
    // once, no dedup), never |L|·|R|. Oracle = the naive theta join.
    QuerySpec("q_interval_overlap", (s, dir) => {
      val ev = events(s, dir).withColumn("ts_s", unix_timestamp(col("ts")))
      def iv(loU: Int, hiU: Int, pfx: String) =
        Timeseries.changeIntervals(
            ev.filter(col("user_id") >= loU && col("user_id") < hiU),
            col("user_id"), col("ts_s"), col("event_id"), col("event_type"))
          .filter(col("valid_to").isNotNull) // open runs: no finite interval
          .select(col("user_id").as(s"${pfx}_user"),
            col("valid_from").as(s"${pfx}_from"), col("valid_to").as(s"${pfx}_to"))
      Relational.intervalOverlapJoin(
          iv(0, 10, "l"), iv(10, 20, "r"),
          col("l_from"), col("l_to"), col("r_from"), col("r_to"),
          bandWidth = 86400L)
        .groupBy(col("l_user"), col("l_from"))
        .agg(count(lit(1)).as("n_concurrent"))
        .orderBy(col("l_user"), col("l_from"))
    },
      oracleSql = Some("""WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000000000 AS ts_s, event_type
        |           FROM events WHERE user_id < 20),
        |c AS (SELECT user_id, event_id, ts_s, event_type,
        |             CASE WHEN lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_s, event_id)
        |                       IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
        |      FROM e),
        |r AS (SELECT user_id, ts_s,
        |             sum(chg) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
        |                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS run_id
        |      FROM c),
        |g AS (SELECT user_id, run_id, min(ts_s)::BIGINT AS valid_from
        |      FROM r GROUP BY 1, 2),
        |iv AS (SELECT user_id, valid_from,
        |              lead(valid_from) OVER (PARTITION BY user_id ORDER BY run_id) AS valid_to
        |       FROM g),
        |l AS (SELECT * FROM iv WHERE user_id < 10 AND valid_to IS NOT NULL),
        |rr AS (SELECT * FROM iv WHERE user_id >= 10 AND valid_to IS NOT NULL)
        |SELECT l.user_id AS l_user, l.valid_from AS l_from, count(*)::BIGINT AS n_concurrent
        |FROM l JOIN rr ON l.valid_from < rr.valid_to AND rr.valid_from < l.valid_to
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin)),

    // Gini concentration of document mass per source — "is this source a
    // few huge docs or many small ones?". Rank formula over a total
    // (n_chars, doc_id) order, exact decimal products, integer-ppm
    // round-half-up output; the per-group window sort is the exact oracle
    // shape (groups shard across the cluster).
    QuerySpec("q_gini_source", (s, dir) => {
      Analytics.giniPerGroup(documents(s, dir), Seq(col("source")),
          col("n_chars"), col("doc_id"))
        .select(col("source"), col("n"), col("gini_ppm"))
        .orderBy(col("source"))
    },
      oracleSql = Some("""WITH r AS (
        |  SELECT source, n_chars::HUGEINT AS x,
        |         row_number() OVER (PARTITION BY source
        |           ORDER BY n_chars, doc_id)::HUGEINT AS i
        |  FROM documents),
        |a AS (
        |  SELECT source, count(*)::HUGEINT AS n, sum(x) AS sx, sum(i * x) AS six
        |  FROM r GROUP BY 1)
        |SELECT source, n::BIGINT AS n,
        |       (((2 * six - (n + 1) * sx) * 2000000 + n * sx)
        |        // (n * sx * 2))::BIGINT AS gini_ppm
        |FROM a WHERE sx > 0
        |ORDER BY source""".stripMargin)),

    // Benford first-digit census over order totals (cents) — the
    // fraud/synthetic-data screen. First digit via decimal-string head (no
    // log10 boundary risk); observed ppm round-half-up integer, expected
    // ppm the published Benford constants as literals on both engines.
    QuerySpec("q_benford", (s, dir) => {
      Analytics.benfordCensus(orders(s, dir),
          round(col("o_totalprice") * 100, 0).cast("long"))
        .select(col("digit"), col("n"), col("obs_ppm"), col("exp_ppm"), col("dev_ppm"))
        .orderBy(col("digit"))
    },
      oracleSql = Some("""WITH c AS (
        |  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT)
        |                          AS VARCHAR), 1, 1) AS INTEGER) AS digit,
        |         count(*)::BIGINT AS n
        |  FROM orders
        |  WHERE CAST(round(o_totalprice * 100, 0) AS BIGINT) > 0
        |  GROUP BY 1),
        |t AS (SELECT *, sum(n) OVER () AS tot FROM c),
        |e AS (SELECT * FROM (VALUES (1, 301030), (2, 176091), (3, 124939),
        |       (4, 96910), (5, 79181), (6, 66947), (7, 57992), (8, 51153),
        |       (9, 45757)) AS v(digit, exp_ppm))
        |SELECT t.digit, t.n,
        |       ((t.n * 2000000 + tot) // (tot * 2))::BIGINT AS obs_ppm,
        |       e.exp_ppm::BIGINT AS exp_ppm,
        |       ((t.n * 2000000 + tot) // (tot * 2))::BIGINT - e.exp_ppm AS dev_ppm
        |FROM t JOIN e ON t.digit = e.digit
        |ORDER BY t.digit""".stripMargin)),

    // Spearman rank correlation of char length vs token count per source —
    // the monotone-association sanity monitor (a source where length stops
    // tracking token count is full of markup or binary junk). Tie-corrected
    // via exact integer DOUBLED average ranks; then the family's decimal
    // moments + one closed-form division.
    QuerySpec("q_spearman_source", (s, dir) => {
      Analytics.spearmanPerGroup(documents(s, dir), Seq(col("source")),
          col("n_chars"), TextAnalysis.tokenCount(col("text")))
        .select(col("source"), col("n"), col("rho"))
        .orderBy(col("source"))
    },
      oracleSql = Some("""WITH d AS (
        |  SELECT source, n_chars::BIGINT AS x,
        |         len(regexp_extract_all(text, '[a-z0-9]+'))::BIGINT AS y
        |  FROM documents),
        |r AS (
        |  SELECT source,
        |         (2 * rank() OVER (PARTITION BY source ORDER BY x)
        |          + count(*) OVER (PARTITION BY source, x) - 1)::HUGEINT AS rx,
        |         (2 * rank() OVER (PARTITION BY source ORDER BY y)
        |          + count(*) OVER (PARTITION BY source, y) - 1)::HUGEINT AS ry
        |  FROM d),
        |a AS (
        |  SELECT source, count(*)::HUGEINT AS n, sum(rx) AS sx, sum(ry) AS sy,
        |         sum(rx * ry) AS sxy, sum(rx * rx) AS sxx, sum(ry * ry) AS syy
        |  FROM r GROUP BY 1)
        |SELECT source, n::BIGINT AS n,
        |       CASE WHEN (n * sxx - sx * sx)::BIGINT::DOUBLE > 0
        |             AND (n * syy - sy * sy)::BIGINT::DOUBLE > 0
        |            THEN floor((n * sxy - sx * sy)::BIGINT::DOUBLE
        |                       / sqrt((n * sxx - sx * sx)::BIGINT::DOUBLE)
        |                       / sqrt((n * syy - sy * sy)::BIGINT::DOUBLE)
        |                       * 10000.0 + 0.5)::BIGINT / 10000.0
        |            ELSE 2.0 END AS rho
        |FROM a
        |ORDER BY source""".stripMargin)),

    // Char-mass midpoint per source: the lower WEIGHTED median of document
    // length weighted by length — "half this source's bytes live in docs
    // shorter than this". Exact integers: total-order cumsum, suffix test
    // 2·cumw >= tot, min(struct) pick.
    QuerySpec("q_wmedian_source", (s, dir) => {
      Analytics.weightedMedianPerGroup(documents(s, dir), Seq(col("source")),
          col("n_chars"), col("n_chars"), col("doc_id"))
        .select(col("source"), col("n"), col("total_w"), col("wmedian"))
        .orderBy(col("source"))
    },
      oracleSql = Some("""WITH r AS (
        |  SELECT source, n_chars::BIGINT AS v, n_chars::BIGINT AS w, doc_id,
        |         sum(n_chars) OVER (PARTITION BY source
        |             ORDER BY n_chars, doc_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |         sum(n_chars) OVER (PARTITION BY source) AS tot,
        |         count(*) OVER (PARTITION BY source) AS n
        |  FROM documents),
        |q AS (SELECT * FROM r WHERE tot > 0 AND cum * 2 >= tot)
        |SELECT source, max(n)::BIGINT AS n, max(tot)::BIGINT AS total_w,
        |       min(v)::BIGINT AS wmedian
        |FROM q GROUP BY source
        |ORDER BY source""".stripMargin)),

    // RFM segmentation census: recency/frequency/monetary quintiles per
    // customer (best = bin 1), counted per occupied cell — the classic
    // customer-value grid, exact integers end to end (recency against the
    // corpus max date, a 1-row broadcast).
    QuerySpec("q_rfm", (s, dir) => {
      // o_orderdate is TIMESTAMP_NTZ in the parquet; the UTC-session cast
      // makes unix_micros well-defined and equal to DuckDB's epoch_ns//1000
      Analytics.rfmCensus(orders(s, dir), col("o_custkey"),
          unix_micros(col("o_orderdate").cast("timestamp")),
          round(col("o_totalprice") * 100, 0).cast("long"))
        .orderBy(col("r_bin"), col("f_bin"), col("m_bin"))
    },
      oracleSql = Some("""WITH p AS (
        |  SELECT o_custkey AS e,
        |         max(epoch_ns(o_orderdate) // 1000) AS lastts,
        |         count(*)::BIGINT AS f,
        |         sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))::BIGINT AS m
        |  FROM orders GROUP BY 1),
        |a AS (SELECT max(lastts) AS asofts FROM p),
        |b AS (
        |  SELECT (ntile(5) OVER (ORDER BY asofts - lastts, e))::INTEGER AS r_bin,
        |         (ntile(5) OVER (ORDER BY f DESC, e))::INTEGER AS f_bin,
        |         (ntile(5) OVER (ORDER BY m DESC, e))::INTEGER AS m_bin,
        |         m
        |  FROM p CROSS JOIN a)
        |SELECT r_bin, f_bin, m_bin, count(*)::BIGINT AS n_entities,
        |       sum(m)::BIGINT AS cell_cents
        |FROM b GROUP BY 1, 2, 3
        |ORDER BY 1, 2, 3""".stripMargin),
      scaleNote = Some("the three ntile windows run over the |entities| aggregate, not the corpus — but the " +
        "order IS total, so each is a single-partition sort of |entities| rows. At extreme " +
        "entity counts swap ntile for broadcast approx-percentile boundary assignment " +
        "(the perplexityBucketsApprox / q_histogram_equidepth_scale pattern).")),

    // ABC / Pareto census over part revenue: the 80/95 concentration cut
    // via cross-multiplied integer comparisons on the inclusive cumulative
    // share — no percentage float ever exists.
    QuerySpec("q_abc_parts", (s, dir) => {
      Analytics.abcCensus(lineitem(s, dir), col("l_partkey"),
          round(col("l_extendedprice") * 100, 0).cast("long"))
        .orderBy(col("abc_class"))
    },
      oracleSql = Some("""WITH p AS (
        |  SELECT l_partkey AS i,
        |         sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))::BIGINT AS v
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT sum(v)::HUGEINT AS tot FROM p),
        |c AS (
        |  SELECT v,
        |         sum(v) OVER (ORDER BY v DESC, i
        |            ROWS BETWEEN UNBOUNDED PRECEDING
        |            AND CURRENT ROW)::HUGEINT AS cum,
        |         tot
        |  FROM p CROSS JOIN t),
        |k AS (SELECT v, tot,
        |             CASE WHEN cum * 100 <= tot * 80 THEN 'A'
        |                  WHEN cum * 100 <= tot * 95 THEN 'B'
        |                  ELSE 'C' END AS abc_class
        |      FROM c)
        |SELECT abc_class, count(*)::BIGINT AS n_items, sum(v)::BIGINT AS class_cents,
        |       ((sum(v)::HUGEINT * 2000000 + max(tot))
        |        // (max(tot) * 2))::BIGINT AS share_ppm
        |FROM k GROUP BY 1
        |ORDER BY 1""".stripMargin),
      scaleNote = Some("the cumulative-share rank window runs over the |items| aggregate under a total " +
        "order — a single-partition sort of the item vocabulary, never the corpus. " +
        "Range-partition the sort if the vocabulary itself is huge (scaladoc'd).")),

    // AUC census per source: does document length separate English from
    // the rest? AUC IS the Mann-Whitney statistic, so the doubled-rank
    // identity gives it exactly — never the n_pos×n_neg pairwise blowup.
    // Exact rational (num, den) + round-half-up ppm.
    QuerySpec("q_auc_source", (s, dir) => {
      Analytics.aucCensus(documents(s, dir), Seq(col("source")),
          col("n_chars"), col("lang") === "en")
        .orderBy(col("source"))
    },
      oracleSql = Some("""WITH d AS (
        |  SELECT source, n_chars::BIGINT AS s, (lang = 'en') AS y
        |  FROM documents),
        |r AS (
        |  SELECT source, y,
        |         (2 * rank() OVER (PARTITION BY source ORDER BY s)
        |          + count(*) OVER (PARTITION BY source, s) - 1)::HUGEINT AS d
        |  FROM d),
        |a AS (
        |  SELECT source,
        |         sum(CASE WHEN y THEN 1 ELSE 0 END)::HUGEINT AS n1,
        |         sum(CASE WHEN y THEN 0 ELSE 1 END)::HUGEINT AS n0,
        |         sum(CASE WHEN y THEN d ELSE 0 END) AS r1
        |  FROM r GROUP BY 1)
        |SELECT source, n1::BIGINT AS n_pos, n0::BIGINT AS n_neg,
        |       (r1 - n1 * (n1 + 1))::BIGINT AS auc_num,
        |       (2 * n1 * n0)::BIGINT AS auc_den,
        |       (((r1 - n1 * (n1 + 1)) * 2000000 + 2 * n1 * n0)
        |        // (2 * n1 * n0 * 2))::BIGINT AS auc_ppm
        |FROM a WHERE n1 > 0 AND n0 > 0
        |ORDER BY source""".stripMargin)),

    // Two-sample KS census: each source's document-length distribution
    // against the REST of the corpus — the shape-drift detector. Exact
    // cross-multiplied ECDF distance on the discrete n_chars grid; ppm in
    // decimal so no corpus size wraps it.
    QuerySpec("q_ks_source", (s, dir) => {
      Analytics.ksCensus(documents(s, dir), col("source"), col("n_chars"))
        .select(col("group").as("source"), col("n_g"), col("n_rest"),
          col("d_num"), col("d_ppm"))
        .orderBy(col("source"))
    },
      oracleSql = Some("""WITH c AS (SELECT source AS g, n_chars::BIGINT AS v,
        |                  count(*)::BIGINT AS c
        |           FROM documents GROUP BY 1, 2),
        |t AS (SELECT g, sum(c)::BIGINT AS ng FROM c GROUP BY 1),
        |a AS (SELECT v, sum(c)::BIGINT AS call FROM c GROUP BY 1),
        |gr AS (SELECT sum(c)::BIGINT AS nall FROM c),
        |grid AS (SELECT t.g, t.ng, a.v, a.call, gr.nall
        |         FROM t CROSS JOIN a CROSS JOIN gr),
        |j AS (SELECT grid.g, grid.ng, grid.v, grid.call, grid.nall,
        |             coalesce(c.c, 0) AS c
        |      FROM grid LEFT JOIN c ON grid.g = c.g AND grid.v = c.v),
        |st AS (SELECT g, ng, nall - ng AS nr,
        |              sum(c) OVER w AS cumg, sum(call) OVER w AS cumall
        |       FROM j WINDOW w AS (PARTITION BY g ORDER BY v
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |m AS (SELECT g, max(ng) AS ng, max(nr) AS nr,
        |             max(abs(cumg * nr - (cumall - cumg) * ng)) AS dnum
        |      FROM st GROUP BY g)
        |SELECT g AS source, ng::BIGINT AS n_g, nr::BIGINT AS n_rest,
        |       dnum::BIGINT AS d_num,
        |       ((dnum::HUGEINT * 2000000 + ng::HUGEINT * nr)
        |        // (ng::HUGEINT * nr * 2))::BIGINT AS d_ppm
        |FROM m WHERE nr > 0
        |ORDER BY source""".stripMargin)),

    // The bins path of the same census on a genuinely CONTINUOUS column:
    // events.value quantizes to ~6.6k distinct cents at sf0.01 — past the
    // 4096 guard, so this query EXERCISES the enforced contract (un-binned
    // it would raise) and gates the equi-width integer binning arithmetic
    // cross-engine: bucket = ((v-min)·64)/(span+1), floor ≡ truncate on
    // both engines because everything is non-negative.
    QuerySpec("q_ks_binned", (s, dir) => {
      Analytics.ksCensus(
          events(s, dir).select(col("event_type"),
            round(col("value") * 100, 0).cast("long").as("vu")),
          col("event_type"), col("vu"),
          bins = Some(64), maxDistinct = 4096L)
        .select(col("group").as("event_type"), col("n_g"), col("n_rest"),
          col("d_num"), col("d_ppm"))
        .orderBy(col("event_type"))
    },
      // the bins path: same ECDF tail over equi-width integer buckets of the
      // cents-quantized value (floor ≡ truncate: everything non-negative)
      oracleSql = Some("""WITH e AS (SELECT event_type AS g, round(value * 100)::BIGINT AS v
        |           FROM events),
        |c0 AS (SELECT g, v, count(*)::BIGINT AS c FROM e GROUP BY 1, 2),
        |b AS (SELECT min(v) AS mn, max(v) AS mx FROM c0),
        |c AS (SELECT g,
        |             ((v - mn)::HUGEINT * 64 // (mx - mn + 1)::HUGEINT)::BIGINT AS v,
        |             sum(c)::BIGINT AS c
        |      FROM c0 CROSS JOIN b GROUP BY 1, 2),
        |t AS (SELECT g, sum(c)::BIGINT AS ng FROM c GROUP BY 1),
        |a AS (SELECT v, sum(c)::BIGINT AS call FROM c GROUP BY 1),
        |gr AS (SELECT sum(c)::BIGINT AS nall FROM c),
        |grid AS (SELECT t.g, t.ng, a.v, a.call, gr.nall
        |         FROM t CROSS JOIN a CROSS JOIN gr),
        |j AS (SELECT grid.g, grid.ng, grid.v, grid.call, grid.nall,
        |             coalesce(c.c, 0) AS c
        |      FROM grid LEFT JOIN c ON grid.g = c.g AND grid.v = c.v),
        |st AS (SELECT g, ng, nall - ng AS nr,
        |              sum(c) OVER w AS cumg, sum(call) OVER w AS cumall
        |       FROM j WINDOW w AS (PARTITION BY g ORDER BY v
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |m AS (SELECT g, max(ng) AS ng, max(nr) AS nr,
        |             max(abs(cumg * nr - (cumall - cumg) * ng)) AS dnum
        |      FROM st GROUP BY g)
        |SELECT g AS event_type, ng::BIGINT AS n_g, nr::BIGINT AS n_rest,
        |       dnum::BIGINT AS d_num,
        |       ((dnum::HUGEINT * 2000000 + ng::HUGEINT * nr)
        |        // (ng::HUGEINT * nr * 2))::BIGINT AS d_ppm
        |FROM m WHERE nr > 0
        |ORDER BY event_type""".stripMargin)),

    // Per-segment OLS trend fit (value drift over time per event type) from
    // exact decimal moment sums — deliberately NOT regr_slope/intercept,
    // whose double accumulation order makes a distributed run unverifiable
    // against a single-threaded oracle. One two-level hash agg, one row per
    // group, closed-form slope/intercept from identical integers.
    QuerySpec("q_regression_per_group", (s, dir) => {
      // x in kilo-seconds since 2024-01-01 (non-negative, so truncating
      // `div` ≡ DuckDB's flooring `//`): keeps every moment difference
      // inside int64 through sf1, where the oracle's BIGINT→DOUBLE cast is
      // a single correctly-rounded hardware op (DuckDB's HUGEINT→DOUBLE is
      // NOT correctly rounded — measured 1-ulp off on negative >2⁵³ values)
      Analytics.regressionPerGroup(events(s, dir),
          Seq(col("event_type")),
          x = expr("(unix_timestamp(ts) - 1704067200) div 1000"),
          y = round(col("value") * 10000, 0).cast("long"),
          scale = 8)
        .select(col("event_type"), col("n"), col("slope"), col("intercept"))
        .orderBy(col("event_type"))
    },
      // exact HUGEINT moments, but every →DOUBLE conversion routed through
      // ::BIGINT: DuckDB's HUGEINT→DOUBLE is not correctly rounded (1 ulp off
      // on negative >2⁵³ values — measured), while BIGINT→DOUBLE is a single
      // hardware cvt. x in kilo-seconds keeps all differences inside int64.
      oracleSql = Some("""WITH e AS (
        |  SELECT event_type,
        |         ((epoch_ns(ts) // 1000000000 - 1704067200) // 1000)::HUGEINT AS x,
        |         CAST(round(value * 10000, 0) AS BIGINT)::HUGEINT AS y
        |  FROM events),
        |a AS (
        |  SELECT event_type, count(*)::HUGEINT AS n,
        |         sum(x) AS sx, sum(y) AS sy,
        |         sum(x * y) AS sxy, sum(x * x) AS sxx
        |  FROM e GROUP BY 1),
        |d AS (
        |  SELECT event_type, n::BIGINT::DOUBLE AS nd,
        |         (n * sxy - sx * sy)::BIGINT::DOUBLE AS num,
        |         (n * sxx - sx * sx)::BIGINT::DOUBLE AS det,
        |         sx::BIGINT::DOUBLE AS sxd, sy::BIGINT::DOUBLE AS syd
        |  FROM a)
        |SELECT event_type, nd::BIGINT AS n,
        |       floor(num / det * 100000000.0 + 0.5)::BIGINT
        |         / 100000000.0 AS slope,
        |       floor((syd - num / det * sxd)
        |             / nd * 100000000.0 + 0.5)::BIGINT
        |         / 100000000.0 AS intercept
        |FROM d
        |WHERE det > 0
        |ORDER BY event_type""".stripMargin)),

    // Scale path of q_winsorize: GK-sketch boundaries (map-side partial
    // merge, no multiset, no sort) + the identical clamp. Rows-only —
    // boundaries are sketch-dependent; invariants spec'd, exact form is
    // the oracle anchor.
    QuerySpec("q_winsorize_scale", (s, dir) => {
      Analytics.winsorizedStatsApprox(events(s, dir), Seq(col("event_type")),
          col("value"), pLo = 5, pHi = 95)
        .select(col("event_type"), col("n_rows"), col("lo"), col("hi"),
          col("n_clipped_lo"), col("n_clipped_hi"), col("sum_u"))
        .orderBy(col("event_type"))
    }),

    // Semi-structured VARIANT path (Spark 4): nested JSON built in-plan,
    // parsed ONCE to the binary VARIANT encoding, then typed path
    // extraction — the modern engine shape for schema-on-read columns
    // (parse once, extract many, no per-path re-parse like
    // get_json_object). Oracle replays the same paths over DuckDB JSON.
    QuerySpec("q_json_variant", (s, dir) => {
      val js = concat(lit("{\"doc\": "), col("doc_id"),
        lit(", \"meta\": {\"lang\": \""), col("lang"),
        lit("\", \"n\": "), col("n_chars"),
        lit("}, \"tags\": [\""), col("source"),
        lit("\", \"t"), pmod(col("doc_id"), lit(5)),
        lit("\"]}"))
      documents(s, dir).withColumn("v", parse_json(js))
        .select(
          variant_get(col("v"), "$.meta.lang", "string").as("vlang"),
          variant_get(col("v"), "$.tags[1]", "string").as("tag"),
          variant_get(col("v"), "$.meta.n", "bigint").as("n"))
        .groupBy(col("vlang"), col("tag"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("sum_n"))
        .orderBy(col("vlang"), col("tag"))
    },
      oracleSql = Some("""WITH j AS (
        |  SELECT '{"doc": ' || doc_id || ', "meta": {"lang": "' || lang ||
        |         '", "n": ' || n_chars || '}, "tags": ["' || source ||
        |         '", "t' || (doc_id % 5) || '"]}' AS js
        |  FROM documents)
        |SELECT json_extract_string(js, '$.meta.lang') AS vlang,
        |       json_extract_string(js, '$.tags[1]') AS tag,
        |       count(*)::BIGINT AS n_docs,
        |       sum(json_extract(js, '$.meta.n')::BIGINT)::BIGINT AS sum_n
        |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Declarative data-quality expectations over lineitem: range / domain /
    // uniqueness checks fold into ONE aggregate over ONE scan (adding a
    // check never rescans); the FK check is a broadcast anti-join pass.
    // qty_breaks_at_45 is a deliberately failing check so the report shape
    // includes real violations.
    QuerySpec("q_expectations", (s, dir) => {
      Profile.expectations(
          lineitem(s, dir),
          rowChecks = Seq(
            "qty_in_range" -> col("l_quantity").between(1, 50),
            "discount_in_range" -> col("l_discount").between(0.0, 0.1),
            "price_positive" -> (col("l_extendedprice") > 0),
            "returnflag_valid" -> col("l_returnflag").isin("A", "N", "R"),
            "qty_breaks_at_45" -> (col("l_quantity") <= 45)),
          uniqueCols = Seq("l_orderkey"),
          fkChecks = Seq(("fk_order_exists", orders(s, dir), "l_orderkey", "o_orderkey")))
        .orderBy(col("check_name"))
    },
      oracleSql = Some("""WITH agg AS (
        |  SELECT count(*)::BIGINT AS n_rows,
        |    sum(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 0 ELSE 1 END)::BIGINT AS v_qty,
        |    sum(CASE WHEN l_discount BETWEEN 0.0 AND 0.1 THEN 0 ELSE 1 END)::BIGINT AS v_disc,
        |    sum(CASE WHEN l_extendedprice > 0 THEN 0 ELSE 1 END)::BIGINT AS v_price,
        |    sum(CASE WHEN l_returnflag IN ('A', 'N', 'R') THEN 0 ELSE 1 END)::BIGINT AS v_flag,
        |    sum(CASE WHEN l_quantity <= 45 THEN 0 ELSE 1 END)::BIGINT AS v_q45,
        |    (count(l_orderkey) - count(DISTINCT l_orderkey))::BIGINT AS v_uniq
        |  FROM lineitem),
        |fk AS (SELECT count(*)::BIGINT AS v_fk
        |       FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        |       WHERE o.o_orderkey IS NULL)
        |SELECT check_name, n_rows, n_violations,
        |       CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS passed
        |FROM (
        |  SELECT 'qty_in_range' AS check_name, n_rows, v_qty AS n_violations FROM agg
        |  UNION ALL SELECT 'discount_in_range', n_rows, v_disc FROM agg
        |  UNION ALL SELECT 'price_positive', n_rows, v_price FROM agg
        |  UNION ALL SELECT 'returnflag_valid', n_rows, v_flag FROM agg
        |  UNION ALL SELECT 'qty_breaks_at_45', n_rows, v_q45 FROM agg
        |  UNION ALL SELECT 'unique_l_orderkey', n_rows, v_uniq FROM agg
        |  UNION ALL SELECT 'fk_order_exists', n_rows, v_fk FROM agg, fk
        |) ORDER BY check_name""".stripMargin)),

    // Full outer join — the reconciliation shape: high-balance customers
    // vs per-customer order activity, censused by match side. Money folds
    // to exact integer cents before any sum.
    QuerySpec("q_outer_join", (s, dir) => {
      val hi = customer(s, dir).filter(col("c_acctbal") > 5000)
        .select(col("c_custkey"))
      val oc = orders(s, dir).groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100, 0).cast("long")).as("cents"))
      hi.join(oc, col("c_custkey") === col("o_custkey"), "full_outer")
        .groupBy(
          when(col("c_custkey").isNull, lit("order_only"))
            .when(col("o_custkey").isNull, lit("cust_only"))
            .otherwise(lit("both")).as("side"))
        .agg(count(lit(1)).as("n"),
          sum(coalesce(col("n_orders"), lit(0L))).as("total_orders"),
          sum(coalesce(col("cents"), lit(0L))).as("total_cents"))
        .orderBy(col("side"))
    },
      oracleSql = Some("""WITH hi AS (SELECT c_custkey FROM customer WHERE c_acctbal > 5000),
        |oc AS (SELECT o_custkey, count(*)::BIGINT AS n_orders,
        |              sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))::BIGINT AS cents
        |       FROM orders GROUP BY 1)
        |SELECT CASE WHEN hi.c_custkey IS NULL THEN 'order_only'
        |            WHEN oc.o_custkey IS NULL THEN 'cust_only'
        |            ELSE 'both' END AS side,
        |       count(*)::BIGINT AS n,
        |       sum(coalesce(n_orders, 0))::BIGINT AS total_orders,
        |       sum(coalesce(cents, 0))::BIGINT AS total_cents
        |FROM hi FULL OUTER JOIN oc ON hi.c_custkey = oc.o_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Incremental aggregate maintenance — the daily-ingest shape: fold a
    // delta batch's partial-aggregate state into the historical state
    // instead of re-scanning the corpus. Here the 1999+ orders arrive as
    // the delta against the pre-1999 base; merged state must equal the
    // full recompute EXACTLY (integer cents, mergeable count/sum/min/max),
    // which is precisely what the oracle's one-shot GROUP BY checks. At
    // 100 TB the merge step scans |groups| rows + the delta — never the
    // base corpus. (The state also carries a mergeable HLL sketch for
    // distinct customers; dropped here so the query stays oracle-exact —
    // Catalyst prunes the sketch agg away — and spec-checked instead.)
    QuerySpec("agg_incremental", (s, dir) => {
      val o = orders(s, dir).select(
        col("o_orderpriority"), col("o_orderstatus"),
        col("o_orderdate"), col("o_custkey"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      val cutoff = lit("1999-01-01").cast("timestamp")
      val keys = Seq(col("o_orderpriority"), col("o_orderstatus"))
      val keyNames = Seq("o_orderpriority", "o_orderstatus")
      val base = Incremental.state(
        o.filter(col("o_orderdate") < cutoff), keys, col("cents"), col("o_custkey"))
      val delta = Incremental.state(
        o.filter(col("o_orderdate") >= cutoff), keys, col("cents"), col("o_custkey"))
      Incremental.finish(Incremental.merge(keyNames, base, delta), keyNames)
        .drop("n_distinct_approx")
        .orderBy(col("o_orderpriority"), col("o_orderstatus"))
    },
      oracleSql = Some("""WITH o AS (
        |  SELECT o_orderpriority, o_orderstatus,
        |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT o_orderpriority, o_orderstatus,
        |       count(*)::BIGINT AS n,
        |       sum(cents)::BIGINT AS sum_u,
        |       min(cents)::BIGINT AS min_u,
        |       max(cents)::BIGINT AS max_u,
        |       round(sum(cents)::DOUBLE / count(*), 4) AS avg_u
        |FROM o GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Incremental TOP-K maintenance: per-priority best-5 orders by price,
    // maintained as a mergeable k-bounded state — top-k under the total
    // order (score desc, id asc) is a monoid, so base ∪ delta folds with
    // NO approximation and the daily merge re-ranks |groups|·k state rows,
    // never the corpus. Oracle = DuckDB row_number over the full table:
    // merged state ≡ one-shot recompute, bit-exact (cents ride a double
    // losslessly — far below 2^53).
    QuerySpec("agg_incremental_topk", (s, dir) => {
      val o = orders(s, dir).select(
        col("o_orderpriority"), col("o_orderkey"), col("o_orderdate"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      val cutoff = lit("1996-01-01").cast("timestamp")
      val keys = Seq(col("o_orderpriority"))
      val keyNames = Seq("o_orderpriority")
      def stTop(df: DataFrame) = Incremental.topKState(
        df, keys, col("cents").cast("double"), col("o_orderkey"), k = 5)
      val base = stTop(o.filter(col("o_orderdate") < cutoff))
      val delta = stTop(o.filter(col("o_orderdate") >= cutoff))
      Incremental.finishTopK(
          Incremental.mergeTopK(keyNames, 5, base, delta), keyNames)
        .select(col("o_orderpriority"), col("rank").cast("long").as("rank"),
          col("id").as("o_orderkey"), col("score").cast("long").as("cents"))
        .orderBy(col("o_orderpriority"), col("rank"))
    },
      oracleSql = Some("""WITH o AS (
        |  SELECT o_orderpriority, o_orderkey,
        |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
        |  FROM orders),
        |r AS (
        |  SELECT o_orderpriority, o_orderkey, cents,
        |         row_number() OVER (PARTITION BY o_orderpriority
        |                            ORDER BY cents DESC, o_orderkey) AS rank
        |  FROM o)
        |SELECT o_orderpriority, rank::BIGINT AS rank, o_orderkey, cents
        |FROM r WHERE rank <= 5 ORDER BY 1, 2""".stripMargin)),

    // Winsorized robust stats per event type: nearest-rank [p5, p95]
    // boundaries from the histogram-compacted integer multiset (exact —
    // interpolated percentiles of 2dp money are the known cross-engine
    // trap), boundaries broadcast back for the clamp. No global sort.
    QuerySpec("q_winsorize", (s, dir) => {
      Analytics.winsorizedStats(events(s, dir), Seq(col("event_type")),
          col("value"), pLo = 5, pHi = 95)
        .select(col("event_type"), col("n_rows"), col("lo"), col("hi"),
          col("n_clipped_lo"), col("n_clipped_hi"), col("sum_u"))
        .orderBy(col("event_type"))
    },
      oracleSql = Some("""WITH v AS (
        |  SELECT event_type, CAST(round(value * 10000, 0) AS BIGINT) AS vu
        |  FROM events),
        |m AS (SELECT event_type, vu, count(*)::BIGINT AS c FROM v GROUP BY 1, 2),
        |cm AS (
        |  SELECT event_type, vu, c,
        |         sum(c) OVER (PARTITION BY event_type ORDER BY vu
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum,
        |         sum(c) OVER (PARTITION BY event_type)::BIGINT AS n
        |  FROM m),
        |b AS (
        |  SELECT event_type, max(n)::BIGINT AS n_rows,
        |         min(CASE WHEN cum >= (n * 5 + 99) // 100 THEN vu END)::BIGINT AS lo_u,
        |         min(CASE WHEN cum >= (n * 95 + 99) // 100 THEN vu END)::BIGINT AS hi_u
        |  FROM cm GROUP BY 1)
        |SELECT v.event_type, max(b.n_rows)::BIGINT AS n_rows,
        |       max(b.lo_u) / 10000.0 AS lo, max(b.hi_u) / 10000.0 AS hi,
        |       sum(CASE WHEN vu < lo_u THEN 1 ELSE 0 END)::BIGINT AS n_clipped_lo,
        |       sum(CASE WHEN vu > hi_u THEN 1 ELSE 0 END)::BIGINT AS n_clipped_hi,
        |       sum(least(greatest(vu, lo_u), hi_u))::BIGINT AS sum_u
        |FROM v JOIN b USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin),
      scaleNote = Some("nearest-rank boundaries from the (group, value_u) COMPACTED multiset — no global " +
        "sort; still materializes distinct values per group. Scale path on near-unique " +
        "domains: q_winsorize_scale (percentile_approx GK boundaries, no multiset).")),

    // Deterministic mode: most frequent event type per user with a total
    // tie-break (count desc, value asc) — the engines' native mode() is
    // arbitrary on ties, useless for a reproducible pipeline. Count agg +
    // per-key rank; shards by user.
    QuerySpec("q_mode_per_group", (s, dir) => {
      Analytics.deterministicMode(events(s, dir),
          Seq(col("user_id")), col("event_type"))
        .select(col("user_id"), col("mode_val"), col("mode_n"))
        .orderBy(col("user_id"))
    },
      oracleSql = Some("""WITH c AS (
        |  SELECT user_id, event_type AS mode_val, count(*)::BIGINT AS mode_n
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |           ORDER BY mode_n DESC, mode_val) AS rk FROM c)
        |SELECT user_id, mode_val, mode_n FROM r WHERE rk = 1
        |ORDER BY user_id""".stripMargin)),

    // One-pass column profiler over the corpus table: per column, rows /
    // nulls / exact distincts / numeric min-max, all from a single
    // aggregate over one scan (exact countDistinct = the Expand-planned
    // oracle anchor; q_profile_scale is the HLL one-pass shape).
    QuerySpec("q_profile", (s, dir) => {
      Profile.profile(documents(s, dir),
          Seq("doc_id", "n_chars", "lang", "source", "text"), exact = true)
        .orderBy(col("col_name"))
    },
      oracleSql = Some("""SELECT 'doc_id' AS col_name, count(*)::BIGINT AS n_rows,
        |       (count(*) - count(doc_id))::BIGINT AS n_nulls,
        |       count(DISTINCT doc_id)::BIGINT AS n_distinct,
        |       min(doc_id)::DOUBLE AS min_num, max(doc_id)::DOUBLE AS max_num
        |FROM documents
        |UNION ALL
        |SELECT 'n_chars', count(*)::BIGINT, (count(*) - count(n_chars))::BIGINT,
        |       count(DISTINCT n_chars)::BIGINT, min(n_chars)::DOUBLE, max(n_chars)::DOUBLE
        |FROM documents
        |UNION ALL
        |SELECT 'lang', count(*)::BIGINT, (count(*) - count(lang))::BIGINT,
        |       count(DISTINCT lang)::BIGINT, NULL::DOUBLE, NULL::DOUBLE
        |FROM documents
        |UNION ALL
        |SELECT 'source', count(*)::BIGINT, (count(*) - count(source))::BIGINT,
        |       count(DISTINCT source)::BIGINT, NULL::DOUBLE, NULL::DOUBLE
        |FROM documents
        |UNION ALL
        |SELECT 'text', count(*)::BIGINT, (count(*) - count(text))::BIGINT,
        |       count(DISTINCT text)::BIGINT, NULL::DOUBLE, NULL::DOUBLE
        |FROM documents
        |ORDER BY col_name""".stripMargin),
      scaleNote = Some("ORACLE SHAPE: exact multi-countDistinct plans via Expand (scan rows replicated " +
        "once per profiled column before the partial agg). " +
        "Scale path: q_profile_scale (per-column HLL sketches, one pass, no Expand).")),

    // The 100 TB profiler shape: approx_count_distinct (HLL++ sketch per
    // column, partial+final agg, NO Expand row multiplication). No SQL
    // oracle: sketch-estimate-dependent; ±5% vs exact and plan shape
    // asserted in ScalaTest.
    QuerySpec("q_profile_scale", (s, dir) => {
      Profile.profile(documents(s, dir),
          Seq("doc_id", "n_chars", "lang", "source", "text"), exact = false)
        .orderBy(col("col_name"))
    }),

    // The scale path for the equi-depth histogram: bucket BOUNDARIES from
    // one approx_percentile pass (mergeable sketch, partial+final agg),
    // broadcast as a single row, and every row range-bucketed against
    // them map-side — no global sort anywhere; the only shuffle is the
    // 8-group count agg (no SQL oracle: sketch-boundary-dependent;
    // balance/partition invariants in ScalaTest).
    QuerySpec("q_histogram_equidepth_scale", (s, dir) => {
      val li = lineitem(s, dir).select(col("l_extendedprice").as("x"))
      val bounds = li.agg(percentile_approx(col("x"),
        typedlit((1 to 7).map(_ / 8.0)), lit(10000)).as("bs"))
      li.crossJoin(broadcast(bounds))
        .withColumn("bucket", (size(filter(col("bs"), b => col("x") >= b)) + 1).cast("long"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          round(min(col("x")), 2).as("lo"),
          round(max(col("x")), 2).as("hi"))
        .orderBy(col("bucket"))
    }),

    // Robust per-group outlier census: median + MAD (median absolute
    // deviation), flag rows beyond 3 scaled MADs. Exact integer
    // arithmetic end to end, same posture as events_gapfill: prices
    // quantize to BIGINT cents, the group median of an even count is a
    // half-cent integer (percentile·2), the deviation median a
    // quarter-cent integer — the emitted doubles come from dividing
    // identical integers, so no decimal rounding ever runs. Rounding the
    // medians instead made sf-dependent x.xx5 ties that Spark and DuckDB
    // break in opposite directions.
    //
    // Plan shape: the corpus collapses ONCE to a (flag, value, count)
    // histogram — a hash agg with map-side combine — and every later pass
    // (median, MAD, census) runs on that compact multiset via
    // `percentile(x, p, frequency)`, which expands counts exactly like
    // raw rows. The fact table is scanned once and its exchange reused
    // (the three histogram branches canonicalize identically); the old
    // formulation pushed all N rows through three grouped exact-percentile
    // sorts. At 100 TB the histogram is |distinct prices|·|flags| rows —
    // the 3-sigma census over raw values degenerates to approx sketches
    // only when even THAT is too wide (q_outliers_mad_scale).
    // NOTE (r22 measured-and-rejected): the VERDICT-proposed window-cumsum
    // replacement for the two `percentile(x, 0.5, cnt)` aggs — bit-exact
    // via med·2 = min(v | 2·cum > N−1) + min(v | 2·cum > N) — was
    // implemented and benched at 3.32–3.74 s vs 2.84 s for this form
    // (two idle sessions each). Root cause: at sf0.1 the histogram barely
    // compacts (594,330 of 600,000 rows survive — prices are near-unique),
    // so the per-flag window pays a 3-task exchange + full sort of the
    // corpus twice, while percentile's 32-way partial maps only serialize
    // at the per-flag merge. The percentile agg stays; at a scale where
    // the value domain saturates (hist ≪ corpus) the window form becomes
    // attractive again — re-decide with a cluster profile.
    QuerySpec("q_outliers_mad", (s, dir) => {
      val hist = lineitem(s, dir)
        .select(col("l_returnflag").as("flag"),
          round(col("l_extendedprice") * 100, 0).cast("long").as("xc"))
        .groupBy(col("flag"), col("xc"))
        .agg(count(lit(1)).as("cnt"))
      val med = hist.groupBy(col("flag"))
        .agg(round(expr("percentile(xc, 0.5d, cnt)") * 2, 0).cast("long").as("med_hc"))
      val dev = hist.join(broadcast(med), "flag")
        .withColumn("d_hc", abs(col("xc") * 2 - col("med_hc")))
      val mad = dev.groupBy(col("flag"))
        .agg(round(expr("percentile(d_hc, 0.5d, cnt)") * 2, 0).cast("long").as("mad_qc"))
      dev.join(broadcast(mad), "flag")
        .groupBy(col("flag"))
        .agg(sum(col("cnt")).as("n_rows"),
          (first(col("med_hc")).cast("double") / 200.0).as("med"),
          (first(col("mad_qc")).cast("double") / 400.0).as("mad"),
          sum(when(col("d_hc").cast("double") > col("mad_qc") * 3 * 1.4826 / 2, col("cnt"))
            .otherwise(0L)).as("n_outliers"))
        .orderBy(col("flag"))
    },
      oracleSql = Some("""WITH li AS (SELECT l_returnflag AS flag,
        |                   CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS xc
        |            FROM lineitem),
        |med AS (SELECT flag,
        |               CAST(round(quantile_cont(xc, 0.5) * 2, 0) AS BIGINT) AS med_hc
        |        FROM li GROUP BY flag),
        |mad AS (SELECT li.flag,
        |               CAST(round(quantile_cont(abs(2 * xc - med_hc), 0.5) * 2, 0)
        |                    AS BIGINT) AS mad_qc,
        |               any_value(med_hc) AS med_hc
        |        FROM li JOIN med USING (flag) GROUP BY li.flag)
        |SELECT li.flag, count(*)::BIGINT AS n_rows,
        |       any_value(mad.med_hc) / 200.0 AS med,
        |       any_value(mad.mad_qc) / 400.0 AS mad,
        |       sum(CASE WHEN abs(2 * xc - mad.med_hc) > mad.mad_qc * 3 * 1.4826 / 2
        |                THEN 1 ELSE 0 END)::BIGINT AS n_outliers
        |FROM li JOIN mad USING (flag)
        |GROUP BY li.flag
        |ORDER BY li.flag""".stripMargin),
      scaleNote = Some("exact global median/MAD = full-column percentile sort aggs. " +
        "Scale path: q_outliers_mad_scale (percentile_approx med/MAD, partial+final hash agg).")),

    // Scale companion to q_outliers_mad: both median passes run on
    // percentile_approx (t-digest — one partial+final hash agg, mergeable
    // across 1000 executors, no per-group sort), mirroring the
    // q_percentiles → q_approx_percentiles pattern. Same census columns.
    // No oracle (sketch-dependent); the spec pins it against the exact
    // census within tolerance.
    QuerySpec("q_outliers_mad_scale", (s, dir) => {
      val li = lineitem(s, dir)
        .select(col("l_returnflag").as("flag"), col("l_extendedprice").as("x"))
      val med = li.groupBy(col("flag"))
        .agg(percentile_approx(col("x"), lit(0.5), lit(10000)).as("med"))
      val mad = li.join(broadcast(med), "flag")
        .withColumn("d", abs(col("x") - col("med")))
        .groupBy(col("flag"))
        .agg(percentile_approx(col("d"), lit(0.5), lit(10000)).as("mad"),
          first(col("med")).as("med"))
      li.join(broadcast(mad), "flag")
        .withColumn("d", abs(col("x") - col("med")))
        .groupBy(col("flag"))
        .agg(count(lit(1)).as("n_rows"),
          round(first(col("med")), 2).as("med"),
          round(first(col("mad")), 2).as("mad"),
          sum(when(col("d") > col("mad") * 3 * 1.4826, 1L).otherwise(0L))
            .as("n_outliers"))
        .orderBy(col("flag"))
    }),

    // Skew-safe salted join: event_type has only 5 values — the canonical
    // hot-key shape. Salting spreads each key over 16 sub-keys; the result
    // is oracle-identical to the plain join (the whole point).
    QuerySpec("q_skew_join_salted", (s, dir) => {
      import s.implicits._
      val weights = Seq(
        ("click", 1.0), ("view", 0.5), ("purchase", 3.0),
        ("error", 2.0), ("signup", 1.5))
        .toDF("event_type", "weight")
      Relational.saltedEquiJoin(
          events(s, dir).select(col("event_id"), col("event_type"), col("value")),
          weights, "event_type", col("event_id"), nSalts = 16)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value") * col("weight")), 2).as("weighted_value"))
        .orderBy(col("event_type"))
    },
      // the salted join must be result-identical to the PLAIN join
      oracleSql = Some("""SELECT e.event_type, count(*) AS n_events,
        |       round(sum(e.value * w.weight), 2) AS weighted_value
        |FROM events e
        |JOIN (VALUES ('click', 1.0), ('view', 0.5), ('purchase', 3.0),
        |             ('error', 2.0), ('signup', 1.5)) AS w(event_type, weight)
        |  ON e.event_type = w.event_type
        |GROUP BY e.event_type
        |ORDER BY e.event_type""".stripMargin)),

    // Latest-wins MERGE: every 10th order arrives again as a CDC update
    // (price in cents × 11, version 1); winner per key via ONE hash agg
    // carrying the full payload — no ranking window, no join back. Money
    // as integer cents end to end (never round a ×1.1 float cross-engine).
    QuerySpec("q_merge_upsert", (s, dir) => {
      val o = orders(s, dir).select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice") * 100, 0).cast("long").as("price_c"))
      val base = o.withColumn("ver", lit(0L))
      val upd = o.filter(pmod(col("o_orderkey"), lit(10)) === 0)
        .withColumn("price_c", col("price_c") * 11)
        .withColumn("ver", lit(1L))
      Relational.upsertLatest(base, upd, Seq("o_orderkey"), "ver")
        .orderBy(col("o_orderkey"))
    },
      oracleSql = Some("""WITH b AS (SELECT o_orderkey, o_custkey,
        |                  round(o_totalprice * 100)::BIGINT AS price_c, 0::BIGINT AS ver
        |           FROM orders),
        |u AS (SELECT o_orderkey, o_custkey,
        |             round(o_totalprice * 100)::BIGINT * 11 AS price_c, 1::BIGINT AS ver
        |      FROM orders WHERE o_orderkey % 10 = 0),
        |a AS (SELECT * FROM b UNION ALL SELECT * FROM u)
        |SELECT o_orderkey, o_custkey, price_c, ver FROM a
        |QUALIFY row_number() OVER (PARTITION BY o_orderkey ORDER BY ver DESC) = 1
        |ORDER BY o_orderkey""".stripMargin)),

    // TPC-H Q5 shape: 6-way join across the full star schema. Fact-fact
    // joins (orders⋈lineitem, ⋈customer) shuffle on their keys; nation/
    // region/supplier are dims — Catalyst/AQE picks broadcast at any scale
    // where they fit, shuffle otherwise.
    QuerySpec("q_multi_join", (s, dir) => {
      val o = orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      lineitem(s, dir)
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(supplier(s, dir),
          col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(region(s, dir).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("n_name"))
    },
      oracleSql = Some("""SELECT n_name,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin)),

    // CUBE grouping sets (all four combinations).
    QuerySpec("q_cube", (s, dir) => {
      lineitem(s, dir)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("n"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("sum_qty"), col("n"))
        .orderBy(col("returnflag"), col("linestatus"))
    },
      oracleSql = Some("""SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |       coalesce(l_linestatus, 'ALL') AS linestatus,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       count(*) AS n
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin)),

    // Explicit GROUPING SETS (asymmetric: not a cube/rollup): totals by
    // (status, priority), by status alone, and grand total.
    QuerySpec("q_grouping_sets", (s, dir) => {
      orders(s, dir)
        .groupingSets(
          Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
            Seq(col("o_orderstatus")), Seq()),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("revenue"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n_orders"), col("revenue"))
        .orderBy(col("status"), col("priority"))
    },
      oracleSql = Some("""SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |       coalesce(o_orderpriority, 'ALL') AS priority,
        |       count(*) AS n_orders,
        |       round(sum(o_totalprice), 2) AS revenue
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        |ORDER BY status, priority""".stripMargin)),

    // Exact interpolated percentiles (sort-based agg) per order priority.
    // ORACLE SHAPE: at 100 TB run q_approx_percentiles (t-digest) instead.
    // Exact interpolated quartiles, integer-exact across engines: prices
    // quantize to BIGINT cents; a quantile at f ∈ {¼, ½, ¾} of integers is
    // an exact multiple of a quarter-cent (a + f·(b−a), f a power-of-two
    // fraction), so ×4 is an integer and the emitted double divides
    // identical integers — rounding an interpolated money quantile to 2
    // decimals is the constructed-tie class q_outliers_mad hit.
    QuerySpec("q_percentiles", (s, dir) => {
      def q(f: Double, as: String) =
        (round(expr(s"percentile(xc, ${f}d)") * 4, 0).cast("long")
          .cast("double") / 400.0).as(as)
      orders(s, dir)
        .select(col("o_orderpriority"),
          round(col("o_totalprice") * 100, 0).cast("long").as("xc"))
        .groupBy(col("o_orderpriority"))
        .agg(q(0.25, "p25"), q(0.5, "p50"), q(0.75, "p75"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderpriority"))
    },
      oracleSql = Some("""WITH o AS (SELECT o_orderpriority,
        |                  CAST(round(o_totalprice * 100, 0) AS BIGINT) AS xc
        |           FROM orders)
        |SELECT o_orderpriority,
        |       CAST(round(quantile_cont(xc, 0.25) * 4, 0) AS BIGINT) / 400.0 AS p25,
        |       CAST(round(quantile_cont(xc, 0.5) * 4, 0) AS BIGINT) / 400.0 AS p50,
        |       CAST(round(quantile_cont(xc, 0.75) * 4, 0) AS BIGINT) / 400.0 AS p75,
        |       count(*) AS n_orders
        |FROM o
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin),
      scaleNote = Some("exact percentile = per-group sort agg. " +
        "Scale path: q_approx_percentiles (percentile_approx t-digest, partial+final hash agg).")),

    // Scale companion to q_percentiles: t-digest percentile_approx is one
    // partial+final hash agg (no per-group sort) — the form a 100 TB
    // pipeline runs. No oracle (sketch-dependent); the spec pins deviation
    // vs the exact query to <=1%.
    QuerySpec("q_approx_percentiles", (s, dir) => {
      orders(s, dir)
        .groupBy(col("o_orderpriority"))
        .agg(
          round(percentile_approx(col("o_totalprice"), lit(0.25), lit(10000)), 2).as("p25"),
          round(percentile_approx(col("o_totalprice"), lit(0.5), lit(10000)), 2).as("p50"),
          round(percentile_approx(col("o_totalprice"), lit(0.75), lit(10000)), 2).as("p75"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderpriority"))
    }),

    // percentile_approx in its EXACT regime: Greenwald-Khanna keeps every
    // sample while 2·ε·n < 1 (compression can only drop a sample when the
    // adjacent g/Δ sum stays under 2·ε·n, so with n < accuracy/2 nothing is
    // ever dropped, through the partial-merge path included) — the serving
    // quantile is then the plain order statistic at rank ceil(p·n), which
    // coincides with DuckDB's quantile_disc (probed: identical on uniform,
    // tied, and price-like data through multi-partition merges). Same
    // conversion as events_quantiles_exact, giving the whole
    // ApproximatePercentile path (partial update → merge → query) a SQL
    // oracle; the sketch-regime twin q_approx_percentiles stays rows-tier.
    // The premise is ENFORCED in the plan: assert max per-group count stays
    // within the no-drop bound instead of silently drifting to estimates.
    QuerySpec("q_approx_percentiles_exact", (s, dir) => {
      val acc = 131072
      val o = orders(s, dir)
      val guard = o.groupBy(col("o_orderpriority")).count()
        .agg(max(col("count")).as("__mx"))
      Guards.inPlanAssert(
          o.groupBy(col("o_orderpriority"))
            .agg(
              percentile_approx(col("o_totalprice"), lit(0.25), lit(acc)).as("p25"),
              percentile_approx(col("o_totalprice"), lit(0.5), lit(acc)).as("p50"),
              percentile_approx(col("o_totalprice"), lit(0.75), lit(acc)).as("p75"),
              count(lit(1)).as("n_orders")),
          // STRICT bound, matching the invariant above: at n == accuracy/2
          // the insert delta floor(2·ε·n) reaches 1 and exactness would
          // rest on QuantileSummaries internals, not the documented premise
          guard, col("__mx") * 2 < acc,
          "q_approx_percentiles_exact: a group outgrew the GK exact range " +
            s"(accuracy=$acc, no-drop bound n < accuracy/2) — compression " +
            "would turn quantiles into estimates; raise accuracy or use " +
            "q_approx_percentiles (sketch regime)")
        .orderBy(col("o_orderpriority"))
    },
      // GK percentile_approx in its exact regime: every sample retained, so
      // the serving quantile is the order statistic at rank ceil(p·n) —
      // DuckDB's quantile_disc rule
      oracleSql = Some("""SELECT o_orderpriority,
        |       quantile_disc(o_totalprice, 0.25) AS p25,
        |       quantile_disc(o_totalprice, 0.5)  AS p50,
        |       quantile_disc(o_totalprice, 0.75) AS p75,
        |       count(*) AS n_orders
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)),

    // Pivot (dynamic columns from event_type values) over per-user activity.
    QuerySpec("q_pivot", (s, dir) => {
      events(s, dir)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "view", "purchase", "error"))
        .agg(round(sum(col("value")), 2))
        .select(col("user_id"),
          coalesce(col("click"), lit(0.0)).as("click_value"),
          coalesce(col("view"), lit(0.0)).as("view_value"),
          coalesce(col("purchase"), lit(0.0)).as("purchase_value"),
          coalesce(col("error"), lit(0.0)).as("error_value"))
        .orderBy(col("user_id"))
    },
      oracleSql = Some("""SELECT user_id,
        |       round(coalesce(sum(value) FILTER (event_type = 'click'), 0), 2) AS click_value,
        |       round(coalesce(sum(value) FILTER (event_type = 'view'), 0), 2) AS view_value,
        |       round(coalesce(sum(value) FILTER (event_type = 'purchase'), 0), 2) AS purchase_value,
        |       round(coalesce(sum(value) FILTER (event_type = 'error'), 0), 2) AS error_value
        |FROM events
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin)),

    // Collection aggregation: distinct set -> sorted -> joined (stable
    // string form so the oracle hash-compares exactly).
    QuerySpec("q_collect", (s, dir) => {
      events(s, dir)
        .groupBy(col("user_id"))
        .agg(
          concat_ws(",", array_sort(collect_set(col("event_type")))).as("event_types"),
          count(lit(1)).as("n_events"))
        .orderBy(col("user_id"))
    },
      oracleSql = Some("""SELECT user_id,
        |       string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS event_types,
        |       count(*) AS n_events
        |FROM events
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin)),

    // Time-range window frame (RANGE BETWEEN an interval): per-user rolling
    // 1-hour sum/count over events — the event-time analytic that ROWS
    // frames cannot express. Epoch-microsecond order keys keep the frame
    // bounds engine-exact; one shuffle on user_id, per-partition sort.
    QuerySpec("q_window_range_frame", (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
        .rangeBetween(-3600L * 1000000L, Window.currentRow)
      events(s, dir)
        .withColumn("ts_us", unix_micros(col("ts")))
        .withColumn("rolling_sum", round(sum(col("value")).over(w), 2))
        .withColumn("rolling_n", count(lit(1)).over(w))
        .select(col("event_id"), col("user_id"), col("rolling_sum"), col("rolling_n"))
        .orderBy(col("event_id"))
    },
      oracleSql = Some("""SELECT event_id, user_id,
        |       round(sum(value) OVER w, 2) AS rolling_sum,
        |       count(*) OVER w AS rolling_n
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin)),

    // Big-big range join scale path: 40 overlapping value tiers joined to
    // events WITHOUT broadcasting — band-quantized equi-join (the plan
    // q_range_join's broadcast tier can't use when the ranges side is
    // also huge). Result identical to the theta join by construction.
    QuerySpec("q_range_join_banded", (s, dir) => {
      val ranges = s.range(40).select(
        col("id").as("range_id"),
        (col("id") * 5.0).as("lo"),
        (col("id") * 5.0 + 25.0).as("hi"))
      Relational.bandedRangeJoin(events(s, dir), ranges,
          col("value"), col("lo"), col("hi"), bandWidth = 10.0)
        .groupBy(col("range_id"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("range_id"))
    },
      oracleSql = Some("""SELECT t.range_id, count(*) AS n_events, round(sum(e.value), 2) AS sum_value
        |FROM events e
        |JOIN (SELECT range AS range_id, range * 5.0 AS lo, range * 5.0 + 25.0 AS hi
        |      FROM range(0, 40)) t
        |  ON e.value >= t.lo AND e.value < t.hi
        |GROUP BY t.range_id
        |ORDER BY t.range_id""".stripMargin))
  )
}
