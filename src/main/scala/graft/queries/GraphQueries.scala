package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables.{lineitem, orders, customer, supplier}
import graft.operators.Graph

/** Graph algorithms over the trade graph (suppliers and customers linked
  * by lineitem ⋈ orders) and over synthetic key graphs.
  */
object GraphQueries {

  def specs: Seq[QuerySpec] = Seq(

    // Exact triangle census over the co-ordered-parts graph of URGENT
    // orders (parts sharing an order are adjacent) — degree-ordered
    // orientation bounds wedge fanout by out-degree ≤ O(√E), the trick
    // that keeps hub vertices from melting the join at scale. Exact
    // integer counts, fully oracle-able. One priority class keeps the
    // co-occurrence graph's density (wedge count grows ~quadratically in
    // mean degree) at census scale; the operator itself is density-agnostic.
    QuerySpec("graph_triangles", (s, dir) => {
      val urgent = orders(s, dir)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      val li = lineitem(s, dir).select(col("l_orderkey"), col("l_partkey"))
        .join(urgent, col("l_orderkey") === col("o_orderkey"))
      val e = li.as("a").join(li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") < col("b.l_partkey"))
        .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
      Graph.triangleCount(e)
    },
      oracleSql = Some("""WITH urgent AS (SELECT o_orderkey FROM orders
        |               WHERE o_orderpriority = '1-URGENT'),
        |li AS (SELECT l.l_orderkey, l.l_partkey
        |       FROM lineitem l JOIN urgent u ON l.l_orderkey = u.o_orderkey),
        |e0 AS (
        |  SELECT DISTINCT a.l_partkey AS lo, b.l_partkey AS hi
        |  FROM li a JOIN li b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |deg AS (SELECT v, count(*)::BIGINT AS d
        |        FROM (SELECT lo AS v FROM e0 UNION ALL SELECT hi FROM e0)
        |        GROUP BY 1),
        |wd AS (SELECT u.lo, u.hi, dl.d AS dlo, dh.d AS dhi
        |       FROM e0 u JOIN deg dl ON u.lo = dl.v JOIN deg dh ON u.hi = dh.v),
        |o AS (SELECT CASE WHEN (dlo, lo) < (dhi, hi) THEN lo ELSE hi END AS a,
        |             CASE WHEN (dlo, lo) < (dhi, hi) THEN hi ELSE lo END AS b,
        |             CASE WHEN (dlo, lo) < (dhi, hi) THEN dhi ELSE dlo END AS db
        |      FROM wd),
        |w AS (SELECT e1.b AS x, e2.b AS y
        |      FROM o e1 JOIN o e2
        |        ON e1.a = e2.a AND (e1.db, e1.b) < (e2.db, e2.b)),
        |t AS (SELECT count(*)::BIGINT AS n_triangles
        |      FROM w JOIN o e3 ON w.x = e3.a AND w.y = e3.b)
        |SELECT (SELECT count(*) FROM deg)::BIGINT AS n_vertices,
        |       (SELECT count(*) FROM e0)::BIGINT AS n_edges,
        |       t.n_triangles
        |FROM t""".stripMargin),
      scaleNote = Some("wedge volume grows ~quadratically in mean degree (this query pins density via one " +
        "order-priority class). The degree-ordered orientation bounds per-vertex wedge " +
        "fanout at out-degree <= O(sqrt E) — audit for the oriented-edge exchange being " +
        "keyed on the apex vertex, never a broadcast of the corpus.")),

    // PageRank over the supplier↔customer bipartite trade graph (symmetric
    // closure of distinct lineitem⋈orders pairs), 3 iterations, damping 85%.
    // Exact integer fixed-point (rank = BIGINT e12): integer sums are
    // partition-order-free, so the distributed run equals the oracle's
    // unrolled single-threaded recurrence bit-for-bit — float PageRank
    // can't be cross-checked at all. Per iter: one edges⋈ranks shuffle +
    // one dst hash agg; scalar tables broadcast.
    QuerySpec("graph_pagerank", (s, dir) => {
      // symmetric closure without a pre-union distinct: Graph.Prepared's
      // own dedup makes it redundant. LONG-coded vertices (r22): the rank
      // recurrence never reads the id value, so the coded run's
      // per-vertex ranks are the string run's bit-for-bit; ids decode at
      // output (tradeVertexStr).
      Graph.pageRank(tradeEdges(s, dir), iters = 3)
        .select(tradeVertexStr(col("vertex")).as("vertex"), col("rank_e12"))
        .orderBy(col("vertex"))
    },
      oracleSql = Some(pageRankOracleSql(3)),
      scaleNote = Some("per iteration ONE edges-ranks shuffle + one dst hash agg; rank table is |V| rows. " +
        "Deep runs checkpoint every ~10 iters (lineage); scalar mass tables broadcast.")),

    // Multi-source BFS over the same trade graph: exact hop distance from
    // a decile supplier cohort (s_suppkey % 10 = 0 — SF-stable, non-empty
    // at every scale factor), capped at 3 hops — the blast-radius /
    // influence-frontier query (who does a recall at these suppliers
    // touch, and how directly?). Frontier iteration: each round joins only
    // the newly-reached frontier against the persisted edge table, never
    // the full reached set; integer distances make the distributed search
    // equal DuckDB's recursive-CTE unrolling bit-for-bit.
    QuerySpec("graph_reach", (s, dir) => {
      // pre-union distinct dropped (shortestHops dedups). LONG-coded
      // vertices (r22): hop distances are id-value-free, so the coded BFS
      // labels every vertex identically; decode at output.
      Graph.shortestHops(tradeEdges(s, dir), supplierDecile(s, dir), maxHops = 3)
        .select(tradeVertexStr(col("vertex")).as("vertex"), col("dist"))
        .orderBy(col("vertex"))
    },
      oracleSql = Some(s"""WITH RECURSIVE $tradeGraphSql,
        |seeds AS (
        |  SELECT DISTINCT 's' || s_suppkey::VARCHAR AS vertex
        |  FROM supplier WHERE s_suppkey % 10 = 0),
        |reach(vertex, dist) AS (
        |  SELECT vertex, 0 FROM seeds
        |  UNION
        |  SELECT ed.dst, r.dist + 1
        |  FROM reach r JOIN ed ON r.vertex = ed.src
        |  WHERE r.dist < 3)
        |SELECT vertex, min(dist)::BIGINT AS dist
        |FROM reach GROUP BY 1 ORDER BY 1""".stripMargin),
      scaleNote = Some("per hop one frontier-edges shuffle + dst dedup; the emptiness probe rides the " +
        "checkpoint materialization (no extra job). Frontier shrinks monotonically; " +
        "edges partitioned once.")),

    // Weighted bounded-hop SSSP over the trade graph: cheapest route (in
    // lineitem price cents, min per supplier↔customer pair) from the
    // decile supplier cohort within 3 edges — "at what cost", where
    // graph_reach answers "how directly". Frontier-restricted Bellman-Ford
    // (round r relaxes only vertices improved in r−1); after maxHops
    // rounds the labels are exactly min-cost-over-≤3-edge-paths, a total
    // contract the unrolled-CTE oracle reproduces bit-for-bit in integers.
    QuerySpec("graph_sssp", (s, dir) => {
      // LONG-coded vertices (r22): min-cost labels are id-value-free —
      // weights and the relaxation order are untouched; decode at output.
      val e0 = withCustomer(s, dir, lineitem(s, dir))
        .select(supplierVertex(col("l_suppkey")).as("src"),
          customerVertex(col("o_custkey")).as("dst"),
          round(col("l_extendedprice") * 100, 0).cast("long").as("w"))
      // ssspBounded's min-agg collapses parallel edges
      Graph.ssspBounded(symmetric(e0, "w"), supplierDecile(s, dir), maxHops = 3)
        .select(tradeVertexStr(col("vertex")).as("vertex"), col("dist"))
        .orderBy(col("vertex"))
    },
      oracleSql = Some(ssspOracleSql(3)),
      scaleNote = Some("frontier-restricted Bellman-Ford: edges hash-partitioned on src ONCE and persisted; " +
        "per round one frontier-edges shuffle + per-dst min agg + full-outer label merge, " +
        "lazy localCheckpoints with the improvement probe's count() as the ONLY action. " +
        "Cost = fixed per-round overhead x rounds, not data; the label table is |V| rows.")),

    // k-core (k=4) of the high-quantity trade graph (l_quantity >= 45
    // sparsifies enough that peeling bites): the dense-cohesion extractor.
    // Contract is "the graph after 4 peel rounds" — identical to the
    // oracle's unrolled rounds whether or not the fixpoint arrived (the
    // spec pins multi-round convergence on handmade graphs; this data
    // converges in 1–2).
    QuerySpec("graph_kcore", (s, dir) => {
      // LONG-coded vertices (r22): kCore canonicalizes edges with least/
      // greatest purely to DEDUP them — the undirected edge SET, hence
      // every degree and every peel round, is identical under any
      // injective recoding; decode at output.
      val e = withCustomer(s, dir, lineitem(s, dir).filter(col("l_quantity") >= 45))
        .select(customerVertex(col("o_custkey")).as("src"),
          supplierVertex(col("l_suppkey")).as("dst"))
      Graph.kCore(e, k = 4, maxRounds = 4)
        .select(tradeVertexStr(col("vertex")).as("vertex"), col("degree"))
        .orderBy(col("vertex"))
    },
      oracleSql = Some(kCoreOracleSql(4, 4))),

    // Connected components (min-label fixpoint / size-gated union-find —
    // one engine with dupClusters) over a deterministic chain+bridge graph
    // on the customer keys: decade chains (c—c+1 within each run of 10)
    // bridged at c%100=55, so components have known bounded diameter and
    // the DuckDB transitive-closure oracle stays linear. Component id =
    // min vertex, bit-exact cross-engine.
    QuerySpec("graph_components", (s, dir) => {
      val v = customer(s, dir).select(col("c_custkey").as("id"))
      val e0 = v.filter(pmod(col("id"), lit(10)) =!= 0)
        .select(col("id").as("src"), (col("id") + 1).as("dst"))
        .unionByName(v.filter(pmod(col("id"), lit(100)) === 55)
          .select(col("id").as("src"), (col("id") + 10).as("dst")))
      // keep only edges whose endpoint exists (the last key's +1 doesn't)
      val edges = e0.join(v.select(col("id").as("dst")), Seq("dst"), "left_semi")
      Graph.connectedComponents(edges)
        .orderBy(col("vertex"))
    },
      oracleSql = Some("""WITH RECURSIVE v AS (SELECT c_custkey AS id FROM customer),
        |e0 AS (
        |  SELECT id AS src, id + 1 AS dst FROM v WHERE id % 10 <> 0
        |  UNION ALL
        |  SELECT id AS src, id + 10 AS dst FROM v WHERE id % 100 = 55),
        |e1 AS (SELECT src, dst FROM e0 JOIN v ON e0.dst = v.id),
        |edges AS (
        |  SELECT src AS u, dst AS w FROM e1
        |  UNION
        |  SELECT dst AS u, src AS w FROM e1),
        |reach AS (
        |  SELECT u, w FROM edges
        |  UNION
        |  SELECT r.u, e.w FROM reach r JOIN edges e ON r.w = e.u
        |  WHERE e.w <> r.u)
        |SELECT u AS vertex, LEAST(u, MIN(w)) AS component
        |FROM reach GROUP BY u ORDER BY vertex""".stripMargin))
  )

  /** LONG-coded trade-graph vertex ids (r22, guide §2.3 — narrower keys):
    * supplier k ↦ 2k, customer k ↦ 2k+1 — a bijection into disjoint even/
    * odd longs, so the coded graph is isomorphic to the "s<k>"/"c<k>"
    * string graph and every id-value-independent computation over it
    * (rank sums, hop counts, min-costs, degrees) produces identical
    * per-vertex numbers while the distinct/join/agg exchanges carry and
    * hash 8-byte longs instead of strings. [[tradeVertexStr]] restores
    * the public string form at output. NOT used where the algorithm
    * compares vertex ids themselves across the s/c namespaces (e.g.
    * graph_components' min-label winner is defined on the string order).
    * The coding is a bijection only for keys 0 ≤ k < 2^62: each key is
    * checked per row, in the pass that codes it, and a key outside fails
    * the query instead of colliding or wrapping.
    */
  private[graft] def supplierVertex(k: Column): Column = vertexKey(k, "supplier") * 2

  private[graft] def customerVertex(k: Column): Column = vertexKey(k, "customer") * 2 + 1

  private def vertexKey(k: Column, side: String): Column =
    when(assert_true(coalesce(k, lit(0L)).between(0L, (1L << 62) - 1),
      lit(s"trade graph: a $side key is outside 0 <= k < 2^62, the domain of the 2k / 2k+1 vertex coding"))
      .isNull, k)

  private def tradeVertexStr(v: Column): Column =
    concat(when(v.bitwiseAND(lit(1L)) === 0L, lit("s")).otherwise(lit("c")),
      shiftright(v, 1).cast("string"))

  /** Each row of `li` (a lineitem projection that keeps `l_orderkey`)
    * joined to its order's customer: the trade graph's one join.
    */
  private def withCustomer(s: SparkSession, dir: String, li: DataFrame): DataFrame =
    li.join(orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
      col("l_orderkey") === col("o_orderkey"))

  /** The undirected trade graph: LONG-coded supplier→customer edges, one
    * per lineitem, in both directions.
    */
  private def tradeEdges(s: SparkSession, dir: String): DataFrame =
    symmetric(withCustomer(s, dir, lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey")))
      .select(supplierVertex(col("l_suppkey")).as("src"),
        customerVertex(col("o_custkey")).as("dst")))

  /** Symmetric closure of `(src, dst, carry...)` edges via explode (r21):
    * both directions from ONE execution of the edge subtree (the
    * dupClusters edge trick) — a union of two projections re-runs the
    * broadcast join per branch.
    */
  private def symmetric(e: DataFrame, carry: String*): DataFrame = {
    val kept = carry.map(col)
    e.select(explode(array(
        struct(col("src") +: col("dst") +: kept: _*),
        struct(col("dst").as("src") +: col("src").as("dst") +: kept: _*))).as("e"))
      .select(col("e.src").as("src") +: col("e.dst").as("dst") +: carry.map(c => col(s"e.$c").as(c)): _*)
  }

  /** BFS/SSSP seeds: the decile supplier cohort (s_suppkey % 10 = 0 —
    * SF-stable, non-empty at every scale factor), LONG-coded.
    */
  private def supplierDecile(s: SparkSession, dir: String): DataFrame =
    supplier(s, dir)
      .filter(pmod(col("s_suppkey"), lit(10)) === 0)
      .select(supplierVertex(col("s_suppkey")).as("vertex"))

  /** DuckDB CTEs `e0` (distinct supplier→customer trade pairs, string
    * ids) and `ed` (their symmetric closure).
    */
  private val tradeGraphSql =
    """e0 AS (
      |  SELECT DISTINCT 's' || l.l_suppkey::VARCHAR AS src,
      |                  'c' || o.o_custkey::VARCHAR AS dst
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      |ed AS (SELECT src, dst FROM e0
      |       UNION SELECT dst AS src, src AS dst FROM e0)""".stripMargin

  /** DuckDB mirror of [[Graph.pageRank]]: the same integer recurrence
    * unrolled as one CTE pair (contribs, ranks) per iteration. Exact BIGINT
    * arithmetic end-to-end — both engines produce identical ranks.
    */
  private def pageRankOracleSql(iters: Int): String = {
    val s = Graph.Scale
    val iterCtes = (1 to iters).map { i =>
      s"""c$i AS (
         |  SELECT ed.dst, sum(r.rank_e12 // deg.outdeg)::BIGINT AS s
         |  FROM ed JOIN r${i - 1} r ON ed.src = r.vertex
         |          JOIN deg ON ed.src = deg.src
         |  GROUP BY 1),
         |d$i AS (
         |  SELECT coalesce(sum(r.rank_e12), 0)::BIGINT AS dmass
         |  FROM r${i - 1} r LEFT JOIN deg ON r.vertex = deg.src
         |  WHERE deg.src IS NULL),
         |r$i AS (
         |  SELECT v.vertex,
         |         (((15 * $s) // 100) // nv.n
         |          + (85 * (coalesce(c$i.s, 0) + d$i.dmass // nv.n)) // 100)::BIGINT
         |           AS rank_e12
         |  FROM v CROSS JOIN nv CROSS JOIN d$i
         |       LEFT JOIN c$i ON v.vertex = c$i.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH $tradeGraphSql,
       |v AS (SELECT src AS vertex FROM ed UNION SELECT dst FROM ed),
       |deg AS (SELECT src, count(*)::BIGINT AS outdeg FROM ed GROUP BY 1),
       |nv AS (SELECT count(*)::BIGINT AS n FROM v),
       |r0 AS (SELECT vertex, ($s // n)::BIGINT AS rank_e12 FROM v, nv),
       |$iterCtes
       |SELECT vertex, rank_e12 FROM r$iters ORDER BY vertex""".stripMargin
  }

  /** DuckDB mirror of [[Graph.ssspBounded]]: Bellman-Ford unrolled as one
    * full-relaxation CTE per round (the frontier restriction is a pure
    * optimization — labels after round r are identical). Integer cents
    * end-to-end.
    */
  private def ssspOracleSql(rounds: Int): String = {
    val iter = (1 to rounds).map { i =>
      s"""d$i AS (
         |  SELECT vertex, min(dist)::BIGINT AS dist FROM (
         |    SELECT vertex, dist FROM d${i - 1}
         |    UNION ALL
         |    SELECT ed.dst AS vertex, d${i - 1}.dist + ed.w AS dist
         |    FROM d${i - 1} JOIN ed ON d${i - 1}.vertex = ed.src) GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (
       |  SELECT 's' || l.l_suppkey::VARCHAR AS src,
       |         'c' || o.o_custkey::VARCHAR AS dst,
       |         min(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)) AS w
       |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  GROUP BY 1, 2),
       |ed AS (SELECT src, dst, w FROM e0
       |       UNION ALL SELECT dst, src, w FROM e0),
       |d0 AS (SELECT DISTINCT 's' || s_suppkey::VARCHAR AS vertex,
       |              0::BIGINT AS dist
       |       FROM supplier WHERE s_suppkey % 10 = 0),
       |$iter
       |SELECT vertex, dist FROM d$rounds ORDER BY vertex""".stripMargin
  }

  /** DuckDB mirror of [[Graph.kCore]]: the peel unrolled as one
    * (degrees, bad, surviving-edges) CTE triple per round — a no-op round
    * once the fixpoint arrives, so the round count is a contract, not a
    * convergence bet.
    */
  private def kCoreOracleSql(k: Int, rounds: Int): String = {
    val roundCtes = (0 until rounds).map { i =>
      s"""d$i AS (
         |  SELECT v, count(*)::BIGINT AS d
         |  FROM (SELECT lo AS v FROM e$i UNION ALL SELECT hi FROM e$i)
         |  GROUP BY 1),
         |b$i AS (SELECT v FROM d$i WHERE d < $k),
         |e${i + 1} AS (
         |  SELECT lo, hi FROM e$i
         |  WHERE lo NOT IN (SELECT v FROM b$i)
         |    AND hi NOT IN (SELECT v FROM b$i))""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (
       |  SELECT DISTINCT 'c' || o.o_custkey::VARCHAR AS lo,
       |                  's' || l.l_suppkey::VARCHAR AS hi
       |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  WHERE l.l_quantity >= 45),
       |$roundCtes,
       |df AS (
       |  SELECT v, count(*)::BIGINT AS d
       |  FROM (SELECT lo AS v FROM e$rounds UNION ALL SELECT hi FROM e$rounds)
       |  GROUP BY 1)
       |SELECT v AS vertex, d AS degree FROM df WHERE d >= $k
       |ORDER BY vertex""".stripMargin
  }
}
