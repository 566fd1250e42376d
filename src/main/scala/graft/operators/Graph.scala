package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.IntegralDivide
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/** Iterative graph algorithms as plain DataFrame plans — the link-analysis
  * companion to the dedup family's connected components (Dedup.scala:342's
  * distributed min-label fixpoint). Web-crawl curation uses this for domain
  * authority: rank hosts by the link graph, weight quality gates by rank.
  *
  * PageRank here is EXACT integer fixed-point (ranks are BIGINTs scaled by
  * 10¹²; every step is integer add/multiply/DIV) — float PageRank
  * accumulates partial sums in partition order and is not reproducible
  * across engines or even runs; integer sums are order-free, so a
  * 1000-executor run, a local[32] run and the single-threaded DuckDB oracle
  * (the same recurrence unrolled as CTEs) agree bit-for-bit.
  *
  * Per-iteration plan: one shuffle join of edges against the rank table on
  * src (edges also carry out-degree, joined once up front), one hash agg on
  * dst, and a broadcast of the two scalar tables (vertex count, dangling
  * mass). The rank table is |V| rows — tiny next to |E| — and re-partitions
  * consistently on vertex, so AQE reuses the exchange layout. Shallow
  * fixed-depth runs are one fully lazy plan (repeated subtrees collapse to
  * ReusedExchange at runtime); deep runs iterate with per-step eager
  * localCheckpoints to truncate lineage, sharing the edge/vertex/degree
  * tables as checkpoint blocks (a production loop would reliable-checkpoint
  * every ~10 iters).
  */
object Graph {

  /** Rank scale: ranks sum to ~10¹² (floor losses excepted). */
  val Scale: Long = 1000000000000L

  private def intDiv(a: Column, b: Column): Column =
    ColumnBridge.column(new IntegralDivide(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** PageRank over a directed edge list `(src, dst)` with damping d = 85%.
    *
    * R₀(v) = Scale div N;
    * Rᵢ(v) = ((15·Scale) div 100) div N
    *         + (85·(Σ_{u→v} Rᵢ₋₁(u) div outdeg(u) + D div N)) div 100
    * where D = Σ Rᵢ₋₁ over dangling vertices (no out-edges) — their mass
    * redistributes uniformly, the standard correction.
    *
    * Duplicate edges are collapsed and edges with a NULL endpoint are
    * dropped (a null is not a vertex); callers wanting an undirected walk
    * pass the symmetric closure. Output: (vertex, rank_e12) — exact
    * BIGINTs.
    *
    * EXECUTION-SEMANTICS CAVEAT (same class as Dedup.incrementalBloom's):
    * this operator is EAGER — building the result runs the preparation
    * and per-iteration jobs at call time, not lazily at the caller's
    * first action. Plan auditors and callers that construct-but-discard
    * pay full execution.
    *
    * In this fixed-depth mode every step is an EAGER `localCheckpoint`: one
    * Spark job per step runs when the DataFrame is built (when
    * `SparkEntry.queries(...)` is invoked), so a harness that times only
    * the caller's action under-measures it. The step blocks are pinned
    * with truncated lineage: a lost executor block fails later actions on
    * the returned DataFrame instead of being recomputed.
    */
  def pageRank(edges: DataFrame, iters: Int = 3): DataFrame = {
    require(iters >= 1, "pageRank: iters must be >= 1")
    // All depths route through the checkpointed iterator (tol = -1 never
    // stops early AND skips the residual probe → exactly `iters` steps,
    // identical recurrence, identical bits — spec-pinned). Per-step
    // materialization is the scale-correct shape for iteration: a lazy
    // composition embeds each step subtree ~3× in the next (contribs /
    // dangling / merge reads), so the logical plan grows ~3^iters (the
    // driver dies assembling deep runs) and the un-shared post-exchange
    // tails recompute per copy — measured SLOWER than the iterator at
    // sf0.1 under the honest noop-write bench even at depth 3. The former
    // per-step persist() shape only ever LOOKED faster: its min-of-2
    // numbers were cache-flattered — pass 2 rode pass 1's leaked
    // CacheManager entry, the basket_rules leak class BENCH_TRIAGE_r14
    // measured — and nothing could ever unpersist the stages the lazily
    // returned plan consumed. The iterator's checkpoint blocks are
    // ContextCleaner-owned instead: freed when the result is dropped.
    val (ranks, _) = pageRankConverged(edges, tolE12 = -1L, maxIters = iters)
    ranks
  }

  /** PageRank to CONVERGENCE: iterate until the largest per-vertex change
    * drops to `tolE12` (in 10⁻¹² rank units) or `maxIters` is hit. The
    * residual check is one |V|-row join + max agg per iteration — a
    * driver-side loop over distributed steps, the canonical iterate-until-
    * fixpoint shape (same family as Dedup's min-label fixpoint). Integer
    * ranks make the convergence test exact: once the residual hits 0 the
    * iteration is a true fixpoint, not a float plateau.
    *
    * Returns (ranks, iterations actually run). A NEGATIVE `tolE12` runs
    * exactly `maxIters` steps with the residual probe skipped entirely
    * (fixed-depth mode — `pageRank`'s engine; one |V|-row join + collect
    * saved per iteration).
    */
  def pageRankConverged(
      edges: DataFrame,
      tolE12: Long = 1000L,
      maxIters: Int = 50): (DataFrame, Int) = {
    val g = Prepared(edges)
    // empty graph: no vertices, no ranks — return before the driver-side
    // Scale / n division (n = 0) can throw
    if (g.n == 0L)
      return (g.verts.select(col("vertex"), lit(0L).as("rank_e12")), 0)
    // EAGER localCheckpoint per iteration TRUNCATES lineage — each step
    // reads the previous ranks three times (contribs, dangling, residual),
    // so without truncation the logical plan grows ~3^iters and the driver
    // dies assembling it long before the executors do any work. The
    // iterator materializes per step regardless (the residual probe is an
    // action), and checkpoint blocks are ContextCleaner-owned: freed when
    // the superseded rank table drops out of scope. initialRanks is NOT
    // checkpointed: it is a constant projection over the verts blocks, so
    // step 1's two reads recompute only that projection.
    var ranks = g.initialRanks
    var done = 0
    var residual = Long.MaxValue
    while (done < maxIters && residual > tolE12) {
      // Step checkpoint eagerness follows the mode (r22, reconciling the
      // r21 driver-measured pagerank regression): in CONVERGING mode the
      // residual probe right below is the materializing action, so a
      // lazy checkpoint adds no job and each step's blocks land before
      // the next step reads them. In FIXED-DEPTH mode (tolE12 < 0) there
      // is NO per-step action — with lazy blocks the caller's single
      // final job hands each step's three consumers (contribs / dangling
      // / merge) an un-materialized LogicalRDD whose partitions they
      // race to compute before the first copy lands, re-running step
      // subtrees; the eager checkpoint (one small job per step, |V|-row
      // output) measured 4.4 s vs lazy's 5.7-5.8 s on graph_pagerank
      // (isolated min-of-2, idle box, both directions re-run).
      val next = g.step(ranks).localCheckpoint(tolE12 < 0L)
      if (tolE12 >= 0L)
        residual = next.join(ranks.withColumnRenamed("rank_e12", "__old"), "vertex")
          .agg(max(abs(col("rank_e12") - col("__old"))).as("r"))
          .collect()(0).getLong(0)
      ranks = next
      done += 1
    }
    (ranks, done)
  }

  /** Shared per-iteration machinery: eagerly-checkpointed base tables
    * (deduped edges, vertices, edges-with-degree) and the exact-integer
    * rank recurrence (one ranks⟕edges fanout + one dst agg per step; the
    * 1-row dangling mass broadcast).
    *
    * Construction runs ONE job (r21; was three eager-checkpoint jobs):
    * the base tables are LAZY localCheckpoints whose blocks materialize
    * together under the vertex count — computed once, shared by every
    * step's job via the blocks, which are ContextCleaner-owned (freed
    * when Prepared drops out of scope). NOT persist: the blocks'
    * lifetime would then need an unpersist the lazy-returning callers
    * can never issue (the basket_rules CacheManager-leak class,
    * BENCH_TRIAGE_r14). The vertex count `n` is
    * collected ONCE to a driver Long — it is loop-invariant, and folding it
    * into literals deletes a count agg + broadcast from every step (Java
    * Long division on the non-negative count matches IntegralDivide, so
    * the recurrence stays bit-identical to the column form the oracle SQL
    * replays).
    */
  private final case class Prepared(edges: DataFrame) {
    // degree pre-joined once — each step then joins ONE table against the
    // rank table instead of re-running edges⋈degree every iteration. The
    // deduped edge table is NOT separately checkpointed: edc's inner join
    // on src preserves every deduped edge row (every src has outdeg ≥ 1),
    // so edc IS the deduped edge set and the whole construction is ONE
    // job — the distinct's exchange is shared across the self-join's two
    // sides via ReusedExchange inside that job. (r16: folding the former
    // `ed` checkpoint away cuts a fixed job + a full edge materialization
    // from every pageRank call; row multiset unchanged, ranks bit-green.)
    //
    // NULL-endpoint edges are dropped up front: the fused step uses a null
    // dst as the dangling-mass sentinel, so a literal null-dst input edge
    // would route its source's FULL rank into dangling mass while still
    // counting toward out-degree — inflating total mass. A null endpoint
    // is not a vertex; it cannot receive or emit rank.
    val edc: DataFrame = {
      // repartition(src) BEFORE the distinct (r21): hashpartitioning(src)
      // satisfies the distinct's (src, dst) clustering, the degree agg's
      // (src) clustering AND both self-join sides' (src) requirement, so
      // the whole construction runs off ONE exchange (the two consumers'
      // below-exchange subtrees stay identical → ReusedExchange) — the
      // former distinct-first shape paid that exchange plus a src
      // re-exchange on each join input (3 total). Row multiset unchanged;
      // ranks stay bit-identical (integer recurrence).
      val ed = edges.select(col("src"), col("dst"))
        .filter(col("src").isNotNull && col("dst").isNotNull)
        .repartition(col("src"))
        .distinct()
      // LAZY checkpoint (r21): blocks materialize inside the verts count
      // below, fusing the former three eager jobs (edc, verts, count)
      // into ONE — the shortestHops probe-rides-the-checkpoint shape.
      // Lineage is truncated at construction either way (LogicalRDD).
      ed.join(ed.groupBy(col("src")).agg(count(lit(1)).as("outdeg")), "src")
        .localCheckpoint(false)
    }
    // vertices read edc's checkpoint blocks, not the raw edges
    val verts: DataFrame = edc.select(col("src").as("vertex"))
      .union(edc.select(col("dst").as("vertex"))).distinct().localCheckpoint(false)
    // ONE materializing action for both checkpoints + the loop-invariant n
    val n: Long = verts.count()

    def initialRanks: DataFrame =
      verts.select(col("vertex"), lit(Scale / n).as("rank_e12"))

    def step(ranks: DataFrame): DataFrame = {
      // ONE pass over the rank table: ranks ⟕ edges fans each ranked
      // vertex out to its out-edges (contribution rows), and vertices
      // with NO out-edges survive as a single null-dst row carrying their
      // full rank — so one shuffled aggregate produces BOTH the per-dst
      // contribution sums and (as the null-dst group) the dangling mass.
      // This replaces the former second consumer chain (ranks anti-join
      // degree → global agg), halving the stages per iteration.
      val sums = ranks
        .join(edc.withColumnRenamed("src", "vertex"), Seq("vertex"), "left")
        .select(col("dst"),
          when(col("dst").isNull, col("rank_e12"))
            .otherwise(intDiv(col("rank_e12"), col("outdeg"))).as("__c"))
        .groupBy(col("dst")).agg(sum(col("__c")).as("__s"))
      // 1-row aggregate over the (tiny, AQE-reused) sums stage — NOT a
      // filter().crossJoin(), which would produce an empty result when no
      // vertex is dangling
      val dangling = sums.agg(coalesce(
        sum(when(col("dst").isNull, col("__s"))), lit(0L)).as("__dmass"))
      verts.crossJoin(broadcast(dangling))
        .join(sums.filter(col("dst").isNotNull), col("vertex") === col("dst"), "left")
        .select(col("vertex"),
          (lit((15L * Scale / 100L) / n) +
            intDiv(lit(85L) * (coalesce(col("__s"), lit(0L)) +
              intDiv(col("__dmass"), lit(n))), lit(100L))).as("rank_e12"))
    }

  }

  /** Exact triangle count over an UNDIRECTED simple graph given as an edge
    * list (`src`, `dst`; duplicates and self-loops dropped, direction
    * ignored). Returns one row: (n_vertices, n_edges, n_triangles).
    *
    * Uses the degree-ordered orientation (Schank & Wagner 2005; the trick
    * every distributed triangle counter ships): orient each edge from its
    * LOWER-degree endpoint to the higher (ties: smaller vertex), then count
    * directed wedges a→b, a→c joined against oriented edge b→c. Each
    * triangle materializes exactly once, and the wedge fanout per vertex is
    * bounded by its OUT-degree ≤ O(√|E|) — without the orientation a hub
    * of degree d contributes d² wedges and the naive join melts on skew.
    * All joins hash-partition on vertex ids; the degree table is two hash
    * aggs over the edge list.
    */
  /** Multi-source BFS: exact hop distance from a seed set over a directed
    * edge list `(src, dst)`, capped at `maxHops`. Returns `(vertex, dist)`
    * for every vertex reachable within the cap (seeds at dist 0; min over
    * all paths — BFS order guarantees the first label IS the min).
    *
    * Frontier iteration, the Pregel shape: each round joins only the
    * CURRENT FRONTIER (vertices first reached last round) against the edge
    * table — never the full reached set — then anti-joins the reached set
    * to keep only newly discovered vertices. At 100 TB the edge table is
    * the big side and hash-partitions on `src` once (persisted); the
    * frontier is the small, shrinking probe. Distances are exact integers,
    * so the distributed run matches DuckDB's recursive-CTE unrolling of
    * the same search bit-for-bit. Per round ONE job: the frontier⋈edges
    * shuffle + distinct + anti-join plan is marked for a LAZY
    * `localCheckpoint` (truncating lineage — without it the plan doubles
    * per round) and the emptiness probe's `count()` is the action that
    * materializes those checkpoint blocks, so probing costs no second
    * pass. The running `dist` union is lazy-checkpointed the same way and
    * materializes inside the NEXT round's job (or the caller's action) —
    * the same iterate-until-fixpoint shape as [[pageRankConverged]] and
    * Dedup's min-label fixpoint. Checkpoint block cleanup is the
    * ContextCleaner's (`Dataset.unpersist` does not reach localCheckpoint
    * blocks — they are persisted on the internal RDD, not registered with
    * the CacheManager; dropped datasets are reclaimed when their RDDs are
    * GC'd, as in [[pageRankConverged]]).
    */
  def shortestHops(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0, "shortestHops: maxHops must be >= 0")
    // repartition BEFORE the distinct (r21): hash(src) satisfies the
    // (src, dst) clustering, so one exchange establishes both the dedup
    // and the per-round probe layout — the former distinct-then-
    // repartition shape shuffled the edge table twice
    val ed = edges.select(col("src"), col("dst"))
      .repartition(col("src")).distinct().persist()
    // seeds may list non-vertices or duplicates; dist 0 rows are the set
    var dist = seeds.select(col("vertex")).distinct()
      .select(col("vertex"), lit(0L).as("dist")).localCheckpoint(false)
    var frontier = dist
    var hop = 0L
    var exhausted = false
    while (hop < maxHops && !exhausted) {
      hop += 1
      val next = frontier.join(ed, col("vertex") === col("src"))
        .select(col("dst").as("vertex")).distinct()
        .join(dist, Seq("vertex"), "left_anti")
        .select(col("vertex"), lit(hop).as("dist"))
        .localCheckpoint(eager = false)
      // count() is a FULL action (unlike isEmpty's take-1, which would
      // checkpoint only the partitions it touched): one job materializes
      // the frontier's checkpoint blocks AND answers the fixpoint probe
      if (next.count() == 0) exhausted = true
      else {
        dist = dist.union(next).localCheckpoint(eager = false)
        frontier = next
      }
    }
    ed.unpersist()
    dist
  }

  def triangleCount(edges: DataFrame): DataFrame = {
    // canonical undirected simple edges: (lo, hi), lo < hi, distinct
    val und = edges.select(
        least(col("src"), col("dst")).as("lo"),
        greatest(col("src"), col("dst")).as("hi"))
      .filter(col("lo") =!= col("hi"))
      .distinct()
      // lazy localCheckpoint, NOT persist: the returned 1-row plan reads
      // this table from three consumers (degrees, orientation, edge
      // count) but is consumed lazily, so no unpersist could ever be
      // issued — persist left the table pinned in the CacheManager for
      // the session (the basket_rules leak class, BENCH_TRIAGE_r14).
      // Checkpoint blocks are ContextCleaner-owned: freed when the plan
      // is GC'd. Trade (here and at every lazy-checkpoint site in this
      // sweep): checkpointing truncates lineage, so an executor lost
      // AFTER block materialization fails the job where persist would
      // recompute — acceptable for a 1-row result that is simply rerun.
      .localCheckpoint(false)
    val deg = und.select(col("lo").as("v"))
      .union(und.select(col("hi").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    // orientation: from the (degree, id)-smaller endpoint to the larger
    val withDeg = und
      .join(deg.select(col("v").as("lo"), col("d").as("dlo")), "lo")
      .join(deg.select(col("v").as("hi"), col("d").as("dhi")), "hi")
    val loFirst = struct(col("dlo"), col("lo")) < struct(col("dhi"), col("hi"))
    // oriented is read three times (both wedge sides + the closing probe):
    // checkpoint it, not the raw edges — lazy localCheckpoint for the same
    // reason as `und` above (no unpersist point exists; CacheManager pins
    // for the session, checkpoint blocks are ContextCleaner-owned)
    val oriented = withDeg.select(
      when(loFirst, col("lo")).otherwise(col("hi")).as("a"),
      when(loFirst, col("hi")).otherwise(col("lo")).as("b"),
      when(loFirst, struct(col("dhi").as("d"), col("hi").as("v")))
        .otherwise(struct(col("dlo").as("d"), col("lo").as("v"))).as("bkey"))
      .localCheckpoint(false)
    // wedges a→b, a→c with b before c in (deg, id) order — each triangle
    // has exactly one apex (the orientation is acyclic), and the closing
    // edge b→c is oriented exactly that way, so every triangle
    // materializes once
    val w = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.a") === col("e2.a") && col("e1.bkey") < col("e2.bkey"))
      .select(col("e1.b").as("x"), col("e2.b").as("y"))
    val tri = w.join(oriented.as("e3"),
        col("x") === col("e3.a") && col("y") === col("e3.b"))
      .agg(count(lit(1)).as("n_triangles"))
    val nv = deg.agg(count(lit(1)).as("n_vertices"))
    val ne = und.agg(count(lit(1)).as("n_edges"))
    nv.crossJoin(ne).crossJoin(tri)
      .select(col("n_vertices"), col("n_edges"), col("n_triangles"))
  }

  /** Connected components over an undirected edge list `(src, dst)` —
    * component id = the minimum vertex id in the component (deterministic
    * winner). One row per vertex that appears in any edge:
    * (vertex, component).
    *
    * Graph-API surface over [[Dedup.dupClusters]]' engine (one fixpoint,
    * two callers): iterative min-label propagation — two hash-partitioned
    * joins per round, lineage checkpoint-truncated, convergence detected
    * by the monotone label sum — with the size-gated driver union-find
    * fast path for bounded edge lists (identical labels by construction,
    * spec-asserted there). Converges in O(component diameter) rounds;
    * `maxIter` fails loudly rather than returning a half-merged labeling.
    */
  def connectedComponents(
      edges: DataFrame,
      maxIter: Int = 25,
      localEdgeThreshold: Long = 500000L): DataFrame =
    Dedup.dupClusters(edges, "src", "dst", maxIter, localEdgeThreshold)
      .select(col("doc_id").as("vertex"), col("cluster_id").as("component"))

  /** Bounded-hop single-source (multi-seed) shortest paths over a WEIGHTED
    * directed edge list `(src, dst, w)` — the cheapest-route cost within
    * `maxHops` edges, the weighted twin of [[shortestHops]] (which answers
    * "how many hops"; this answers "at what cost"). Non-negative integer
    * weights; parallel edges collapse to their min. Bellman-Ford with the
    * frontier restriction: round r relaxes only vertices whose distance
    * IMPROVED in round r−1 (a vertex whose label didn't change cannot
    * produce a new relaxation), so late rounds touch a shrinking probe
    * side while the edge table stays hash-partitioned on `src` once.
    * After `maxHops` rounds the labels are exactly min-cost-over-≤maxHops
    * -edge-paths — a well-defined result whether or not the graph has
    * converged, which is what makes the unrolled-CTE oracle total. All
    * arithmetic is integer, so distributed ≡ single-threaded bit-for-bit.
    *
    * Per round: frontier⋈edges shuffle + per-dst min agg + full-outer
    * merge with the label table; both outputs lazy-localCheckpoint
    * (lineage truncation, as [[shortestHops]]) with the improvement
    * probe's `count()` as the materializing action. Returns
    * (vertex, dist) for every vertex reachable within the cap.
    */
  def ssspBounded(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0, "ssspBounded: maxHops must be >= 0")
    // repartition BEFORE the min-agg (r21): hash(src) satisfies the
    // (src, dst) grouping, so one exchange establishes both the parallel-
    // edge collapse and the per-round probe layout (was: agg exchange +
    // full re-shuffle). Trade: the exchange carries raw edge rows instead
    // of map-side-combined ones — right for the near-duplicate-free edge
    // lists this serves; flip the order back if parallel edges dominate.
    val ed = edges.repartition(col("src"))
      .groupBy(col("src"), col("dst")).agg(min(col("w")).as("w")).persist()
    var dist = seeds.select(col("vertex")).distinct()
      .select(col("vertex"), lit(0L).as("dist")).localCheckpoint(false)
    var frontier = dist
    var hop = 0
    var done = false
    while (hop < maxHops && !done) {
      hop += 1
      val cand = frontier.join(ed, col("vertex") === col("src"))
        .select(col("dst").as("vertex"), (col("dist") + col("w")).as("dist"))
        .groupBy(col("vertex")).agg(min(col("dist")).as("cand"))
      val merged = dist.withColumnRenamed("dist", "old")
        .join(cand, Seq("vertex"), "full_outer")
        .select(col("vertex"), col("old"), col("cand"),
          least(col("old"), col("cand")).as("dist"))
        .localCheckpoint(eager = false)
      val improved = merged
        .filter(col("cand").isNotNull && (col("old").isNull || col("cand") < col("old")))
        .select(col("vertex"), col("dist"))
        .localCheckpoint(eager = false)
      // one job: materializes merged+improved checkpoint blocks AND probes
      if (improved.count() == 0) done = true
      else {
        dist = merged.select(col("vertex"), col("dist"))
        frontier = improved
      }
    }
    ed.unpersist()
    dist
  }

  /** k-core of an UNDIRECTED simple graph (duplicates/self-loops dropped,
    * direction ignored): the maximal subgraph where every vertex keeps
    * degree ≥ k — the standard "dense cohesive cluster" extractor (a
    * vertex's shell survives gossip about peripheral hangers-on that raw
    * degree can't distinguish). Iterative peeling: drop all vertices of
    * degree < k, recompute degrees in what remains, repeat; the fixpoint
    * is order-independent (the k-core is unique), so the distributed peel
    * and a single-threaded one agree exactly. `maxRounds` bounds the loop
    * AND defines the contract — the result is "the graph after maxRounds
    * peels", identical to the oracle's unrolled rounds whether or not the
    * fixpoint arrived (it converges much earlier on real graphs; the spec
    * pins convergence on handmade ones).
    *
    * Per round: two hash aggs (degree), one broadcast-able bad-vertex
    * table, two anti-joins on the edge list; edge survivors
    * lazy-localCheckpoint with the peel probe's count() as the action.
    * Returns (vertex, degree) of the k-core subgraph.
    */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 12): DataFrame = {
    require(k >= 1 && maxRounds >= 1, "kCore: k >= 1, maxRounds >= 1")
    // LAZY checkpoint (r21): the first peel round's bad.count() is the
    // materializing action — one job where the eager form paid its own
    var und = edges.select(
        least(col("src"), col("dst")).as("lo"),
        greatest(col("src"), col("dst")).as("hi"))
      .filter(col("lo") =!= col("hi"))
      .distinct()
      .localCheckpoint(false)
    def degrees(e: DataFrame): DataFrame =
      e.select(col("lo").as("v")).union(e.select(col("hi").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("d"))
    var round = 0
    var done = false
    while (round < maxRounds && !done) {
      round += 1
      val bad = degrees(und).filter(col("d") < k).select(col("v"))
        .localCheckpoint(eager = false)
      if (bad.count() == 0) done = true
      else {
        und = und
          .join(bad.select(col("v").as("lo")), Seq("lo"), "left_anti")
          .join(bad.select(col("v").as("hi")), Seq("hi"), "left_anti")
          .select(col("lo"), col("hi"))
          .localCheckpoint(eager = false)
      }
    }
    degrees(und).filter(col("d") >= k)
      .select(col("v").as("vertex"), col("d").as("degree"))
  }
}
