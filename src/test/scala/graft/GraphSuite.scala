package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Graph

/** Invariant specs for the integer fixed-point PageRank (operators/Graph
  * .scala). The graph_pagerank oracle checks cross-engine exactness on the
  * trade graph; these check the algorithm itself on handcrafted graphs.
  */
class GraphSuite extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ranksOf(edges: Seq[(String, String)], iters: Int = 3): Map[String, Long] =
    Graph.pageRank(edges.toDF("src", "dst"), iters)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("trade-graph vertex coding: keys in 0 <= k < 2^62 code to 2k / 2k+1; a key outside raises") {
    import graft.queries.GraphQueries.{customerVertex, supplierVertex}
    val top = (1L << 62) - 1
    val coded = Seq(0L, 7L, top).toDF("k")
      .select(supplierVertex(col("k")), customerVertex(col("k"))).as[(Long, Long)].collect().toSeq
    assert(coded === Seq((0L, 1L), (14L, 15L), (2 * top, 2 * top + 1)))
    for (k <- Seq(-1L, 1L << 62, Long.MaxValue); (side, code) <- Seq(
        ("supplier", supplierVertex _), ("customer", customerVertex _))) {
      val ex = intercept[Exception](Seq(1L, k).toDF("k").select(code(col("k"))).collect())
      assert(ex.getMessage.contains(s"a $side key is outside 0 <= k < 2^62"), s"k=$k: ${ex.getMessage}")
    }
  }

  test("mass conservation: ranks sum to Scale up to integer-floor loss") {
    val edges = Seq("a" -> "b", "b" -> "c", "c" -> "a", "a" -> "c")
    val m = ranksOf(edges)
    val total = m.values.sum
    // each of the |V| per-vertex expressions floors at most 3 times per
    // iteration; loss is bounded far under 1e-6 of the mass
    assert(total <= Graph.Scale && total > Graph.Scale - 1000L,
      s"mass must be conserved up to floor loss: $total")
  }

  test("star graph: the hub out-ranks every leaf; leaves tie exactly") {
    val leaves = (1 to 8).map(i => s"l$i")
    val edges = leaves.flatMap(l => Seq(l -> "hub", "hub" -> l))
    val m = ranksOf(edges)
    val leafRanks = leaves.map(m)
    assert(leafRanks.distinct.size === 1, s"symmetric leaves must tie exactly: $m")
    assert(m("hub") > leafRanks.head * 4, s"hub must dominate: $m")
  }

  test("dangling mass redistributes: sink chain conserves total rank") {
    // b has no out-edges — without the dangling correction its mass would
    // leak every iteration
    val m = ranksOf(Seq("a" -> "b"), iters = 5)
    val total = m.values.sum
    assert(total > Graph.Scale - 1000L, s"dangling mass must not leak: $m")
    assert(m("b") > m("a"), s"the sink receives a's mass plus its share: $m")
  }

  test("disconnected equal components rank identically; duplicate edges collapse") {
    val comp1 = Seq("a" -> "b", "b" -> "a")
    val comp2 = Seq("x" -> "y", "y" -> "x")
    val dups = Seq("a" -> "b", "a" -> "b") // duplicate must not double-weight
    val m = ranksOf(comp1 ++ comp2 ++ dups)
    assert(m("a") === m("x") && m("b") === m("y"),
      s"isomorphic components must rank identically: $m")
  }

  test("triangleCount: known graphs — K4, C5, pendant triangle; duplicates/direction ignored") {
    def count(edges: Seq[(Long, Long)]): (Long, Long, Long) = {
      val r = Graph.triangleCount(edges.toDF("src", "dst")).collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    // K4: C(4,3) = 4 triangles
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    assert(count(k4) === ((4L, 6L, 4L)))
    // 5-cycle: no triangles
    val c5 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 1L))
    assert(count(c5) === ((5L, 5L, 0L)))
    // triangle with a pendant vertex
    val pend = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L))
    assert(count(pend) === ((4L, 4L, 1L)))
    // reversed + duplicate edges collapse to the same simple graph
    val noisy = pend ++ pend.map(_.swap) ++ pend
    assert(count(noisy) === ((4L, 4L, 1L)))
    // self-loops are dropped
    assert(count(pend :+ ((2L, 2L))) === ((4L, 4L, 1L)))
  }

  test("triangleCount: hub star graph stays linear (degree orientation bounds wedges)") {
    // star K1,n has no triangles; the naive wedge join would build n² pairs
    // at the hub — orientation points every edge INTO the hub, so wedge
    // count is 0
    val star = (1L to 200L).map(i => (0L, i))
    val r = Graph.triangleCount(star.toDF("src", "dst")).collect()(0)
    assert(r.getLong(2) === 0L)
    // adding one rim edge makes exactly one triangle
    val r2 = Graph.triangleCount((star :+ ((1L, 2L))).toDF("src", "dst")).collect()(0)
    assert(r2.getLong(2) === 1L)
  }

  test("pageRankConverged: stops at the residual bound; ranks equal the same-depth fixed run") {
    val edges = Seq("a" -> "b", "b" -> "c", "c" -> "a", "a" -> "c", "c" -> "b")
      .toDF("src", "dst")
    val (ranks, iters) = Graph.pageRankConverged(edges, tolE12 = 5L, maxIters = 60)
    assert(iters > 1 && iters < 60,
      s"small graph must meet the 5e-12 residual before the cap: $iters")
    val m = ranks.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // the recurrence is deterministic, so converged ranks ARE the fixed run
    // of the same depth, bit-for-bit
    val fixed = Graph.pageRank(edges, iters = iters)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m === fixed, s"converged ranks must equal the same-depth fixed run: $m vs $fixed")
    // and the residual contract holds: one MORE step moves no vertex by > 5
    val next = Graph.pageRank(edges, iters = iters + 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((v, r) <- m) assert(math.abs(next(v) - r) <= 5L,
      s"residual bound violated at $v: $r -> ${next(v)}")
    // a looser tolerance never iterates more
    val (_, itersLoose) = Graph.pageRankConverged(edges, tolE12 = 100000000L, maxIters = 60)
    assert(itersLoose <= iters)
  }

  test("pageRank: empty edge table returns empty ranks, no divide-by-zero") {
    val empty = Seq.empty[(String, String)].toDF("src", "dst")
    assert(Graph.pageRank(empty, iters = 3).count() === 0L)
    val (r, done) = Graph.pageRankConverged(empty, tolE12 = 5L, maxIters = 10)
    assert(r.count() === 0L && done === 0)
  }

  test("pageRank: NULL-endpoint edges are dropped, never counted as dangling mass or degree") {
    // (a, null) must not route a's full rank into dangling mass (the fused
    // step's null-dst sentinel) nor count toward a's out-degree
    val withNull = Seq(("a", "b"), ("b", "a"), ("a", null), (null, "b"))
      .toDF("src", "dst")
    val clean = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    val got = Graph.pageRank(withNull, iters = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = Graph.pageRank(clean, iters = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === want, s"null-endpoint edges must be invisible: $got vs $want")
  }

  test("deterministic across repartitioning (integer sums are order-free)") {
    val edges = (1 to 40).map(i => (s"v${i % 7}", s"v${(i * 3) % 11}"))
      .filter { case (a, b) => a != b }
    val df1 = edges.toDF("src", "dst").repartition(1)
    val df13 = edges.toDF("src", "dst").repartition(13)
    val r1 = Graph.pageRank(df1).collect().map(r => (r.getString(0), r.getLong(1))).sorted
    val r13 = Graph.pageRank(df13).collect().map(r => (r.getString(0), r.getLong(1))).sorted
    assert(r1.sameElements(r13), "partitioning must not change a single rank bit")
  }

  private def hops(edges: Seq[(String, String)], seeds: Seq[String],
      maxHops: Int): Map[String, Long] =
    Graph.shortestHops(edges.toDF("src", "dst"),
        seeds.toDF("vertex"), maxHops)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("shortestHops: BFS distances on a known graph; direction respected") {
    // a→b→c→d plus shortcut a→c; e isolated from a's component
    val edges = Seq("a" -> "b", "b" -> "c", "c" -> "d", "a" -> "c", "e" -> "a")
    val m = hops(edges, Seq("a"), maxHops = 5)
    assert(m === Map("a" -> 0L, "b" -> 1L, "c" -> 1L, "d" -> 2L),
      s"shortcut must win and e (only reaches a, not reachable FROM a) excluded: $m")
  }

  test("shortestHops: multi-source takes the min over seeds; duplicate seeds collapse") {
    val edges = Seq("a" -> "b", "b" -> "c", "c" -> "d", "z" -> "c")
    val m = hops(edges, Seq("a", "z", "z"), maxHops = 5)
    assert(m("c") === 1L, s"z reaches c in 1 < a's 2: $m")
    assert(m("d") === 2L && m("a") === 0L && m("z") === 0L, s"$m")
  }

  test("shortestHops: maxHops caps the search; 0 returns only the seed set") {
    val chain = Seq("a" -> "b", "b" -> "c", "c" -> "d")
    assert(hops(chain, Seq("a"), maxHops = 2) ===
      Map("a" -> 0L, "b" -> 1L, "c" -> 2L), "d is 3 hops out, capped away")
    assert(hops(chain, Seq("a"), maxHops = 0) === Map("a" -> 0L))
  }

  test("shortestHops: cycles terminate via the early frontier-empty exit") {
    val cycle = Seq("a" -> "b", "b" -> "c", "c" -> "a")
    // cap far above the diameter: the frontier empties after 2 hops and
    // the loop must stop on its own, not run 50 joins
    val m = hops(cycle, Seq("a"), maxHops = 50)
    assert(m === Map("a" -> 0L, "b" -> 1L, "c" -> 2L),
      s"a already reached at dist 0 must not be relabeled by the cycle: $m")
  }

  test("shortestHops: deterministic across repartitioning") {
    val edges = (1 to 60).map(i => (s"v${i % 9}", s"v${(i * 5) % 13}"))
      .filter { case (a, b) => a != b }
    val r1 = Graph.shortestHops(edges.toDF("src", "dst").repartition(1),
      Seq("v1").toDF("vertex"), 4).collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted
    val r13 = Graph.shortestHops(edges.toDF("src", "dst").repartition(13),
      Seq("v1").toDF("vertex"), 4).collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted
    assert(r1.sameElements(r13), "partitioning must not change a distance")
  }

  test("connectedComponents: known components; distributed and local paths agree") {
    // two chains, a triangle, an isolated pair: components min-labeled
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),        // chain 1-4 → component 1
      (10L, 11L), (11L, 12L),              // chain 10-12 → component 10
      (20L, 21L), (21L, 22L), (22L, 20L),  // triangle → component 20
      (30L, 31L))                          // pair → component 30
      .toDF("src", "dst")
    val expected = Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 30L -> 30L, 31L -> 30L)
    def run(threshold: Long) =
      Graph.connectedComponents(edges, localEdgeThreshold = threshold)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq.sorted
    assert(run(500000L) === expected, "local union-find path")
    assert(run(0L) === expected, "distributed min-label fixpoint path")
  }

  test("ssspBounded: weighted min-cost within hop cap; cheaper long route beats expensive short one") {
    // a→b direct costs 10; a→x→b costs 2+3=5 (2 hops); a→p→q→b costs 1+1+1=3 (3 hops)
    val edges = Seq(
      ("a", "b", 10L), ("a", "x", 2L), ("x", "b", 3L),
      ("a", "p", 1L), ("p", "q", 1L), ("q", "b", 1L))
      .toDF("src", "dst", "w")
    val seeds = Seq("a").toDF("vertex")
    def dists(h: Int) = Graph.ssspBounded(edges, seeds, h)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dists(1)("b") === 10L, "1 hop: only the direct edge")
    assert(dists(2)("b") === 5L, "2 hops: the via-x route wins")
    assert(dists(3)("b") === 3L, "3 hops: the 3-edge unit route wins")
    assert(dists(3)("a") === 0L && dists(3)("q") === 2L)

    // parallel edges collapse to min; multi-seed takes the min over seeds
    val par = Seq(("a", "b", 7L), ("a", "b", 4L), ("s2", "b", 9L)).toDF("src", "dst", "w")
    val m = Graph.ssspBounded(par, Seq("a", "s2", "a").toDF("vertex"), 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m("b") === 4L, "min over parallel edges and seeds")
  }

  test("ssspBounded: deterministic across repartitioning") {
    val edges = (1 to 60).map(i => (s"v${i % 12}", s"v${(i * 7) % 12}", (i % 5 + 1).toLong))
      .toDF("src", "dst", "w")
    val a = Graph.ssspBounded(edges, Seq("v0").toDF("vertex"), 4)
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted
    val b = Graph.ssspBounded(edges.repartition(13), Seq("v0").toDF("vertex"), 4)
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted
    assert(a.sameElements(b), "partitioning must not change a cost")
  }

  test("kCore: multi-round peel — a tail unravels one vertex per round, the clique survives") {
    // K4 clique {a,b,c,d} + tail d—t1—t2—t3; k=2: tail peels from the
    // free end inward, one vertex per round (t3, then t2, then t1)
    val k4 = Seq(("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d"))
    val tail = Seq(("d", "t1"), ("t1", "t2"), ("t2", "t3"))
    val edges = (k4 ++ tail).toDF("src", "dst")
    val core = Graph.kCore(edges, k = 2).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(core.keySet === Set("a", "b", "c", "d"), "only the clique is in the 2-core")
    assert(core.values.forall(_ === 3L), "each K4 vertex keeps degree 3")

    // the round cap is a CONTRACT: after 1 round only t3 is peeled; t1
    // still reports (its degree-2 count includes the not-yet-peeled t2,
    // which itself fails the final degree >= k filter)
    val one = Graph.kCore(edges, k = 2, maxRounds = 1).collect()
      .map(_.getString(0)).toSet
    assert(one === Set("a", "b", "c", "d", "t1"),
      s"1-round peel must stop mid-unravel: $one")

    // 3-core of K4+tail is K4; 4-core is empty
    assert(Graph.kCore(edges, k = 3).collect().map(_.getString(0)).toSet
      === Set("a", "b", "c", "d"))
    assert(Graph.kCore(edges, k = 4).count() === 0L)
  }

  test("kCore: duplicates/direction/self-loops collapse; deterministic across repartitioning") {
    val messy = Seq(("b", "a"), ("a", "b"), ("a", "a"), ("b", "c"), ("c", "a"))
      .toDF("src", "dst")
    val core = Graph.kCore(messy, k = 2).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(core === Map("a" -> 2L, "b" -> 2L, "c" -> 2L),
      s"triangle 2-core after canonicalization: $core")
    val edges = (1 to 80).map(i => (s"v${i % 16}", s"v${(i * 5) % 16}")).toDF("src", "dst")
    val a = Graph.kCore(edges, 3).collect().map(r => (r.getString(0), r.getLong(1))).sorted
    val b = Graph.kCore(edges.repartition(11), 3).collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted
    assert(a.sameElements(b))
  }
}
