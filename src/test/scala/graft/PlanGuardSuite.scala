package graft

import org.scalatest.funsuite.AnyFunSuite

/** Full-suite physical-plan guard.
  *
  * Sweeps EVERY `SparkEntry.queries` entry and asserts that no plan
  * contains an unbounded all-pairs join. At 100 TB an accidental
  * `CartesianProduct` (or a `BroadcastNestedLoopJoin` whose broadcast side
  * is a full table) is the difference between a linear pass and a job that
  * never finishes — and it is exactly the failure mode that creeps in
  * silently when a join condition stops being an equi-join (a typo'd
  * column, a cast that defeats the equality match, a lost broadcast hint).
  *
  * A nested-loop join is ACCEPTABLE when its broadcast side is a SUMMARY in
  * the plan itself:
  *   - an aggregate (global 1-row stats, per-group totals/marginals/
  *     threshold tables — a deliberate summary broadcast, bounded by the
  *     group-key domain, never the raw corpus);
  *   - a driver-built local relation (codebooks, rate tables — bounded
  *     artifacts by construction);
  *   - an explicit limit / top-k.
  * A broadcast side that is a RAW RELATION (scan with no agg between it and
  * the exchange) is the dangerous shape — it must be on the documented
  * allowlist below (each query spec's `allPairsReason`), which names the
  * oracle-anchor / bounded-by-contract exceptions one by one. The test fails both ways: an un-allowlisted
  * offender fails, and a stale allowlist entry (query no longer has the
  * node) fails — the list cannot rot.
  */
class PlanGuardSuite extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf0001

  import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan}
  import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
  import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
  import org.apache.spark.sql.catalyst.optimizer.BuildLeft

  /** Queries whose plan legitimately carries an all-pairs node, from each
    * spec's `allPairsReason`: why it is safe (oracle anchor with a scale
    * companion, or a broadcast side bounded by a contract the plan cannot
    * express).
    */
  private val allowlist: Map[String, String] = graft.queries.Registry.all.allPairsReasons
  // (select_cluster_balanced briefly needed an entry for the distributed-
  // Lloyd centroid NLJ; its shipped query now uses the sampled-fit path —
  // single codegen'd broadcast-codebook assignment, no NLJ in the plan)

  private def boundedSide(p: SparkPlan): Boolean = {
    p.exists {
      // any aggregate = a summary table (global stats, per-group totals /
      // marginals / quantile thresholds) — a deliberate bounded broadcast
      case _: BaseAggregateExec => true
      case _: LocalTableScanExec => true
      case _: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => true
      case _: org.apache.spark.sql.execution.GlobalLimitExec => true
      // a reused broadcast is a LeafExecNode — its referenced exchange is a
      // constructor arg, not a tree child, so recurse into it explicitly
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        boundedSide(r.child)
      case _ => false
    }
  }

  test("no query plan contains an unbounded all-pairs join (cartesian / full-table NLJ)") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val offenders = scala.collection.mutable.LinkedHashMap[String, String]()
    val exercised = scala.collection.mutable.Set[String]()
    try {
      // static plans: AQE off so BroadcastExchange/joins appear un-wrapped
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
        val plan = SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan
        val cartesians = plan.collect { case c: CartesianProductExec => c }
        val badNlj = plan.collect {
          case j: BroadcastNestedLoopJoinExec =>
            val build = if (j.buildSide == BuildLeft) j.left else j.right
            (build, boundedSide(build))
        }.collect { case (b, false) => b }
        if (cartesians.nonEmpty || badNlj.nonEmpty) {
          exercised += name
          if (!allowlist.contains(name)) {
            val what =
              (if (cartesians.nonEmpty) s"${cartesians.size} CartesianProduct" else "") +
                (if (badNlj.nonEmpty)
                  s" ${badNlj.size} unbounded-build NLJ; first build side:\n" +
                    badNlj.head.treeString.linesIterator.take(12).mkString("\n")
                else "")
            offenders(name) = what.trim
          }
        }
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    assert(offenders.isEmpty,
      s"un-allowlisted all-pairs joins:\n" +
        offenders.map { case (n, w) => s"  $n: $w" }.mkString("\n"))
    val stale = allowlist.keySet -- exercised
    assert(stale.isEmpty,
      s"stale allowlist entries (plan no longer has the node — remove them): $stale")
  }

  test("text_trigram_ppl_kn: the Kneser-Ney gram subtree collapses to 2 documents scans and 7 reused exchanges") {
    // Pins knParts' no-op filters on the trigram counts (the isNotNull keys
    // and the `__c3 >= 1` tautology): without them each consumer pushes its
    // own filter or projection below the gram exchange, and the subtree is
    // scanned once per consumer instead of being reused. Counted on the
    // executed adaptive plan, not diffed as text: plan text order is not
    // stable within a JVM. The documents are read through a private path:
    // OperatorsSuite caches the canonical relation on this shared session,
    // and the CacheManager would substitute that cache into this plan.
    val dir = java.nio.file.Files.createTempDirectory("graft-kn-plan")
    java.nio.file.Files.createSymbolicLink(dir.resolve("documents.parquet"),
      java.nio.file.Paths.get(sf, "documents.parquet"))
    val df = SparkEntry.queries("text_trigram_ppl_kn")(spark, dir.toString)
    df.collect()
    val nodes = BenchLayers.nodes(df.queryExecution.executedPlan)
    val documentScans = nodes.count {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.rootPaths.exists(_.getName == "documents.parquet")
      case _ => false
    }
    val reused = nodes.count(_.isInstanceOf[org.apache.spark.sql.execution.exchange.ReusedExchangeExec])
    assert((documentScans, reused) === (2, 7), "(documents scans, ReusedExchange nodes)")
  }
}
