package graft

import org.apache.spark.sql.SparkSession

/** Plan-audit main: print the formatted physical plan of one or more
  * SparkEntry queries (default: a representative set). Used to verify scan
  * pushdown (`PushedFilters`/`ReadSchema`), broadcast choices, partial
  * aggregation, and whole-stage-codegen spans.
  *
  * Usage: runMain graft.Explain [-exec] [queryName ...]
  *
  * `-exec` EXECUTES each query first and prints the final adaptive plan
  * instead of the pre-execution one: AQE decisions (broadcast downgrades,
  * coalesced partitions) and ReusedExchange nodes (self-join subtree
  * dedup) only exist in the executed plan — the static `explain` shows
  * `isFinalPlan=false` and double-counts shared subtrees.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val exec = args.contains("-exec")
    val rest = args.filterNot(_ == "-exec").toSeq
    val names = if (rest.nonEmpty) rest else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      println(s"\n========== $name ==========")
      scaleNotes.get(name).foreach(n => println(s"[scale] $n"))
      val df = SparkEntry.queries(name)(spark, sfDir)
      if (exec) {
        // drive df's OWN QueryExecution (a write/count would execute a
        // different plan instance and leave this one un-finalized) — audit
        // scale is sf0.001, so the collect is a few thousand rows
        df.collect()
        println(df.queryExecution.executedPlan.toString)
      } else df.explain("formatted")
    }
    spark.stop()
  }

  /** Queries kept deliberately in a small-data "oracle shape" — printed so a
    * plan audit never mistakes them for the recommended scale path.
    */
  val scaleNotes: Map[String, String] = Map(
    "count_window_agg" ->
      ("ORACLE SHAPE: total arrival order = single-partition global sort. " +
        "Scale paths: count_window_per_key (WindowAssign.countWindowPerKey, sort shards by key) " +
        "or the streaming CountWindow (EmitterBuilder.size — per-stream carry, no global sort)."),
    "sorted_window" ->
      ("ORACLE SHAPE: the README example's total sort order = single-partition global sort. " +
        "Scale deployments key the sort (Window.partitionBy)."),
    "embedding_neardup" ->
      ("ORACLE SHAPE: deliberate O(n^2) cross join, kept as the correctness reference. " +
        "Scale path: embedding_neardup_lsh (hyperplane bucket join)."),
    "dedup_semantic_exact" ->
      ("ORACLE SHAPE: nlist=1 puts the whole corpus in one k-means cell, so the in-cell " +
        "pair stage is deliberate global all-pairs cosine (86 s at x10, SCALE.md) — kept " +
        "because it makes the full SemDeDup pipeline DuckDB-checkable. " +
        "Scale path: dedup_semantic (auto-sized cells, occupancy-pinned, 2.3x at x10)."),
    "dedup_tfidf_cosine_prefix" ->
      ("l2-prefix (L2AP) index pruning: right plan for NATURAL-ZIPF vocabularies " +
        "(sub-linear on the ZipfData fixture where the plain index OOMs at x10). On THIS " +
        "dense synthetic corpus every pair shares indexed terms, so the prune pays window+" +
        "verify overhead for nothing (5.0x at x10 vs blocked plain's 2.3x) — corpus shape " +
        "picks the operator; dedup_tfidf_cosine (blocked) is the dense-corpus form."),
    "q_profile" ->
      ("ORACLE SHAPE: exact multi-countDistinct plans via Expand (scan rows replicated " +
        "once per profiled column before the partial agg). " +
        "Scale path: q_profile_scale (per-column HLL sketches, one pass, no Expand)."),
    "q_percentiles" ->
      ("exact percentile = per-group sort agg. " +
        "Scale path: q_approx_percentiles (percentile_approx t-digest, partial+final hash agg)."),
    "q_histogram_equidepth" ->
      ("ORACLE SHAPE: exact ntile = one global single-partition sort. " +
        "Scale path: q_histogram_equidepth_scale (approx_percentile boundaries broadcast, " +
        "rows range-bucketed map-side, no global sort)."),
    "q_outliers_mad" ->
      ("exact global median/MAD = full-column percentile sort aggs. " +
        "Scale path: q_outliers_mad_scale (percentile_approx med/MAD, partial+final hash agg)."),
    "q_topk_per_group" ->
      ("ranking window = exchange + sort of every row before the rank filter. " +
        "Scale path: q_topk_per_group_agg (TopKPairs bounded-heap agg, map-side combine, " +
        "<= k rows per (group, partition) through the exchange)."),
    "similarity_knn_join" ->
      ("ORACLE SHAPE: exact corpus-as-queries broadcast join, kept as the correctness " +
        "reference while the id+vec table fits an executor. Scale paths: " +
        "similarity_knn_join_lsh ((table, bucket) shuffle join, nothing broadcast) or " +
        "IndexStore.searchIvfPq over persisted artifacts (cell-pruned ADC scan)."),
    "text_ccnet_buckets" ->
      ("exact ntile = per-lang window sort (one language can dominate a web corpus). " +
        "Scale path: text_ccnet_buckets_scale (perplexityBucketsApprox — per-lang t-digest " +
        "boundaries broadcast, per-row assignment, no sort)."),
    "sample_shuffle" ->
      ("ORACLE SHAPE: materialized global rank = single-partition sort. " +
        "At scale the md5 key IS the order (range-partitioned sort on write), " +
        "no rank column ever materializes."),
    "text_quality_model" ->
      ("training (spark.ml L-BFGS) runs at query-construction time and compiles the weights " +
        "into the plan — the PqCodes in-plan-artifact pattern. A production loop trains " +
        "offline and freezes the artifact; the scoring scan itself is broadcast-weights + " +
        "codegen'd aggregate, no UDF."),
    "pipeline_observed_gate" ->
      ("the gate metrics ride the filtered scan's OWN pass (Dataset.observe -> " +
        "CollectMetricsExec accumulator, zero extra jobs); the 1-row result printed here is " +
        "the collected accumulator, so this plan is a LocalTableScan — audit the observed " +
        "scan via Observe.withMetrics on any query instead."),
    "q_scalar_subquery" ->
      ("the correlated scalar subquery is de-correlated by Catalyst into an aggregate + " +
        "equi-join — the plan must show one agg over orders joined back on o_custkey, " +
        "never a per-row subquery re-execution."),
    "q_winsorize" ->
      ("nearest-rank boundaries from the (group, value_u) COMPACTED multiset — no global " +
        "sort; still materializes distinct values per group. Scale path on near-unique " +
        "domains: q_winsorize_scale (percentile_approx GK boundaries, no multiset)."),
    "graph_triangles" ->
      ("wedge volume grows ~quadratically in mean degree (this query pins density via one " +
        "order-priority class). The degree-ordered orientation bounds per-vertex wedge " +
        "fanout at out-degree <= O(sqrt E) — audit for the oriented-edge exchange being " +
        "keyed on the apex vertex, never a broadcast of the corpus."),
    "linkage_blocked" ->
      ("candidate volume = sum over cold grams of |L_g|*|R_g|, bounded by the maxGramFreq " +
        "stop-gram cap (the skew guard). Audit: exchanges keyed on gram / pair, banded " +
        "3-arg levenshtein only on DISTINCT pairs, no cartesian fallback; the fanout and " +
        "pair-dedup exchanges carry (id, length) only — names re-attach by id post-dedup."),
    "linkage_jw" ->
      ("same BLOCK shape as linkage_blocked (id+length-only fanout, names re-attach " +
        "post-dedup); the minSim-derived length-RATIO prune runs pre-dedup, so " +
        "never-verifiable pairs skip the pair exchange entirely."),
    "graph_sssp" ->
      ("frontier-restricted Bellman-Ford: edges hash-partitioned on src ONCE and persisted; " +
        "per round one frontier-edges shuffle + per-dst min agg + full-outer label merge, " +
        "lazy localCheckpoints with the improvement probe's count() as the ONLY action. " +
        "Cost = fixed per-round overhead x rounds, not data; the label table is |V| rows."),
    "graph_reach" ->
      ("per hop one frontier-edges shuffle + dst dedup; the emptiness probe rides the " +
        "checkpoint materialization (no extra job). Frontier shrinks monotonically; " +
        "edges partitioned once."),
    "events_rolling_corr" ->
      ("one key shuffle + per-key sort; six DECIMAL(38,0) moment sums over a 20-row frame " +
        "per row — exact integer moments chosen over the native double corr so the result " +
        "is cross-engine checkable. Cost is per-row CPU in one window pass, no extra exchange."),
    "basket_rules" ->
      ("pair volume = sum of |basket|^2 over baskets (the self-join keys on the basket id), " +
        "never |items|^2; marginals broadcast, grand total a 1-row broadcast. The basket " +
        "table is NOT pinned — its two self-join sides share one exchange (ReusedExchange)."),
    "similarity_knn_join_lsh" ->
      ("both sides keyed on (table, bucket), nothing broadcast; pairs score BEFORE the " +
        "dedup so the dedup exchange carries (query, neighbor, sim) scalars, not vectors."),
    "dedup_minhash" ->
      ("band buckets carry (doc_id, band, bucket) only; candidate pairs dedup on ids, " +
        "sorted-hash shingle sets re-attach by id for the exact-Jaccard verify " +
        "(codegen'd intersect on LONG arrays, not string shingles)."),
    "graph_pagerank" ->
      ("per iteration ONE edges-ranks shuffle + one dst hash agg; rank table is |V| rows. " +
        "Deep runs checkpoint every ~10 iters (lineage); scalar mass tables broadcast."),
    "q_rfm" ->
      ("the three ntile windows run over the |entities| aggregate, not the corpus — but the " +
        "order IS total, so each is a single-partition sort of |entities| rows. At extreme " +
        "entity counts swap ntile for broadcast approx-percentile boundary assignment " +
        "(the perplexityBucketsApprox / q_histogram_equidepth_scale pattern)."),
    "q_abc_parts" ->
      ("the cumulative-share rank window runs over the |items| aggregate under a total " +
        "order — a single-partition sort of the item vocabulary, never the corpus. " +
        "Range-partition the sort if the vocabulary itself is huge (scaladoc'd)."))
}
