package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables.{documents, embeddings}
import graft.operators.{Dedup, Pipeline, TextAnalysis}

/** Training-data pipeline stages: sampling, splits, selection, packing,
  * decontamination and the observed end-to-end pipeline.
  */
object PipelineQueries {

  def specs: Seq[QuerySpec] = Seq(

    // Consistent (hash-ordered) stratified sampling: the same 10 docs per
    // language are chosen on every engine/run — the reproducible-sampling
    // primitive for training-data pipelines (md5 is the cross-engine
    // deterministic order; per-stratum rank shards by lang).
    QuerySpec("sample_consistent", (s, dir) => {
      val w = Window.partitionBy(col("lang"))
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      documents(s, dir)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 10)
        .select(col("lang"), col("rk"), col("doc_id"))
        .orderBy(col("lang"), col("rk"))
    },
      oracleSql = Some("""SELECT lang, rk, doc_id
        |FROM (SELECT lang, doc_id,
        |             row_number() OVER (PARTITION BY lang
        |                                ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk
        |      FROM documents)
        |WHERE rk <= 10
        |ORDER BY lang, rk""".stripMargin)),

    // Sequence packing: assign docs to fixed token-budget bins per language
    // (bin = tokens-before-this-doc / budget, doc_id order) — the
    // pretraining "pack documents into ~1k-token sequences" step as one
    // per-language window cumsum; no driver loop, scales with languages ×
    // docs. A doc straddling a boundary belongs to the bin where it starts.
    QuerySpec("pack_sequences", (s, dir) => {
      Pipeline.packSequences(documents(s, dir),
          strata = col("lang"), order = col("doc_id"),
          tokens = size(split(col("text"), " ")), budget = 1000L)
        .select(col("doc_id"), col("lang"), col("n_tok"), col("seq_id"))
        .orderBy(col("doc_id"))
    },
      oracleSql = Some("""SELECT doc_id, lang, n_tok, floor((cum - n_tok) / 1000)::BIGINT AS seq_id
        |FROM (SELECT doc_id, lang, len(string_split(text, ' '))::BIGINT AS n_tok,
        |             sum(len(string_split(text, ' '))) OVER (PARTITION BY lang ORDER BY doc_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin)),

    // Deterministic train/valid/test split (80/10/10 by md5 bucket of the
    // doc id): the same doc lands in the same split on every engine, run,
    // and cluster size — no RNG at execution time (md5 is the cross-engine
    // hash, as in sample_consistent). Census per (lang, split).
    QuerySpec("sample_split", (s, dir) => {
      Pipeline.deterministicSplit(documents(s, dir), col("doc_id"))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("lang"), col("split"))
    },
      oracleSql = Some("""SELECT lang, split, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS sum_chars
        |FROM (SELECT lang, n_chars,
        |        CASE WHEN b < 80 THEN 'train'
        |             WHEN b < 90 THEN 'valid'
        |             ELSE 'test' END AS split
        |      FROM (SELECT lang, n_chars,
        |              ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT % 100 AS b
        |            FROM documents))
        |GROUP BY lang, split
        |ORDER BY lang, split""".stripMargin)),

    // Incremental leakage-safe split — the daily-ingest form: a new doc
    // (>= 400) near-duplicating an already-split corpus doc (< 400, md5
    // splits as the given artifact) INHERITS that doc's split (smallest
    // matching corpus id); unmatched new docs get the ordinary md5 split.
    // The per-doc assignment is hash-checked.
    QuerySpec("sample_split_incremental", (s, dir) => {
      val d = documents(s, dir)
        .withColumn("len_bucket", floor(col("n_chars") / 100))
      val corpus = Pipeline.deterministicSplit(
        d.filter(col("doc_id") < 400), col("doc_id"))
      Pipeline.splitLeakageSafeIncremental(
          d.filter(col("doc_id") >= 400), corpus,
          "doc_id", "text", "split", Seq("len_bucket"),
          shingleSize = 3, threshold = 0.5)
        .select(col("doc_id"), col("lang"), col("split"))
        .orderBy(col("doc_id"))
    },
      // corpus split = md5 CASE on doc_id (< 400, the given artifact); a new
      // doc (>= 400) inherits the split of its SMALLEST block-Jaccard match,
      // else its own md5 bucket — same shingle/Jaccard math as
      // dedup_incremental_jaccard
      oracleSql = Some(s"""WITH s AS (
        |${DedupQueries.lenBucketShinglesSql}),
        |corpus_split AS (
        |  SELECT doc_id,
        |         CASE WHEN b < 80 THEN 'train'
        |              WHEN b < 90 THEN 'valid'
        |              ELSE 'test' END AS split
        |  FROM (SELECT doc_id,
        |          ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT % 100 AS b
        |        FROM documents WHERE doc_id < 400)),
        |inherited AS (
        |  SELECT b.doc_id, min(c.doc_id) AS corpus_id
        |  FROM s b JOIN s c ON b.len_bucket = c.len_bucket
        |  WHERE b.doc_id >= 400 AND c.doc_id < 400
        |    AND len(list_intersect(b.sh, c.sh))::DOUBLE
        |          / len(list_distinct(b.sh || c.sh)) >= 0.5
        |  GROUP BY b.doc_id)
        |SELECT d.doc_id AS doc_id, d.lang AS lang,
        |       coalesce(cs.split,
        |         CASE WHEN ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 4))::BIGINT % 100 < 80
        |                THEN 'train'
        |              WHEN ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 4))::BIGINT % 100 < 90
        |                THEN 'valid'
        |              ELSE 'test' END) AS split
        |FROM documents d
        |LEFT JOIN inherited i ON d.doc_id = i.doc_id
        |LEFT JOIN corpus_split cs ON i.corpus_id = cs.doc_id
        |WHERE d.doc_id >= 400
        |ORDER BY d.doc_id""".stripMargin)),

    // Leakage-safe split: near-dup clusters (exact-Jaccard pairs, the
    // dedup_clusters graph) land WHOLE in one split — the doc-keyed split
    // above would put near-identical docs on both sides of the train/test
    // boundary and contaminate every downstream eval. Per-doc output
    // (doc_id, split) so the oracle hash-checks the assignment itself,
    // not just a census.
    QuerySpec("sample_split_leakage_safe", (s, dir) => {
      val docs = documents(s, dir)
        .withColumn("len_bucket", floor(col("n_chars") / 100))
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        Seq(col("len_bucket")), shingleSize = 3, threshold = 0.5)
      Pipeline.splitLeakageSafe(docs, "doc_id", pairs, "doc_a", "doc_b")
        .select(col("doc_id"), col("lang"), col("split"))
        .orderBy(col("doc_id"))
    },
      // same closure as dedup_clusters; split key = the cluster's min-id
      // representative (singletons: the doc itself), same md5 bucketing as
      // sample_split — the assignment itself is hash-checked per doc
      oracleSql = Some(s"""WITH RECURSIVE s AS (
        |${DedupQueries.lenBucketShinglesSql}
        |),
        |pairs AS (
        |  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b
        |  FROM s l JOIN s r
        |    ON l.len_bucket = r.len_bucket AND l.doc_id < r.doc_id
        |  WHERE len(list_intersect(l.sh, r.sh))::DOUBLE
        |          / len(list_distinct(l.sh || r.sh)) >= 0.5
        |),
        |${DedupQueries.closureSql("doc_a", "doc_b")},
        |clusters AS (
        |  SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
        |  FROM reach GROUP BY u
        |)
        |SELECT d.doc_id AS doc_id, d.lang AS lang,
        |       CASE WHEN b < 80 THEN 'train'
        |            WHEN b < 90 THEN 'valid'
        |            ELSE 'test' END AS split
        |FROM (SELECT d.doc_id, d.lang,
        |        ('0x' || substr(md5(coalesce(c.cluster_id, d.doc_id)::VARCHAR), 1, 4))::BIGINT
        |          % 100 AS b
        |      FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id) d
        |ORDER BY doc_id""".stripMargin)),

    // Domain-mixture sampling: per-language keep rates (the pretraining
    // source-weighting step), deterministic md5 bucket — census per lang
    // proves the realized mixture.
    QuerySpec("sample_mixture", (s, dir) => {
      Pipeline.weightedSample(documents(s, dir), col("doc_id"), col("lang"),
          Map("en" -> 100, "de" -> 50, "fr" -> 50, "es" -> 25, "zh" -> 10))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("lang"))
    },
      oracleSql = Some("""SELECT lang, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS sum_chars
        |FROM (SELECT lang, n_chars,
        |        ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT % 100 AS b
        |      FROM documents)
        |WHERE b < CASE lang WHEN 'en' THEN 100 WHEN 'de' THEN 50 WHEN 'fr' THEN 50
        |                    WHEN 'es' THEN 25 WHEN 'zh' THEN 10 ELSE 100 END
        |GROUP BY lang
        |ORDER BY lang""".stripMargin)),

    // Exact-size weighted sample without replacement (Efraimidis-Spirtes
    // A-ES, md5-derived uniforms): a 500-doc budget preferring long
    // documents — inclusion probability proportional to n_chars, output
    // size exactly 500 regardless of the corpus. TakeOrderedAndProject
    // plan (bounded per-partition heap, no global sort); the oracle
    // recomputes the identical ln(u)/w scores, so the SELECTION ITSELF is
    // hash-checked, not just its census.
    QuerySpec("sample_reservoir_weighted", (s, dir) => {
      Pipeline.reservoirSample(documents(s, dir), col("doc_id"),
          greatest(col("n_chars"), lit(1L)).cast("double"), k = 500)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    },
      // identical A-ES scores (md5 uniform -> ln(u)/w) recomputed in SQL: u
      // is exactly representable ((v+1)/2^32), ln is correctly rounded in
      // both engines, and the top-500 boundary is scored on identical
      // doubles — the selected SET hash-matches, scores never leave the
      // engine
      oracleSql = Some("""WITH keyed AS (
        |  SELECT doc_id, source, n_chars,
        |         ln((('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT + 1)::DOUBLE
        |            / 4294967296.0)
        |           / greatest(n_chars, 1)::DOUBLE AS es
        |  FROM documents),
        |top AS (SELECT doc_id, source, n_chars FROM keyed
        |        ORDER BY es DESC, doc_id LIMIT 500)
        |SELECT doc_id, source, n_chars FROM top ORDER BY doc_id""".stripMargin)),

    // Stratified A-ES: exact 50-doc weighted budget PER LANGUAGE (balanced
    // downsampling with a fixed per-stratum quota). Runs the salted
    // two-phase plan (saltBuckets=8) whose identity with the direct window
    // is spec-asserted; the oracle recomputes the identical per-group
    // selection with row_number over the same scores.
    QuerySpec("sample_reservoir_stratified", (s, dir) => {
      Pipeline.reservoirSamplePerKey(documents(s, dir), col("doc_id"),
          greatest(col("n_chars"), lit(1L)).cast("double"), col("lang"),
          kPerKey = 50, saltBuckets = 8)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("lang"), col("doc_id"))
    },
      oracleSql = Some("""WITH keyed AS (
        |  SELECT doc_id, lang, n_chars,
        |         ln((('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT + 1)::DOUBLE
        |            / 4294967296.0)
        |           / greatest(n_chars, 1)::DOUBLE AS es
        |  FROM documents),
        |r AS (SELECT doc_id, lang, n_chars,
        |             row_number() OVER (PARTITION BY lang ORDER BY es DESC, doc_id) AS rk
        |      FROM keyed)
        |SELECT doc_id, lang, n_chars FROM r WHERE rk <= 50
        |ORDER BY lang, doc_id""".stripMargin)),

    // Scan-time observability: gate metrics computed DURING the filtered
    // pass via Dataset.observe (CollectMetricsExec accumulator — zero
    // extra jobs), then emitted as a 1-row table. The oracle recomputes
    // the same aggregates with plain SQL, so the observed values are
    // hash-checked — observability with a correctness gate. All-integer
    // metrics; the action is the collect inside collectWithMetrics.
    QuerySpec("pipeline_observed_gate", (s, dir) => {
      val base = documents(s, dir)
        .filter(col("n_chars") >= 200)
        .select(col("doc_id"), col("n_chars"), col("lang"))
      val observed = graft.sources.Observe.withMetrics(base, "gate", Seq(
        "n_kept" -> count(lit(1)),
        "sum_chars" -> sum(col("n_chars")),
        "n_en" -> count_if(col("lang") === "en"),
        "min_doc" -> min(col("doc_id")),
        "max_doc" -> max(col("doc_id"))))
      val (_, m) = graft.sources.Observe.collectWithMetrics(observed, "gate")
      import s.implicits._
      Seq((m.getAs[Long]("n_kept"), m.getAs[Long]("sum_chars"), m.getAs[Long]("n_en"),
          m.getAs[Long]("min_doc"), m.getAs[Long]("max_doc")))
        .toDF("n_kept", "sum_chars", "n_en", "min_doc", "max_doc")
    },
      oracleSql = Some("""SELECT count(*) AS n_kept,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       count(*) FILTER (WHERE lang = 'en') AS n_en,
        |       min(doc_id) AS min_doc,
        |       max(doc_id) AS max_doc
        |FROM documents
        |WHERE n_chars >= 200""".stripMargin),
      scaleNote = Some("the gate metrics ride the filtered scan's OWN pass (Dataset.observe -> " +
        "CollectMetricsExec accumulator, zero extra jobs); the 1-row result printed here is " +
        "the collected accumulator, so this plan is a LocalTableScan — audit the observed " +
        "scan via Observe.withMetrics on any query instead.")),

    // Per-source quota cap (the domain-frequency ceiling of web-crawl
    // curation): keep the 10 longest docs per source, census per source.
    // Runs the salted two-phase plan (saltBuckets=8) whose row-identity
    // with the direct window is asserted in ScalaTest — the oracle checks
    // the direct formulation, so the equivalence is verified end-to-end.
    QuerySpec("select_domain_cap", (s, dir) => {
      Pipeline.capPerKey(documents(s, dir), col("source"),
          Seq(col("n_chars").desc, col("doc_id").asc), 10, col("doc_id"), saltBuckets = 8)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
          min(col("n_chars")).as("min_kept_chars"))
        .orderBy(col("source"))
    },
      oracleSql = Some("""SELECT source, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       min(n_chars) AS min_kept_chars
        |FROM (SELECT source, n_chars, doc_id,
        |             row_number() OVER (PARTITION BY source
        |                                ORDER BY n_chars DESC, doc_id) AS rk
        |      FROM documents)
        |WHERE rk <= 10
        |GROUP BY source
        |ORDER BY source""".stripMargin)),

    // Cluster-balanced selection: select_domain_cap's quota shape over a
    // LEARNED key — top-5 docs by n_chars per k-means cell of the
    // embedding space, the diversity-preserving downsample when one topic
    // dominates. FIXED nlist + sampled driver fit (the linear 100 TB
    // shape — see the operator's scale note; auto-occupancy cells would
    // make flat assignment n²/occ with no pair stage to justify it).
    // No SQL oracle (k-means cells); spec-tier: nlist=1 ≡ global top-k
    // anchor, per-cell top-score identity, salted ≡ unsalted, determinism.
    QuerySpec("select_cluster_balanced", (s, dir) => {
      val docs = documents(s, dir).select(col("doc_id"), col("source"), col("n_chars"))
      val emb = embeddings(s, dir).select(col("vec_id").as("doc_id"), col("embedding"))
      Pipeline.selectClusterBalanced(docs, emb, "doc_id", "embedding", "n_chars",
          nlist = 64, maxPerCluster = 5, trainSample = 512)
        .select(col("doc_id"), col("cell"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // The nlist=1 EXACT regime of cluster-balanced selection: one cell
    // makes the per-cluster quota IDENTICAL to the global top-k cut, which
    // is plain SQL — so the DuckDB oracle hash-gates the ENTIRE
    // selectClusterBalanced pipeline (k-means fit, assignment join, salted
    // quota window included) in its degenerate-exact regime. Same
    // oracle-conversion trick as IVF's full-probe ≡ brute-force gate; the
    // nlist=64 production shape above stays rows-tier with this entry as
    // its in-family exact anchor.
    QuerySpec("select_cluster_balanced_exact", (s, dir) => {
      val docs = documents(s, dir).select(col("doc_id"), col("source"), col("n_chars"))
      val emb = embeddings(s, dir).select(col("vec_id").as("doc_id"), col("embedding"))
      Pipeline.selectClusterBalanced(docs, emb, "doc_id", "embedding", "n_chars",
          nlist = 1, maxPerCluster = 100, trainSample = 512)
        .select(col("doc_id"), col("cell").cast("long").as("cell"),
          col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    },
      oracleSql = Some("""SELECT doc_id, CAST(0 AS BIGINT) AS cell, source, n_chars
        |FROM (SELECT d.doc_id, d.source, d.n_chars,
        |             row_number() OVER (ORDER BY d.n_chars DESC, d.doc_id) AS rk
        |      FROM documents d
        |      JOIN embeddings e ON e.vec_id = d.doc_id)
        |WHERE rk <= 100
        |ORDER BY doc_id""".stripMargin)),

    // Whole-document BFD bin packing (docs never straddle sequences —
    // instruction-tuning / doc-masked pretraining shape) per source at a
    // 512-whitespace-token budget. No SQL oracle (sequential bin state);
    // spec-tier: budgets exact, totality, textbook BFD assignment on a
    // hand case, salted ≡ valid, oversize singletons.
    QuerySpec("pack_bins", (s, dir) => {
      val docs = documents(s, dir)
        .withColumn("n_tok", TextAnalysis.tokenCount(col("text")).cast("long"))
      Pipeline.packBinsBFD(docs, "source", "doc_id", col("n_tok"), budget = 512L)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("bin_id")).as("n_bins"),
          sum(col("n_tok")).as("sum_tok"),
          max(col("n_tok")).as("max_tok"),
          sum(when(col("oversize"), 1L).otherwise(0L)).as("n_oversize"))
        .withColumn("fill_ratio", TextAnalysis.ratio4(
          col("sum_tok"), col("n_bins") * 512L))
        .orderBy(col("source"))
    }),

    // BFD packing in the EXACT regime: sizes padded by 100000 with budget
    // 150000 — every doc fits a bin alone (n_chars ≪ 50000) but no two
    // docs ever share one (2×100000 > budget), so best-fit-decreasing
    // degenerates to "each doc opens the next bin in scan order" and
    // bin_id IS the per-stratum rank by (size desc, id asc) — pure SQL.
    // Hash-gates the packer's scan order, bin numbering, no-fit branch,
    // and the integral-id guard per DOCUMENT (tenth exact-regime
    // conversion); the true packing quality stays spec-tier (textbook
    // assignment + budget-exactness specs). Oracle-duty twin of
    // pack_bins above.
    QuerySpec("pack_bins_exact", (s, dir) => {
      val docs = documents(s, dir)
        .withColumn("n_pad", col("n_chars") + lit(100000L))
      // FIXTURE INVARIANT the regime rests on: every doc must have
      // n_chars ≤ 50000 (padded size ≤ budget), or oversize flips and the
      // oracle's hardcoded `false AS oversize` breaks as an opaque hash
      // mismatch. Asserted here so a regenerated fixture fails LOUDLY at
      // the query instead. One scalar agg over an already-read column —
      // negligible next to the pack itself.
      val maxChars = docs.agg(max(col("n_chars")).cast("long")).head.getLong(0)
      require(maxChars <= 50000L,
        s"pack_bins_exact: fixture max n_chars = $maxChars > 50000 — the " +
          "singleton-bin regime (pad 100000, budget 150000) no longer holds; " +
          "raise the pad/budget together to restore size+pad <= budget < 2*pad")
      Pipeline.packBinsBFD(docs, "source", "doc_id", col("n_pad"), budget = 150000L)
        .orderBy(col("source"), col("bin_id"))
    },
      // singleton-bin regime: every doc opens the next bin in BFD scan
      // order, so bin_id = per-stratum rank by (size desc, id asc)
      oracleSql = Some("""SELECT source, doc_id,
        |       (n_chars + 100000)::BIGINT AS n_tok,
        |       (row_number() OVER (PARTITION BY source
        |                           ORDER BY n_chars DESC, doc_id) - 1)::BIGINT AS bin_id,
        |       false AS oversize
        |FROM documents
        |ORDER BY source, bin_id""".stripMargin)),

    // Deterministic training-order shuffle: epoch-seeded md5 of the doc id
    // is the sort key, so every engine/run/cluster size derives the SAME
    // permutation, and a new epoch string is a fresh permutation with zero
    // state. The materialized `position` (global row_number) is the ORACLE
    // SHAPE — at scale the md5 key itself IS the order (range-partitioned
    // sort on write), no global rank ever materializes.
    QuerySpec("sample_shuffle", (s, dir) => {
      val keyed = documents(s, dir)
        .withColumn("shuffle_key", md5(concat(lit("epoch1:"), col("doc_id").cast("string"))))
      keyed
        .withColumn("position",
          row_number().over(Window.orderBy(col("shuffle_key"), col("doc_id"))))
        .select(col("position"), col("doc_id"), col("shuffle_key"))
        .orderBy(col("position"))
    },
      oracleSql = Some("""SELECT row_number() OVER (ORDER BY shuffle_key, doc_id)::INTEGER AS position,
        |       doc_id, shuffle_key
        |FROM (SELECT doc_id, md5('epoch1:' || doc_id::VARCHAR) AS shuffle_key
        |      FROM documents)
        |ORDER BY position""".stripMargin),
      scaleNote = Some("ORACLE SHAPE: materialized global rank = single-partition sort. " +
        "At scale the md5 key IS the order (range-partitioned sort on write), " +
        "no rank column ever materializes.")),

    // Semantic decontamination: every 25th embedding plays the eval set;
    // train vectors within cosine 0.3 of any eval vector are flagged with
    // the hit count and the strongest similarity (broadcast the eval side,
    // one corpus pass — the paraphrase-robust companion of
    // text_decontaminate's n-gram overlap).
    QuerySpec("decontaminate_semantic", (s, dir) => {
      val em = embeddings(s, dir)
      Pipeline.semanticContaminated(
          em.filter(pmod(col("vec_id"), lit(25)) =!= 0),
          em.filter(pmod(col("vec_id"), lit(25)) === 0),
          "vec_id", "embedding", 0.3)
        .orderBy(col("train_id"))
    },
      oracleSql = Some("""SELECT t.vec_id AS train_id,
        |       count(*)::BIGINT AS n_eval_hits,
        |       round(max(list_cosine_similarity(t.embedding::DOUBLE[], e.embedding::DOUBLE[])), 4) AS max_cos
        |FROM embeddings t JOIN embeddings e
        |  ON t.vec_id % 25 <> 0 AND e.vec_id % 25 = 0
        | AND list_cosine_similarity(t.embedding::DOUBLE[], e.embedding::DOUBLE[]) >= 0.3
        |GROUP BY 1
        |ORDER BY 1""".stripMargin),
      allPairsReason = Some(
        "eval-suite broadcast into the NLJ probe — eval sets bounded by contract; n-gram decontaminate is the equi-join scale path")),

    // Per-source quality census: the monitoring view a corpus pipeline
    // keeps per domain — doc counts, Gopher pass rate, and the quality
    // metric means, grouped by provenance. One hash agg over the per-row
    // gopher expressions; the dashboard query that decides which source
    // to investigate when pass rates drift.
    QuerySpec("source_quality_census", (s, dir) => {
      TextAnalysis.gopherRules(documents(s, dir), col("text"), minStopHits = 1)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("pass"), 1L).otherwise(0L)).as("n_pass"),
          round(avg(col("n_words")), 4).as("avg_words"),
          round(avg(col("alpha_frac")), 4).as("avg_alpha_frac"),
          round(avg(col("mean_word_len")), 4).as("avg_word_len"))
        .orderBy(col("source"))
    },
      oracleSql = Some("""WITH d AS (SELECT source, string_split_regex(text, ' +') AS toks FROM documents),
        |m AS (SELECT source,
        |             len(toks)::BIGINT AS n_words,
        |             (20000 * coalesce(list_sum([length(x) for x in toks]), 0)
        |                + greatest(len(toks), 1)) // (2 * greatest(len(toks), 1))
        |               / 10000.0 AS mean_word_len,
        |             (20000 * len([x for x in toks if regexp_matches(x, '\p{L}')])
        |                + greatest(len(toks), 1)) // (2 * greatest(len(toks), 1))
        |               / 10000.0 AS alpha_frac,
        |             (CASE WHEN list_contains(toks, 'the') THEN 1 ELSE 0 END +
        |              CASE WHEN list_contains(toks, 'a')   THEN 1 ELSE 0 END +
        |              CASE WHEN list_contains(toks, 'and') THEN 1 ELSE 0 END +
        |              CASE WHEN list_contains(toks, 'of')  THEN 1 ELSE 0 END +
        |              CASE WHEN list_contains(toks, 'to')  THEN 1 ELSE 0 END) AS n_stop
        |      FROM d)
        |SELECT source, count(*)::BIGINT AS n_docs,
        |       sum(CASE WHEN n_words BETWEEN 50 AND 100000
        |                 AND mean_word_len BETWEEN 3.0 AND 10.0
        |                 AND alpha_frac >= 0.8
        |                 AND n_stop >= 1 THEN 1 ELSE 0 END)::BIGINT AS n_pass,
        |       round(avg(n_words), 4) AS avg_words,
        |       round(avg(alpha_frac), 4) AS avg_alpha_frac,
        |       round(avg(mean_word_len), 4) AS avg_word_len
        |FROM m
        |GROUP BY source
        |ORDER BY source""".stripMargin)),

    // Token-budget selection: per-language, keep the highest-alpha-ratio
    // docs until 10k chars of budget fill — the budget-constrained
    // cousin of text_importance_select (a token budget, not a keep
    // fraction). alpha_ratio is ratio4-quantized (exact integers / 10⁴),
    // n_chars and the cumsum are BIGINTs — integer-exact end to end.
    QuerySpec("select_token_budget", (s, dir) => {
      val scored = TextAnalysis.withQuality(documents(s, dir), col("text"))
      Pipeline.selectByTokenBudget(scored, Seq(col("lang")), col("alpha_ratio"),
          col("n_chars"), col("doc_id"), budget = 10000L)
        .select(col("doc_id"), col("lang"), col("alpha_ratio"),
          col("n_chars"), col("cum_tokens"))
        .orderBy(col("doc_id"))
    },
      oracleSql = Some("""WITH q AS (SELECT doc_id, lang, n_chars,
        |                  (20000 * length(regexp_replace(text, '[^a-z]', '', 'g'))
        |                     + greatest(length(text), 1)) // (2 * greatest(length(text), 1))
        |                    / 10000.0 AS alpha_ratio
        |           FROM documents),
        |c AS (SELECT doc_id, lang, alpha_ratio, n_chars,
        |             CAST(sum(n_chars) OVER (PARTITION BY lang
        |                                     ORDER BY alpha_ratio DESC, doc_id
        |                                     ROWS BETWEEN UNBOUNDED PRECEDING
        |                                     AND CURRENT ROW) AS BIGINT)
        |               AS cum_tokens
        |      FROM q)
        |SELECT doc_id, lang, alpha_ratio, n_chars, cum_tokens
        |FROM c WHERE cum_tokens <= 10000
        |ORDER BY doc_id""".stripMargin)),

    // The mixture-drives-selection composition: temperatureRates (T = 2)
    // allocates each source's TOKEN BUDGET (rate × mass, integer DIV),
    // and selectByTokenBudget fills each budget with that source's
    // best-alpha-ratio docs. Census per source proves sum_chars ≤ budget.
    // Every step is integer or correctly-rounded IEEE — full oracle.
    QuerySpec("select_temperature_budget", (s, dir) => {
      val docs = documents(s, dir)
      val budgets = Pipeline.temperatureRates(docs, col("source"), col("n_chars"), 2.0)
        .select(col("group").as("source"),
          expr("(rate_bp * n_tokens) DIV 10000").as("budget"))
      val scored = TextAnalysis.withQuality(docs, col("text"))
        .join(broadcast(budgets), Seq("source"))
      Pipeline.selectByTokenBudget(scored, Seq(col("source")), col("alpha_ratio"),
          col("n_chars"), col("doc_id"), col("budget"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
          max(col("budget")).as("budget_chars"))
        .orderBy(col("source"))
    },
      oracleSql = Some("""WITH n AS (SELECT source, sum(n_chars) AS nt FROM documents GROUP BY source),
        |r AS (SELECT source, nt,
        |             CAST(floor(sqrt((SELECT min(nt) FROM n WHERE nt > 0)::DOUBLE
        |                             / nt::DOUBLE) * 10000) AS BIGINT) AS rate_bp
        |      FROM n),
        |b AS (SELECT source, (rate_bp * nt) // 10000 AS budget FROM r),
        |q AS (SELECT doc_id, source, n_chars,
        |             (20000 * length(regexp_replace(text, '[^a-z]', '', 'g'))
        |                + greatest(length(text), 1)) // (2 * greatest(length(text), 1))
        |               / 10000.0 AS alpha_ratio
        |      FROM documents),
        |c AS (SELECT q.source, q.n_chars, b.budget,
        |             CAST(sum(q.n_chars) OVER (PARTITION BY q.source
        |                                       ORDER BY q.alpha_ratio DESC, q.doc_id
        |                                       ROWS BETWEEN UNBOUNDED PRECEDING
        |                                       AND CURRENT ROW) AS BIGINT) AS cum
        |      FROM q JOIN b USING (source))
        |SELECT source, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS sum_chars,
        |       CAST(max(budget) AS BIGINT) AS budget_chars
        |FROM c WHERE cum <= budget
        |GROUP BY source
        |ORDER BY source""".stripMargin)),

    // Temperature-scaled mixture (T = 2): per-source keep rates from
    // token mass, applied as a deterministic md5 sample — census per
    // source proves the realized mixture. T = 2 keeps the whole rate
    // derivation in correctly-rounded IEEE ops (sqrt, not pow), so the
    // basis-point rates are bit-identical cross-engine.
    QuerySpec("sample_temperature", (s, dir) => {
      Pipeline.temperatureSample(documents(s, dir), col("doc_id"),
          col("source"), col("n_chars"), temperature = 2.0)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("source"))
    },
      oracleSql = Some("""WITH n AS (SELECT source, sum(n_chars) AS nt FROM documents GROUP BY source),
        |r AS (SELECT source,
        |             CAST(floor(sqrt((SELECT min(nt) FROM n WHERE nt > 0)::DOUBLE
        |                             / nt::DOUBLE) * 10000) AS BIGINT) AS rate_bp
        |      FROM n)
        |SELECT d.source, count(*)::BIGINT AS n_docs, sum(d.n_chars)::BIGINT AS sum_chars
        |FROM documents d JOIN r USING (source)
        |WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 8))::BIGINT % 10000 < r.rate_bp
        |GROUP BY d.source
        |ORDER BY d.source""".stripMargin)),

    // The full training-data pipeline as ONE composed query — the thing a
    // real user builds first from these operators. Round-10 widening:
    // normalization runs before the dedup key, the CCNet fluency gate runs
    // after decontamination, and the corpus ships as DEDUPED CHUNKS, so
    // the census is per-(lang, split) doc/chunk counts. Stages:
    // bench holdout → Gopher quality gate → PII redaction → canonical
    // NORMALIZATION → whole-doc exact dedup → benchmark decontamination →
    // CCNet FLUENCY gate → domain-mixture sampling → deterministic split →
    // token CHUNKING → chunk-level exact dedup → census. Proves the
    // operators compose without column/name collisions; every doc stage is
    // a shrink (spec asserts monotonicity). Each stage keeps
    // its scale shape: per-row filters, hash aggs, one broadcast-able gram
    // join — the composition adds no new shuffle beyond its stages.
    //
    // STAGE MATERIALIZATION: the decontaminated corpus feeds the fluency
    // LM four ways (n-gram counts, context counts, vocab, per-doc score)
    // and the quantile gate scans its input twice, so without a barrier
    // the full upstream chain re-executes ~9×. A production pipeline
    // writes each stage to parquet and reads it back; inside one
    // composed query the equivalent barrier is a LAZY localCheckpoint on
    // the reused stage outputs (decon, split) — computed once at the
    // first action, shared by every consumer, spills to executor disk
    // (MEMORY_AND_DISK) when the stage outgrows storage memory, and the
    // blocks are ContextCleaner-owned: released when the plan is GC'd.
    // NOT persist(): the CacheManager holds a strong reference to cached
    // plans until an unpersist() nobody here can issue (the stages are
    // consumed lazily by the returned plan), so persist leaked the stage
    // for the session AND let a later plan-equal invocation silently
    // reuse the first invocation's cache — the basket_rules bench
    // flattering class (BENCH_TRIAGE_r14). Trade: truncated lineage means
    // executor loss after a barrier materializes fails the run where
    // persist recomputed — the production answer is the real
    // stage-to-parquet barrier; in one composed query, rerun on failure.
    QuerySpec("pipeline_e2e", (s, dir) => {
      val docs = documents(s, dir)
      val train = docs.filter(pmod(col("doc_id"), lit(50)) =!= 0)
      val bench = docs.filter(pmod(col("doc_id"), lit(50)) === 0)
      val quality = TextAnalysis.gopherRules(train, col("text"),
          minWords = 50, maxWords = 100000, minMeanLen = 3.0, maxMeanLen = 10.0,
          minAlphaFrac = 0.8, minStopHits = 1)
        .filter(col("pass"))
        .select(col("doc_id"), col("lang"), col("text"))
      val clean = quality.withColumn("text", TextAnalysis.redact(col("text")))
      // canonical normalization BEFORE any dedup key is computed; lazy
      // stage boundary (r21): normed forks into the fingerprint agg and
      // the keep join, whose pruned copies re-ran the regex-heavy
      // gopher → redact → normalize chain twice per plan
      val normed = clean.withColumn("text", TextAnalysis.normalizeText(col("text")))
        .localCheckpoint(false)
      val keepIds = Dedup.exactByKey(
        normed.select(TextAnalysis.md5Fingerprint(col("text")).as("fp"), col("doc_id")),
        col("fp"), col("doc_id"))
      val deduped = normed.join(keepIds.select(col("doc_id")), Seq("doc_id"), "left_semi")
      val contaminated = Pipeline.contaminatedDocs(deduped, bench, "doc_id", "text", n = 5)
        .select(col("doc_id"))
      val decon = deduped.join(contaminated, Seq("doc_id"), "left_anti")
        .localCheckpoint(false)
      // CCNet gate: the surviving corpus scored under its own bigram LM,
      // keep the most fluent half (quantile threshold, no corpus sort)
      val fluentIds = Pipeline.selectTopByScore(
          Pipeline.bigramLogLikelihood(decon, decon, "doc_id", "text"),
          col("avg_logp"), keepFrac = 0.5)
        .select(col("doc_id"))
      val fluent = decon.join(fluentIds, Seq("doc_id"), "left_semi")
      val mixed = Pipeline.weightedSample(fluent, col("doc_id"), col("lang"),
        Map("en" -> 100, "de" -> 50, "fr" -> 50, "es" -> 25, "zh" -> 10))
      val split = Pipeline.deterministicSplit(mixed, col("doc_id"))
        .localCheckpoint(false)
      // ship as deduped CHUNKS: token windows, exact chunk dedup (lowest
      // (doc, idx) keeps the canonical copy), census per (lang, split)
      val chunks = Pipeline.chunkTokens(split, col("doc_id"), col("text"),
          window = 64, stride = 48)
        .withColumn("chunk_uid", col("id") * lit(1000000L) + col("chunk_idx"))
      val keepChunks = Dedup.exactByKey(
        chunks.select(col("chunk_hash"), col("chunk_uid")),
        col("chunk_hash"), col("chunk_uid"))
      chunks
        .join(keepChunks.select(col("chunk_uid"), lit(1L).as("__kept")),
          Seq("chunk_uid"), "left")
        .join(split.select(col("doc_id").as("id"), col("lang"), col("split")), Seq("id"))
        .groupBy(col("lang"), col("split"))
        .agg(countDistinct(col("id")).as("n_docs"),
          count(lit(1)).as("n_chunks"),
          sum(coalesce(col("__kept"), lit(0L))).as("n_chunks_kept"))
        .orderBy(col("lang"), col("split"))
    },
      oracleSql = Some("""WITH train AS (
        |  SELECT doc_id, lang, text, string_split_regex(text, ' +') AS toks
        |  FROM documents WHERE doc_id % 50 <> 0),
        |q AS (
        |  SELECT doc_id, lang, text FROM train
        |  WHERE len(toks) BETWEEN 50 AND 100000
        |    AND (20000 * coalesce(list_sum([length(x) for x in toks]), 0)
        |           + greatest(len(toks), 1)) // (2 * greatest(len(toks), 1))
        |          / 10000.0 BETWEEN 3.0 AND 10.0
        |    AND (20000 * len([x for x in toks if regexp_matches(x, '\p{L}')])
        |           + greatest(len(toks), 1)) // (2 * greatest(len(toks), 1))
        |          / 10000.0 >= 0.8
        |    AND (CASE WHEN list_contains(toks, 'the') THEN 1 ELSE 0 END +
        |         CASE WHEN list_contains(toks, 'a')   THEN 1 ELSE 0 END +
        |         CASE WHEN list_contains(toks, 'and') THEN 1 ELSE 0 END +
        |         CASE WHEN list_contains(toks, 'of')  THEN 1 ELSE 0 END +
        |         CASE WHEN list_contains(toks, 'to')  THEN 1 ELSE 0 END) >= 1),
        |r AS (
        |  SELECT doc_id, lang,
        |         regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
        |           '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
        |           '[0-9]{3}-[0-9]{2}-[0-9]{4}', '<SSN>', 'g'),
        |           '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
        |           '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g') AS text
        |  FROM q),
        |nrm AS (
        |  SELECT doc_id, lang,
        |         trim(regexp_replace(lower(nfc_normalize(text)),
        |                             '[ \t\r\n]+', ' ', 'g')) AS text
        |  FROM r),
        |k AS (SELECT min(doc_id) AS doc_id FROM nrm GROUP BY md5(lower(trim(text)))),
        |dd AS (SELECT nrm.* FROM nrm JOIN k USING (doc_id)),
        |bg AS (
        |  SELECT DISTINCT unnest(list_distinct(
        |           [array_to_string(toks[i:i+4], ' ') for i in range(1, len(toks) - 3)])) AS gram
        |  FROM (SELECT string_split_regex(text, ' +') AS toks
        |        FROM documents WHERE doc_id % 50 = 0)),
        |tg AS (
        |  SELECT doc_id, unnest(list_distinct(
        |           [array_to_string(toks[i:i+4], ' ') for i in range(1, len(toks) - 3)])) AS gram
        |  FROM (SELECT doc_id, string_split_regex(text, ' +') AS toks FROM dd)),
        |contam AS (SELECT DISTINCT tg.doc_id FROM tg JOIN bg USING (gram)),
        |decon AS (SELECT * FROM dd WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
        |ftoks AS (SELECT doc_id, string_split_regex(text, ' +') AS t FROM decon),
        |funi AS (SELECT unnest(t) AS w FROM ftoks),
        |fucnt AS (SELECT w, count(*) AS uc FROM funi GROUP BY w),
        |fv AS (SELECT count(*) AS v FROM fucnt),
        |fbg AS (SELECT doc_id, array_to_string(t[i:i+1], ' ') AS b, t[i] AS w1
        |        FROM ftoks, unnest(range(1, len(t))) u(i)),
        |fbcnt AS (SELECT b, count(*) AS bc FROM fbg GROUP BY b),
        |fdb AS (SELECT doc_id, b, w1, count(*) AS c FROM fbg GROUP BY doc_id, b, w1),
        |fscore AS (
        |  SELECT fdb.doc_id,
        |         round(sum(fdb.c * (ln(fbcnt.bc + 1.0) - ln(fucnt.uc + 1.0 * fv.v)))
        |               / sum(fdb.c), 4) AS avg_logp
        |  FROM fdb JOIN fbcnt USING (b) JOIN fucnt ON fdb.w1 = fucnt.w CROSS JOIN fv
        |  GROUP BY fdb.doc_id),
        |fsq AS (SELECT doc_id, CAST(round(avg_logp * 10000, 0) AS BIGINT) AS scq
        |        FROM fscore),
        |fthr AS (SELECT CAST(round(quantile_cont(scq, 0.5) * 4, 0) AS BIGINT) AS tq
        |         FROM fsq),
        |fluent AS (SELECT decon.* FROM decon JOIN fsq USING (doc_id), fthr
        |           WHERE fsq.scq * 4 >= fthr.tq),
        |mixed AS (
        |  SELECT * FROM fluent
        |  WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT % 100 <
        |        CASE lang WHEN 'en' THEN 100 WHEN 'de' THEN 50 WHEN 'fr' THEN 50
        |                  WHEN 'es' THEN 25 WHEN 'zh' THEN 10 ELSE 100 END),
        |final AS (
        |  SELECT doc_id, lang, text,
        |         CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'valid'
        |              ELSE 'test' END AS split
        |  FROM (SELECT doc_id, lang, text,
        |          ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT % 100 AS b
        |        FROM mixed)),
        |fc AS (SELECT doc_id, lang, split, string_split_regex(text, ' +') AS toks
        |       FROM final),
        |c AS (SELECT doc_id, lang, split,
        |             doc_id * 1000000 + s // 48 AS chunk_uid,
        |             md5(array_to_string(toks[s + 1:s + 64], ' ')) AS chunk_hash
        |      FROM fc, unnest(range(0, len(toks), 48)) u(s)),
        |kc AS (SELECT chunk_hash, min(chunk_uid) AS chunk_uid FROM c GROUP BY chunk_hash)
        |SELECT lang, split, count(DISTINCT c.doc_id)::BIGINT AS n_docs,
        |       count(*)::BIGINT AS n_chunks,
        |       sum(CASE WHEN kc.chunk_uid IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
        |         AS n_chunks_kept
        |FROM c LEFT JOIN kc ON c.chunk_uid = kc.chunk_uid
        |GROUP BY lang, split
        |ORDER BY lang, split""".stripMargin))
  )
}
