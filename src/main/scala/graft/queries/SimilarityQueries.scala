package graft.queries

import org.apache.spark.sql.functions._

import graft.core.Tables.{customer, embeddings}
import graft.operators.{Dedup, Linkage, Similarity}
import graft.functions.VectorFunctions

/** Vector similarity search, embedding near-duplicates and record
  * linkage over `embeddings`, `documents` and `customer`.
  */
object SimilarityQueries {

  def specs: Seq[QuerySpec] = Seq(

    // Transposition-noise census: every customer name gets a deterministic
    // adjacent-character swap (position keyed by custkey), then per nation
    // we compare plain levenshtein against the native full
    // Damerau-Levenshtein — where they differ, a one-slip transposition
    // was being billed as two edits. Exercises the codegen'd
    // Lowrance-Wagner expression against DuckDB's full-variant builtin.
    QuerySpec("linkage_dl", (s, dir) => {
      import graft.functions.DamerauLevenshtein.damerauLevenshtein
      val p = (pmod(col("c_custkey"), (length(col("c_name")) - 1).cast("long")) + 1)
        .cast("int")
      val swapped = concat(
        col("c_name").substr(lit(1), p - 1),
        col("c_name").substr(p + 1, lit(1)),
        col("c_name").substr(p, lit(1)),
        col("c_name").substr(p + 2, lit(1000)))
      customer(s, dir)
        .select(col("c_nationkey"),
          levenshtein(col("c_name"), swapped).cast("long").as("lev"),
          damerauLevenshtein(col("c_name"), swapped).as("dl"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n"),
          sum(col("lev")).as("sum_lev"),
          sum(col("dl")).as("sum_dl"),
          sum(when(col("lev") > col("dl"), 1L).otherwise(0L))
            .as("n_transposition_wins"))
        .orderBy(col("c_nationkey"))
    },
      oracleSql = Some("""WITH s AS (
        |  SELECT c_nationkey, c_name,
        |         (c_custkey % (length(c_name) - 1) + 1)::INTEGER AS p
        |  FROM customer),
        |w AS (
        |  SELECT c_nationkey,
        |         levenshtein(c_name,
        |           substr(c_name, 1, p - 1) || substr(c_name, p + 1, 1) ||
        |           substr(c_name, p, 1) || substr(c_name, p + 2, 1000))::BIGINT
        |           AS lev,
        |         damerau_levenshtein(c_name,
        |           substr(c_name, 1, p - 1) || substr(c_name, p + 1, 1) ||
        |           substr(c_name, p, 1) || substr(c_name, p + 2, 1000))::BIGINT
        |           AS dl
        |  FROM s)
        |SELECT c_nationkey, count(*)::BIGINT AS n, sum(lev)::BIGINT AS sum_lev,
        |       sum(dl)::BIGINT AS sum_dl,
        |       sum(CASE WHEN lev > dl THEN 1 ELSE 0 END)::BIGINT
        |         AS n_transposition_wins
        |FROM w GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin)),

    // Record linkage: every deterministically-perturbed customer name
    // (substitute/delete/insert one char in the digit zone) finds its best
    // clean match via q-gram blocking (frequency-capped stop-grams — the
    // skew guard) + levenshtein verify on distinct candidates + argmin
    // resolve. No all-pairs product; exchanges keyed on gram / pair.
    QuerySpec("linkage_blocked", (s, dir) => {
      val cust = customer(s, dir)
      val clean = cust.select(col("c_custkey"), col("c_name"))
      val nameL = lower(col("c_name"))
      val pos = lit(10) + pmod(col("c_custkey"), lit(9))
      val m3 = pmod(col("c_custkey"), lit(3))
      val dirtyName = when(m3 === 0,
          concat(nameL.substr(lit(1), pos - 1), lit("x"), nameL.substr(pos + 1, lit(100))))
        .when(m3 === 1,
          concat(nameL.substr(lit(1), pos - 1), nameL.substr(pos + 1, lit(100))))
        .otherwise(
          concat(nameL.substr(lit(1), pos - 1), lit("z"), nameL.substr(pos, lit(100))))
      val dirty = cust.select(col("c_custkey").as("d_id"), dirtyName.as("d_name"))
      Linkage.bestMatch(
          dirty, col("d_id"), col("d_name"),
          clean, col("c_custkey"), col("c_name"))
        .orderBy(col("left_id"))
    },
      oracleSql = Some("""WITH cl AS (SELECT c_custkey AS right_id, lower(c_name) AS rn FROM customer),
        |dn AS (
        |  SELECT c_custkey AS left_id,
        |         10 + (c_custkey % 9) AS pos, c_custkey % 3 AS m3,
        |         lower(c_name) AS n
        |  FROM customer),
        |dirty AS (
        |  SELECT left_id,
        |         CASE m3 WHEN 0 THEN substr(n, 1, pos - 1) || 'x' || substr(n, pos + 1)
        |                 WHEN 1 THEN substr(n, 1, pos - 1) || substr(n, pos + 1)
        |                 ELSE substr(n, 1, pos - 1) || 'z' || substr(n, pos) END AS ln
        |  FROM dn),
        |lt AS (SELECT left_id, ln, substr(ln, greatest(length(ln) - 7, 1), 8) AS tail
        |       FROM dirty),
        |lg AS (SELECT DISTINCT left_id, ln, substr(tail, i, 4) AS g
        |       FROM lt, unnest(range(1, greatest(length(tail) - 3, 1) + 1)) u(i)),
        |rd AS (SELECT min(right_id) AS right_id, rn FROM cl GROUP BY rn),
        |rt AS (SELECT right_id, rn, substr(rn, greatest(length(rn) - 7, 1), 8) AS tail
        |       FROM rd),
        |rg AS (SELECT DISTINCT right_id, rn, substr(tail, i, 4) AS g
        |       FROM rt, unnest(range(1, greatest(length(tail) - 3, 1) + 1)) u(i)),
        |dfr AS (SELECT g, count(*) AS f FROM rg GROUP BY 1),
        |lwf AS (SELECT lg.left_id, lg.ln, lg.g, d.f,
        |               min(d.f) OVER (PARTITION BY lg.left_id) AS minf,
        |               row_number() OVER (PARTITION BY lg.left_id
        |                                  ORDER BY d.f, lg.g) AS rk
        |        FROM lg JOIN dfr d USING (g)),
        |lk AS (SELECT left_id, ln, g FROM lwf WHERE f <= 200
        |       UNION ALL
        |       SELECT left_id, ln, g FROM (
        |         SELECT left_id, ln, g, count(*) OVER (PARTITION BY g) AS bc
        |         FROM lwf WHERE minf > 200 AND rk <= 2)
        |       WHERE bc <= 128),
        |rwf AS (SELECT rg.right_id, rg.rn, rg.g, d.f,
        |               min(d.f) OVER (PARTITION BY rg.right_id) AS minf,
        |               row_number() OVER (PARTITION BY rg.right_id
        |                                  ORDER BY d.f, rg.g) AS rk
        |        FROM rg JOIN dfr d USING (g)),
        |rk2 AS (SELECT right_id, rn, g FROM rwf WHERE f <= 200
        |       UNION ALL
        |       SELECT right_id, rn, g FROM (
        |         SELECT right_id, rn, g, count(*) OVER (PARTITION BY g) AS bc
        |         FROM rwf WHERE minf > 200 AND rk <= 2)
        |       WHERE bc <= 128),
        |pairs AS (
        |  SELECT DISTINCT left_id, ln, right_id, rn
        |  FROM lk JOIN rk2 USING (g)),
        |ver AS (SELECT left_id, right_id, dist FROM
        |          (SELECT left_id, right_id, levenshtein(ln, rn) AS dist FROM pairs)
        |        WHERE dist <= 2),
        |best AS (SELECT left_id, right_id, dist,
        |                row_number() OVER (PARTITION BY left_id
        |                                   ORDER BY dist, right_id) AS rk
        |         FROM ver)
        |SELECT left_id, right_id, dist::INTEGER AS dist
        |FROM best WHERE rk = 1 ORDER BY left_id""".stripMargin),
      scaleNote = Some("candidate volume = sum over cold grams of |L_g|*|R_g|, bounded by the maxGramFreq " +
        "stop-gram cap (the skew guard). Audit: exchanges keyed on gram / pair, banded " +
        "3-arg levenshtein only on DISTINCT pairs, no cartesian fallback; the fanout and " +
        "pair-dedup exchanges carry (id, length) only — names re-attach by id post-dedup.")),

    // Record linkage, Jaro-Winkler verifier: same q-gram BLOCK step and
    // perturbed names as linkage_blocked, but verify/resolve by the
    // native graft_jaro_winkler expression (prefix-weighted typo
    // similarity, argmax per dirty record) — bit-compatible with DuckDB's
    // jaro_winkler_similarity, so the whole block→verify→resolve pipe is
    // hash-checked cross-engine. Rounded sim (6dp) drives the argmax
    // ordering on BOTH engines: resolve stays stable even against an
    // implementation differing in the last float bits.
    QuerySpec("linkage_jw", (s, dir) => {
      val cust = customer(s, dir)
      val clean = cust.select(col("c_custkey"), col("c_name"))
      val nameL = lower(col("c_name"))
      val pos = lit(10) + pmod(col("c_custkey"), lit(9))
      val m3 = pmod(col("c_custkey"), lit(3))
      val dirtyName = when(m3 === 0,
          concat(nameL.substr(lit(1), pos - 1), lit("x"), nameL.substr(pos + 1, lit(100))))
        .when(m3 === 1,
          concat(nameL.substr(lit(1), pos - 1), nameL.substr(pos + 1, lit(100))))
        .otherwise(
          concat(nameL.substr(lit(1), pos - 1), lit("z"), nameL.substr(pos, lit(100))))
      val dirty = cust.select(col("c_custkey").as("d_id"), dirtyName.as("d_name"))
      Linkage.bestMatchJw(
          dirty, col("d_id"), col("d_name"),
          clean, col("c_custkey"), col("c_name"), minSim = 0.9)
        .orderBy(col("left_id"))
    },
      oracleSql = Some("""WITH cl AS (SELECT c_custkey AS right_id, lower(c_name) AS rn FROM customer),
        |dn AS (
        |  SELECT c_custkey AS left_id,
        |         10 + (c_custkey % 9) AS pos, c_custkey % 3 AS m3,
        |         lower(c_name) AS n
        |  FROM customer),
        |dirty AS (
        |  SELECT left_id,
        |         CASE m3 WHEN 0 THEN substr(n, 1, pos - 1) || 'x' || substr(n, pos + 1)
        |                 WHEN 1 THEN substr(n, 1, pos - 1) || substr(n, pos + 1)
        |                 ELSE substr(n, 1, pos - 1) || 'z' || substr(n, pos) END AS ln
        |  FROM dn),
        |lt AS (SELECT left_id, ln, substr(ln, greatest(length(ln) - 7, 1), 8) AS tail
        |       FROM dirty),
        |lg AS (SELECT DISTINCT left_id, ln, substr(tail, i, 4) AS g
        |       FROM lt, unnest(range(1, greatest(length(tail) - 3, 1) + 1)) u(i)),
        |rd AS (SELECT min(right_id) AS right_id, rn FROM cl GROUP BY rn),
        |rt AS (SELECT right_id, rn, substr(rn, greatest(length(rn) - 7, 1), 8) AS tail
        |       FROM rd),
        |rg AS (SELECT DISTINCT right_id, rn, substr(tail, i, 4) AS g
        |       FROM rt, unnest(range(1, greatest(length(tail) - 3, 1) + 1)) u(i)),
        |dfr AS (SELECT g, count(*) AS f FROM rg GROUP BY 1),
        |lwf AS (SELECT lg.left_id, lg.ln, lg.g, d.f,
        |               min(d.f) OVER (PARTITION BY lg.left_id) AS minf,
        |               row_number() OVER (PARTITION BY lg.left_id
        |                                  ORDER BY d.f, lg.g) AS rk
        |        FROM lg JOIN dfr d USING (g)),
        |lk AS (SELECT left_id, ln, g FROM lwf WHERE f <= 200
        |       UNION ALL
        |       SELECT left_id, ln, g FROM (
        |         SELECT left_id, ln, g, count(*) OVER (PARTITION BY g) AS bc
        |         FROM lwf WHERE minf > 200 AND rk <= 2)
        |       WHERE bc <= 128),
        |rwf AS (SELECT rg.right_id, rg.rn, rg.g, d.f,
        |               min(d.f) OVER (PARTITION BY rg.right_id) AS minf,
        |               row_number() OVER (PARTITION BY rg.right_id
        |                                  ORDER BY d.f, rg.g) AS rk
        |        FROM rg JOIN dfr d USING (g)),
        |rk2 AS (SELECT right_id, rn, g FROM rwf WHERE f <= 200
        |       UNION ALL
        |       SELECT right_id, rn, g FROM (
        |         SELECT right_id, rn, g, count(*) OVER (PARTITION BY g) AS bc
        |         FROM rwf WHERE minf > 200 AND rk <= 2)
        |       WHERE bc <= 128),
        |pairs AS (
        |  SELECT DISTINCT left_id, ln, right_id, rn
        |  FROM lk JOIN rk2 USING (g)),
        |ver AS (SELECT left_id, right_id, sim FROM
        |          (SELECT left_id, right_id,
        |                  round(jaro_winkler_similarity(ln, rn), 6) AS sim
        |           FROM pairs)
        |        WHERE sim >= 0.9),
        |best AS (SELECT left_id, right_id, sim,
        |                row_number() OVER (PARTITION BY left_id
        |                                   ORDER BY sim DESC, right_id) AS rk
        |         FROM ver)
        |SELECT left_id, right_id, sim
        |FROM best WHERE rk = 1 ORDER BY left_id""".stripMargin),
      scaleNote = Some("same BLOCK shape as linkage_blocked (id+length-only fanout, names re-attach " +
        "post-dedup); the minSim-derived length-RATIO prune runs pre-dedup, so " +
        "never-verifiable pairs skip the pair exchange entirely.")),

    // Brute-force cosine top-5 for query vectors (vec_id < 5).
    QuerySpec("similarity_topk", (s, dir) => {
      val emb = embeddings(s, dir)
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", 5)
        .orderBy(col("query_id"), col("rank"))
    },
      oracleSql = Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |           FROM embeddings WHERE vec_id < 5),
        |     c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
        |$cosineTop5Sql""".stripMargin),
      allPairsReason = Some(
        "query batch broadcast into the corpus probe — bounded by the ANN serving contract (batch << corpus); the corpus side never broadcasts")),

    // LSH-bucketed ANN top-5, oracle-tier.
    QuerySpec("similarity_lsh_topk", (s, dir) => {
      val emb = embeddings(s, dir)
      // md5 table-plane family (Similarity.md5TablePlanes): DuckDB rebuilds
      // all 4×6 planes, sign buckets, and the 1-bit multiprobe set in SQL →
      // full hash-checked oracle (was rows-only); recall vs brute force
      // stays asserted in ScalaTest
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", 5,
          md5Family = true)
        .orderBy(col("query_id"), col("rank"))
    },
      // md5 table-plane LSH (Similarity.md5TablePlanes, "t:p,d" keys): 4
      // tables × 6 planes rebuilt verbatim; per (vec, table) the sign bucket;
      // queries probe their bucket plus every 1-bit flip; candidates union
      // across tables, then the same exact-cosine top-5 rank as
      // similarity_topk.
      oracleSql = Some(lshCosineTopSql("(SELECT * FROM sig WHERE vec_id < 5)", 5))),

    // IVF ANN top-5: per-label centroid codebook, 3 probed cells per query
    // (no SQL oracle; recall vs brute force asserted in ScalaTest).
    QuerySpec("similarity_ivf_topk", (s, dir) => {
      val emb = embeddings(s, dir)
      // cells from the SAMPLED Lloyd trainer (driver-side over the 1024
      // md5-deterministic vectors; assignment is one codegen projection) —
      // labels are uncorrelated with cosine geometry, trained cells are
      // the real IVF shape, and the sampled path is the 100 TB one
      val cells = Similarity.kmeansCells(emb, "vec_id", "embedding",
        nlist = 16, iters = 2, trainSample = 1024)
      Similarity.ivfTopK(emb.join(cells, "vec_id"), emb.filter(col("vec_id") < 5),
          "vec_id", "embedding", "cell", 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // IVF at FULL probe (nprobe = nlist): provably ≡ brute force — every
    // cell is probed, so every vector is exact-cosine scored and the cell
    // layer prunes nothing. That identity holds for ANY partition function
    // (k-means quality only matters when pruning), so the cells here are a
    // free hash split and the whole query is oracle-checked against the
    // same DuckDB SQL as similarity_topk — a hard correctness gate on the
    // ivfTopK probe/score/rank machinery itself.
    QuerySpec("similarity_ivf_full_topk", (s, dir) => {
      val emb = embeddings(s, dir)
      val assigned = emb.withColumn("cell", pmod(col("vec_id"), lit(8)).cast("long"))
      Similarity.ivfTopK(assigned, emb.filter(col("vec_id") < 5),
          "vec_id", "embedding", "cell", 5, nprobe = 8)
        .orderBy(col("query_id"), col("rank"))
    },
      // full probe ≡ brute force (see the queries entry) — the oracle is the
      // same exact-cosine top-5 SQL as similarity_topk
      oracleSql = Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |           FROM embeddings WHERE vec_id < 5),
        |     c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
        |$cosineTop5Sql""".stripMargin)),

    // PQ/ADC ANN top-5: the corpus compressed to m byte codes per vector,
    // queries scored through per-query lookup tables — the memory-bounded
    // scale path where even the float vectors are too big to scan (no SQL
    // oracle: k-means-dependent; recall vs brute force in ScalaTest).
    QuerySpec("similarity_pq_topk", (s, dir) => {
      val emb = embeddings(s, dir)
      // m=16/ksub=32 (finer than the m=8 default): the fixture vectors are
      // near-random, so quantization noise needs the extra resolution for
      // the recall the spec pins; real embedding corpora cluster and do
      // fine at m=8/ksub=16
      // trainSample: the Lloyd loop sees a deterministic 1024-vector
      // sample (production-quantizer practice — the codebook needs a
      // representative sample, not the corpus); ENCODING still covers
      // every vector
      Similarity.pqTopK(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          dim = 64, k = 5, m = 16, ksub = 32, trainSample = 1024)
        .orderBy(col("query_id"), col("rank"))
    },
      allPairsReason = Some(
        "per-query LUT broadcast — |queries| x 16-subspace table, ANN serving contract")),

    // PQ in the EXACT regime: corpus bounded to 200 vectors, ksub = 256 ≥
    // corpus size, trainSample covers the whole corpus, iters = 0 — the
    // driver Lloyd's init seeds every sampled sub-vector as its own
    // centroid verbatim, so encoding is lossless (each sub-vector's code
    // points at an exact copy of itself), the per-query LUT holds exact
    // dot(q_sub, x_sub), and ADC ≡ the exact cosine of the unit vectors.
    // Shares similarity_topk's DuckDB SQL restricted to the same corpus —
    // a hard hash gate on the PQ encode / LUT / ADC kernels themselves
    // (same exact-regime upgrade as similarity_ivf_full_topk /
    // dedup_semantic_exact). Oracle-duty: the bounded corpus is the
    // point; the scale path is similarity_pq_topk above.
    QuerySpec("similarity_pq_topk_exact", (s, dir) => {
      val emb = embeddings(s, dir)
      Similarity.pqTopK(emb.filter(col("vec_id") < 200), emb.filter(col("vec_id") < 5),
          "vec_id", "embedding", dim = 64, k = 5, m = 16, ksub = 256, iters = 0,
          trainSample = 256)
        .orderBy(col("query_id"), col("rank"))
    },
      // PQ exact regime (ksub ≥ corpus, lossless encode, ADC ≡ exact dot) —
      // similarity_topk's SQL with the corpus bounded to the same 200 vectors
      oracleSql = Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |           FROM embeddings WHERE vec_id < 5),
        |     c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
        |           FROM embeddings WHERE vec_id < 200),
        |$cosineTop5Sql""".stripMargin),
      allPairsReason = Some(
        "same per-query LUT broadcast as similarity_pq_topk; oracle-duty exact regime, corpus bounded to 200 vectors by construction")),

    // IVF-PQ composed ANN: trained coarse cells prune WHICH vectors are
    // scored, PQ byte codes + per-query LUTs compress WHAT is scanned —
    // the compressed inverted file a production vector store deploys (no
    // SQL oracle: k-means-dependent; ≡ PQ at full probe + recall floor
    // asserted in ScalaTest).
    QuerySpec("similarity_ivfpq_topk", (s, dir) => {
      val emb = embeddings(s, dir)
      // iters=1: both codebooks converge in one Lloyd round on the fixture
      // (deterministic seeds); the spec's full-probe ≡ PQ identity and
      // recall floor run with the production default
      Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          dim = 64, k = 5, nlist = 8, nprobe = 3, m = 16, ksub = 32, iters = 1,
          trainSample = 1024)
        .orderBy(col("query_id"), col("rank"))
    }),

    // IVF-PQ in the EXACT regime — the COMPOSED path's hash gate: full
    // probe (nprobe = nlist) makes the IVF layer prune nothing, and the
    // PQ exact regime (corpus ≤ ksub, trainSample covers it, iters = 0 —
    // see similarity_pq_topk_exact) makes ADC the exact cosine, so cell
    // routing + per-cell code scan + LUT scoring must reproduce brute
    // force bit-for-bit after rounding. Shares the PQ exact twin's DuckDB
    // SQL (eighth exact-regime oracle conversion). Oracle-duty: the
    // bounded corpus is the point; the scale path is similarity_ivfpq_topk.
    QuerySpec("similarity_ivfpq_topk_exact", (s, dir) => {
      val emb = embeddings(s, dir)
      Similarity.ivfPqTopK(emb.filter(col("vec_id") < 200), emb.filter(col("vec_id") < 5),
          "vec_id", "embedding", dim = 64, k = 5, nlist = 4, nprobe = 4, m = 16,
          ksub = 256, iters = 0, trainSample = 256)
        .orderBy(col("query_id"), col("rank"))
    },
      // IVF-PQ exact regime (full probe + lossless PQ) — same bounded-corpus
      // brute-force SQL as similarity_pq_topk_exact
      oracleSql = Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |           FROM embeddings WHERE vec_id < 5),
        |     c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
        |           FROM embeddings WHERE vec_id < 200),
        |$cosineTop5Sql""".stripMargin)),

    // k-NN JOIN: every vector against the whole corpus (not just 5 query
    // rows) — the semdedup / kNN-graph shape. Exact brute force is the
    // oracle tier; it broadcasts the query side, so corpus-as-queries only
    // works while the id+vec table fits an executor (~2.5 MB here). The
    // scale path is the LSH variant below.
    QuerySpec("similarity_knn_join", (s, dir) => {
      val emb = embeddings(s, dir)
      Similarity.bruteForceTopK(emb, emb, "vec_id", "embedding", 3)
        .orderBy(col("query_id"), col("rank"))
    },
      // the exact k-NN JOIN is brute force with corpus-as-queries — fully
      // SQL-expressible, so it graduates from rows+spec to a hard oracle
      oracleSql = Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
        |     scored AS (
        |       SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |              list_cosine_similarity(a.vec, b.vec) AS s
        |       FROM v a CROSS JOIN v b WHERE a.vec_id <> b.vec_id),
        |     ranked AS (
        |       SELECT query_id, neighbor_id, s,
        |              row_number() OVER (PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS rank
        |       FROM scored)
        |SELECT query_id, neighbor_id, round(s, 4) AS cos_sim, rank
        |FROM ranked WHERE rank <= 3
        |ORDER BY query_id, rank""".stripMargin),
      scaleNote = Some("ORACLE SHAPE: exact corpus-as-queries broadcast join, kept as the correctness " +
        "reference while the id+vec table fits an executor. Scale paths: " +
        "similarity_knn_join_lsh ((table, bucket) shuffle join, nothing broadcast) or " +
        "IndexStore.searchIvfPq over persisted artifacts (cell-pruned ADC scan)."),
      allPairsReason = Some(
        "corpus-as-queries broadcast oracle anchor; scale path similarity_knn_join_lsh (bucketed, nothing broadcast)")),

    // LSH-bucketed k-NN join — both sides shuffle-partition on (table,
    // bucket), nothing is broadcast, so corpus×corpus scales horizontally.
    // md5 table-plane family → full hash-checked oracle (same pattern as
    // similarity_lsh_topk); recall vs the exact join stays asserted in
    // ScalaTest.
    QuerySpec("similarity_knn_join_lsh", (s, dir) => {
      val emb = embeddings(s, dir)
      Similarity.lshTopK(emb, emb, "vec_id", "embedding", 3, md5Family = true)
        .orderBy(col("query_id"), col("rank"))
    },
      // same md5 table-plane LSH as similarity_lsh_topk, corpus-as-queries
      // (every vector probes its buckets + 1-bit flips), exact-cosine top-3
      oracleSql = Some(lshCosineTopSql("sig", 3)),
      scaleNote = Some("both sides keyed on (table, bucket), nothing broadcast; pairs score BEFORE the " +
        "dedup so the dedup exchange carries (query, neighbor, sim) scalars, not vectors.")),

    // The scale path of the kNN join: numPlanes = 0 → AUTO-sized from the
    // corpus count so bucket occupancy stays ≈ 32 (Similarity.autoPlanes).
    // The fixed-plane twin above measured 14.8× time at 10× data on the r14
    // scale curve (fixed 2^6-bucket space → occupancy ∝ n → candidate pairs
    // ∝ n²); this one pins occupancy and stays linear. At the oracle gate
    // scales auto resolves to the same 6 planes (2,000 vectors / 32 = 63
    // buckets), so the DuckDB replay — which recomputes the same
    // integer-exact plane-count formula from count(*) — hash-checks the
    // full auto path end to end.
    QuerySpec("similarity_knn_join_lsh_scale", (s, dir) => {
      val emb = embeddings(s, dir)
      Similarity.lshTopK(emb, emb, "vec_id", "embedding", 3, numPlanes = 0, md5Family = true)
        .orderBy(col("query_id"), col("rank"))
    },
      // the AUTO-plane twin: nplanes is recomputed from count(*) with the
      // same integer-exact formula as Similarity.autoPlanes (smallest b >= 6
      // with 2^b * 32 >= n, via binary-string length — never float log2,
      // whose libm rounding could disagree across engines on exact powers of
      // two). At this gate's scales it resolves to 6, so the result set
      // equals similarity_knn_join_lsh — the point is that DuckDB replays
      // the SIZING itself, not just the fixed-parameter LSH.
      oracleSql = Some("""WITH params AS (
        |  SELECT greatest(6, length(bin((count(*) + 31) // 32 - 1))) AS nplanes
        |  FROM embeddings
        |),
        |planes AS (
        |  SELECT t, p, list(v ORDER BY d) AS plane
        |  FROM (SELECT t, p, d,
        |               (('0x' || substr(md5(t::VARCHAR || ':' || p::VARCHAR || ',' || d::VARCHAR), 1, 15))::BIGINT
        |                  % 2001 - 1000)::DOUBLE AS v
        |        FROM range(0, 4) tt(t), range(0, 48) pp(p), range(0, 64) dd(d)
        |        WHERE p < (SELECT nplanes FROM params))
        |  GROUP BY t, p
        |),
        |sig AS (
        |  SELECT e.vec_id, pl.t,
        |         sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[], pl.plane) >= 0
        |                  THEN (1::BIGINT << pl.p) ELSE 0 END)::BIGINT AS bucket
        |  FROM embeddings e, planes pl
        |  GROUP BY e.vec_id, pl.t
        |),
        |flips AS (
        |  SELECT 0::BIGINT AS flip
        |  UNION ALL
        |  SELECT (1::BIGINT << j) AS flip FROM range(0, 48) jj(j)
        |  WHERE j < (SELECT nplanes FROM params)
        |),
        |cand AS (
        |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
        |  FROM sig q
        |  JOIN flips f ON true
        |  JOIN sig c ON c.t = q.t AND c.bucket = xor(q.bucket, f.flip)
        |  WHERE c.vec_id <> q.vec_id
        |),
        |scored AS (
        |  SELECT cand.query_id, cand.neighbor_id,
        |         list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS s
        |  FROM cand
        |  JOIN embeddings a ON a.vec_id = cand.query_id
        |  JOIN embeddings b ON b.vec_id = cand.neighbor_id
        |),
        |ranked AS (
        |  SELECT query_id, neighbor_id, s,
        |         row_number() OVER (PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS rank
        |  FROM scored)
        |SELECT query_id, neighbor_id, round(s, 4) AS cos_sim, rank
        |FROM ranked WHERE rank <= 3
        |ORDER BY query_id, rank""".stripMargin)),

    // Exact embedding near-dup pairs (cosine ≥ 0.3).
    QuerySpec("embedding_neardup", (s, dir) => {
      Dedup.embeddingNearDupExact(embeddings(s, dir), "vec_id", "embedding", 0.3)
        .orderBy(col("vec_a"), col("vec_b"))
    },
      oracleSql = Some("""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cos_sim
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.3
        |ORDER BY vec_a, vec_b""".stripMargin),
      scaleNote = Some("ORACLE SHAPE: deliberate O(n^2) cross join, kept as the correctness reference. " +
        "Scale path: embedding_neardup_lsh (hyperplane bucket join)."),
      allPairsReason = Some(
        "exact O(n^2) cosine oracle anchor (Explain.scaleNotes); scale path embedding_neardup_lsh")),

    // LSH-bucketed embedding near-dup — the scale path for the exact query
    // above. md5-derived integer hyperplanes (Similarity.md5Planes) let
    // DuckDB rebuild the planes and sign buckets verbatim → full
    // hash-checked oracle (sign margins data-measured at ~0.07, eleven
    // orders above double noise); single-table recall vs the exact pairs
    // stays asserted in ScalaTest.
    QuerySpec("embedding_neardup_lsh", (s, dir) => {
      Dedup.embeddingNearDupLSH(embeddings(s, dir), "vec_id", "embedding", 0.3,
          Similarity.md5Planes(4, 64))
        .orderBy(col("vec_a"), col("vec_b"))
    },
      // md5 hyperplane family (Similarity.md5Planes): plane[p][d] =
      // int(md5hex(p||','||d)[1..15]) % 2001 - 1000; bucket bit p = sign of
      // dot(embedding, plane p); candidates share the full 4-bit bucket,
      // then exact cosine verification — planes, signs, and buckets all
      // recomputed here verbatim.
      oracleSql = Some("""WITH planes AS (
        |  SELECT p, list(v ORDER BY d) AS plane
        |  FROM (SELECT p, d,
        |               (('0x' || substr(md5(p::VARCHAR || ',' || d::VARCHAR), 1, 15))::BIGINT
        |                  % 2001 - 1000)::DOUBLE AS v
        |        FROM range(0, 4) t(p), range(0, 64) u(d))
        |  GROUP BY p
        |),
        |sig AS (
        |  SELECT e.vec_id,
        |         sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[], pl.plane) >= 0
        |                  THEN (1::BIGINT << pl.p) ELSE 0 END)::BIGINT AS bucket
        |  FROM embeddings e, planes pl
        |  GROUP BY e.vec_id
        |)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cos_sim
        |FROM sig sa
        |JOIN sig sb ON sa.bucket = sb.bucket AND sa.vec_id < sb.vec_id
        |JOIN embeddings a ON a.vec_id = sa.vec_id
        |JOIN embeddings b ON b.vec_id = sb.vec_id
        |WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.3
        |ORDER BY vec_a, vec_b""".stripMargin)),

    // Int8 scalar quantization (SQ8): per-vector symmetric codes — the
    // 4-8× embedding storage/shuffle cut. Pure per-row expressions, no
    // shuffle; codes emitted as a joined string (array printing is not
    // engine-portable), scale at 6 dp. The oracle mirrors Spark's
    // HALF_UP-away-from-zero round as a sign-split floor(|x|/s + 0.5).
    QuerySpec("embedding_quantize", (s, dir) => {
      embeddings(s, dir)
        .select(col("vec_id"),
          VectorFunctions.quantizeInt8(col("embedding")).as("qz"))
        .select(col("vec_id"),
          round(col("qz.scale"), 6).as("scale6"),
          array_join(transform(col("qz.q"), _.cast("string")), ",").as("codes"))
        .orderBy(col("vec_id"))
    },
      oracleSql = Some("""WITH q AS (
        |  SELECT vec_id,
        |         list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127.0 AS s,
        |         embedding::DOUBLE[] AS e
        |  FROM embeddings)
        |SELECT vec_id, round(s, 6) AS scale6,
        |       array_to_string(list_transform(e, x ->
        |         (CASE WHEN s = 0 THEN 0
        |               WHEN x < 0 THEN -floor(abs(x) / s + 0.5)
        |               ELSE floor(abs(x) / s + 0.5) END)::INT), ',') AS codes
        |FROM q
        |ORDER BY vec_id""".stripMargin)),

    // Per-label embedding centroids (element-wise mean): posexplode →
    // hash-agg on (label, pos) — partial+final agg, no collect.
    QuerySpec("embedding_centroid", (s, dir) => {
      embeddings(s, dir)
        .select(col("label"),
          posexplode(VectorFunctions.toDoubleArray(col("embedding"))).as(Seq("pos0", "v")))
        .select(col("label"), (col("pos0") + 1).as("pos"), col("v"))
        .groupBy(col("label"), col("pos"))
        .agg(round(avg(col("v")), 6).as("centroid_v"))
        .orderBy(col("label"), col("pos"))
    },
      oracleSql = Some("""SELECT label, i AS pos, round(avg(embedding[i]::DOUBLE), 6) AS centroid_v
        |FROM embeddings, range(1, 65) t(i)
        |GROUP BY label, i
        |ORDER BY label, pos""".stripMargin))
  )

  /** DuckDB tail of the exact cosine top-5 oracles: every query vector
    * `q(query_id, qv)` scored against every other corpus vector
    * `c(neighbor_id, cv)`, ranked with a total (sim desc, id) order.
    */
  private val cosineTop5Sql =
    """     scored AS (
      |       SELECT query_id, neighbor_id, list_cosine_similarity(qv, cv) AS s
      |       FROM q CROSS JOIN c WHERE query_id <> neighbor_id),
      |     ranked AS (
      |       SELECT query_id, neighbor_id, s,
      |              row_number() OVER (PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS rank
      |       FROM scored)
      |SELECT query_id, neighbor_id, round(s, 4) AS cos_sim, rank
      |FROM ranked WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  /** DuckDB oracle of the md5 table-plane LSH top-k (4 tables × 6
    * md5-integer hyperplanes, Similarity.md5Planes): each vector of
    * `probes` (a subset of the signature table `sig`) probes its bucket
    * and every 1-bit flip, candidates are ranked by exact cosine and the
    * top `k` kept.
    */
  private def lshCosineTopSql(probes: String, k: Int): String =
    s"""WITH planes AS (
       |  SELECT t, p, list(v ORDER BY d) AS plane
       |  FROM (SELECT t, p, d,
       |               (('0x' || substr(md5(t::VARCHAR || ':' || p::VARCHAR || ',' || d::VARCHAR), 1, 15))::BIGINT
       |                  % 2001 - 1000)::DOUBLE AS v
       |        FROM range(0, 4) tt(t), range(0, 6) pp(p), range(0, 64) dd(d))
       |  GROUP BY t, p
       |),
       |sig AS (
       |  SELECT e.vec_id, pl.t,
       |         sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[], pl.plane) >= 0
       |                  THEN (1::BIGINT << pl.p) ELSE 0 END)::BIGINT AS bucket
       |  FROM embeddings e, planes pl
       |  GROUP BY e.vec_id, pl.t
       |),
       |flips AS (
       |  SELECT 0::BIGINT AS flip
       |  UNION ALL
       |  SELECT (1::BIGINT << j) AS flip FROM range(0, 6) jj(j)
       |),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
       |  FROM $probes q
       |  JOIN flips f ON true
       |  JOIN sig c ON c.t = q.t AND c.bucket = xor(q.bucket, f.flip)
       |  WHERE c.vec_id <> q.vec_id
       |),
       |scored AS (
       |  SELECT cand.query_id, cand.neighbor_id,
       |         list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS s
       |  FROM cand
       |  JOIN embeddings a ON a.vec_id = cand.query_id
       |  JOIN embeddings b ON b.vec_id = cand.neighbor_id
       |),
       |ranked AS (
       |  SELECT query_id, neighbor_id, s,
       |         row_number() OVER (PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, round(s, 4) AS cos_sim, rank
       |FROM ranked WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin
}
