package graft.queries

import org.apache.spark.sql.functions._

import graft.core.Tables.{documents, embeddings}
import graft.operators.{Dedup, Pipeline, Similarity, TextAnalysis}

/** Document deduplication: exact, fingerprint, n-gram, MinHash, SimHash,
  * TF-IDF, substring and incremental forms over `documents`.
  */
object DedupQueries {

  def specs: Seq[QuerySpec] = Seq(

    // Exact dedup stats per language (text + normalized-fingerprint keys).
    QuerySpec("dedup_exact", (s, dir) => {
      documents(s, dir)
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("text")).as("n_unique_text"),
          countDistinct(TextAnalysis.md5Fingerprint(col("text"))).as("n_unique_fp"))
        .orderBy(col("lang"))
    },
      oracleSql = Some("""SELECT lang, count(*) AS n_docs,
        |       count(DISTINCT text) AS n_unique_text,
        |       count(DISTINCT md5(lower(trim(text)))) AS n_unique_fp
        |FROM documents
        |GROUP BY lang
        |ORDER BY lang""".stripMargin)),

    // Exact dedup keeper set: lowest doc_id per content fingerprint.
    QuerySpec("dedup_fingerprint_keep", (s, dir) => {
      documents(s, dir)
        .groupBy(TextAnalysis.md5Fingerprint(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
        .select(col("doc_id"), col("n_copies"))
        .orderBy(col("doc_id"))
    },
      oracleSql = Some("""SELECT min(doc_id) AS doc_id, count(*) AS n_copies
        |FROM documents
        |GROUP BY md5(lower(trim(text)))
        |ORDER BY doc_id""".stripMargin)),

    // Keep-BEST dedup: the keeper of each duplicate cluster is the
    // highest-quality member, not the lowest id. The fixture has no
    // duplicates, so the query constructs the realistic pair (same page
    // crawled once clean, once SHOUTING): an uppercased copy under a
    // NEGATIVE id (-id-1: distinct even for doc 0) clusters with its
    // original on md5(lower(text)). The
    // copy's alpha_ratio is 0 ([a-z] only), so quality keeps the original
    // — while a min-id rule would keep the negative-id copy, proving the
    // rule is quality, not id. Ties (all-digit docs) fall to min id.
    QuerySpec("dedup_keep_best", (s, dir) => {
      val docs = documents(s, dir).select(col("doc_id"), col("text"))
      val all = docs.unionByName(
        docs.select((-col("doc_id") - 1).as("doc_id"), upper(col("text")).as("text")))
      Dedup.keepBestInCluster(TextAnalysis.withQuality(all, col("text")),
          md5(lower(col("text"))), col("doc_id"), col("alpha_ratio"))
        .select(col("doc_id"), col("alpha_ratio"), col("keep"))
        .orderBy(col("doc_id"))
    },
      oracleSql = Some("""WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT -doc_id - 1, upper(text) FROM documents),
        |q AS (SELECT doc_id, text,
        |        (20000 * length(regexp_replace(text, '[^a-z]', '', 'g'))
        |           + greatest(length(text), 1)) // (2 * greatest(length(text), 1))
        |          / 10000.0 AS alpha_ratio
        |      FROM all_docs),
        |r AS (SELECT doc_id, alpha_ratio,
        |             row_number() OVER (PARTITION BY md5(lower(text))
        |                                ORDER BY alpha_ratio DESC, doc_id) AS rn
        |      FROM q)
        |SELECT doc_id, alpha_ratio, rn = 1 AS keep FROM r
        |ORDER BY doc_id""".stripMargin)),

    // Exact 3-gram Jaccard near-dup pairs within length-bucket blocks
    // (near-dups have near-equal length; the bucket bounds the quadratic).
    QuerySpec("dedup_ngram_jaccard", (s, dir) => {
      val docs = documents(s, dir)
        .withColumn("len_bucket", floor(col("n_chars") / 100))
      Dedup.ngramJaccardPairs(docs, "doc_id", "text",
          Seq(col("len_bucket")), shingleSize = 3, threshold = 0.5)
        .orderBy(col("doc_a"), col("doc_b"))
    },
      oracleSql = Some(s"""WITH s AS (
        |$lenBucketShinglesSql
        |)
        |SELECT doc_a, doc_b, jaccard FROM (
        |  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
        |         round(len(list_intersect(l.sh, r.sh))::DOUBLE
        |               / len(list_distinct(l.sh || r.sh)), 4) AS jaccard,
        |         len(list_intersect(l.sh, r.sh))::DOUBLE
        |               / len(list_distinct(l.sh || r.sh)) AS raw_j
        |  FROM s l JOIN s r
        |    ON l.len_bucket = r.len_bucket AND l.doc_id < r.doc_id)
        |WHERE raw_j >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin)),

    // Same semantics via PPJoin-style prefix filtering — the heavy-hitter-
    // safe scale path; shares the exact-Jaccard oracle above.
    QuerySpec("dedup_ngram_jaccard_prefix", (s, dir) => {
      val docs = documents(s, dir)
        .withColumn("len_bucket", floor(col("n_chars") / 100))
      Dedup.ngramJaccardPairsPrefix(docs, "doc_id", "text",
          Seq(col("len_bucket")), shingleSize = 3, threshold = 0.5)
        .orderBy(col("doc_a"), col("doc_b"))
    },
      // identical oracle: prefix filtering must not change the result set
      oracleSql = Some(s"""WITH s AS (
        |$lenBucketShinglesSql
        |)
        |SELECT doc_a, doc_b, jaccard FROM (
        |  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
        |         round(len(list_intersect(l.sh, r.sh))::DOUBLE
        |               / len(list_distinct(l.sh || r.sh)), 4) AS jaccard,
        |         len(list_intersect(l.sh, r.sh))::DOUBLE
        |               / len(list_distinct(l.sh || r.sh)) AS raw_j
        |  FROM s l JOIN s r
        |    ON l.len_bucket = r.len_bucket AND l.doc_id < r.doc_id)
        |WHERE raw_j >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin)),

    // Directional containment C(A→B) = |A∩B|/|A| — the asymmetric near-dup
    // shape (short doc pasted inside a long one) Jaccard structurally
    // misses. Blocked on lang, NOT len_bucket: cross-size pairs are the
    // whole point, so a size-derived blocking key would be wrong here.
    QuerySpec("dedup_containment", (s, dir) => {
      Dedup.containmentPairs(documents(s, dir), "doc_id", "text",
          Seq(col("lang")), shingleSize = 3, threshold = 0.8)
        .orderBy(col("doc_a"), col("doc_b"))
    },
      // directional: l is the contained doc (denominator |A| = len(l.sh)),
      // r the container; lang blocking, no size blocking (cross-size pairs
      // are the point of containment). Docs under shingleSize tokens have
      // sh = [] and contribute no inverted-index rows on the Spark side —
      // the len(sh) > 0 guard mirrors that (and keeps the division total).
      oracleSql = Some(s"""WITH s AS (
        |$langShinglesSql
        |)
        |SELECT doc_a, doc_b, containment FROM (
        |  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
        |         round(len(list_intersect(l.sh, r.sh))::DOUBLE
        |               / len(l.sh), 4) AS containment,
        |         len(list_intersect(l.sh, r.sh))::DOUBLE
        |               / len(l.sh) AS raw_c
        |  FROM s l JOIN s r
        |    ON l.lang = r.lang AND l.doc_id <> r.doc_id
        |  WHERE len(l.sh) > 0)
        |WHERE raw_c >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin)),

    // TF-IDF cosine near-dup pairs — the WEIGHTED measure: rare shared
    // terms count, ubiquitous ones don't (df = N terms have idf exactly 0
    // and drop from the index — a result-preserving prune). Blocked on
    // (lang, source), the same block-size-bounding choice as the Jaccard
    // family's len_bucket: the inverted self-join costs Σ df² WITHIN
    // blocks, and this synthetic corpus's ~30-word vocabulary makes every
    // term a heavy hitter (measured 50 s at sf0.1 lang-only — SCALE.md);
    // a natural Zipf corpus de-fangs that, and Bayardo 2007 prefix
    // pruning is the published unblocked path.
    QuerySpec("dedup_tfidf_cosine", (s, dir) => {
      Dedup.tfidfCosinePairs(documents(s, dir), "doc_id", "text",
          Seq(col("lang"), col("source")), threshold = 0.85)
        .orderBy(col("doc_a"), col("doc_b"))
    },
      // df < N mirrors the engine's exact idf-0 prune; round-4 on the final
      // cosine is the accepted summation-noise class (nearest corpus value
      // sits 3e-5 from the threshold, measured)
      oracleSql = Some("""WITH t AS (
        |  SELECT doc_id, lang, source,
        |         unnest(regexp_extract_all(text, '[a-z0-9]+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, lang, source, term, count(*)::BIGINT AS c
        |       FROM t GROUP BY 1, 2, 3, 4),
        |dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*)::DOUBLE AS n FROM documents),
        |w AS (
        |  SELECT tf.doc_id, tf.lang, tf.source, tf.term,
        |         tf.c * ln(n.n / dfreq.df) AS w
        |  FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n
        |  WHERE dfreq.df < n.n),
        |nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY 1),
        |dots AS (
        |  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, sum(l.w * r.w) AS dot
        |  FROM w l JOIN w r
        |    ON l.term = r.term AND l.lang = r.lang AND l.source = r.source
        |       AND l.doc_id < r.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, round(c, 4) AS cos FROM (
        |  SELECT doc_a, doc_b, dot / (na.nrm * nb.nrm) AS c
        |  FROM dots JOIN nrm na ON doc_a = na.doc_id
        |            JOIN nrm nb ON doc_b = nb.doc_id)
        |WHERE c >= 0.85
        |ORDER BY doc_a, doc_b""".stripMargin)),

    // Same semantics via l2-prefix index pruning (Bayardo 2007 framework,
    // L2AP/WWW'14 Cauchy–Schwarz prefix bound) — the unblocked path a
    // natural-Zipf crawl needs (measured sub-linear on the ZipfData
    // fixture, SCALE.md); shares the exact oracle: pruning must not
    // change the result set.
    QuerySpec("dedup_tfidf_cosine_prefix", (s, dir) => {
      Dedup.tfidfCosinePairsPrefix(documents(s, dir), "doc_id", "text",
          Seq(col("lang"), col("source")), threshold = 0.85)
        .orderBy(col("doc_a"), col("doc_b"))
    },
      // identical oracle to dedup_tfidf_cosine: l2-prefix pruning is exact
      oracleSql = Some("""WITH t AS (
        |  SELECT doc_id, lang, source,
        |         unnest(regexp_extract_all(text, '[a-z0-9]+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, lang, source, term, count(*)::BIGINT AS c
        |       FROM t GROUP BY 1, 2, 3, 4),
        |dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*)::DOUBLE AS n FROM documents),
        |w AS (
        |  SELECT tf.doc_id, tf.lang, tf.source, tf.term,
        |         tf.c * ln(n.n / dfreq.df) AS w
        |  FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n
        |  WHERE dfreq.df < n.n),
        |nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY 1),
        |dots AS (
        |  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, sum(l.w * r.w) AS dot
        |  FROM w l JOIN w r
        |    ON l.term = r.term AND l.lang = r.lang AND l.source = r.source
        |       AND l.doc_id < r.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, round(c, 4) AS cos FROM (
        |  SELECT doc_a, doc_b, dot / (na.nrm * nb.nrm) AS c
        |  FROM dots JOIN nrm na ON doc_a = na.doc_id
        |            JOIN nrm nb ON doc_b = nb.doc_id)
        |WHERE c >= 0.85
        |ORDER BY doc_a, doc_b""".stripMargin),
      scaleNote = Some("l2-prefix (L2AP) index pruning: right plan for NATURAL-ZIPF vocabularies " +
        "(sub-linear on the ZipfData fixture where the plain index OOMs at x10). On THIS " +
        "dense synthetic corpus every pair shares indexed terms, so the prune pays window+" +
        "verify overhead for nothing (5.0x at x10 vs blocked plain's 2.3x) — corpus shape " +
        "picks the operator; dedup_tfidf_cosine (blocked) is the dense-corpus form.")),

    // Same semantics via asymmetric (SSJoin-style) prefix filtering — probe
    // side prefixed, container side fully indexed; shares the exact oracle.
    QuerySpec("dedup_containment_prefix", (s, dir) => {
      Dedup.containmentPairsPrefix(documents(s, dir), "doc_id", "text",
          Seq(col("lang")), shingleSize = 3, threshold = 0.8)
        .orderBy(col("doc_a"), col("doc_b"))
    },
      // identical oracle: prefix filtering must not change the result set
      oracleSql = Some(s"""WITH s AS (
        |$langShinglesSql
        |)
        |SELECT doc_a, doc_b, containment FROM (
        |  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
        |         round(len(list_intersect(l.sh, r.sh))::DOUBLE
        |               / len(l.sh), 4) AS containment,
        |         len(list_intersect(l.sh, r.sh))::DOUBLE
        |               / len(l.sh) AS raw_c
        |  FROM s l JOIN s r
        |    ON l.lang = r.lang AND l.doc_id <> r.doc_id
        |  WHERE len(l.sh) > 0)
        |WHERE raw_c >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin)),

    // Near-dup clusters over the exact-Jaccard pairs: connected components
    // (iterative min-label propagation) + keep-one-per-cluster selection —
    // the dedup decision a training pipeline actually applies. Oracle:
    // DuckDB recursive-CTE transitive closure over the same pairs.
    QuerySpec("dedup_clusters", (s, dir) => {
      val docs = documents(s, dir)
        .withColumn("len_bucket", floor(col("n_chars") / 100))
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        Seq(col("len_bucket")), shingleSize = 3, threshold = 0.5)
      Dedup.dupClusters(pairs, "doc_a", "doc_b")
        .orderBy(col("doc_id"))
    },
      oracleSql = Some(s"""WITH RECURSIVE s AS (
        |$lenBucketShinglesSql
        |),
        |pairs AS (
        |  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b
        |  FROM s l JOIN s r
        |    ON l.len_bucket = r.len_bucket AND l.doc_id < r.doc_id
        |  WHERE len(list_intersect(l.sh, r.sh))::DOUBLE
        |          / len(list_distinct(l.sh || r.sh)) >= 0.5
        |),
        |${closureSql("doc_a", "doc_b")}
        |SELECT doc_id, cluster_id, doc_id = cluster_id AS keep FROM (
        |  SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
        |  FROM reach GROUP BY u)
        |ORDER BY doc_id""".stripMargin)),

    // The same clusters-and-keep-one decision fed by MinHash+LSH candidate
    // pairs instead of the blocked exact-Jaccard index — the composition a
    // web-scale corpus actually runs. md5-KM hash family (see the
    // dedup_minhash oracle) so DuckDB recomputes the exact band
    // buckets → full hash-checked oracle, not rows-only; ScalaTest
    // additionally proves set-equality with the exact-pair clustering at
    // J >= 0.5 on unblocked fixtures.
    QuerySpec("dedup_minhash_clusters", (s, dir) => {
      val pairs = Dedup.minhashPairs(documents(s, dir), "doc_id", "text",
        shingleSize = 3, numHashes = 32, bands = 16, threshold = 0.5,
        md5Family = true)
      Dedup.dupClusters(pairs, "doc_a", "doc_b")
        .orderBy(col("doc_id"))
    },
      // same md5-family LSH pairs, then the dedup_clusters transitive
      // closure + keep-one selection over them
      oracleSql = Some(s"""WITH RECURSIVE $minhashBandsSql,
        |cand AS (
        |  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
        |  FROM bk l JOIN bk r
        |    ON l.b = r.b AND l.bucket = r.bucket AND l.doc_id < r.doc_id
        |),
        |pairs AS (
        |  SELECT doc_a, doc_b
        |  FROM cand
        |  JOIN sf a ON a.doc_id = cand.doc_a
        |  JOIN sf b ON b.doc_id = cand.doc_b
        |  WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
        |          / len(list_distinct(a.sh || b.sh)) >= 0.5
        |),
        |${closureSql("doc_a", "doc_b")}
        |SELECT doc_id, cluster_id, doc_id = cluster_id AS keep FROM (
        |  SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
        |  FROM reach GROUP BY u)
        |ORDER BY doc_id""".stripMargin)),

    // MinHash+LSH near-dup on the DuckDB-recomputable md5 hash family
    // (32 hashes, 16 bands of 2): the oracle rebuilds the identical
    // signatures/band buckets in SQL, making LSH candidate generation
    // itself hash-checked — same upgrade pattern as similarity_ivf_full_topk.
    QuerySpec("dedup_minhash", (s, dir) => {
      Dedup.minhashPairs(documents(s, dir), "doc_id", "text",
        numHashes = 32, bands = 16, threshold = 0.5, md5Family = true)
        .orderBy(col("doc_a"), col("doc_b"))
    },
      // md5 MinHash family (Dedup.minhashSigTable md5 branch): one md5 per
      // shingle split into integers a = int(hex[1..15]), b = int(hex[17..30]);
      // permutation i's value is a + i·b (exact in BIGINT, no mod); signature
      // entry = min over the shingle set; band bucket = '|'-joined decimal
      // pair — recomputed here verbatim, so LSH candidate generation itself
      // is hash-checked, then verified with the exact set Jaccard.
      oracleSql = Some(s"""WITH $minhashBandsSql,
        |cand AS (
        |  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
        |  FROM bk l JOIN bk r
        |    ON l.b = r.b AND l.bucket = r.bucket AND l.doc_id < r.doc_id
        |),
        |ver AS (
        |  SELECT doc_a, doc_b,
        |         len(list_intersect(a.sh, b.sh))::DOUBLE
        |           / len(list_distinct(a.sh || b.sh)) AS raw_j
        |  FROM cand
        |  JOIN sf a ON a.doc_id = cand.doc_a
        |  JOIN sf b ON b.doc_id = cand.doc_b
        |)
        |SELECT doc_a, doc_b, round(raw_j, 4) AS jaccard
        |FROM ver WHERE raw_j >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin),
      scaleNote = Some("band buckets carry (doc_id, band, bucket) only; candidate pairs dedup on ids, " +
        "sorted-hash shingle sets re-attach by id for the exact-Jaccard verify " +
        "(codegen'd intersect on LONG arrays, not string shingles).")),

    // SimHash near-dup candidates at Hamming ≤ 3 on the md5 family (60-bit
    // fingerprint, 4 blocks of 15): DuckDB recomputes fingerprints, block
    // buckets, and Hamming distances bit-for-bit → full oracle.
    QuerySpec("dedup_simhash", (s, dir) => {
      Dedup.simhashPairsMd5(documents(s, dir), "doc_id", "text", maxHamming = 3)
        .orderBy(col("doc_a"), col("doc_b"))
    },
      // md5 SimHash family (Dedup.simhash60Md5): per-shingle 60-bit hash =
      // first 15 md5 hex chars as an integer; bit j of the fingerprint set
      // iff the ±1 votes over the shingle set sum >= 0; candidates share one
      // of 4 intact 15-bit blocks (pigeonhole at Hamming <= 3), then exact
      // Hamming verification — every step recomputed here bit-for-bit.
      oracleSql = Some(s"""WITH sf AS (
        |$nonEmptyShinglesSql
        |),
        |hv AS (
        |  SELECT doc_id, ('0x' || substr(md5(e), 1, 15))::BIGINT AS h
        |  FROM (SELECT doc_id, unnest(sh) AS e FROM sf)
        |),
        |bits AS (
        |  SELECT doc_id, j,
        |         CASE WHEN sum(((h >> j) & 1) * 2 - 1) >= 0
        |              THEN (1::BIGINT << j) ELSE 0 END AS bv
        |  FROM hv, range(0, 60) t(j)
        |  GROUP BY doc_id, j
        |),
        |fp AS (SELECT doc_id, sum(bv)::BIGINT AS sh60 FROM bits GROUP BY doc_id),
        |blk AS (
        |  SELECT doc_id, sh60, b, (sh60 >> (b * 15)) & 32767 AS v
        |  FROM fp, range(0, 4) t(b)
        |)
        |SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
        |       bit_count(xor(l.sh60, r.sh60))::INTEGER AS hamming
        |FROM blk l JOIN blk r
        |  ON l.b = r.b AND l.v = r.v AND l.doc_id < r.doc_id
        |WHERE bit_count(xor(l.sh60, r.sh60)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin)),

    // The rewrite half of substring dedup (Lee et al. 2021 CUT the
    // duplicated spans): tokens covered by an earlier-owned 8-token run
    // are removed and the document rebuilt — dedup_exact_substr is the
    // audit view, this is the cleaned corpus.
    QuerySpec("dedup_substr_rewrite", (s, dir) => {
      Dedup.removeSharedSpans(documents(s, dir), "doc_id", "text", k = 8)
        .orderBy(col("doc_id"))
    },
      oracleSql = Some("""WITH t AS (SELECT doc_id, string_split_regex(text, ' +') AS toks FROM documents),
        |g AS (SELECT doc_id, i AS pos, array_to_string(toks[i:i+7], ' ') AS gram
        |      FROM t, unnest(range(1, len(toks) - 6)) u(i)),
        |o AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY gram),
        |cov AS (SELECT DISTINCT g.doc_id, v.p AS pos
        |        FROM g JOIN o USING (gram), unnest(range(g.pos, g.pos + 8)) v(p)
        |        WHERE g.doc_id > o.first_doc),
        |tok AS (SELECT doc_id, i AS pos, toks[i] AS tok
        |        FROM t, unnest(range(1, len(toks) + 1)) u(i)),
        |kept AS (SELECT tok.doc_id, count(*) AS n,
        |                string_agg(tok.tok, ' ' ORDER BY tok.pos) AS txt
        |         FROM tok LEFT JOIN cov
        |           ON tok.doc_id = cov.doc_id AND tok.pos = cov.pos
        |         WHERE cov.pos IS NULL
        |         GROUP BY tok.doc_id)
        |SELECT t.doc_id,
        |       len(t.toks)::BIGINT AS n_tokens,
        |       (len(t.toks) - coalesce(kept.n, 0))::BIGINT AS n_removed_tokens,
        |       coalesce(kept.txt, '') AS text_clean
        |FROM t LEFT JOIN kept USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin)),

    // SemDeDup (Abbas et al. 2023): k-means cells, in-cell cosine near-dup
    // groups, keep-one-per-group — the semantic dedup pass that catches
    // paraphrases text fingerprints miss (no SQL oracle: k-means-dependent;
    // totality, keeper invariants, in-cell recall = 1, and determinism
    // asserted in ScalaTest).
    // nlist <= 0 = AUTO cell sizing (Similarity.autoCells): cells ∝ corpus
    // size at ~250 expected occupancy, keeping in-cell pair cost linear —
    // resolves to 8 cells at the sf0.1 bench corpus (2000 vectors), the
    // same constant the fixed form ran through r14.
    QuerySpec("dedup_semantic", (s, dir) => {
      Dedup.semanticDedup(embeddings(s, dir), "vec_id", "embedding",
          nlist = -1, threshold = 0.3)
        .orderBy(col("vec_id"))
    }),

    // SemDeDup's EXACT regime: nlist = 1 puts every vector in one cell, so
    // the in-cell pair stage IS global all-pairs cosine and the whole
    // pipeline (assignment, pair join, connected components, keep-one)
    // becomes DuckDB-expressible — the same full-probe trick as
    // similarity_ivf_full_topk / select_cluster_balanced_exact. The
    // k-means-dependent auto-cells form above stays the scale path;
    // this entry hash-gates the machinery end to end. ORACLE-DUTY
    // QUADRATIC (86 s at x10 vs the auto-cells twin's 2.3x ratio,
    // SCALE.md) — same class as embedding_neardup, never the scale form.
    QuerySpec("dedup_semantic_exact", (s, dir) => {
      Dedup.semanticDedup(embeddings(s, dir), "vec_id", "embedding",
          nlist = 1, threshold = 0.3)
        .orderBy(col("vec_id"))
    },
      // nlist = 1 ⇒ one cell (cell 0), pairs = global all-pairs cosine,
      // clusters = recursive-CTE closure, keeper = min id; vectors with no
      // pair keep themselves (the operator's left-join + coalesce)
      oracleSql = Some(s"""WITH RECURSIVE pairs AS (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.3
        |),
        |${closureSql("vec_a", "vec_b")},
        |clusters AS (
        |  SELECT u AS vec_id, LEAST(u, MIN(v)) AS cluster_id
        |  FROM reach GROUP BY u
        |)
        |SELECT e.vec_id AS vec_id, 0 AS cell,
        |       coalesce(c.cluster_id, e.vec_id) AS cluster_id,
        |       coalesce(e.vec_id = c.cluster_id, TRUE) AS keep
        |FROM embeddings e LEFT JOIN clusters c ON e.vec_id = c.vec_id
        |ORDER BY e.vec_id""".stripMargin),
      scaleNote = Some("ORACLE SHAPE: nlist=1 puts the whole corpus in one k-means cell, so the in-cell " +
        "pair stage is deliberate global all-pairs cosine (86 s at x10, SCALE.md) — kept " +
        "because it makes the full SemDeDup pipeline DuckDB-checkable. " +
        "Scale path: dedup_semantic (auto-sized cells, occupancy-pinned, 2.3x at x10).")),

    // Incremental exact dedup: a new ingest batch (doc_id >= 400) anti-
    // joined against the kept corpus's fingerprint set (doc_id < 400) —
    // the daily-ingest dedup shape; the corpus side reduces to distinct
    // fingerprints before the join (see Dedup.incrementalExact).
    QuerySpec("dedup_incremental", (s, dir) => {
      val docs = documents(s, dir)
      Dedup.incrementalExact(
          docs.filter(col("doc_id") >= 400),
          docs.filter(col("doc_id") < 400),
          TextAnalysis.md5Fingerprint(col("text")))
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    },
      oracleSql = Some("""SELECT d.doc_id, d.lang
        |FROM documents d
        |WHERE d.doc_id >= 400
        |  AND NOT EXISTS (SELECT 1 FROM documents c
        |                  WHERE c.doc_id < 400
        |                    AND md5(lower(trim(c.text))) = md5(lower(trim(d.text))))
        |ORDER BY d.doc_id""".stripMargin)),

    // Incremental dedup with the Bloom prefilter — identical rows to
    // dedup_incremental (same oracle SQL): the bloom only routes rows
    // map-side, the exact anti join decides. At corpus scale the routed
    // batch shrinks the join probe side to ~fpp·|batch| + |dups|.
    QuerySpec("dedup_incremental_bloom", (s, dir) => {
      val docs = documents(s, dir)
      Dedup.incrementalBloom(
          docs.filter(col("doc_id") >= 400),
          docs.filter(col("doc_id") < 400),
          TextAnalysis.md5Fingerprint(col("text")))
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    },
      // identical to dedup_incremental by design: the bloom prefilter only
      // routes rows, the exact anti join decides
      oracleSql = Some("""SELECT d.doc_id, d.lang
        |FROM documents d
        |WHERE d.doc_id >= 400
        |  AND NOT EXISTS (SELECT 1 FROM documents c
        |                  WHERE c.doc_id < 400
        |                    AND md5(lower(trim(c.text))) = md5(lower(trim(d.text))))
        |ORDER BY d.doc_id""".stripMargin)),

    // Incremental NEAR-dup gate (exact): the new batch (doc_id >= 400) is
    // kept only where no corpus (< 400) document reaches Jaccard 0.5 in
    // its length block — the daily-ingest gate for lightly-EDITED re-posts
    // that dedup_incremental's exact fingerprints sail past.
    QuerySpec("dedup_incremental_jaccard", (s, dir) => {
      val d = documents(s, dir)
        .withColumn("len_bucket", floor(col("n_chars") / 100))
      Dedup.incrementalJaccardNew(
          d.filter(col("doc_id") >= 400), d.filter(col("doc_id") < 400),
          "doc_id", "text", Seq("len_bucket"), shingleSize = 3, threshold = 0.5)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    },
      oracleSql = Some(s"""WITH s AS (
        |$lenBucketShinglesSql)
        |SELECT d.doc_id, d.lang
        |FROM documents d
        |WHERE d.doc_id >= 400
        |  AND NOT EXISTS (
        |    SELECT 1
        |    FROM s b JOIN s c ON b.len_bucket = c.len_bucket
        |    WHERE b.doc_id = d.doc_id AND c.doc_id < 400
        |      AND len(list_intersect(b.sh, c.sh))::DOUBLE
        |            / len(list_distinct(b.sh || c.sh)) >= 0.5)
        |ORDER BY d.doc_id""".stripMargin)),

    // The LSH scale path for the same gate — banding replaces blocking, so
    // the corpus side joins on (band, bucket) only. md5 hash family makes
    // the banding DuckDB-recomputable → full oracle; no-false-flags +
    // recall vs the unblocked exact gate stay asserted in ScalaTest.
    QuerySpec("dedup_incremental_minhash", (s, dir) => {
      val d = documents(s, dir)
      Dedup.incrementalMinhashNew(
          d.filter(col("doc_id") >= 400), d.filter(col("doc_id") < 400),
          "doc_id", "text", numHashes = 32, bands = 16, threshold = 0.5,
          md5Family = true)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    },
      // md5-family incremental gate: batch (doc_id >= 400) survives unless an
      // LSH band bucket it shares with the corpus (< 400) verifies at J >= 0.5
      oracleSql = Some(s"""WITH $minhashBandsSql,
        |cand AS (
        |  SELECT DISTINCT l.doc_id AS batch_id, r.doc_id AS corpus_id
        |  FROM bk l JOIN bk r ON l.b = r.b AND l.bucket = r.bucket
        |  WHERE l.doc_id >= 400 AND r.doc_id < 400
        |),
        |flagged AS (
        |  SELECT DISTINCT batch_id
        |  FROM cand
        |  JOIN sf a ON a.doc_id = cand.batch_id
        |  JOIN sf b ON b.doc_id = cand.corpus_id
        |  WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
        |          / len(list_distinct(a.sh || b.sh)) >= 0.5
        |)
        |SELECT doc_id, lang FROM documents
        |WHERE doc_id >= 400
        |  AND doc_id NOT IN (SELECT batch_id FROM flagged)
        |ORDER BY doc_id""".stripMargin)),

    // Substring-span dedup: docs sharing any 8-token run with an earlier
    // doc — catches partial duplication whole-doc fingerprints miss.
    QuerySpec("dedup_exact_substr", (s, dir) => {
      Dedup.exactSubstringDups(documents(s, dir), "doc_id", "text", k = 8)
        .orderBy(col("doc_id"))
    },
      oracleSql = Some("""WITH g AS (
        |  SELECT doc_id, unnest(list_distinct([array_to_string(toks[i:i+7], ' ')
        |                                       for i in range(1, len(toks) - 6)])) AS gram
        |  FROM (SELECT doc_id, string_split_regex(text, ' +') AS toks FROM documents)
        |), o AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY gram)
        |SELECT g.doc_id, count(*)::BIGINT AS n_shared_spans, min(o.first_doc) AS first_src
        |FROM g JOIN o USING (gram)
        |WHERE g.doc_id > o.first_doc
        |GROUP BY g.doc_id
        |ORDER BY g.doc_id""".stripMargin)),

    // Chunk-level dedup composition: chunkTokens' chunk_hash feeding
    // Dedup.exactByKey — dedup CHUNKS across documents (boilerplate spans
    // repeat even when whole docs differ), reporting per-doc chunk counts
    // and how many survive as the canonical copy. The keeper of each
    // distinct chunk is the lowest (doc_id, chunk_idx) — deterministic.
    QuerySpec("dedup_chunks", (s, dir) => {
      val chunks = Pipeline.chunkTokens(documents(s, dir), col("doc_id"),
          col("text"), window = 64, stride = 48)
        .withColumn("chunk_uid", col("id") * lit(1000000L) + col("chunk_idx"))
      val keep = Dedup.exactByKey(
        chunks.select(col("chunk_hash"), col("chunk_uid")),
        col("chunk_hash"), col("chunk_uid"))
      chunks
        .join(keep.select(col("chunk_uid"), lit(1L).as("__kept")),
          Seq("chunk_uid"), "left")
        .groupBy(col("id").as("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(coalesce(col("__kept"), lit(0L))).as("n_kept"))
        .orderBy(col("doc_id"))
    },
      oracleSql = Some("""WITH d AS (SELECT doc_id, string_split_regex(text, ' +') AS toks FROM documents),
        |c AS (SELECT doc_id,
        |             doc_id * 1000000 + s // 48 AS chunk_uid,
        |             md5(array_to_string(toks[s + 1:s + 64], ' ')) AS chunk_hash
        |      FROM d, unnest(range(0, len(toks), 48)) u(s)),
        |k AS (SELECT chunk_hash, min(chunk_uid) AS chunk_uid FROM c GROUP BY chunk_hash)
        |SELECT c.doc_id, count(*)::BIGINT AS n_chunks,
        |       sum(CASE WHEN k.chunk_uid IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_kept
        |FROM c LEFT JOIN k ON c.chunk_uid = k.chunk_uid
        |GROUP BY c.doc_id
        |ORDER BY c.doc_id""".stripMargin)),

    // Line-level boilerplate dedup (C4/RefinedWeb-style): lines repeated
    // across the corpus are stripped, documents rebuilt from what's left.
    // The fixture's documents are single-line, so the query frames each in
    // the boilerplate a crawled page carries (header/footer repeated on
    // every doc) — the frame must vanish, unique content must survive, and
    // whole-doc duplicate content lines (which repeat corpus-wide) go too.
    QuerySpec("dedup_lines", (s, dir) => {
      val framed = documents(s, dir).select(col("doc_id"),
        concat(lit("subscribe to our newsletter\n"), col("text"),
          lit("\ncopyright example corp all rights reserved")).as("page"))
      Dedup.lineLevelDedup(framed, "doc_id", "page", maxOcc = 1)
        .orderBy(col("doc_id"))
    },
      oracleSql = Some("""WITH d AS (
        |  SELECT doc_id,
        |         'subscribe to our newsletter' || chr(10) || text || chr(10) ||
        |         'copyright example corp all rights reserved' AS page
        |  FROM documents),
        |s AS (SELECT doc_id, string_split(page, chr(10)) AS ls FROM d),
        |l AS (SELECT doc_id, i + 1 AS line_no, ls[i + 1] AS line
        |      FROM s, unnest(range(0, len(ls))) u(i)),
        |hot AS (SELECT trim(line, ' ' || chr(13)) AS k, count(*) AS c
        |        FROM l WHERE trim(line, ' ' || chr(13)) <> ''
        |        GROUP BY 1 HAVING count(*) > 1),
        |m AS (SELECT l.doc_id, l.line_no, l.line, hot.k IS NULL AS keep
        |      FROM l LEFT JOIN hot ON trim(l.line, ' ' || chr(13)) = hot.k)
        |SELECT doc_id, count(*)::BIGINT AS n_lines,
        |       coalesce(sum(CASE WHEN keep THEN 0 ELSE 1 END), 0)::BIGINT AS n_removed,
        |       coalesce(string_agg(line, chr(10) ORDER BY line_no)
        |                  FILTER (WHERE keep), '') AS text_clean
        |FROM m
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin))
  )

  /** DuckDB select of each document's distinct word-3-gram shingle set
    * `sh` (the [[Dedup.ngramJaccardPairs]] tokenization) with a `key`
    * column computed from the `documents` column `src`.
    */
  private def shinglesSql(key: String, src: String): String =
    s"""  SELECT doc_id, $key,
       |         list_distinct([array_to_string(toks[i:i+2], ' ')
       |                        for i in range(1, len(toks) - 1)]) AS sh
       |  FROM (SELECT doc_id, $src, string_split_regex(text, ' +') AS toks
       |        FROM documents)""".stripMargin

  private[queries] val lenBucketShinglesSql = shinglesSql("n_chars // 100 AS len_bucket", "n_chars")
  private val langShinglesSql = shinglesSql("lang", "lang")

  /** DuckDB CTEs `sf` (non-empty shingle sets), `mh`/`sg` (the 32-value
    * md5 MinHash signature, Dedup.minhashSigTable's md5 branch) and `bk`
    * (16 bands of 2 values as '|'-joined buckets).
    */
  private def minhashBandsSql: String =
    s"""sf AS (
       |$nonEmptyShinglesSql
       |),
       |mh AS (
       |  SELECT doc_id, i, min(a + i*b) AS h
       |  FROM (SELECT doc_id,
       |               ('0x' || substr(m, 1, 15))::BIGINT AS a,
       |               ('0x' || substr(m, 17, 14))::BIGINT AS b
       |        FROM (SELECT doc_id, md5(unnest(sh)) AS m FROM sf)),
       |       range(0, 32) t(i)
       |  GROUP BY doc_id, i
       |),
       |sg AS (SELECT doc_id, list(h ORDER BY i) AS sig FROM mh GROUP BY doc_id),
       |bk AS (
       |  SELECT doc_id, b, sig[2*b + 1]::VARCHAR || '|' || sig[2*b + 2]::VARCHAR AS bucket
       |  FROM sg, range(0, 16) t(b)
       |)""".stripMargin

  /** DuckDB select of the non-empty shingle sets of the MinHash/SimHash
    * oracles: a document under 3 tokens has no shingles and no signature.
    */
  private val nonEmptyShinglesSql =
    """  SELECT doc_id, sh FROM (
      |    SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ')
      |                                  for i in range(1, len(toks) - 1)]) AS sh
      |    FROM (SELECT doc_id, string_split_regex(text, ' +') AS toks
      |          FROM documents))
      |  WHERE len(sh) > 0""".stripMargin

  /** DuckDB CTEs `edges` (undirected pair graph over `pairs(a, b)`) and
    * `reach` (its transitive closure, self-loops excluded): the
    * connected-component oracle of [[Dedup.dupClusters]].
    */
  private[queries] def closureSql(a: String, b: String): String =
    s"""edges AS (
       |  SELECT $a AS u, $b AS v FROM pairs
       |  UNION
       |  SELECT $b AS u, $a AS v FROM pairs
       |),
       |reach AS (
       |  SELECT u, v FROM edges
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
       |  WHERE e.v <> r.u
       |)""".stripMargin
}
