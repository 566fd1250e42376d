package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables.documents
import graft.operators.{Guards, Pipeline, Profile, QualityModel, TextAnalysis}
import graft.functions.FrequentItems

/** Text statistics, tokenizers, perplexity and quality filters over
  * `documents`.
  */
object TextQueries {

  def specs: Seq[QuerySpec] = Seq(

    // Okapi BM25 relevance scores for a fixed 3-term query — the search
    // scoring function, completing the retrieval family (TF-IDF weighs the
    // corpus, DSIR matches distributions, BM25 ranks against a query).
    // One 1-row stats broadcast + a per-row projection; the float chain is
    // written in one fixed order the oracle mirrors token for token.
    QuerySpec("text_bm25", (s, dir) => {
      TextAnalysis.bm25Scores(documents(s, dir), col("doc_id"), col("text"),
          terms = Seq("join", "vector", "spark"))
        .filter(pmod(col("id"), lit(10)) === 0)
        .select(col("id").as("doc_id"), col("dl"), col("bm25"))
        .orderBy(col("doc_id"))
    },
      oracleSql = Some("""WITH t AS (
        |  SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS toks
        |  FROM documents),
        |d AS (SELECT doc_id, toks, len(toks)::BIGINT AS dl FROM t),
        |s AS (
        |  SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS tot,
        |         sum(CASE WHEN list_contains(toks, 'join')
        |             THEN 1 ELSE 0 END)::BIGINT AS df0,
        |         sum(CASE WHEN list_contains(toks, 'vector')
        |             THEN 1 ELSE 0 END)::BIGINT AS df1,
        |         sum(CASE WHEN list_contains(toks, 'spark')
        |             THEN 1 ELSE 0 END)::BIGINT AS df2
        |  FROM d),
        |w AS (
        |  SELECT doc_id, dl,
        |         len(list_filter(toks, x -> x = 'join'))::BIGINT AS tf0,
        |         len(list_filter(toks, x -> x = 'vector'))::BIGINT AS tf1,
        |         len(list_filter(toks, x -> x = 'spark'))::BIGINT AS tf2,
        |         n, tot, df0, df1, df2,
        |         (1.0 - 0.75) + 0.75 * ((dl * n)::DOUBLE / tot::DOUBLE) AS nrm
        |  FROM d CROSS JOIN s)
        |SELECT doc_id, dl,
        |       floor((
        |         CASE WHEN tf0 > 0 THEN
        |           ln(1.0 + ((n - df0)::DOUBLE + 0.5) / (df0::DOUBLE + 0.5))
        |           * (tf0::DOUBLE * (1.2 + 1.0)
        |              / (tf0::DOUBLE + 1.2 * nrm)) ELSE 0.0 END
        |         + CASE WHEN tf1 > 0 THEN
        |           ln(1.0 + ((n - df1)::DOUBLE + 0.5) / (df1::DOUBLE + 0.5))
        |           * (tf1::DOUBLE * (1.2 + 1.0)
        |              / (tf1::DOUBLE + 1.2 * nrm)) ELSE 0.0 END
        |         + CASE WHEN tf2 > 0 THEN
        |           ln(1.0 + ((n - df2)::DOUBLE + 0.5) / (df2::DOUBLE + 0.5))
        |           * (tf2::DOUBLE * (1.2 + 1.0)
        |              / (tf2::DOUBLE + 1.2 * nrm)) ELSE 0.0 END
        |       ) * 10000.0 + 0.5)::BIGINT / 10000.0 AS bm25
        |FROM w WHERE doc_id % 10 = 0
        |ORDER BY doc_id""".stripMargin)),

    // Hapax-legomena census per source: what fraction of the distinct
    // vocabulary occurs exactly once — the Heaps-law freshness signal
    // (template spam collapses toward 0, OCR noise explodes toward 1).
    QuerySpec("text_hapax", (s, dir) => {
      TextAnalysis.hapaxCensus(documents(s, dir), Seq(col("source")), col("text"))
        .select(col("source"), col("n_terms"), col("n_hapax"), col("hapax_ppm"))
        .orderBy(col("source"))
    },
      oracleSql = Some("""WITH t AS (
        |  SELECT source, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS term
        |  FROM documents),
        |c AS (SELECT source, term, count(*)::BIGINT AS c FROM t GROUP BY 1, 2)
        |SELECT source, count(*)::BIGINT AS n_terms,
        |       sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS n_hapax,
        |       ((sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000 * 2
        |         + count(*)) // (count(*) * 2))::BIGINT AS hapax_ppm
        |FROM c GROUP BY source
        |ORDER BY source""".stripMargin)),

    // Zipf-exponent census per source: OLS slope of ln(freq) on ln(rank)
    // over the top-200 terms — natural text sits near −1; templated or
    // synthetic partitions flatten/steepen it. Bounded-heap top-K, no
    // vocabulary sort; tie-invariant so the heap's hash tiebreak and the
    // oracle's (freq DESC, term ASC) row_number see the same multiset.
    QuerySpec("text_zipf", (s, dir) => {
      TextAnalysis.zipfCensus(documents(s, dir), Seq(col("source")), col("text"))
        .select(col("source"), col("n_tokens"), col("vocab"),
          col("n_top"), col("zipf_slope"))
        .orderBy(col("source"))
    },
      oracleSql = Some("""WITH t AS (
        |  SELECT source, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS term
        |  FROM documents),
        |tf AS (SELECT source, term, count(*)::BIGINT AS c FROM t GROUP BY 1, 2),
        |stats AS (
        |  SELECT source, sum(c)::BIGINT AS n_tokens, count(*)::BIGINT AS vocab
        |  FROM tf GROUP BY 1),
        |top AS (
        |  SELECT source, ln(r::DOUBLE) AS x, ln(c::DOUBLE) AS y
        |  FROM (SELECT source, c, row_number() OVER (
        |          PARTITION BY source ORDER BY c DESC, term) AS r
        |        FROM tf)
        |  WHERE r <= 200),
        |ols AS (
        |  SELECT source, count(*)::DOUBLE AS n, sum(x) AS sx, sum(y) AS sy,
        |         sum(x * y) AS sxy, sum(x * x) AS sxx
        |  FROM top GROUP BY 1)
        |SELECT s.source, s.n_tokens, s.vocab, n::BIGINT AS n_top,
        |       CASE WHEN n >= 2
        |            THEN round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
        |       END AS zipf_slope
        |FROM stats s JOIN ols USING (source)
        |ORDER BY source""".stripMargin)),

    // Blocklist filter census (C4 badwords drop rule): ONE Aho-Corasick
    // pass per doc over the whole phrase list — the list includes a
    // pattern nested inside another ("merge" ⊂ "merge batch", exercising
    // the dictionary-suffix collapse) and an absent phrase. Oracle: plain
    // per-pattern strpos in DuckDB — doc-level distinct-pattern semantics
    // keep it exact.
    QuerySpec("text_blocklist", (s, dir) => {
      TextAnalysis.blocklistCensus(documents(s, dir), Seq(col("source")),
          col("text"), blocklistPatterns)
        .select(col("source"), col("n_docs"), col("n_flagged"),
          col("n_kept"), col("pattern_hits"))
        .orderBy(col("source"))
    },
      oracleSql = Some(s"""WITH p(pat) AS (VALUES
        |    ${blocklistPatterns.map(p => s"('${p.replace("'", "''")}')").mkString(", ")}),
        |hits AS (
        |  SELECT d.source, d.doc_id,
        |         sum(CASE WHEN strpos(d.text, p.pat) > 0 THEN 1 ELSE 0 END) AS h
        |  FROM documents d CROSS JOIN p
        |  GROUP BY 1, 2)
        |SELECT source, count(*)::BIGINT AS n_docs,
        |       sum(CASE WHEN h > 0 THEN 1 ELSE 0 END)::BIGINT AS n_flagged,
        |       sum(CASE WHEN h > 0 THEN 0 ELSE 1 END)::BIGINT AS n_kept,
        |       sum(h)::BIGINT AS pattern_hits
        |FROM hits GROUP BY source
        |ORDER BY source""".stripMargin)),

    // Flesch-Kincaid readability census per source — the complexity screen
    // next to the Gopher rules. Deterministic counting conventions (word/
    // sentence/vowel-group runs via codegen'd regexp_extract_all), grade
    // in exact clamped milli-units, round-half-up divisions only.
    QuerySpec("text_readability", (s, dir) => {
      TextAnalysis.readabilityCensus(documents(s, dir), Seq(col("source")),
          col("text"))
        .select(col("source"), col("n_docs"), col("mean_grade_milli"))
        .orderBy(col("source"))
    },
      oracleSql = Some("""WITH g AS (
        |  SELECT source,
        |         len(regexp_extract_all(text, '[A-Za-z]+'))::BIGINT AS w,
        |         greatest(1,
        |           len(regexp_extract_all(text, '[.!?]+')))::BIGINT AS s,
        |         len(regexp_extract_all(text, '[aeiouyAEIOUY]+'))::BIGINT AS syl
        |  FROM documents),
        |d AS (
        |  SELECT source,
        |         greatest(0, (390 * w * 2 + s) // (s * 2)
        |                     + (11800 * syl * 2 + w) // (w * 2) - 15590) AS grade
        |  FROM g WHERE w > 0)
        |SELECT source, count(*)::BIGINT AS n_docs,
        |       ((sum(grade) * 2 + count(*))
        |        // (count(*) * 2))::BIGINT AS mean_grade_milli
        |FROM d GROUP BY source
        |ORDER BY source""".stripMargin)),

    // Snapshot diff audit: synthetic "tomorrow" snapshot (every 97th doc
    // deleted, every 41st revised, every 89th re-added under a new id)
    // diffed against today's by md5 fingerprint — one full outer join
    // carrying (id, hash), bodies never shuffle. Census per change kind.
    QuerySpec("corpus_diff", (s, dir) => {
      val a = documents(s, dir)
      val b = a.filter(pmod(col("doc_id"), lit(97)) =!= 0)
        .withColumn("text",
          when(pmod(col("doc_id"), lit(41)) === 0, concat(col("text"), lit(" rev2")))
            .otherwise(col("text")))
        .unionByName(
          a.filter(pmod(col("doc_id"), lit(89)) === 0)
            .withColumn("doc_id", col("doc_id") + 1000000L))
      Profile.snapshotDiff(a, b, "doc_id", "text")
        .groupBy(col("change"))
        .agg(count(lit(1)).as("n"), min(col("id")).as("first_id"))
        .orderBy(col("change"))
    },
      oracleSql = Some("""WITH a AS (SELECT doc_id, md5(text) AS h FROM documents),
        |b0 AS (SELECT doc_id,
        |              CASE WHEN doc_id % 41 = 0 THEN text || ' rev2' ELSE text END AS text
        |       FROM documents WHERE doc_id % 97 <> 0),
        |b1 AS (SELECT doc_id + 1000000 AS doc_id, text
        |       FROM documents WHERE doc_id % 89 = 0),
        |b AS (SELECT doc_id, md5(text) AS h FROM
        |        (SELECT * FROM b0 UNION ALL SELECT * FROM b1)),
        |d AS (SELECT coalesce(a.doc_id, b.doc_id) AS id,
        |             CASE WHEN b.h IS NULL THEN 'removed'
        |                  WHEN a.h IS NULL THEN 'added'
        |                  WHEN a.h <> b.h THEN 'changed'
        |                  ELSE 'unchanged' END AS change
        |      FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
        |SELECT change, count(*)::BIGINT AS n, min(id)::BIGINT AS first_id
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin)),

    // TF-IDF top-3 terms per document: tf and df are hash aggs, the corpus
    // size joins in as a broadcast 1-row agg (never a driver-side count),
    // ranking is a per-doc window. Rank on the ROUNDED score + token
    // tie-break so ordering is identical across engines.
    QuerySpec("text_tfidf", (s, dir) => {
      val toks = documents(s, dir)
        .select(col("doc_id"), explode(TextAnalysis.wordTokens(col("text"))).as("token"))
      val tf = toks.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
      // df = rows per token IN tf, as a window — one shuffle of the compact
      // (doc, token, tf) agg by token, no second corpus explode and no join
      // back. N comes from the base table without exploding (docs with at
      // least one token, matching the toks-derived count).
      val n = documents(s, dir).agg(
        countDistinct(when(TextAnalysis.tokenCount(col("text")) > 0,
          col("doc_id"))).as("n_total"))
      val scored = tf
        .withColumn("df", count(lit(1)).over(Window.partitionBy(col("token"))))
        .crossJoin(broadcast(n))
        .withColumn("tfidf",
          round(col("tf") * log(col("n_total").cast("double") / col("df")), 4))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("tfidf").desc, col("token"))
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("token"), col("tfidf"))
        .orderBy(col("doc_id"), col("tfidf").desc, col("token"))
    },
      oracleSql = Some("""WITH toks AS (
        |  SELECT doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS token
        |  FROM documents
        |),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token),
        |df AS (SELECT token, count(DISTINCT doc_id) AS df FROM toks GROUP BY token),
        |n AS (SELECT count(DISTINCT doc_id) AS n_total FROM toks)
        |SELECT doc_id, token, tfidf FROM (
        |  SELECT tf.doc_id, tf.token,
        |         round(tf.tf * ln(n.n_total::DOUBLE / df.df), 4) AS tfidf,
        |         row_number() OVER (
        |           PARTITION BY tf.doc_id
        |           ORDER BY round(tf.tf * ln(n.n_total::DOUBLE / df.df), 4) DESC, tf.token) AS rk
        |  FROM tf JOIN df USING (token) CROSS JOIN n)
        |WHERE rk <= 3
        |ORDER BY doc_id, tfidf DESC, token""".stripMargin)),

    // Per-document novelty: fraction of a doc's distinct 3-token shingles
    // with corpus document-frequency 1 — the complement signal of the
    // MinHash family (shared shingles instead of shared signatures), used
    // to weight selection toward original prose. Integer ppm end to end;
    // the gram-keyed join is the exact-substring-dedup shape, never
    // all-pairs.
    QuerySpec("text_novelty", (s, dir) => {
      TextAnalysis.noveltyCensus(documents(s, dir), "doc_id", "text",
          shingleSize = 3)
        .orderBy(col("doc_id"))
    },
      oracleSql = Some("""WITH s AS (
        |  SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ')
        |                                for i in range(1, len(toks) - 1)]) AS sh
        |  FROM (SELECT doc_id, string_split_regex(text, ' +') AS toks
        |        FROM documents)),
        |g AS (SELECT doc_id, unnest(sh) AS shingle FROM s),
        |d AS (SELECT shingle, count(*)::BIGINT AS df FROM g GROUP BY 1)
        |SELECT g.doc_id, count(*)::BIGINT AS n_shingles,
        |       sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END)::BIGINT AS n_unique,
        |       ((sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) * 2000000 + count(*))
        |        // (count(*) * 2))::BIGINT AS novelty_ppm
        |FROM g JOIN d USING (shingle)
        |GROUP BY g.doc_id
        |ORDER BY g.doc_id""".stripMargin)),

    // Compression-ratio quality screen (zlib-family): DEFLATE size of each
    // document at fixed level over its raw UTF-8 bytes, as basis points.
    // Highly compressible = boilerplate/template spam; incompressible =
    // binary junk. Native codegen'd expression (functions/DeflateSize) —
    // pure per-row CPU, no shuffle. No SQL oracle (DuckDB has no deflate);
    // invariant + determinism specs in OperatorsSuite.
    QuerySpec("text_compression_ratio", (s, dir) => {
      val raw = octet_length(col("text"))
      documents(s, dir)
        .withColumn("raw_bytes", raw.cast("long"))
        .withColumn("deflate_bytes",
          graft.functions.DeflateSize.deflateSize(col("text")).cast("long"))
        .filter(col("raw_bytes") > 0)
        .withColumn("ratio_bp",
          (col("deflate_bytes") * 10000L / col("raw_bytes")).cast("long"))
        .select(col("doc_id"), col("raw_bytes"), col("deflate_bytes"), col("ratio_bp"))
        .orderBy(col("doc_id"))
    }),

    // Real subword token budgeting: train a BPE merge table on the corpus'
    // word-frequency head (one explode + hash agg + bounded-heap top-k →
    // driver merge loop — the sampled-codebook pattern), then count tokens
    // in one codegen'd pass with the merges riding the expression. Census
    // per source: whitespace counts vs subword counts. Oracle-tier via the
    // generated-SQL pattern (langid/EWMA): the TRAINING loop isn't SQL-
    // expressible, but the trained merge table is a bounded deterministic
    // artifact — the query captures it and oracleSql (evaluated AFTER the
    // queries run — Verify's dump order) emits DuckDB SQL that replays
    // greedy encoding from those literals. Training itself stays pinned by
    // the AnalyticsSuite textbook/parity specs.
    QuerySpec("text_bpe_tokens", (s, dir) => {
      val docs = documents(s, dir)
      // the synthetic corpus has a ~31-word vocabulary; 40 merges leaves
      // rare words split into subwords (200 would reconstruct every word
      // whole and the census would just equal the whitespace counts)
      val merges = graft.operators.Bpe.train(docs, col("text"),
        numMerges = 40, maxWords = 20000)
      bpeTrainedMerges = merges
      docs.select(col("source"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("ws"),
          graft.operators.Bpe.tokenCount(col("text"), merges).cast("long").as("bpe"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ws")).as("ws_tokens"),
          sum(col("bpe")).as("bpe_tokens"))
        .orderBy(col("source"))
    },
      oracleSql = Some(bpeOracleSql(bpeTrainedMerges))),

    // Unigram-LM (SentencePiece) tokenizer census — the other half of the
    // subword family next to text_bpe_tokens: EM-fitted piece table over
    // the word-frequency head, Viterbi encode on executors. vocabSize 64
    // over the ~31-word synthetic vocabulary keeps rare words split into
    // pieces. Oracle: the trained table is the embedded model artifact and
    // the Viterbi DP is INDEPENDENTLY re-run in SQL (unigramOracleSql).
    QuerySpec("text_unigram_tokens", (s, dir) => {
      val docs = documents(s, dir)
      val pieces = graft.operators.Unigram.train(docs, col("text"),
        vocabSize = 64, maxWords = 20000)
      unigramTrainedPieces = pieces
      unigramMaxWordLen = docs
        .select(explode(graft.functions.Tokenize.wordTokens(col("text"))).as("w"))
        .agg(coalesce(max(length(col("w"))), lit(1)).as("m"))
        .collect()(0).getInt(0).max(1)
      docs.select(col("source"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("ws"),
          graft.operators.Unigram.tokenCount(col("text"), pieces).cast("long").as("uni"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ws")).as("ws_tokens"),
          sum(col("uni")).as("uni_tokens"))
        .orderBy(col("source"))
    },
      oracleSql = Some(unigramOracleSql(unigramTrainedPieces, unigramMaxWordLen))),

    // Term frequency: explode word tokens → hash agg → global top-20.
    QuerySpec("text_term_freq", (s, dir) => {
      documents(s, dir)
        .select(explode(TextAnalysis.wordTokens(col("text"))).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(20)
    },
      oracleSql = Some("""SELECT token, count(*) AS n
        |FROM (SELECT unnest(regexp_extract_all(text, '[a-z0-9]+')) AS token
        |      FROM documents)
        |GROUP BY token
        |ORDER BY n DESC, token
        |LIMIT 20""".stripMargin)),

    // Heavy hitters WITHOUT shuffling the vocabulary: Misra-Gries sketch
    // (256 counters per partition, merge-order-invariant sum, top 20 at
    // eval) — the scale companion of text_term_freq's exact hash agg,
    // whose exchange carries one row per distinct term per partition (no
    // SQL oracle: summary-dependent estimates; the n/(k+1) undercount
    // guarantee is asserted against exact counts in ScalaTest).
    QuerySpec("text_heavy_hitters", (s, dir) => {
      documents(s, dir)
        .select(explode(TextAnalysis.wordTokens(col("text"))).as("token"))
        .agg(FrequentItems.freqItems(col("token"), 256, 20).as("hh"))
        .select(posexplode(col("hh")).as(Seq("rank0", "e")))
        .select((col("rank0") + 1).as("rank"),
          col("e.item").as("token"), col("e.est_count").as("est_count"))
    }),

    // The SAME native Misra-Gries aggregate in its EXACT regime: MG never
    // decrements when capacity >= distinct items, so with the fixture
    // vocabulary far below the 4096 capacity the sketch's counts ARE the
    // exact term frequencies — which hands the whole native-aggregate
    // path (update/merge/serialize/eval tie-break) a DuckDB hash gate,
    // the generated-oracle trick that took BPE to oracle tier. The sketch
    // regime above stays rows-tier by nature. The premise is ENFORCED in
    // the plan: an assert_true filter on the distinct-token count raises
    // loudly if a larger corpus ever outgrows the capacity, instead of
    // failing the gate with a confusing undercount diff.
    QuerySpec("text_heavy_hitters_exact", (s, dir) => {
      val toks = documents(s, dir)
        .select(explode(TextAnalysis.wordTokens(col("text"))).as("token"))
      val guard = toks.agg(countDistinct(col("token")).as("__nd"))
      Guards.inPlanAssert(
          toks.agg(FrequentItems.freqItems(col("token"), 4096, 4096).as("hh")),
          guard, col("__nd") <= 4096,
          "text_heavy_hitters_exact: vocabulary exceeds the exact-regime " +
            "capacity (4096) — the MG sketch would decrement; raise the capacity " +
            "or use text_heavy_hitters (sketch regime)")
        .select(posexplode(col("hh")).as(Seq("rank0", "e")))
        .select((col("rank0") + 1).cast("long").as("rank"),
          col("e.item").as("token"), col("e.est_count").as("n"))
    },
      // the MG aggregate's exact regime (capacity >= vocabulary): estimated
      // counts equal true counts, (count desc, token asc) rank order
      oracleSql = Some("""WITH t AS (
        |  SELECT unnest(regexp_extract_all(text, '[a-z0-9]+')) AS token
        |  FROM documents),
        |c AS (SELECT token, count(*)::BIGINT AS n FROM t GROUP BY token)
        |SELECT row_number() OVER (ORDER BY n DESC, token)::BIGINT AS rank, token, n
        |FROM c
        |ORDER BY rank""".stripMargin)),

    // Per-language token statistics.
    QuerySpec("text_stats", (s, dir) => {
      val d = documents(s, dir)
      d.groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          round(avg(col("n_chars")), 2).as("avg_chars"),
          round(avg(size(TextAnalysis.wsTokens(col("text")))), 4).as("avg_ws_tokens"),
          round(avg(TextAnalysis.tokenCount(col("text"))), 4).as("avg_word_tokens"))
        .orderBy(col("lang"))
    },
      oracleSql = Some("""SELECT lang, count(*) AS n_docs,
        |       round(avg(n_chars), 2) AS avg_chars,
        |       round(avg(len(string_split_regex(text, ' +'))), 4) AS avg_ws_tokens,
        |       round(avg(len(regexp_extract_all(text, '[a-z0-9]+'))), 4) AS avg_word_tokens
        |FROM documents
        |GROUP BY lang
        |ORDER BY lang""".stripMargin)),

    // Model-based quality filter (the GPT-3 §A.2 / CCNet classifier
    // step): a hashed-BOW logistic classifier trained (spark.ml L-BFGS —
    // one treeAggregate per iteration, distributed) to tell the corpus'
    // real text from a synthetic-noise negative class, then applied as a
    // NATIVE scan — weights ride one broadcast row, the logit is a
    // codegen'd aggregate over hash() buckets, no UDF near the corpus.
    // (No SQL oracle: learned model. Native ≡ trained arithmetic,
    // held-out separation, and the filter composition are ScalaTest-
    // asserted; the model artifact is bounded — 2^15 doubles.) Training
    // runs at QUERY-CONSTRUCTION time — the weights compile into the
    // plan, exactly the PqCodes pattern, so even a plan-only consumer
    // (graft.Explain) pays the ~2 s fit; a production loop trains
    // offline and freezes the artifact.
    QuerySpec("text_quality_model", (s, dir) => {
      val clean = documents(s, dir).select(col("doc_id"), col("text"))
      val noise = clean.select((col("doc_id") + 1000000L).as("doc_id"),
        QualityModel.syntheticNoise(col("text")).as("text"))
      val model = QualityModel.trainQualityClassifier(
        clean.filter(col("doc_id") % 4 === 0),
        noise.filter(col("doc_id") % 4 === 0),
        "text", numFeatures = 1 << 15, maxIter = 5)
      QualityModel.scoreQuality(clean.unionByName(noise), "text", model)
        .select(col("doc_id"), col("quality_prob"))
        .orderBy(col("doc_id"))
    },
      scaleNote = Some("training (spark.ml L-BFGS) runs at query-construction time and compiles the weights " +
        "into the plan — the PqCodes in-plan-artifact pattern. A production loop trains " +
        "offline and freezes the artifact; the scoring scan itself is broadcast-weights + " +
        "codegen'd aggregate, no UDF.")),

    // Per-document quality scores.
    QuerySpec("text_quality", (s, dir) => {
      TextAnalysis.withQuality(documents(s, dir), col("text"))
        .select(
          col("doc_id"),
          col("n_tokens"),
          // already exact 4-decimal via ratio4 — no re-round
          col("mean_token_len"),
          col("alpha_ratio"),
          col("stopword_ratio"))
        .orderBy(col("doc_id"))
    },
      oracleSql = Some("""SELECT doc_id,
        |       len(toks) AS n_tokens,
        |       (20000 * coalesce(list_sum(list_transform(toks, t -> length(t))), 0)
        |          + greatest(len(toks), 1)) // (2 * greatest(len(toks), 1))
        |         / 10000.0 AS mean_token_len,
        |       (20000 * length(regexp_replace(text, '[^a-z]', '', 'g'))
        |          + greatest(length(text), 1)) // (2 * greatest(length(text), 1))
        |         / 10000.0 AS alpha_ratio,
        |       (20000 * len(list_filter(toks,
        |                 t -> t IN ('the','a','and','of','to','in','is','it')))
        |          + greatest(len(toks), 1)) // (2 * greatest(len(toks), 1))
        |         / 10000.0 AS stopword_ratio
        |FROM (SELECT doc_id, text, string_split_regex(text, ' +') AS toks FROM documents)
        |ORDER BY doc_id""".stripMargin)),

    // Language-ID heuristic (marker hit-rate argmax; deterministic — the
    // struct-max tie-break is the same field-order comparison on both
    // engines, so this is fully oracle-checked).
    QuerySpec("text_langid", (s, dir) => {
      documents(s, dir)
        .withColumn("lang_pred", TextAnalysis.langId(col("text")))
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("lang"), col("lang_pred"))
    },
      // generated from TextAnalysis.LangMarkers — one source of truth for
      // both engines (widening the language table cannot desynchronize them)
      oracleSql = Some({
      val entries = graft.operators.TextAnalysis.LangMarkers.toSeq.sortBy(_._1)
        .map { case (lang, ms) =>
          val in = ms.map(m => s"'${m.replace("'", "''")}'").mkString(",")
          s"{'score': len(list_filter(toks, x -> x IN ($in))), 'lang': '$lang'}"
        }
        .mkString(",\n               ")
      s"""WITH d AS (SELECT doc_id, lang, string_split_regex(text, ' +') AS toks FROM documents),
         |p AS (SELECT lang,
         |             (list_max([
         |               $entries
         |             ])).lang AS lang_pred
         |      FROM d)
         |SELECT lang, lang_pred, count(*)::BIGINT AS n_docs
         |FROM p GROUP BY lang, lang_pred
         |ORDER BY lang, lang_pred""".stripMargin
    })),

    // True winnowing (Schleimer et al. 2003) fingerprint sets, grouped by
    // fingerprint → shared-fingerprint candidate groups, the plagiarism/
    // near-dup candidate index. md5 hash family: the distinct fingerprint
    // set per doc is exactly the distinct WINDOW MINIMA (the rightmost-tie
    // rule only picks the charged position, never the value), which DuckDB
    // recomputes verbatim → full oracle; the native xxhash64 winnow
    // (selection-order + locality guarantees) stays spec-covered.
    QuerySpec("text_winnow", (s, dir) => {
      TextAnalysis.winnowFingerprintsMd5(documents(s, dir), "doc_id", "text")
        .groupBy(col("fp"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_docs"))
        .select(col("fp"), col("doc_id"), col("n_docs"))
        .orderBy(col("fp"))
    },
      // md5 winnowing (TextAnalysis.winnowFingerprintsMd5): per-doc distinct
      // window minima over 3-gram md5-int hashes, window w=4 (rows frame
      // CURRENT..3 FOLLOWING truncated at the tail; valid starts only) —
      // the distinct fingerprint set needs no tie rule, so both engines
      // agree value-for-value.
      oracleSql = Some("""WITH g AS (
        |  SELECT doc_id, q,
        |         ('0x' || substr(md5(array_to_string(t[q:q+2], ' ')), 1, 15))::BIGINT AS h
        |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS q
        |        FROM (SELECT doc_id, string_split_regex(text, ' +') AS t
        |              FROM documents))
        |),
        |wm AS (
        |  SELECT doc_id, q,
        |         count(*) OVER (PARTITION BY doc_id) AS nh,
        |         min(h) OVER (PARTITION BY doc_id ORDER BY q
        |                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS minh
        |  FROM g
        |),
        |fps AS (
        |  SELECT DISTINCT doc_id, minh AS fp FROM wm
        |  WHERE q - 1 <= nh - least(4, nh)
        |)
        |SELECT fp, min(doc_id) AS doc_id, count(*) AS n_docs
        |FROM fps GROUP BY fp ORDER BY fp""".stripMargin)),

    // Repetition-based quality signals (the Gopher-style filters: duplicate-
    // token fraction and top-bigram mass — Rae et al. 2021, §A1.1, public
    // heuristic): per-row array ops + one (doc, bigram) hash agg; no
    // cross-document work, embarrassingly parallel at any scale.
    QuerySpec("text_repetition", (s, dir) => {
      TextAnalysis.repetitionScores(documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id"))
    },
      oracleSql = Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |base AS (
        |  SELECT doc_id, len(t)::BIGINT AS n_tok,
        |         (20000 * (len(t) - len(list_distinct(t))) + len(t))
        |           // (2 * len(t)) / 10000.0 AS dup_frac,
        |         [t[x] || ' ' || t[x+1] for x in range(1, len(t))] AS bgs
        |  FROM toks),
        |counts AS (
        |  SELECT doc_id, n_tok, dup_frac, bg, count(*) AS bg_n
        |  FROM (SELECT doc_id, n_tok, dup_frac, unnest(bgs) AS bg FROM base)
        |  GROUP BY doc_id, n_tok, dup_frac, bg)
        |SELECT doc_id, dup_frac,
        |       (20000 * (max(bg_n) * 2) + n_tok) // (2 * n_tok) / 10000.0
        |         AS top_bigram_frac
        |FROM counts
        |GROUP BY doc_id, dup_frac, n_tok
        |ORDER BY doc_id""".stripMargin)),

    // Benchmark decontamination: every 50th doc plays the eval set; train
    // docs sharing any 5-gram with it are flagged with the shared count
    // (n=5 because the fixture vocabulary is tiny — real pipelines use
    // 8-13; the one hit here is a genuine near-dup sharing a long span).
    QuerySpec("text_decontaminate", (s, dir) => {
      val docs = documents(s, dir)
      Pipeline.contaminatedDocs(
          docs.filter(pmod(col("doc_id"), lit(50)) =!= 0),
          docs.filter(pmod(col("doc_id"), lit(50)) === 0),
          "doc_id", "text", n = 5)
        .orderBy(col("doc_id"))
    },
      oracleSql = Some("""WITH s AS (
        |  SELECT doc_id, list_distinct([array_to_string(toks[i:i+4], ' ')
        |                                for i in range(1, len(toks) - 3)]) AS sh
        |  FROM (SELECT doc_id, string_split_regex(text, ' +') AS toks FROM documents)
        |), g AS (SELECT doc_id, unnest(sh) AS gram FROM s),
        |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0)
        |SELECT g.doc_id, count(*)::BIGINT AS n_shared_ngrams
        |FROM g JOIN bench USING (gram)
        |WHERE g.doc_id % 50 <> 0
        |GROUP BY g.doc_id
        |ORDER BY g.doc_id""".stripMargin)),

    // C4-style markup stripping: each doc deterministically wrapped in an
    // HTML frame (style + script blocks, tags, entities — the corpus
    // itself is plain text), then the portable-regex strip chain;
    // per-source audit of characters in/out. Shuffle-free per-row chain +
    // one census agg.
    QuerySpec("text_strip_markup", (s, dir) => {
      val wrapped = documents(s, dir).select(col("doc_id"), col("source"),
        concat(
          lit("<html><head><style>p{color:red}</style></head><body><h1>Doc "),
          col("doc_id").cast("string"),
          lit("</h1><p class=\"x\">"), col("text"),
          lit(" &amp; more &lt;i&gt;</p><script>var x=1;</script></body></html>"))
          .as("html"))
      wrapped.withColumn("clean", TextAnalysis.stripMarkup(col("html")))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("html"))).as("chars_in"),
          sum(length(col("clean"))).as("chars_out"))
        .orderBy(col("source"))
    },
      oracleSql = Some("""WITH w AS (
        |  SELECT source,
        |         '<html><head><style>p{color:red}</style></head><body><h1>Doc '
        |           || doc_id::VARCHAR || '</h1><p class="x">' || text
        |           || ' &amp; more &lt;i&gt;</p><script>var x=1;</script></body></html>' AS html
        |  FROM documents),
        |c AS (
        |  SELECT source, html,
        |         trim(regexp_replace(
        |           regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |           regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |           regexp_replace(html,
        |             '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |             '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        |             '<[^>]+>', ' ', 'g'),
        |             '&lt;', '<', 'g'),
        |             '&gt;', '>', 'g'),
        |             '&quot;', '"', 'g'),
        |             '&#39;', '''', 'g'),
        |             '&nbsp;', ' ', 'g'),
        |             '&amp;', '&', 'g'),
        |             '\s+', ' ', 'g')) AS clean
        |  FROM w)
        |SELECT source, count(*)::BIGINT AS n_docs,
        |       sum(length(html))::BIGINT AS chars_in,
        |       sum(length(clean))::BIGINT AS chars_out
        |FROM c
        |GROUP BY source
        |ORDER BY source""".stripMargin)),

    // PII scrubbing: deterministic synthetic PII appended per doc (the
    // corpus itself is clean), then the portable-regex redaction chain;
    // per-source audit of matches found and bytes removed.
    QuerySpec("text_pii_redact", (s, dir) => {
      val emailPat = TextAnalysis.PiiPatterns.head._1
      val phonePat = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
      val withPii = documents(s, dir).select(
        col("doc_id"), col("source"),
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or 555-123-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")).as("text"))
      withPii
        .withColumn("clean", TextAnalysis.redact(col("text")))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(regexp_count(col("text"), lit(emailPat))).as("n_emails"),
          sum(regexp_count(col("text"), lit(phonePat))).as("n_phones"),
          sum(length(col("text")) - length(col("clean"))).as("chars_removed"))
        .orderBy(col("source"))
    },
      oracleSql = Some("""WITH p AS (
        |  SELECT doc_id, source,
        |         text || ' contact user' || doc_id::VARCHAR || '@example.com or 555-123-'
        |              || lpad((doc_id % 10000)::VARCHAR, 4, '0') AS text
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, source, text,
        |         regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
        |           '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
        |           '[0-9]{3}-[0-9]{2}-[0-9]{4}', '<SSN>', 'g'),
        |           '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
        |           '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g') AS clean
        |  FROM p)
        |SELECT source, count(*)::BIGINT AS n_docs,
        |       sum(len(regexp_extract_all(text,
        |         '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')))::BIGINT AS n_emails,
        |       sum(len(regexp_extract_all(text, '[0-9]{3}-[0-9]{3}-[0-9]{4}')))::BIGINT AS n_phones,
        |       sum(length(text) - length(clean))::BIGINT AS chars_removed
        |FROM r
        |GROUP BY source
        |ORDER BY source""".stripMargin)),

    // Gopher rule filter: per-rule booleans + verdict per document, so the
    // pipeline can audit WHY a doc was dropped. minWords=50 and
    // minStopHits=1 are the rules that split the fixture corpus (docs are
    // 10-99 tokens, all-alpha, containing at most 'the'/'a' as stopwords).
    QuerySpec("text_gopher_filter", (s, dir) => {
      TextAnalysis.gopherRules(documents(s, dir), col("text"),
          minWords = 50, maxWords = 100000, minMeanLen = 3.0, maxMeanLen = 10.0,
          minAlphaFrac = 0.8, minStopHits = 1)
        .select(col("doc_id"), col("n_words"), col("mean_word_len"),
          col("alpha_frac"), col("n_stop"), col("pass"))
        .orderBy(col("doc_id"))
    },
      oracleSql = Some("""WITH t AS (SELECT doc_id, string_split_regex(text, ' +') AS toks FROM documents),
        |m AS (
        |  SELECT doc_id,
        |         len(toks)::BIGINT AS n_words,
        |         (20000 * coalesce(list_sum([length(x) for x in toks]), 0)
        |            + greatest(len(toks), 1)) // (2 * greatest(len(toks), 1))
        |           / 10000.0 AS mean_word_len,
        |         (20000 * len([x for x in toks if regexp_matches(x, '\p{L}')])
        |            + greatest(len(toks), 1)) // (2 * greatest(len(toks), 1))
        |           / 10000.0 AS alpha_frac,
        |         (CASE WHEN list_contains(toks, 'the') THEN 1 ELSE 0 END +
        |          CASE WHEN list_contains(toks, 'a')   THEN 1 ELSE 0 END +
        |          CASE WHEN list_contains(toks, 'and') THEN 1 ELSE 0 END +
        |          CASE WHEN list_contains(toks, 'of')  THEN 1 ELSE 0 END +
        |          CASE WHEN list_contains(toks, 'to')  THEN 1 ELSE 0 END)::BIGINT AS n_stop
        |  FROM t)
        |SELECT doc_id, n_words, mean_word_len, alpha_frac, n_stop,
        |       (n_words BETWEEN 50 AND 100000
        |        AND mean_word_len BETWEEN 3.0 AND 10.0
        |        AND alpha_frac >= 0.8 AND n_stop >= 1) AS pass
        |FROM m
        |ORDER BY doc_id""".stripMargin)),

    // Context-window chunking: 64-token windows every 48 tokens (16-token
    // overlap); the chunk itself is projected away — its md5 is the
    // engine-stable witness (and the chunk-dedup key downstream).
    QuerySpec("text_chunk", (s, dir) => {
      Pipeline.chunkTokens(documents(s, dir), col("doc_id"), col("text"),
          window = 64, stride = 48)
        .select(col("id").as("doc_id"), col("chunk_idx"),
          col("chunk_tokens"), col("chunk_hash"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    },
      oracleSql = Some("""WITH d AS (SELECT doc_id, string_split_regex(text, ' +') AS toks FROM documents)
        |SELECT doc_id, s // 48 AS chunk_idx,
        |       len(toks[s + 1:s + 64])::BIGINT AS chunk_tokens,
        |       md5(array_to_string(toks[s + 1:s + 64], ' ')) AS chunk_hash
        |FROM d, unnest(range(0, len(toks), 48)) u(s)
        |ORDER BY doc_id, chunk_idx""".stripMargin)),

    // DSIR importance scores (Xie et al. 2023): rank raw docs by how much
    // they "look like" a curated target domain (every 20th doc plays the
    // target). Identity bigrams keep the exact, oracle-checkable form; the
    // hashBuckets variant (spec-checked) is the bounded-weight-table scale
    // path a 100 TB corpus runs.
    QuerySpec("text_importance", (s, dir) => {
      val docs = documents(s, dir)
      Pipeline.importanceScores(
          docs.filter(pmod(col("doc_id"), lit(20)) =!= 0),
          docs.filter(pmod(col("doc_id"), lit(20)) === 0),
          "doc_id", "text", n = 2)
        .orderBy(col("doc_id"))
    },
      oracleSql = Some("""WITH d AS (SELECT doc_id, string_split_regex(text, ' +') AS toks FROM documents),
        |rg AS (SELECT doc_id,
        |              unnest([array_to_string(toks[i:i+1], ' ') for i in range(1, len(toks))]) AS g
        |       FROM d WHERE doc_id % 20 <> 0),
        |tg AS (SELECT unnest([array_to_string(toks[i:i+1], ' ') for i in range(1, len(toks))]) AS g
        |       FROM d WHERE doc_id % 20 = 0),
        |tc AS (SELECT g, count(*) AS tc FROM tg GROUP BY g),
        |rc AS (SELECT g, count(*) AS rc FROM rg GROUP BY g),
        |w AS (SELECT rc.g, ln(coalesce(tc.tc, 0) + 1.0) - ln(rc.rc + 1.0) AS w
        |      FROM rc LEFT JOIN tc USING (g))
        |SELECT rg.doc_id, count(*)::BIGINT AS n_grams, round(avg(w.w), 4) AS score
        |FROM rg JOIN w ON rg.g = w.g
        |GROUP BY rg.doc_id
        |ORDER BY rg.doc_id""".stripMargin)),

    // DSIR selection: scoring composed with quantile thresholding — keep
    // the top 25% of raw docs by importance score. The threshold is one
    // broadcast 1-row agg; the keep decision is a per-row filter (no sort
    // or shuffle of the corpus). Closes the score → SELECT loop.
    QuerySpec("text_importance_select", (s, dir) => {
      val docs = documents(s, dir)
      val scored = Pipeline.importanceScores(
        docs.filter(pmod(col("doc_id"), lit(20)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(20)) === 0),
        "doc_id", "text", n = 2)
      Pipeline.selectTopByScore(scored, col("score"), keepFrac = 0.25)
        .orderBy(col("doc_id"))
    },
      oracleSql = Some("""WITH d AS (SELECT doc_id, string_split_regex(text, ' +') AS toks FROM documents),
        |rg AS (SELECT doc_id,
        |              unnest([array_to_string(toks[i:i+1], ' ') for i in range(1, len(toks))]) AS g
        |       FROM d WHERE doc_id % 20 <> 0),
        |tg AS (SELECT unnest([array_to_string(toks[i:i+1], ' ') for i in range(1, len(toks))]) AS g
        |       FROM d WHERE doc_id % 20 = 0),
        |tc AS (SELECT g, count(*) AS tc FROM tg GROUP BY g),
        |rc AS (SELECT g, count(*) AS rc FROM rg GROUP BY g),
        |w AS (SELECT rc.g, ln(coalesce(tc.tc, 0) + 1.0) - ln(rc.rc + 1.0) AS w
        |      FROM rc LEFT JOIN tc USING (g)),
        |scored AS (
        |  SELECT rg.doc_id, count(*)::BIGINT AS n_grams, round(avg(w.w), 4) AS score
        |  FROM rg JOIN w ON rg.g = w.g
        |  GROUP BY rg.doc_id),
        |sq AS (SELECT doc_id, n_grams, score,
        |              CAST(round(score * 10000, 0) AS BIGINT) AS scq
        |       FROM scored),
        |thr AS (SELECT CAST(round(quantile_cont(scq, 0.75) * 4, 0) AS BIGINT) AS tq
        |        FROM sq)
        |SELECT doc_id, n_grams, score
        |FROM sq, thr
        |WHERE scq * 4 >= tq
        |ORDER BY doc_id""".stripMargin)),

    // Canonical text normalization (NFC + lower + whitespace collapse +
    // trim) with the normalized fingerprint — the pass that runs before
    // any dedup key is computed. The fixture is ASCII so NFC is identity
    // here; the unicode behavior (composed ≡ decomposed, NFKC folding) is
    // pinned in ScalaTest.
    QuerySpec("text_normalize", (s, dir) => {
      documents(s, dir)
        .select(col("doc_id"),
          TextAnalysis.normalizeText(col("text")).as("norm_text"))
        .withColumn("n_chars_norm", length(col("norm_text")))
        .withColumn("norm_fp", md5(col("norm_text")))
        .orderBy(col("doc_id"))
    },
      oracleSql = Some("""SELECT doc_id,
        |       trim(regexp_replace(lower(nfc_normalize(text)),
        |                           '[ \t\r\n]+', ' ', 'g')) AS norm_text,
        |       length(trim(regexp_replace(lower(nfc_normalize(text)),
        |                                  '[ \t\r\n]+', ' ', 'g')))::BIGINT AS n_chars_norm,
        |       md5(trim(regexp_replace(lower(nfc_normalize(text)),
        |                               '[ \t\r\n]+', ' ', 'g'))) AS norm_fp
        |FROM documents
        |ORDER BY doc_id""".stripMargin)),

    // Bigram-LM fluency scores (CCNet-style perplexity filter — Wenzek et
    // al. 2020 — with an add-alpha bigram LM standing in for KenLM): the
    // corpus scored under its own bigram distribution; rank by avg_logp
    // descending to keep fluent text, compose with selectTopByScore for
    // the actual filter.
    QuerySpec("text_bigram_ppl", (s, dir) => {
      val docs = documents(s, dir)
      Pipeline.bigramLogLikelihood(docs, docs, "doc_id", "text")
        .orderBy(col("doc_id"))
    },
      oracleSql = Some("""WITH toks AS (SELECT doc_id, string_split_regex(text, ' +') AS t FROM documents),
        |uni AS (SELECT unnest(t) AS w FROM toks),
        |ucnt AS (SELECT w, count(*) AS uc FROM uni GROUP BY w),
        |v AS (SELECT count(*) AS v FROM ucnt),
        |bg AS (SELECT doc_id, array_to_string(t[i:i+1], ' ') AS b, t[i] AS w1
        |       FROM toks, unnest(range(1, len(t))) u(i)),
        |bcnt AS (SELECT b, count(*) AS bc FROM bg GROUP BY b),
        |db AS (SELECT doc_id, b, w1, count(*) AS c FROM bg GROUP BY doc_id, b, w1)
        |SELECT db.doc_id, sum(db.c)::BIGINT AS n_bigrams,
        |       round(sum(db.c * (ln(bcnt.bc + 1.0) - ln(ucnt.uc + 1.0 * v.v)))
        |             / sum(db.c), 4) AS avg_logp
        |FROM db JOIN bcnt USING (b) JOIN ucnt ON db.w1 = ucnt.w CROSS JOIN v
        |GROUP BY db.doc_id
        |ORDER BY db.doc_id""".stripMargin)),

    // The same LM scoring at order 3 (KenLM-grade pipelines run n=5; the
    // plan shape is identical at any n) — sharper fluency signal, count
    // tables one order bigger.
    QuerySpec("text_trigram_ppl", (s, dir) => {
      val docs = documents(s, dir)
      Pipeline.ngramLogLikelihood(docs, docs, "doc_id", "text", n = 3)
        .withColumnRenamed("n_bigrams", "n_grams")
        .orderBy(col("doc_id"))
    },
      oracleSql = Some("""WITH toks AS (SELECT doc_id, string_split_regex(text, ' +') AS t FROM documents),
        |uni AS (SELECT unnest(t) AS w FROM toks),
        |v AS (SELECT count(DISTINCT w) AS v FROM uni),
        |ctx AS (SELECT array_to_string(t[i:i+1], ' ') AS c
        |        FROM toks, unnest(range(1, len(t))) u(i)),
        |ccnt AS (SELECT c, count(*) AS cc FROM ctx GROUP BY c),
        |tg AS (SELECT doc_id, array_to_string(t[i:i+2], ' ') AS g,
        |              array_to_string(t[i:i+1], ' ') AS c
        |       FROM toks, unnest(range(1, len(t) - 1)) u(i)),
        |gcnt AS (SELECT g, count(*) AS gc FROM tg GROUP BY g),
        |db AS (SELECT doc_id, g, c, count(*) AS cnt FROM tg GROUP BY doc_id, g, c)
        |SELECT db.doc_id, sum(db.cnt)::BIGINT AS n_grams,
        |       round(sum(db.cnt * (ln(gcnt.gc + 1.0) - ln(ccnt.cc + 1.0 * v.v)))
        |             / sum(db.cnt), 4) AS avg_logp
        |FROM db JOIN gcnt USING (g) JOIN ccnt ON db.c = ccnt.c CROSS JOIN v
        |GROUP BY db.doc_id
        |ORDER BY db.doc_id""".stripMargin)),

    // The KenLM-grade upgrade of the line above: interpolated MODIFIED
    // KNESER-NEY (Chen-Goodman 1998 three-discount variant — what KenLM
    // estimates and what CCNet's published pipeline actually trains),
    // same self-scored corpus, same output contract. Every model quantity
    // is a deterministic function of count tables, so the DuckDB oracle
    // replays the ENTIRE estimator from raw parquet: trigram counts →
    // count-of-counts → discounts → continuation counts → interpolated
    // per-gram log-probs → per-doc average. An order whose discounts are
    // inestimable or out of range falls back to KenLM's documented
    // --discount_fallback defaults (0.5/1.0/1.5) — the synthetic corpus
    // at sf0.1 exercises this for real (its dense templated vocabulary
    // has no continuation count of exactly 1), so the fallback CASE is
    // itself hash-gated.
    QuerySpec("text_trigram_ppl_kn", (s, dir) => {
      val docs = documents(s, dir)
      Pipeline.knTrigramLogLikelihood(docs, docs, "doc_id", "text")
        .orderBy(col("doc_id"))
    },
      // Full modified-KN estimator replayed in SQL: counts → count-of-counts
      // → discounts (Y = t1/(t1+2t2); D_k) → continuation counts (from
      // trigram TYPES) → interpolated per-gram log-prob → per-doc average.
      // Float expression structure mirrors the Spark side term for term so
      // the doubles agree bitwise before the final 4dp round.
      oracleSql = Some(s"""WITH toks AS (SELECT doc_id, string_split_regex(text, ' +') AS t FROM documents),
        |tg AS (SELECT doc_id, array_to_string(t[i:i+2], ' ') AS g
        |       FROM toks, unnest(range(1, len(t) - 1)) u(i)),
        |$knModelSql,
        |db AS (SELECT doc_id, g, count(*) AS c FROM tg GROUP BY doc_id, g)
        |SELECT db.doc_id, sum(db.c)::BIGINT AS n_grams,
        |       round(sum(db.c * mdl.lp) / sum(db.c), 4) AS avg_logp
        |FROM db JOIN mdl USING (g)
        |GROUP BY db.doc_id
        |ORDER BY db.doc_id""".stripMargin)),

    // The SERVED shape of the line above — the production CCNet setting
    // (train the LM once on a reference, score every crawl shard): train
    // on the even-doc_id half, score the WHOLE corpus through the
    // persistable KnModel artifact. The odd half is partly
    // out-of-vocabulary, so this query hash-gates the serve-time graded
    // backoff (missing trigram → discounted-0 + γ3·p2; missing context →
    // p2; missing v → p1; continuation-OOV grams drop) — the expression
    // ladder the oracle replays term for term. Served ≡ composed is
    // shared-code by construction (knScoreGraded); the parquet roundtrip
    // of the artifact is spec-pinned.
    QuerySpec("text_trigram_ppl_kn_served", (s, dir) => {
      val docs = documents(s, dir)
      val model = Pipeline.knTrainModel(
        docs.filter(col("doc_id") % 2 === 0), "text")
      Pipeline.knScoreAgainstModel(docs, model, "doc_id", "text")
        .orderBy(col("doc_id"))
    },
      // The estimator above trained on the even-doc_id half only, scoring
      // the whole corpus: in-model grams read mdl.lp; the OOV remainder
      // replays the graded backoff ladder with the SAME float expression
      // structure as the Spark side (0-numerator discounted top order +
      // γ3·p2 under a seen context; p2 under a seen v; p1 otherwise;
      // NULL continuation unigram → gram dropped).
      oracleSql = Some(s"""WITH rtoks AS (SELECT doc_id, string_split_regex(text, ' +') AS t
        |               FROM documents WHERE doc_id % 2 = 0),
        |tg AS (SELECT doc_id, array_to_string(t[i:i+2], ' ') AS g
        |       FROM rtoks, unnest(range(1, len(t) - 1)) u(i)),
        |$knModelSql,
        |atoks AS (SELECT doc_id, string_split_regex(text, ' +') AS t FROM documents),
        |atg AS (SELECT doc_id, array_to_string(t[i:i+2], ' ') AS g
        |        FROM atoks, unnest(range(1, len(t) - 1)) u(i)),
        |db AS (SELECT doc_id, g, count(*) AS c FROM atg GROUP BY doc_id, g),
        |seen AS (SELECT db.doc_id, db.c, mdl.lp FROM db JOIN mdl USING (g)),
        |un0 AS (SELECT db.doc_id, db.g, db.c FROM db LEFT JOIN mdl USING (g)
        |        WHERE mdl.lp IS NULL),
        |unk AS (SELECT doc_id, c,
        |               array_to_string(p[1:2], ' ') AS uv,
        |               array_to_string(p[2:3], ' ') AS vw,
        |               p[2] AS v, p[3] AS w
        |        FROM (SELECT doc_id, c, string_split(g, ' ') AS p FROM un0)),
        |unb AS (SELECT unk.doc_id, unk.c,
        |        ln(CASE WHEN ctx3.ctot IS NOT NULL THEN
        |             greatest(0.0 - d3.d3, 0.0) / ctx3.ctot::DOUBLE
        |             + ((d3.d1 * ctx3.n1::DOUBLE + d3.d2 * ctx3.n2::DOUBLE + d3.d3 * ctx3.n3::DOUBLE) / ctx3.ctot::DOUBLE)
        |               * (CASE WHEN ctx2.cc2tot IS NOT NULL THEN
        |                    greatest(COALESCE(bgs.cc2::DOUBLE, 0.0) - (CASE WHEN COALESCE(bgs.cc2, 0) = 1 THEN d2.d1 WHEN COALESCE(bgs.cc2, 0) = 2 THEN d2.d2 ELSE d2.d3 END), 0.0) / ctx2.cc2tot::DOUBLE
        |                    + ((d2.d1 * ctx2.m1::DOUBLE + d2.d2 * ctx2.m2::DOUBLE + d2.d3 * ctx2.m3::DOUBLE) / ctx2.cc2tot::DOUBLE)
        |                      * (uni.cc1::DOUBLE / tt.tot)
        |                  ELSE uni.cc1::DOUBLE / tt.tot END)
        |           ELSE
        |             (CASE WHEN ctx2.cc2tot IS NOT NULL THEN
        |                greatest(COALESCE(bgs.cc2::DOUBLE, 0.0) - (CASE WHEN COALESCE(bgs.cc2, 0) = 1 THEN d2.d1 WHEN COALESCE(bgs.cc2, 0) = 2 THEN d2.d2 ELSE d2.d3 END), 0.0) / ctx2.cc2tot::DOUBLE
        |                + ((d2.d1 * ctx2.m1::DOUBLE + d2.d2 * ctx2.m2::DOUBLE + d2.d3 * ctx2.m3::DOUBLE) / ctx2.cc2tot::DOUBLE)
        |                  * (uni.cc1::DOUBLE / tt.tot)
        |              ELSE uni.cc1::DOUBLE / tt.tot END)
        |           END) AS lp
        |        FROM unk
        |        LEFT JOIN ctx3 USING (uv)
        |        LEFT JOIN (SELECT vw, cc2 FROM bg) bgs USING (vw)
        |        LEFT JOIN ctx2 ON unk.v = ctx2.v
        |        LEFT JOIN uni ON unk.w = uni.w
        |        CROSS JOIN d3 CROSS JOIN d2 CROSS JOIN tt),
        |alls AS (SELECT doc_id, c, lp FROM seen
        |         UNION ALL
        |         SELECT doc_id, c, lp FROM unb WHERE lp IS NOT NULL)
        |SELECT doc_id, sum(c)::BIGINT AS n_grams,
        |       round(sum(c * lp) / sum(c), 4) AS avg_logp
        |FROM alls
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin)),

    // The CCNet loop closed: fluency scoring composed with the quantile
    // threshold — keep the most reference-like half of the corpus. Same
    // composition shape as text_importance_select, over the LM score.
    QuerySpec("text_fluency_select", (s, dir) => {
      val docs = documents(s, dir)
      val scored = Pipeline.bigramLogLikelihood(docs, docs, "doc_id", "text")
      Pipeline.selectTopByScore(scored, col("avg_logp"), keepFrac = 0.5)
        .orderBy(col("doc_id"))
    },
      oracleSql = Some("""WITH toks AS (SELECT doc_id, string_split_regex(text, ' +') AS t FROM documents),
        |uni AS (SELECT unnest(t) AS w FROM toks),
        |ucnt AS (SELECT w, count(*) AS uc FROM uni GROUP BY w),
        |v AS (SELECT count(*) AS v FROM ucnt),
        |bg AS (SELECT doc_id, array_to_string(t[i:i+1], ' ') AS b, t[i] AS w1
        |       FROM toks, unnest(range(1, len(t))) u(i)),
        |bcnt AS (SELECT b, count(*) AS bc FROM bg GROUP BY b),
        |db AS (SELECT doc_id, b, w1, count(*) AS c FROM bg GROUP BY doc_id, b, w1),
        |scored AS (
        |  SELECT db.doc_id, sum(db.c)::BIGINT AS n_bigrams,
        |         round(sum(db.c * (ln(bcnt.bc + 1.0) - ln(ucnt.uc + 1.0 * v.v)))
        |               / sum(db.c), 4) AS avg_logp
        |  FROM db JOIN bcnt USING (b) JOIN ucnt ON db.w1 = ucnt.w CROSS JOIN v
        |  GROUP BY db.doc_id),
        |sq AS (SELECT doc_id, n_bigrams, avg_logp,
        |              CAST(round(avg_logp * 10000, 0) AS BIGINT) AS scq
        |       FROM scored),
        |thr AS (SELECT CAST(round(quantile_cont(scq, 0.5) * 4, 0) AS BIGINT) AS tq
        |        FROM sq)
        |SELECT doc_id, n_bigrams, avg_logp
        |FROM sq, thr
        |WHERE scq * 4 >= tq
        |ORDER BY doc_id""".stripMargin)),

    // The same CCNet selection loop on the estimator CCNet actually
    // trains (KenLM-grade modified Kneser-Ney, text_trigram_ppl_kn)
    // instead of the add-alpha stand-in: score every doc with the KN
    // trigram LM, keep the most reference-like half via the broadcast
    // quantile threshold. Oracle = the full KN estimator SQL composed
    // with the select tail — both halves already hash-gated standalone,
    // composed here so the production filter is gated end-to-end.
    QuerySpec("text_fluency_select_kn", (s, dir) => {
      val docs = documents(s, dir)
      val scored = Pipeline.knTrigramLogLikelihood(docs, docs, "doc_id", "text")
      Pipeline.selectTopByScore(scored, col("avg_logp"), keepFrac = 0.5)
        .orderBy(col("doc_id"))
    },
      // The KN estimator SQL composed with the quantile-select tail
      // (the sq/thr form text_fluency_select uses) -- the CCNet filter on
      // the estimator CCNet actually trains, gated end-to-end.
      oracleSql = Some(s"""WITH toks AS (SELECT doc_id, string_split_regex(text, ' +') AS t FROM documents),
        |tg AS (SELECT doc_id, array_to_string(t[i:i+2], ' ') AS g
        |       FROM toks, unnest(range(1, len(t) - 1)) u(i)),
        |$knModelSql,
        |db AS (SELECT doc_id, g, count(*) AS c FROM tg GROUP BY doc_id, g),
        |scored AS (SELECT db.doc_id, sum(db.c)::BIGINT AS n_grams,
        |                  round(sum(db.c * mdl.lp) / sum(db.c), 4) AS avg_logp
        |           FROM db JOIN mdl USING (g)
        |           GROUP BY db.doc_id),
        |sq AS (SELECT doc_id, n_grams, avg_logp,
        |              CAST(round(avg_logp * 10000, 0) AS BIGINT) AS scq
        |       FROM scored),
        |thr AS (SELECT CAST(round(quantile_cont(scq, 0.5) * 4, 0) AS BIGINT) AS tq
        |        FROM sq)
        |SELECT doc_id, n_grams, avg_logp
        |FROM sq, thr
        |WHERE scq * 4 >= tq
        |ORDER BY doc_id""".stripMargin)),

    // CCNet's other half: the head/middle/tail split. Per-language ntile
    // over the bigram-LM score (desc, doc_id tiebreak) — equal-thirds by
    // construction, and the ntile deal is SQL-standard on both engines so
    // the per-doc bucket is oracle-exact. Docs shorter than the LM order
    // drop (no score), same as text_bigram_ppl.
    QuerySpec("text_ccnet_buckets", (s, dir) => {
      val docs = documents(s, dir)
      val scored = Pipeline.bigramLogLikelihood(docs, docs, "doc_id", "text")
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      Pipeline.perplexityBuckets(scored, Seq(col("lang")), col("avg_logp"), col("doc_id"))
        .withColumn("ppl_bucket",
          when(col("bucket") === 1, "head")
            .when(col("bucket") === 2, "middle").otherwise("tail"))
        .select(col("doc_id"), col("lang"), col("avg_logp"), col("ppl_bucket"))
        .orderBy(col("doc_id"))
    },
      oracleSql = Some("""WITH toks AS (SELECT doc_id, string_split_regex(text, ' +') AS t FROM documents),
        |uni AS (SELECT unnest(t) AS w FROM toks),
        |ucnt AS (SELECT w, count(*) AS uc FROM uni GROUP BY w),
        |v AS (SELECT count(*) AS v FROM ucnt),
        |bg AS (SELECT doc_id, array_to_string(t[i:i+1], ' ') AS b, t[i] AS w1
        |       FROM toks, unnest(range(1, len(t))) u(i)),
        |bcnt AS (SELECT b, count(*) AS bc FROM bg GROUP BY b),
        |db AS (SELECT doc_id, b, w1, count(*) AS c FROM bg GROUP BY doc_id, b, w1),
        |scored AS (
        |  SELECT db.doc_id,
        |         round(sum(db.c * (ln(bcnt.bc + 1.0) - ln(ucnt.uc + 1.0 * v.v)))
        |               / sum(db.c), 4) AS avg_logp
        |  FROM db JOIN bcnt USING (b) JOIN ucnt ON db.w1 = ucnt.w CROSS JOIN v
        |  GROUP BY db.doc_id),
        |nt AS (SELECT s.doc_id, d.lang, s.avg_logp,
        |              ntile(3) OVER (PARTITION BY d.lang
        |                             ORDER BY s.avg_logp DESC, s.doc_id) AS b
        |       FROM scored s JOIN documents d USING (doc_id))
        |SELECT doc_id, lang, avg_logp,
        |       CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS ppl_bucket
        |FROM nt
        |ORDER BY doc_id""".stripMargin),
      scaleNote = Some("exact ntile = per-lang window sort (one language can dominate a web corpus). " +
        "Scale path: text_ccnet_buckets_scale (perplexityBucketsApprox — per-lang t-digest " +
        "boundaries broadcast, per-row assignment, no sort).")),

    // The CCNet bucketing's no-sort scale path: per-lang t-digest
    // boundaries broadcast, per-row assignment — census per (lang,
    // bucket). (No SQL oracle: sketch-boundary-dependent, like
    // q_histogram_equidepth_scale; totality/monotonicity/balance are
    // spec-asserted, and the exact ntile form above is the hash-checked
    // anchor.)
    QuerySpec("text_ccnet_buckets_scale", (s, dir) => {
      val docs = documents(s, dir)
      val scored = Pipeline.bigramLogLikelihood(docs, docs, "doc_id", "text")
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      Pipeline.perplexityBucketsApprox(scored, Seq("lang"), col("avg_logp"))
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("avg_logp")).as("min_logp"), max(col("avg_logp")).as("max_logp"))
        .orderBy(col("lang"), col("bucket"))
    })
  )

  /** Merge table captured by the text_bpe_tokens run — deterministic given
    * the corpus (tie-broken argmax, sorted frequency head), and `oracleSql`
    * is evaluated AFTER the query loop in Verify, so the generated oracle's
    * literals always describe the same table the Spark plan encoded with.
    */
  @volatile private var bpeTrainedMerges: Seq[(String, String)] = Seq.empty

  @volatile private var unigramTrainedPieces: Seq[(String, Double)] = Seq.empty

  @volatile private var unigramMaxWordLen: Int = 1

  /** Blocklist for `text_blocklist` — fixed phrases (the bounded-artifact
    * pattern), shared verbatim by the query and its oracle SQL. "merge" is
    * nested inside "merge batch" and "quantum flux" never occurs.
    */
  private[graft] val blocklistPatterns: Seq[String] = Seq(
    "merge batch", "merge", "slow scan", "row fast", "vector", "quantum flux")

  /** DuckDB replay of greedy BPE encoding under [[bpeTrainedMerges]].
    *
    * Equivalence: [[graft.functions.BpeEncode.encodeWord]] merges the
    * lowest-rank pair one occurrence at a time; because a pair of rank r
    * can only ever be CREATED by merges of rank < r (its symbols must
    * exist when it is learned — training would have assigned it an
    * earlier rank otherwise), that is identical to applying the merges
    * once each in rank order as left-to-right non-overlapping
    * replace-alls. Each word becomes `~c~` per char (`~` cannot occur in
    * a `[a-z0-9]+` word), so the pair pattern `~a~~b~` matches exactly a
    * full-symbol adjacency — never inside a symbol, never sharing a
    * delimiter with a neighboring occurrence — and one `replace` per
    * merge is the whole encode. Symbol count = half the `~` count.
    */
  private def bpeOracleSql(merges: Seq[(String, String)]): String = {
    val start = "concat('~', array_to_string(regexp_extract_all(w, '.'), '~~'), '~')"
    val folded = merges.foldLeft(start) { case (acc, (a, b)) =>
      val qa = a.replace("'", "''")
      val qb = b.replace("'", "''")
      s"replace($acc, '~$qa~~$qb~', '~$qa$qb~')"
    }
    s"""WITH words AS (
       |  SELECT source, doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS w
       |  FROM documents),
       |enc AS (
       |  SELECT source, doc_id,
       |         $folded AS s
       |  FROM words),
       |perdoc AS (
       |  SELECT source, doc_id,
       |         sum((length(s) - length(replace(s, '~', ''))) // 2)::BIGINT AS bpe
       |  FROM enc GROUP BY 1, 2),
       |base AS (
       |  SELECT source, doc_id,
       |         len(regexp_extract_all(text, '[a-z0-9]+'))::BIGINT AS ws
       |  FROM documents)
       |SELECT base.source, count(*)::BIGINT AS n_docs,
       |       sum(base.ws)::BIGINT AS ws_tokens,
       |       sum(coalesce(perdoc.bpe, 0))::BIGINT AS bpe_tokens
       |FROM base LEFT JOIN perdoc
       |  ON base.source = perdoc.source AND base.doc_id = perdoc.doc_id
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** DuckDB replay of unigram-LM Viterbi segmentation under
    * [[unigramTrainedPieces]]: the trained piece table is the embedded
    * model artifact (the bpe-merge/ewma-weight literal pattern) and the
    * DP itself is INDEPENDENTLY re-run in SQL — one unrolled stage per
    * word position, each taking the lexicographic max of
    * (score, piece_len, count) over candidate pieces, OOV single chars as
    * regular nodes at the kernel's min−10 unk score. The hash gate
    * compares integer token counts; a count flip would need two EM-fitted
    * double path sums exactly equal AND different segment counts — the
    * accepted measure-zero class (and the (score, len) tiebreak mirrors
    * the kernel's longest-piece rule regardless).
    */
  private def unigramOracleSql(pieces: Seq[(String, Double)], maxWordLen: Int): String = {
    // oracleSql is dumped after Verify runs the queries, so the trained
    // table is populated; the placeholder only guards a pre-run access
    if (pieces.isEmpty) return "SELECT 'queries not yet run' AS placeholder"
    val maxPieceLen = pieces.map(_._1.length).max
    def dlit(d: Double) = s"CAST('${java.lang.Double.toString(d)}' AS DOUBLE)"
    val unk = dlit(pieces.map(_._2).min - 10.0)
    val vals = pieces
      .map { case (p, lp) => s"('${p.replace("'", "''")}', ${dlit(lp)})" }
      .mkString(",\n    ")
    val stages = (1 to maxWordLen).map { i =>
      val cands = (1 to math.min(maxPieceLen, i)).map { k =>
        val j = i - k
        if (k == 1)
          s"""    SELECT d.w, d.best + COALESCE(p.lp, $unk) AS nb, 1 AS k, d.cnt + 1 AS nc
             |    FROM dp$j d LEFT JOIN pieces p ON p.p = substr(d.w, $i, 1)
             |    WHERE length(d.w) >= $i""".stripMargin
        else
          s"""    SELECT d.w, d.best + p.lp AS nb, $k AS k, d.cnt + 1 AS nc
             |    FROM dp$j d JOIN pieces p ON p.p = substr(d.w, ${j + 1}, $k)
             |    WHERE length(d.w) >= $i""".stripMargin
      }.mkString("\n    UNION ALL\n")
      s"""dp$i AS (
         |  SELECT w, m['b'] AS best, m['c'] AS cnt FROM (
         |    SELECT w, max(struct_pack(b := nb, k := k, c := nc)) AS m FROM (
         |$cands
         |    ) GROUP BY w)
         |)""".stripMargin
    }.mkString(",\n")
    val finals = (1 to maxWordLen)
      .map(i => s"  SELECT w, cnt FROM dp$i WHERE length(w) = $i")
      .mkString("\n  UNION ALL\n")
    s"""WITH pieces(p, lp) AS (VALUES
       |    $vals),
       |dw AS (
       |  SELECT source, doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS w
       |  FROM documents),
       |words AS (SELECT DISTINCT w FROM dw),
       |dp0 AS (SELECT w, CAST(0.0 AS DOUBLE) AS best, 0 AS cnt FROM words),
       |$stages,
       |wcnt AS (
       |$finals),
       |perdoc AS (
       |  SELECT source, doc_id, sum(cnt)::BIGINT AS uni
       |  FROM dw JOIN wcnt USING (w) GROUP BY 1, 2),
       |base AS (
       |  SELECT source, doc_id,
       |         len(regexp_extract_all(text, '[a-z0-9]+'))::BIGINT AS ws
       |  FROM documents)
       |SELECT base.source, count(*)::BIGINT AS n_docs,
       |       sum(base.ws)::BIGINT AS ws_tokens,
       |       sum(coalesce(perdoc.uni, 0))::BIGINT AS uni_tokens
       |FROM base LEFT JOIN perdoc
       |  ON base.source = perdoc.source AND base.doc_id = perdoc.doc_id
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** DuckDB CTEs `tri` … `mdl` of the interpolated modified-Kneser-Ney
    * estimator (Chen-Goodman three-discount variant) over the trigram
    * occurrences `tg(doc_id, g)`: counts → count-of-counts → discounts →
    * continuation counts → per-gram log-prob `mdl(g, lp)`. The float
    * expression structure mirrors the Spark side term for term.
    */
  private def knModelSql: String =
    s"""tri0 AS (SELECT g, count(*) AS c3 FROM tg GROUP BY g),
       |tri AS (SELECT g, c3,
       |               array_to_string(p[1:2], ' ') AS uv,
       |               array_to_string(p[2:3], ' ') AS vw,
       |               p[2] AS v, p[3] AS w
       |        FROM (SELECT g, c3, string_split(g, ' ') AS p FROM tri0)),
       |ctx3 AS (SELECT uv, sum(c3) AS ctot,
       |                sum(CASE WHEN c3 = 1 THEN 1 ELSE 0 END) AS n1,
       |                sum(CASE WHEN c3 = 2 THEN 1 ELSE 0 END) AS n2,
       |                sum(CASE WHEN c3 >= 3 THEN 1 ELSE 0 END) AS n3
       |         FROM tri GROUP BY uv),
       |coc3 AS (SELECT sum(CASE WHEN c3 = 1 THEN 1 ELSE 0 END)::DOUBLE AS t1,
       |                sum(CASE WHEN c3 = 2 THEN 1 ELSE 0 END)::DOUBLE AS t2,
       |                sum(CASE WHEN c3 = 3 THEN 1 ELSE 0 END)::DOUBLE AS t3,
       |                sum(CASE WHEN c3 = 4 THEN 1 ELSE 0 END)::DOUBLE AS t4
       |         FROM tri),
       |${knDiscountsSql("d3", "coc3")},
       |bg AS (SELECT vw, v, w, count(*) AS cc2 FROM tri GROUP BY vw, v, w),
       |ctx2 AS (SELECT v, sum(cc2) AS cc2tot,
       |                sum(CASE WHEN cc2 = 1 THEN 1 ELSE 0 END) AS m1,
       |                sum(CASE WHEN cc2 = 2 THEN 1 ELSE 0 END) AS m2,
       |                sum(CASE WHEN cc2 >= 3 THEN 1 ELSE 0 END) AS m3
       |         FROM bg GROUP BY v),
       |coc2 AS (SELECT sum(CASE WHEN cc2 = 1 THEN 1 ELSE 0 END)::DOUBLE AS t1,
       |                sum(CASE WHEN cc2 = 2 THEN 1 ELSE 0 END)::DOUBLE AS t2,
       |                sum(CASE WHEN cc2 = 3 THEN 1 ELSE 0 END)::DOUBLE AS t3,
       |                sum(CASE WHEN cc2 = 4 THEN 1 ELSE 0 END)::DOUBLE AS t4
       |         FROM bg),
       |${knDiscountsSql("d2", "coc2")},
       |uni AS (SELECT w, count(*) AS cc1 FROM bg GROUP BY w),
       |tt AS (SELECT sum(cc1)::DOUBLE AS tot FROM uni),
       |mdl AS (SELECT tri.g,
       |        ln(greatest(tri.c3::DOUBLE - (CASE WHEN tri.c3 = 1 THEN d3.d1 WHEN tri.c3 = 2 THEN d3.d2 ELSE d3.d3 END), 0.0) / ctx3.ctot::DOUBLE
       |           + ((d3.d1 * ctx3.n1::DOUBLE + d3.d2 * ctx3.n2::DOUBLE + d3.d3 * ctx3.n3::DOUBLE) / ctx3.ctot::DOUBLE)
       |             * (greatest(bg.cc2::DOUBLE - (CASE WHEN bg.cc2 = 1 THEN d2.d1 WHEN bg.cc2 = 2 THEN d2.d2 ELSE d2.d3 END), 0.0) / ctx2.cc2tot::DOUBLE
       |                + ((d2.d1 * ctx2.m1::DOUBLE + d2.d2 * ctx2.m2::DOUBLE + d2.d3 * ctx2.m3::DOUBLE) / ctx2.cc2tot::DOUBLE)
       |                  * (uni.cc1::DOUBLE / tt.tot))) AS lp
       |        FROM tri JOIN ctx3 USING (uv) JOIN bg USING (vw)
       |             JOIN ctx2 ON tri.v = ctx2.v JOIN uni ON tri.w = uni.w
       |             CROSS JOIN d3 CROSS JOIN d2 CROSS JOIN tt)""".stripMargin

  /** Discounts `d(d1, d2, d3)` of one order from its count-of-counts table
    * `coc(t1..t4)`, with KenLM's --discount_fallback defaults (0.5/1.0/1.5)
    * when they are inestimable or out of range.
    */
  private def knDiscountsSql(d: String, coc: String): String =
    s"""${d}e AS (SELECT t1, t2, t3,
       |               1.0 - 2.0 * (CASE WHEN t1 + 2.0 * t2 > 0.0 THEN t1 / (t1 + 2.0 * t2) ELSE 0.0 END)
       |                         * (CASE WHEN t1 > 0.0 THEN t2 / t1 ELSE 0.0 END) AS d1e,
       |               2.0 - 3.0 * (CASE WHEN t1 + 2.0 * t2 > 0.0 THEN t1 / (t1 + 2.0 * t2) ELSE 0.0 END)
       |                         * (CASE WHEN t2 > 0.0 THEN t3 / t2 ELSE 0.0 END) AS d2e,
       |               3.0 - 4.0 * (CASE WHEN t1 + 2.0 * t2 > 0.0 THEN t1 / (t1 + 2.0 * t2) ELSE 0.0 END)
       |                         * (CASE WHEN t3 > 0.0 THEN t4 / t3 ELSE 0.0 END) AS d3e
       |        FROM $coc),
       |$d AS (SELECT CASE WHEN ok THEN d1e ELSE 0.5 END AS d1,
       |              CASE WHEN ok THEN d2e ELSE 1.0 END AS d2,
       |              CASE WHEN ok THEN d3e ELSE 1.5 END AS d3
       |       FROM (SELECT d1e, d2e, d3e,
       |                    t1 > 0.0 AND t2 > 0.0 AND t3 > 0.0
       |                    AND d1e >= 0.0 AND d1e <= 1.0 AND d2e >= 0.0 AND d2e <= 2.0
       |                    AND d3e >= 0.0 AND d3e <= 3.0 AS ok FROM ${d}e))""".stripMargin
}
