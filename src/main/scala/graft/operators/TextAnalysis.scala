package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.IntegralDivide
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, token counting, quality scoring, language ID, document
  * fingerprinting. All are per-row, shuffle-free, codegen-friendly column
  * expressions — they scale linearly and embarrassingly parallel.
  */
object TextAnalysis {

  /** Whitespace tokens (reference-style "words"). */
  def wsTokens(text: Column): Column = split(text, " +")

  /** Word tokens (BPE-ish pre-tokenizer: runs of alphanumerics;
    * punctuation splits) — the native byte-scan kernel
    * [[graft.functions.Tokenize]], run-for-run identical to
    * `regexp_extract_all(text, '[a-z0-9]+', 0)` (the DuckDB oracle form)
    * without the per-row regex Matcher.
    */
  def wordTokens(text: Column): Column =
    graft.functions.Tokenize.wordTokens(text)

  /** Token COUNT without materializing the array — no per-token
    * allocation; the hot path of the quality-stat family.
    */
  def tokenCount(text: Column): Column =
    graft.functions.Tokenize.wordTokenCount(text)

  /** Distinct n-gram (shingle) strings over whitespace tokens, native
    * codegen'd ([[graft.functions.Shingles]]); tokenizes once per row.
    * Documents shorter than n tokens yield an empty array.
    */
  def shingles(text: Column, n: Int): Column =
    graft.functions.Shingles.shingles(wsTokens(text), n)

  /** ALL n-grams over whitespace tokens — the occurrence MULTISET, in
    * document order, unlike [[shingles]] which deduplicates. Frequency-
    * weighted operators (importance weights, LM statistics) need counts,
    * not presence. Native codegen'd single pass over the token array
    * ([[graft.functions.Shingles]] with distinct=false); the earlier
    * `transform`+`slice` HOF formulation re-tokenized the document once
    * per gram position — O(tokens²) regex work per row. Documents shorter
    * than n tokens yield an empty array.
    */
  def ngramsAll(text: Column, n: Int): Column = {
    require(n > 0, "ngramsAll: n must be positive")
    graft.functions.Shingles.ngramsAll(wsTokens(text), n)
  }

  /** Exact 4-decimal round-half-up of the integer ratio num/den, computed
    * entirely in 64-bit integer arithmetic:
    * `(2·10⁴·num + den) DIV (2·den) / 10⁴` (Spark `DIV` ≡ DuckDB `//`).
    * `round(num/den, 4)` on the DOUBLE quotient is an engine coin flip
    * whenever the exact ratio lands on a .00005 boundary with a
    * non-binary denominator (e.g. 1/160) — Spark rounds the shortest
    * decimal repr, DuckDB the binary value. This form has no double
    * anywhere until the final division of identical integers, so both
    * engines agree on EVERY input (see SCALE.md, constructed ties).
    * Requires num ≥ 0, den ≥ 1 (the metric-ratio case).
    */
  def ratio4(num: Column, den: Column): Column = {
    val n = num.cast("long")
    val d = den.cast("long")
    ColumnBridge.column(new IntegralDivide(
      ColumnBridge.expression(lit(20000L) * n + d),
      ColumnBridge.expression(lit(2L) * d)))
      .cast("double") / 10000.0
  }

  /** Quality score heuristics: length, mean token length, alpha ratio,
    * stopword ratio — the standard cheap pre-filters for web corpora.
    * The ratio metrics are emitted at 4-decimal resolution via [[ratio4]]
    * (exact integer rounding — engine-identical on every input).
    */
  def withQuality(df: DataFrame, textCol: Column): DataFrame = {
    val t = wsTokens(textCol)
    df.withColumn("n_tokens", size(t))
      .withColumn("mean_token_len",
        ratio4(aggregate(t, lit(0L), (acc, x) => acc + length(x)),
          greatest(size(t), lit(1))))
      .withColumn("alpha_ratio",
        ratio4(length(regexp_replace(textCol, "[^a-z]", "")),
          greatest(length(textCol), lit(1))))
      .withColumn("stopword_ratio",
        ratio4(size(filter(t, tok => tok.isInCollection(QualityStopwords))),
          greatest(size(t), lit(1))))
  }

  val QualityStopwords: Seq[String] =
    Seq("the", "a", "and", "of", "to", "in", "is", "it")

  /** Per-language marker sets for the stopword language-ID heuristic —
    * see [[graft.functions.LangId.Markers]] (the single source of truth;
    * the text_langid oracle SQL is GENERATED from it, so widening the
    * table can never desynchronize the two engines). Re-exported here for
    * the callers that grew up against this surface.
    */
  val LangMarkers: Map[String, Seq[String]] = graft.functions.LangId.Markers

  /** Predict language by marker hit counts — (score, lang) argmax, ties
    * to the greatest language code. One codegen'd pass over the tokens
    * with an O(1) hash probe per token ([[graft.functions.LangId]]);
    * replaces the per-language filter loop whose cost grew linearly with
    * the language table.
    */
  def langId(text: Column): Column = graft.functions.LangId.langId(text)

  /** Content-defined fingerprint: md5 of normalized text — exact-dup key
    * stable across engines (oracle-able).
    */
  def md5Fingerprint(text: Column): Column = md5(lower(trim(text)))

  /** Canonical text normalization — the first pass of a crawl-cleaning
    * pipeline, BEFORE any fingerprint/shingle/dedup key is computed (the
    * same visible text arrives precomposed on one page and decomposed on
    * another; un-normalized, every downstream equality silently misses):
    * Unicode NFC ([[graft.functions.UnicodeNormalize]], codegen'd — Spark
    * has no built-in), lowercase, collapse runs of ASCII whitespace to one
    * space, trim. The whitespace class is written `[ \t\r\n]` explicitly:
    * Java's `\s` includes vertical tab, RE2's does not, and this pipeline
    * pins portable semantics (same posture as [[PiiPatterns]]).
    */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      lower(graft.functions.UnicodeNormalize.normalize(text, "NFC")),
      "[ \\t\\r\\n]+", " "))

  /** PII patterns in the portable regex subset (character classes, counted
    * repetition — no backrefs, no lookaround) that means the same thing
    * under Java regex (Spark) and RE2 (DuckDB, Go tooling): email, SSN-
    * shaped, US-phone-shaped, IPv4. Order matters — email is matched before
    * the number shapes so its local part can't be partially consumed.
    */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}" -> "<EMAIL>",
    "[0-9]{3}-[0-9]{2}-[0-9]{4}" -> "<SSN>",
    "[0-9]{3}-[0-9]{3}-[0-9]{4}" -> "<PHONE>",
    "([0-9]{1,3}\\.){3}[0-9]{1,3}" -> "<IP>")

  /** Redact every match of each (pattern → tag) in order: the scrubbing
    * pass a training pipeline runs before packing. Per-row, shuffle-free,
    * whole-stage-codegen'd (`regexp_replace` chain); the compiled regex is
    * reused across rows by the expression, so cost is linear in bytes
    * scanned.
    */
  def redact(text: Column, patterns: Seq[(String, String)] = PiiPatterns): Column =
    patterns.foldLeft(text) { case (acc, (pat, tag)) =>
      regexp_replace(acc, pat, tag)
    }

  /** C4-style markup stripping (Raffel et al. 2020 §2.2 describe the
    * public method class: web-extracted text must lose markup before any
    * quality/dedup pass): drop script/style blocks WITH their content,
    * strip remaining tags to a space (so `a<br>b` never word-joins),
    * decode the six ubiquitous HTML entities (`&amp;` LAST, so
    * `&amp;lt;` single-decodes to `&lt;`, never double-decodes to `<`),
    * collapse whitespace. Portable Java/RE2 regex subset, no
    * backreferences (RE2 has none) — same posture as [[PiiPatterns]];
    * codegen'd per-row `regexp_replace` chain, shuffle-free.
    */
  def stripMarkup(text: Column): Column = {
    val noBlocks = Seq("script", "style").foldLeft(text) { (acc, t) =>
      regexp_replace(acc, s"(?is)<$t[^>]*>.*?</$t>", " ")
    }
    val noTags = regexp_replace(noBlocks, "<[^>]+>", " ")
    val decoded = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (acc, (ent, ch)) => regexp_replace(acc, ent, ch) }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** Single rolling-hash fingerprint: min xxhash64 over the document's
    * shingles — one hash per document, robust to small edits away from the
    * minimum. For true locality (an edit changes only nearby fingerprints)
    * use [[winnowFingerprints]].
    */
  def winnowFingerprint(text: Column, n: Int = 3): Column =
    array_min(transform(shingles(text, n), s => xxhash64(s)))

  /** True winnowing fingerprint SET (Schleimer-Wilkerson-Aiken 2003,
    * [[graft.functions.WinnowFingerprints]]): the rightmost-min shingle
    * hash of every sliding window of `w` sequential shingles, distinct.
    * Any shared run of ≥ w+n−1 tokens between two documents guarantees a
    * shared fingerprint; an edit perturbs only the ≤ w windows overlapping
    * it. Per-row, shuffle-free, codegen'd.
    */
  def winnowFingerprints(text: Column, n: Int = 3, w: Int = 4): Column =
    graft.functions.Winnow.winnow(wsTokens(text), n, w)

  /** Winnowing fingerprint SET on the DuckDB-recomputable md5 family —
    * (idCol, fp) rows, one per DISTINCT fingerprint per document.
    *
    * Key observation that makes this oracle-able: the fingerprint VALUE a
    * window contributes is its MINIMUM gram hash — the rightmost-tie rule
    * of robust winnowing only decides which POSITION gets charged, so the
    * distinct fingerprint SET is exactly {min(h over window p) : valid p},
    * no tie-breaking anywhere. Gram hash = first 15 md5 hex chars as an
    * integer (same family as [[graft.operators.Dedup.simhash60Md5]]).
    * Documents with fewer than `w` grams form one whole-document window
    * (the native [[winnowFingerprints]] rule) — the frame's truncation at
    * the partition tail provides exactly that window at p = 0.
    *
    * Plan shape: posexplode grams, one codegen'd md5+conv per gram, then a
    * per-doc window min (one shuffle on the doc id, per-partition sort) —
    * no cross-document data movement, linear at any scale.
    */
  def winnowFingerprintsMd5(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, w: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = df
      .select(col(idCol).as("doc_id"),
        posexplode(ngramsAll(col(textCol), n)).as(Seq("q", "gram")))
      .withColumn("h", conv(substring(md5(col("gram")), 1, 15), 16, 10).cast("long"))
    val byDoc = Window.partitionBy(col("doc_id"))
    val frame = Window.partitionBy(col("doc_id")).orderBy(col("q"))
      .rowsBetween(Window.currentRow, w - 1)
    g.withColumn("nh", count(lit(1)).over(byDoc))
      .withColumn("minh", min(col("h")).over(frame))
      // valid window starts: p <= nh - win where win = min(w, nh); for
      // nh < w that keeps exactly p = 0, whose truncated frame IS the
      // whole-document window
      .filter(col("q") <= col("nh") - least(lit(w), col("nh")))
      .select(col("doc_id").as(idCol), col("minh").as("fp"))
      .distinct()
  }

  /** Repetition-based quality signals (the Gopher-style filters: Rae et
    * al. 2021, §A1.1 — public heuristic): duplicate-token fraction
    * (1 − distinct/total) and top-bigram mass (2·max bigram count / token
    * count). Per-row array ops plus one (doc, bigram) hash agg partitioned
    * on the doc id — no cross-document shuffle, linear at any scale.
    *
    * Returns one row per document: (idCol, dup_frac, top_bigram_frac),
    * both rounded to 4 decimals (engine-stable: int/int divisions).
    * Single-token documents produce no bigrams and are dropped.
    */
  def repetitionScores(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), split(col(textCol), " ").as("toks"))
      .withColumn("n_tok", size(col("toks")).cast("long"))
      // 1 - d/t computed as the single exact ratio (t-d)/t — identical
      // rationals, engine-identical rounding via ratio4
      .withColumn("dup_frac",
        ratio4(col("n_tok") - size(array_distinct(col("toks"))), col("n_tok")))
      .select(col(idCol), col("n_tok"), col("dup_frac"),
        explode(zip_with(
          slice(col("toks"), lit(1), size(col("toks")) - 1),
          slice(col("toks"), lit(2), size(col("toks")) - 1),
          (a, b) => concat_ws(" ", a, b))).as("bigram"))
      .groupBy(col(idCol), col("n_tok"), col("dup_frac"), col("bigram"))
      .agg(count(lit(1)).as("bg_n"))
      .groupBy(col(idCol), col("n_tok"), col("dup_frac"))
      .agg(max(col("bg_n")).as("top_bg"))
      .withColumn("top_bigram_frac", ratio4(col("top_bg") * 2, col("n_tok")))
      .select(col(idCol), col("dup_frac"), col("top_bigram_frac"))

  /** Gopher-style hard rule filter (Rae et al. 2021, §A1.1 — public
    * heuristics), as per-rule booleans plus the overall verdict so a
    * pipeline can audit WHY a document was dropped, not just that it was:
    *   - word count within [minWords, maxWords];
    *   - mean word length within [minMeanLen, maxMeanLen];
    *   - at least `minAlphaFrac` of words contain an alphabetic character
    *     (any Unicode letter — `\p{L}`, the same class under Java regex and
    *     RE2, so the oracle engine agrees on every codepoint);
    *   - at least `minStopHits` distinct required stopwords present.
    * Adds n_words, mean_word_len, alpha_frac (rounded, engine-stable
    * divisions), n_stop, and `pass`. Per-row array expressions — shuffle-
    * free, whole-stage-codegen'd, linear at any corpus size.
    */
  def gopherRules(
      df: DataFrame,
      textCol: Column,
      minWords: Int = 50,
      maxWords: Int = 100000,
      minMeanLen: Double = 3.0,
      maxMeanLen: Double = 10.0,
      minAlphaFrac: Double = 0.8,
      minStopHits: Int = 2,
      requiredStops: Seq[String] = Seq("the", "a", "and", "of", "to")): DataFrame = {
    val t = wsTokens(textCol)
    df.withColumn("n_words", size(t).cast("long"))
      .withColumn("mean_word_len",
        ratio4(aggregate(t, lit(0L), (acc, x) => acc + length(x)),
          greatest(col("n_words"), lit(1L))))
      .withColumn("alpha_frac",
        ratio4(size(filter(t, x => x.rlike("\\p{L}"))),
          greatest(col("n_words"), lit(1L))))
      .withColumn("n_stop",
        requiredStops.map(sw => when(array_contains(t, sw), 1L).otherwise(0L))
          .reduce(_ + _))
      .withColumn("pass",
        col("n_words").between(minWords, maxWords) &&
          col("mean_word_len").between(minMeanLen, maxMeanLen) &&
          col("alpha_frac") >= minAlphaFrac &&
          col("n_stop") >= minStopHits)
  }

  /** Count-min sketch of term frequencies — the bounded-memory scale path
    * for term stats. An exact `groupBy(term)` holds every distinct term
    * through the shuffle (fine for words, hostile for URLs/n-grams at
    * 100 TB); the sketch is a fixed `O(1/eps · ln 1/confidence)` bytes per
    * partition, merged associatively, never overcounting by more than
    * eps·total (one-sided: estimate ≥ true count always). Fixed seed keeps
    * estimates deterministic across runs.
    */
  def termFreqSketch(
      df: DataFrame,
      textCol: Column,
      eps: Double = 0.0001,
      confidence: Double = 0.99,
      seed: Int = 42): org.apache.spark.util.sketch.CountMinSketch =
    df.select(explode(wordTokens(textCol)).as("token"))
      .stat.countMinSketch(col("token"), eps, confidence, seed)

  /** Per-document novelty census: what fraction of a document's distinct
    * n-token shingles appear in NO other document. High novelty separates
    * original prose from template/boilerplate corpora; selection recipes
    * weight toward it the same way they weight against near-duplicates
    * (it is the complement signal of the MinHash family — shared shingles
    * instead of shared signatures).
    *
    * Exactness: counts all the way down — the score is integer ppm via
    * round-half-up integer division, so there is nothing for engines to
    * disagree on. Documents shorter than n tokens have no shingles and
    * drop out (no denominator exists).
    *
    * Scale shape: explode → one hash agg keyed on the shingle (map-side
    * combine collapses within-partition repeats) → one shuffle join back
    * on the shingle key → per-doc hash agg. The gram-keyed join is m rows
    * per shared gram — the exact-substring-dedup shape, never all-pairs.
    *
    * Output: (doc_id, n_shingles, n_unique, novelty_ppm).
    */
  /** Flesch-Kincaid-style readability grade in exact integer milli-units —
    * the classic complexity screen a curation pipeline runs next to the
    * Gopher rules (too-low grades are menus and listicles, too-high are
    * OCR junk and legalese). Deterministic counting conventions so both
    * engines agree bit-for-bit: words = runs of `[A-Za-z]+`, sentences =
    * runs of `[.!?]+` floored at 1, syllables = runs of
    * `[aeiouyAEIOUY]+` (the standard vowel-group proxy). Grade_milli =
    * halfUp(390·W/S) + halfUp(11800·Syl/W) − 15590, clamped at 0 (the
    * published convention, and it keeps every numerator non-negative so
    * the round-half-up integral division is exact on both engines — their
    * negative `//` semantics differ). Docs with zero words are dropped.
    *
    * Counting is three codegen'd `regexp_extract_all` sizes per row — no
    * UDF, no shuffle before the census agg.
    */
  def fkGradeMilli(text: Column): Column = {
    def halfUp(num: Column, den: Column): Column =
      ColumnBridge.column(new IntegralDivide(
        ColumnBridge.expression(num * 2L + den),
        ColumnBridge.expression(den * 2L)))
    val w = size(regexp_extract_all(text, lit("[A-Za-z]+"), lit(0))).cast("long")
    val s = greatest(lit(1L),
      size(regexp_extract_all(text, lit("[.!?]+"), lit(0))).cast("long"))
    val syl = size(regexp_extract_all(text, lit("[aeiouyAEIOUY]+"), lit(0))).cast("long")
    when(w > 0,
      greatest(lit(0L),
        halfUp(lit(390L) * w, s) + halfUp(lit(11800L) * syl, w) - 15590L))
      .otherwise(lit(null).cast("long"))
  }

  /** Per-group readability census over [[fkGradeMilli]]: doc count and the
    * mean grade (round-half-up milli), one hash agg.
    */
  def readabilityCensus(
      df: DataFrame,
      groupCols: Seq[Column],
      text: Column): DataFrame = {
    def halfUp(num: Column, den: Column): Column =
      ColumnBridge.column(new IntegralDivide(
        ColumnBridge.expression(num * 2L + den),
        ColumnBridge.expression(den * 2L)))
    val base = df.select(groupCols :+ fkGradeMilli(text).as("__g"): _*)
    val names = base.columns.dropRight(1)
    base.filter(col("__g").isNotNull)
      .groupBy(names.map(col): _*)
      .agg(count(lit(1)).as("n_docs"), sum(col("__g")).as("__sum"))
      .withColumn("mean_grade_milli", halfUp(col("__sum"), col("n_docs")).cast("long"))
      .drop("__sum")
  }

  /** BM25 relevance scores for a fixed query-term set (Robertson-Walker
    * Okapi BM25, the scoring function behind every keyword search engine)
    * — completes the retrieval family next to TF-IDF (corpus term
    * weighting) and DSIR (distribution matching): given query terms,
    * score every document
    *
    *   Σ_t ln(1 + (N − df_t + ½)/(df_t + ½)) ·
    *       tf·(k1+1) / (tf + k1·(1 − b + b·dl·N/Σdl))
    *
    * Cross-engine determinism: every input to the float math is an exact
    * integer (tf, df, dl, N, Σdl); the float ops are written in ONE fixed
    * order that the generated oracle mirrors token for token — composite
    * constants stay as expressions over the parsed literals ((k1 + 1.0),
    * (1.0 − b)) because IEEE addition is correctly rounded while
    * Scala-folding them could round differently than SQL literal parsing;
    * the only library call is ln on small rationals (the entropy/KL
    * family's accepted 1-ulp class, far inside the 4dp round). Zero-tf
    * terms contribute an explicit 0.
    *
    * Scale: corpus stats are ONE 1-row aggregate broadcast back; scoring
    * is a per-row projection over the token array — the corpus never
    * shuffles. Output: (id, dl, bm25 rounded 4dp).
    */
  def bm25Scores(
      df: DataFrame,
      idCol: Column,
      text: Column,
      terms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25Scores: at least one query term")
    val toks = df.select(idCol.as("id"), wordTokens(text).as("__toks"))
      .withColumn("__dl", size(col("__toks")).cast("long"))
    val statAggs = Seq(count(lit(1)).as("__n"), sum(col("__dl")).as("__tot")) ++
      terms.zipWithIndex.map { case (t, i) =>
        sum(when(array_contains(col("__toks"), t), 1L).otherwise(0L)).as(s"__df$i")
      }
    val stats = toks.agg(statAggs.head, statAggs.tail: _*)
    val scored = toks.crossJoin(broadcast(stats))
    val norm = (lit(1.0) - lit(b)) +
      lit(b) * ((col("__dl") * col("__n")).cast("double") / col("__tot").cast("double"))
    val contribs = terms.zipWithIndex.map { case (t, i) =>
      val tf = size(filter(col("__toks"), x => x === lit(t))).cast("double")
      val idf = log(lit(1.0) +
        ((col("__n") - col(s"__df$i")).cast("double") + lit(0.5)) /
          (col(s"__df$i").cast("double") + lit(0.5)))
      when(tf > 0,
        idf * (tf * (lit(k1) + lit(1.0)) / (tf + lit(k1) * norm)))
        .otherwise(lit(0.0))
    }
    scored.select(col("id"), col("__dl").as("dl"),
      (floor(contribs.reduceLeft(_ + _) * 10000d + 0.5d) / 10000d).as("bm25"))
  }

  /** Hapax-legomena census per group: the fraction of DISTINCT terms that
    * occur exactly once — the vocabulary-freshness / Heaps-law signal a
    * corpus monitor tracks (natural prose runs ~40–60% hapax; template
    * spam collapses toward 0, OCR noise explodes toward 1). Two-level
    * hash agg over [[wordTokens]] (≡ the oracle's
    * `regexp_extract_all('[a-z0-9]+')`), exact integer counts, ppm via
    * the family round-half-up integral division. Output: (group...,
    * n_terms, n_hapax, hapax_ppm); token-less groups vanish.
    */
  def hapaxCensus(
      df: DataFrame,
      groupCols: Seq[Column],
      text: Column): DataFrame = {
    def halfUp(num: Column, den: Column): Column =
      ColumnBridge.column(new IntegralDivide(
        ColumnBridge.expression(num * 2L + den),
        ColumnBridge.expression(den * 2L)))
    val base = df.select(groupCols :+ explode(wordTokens(text)).as("__term"): _*)
    val names = base.columns.dropRight(1)
    base.groupBy((names.map(col) :+ col("__term")): _*)
      .agg(count(lit(1)).as("__c"))
      .groupBy(names.map(col): _*)
      .agg(
        count(lit(1)).as("n_terms"),
        sum(when(col("__c") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .withColumn("hapax_ppm",
        halfUp(col("n_hapax") * 1000000L, col("n_terms")).cast("long"))
  }

  /** Blocklist census per group: how many documents contain any of the
    * `patterns` (the doc-level drop rule of C4's badwords filter — Raffel
    * et al. 2020 §2.2) and how many distinct patterns each flagged doc
    * hits, aggregated. ONE Aho-Corasick pass per document regardless of
    * pattern count ([[graft.functions.AhoCorasick]]), so a
    * thousands-strong blocklist costs the same scan as one `contains`.
    * Emits per group: n_docs, n_flagged, n_kept, pattern_hits
    * (Σ distinct patterns per doc — 4-decimal-free exact longs).
    */
  def blocklistCensus(
      df: DataFrame,
      groupKeys: Seq[Column],
      textCol: Column,
      patterns: Seq[String]): DataFrame = {
    val keys = groupKeys.map(_.toString).map(col)
    df.select(groupKeys :+
        graft.functions.AhoCorasick.acDistinctMatches(textCol, patterns).as("__hits"): _*)
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__hits") > 0, 1L).otherwise(0L)).as("n_flagged"),
        sum(when(col("__hits") > 0, 0L).otherwise(1L)).as("n_kept"),
        sum(col("__hits").cast("long")).as("pattern_hits"))
  }

  /** Zipf census per group: vocabulary size, token mass, and the Zipf
    * exponent — the OLS slope of ln(freq) on ln(rank) over the `topK`
    * most frequent terms. The standard corpus-QA scan: natural text sits
    * near slope −1 (Zipf 1949); boilerplate-heavy, templated, or
    * synthetic corpora flatten or steepen it, so a per-source slope
    * census flags degenerate crawl partitions before they reach training.
    *
    * Scale shape: one hash agg to (group, term) counts — the exchange
    * carries one row per distinct term, never token occurrences — then a
    * bounded-heap top-K ([[graft.functions.TopKPairs]], map-side partial,
    * no per-group vocabulary sort) and an OLS pass over ≤ topK rows per
    * group. The heap needs a Long id but the census is TIE-INVARIANT:
    * equal frequencies swap ranks only among themselves, so the
    * (rank, freq) multiset — all the OLS sees — is identical under any
    * tiebreak, the hash id never surfaces, and the DuckDB oracle's
    * (freq DESC, term ASC) row_number replays the same multiset. Float
    * surface: ln/×/Σ over ≤ topK values per group ahead of a 6-decimal
    * round — the accepted summation-noise class (see SCALE.md).
    */
  def zipfCensus(
      df: DataFrame,
      groupKeys: Seq[Column],
      textCol: Column,
      topK: Int = 200): DataFrame = {
    require(topK >= 2, "zipfCensus: the OLS needs at least 2 ranks")
    val keyNames = groupKeys.map(_.toString)
    val keys = keyNames.map(col)
    val tf = df
      .select(groupKeys :+ explode(wordTokens(textCol)).as("term"): _*)
      .groupBy(keys :+ col("term"): _*)
      .agg(count(lit(1)).as("c"))
    val stats = tf.groupBy(keys: _*)
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("vocab"))
    val ranked = tf.groupBy(keys: _*)
      .agg(graft.functions.TopKPairs.topK(
        col("c").cast("double"), xxhash64(col("term")), topK).as("t"))
      .select(keys :+ posexplode(col("t")).as(Seq("pos0", "p")): _*)
      .select(keys :+ log(col("pos0") + 1).as("x") :+ log(col("p.score")).as("y"): _*)
    val ols = ranked.groupBy(keys: _*)
      .agg(count(lit(1)).cast("double").as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      // n ≥ 2 ⇒ ranks 1 and 2 present ⇒ Σx² strictly dominates (Σx)²/n,
      // denominator > 0; a single-term vocabulary has no slope (NULL, not
      // a 0/0 whose NaN-vs-NULL spelling differs between engines)
      .withColumn("zipf_slope",
        when(col("n") >= 2,
          round((col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx")), 6)))
      .select(keys :+ col("n").cast("long").as("n_top") :+ col("zipf_slope"): _*)
    stats.join(ols, keyNames)
  }

  def noveltyCensus(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3): DataFrame = {
    val sh = df.select(col(idCol).as("doc_id"),
      explode(shingles(col(textCol), shingleSize)).as("shingle"))
    val dfreq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val ppm = {
      val u = col("n_unique")
      val t = col("n_shingles")
      ColumnBridge.column(new IntegralDivide(
        ColumnBridge.expression(u * 2000000L + t),
        ColumnBridge.expression(t * 2L)))
    }
    sh.join(dfreq, "shingle")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
      .withColumn("novelty_ppm", ppm.cast("long"))
  }
}
