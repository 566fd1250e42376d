package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.BloomProbe
import graft.functions.VectorFunctions._

/** Deduplication operators for training-data pipelines.
  *
  * Scale design: every near-dup algorithm here is CANDIDATE GENERATION via a
  * bucketable key (LSH band / simhash block / blocking key) followed by
  * exact verification WITHIN buckets. The only shuffles are hash-partitioned
  * joins on the bucket keys — never an all-pairs cross join — so cost is
  * O(n · bucket_size), not O(n²), and survives a 1000-executor scale-up.
  * Hashing is xxhash64 (Catalyst expression, codegen'd, deterministic
  * across runs/executors — no RNG at execution time) by default, with an
  * md5-based family ([[minhashSignatureMd5]], [[simhash60Md5]]) whose every
  * step is recomputable in plain SQL — that is what lets the driver's
  * DuckDB oracle hash-check LSH candidate generation itself.
  */
object Dedup {

  /** Exact dedup: keep the lowest id per key (deterministic winner, unlike
    * dropDuplicates which keeps an arbitrary row). One hash-agg shuffle.
    */
  def exactByKey(df: DataFrame, key: Column, idCol: Column): DataFrame =
    df.groupBy(key.as("dedup_key"))
      .agg(min(idCol).as(idCol.toString))

  /** Keep the BEST member of each duplicate cluster: production dedup
    * keeps the highest-quality copy (cleanest, longest, best-sourced), not
    * the smallest id — [[exactByKey]]'s min-id rule is the right keeper
    * only when members are byte-identical. Returns the input with a `keep`
    * flag; ties on `score` fall back to the smallest id, so with a
    * constant score this IS exactByKey.
    *
    * One hash aggregate finds each cluster's winner as
    * max(struct(score, −id)) — partial+final with map-side combine, one
    * winner struct per (cluster, partition) through the exchange and NO
    * per-cluster sort. The ranking-window formulation (`row_number() over
    * (partition by cluster order by score desc)`) must exchange and sort
    * every member row first — the same argmax-vs-window argument as
    * [[graft.functions.TopKPairs]] at k = 1, here in pure built-ins.
    * Numeric ids only — null or non-numeric ids fail loudly (the
    * [[dupClusters]] `checkedId` posture; a silent null would let extra
    * keepers through) — and ids must be UNIQUE across rows: the keep flag
    * is an id-equality test against the cluster winner, so duplicate ids
    * would all inherit the winner's flag. A NULL cluster key means "not
    * clustered": the row is its own singleton and keeps itself (the
    * equi-join would silently DROP null-key rows — same left-join +
    * coalesce posture as [[semanticDedup]]'s unclustered vectors). A NaN
    * score LOSES (normalized to null, which sorts below every real score
    * in the winner struct — the [[graft.functions.TopKPairs]] NaN rule);
    * a cluster with no real-scored member falls back to the min id.
    */
  def keepBestInCluster(df: DataFrame, clusterKey: Column, id: Column, score: Column): DataFrame = {
    def checkedId(c: Column): Column = {
      val casted = c.cast("long")
      when(casted.isNull,
        raise_error(concat(lit("keepBestInCluster: id is null or non-numeric: "),
          coalesce(c.cast("string"), lit("NULL")))))
        .otherwise(casted)
    }
    val scoreN = when(isnan(score.cast("double")), lit(null)).otherwise(score)
    val best = df
      .select(clusterKey.as("__ck"),
        struct(scoreN.as("s"), (-checkedId(id)).as("nid")).as("__cand"))
      .filter(col("__ck").isNotNull)
      .groupBy(col("__ck"))
      .agg(max(col("__cand")).as("__best"))
      .select(col("__ck"), (-col("__best.nid")).as("__keep_id"))
    df.withColumn("__ck", clusterKey)
      .join(best, Seq("__ck"), "left")
      .withColumn("keep", coalesce(checkedId(id) === col("__keep_id"), lit(true)))
      .drop("__ck", "__keep_id")
  }

  /** MinHash signature: array of `numHashes` minima of per-shingle hashes
    * (2-hash Kirsch-Mitzenmacher family). Native codegen'd expression —
    * see [[graft.functions.MinHashSig]].
    */
  def minhashSignature(sh: Column, numHashes: Int): Column =
    graft.functions.TextHashes.minhashSig(sh, numHashes)

  /** LSH banding: `bands` hashes, each chaining `rowsPerBand` signature
    * entries. Two docs sharing any band hash become a candidate pair.
    */
  def bandHashes(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(
      sequence(lit(0), lit(bands - 1)),
      b =>
        struct(
          b.as("band"),
          aggregate(slice(sig, b * rowsPerBand + 1, lit(rowsPerBand)), lit(0L),
            (acc, x) => xxhash64(acc, x)).as("bucket")))

  /** md5-family LSH band buckets: the bucket key is the '|'-joined decimal
    * rendering of the band's signature entries (no re-hash — the oracle's
    * DuckDB side is then a plain `::VARCHAR ||`; values are non-negative so
    * the rendering is sign/leading-zero-unambiguous on both engines).
    */
  def bandBucketsMd5(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band"),
        array_join(
          transform(slice(sig, b * rowsPerBand + 1, lit(rowsPerBand)),
            v => v.cast("string")), "|").as("bucket")))

  /** MinHash+LSH near-dup pairs with exact Jaccard verification.
    *
    * Pipeline: shingle → signature → explode band buckets → self-join on
    * (band, bucket) → distinct candidate pairs → exact Jaccard on distinct
    * shingle sets → filter ≥ threshold.
    *
    * With numHashes=128, bands=32 (r=4), P(candidate) at J=0.5 is
    * 1-(1-0.5⁴)³² ≈ 0.87, at J=0.8 ≈ 1.0 — standard near-dup tuning.
    */
  def minhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 128,
      bands: Int = 32,
      threshold: Double = 0.5,
      md5Family: Boolean = false): DataFrame = {
    val rowsPerBand = numHashes / bands
    val sig = minhashSigTable(df, idCol, textCol, shingleSize, numHashes, md5Family)
    val bandExpr =
      if (md5Family) bandBucketsMd5(col("sig"), bands, rowsPerBand)
      else bandHashes(col("sig"), bands, rowsPerBand)
    val buckets = sig
      .select(col("doc_id"), explode(bandExpr).as("b"))
      .select(col("doc_id"), col("b.band").as("band"), col("b.bucket").as("bucket"))
    val candidates = buckets.as("l")
      .join(buckets.as("r"),
        col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
      .distinct()
    val sets = sig.select(col("doc_id"), col("hs"), size(col("hs")).as("n_sh"))
    candidates
      .join(sets.select(col("doc_id").as("doc_a"), col("hs").as("hs_a"), col("n_sh").as("n_a")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("hs").as("hs_b"), col("n_sh").as("n_b")), Seq("doc_b"))
      .withColumn("common",
        graft.functions.IntersectCountSorted.intersectCountSorted(col("hs_a"), col("hs_b")))
      .withColumn("jaccard",
        col("common").cast("double") / (col("n_a") + col("n_b") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** (doc_id, hs, sig) signature table: hs = sorted xxhash64 of each
    * distinct shingle — the exact-verify runs on these LONG arrays, not
    * the string shingles — far cheaper through the candidate-verify
    * shuffle and intersect (same trick as [[ngramJaccardPairsPrefix]];
    * hash collisions between distinct shingles are ~2⁻⁶⁴ and the recall
    * specs pin the results); sig = the MinHash signature.
    */
  private def minhashSigTable(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int,
      numHashes: Int,
      md5Family: Boolean = false): DataFrame = {
    // NOTE (r21 measured): the signature agg's pruned copies re-run per
    // consumer (band buckets keep `sig`, the verify sides keep `hs`), but
    // a localCheckpoint(false) boundary on this table measured SLOWER at
    // sf0.1 (array-heavy block write vs parallel recompute) — recompute
    // is deliberate; an ingest loop persists the signature table as its
    // artifact instead (incrementalMinhashNew's corpus side).
    val base = df.select(col(idCol).as("doc_id"),
        TextAnalysis.shingles(col(textCol), shingleSize).as("sh"))
    if (!md5Family)
      base.select(col("doc_id"),
        sort_array(transform(col("sh"), s => xxhash64(s))).as("hs"),
        minhashSignature(col("sh"), numHashes).as("sig"))
    else {
      // DuckDB-recomputable family: ONE md5 per shingle split into two
      // integers a = int(hex[1..15]), b = int(hex[17..30]), and permutation
      // i's value is a + i·b (Kirsch-Mitzenmacher; a < 2^60, b < 2^56,
      // i < 32 keep every sum < 2^62 — exact in BIGINT on both engines, no
      // mod needed). Computed EXPLODED + groupBy rather than per-row array
      // lambdas: higher-order-function lambdas evaluate interpreted per
      // element, and numHashes interpreted passes over every shingle array
      // measured 15 s at sf0.1 where this whole-stage-codegen'd hash
      // aggregate (map-side partial, one shuffle on doc_id) takes ~1 s.
      // Shingle-less docs vanish here exactly as in the oracle's unnest.
      val exploded = base
        .select(col("doc_id"), explode(col("sh")).as("s"))
        .withColumn("m", md5(col("s")))
        .withColumn("a", conv(substring(col("m"), 1, 15), 16, 10).cast("long"))
        .withColumn("b", conv(substring(col("m"), 17, 14), 16, 10).cast("long"))
      val aggs =
        sort_array(collect_list(xxhash64(col("s")))).as("hs") +:
          (0 until numHashes).map(i => min(col("a") + col("b") * i).as(s"__h$i"))
      exploded.groupBy(col("doc_id"))
        .agg(aggs.head, aggs.tail: _*)
        .select(col("doc_id"), col("hs"),
          array((0 until numHashes).map(i => col(s"__h$i")): _*).as("sig"))
    }
  }

  /** 64-bit SimHash over shingles: bit j is set iff the sum over shingles of
    * ±1 (sign of hash bit j) is non-negative. Native codegen'd expression —
    * see [[graft.functions.SimHash64]].
    */
  def simhash64(text: Column, shingleSize: Int = 3): Column =
    graft.functions.TextHashes.simhash64(TextAnalysis.shingles(text, shingleSize))

  /** The generic Hamming-band pair step shared by SimHash text dedup and
    * perceptual-hash image dedup: split a `bits`-wide hash into
    * `maxHamming + 1` contiguous bands (widths as even as floor division
    * allows; earlier bands take the remainder bits) — by pigeonhole, any
    * pair within Hamming ≤ `maxHamming` shares at least one INTACT band —
    * bucket-join on (band_idx, band_value), verify with the exact
    * `bit_count(xor)`, keep pairs ≤ the bound, dedup.
    *
    * Input: one row per item with a long id (`idCol`) and the hash
    * (`hashCol`, a non-negative long using the low `bits` bits). Output:
    * (`aOut`, `bOut`, hamming) with aOut < bOut.
    *
    * Scale shape: the only exchanges are the (band, value) bucket hash
    * join and the pair-distinct hash agg, both on fixed-width keys — the
    * payloads the hashes were computed FROM never shuffle. Band-bucket
    * skew is the operator's honest limit: a bucket of B identical band
    * values yields B² candidate rows (the SimHash analogue of a hot
    * shingle), so near-duplicate-saturated corpora should raise bands'
    * selectivity by hashing longer inputs, not by raising `maxHamming`.
    */
  /** The banded projection shared by [[hammingBandPairs]] and the
    * incremental image gate: (id, hash, band index, band value), one row
    * per (item, band). Band b has width bits/(maxHamming+1), the first
    * bits % (maxHamming+1) bands one bit wider; offsets accumulate — any
    * partition into maxHamming+1 non-empty bands satisfies the pigeonhole
    * bound, even widths just balance bucket selectivity.
    */
  private def bandBlocks(
      hashed: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int, bits: Int): DataFrame = {
    val nBands = maxHamming + 1
    require(bits >= 1 && bits <= 64, s"hammingBandPairs: bits must be in [1, 64], got $bits")
    require(maxHamming >= 0 && nBands <= bits,
      s"hammingBandPairs: need 0 <= maxHamming and maxHamming + 1 <= bits " +
        s"(got maxHamming=$maxHamming, bits=$bits)")
    val base = bits / nBands
    val rem = bits % nBands
    val layout = {
      var off = 0
      (0 until nBands).map { b =>
        val w = base + (if (b < rem) 1 else 0)
        val e = (b, off, w); off += w; e
      }
    }
    val h = col("__hbp_h")
    hashed
      .select(col(idCol).as("__hbp_id"), col(hashCol).cast("long").as("__hbp_h"))
      .select(col("__hbp_id"), h,
        explode(array(layout.map { case (b, off, w) =>
          struct(lit(b).as("blk"),
            (if (w >= 64) h
             else shiftright(h, off).bitwiseAND(lit((1L << w) - 1))).as("v"))
        }: _*)).as("b"))
      .select(col("__hbp_id"), h, col("b.blk").as("blk"), col("b.v").as("v"))
  }

  /** Hot-bucket bound for the pigeonhole band joins — the linkage
    * `maxGramFreq`/`floorBlockCap` discipline applied to Hamming banding:
    * a degenerate corpus that collapses onto one hash (all-black
    * thumbnails, silent clips, an empty-string epidemic) puts its entire
    * population into EVERY band bucket and the self-join goes n² silently
    * (measured: see SCALE.md's hot-bucket table). With `maxBucket = Some(cap)`
    * a one-row max-bucket aggregate rides the blocks as an in-plan
    * fail-loud filter ([[Guards.inPlanAssert]]): the join stage raises
    * with the observed bucket size BEFORE the quadratic output
    * materializes, instead of melting. Raising (not capping) is
    * deliberate — dropping a hot bucket silently loses RECALL on exactly
    * the rows most likely to be duplicates; the operator forces the
    * caller to pre-screen the degenerate class (e.g. content-hash exact
    * dedup, a min-entropy filter) and keeps the band join complete.
    */
  private def boundedBlocks(
      blocks: DataFrame, maxBucket: Option[Long], op: String): DataFrame =
    maxBucket match {
      case None => blocks
      case Some(cap) =>
        require(cap >= 1, s"$op: maxBucket must be >= 1, got $cap")
        // stage boundary: with the guard on, the blocks subtree gains a
        // THIRD consumer (the hot aggregate, besides the two self-join
        // sides) — checkpoint the bounded ~20-byte/row band table so the
        // caller's hash plan (decode, simhash) still evaluates once
        val b = blocks.localCheckpoint(false)
        val hot = b.groupBy(col("blk"), col("v"))
          .agg(count(lit(1)).as("__bn"))
          .agg(coalesce(max(col("__bn")), lit(0L)).as("__maxbn"))
        Guards.inPlanAssert(b, hot, col("__maxbn") <= cap,
          concat(lit(s"$op: hottest band bucket holds "),
            col("__maxbn").cast("string"),
            lit(s" hashes > maxBucket = $cap — a degenerate hash class " +
              "(uniform thumbnails / silent clips / empty docs) would make " +
              "the band self-join quadratic; pre-screen it (exact dedup, " +
              "min-entropy filter) or raise maxBucket")))
    }

  def hammingBandPairs(
      hashed: DataFrame,
      idCol: String,
      hashCol: String,
      maxHamming: Int,
      bits: Int = 64,
      aOut: String = "doc_a",
      bOut: String = "doc_b",
      maxBucket: Option[Long] = None): DataFrame = {
    val blocks = boundedBlocks(
      bandBlocks(hashed, idCol, hashCol, maxHamming, bits),
      maxBucket, "hammingBandPairs")
    blocks.as("l")
      .join(blocks.as("r"),
        col("l.blk") === col("r.blk") && col("l.v") === col("r.v") &&
          col("l.__hbp_id") < col("r.__hbp_id"))
      .select(col("l.__hbp_id").as(aOut), col("r.__hbp_id").as(bOut),
        bit_count(col("l.__hbp_h").bitwiseXOR(col("r.__hbp_h"))).as("hamming"))
      // filter BEFORE the dedup aggregate: pairs failing the Hamming bound
      // never enter the distinct's shuffle (a pair bucketed by k blocks is
      // emitted k times — dropping failures first shrinks that by the miss
      // rate, which dominates in a non-duplicated corpus)
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** SimHash near-dup candidates: [[hammingBandPairs]] over the 64-bit
    * [[simhash64]] fingerprint (at the default Hamming ≤ 3 that is the
    * classic 4 × 16-bit block layout).
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String, maxHamming: Int = 3): DataFrame = {
    val hashed = df.select(col(idCol).as("doc_id"), simhash64(col(textCol)).as("sh64"))
    hammingBandPairs(hashed, "doc_id", "sh64", maxHamming, bits = 64)
  }

  /** Image near-duplicate candidate pairs — the modality CDC chunking
    * (different bytes) and text dedup are structurally blind to: a
    * re-encoded / resized / brightness-shifted copy of the same picture.
    * [[graft.operators.Multimodal.perceptualHashes]] decodes each payload
    * and computes the 64-bit dHash (monotone-pixel-map and
    * integer-upscale invariant); [[hammingBandPairs]] generates
    * candidates by Hamming pigeonhole banding and verifies exactly.
    * Output: (media_a, media_b, hamming), media_a < media_b, one row per
    * pair of decodable images within `maxHamming`.
    *
    * Scale shape: decode is partition-local (payloads never shuffle);
    * everything after the decode moves 16 bytes per image. The band join
    * is complete for the bound (pigeonhole over maxHamming + 1 bands),
    * so recall is 100% OF THE HASH — misses are dHash's, not the join's.
    */
  def imageNearDupPairs(
      media: DataFrame,
      idCol: String = "media_id",
      binCol: String = "content",
      maxHamming: Int = 6,
      maxBucket: Option[Long] = None): DataFrame = {
    // lazy stage boundary on the 16-byte/row hash table: the band
    // self-join consumes the subtree on BOTH sides through different
    // exchange types (broadcast build vs probe), so without it the
    // partition-local DECODE runs twice — and unlike the simhash path
    // (whose signature agg ends in a reusable shuffle exchange), a
    // mapPartitions decode has no exchange for ReusedExchange to grab
    val hashed = Multimodal.perceptualHashes(
      media.select(col(idCol).as("media_id"), col(binCol).as("content")))
      .localCheckpoint(false)
    hammingBandPairs(hashed, "media_id", "dhash", maxHamming, bits = 64,
      aOut = "media_a", bOut = "media_b", maxBucket = maxBucket)
  }

  /** Audio near-duplicate candidate pairs — the telephony/re-encode
    * duplicate class (same clip at a different bit depth or gain):
    * [[graft.operators.Multimodal.perceptualAudioHashes]] decodes each
    * payload into the 64-bit envelope-difference hash (positive-gain and
    * lossless-re-encode invariant), then the same [[hammingBandPairs]]
    * machinery as text SimHash and image dHash. Output:
    * (media_a, media_b, hamming). Scale shape identical to
    * [[imageNearDupPairs]]: partition-local decode, 8 bytes per row
    * through the exchanges.
    */
  def audioNearDupPairs(
      media: DataFrame,
      idCol: String = "media_id",
      binCol: String = "content",
      maxHamming: Int = 6,
      maxBucket: Option[Long] = None): DataFrame = {
    // same decode-once stage boundary as imageNearDupPairs (8-byte hash
    // per clip through the boundary; measured 1.5 s of the 3.0 s full
    // run at sf0.1 was the second decode pass; SCALE.md, r19)
    val hashed = Multimodal.perceptualAudioHashes(
      media.select(col(idCol).as("media_id"), col(binCol).as("content")))
      .localCheckpoint(false)
    hammingBandPairs(hashed, "media_id", "audio_hash", maxHamming, bits = 64,
      aOut = "media_a", bOut = "media_b", maxBucket = maxBucket)
  }

  /** DuckDB-recomputable SimHash: 60-bit fingerprint whose per-shingle
    * hash is the first 15 hex chars of md5 read as an integer — both
    * engines get the identical value (`conv(hex,16,10)` here,
    * `('0x'||hex)::BIGINT` there), unlike the native xxhash64-based
    * [[simhash64]], which stays the scale default (one codegen'd hash per
    * shingle vs an md5 digest + 60 per-bit votes here). Bit j is set iff
    * the sum over the shingle SET of ±1 (sign of hash bit j) is
    * non-negative — order-independent, so both engines agree.
    *
    * Reference semantics as a per-row expression; interpreted HOF lambdas
    * make it fixture-tier only — [[simhashPairsMd5]] computes the same
    * fingerprint through a codegen'd exploded aggregate (the ScalaTest
    * spec pins the two implementations equal).
    */
  def simhash60Md5(sh: Column): Column = {
    val hs = transform(sh, s => conv(substring(md5(s), 1, 15), 16, 10).cast("long"))
    val bits = transform(sequence(lit(0), lit(59)), j =>
      when(
        aggregate(hs, lit(0L), (acc, h) =>
          acc + call_function("shiftright", h, j).bitwiseAND(lit(1L)) * 2 - 1) >= 0,
        call_function("shiftleft", lit(1L), j)).otherwise(lit(0L)))
    aggregate(bits, lit(0L), (a, b) => a.bitwiseOR(b))
  }

  /** [[simhash60Md5]] at scale: explode shingles, one codegen'd md5 +
    * conv per row, then a single hash aggregate with 60 bit-count sums
    * (map-side partial, one shuffle on doc_id). Bit j set iff
    * 2·ones_j ≥ n — integer-exact, same vote rule as the ±1 sum.
    */
  private def simhashTableMd5(
      df: DataFrame, idCol: String, textCol: String, shingleSize: Int): DataFrame = {
    val exploded = df
      .select(col(idCol).as("doc_id"),
        TextAnalysis.shingles(col(textCol), shingleSize).as("sh"))
      .select(col("doc_id"), explode(col("sh")).as("s"))
      .withColumn("h", conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long"))
    val aggs = count(lit(1)).as("__n") +:
      (0 until 60).map(j => sum(shiftright(col("h"), j).bitwiseAND(lit(1L))).as(s"__b$j"))
    exploded.groupBy(col("doc_id"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"),
        (0 until 60).map(j =>
            when(col(s"__b$j") * 2 >= col("__n"), lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).as("sh60"))
  }

  /** Video near-duplicate candidate pairs — frame-level perceptual
    * matching over the engine's real multi-frame decode path (MJPEG-AVI
    * stream chunks / animated GIF):
    * [[graft.operators.Multimodal.perceptualFrameHashes]] emits one
    * dHash per decoded frame; frames band-join by Hamming pigeonhole
    * across videos; a video pair qualifies when at least `minFrames`
    * DISTINCT frames of the LEFT video land within `maxHamming` of some
    * frame of the right one. Output:
    * (media_a, media_b, matched_frames), media_a < media_b.
    *
    * Scale shape: decode partition-local; frame ids pack into one long
    * (media_id · 1024 + frame_idx — maxFrames is capped at 1024, and
    * media_id must fit |id| ≤ 2^53 − 1, enforced by an in-plan fail-loud
    * guard; pre-hash wider id spaces into that range first) so the
    * band join stays on fixed-width keys; exchanges carry ≤ maxFrames ×
    * 12 bytes per video; the per-pair census is one hash agg. Hot-frame
    * skew (a black frame shared by everything) is the honest limit —
    * same class as the simhash band-bucket note on
    * [[hammingBandPairs]]; `maxBucket` turns it into an in-plan
    * fail-loud bound ([[boundedBlocks]]).
    */
  /** Pack a (media_id, frame_idx, dhash) frame table onto one fixed-width
    * band-join key: fid = media_id · 1024 + frame_idx. The packing bound
    * |media_id| ≤ 2^53 − 1 is enforced per row IN the plan (the fail-loud
    * checkedId posture from [[dupClusters]] — a silent wrap would corrupt
    * every downstream pair); pre-hash wider id spaces into range first.
    */
  private def packedFrameIds(frames: DataFrame, op: String): DataFrame = {
    val maxPackId = Long.MaxValue >> 10
    // BOTH packed components are guarded (media_id range/null AND
    // frame_idx ∈ [0, 1024)/null): perceptualFrameHashes emits in-range
    // values by construction, but the corpus side of the incremental gate
    // is a user-persisted artifact — a foreign writer's frame_idx = 2000
    // would silently bleed into the NEXT media id's fid space (splitting
    // a true duplicate's census below minFrames), and a NULL in either
    // column would null the fid and silently vanish from the band join.
    val guardedId = when(
      col("media_id").isNull || col("media_id") > maxPackId ||
        col("media_id") < -maxPackId,
      raise_error(concat(
        lit(s"$op: media_id null or outside the ±$maxPackId packing range: "),
        coalesce(col("media_id").cast("string"), lit("NULL")))))
      .otherwise(col("media_id"))
    val guardedIdx = when(
      col("frame_idx").isNull || col("frame_idx") < 0 || col("frame_idx") >= 1024,
      raise_error(concat(
        lit(s"$op: frame_idx null or outside [0, 1024): "),
        coalesce(col("frame_idx").cast("string"), lit("NULL")))))
      .otherwise(col("frame_idx"))
    frames.select(
      (guardedId * 1024L + guardedIdx).as("fid"), col("dhash"))
  }

  /** Integral unpack of [[packedFrameIds]]' media component: 1024 = 2^10,
    * so arithmetic shiftright by 10 IS floor division — consistent with
    * pmod's non-negative remainder on negative ids, and exact where a
    * double-typed divide().cast("long") would truncate toward zero and
    * lose integer precision past 2^53.
    */
  private def mediaOf(fid: Column): Column = shiftright(fid, 10)

  def videoNearDupPairs(
      media: DataFrame,
      idCol: String = "media_id",
      binCol: String = "content",
      maxHamming: Int = 6,
      minFrames: Int = 2,
      maxFrames: Int = 32,
      maxBucket: Option[Long] = None): DataFrame = {
    require(minFrames >= 1, "videoNearDupPairs: minFrames must be >= 1")
    // decode-once stage boundary: same rationale as imageNearDupPairs
    // (12 bytes per frame through the boundary, payloads never shuffle)
    val frames = Multimodal.perceptualFrameHashes(
      media.select(col(idCol).as("media_id"), col(binCol).as("content")), maxFrames)
      .localCheckpoint(false)
    val packed = packedFrameIds(frames, "videoNearDupPairs")
    val fb = boundedBlocks(
      bandBlocks(packed, "fid", "dhash", maxHamming, bits = 64),
      maxBucket, "videoNearDupPairs")
    fb.as("l")
      .join(fb.as("r"),
        col("l.blk") === col("r.blk") && col("l.v") === col("r.v") &&
          mediaOf(col("l.__hbp_id")) < mediaOf(col("r.__hbp_id")))
      .filter(bit_count(col("l.__hbp_h").bitwiseXOR(col("r.__hbp_h"))) <= maxHamming)
      .select(
        mediaOf(col("l.__hbp_id")).as("media_a"),
        mediaOf(col("r.__hbp_id")).as("media_b"),
        pmod(col("l.__hbp_id"), lit(1024L)).as("fa"))
      .distinct()
      .groupBy(col("media_a"), col("media_b"))
      .agg(count(lit(1)).as("matched_frames"))
      .filter(col("matched_frames") >= minFrames)
  }

  /** [[simhashPairs]] on the md5 family: 60-bit hash, 4 blocks of 15 bits
    * (pigeonhole at Hamming ≤ 3 needs ≥ 4 intact-block candidates — same
    * bound as the 64-bit/4×16 layout). Oracle-tier: every step is plain
    * SQL in DuckDB. Shingle-less docs vanish in the explode, exactly as in
    * the oracle's unnest.
    */
  def simhashPairsMd5(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      maxHamming: Int = 3): DataFrame = {
    val hashed = simhashTableMd5(df, idCol, textCol, shingleSize)
    hammingBandPairs(hashed, "doc_id", "sh60", maxHamming, bits = 60)
  }

  /** Exact n-gram Jaccard within blocking groups (same lang/source/size
    * bucket). Oracle-able in SQL.
    *
    * Computed via an INVERTED INDEX, not a pairwise block join: explode
    * distinct shingles, self-join on (shingle, block) to count common
    * shingles per doc pair, then `J = common / (|A| + |B| - common)`.
    * Cost is Σ_shingle freq² (near-linear for mostly-rare shingles)
    * instead of Σ_block |block|² pairs each paying an interpreted
    * `array_intersect` — measured 60× faster at sf0.1, and the only
    * shuffles are hash-partitioned on (shingle, block) / (doc_a, doc_b),
    * so it scales out. Pairs with zero common shingles never materialize
    * (they cannot pass any threshold > 0).
    */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockingKeys: Seq[Column],
      shingleSize: Int = 3,
      threshold: Double = 0.2): DataFrame = {
    require(threshold > 0.0, "inverted-index Jaccard needs threshold > 0")
    val keyNames = blockingKeys.map(_.toString)
    // lazy stage boundary: the self-join consumes the shingled table on
    // BOTH sides, and when AQE broadcasts one side there is no exchange
    // for ReusedExchange to grab — without the boundary the scan +
    // shingle string-build runs twice per plan (the imageNearDupPairs
    // decode-once rationale on the text path)
    val base = df.select(
      col(idCol).as("doc_id") +:
        TextAnalysis.shingles(col(textCol), shingleSize).as("sh") +:
        blockingKeys: _*)
      .localCheckpoint(false)
    val inv = base
      .withColumn("n_sh", size(col("sh")))
      .select(col("doc_id") +: col("n_sh") +: explode(col("sh")).as("shingle") +:
        keyNames.map(col): _*)
    // length filter (AllPairs/PPJoin): J >= t forces min(|A|,|B|)/max >= t —
    // length-incompatible pairs are dropped INSIDE the join, before they
    // reach the per-pair count aggregate's shuffle; result set unchanged
    // (the threshold filter below would reject them anyway). Compared via
    // division, not `min >= t*max`: correctly-rounded division is monotone,
    // so the pruned set is a guaranteed superset of the final J >= t set,
    // whereas the product form's double rounding can exceed an integer min
    // at the boundary (t=0.2, sizes 1 and 5: 0.2*5 -> 1.0000000000000002)
    // and wrongly prune a pair whose exact Jaccard equals the threshold.
    val lengthCompatible =
      least(col("l.n_sh"), col("r.n_sh")).cast("double") /
        greatest(col("l.n_sh"), col("r.n_sh")) >= lit(threshold)
    inv.as("l")
      .join(inv.as("r"),
        keyNames.map(k => col(s"l.$k") === col(s"r.$k"))
          .foldLeft(col("l.shingle") === col("r.shingle"))(_ && _) &&
          col("l.doc_id") < col("r.doc_id") && lengthCompatible)
      .groupBy(
        col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"),
        col("l.n_sh").as("n_a"), col("r.n_sh").as("n_b"))
      .agg(count(lit(1)).as("common"))
      .withColumn("jaccard",
        col("common").cast("double") / (col("n_a") + col("n_b") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Prefix-filtered exact Jaccard (PPJoin-style) — same results as
    * [[ngramJaccardPairs]], built for corpora with heavy-hitter shingles.
    *
    * The plain inverted index degrades when a shingle appears in f docs
    * (f² candidate rows); prefix filtering indexes only each document's
    * PREFIX — its first `n - ceil(t·n) + 1` shingles in a global canonical
    * (hash) order. Theorem: if J(A,B) ≥ t, the smallest common shingle must
    * lie in both prefixes (else the overlap fits in one doc's suffix,
    * capping |A∩B| below ceil(t·|doc|) — contradiction), so candidate
    * recall is exact, while each doc contributes ~(1-t/(1+t)) of its
    * shingles to the index. Candidates then verify on the full shingle
    * sets.
    */
  def ngramJaccardPairsPrefix(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockingKeys: Seq[Column],
      shingleSize: Int = 3,
      threshold: Double = 0.2): DataFrame = {
    require(threshold > 0.0, "prefix filtering needs threshold > 0")
    val keyNames = blockingKeys.map(_.toString)
    // lazy stage boundary: base feeds FOUR subtrees (both candidate-join
    // sides + both verify re-attach sides), each pruned differently below
    // its exchange — scan + shingle + hash-sort once per plan, not 4×
    val base = df
      .select(
        col(idCol).as("doc_id") +:
          TextAnalysis.shingles(col(textCol), shingleSize).as("sh") +:
          blockingKeys: _*)
      .withColumn("n_sh", size(col("sh")))
      .withColumn("hs", sort_array(transform(col("sh"), s => xxhash64(s))))
      .localCheckpoint(false)
      // + 2, one MORE than the classical n − ⌈t·n⌉ + 1: the theorem's
      // ⌈t·n⌉ is exact-rational, but this ceil and the verify filter both
      // run fl(·) double arithmetic, and their ±ulp disagreement at integer
      // boundaries (fl(5·0.8) = 4.0000000000000002 → ceil 5, yet
      // fl(4/(5+5-4)) can still pass a 0.4 verify) could under-prefix and
      // drop a boundary pair; one extra indexed shingle per doc absorbs
      // the whole ±1 integer ambiguity (see [[containmentPairsPrefix]]).
      .withColumn("plen",
        (col("n_sh") - ceil(col("n_sh") * lit(threshold)) + 2).cast("int"))
    val prefixes = base.select(
      col("doc_id") +: col("n_sh") +:
        explode(slice(col("hs"), lit(1), col("plen"))).as("h") +:
        keyNames.map(col): _*)
    // length filter (AllPairs/PPJoin): prune length-incompatible pairs
    // inside the candidate join, before the distinct's shuffle. Division
    // form for the same boundary-rounding reason as [[ngramJaccardPairs]].
    val lengthCompatible =
      least(col("l.n_sh"), col("r.n_sh")).cast("double") /
        greatest(col("l.n_sh"), col("r.n_sh")) >= lit(threshold)
    val candidates = prefixes.as("l")
      .join(prefixes.as("r"),
        keyNames.map(k => col(s"l.$k") === col(s"r.$k"))
          .foldLeft(col("l.h") === col("r.h"))(_ && _) &&
          col("l.doc_id") < col("r.doc_id") && lengthCompatible)
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
      .distinct()
    // verify on the hashed (long) shingle arrays — far cheaper through the
    // shuffle and intersect than the string arrays; xxhash64 collisions
    // between distinct shingles are ~2⁻⁶⁴ (and the equality-with-inverted-
    // index spec would catch any)
    val sets = base.select(col("doc_id"), col("hs"), col("n_sh"))
    candidates
      .join(sets.select(col("doc_id").as("doc_a"), col("hs").as("hs_a"), col("n_sh").as("n_a")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("hs").as("hs_b"), col("n_sh").as("n_b")), Seq("doc_b"))
      .withColumn("common",
        graft.functions.IntersectCountSorted.intersectCountSorted(col("hs_a"), col("hs_b")))
      .withColumn("jaccard",
        col("common").cast("double") / (col("n_a") + col("n_b") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Directional CONTAINMENT pairs: C(A→B) = |A∩B| / |A| over distinct
    * n-gram shingles ≥ `threshold`, emitted as (doc_a = contained doc,
    * doc_b = container). The ASYMMETRIC near-dup shape Jaccard misses:
    * a short document pasted inside a long one (quoted reposts,
    * boilerplate-wrapped copies — the crawl-dedup case in Broder 1997's
    * original resemblance/containment pair) has high containment but
    * Jaccard ≈ |A|/|B|, far below any sane threshold, so
    * [[ngramJaccardPairs]] never flags it. Mutual containment yields both
    * ordered pairs; self-pairs are excluded.
    *
    * Same inverted-index shape and cost argument as [[ngramJaccardPairs]]
    * (Σ_shingle freq² within blocks, shuffles hash-partitioned on
    * (shingle, block) / (doc_a, doc_b)). The AllPairs length filter
    * adapts to the asymmetric measure: C ≥ t forces |B| ≥ t·|A| (the
    * overlap can't exceed |B|), with NO upper bound on |B| — that missing
    * upper bound is exactly why the symmetric length filter (and the
    * len-bucket blocking the Jaccard queries use) would be WRONG here.
    * Division form for the boundary-rounding reason documented at
    * [[ngramJaccardPairs]].
    */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockingKeys: Seq[Column],
      shingleSize: Int = 3,
      threshold: Double = 0.8): DataFrame = {
    require(threshold > 0.0, "inverted-index containment needs threshold > 0")
    val keyNames = blockingKeys.map(_.toString)
    // lazy stage boundary — same self-join double-execution rationale as
    // [[ngramJaccardPairs]]
    val base = df.select(
      col(idCol).as("doc_id") +:
        TextAnalysis.shingles(col(textCol), shingleSize).as("sh") +:
        blockingKeys: _*)
      .localCheckpoint(false)
    val inv = base
      .withColumn("n_sh", size(col("sh")))
      .select(col("doc_id") +: col("n_sh") +: explode(col("sh")).as("shingle") +:
        keyNames.map(col): _*)
    val lengthCompatible =
      col("r.n_sh").cast("double") / col("l.n_sh") >= lit(threshold)
    inv.as("l")
      .join(inv.as("r"),
        keyNames.map(k => col(s"l.$k") === col(s"r.$k"))
          .foldLeft(col("l.shingle") === col("r.shingle"))(_ && _) &&
          col("l.doc_id") =!= col("r.doc_id") && lengthCompatible)
      .groupBy(
        col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"),
        col("l.n_sh").as("n_a"))
      .agg(count(lit(1)).as("common"))
      .withColumn("containment", col("common").cast("double") / col("n_a"))
      .filter(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"),
        round(col("containment"), 4).as("containment"))
  }

  /** Prefix-filtered exact containment — same results as
    * [[containmentPairs]], built for corpora with heavy-hitter shingles.
    *
    * The asymmetric (SSJoin-style) prefix scheme: only the PROBE side
    * (the contained-candidate A, whose size determines the required
    * overlap ⌈t·|A|⌉) can be prefix-truncated; the container side B must
    * index ALL its shingles, because B's theoretical prefix bound
    * |B| − ⌈t·|A|⌉ + 1 depends on the PARTNER'S size, unknown at index
    * time. Theorem (probe side): if |A∩B| ≥ ⌈t·|A|⌉ ≥ 1, the smallest
    * common shingle in the canonical (sorted-hash) order sits within A's
    * first |A| − ⌈t·|A|⌉ + 1 positions — were it later, fewer than
    * ⌈t·|A|⌉ elements of A would remain at-or-after it, yet every common
    * element is at-or-after the smallest one. B being fully indexed, the
    * candidate join on that shingle cannot miss the pair — exact recall,
    * verified on the full hashed shingle sets exactly as
    * [[ngramJaccardPairsPrefix]] does.
    *
    * The prefix length uses `+ 2`, one MORE than the classical
    * n − ⌈t·n⌉ + 1: the theorem's ⌈t·n⌉ speaks about exact rationals,
    * while both this ceil and the verify filter run fl(·) double
    * arithmetic whose ±ulp disagreement at integer boundaries (e.g.
    * fl(5·0.8) = 4.0000000000000002, ceil → 5, yet fl(4/5) ≥ 0.8 passes
    * verify) could otherwise under-prefix and drop a boundary pair. One
    * extra indexed shingle per document absorbs the entire ±1 integer
    * ambiguity: any overlap m that passes the fl verify satisfies
    * m ≥ ⌈fl(n·t)⌉ − 1, so a prefix of n − (⌈fl(n·t)⌉ − 1) + 1 suffices.
    */
  def containmentPairsPrefix(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockingKeys: Seq[Column],
      shingleSize: Int = 3,
      threshold: Double = 0.8): DataFrame = {
    require(threshold > 0.0, "prefix filtering needs threshold > 0")
    val keyNames = blockingKeys.map(_.toString)
    // lazy stage boundary — same 4-consumer rationale as
    // [[ngramJaccardPairsPrefix]] (probe, full, both verify sides)
    val base = df
      .select(
        col(idCol).as("doc_id") +:
          TextAnalysis.shingles(col(textCol), shingleSize).as("sh") +:
          blockingKeys: _*)
      .withColumn("n_sh", size(col("sh")))
      .withColumn("hs", sort_array(transform(col("sh"), s => xxhash64(s))))
      .withColumn("plen",
        (col("n_sh") - ceil(col("n_sh") * lit(threshold)) + 2).cast("int"))
      .localCheckpoint(false)
    val probe = base.select(
      col("doc_id") +: col("n_sh") +:
        explode(slice(col("hs"), lit(1), col("plen"))).as("h") +:
        keyNames.map(col): _*)
    val full = base.select(
      col("doc_id") +: col("n_sh") +: explode(col("hs")).as("h") +:
        keyNames.map(col): _*)
    val lengthCompatible =
      col("r.n_sh").cast("double") / col("l.n_sh") >= lit(threshold)
    val candidates = probe.as("l")
      .join(full.as("r"),
        keyNames.map(k => col(s"l.$k") === col(s"r.$k"))
          .foldLeft(col("l.h") === col("r.h"))(_ && _) &&
          col("l.doc_id") =!= col("r.doc_id") && lengthCompatible)
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
      .distinct()
    val sets = base.select(col("doc_id"), col("hs"), col("n_sh"))
    candidates
      .join(sets.select(col("doc_id").as("doc_a"), col("hs").as("hs_a"),
        col("n_sh").as("n_a")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("hs").as("hs_b")),
        Seq("doc_b"))
      .withColumn("common",
        graft.functions.IntersectCountSorted.intersectCountSorted(col("hs_a"), col("hs_b")))
      .withColumn("containment", col("common").cast("double") / col("n_a"))
      .filter(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"),
        round(col("containment"), 4).as("containment"))
  }

  /** TF-IDF weighted cosine near-dup pairs — the WEIGHTED similarity the
    * set-based measures miss: Jaccard/containment treat "the the the" and
    * a rare technical term as equal evidence, while tf-idf cosine is the
    * classic newswire/near-template dedup (Salton's vector model; the
    * pairwise shape of standard near-dup evaluation suites). Emits
    * (doc_a < doc_b, cos) for pairs with cosine ≥ `threshold` over
    * unigram tf·ln(N/df) weights.
    *
    * Same inverted-index skeleton as [[ngramJaccardPairs]] (cost
    * Σ_term df² within blocks, every shuffle hash-partitioned), with one
    * weighted-model twist that doubles as the heavy-hitter guard:
    * corpus-ubiquitous terms (df = N) have idf EXACTLY ln(1) = 0, so
    * their dot-product contribution is identically zero and they are
    * dropped from the index before the self-join — the hottest terms
    * never generate a candidate row, and the result set is unchanged
    * (mirrored in the oracle's `df < N`). Norms run over the same
    * weighted vectors, so the cut is exact, not an approximation.
    */
  def tfidfCosinePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockingKeys: Seq[Column],
      threshold: Double): DataFrame = {
    require(threshold > 0.0, "inverted-index cosine needs threshold > 0")
    val keyNames = blockingKeys.map(_.toString)
    val tf = df
      .select(col(idCol).as("doc_id") +:
        explode(TextAnalysis.wordTokens(col(textCol))).as("term") +: blockingKeys: _*)
      .groupBy(col("doc_id") +: col("term") +: keyNames.map(col): _*)
      .agg(count(lit(1)).as("c"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nRow = broadcast(df.agg(count(lit(1)).cast("double").as("__n")))
    // MATERIALIZED stage boundary (the semanticDedup pattern, also in the
    // prefix form): the weighted postings feed three consumers (both
    // self-join sides and the norms agg) — measured 16 parquet scans / 6
    // reused exchanges without the boundary. Lazy localCheckpoint, never
    // persist() (the session-cache leak class, BENCH_TRIAGE_r14).
    val w = tf.join(dfreq, "term").crossJoin(nRow)
      .filter(col("df") < col("__n"))
      .withColumn("w", col("c") * log(col("__n") / col("df")))
      .select(col("doc_id") +: col("term") +: col("w") +: keyNames.map(col): _*)
      .localCheckpoint(false)
    val nrm = w.groupBy(col("doc_id"))
      .agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
    w.as("l")
      .join(w.as("r"),
        keyNames.map(k => col(s"l.$k") === col(s"r.$k"))
          .foldLeft(col("l.term") === col("r.term"))(_ && _) &&
          col("l.doc_id") < col("r.doc_id"))
      .groupBy(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
      .agg(sum(col("l.w") * col("r.w")).as("dot"))
      .join(nrm.select(col("doc_id").as("doc_a"), col("nrm").as("na")), Seq("doc_a"))
      .join(nrm.select(col("doc_id").as("doc_b"), col("nrm").as("nb")), Seq("doc_b"))
      .withColumn("cos", col("dot") / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("cos"), 4).as("cos"))
  }

  /** Content-defined chunk table of a BINARY column: one (blob_id, off,
    * len, chunk_hash) row per gear-CDC chunk
    * ([[graft.functions.GearChunks]] — Xia et al. 2014/2016, public).
    * The storage-dedup primitive for opaque media payloads: chunk-level
    * exact dedup (`exactByKey` on chunk_hash), cross-blob shared-content
    * census, and delta-friendly layout all start from this table, and the
    * content-defined boundaries keep chunk identity stable under the
    * insertions/edits that shatter fixed-size chunking.
    *
    * Scale shape: the chunker is per-row codegen'd CPU; the only shuffle
    * is whatever the consumer aggregates on (typically chunk_hash — and
    * bodies never ride that exchange, only 24-byte chunk records).
    */
  def cdcChunkTable(
      df: DataFrame,
      idCol: String,
      binCol: String,
      minSize: Int = 2048,
      avgSize: Int = 4096,
      maxSize: Int = 16384): DataFrame =
    df.select(col(idCol).as("blob_id"),
        explode(graft.functions.GearChunks.cdcChunks(col(binCol), minSize, avgSize, maxSize)).as("c"))
      .select(col("blob_id"), col("c.off").as("off"),
        col("c.len").as("len"), col("c.hash").as("chunk_hash"))

  /** Prefix-pruned exact tf-idf cosine — same results as
    * [[tfidfCosinePairs]], built for corpora where blocking can't bound
    * the inverted self-join (the published unblocked path: the all-pairs
    * prefix-index framework of Bayardo, Ma & Srikant 2007, "Scaling Up
    * All Pairs Similarity Search", WWW, with the l2-norm prefix bound of
    * Anastasiu & Karypis 2014, "L2AP: Fast Exact All-Pairs Similarity
    * Search", WWW).
    *
    * The prune: with vectors normalized (v = w/‖w‖, so cos = Σ v_a·v_b),
    * fix a per-document term order and let each document SKIP indexing
    * its maximal prefix whose L2 norm stays below the threshold
    * (running Σ v² < t²). A pair ALL of whose shared terms fall in one
    * side's skipped prefix has, by Cauchy–Schwarz,
    * cos = Σ_shared v_a·v_b ≤ ‖a restricted to its prefix‖·‖b‖ < t·1,
    * so probing the FULL vectors against the pruned index keeps exact
    * recall. The bound is PER-DOCUMENT — unlike Bayardo's original
    * Σ v·maxweight(term) running bound, no global per-term statistic
    * appears, so one bursty outlier document cannot inflate a
    * mid-frequency term's bound for the whole corpus (measured on the
    * Zipf fixture: the maxweight bound left 26% of rows indexed and 19%
    * of ALL pairs as candidates at 20k docs; the l2 bound collapses the
    * mid band — SCALE.md records both curves). Documents order their
    * terms by (df desc, term), putting the heavy hitters — the rows
    * whose df² explodes the plain index — at the front where they are
    * skipped first; any fixed order is CORRECT (the Cauchy–Schwarz
    * argument uses one side's own prefix only), df-desc is the fast one.
    * Candidates verify with the exact dot over per-document sorted
    * (term-hash, weight) arrays
    * ([[graft.functions.DotSortedPairs]] — one merge scan per pair, the
    * same discipline as the prefix-Jaccard verify), normalized by the
    * stored norms so the arithmetic class matches [[tfidfCosinePairs]].
    *
    * The skip test uses `t² − 1e-9`: the running bound is a float sum
    * whose ±few-ulp error must never under-index (same boundary
    * discipline as the Jaccard prefix's +2).
    */
  def tfidfCosinePairsPrefix(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockingKeys: Seq[Column],
      threshold: Double): DataFrame = {
    require(threshold > 0.0, "prefix-pruned cosine needs threshold > 0")
    val keyNames = blockingKeys.map(_.toString)
    val keys = keyNames.map(col)
    val tf = df
      .select(col(idCol).as("doc_id") +:
        explode(TextAnalysis.wordTokens(col(textCol))).as("term") +: blockingKeys: _*)
      .groupBy(col("doc_id") +: col("term") +: keys: _*)
      .agg(count(lit(1)).as("c"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nRow = broadcast(df.agg(count(lit(1)).cast("double").as("__n")))
    // MATERIALIZED stage boundary (the semanticDedup pattern): the
    // weighted postings table feeds FOUR consumers — nrm, the bounded
    // window (probe AND index sides of the candidate join), and the
    // per-doc verify arrays — and the slightly-different projections
    // defeat exchange reuse (measured: 29 parquet scans / 12 reused
    // exchanges in the executed plan without the boundary). A production
    // all-pairs run materializes exactly this table (it is L2AP's index
    // input); in-plan, a LAZY localCheckpoint computes it once at the
    // first action. NOT persist(): CacheManager would hold the blocks
    // past this plan's lifetime (the session-cache leak class,
    // BENCH_TRIAGE_r14).
    val w = tf.join(dfreq, "term").crossJoin(nRow)
      .filter(col("df") < col("__n"))
      .withColumn("w", col("c") * log(col("__n") / col("df")))
      .select(col("doc_id") +: col("term") +: col("w") +: col("df") +: keys: _*)
      .localCheckpoint(false)
    val nrm = w.groupBy(col("doc_id"))
      .agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
    val v = w.join(nrm, "doc_id").withColumn("v", col("w") / col("nrm"))
    // running prefix ‖·‖²: df-desc order concentrates the heavy hitters
    // in the skipped prefix (df rides along from the weighting join — no
    // extra shuffle, and no per-term max statistic at all). Checkpointed
    // too: both sides of the candidate join read it (the probe side whole,
    // the index side filtered), and the window would otherwise re-sort
    // per side.
    val wnd = Window.partitionBy(col("doc_id")).orderBy(col("df").desc, col("term"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bounded = v.withColumn("__cum", sum(col("v") * col("v")).over(wnd))
      .localCheckpoint(false)
    val indexed = bounded.filter(col("__cum") >= threshold * threshold - 1e-9)
    val candidates = bounded.as("l")
      .join(indexed.as("r"),
        keyNames.map(k => col(s"l.$k") === col(s"r.$k"))
          .foldLeft(col("l.term") === col("r.term"))(_ && _) &&
          col("l.doc_id") =!= col("r.doc_id"))
      .select(least(col("l.doc_id"), col("r.doc_id")).as("doc_a"),
        greatest(col("l.doc_id"), col("r.doc_id")).as("doc_b"))
      .distinct()
    val ps = w.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(
        struct(xxhash64(col("term")).as("h"), col("w").as("w")))).as("ps"))
      .join(nrm, "doc_id")
    candidates
      .join(ps.select(col("doc_id").as("doc_a"), col("ps").as("ps_a"),
        col("nrm").as("na")), Seq("doc_a"))
      .join(ps.select(col("doc_id").as("doc_b"), col("ps").as("ps_b"),
        col("nrm").as("nb")), Seq("doc_b"))
      .withColumn("cos",
        graft.functions.DotSortedPairs.dotSortedPairs(col("ps_a"), col("ps_b")) /
          (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("cos"), 4).as("cos"))
  }

  /** Incremental CDC dedup for BINARY payloads: drop new blobs whose
    * chunk mass mostly already exists in the corpus chunk store — the
    * backup/storage-dedup shape of the incremental family, and the
    * binary analogue of [[incrementalJaccardNew]]: a lightly-edited
    * re-upload shares almost all its content-defined chunks with the
    * original (the [[graft.functions.GearChunks]] shift-invariance), so
    * its duplicate-byte ratio flags it even though its file hash differs.
    *
    * Returns the new batch MINUS blobs with
    * dup_bytes / total_bytes > `maxDupRatio`. Scale shape: the corpus
    * side reduces to its DISTINCT chunk-hash set (the persisted artifact
    * a production ingest loop maintains); the only join is new-batch
    * chunk hashes against it (left-semi, 8-byte keys) — blob bodies
    * never shuffle.
    *
    * TINY-BLOB TIER (`minBlobBytes > 0`): a blob spanning only 1–2 chunks
    * degenerates the ratio test — a 3-byte edit damages a LARGE fraction
    * of a tiny blob's chunk mass, so edited re-uploads of tiny blobs slip
    * (measured: 19/250 at sf0.01 with avg-32 chunks). Exact full-blob
    * hashing would NOT close this (the edit changes the full hash too);
    * what closes it is chunk resolution proportional to blob size: blobs
    * under `minBlobBytes` ALSO run the same ratio test at 8× finer
    * chunking against the corpus's OWN tiny blobs, and a blob flagged by
    * EITHER tier drops. The fine corpus store is bounded — every
    * contributing blob is < minBlobBytes — and fresh tiny blobs survive
    * both tiers (novel content shares no chunks at any resolution).
    * Cross-tier fragments (a tiny new blob copied out of the middle of a
    * LARGE corpus blob) are only caught when CDC boundaries align, as
    * before — fragment search is substring dedup's job, not ingest
    * dedup's.
    */
  def incrementalCdcNew(
      newBatch: DataFrame,
      corpus: DataFrame,
      idCol: String,
      binCol: String,
      minSize: Int = 2048,
      avgSize: Int = 4096,
      maxSize: Int = 16384,
      maxDupRatio: Double = 0.5,
      minBlobBytes: Int = 0): DataFrame = {
    require(maxDupRatio >= 0.0 && maxDupRatio <= 1.0,
      "incrementalCdcNew: maxDupRatio must be in [0, 1]")
    def flaggedDups(nb: DataFrame, cp: DataFrame, mn: Int, av: Int, mx: Int): DataFrame = {
      val corpusChunks = cdcChunkTable(cp, idCol, binCol, mn, av, mx)
        .select(col("chunk_hash")).distinct()
      val newChunks = cdcChunkTable(nb, idCol, binCol, mn, av, mx)
      val totals = newChunks.groupBy(col("blob_id"))
        .agg(sum(col("len")).as("__tot"))
      val dup = newChunks
        .join(corpusChunks, Seq("chunk_hash"), "left_semi")
        .groupBy(col("blob_id"))
        .agg(sum(col("len")).as("__dup"))
      totals.join(dup, Seq("blob_id"))
        .filter(col("__dup").cast("double") / col("__tot") > maxDupRatio)
        .select(col("blob_id"))
    }
    val coarse = flaggedDups(newBatch, corpus, minSize, avgSize, maxSize)
    val flagged =
      if (minBlobBytes <= 0) coarse
      else {
        // /8 keeps avg a power of two (GearChunks invariant) and puts ~8+
        // chunks on any blob near the floor, so one damaged chunk is a
        // small fraction again. The 16-byte floor on the fine average is
        // load-bearing: below it, chunks stop being content IDENTITY and
        // start being content VOCABULARY — measured on the synthetic text
        // payloads, avg-4 fine chunks flagged 72 genuinely-fresh tiny
        // blobs as duplicates (common short byte sequences collide across
        // unrelated blobs), while avg-16 flagged 1 and cut the edited-
        // re-upload slips 19 → 5 (the residue is blobs small enough that
        // even 16-byte grains put most of their mass in the damaged head)
        val fineAvg = math.max(16, avgSize / 8)
        val fineMin = math.max(1, fineAvg / 2)
        val fineMax = math.max(fineAvg * 4, maxSize / 8)
        val fine = flaggedDups(
          newBatch.filter(length(newBatch(binCol)) < minBlobBytes),
          corpus.filter(length(corpus(binCol)) < minBlobBytes),
          fineMin, fineAvg, fineMax)
        coarse.unionByName(fine).distinct()
      }
    newBatch.join(flagged, newBatch(idCol) === flagged("blob_id"), "left_anti")
  }

  /** Near-dup CLUSTERS from a pair list: connected components by iterative
    * min-label propagation, then `keep = (doc_id == cluster_id)` — the
    * "keep one document per duplicate cluster" selection every training
    * pipeline runs after pair generation. Cluster id = the minimum doc id
    * in the component (deterministic winner).
    *
    * Scale design: each iteration is two hash-partitioned joins on doc id
    * (no broadcast of the graph, no UNBOUNDED driver-side union-find), and
    * lineage is truncated per round with `localCheckpoint` so the plan does
    * not grow with the iteration count. Converges in O(component diameter)
    * iterations — near-dup clusters are shallow (diameter ≤ a few), so the
    * driver-side loop runs a handful of cheap rounds; `maxIter` bounds the
    * pathological chain case and fails loudly rather than returning a
    * half-merged clustering.
    *
    * SIZE-GATED LOCAL PATH: when the deduplicated edge list holds at most
    * `localEdgeThreshold` edges, the component labels are computed with a
    * driver-side union-find instead — the broadcast-join argument applied
    * to connected components: a few-hundred-thousand-edge graph is a
    * couple of MB, and paying 2 shuffles + a checkpoint barrier PER ROUND
    * to avoid collecting it is pure latency (measured: the distributed
    * rounds were ~70% of semanticDedup's wall time on a 4k-edge graph).
    * The edge count is already known for free because the edge list is
    * materialized before iterating. Results are IDENTICAL by construction
    * (union-by-min-id root ≡ min-label fixpoint; spec-asserted); pass
    * `localEdgeThreshold = 0` to force the distributed loop.
    *
    * Input: one row per undirected dup pair (`aCol`, `bCol`).
    * Output: one row per document that appears in ANY pair:
    * (doc_id, cluster_id, keep).
    */
  def dupClusters(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxIter: Int = 25,
      localEdgeThreshold: Long = 500000L): DataFrame = {
    // fail loudly on ids the long cast cannot represent (null, UUID-style
    // strings, ...): a silent null here would produce null-keyed edges and
    // a garbage clustering — same fail-loud posture as the maxIter check.
    // String ids should be pre-hashed (e.g. xxhash64) by the caller.
    def checkedId(c: Column, side: String): Column = {
      val casted = c.cast("long")
      when(casted.isNull,
        raise_error(concat(lit(s"dupClusters: $side id is null or non-numeric: "),
          coalesce(c.cast("string"), lit("NULL")))))
        .otherwise(casted)
    }
    // both edge directions from ONE pass over the (possibly expensive)
    // pairs plan — a union of two selects would run it twice unless
    // exchange reuse happens to kick in; explode makes single-execution
    // structural
    val edges = pairs
      .select(explode(array(
        struct(checkedId(col(aCol), aCol).as("src"), checkedId(col(bCol), bCol).as("dst")),
        struct(checkedId(col(bCol), bCol).as("src"), checkedId(col(aCol), aCol).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()
      .localCheckpoint(false)
    // LAZY checkpoint (r21): the size-gate count below IS the
    // materializing action — one job where the eager form paid an
    // internal rdd.count job plus this count
    val nEdges = edges.count()
    if (nEdges <= localEdgeThreshold) return dupClustersLocal(pairs.sparkSession, edges)
    // init = min(self, min direct neighbor): the first propagation hop is
    // folded into initialization, saving one full checkpoint+agg round
    var labels = edges
      .groupBy(col("src"))
      .agg(min(col("dst")).as("mn"))
      .select(col("src").as("id"), least(col("mn"), col("src")).as("label"))
      .localCheckpoint()
    // labels only ever DECREASE, so sum(label) is strictly monotone while
    // anything changes — convergence is one cheap agg per round, not a
    // join-and-compare against the previous labels
    def labelSum(df: DataFrame): Long =
      df.agg(coalesce(sum(col("label")), lit(0L))).head().getLong(0)
    var prevSum = labelSum(labels)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // min(own label, min neighbor label) as ONE join + union + agg —
      // the propagated labels and the node's own label meet in the same
      // hash aggregate, saving the join-back-to-labels a two-step
      // (neighbor-agg then left-join) formulation pays every round
      val updated = edges
        .join(labels.select(col("id").as("dst"), col("label").as("dst_label")), Seq("dst"))
        .select(col("src").as("id"), col("dst_label").as("label"))
        .union(labels)
        .groupBy(col("id"))
        .agg(min(col("label")).as("label"))
        .localCheckpoint()
      val s = labelSum(updated)
      converged = s == prevSum
      prevSum = s
      labels = updated
      i += 1
    }
    require(converged, s"dupClusters: did not converge in $maxIter iterations " +
      "(component diameter exceeds the bound; raise maxIter)")
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"),
      (col("id") === col("label")).as("keep"))
  }

  /** [[dupClusters]]' small-graph path: union-find with path compression
    * and union-by-min-id, so every component's root IS its minimum id —
    * the same labels the distributed min-label fixpoint converges to. The
    * result is a local relation (it broadcasts into downstream joins, like
    * any bounded artifact).
    */
  private def dupClustersLocal(
      spark: org.apache.spark.sql.SparkSession, edges: DataFrame): DataFrame = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.collect().foreach { row =>
      val a = row.getLong(0); val b = row.getLong(1)
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      // attach the LARGER root under the smaller: the component minimum is
      // always a root of itself, so find() lands on the min id
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    val rows: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(parent.keys.toArray.sorted.map { id =>
        val root = find(id)
        org.apache.spark.sql.Row(id, root, id == root)
      }: _*)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("cluster_id", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("keep", org.apache.spark.sql.types.BooleanType, nullable = false)))
    spark.createDataFrame(rows, schema)
  }

  /** Incremental exact dedup: drop rows of a NEW ingest batch whose
    * fingerprint already exists in the CORPUS — the daily-ingest shape
    * (dedup today's crawl against everything kept so far) that a full
    * re-clustering would waste a corpus-wide shuffle on.
    *
    * Plan shape: the corpus side reduces to its DISTINCT fingerprint set
    * before the anti join, so the join input is |unique fingerprints|, not
    * |corpus rows|; the anti join hash-partitions both sides on the
    * fingerprint (and AQE broadcasts the set when a filtered corpus slice
    * is small). At 100 TB the fingerprint set is the only state to keep
    * between runs — persist it as a bucketed table and the daily join is
    * co-located with zero corpus rescans.
    */
  def incrementalExact(newBatch: DataFrame, corpus: DataFrame, fp: Column): DataFrame = {
    val seen = corpus.select(fp.as("fp")).distinct()
    newBatch.withColumn("fp", fp)
      .join(seen, Seq("fp"), "left_anti")
      .drop("fp")
  }

  /** [[incrementalExact]] against a corpus stored as a parquet table at
    * `corpusPath`, tolerating a corpus that does not exist yet — the first
    * run of a daily-ingest loop, before anything was kept.
    *
    * The missing/empty corpus is detected by ATTEMPTING the read and
    * catching the analyzer's missing-path / no-schema failure, not by an
    * exists-then-read check: `Files.exists` + read is a TOCTOU against a
    * concurrent corpus writer and unreliable on object stores where listing
    * lags writes. Any other read failure (corrupt files, permissions)
    * propagates — silently treating a broken corpus as empty would re-admit
    * every duplicate.
    *
    * Concurrency: a read-dedup-append cycle built on this helper is only
    * exactly-deduplicating when cycles run sequentially (e.g. emit with
    * `maxWorkers = 1`) — two concurrent cycles can each read a corpus
    * missing the other's keepers and both admit the same duplicate.
    */
  def incrementalExactAgainstTable(newBatch: DataFrame, corpusPath: String, fp: Column): DataFrame =
    incrementalExact(newBatch, tableOrEmpty(newBatch, corpusPath), fp)

  /** Read the corpus table, or an empty batch-shaped relation when the
    * path does not exist yet (first run of an ingest loop). See
    * [[incrementalExactAgainstTable]] for why attempt-and-catch beats an
    * exists-then-read check.
    */
  private[operators] def tableOrEmpty(newBatch: DataFrame, corpusPath: String): DataFrame =
    try newBatch.sparkSession.read.parquet(corpusPath)
    catch {
      // match the stable error class (Spark 4 getCondition), with a
      // message fallback for paths where no condition is attached
      case e: org.apache.spark.sql.AnalysisException
          if e.getCondition == "PATH_NOT_FOUND" ||
            e.getCondition == "UNABLE_TO_INFER_SCHEMA" ||
            (e.getCondition == null &&
              (e.getMessage.contains("PATH_NOT_FOUND") ||
                e.getMessage.contains("UNABLE_TO_INFER_SCHEMA"))) =>
        newBatch.limit(0)
    }

  /** [[incrementalMinhashNew]] against a corpus stored as a parquet table,
    * tolerating a not-yet-existing corpus — the streaming/daily ingest
    * near-dup gate (same contract and concurrency caveat as
    * [[incrementalExactAgainstTable]]).
    */
  def incrementalMinhashNewAgainstTable(
      newBatch: DataFrame,
      corpusPath: String,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 128,
      bands: Int = 32,
      threshold: Double = 0.5): DataFrame =
    incrementalMinhashNew(newBatch, tableOrEmpty(newBatch, corpusPath),
      idCol, textCol, shingleSize, numHashes, bands, threshold)

  /** Incremental IMAGE near-dup gate — the daily/streaming image-ingest
    * shape: drop new-batch rows whose decoded dHash lands within
    * `maxHamming` of ANY hash in `corpusHashes` (the persisted
    * (media_id, dhash) artifact an ingest loop maintains — 16 bytes per
    * kept image; corpus image BYTES are never re-read or shuffled).
    * New-batch payloads decode partition-locally
    * ([[graft.operators.Multimodal.perceptualHashes]]); both sides band
    * by Hamming pigeonhole and one fixed-width-key join probes the
    * corpus; exact `bit_count` verify before the flagged-id distinct.
    * Rows that do not decode as images PASS the gate (decoded truth
    * only — an image gate has no opinion on non-images; screen those
    * with the content-hash gates).
    *
    * Batch-INTERNAL duplicates are deliberately not dropped (same
    * contract as [[incrementalExact]]: the gate screens against the
    * corpus; intra-batch dedup is [[imageNearDupPairs]] + clustering).
    */
  def incrementalImageNew(
      newBatch: DataFrame,
      corpusHashes: DataFrame,
      idCol: String = "media_id",
      binCol: String = "content",
      maxHamming: Int = 6,
      maxBucket: Option[Long] = None): DataFrame =
    incrementalHashGate(newBatch,
      Multimodal.perceptualHashes(
        newBatch.select(col(idCol).as("media_id"), col(binCol).as("content"))),
      corpusHashes, "dhash", idCol, maxHamming, maxBucket)

  /** The shared probe core of the perceptual ingest gates: band both hash
    * tables by Hamming pigeonhole, one fixed-width-key join flags new ids
    * within `maxHamming` of any corpus hash, anti-join drops them. The
    * new-batch hash table gets a lazy stage boundary — it feeds the band
    * probe while the anti join re-reads the batch, and without it the
    * partition-local decode would run twice.
    */
  private def incrementalHashGate(
      newBatch: DataFrame,
      newHashes: DataFrame,
      corpusHashes: DataFrame,
      hashCol: String,
      idCol: String,
      maxHamming: Int,
      maxBucket: Option[Long] = None): DataFrame = {
    // the corpus side is the PERSISTED ARTIFACT and its schema is the
    // contract: (media_id, <hashCol>). Validate up front with a clear
    // error instead of letting the select throw a bare AnalysisException
    // — or, worse, bind to a wrong same-named column in a wider table.
    // case-INSENSITIVE match, mirroring Spark's default column resolution
    // (a `Media_Id` artifact that the select below resolves fine should
    // not be rejected here)
    Seq("media_id", hashCol).foreach { c =>
      require(corpusHashes.columns.exists(_.equalsIgnoreCase(c)),
        s"incremental hash gate: corpus hash table must carry the persisted-artifact " +
          s"schema (media_id, $hashCol) but has no $c column " +
          s"(got [${corpusHashes.columns.mkString(", ")}]); select/rename the " +
          "artifact columns before passing it")
    }
    val nh = newHashes.localCheckpoint(false)
    val nb = bandBlocks(nh, "media_id", hashCol, maxHamming, bits = 64)
    // the hot-bucket guard watches the CORPUS side: the persisted hash
    // table is where a degenerate class accumulates batch over batch
    // (each gated batch is bounded; the corpus is not)
    val cb = boundedBlocks(
      bandBlocks(corpusHashes.select(col("media_id"), col(hashCol)),
        "media_id", hashCol, maxHamming, bits = 64),
      maxBucket, "incremental hash gate (corpus side)")
    val flagged = nb.as("l")
      .join(cb.as("r"), col("l.blk") === col("r.blk") && col("l.v") === col("r.v"))
      .filter(bit_count(col("l.__hbp_h").bitwiseXOR(col("r.__hbp_h"))) <= maxHamming)
      .select(col("l.__hbp_id").as("media_id"))
      .distinct()
    newBatch.join(flagged, newBatch(idCol) === flagged("media_id"), "left_anti")
  }

  /** Incremental AUDIO near-dup gate — [[incrementalImageNew]]'s contract
    * on the audio modality: drop new-batch rows whose envelope hash
    * ([[graft.operators.Multimodal.perceptualAudioHashes]]) lands within
    * `maxHamming` of the persisted (media_id, audio_hash) artifact —
    * catches gain-shifted and μ-law/a-law re-encoded re-posts of kept
    * clips. Non-audio rows PASS (decoded truth only); batch-internal
    * duplicates deferred to [[audioNearDupPairs]] + clustering.
    */
  def incrementalAudioNew(
      newBatch: DataFrame,
      corpusHashes: DataFrame,
      idCol: String = "media_id",
      binCol: String = "content",
      maxHamming: Int = 6,
      maxBucket: Option[Long] = None): DataFrame =
    incrementalHashGate(newBatch,
      Multimodal.perceptualAudioHashes(
        newBatch.select(col(idCol).as("media_id"), col(binCol).as("content"))),
      corpusHashes, "audio_hash", idCol, maxHamming, maxBucket)

  /** [[incrementalAudioNew]] against an envelope-hash table persisted as
    * parquet (first-run tolerant — the [[incrementalImageNewAgainstTable]]
    * contract; append side is `perceptualAudioHashes(keptRows)`).
    */
  def incrementalAudioNewAgainstTable(
      newBatch: DataFrame,
      corpusHashPath: String,
      idCol: String = "media_id",
      binCol: String = "content",
      maxHamming: Int = 6,
      maxBucket: Option[Long] = None): DataFrame = {
    val proto = Multimodal.perceptualAudioHashes(newBatch.limit(0)
      .select(col(idCol).as("media_id"), col(binCol).as("content")))
    incrementalAudioNew(newBatch, tableOrEmpty(proto, corpusHashPath),
      idCol, binCol, maxHamming, maxBucket)
  }

  /** Incremental VIDEO near-dup gate — the streaming video-ingest shape:
    * drop new-batch rows when at least `minFrames` DISTINCT frames of the
    * new video land within `maxHamming` of frames of ONE corpus video
    * (the [[videoNearDupPairs]] qualification applied against the
    * persisted (media_id, frame_idx, dhash) artifact an ingest loop
    * maintains — 12 bytes per kept frame; corpus video BYTES are never
    * re-read or shuffled). New-batch payloads decode partition-locally
    * ([[graft.operators.Multimodal.perceptualFrameHashes]]); both sides
    * pack onto the fid key ([[packedFrameIds]]), band by Hamming
    * pigeonhole, one fixed-width-key join probes the corpus, exact
    * `bit_count` verify, then the distinct-frame census gates on
    * `minFrames`. Rows that do not decode as multi-frame media PASS
    * (decoded truth only); batch-internal duplicates deferred to
    * [[videoNearDupPairs]] + clustering — the [[incrementalImageNew]]
    * contract on the fourth modality.
    */
  def incrementalVideoNew(
      newBatch: DataFrame,
      corpusFrameHashes: DataFrame,
      idCol: String = "media_id",
      binCol: String = "content",
      maxHamming: Int = 6,
      minFrames: Int = 2,
      maxFrames: Int = 32,
      maxBucket: Option[Long] = None): DataFrame = {
    require(minFrames >= 1, "incrementalVideoNew: minFrames must be >= 1")
    Seq("media_id", "frame_idx", "dhash").foreach { c =>
      // case-insensitive, mirroring default resolution (see the shared gate)
      require(corpusFrameHashes.columns.exists(_.equalsIgnoreCase(c)),
        s"incrementalVideoNew: corpus frame-hash table must carry the " +
          s"persisted-artifact schema (media_id, frame_idx, dhash) but has " +
          s"no $c column (got [${corpusFrameHashes.columns.mkString(", ")}]); " +
          "select/rename the artifact columns before passing it")
    }
    // decode-once stage boundary: the frame-hash table feeds the band
    // probe while the anti join re-reads the batch (the shared gate
    // rationale — 12 bytes/frame through the boundary)
    val nh = Multimodal.perceptualFrameHashes(
      newBatch.select(col(idCol).as("media_id"), col(binCol).as("content")), maxFrames)
      .localCheckpoint(false)
    val nb = bandBlocks(
      packedFrameIds(nh, "incrementalVideoNew"), "fid", "dhash", maxHamming, bits = 64)
    // corpus-side hot-bucket guard: same rationale as the shared gate
    // (the persisted artifact is where a degenerate frame class grows)
    val cb = boundedBlocks(
      bandBlocks(
        packedFrameIds(
          corpusFrameHashes.select(col("media_id"), col("frame_idx"), col("dhash")),
          "incrementalVideoNew"),
        "fid", "dhash", maxHamming, bits = 64),
      maxBucket, "incrementalVideoNew (corpus side)")
    val flagged = nb.as("l")
      .join(cb.as("r"), col("l.blk") === col("r.blk") && col("l.v") === col("r.v"))
      .filter(bit_count(col("l.__hbp_h").bitwiseXOR(col("r.__hbp_h"))) <= maxHamming)
      .select(mediaOf(col("l.__hbp_id")).as("media_id"),
        mediaOf(col("r.__hbp_id")).as("corpus_id"),
        pmod(col("l.__hbp_id"), lit(1024L)).as("fa"))
      .distinct()
      .groupBy(col("media_id"), col("corpus_id"))
      .agg(count(lit(1)).as("__mf"))
      .filter(col("__mf") >= minFrames)
      .select(col("media_id"))
      .distinct()
    newBatch.join(flagged, newBatch(idCol) === flagged("media_id"), "left_anti")
  }

  /** [[incrementalVideoNew]] against a frame-hash table persisted as
    * parquet (first-run tolerant — the [[incrementalImageNewAgainstTable]]
    * contract; the ingest loop's append side is
    * `perceptualFrameHashes(keptRows)` written to the same path).
    */
  def incrementalVideoNewAgainstTable(
      newBatch: DataFrame,
      corpusHashPath: String,
      idCol: String = "media_id",
      binCol: String = "content",
      maxHamming: Int = 6,
      minFrames: Int = 2,
      maxFrames: Int = 32,
      maxBucket: Option[Long] = None): DataFrame = {
    val proto = Multimodal.perceptualFrameHashes(newBatch.limit(0)
      .select(col(idCol).as("media_id"), col(binCol).as("content")), maxFrames)
    incrementalVideoNew(newBatch, tableOrEmpty(proto, corpusHashPath),
      idCol, binCol, maxHamming, minFrames, maxFrames, maxBucket)
  }

  /** [[incrementalImageNew]] against a dHash table persisted as parquet at
    * `corpusHashPath`, tolerating a not-yet-existing table (first run of
    * an ingest loop — same contract and concurrency caveat as
    * [[incrementalExactAgainstTable]]). The ingest loop's append side is
    * `Multimodal.perceptualHashes(keptRows)` written to the same path.
    */
  def incrementalImageNewAgainstTable(
      newBatch: DataFrame,
      corpusHashPath: String,
      idCol: String = "media_id",
      binCol: String = "content",
      maxHamming: Int = 6,
      maxBucket: Option[Long] = None): DataFrame = {
    val proto = Multimodal.perceptualHashes(newBatch.limit(0)
      .select(col(idCol).as("media_id"), col(binCol).as("content")))
    incrementalImageNew(newBatch, tableOrEmpty(proto, corpusHashPath),
      idCol, binCol, maxHamming, maxBucket)
  }

  /** [[incrementalExact]] with a Bloom prefilter — the daily-ingest shape
    * at corpus scale.
    *
    * The plain anti join shuffles the ENTIRE new batch against the corpus
    * fingerprint set, even though on a typical day only a sliver of the
    * batch actually collides. Here a Bloom filter built over the corpus
    * fingerprints (one corpus pass; ~1.2 GB per 10⁹ fingerprints at 1% fpp
    * — executor-broadcastable, and rebuilt incrementally per ingest cycle,
    * not per row) routes the batch map-side:
    *
    *   - bloom-NEGATIVE rows are definitely absent from the corpus — they
    *     pass straight through with NO shuffle at all;
    *   - bloom-POSITIVE rows (true dups + ~fpp of the batch) continue to
    *     the exact anti join, whose probe side is now ~fpp·|batch| + |dups|
    *     instead of |batch|.
    *
    * The result is row-identical to [[incrementalExact]]: the bloom only
    * routes, the exact join decides. The corpus side of the residual join
    * is unchanged — at 10⁹+ fingerprints that side is the big one, and
    * Spark's runtime row-level filtering already prunes it against the
    * (now tiny) probe side under AQE.
    *
    * `expectedItems` sizes the filter; left at -1 it is taken from a
    * `count()` of the distinct corpus fingerprints. The distinct set is
    * lazy-localCheckpointed — materialized once by the bloom build, reused
    * by the residual anti join, released by the ContextCleaner when the
    * plan is dropped — so the corpus is scanned once in either mode.
    *
    * EXECUTION-SEMANTICS CAVEAT — `eager` (default true): the result is
    * materialized via `localCheckpoint()` BEFORE returning, so the call
    * runs a Spark job at call time (not lazily at the caller's first
    * action) and the broadcast sketch is destroyed instead of leaking
    * across the daily-ingest loop this operator targets. Local
    * checkpoints are NOT reliable storage: the materialized blocks live on
    * executor local disk/memory without replication, so losing an executor
    * after the call makes the result unrecoverable (acceptable in the
    * single-JVM and short-lived-batch cases this targets; rerun the gate on
    * failure). Pass `eager = false` to keep the classic lazy plan — the
    * caller then owns the lifetime of the sketch broadcast until its own
    * first action, and the bloom filter is rebuilt on every downstream
    * action that recomputes the plan.
    */
  def incrementalBloom(
      newBatch: DataFrame,
      corpus: DataFrame,
      fp: Column,
      fpp: Double = 0.01,
      expectedItems: Long = -1L,
      eager: Boolean = true): DataFrame = {
    require(fpp > 0 && fpp < 1, "incrementalBloom: fpp must be in (0, 1)")
    // lazy localCheckpoint, NOT persist: the bloom build below materializes
    // it at call time either way, and in lazy mode the returned plan's
    // anti-join re-reads it with no unpersist point — persist pinned the
    // distinct set in the CacheManager for the session (the basket_rules
    // leak class, BENCH_TRIAGE_r14). Checkpoint blocks are
    // ContextCleaner-owned in both modes: freed when the plan is GC'd.
    // Trade: the truncated lineage means executor loss after block
    // materialization fails the lazy-mode plan where persist recomputed —
    // same reliability class as the eager result's caveat below (rerun
    // the gate on failure).
    val seen = corpus.select(fp.cast("string").as("fp")).distinct()
      .localCheckpoint(false)
    // the sketch build below is a Spark job either way — "lazy" mode only
    // defers the RESULT's materialization, never the bloom construction
    val n = if (expectedItems > 0) expectedItems else math.max(seen.count(), 1L)
    // native codegen'd probe (graft.functions.BloomProbe): the sketch is
    // built over xxhash64 of the fingerprints and probed with Spark's own
    // BloomFilterMightContain over a binary literal — the runtime-filter
    // layout — so the gate stays inside whole-stage codegen. The hash
    // switch only moves WHICH keys false-positive; positives are exact-
    // checked by the anti-join below, so the result is unchanged.
    val bloom = seen.select(BloomProbe.hashed(col("fp")).as("h"))
      .stat.bloomFilter("h", n, fpp)
    val sketch = BloomProbe.serialize(bloom)
    def mightContain(c: Column): Column = BloomProbe.mightContainHashed(sketch, c)
    val tagged = newBatch.withColumn("__fp", fp.cast("string"))
    val definiteNew = tagged.filter(!mightContain(col("__fp")))
    val suspects = tagged.filter(mightContain(col("__fp")))
      .join(seen.withColumnRenamed("fp", "__fp"), Seq("__fp"), "left_anti")
    val out = definiteNew.unionByName(suspects).drop("__fp")
    // eager mode cuts the lineage (the checkpointed `seen` is released by
    // the ContextCleaner once the pre-checkpoint plan is unreachable)
    if (eager) out.localCheckpoint() else out
  }

  /** Exact incremental NEAR-dup — the daily-ingest near-dup gate: keep
    * only the new-batch documents whose n-gram Jaccard stays below
    * `threshold` against EVERY corpus document (within blocking groups).
    * The near-dup analogue of [[incrementalExact]]: exact fingerprints
    * catch re-posts, this catches lightly-edited re-posts of documents the
    * corpus already has.
    *
    * Same inverted-index shape as [[ngramJaccardPairs]], but CROSS-SIDED:
    * batch grams join corpus grams on (shingle, blocking keys) with the
    * AllPairs length filter inside the join, common counts aggregate per
    * (batch, corpus) pair, and the flagged batch-id set anti-joins the
    * batch. Cost Σ_shingle freq_batch·freq_corpus — every exchange's probe
    * side is the daily batch, never the corpus, and the corpus inverted
    * index is the reusable artifact a production loop keeps materialized.
    * String shingles keep the oracle string-exact; hash them to longs at
    * web scale exactly as [[ngramJaccardPairsPrefix]] does.
    *
    * `blockingKeys` are COLUMN NAMES (same contract as
    * [[ngramJaccardPairs]]): the keys are re-resolved against both sides
    * of the join, so a computed expression must be materialized as a
    * column first (`df.withColumn("len_bucket", ...)`) — a Column
    * parameter silently could not support that (its string form doesn't
    * re-resolve), which is why the API takes names.
    */
  def incrementalJaccardNew(
      newBatch: DataFrame,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      blockingKeys: Seq[String],
      shingleSize: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    require(threshold > 0.0, "incrementalJaccardNew: threshold must be > 0")
    val keyNames = blockingKeys
    def inv(df: DataFrame) = df
      .select(col(idCol).as("doc_id") +:
        TextAnalysis.shingles(col(textCol), shingleSize).as("sh") +: keyNames.map(col): _*)
      .withColumn("n_sh", size(col("sh")))
      .select(col("doc_id") +: col("n_sh") +: explode(col("sh")).as("shingle") +:
        keyNames.map(col): _*)
    // division-form length filter — see ngramJaccardPairs for why not t·max
    val lengthCompatible =
      least(col("l.n_sh"), col("r.n_sh")).cast("double") /
        greatest(col("l.n_sh"), col("r.n_sh")) >= lit(threshold)
    val flagged = inv(newBatch).as("l")
      .join(inv(corpus).as("r"),
        keyNames.map(k => col(s"l.$k") === col(s"r.$k"))
          .foldLeft(col("l.shingle") === col("r.shingle"))(_ && _) && lengthCompatible)
      .groupBy(
        col("l.doc_id").as("doc_id"), col("r.doc_id").as("corpus_id"),
        col("l.n_sh").as("n_a"), col("r.n_sh").as("n_b"))
      .agg(count(lit(1)).as("common"))
      .filter(col("common").cast("double") / (col("n_a") + col("n_b") - col("common"))
        >= threshold)
      .select(col("doc_id")).distinct()
    newBatch.join(flagged, newBatch(idCol) === flagged("doc_id"), "left_anti")
  }

  /** [[incrementalJaccardNew]]'s LSH scale path: MinHash band buckets on
    * both sides, cross bucket join for candidates, exact Jaccard verify on
    * the hashed shingle sets — recall < 1 by LSH construction (measured vs
    * the exact variant in ScalaTest), cost O(batch · bucket) instead of
    * Σ freq². The corpus side's signatures/buckets are ingest-loop
    * artifacts to precompute and store; no blocking keys needed — the
    * banding IS the blocking.
    */
  def incrementalMinhashNew(
      newBatch: DataFrame,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 128,
      bands: Int = 32,
      threshold: Double = 0.5,
      md5Family: Boolean = false): DataFrame = {
    val rowsPerBand = numHashes / bands
    def buckets(sig: DataFrame) = {
      val bandExpr =
        if (md5Family) bandBucketsMd5(col("sig"), bands, rowsPerBand)
        else bandHashes(col("sig"), bands, rowsPerBand)
      sig
        .select(col("doc_id"), explode(bandExpr).as("b"))
        .select(col("doc_id"), col("b.band").as("band"), col("b.bucket").as("bucket"))
    }
    val bSig = minhashSigTable(newBatch, idCol, textCol, shingleSize, numHashes, md5Family)
    val cSig = minhashSigTable(corpus, idCol, textCol, shingleSize, numHashes, md5Family)
    val candidates = buckets(bSig).as("l")
      .join(buckets(cSig).as("r"),
        col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket"))
      .select(col("l.doc_id").as("batch_id"), col("r.doc_id").as("corpus_id"))
      .distinct()
    val flagged = candidates
      .join(bSig.select(col("doc_id").as("batch_id"), col("hs").as("hs_a"),
        size(col("hs")).as("n_a")), Seq("batch_id"))
      .join(cSig.select(col("doc_id").as("corpus_id"), col("hs").as("hs_b"),
        size(col("hs")).as("n_b")), Seq("corpus_id"))
      .withColumn("common",
        graft.functions.IntersectCountSorted.intersectCountSorted(col("hs_a"), col("hs_b")))
      .filter(col("common").cast("double") / (col("n_a") + col("n_b") - col("common"))
        >= threshold)
      .select(col("batch_id")).distinct()
    newBatch.join(flagged, newBatch(idCol) === flagged("batch_id"), "left_anti")
  }

  /** Exact substring-span dedup (Lee et al. 2021, "Deduplicating Training
    * Data Makes Language Models Better" — public algorithm family): flag
    * every document sharing at least one contiguous run of `k` tokens with
    * an EARLIER document (smaller id), with the count of distinct shared
    * k-token spans and the earliest such source. Catches partial/substring
    * duplication — boilerplate headers, quoted paragraphs, licence blocks —
    * that whole-document fingerprints ([[exactByKey]]) miss entirely.
    *
    * Scale shape: per-document DISTINCT k-grams via the codegen'd
    * [[graft.functions.Shingles]] expression, hashed to 8-byte longs so the
    * wide gram strings never enter a shuffle. DELIBERATE scale tradeoff:
    * the 64-bit hash makes "exact" probabilistic — by the birthday bound,
    * G distinct grams yield ~G²/2⁶⁵ colliding pairs (≈ 0.05 expected false
    * shared grams at G = 2³⁰; only at web-scale G ≳ 2³² do collisions
    * appear in practice), each inflating one doc's span count by 1. The
    * string-exact form (join on `__gs` itself) is what the DuckDB oracle
    * computes; keep grams as strings if certifiable exactness matters more
    * than shuffle width. ONE hash agg on the gram hash
    * computes each gram's minimum owner — a gram shared by m documents
    * costs m rows, never m² pairs, so a hot boilerplate gram cannot blow up
    * a reducer. The join back to per-doc grams is hash-partitioned on the
    * same key (Catalyst reuses the exchange), and the final per-doc count
    * is a second map-side-combined hash agg. All linear in corpus grams.
    *
    * `k` is conventionally 8-13 tokens (reference pipelines use 50 BPE
    * tokens ≈ 8-13 words): short k over small vocabularies flags
    * coincidental collisions, long k misses reworded spans.
    */
  def exactSubstringDups(docs: DataFrame, idCol: String, textCol: String, k: Int = 8): DataFrame = {
    require(k > 0, "exactSubstringDups: k must be positive")
    // lazy stage boundary: grams feeds the min-owner agg AND the join
    // back — the agg's copy sits below its own exchange, so the scan +
    // k-gram build ran twice per plan; 16-byte rows, computed once.
    // SCALE BOUND (r21 ADVICE): the persisted block footprint is
    // O(total corpus k-gram positions) at 16 B/row, and the truncated
    // lineage means a lost block FAILS the job instead of recomputing —
    // validated at bench scale; at cluster scale prefer recompute (drop
    // the boundary) once the gram table outgrows aggregate storage-level
    // memory+disk, the same re-read-vs-recompute switch documented for
    // the other dedup boundaries.
    val grams = docs.select(col(idCol).as("__doc"),
        explode(TextAnalysis.shingles(col(textCol), k)).as("__gs"))
      .select(col("__doc"), xxhash64(col("__gs")).as("__g"))
      .localCheckpoint(false)
    val owner = grams.groupBy(col("__g")).agg(min(col("__doc")).as("__first"))
    grams.join(owner, "__g")
      .filter(col("__doc") > col("__first"))
      .groupBy(col("__doc"))
      .agg(count(lit(1)).as("n_shared_spans"), min(col("__first")).as("first_src"))
      .select(col("__doc").as(idCol), col("n_shared_spans"), col("first_src"))
  }

  /** The REWRITE half of substring-span dedup (Lee et al. 2021 cut the
    * duplicated text, not the document): remove every token covered by a
    * k-token run that an EARLIER document (smaller id) also contains, and
    * rebuild each document from its surviving tokens in order.
    * [[exactSubstringDups]] is the audit view (which docs share spans,
    * how many); this produces the cleaned corpus.
    *
    * Returns one row per input document:
    * (idCol, n_tokens, n_removed_tokens, text_clean) — text_clean = ''
    * when the whole document was earlier-owned spans.
    *
    * Scale shape: positional k-grams (the occurrence multiset WITH
    * positions — native single-pass [[graft.functions.Shingles]]), one
    * min-owner hash agg on the gram, the covered-position explode fans
    * out k rows per FLAGGED gram only (cover is sparse in a mostly-clean
    * corpus), and the rebuild is one per-doc agg — all linear in corpus
    * tokens, hash-partitioned; no pairwise anything. Gram strings keep
    * the oracle string-exact; hash them to longs at web scale exactly as
    * [[exactSubstringDups]] documents. NOT idempotent by design: removal
    * splices previously-distant tokens together, which can form new
    * k-runs — re-run to a fixpoint if the corpus demands it (the paper's
    * single pass is the standard treatment).
    */
  def removeSharedSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8): DataFrame = {
    require(k > 0, "removeSharedSpans: k must be positive")
    val toks = docs.select(col(idCol).as("__doc"),
      TextAnalysis.wsTokens(col(textCol)).as("__t"))
    val grams = toks.select(col("__doc"),
      posexplode(graft.functions.Shingles.ngramsAll(col("__t"), k)).as(Seq("__i", "__g")))
    val owner = grams.groupBy(col("__g")).agg(min(col("__doc")).as("__first"))
    val covered = grams.join(owner, "__g")
      .filter(col("__doc") > col("__first"))
      .select(col("__doc"), explode(sequence(col("__i"), col("__i") + (k - 1))).as("__pos"))
      .distinct()
    val kept = toks
      .select(col("__doc"), posexplode(col("__t")).as(Seq("__pos", "__tok")))
      .join(covered, Seq("__doc", "__pos"), "left_anti")
      .groupBy(col("__doc"))
      .agg(count(lit(1)).as("__n_kept"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("__pos"), col("__tok")))),
            x => x.getField("__tok")),
          " ").as("__txt"))
    toks.select(col("__doc"), size(col("__t")).cast("long").as("n_tokens"))
      .join(kept, Seq("__doc"), "left")
      .select(col("__doc").as(idCol), col("n_tokens"),
        (col("n_tokens") - coalesce(col("__n_kept"), lit(0L))).as("n_removed_tokens"),
        coalesce(col("__txt"), lit("")).as("text_clean"))
  }

  /** Exact all-pairs embedding near-dup (cosine ≥ threshold). Quadratic —
    * correctness reference and oracle target only; the scale path is
    * [[embeddingNearDupLSH]].
    */
  def embeddingNearDupExact(emb: DataFrame, idCol: String, vecCol: String, threshold: Double): DataFrame = {
    val v = emb.select(col(idCol).as("vid"), toDoubleArray(col(vecCol)).as("vec"))
      .withColumn("nrm", l2Norm(col("vec")))
    v.as("l").join(v.as("r"), col("l.vid") < col("r.vid"))
      .withColumn("cos_sim", dot(col("l.vec"), col("r.vec")) / (col("l.nrm") * col("r.nrm")))
      .filter(col("cos_sim") >= threshold)
      .select(col("l.vid").as("vec_a"), col("r.vid").as("vec_b"),
        round(col("cos_sim"), 4).as("cos_sim"))
  }

  /** Semantic dedup over an embedding column (SemDeDup — Abbas et al.
    * 2023, "SemDeDup: Data-efficient learning at web-scale through
    * semantic deduplication"; public method): k-means-cluster the
    * embeddings, flag pairs above a cosine threshold WITHIN each cluster,
    * keep one representative per connected near-dup group. Catches
    * paraphrases and re-rendered pages whose text-level fingerprints all
    * differ.
    *
    * Returns one row per corpus vector: (idCol, cell, cluster_id, keep) —
    * vectors with no in-cell near-neighbor are their own singleton cluster
    * (keep = true); within a group the keeper is the minimum id
    * (deterministic, like [[exactByKey]]).
    *
    * Scale shape: the quadratic pair comparison is confined within cells —
    * cost Σ|cell|² instead of n² — and `nlist` sizes that tradeoff (the
    * paper runs 50k clusters at web scale; cells are then ~corpus/50k).
    * Cells come from the deterministic distributed Lloyd trainer
    * ([[Similarity.kmeansCells]]: broadcast codebook, map-side argmin);
    * the in-cell pair join is hash-partitioned on the cell id; group
    * labels reuse [[dupClusters]]' hash-join label propagation. Like the
    * paper, near-duplicate RECALL is bounded by the clustering — a pair
    * split across two cells is never compared (measured against the exact
    * all-pairs ground truth in ScalaTest).
    *
    * `nlist <= 0` means AUTO: size the cell count from the corpus row
    * count so expected cell occupancy stays ≈ `targetOccupancy`
    * ([[Similarity.autoCells]]) — the configuration that keeps the in-cell
    * pair cost LINEAR in corpus size instead of ∝ n²/nlist (a fixed cell
    * count was the r14 scale curve's residual super-linear point, 3.4× at
    * 10× data — the same defect class [[Similarity.autoPlanes]] fixed for
    * the LSH kNN join). The count is one column-less corpus scan at plan
    * time, noise next to the quadratic blowup a fixed cell space would
    * cost. Recall trade as in the paper: more, smaller cells split more
    * true pairs across cell boundaries for a fixed threshold.
    */
  def semanticDedup(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int,
      threshold: Double,
      iters: Int = 2,
      targetOccupancy: Int = 250): DataFrame = {
    val effNlist =
      if (nlist > 0) nlist else Similarity.autoCells(emb.count(), targetOccupancy)
    val cells = Similarity.kmeansCells(emb, idCol, vecCol, effNlist, iters)
    // MATERIALIZED stage boundary: the (vec, norm, cell) assignment feeds
    // BOTH sides of the in-cell pair join and the final cluster join — 3
    // consumers, each of which would otherwise re-run the k-means
    // assignment agg. A production SemDeDup writes the assignment table
    // out before pairing (it is the artifact the method is named after);
    // in-plan, a LAZY localCheckpoint is the single-job equivalent:
    // computed once at the first action, shared by all three consumers,
    // spills to executor disk (MEMORY_AND_DISK) when the corpus outgrows
    // storage memory, and the blocks are ContextCleaner-owned — released
    // when the returned plan is GC'd. NOT persist(): the CacheManager
    // holds a strong reference until an unpersist() this function cannot
    // issue (the stage is consumed lazily by the returned plan), so
    // persist leaked the assignment table for the session and let
    // plan-equal re-invocations silently reuse a stale-session cache
    // (the basket_rules flattering class, BENCH_TRIAGE_r14). Trade: the
    // truncated lineage means executor loss after materialization fails
    // the plan where persist recomputed — a production SemDeDup's written
    // assignment table is the durable answer; in-plan, rerun on failure.
    val v = emb.select(col(idCol).as("__id"), toDoubleArray(col(vecCol)).as("__vec"))
      .withColumn("__nrm", l2Norm(col("__vec")))
      .join(cells.select(col(idCol).as("__id"), col("cell")), Seq("__id"))
      .localCheckpoint(false)
    val pairs = v.as("l").join(v.as("r"),
        col("l.cell") === col("r.cell") && col("l.__id") < col("r.__id"))
      .filter(dot(col("l.__vec"), col("r.__vec")) / (col("l.__nrm") * col("r.__nrm"))
        >= threshold)
      .select(col("l.__id").as("vec_a"), col("r.__id").as("vec_b"))
    val grouped = dupClusters(pairs, "vec_a", "vec_b")
      .select(col("doc_id").as("__id"), col("cluster_id"), col("keep"))
    v.select(col("__id"), col("cell"))
      .join(grouped, Seq("__id"), "left")
      .select(col("__id").as(idCol), col("cell"),
        coalesce(col("cluster_id"), col("__id")).as("cluster_id"),
        coalesce(col("keep"), lit(true)).as("keep"))
  }

  /** Line-level boilerplate dedup (the cleaning pass C4 runs on
    * three-sentence spans and RefinedWeb on lines — Raffel et al. 2020
    * §2.2, Penedo et al. 2023; public heuristics): remove every occurrence
    * of a non-blank line whose corpus-wide occurrence count exceeds
    * `maxOcc` (navigation chrome, cookie banners, licence footers — the
    * text that repeats across pages even when documents differ), then
    * rebuild each document from its kept lines in original order.
    *
    * Line identity is the line text trimmed of spaces AND carriage
    * returns — crawled corpora mix LF and CRLF endings, and without the
    * `\r` trim the same boilerplate line under the two conventions counts
    * as two different keys on both engines. Blank lines are never
    * counted or removed (they are layout, not content). Occurrences are
    * counted corpus-wide, so a line repeated within one document counts
    * each time. Returns one row per input document:
    * (idCol, n_lines, n_removed, text_clean), text_clean = '' when every
    * line was boilerplate.
    *
    * Scale shape: one map-side-combined hash agg counts lines; only the
    * lines ABOVE `maxOcc` (the hot set — boilerplate is by definition a
    * tiny, high-frequency vocabulary) survive into the join's build side,
    * so the probe is a broadcast-able semi-join against MBs, not a shuffle
    * of the corpus on line text; the rebuild is one per-doc hash agg. At
    * 100 TB hash the trimmed line (xxhash64) for the count/join key so the
    * exchange carries 8-byte keys — kept as strings here for the
    * string-exact oracle.
    */
  def lineLevelDedup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxOcc: Long = 1L): DataFrame = {
    require(maxOcc >= 1, "lineLevelDedup: maxOcc must be >= 1")
    val lines = docs
      .select(col(idCol).as("__doc"),
        posexplode(split(col(textCol), "\n", -1)).as(Seq("__ln", "__line")))
      .withColumn("__key", trim(col("__line"), " \r"))
    val hot = lines.filter(col("__key") =!= "")
      .groupBy(col("__key")).agg(count(lit(1)).as("__cnt"))
      .filter(col("__cnt") > maxOcc)
    lines.join(hot, Seq("__key"), "left")
      .withColumn("__keep", col("__cnt").isNull)
      .groupBy(col("__doc"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("__keep"), 0L).otherwise(1L)).as("n_removed"),
        coalesce(
          array_join(
            transform(
              array_sort(collect_list(
                when(col("__keep"), struct(col("__ln"), col("__line"))))),
              x => x.getField("__line")),
            "\n"),
          lit("")).as("text_clean"))
      .select(col("__doc").as(idCol), col("n_lines"), col("n_removed"), col("text_clean"))
  }

  /** Random-hyperplane LSH near-dup: bucket by sign-pattern of `planes`
    * projections, verify exact cosine within buckets. Linear + bucket joins.
    */
  def embeddingNearDupLSH(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      planes: Seq[Seq[Double]]): DataFrame = {
    val v = emb.select(col(idCol).as("vid"), toDoubleArray(col(vecCol)).as("vec"))
      .withColumn("nrm", l2Norm(col("vec")))
    val sigCol = Similarity.hyperplaneSignature(col("vec"), planes)
    val bucketed = v.withColumn("bucket", sigCol)
    bucketed.as("l").join(bucketed.as("r"),
        col("l.bucket") === col("r.bucket") && col("l.vid") < col("r.vid"))
      .withColumn("cos_sim", dot(col("l.vec"), col("r.vec")) / (col("l.nrm") * col("r.nrm")))
      .filter(col("cos_sim") >= threshold)
      .select(col("l.vid").as("vec_a"), col("r.vid").as("vec_b"),
        round(col("cos_sim"), 4).as("cos_sim"))
  }
}
