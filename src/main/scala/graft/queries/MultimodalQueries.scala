package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables.documents
import graft.operators.{Dedup, Multimodal, TextAnalysis}

/** Multimodal column plumbing. Synthetic media are derived
  * deterministically from documents (the binary payload is the utf-8
  * text; metadata from doc_id) — the oracle rebuilds the same derivation
  * in SQL, so the plumbing (explode, integer-math transforms) and the
  * image/video/audio near-duplicate pipelines are what is checked.
  */
object MultimodalQueries {

  def specs: Seq[QuerySpec] = Seq(

    // Frame sampling: one row per 1000ms frame tick per video.
    QuerySpec("multimodal_frames", (s, dir) => {
      val media = syntheticMedia(s, dir)
      Multimodal.frameSample(media.filter(col("duration_ms") > 0), 1000L)
        .groupBy(col("media_id"))
        .agg(count(lit(1)).as("n_frames"), max(col("frame_ts_ms")).as("last_frame_ms"))
        .orderBy(col("media_id"))
    },
      oracleSql = Some("""SELECT media_id, count(*) AS n_frames, max(f) AS last_frame_ms
        |FROM (SELECT doc_id AS media_id,
        |             unnest(generate_series(0, length(text) * 10 - 1, 1000)) AS f
        |      FROM documents
        |      WHERE doc_id % 3 = 2 AND length(text) > 0)
        |GROUP BY media_id
        |ORDER BY media_id""".stripMargin)),

    // Content-defined chunk dedup census over the binary media payloads:
    // gear-CDC chunks (min 32 / avg 64 / max 256 bytes at this blob scale),
    // duplicate-chunk mass per media type. No SQL oracle (rolling-hash
    // chunker); spec-tier: partition/bounds/determinism and the
    // shift-invariance property fixed-size chunking lacks.
    QuerySpec("dedup_cdc_chunks", (s, dir) => {
      val media = syntheticMedia(s, dir)
      Dedup.cdcChunkTable(media, "media_id", "content", 32, 64, 256)
        .join(media.select(col("media_id").as("blob_id"), col("media_type")),
          Seq("blob_id"))
        .groupBy(col("media_type"))
        .agg(countDistinct(col("blob_id")).as("n_blobs"),
          count(lit(1)).as("n_chunks"),
          countDistinct(col("chunk_hash")).as("n_distinct_chunks"),
          sum(col("len")).as("chunk_bytes"))
        .withColumn("dup_ratio", TextAnalysis.ratio4(
          col("n_chunks") - col("n_distinct_chunks"), col("n_chunks")))
        .orderBy(col("media_type"))
    }),

    // CDC chunk census in the EXACT regime: min = avg = max = 1 MiB ≫ any
    // blob, so the gear loop can never cut (the min-size gate suppresses
    // mask hits, the max-size force never triggers) and every blob is
    // exactly ONE chunk covering its whole payload — n_chunks = n_blobs,
    // the FNV-64 chunk hash is injective-on-the-fixture content identity
    // (distinct chunk hashes ≡ distinct texts), and chunk_bytes is the
    // plain byte length. The whole chunk-table plumbing — explode, struct
    // fields, census aggregation, ratio4 — gets a DuckDB hash gate (ninth
    // exact-regime conversion); the gear BOUNDARY behavior itself stays
    // spec-tier (shift-invariance / resync specs). Oracle-duty twin of
    // dedup_cdc_chunks above.
    QuerySpec("dedup_cdc_chunks_exact", (s, dir) => {
      val media = syntheticMedia(s, dir)
      Dedup.cdcChunkTable(media, "media_id", "content", 1 << 20, 1 << 20, 1 << 20)
        .join(media.select(col("media_id").as("blob_id"), col("media_type")),
          Seq("blob_id"))
        .groupBy(col("media_type"))
        .agg(countDistinct(col("blob_id")).as("n_blobs"),
          count(lit(1)).as("n_chunks"),
          countDistinct(col("chunk_hash")).as("n_distinct_chunks"),
          sum(col("len")).as("chunk_bytes"))
        .withColumn("dup_ratio", TextAnalysis.ratio4(
          col("n_chunks") - col("n_distinct_chunks"), col("n_chunks")))
        .orderBy(col("media_type"))
    },
      // whole-blob regime: one chunk per blob, distinct chunk hashes ≡
      // distinct texts (FNV-64 content identity), chunk_bytes = byte length
      oracleSql = Some("""WITH m AS (SELECT doc_id AS blob_id,
        |                 CASE (doc_id % 3) WHEN 0 THEN 'image'
        |                                   WHEN 1 THEN 'audio'
        |                                   ELSE 'video' END AS media_type,
        |                 text
        |          FROM documents)
        |SELECT media_type,
        |       count(DISTINCT blob_id)::BIGINT AS n_blobs,
        |       count(*)::BIGINT AS n_chunks,
        |       count(DISTINCT md5(text))::BIGINT AS n_distinct_chunks,
        |       sum(strlen(text))::BIGINT AS chunk_bytes,
        |       ((20000 * (count(*) - count(DISTINCT md5(text))) + count(*))
        |          // (2 * count(*))) / 10000.0 AS dup_ratio
        |FROM m
        |GROUP BY media_type
        |ORDER BY media_type""".stripMargin)),

    // Incremental CDC dedup: new blobs vs the corpus chunk store. The new
    // batch = lightly-edited copies of even-id media (3 prepended bytes —
    // the file hash changes, the chunk mass doesn't) + odd-id media as
    // fresh arrivals; the edited copies must drop, the fresh ones stay.
    // No SQL oracle (rolling-hash chunker); spec-tier.
    QuerySpec("dedup_incremental_cdc", (s, dir) => {
      val media = syntheticMedia(s, dir)
      val corpus = media.filter(pmod(col("media_id"), lit(2)) === 0)
      val edited = corpus
        .select((col("media_id") + 1000000L).as("media_id"),
          concat(lit(Array[Byte](1, 2, 3)), col("content")).as("content"))
      val fresh = media.filter(pmod(col("media_id"), lit(2)) === 1)
        .select(col("media_id"), col("content"))
      // 32-byte average chunks: these payloads are small (200–3000 B), so
      // coarser chunking would let a 3-byte edit damage a large FRACTION
      // of a tiny blob's chunks (measured: 64/250 slipped at avg 64 vs
      // 19/250 at avg 32). The minBlobBytes=256 tier closes most of THAT
      // residue too: blobs under it re-test at avg-16 fine chunking
      // against the corpus's own tiny blobs (measured: slips 19 → 5,
      // fresh false-positives +1 — the floor on fine chunk size is what
      // keeps common short byte sequences from colliding across
      // genuinely-different blobs; see the operator's scaladoc)
      val kept = Dedup.incrementalCdcNew(edited.unionByName(fresh), corpus,
        "media_id", "content", 16, 32, 128, maxDupRatio = 0.5,
        minBlobBytes = 256)
      kept.select(col("media_id")).orderBy(col("media_id"))
    }),

    // Incremental CDC dedup in the EXACT regime: min = avg = max = 1 MiB ≫
    // any blob (the dedup_cdc_chunks_exact recipe), so every blob is ONE
    // whole-payload chunk and incrementalCdcNew degenerates to exact
    // content-identity incremental dedup — dup ratio is 1 iff the whole
    // payload already exists in the corpus (> 0.5 → drop), else 0 (keep).
    // Batch: 3-byte-edited re-uploads of the even-id corpus (share NO
    // whole-blob chunk → ALL kept; note the fine-chunking production form
    // above drops them — the regime inverts that decision on purpose,
    // hash-gating the ARITHMETIC: chunk semi-join, per-blob census, ratio
    // threshold, anti-join), byte-IDENTICAL re-uploads of every 4th even
    // blob (ratio 1 → ALL dropped — the drop branch fires at every sf),
    // and odd-id fresh arrivals (kept unless their text coincides with an
    // even-id text — 0 such at sf0.01, 4 at sf0.1). The oracle's
    // edited-kept claim rests on corpus texts never starting with byte
    // 0x01 (synthetic word text; min length 44+). Eleventh exact-regime
    // conversion; oracle-duty twin of dedup_incremental_cdc above.
    QuerySpec("dedup_incremental_cdc_exact", (s, dir) => {
      val media = syntheticMedia(s, dir)
      val corpus = media.filter(pmod(col("media_id"), lit(2)) === 0)
      val edited = corpus
        .select((col("media_id") + 1000000L).as("media_id"),
          concat(lit(Array[Byte](1, 2, 3)), col("content")).as("content"))
      val reup = corpus.filter(pmod(col("media_id"), lit(4)) === 0)
        .select((col("media_id") + 2000000L).as("media_id"), col("content"))
      val fresh = media.filter(pmod(col("media_id"), lit(2)) === 1)
        .select(col("media_id"), col("content"))
      val kept = Dedup.incrementalCdcNew(
        edited.unionByName(fresh).unionByName(reup), corpus,
        "media_id", "content", 1 << 20, 1 << 20, 1 << 20, maxDupRatio = 0.5)
      kept.select(col("media_id")).orderBy(col("media_id"))
    },
      // whole-blob regime: drop iff the exact payload exists in the even-id
      // corpus — edited re-uploads (3-byte prefix) all kept, byte-identical
      // re-uploads all dropped, odd arrivals kept unless their text equals
      // an even-id text
      oracleSql = Some("""WITH ev AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 2 = 0)
        |SELECT media_id FROM (
        |  SELECT doc_id + 1000000 AS media_id FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id AS media_id FROM documents
        |  WHERE doc_id % 2 = 1 AND md5(text) NOT IN (SELECT h FROM ev)
        |) t
        |ORDER BY media_id""".stripMargin)),

    // Resize planning: aspect-preserving fit into a 256px box, integer math.
    QuerySpec("multimodal_resize", (s, dir) => {
      val media = syntheticMedia(s, dir)
      Multimodal.resizePlan(media, 256)
        .orderBy(col("media_id"))
    },
      oracleSql = Some("""SELECT doc_id AS media_id,
        |       ((doc_id % 64) * 16 + 16)::INTEGER AS width,
        |       ((doc_id % 48) * 16 + 16)::INTEGER AS height,
        |       floor(((doc_id % 64) * 16 + 16) * 256.0
        |             / greatest((doc_id % 64) * 16 + 16, (doc_id % 48) * 16 + 16))::INTEGER AS out_width,
        |       floor(((doc_id % 48) * 16 + 16) * 256.0
        |             / greatest((doc_id % 64) * 16 + 16, (doc_id % 48) * 16 + 16))::INTEGER AS out_height
        |FROM documents
        |WHERE doc_id % 3 = 0
        |ORDER BY media_id""".stripMargin)),

    // Feature extraction through the partition-local batched decoder
    // (javax.imageio for real image bytes; deterministic byte-stride
    // fallback for the synthetic text payloads here; mapPartitions — not
    // SQL-expressible, so no oracle; determinism, batch shape, and real
    // PNG decode asserted in ScalaTest).
    QuerySpec("multimodal_features", (s, dir) => {
      val media = syntheticMedia(s, dir)
      Multimodal.extractFeatures(media)
        .groupBy(col("media_type"))
        .agg(
          count(lit(1)).as("n_media"),
          round(avg(element_at(col("features"), 1)), 4).as("avg_f0"),
          round(avg(element_at(col("features"), 16)), 4).as("avg_f15"))
        .orderBy(col("media_type"))
    }),

    // extractFeatures in the EXACT regime (fourteenth conversion —
    // previously a by-nature rows-tier family): on utf-8 TEXT payloads
    // every row takes the deterministic byte-stride fallback, and feature
    // j is (Σ bytes at positions j, j+16, …) % 1000 / 1000 — for a pure
    // ASCII fixture (asserted: max codepoint 121, byte len = strlen at
    // every sf) that is ord()-arithmetic DuckDB recomputes exactly. The
    // float step is inverted before comparison: round(f·1000) recovers
    // the exact integer stride sum (float32 error ≤ 6e-5 ≪ 0.5), so the
    // oracle compares pure BIGINTs — no float-tie risk. n_undecoded
    // additionally pins that NO text payload slips into the image-decode
    // branch. Oracle-duty twin of multimodal_features above.
    QuerySpec("multimodal_features_exact", (s, dir) => {
      val media = syntheticMedia(s, dir)
      Multimodal.extractFeatures(media)
        .groupBy(col("media_type"))
        .agg(count(lit(1)).as("n_media"),
          sum(when(col("decoded_width").isNull, 1L).otherwise(0L)).as("n_undecoded"),
          sum(round(element_at(col("features"), 1) * 1000).cast("long")).as("sum_f0"),
          sum(round(element_at(col("features"), 16) * 1000).cast("long")).as("sum_f15"))
        .orderBy(col("media_type"))
    },
      // byte-stride fallback on ASCII text payloads: feature j · 1000 =
      // (Σ bytes at stride j) % 1000, exact integer arithmetic both sides
      oracleSql = Some("""WITH m AS (SELECT doc_id,
        |                 CASE (doc_id % 3) WHEN 0 THEN 'image'
        |                                   WHEN 1 THEN 'audio'
        |                                   ELSE 'video' END AS media_type,
        |                 text
        |          FROM documents),
        |b AS (SELECT doc_id, media_type, i, ord(substr(text, i, 1)) AS byte
        |      FROM m, unnest(range(1, strlen(text) + 1)) u(i)),
        |f AS (SELECT doc_id, media_type,
        |             sum(byte) FILTER (WHERE (i - 1) % 16 = 0) % 1000 AS f0,
        |             sum(byte) FILTER (WHERE (i - 1) % 16 = 15) % 1000 AS f15
        |      FROM b GROUP BY doc_id, media_type)
        |SELECT media_type, count(*)::BIGINT AS n_media,
        |       count(*)::BIGINT AS n_undecoded,
        |       sum(f0)::BIGINT AS sum_f0, sum(f15)::BIGINT AS sum_f15
        |FROM f
        |GROUP BY media_type
        |ORDER BY media_type""".stripMargin)),

    // Image perceptual-hash near-dup in the EXACT regime: the fixture is
    // deterministic NOISE BMPs rendered from the md5 chain of each text
    // (identical texts ⇒ byte-identical images; distinct texts ⇒
    // independent 72-byte grids, dHash collision ~n²/2⁶⁵ — none here), a
    // fifth of the docs re-keyed as byte-identical duplicate uploads.
    // BMP is lossless, so at Hamming 0 the REAL pipeline — BMP encode,
    // ImageIO decode, 9×8 grid luminance, dHash, pigeonhole banding,
    // exact verify — must return exactly the identical-TEXT pairs, which
    // IS SQL: the whole decode+hash+band path gets a DuckDB hash gate
    // (the lossless-re-encode analogue of the PQ iters=0 trick; twelfth
    // exact-regime conversion). The near-dup (Hamming > 0) behavior
    // stays with `image_neardup` below + the JPEG/upscale specs.
    QuerySpec("image_neardup_exact", (s, dir) => {
      val media = Multimodal.syntheticImages(docsWithDupes(s, dir, repartitioned = true), "doc_id", "text")
      Dedup.imageNearDupPairs(media, maxHamming = 0)
        .orderBy(col("media_a"), col("media_b"))
    },
      // lossless-BMP regime: perceptual pairs at Hamming 0 ≡ identical-text
      // pairs (the fixture's images are byte-determined by the text)
      oracleSql = Some(equalTextPairsSql("0::INTEGER AS hamming"))),

    // Keep-one-per-duplicate-image-cluster — the selection step an image
    // corpus runs after pair generation, composed from the exact-regime
    // pairs above (lossless BMP fixture: clusters over Hamming-0 pairs ≡
    // identical-text groups of size > 1 with min-id representatives — a
    // plain SQL grouping, so the dupClusters min-label/union-find
    // machinery gains a hash-checked oracle consumer on an IMAGE pair
    // list, the dedup_minhash_clusters pattern).
    QuerySpec("image_neardup_clusters", (s, dir) => {
      val media = Multimodal.syntheticImages(docsWithDupes(s, dir, repartitioned = false), "doc_id", "text")
      val pairs = Dedup.imageNearDupPairs(media, maxHamming = 0)
      Dedup.dupClusters(pairs, "media_a", "media_b")
        .orderBy(col("doc_id"))
    },
      // clusters over Hamming-0 pairs on the lossless fixture ≡ equal-text
      // groups of size > 1, min-id representative
      oracleSql = Some(equalTextClustersSql)),

    // Video near-dup in the EXACT regime — the fourth modality on the
    // same recipe: deterministic 3-frame MJPEG-AVIs whose frame JPEGs
    // derive from the md5 chain of text‖frame_idx (the JDK JPEG codec is
    // deterministic for fixed input, so identical texts yield
    // byte-identical videos and identical per-frame dHashes), a fifth of
    // the docs re-keyed as byte-identical re-uploads. At Hamming 0 a
    // video pair's matched_frames is exactly 3 iff the texts are equal
    // (noise frames make cross-text frame collisions ~n²·3²/2⁶⁴) — SQL.
    // Gates the RIFF-walk frame extraction, per-frame JPEG decode,
    // dHash, packed-id banding, and the distinct-frame census
    // (fifteenth exact-regime conversion).
    QuerySpec("video_neardup_exact", (s, dir) => {
      val media = Multimodal.syntheticVideos(docsWithDupes(s, dir, repartitioned = true), "doc_id", "text")
      Dedup.videoNearDupPairs(media, maxHamming = 0, minFrames = 3)
        .orderBy(col("media_a"), col("media_b"))
    },
      // deterministic-codec regime: videos are byte-determined by the
      // text, so all-3-frames-matched pairs at Hamming 0 ≡ identical-text
      // pairs
      oracleSql = Some(equalTextPairsSql("3::BIGINT AS matched_frames"))),

    // Audio perceptual-hash near-dup in the EXACT regime — the image
    // recipe on the third modality: deterministic PCM WAVs seeded from
    // the md5 of each text (WAV is LOSSLESS, so identical texts yield
    // byte-identical payloads and the encode → javax.sound decode →
    // 65-segment RMS envelope → difference-hash path is exactly
    // reproducible), a fifth of the docs re-keyed as byte-identical
    // re-uploads. Hamming-0 pairs ≡ identical-text pairs — SQL. The
    // near-dup (μ-law re-encode) behavior stays with audio_neardup
    // below + the gain/transcode specs.
    QuerySpec("audio_neardup_exact", (s, dir) => {
      val media = Multimodal.syntheticAudioWav(docsWithDupes(s, dir, repartitioned = true), "doc_id", "text")
      Dedup.audioNearDupPairs(media, maxHamming = 0)
        .orderBy(col("media_a"), col("media_b"))
    },
      // lossless-WAV regime: envelope-hash pairs at Hamming 0 ≡
      // identical-text pairs (payloads are byte-determined by the text)
      oracleSql = Some(equalTextPairsSql("0::INTEGER AS hamming"))),

    // Audio near-dup, the production shape: PCM WAVs plus REAL μ-law
    // re-encodes (the JDK's own telephony transcode — same clip, half
    // the bit depth, different bytes) of half of them, through decode →
    // envelope hash → banding at Hamming ≤ 10. Census: every re-encode
    // must link to its original (spec-asserted); link distances stay
    // small because μ-law quantization noise averages out of segment
    // RMS. No SQL oracle (the companding curve has no DuckDB form);
    // exact-regime anchor: audio_neardup_exact gates the identical
    // pipeline losslessly.
    QuerySpec("audio_neardup", (s, dir) => {
      val base = Multimodal.syntheticAudioWav(
          documents(s, dir).repartition(32), "doc_id", "text")
        .localCheckpoint(false)
      val variants = Multimodal.reencodeUlaw(
          base.filter(pmod(col("media_id"), lit(2)) === 0))
        .select((col("media_id") + 1000000L).as("media_id"),
          col("media_type"), col("content"))
      val pairs = Dedup.audioNearDupPairs(base.unionByName(variants), maxHamming = 10)
      val isLink = col("media_b") === col("media_a") + 1000000L
      pairs.agg(
        count(lit(1)).as("n_pairs"),
        sum(when(isLink, 1L).otherwise(0L)).as("n_reencode_links"),
        round(avg(when(isLink, col("hamming"))), 4).as("avg_link_hamming"),
        max(when(isLink, col("hamming"))).as("max_link_hamming"))
    }),

    // Keep-one-per-duplicate-audio-cluster — the selection step composed
    // from the exact-regime WAV pairs (lossless codec: clusters over
    // Hamming-0 pairs ≡ identical-text groups of size > 1 with min-id
    // representatives — plain SQL), so dupClusters gains a hash-checked
    // oracle consumer on an AUDIO pair list (the image_neardup_clusters
    // pattern on the third modality).
    QuerySpec("audio_neardup_clusters", (s, dir) => {
      val media = Multimodal.syntheticAudioWav(docsWithDupes(s, dir, repartitioned = false), "doc_id", "text")
      val pairs = Dedup.audioNearDupPairs(media, maxHamming = 0)
      Dedup.dupClusters(pairs, "media_a", "media_b")
        .orderBy(col("doc_id"))
    },
      // clusters over Hamming-0 envelope-hash pairs on the lossless WAV
      // fixture ≡ equal-text groups of size > 1, min-id representative
      oracleSql = Some(equalTextClustersSql)),

    // Video near-dup, the production shape — the audio_neardup census on
    // the fourth modality: smooth 3-frame MJPEG-AVIs plus REAL per-frame
    // JPEG re-encodes (quality 0.6, container rebuilt — same footage,
    // different bytes: invisible to content-hash dedup) of half of them,
    // through the RIFF frame walk → per-frame dHash → packed-id banding.
    // Census: every re-encode must link to its original on ALL 3 frames
    // (spec-asserted). Parameters are MEASURED, not guessed (the
    // image_neardup fixture-density lesson; SCALE.md's census at ×3):
    // Hamming ≤ 10 / minFrames 2 admitted n²-growing cross-text pairs
    // (12.3k at ×3, 132k at ×10 — smooth-plaid frame hashes land within
    // 10 bits at ~1e-3 rates); Hamming ≤ 6 + minFrames 3 keeps 7500/7500
    // re-encode links (all full, with a 2-bit margin: radius 4 loses its
    // first 5 links) and cuts the cross noise to 45 — 5.3× faster, and
    // the pair output is link-dominated (linear) again. No SQL oracle
    // (JPEG DCT has no DuckDB form); exact-regime anchor:
    // video_neardup_exact gates the identical pipeline losslessly.
    QuerySpec("video_neardup", (s, dir) => {
      // lazy stage boundary: the synth feeds TWO consumers (union side
      // and re-encode input) — without it the 3-frame render runs twice
      val base = Multimodal.syntheticSmoothVideos(
          documents(s, dir).repartition(32), "doc_id", "text")
        .localCheckpoint(false)
      val variants = Multimodal.reencodeVideo(
          base.filter(pmod(col("media_id"), lit(2)) === 0), quality = 0.6f)
        .select((col("media_id") + 1000000L).as("media_id"),
          col("media_type"), col("content"))
      val pairs = Dedup.videoNearDupPairs(base.unionByName(variants),
        maxHamming = 6, minFrames = 3)
      val isLink = col("media_b") === col("media_a") + 1000000L
      pairs.agg(
        count(lit(1)).as("n_pairs"),
        sum(when(isLink, 1L).otherwise(0L)).as("n_reencode_links"),
        sum(when(isLink && col("matched_frames") === 3, 1L).otherwise(0L))
          .as("n_full_links"),
        min(when(isLink, col("matched_frames"))).as("min_link_frames"))
    }),

    // Keep-one-per-duplicate-video-cluster — dupClusters over the
    // exact-regime video pairs (deterministic codec: all-3-frame matches
    // at Hamming 0 ≡ identical-text pairs), completing the modality row:
    // pairs → clusters → keep-one, all oracle-tier (the
    // image_neardup_clusters pattern on the fourth modality).
    QuerySpec("video_neardup_clusters", (s, dir) => {
      val media = Multimodal.syntheticVideos(docsWithDupes(s, dir, repartitioned = true), "doc_id", "text")
      val pairs = Dedup.videoNearDupPairs(media, maxHamming = 0, minFrames = 3)
      Dedup.dupClusters(pairs, "media_a", "media_b")
        .orderBy(col("doc_id"))
    },
      // clusters over all-3-frame Hamming-0 video pairs on the
      // deterministic-codec fixture ≡ equal-text groups of size > 1,
      // min-id representative
      oracleSql = Some(equalTextClustersSql)),

    // video_neardup_exact on the ANIMATED-GIF container: the same
    // deterministic-codec trick (the JDK GIF sequence writer is
    // deterministic for fixed input, so identical texts yield
    // byte-identical payloads and identical per-frame dHashes) through
    // the multi-IMAGE reader decode path — the frame branch the AVI
    // fixture cannot exercise (RIFF walk vs getNumImages loop). At
    // Hamming 0 / minFrames 3 pairs ≡ identical-text pairs — SQL.
    // Completes oracle coverage of BOTH multi-frame decode branches.
    QuerySpec("video_neardup_gif_exact", (s, dir) => {
      val media = Multimodal.syntheticGifVideos(docsWithDupes(s, dir, repartitioned = true), "doc_id", "text")
      Dedup.videoNearDupPairs(media, maxHamming = 0, minFrames = 3)
        .orderBy(col("media_a"), col("media_b"))
    },
      // deterministic-GIF regime: payloads byte-determined by the text, so
      // all-3-frames-matched pairs at Hamming 0 ≡ identical-text pairs
      oracleSql = Some(equalTextPairsSql("3::BIGINT AS matched_frames"))),

    // The Hamming band-join stage of image near-dup on SQL-recomputable
    // hash columns (the dedup_simhash oracle pattern, aimed at the
    // GENERIC hammingBandPairs layout imageNearDupPairs uses): 60-bit
    // base hash per id-group from md5, XOR a doc-keyed nibble at a
    // doc-keyed position — within a group distances span 0..8, so the
    // maxHamming = 6 cut exercises both branches, and the 7-band layout
    // over 60 bits has UNEVEN widths (4×9 + 3×8 — the remainder path the
    // simhash queries' even layouts never touch). The oracle is the
    // brute-force all-pairs bit_count(xor) ≤ 6 census — equality proves
    // the pigeonhole banding is complete and the verify exact.
    QuerySpec("image_neardup_banded", (s, dir) => {
      val hashed = documents(s, dir).select(col("doc_id"),
        conv(substring(md5(pmod(col("doc_id"), lit(40)).cast("string")), 1, 15), 16, 10)
          .cast("long")
          .bitwiseXOR(call_function("shiftleft",
            pmod(col("doc_id"), lit(16)),
            (pmod(col("doc_id"), lit(15)) * 4).cast("int"))).as("h"))
      Dedup.hammingBandPairs(hashed, "doc_id", "h", maxHamming = 6, bits = 60,
          aOut = "media_a", bOut = "media_b")
        .orderBy(col("media_a"), col("media_b"))
    },
      // brute-force all-pairs Hamming census — the banded Spark plan must
      // reproduce it exactly (pigeonhole completeness + exact verify)
      oracleSql = Some("""WITH hv AS (
        |  SELECT doc_id,
        |         xor(('0x' || substr(md5((doc_id % 40)::VARCHAR), 1, 15))::BIGINT,
        |             (doc_id % 16) << (4 * (doc_id % 15))) AS h
        |  FROM documents)
        |SELECT l.doc_id AS media_a, r.doc_id AS media_b,
        |       bit_count(xor(l.h, r.h))::INTEGER AS hamming
        |FROM hv l JOIN hv r ON l.doc_id < r.doc_id
        |WHERE bit_count(xor(l.h, r.h)) <= 6
        |ORDER BY media_a, media_b""".stripMargin)),

    // Image near-dup, the production shape: smooth synthetic stills plus
    // REAL JPEG re-encodes (quality 0.75) of half of them — the dominant
    // duplicate class in crawled image corpora (same picture, different
    // bytes: invisible to CDC/content-hash dedup) — through decode →
    // dHash → banding at Hamming ≤ 10. Census output: every re-encode
    // must link to its original (n_reencode_links — spec-asserted equal
    // to the variant count), link distances stay small. No SQL oracle
    // (JPEG DCT has no DuckDB form); exact-regime anchor:
    // image_neardup_exact above gates the identical pipeline losslessly.
    QuerySpec("image_neardup", (s, dir) => {
      // lazy stage boundary: the rendered-BMP fixture feeds TWO consumers
      // (the union side and the JPEG re-encode input) with different
      // downstream projections — without it the 5k-image synth runs twice
      val base = Multimodal.syntheticSmoothImages(
          documents(s, dir).repartition(32), "doc_id", "text")
        .localCheckpoint(false)
      val variants = Multimodal.reencodeJpeg(
          base.filter(pmod(col("media_id"), lit(2)) === 0), quality = 0.75f)
        .select((col("media_id") + 1000000L).as("media_id"),
          col("media_type"), col("content"))
      val pairs = Dedup.imageNearDupPairs(base.unionByName(variants), maxHamming = 10)
      val isLink = col("media_b") === col("media_a") + 1000000L
      pairs.agg(
        count(lit(1)).as("n_pairs"),
        sum(when(isLink, 1L).otherwise(0L)).as("n_reencode_links"),
        round(avg(when(isLink, col("hamming"))), 4).as("avg_link_hamming"),
        max(when(isLink, col("hamming"))).as("max_link_hamming"))
    })
  )

  /** The synthetic media table derived from `documents`. */
  private def syntheticMedia(s: SparkSession, dir: String): DataFrame =
    Multimodal.syntheticMedia(documents(s, dir), "doc_id", "text")

  /** The near-duplicate media corpus: every document plus a fifth of them
    * re-keyed (doc_id + 1000000) as byte-identical duplicate uploads.
    * `repartitioned` spreads the rows BEFORE the per-row codec work: the
    * sf fixtures are a single dense parquet file → one scan partition,
    * which would pin the whole render+decode stage to one core; 5k text
    * rows through one cheap exchange buy 32-way parallel media work (real
    * media tables arrive multi-file and skip this).
    */
  private def docsWithDupes(s: SparkSession, dir: String, repartitioned: Boolean): DataFrame = {
    val base = documents(s, dir).select(col("doc_id"), col("text"))
    val docs = if (repartitioned) base.repartition(32) else base
    docs.unionByName(docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
  }

  /** DuckDB oracle of the exact-regime near-dup pair queries: on the
    * lossless fixtures, pairs at Hamming 0 ≡ identical-text pairs; `score`
    * is the constant score column.
    */
  private def equalTextPairsSql(score: String): String =
    s"""WITH $docsWithDupesSql
       |SELECT l.doc_id AS media_a, r.doc_id AS media_b, $score
       |FROM d l JOIN d r ON md5(l.text) = md5(r.text) AND l.doc_id < r.doc_id
       |ORDER BY media_a, media_b""".stripMargin

  /** DuckDB oracle of the near-dup cluster queries on the lossless
    * fixtures: clusters over Hamming-0 pairs ≡ equal-text groups of size
    * > 1, min-id representative.
    */
  private def equalTextClustersSql: String =
    s"""WITH $docsWithDupesSql,
       |g AS (SELECT doc_id, md5(text) AS h FROM d),
       |c AS (SELECT h, min(doc_id) AS cid, count(*) AS n FROM g GROUP BY h)
       |SELECT g.doc_id, c.cid AS cluster_id, (g.doc_id = c.cid) AS keep
       |FROM g JOIN c USING (h)
       |WHERE c.n > 1
       |ORDER BY doc_id""".stripMargin

  /** DuckDB CTE `d` mirroring [[docsWithDupes]]. */
  private val docsWithDupesSql =
    """d AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0)""".stripMargin
}
