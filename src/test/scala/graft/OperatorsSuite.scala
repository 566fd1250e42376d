package graft

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.operators._

/** Invariant tests for operators without a DuckDB oracle (hash-family- or
  * sketch-specific results), plus window-assignment invariants.
  */
class OperatorsSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf0001

  lazy val docs = Tables.documents(spark, sf).cache()
  lazy val emb = Tables.embeddings(spark, sf).cache()

  // the session is shared: suites that run later must see parquet scans in
  // their plans, not these caches
  override def afterAll(): Unit =
    try { docs.unpersist(); emb.unpersist() } finally super.afterAll()

  /** Ground truth: blocking-free exact 3-gram Jaccard for all pairs ≥ 0.5
    * (computed once, reused by the minhash/simhash tests).
    */
  lazy val exactPairsWithJ: Map[(Long, Long), Double] = {
    val s = docs.select(col("doc_id"), TextAnalysis.shingles(col("text"), 3).as("sh"))
    s.as("l").join(s.as("r"), col("l.doc_id") < col("r.doc_id"))
      .withColumn("j",
        size(array_intersect(col("l.sh"), col("r.sh"))).cast("double") /
          size(array_union(col("l.sh"), col("r.sh"))))
      .filter(col("j") >= 0.5)
      .select(col("l.doc_id"), col("r.doc_id"), col("j"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
  }
  lazy val exactPairs: Set[(Long, Long)] = exactPairsWithJ.keySet

  test("minhash pairs: full recall of exact pairs at J>=0.5 and no false positives") {
    val got = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // minhashPairs verifies candidates with EXACT jaccard, so: no false
    // positives by construction; recall limited only by LSH banding.
    assert(got.subsetOf(exactPairs))
    assert(exactPairs.nonEmpty)
    val recall = got.size.toDouble / exactPairs.size
    assert(recall >= 0.9, s"recall $recall, got ${got.size} of ${exactPairs.size}")
  }

  test("md5-family minhash pairs: no false positives, high recall of exact pairs") {
    // the family behind the oracle-tier dedup_minhash* queries: 32 hashes,
    // 16 bands of 2; precision exact by construction (verified jaccard),
    // recall bounded by banding (P(candidate | J=0.5) = 1-(1-0.25)^16 ≈ .99)
    val got = Dedup.minhashPairs(docs, "doc_id", "text",
        numHashes = 32, bands = 16, threshold = 0.5, md5Family = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(exactPairs))
    assert(exactPairs.nonEmpty)
    val recall = got.size.toDouble / exactPairs.size
    assert(recall >= 0.9, s"recall $recall, got ${got.size} of ${exactPairs.size}")
  }

  test("md5-family simhash banding is COMPLETE for hamming <= 3 over 60-bit fingerprints") {
    val sigs = docs
      .select(col("doc_id"), TextAnalysis.shingles(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), Dedup.simhash60Md5(col("sh")).as("sh60"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val truth = (for {
      (ida, ha) <- sigs; (idb, hb) <- sigs if ida < idb
      if java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (ida, idb)).toSet
    val got = Dedup.simhashPairsMd5(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === truth, s"missing=${truth -- got} extra=${got -- truth}")
  }

  test("md5-plane embedding LSH: no false positives vs exact pairs, nonempty, deterministic") {
    // the family behind the oracle-tier embedding_neardup_lsh query:
    // precision is exact by construction (candidates verify with the same
    // cosine as the exact operator); recall is the documented LSH loss
    // (pairs split across sign buckets) — assert mechanics, not a recall
    // number the 4-plane single-table setup doesn't promise
    def run() = Dedup.embeddingNearDupLSH(emb, "vec_id", "embedding", 0.3,
        Similarity.md5Planes(4, 64))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = run()
    val exact = Dedup.embeddingNearDupExact(emb, "vec_id", "embedding", 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.nonEmpty, "fixture should produce same-bucket near-dup pairs")
    assert(got.subsetOf(exact), s"false positives: ${got -- exact}")
    assert(run() === got, "deterministic across runs")
  }

  test("md5-family winnow fingerprints equal per-doc distinct sliding-window minima") {
    // local reference over the ENGINE's own gram multiset (so this pins the
    // md5-int conversion + window/frame logic, not tokenizer details): the
    // distinct fingerprint set is {min of each w-window of gram hashes},
    // whole doc = one window when it has fewer than w grams
    def h(gram: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(gram.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    val expected = docs
      .select(col("doc_id"), TextAnalysis.ngramsAll(col("text"), 3).as("g"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[String](1)))
      .collect { case (id, grams) if grams.nonEmpty =>
        val hs = grams.map(h)
        val win = math.min(4, hs.size)
        id -> hs.sliding(win).map(_.min).toSet
      }.toMap
    val got = TextAnalysis.winnowFingerprintsMd5(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(got === expected)
  }

  test("simhash banding is COMPLETE for hamming <= 3 (pigeonhole guarantee)") {
    // ground truth from the signatures themselves: all pairs at hamming <= 3
    val sigs = docs.select(col("doc_id"), Dedup.simhash64(col("text")).as("sh64"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val truth = (for {
      (ida, ha) <- sigs; (idb, hb) <- sigs if ida < idb
      if java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (ida, idb)).toSet
    val got = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === truth, s"missing=${truth -- got} extra=${got -- truth}")
    assert(truth.nonEmpty, "expected at least one simhash near-dup pair in testdata")
  }

  test("hammingBandPairs: complete vs brute force — uneven 60-bit/7-band, 64-bit " +
    "with negative hashes, full-width single band") {
    import spark.implicits._
    val rnd = new scala.util.Random(4711)
    // clustered fixture: 30 random bases, each with variants at 0..7
    // flipped bits plus one exact duplicate (hamming-0 pairs exist for
    // the maxHamming = 0 single-band case)
    def fixture(bits: Int): Seq[(Long, Long)] = {
      val mask = if (bits >= 64) -1L else (1L << bits) - 1
      Seq.fill(30)(rnd.nextLong() & mask).zipWithIndex.flatMap { case (b, i) =>
        val variants = (0 until 8).map { k =>
          var h = b
          (0 until k).foreach(j => h ^= 1L << ((i * 13 + j * 7) % bits))
          h
        } :+ b
        variants.zipWithIndex.map { case (h, k) => ((i * 9 + k).toLong, h) }
      }
    }
    for ((bits, maxH) <- Seq((60, 6), (64, 3), (64, 0))) {
      val rows = fixture(bits)
      val truth = (for {
        (ida, ha) <- rows; (idb, hb) <- rows if ida < idb
        if java.lang.Long.bitCount(ha ^ hb) <= maxH
      } yield (ida, idb, java.lang.Long.bitCount(ha ^ hb))).toSet
      val got = Dedup.hammingBandPairs(rows.toDF("id", "h"), "id", "h", maxH, bits)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(truth.nonEmpty, s"degenerate fixture at bits=$bits maxH=$maxH")
      assert(got === truth,
        s"bits=$bits maxH=$maxH missing=${truth -- got} extra=${got -- truth}")
    }
  }

  test("hammingBandPairs: maxBucket guard raises on a degenerate one-hash corpus, " +
    "is output-neutral under the cap") {
    import spark.implicits._
    // the all-black-thumbnail shape: every row shares one hash, so every
    // band bucket holds the whole population and the ungated self-join
    // is n^2 (measured in SCALE.md's r20 hot-bucket table)
    val hot = (0L until 500L).map((_, 0x5a5a17a9L)).toDF("id", "h")
    val ex = intercept[Exception] {
      Dedup.hammingBandPairs(hot, "id", "h", maxHamming = 6,
        maxBucket = Some(100L)).count()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(m => m.contains("hottest band bucket") && m.contains("500")),
      s"expected the hot-bucket guard with the observed size, got: ${msgs(ex).take(3)}")

    // under the cap the guard is a pass-through filter: pairs identical
    // to the ungated run on a diverse fixture (same clustered shape as
    // the completeness spec)
    val rnd = new scala.util.Random(97)
    val rows = Seq.fill(40)(rnd.nextLong()).zipWithIndex.flatMap { case (b, i) =>
      (0 until 4).map { k =>
        var h = b
        (0 until k).foreach(j => h ^= 1L << ((i * 11 + j * 5) % 64))
        ((i * 4 + k).toLong, h)
      }
    }.toDF("id", "h")
    def collectPairs(mb: Option[Long]) =
      Dedup.hammingBandPairs(rows, "id", "h", maxHamming = 3, maxBucket = mb)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val ungated = collectPairs(None)
    assert(ungated.nonEmpty)
    assert(collectPairs(Some(1000L)) === ungated,
      "a satisfied maxBucket guard must be output-neutral")

    // the guard threads through ALL THREE modality pair generators
    // (identical payloads = one shared hash = the degenerate bucket)
    val clip = {
      val img = smoothImg(1.1, 0.7, 0.2)
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "bmp", baos)
      baos.toByteArray
    }
    val media = (0L until 50L).map(i => (i, "image", clip))
      .toDF("media_id", "media_type", "content")
    val imgEx = intercept[Exception] {
      Dedup.imageNearDupPairs(media, maxHamming = 0, maxBucket = Some(10L)).count()
    }
    assert(msgs(imgEx).exists(_.contains("hottest band bucket")),
      s"imageNearDupPairs must thread maxBucket, got: ${msgs(imgEx).take(3)}")
    val wav = {
      val rnd2 = new java.util.Random(7L)
      val n = 2080
      val data = new Array[Byte](n * 2)
      for (s <- 0 until n) {
        val v = rnd2.nextInt(30000) - 15000
        data(2 * s) = (v & 0xFF).toByte
        data(2 * s + 1) = ((v >> 8) & 0xFF).toByte
      }
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(data), fmt, n.toLong)
      val baos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(
        ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
      baos.toByteArray
    }
    val audioMedia = (0L until 50L).map(i => (i, "audio", wav))
      .toDF("media_id", "media_type", "content")
    val audEx = intercept[Exception] {
      Dedup.audioNearDupPairs(audioMedia, maxHamming = 0, maxBucket = Some(10L)).count()
    }
    assert(msgs(audEx).exists(_.contains("hottest band bucket")),
      s"audioNearDupPairs must thread maxBucket, got: ${msgs(audEx).take(3)}")
    val avi = Multimodal.buildMjpegAvi(Seq({
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(smoothImg(1.1, 0.7, 0.2), "jpg", baos)
      baos.toByteArray
    }))
    val videoMedia = (0L until 50L).map(i => (i, "video", avi))
      .toDF("media_id", "media_type", "content")
    val vidEx = intercept[Exception] {
      Dedup.videoNearDupPairs(videoMedia, maxHamming = 0, minFrames = 1,
        maxBucket = Some(10L)).count()
    }
    assert(msgs(vidEx).exists(_.contains("hottest band bucket")),
      s"videoNearDupPairs must thread maxBucket, got: ${msgs(vidEx).take(3)}")
  }

  private def smoothImg(fx: Double, fy: Double, phase: Double): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(
      72, 64, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 64; x <- 0 until 72) {
      val s = math.sin(2.0 * math.Pi * (fx * x / 72.0 + fy * y / 64.0) + phase)
      val v = (128 + 84 * s).toInt
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    img
  }

  test("dhash64: invariant to brightness shift and integer upscale, near-invariant " +
    "to JPEG re-encode, far for distinct images") {
    def enc(img: java.awt.image.BufferedImage, fmt: String): Array[Byte] = {
      val baos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, baos), s"JDK must encode $fmt")
      baos.toByteArray
    }
    def dec(b: Array[Byte]) =
      javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
    val a = smoothImg(1.7, 1.2, 0.3)
    val ha = Multimodal.dhash64(a)

    // JPEG re-encode (the dominant crawled-image duplicate class): smooth
    // luminance gradients dominate the DCT quantization noise
    val jpegHam = java.lang.Long.bitCount(ha ^ Multimodal.dhash64(dec(enc(a, "jpg"))))
    assert(jpegHam <= 8, s"JPEG re-encode drifted $jpegHam bits")

    // 2× integer upscale: grid cells average replicated pixel blocks — exact
    val up = new java.awt.image.BufferedImage(
      144, 128, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 128; x <- 0 until 144) up.setRGB(x, y, a.getRGB(x / 2, y / 2))
    assert(Multimodal.dhash64(up) === ha, "integer upscale must be dHash-exact")

    // global brightness shift (no clipping: values stay in [44+15, 212+15])
    // is a strictly monotone pixel map — every neighbor comparison preserved
    val bright = new java.awt.image.BufferedImage(
      72, 64, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 64; x <- 0 until 72) {
      val v = (a.getRGB(x, y) & 0xFF) + 15
      bright.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    assert(Multimodal.dhash64(bright) === ha, "brightness shift must be dHash-exact")

    // a different image is far — the threshold has headroom on both sides
    val hb = Multimodal.dhash64(smoothImg(2.6, 0.7, 2.9))
    assert(java.lang.Long.bitCount(ha ^ hb) >= 12,
      s"distinct images too close: ${java.lang.Long.bitCount(ha ^ hb)}")

    // aHash (the second signal): deterministic on identical pixels, and
    // JPEG noise moves few bits relative to the 8×8 grid mean
    val aa = Multimodal.ahash64(a)
    assert(Multimodal.ahash64(dec(enc(a, "bmp"))) === aa,
      "aHash must survive a lossless re-encode exactly")
    val aJpegHam = java.lang.Long.bitCount(aa ^ Multimodal.ahash64(dec(enc(a, "jpg"))))
    assert(aJpegHam <= 10, s"aHash JPEG re-encode drifted $aJpegHam bits")
  }

  test("videoNearDupPairs: re-encoded-quality twin matches all frames, " +
    "single-shared-frame video gated by minFrames, frame extraction exact") {
    import graft.operators.Multimodal
    def jpg(img: java.awt.image.BufferedImage, q: Float): Array[Byte] = {
      val w = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
      val p = w.getDefaultWriteParam
      p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      p.setCompressionQuality(q)
      val baos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(baos)
      w.setOutput(ios); w.write(null, new javax.imageio.IIOImage(img, null, null), p)
      ios.close(); w.dispose()
      baos.toByteArray
    }
    val srcs = Seq(smoothImg(1.7, 1.2, 0.3), smoothImg(0.9, 2.2, 1.1), smoothImg(2.6, 0.7, 2.9))
    val far = Seq(smoothImg(3.1, 1.9, 4.1), smoothImg(1.1, 3.2, 5.3))
    val rows = Seq(
      org.apache.spark.sql.Row(1L, "video", Multimodal.buildMjpegAvi(srcs.map(jpg(_, 0.9f)))),
      // same pictures, different JPEG quality: the re-encoded upload
      org.apache.spark.sql.Row(2L, "video", Multimodal.buildMjpegAvi(srcs.map(jpg(_, 0.6f)))),
      // shares exactly ONE source frame with video 1
      org.apache.spark.sql.Row(3L, "video",
        Multimodal.buildMjpegAvi((srcs.take(1) ++ far).map(jpg(_, 0.9f)))),
      org.apache.spark.sql.Row(4L, "video", "garbage bytes".getBytes("UTF-8")))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("media_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("media_type",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("content",
        org.apache.spark.sql.types.BinaryType, nullable = false)))
    val media = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

    // frame extraction: 3 rows per decodable video, none for garbage
    val fh = Multimodal.perceptualFrameHashes(media)
      .groupBy("media_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fh === Map(1L -> 3L, 2L -> 3L, 3L -> 3L))

    val pairs = Dedup.videoNearDupPairs(media, maxHamming = 10, minFrames = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    // the quality twin matches on all 3 frames; the one-shared-frame
    // video is below minFrames against both (dropped from the output)
    assert(pairs === Map((1L, 2L) -> 3L), s"pairs wrong: $pairs")
    // at minFrames = 1 the single shared frame (re-encoded at the same
    // quality) surfaces against video 1 and its quality twin
    val loose = Dedup.videoNearDupPairs(media, maxHamming = 10, minFrames = 1)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(loose((1L, 3L)) === 1L && loose((2L, 3L)) === 1L && loose((1L, 2L)) === 3L,
      s"loose pairs wrong: $loose")
  }

  test("perceptualFrameHashes: animated GIF decodes frame-by-frame and " +
    "cross-container (GIF vs MJPEG-AVI) near-dup links") {
    import graft.operators.Multimodal
    def gif(frames: Seq[java.awt.image.BufferedImage]): Array[Byte] = {
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
      val baos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(baos)
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      frames.foreach { img =>
        writer.writeToSequence(
          new javax.imageio.IIOImage(img, null, null), writer.getDefaultWriteParam)
      }
      writer.endWriteSequence(); ios.close(); writer.dispose()
      baos.toByteArray
    }
    def avi(frames: Seq[java.awt.image.BufferedImage]): Array[Byte] =
      Multimodal.buildMjpegAvi(frames.map { img =>
        val baos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "jpg", baos)
        baos.toByteArray
      })
    val srcs = Seq(smoothImg(1.7, 1.2, 0.3), smoothImg(0.9, 2.2, 1.1),
      smoothImg(2.6, 0.7, 2.9))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("media_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("media_type",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("content",
        org.apache.spark.sql.types.BinaryType, nullable = false)))
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(1L, "video", gif(srcs)),
        org.apache.spark.sql.Row(2L, "video", avi(srcs)),
        org.apache.spark.sql.Row(3L, "image", gif(srcs.take(1)))), 2), schema)
    // one dHash row per stored GIF frame (the decodeFrames reader loop,
    // now shared) — a still stays a single row
    val counts = Multimodal.perceptualFrameHashes(media)
      .groupBy("media_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts === Map(1L -> 3L, 2L -> 3L, 3L -> 1L), s"frame counts wrong: $counts")
    // same footage shipped as animated GIF vs MJPEG-AVI links across the
    // container boundary: GIF is palette-quantized and AVI frames are
    // JPEG, so per-frame hashes are near, not equal
    val pairs = Dedup.videoNearDupPairs(media, maxHamming = 10, minFrames = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(pairs.get((1L, 2L)) === Some(3L), s"cross-container link missing: $pairs")
  }

  test("videoNearDupPairs: integral frame-id unpack is exact for huge and " +
    "negative media ids, packing-range guard raises") {
    import graft.operators.Multimodal
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("media_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("media_type",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("content",
        org.apache.spark.sql.types.BinaryType, nullable = false)))
    def mediaOf(ids: Seq[Long]): org.apache.spark.sql.DataFrame = {
      val clip = Multimodal.buildMjpegAvi(
        Seq(smoothImg(1.7, 1.2, 0.3), smoothImg(0.9, 2.2, 1.1)).map { img =>
          val baos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "jpg", baos)
          baos.toByteArray
        })
      spark.createDataFrame(
        spark.sparkContext.parallelize(
          ids.map(org.apache.spark.sql.Row(_, "video", clip)), 2), schema)
    }
    // adjacent ids near 2^52 pack to fids near 2^62, where a double's ulp
    // is 1024 — the old float divide path could cross a media boundary;
    // negative ids exercise floor-vs-truncate. Identical clips ⇒ every
    // ordered pair links with matched_frames = 2.
    val huge = (1L << 52) - 1
    val got = Dedup.videoNearDupPairs(mediaOf(Seq(huge, huge + 1, -7L, -6L)), minFrames = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val want = Seq(-7L, -6L, huge, huge + 1).combinations(2)
      .map { case Seq(a, b) => (a, b) -> 2L }.toMap
    assert(got === want, s"unpacked pairs wrong: $got")

    val ex = intercept[Exception] {
      Dedup.videoNearDupPairs(mediaOf(Seq(1L, Long.MaxValue))).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("packing range")),
      s"expected the packing-range guard, got: ${msgs(ex).take(3)}")
  }

  test("audioHash64: exact under half gain and lossless re-encode, near under " +
    "u-law transcode, far for distinct clips") {
    import graft.operators.Multimodal
    // raw PCM16 mono fixture: EVEN samples so integer half-gain is exact
    def wav(seed: Long, gainShift: Int): Array[Byte] = {
      val rnd = new java.util.Random(seed)
      val n = 2080
      val data = new Array[Byte](n * 2)
      for (s <- 0 until n) {
        val v = ((rnd.nextInt(30000) - 15000) * 2) >> gainShift
        data(2 * s) = (v & 0xFF).toByte
        data(2 * s + 1) = ((v >> 8) & 0xFF).toByte
      }
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(data), fmt, n.toLong)
      val baos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(
        ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
      baos.toByteArray
    }
    def hash(bytes: Array[Byte]): Long =
      Multimodal.audioHash64(Multimodal.tryDecodeAudioSegs(bytes, 65).get)
    val ha = hash(wav(42L, 0))
    // exact half gain: every even sample halves exactly → all RMS halve →
    // every adjacent comparison preserved → IDENTICAL hash
    assert(hash(wav(42L, 1)) === ha, "half gain must be hash-exact")
    // lossless WAV re-encode of identical PCM is byte-deterministic
    assert(hash(wav(42L, 0)) === ha)
    // u-law transcode: quantization noise averages out of segment RMS
    val spark0 = spark
    import spark0.implicits._
    val media = Seq((1L, "audio", wav(42L, 0))).toDF("media_id", "media_type", "content")
    val ulawBytes = Multimodal.reencodeUlaw(media).collect()(0).getAs[Array[Byte]]("content")
    val uHam = java.lang.Long.bitCount(ha ^ hash(ulawBytes))
    assert(uHam <= 8, s"u-law transcode drifted $uHam bits")
    // distinct clips are far
    val hb = hash(wav(4711L, 0))
    assert(java.lang.Long.bitCount(ha ^ hb) >= 16,
      s"distinct clips too close: ${java.lang.Long.bitCount(ha ^ hb)}")
  }

  test("image fast paths match one-shot ImageIO: reused-reader pixels, " +
    "reused-writer bytes, raster-path luminance") {
    import graft.operators.Multimodal
    def pix(img: java.awt.image.BufferedImage): Seq[Int] = {
      val w = img.getWidth; val h = img.getHeight
      img.getRGB(0, 0, w, h, null, 0, w).toSeq
    }
    val rnd = new java.util.Random(11L)
    for (fmt <- Seq("bmp", "png", "jpg", "gif"); trial <- 1 to 3) {
      val img = new java.awt.image.BufferedImage(
        37, 23, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 23; x <- 0 until 37) img.setRGB(x, y, rnd.nextInt(1 << 24))
      // writer reuse is byte-identical to one-shot ImageIO.write
      assert(java.util.Arrays.equals(
        Multimodal.writeImage(img, fmt), Multimodal.writeImageJdk(img, fmt)),
        s"writer reuse diverged for $fmt trial $trial")
      // reader reuse decodes the same pixels and raster type as ImageIO.read
      val bytes = Multimodal.writeImageJdk(img, fmt)
      val fast = Multimodal.tryDecodeImage(bytes).get
      val jdk = Multimodal.tryDecodeImageJdk(bytes).get
      assert(fast.getType === jdk.getType, s"raster type diverged for $fmt")
      assert(pix(fast) === pix(jdk), s"reader reuse diverged for $fmt trial $trial")
      // gridLuminance raster fast path (3BYTE_BGR) ≡ bulk-getRGB path:
      // hash a BGR decode and its INT_RGB pixel-identical copy
      if (fast.getType === java.awt.image.BufferedImage.TYPE_3BYTE_BGR) {
        val copy = new java.awt.image.BufferedImage(
          fast.getWidth, fast.getHeight, java.awt.image.BufferedImage.TYPE_INT_RGB)
        copy.setRGB(0, 0, fast.getWidth, fast.getHeight, pix(fast).toArray, 0, fast.getWidth)
        assert(Multimodal.dhash64(fast) === Multimodal.dhash64(copy),
          s"raster-path dhash diverged for $fmt")
        assert(Multimodal.ahash64(fast) === Multimodal.ahash64(copy),
          s"raster-path ahash diverged for $fmt")
      }
    }
  }

  test("audio fast paths are byte-identical to the JDK chain: PCM16 WAV " +
    "writer, PCM16/u-law decode, u-law transcode") {
    import graft.operators.Multimodal
    val rnd = new java.util.Random(7L)
    // 1. canonical PCM16 writer ≡ AudioSystem.write at several lengths
    for (n <- Seq(1, 5, 64, 2080)) {
      val pcm = new Array[Byte](n * 2); rnd.nextBytes(pcm)
      assert(java.util.Arrays.equals(
        Multimodal.writeWavPcm16(pcm, 1, 8000), Multimodal.writeWavJdk(pcm, n)),
        s"writeWavPcm16 diverged from the JDK writer at n=$n")
    }
    // 2. on RANDOM PCM16 clips (every sample value class): the direct RIFF
    //    decode ≡ the AudioSystem chain bit-for-bit, the table-driven u-law
    //    transcode ≡ the AudioSystem conversion chain byte-for-byte, and
    //    the resulting u-law WAV decodes identically through both branches
    for (seed <- 1 to 10) {
      val r = new java.util.Random(seed.toLong)
      val n = 500 + r.nextInt(2000)
      val pcm = new Array[Byte](n * 2); r.nextBytes(pcm)
      val wav = Multimodal.writeWavJdk(pcm, n)
      assert(Multimodal.tryDecodeAudioSegs(wav, 65).get.toSeq ===
        Multimodal.decodeAudioSegsJdk(wav, 65).get.toSeq,
        s"PCM16 fast decode diverged at seed=$seed")
      val fastU = Multimodal.reencodeUlawBytes(wav).get
      val jdkU = Multimodal.reencodeUlawJdk(wav).get
      assert(java.util.Arrays.equals(fastU, jdkU),
        s"u-law fast transcode diverged at seed=$seed")
      assert(Multimodal.tryDecodeAudioSegs(fastU, 65).get.toSeq ===
        Multimodal.decodeAudioSegsJdk(fastU, 65).get.toSeq,
        s"u-law fast decode diverged at seed=$seed")
    }
    // 3. a padded-frame WAV (blockAlign larger than channels*bits/8) must
    //    NOT take the fast path (r22 blockAlign gate): parseWav reports
    //    the header's blockAlign and canonicalFrames rejects it, so the
    //    decode routes through the JDK chain that honors frameSize
    val pcm = new Array[Byte](1000); rnd.nextBytes(pcm)
    val padded = Multimodal.writeWavPcm16(pcm, 1, 8000)
    padded(32) = 4 // fmt blockAlign: 2 (canonical mono16) -> 4 (padded)
    val w = Multimodal.parseWav(padded).get
    assert(w.blockAlign === 4 && !w.canonicalFrames,
      "padded-frame WAV must be classified non-canonical")
    assert(Multimodal.tryDecodeAudioSegs(padded, 65).map(_.toSeq) ===
      Multimodal.decodeAudioSegsJdk(padded, 65).map(_.toSeq),
      "padded-frame WAV must decode identically to the JDK chain (fallback)")
  }

  test("audioNearDupPairs e2e: every u-law re-encode links to its original; " +
    "non-audio payloads yield no hash row") {
    import graft.operators.Multimodal
    val base = Multimodal.syntheticAudioWav(docs.limit(30), "doc_id", "text")
    val variants = Multimodal.reencodeUlaw(base)
      .select((col("media_id") + 1000L).as("media_id"), col("media_type"), col("content"))
    val pairs = Dedup.audioNearDupPairs(base.unionByName(variants), maxHamming = 10)
      .collect()
    val links = pairs.collect {
      case r if r.getLong(1) === r.getLong(0) + 1000L => r.getLong(0)
    }.toSet
    val baseIds = base.select("media_id").collect().map(_.getLong(0)).toSet
    assert(links === baseIds, s"re-encodes not linked: ${baseIds -- links}")
    val garbage = Multimodal.syntheticMedia(docs.limit(5), "doc_id", "text")
    assert(Multimodal.perceptualAudioHashes(garbage).count() === 0L,
      "text payloads must yield no audio hash row")
  }

  test("imageNearDupPairs e2e: every JPEG re-encode links to its original; " +
    "undecodable payloads yield no hash row") {
    val base = Multimodal.syntheticSmoothImages(docs.limit(40), "doc_id", "text")
    val variants = Multimodal.reencodeJpeg(base, quality = 0.75f)
      .select((col("media_id") + 1000L).as("media_id"), col("media_type"), col("content"))
    val pairs = Dedup.imageNearDupPairs(base.unionByName(variants), maxHamming = 10)
      .collect()
    val links = pairs.collect {
      case r if r.getLong(1) === r.getLong(0) + 1000L => r.getLong(0)
    }.toSet
    val baseIds = base.select("media_id").collect().map(_.getLong(0)).toSet
    assert(links === baseIds,
      s"re-encodes not linked to originals: ${baseIds -- links}")

    // decoded truth only: a non-image payload produces NO hash row
    val rows = Seq(org.apache.spark.sql.Row(99L, "image",
      "not an image at all".getBytes("UTF-8")))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("media_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("media_type",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("content",
        org.apache.spark.sql.types.BinaryType, nullable = false)))
    val garbage = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    assert(Multimodal.perceptualHashes(garbage).count() === 0L)
  }

  test("TopKPairs heap agg: window-rank parity, tie order, null skip, bounded size, merge across partitions") {
    import spark.implicits._
    // 200 (query, neighbor, score) rows per query with deliberate score
    // TIES (score = id % 7) — the heap's (score desc, id asc) order must
    // match row_number over the same ordering exactly, including ties
    val scored = (0L until 3L).flatMap { q =>
      (0L until 200L).map(n => (q, n, (n % 7).toDouble))
    }.toDF("query_id", "neighbor_id", "cos_sim")
      .repartition(8) // force partial heaps + a real merge
    val got = scored.groupBy(col("query_id"))
      .agg(graft.functions.TopKPairs.topK(col("cos_sim"), col("neighbor_id"), 10).as("t"))
      .select(col("query_id"), posexplode(col("t")).as(Seq("pos0", "p")))
      .select(col("query_id"), col("p.id"), col("p.score"), (col("pos0") + 1).as("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val expect = (0L until 3L).flatMap { q =>
      (0L until 200L).map(n => (n, (n % 7).toDouble))
        .sortBy { case (n, s) => (-s, n) }.take(10).zipWithIndex
        .map { case ((n, s), i) => (q, n, s, i + 1) }
    }.toSet
    assert(got === expect)
    // a huge k over a small group must not rank phantom slots (the heap
    // grows toward k geometrically instead of allocating k upfront)
    val bigK = scored.filter(col("query_id") === 0L).limit(5)
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKPairs.topK(col("cos_sim"), col("neighbor_id"), 100000).as("t"))
      .select(size(col("t"))).as[Int].head()
    assert(bigK === 5)
    // null AND NaN scores and null ids are skipped, never ranked
    val withNulls = Seq[(Long, java.lang.Long, java.lang.Double)](
      (1L, 10L, 0.5), (1L, null, 9.9), (1L, 11L, null), (1L, 13L, Double.NaN),
      (1L, 12L, 0.7))
      .toDF("query_id", "neighbor_id", "cos_sim")
    val nn = withNulls.groupBy(col("query_id"))
      .agg(graft.functions.TopKPairs.topK(col("cos_sim"), col("neighbor_id"), 5).as("t"))
      .select(explode(col("t")).as("p")).select(col("p.id")).as[Long].collect().toList
    assert(nn === List(12L, 10L))
    // SQL surface registered
    graft.functions.GraftExtensions.register(spark)
    withNulls.createOrReplaceTempView("__topk_in")
    val viaSql = spark.sql(
      "SELECT graft_topk(cos_sim, neighbor_id, 1)[0].id AS best FROM __topk_in GROUP BY query_id")
      .as[Long].collect().toList
    assert(viaSql === List(12L))
  }

  test("LSH top-k achieves reasonable recall vs brute force") {
    val queries = emb.filter(col("vec_id") < 10)
    val brute = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(emb, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & lsh).size.toDouble / brute.size
    assert(recall >= 0.4, s"LSH recall too low: $recall")
    assert(lsh.size === brute.size) // still k per query
    // the md5 table-plane family behind the oracle-tier similarity_lsh_topk
    // query must hold the same recall floor — md5 bits are as uniform as
    // the seeded-RNG planes, this pins it
    val lshMd5 = Similarity.lshTopK(emb, queries, "vec_id", "embedding", 5,
        md5Family = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recallMd5 = (brute & lshMd5).size.toDouble / brute.size
    assert(recallMd5 >= 0.4, s"md5-family LSH recall too low: $recallMd5")
    assert(lshMd5.size === brute.size)
  }

  test("minhash clusters equal the exact-pair clustering (set equality)") {
    // the claim behind the dedup_minhash_clusters query: LSH pair recall on
    // this fixture is high enough that connected components over minhash
    // pairs equal components over the blocking-free exact pairs
    import spark.implicits._
    val exactDf = exactPairs.toSeq.toDF("doc_a", "doc_b")
    def clusters(pairs: org.apache.spark.sql.DataFrame): Set[(Long, Long, Boolean)] =
      Dedup.dupClusters(pairs, "doc_a", "doc_b")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val fromExact = clusters(exactDf)
    val fromMinhash = clusters(
      Dedup.minhashPairs(docs, "doc_id", "text", shingleSize = 3, threshold = 0.5))
    assert(fromExact.nonEmpty, "fixture should contain near-dup clusters")
    assert(fromMinhash === fromExact,
      s"missing=${fromExact -- fromMinhash} extra=${fromMinhash -- fromExact}")
  }

  test("LSH k-NN join (corpus as queries) reaches recall floor vs exact join") {
    // the similarity_knn_join_lsh shape: every vector queries the corpus
    val brute = Similarity.bruteForceTopK(emb, emb, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(emb, emb, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.size === brute.size, "k rows per query on both sides")
    val recall = (brute & lsh).size.toDouble / brute.size
    assert(recall >= 0.4, s"kNN-join LSH recall too low: $recall")
    // md5 table-plane family (the oracle-tier similarity_knn_join_lsh query)
    val lshMd5 = Similarity.lshTopK(emb, emb, "vec_id", "embedding", 3,
        md5Family = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lshMd5.size === brute.size)
    val recallMd5 = (brute & lshMd5).size.toDouble / brute.size
    assert(recallMd5 >= 0.4, s"md5-family kNN-join recall too low: $recallMd5")
  }

  test("autoPlanes: integer-exact occupancy sizing, floor 6, boundary-safe") {
    // the formula the DuckDB oracle replays via length(bin(...)) — integer
    // arithmetic on both engines, so exact power-of-two boundaries cannot
    // split on libm rounding
    assert(Similarity.autoPlanes(1, 32) === 6)
    assert(Similarity.autoPlanes(200, 32) === 6) // sf0.01 gate scale
    assert(Similarity.autoPlanes(2000, 32) === 6) // sf0.1 gate scale
    assert(Similarity.autoPlanes(2048, 32) === 6) // exact boundary: 64 buckets suffice
    assert(Similarity.autoPlanes(2049, 32) === 7) // one past it
    assert(Similarity.autoPlanes(20000, 32) === 10) // the x10 curve scale
    assert(Similarity.autoPlanes(1024, 4) === 8) // exact: 2^8 * 4 = 1024
    assert(Similarity.autoPlanes(1025, 4) === 9)
    assert(Similarity.autoPlanes(Long.MaxValue / 2, 32) === 48) // capped
  }

  test("autoCells: integer-exact ceil(n/occ), boundary-safe, capped") {
    assert(Similarity.autoCells(1, 250) === 1)
    assert(Similarity.autoCells(250, 250) === 1) // exact boundary: one cell suffices
    assert(Similarity.autoCells(251, 250) === 2) // one past it
    assert(Similarity.autoCells(500, 250) === 2) // sf0.001/sf0.01 gate scale
    assert(Similarity.autoCells(2000, 250) === 8) // sf0.1 bench scale = r14's fixed 8
    assert(Similarity.autoCells(20000, 250) === 80) // the x10 curve scale
    assert(Similarity.autoCells(Long.MaxValue / 2, 250) === (1 << 20)) // capped
  }

  test("lshTopK auto-plane mode: identical to fixed planes at gate scale, recall holds past the floor") {
    // At the fixture scale auto resolves to the same 6 planes, so the
    // similarity_knn_join_lsh_scale query is bit-identical to its fixed
    // twin — the property the shared oracle hash relies on.
    val fixed = Similarity.lshTopK(emb, emb, "vec_id", "embedding", 3, md5Family = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val auto = Similarity.lshTopK(emb, emb, "vec_id", "embedding", 3, numPlanes = 0,
        md5Family = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(auto === fixed)

    // Past the floor (1,024 vectors, targetOccupancy 4 → 8 planes): recall
    // on a clustered corpus — 256 seeded gaussian bases × 4 small-noise
    // clones, so each vector's true top-3 are its co-clones (clone cosine
    // ≥ 0.97 vs cross-base ~N(0, 1/8)) — must survive the finer buckets;
    // 1-bit multiprobe over 8 bits × 4 tables keeps the per-pair miss
    // probability ≪ 1 at clone angles.
    import spark.implicits._
    val rng = new scala.util.Random(7L)
    val bases = Array.fill(256)(Array.fill(64)(rng.nextGaussian()))
    val clustered = (for {
      b <- bases.indices
      c <- 0 until 4
    } yield {
      val noise = Array.fill(64)(rng.nextGaussian() * 0.08)
      ((b * 4 + c).toLong, bases(b).zip(noise).map { case (x, e) => x + e }.toSeq)
    }).toDF("vec_id", "embedding")
    val queries = clustered.filter(col("vec_id") % 16 === 0) // 64 probes
    val brute = Similarity.bruteForceTopK(clustered, queries, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(clustered, queries, "vec_id", "embedding", 3,
        numPlanes = 0, md5Family = true, targetOccupancy = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & lsh).size.toDouble / brute.size
    assert(recall >= 0.8, s"auto-plane LSH recall too low past the floor: $recall")
  }

  test("PQ/ADC top-k: byte-bounded codes, deterministic, reasonable recall vs brute force") {
    val queries = emb.filter(col("vec_id") < 10)
    val cb = Similarity.pqTrain(emb, "vec_id", "embedding", dim = 64, m = 16, ksub = 32, iters = 2)
    val cbRows = cb.collect()
    assert(cbRows.nonEmpty && cbRows.length <= 16 * 32, s"codebook size ${cbRows.length}")
    assert(cbRows.forall(_.getAs[scala.collection.Seq[Double]]("cent").length == 4),
      "every centroid must live in the 4-dim subspace")
    val codes = Similarity.pqEncode(emb, "vec_id", "embedding", cb, dim = 64, m = 16)
    val codeRows = codes.collect()
    assert(codeRows.length === emb.count())
    codeRows.foreach { r =>
      val cs = r.getAs[scala.collection.Seq[Long]]("codes")
      assert(cs.length == 16 && cs.forall(c => c >= 0 && c < 32),
        s"codes must be m byte-bounded cells: $cs")
    }
    val brute = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Similarity.pqTopK(emb, queries, "vec_id", "embedding", dim = 64, k = 5, m = 16, ksub = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.size === brute.size) // still k per query
    val recall = (brute & got).size.toDouble / brute.size
    assert(recall >= 0.4, s"PQ recall too low: $recall")
    // deterministic end to end (seeded k-means, tie-broken argmins)
    val again = Similarity.pqTopK(emb, queries, "vec_id", "embedding", dim = 64, k = 5, m = 16, ksub = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again === got)
  }

  test("PQ exact regime: ksub >= corpus + iters=0 makes encoding lossless and ADC == brute force") {
    val corpus = emb.filter(col("vec_id") < 200)
    val queries = emb.filter(col("vec_id") < 5)
    // every sampled sub-vector seeds its own centroid verbatim (iters=0,
    // trainSample covers the corpus, ksub >= corpus size) → codes point at
    // exact copies, LUT entries are exact dot(q_sub, x_sub), ADC == cosine
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getInt(3))).toSeq.sortBy(t => (t._1, t._4))
    val exact = rows(Similarity.pqTopK(corpus, queries, "vec_id", "embedding",
      dim = 64, k = 5, m = 16, ksub = 256, iters = 0, trainSample = 256))
    val brute = rows(Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", 5))
    assert(exact === brute,
      "exact-regime PQ must reproduce brute-force ids, ranks, AND rounded scores")
    // the COMPOSED path: full probe (nprobe = nlist) + the same lossless
    // PQ regime — cell routing + per-cell ADC must also equal brute force
    val ivfpq = rows(Similarity.ivfPqTopK(corpus, queries, "vec_id", "embedding",
      dim = 64, k = 5, nlist = 4, nprobe = 4, m = 16, ksub = 256, iters = 0,
      trainSample = 256))
    assert(ivfpq === brute,
      "exact-regime IVF-PQ at full probe must reproduce brute force")
  }

  test("unicode normalization: composed == decomposed after NFC; NFKC folds compatibility forms") {
    import spark.implicits._
    val rows = Seq(
      (1L, "Café  du   Parc"),      // precomposed é + multiple spaces
      (2L, "Café du Parc"),        // decomposed e + combining acute
      (3L, "  CAFÉ DU PARC\t\n "),  // case + edge whitespace
      (4L, "ﬁle")                   // fi ligature (compatibility form)
    ).toDF("doc_id", "text")
    val norm = rows.select(col("doc_id"),
      TextAnalysis.normalizeText(col("text")).as("n")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(norm(1L) === "café du parc")
    assert(norm(2L) === norm(1L), "NFC must unify composed and decomposed forms")
    assert(norm(3L) === norm(1L), "case and edge/duplicate whitespace must not matter")
    // NFC preserves compatibility characters; NFKC folds them
    assert(norm(4L) === "ﬁle")
    val nfkc = rows.filter(col("doc_id") === 4L)
      .select(graft.functions.UnicodeNormalize.normalize(col("text"), "NFKC"))
      .head().getString(0)
    assert(nfkc === "file")
    // SQL surface agrees with the Column API
    graft.functions.GraftExtensions.register(spark)
    assert(spark.sql("SELECT graft_normalize('Café', 'NFC')").head().getString(0)
      === "Café")
  }

  test("bigram LM scores: fluent text outranks shuffled and unseen vocab; closed-form unseen score") {
    import spark.implicits._
    val ref = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat sat on the rug"),
      (3L, "the dog sat on the mat")).toDF("doc_id", "text")
    val raw = Seq(
      (10L, "the cat sat on the mat"), // reference-fluent
      (11L, "zz qq ww rr"),            // fully unseen vocabulary
      (12L, "cat the on sat mat the")  // seen words, shuffled order
    ).toDF("doc_id", "text")
    val got = Pipeline.bigramLogLikelihood(raw, ref, "doc_id", "text")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    assert(got(10L)._1 === 5L)
    assert(got.values.forall(_._2 <= 0.0), "smoothed log-likelihoods are never positive")
    // fluency ordering: in-distribution order beats bag-of-same-words
    assert(got(10L)._2 > got(12L)._2)
    assert(got(10L)._2 > got(11L)._2)
    // closed form for a fully-unseen doc: every term is ln(alpha) -
    // ln(0 + alpha*V) = -ln(V); reference vocabulary V = 7
    val unseenScore = BigDecimal(-math.log(7))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(11L)._2 === unseenScore)
    // order-3: same invariants — the generalized conditional holds
    val tri = Pipeline.ngramLogLikelihood(raw, ref, "doc_id", "text", n = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert(tri(10L) > tri(12L) && tri(10L) > tri(11L))
    assert(tri(11L) === unseenScore, "unseen closed form holds at any order")
    assert(tri.values.forall(_ <= 0.0))
  }

  // ---- modified Kneser-Ney: independent single-threaded reference ----
  // The same estimator as Pipeline.knTrigramLogLikelihood, written as
  // plain Scala maps and loops — a differential oracle for the
  // distributed plumbing (the DuckDB gate covers the registered query;
  // this covers arbitrary raw-vs-reference splits incl. backoff). It also
  // ASSERTS the interpolation's telescoping invariant Σ_w p(w|ctx) = 1,
  // the property that defines Kneser-Ney correctness.
  private def knReference(
      refDocs: Seq[(Long, String)],
      rawDocs: Seq[(Long, String)]): Map[Long, (Long, Double)] = {
    def grams(docs: Seq[(Long, String)]) = docs.flatMap { case (id, t) =>
      t.split(" +").toSeq.sliding(3).filter(_.size == 3)
        .map(g => (id, (g(0), g(1), g(2)))).toSeq
    }
    val c3 = grams(refDocs).groupBy(_._2).map { case (g, xs) => g -> xs.size.toLong }
    val ctx3 = c3.toSeq.groupBy { case ((u, v, _), _) => (u, v) }.map { case (uv, m) =>
      val cs = m.map(_._2)
      uv -> (cs.sum, cs.count(_ == 1L), cs.count(_ == 2L), cs.count(_ >= 3L))
    }
    def disc(cs: Iterable[Long]): (Double, Double, Double) = {
      val (t1, t2) = (cs.count(_ == 1L).toDouble, cs.count(_ == 2L).toDouble)
      val (t3, t4) = (cs.count(_ == 3L).toDouble, cs.count(_ == 4L).toDouble)
      // KenLM --discount_fallback rule, mirrored from the operator:
      // inestimable or out-of-range orders use D = 0.5/1.0/1.5
      val y = if (t1 + 2.0 * t2 > 0) t1 / (t1 + 2.0 * t2) else 0.0
      val d1e = 1.0 - 2.0 * y * (if (t1 > 0) t2 / t1 else 0.0)
      val d2e = 2.0 - 3.0 * y * (if (t2 > 0) t3 / t2 else 0.0)
      val d3e = 3.0 - 4.0 * y * (if (t3 > 0) t4 / t3 else 0.0)
      val ok = t1 > 0 && t2 > 0 && t3 > 0 &&
        d1e >= 0.0 && d1e <= 1.0 && d2e >= 0.0 && d2e <= 2.0 &&
        d3e >= 0.0 && d3e <= 3.0
      if (ok) (d1e, d2e, d3e) else (0.5, 1.0, 1.5)
    }
    val (d31, d32, d33) = disc(c3.values)
    val cc2 = c3.keys.toSeq.groupBy { case (_, v, w) => (v, w) }
      .map { case (vw, us) => vw -> us.size.toLong }
    val ctx2 = cc2.toSeq.groupBy(_._1._1).map { case (v, m) =>
      val cs = m.map(_._2)
      v -> (cs.sum, cs.count(_ == 1L), cs.count(_ == 2L), cs.count(_ >= 3L))
    }
    val (d21, d22, d23) = disc(cc2.values)
    val cc1 = cc2.keys.toSeq.groupBy(_._2).map { case (w, vs) => w -> vs.size.toLong }
    val bigT = cc1.values.sum.toDouble
    def dsel(c: Long, d1: Double, d2: Double, d3: Double) =
      if (c == 1L) d1 else if (c == 2L) d2 else d3
    def p2(v: String, w: String): Option[Double] = cc1.get(w).map { c1 =>
      val p1 = c1 / bigT
      ctx2.get(v).map { case (tot, m1, m2, m3) =>
        val c = cc2.getOrElse((v, w), 0L)
        val g = (d21 * m1 + d22 * m2 + d23 * m3) / tot
        math.max(c - dsel(c, d21, d22, d23), 0.0) / tot + g * p1
      }.getOrElse(p1)
    }
    def p3(u: String, v: String, w: String): Option[Double] = p2(v, w).map { pl =>
      ctx3.get((u, v)).map { case (tot, n1, n2, n3) =>
        val c = c3.getOrElse((u, v, w), 0L)
        val g = (d31 * n1 + d32 * n2 + d33 * n3) / tot
        math.max(c - dsel(c, d31, d32, d33), 0.0) / tot + g * pl
      }.getOrElse(pl)
    }
    // the telescoping invariant: over the continuation vocabulary, every
    // seen context's interpolated distribution sums to exactly 1
    // (.toSeq: a Set.map would collapse equal probabilities)
    for (uv <- ctx3.keys) {
      val s = cc1.keys.toSeq.map(w => p3(uv._1, uv._2, w).get).sum
      assert(math.abs(s - 1.0) < 1e-9, s"sum-to-1 violated at $uv: $s")
    }
    grams(rawDocs).groupBy(_._1).flatMap { case (id, xs) =>
      val lps = xs.flatMap { case (_, (u, v, w)) => p3(u, v, w).map(math.log) }
      if (lps.isEmpty) None
      else Some(id -> (lps.size.toLong, BigDecimal(lps.sum / lps.size)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
    }
  }

  /** Deterministic discount-estimable corpus: 40 docs × 12 tokens over an
    * 8-token vocabulary via an LCG (high bits — the low bits cycle).
    * Verified: count-of-counts t1..t4 > 0 at both orders.
    */
  private def knFixture: Seq[(Long, String)] = {
    val vocab = "abcdefgh".map(_.toString)
    var x = 1L
    (0 until 40).map { i =>
      val toks = (0 until 12).map { _ =>
        x = (x * 1103515245L + 12345L) & 0x7fffffffL
        vocab(((x >> 16) % 8).toInt)
      }
      i.toLong -> toks.mkString(" ")
    }
  }

  test("modified KN trigram LM: distributed result equals the single-threaded reference; sum-to-1 holds") {
    import spark.implicits._
    val ref = knFixture
    val want = knReference(ref, ref)
    val got = Pipeline.knTrigramLogLikelihood(
        ref.toDF("doc_id", "text"), ref.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got === want, s"distributed KN must equal the reference: " +
      s"${got.toSeq.sorted.take(3)} vs ${want.toSeq.sorted.take(3)}")
  }

  test("modified KN trigram LM: graded backoff for unseen grams; unigram-OOV grams drop") {
    import spark.implicits._
    val ref = knFixture
    // a context seen in the reference plus a continuation making the
    // trigram unseen (the fixture covers ~272 of 512 types). The seen
    // comparator must be the context's HIGHEST-count gram: KN can
    // legitimately rank an unseen-but-frequent continuation above a
    // once-seen rare one (that is the method's point), but never above
    // the context's dominant gram.
    val vocabT = "abcdefgh".map(_.toString)
    val c3m = ref.flatMap(d => d._2.split(" ").toSeq.sliding(3).map(_.toSeq))
      .groupBy(identity).map { case (g, xs) => g -> xs.size }
    val (uvSel, ctxGrams) = c3m.toSeq.groupBy(g => (g._1(0), g._1(1))).toSeq
      .filter { case (uv, _) =>
        vocabT.exists(w => !c3m.contains(Seq(uv._1, uv._2, w))) }
      .maxBy { case (_, gs) => gs.map(_._2).max }
    val (u, v) = uvSel
    val wSeen = ctxGrams.maxBy(_._2)._1(2)
    val wUnseen = vocabT.find(w => !c3m.contains(Seq(u, v, w))).get
    val raw = Seq(
      100L -> s"$u $v $wSeen",   // fully seen trigram
      101L -> s"$u $v $wUnseen", // unseen trigram, seen context -> backoff
      102L -> "zz qq ww rr"      // every w outside the continuation vocab
    )
    val got = Pipeline.knTrigramLogLikelihood(
        raw.toDF("doc_id", "text"), ref.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val want = knReference(ref, raw)
    assert(got === want, s"backoff path must equal the reference: $got vs $want")
    assert(got(100L)._2 > got(101L)._2,
      "the context's dominant seen trigram must outscore a backed-off unseen one")
    assert(!got.contains(102L), "a doc whose grams all have OOV continuations drops")
  }

  test("modified KN trigram LM: the model artifact roundtrips through parquet and serves identical scores") {
    import spark.implicits._
    import java.nio.file.Files
    val ref = knFixture
    val dir = Files.createTempDirectory("graft_kn_model").toString
    // train once -> persist -> reload -> score (the CCNet shape: the
    // model build is paid once, not per served shard)
    Pipeline.knTrigramModel(ref.toDF("doc_id", "text"), "text")
      .write.mode("overwrite").parquet(dir)
    val served = Pipeline.knScoreAgainstModel(
        ref.toDF("doc_id", "text"), spark.read.parquet(dir), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val composed = Pipeline.knTrigramLogLikelihood(
        ref.toDF("doc_id", "text"), ref.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(served === composed,
      "an in-vocabulary corpus must score identically through the artifact")
    // the serving path has no backoff tables: an unseen gram is DROPPED
    // (the composed operator backs it off instead) — n_grams shows it
    val seenG = ref.head._2.split(" ").take(3).mkString(" ")
    val raw = Seq(200L -> s"$seenG xx yy zz")
    val servedRaw = Pipeline.knScoreAgainstModel(
        raw.toDF("doc_id", "text"), spark.read.parquet(dir), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(servedRaw(200L) === 1L,
      s"only the in-model gram may survive the serving path: $servedRaw")
  }

  test("modified KN trigram LM: the FULL artifact serves OOV corpora with graded backoff — served ≡ composed through a parquet roundtrip") {
    import spark.implicits._
    import java.nio.file.Files
    val ref = knFixture
    // the production corpus shape (CCNet: train Wikipedia, score crawl):
    // partly in-model, partly backing off at EVERY level of the ladder
    val vocabT = "abcdefgh".map(_.toString)
    val c3m = ref.flatMap(d => d._2.split(" ").toSeq.sliding(3).map(_.toSeq)).toSet
    // a seen context with an unseen continuation (missing trigram -> γ3·p2)
    val (u, v, wUnseen) = (for {
      g <- c3m.toSeq; w <- vocabT if !c3m.contains(Seq(g(0), g(1), w))
    } yield (g(0), g(1), w)).head
    val raw = ref.map { case (id, t) => (id + 1000L) -> t } ++ Seq(
      2001L -> s"$u $v $wUnseen",  // unseen trigram, seen context
      2002L -> s"zz $u $v",        // unseen context, seen bigram/v -> p2
      2003L -> s"$u zz $v",        // OOV middle token -> p1 ladder floor
      2004L -> "x0 x1 x2 x3")      // every w continuation-OOV -> doc drops
    val dir = Files.createTempDirectory("graft_kn_full").toString
    Pipeline.knTrainModel(ref.toDF("doc_id", "text"), "text").save(dir)
    val loaded = Pipeline.KnModel.load(spark, dir)
    val served = Pipeline.knScoreAgainstModel(
        raw.toDF("doc_id", "text"), loaded, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val composed = Pipeline.knTrigramLogLikelihood(
        raw.toDF("doc_id", "text"), ref.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(served === composed,
      "the full artifact must serve the graded backoff the composed form computes")
    // ... and against the independent single-threaded reference
    assert(served === knReference(ref, raw))
    // the OOV docs are SCORED (the slim (gram, logp) artifact would drop
    // their grams and with them docs 2002/2003 entirely)
    assert(served.contains(2001L) && served(2001L)._1 === 1L)
    assert(served.contains(2002L) && served.contains(2003L))
    assert(!served.contains(2004L), "continuation-OOV-only docs must drop")
    // backoff mass is a real probability: every served score is negative
    assert(served.values.forall(_._2 < 0.0), s"log-probs must be negative: $served")
  }

  test("ARPA roundtrip: export → import → standard backoff scoring ≡ the native serve, OOV included") {
    import spark.implicits._
    import java.nio.file.Files
    val ref = knFixture
    val vocabT = "abcdefgh".map(_.toString)
    val c3m = ref.flatMap(d => d._2.split(" ").toSeq.sliding(3).map(_.toSeq)).toSet
    val (u, v, wUnseen) = (for {
      g <- c3m.toSeq; w <- vocabT if !c3m.contains(Seq(g(0), g(1), w))
    } yield (g(0), g(1), w)).head
    val raw = ref.map { case (id, t) => (id + 1000L) -> t } ++ Seq(
      2001L -> s"$u $v $wUnseen",  // missing trigram, seen context → γ3·p2
      2002L -> s"zz $u $v",        // unlisted context → backoff weight 1
      2003L -> s"$u zz $v",        // OOV middle → p1 ladder floor
      2004L -> "x0 x1 x2 x3")      // continuation-OOV everywhere → drops
    val model = Pipeline.knTrainModel(ref.toDF("doc_id", "text"), "text")
    val dir = Files.createTempDirectory("graft_arpa").toString
    Pipeline.knExportArpa(model, dir)
    // format invariants: header counts match section line counts; every
    // data line is log10prob<TAB>gram[<TAB>log10backoff]
    val lines = spark.read.text(dir).collect().map(_.getString(0))
    val declared = lines.filter(_.startsWith("ngram "))
      .map(l => l.split("=")(1).toLong)
    val byOrder = lines.filter(l => l.nonEmpty && !l.startsWith("\\") && !l.startsWith("ngram "))
      .groupBy(l => l.split("\t")(1).split(" ").length)
    assert(declared.toSeq === Seq(1, 2, 3).map(n => byOrder(n).length.toLong),
      "ngram k=N headers must match section sizes")
    assert(lines.head === "\\data\\" && lines.last === "\\end\\")
    // the trigram context "u v" must carry a backoff weight field
    assert(byOrder(2).exists(l => l.split("\t")(1) == s"$u $v" && l.split("\t").length == 3),
      "a trigram context needs its γ3 backoff field")
    // roundtrip scoring: standard ARPA backoff lookup ≡ native graded serve
    val arpa = Pipeline.knImportArpa(spark, dir)
    val viaArpa = Pipeline.knScoreArpa(raw.toDF("doc_id", "text"), arpa, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val native = Pipeline.knScoreAgainstModel(raw.toDF("doc_id", "text"), model, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(viaArpa.keySet === native.keySet, "same docs survive both paths")
    viaArpa.foreach { case (id, (n, lp)) =>
      assert(n === native(id)._1, s"doc $id: gram count must match")
      // the ln↔log10 text roundtrip reassociates a few float ops; the
      // 4-dp rounded averages may differ by at most one final ulp-tick
      assert(math.abs(lp - native(id)._2) <= 1.0001e-4,
        s"doc $id: $lp vs native ${native(id)._2}")
    }
    assert(viaArpa.contains(2001L) && viaArpa.contains(2002L) && viaArpa.contains(2003L))
    assert(!viaArpa.contains(2004L), "continuation-OOV-only docs drop in both paths")
  }

  test("modified KN trigram LM: inestimable orders use KenLM's fallback discounts, sum-to-1 intact") {
    import spark.implicits._
    // order-3 count-of-counts: t1 = 10, t2 = 1 (the trigram "t2 t3 t4"
    // occurs in both docs), t3 = 0 -> the estimator is undefined (the ok
    // gate needs t1..t3 all positive); KenLM without --discount_fallback
    // refuses,
    // with it substitutes D = 0.5/1.0/1.5 — the operator does the latter
    // (a pipeline prefers a documented fallback to a dead run). The
    // reference implementation embeds the same rule AND re-asserts the
    // telescoping invariant under the fallback discounts.
    val degenerate = Seq(1L -> "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9",
      2L -> "t2 t3 t4 t9 t0 t1")
    val got = Pipeline.knTrigramLogLikelihood(
        degenerate.toDF("doc_id", "text"), degenerate.toDF("doc_id", "text"),
        "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val want = knReference(degenerate, degenerate)
    assert(got === want, s"fallback-discount scores must match: $got vs $want")
    assert(got.nonEmpty && got.values.forall(_._2 < 0.0))
  }

  test("incremental near-dup gate: exact matches ground truth; LSH path never false-flags, recall floor") {
    // ground truth from the blocking-free exact pairs: a batch doc (>= 400)
    // is a near-dup iff it pairs with any corpus doc (< 400) at J >= 0.5
    val crossFlagged = exactPairs.collect {
      case (a, b) if a < 400 && b >= 400 => b
      case (a, b) if b < 400 && a >= 400 => a
    }
    val batchIds = docs.filter(col("doc_id") >= 400)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(crossFlagged.nonEmpty, "fixture should contain cross near-dups")
    // exact gate with blocking: blocked flags are a subset of the unblocked
    // truth (blocking can only lose pairs), and every kept doc is justified
    val blocked = docs.withColumn("len_bucket", floor(col("n_chars") / 100))
    val keptExact = Dedup.incrementalJaccardNew(
        blocked.filter(col("doc_id") >= 400), blocked.filter(col("doc_id") < 400),
        "doc_id", "text", Seq("len_bucket"), shingleSize = 3, threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val flaggedExact = batchIds -- keptExact
    assert(flaggedExact.subsetOf(crossFlagged), "blocking must not invent dups")
    // the near-dups in this fixture are same-length-bucket pairs, so the
    // blocked gate recovers the full truth here
    assert(flaggedExact === crossFlagged,
      s"missed=${crossFlagged -- flaggedExact}")
    // LSH path: exact verification means no false flags vs the unblocked
    // truth; banding recall is high on this fixture
    val keptLsh = Dedup.incrementalMinhashNew(
        docs.filter(col("doc_id") >= 400), docs.filter(col("doc_id") < 400),
        "doc_id", "text", threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val flaggedLsh = batchIds -- keptLsh
    assert(flaggedLsh.subsetOf(crossFlagged), "LSH gate must not false-flag")
    assert(flaggedLsh.size >= math.ceil(0.9 * crossFlagged.size).toInt,
      s"LSH recall too low: ${flaggedLsh.size} of ${crossFlagged.size}")
  }

  test("substring-span rewrite: earlier-owned runs removed, owners and clean docs untouched") {
    import spark.implicits._
    val shared = "s1 s2 s3 s4"  // a shared 4-run (k = 4)
    val fixture = Seq(
      (1L, s"$shared tail1 tail2"),          // owner: keeps everything
      (2L, s"head1 head2 $shared tail3"),    // later doc: the run goes
      (3L, shared),                          // nothing but the run: emptied
      (4L, "clean doc with no shared runs at all")).toDF("doc_id", "text")
    val got = Dedup.removeSharedSpans(fixture, "doc_id", "text", k = 4)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) === ((6L, 0L, s"$shared tail1 tail2")), "the owner keeps its text")
    assert(got(2L) === ((7L, 4L, "head1 head2 tail3")))
    assert(got(3L) === ((4L, 4L, "")), "a fully-covered doc collapses to empty")
    assert(got(4L) === ((8L, 0L, "clean doc with no shared runs at all")))
    // overlapping shared runs cover their union, not double-remove:
    // doc 6 shares a 5-token run with doc 5 → two overlapping 4-grams,
    // union of cover = 5 tokens
    val overlap = Seq(
      (5L, "o1 o2 o3 o4 o5 x"),
      (6L, "y o1 o2 o3 o4 o5 z")).toDF("doc_id", "text")
    val o = Dedup.removeSharedSpans(overlap, "doc_id", "text", k = 4)
      .collect().map(r => (r.getLong(0), (r.getLong(2), r.getString(3)))).toMap
    assert(o(6L) === ((5L, "y z")))
  }

  test("semantic dedup: total, deterministic, groups exactly the in-cell near-dup pairs") {
    def run() = Dedup.semanticDedup(emb, "vec_id", "embedding", nlist = 4, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    val rows = run()
    assert(rows.length === emb.count(), "one row per corpus vector")
    // one keeper per cluster; the keeper and the label are the min id
    rows.groupBy(_._3).foreach { case (cid, rs) =>
      assert(rs.count(_._4) === 1, s"cluster $cid must have exactly one keeper")
      assert(rs.filter(_._4).head._1 === rs.map(_._1).min)
      assert(cid === rs.map(_._1).min)
    }
    // recall within cells is 1: every exact near-dup pair whose two sides
    // landed in the same cell must be co-clustered (pairs split across
    // cells are the documented recall loss of the method)
    val cellOf = rows.map(r => r._1 -> r._2).toMap
    val clusterOf = rows.map(r => r._1 -> r._3).toMap
    val exact = Dedup.embeddingNearDupExact(emb, "vec_id", "embedding", 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val inCell = exact.filter { case (a, b) => cellOf(a) == cellOf(b) }
    assert(inCell.nonEmpty, "fixture should produce in-cell near-dup pairs")
    inCell.foreach { case (a, b) =>
      assert(clusterOf(a) === clusterOf(b), s"in-cell pair ($a,$b) not co-clustered")
    }
    assert(run().toSeq === rows.toSeq, "deterministic end to end")
  }

  test("semantic dedup auto cell sizing: identical to the fixed form it resolves to") {
    // nlist <= 0 derives the cell count from the corpus size (autoCells);
    // at the fixture scale (500 vectors, occupancy 250) that is 2 cells, so
    // the auto path must reproduce the fixed-nlist=2 run row for row —
    // keeper set, labels, and cells all identical.
    val n = emb.count()
    val resolved = Similarity.autoCells(n, 250)
    assert(resolved === 2, s"fixture sizing drifted: autoCells($n, 250) = $resolved")
    def rowsOf(nl: Int) =
      Dedup.semanticDedup(emb, "vec_id", "embedding", nlist = nl, threshold = 0.3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
        .sortBy(_._1).toSeq
    assert(rowsOf(-1) === rowsOf(resolved),
      "auto cell count must be plumbing only — same cells, clusters, keepers")
  }

  test("semantic decontamination agrees with the exact cross-pair set; a verbatim eval copy is flagged at cos 1") {
    val train = emb.filter(pmod(col("vec_id"), lit(25)) =!= 0)
    val eval = emb.filter(pmod(col("vec_id"), lit(25)) === 0)
    val got = Pipeline.semanticContaminated(train, eval, "vec_id", "embedding", 0.3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // independent expectation: the all-pairs exact near-dup operator,
    // restricted to (train, eval) cross pairs, aggregated per train id.
    // round4 is monotone, so max(round4(cos)) == round4(max(cos)).
    val cross = Dedup.embeddingNearDupExact(emb, "vec_id", "embedding", 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .flatMap { case (a, b, c) => ((a % 25 == 0, b % 25 == 0): @unchecked) match {
        case (true, false) => Some(b -> c)
        case (false, true) => Some(a -> c)
        case _ => None
      }}
    val expect = cross.groupBy(_._1).map { case (id, hits) =>
      id -> ((hits.length.toLong, hits.map(_._2).max)) }
    assert(got === expect, "flag set, hit counts and max similarities must match the exact pair set")
    assert(got.nonEmpty, "fixture should contain contamination")
    // completeness anchor: a train row that IS an eval vector (verbatim
    // copy under a fresh id) is always flagged, at similarity 1
    val spiked = train.unionByName(
      eval.limit(1).withColumn("vec_id", lit(999999L)))
    val hit = Pipeline.semanticContaminated(spiked, eval, "vec_id", "embedding", 0.99)
      .filter(col("train_id") === 999999L)
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    assert(hit.length === 1 && hit.head._1 >= 1L && hit.head._2 === 1.0)
  }

  test("line-level dedup strips corpus-repeated lines and rebuilds documents") {
    import spark.implicits._
    val fixture = Seq(
      (1L, "HEADER\nunique alpha\nFOOTER"),
      (2L, "HEADER\nunique beta\nshared line\nFOOTER"),
      (3L, "HEADER\nshared line\n\nunique gamma\nFOOTER"),
      (4L, "HEADER\nFOOTER")).toDF("doc_id", "text")
    val got = Dedup.lineLevelDedup(fixture, "doc_id", "text", maxOcc = 1)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) === ((3L, 2L, "unique alpha")))
    assert(got(2L) === ((4L, 3L, "unique beta")))
    // blank lines are layout, never counted as boilerplate: survives
    assert(got(3L) === ((5L, 3L, "\nunique gamma")))
    // a document that is ALL boilerplate collapses to the empty string
    assert(got(4L) === ((2L, 2L, "")))
    // maxOcc=2 tolerates the twice-shared content line but not the frame
    val lax = Dedup.lineLevelDedup(fixture, "doc_id", "text", maxOcc = 2)
      .collect().map(r => (r.getLong(0), r.getString(3))).toMap
    assert(lax(2L) === "unique beta\nshared line")
    assert(lax(3L) === "shared line\n\nunique gamma")
    // CRLF and LF renderings of the same boilerplate share one key
    val mixed = Seq(
      (1L, "FOOT\r\nkeep one"),
      (2L, "FOOT\nkeep two"),
      (3L, "FOOT \nkeep three")).toDF("doc_id", "text")
    val crlf = Dedup.lineLevelDedup(mixed, "doc_id", "text", maxOcc = 1)
      .collect().map(r => (r.getLong(0), (r.getLong(2), r.getString(3)))).toMap
    assert(crlf(1L) === ((1L, "keep one")))
    assert(crlf(2L) === ((1L, "keep two")))
    assert(crlf(3L) === ((1L, "keep three")))
  }

  test("vector-avg aggregate matches the posexplode formulation; nulls ignored, mismatch fails") {
    import graft.functions.VectorAvg.vectorAvg
    val v = emb.select(col("label"),
      graft.functions.VectorFunctions.toDoubleArray(col("embedding")).as("vec"))
    val native = vectorAvgRows(v.groupBy(col("label")).agg(vectorAvg(col("vec")).as("cent")))
    val declarative = vectorAvgRows(v
      .select(col("label"), posexplode(col("vec")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos")).agg(avg(col("x")).as("cv"))
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("pos"), col("cv")))).as("pcs"))
      .select(col("label"), transform(col("pcs"), p => p.getField("cv")).as("cent")))
    assert(native.keySet === declarative.keySet)
    native.foreach { case (label, cent) =>
      val d = declarative(label)
      assert(cent.length === d.length)
      cent.zip(d).foreach { case (a, b) => assert(math.abs(a - b) < 1e-9, s"label $label") }
    }
    // null vectors are ignored like avg; an all-null group is null
    import spark.implicits._
    val withNulls = Seq((1L, Some(Seq(2.0, 4.0))), (1L, None), (2L, None))
      .toDF("g", "vec")
    val r = withNulls.groupBy(col("g")).agg(vectorAvg(col("vec")).as("c"))
      .collect().map(x => x.getLong(0) -> Option(x.get(1))).toMap
    assert(r(1L).map(_.asInstanceOf[scala.collection.Seq[Double]].toSeq) === Some(Seq(2.0, 4.0)))
    assert(r(2L) === None)
    // dimensionality mismatch fails loudly, never silently truncates
    val bad = Seq((1L, Seq(1.0, 2.0)), (1L, Seq(1.0))).toDF("g", "vec")
    val e = intercept[Exception] {
      bad.groupBy(col("g")).agg(vectorAvg(col("vec"))).collect()
    }
    assert(e.getMessage != null)
  }

  private def vectorAvgRows(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Double]] =
    df.collect().map(r => (r.get(0).asInstanceOf[Number].longValue,
      r.getSeq[Double](1).toSeq)).toMap

  test("IVF-PQ composition: equals plain PQ at full probe; pruned probe keeps a recall floor") {
    val queries = emb.filter(col("vec_id") < 10)
    // with every cell probed the IVF layer prunes nothing, so IVF-PQ must
    // reproduce plain PQ/ADC exactly (same deterministic codebooks)
    val pq = Similarity.pqTopK(emb, queries, "vec_id", "embedding",
        dim = 64, k = 5, m = 16, ksub = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fullProbe = Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding",
        dim = 64, k = 5, nlist = 4, nprobe = 4, m = 16, ksub = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fullProbe === pq, "full probe must reduce IVF-PQ to plain PQ")
    // pruned probe: recall compounds cell pruning × quantization — floor
    // only checks the machinery (fixture vectors are near-random)
    val brute = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pruned = Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding",
        dim = 64, k = 5, nlist = 4, nprobe = 2, m = 16, ksub = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & pruned).size.toDouble / brute.size
    assert(recall >= 0.15, s"IVF-PQ recall below structural floor: $recall")
    assert(pruned.size === brute.size, "still k rows per query")
  }

  test("prefix-filtered jaccard equals the inverted-index formulation exactly") {
    val blocked = docs.withColumn("len_bucket", floor(col("n_chars") / 100))
    def normalize(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val inv = normalize(Dedup.ngramJaccardPairs(
      blocked, "doc_id", "text", Seq(col("len_bucket")), 3, 0.5))
    val pre = normalize(Dedup.ngramJaccardPairsPrefix(
      blocked, "doc_id", "text", Seq(col("len_bucket")), 3, 0.5))
    assert(inv.nonEmpty, "fixture should contain near-dups")
    assert(pre === inv, s"prefix filtering must be exact; diff=${pre.diff(inv) ++ inv.diff(pre)}")
  }

  test("packBinsBFD: budgets exact, textbook assignment, oversize singletons, salted stays valid") {
    import spark.implicits._
    // hand case, budget 10, sizes desc [6,5,4,3,2]: BFD packs {6,4} and
    // {5,3,2} — two full bins, the optimum
    val hand = Seq((1L, "s", 6L), (2L, "s", 5L), (3L, "s", 4L),
      (4L, "s", 3L), (5L, "s", 2L)).toDF("doc_id", "source", "n")
    val out = Pipeline.packBinsBFD(hand, "source", "doc_id", col("n"), budget = 10L)
      .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
    assert(out(1L) === out(3L), "6 and 4 share a bin")
    assert(out(2L) === out(4L) && out(4L) === out(5L), "5, 3, 2 share a bin")
    assert(out.values.toSet.size === 2, s"two optimal bins: $out")
    // corpus: every bin within budget, totality, oversize flagged singleton
    val docs2 = docs.withColumn("n_tok",
      graft.operators.TextAnalysis.tokenCount(col("text")).cast("long"))
    val packed = Pipeline.packBinsBFD(docs2, "source", "doc_id", col("n_tok"), budget = 64L)
    val fills = packed.groupBy(col("source"), col("bin_id"))
      .agg(sum(when(!col("oversize"), col("n_tok")).otherwise(0L)).as("fill"),
        sum(when(col("oversize"), 1L).otherwise(0L)).as("n_over"),
        count(lit(1)).as("n"))
      .collect()
    assert(fills.forall(r => r.getLong(2) <= 64L), "no non-oversize bin exceeds the budget")
    assert(fills.filter(_.getLong(3) > 0).forall(r => r.getLong(4) === 1L),
      "oversize docs are singleton bins")
    assert(packed.count() === docs2.count(), "every doc is assigned")
    // BFD bound sanity per stratum: bins ≤ 2·ceil(total/budget) + oversize
    val perStratum = packed.filter(!col("oversize"))
      .groupBy(col("source"))
      .agg(countDistinct(col("bin_id")).as("bins"), sum(col("n_tok")).as("tot"))
      .collect()
    perStratum.foreach { r =>
      val lb = (r.getLong(2) + 63) / 64
      assert(r.getLong(1) <= 2 * lb,
        s"${r.getString(0)}: ${r.getLong(1)} bins vs lower bound $lb")
    }
    // salted path: budgets still exact and totality holds
    val salted = Pipeline.packBinsBFD(docs2, "source", "doc_id", col("n_tok"),
      budget = 64L, saltBuckets = 4)
    val sFills = salted.filter(!col("oversize"))
      .groupBy(col("source"), col("bin_id")).agg(sum(col("n_tok")).as("fill")).collect()
    assert(sFills.forall(_.getLong(2) <= 64L), "salted bins respect the budget")
    assert(salted.count() === docs2.count(), "salted totality")
  }

  test("incrementalCdcNew: edited re-uploads drop by chunk mass; fresh blobs and batch totality kept") {
    import spark.implicits._
    def junk(seed: Int, n: Int): Array[Byte] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      (0 until n / 16).flatMap(i => md.digest(s"$seed:$i".getBytes).toSeq).toArray
    }
    val b1 = junk(1, 8192)
    val b2 = junk(2, 8192)
    val corpus = Seq((1L, b1), (2L, b2)).toDF("id", "bin")
    val batch = Seq(
      (101L, Array[Byte](9, 9, 9, 9, 9, 9, 9) ++ b1), // edited re-upload → drop
      (102L, junk(3, 8192)),                          // fresh → keep
      (103L, b2)                                      // byte-identical → drop
    ).toDF("id", "bin")
    val kept = Dedup.incrementalCdcNew(batch, corpus, "id", "bin", 32, 64, 256)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(kept === Set(102L),
      s"edited and identical re-uploads must drop, fresh must stay: $kept")
    // an empty corpus keeps everything (no chunk can be a duplicate)
    val all = Dedup.incrementalCdcNew(batch, corpus.filter(col("id") < 0),
        "id", "bin", 32, 64, 256)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(all === Set(101L, 102L, 103L), "empty corpus drops nothing")
  }

  test("incrementalCdcNew tiny-blob tier: fine chunking catches edited tiny re-uploads; routing boundary pinned") {
    import spark.implicits._
    def junk(seed: Int, n: Int): Array[Byte] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      (0 until (n + 15) / 16).flatMap(i => md.digest(s"tb$seed:$i".getBytes).toSeq)
        .take(n).toArray
    }
    val tiny = junk(1, 64) // 1–2 coarse chunks at min 32 / avg 64
    val big = junk(2, 8192)
    val corpus = Seq((1L, tiny), (2L, big)).toDF("id", "bin")
    val batch = Seq(
      (201L, Array[Byte](9, 9, 9) ++ tiny), // edited tiny re-upload
      (202L, junk(3, 64))                   // fresh tiny
    ).toDF("id", "bin")
    // Without the tier the edited tiny blob SLIPS: at avg-64 chunking a
    // 67-byte blob is 1–2 chunks and the 3-byte prepend damages most of
    // its chunk mass — the documented degeneracy the tier exists for.
    val noTier = Dedup.incrementalCdcNew(batch, corpus, "id", "bin", 32, 64, 256)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(noTier.contains(201L), s"expected the coarse-only slip to reproduce: $noTier")
    // With the tier the edited tiny blob re-tests at 8/16/64 chunking
    // (~4–8 chunks) where the edit damages only the head — caught; the
    // fresh tiny blob shares no chunks at ANY resolution — kept.
    val tiered = Dedup.incrementalCdcNew(batch, corpus, "id", "bin", 32, 64, 256,
        maxDupRatio = 0.5, minBlobBytes = 128)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(tiered === Set(202L), s"tiered: edited tiny drops, fresh tiny stays: $tiered")
    // ROUTING BOUNDARY: length >= minBlobBytes stays coarse-only. The same
    // edited pair with the floor AT the new blob's length (67) must not
    // enter the fine tier — behavior identical to no tier.
    val atBoundary = Dedup.incrementalCdcNew(batch, corpus, "id", "bin", 32, 64, 256,
        maxDupRatio = 0.5, minBlobBytes = 67)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(atBoundary === noTier, s"length >= minBlobBytes must route coarse-only: $atBoundary")
  }

  test("tfidfCosinePairs: exact duplicates score 1.0; ubiquitous-only overlap scores 0") {
    import spark.implicits._
    // 'common' appears in EVERY doc → idf exactly 0 → pairs sharing only
    // it never surface (the result-preserving heavy-hitter prune); docs 1
    // and 2 are verbatim duplicates → cosine exactly 1.0 (identical
    // weight vectors: dot = ‖a‖² = ‖a‖·‖b‖)
    val micro = Seq(
      (1L, "common alpha beta gamma", "en"),
      (2L, "common alpha beta gamma", "en"),
      (3L, "common delta epsilon", "en"),
      (4L, "common zeta eta", "en")
    ).toDF("doc_id", "text", "lang")
    val pairs = Dedup.tfidfCosinePairs(micro, "doc_id", "text", Seq(col("lang")), 0.001)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs.get((1L, 2L)).contains(1.0), s"verbatim duplicate must score 1.0: $pairs")
    assert(!pairs.contains((3L, 4L)),
      s"a pair sharing only the idf-0 ubiquitous term must not surface: $pairs")
    assert(pairs.keySet.forall { case (a, b) => a < b }, "ordered pairs only")
    // corpus fixture: nonempty at the shipped threshold and deterministic
    val c1 = Dedup.tfidfCosinePairs(docs, "doc_id", "text", Seq(col("lang")), 0.85)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val c2 = Dedup.tfidfCosinePairs(docs, "doc_id", "text", Seq(col("lang")), 0.85)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(c1.nonEmpty && c1 === c2, "deterministic rerun")
  }

  test("tfidfCosinePairsPrefix: l2-prefix index pruning keeps exact recall vs the plain index") {
    def byPair(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // the DENSE shape (lang-only blocking) is exactly where the plain
    // index explodes and the prune earns its keep — recall must be exact
    for (t <- Seq(0.5, 0.85)) {
      val plain = byPair(Dedup.tfidfCosinePairs(
        docs, "doc_id", "text", Seq(col("lang")), t))
      val pruned = byPair(Dedup.tfidfCosinePairsPrefix(
        docs, "doc_id", "text", Seq(col("lang")), t))
      assert(plain.nonEmpty, s"fixture should have pairs at $t")
      assert(pruned.keySet === plain.keySet,
        s"prefix pruning must be exact at $t; diff=${
          (pruned.keySet diff plain.keySet) ++ (plain.keySet diff pruned.keySet)}")
      // dot computed by merge scan vs hash agg: association differs by
      // ulps; the 4-dp rounded values may differ by at most one tick
      plain.foreach { case (k, c) =>
        assert(math.abs(pruned(k) - c) <= 1.0001e-4, s"$k: ${pruned(k)} vs $c")
      }
    }
    // SPARSE Zipf-ish shape — the corpus class the l2 bound was adopted
    // for (rare tails carry the weight; the skip region must cover the
    // head/mid band, and candidates must stay far below all-pairs while
    // recall stays exact). Deterministic hash-built corpus: 300 docs of
    // 40 tokens over a rank ∝ exp(u·ln V) Zipf draw, every 11th doc a
    // ~10%-mutated copy of an earlier one.
    val zipfish = {
      import spark.implicits._
      val vocab = 4000
      def tok(seed: Long, p: Int): String = {
        val h = java.lang.Long.remainderUnsigned(
          scala.util.hashing.MurmurHash3.stringHash(s"$seed:$p").toLong & 0xffffffffL, 1 << 20)
        val u = (h + 0.5) / (1 << 20)
        "t" + math.min(vocab, math.pow(vocab + 1.0, u).toLong)
      }
      (0L until 300L).map { id =>
        val dup = id % 11 == 4 && id >= 11
        val seed = if (dup) id - 7 else id
        val toks = (0 until 40).map { p =>
          if (dup && (id * 41 + p) % 10 == 0) tok(id + 1000000L, p) else tok(seed, p)
        }
        (id, toks.mkString(" "), "en")
      }.toDF("doc_id", "text", "lang")
    }
    val plainZ = byPair(Dedup.tfidfCosinePairs(zipfish, "doc_id", "text", Seq(col("lang")), 0.8))
    val prunedZ = byPair(Dedup.tfidfCosinePairsPrefix(zipfish, "doc_id", "text", Seq(col("lang")), 0.8))
    assert(plainZ.nonEmpty, "planted near-dups must surface on the sparse fixture")
    assert(prunedZ.keySet === plainZ.keySet,
      s"l2 pruning must be exact on the sparse shape; diff=${
        (prunedZ.keySet diff plainZ.keySet) ++ (plainZ.keySet diff prunedZ.keySet)}")
  }

  test("containment: asymmetric, directional, and prefix-filtered form is exact") {
    def normalize(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // corpus fixture: prefix formulation must reproduce the inverted index
    val inv = normalize(Dedup.containmentPairs(
      docs, "doc_id", "text", Seq(col("lang")), 3, 0.8))
    val pre = normalize(Dedup.containmentPairsPrefix(
      docs, "doc_id", "text", Seq(col("lang")), 3, 0.8))
    assert(inv.nonEmpty, "fixture should contain containment pairs")
    assert(pre === inv, s"prefix containment must be exact; diff=${pre.diff(inv) ++ inv.diff(pre)}")

    // hand corpus: A's 3 shingles all inside B (C(A→B)=1), but C(B→A)=0.5
    // and J(A,B)=0.5 — containment flags the pasted-copy pair Jaccard
    // structurally cannot; only the (contained, container) direction emits
    val micro = spark.createDataFrame(Seq(
      (1L, "a b c d e", "en"),
      (2L, "a b c d e f g h", "en"),
      (3L, "q r s t u v w", "en")
    )).toDF("doc_id", "text", "lang")
    val pairs = normalize(Dedup.containmentPairs(
      micro, "doc_id", "text", Seq(col("lang")), 3, 0.8))
    assert(pairs === Set((1L, 2L, 1.0)), s"expected only A⊂B, got $pairs")
    val jac = Dedup.ngramJaccardPairs(
      micro.withColumn("blk", lit(0)), "doc_id", "text", Seq(col("blk")), 3, 0.8)
    assert(jac.count() === 0, "Jaccard at the same threshold must miss the pasted copy")

    // exact boundary C = 4/5 = threshold 0.8: both formulations must emit
    // it (this is the ±ulp case the prefix length's +2 hardening absorbs:
    // fl(5·0.8) = 4.0000000000000002 so the classical n−⌈t·n⌉+1 prefix
    // would shrink to 1 indexed shingle while fl(4/5) ≥ 0.8 passes verify)
    val edge = spark.createDataFrame(Seq(
      (10L, "t1 t2 t3 t4 t5 t6 t7", "en"),
      (11L, "t1 t2 t3 t4 t5 t6 x8", "en")
    )).toDF("doc_id", "text", "lang")
    val einv = normalize(Dedup.containmentPairs(edge, "doc_id", "text", Seq(col("lang")), 3, 0.8))
    val epre = normalize(Dedup.containmentPairsPrefix(edge, "doc_id", "text", Seq(col("lang")), 3, 0.8))
    assert(einv === Set((10L, 11L, 0.8), (11L, 10L, 0.8)),
      s"boundary pair must pass exactly at threshold, got $einv")
    assert(epre === einv, "prefix form must keep the fl-boundary pair")
  }

  test("IVF top-k achieves reasonable recall vs brute force and prunes cells") {
    val queries = emb.filter(col("vec_id") < 10)
    val brute = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", "label", 5, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // synthetic labels are UNcorrelated with cosine (measured: avg cos ~0
    // within and across labels), so nprobe=3 of 10 cells ~ chance recall
    // ~0.3 — the floor checks the machinery, not codebook quality; the
    // full-probe equality below is the real correctness gate
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.15, s"IVF recall below structural floor: $recall")
    assert(ivf.size === brute.size) // still k per query
    // with nprobe = nlist (all cells probed), IVF must equal brute force
    val nlist = emb.select("label").distinct().count().toInt
    val full = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", "label", 5, nprobe = nlist)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full === brute, "probing every cell must recover exact top-k")
  }

  test("SQL functions registered via SparkSessionExtensions match the Column API") {
    graft.functions.GraftExtensions.register(spark)
    val row = spark.sql(
      """SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d,
        |       graft_shingles(array('a', 'b', 'a', 'b'), 2) AS sh,
        |       graft_minhash(array('a b', 'b c'), 4) AS mh,
        |       graft_simhash(array('a b', 'b c')) AS sim,
        |       graft_ngrams(array('a', 'b', 'a', 'b'), 2) AS ng
        |""".stripMargin).collect()(0)
    assert(row.getDouble(0) === 11.0)
    // shingles dedup ("a b" repeats); ngrams keep the occurrence multiset
    assert(row.getSeq[String](1) === Seq("a b", "b a"))
    assert(row.getSeq[String](4) === Seq("a b", "b a", "a b"))
    // SQL results must equal the Column-API results on the same input
    import org.apache.spark.sql.functions._
    val viaApi = spark.range(1)
      .select(
        graft.functions.TextHashes.minhashSig(typedlit(Seq("a b", "b c")), 4).as("mh"),
        graft.functions.TextHashes.simhash64(typedlit(Seq("a b", "b c"))).as("sim"))
      .collect()(0)
    assert(row.getSeq[Long](2) === viaApi.getSeq[Long](0))
    assert(row.getLong(3) === viaApi.getLong(1))
    // the aggregate surface: SQL GROUP BY with graft_vector_avg
    val agg = spark.sql(
      """SELECT graft_vector_avg(v) AS c
        |FROM VALUES (array(1.0d, 3.0d)), (array(3.0d, 5.0d)) AS t(v)""".stripMargin)
      .head().getSeq[Double](0)
    assert(agg === Seq(2.0, 4.0))
  }

  test("approx_count_distinct within 10% of exact") {
    val li = Tables.lineitem(spark, sf)
    val row = li.agg(
      countDistinct(col("l_orderkey")).as("exact"),
      approx_count_distinct(col("l_orderkey")).as("approx")).collect()(0)
    val (exact, approx) = (row.getLong(0), row.getLong(1))
    assert(math.abs(approx - exact).toDouble / exact < 0.10, s"exact=$exact approx=$approx")
  }

  test("language-ID is deterministic and total") {
    val out = docs.withColumn("p", TextAnalysis.langId(col("text")))
    assert(out.filter(col("p").isNull).count() === 0)
    val again = docs.withColumn("p", TextAnalysis.langId(col("text")))
    assert(out.select("doc_id", "p").except(again.select("doc_id", "p")).count() === 0)
  }

  test("language-ID single-pass expression equals the declarative argmax") {
    // the codegen'd one-pass LangIdExpr replaced a per-language
    // size(filter(tokens, in markers)) loop; this pins the semantics it
    // must preserve — same tokens (split " +"), same occurrence counting,
    // same (score, lang) struct-max tie-break — over the whole corpus
    val t = split(col("text"), " +")
    val scored = TextAnalysis.LangMarkers.toSeq.sortBy(_._1).map { case (lang, markers) =>
      struct(
        size(filter(t, tok => tok.isInCollection(markers))).as("score"),
        lit(lang).as("lang"))
    }
    val declarative = array_max(array(scored: _*)).getField("lang")
    val both = docs.select(
      TextAnalysis.langId(col("text")).as("fast"), declarative.as("slow"))
    assert(both.filter(col("fast") =!= col("slow")).count() === 0,
      "single-pass prediction must match the declarative formulation row-for-row")
    assert(TextAnalysis.LangMarkers.size >= 80,
      s"language table must stay production-crawl wide, got ${TextAnalysis.LangMarkers.size}")
  }

  test("quality metrics are in sane ranges") {
    val q = TextAnalysis.withQuality(docs, col("text"))
    assert(q.filter(col("alpha_ratio") < 0 || col("alpha_ratio") > 1).count() === 0)
    assert(q.filter(col("stopword_ratio") < 0 || col("stopword_ratio") > 1).count() === 0)
    assert(q.filter(col("n_tokens") <= 0).count() === 0)
    assert(q.filter(col("mean_token_len") <= 0).count() === 0)
  }

  test("count-window assignment: every row in exactly one window, all full except tail") {
    val ev = Tables.events(spark, sf)
    val n = ev.count()
    val assigned = WindowAssign.countWindow(
      ev.select(col("event_id")), 100, Seq(col("event_id")))
    val sizes = assigned.groupBy("window_id").count()
      .orderBy("window_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(sizes.map(_._2).sum === n)
    sizes.dropRight(1).foreach { case (_, c) => assert(c === 100L) }
    assert(sizes.last._2 <= 100L)
    assert(sizes.map(_._1).toSeq === (0L until sizes.length).toSeq)
  }

  test("winnowing fingerprint is stable under distant edits, changed by local ones") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again here"
    val df = Seq((1L, base), (2L, base + " trailing tail words appended onwards")).toDF("id", "t")
    val fps = df.select(TextAnalysis.winnowFingerprint(col("t"))).collect().map(_.getLong(0))
    // the min-hash shingle usually survives an append-only edit
    assert(fps(0) === fps(1))
  }

  test("true winnowing: an edit changes only nearby fingerprints; long shared runs always overlap") {
    import spark.implicits._
    // 40 distinct tokens; doc B edits exactly one token in the middle
    val toks = (0 until 40).map(i => s"tok$i")
    val a = toks.mkString(" ")
    val b = toks.updated(20, "EDITED").mkString(" ")
    val c = (100 until 140).map(i => s"other$i").mkString(" ") // disjoint vocab
    val df = Seq((1L, a), (2L, b), (3L, c)).toDF("id", "t")
    val rows = df.select(col("id"), TextAnalysis.winnowFingerprints(col("t"), n = 3, w = 4))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap

    // guarantee: every w-run is covered, so each doc has >= nh/w fingerprints
    assert(rows(1L).size >= (40 - 3 + 1) / 4)
    // a one-token edit perturbs only the <= n+w-1 shingle-windows that
    // overlap it: the prefix [0,17] and suffix [23,39] regions are intact,
    // so most fingerprints survive...
    val shared = rows(1L) intersect rows(2L)
    assert(shared.nonEmpty, "distant regions must keep their fingerprints")
    assert(shared.size * 2 > rows(1L).size,
      s"a local edit must preserve most fingerprints: kept ${shared.size} of ${rows(1L).size}")
    // ...but the edited region must change the set
    assert(rows(1L) !== rows(2L), "a local edit must change some fingerprint")
    // disjoint-vocabulary documents share nothing
    assert((rows(1L) intersect rows(3L)).isEmpty)

    // deterministic across evaluations
    val again = df.filter(col("id") === 1L)
      .select(TextAnalysis.winnowFingerprints(col("t"), 3, 4)).head().getSeq[Long](0)
    assert(again.toSet === rows(1L))
  }

  test("count-min term sketch: one-sided error within eps*total of exact counts") {
    val eps = 0.001
    val sketch = TextAnalysis.termFreqSketch(docs, col("text"), eps = eps)
    val exact = docs
      .select(explode(TextAnalysis.wordTokens(col("text"))).as("token"))
      .groupBy("token").count()
      .orderBy(col("count").desc, col("token")).limit(20)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val total = sketch.totalCount()
    exact.foreach { case (term, n) =>
      val est = sketch.estimateCount(term)
      assert(est >= n, s"CMS must never undercount: $term est=$est exact=$n")
      assert(est <= n + (eps * total).toLong + 1,
        s"CMS overcount beyond eps*total: $term est=$est exact=$n total=$total")
    }
  }

  test("int8 quantization: reconstruction error bounded, cosine ranking preserved") {
    import graft.functions.VectorFunctions._
    val v = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
      .limit(50)
      .select(col("vec_id"), toDoubleArray(col("embedding")).as("vec"))
      .withColumn("deq", dequantizeInt8(quantizeInt8(col("vec"))))
    // per-dimension error <= scale/2 = max|x|/254
    val bad = v.select(
        aggregate(zip_with(col("vec"), col("deq"), (a, b) => abs(a - b)),
          lit(0.0), (acc, x) => greatest(acc, x)).as("max_err"),
        (array_max(transform(col("vec"), x => abs(x))) / 254.0 + 1e-12).as("bound"))
      .filter(col("max_err") > col("bound")).count()
    assert(bad === 0)
    // cosine between original and dequantized ~ 1
    val minCos = v.select(cosine(col("vec"), col("deq")).as("c"))
      .agg(min(col("c"))).head().getDouble(0)
    assert(minCos > 0.9995, s"quantization distorted direction: min cosine $minCos")
  }

  test("dup clusters: transitive closure, min-id winner, one keeper per cluster") {
    import spark.implicits._
    // a 4-chain (transitivity beyond direct pairs), a 2-cluster, a 3-star
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L), (21L, 22L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.dupClusters(pairs, "doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sortBy(_._1)
    assert(got.map(t => t._1 -> t._2).toMap === Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
    // keeper iff doc_id == cluster_id, exactly one per cluster
    assert(got.filter(_._3).map(_._1).toSeq === Seq(1L, 10L, 20L))
    // the size-gated union-find path and the forced distributed min-label
    // loop must be row-identical — on the toy graph AND on a real pair set
    val forced = Dedup.dupClusters(pairs, "doc_a", "doc_b", localEdgeThreshold = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sortBy(_._1)
    assert(forced.toSeq === got.toSeq)
    val realPairs = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.5)
    val localR = Dedup.dupClusters(realPairs, "doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val distR = Dedup.dupClusters(realPairs, "doc_a", "doc_b", localEdgeThreshold = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(localR === distR, "hybrid dupClusters paths diverged on the corpus pair set")
    assert(localR.nonEmpty)
  }

  test("sequence packing: no bin exceeds the budget before its last doc; bins contiguous") {
    import org.apache.spark.sql.expressions.Window
    val packed = Pipeline.packSequences(docs,
      strata = col("lang"), order = col("doc_id"),
      tokens = size(split(col("text"), " ")), budget = 200L)
    // within a bin, tokens before the LAST doc must be < budget (the last
    // doc is the one allowed to overshoot the boundary)
    val w = Window.partitionBy(col("lang"), col("seq_id")).orderBy(col("doc_id").desc)
    val overfull = packed.withColumn("rn", row_number().over(w))
      .groupBy(col("lang"), col("seq_id"))
      .agg((sum(col("n_tok")) - max(when(col("rn") === 1, col("n_tok")))).as("before_last"))
      .filter(col("before_last") >= 200)
    assert(overfull.count() === 0)
    // bins are contiguous 0..max per language
    Pipeline.packSequences(docs, col("lang"), col("doc_id"),
        size(split(col("text"), " ")), 200L)
      .groupBy(col("lang"))
      .agg(min(col("seq_id")).as("mn"), countDistinct(col("seq_id")).as("nd"),
        max(col("seq_id")).as("mx"))
      .collect().foreach { r =>
        assert(r.getLong(1) === 0L, s"bins must start at 0: $r")
        assert(r.getLong(2) === r.getLong(3) + 1, s"bins must be contiguous: $r")
      }
  }

  test("deterministic split: stable under repartitioning, roughly 80/10/10") {
    val s1 = Pipeline.deterministicSplit(docs, col("doc_id"))
      .select(col("doc_id"), col("split"))
    val s2 = Pipeline.deterministicSplit(docs.repartition(7), col("doc_id"))
      .select(col("doc_id"), col("split"))
    assert(s1.except(s2).count() === 0)
    assert(s2.except(s1).count() === 0)
    val counts = s1.groupBy(col("split")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = counts.values.sum.toDouble
    assert(counts("train") / n > 0.7 && counts("train") / n < 0.9, s"split skewed: $counts")
    assert(counts.getOrElse("valid", 0L) / n < 0.2, s"split skewed: $counts")
    assert(counts.getOrElse("test", 0L) / n < 0.2, s"split skewed: $counts")
  }

  test("splitLeakageSafe: clusters never straddle splits; no pairs ≡ deterministicSplit") {
    import spark.implicits._
    val d = docs.withColumn("len_bucket", floor(col("n_chars") / 100))
    val pairs = Dedup.ngramJaccardPairs(d, "doc_id", "text",
      Seq(col("len_bucket")), shingleSize = 3, threshold = 0.5)
    val out = Pipeline.splitLeakageSafe(d, "doc_id", pairs, "doc_a", "doc_b")
      .select(col("doc_id"), col("split"))
    // totality: every doc exactly once
    assert(out.count() === docs.count(), "one split row per document")
    // THE property: every near-dup cluster is entirely inside one split
    val labels = Dedup.dupClusters(pairs, "doc_a", "doc_b")
      .select(col("doc_id"), col("cluster_id"))
    val straddling = out.join(labels, "doc_id")
      .groupBy(col("cluster_id")).agg(countDistinct(col("split")).as("nsplits"))
      .filter(col("nsplits") > 1).count()
    assert(straddling === 0L, "a near-dup cluster straddles the split boundary")
    // the doc-keyed split DOES straddle on this corpus (the failure mode
    // is real here, not vacuously absent)
    val naive = Pipeline.deterministicSplit(d, col("doc_id"))
      .select(col("doc_id"), col("split"))
    val naiveStraddling = naive.join(labels, "doc_id")
      .groupBy(col("cluster_id")).agg(countDistinct(col("split")).as("nsplits"))
      .filter(col("nsplits") > 1).count()
    assert(naiveStraddling > 0L,
      "fixture must exhibit the doc-keyed straddle the operator exists to prevent")
    // degenerate regime: no pairs → identical to the doc-keyed split
    val emptyPairs = pairs.filter(lit(false))
    val same = Pipeline.splitLeakageSafe(d, "doc_id", emptyPairs, "doc_a", "doc_b")
      .select(col("doc_id"), col("split"))
    assert(same.except(naive).count() === 0 && naive.except(same).count() === 0,
      "singleton-only corpus must reduce to deterministicSplit")
  }

  test("splitLeakageSafeIncremental: matches inherit the corpus split, fresh docs get md5") {
    import spark.implicits._
    val d = docs.withColumn("len_bucket", floor(col("n_chars") / 100))
    val corpus = Pipeline.deterministicSplit(
      d.filter(col("doc_id") < 400), col("doc_id"))
    val batch = d.filter(col("doc_id") >= 400)
    val out = Pipeline.splitLeakageSafeIncremental(
      batch, corpus, "doc_id", "text", "split", Seq("len_bucket"),
      shingleSize = 3, threshold = 0.5)
    assert(out.count() === batch.count(), "one split row per new document")
    // ground truth: per new doc, the smallest corpus match at J >= 0.5
    val pairs = Dedup.ngramJaccardPairs(d, "doc_id", "text",
        Seq(col("len_bucket")), shingleSize = 3, threshold = 0.5)
      .select(explode(array(
        struct(col("doc_a").as("x"), col("doc_b").as("y")),
        struct(col("doc_b").as("x"), col("doc_a").as("y")))).as("e"))
      .select(col("e.x").as("new_id"), col("e.y").as("corpus_id"))
      .filter(col("new_id") >= 400 && col("corpus_id") < 400)
      .groupBy(col("new_id")).agg(min(col("corpus_id")).as("corpus_id"))
    val matches = pairs.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(matches.nonEmpty, "fixture must contain cross-boundary near-dups")
    val corpusSplit = corpus.select(col("doc_id"), col("split"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val naive = Pipeline.deterministicSplit(batch, col("doc_id"))
      .select(col("doc_id"), col("split"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = out.select(col("doc_id"), col("split"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    got.foreach { case (id, split) =>
      matches.get(id) match {
        case Some(cid) => assert(split === corpusSplit(cid),
          s"doc $id must inherit corpus $cid's split")
        case None => assert(split === naive(id), s"fresh doc $id must use its md5 split")
      }
    }
    // the property is live, not vacuous: at least one match INHERITS a
    // split its own md5 bucket would not have produced
    assert(matches.exists { case (id, cid) => corpusSplit(cid) != naive(id) },
      "fixture must contain an inheritance that differs from the doc-keyed split")
  }

  test("splitLeakageSafeIncrementalAgainstTable: bootstrap md5 split, then ingest-loop inheritance") {
    import java.nio.file.Files
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_split_artifact").toString + "/corpus"
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    def batchDf(rows: (Long, String)*) =
      rows.toSeq.toDF("doc_id", "text").withColumn("b", lit(0L))
    // bootstrap: artifact path does not exist yet → pure md5 split
    val b1 = batchDf(1L -> base, 2L -> "one two three four five six seven eight nine ten")
    val out1 = Pipeline.splitLeakageSafeIncrementalAgainstTable(
      b1, dir, "doc_id", "text", "split", Seq("b"), shingleSize = 2, threshold = 0.5)
    val naive = Pipeline.deterministicSplit(b1, col("doc_id"))
      .select(col("doc_id"), col("split"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val got1 = out1.select(col("doc_id"), col("split"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got1 === naive, "bootstrap (no artifact) must reduce to the md5 split")
    out1.write.mode("append").parquet(dir)
    // ingest loop: a near-dup of doc 1 inherits doc 1's persisted split
    val b2 = batchDf(10L -> base.replace("epsilon", "EDITED"))
    val out2 = Pipeline.splitLeakageSafeIncrementalAgainstTable(
      b2, dir, "doc_id", "text", "split", Seq("b"), shingleSize = 2, threshold = 0.5)
    val got2 = out2.collect().map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    assert(got2(10L) === got1(1L), "ingest batch must inherit the ARTIFACT's split")
    out2.write.mode("append").parquet(dir)
    // transitivity through the loop: a near-dup of doc 10 (itself an
    // inheritor, now part of the artifact) inherits the same split
    val b3 = batchDf(20L -> base.replace("epsilon", "EDITED").replace("kappa", "ALSO"))
    val got3 = Pipeline.splitLeakageSafeIncrementalAgainstTable(
        b3, dir, "doc_id", "text", "split", Seq("b"), shingleSize = 2, threshold = 0.5)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    assert(got3(20L) === got1(1L),
      "a near-dup of an inherited doc must land in the same split as the chain's root")
  }

  test("ZipfData corpus: deterministic, Zipf-shaped, planted near-dups recoverable") {
    val c1 = graft.ZipfData.corpus(spark, 300)
    val c2 = graft.ZipfData.corpus(spark, 300)
    assert(c1.count() === 300)
    assert(c1.except(c2).count() === 0 && c2.except(c1).count() === 0,
      "generator must be bit-reproducible")
    // Zipf head: the most document-frequent term must appear in a large
    // fraction of docs while the median term is rare (the shape the
    // dense testdata vocabulary lacks)
    val dfreq = c1.select(col("doc_id"),
        explode(array_distinct(TextAnalysis.wordTokens(col("text")))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val (maxDf, medDf) = {
      val r = dfreq.agg(max(col("df")), expr("percentile(df, 0.5)")).head()
      (r.getLong(0), r.getDouble(1))
    }
    assert(maxDf > 250, s"head term must be near-ubiquitous: $maxDf")
    assert(medDf <= 3.0, s"median term must be rare: $medDf")
    // planted near-dups: doc 22 is a ~5%-mutated copy of doc 9 — the pair
    // query finds every planted pair and nothing else at t=0.8
    val pairs = Dedup.tfidfCosinePairsPrefix(c1, "doc_id", "text", Seq(col("lang")), 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (17L until 300L).filter(id => id % 17 == 5).map(id => (id - 13, id)).toSet
    assert(pairs === planted, s"diff=${(pairs diff planted) ++ (planted diff pairs)}")
  }

  test("incremental dedup: new-batch rows with a corpus fingerprint are dropped") {
    import spark.implicits._
    val corpus = Seq((1L, "Hello World"), (2L, "foo bar")).toDF("doc_id", "text")
    val fresh = Seq((10L, "  hello world "), (11L, "brand new doc"), (12L, "FOO BAR"))
      .toDF("doc_id", "text")
    val kept = Dedup.incrementalExact(fresh, corpus, TextAnalysis.md5Fingerprint(col("text")))
    // 10 and 12 match corpus docs after trim/lower normalization; 11 is new
    assert(kept.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq === Seq(11L))
    // schema passes through unchanged (no helper columns leak)
    assert(kept.columns.toSeq === fresh.columns.toSeq)
  }

  test("dup clusters: null or non-castable ids fail loudly, never null-keyed garbage") {
    import spark.implicits._
    // null id: our raise_error fires in any cast mode
    val nullPairs = Seq((Some(1L), None: Option[Long])).toDF("doc_a", "doc_b")
    val e1 = intercept[Exception] {
      Dedup.dupClusters(nullPairs, "doc_a", "doc_b").collect()
    }
    def messages(t: Throwable): List[String] =
      if (t == null) Nil else Option(t.getMessage).toList ++ messages(t.getCause)
    assert(messages(e1).exists(_.contains("dupClusters")), s"got: ${messages(e1)}")
    // UUID-style string id: loud in both cast modes (ANSI cast error, or
    // our raise_error when ANSI is off) — never a silent null key
    val uuidPairs = Seq(("3f2a-11ee", "9b1c-4a00")).toDF("doc_a", "doc_b")
    val e2 = intercept[Exception] {
      Dedup.dupClusters(uuidPairs, "doc_a", "doc_b").collect()
    }
    assert(messages(e2).exists(m => m.contains("dupClusters") || m.toLowerCase.contains("cast")),
      s"got: ${messages(e2)}")
  }

  test("approx percentiles track exact within 1% (q_approx_percentiles gate)") {
    // sf0.01: ~3k orders/priority. percentile_approx returns a real element
    // (no interpolation), so the bound needs groups dense enough that
    // adjacent values sit within 1% — true here, not at sf0.001 (~300/group).
    val dir = "/root/testdata/sf0.01"
    val exact = SparkEntry.queries("q_percentiles")(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val approx = SparkEntry.queries("q_approx_percentiles")(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(exact.keySet === approx.keySet)
    exact.foreach { case (k, (e25, e50, e75)) =>
      val (a25, a50, a75) = approx(k)
      Seq((e25, a25), (e50, a50), (e75, a75)).foreach { case (e, a) =>
        assert(math.abs(a - e) <= 0.01 * math.abs(e),
          s"priority $k: approx $a deviates >1% from exact $e")
      }
    }
  }

  test("MAD outlier census: approx scale companion tracks exact (q_outliers_mad_scale gate)") {
    // same sf0.01 rationale as the approx-percentiles gate: groups dense
    // enough that t-digest's returned elements sit within tolerance
    val dir = "/root/testdata/sf0.01"
    def census(name: String) = SparkEntry.queries(name)(spark, dir)
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))
      .toMap
    val exact = census("q_outliers_mad")
    val approx = census("q_outliers_mad_scale")
    assert(exact.keySet === approx.keySet)
    exact.foreach { case (k, (en, emed, emad, eout)) =>
      val (an, amed, amad, aout) = approx(k)
      assert(an === en, s"flag $k: row counts must agree")
      assert(math.abs(amed - emed) <= 0.01 * math.abs(emed),
        s"flag $k: approx median $amed deviates >1% from exact $emed")
      assert(math.abs(amad - emad) <= 0.02 * math.abs(emad),
        s"flag $k: approx MAD $amad deviates >2% from exact $emad")
      // the tail census moves with the threshold — a sketch-shifted cutoff
      // may reclassify boundary rows, so pin count drift, not equality
      assert(math.abs(aout - eout) <= math.max(5.0, 0.05 * eout),
        s"flag $k: approx outlier count $aout drifts >5% from exact $eout")
    }
  }

  test("native ADC kernel: flat-array probe matches the explicit sum; out-of-range codes fail loudly") {
    import spark.implicits._
    val ksub = 4
    // lut for m=3, ksub=4: entry (sub, cell) = 10·sub + cell
    val lut = (0 until 12).map(i => (i / 4) * 10.0 + (i % 4))
    val df = Seq(
      (Seq(0L, 1L, 2L), lut),
      (Seq(3L, 3L, 3L), lut)).toDF("codes", "lut")
    val got = df
      .select(graft.functions.AdcScore.adc(col("codes"), col("lut"), ksub).as("s"))
      .collect().map(_.getDouble(0)).toSeq
    assert(got === Seq(0.0 + 11.0 + 22.0, 3.0 + 13.0 + 23.0))
    // code ≥ ksub is a codebook/encoding mismatch — loud, never a wrong score
    val bad = Seq((Seq(4L), Seq(1.0, 2.0, 3.0, 4.0))).toDF("codes", "lut")
    val e = intercept[Exception] {
      bad.select(graft.functions.AdcScore.adc(col("codes"), col("lut"), ksub)).collect()
    }
    def messages(t: Throwable): List[String] =
      if (t == null) Nil else Option(t.getMessage).toList ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("graft_adc")), s"got: ${messages(e)}")
  }

  test("PQ sampled training: bounded deterministic Lloyd sample, still k per query with a recall floor") {
    val queries = emb.filter(col("vec_id") < 10)
    def run() = Similarity.pqTopK(emb, queries, "vec_id", "embedding",
        dim = 64, k = 5, m = 16, ksub = 32, trainSample = 256)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = run()
    assert(run() === got, "sampled training must stay deterministic")
    val brute = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.size === brute.size, "still k rows per query")
    val recall = (brute & got).size.toDouble / brute.size
    // structural floor only: the fixture vectors are near-random and the
    // codebook saw half the corpus — real clustered embeddings do better
    assert(recall >= 0.25, s"sampled-training PQ recall too low: $recall")
  }

  test("multimodal: synthetic media, fallback feature extraction, frame sampling, resize") {
    val media = Multimodal.syntheticMedia(docs.limit(30), "doc_id", "text").cache()
    assert(media.schema.fieldNames.toSeq ===
      Seq("media_id", "media_type", "content", "width", "height", "duration_ms"))
    val feats = Multimodal.extractFeatures(media, batchSize = 8)
    val rows = feats.collect()
    assert(rows.length === 30)
    rows.foreach { r =>
      val f = r.getAs[scala.collection.Seq[Float]]("features")
      assert(f.length === Multimodal.FeatureDim)
      f.foreach(v => assert(v >= 0.0f && v <= 1.0f))
      // synthetic payloads are UTF-8 text, not decodable images
      assert(r.isNullAt(r.fieldIndex("decoded_width")))
    }
    // deterministic: same input -> same features
    val again = Multimodal.extractFeatures(media, batchSize = 8).collect()
    assert(rows.map(_.toString).sorted.toSeq === again.map(_.toString).sorted.toSeq)
    val frames = Multimodal.frameSample(media, everyMs = 500)
    assert(frames.count() > 0)
    val resized = Multimodal.resizePlan(media, 64)
    resized.collect().foreach { r =>
      assert(math.max(r.getAs[Int]("out_width"), r.getAs[Int]("out_height")) <= 64)
    }
  }

  test("multimodal: real PNG bytes decode via javax.imageio to true dims + grid luminance") {
    // 8×6 PNG, left half black / right half white, generated in-test
    val img = new java.awt.image.BufferedImage(8, 6, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 6; x <- 0 until 8)
      img.setRGB(x, y, if (x < 4) 0x000000 else 0xFFFFFF)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val png = baos.toByteArray
    val rows = Seq(
      // envelope metadata deliberately lies (width=999): pixels must win
      org.apache.spark.sql.Row(1L, "image", png, 999, 999, null),
      org.apache.spark.sql.Row(2L, "image", "definitely not an image".getBytes("UTF-8"),
        null, null, null))
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), Multimodal.MediaSchema)
    val out = Multimodal.extractFeatures(media, batchSize = 2)
      .orderBy("media_id").collect()

    val decoded = out(0)
    assert(decoded.getAs[Int]("decoded_width") === 8)
    assert(decoded.getAs[Int]("decoded_height") === 6)
    val f = decoded.getAs[scala.collection.Seq[Float]]("features")
    assert(f.length === Multimodal.FeatureDim)
    // row-major 4×4 grid: columns 0-1 cover the black half, 2-3 the white
    for (gy <- 0 until 4) {
      assert(f(gy * 4 + 0) < 0.05f && f(gy * 4 + 1) < 0.05f,
        s"left cells must be dark: ${f.toList}")
      assert(f(gy * 4 + 2) > 0.95f && f(gy * 4 + 3) > 0.95f,
        s"right cells must be bright: ${f.toList}")
    }

    // undecodable bytes: null dims, deterministic byte-stride fallback
    val fallback = out(1)
    assert(fallback.isNullAt(fallback.fieldIndex("decoded_width")))
    assert(fallback.getAs[scala.collection.Seq[Float]]("features").length === Multimodal.FeatureDim)
  }

  test("multimodal: real JPEG bytes decode via javax.imageio — no fallback; GIF/BMP decode too") {
    // 32×24 (left half black / right half white): big enough that JPEG's
    // lossy 8×8 blocks leave the halves clearly separated after decode
    val img = new java.awt.image.BufferedImage(32, 24, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 24; x <- 0 until 32)
      img.setRGB(x, y, if (x < 16) 0x000000 else 0xFFFFFF)
    def encodeAs(fmt: String): Array[Byte] = {
      val baos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, baos), s"JDK must encode $fmt")
      baos.toByteArray
    }
    val jpeg = encodeAs("jpg")
    // the fixture really is a JPEG (FF D8 FF) — the sniff path under test
    assert((jpeg(0) & 0xFF) === 0xFF && (jpeg(1) & 0xFF) === 0xD8 && (jpeg(2) & 0xFF) === 0xFF)
    val rows = Seq(
      org.apache.spark.sql.Row(1L, "image", jpeg, null, null, null),
      org.apache.spark.sql.Row(2L, "image", encodeAs("gif"), null, null, null),
      org.apache.spark.sql.Row(3L, "image", encodeAs("bmp"), null, null, null))
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), Multimodal.MediaSchema)
    val out = Multimodal.extractFeatures(media, batchSize = 2)
      .orderBy("media_id").collect()
    // every format decodes for real: true pixel dims, never the fallback's
    // null dims
    out.foreach { r =>
      assert(r.getAs[Int]("decoded_width") === 32, s"row ${r.getLong(0)}")
      assert(r.getAs[Int]("decoded_height") === 24, s"row ${r.getLong(0)}")
    }
    // JPEG is lossy — luminance thresholds looser than the PNG spec's
    val f = out(0).getAs[scala.collection.Seq[Float]]("features")
    for (gy <- 0 until 4) {
      assert(f(gy * 4 + 0) < 0.2f && f(gy * 4 + 1) < 0.2f,
        s"left cells must stay dark after JPEG roundtrip: ${f.toList}")
      assert(f(gy * 4 + 2) > 0.8f && f(gy * 4 + 3) > 0.8f,
        s"right cells must stay bright after JPEG roundtrip: ${f.toList}")
    }
  }

  test("multimodal: animated GIF decodes to one row per REAL frame; stills one row; garbage zero rows") {
    // 3-frame 10×8 animated GIF built with ImageIO's sequence writer:
    // frame i is a flat gray level i/2 (0, 0.5, ~1) so per-frame features
    // identify which frame was decoded
    def flat(level: Int): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(10, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val rgb = (level << 16) | (level << 8) | level
      for (y <- 0 until 8; x <- 0 until 10) img.setRGB(x, y, rgb)
      img
    }
    val baos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(baos)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    Seq(0, 128, 255).foreach { lvl =>
      writer.writeToSequence(
        new javax.imageio.IIOImage(flat(lvl), null, null), writer.getDefaultWriteParam)
    }
    writer.endWriteSequence()
    writer.dispose()
    ios.close()
    val gif = baos.toByteArray
    assert(gif(0) === 'G'.toByte && gif(1) === 'I'.toByte && gif(2) === 'F'.toByte)

    val pngBaos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(flat(255), "png", pngBaos)
    val rows = Seq(
      org.apache.spark.sql.Row(1L, "video", gif, null, null, 300L),
      org.apache.spark.sql.Row(2L, "image", pngBaos.toByteArray, null, null, null),
      org.apache.spark.sql.Row(3L, "video", "not media at all".getBytes("UTF-8"),
        null, null, 10L))
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), Multimodal.MediaSchema)
    val out = Multimodal.decodeFrames(media).orderBy("media_id", "frame_idx").collect()

    // 3 real GIF frames + 1 PNG still; the garbage row contributes nothing
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 1L, 1L, 2L))
    assert(out.filter(_.getLong(0) == 1L).map(_.getInt(1)).toSeq === Seq(0, 1, 2))
    out.foreach { r =>
      assert(r.getInt(2) === 10 && r.getInt(3) === 8, s"true frame dims: $r")
    }
    // frame identity via luminance: dark, mid, bright
    val lum = out.take(3).map(_.getAs[scala.collection.Seq[Float]]("features").head)
    assert(lum(0) < 0.1f && lum(1) > 0.3f && lum(1) < 0.7f && lum(2) > 0.9f,
      s"per-frame luminance must track the frame painted: ${lum.toList}")
    // maxFrames caps a runaway animation
    assert(Multimodal.decodeFrames(media, maxFrames = 2)
      .filter(col("media_id") === 1L).count() === 2)
  }

  test("multimodal: MJPEG AVI decodes one row per real video frame; WAV/garbage zero; features pick first frame") {
    // hand-built MJPEG AVI: RIFF('AVI ' LIST('movi' '00dc' <jpeg>...)) —
    // the minimal container the RIFF walk must handle, including the
    // word-alignment padding of odd-sized chunks
    def flat(level: Int, w: Int = 16, h: Int = 12): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val rgb = (level << 16) | (level << 8) | level
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
      val b = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", b)
      b.toByteArray
    }
    def chunk(id: String, payload: Array[Byte]): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(8 + payload.length + (payload.length & 1))
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put(id.getBytes("US-ASCII")).putInt(payload.length).put(payload)
      b.array() // trailing pad byte (if any) stays zero
    }
    def list(listType: String, children: Array[Byte]): Array[Byte] =
      chunk("LIST", listType.getBytes("US-ASCII") ++ children)
    def riffAvi(children: Array[Byte]): Array[Byte] =
      chunk("RIFF", "AVI ".getBytes("US-ASCII") ++ children)

    val levels = Seq(20, 120, 230)
    val frames = levels.map(flat(_))
    val avi = riffAvi(list("movi", frames.flatMap(chunk("00dc", _)).toArray))
    assert(Multimodal.looksLikeAvi(avi))

    // WAV fixture: RIFF but not AVI — must not enter the frame walk
    val pcm = java.nio.ByteBuffer.allocate(3200).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (0 until 1600).foreach(_ => pcm.putShort(1000))
    val wavBaos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm.array()),
        new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false), 1600L),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, wavBaos)

    val rows = Seq(
      org.apache.spark.sql.Row(1L, "video", avi, null, null, 100L),
      org.apache.spark.sql.Row(2L, "audio", wavBaos.toByteArray, null, null, 200L),
      org.apache.spark.sql.Row(3L, "video", "definitely not media".getBytes("UTF-8"),
        null, null, 10L))
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), Multimodal.MediaSchema)

    val out = Multimodal.decodeFrames(media).orderBy("media_id", "frame_idx").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 1L, 1L), "only the AVI contributes frames")
    assert(out.map(_.getInt(1)).toSeq === Seq(0, 1, 2))
    out.foreach(r => assert(r.getInt(2) === 16 && r.getInt(3) === 12, s"true frame dims: $r"))
    // each frame's mean luminance tracks its gray level (JPEG is lossy)
    out.zip(levels).foreach { case (r, lvl) =>
      val f = r.getAs[scala.collection.Seq[Float]](4)
      val mean = f.sum / f.length
      assert(math.abs(mean - lvl / 255.0) < 0.05, s"frame level $lvl decoded mean $mean")
    }
    // maxFrames caps the walk
    assert(Multimodal.decodeFrames(media, maxFrames = 2).count() === 2L)

    // extractFeatures routes the AVI through its FIRST decoded frame:
    // real decoded dims, first-frame luminance — not the byte-stride fallback
    val feat = Multimodal.extractFeatures(media).orderBy("media_id").collect()
    val v = feat(0)
    assert(v.getInt(2) === 16 && v.getInt(3) === 12)
    val vf = v.getAs[scala.collection.Seq[Float]](4)
    assert(math.abs(vf.sum / vf.length - levels.head / 255.0) < 0.05)
  }

  test("multimodal: real WAV bytes decode via javax.sound.sampled to RMS envelope") {
    // 16-bit PCM mono WAV built in-test: 1600 samples at 8 kHz — first
    // half silence, second half constant half-scale amplitude
    val nSamples = 1600
    val dataSize = nSamples * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1)            // PCM, mono
      .putInt(8000).putInt(16000)          // sample rate, byte rate
      .putShort(2).putShort(16)            // block align, bits
      .put("data".getBytes("US-ASCII")).putInt(dataSize)
    for (i <- 0 until nSamples)
      bb.putShort(if (i < nSamples / 2) 0 else 16384) // 0.5 full scale
    val wav = bb.array()

    val rows = Seq(
      org.apache.spark.sql.Row(1L, "audio", wav, null, null, 200L),
      org.apache.spark.sql.Row(2L, "audio", "not riff data here".getBytes("UTF-8"),
        null, null, 10L))
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), Multimodal.MediaSchema)
    val out = Multimodal.extractFeatures(media, batchSize = 2)
      .orderBy("media_id").collect()

    val decoded = out(0)
    assert(decoded.isNullAt(decoded.fieldIndex("decoded_width"))) // audio has no dims
    val f = decoded.getAs[scala.collection.Seq[Float]]("features")
    assert(f.length === Multimodal.FeatureDim)
    // 16 segments of 100 samples: 0-7 silent, 8-15 at RMS 0.5
    for (s <- 0 until 8)
      assert(f(s) < 0.001f, s"silent segment $s must be ~0: ${f.toList}")
    for (s <- 8 until 16)
      assert(math.abs(f(s) - 0.5f) < 0.01f, s"loud segment $s must be ~0.5: ${f.toList}")
    // determinism across re-runs
    val again = Multimodal.extractFeatures(media, batchSize = 2)
      .orderBy("media_id").collect()
    assert(out.map(_.toString).toSeq === again.map(_.toString).toSeq)
    // non-RIFF audio bytes keep the byte-stride fallback path
    assert(out(1).getAs[scala.collection.Seq[Float]]("features").length === Multimodal.FeatureDim)
  }

  test("multimodal: u-law WAV transcodes through AudioSystem to the same RMS envelope") {
    import javax.sound.sampled._
    // same silence-then-half-scale signal as the PCM spec, but encoded
    // u-law (the telephony compression real crawled audio carries)
    val nSamples = 1600
    val pcm = java.nio.ByteBuffer.allocate(nSamples * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    for (i <- 0 until nSamples)
      pcm.putShort(if (i < nSamples / 2) 0 else 16384)
    val pcmFmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED, 8000f, 16, 1, 2, 8000f, false)
    val src = new AudioInputStream(
      new java.io.ByteArrayInputStream(pcm.array()), pcmFmt, nSamples.toLong)
    val ulawFmt = new AudioFormat(AudioFormat.Encoding.ULAW, 8000f, 8, 1, 1, 8000f, false)
    assert(AudioSystem.isConversionSupported(ulawFmt, pcmFmt), "JDK must encode u-law")
    val baos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(AudioSystem.getAudioInputStream(ulawFmt, src),
      AudioFileFormat.Type.WAVE, baos)
    val ulawWav = baos.toByteArray
    assert(Multimodal.looksLikeWav(ulawWav), "fixture must still be a RIFF/WAVE container")

    val f = Multimodal.tryDecodeAudio(ulawWav)
      .getOrElse(fail("u-law WAV must decode through the transcoding path, not fall back"))
    assert(f.length === Multimodal.FeatureDim)
    // u-law is lossy (~2% amplitude error at half scale) — looser bounds
    for (s <- 0 until 8)
      assert(f(s) < 0.01f, s"silent segment $s must stay ~0: ${f.toList}")
    for (s <- 8 until 16)
      assert(math.abs(f(s) - 0.5f) < 0.05f, s"loud segment $s must be ~0.5: ${f.toList}")
  }

  test("PII redaction: every pattern family tagged, clean text untouched") {
    import spark.implicits._
    val rows = Seq(
      (1L, "mail bob.smith+spam@sub.example.co.uk now phone 555-867-5309 ssn 123-45-6789 ip 10.0.255.1 end"),
      (2L, "plain text with no pii at all")).toDF("id", "text")
    val out = rows.withColumn("clean", TextAnalysis.redact(col("text")))
      .orderBy("id").collect()
    val dirty = out(0).getString(2)
    assert(dirty === "mail <EMAIL> now phone <PHONE> ssn <SSN> ip <IP> end", dirty)
    // no-PII text must pass through byte-identical
    assert(out(1).getString(2) === out(1).getString(1))
  }

  test("decontamination: shared n-token span flags the train doc; disjoint text does not") {
    import spark.implicits._
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val train = Seq(
      // contains the 5-token span "quick brown fox jumps over" → flagged
      (1L, "intro words then quick brown fox jumps over and outro"),
      // shares words but no 5-gram → clean
      (2L, "fox dog quick lazy brown the over jumps"),
      (3L, "completely unrelated content here")).toDF("doc_id", "text")
    val got = Pipeline.contaminatedDocs(train, bench, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet === Set(1L), s"flagged: $got")
    assert(got(1L) === 1L) // exactly the one shared 5-gram
  }

  test("kmeans cells: total assignment, deterministic, Lloyd iterations reduce inertia") {
    val n = emb.count()
    def assignments(iters: Int): Map[Long, Long] =
      Similarity.kmeansCells(emb, "vec_id", "embedding", nlist = 8, iters = iters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val a0 = assignments(0)
    val a3 = assignments(3)
    // every vector assigned exactly once, cells in range
    assert(a3.size === n)
    assert(a3.values.forall(c => c >= 0 && c < 8))
    // deterministic: identical run → identical assignment
    assert(assignments(3) === a3)

    // k-means objective with per-assignment optimal centroids is monotone
    // non-increasing under Lloyd steps
    val vecs = emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def inertia(assign: Map[Long, Long]): Double =
      assign.groupBy(_._2).values.map { members =>
        val vs = members.keys.map(vecs).toSeq
        val dim = vs.head.length
        val cent = Array.tabulate(dim)(d => vs.map(_(d)).sum / vs.size)
        vs.map(v => v.zip(cent).map { case (a, b) => (a - b) * (a - b) }.sum).sum
      }.sum
    val j0 = inertia(a0)
    val j3 = inertia(a3)
    assert(j3 <= j0 + 1e-9, s"Lloyd increased inertia: $j0 -> $j3")
    assert(j3 < j0, s"3 Lloyd rounds should strictly improve on seed assignment: $j0 -> $j3")
  }

  test("mixture sampling: deterministic, rate-honoring, 100% keeps everything") {
    val sampled = Pipeline.weightedSample(docs, col("doc_id"), col("lang"),
      Map("en" -> 100, "zh" -> 0), defaultPct = 50)
    val counts = sampled.groupBy(col("lang")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = docs.groupBy(col("lang")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // 100% keeps every row; 0% keeps none; default applies to the rest
    assert(counts("en") === totals("en"))
    assert(!counts.contains("zh"))
    val restKept = counts.filterKeys(l => l != "en" && l != "zh").values.sum.toDouble
    val restTotal = totals.filterKeys(l => l != "en" && l != "zh").values.sum.toDouble
    assert(restKept / restTotal > 0.3 && restKept / restTotal < 0.7,
      s"default 50% rate off: $restKept/$restTotal")
    // deterministic: the same call yields the same id set
    val ids1 = sampled.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val ids2 = Pipeline.weightedSample(docs, col("doc_id"), col("lang"),
      Map("en" -> 100, "zh" -> 0), defaultPct = 50)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(ids1 === ids2)
  }

  test("salted join: hot key spreads across reducers; plan keeps the shuffled hash join") {
    // 95% of the left rows share key 1 — the single-reducer hotspot shape.
    val n = 20000L
    val nSalts = 8
    val left = spark.range(n).select(
      when(col("id") % 20 =!= 0, lit(1L)).otherwise(col("id")).as("k"),
      col("id").as("row_id"))
    val right = spark.range(50).select(col("id").as("k"), (col("id") * 10).as("v"))

    val salted = Relational.saltedEquiJoin(left, right, "k", col("row_id"), nSalts)
    // result identical to the plain join (oracle q_skew_join_salted proves
    // this on real tables; here just the count on the synthetic fixture)
    assert(salted.count() === left.join(right, Seq("k")).count())

    // (a) the executed plan joins on (k, __salt) via shuffled hash join —
    // Catalyst must not have re-planned the replicated side as a broadcast,
    // which would silently rebuild the hotspot
    val plan = salted.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"), s"expected shuffled hash join:\n$plan")
    assert(plan.contains("__salt"), s"salt column missing from plan:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"), s"replicated side got broadcast:\n$plan")

    // (b) reducer load: HashPartitioning places a row in reducer
    // pmod(murmur3(keys), P) — exactly pmod(hash(...), P) — so the max
    // rows-per-reducer of the join shuffle is directly measurable.
    def maxReducerLoad(df: org.apache.spark.sql.DataFrame, keys: Seq[org.apache.spark.sql.Column]): Long =
      df.groupBy(pmod(hash(keys: _*), lit(32)).as("part")).count()
        .agg(max("count")).head().getLong(0)
    val saltedLeft = left.withColumn("__salt",
      pmod(xxhash64(col("row_id")), lit(nSalts.toLong)).cast("int"))
    val loadPlain = maxReducerLoad(left, Seq(col("k")))
    val loadSalted = maxReducerLoad(saltedLeft, Seq(col("k"), col("__salt")))
    // hot key holds ~19000 rows: unsalted all on one reducer; salted splits
    // it over nSalts sub-keys. Sub-keys themselves hash into the 32 reducers,
    // so a bucket can receive 2-3 colliding sub-keys — assert a 3× headroom
    // over the ideal 1/nSalts split rather than the collision-free bound.
    assert(loadPlain >= n * 9 / 10, s"fixture not skewed enough: $loadPlain")
    assert(loadSalted <= loadPlain * 3 / nSalts,
      s"salting did not spread the hot key: $loadSalted vs $loadPlain")
  }

  test("banded range join: identical to the theta join, no nested-loop in the plan") {
    import spark.implicits._
    val facts = Tables.events(spark, sf).select(col("event_id"), col("value"))
    val ranges = Seq(
      (0L, 0.0, 25.0), (1L, 10.0, 60.0), (2L, 55.0, 55.5),   // overlapping + narrow
      (3L, 100.0, 400.0), (4L, -50.0, 5.0))                  // wide + negative lo
      .toDF("range_id", "lo", "hi")
    val banded = Relational.bandedRangeJoin(facts, ranges,
      col("value"), col("lo"), col("hi"), bandWidth = 10.0)
    val naive = facts.join(ranges, col("value") >= col("lo") && col("value") < col("hi"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select(col("event_id"), col("range_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(banded) === pairs(naive))
    // the scale claim: an equi-join on the band, never a nested loop /
    // cartesian, and the hint must keep it off the broadcast path
    val plan = banded.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"banded join fell back to a nested loop:\n$plan")
    assert(plan.contains("ShuffledHashJoin"), s"expected shuffled hash join on band:\n$plan")
  }

  test("substring-span dedup: shared k-token run flags the later doc; span count exact") {
    import spark.implicits._
    val span = "one two three four five six seven eight" // exactly 8 tokens
    val d = Seq(
      (1L, s"header a b $span trailer c"),
      (2L, s"different prefix then $span and more words after"), // shares the 8-run with 1
      (3L, "totally disjoint content with no overlap at all whatsoever here"),
      (4L, s"header a b $span trailer c")) // exact copy of 1 → every span shared
      .toDF("doc_id", "text")
    val got = Dedup.exactSubstringDups(d, "doc_id", "text", k = 8)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got.keySet === Set(2L, 4L), s"flagged: $got")
    assert(got(2L) === ((1L, 1L)), s"doc 2 shares exactly the one 8-gram with doc 1: $got")
    // doc 4 is a verbatim copy of doc 1: 13 tokens → 6 distinct 8-grams
    assert(got(4L) === ((6L, 1L)), s"exact copy must share all its spans: $got")
    // corpus invariant: every later exact-duplicate (same md5 fingerprint,
    // >= k tokens) must be flagged by the span pass too
    val fpDups = docs
      .select(col("doc_id"), TextAnalysis.md5Fingerprint(col("text")).as("fp"),
        size(TextAnalysis.wsTokens(col("text"))).as("n"))
      .withColumn("first", min(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))))
      .filter(col("doc_id") > col("first") && col("n") >= 8)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val flagged = Dedup.exactSubstringDups(docs, "doc_id", "text", k = 8)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(fpDups.subsetOf(flagged),
      s"exact dups missed by span dedup: ${fpDups -- flagged}")
  }

  test("gopher rules: metrics bounded, verdict consistent with its components") {
    val out = TextAnalysis.gopherRules(docs, col("text"),
        minWords = 50, maxWords = 100000, minMeanLen = 3.0, maxMeanLen = 10.0,
        minAlphaFrac = 0.8, minStopHits = 1)
      .select(col("n_words"), col("mean_word_len"), col("alpha_frac"),
        col("n_stop"), col("pass"))
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (n, mean, alpha, stops, pass) =
        (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getLong(3), r.getBoolean(4))
      assert(n > 0 && alpha >= 0.0 && alpha <= 1.0 && stops >= 0 && stops <= 5)
      val expect = n >= 50 && n <= 100000 && mean >= 3.0 && mean <= 10.0 &&
        alpha >= 0.8 && stops >= 1
      assert(pass === expect, s"verdict mismatch at ($n, $mean, $alpha, $stops)")
    }
    // the fixture corpus must exercise both outcomes or the oracle is vacuous
    assert(out.exists(_.getBoolean(4)) && out.exists(!_.getBoolean(4)),
      "gopher thresholds do not split the fixture corpus")
  }

  test("chunking: full token coverage, stride spacing, bounded sizes, empty docs drop") {
    import spark.implicits._
    val d = Seq(
      (0L, ""),                                    // split("") = [""]: 1 empty token
      (1L, "a"),                                   // single token
      (2L, (1 to 64).map("t" + _).mkString(" ")),  // exactly one window
      (3L, (1 to 65).map("t" + _).mkString(" ")),  // one token past the window
      (4L, (1 to 200).map("t" + _).mkString(" "))) // many chunks
      .toDF("doc_id", "text")
    val got = Pipeline.chunkTokens(d, col("doc_id"), col("text"), window = 64, stride = 48)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getSeq[String](3)))
    val byDoc = got.groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    // chunk count = ceil(n / stride); every doc with >= 1 token emits
    def expectChunks(n: Int) = (n + 47) / 48
    assert(byDoc(0L).size === 1, "empty text is one whitespace token (wsTokens semantics)")
    assert(byDoc(1L).size === 1 && byDoc(2L).size === expectChunks(64) &&
      byDoc(3L).size === expectChunks(65) && byDoc(4L).size === expectChunks(200))
    byDoc.values.flatten.foreach { case (_, idx, nTok, chunk) =>
      assert(nTok === chunk.size && nTok >= 1 && nTok <= 64, s"bad chunk size $nTok")
      assert(idx >= 0)
    }
    // coverage: concatenating each doc's chunks at stride offsets rebuilds
    // exactly the token sequence (overlap regions must agree)
    val toks4 = (1 to 200).map("t" + _)
    val rebuilt = Array.fill[String](200)(null)
    byDoc(4L).foreach { case (_, idx, _, chunk) =>
      chunk.zipWithIndex.foreach { case (t, i) =>
        val p = idx.toInt * 48 + i
        assert(rebuilt(p) == null || rebuilt(p) == t)
        rebuilt(p) = t
      }
    }
    assert(rebuilt.toSeq === toks4, "chunks do not cover/rebuild the document")
  }

  test("importance scores: target-like docs rank higher; hashed buckets preserve scores") {
    import spark.implicits._
    val target = Seq(
      (100L, "alpha beta gamma delta alpha beta"),
      (101L, "alpha beta epsilon zeta alpha beta")).toDF("doc_id", "text")
    val raw = Seq(
      (1L, "alpha beta gamma delta"),  // shares target bigrams
      (2L, "alpha beta alpha beta"),   // heavy on the top target bigram
      (3L, "xray yankee zulu quebec"), // disjoint from the target
      (4L, "m"))                       // one token: no bigram, must drop
      .toDF("doc_id", "text")
    val exact = Pipeline.importanceScores(raw, target, "doc_id", "text", n = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(exact.keySet === Set(1L, 2L, 3L), s"sub-n-token doc not dropped: $exact")
    assert(exact(1L)._1 === 3L, s"bigram occurrence count wrong: $exact") // 4 tokens → 3 bigrams
    // docs sharing target grams must outrank the disjoint doc
    assert(exact(1L)._2 > exact(3L)._2 && exact(2L)._2 > exact(3L)._2, s"$exact")
    // disjoint doc: every weight is ln(0+1) − ln(rc+1) < 0
    assert(exact(3L)._2 < 0, s"$exact")

    // hashBuckets is the scale path: per-doc gram counts are invariant under
    // bucketing, and with 2^30 buckets over a handful of grams there are no
    // collisions, so scores are bit-stable vs the exact form (deterministic
    // xxhash64 — this cannot flake)
    val hashed = Pipeline.importanceScores(raw, target, "doc_id", "text", n = 2,
        hashBuckets = Some(1 << 30))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(hashed.keySet === exact.keySet)
    exact.foreach { case (id, (ng, sc)) =>
      assert(hashed(id)._1 === ng, s"bucketing changed gram count for doc $id")
      assert(math.abs(hashed(id)._2 - sc) < 1e-9, s"collision-free bucketing changed score: $id")
    }

    // empty target: every weight is −ln(rc+alpha) — scores all negative,
    // and the operator must not blow up on a zero-row side
    val noTarget = Pipeline.importanceScores(raw, target.filter(col("doc_id") < 0),
        "doc_id", "text", n = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(noTarget.keySet === Set(1L, 2L, 3L))
    assert(noTarget.values.forall(_ < 0), s"empty target must give negative scores: $noTarget")

    // on the real corpus: a lossy bucket count must still preserve ranking
    // (rank correlation vs exact) — the paper's hashed-ngram regime
    val rawC = docs.filter(pmod(col("doc_id"), lit(20)) =!= 0)
    val tgtC = docs.filter(pmod(col("doc_id"), lit(20)) === 0)
    def scores(b: Option[Int]) =
      Pipeline.importanceScores(rawC, tgtC, "doc_id", "text", n = 2, hashBuckets = b)
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val e = scores(None)
    val h = scores(Some(1 << 20))
    assert(h.keySet === e.keySet)
    def ranks(m: Map[Long, Double]): Map[Long, Int] =
      m.toSeq.sortBy { case (id, s) => (-s, id) }.zipWithIndex
        .map { case ((id, _), r) => id -> r }.toMap
    val (re, rh) = (ranks(e), ranks(h))
    val n = e.size.toDouble
    val d2 = e.keys.map(id => { val d = re(id) - rh(id); d.toDouble * d }).sum
    val spearman = 1.0 - 6.0 * d2 / (n * (n * n - 1.0))
    assert(spearman >= 0.95, s"hashed-bucket ranking diverged: spearman=$spearman")

    // the scale claim, asserted: in the hashed form the bounded weight
    // table is broadcast — the corpus side never shuffles on the gram
    val hashedDf = Pipeline.importanceScores(rawC, tgtC, "doc_id", "text", n = 2,
      hashBuckets = Some(1 << 20))
    hashedDf.collect()
    val plan = hashedDf.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"hashed weight table not broadcast:\n$plan")
  }

  test("select top by score: quantile threshold keeps the right fraction; boundary ties stay") {
    import spark.implicits._
    val df = (1 to 100).map(i => (i.toLong, i.toDouble)).toDF("id", "score")
    val kept = Pipeline.selectTopByScore(df, col("score"), keepFrac = 0.25)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    // 75th percentile of 1..100 interpolates to 75.25 → exactly 76..100 stay
    assert(kept === (76L to 100L).toSet, s"kept: $kept")
    // keepFrac = 1: threshold is the minimum — nothing is dropped
    assert(Pipeline.selectTopByScore(df, col("score"), keepFrac = 1.0).count() === 100)
    // an all-tied score column: every row sits AT the threshold and is kept
    val flat = (1 to 10).map(i => (i.toLong, 5.0)).toDF("id", "score")
    assert(Pipeline.selectTopByScore(flat, col("score"), keepFrac = 0.25).count() === 10)
  }

  test("rolling anomalies: spike flagged after warmup, steady series never flags") {
    import spark.implicits._
    // key A: 20 steady readings then one spike; key B: perfectly steady
    val rows =
      (1 to 20).map(i => ("a", i.toLong * 60, 10.0 + (i % 2) * 0.2)) ++   // ±0.1-ish wiggle
        Seq(("a", 21L * 60, 500.0)) ++
        (1 to 20).map(i => ("b", i.toLong * 60, 7.0 + (i % 3) * 0.1))
    val df = rows.toDF("k", "ts", "v")
    val got = Timeseries.rollingAnomalies(df, col("k"), col("ts"), col("v"),
        windowSeconds = 3600, z = 3.0, minN = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(6)))
    val aFlags = got.filter(_._1 == "a").filter(_._3).map(_._2)
    assert(aFlags === Array(21L * 60), s"only the spike should flag: ${aFlags.toSeq}")
    assert(!got.filter(_._1 == "b").exists(_._3), "steady series must never flag")
    // warmup: rows before minN observations never flag even when deviant
    val early = Timeseries.rollingAnomalies(
        Seq(("c", 60L, 1.0), ("c", 120L, 100.0)).toDF("k", "ts", "v"),
        col("k"), col("ts"), col("v"), windowSeconds = 3600, z = 1.0, minN = 10)
      .collect()
    assert(!early.exists(_.getBoolean(6)), "sub-minN frames must not flag")
  }

  test("change intervals: runs tile each key's span, null runs merge, equal-ts ties break on the tiebreak") {
    import spark.implicits._
    val rows = Seq(
      // key a: x x y x — three runs; equal ts at the y→x boundary, the
      // tiebreak id orders y (id 3) before x (id 4)
      ("a", 10L, 1L, "x"), ("a", 20L, 2L, "x"), ("a", 30L, 3L, "y"), ("a", 30L, 4L, "x"),
      // key b: null null z — the two nulls are ONE run (null-safe change flag)
      ("b", 10L, 5L, null), ("b", 20L, 6L, null), ("b", 30L, 7L, "z"))
    val df = rows.toDF("k", "ts", "id", "v")
    val got = Timeseries.changeIntervals(df, col("k"), col("ts"), col("id"), col("v"))
      .collect()
      .map(r => (r.getString(0), Option(r.getString(1)).getOrElse("∅"), r.getLong(2),
        if (r.isNullAt(4)) -1L else r.getLong(4), r.getLong(3)))
      .sortBy(t => (t._1, t._3))
    assert(got === Array(
      ("a", "x", 10L, 30L, 2L), ("a", "y", 30L, 30L, 1L), ("a", "x", 30L, -1L, 1L),
      ("b", "∅", 10L, 30L, 2L), ("b", "z", 30L, -1L, 1L)))
    // intervals tile: every run's valid_to equals the next run's valid_from,
    // exactly one open run per key, and n_events sums to the input size
    got.groupBy(_._1).foreach { case (k, rs) =>
      assert(rs.count(_._4 == -1L) === 1, s"$k: exactly one open run")
      rs.sliding(2).foreach {
        case Array(prev, next) => assert(prev._4 === next._3, s"$k: gap between runs")
        case _ =>
      }
    }
    assert(got.map(_._5).sum === rows.length)
  }

  test("profiler: exact vs approx agree within 5%, nulls counted, approx plans without Expand") {
    import spark.implicits._
    val fx = Seq((1L, Some("a")), (2L, Some("a")), (3L, None), (4L, Some("b")))
      .toDF("id", "s")
    val p = Profile.profile(fx, Seq("id", "s")).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(p("id").getLong(2) === 0L && p("id").getLong(3) === 4L)
    assert(p("id").getDouble(4) === 1.0 && p("id").getDouble(5) === 4.0)
    assert(p("s").getLong(2) === 1L, "one null in s")
    assert(p("s").getLong(3) === 2L, "nulls don't count as a distinct value")
    assert(p("s").isNullAt(4) && p("s").isNullAt(5), "no numeric min/max for strings")
    // corpus-scale agreement + plan shape
    val cols = Seq("doc_id", "n_chars", "lang", "source", "text")
    val exact = Profile.profile(docs, cols, exact = true).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    val approxDf = Profile.profile(docs, cols, exact = false)
    approxDf.collect().foreach { r =>
      val (e, a) = (exact(r.getString(0)), r.getLong(3))
      assert(math.abs(a - e) <= math.max(2L, (0.05 * e).toLong),
        s"${r.getString(0)}: approx distinct $a too far from exact $e")
    }
    def planOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString
    assert(planOf(Profile.profile(docs, cols, exact = true)).contains("Expand"),
      "exact multi-countDistinct is the documented Expand shape")
    assert(!planOf(approxDf).contains("Expand"),
      "approx profiler must be a single pass with no Expand row multiplication")
  }

  test("approx equi-depth histogram: buckets partition all rows and stay balanced") {
    val dir = TestSpark.sf0001
    val total = graft.core.Tables.lineitem(spark, dir).count()
    val rows = SparkEntry.queries("q_histogram_equidepth_scale")(spark, dir).collect()
    assert(rows.map(_.getLong(1)).sum === total, "buckets must partition every row")
    assert(rows.length === 8, s"expected 8 buckets, got ${rows.length}")
    val ideal = total / 8.0
    rows.foreach { r =>
      val n = r.getLong(1)
      assert(n > 0.5 * ideal && n < 1.5 * ideal,
        s"bucket ${r.getLong(0)} badly unbalanced: $n vs ideal $ideal")
    }
    // bucket ranges are ordered: each bucket's lo >= the previous bucket's lo
    val los = rows.sortBy(_.getLong(0)).map(_.getDouble(2))
    assert(los.zip(los.tail).forall { case (a, b) => a <= b }, s"bucket lows not monotone: ${los.toSeq}")
  }

  test("chunk dedup: kept <= total per doc; total kept = distinct chunk contents") {
    val out = SparkEntry.queries("dedup_chunks")(spark, sf).cache()
    try {
      assert(out.filter(col("n_kept") > col("n_chunks")).count() === 0)
      val totalKept = out.agg(sum(col("n_kept"))).head().getLong(0)
      val distinctHashes = Pipeline.chunkTokens(docs, col("doc_id"), col("text"), 64, 48)
        .select(col("chunk_hash")).distinct().count()
      assert(totalKept === distinctHashes,
        s"every distinct chunk must have exactly one keeper: $totalKept vs $distinctHashes")
      val totalChunks = out.agg(sum(col("n_chunks"))).head().getLong(0)
      assert(totalChunks >= totalKept && totalKept > 0)
    } finally out.unpersist()
  }

  test("pipeline e2e: every stage shrinks the corpus; census matches the final stage") {
    val docsAll = Tables.documents(spark, sf)
    val train = docsAll.filter(pmod(col("doc_id"), lit(50)) =!= 0)
    val bench = docsAll.filter(pmod(col("doc_id"), lit(50)) === 0)
    val quality = TextAnalysis.gopherRules(train, col("text"),
        minWords = 50, maxWords = 100000, minMeanLen = 3.0, maxMeanLen = 10.0,
        minAlphaFrac = 0.8, minStopHits = 1)
      .filter(col("pass")).select(col("doc_id"), col("lang"), col("text"))
    val clean = quality.withColumn("text", TextAnalysis.redact(col("text")))
    val normed = clean.withColumn("text", TextAnalysis.normalizeText(col("text")))
    val keepIds = Dedup.exactByKey(
      normed.select(TextAnalysis.md5Fingerprint(col("text")).as("fp"), col("doc_id")),
      col("fp"), col("doc_id"))
    val deduped = normed.join(keepIds.select(col("doc_id")), Seq("doc_id"), "left_semi")
    val decon = deduped.join(
      Pipeline.contaminatedDocs(deduped, bench, "doc_id", "text", n = 5).select(col("doc_id")),
      Seq("doc_id"), "left_anti")
    val fluent = decon.join(
      Pipeline.selectTopByScore(
          Pipeline.bigramLogLikelihood(decon, decon, "doc_id", "text"),
          col("avg_logp"), keepFrac = 0.5)
        .select(col("doc_id")),
      Seq("doc_id"), "left_semi")
    val mixed = Pipeline.weightedSample(fluent, col("doc_id"), col("lang"),
      Map("en" -> 100, "de" -> 50, "fr" -> 50, "es" -> 25, "zh" -> 10))
    val counts = Seq(docsAll.count(), train.count(), quality.count(),
      deduped.count(), decon.count(), fluent.count(), mixed.count())
    assert(counts.zip(counts.tail).forall { case (a, b) => b <= a },
      s"a pipeline stage grew the corpus: $counts")
    assert(counts.last > 0, "pipeline filtered everything out — stages are vacuous")
    // the shipped query's census must cover exactly the final doc stage
    // (chunking multiplies rows but never drops a doc: gopher guarantees
    // >= 50 tokens, so every surviving doc yields >= 1 chunk)
    val census = SparkEntry.queries("pipeline_e2e")(spark, sf)
    assert(census.agg(sum(col("n_docs"))).head().getLong(0) === counts.last)
    // chunk-level dedup can only shrink the chunk set, never empty it
    val chunkAgg = census.agg(sum(col("n_chunks")), sum(col("n_chunks_kept"))).head()
    assert(chunkAgg.getLong(1) <= chunkAgg.getLong(0) && chunkAgg.getLong(1) > 0)
  }

  test("scale-posture plan assertions: the top-cost queries never cartesian, never sort a single partition, broadcast what they claim") {
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    import org.apache.spark.sql.execution.{SortExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.CartesianProductExec

    // AQE wraps the tree in AdaptiveSparkPlanExec (opaque to collect), so
    // the shape assertions run on the statically-planned tree
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      // name -> must the plan contain a broadcast? (the LSH kNN join's whole
      // point is that NOTHING is broadcast — both sides hash-partition on
      // (table, bucket))
      val cases = Seq(
        "similarity_pq_topk" -> true,    // per-query LUT rides a broadcast
        "similarity_ivfpq_topk" -> true, // both codebooks + LUT broadcast
        "text_tfidf" -> true,            // corpus size N as broadcast 1-row agg
        "q_outliers_mad" -> true,        // med/MAD tables broadcast to the census
        "similarity_knn_join" -> true,   // corpus-as-queries broadcast (oracle anchor)
        "q_topk_per_group_agg" -> false, // pure hash agg — no join anywhere
        // k-means codebook broadcasts live INSIDE the materialized cell-
        // assignment (InMemoryRelation — opaque to collect); the OUTER
        // plan's in-cell pair join is a shuffle join on cell, nothing
        // broadcast-sized in it
        "dedup_semantic" -> false,
        "pipeline_e2e" -> true,          // decon eval side + quantile thresholds broadcast
        "similarity_knn_join_lsh" -> false,
        "sample_temperature" -> true,    // |sources|-row rate table broadcast to the probe
        "select_temperature_budget" -> true, // |sources|-row budget table broadcast
        "text_ccnet_buckets" -> true,    // LM vocab V as broadcast 1-row agg
        "select_token_budget" -> false,  // pure per-lang window, no join at all
        "dedup_keep_best" -> false,      // winner agg + equi-join; nothing broadcast-required
        "q_conditional_agg" -> true,     // 25-row nation dim explicitly broadcast
        "decontaminate_semantic" -> true, // eval side broadcast into the NLJ probe
        "select_domain_cap" -> false,    // two keyed windows + census, no join at all
        "q_zorder_cluster" -> false,     // codegen'd z expression + one hash agg
        "q_unpivot" -> false,            // expand (unpivot) + hash agg, no join
        "q_window_dist" -> false,        // keyed windows; output orderBy is a range sort
        "q_scalar_subquery" -> false,    // de-correlated agg + equi-join (broadcast is size-dependent, not asserted)
        "q_shipping_priority" -> true)   // filtered BUILDING customers broadcast to the fact joins
      cases.foreach { case (name, expectBroadcast) =>
        val plan: SparkPlan =
          SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan
        val cartesians = plan.collect { case c: CartesianProductExec => c }
        assert(cartesians.isEmpty,
          s"$name: CartesianProduct in plan — a broadcast side was lost:\n$plan")
        // a Sort whose input is an Exchange to ONE partition is the global-
        // single-partition-sort shape (global window/row_number); none of
        // these queries may have one (their output orderBy is a RANGE
        // partitioned sort, which is fine)
        val singlePartSorts = plan.collect {
          case s: SortExec if (s.child match {
            case e: ShuffleExchangeExec => e.outputPartitioning == SinglePartition
            case _ => false
          }) => s
        }
        assert(singlePartSorts.isEmpty,
          s"$name: sort over a single-partition exchange — global sort crept in:\n$plan")
        val broadcasts = plan.collect { case b: BroadcastExchangeExec => b }
        if (expectBroadcast)
          assert(broadcasts.nonEmpty,
            s"$name: expected a broadcast side, found none — a shuffle join replaced it:\n$plan")
      }
      // top-k queries must plan as TakeOrderedAndProject (per-partition
      // heaps merged on the driver) — a Sort + Limit pair instead means a
      // full global sort materialized before the cut
      Seq("q_sort_limit", "q_shipping_priority").foreach { name =>
        val plan = SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan
        val topk = plan.collect {
          case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t }
        assert(topk.nonEmpty,
          s"$name: top-k must plan as TakeOrderedAndProject, not sort+limit:\n$plan")
      }
      // the argmax-not-window designs must stay window-free: a WindowExec
      // appearing in these plans means a ranking-window formulation crept
      // back in (sorting every member/row where one hash agg suffices)
      Seq("dedup_keep_best", "sample_temperature").foreach { name =>
        val plan = SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan
        val windows = plan.collect {
          case w: org.apache.spark.sql.execution.window.WindowExec => w }
        assert(windows.isEmpty, s"$name: ranking window crept into an agg design:\n$plan")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("perplexity buckets: equal-size deal per key, score-monotone, approx variant agrees") {
    val exact = Pipeline.perplexityBuckets(docs, Seq(col("lang")),
      col("n_chars"), col("doc_id"))
    val rows = exact.select(col("lang"), col("bucket"), col("n_chars"), col("doc_id"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == docs.count())
    assert(rows.forall { case (_, b, _, _) => b >= 1 && b <= 3 })
    rows.groupBy(_._1).foreach { case (lang, rs) =>
      // ntile contract: sizes differ by at most 1 within a key
      val sizes = rs.groupBy(_._2).view.mapValues(_.length).toMap
      assert(sizes.size == 3, s"$lang: expected 3 buckets, got $sizes")
      assert(sizes.values.max - sizes.values.min <= 1, s"$lang: uneven deal $sizes")
      // monotone: everything in bucket i scores >= everything in bucket i+1
      // (ties split across the boundary only via the doc_id tiebreak)
      for (b <- 1 to 2) {
        val hi = rs.filter(_._2 == b).map(_._3).min
        val lo = rs.filter(_._2 == b + 1).map(_._3).max
        assert(hi >= lo, s"$lang: bucket $b min $hi < bucket ${b + 1} max $lo")
      }
    }
    // threshold (no-sort) variant: total, and monotone EXACTLY — the
    // bucket is a function of the score alone, so same score same bucket
    val approx = Pipeline.perplexityBucketsApprox(docs, Seq("lang"), col("n_chars"))
      .select(col("lang"), col("bucket"), col("n_chars"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    assert(approx.length == rows.length)
    approx.groupBy(_._1).foreach { case (lang, rs) =>
      val byB = rs.groupBy(_._2).view.mapValues(_.map(_._3)).toMap
      assert(byB.keySet.subsetOf(Set(1, 2, 3)))
      for (b <- 1 to 2; hiS <- byB.get(b); loS <- byB.get(b + 1))
        assert(hiS.min >= loS.max, s"$lang: approx bucket order violated at $b")
      // t-digest boundaries at this accuracy keep the thirds roughly even
      byB.values.foreach(v =>
        assert(v.length >= rs.length / 6, s"$lang: approx bucket collapsed"))
    }
    // a NULL score lands in the tail on the approx path, matching the
    // exact form's desc-nulls-last deal
    import spark.implicits._
    val withNull = Seq((1L, "k", Some(5.0)), (2L, "k", Some(1.0)), (3L, "k", None),
      (4L, "k", Some(3.0))).toDF("id", "key", "sc")
    val nb = Pipeline.perplexityBucketsApprox(withNull, Seq("key"), col("sc"))
      .select(col("id"), col("bucket")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(nb(3L) == 3, s"null score must land in the tail bucket: $nb")
  }

  test("token-budget selection: maximal prefix per key, straddling row blocks the tail") {
    import spark.implicits._
    val d = Seq(
      // (id, key, score, tokens)
      (1L, "a", 9.0, 40L), (2L, "a", 8.0, 40L), (3L, "a", 7.0, 100L), (4L, "a", 6.0, 10L),
      (5L, "b", 5.0, 500L), (6L, "b", 4.0, 1L)
    ).toDF("id", "key", "score", "tok")
    val out = Pipeline.selectByTokenBudget(d, Seq(col("key")), col("score"),
      col("tok"), col("id"), budget = 100L)
      .select(col("id"), col("cum_tokens")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // key a: 40, 80, then id=3 straddles (180 > 100) and BLOCKS id=4 too
    // (prefix semantics, not knapsack) even though 90 + 10 would fit
    assert(out == Map(1L -> 40L, 2L -> 80L))
    // key b: the first row alone exceeds the budget -> nothing kept for b
    assert(!out.contains(5L) && !out.contains(6L))
    // global (no keys): one budget across everything, best-score-first
    val g = Pipeline.selectByTokenBudget(d, Seq.empty, col("score"),
      col("tok"), col("id"), budget = 90L)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(g == Set(1L, 2L))
    // a negative token count would break the prefix contract — fail loudly
    val err = intercept[Exception] {
      Seq((1L, "a", 1.0, -5L)).toDF("id", "key", "score", "tok")
        .transform(Pipeline.selectByTokenBudget(_, Seq(col("key")), col("score"),
          col("tok"), col("id"), budget = 10L))
        .collect()
    }
    assert(err.getMessage.contains("selectByTokenBudget"))
  }

  test("quality classifier: native scoring == spark.ml arithmetic; held-out separation; filter keeps clean side") {
    val clean = docs.filter(col("lang") === "en").select(col("doc_id"), col("text"))
    // deterministic gibberish with a disjoint vocabulary (stands in for the
    // raw-crawl negative class) — the library's own generator, so the spec
    // pins the same negative class the registered query trains on
    val noise = clean.select((col("doc_id") + 100000L).as("doc_id"),
      QualityModel.syntheticNoise(col("text")).as("text"))
    val trainPos = clean.filter(col("doc_id") % 2 === 0)
    val trainNeg = noise.filter(col("doc_id") % 2 === 0)
    val model = QualityModel.trainQualityClassifier(trainPos, trainNeg, "text",
      numFeatures = 1 << 15, maxIter = 10)
    assert(model.weights.length == (1 << 15))
    // 1. the native scorer computes EXACTLY the trained model's logit:
    // recompute each sampled doc's logit driver-side from the same SQL
    // hash() buckets the trainer assembled vectors from
    val sample = clean.limit(20).unionByName(noise.limit(20))
    val scored = QualityModel.scoreQuality(sample, "text", model)
      .select(col("doc_id"), col("quality_logit")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    sample.select(col("doc_id"),
        transform(TextAnalysis.wsTokens(col("text")),
          t => pmod(hash(t), lit(1 << 15)).cast("int")).as("buckets"))
      .collect().foreach { r =>
        val logit = model.intercept +
          r.getAs[scala.collection.Seq[Int]]("buckets").map(model.weights(_)).sum
        assert(math.abs(scored(r.getLong(0)) - logit) < 1e-6,
          s"doc ${r.getLong(0)}: native ${scored(r.getLong(0))} != recomputed $logit")
      }
    // 2. held-out separation: odd-id docs were never trained on
    val mp = QualityModel.scoreQuality(clean.filter(col("doc_id") % 2 === 1), "text", model)
      .agg(avg(col("quality_prob"))).head().getDouble(0)
    val mn = QualityModel.scoreQuality(noise.filter(col("doc_id") % 2 === 1), "text", model)
      .agg(avg(col("quality_prob"))).head().getDouble(0)
    assert(mp > 0.8 && mn < 0.2, s"held-out separation weak: clean=$mp noise=$mn")
    // 3. the one-call filter keeps overwhelmingly the clean side
    val kept = QualityModel.classifierFilter(clean.unionByName(noise), "text",
        trainPos, trainNeg, minProb = 0.5, numFeatures = 1 << 15, maxIter = 10)
      .select(col("doc_id")).collect().map(_.getLong(0))
    val (keptNoise, keptClean) = kept.partition(_ >= 100000L)
    assert(keptClean.length > keptNoise.length * 10,
      s"filter kept ${keptClean.length} clean vs ${keptNoise.length} noise")
  }

  test("cohort retention: offset 0 counts the whole cohort, every later offset a subset") {
    val rows = SparkEntry.queries("q_cohort_retention")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (cohort, rs) =>
      val size0 = rs.find(_._2 == 0)
        .getOrElse(fail(s"cohort $cohort has no offset-0 row"))._3
      rs.foreach { case (_, off, n) =>
        assert(off >= 0, s"cohort $cohort: negative offset $off")
        assert(n <= size0, s"cohort $cohort: offset $off counts $n > cohort size $size0")
      }
    }
  }

  test("upsert latest-wins: updates replace, inserts land, base survives, version ties favor the update, no window in plan") {
    import spark.implicits._
    val base = Seq((1L, "a", 1L), (2L, "b", 5L), (3L, "c", 2L)).toDF("k", "payload", "ver")
    val updates = Seq(
      (1L, "a2", 2L),   // higher version: replaces
      (2L, "b-old", 3L),// LOWER version: base survives
      (3L, "c2", 2L),   // tie: the update side wins
      (4L, "d", 1L))    // new key: inserted
      .toDF("k", "payload", "ver")
    val got = Relational.upsertLatest(base, updates, Seq("k"), "ver")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got === Map(
      1L -> (("a2", 2L)), 2L -> (("b", 5L)), 3L -> (("c2", 2L)), 4L -> (("d", 1L))))
    // the whole merge is one hash agg: no ranking window, no join back
    val plan = SparkEntry.queries("q_merge_upsert")(spark, sf).queryExecution.executedPlan
    assert(plan.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }.isEmpty,
      s"upsert must not plan a ranking window:\n$plan")
    assert(plan.collect { case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j }.isEmpty,
      s"upsert must not join back for the payload:\n$plan")
  }

  test("markup stripping: blocks die with content, tags become spaces, entities single-decode, clean text is a fixpoint") {
    import spark.implicits._
    def strip(s: String): String =
      Seq(s).toDF("t").select(TextAnalysis.stripMarkup(col("t"))).head().getString(0)
    assert(strip("<html><body><h1>Title</h1><p>a<br>b</p></body></html>") === "Title a b",
      "tags become spaces — a<br>b never word-joins")
    assert(strip("x<script type=\"text/javascript\">alert('y')</script>z") === "x z",
      "script content must die with the block")
    assert(strip("x<style>p { color: red }</style>z") === "x z")
    assert(strip("A<SCRIPT>\nmulti\nline\n</sCrIpT>B") === "A B",
      "case-insensitive, dot-matches-newline block removal")
    assert(strip("a &amp; b &lt;i&gt; &quot;q&quot; &#39;s&#39; x&nbsp;y") ===
      "a & b <i> \"q\" 's' x y")
    assert(strip("&amp;lt;") === "&lt;", "entities single-decode, never double")
    assert(strip("  a \t\n  b  ") === "a b", "whitespace collapses")
    val clean = "plain text with no markup at all"
    assert(strip(clean) === clean && strip(strip(clean)) === strip(clean),
      "clean text is a fixpoint")
    // recovering the corpus: stripping the query's synthetic wrapper yields
    // the original text framed by the known header/suffix
    val got = docs.limit(5).select(col("doc_id"), col("text"),
        TextAnalysis.stripMarkup(concat(
          lit("<html><head><style>p{c}</style></head><body><h1>Doc "),
          col("doc_id").cast("string"),
          lit("</h1><p>"), col("text"), lit("</p><script>var x=1;</script></body></html>")))
          .as("clean"))
      .collect()
    got.foreach { r =>
      val wantBody = ("Doc " + r.getLong(0) + " " + r.getString(1)).replaceAll("\\s+", " ").trim
      assert(r.getString(2) === wantBody, s"doc ${r.getLong(0)}: wrapper not cleanly removed")
    }
  }

  test("misra-gries heavy hitters: exact under capacity, undercount bounded, hot items never missed") {
    import spark.implicits._
    import graft.functions.FrequentItems
    def sketch(df: org.apache.spark.sql.DataFrame, k: Int, outK: Int) =
      df.agg(FrequentItems.freqItems(col("t"), k, outK).as("hh"))
        .select(explode(col("hh")).as("e")).select("e.item", "e.est_count")
        .collect().map(r => r.getString(0) -> r.getLong(1))
    // distinct items ≤ k: no decrement ever fires — estimates are EXACT
    val small = (Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq("c")).toDF("t")
    assert(sketch(small, 8, 8).toMap === Map("a" -> 5L, "b" -> 3L, "c" -> 1L))
    // corpus run: every estimate obeys est ≤ true and true − est ≤ n/(k+1),
    // and every term frequent enough for the guarantee is present
    val toks = docs.select(explode(TextAnalysis.wordTokens(col("text"))).as("t")).cache()
    try {
      val n = toks.count()
      val k = 256
      val exact = toks.groupBy(col("t")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val got = sketch(toks, k, k)
      val bound = n / (k + 1)
      got.foreach { case (item, est) =>
        val t = exact(item)
        assert(est <= t, s"$item: overcount $est > $t — MG never overcounts")
        assert(t - est <= bound, s"$item: undercount ${t - est} beyond n/(k+1) = $bound")
      }
      val gotSet = got.map(_._1).toSet
      exact.filter(_._2 > bound).keys.foreach { hot =>
        assert(gotSet.contains(hot), s"guaranteed-present item $hot missing")
      }
      assert(sketch(toks, k, k).toSeq === got.toSeq, "merge-order-invariant: reruns identical")
    } finally toks.unpersist()
    // under pressure (k = 2, one dominant item) the hot item survives
    val skew = (Seq.fill(50)("hot") ++ (1 to 20).map(i => s"cold$i")).toDF("t")
    assert(sketch(skew.repartition(4), 2, 2).map(_._1).contains("hot"))
    // SQL surface registered
    graft.functions.GraftExtensions.register(spark)
    skew.createOrReplaceTempView("__hh_in")
    val viaSql = spark.sql("SELECT graft_freq_items(t, 4, 1)[0].item AS hot FROM __hh_in")
      .collect().map(_.getString(0)).toList
    assert(viaSql === List("hot"))
  }

  test("keep-best dedup: quality picks the keeper, not the id; ties fall to min id") {
    import spark.implicits._
    val d = Seq(
      (1L, Some("a"), 0.9), (10L, Some("a"), 0.95), // higher score wins despite larger id
      (2L, Some("b"), 0.5), (20L, Some("b"), 0.5),  // tie -> smallest id
      (3L, Some("c"), 0.1),                         // singleton keeps itself
      (4L, None, 0.0)                               // null key = unclustered -> keeps itself
    ).toDF("id", "ck", "s")
    val out = Dedup.keepBestInCluster(d, col("ck"), col("id"), col("s"))
      .select(col("id"), col("keep")).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(out == Map(1L -> false, 10L -> true, 2L -> true, 20L -> false,
      3L -> true, 4L -> true))
    // NaN scores LOSE (the TopKPairs rule): the real-scored member wins,
    // and an all-NaN cluster falls back to the min id
    val nd = Seq(
      (1L, "a", Double.NaN), (2L, "a", 0.1), // NaN must not crown id 1
      (5L, "b", Double.NaN), (6L, "b", Double.NaN) // all-NaN -> min id 5
    ).toDF("id", "ck", "s")
    val nout = Dedup.keepBestInCluster(nd, col("ck"), col("id"), col("s"))
      .select(col("id"), col("keep")).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(nout == Map(1L -> false, 2L -> true, 5L -> true, 6L -> false))
    // a non-numeric id fails loudly — under ANSI the cast itself throws,
    // and the checkedId raise_error backstops NULL ids (which cast cleanly
    // to null) in non-ANSI sessions
    val err = intercept[Exception] {
      Seq(("x1", "a", 1.0)).toDF("id", "ck", "s")
        .transform(Dedup.keepBestInCluster(_, col("ck"), col("id"), col("s")))
        .collect()
    }
    assert(err.getMessage.contains("keepBestInCluster") ||
      err.getMessage.contains("CAST_INVALID_INPUT"))
    // constant score degrades to exactByKey's min-id keeper on real data
    val const = Dedup.keepBestInCluster(docs, col("lang"), col("doc_id"), lit(0))
      .filter(col("keep")).select(col("lang"), col("doc_id")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val minIds = docs.groupBy(col("lang")).agg(min(col("doc_id")).as("m")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(const == minIds)
  }

  test("temperature mixture: T=1 natural, rates fall with source mass and with T; sample realizes them") {
    val r1 = Pipeline.temperatureRates(docs, col("source"), col("n_chars"), 1.0)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(r1.values.forall(_ == 10000L), s"T=1 must keep the natural mixture: $r1")
    val r2rows = Pipeline.temperatureRates(docs, col("source"), col("n_chars"), 2.0)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val r2 = r2rows.map(r => r._1 -> r._3).toMap
    // monotone: more tokens, lower rate; the smallest source is never cut
    val sorted = r2rows.sortBy(_._2)
    assert(sorted.head._3 == 10000L)
    sorted.sliding(2).foreach { case Array((_, na, ra), (sb, nb, rb)) =>
      assert(!(nb > na) || rb <= ra, s"rate must fall with mass at $sb")
    }
    // hotter T pushes every rate further toward equal-token allocation
    val r4 = Pipeline.temperatureRates(docs, col("source"), col("n_chars"), 4.0)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    r2.foreach { case (s, rate2) => assert(r4(s) <= rate2, s"T=4 must downsample $s at least as hard") }
    // the sample is deterministic and exactly the md5-bucket < rate set
    val kept = Pipeline.temperatureSample(docs, col("doc_id"), col("source"),
      col("n_chars"), 2.0).select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val kept2 = Pipeline.temperatureSample(docs, col("doc_id"), col("source"),
      col("n_chars"), 2.0).select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(kept == kept2)
    val expected = docs.select(col("doc_id"), col("source"))
      .withColumn("b", conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 10000)
      .collect().filter(r => r.getLong(2) < r2(r.getString(1)))
      .map(_.getLong(0)).toSet
    assert(kept == expected)
    assert(kept.nonEmpty && kept.size < docs.count())
    // a zero-mass source gets rate 0 and must NOT zero everyone else's
    // rate through the min (nor divide 0/0)
    import spark.implicits._
    val withEmpty = Seq(("s1", 100L), ("s1", 100L), ("s2", 50L), ("s3", 0L))
      .toDF("src", "tok")
    val zr = Pipeline.temperatureRates(withEmpty, col("src"), col("tok"), 2.0)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(zr("s3") == 0L, s"zero-mass source must get rate 0: $zr")
    assert(zr("s2") == 10000L && zr("s1") == 5000L,
      s"positive sources must rate against the positive min only: $zr")
  }

  test("capPerKey: keeps exactly the first N per key under the total order; salted plan is row-identical") {
    val order = Seq(col("n_chars").desc, col("doc_id").asc)
    val direct = Pipeline.capPerKey(docs, col("source"), order, 7, col("doc_id"))
    val salted = Pipeline.capPerKey(docs, col("source"), order, 7, col("doc_id"), saltBuckets = 8)
    val d = direct.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val sl = salted.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    // top-N of the per-salt top-Ns == global top-N (order is total)
    assert(d === sl)
    // per-key count is min(N, group size)
    val sizes = docs.groupBy(col("source")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val caps = direct.groupBy(col("source")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    sizes.foreach { case (s, n) =>
      assert(caps.getOrElse(s, 0L) === math.min(7L, n), s"wrong cap for $s") }
    // and the kept rows are EXACTLY the top-7 under (n_chars desc, doc_id)
    val expect = docs.select(col("source"), col("n_chars"), col("doc_id"))
      .collect().groupBy(_.getString(0)).values
      .flatMap(rows => rows.sortBy(r => (-r.getLong(1), r.getLong(2))).take(7))
      .map(_.getLong(2)).toSet
    assert(d === expect)
  }

  test("selectClusterBalanced: per-cell top-score quota; nlist=1 is the global cut; salted identical") {
    val d = docs.select(col("doc_id"), col("n_chars"))
    val e = emb.select(col("vec_id").as("doc_id"), col("embedding"))
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val out = Pipeline.selectClusterBalanced(d, e, "doc_id", "embedding", "n_chars",
      nlist = 4, maxPerCluster = 3)
    val rows = out.select(col("doc_id"), col("n_chars"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // kept per cell = EXACTLY the top-3 by (n_chars desc, doc_id asc) of
    // that cell's members (assignment recomputed — kmeansCells is
    // deterministic)
    val cells = Similarity.kmeansCells(e, "doc_id", "embedding", 4, iters = 2)
      .join(d, Seq("doc_id"))
      .select(col("cell"), col("n_chars"), col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expect = cells.groupBy(_._1).values
      .flatMap(_.sortBy(t => (-t._2, t._3)).take(3))
      .map(t => (t._3, t._2, t._1)).toSet
    assert(rows.toSet === expect, "per-cell keepers must be the cell's top-3 by score")
    assert(rows.groupBy(_._3).values.forall(_.length <= 3), "quota respected")
    // nlist = 1: one cell → the global top-k cut, the exact-regime anchor
    val one = Pipeline.selectClusterBalanced(d, e, "doc_id", "embedding", "n_chars",
      nlist = 1, maxPerCluster = 5)
    val globalTop = d.join(e.select(col("doc_id")), Seq("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(t => (-t._2, t._1)).take(5).map(_._1).toSet
    assert(ids(one) === globalTop, "single cell must reduce to the global top-k")
    // salted two-phase plan keeps identical rows
    val salted = Pipeline.selectClusterBalanced(d, e, "doc_id", "embedding", "n_chars",
      nlist = 4, maxPerCluster = 3, saltBuckets = 8)
    assert(ids(salted) === rows.map(_._1).toSet, "salted cut must be row-identical")
    // the sampled-fit scale path (fixed nlist, driver Lloyd over the
    // md5-deterministic sample): deterministic, quota respected, total
    val s1 = Pipeline.selectClusterBalanced(d, e, "doc_id", "embedding", "n_chars",
      nlist = 4, maxPerCluster = 3, trainSample = 64)
    val s2 = Pipeline.selectClusterBalanced(d, e, "doc_id", "embedding", "n_chars",
      nlist = 4, maxPerCluster = 3, trainSample = 64)
    val sRows = s1.select(col("doc_id"), col("cell")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(ids(s2) === sRows.map(_._1).toSet, "sampled fit must be deterministic")
    assert(sRows.groupBy(_._2).values.forall(_.length <= 3), "sampled-fit quota respected")
    assert(sRows.map(_._1).toSet.subsetOf(ids(d.join(e.select(col("doc_id")), Seq("doc_id")))))
  }

  test("native word tokenizer ≡ regexp_extract_all on the corpus and on unicode edge cases") {
    import spark.implicits._
    val edge = Seq(
      "", "   ", "a", "9", "abc def", "a1b2!c3", "ÄÖÜ météo 北京 x7",
      "UPPER lower", "tab\tnl\nmix", "trailing token ", " leading").toDF("text")
    for (df <- Seq(docs.select(col("text")), edge)) {
      val cmp = df.select(
        graft.functions.Tokenize.wordTokens(col("text")).as("fast"),
        regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0)).as("re"),
        graft.functions.Tokenize.wordTokenCount(col("text")).as("cnt"))
      val bad = cmp.filter(not(col("fast") === col("re")) ||
        col("cnt") =!= size(col("re"))).count()
      assert(bad === 0L, "native tokenizer must match the regex form row-for-row")
    }
  }

  test("sampled (driver-Lloyd) trainers: recall floors, determinism, IVF-PQ full probe ≡ PQ") {
    val queries = emb.filter(col("vec_id") < 10)
    val brute = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // sampled PQ: same recall contract as the full-corpus trainer
    def pqSampled() = Similarity.pqTopK(emb, queries, "vec_id", "embedding",
        dim = 64, k = 5, m = 16, ksub = 32, trainSample = 200)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = pqSampled()
    assert(pq.size === brute.size)
    val pqRecall = (brute & pq).size.toDouble / brute.size
    assert(pqRecall >= 0.4, s"sampled-PQ recall too low: $pqRecall")
    assert(pqSampled() === pq, "sampled PQ must be deterministic run-to-run")

    // sampled kmeansCells: total, in-range, deterministic assignment
    val n = emb.count()
    def cells() = Similarity.kmeansCells(emb, "vec_id", "embedding",
        nlist = 8, iters = 2, trainSample = 200)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val a = cells()
    assert(a.size === n)
    assert(a.values.forall(c => c >= 0 && c < 8))
    assert(cells() === a)

    // sampled IVF-PQ at full probe prunes nothing → must reproduce the
    // sampled PQ exactly (both sides train the same local codebook)
    val fullProbe = Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding",
        dim = 64, k = 5, nlist = 4, nprobe = 4, m = 16, ksub = 32, trainSample = 200)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fullProbe === pq, "sampled full probe must reduce IVF-PQ to plain PQ")
    val pruned = Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding",
        dim = 64, k = 5, nlist = 4, nprobe = 2, m = 16, ksub = 32, trainSample = 200)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & pruned).size.toDouble / brute.size
    assert(recall >= 0.15, s"sampled IVF-PQ recall below structural floor: $recall")
  }

  test("reservoirSample: exact size, partition-layout-invariant, heap plan") {
    val w = greatest(col("n_chars"), lit(1L)).cast("double")
    val picked = Pipeline.reservoirSample(docs, col("doc_id"), w, k = 50)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(picked.size === 50, "A-ES sample must return exactly k rows")
    // deterministic md5 uniforms: the SELECTION cannot depend on how the
    // input happens to be partitioned
    val repicked = Pipeline.reservoirSample(docs.repartition(7), col("doc_id"), w, k = 50)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(repicked === picked, "sample must be invariant to partitioning")
    // n < k degrades to "all rows", not an error
    val small = Pipeline.reservoirSample(docs.limit(10), col("doc_id"), w, k = 50)
    assert(small.count() === 10L)
    // the top-k must plan as TakeOrderedAndProject (bounded per-partition
    // heap), never a global sort feeding a limit
    // rendered-plan match: the operator sits under an AdaptiveSparkPlan
    // wrapper whose inner tree collect() does not traverse
    val plan = SparkEntry.queries("sample_reservoir_weighted")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"sample_reservoir_weighted must plan as TakeOrderedAndProject:\n$plan")
  }

  test("reservoirSamplePerKey: exact per-group quotas, salted plan ≡ direct window") {
    val w = greatest(col("n_chars"), lit(1L)).cast("double")
    val direct = Pipeline.reservoirSamplePerKey(docs, col("doc_id"), w, col("lang"), 20)
    val salted = Pipeline.reservoirSamplePerKey(docs, col("doc_id"), w, col("lang"), 20,
      saltBuckets = 8)
    val dIds = direct.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val sIds = salted.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(sIds === dIds, "salted pre-cap must not change the per-group selection")
    // every group fills its quota exactly (or its full size when smaller)
    val groupSizes = docs.groupBy(col("lang")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val sampled = direct.groupBy(col("lang")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    groupSizes.foreach { case (lang, n) =>
      assert(sampled(lang) === math.min(n, 20L), s"wrong quota for $lang")
    }
  }

  test("bloomPrunedJoin: result identical to the plain join, fact side pruned pre-shuffle") {
    val fact = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_extendedprice"))
    val dim = Tables.orders(spark, sf)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    val pruned = Relational.bloomPrunedJoin(fact, col("l_orderkey"), dim, col("o_orderkey"))
      .select(col("l_orderkey"), col("l_extendedprice"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    val plain = fact.join(dim, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_extendedprice"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    assert(pruned === plain, "Bloom prune must not change the join result")
    // the sketch gate must actually drop fact rows (dim is selective), and
    // can never drop a matching row (no false negatives)
    val total = fact.count()
    val matching = plain.size.toLong
    // the operator's own gate: xxhash64'd keys through the native
    // codegen'd BloomFilterMightContain probe (graft.functions.BloomProbe)
    import graft.functions.BloomProbe
    val keys = dim.select(col("o_orderkey").cast("string").as("__k")).distinct()
    val bloom = keys.select(BloomProbe.hashed(col("__k")).as("h"))
      .stat.bloomFilter("h", math.max(keys.count(), 1L), 0.01)
    val sketch = BloomProbe.serialize(bloom)
    val passed = fact.filter(
      BloomProbe.mightContainHashed(sketch, col("l_orderkey").cast("string"))).count()
    assert(passed < total, s"sketch gate pruned nothing: $passed of $total")
    assert(passed >= matching, "sketch gate dropped a matching fact row")
  }

  test("sketchProfile: merged batch sketches track the whole-corpus sketch; estimates accurate") {
    import graft.operators.Profile
    val docs = graft.core.Tables.documents(spark, TestSpark.sf0001)
    val (a, b) = (docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 === 1))
    val cols = Seq("doc_id", "lang", "source")

    val merged = Profile.mergeSketchProfiles(
      Profile.sketchProfile(a, cols), Profile.sketchProfile(b, cols))
    val whole = Profile.sketchProfile(docs, cols)

    def est(p: org.apache.spark.sql.DataFrame): Map[String, (Long, Long)] =
      Profile.estimateSketchProfile(p).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val (m, w) = (est(merged), est(whole))
    assert(m.keySet === cols.toSet)
    for (c <- cols) {
      assert(m(c)._1 === w(c)._1, s"$c: row counts must add exactly")
      // merged estimate tracks the direct sketch within 1% (DataSketches
      // mode promotion can shift the estimator a fraction of a percent)
      assert(math.abs(m(c)._2 - w(c)._2) <= math.max(1.0, w(c)._2 * 0.01),
        s"$c: merged sketch drifted from the direct one: ${m(c)} vs ${w(c)}")
    }
    // accuracy: within 5% of exact distinct at lgK=12 on these cardinalities
    for (c <- cols) {
      val exact = docs.select(col(c)).distinct().count()
      val e = w(c)._2.toDouble
      assert(math.abs(e - exact) <= math.max(1.0, exact * 0.05),
        s"$c: estimate $e too far from exact $exact")
    }
    // the incremental flow: persist the corpus sketch, merge a new batch's
    // sketch against the RE-READ artifact — |cols| rows in, |cols| rows
    // out, the original corpus is never touched again
    val dir = java.nio.file.Files.createTempDirectory("sketch_prof").toString
    whole.write.mode("overwrite").parquet(dir)
    val updated = Profile.mergeSketchProfiles(
      spark.read.parquet(dir), Profile.sketchProfile(b, cols))
    val u = est(updated)
    assert(u("doc_id")._1 === docs.count() + b.count())
    assert(u("lang")._2 === w("lang")._2, "re-merging a subset adds no new distincts")
  }
}
