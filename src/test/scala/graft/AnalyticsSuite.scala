package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.operators.{Analytics, Guards, TextAnalysis}

/** Invariant specs for the analytic-statistics family (Analytics.scala) and
  * the compression-ratio signal (functions/DeflateSize.scala). The oracle
  * queries check cross-engine exactness; these check the math itself.
  */
class AnalyticsSuite extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf0001
  import spark.implicits._

  test("ewma: constant series is identity; step series moves monotonically toward the new level") {
    val const = (1 to 30).map(i => ("k", i, 5.0)).toDF("k", "i", "v")
    val c = const.withColumn("e", Analytics.ewma("k", Seq(col("i")), "v", 0.3, 8))
      .select("e").as[Double].collect()
    assert(c.forall(_ == 5.0), "EWMA of a constant series must be the constant")

    val step = ((1 to 10).map(i => ("k", i, 0.0)) ++ (11 to 20).map(i => ("k", i, 10.0)))
      .toDF("k", "i", "v")
    val s = step.orderBy("i")
      .withColumn("e", Analytics.ewma("k", Seq(col("i")), "v", 0.3, 8))
      .orderBy("i").select("e").as[Double].collect()
    val after = s.drop(10)
    assert(after.zip(after.tail).forall { case (a, b) => b >= a },
      s"EWMA must rise monotonically after an upward step: ${after.toSeq}")
    assert(after.last > 9.9, "horizon-8 EWMA at alpha=0.3 must converge onto the new level")
    assert(after.head < 5.0, "first post-step EWMA must still be dominated by history")
  }

  test("ewma: bounded by the min/max of the horizon window") {
    val ev = Tables.events(spark, sf)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(unix_micros(col("ts")), col("event_id"))
      .rowsBetween(-7, 0)
    val bad = ev
      .withColumn("e", Analytics.ewma("user_id",
        Seq(unix_micros(col("ts")), col("event_id")), "value", 0.3, 8))
      .withColumn("lo", min(round(col("value") * 10000, 0) / 10000.0).over(w))
      .withColumn("hi", max(round(col("value") * 10000, 0) / 10000.0).over(w))
      .filter(col("e") < col("lo") - 0.0001 || col("e") > col("hi") + 0.0001)
      .count()
    assert(bad === 0L, "EWMA is a convex combination of the horizon window")
  }

  test("rollingCorr: +1 on a perfect positive line, -1 on a negative one, sentinel on zero variance") {
    val lin = (1 to 50).map(i => ("k", i.toLong, (2 * i + 3).toLong, (100 - i).toLong, 7L))
      .toDF("k", "x", "yUp", "yDown", "yConst")
    def corrOf(y: String): Seq[Double] = lin
      .withColumn("c", Analytics.rollingCorr("k", Seq(col("x")), col("x"), col(y), 10))
      .filter(col("x") >= 2)  // first frame has one row: zero variance
      .select("c").as[Double].collect().toSeq
    assert(corrOf("yUp").forall(_ == 1.0), "y=2x+3 has rolling corr exactly +1")
    assert(corrOf("yDown").forall(_ == -1.0), "y=100-x has rolling corr exactly -1")
    assert(corrOf("yConst").forall(_ == 2.0), "zero y-variance yields the 2.0 sentinel")
  }

  test("rollingCorr: LONG moments equal the DECIMAL(38,0) reference bit-for-bit; " +
      "the envelope guard fails loud beyond the bound") {
    // reference: the pre-r22 DECIMAL(38,0) moment formula, inlined
    val f = 20
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(unix_micros(col("ts")), col("event_id"))
      .rowsBetween(-(f - 1), org.apache.spark.sql.expressions.Window.currentRow)
    val dec = "decimal(38,0)"
    val xr = (unix_timestamp(col("ts")) - 1704067200L).cast(dec)
    val yr = round(col("value") * 10000, 0).cast("long").cast(dec)
    val n = count(lit(1)).over(w).cast(dec)
    val (sx, sy) = (sum(xr).over(w), sum(yr).over(w))
    val (sxy, sxx, syy) = (sum(xr * yr).over(w), sum(xr * xr).over(w), sum(yr * yr).over(w))
    val varX = (n * sxx - sx * sx).cast("double")
    val varY = (n * syy - sy * sy).cast("double")
    val cov = (n * sxy - sx * sy).cast("double")
    def ieee4(x: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      floor(x * 1e4 + 0.5).cast("long") / 1e4
    val refCorr = when(varX > 0 && varY > 0,
      ieee4(cov / sqrt(varX) / sqrt(varY))).otherwise(lit(2.0))
    val ev = Tables.events(spark, sf)
    val mismatches = ev
      .withColumn("lng", Analytics.rollingCorr("user_id",
        Seq(unix_micros(col("ts")), col("event_id")),
        unix_timestamp(col("ts")) - 1704067200L,
        round(col("value") * 10000, 0).cast("long"), f))
      .withColumn("ref", refCorr)
      // bit-level compare: NaN-safe equality on the raw doubles
      .filter(!(col("lng") <=> col("ref")))
      .count()
    assert(mismatches === 0L,
      "LONG-moment rollingCorr must reproduce the DECIMAL reference exactly")
    // guard: a value past the envelope bound raises instead of wrapping
    val bound = math.floor(math.sqrt(Long.MaxValue.toDouble / 2.0) / f).toLong
    val hot = Seq(("k", 1L, bound + 1), ("k", 2L, bound + 1))
      .toDF("k", "x", "y")
    val ex = intercept[Exception] {
      hot.withColumn("c",
          Analytics.rollingCorr("k", Seq(col("x")), col("x"), col("y"), f))
        .collect()
    }
    assert(ex.getMessage.contains("LONG-moment envelope"),
      s"expected the envelope guard to raise, got: ${ex.getMessage}")
  }

  test("rollingCorr: the envelope guard checks the value before its long cast (ANSI off)") {
    val s = spark.newSession()
    s.conf.set("spark.sql.ansi.enabled", "false")
    // 2^64 + 5: beyond LONG, and beyond the envelope
    val hot = s.sql("SELECT 'k' AS k, id AS x, CAST('18446744073709551621' AS DECIMAL(38,0)) AS y " +
      "FROM range(1, 3)")
    // the premise: without ANSI the cast wraps it to 5, inside the envelope
    assert(hot.select(col("y").cast("long")).as[Long].collect().toSeq === Seq(5L, 5L))
    val ex = intercept[Exception] {
      hot.withColumn("c", Analytics.rollingCorr("k", Seq(col("x")), col("x"), col("y"), 20)).collect()
    }
    assert(ex.getMessage.contains("LONG-moment envelope"),
      s"expected the envelope guard to raise, got: ${ex.getMessage}")
  }

  test("rollingCorr: |r| <= 1 on real data wherever defined") {
    val ev = Tables.events(spark, sf)
    val out = ev.withColumn("c", Analytics.rollingCorr("user_id",
        Seq(unix_micros(col("ts")), col("event_id")),
        unix_timestamp(col("ts")) - 1704067200L,
        round(col("value") * 10000, 0).cast("long"), 20))
      .select("c").as[Double].collect()
    assert(out.nonEmpty)
    assert(out.forall(c => c == 2.0 || (c >= -1.0 && c <= 1.0)))
  }

  test("regressionPerGroup: recovers an exact integer line; drops zero-variance groups") {
    val pts = ((1 to 40).map(x => ("lin", x.toLong, 3L * x + 7)) ++
      (1 to 5).map(_ => ("flat", 4L, 99L)))  // zero x-variance
      .toDF("g", "x", "y")
    val fit = Analytics.regressionPerGroup(pts, Seq(col("g")), col("x"), col("y"), scale = 8)
      .collect().map(r => (r.getString(0), r)).toMap
    assert(!fit.contains("flat"), "a group with zero x-variance has no fit")
    val lin = fit("lin")
    assert(lin.getAs[Double]("slope") === 3.0)
    assert(lin.getAs[Double]("intercept") === 7.0)
    assert(lin.getAs[Long]("n") === 40L)
  }

  test("categoricalEntropy: 0 for a single category, ln(k) for a uniform distribution") {
    val df = ((1 to 12).map(i => ("uni", s"c${i % 4}")) ++
      (1 to 9).map(_ => ("mono", "only"))).toDF("g", "cat")
    val ent = Analytics.categoricalEntropy(df, Seq(col("g")), col("cat"))
      .collect().map(r => (r.getString(0), (r.getAs[Long]("n_cats"), r.getAs[Double]("entropy")))).toMap
    assert(ent("mono") === ((1L, 0.0)))
    assert(ent("uni")._1 === 4L)
    assert(math.abs(ent("uni")._2 - math.log(4)) < 1e-6, "uniform over 4 cats = ln 4 nats")
  }

  test("deterministicMode: smallest value wins a count tie") {
    val df = Seq(("g", "b"), ("g", "b"), ("g", "a"), ("g", "a"), ("g", "z"))
      .toDF("g", "v")
    val m = Analytics.deterministicMode(df, Seq(col("g")), col("v")).collect()
    assert(m.length === 1)
    assert(m(0).getAs[String]("mode_val") === "a", "tie at count 2 breaks to the smaller value")
    assert(m(0).getAs[Long]("mode_n") === 2L)
  }

  test("transitionCensus: known tiny chain, and ppm sums to ~1e6 per from-state") {
    val seqs = Seq(
      ("u1", 1L, "a"), ("u1", 2L, "b"), ("u1", 3L, "a"), ("u1", 4L, "b"),
      ("u2", 1L, "a"), ("u2", 2L, "b"), ("u2", 3L, "c"))
      .toDF("k", "t", "st")
    val t = Analytics.transitionCensus(seqs, "k", Seq(col("t")), "st")
      .collect().map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getLong(3)))).toMap
    // u1: a->b, b->a, a->b; u2: a->b, b->c  => a->b:3, b->a:1, b->c:1
    assert(t(("a", "b")) === ((3L, 1000000L)))
    assert(t(("b", "a")) === ((1L, 500000L)))
    assert(t(("b", "c")) === ((1L, 500000L)))

    val real = Analytics.transitionCensus(Tables.events(spark, sf), "user_id",
        Seq(unix_micros(col("ts")), col("event_id")), "event_type")
    val sums = real.groupBy("from_state").agg(sum("p_ppm").as("s"), count(lit(1)).as("k"))
      .collect()
    sums.foreach { r =>
      val s = r.getAs[Long]("s"); val k = r.getAs[Long]("k")
      assert(math.abs(s - 1000000L) <= k, s"ppm per from-state within rounding: $s over $k rows")
    }
  }

  test("noveltyCensus: identical docs score 0 ppm, disjoint docs 1e6 ppm, short docs drop") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),      // identical to 1: df=2 everywhere
      (3L, "zeta eta theta iota kappa lambda"),    // fully disjoint
      (4L, "mu nu")                                // < 3 tokens: no shingles
    ).toDF("doc_id", "text")
    val out = TextAnalysis.noveltyCensus(docs, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("novelty_ppm"))).toMap
    assert(out(1L) === 0L)
    assert(out(2L) === 0L)
    assert(out(3L) === 1000000L)
    assert(!out.contains(4L), "a doc shorter than the shingle size has no score")
  }

  test("intervalOverlapJoin: identical to the naive theta join, each pair exactly once") {
    import graft.operators.Relational
    // deterministic pseudo-random half-open intervals, widths 1..40 over a
    // 0..1000 axis so bands (width 16) see starts, ends, spans, containment
    def ivs(n: Int, seed: Int, pfx: String) = (0 until n).map { i =>
      val lo = ((i * 2654435761L + seed * 97L) % 1000 + 1000) % 1000
      val w = (i * 40503L + seed) % 40 + 1
      (i.toLong, lo, lo + w)
    }.toDF(s"${pfx}_id", s"${pfx}_lo", s"${pfx}_hi")
    val l = ivs(120, 1, "l"); val r = ivs(150, 2, "r")
    val banded = Relational.intervalOverlapJoin(l, r,
        col("l_lo"), col("l_hi"), col("r_lo"), col("r_hi"), bandWidth = 16L)
      .select("l_id", "r_id").as[(Long, Long)].collect().toSeq
    val naive = l.join(r, col("l_lo") < col("r_hi") && col("r_lo") < col("l_hi"))
      .select("l_id", "r_id").as[(Long, Long)].collect().toSeq
    assert(banded.size === banded.distinct.size, "no pair may be emitted twice")
    assert(banded.sorted === naive.sorted, "banded join must equal the theta join")
    assert(naive.nonEmpty)
    // empty intervals (hi <= lo) match nothing and must not break expansion
    val withEmpty = l.union(Seq((999L, 5L, 5L)).toDF("l_id", "l_lo", "l_hi"))
    val b2 = Relational.intervalOverlapJoin(withEmpty, r,
        col("l_lo"), col("l_hi"), col("r_lo"), col("r_hi"), bandWidth = 16L)
      .filter(col("l_id") === 999L).count()
    assert(b2 === 0L)
  }

  test("nearestAsOf: closest side within tolerance, deterministic ties, unmatched nulls") {
    import spark.implicits._
    import graft.operators.Relational
    val left = Seq((1L, "A", 12L), (2L, "A", 16L), (3L, "A", 15L),
      (4L, "A", 100L), (5L, "B", 10L), (6L, "C", 7L)).toDF("id", "k", "t")
    val right = Seq(("A", 10L, 1.0), ("A", 20L, 2.0),
      ("B", 10L, 5.0), ("B", 10L, 9.0)).toDF("k", "rt", "v")
    val out = Relational.nearestAsOf(left, right, "k",
        col("t"), col("rt"), col("v"), tolerance = 30L)
      .collect().map { r =>
        r.getLong(0) -> (if (r.isNullAt(3)) None else Some((r.getDouble(3), r.getLong(4), r.getLong(5))))
      }.toMap
    assert(out(1L) === Some((1.0, 10L, 2L)), "backward nearer: 12-10=2 beats 20-12=8")
    assert(out(2L) === Some((2.0, 20L, 4L)), "forward nearer: 20-16=4 beats 16-10=6")
    assert(out(3L) === Some((1.0, 10L, 5L)), "equal distance prefers the earlier candidate")
    assert(out(4L) === None, "nothing within tolerance")
    assert(out(5L) === Some((9.0, 10L, 0L)),
      "same-time rights are distance-0 backward; value tie takes the larger carry")
    assert(out(6L) === None, "key with no right side at all")
    assert(out.size === 6, "every left row survives (left-outer semantics)")
  }

  test("bpe: textbook merge order on the Sennrich corpus, and greedy encode applies it") {
    import graft.operators.Bpe
    // the NMT-subword paper's worked example: {low:5, lower:2, newest:6, widest:3}
    val corpus = Seq("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
    val merges = Bpe.trainLocal(corpus, 4)
    // pair mass: (e,s)=9 ties (s,t)=9 -> lex-smallest; then (es,t)=9;
    // then (l,o)=7 ties (o,w)=7 -> lex-smallest; then (lo,w)=7
    assert(merges === Seq(("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w")))
    val ranks = new java.util.HashMap[String, Integer]()
    merges.zipWithIndex.foreach { case ((a, b), i) => ranks.put(s"$a $b", i) }
    assert(graft.functions.BpeEncode.encodeWord("lowest", ranks).toSeq === Seq("low", "est"))
    assert(graft.functions.BpeEncode.encodeWord("newest", ranks).toSeq === Seq("n", "e", "w", "est"))
  }

  test("bpe: executor encode matches driver reference; more merges never add tokens") {
    import graft.operators.Bpe
    val docs = Tables.documents(spark, sf).limit(40).cache()
    val m50 = Bpe.train(docs, col("text"), numMerges = 50, maxWords = 5000)
    val m200 = Bpe.train(docs, col("text"), numMerges = 200, maxWords = 5000)
    assert(m200.take(50) === m50, "merge order is a deterministic prefix sequence")
    val got = docs.select(col("text"),
        Bpe.tokens(col("text"), m200).as("toks"),
        Bpe.tokenCount(col("text"), m200).as("n200"),
        Bpe.tokenCount(col("text"), m50).as("n50"),
        graft.operators.TextAnalysis.tokenCount(col("text")).as("nws"))
      .collect()
    val ranks = new java.util.HashMap[String, Integer]()
    m200.zipWithIndex.foreach { case ((a, b), i) => ranks.put(s"$a $b", i) }
    got.foreach { r =>
      val text = r.getAs[String]("text")
      val ref = "[a-z0-9]+".r.findAllIn(text).flatMap(w =>
        graft.functions.BpeEncode.encodeWord(w, ranks)).toSeq
      assert(r.getAs[Seq[String]]("toks") === ref, "executor BPE != driver reference")
      assert(r.getAs[Int]("n200") === ref.size)
      assert(r.getAs[Int]("n200") <= r.getAs[Int]("n50"),
        "a superset merge table can only shrink the encoding")
      assert(r.getAs[Int]("n50") >= r.getAs[Int]("nws"),
        "subword tokens are at least as many as whitespace words")
    }
  }

  test("unigram: Viterbi kernel exact on hand lattices; unk total; ties take the longest piece") {
    import graft.functions.UnigramEncode
    val table = new java.util.HashMap[String, java.lang.Double]()
    Seq("a" -> -1.0, "b" -> -1.2, "ab" -> -1.5, "abc" -> -2.0)
      .foreach { case (p, lp) => table.put(p, lp) }
    def enc(w: String) = UnigramEncode.encodeWord(w, table, 3, -12.0).toSeq
    assert(enc("ab") === Seq("ab"), "-1.5 beats a+b = -2.2")
    assert(enc("ba") === Seq("b", "a"))
    assert(enc("abc") === Seq("abc"), "-2.0 beats ab+? and a+?")
    assert(enc("axb") === Seq("a", "x", "b"), "unknown char segments as itself")
    assert(enc("") === Seq.empty)
    // exact score tie (ab+c = a+bc = -3.0): the longest LAST piece wins
    val tie = new java.util.HashMap[String, java.lang.Double]()
    Seq("a" -> -1.0, "bc" -> -2.0, "ab" -> -2.0, "c" -> -1.0, "b" -> -9.0)
      .foreach { case (p, lp) => tie.put(p, lp) }
    assert(UnigramEncode.encodeWord("abc", tie, 3, -19.0).toSeq === Seq("a", "bc"))
    // unk is a REGULAR lattice node, not a stuck-only fallback: the unk
    // path abc+⟨d⟩ = -0.1-30 beats the all-piece path a+bcd = -35
    val unkComp = new java.util.HashMap[String, java.lang.Double]()
    Seq("abc" -> -0.1, "bcd" -> -20.0, "a" -> -15.0, "b" -> -15.0, "c" -> -15.0)
      .foreach { case (p, lp) => unkComp.put(p, lp) }
    assert(UnigramEncode.encodeWord("abcd", unkComp, 3, -30.0).toSeq === Seq("abc", "d"))
  }

  test("unigram: EM never decreases corpus likelihood; dominant word collapses; probs normalize") {
    import graft.operators.Unigram
    val corpus = Seq("training" -> 1000L, "data" -> 50L, "rate" -> 30L, "gain" -> 20L)
    // no-prune regime (vocabSize >= seed size): emIters=k is exactly k EM
    // passes on the same seed vocabulary -> textbook monotonicity applies
    val v1 = Unigram.trainLocal(corpus, vocabSize = 10000, emIters = 1)
    val v2 = Unigram.trainLocal(corpus, vocabSize = 10000, emIters = 2)
    val ll1 = Unigram.corpusLogLikelihood(corpus, v1)
    val ll2 = Unigram.corpusLogLikelihood(corpus, v2)
    assert(ll2 >= ll1 - 1e-9, s"EM pass must not decrease likelihood: $ll1 -> $ll2")
    Seq(v1, v2).foreach { v =>
      val tot = v.map { case (_, lp) => math.exp(lp) }.sum
      assert(math.abs(tot - 1.0) < 1e-9, s"piece probs must normalize: $tot")
    }
    // after pruning to a tight vocab, the dominant word IS a piece and
    // encodes to a single token
    val pruned = Unigram.trainLocal(corpus, vocabSize = 30, emIters = 2)
    assert(pruned.map(_._1).contains("training"), s"dominant word must survive: $pruned")
    val k = new graft.functions.UnigramEncode.Kernel(pruned.toArray)
    assert(k.encodeCount(org.apache.spark.unsafe.types.UTF8String.fromString("training")) === 1)
    // determinism end to end
    assert(Unigram.trainLocal(corpus, vocabSize = 30, emIters = 2) === pruned)
  }

  test("unigram: executor encode matches the driver reference on the corpus fixture") {
    import graft.operators.Unigram
    val docs = Tables.documents(spark, sf).limit(40).cache()
    val pieces = Unigram.train(docs, col("text"), vocabSize = 64, maxWords = 5000)
    assert(pieces.nonEmpty)
    val table = new java.util.HashMap[String, java.lang.Double]()
    pieces.foreach { case (p, lp) => table.put(p, lp) }
    val maxLen = pieces.map(_._1.length).max
    val unk = pieces.map(_._2).min - 10.0
    val got = docs.select(col("text"),
        Unigram.tokens(col("text"), pieces).as("toks"),
        Unigram.tokenCount(col("text"), pieces).as("n"),
        graft.operators.TextAnalysis.tokenCount(col("text")).as("nws"))
      .collect()
    got.foreach { r =>
      val text = r.getAs[String]("text")
      val ref = "[a-z0-9]+".r.findAllIn(text).flatMap(w =>
        graft.functions.UnigramEncode.encodeWord(w, table, maxLen, unk)).toSeq
      assert(r.getAs[Seq[String]]("toks") === ref, "executor unigram != driver reference")
      assert(r.getAs[Int]("n") === ref.size)
      assert(r.getAs[Int]("n") >= r.getAs[Int]("nws"),
        "subword pieces are at least as many as whitespace words")
    }
  }

  test("aho-corasick: nested/overlapping patterns, early exit, and executor == naive reference") {
    import graft.functions.AhoCorasick
    // nested ("b" ⊂ "ab" ⊂ "abc") and overlapping ("bc") patterns: the
    // dictionary-suffix collapse must surface ALL of them from one scan
    val k1 = new AhoCorasick.Kernel(Array("ab", "b", "bc", "abc", "zz"))
    def dm(k: AhoCorasick.Kernel, s: String) =
      k.distinctMatches(org.apache.spark.unsafe.types.UTF8String.fromString(s))
    def am(k: AhoCorasick.Kernel, s: String) =
      k.anyMatch(org.apache.spark.unsafe.types.UTF8String.fromString(s))
    assert(dm(k1, "abc") === 4, "ab, b, bc, abc all present")
    assert(dm(k1, "ba") === 1)
    assert(dm(k1, "xyx") === 0)
    assert(dm(k1, "") === 0)
    assert(am(k1, "xzzx") && !am(k1, "xzx"))
    // executor expression ≡ naive per-pattern contains on the corpus
    val pats = Seq("merge batch", "merge", "slow scan", "row fast", "vector", "quantum flux")
    val docs = Tables.documents(spark, sf)
    val got = docs.limit(60).select(col("text"),
        AhoCorasick.acDistinctMatches(col("text"), pats).as("hits"),
        AhoCorasick.acAnyMatch(col("text"), pats).as("any"))
      .collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val t = r.getAs[String]("text")
      val ref = pats.count(t.contains)
      assert(r.getAs[Int]("hits") === ref, s"automaton != naive contains for: ${t.take(60)}")
      assert(r.getAs[Boolean]("any") === (ref > 0))
    }
  }

  test("gear CDC: exact partition, size bounds, and single-insert chunk-hash resync") {
    import graft.functions.GearChunks
    // aperiodic junk: concatenated md5(counter) digests (an LCG byte
    // stream was near-periodic at ~4100 and made chunk CONTENTS repeat,
    // which turns the set-intersection assertions below into undercounts)
    val b: Array[Byte] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      (0 until 512).flatMap(i => md.digest(i.toString.getBytes).toSeq).toArray
    }
    val t = GearChunks.chunks(b, 32, 64, 256)
    val n = t.length / 3
    assert(n > 8, "fixture should produce many chunks")
    // chunks partition the blob exactly
    var expectOff = 0L
    for (i <- 0 until n) {
      assert(t(i * 3) === expectOff, s"chunk $i offset")
      expectOff += t(i * 3 + 1)
    }
    assert(expectOff === b.length.toLong, "chunks must cover the blob")
    // size bounds: every chunk in [min, max] except possibly the final tail
    for (i <- 0 until n) {
      val len = t(i * 3 + 1)
      assert(len <= 256, s"chunk $i exceeds maxSize")
      assert(len >= 32 || i == n - 1, s"non-final chunk $i under minSize")
    }
    // deterministic
    assert(GearChunks.chunks(b, 32, 64, 256).toSeq === t.toSeq)
    // hash identity: each chunk hash is FNV of its own bytes
    for (i <- 0 until math.min(n, 5))
      assert(t(i * 3 + 2) ===
        GearChunks.fnv64(b, t(i * 3).toInt, t(i * 3 + 1).toInt))
    // THE CDC property, isolated (minSize = 1, so cuts = exactly the
    // content-defined candidate set): the gear context is 64 bytes, so a
    // 7-byte prepend leaves every boundary in the shared suffix intact —
    // all but the first chunk or two survive by hash
    val b2 = Array.tabulate(7)(i => (i + 1).toByte) ++ b
    def hashes(tr: Array[Long]) = (0 until tr.length / 3).map(i => tr(i * 3 + 2)).toSet
    val p1 = GearChunks.chunks(b, 1, 64, 8192)
    val p2 = GearChunks.chunks(b2, 1, 64, 8192)
    val pn = hashes(p1).size
    assert((hashes(p1) & hashes(p2)).size >= pn - 2,
      s"pure CDC must preserve every suffix boundary: ${(hashes(p1) & hashes(p2)).size} of $pn")
    // with production min/max bounds the min-size coupling delays (but
    // does not prevent) re-sync: a solid majority of chunks still survive,
    // while fixed-size chunking of the same pair shares nothing
    val t2 = GearChunks.chunks(b2, 32, 64, 256)
    val shared = (hashes(t) & hashes(t2)).size
    assert(shared > n / 2,
      s"bounded CDC must re-sync after an insert: $shared of $n chunk hashes survive")
    def fixedHashes(bytes: Array[Byte]) =
      bytes.grouped(64).map(g => GearChunks.fnv64(g, 0, g.length)).toSet
    assert((fixedHashes(b) & fixedHashes(b2)).size <= 1,
      "fixed-size chunking shatters under the same insert (why CDC exists)")
    // degenerate whole-blob regime (min = avg = max >> blob): exactly one
    // chunk covering the payload, hash = FNV of all bytes — the regime the
    // dedup_cdc_chunks_exact oracle hash-gates end to end
    val whole = GearChunks.chunks(b, 1 << 20, 1 << 20, 1 << 20)
    assert(whole.length === 3, "oversized bounds must yield one chunk")
    assert(whole(0) === 0L && whole(1) === b.length.toLong)
    assert(whole(2) === GearChunks.fnv64(b, 0, b.length))
  }

  test("deflateSize: matches a driver-side java.util.zip reference and is deterministic") {
    val docs = Tables.documents(spark, sf).limit(50)
    val got = docs.select(col("doc_id"), col("text"),
        graft.functions.DeflateSize.deflateSize(col("text")).as("d1"),
        graft.functions.DeflateSize.deflateSize(col("text")).as("d2"))
      .collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val ref = graft.functions.DeflateSize.deflatedSize(
        r.getAs[String]("text").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      assert(r.getAs[Int]("d1") === ref, s"doc ${r.getLong(0)}: executor deflate != reference")
      assert(r.getAs[Int]("d2") === ref, "re-evaluation must be identical")
    }
  }

  test("deflateSize: boilerplate compresses far better than varied text") {
    val df = Seq(
      ("boiler", "click here to subscribe now! " * 200),
      ("varied", (1 to 200).map(i => s"w${i * 2654435761L % 9973}").mkString(" ")))
      .toDF("kind", "text")
    val m = df.select(col("kind"),
        (graft.functions.DeflateSize.deflateSize(col("text")) * 10000L /
          octet_length(col("text"))).cast("long").as("bp"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(m("boiler") < m("varied") / 4,
      s"repetitive template must compress >=4x better: $m")
    assert(m("varied") > 1000, "hash-worded text stays fairly incompressible")
  }

  test("klDivergence: zero iff the group mix equals the corpus mix, positive otherwise") {
    // two groups with IDENTICAL category mixes → every group matches the
    // corpus marginal exactly → KL = 0 for both
    val same = (Seq.fill(6)("x") ++ Seq.fill(3)("y")).zipWithIndex.flatMap {
      case (c, i) => Seq(("g1", c), ("g2", c))
    }.toDF("g", "c")
    val klSame = Analytics.klDivergence(same, Seq(col("g")), col("c"))
      .select("kl").as[Double].collect()
    assert(klSame.forall(_ == 0.0), s"identical mixes must give KL=0: ${klSame.toSeq}")

    // skewed group vs corpus → strictly positive, and the more-skewed group
    // diverges more
    val skew = (Seq.fill(9)(("a", "x")) ++ Seq.fill(1)(("a", "y")) ++
      Seq.fill(5)(("b", "x")) ++ Seq.fill(5)(("b", "y"))).toDF("g", "c")
    val m = Analytics.klDivergence(skew, Seq(col("g")), col("c"))
      .collect().map(r => (r.getString(0), r.getAs[Double]("kl"))).toMap
    assert(m("a") > 0.0 && m("b") > 0.0, s"diverging mixes must give KL>0: $m")
    assert(m("a") > m("b"), s"the further-from-corpus group must score higher: $m")
  }

  test("chiSquare: zero on an exactly-independent table, counts unobserved cells") {
    // perfectly proportional 2x2 → chi2 = 0
    val indep = (Seq.fill(4)(("r1", "x")) ++ Seq.fill(2)(("r1", "y")) ++
      Seq.fill(8)(("r2", "x")) ++ Seq.fill(4)(("r2", "y"))).toDF("r", "c")
    val z = Analytics.chiSquare(indep, col("r"), col("c"))
      .select("chi2").as[Double].collect()
    assert(z.forall(_ == 0.0), s"independent table must give chi2=0: ${z.toSeq}")

    // r2 never shows category y: the (r2, y) cell is unobserved but must
    // still be counted (o=0, e>0 contributes e to the statistic)
    val dep = (Seq.fill(5)(("r1", "x")) ++ Seq.fill(5)(("r1", "y")) ++
      Seq.fill(10)(("r2", "x"))).toDF("r", "c")
    val rows = Analytics.chiSquare(dep, col("r"), col("c"))
      .collect().map(r => (r.getString(0), r.getAs[Long]("n_cells"), r.getAs[Double]("chi2")))
    assert(rows.forall(_._2 == 2L), s"every row-cat must see |cols| cells: ${rows.toSeq}")
    assert(rows.forall(_._3 > 0.0), s"dependent table must give chi2>0: ${rows.toSeq}")
  }

  test("resampleOhlc: bar invariants and order-selection semantics") {
    import graft.operators.Timeseries
    val ev = Tables.events(spark, sf)
    val bars = Timeseries.resampleOhlc(ev, col("user_id"), col("ts"),
      Seq(unix_micros(col("ts")), col("event_id")), col("value"), 86400L).collect()
    assert(bars.nonEmpty)
    for (b <- bars) {
      val (o, h, l, c) = (b.getAs[Double]("open"), b.getAs[Double]("high"),
        b.getAs[Double]("low"), b.getAs[Double]("close"))
      assert(l <= o && o <= h && l <= c && c <= h, s"low<=open/close<=high violated: $b")
      assert(b.getAs[Long]("n_events") >= 1L)
      if (b.getAs[Long]("n_events") == 1L)
        assert(o == h && h == l && l == c, s"singleton bar must collapse: $b")
    }
    val total = bars.map(_.getAs[Long]("n_events")).sum
    assert(total === ev.count(), "bars must partition the stream")

    // open/close are arrival-ORDER selections: first/last value of a
    // handcrafted out-of-order frame
    val df = Seq(
      (1L, 1000L, 5.0), (1L, 500L, 9.0), (1L, 1500L, 2.0))
      .toDF("k", "t", "v")
      .withColumn("ts", timestamp_seconds(col("t")))
    val one = Timeseries.resampleOhlc(df, col("k"), col("ts"),
      Seq(col("t")), col("v"), 86400L).collect()(0)
    assert(one.getAs[Double]("open") === 9.0 && one.getAs[Double]("close") === 2.0)
    assert(one.getAs[Double]("high") === 9.0 && one.getAs[Double]("low") === 2.0)
    assert(one.getAs[Long]("sum_u") === 160000L)
  }

  test("winsorizedStats: boundary and clamping invariants") {
    val ev = Tables.events(spark, sf)
    val rows = Analytics.winsorizedStats(ev, Seq(col("event_type")), col("value"))
      .collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val n = r.getAs[Long]("n_rows")
      val (lo, hi) = (r.getAs[Double]("lo"), r.getAs[Double]("hi"))
      val (cl, ch) = (r.getAs[Long]("n_clipped_lo"), r.getAs[Long]("n_clipped_hi"))
      assert(lo <= hi, s"lo<=hi violated: $r")
      // nearest-rank p5/p95: strictly-below-lo count < 5% of n, and
      // strictly-above-hi count <= 5% of n
      assert(cl < (n * 5 + 99) / 100, s"clip-lo count must stay under k_lo: $r")
      assert(ch <= n - (n * 95 + 99) / 100, s"clip-hi count must stay under n-k_hi: $r")
      // clamped sum bounded by the band
      val su = r.getAs[Long]("sum_u")
      assert(su >= (lo * 10000).round * n && su <= (hi * 10000).round * n,
        s"winsorized sum must sit inside the band: $r")
    }

    // handcrafted: 1..100 at 2dp, p5/p95 nearest-rank = 5 and 95; the two
    // outliers beyond the band clamp onto it
    val hand = ((1 to 100).map(i => ("t", i.toDouble)) :+ (("t", 1e6)) :+ (("t", -1e6)))
      .toDF("g", "v")
    val h = Analytics.winsorizedStats(hand, Seq(col("g")), col("v")).collect()(0)
    assert(h.getAs[Long]("n_clipped_lo") >= 1L && h.getAs[Long]("n_clipped_hi") >= 1L)
    assert(h.getAs[Double]("lo") >= 1.0 && h.getAs[Double]("hi") <= 100.0)
  }

  test("cusumCensus: constant series never crosses; a level shift crosses after the step") {
    // constant: every deviation is 0 → no crossings, max_dev 0
    val const = (1 to 40).map(i => ("k", i, 7.0)).toDF("k", "i", "v")
    val c = Analytics.cusumCensus(const, col("k"), Seq(col("i")), col("v"), 1.0)
      .collect()(0)
    assert(c.getAs[Long]("n_crossings") === 0L)
    assert(c.getAs[Long]("max_dev_u") === 0L)
    assert(c.isNullAt(c.fieldIndex("first_cross")))

    // step 0→10 at midpoint: the mean is 5, so the cumulative deviation
    // excursion reaches 5·(n/2) units at the step — far over a 20-unit
    // budget; the first crossing must come at position > 1 (the excursion
    // accumulates) and crossings must exist
    val step = ((1 to 20).map(i => ("k", i, 0.0)) ++ (21 to 40).map(i => ("k", i, 10.0)))
      .toDF("k", "i", "v")
    val s = Analytics.cusumCensus(step, col("k"), Seq(col("i")), col("v"), 20.0)
      .collect()(0)
    assert(s.getAs[Long]("n_crossings") > 0L, s"level shift must cross: $s")
    val first = s.getAs[Long]("first_cross")
    assert(first > 1L && first <= 20L,
      s"excursion accumulates toward the step point: $s")
    // hand-check max_dev: max |cumdev| = 100 units at i=20 (20 rows × mean 5)
    assert(s.getAs[Long]("max_dev_u") === 100L * 10000L)

    // threshold above the worst excursion → zero crossings on the same data
    val q = Analytics.cusumCensus(step, col("k"), Seq(col("i")), col("v"), 101.0)
      .collect()(0)
    assert(q.getAs[Long]("n_crossings") === 0L)
  }

  test("expectations: violation counts exact, FK anti-join, one-scan report shape") {
    import graft.operators.Profile
    val facts = Seq(
      (1L, 10.0, "A"), (2L, 55.0, "A"), (3L, -1.0, "B"), (3L, 20.0, "A"), (9L, 30.0, "A"))
      .toDF("id", "qty", "flag")
    val dim = Seq(1L, 2L, 3L).toDF("pk")
    val rep = Profile.expectations(
        facts,
        rowChecks = Seq(
          "qty_in_range" -> col("qty").between(0, 50),
          "flag_valid" -> (col("flag") === "A")),
        uniqueCols = Seq("id"),
        fkChecks = Seq(("fk_dim", dim, "id", "pk")))
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("n_violations"), r.getAs[Int]("passed"))).toMap
    assert(rep("qty_in_range") === ((5L, 2L, 0)))   // 55.0 and -1.0
    assert(rep("flag_valid") === ((5L, 1L, 0)))     // the B row
    assert(rep("unique_id") === ((5L, 1L, 0)))      // id 3 twice
    assert(rep("fk_dim") === ((5L, 1L, 0)))         // id 9 unmatched
    // an all-green check reports passed=1
    val ok = Profile.expectations(facts, rowChecks = Seq("n_nonneg" -> col("id").isNotNull))
      .collect()(0)
    assert(ok.getAs[Long]("n_violations") === 0L && ok.getAs[Int]("passed") === 1)
  }

  test("bollingerCensus: constant series silent; a spike after a noisy warmup breaches") {
    // constant: zero variance → dev² (=0) is never > 0 → silent
    val const = (1 to 40).map(i => ("k", i, 7.0)).toDF("k", "i", "v")
    val c = Analytics.bollingerCensus(const, "k", Seq(col("i")), col("v"), 20).collect()(0)
    assert(c.getAs[Long]("n_eval") === 21L, "rows without a full frame must not evaluate")
    assert(c.getAs[Long]("n_breaches") === 0L)
    assert(c.isNullAt(c.fieldIndex("first_breach")))

    // alternating ±1 around 10 (nonzero σ), then one 30.0 spike: the spike
    // sits far outside mean ± 2σ of its trailing frame
    val vals = (1 to 39).map(i => ("k", i, 10.0 + (i % 2))) :+ (("k", 40, 30.0))
    val s = Analytics.bollingerCensus(vals.toDF("k", "i", "v"), "k", Seq(col("i")), col("v"), 20)
      .collect()(0)
    assert(s.getAs[Long]("n_breaches") >= 1L, s"spike must breach: $s")
    assert(s.getAs[Int]("first_breach") === 40, s"the spike row is the first breach: $s")
  }

  test("rollingMadCensus: robust to an in-frame spike where the mean/σ band is masked") {
    import graft.operators.Timeseries
    // constant: MAD 0 and every deviation 0 → silent
    val const = (1 to 30).map(i => ("k", i, 7.0)).toDF("k", "i", "v")
    val c = Analytics.rollingMadCensus(const, "k", Seq(col("i")), col("v"), 7).collect()(0)
    assert(c.getAs[Long]("n_eval") === 24L, "rows without a full frame must not evaluate")
    assert(c.getAs[Long]("n_outliers") === 0L)
    assert(c.isNullAt(c.fieldIndex("first_outlier")))

    // ±1 jitter around 10 with a 40.0 spike at i=20: the spike flags, and —
    // the robustness claim — the NEXT rows' frames contain the spike yet
    // their median/MAD barely move, so normal rows after it stay silent
    val vals = (1 to 30).map(i => ("k", i, if (i == 20) 40.0 else 10.0 + (i % 2)))
      .toDF("k", "i", "v")
    val s = Analytics.rollingMadCensus(vals, "k", Seq(col("i")), col("v"), 7).collect()(0)
    assert(s.getAs[Long]("n_outliers") === 1L,
      s"exactly the spike flags — post-spike frames must not cascade: $s")
    assert(s.getAs[Number]("first_outlier").longValue() === 20L, s"spike row flags: $s")

    // zero-MAD majority-constant frame: any deviation flags (the convention)
    val zm = ((1 to 10).map(i => ("k", i, 3.0)) :+ (("k", 11, 3.2)))
      .toDF("k", "i", "v")
    val z = Analytics.rollingMadCensus(zm, "k", Seq(col("i")), col("v"), 7).collect()(0)
    assert(z.getAs[Long]("n_outliers") === 1L &&
      z.getAs[Number]("first_outlier").longValue() === 11L, s"$z")
    ()
  }

  test("timeWeightedAvg: holds-until-next weighting; burst of dense readings doesn't dominate") {
    import graft.operators.Timeseries
    // value 10 held for 9s, then a 1s burst of 100s: twavg = (10·9 + 100·1)/10 = 19
    // (a plain AVG of the readings would say (10+100+100)/3 = 70)
    val rows = Seq(("k", 0L, 10.0), ("k", 9000000L, 100.0), ("k", 10000000L, 100.0))
      .toDF("k", "ts_us", "v")
    val out = Timeseries.timeWeightedAvg(rows, col("k"), col("ts_us"),
      Seq(col("ts_us")), col("v")).collect()(0)
    assert(out.getAs[Long]("n_segments") === 2L)
    assert(out.getAs[Long]("dur_ms") === 10000L)
    assert(out.getAs[Double]("twavg") === 19.0, s"$out")
    // a key with all readings in one millisecond has no elapsed time → dropped
    val degenerate = Seq(("z", 5L, 1.0), ("z", 900L, 2.0)).toDF("k", "ts_us", "v")
    assert(Timeseries.timeWeightedAvg(degenerate, col("k"), col("ts_us"),
      Seq(col("ts_us")), col("v")).count() === 0L)
  }

  test("seasonalIndex: flat series indexes to 1; load concentrated in one phase scales exactly") {
    import graft.operators.Timeseries
    // key flat: same value every phase → every index exactly 1.0
    // key peaky: phase 0 runs at 3x the phase-1/2 level → indexes 1.8, 0.6, 0.6
    //   (means 30,10,10; overall 50/3 → 30/(50/3) = 1.8)
    val rows = (0 until 12).flatMap { i =>
      Seq(("flat", i % 3, 5.0), ("peaky", i % 3, if (i % 3 == 0) 30.0 else 10.0))
    }.toDF("k", "p", "v")
    val out = Timeseries.seasonalIndex(rows, col("k"), col("p"), col("v"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(3))).toSeq.sorted
    assert(out === Seq(("flat", 0, 1.0), ("flat", 1, 1.0), ("flat", 2, 1.0),
      ("peaky", 0, 1.8), ("peaky", 1, 0.6), ("peaky", 2, 0.6)), s"$out")
  }

  test("autocorrCensus: alternating series is perfectly anti-correlated at lag 1, correlated at lag 2") {
    // x = +5, -5, +5, ... : lag-1 pairs are (5,-5)/(-5,5) -> r = -1;
    // lag-2 pairs repeat the same value -> r = +1.
    val alt = (1 to 40).map(i => ("k", i, if (i % 2 == 0) 5.0 else -5.0))
      .toDF("k", "i", "v")
    val r = Analytics.autocorrCensus(alt, "k", Seq(col("i")), col("v"), Seq(1, 2))
      .collect().map(x => x.getInt(1) -> x.getDouble(3)).toMap
    assert(r(1) === -1.0, s"lag-1 ACF of an alternating series must be -1: $r")
    assert(r(2) === 1.0, s"lag-2 ACF of an alternating series must be +1: $r")
  }

  test("autocorrCensus: constant series hits the degenerate sentinel; pair counts are n-lag") {
    val const = (1 to 10).map(i => ("k", i, 7.0)).toDF("k", "i", "v")
    val rows = Analytics.autocorrCensus(const, "k", Seq(col("i")), col("v"), Seq(1, 3))
      .collect().map(x => x.getInt(1) -> (x.getLong(2), x.getDouble(3))).toMap
    assert(rows(1) === ((9L, 2.0)), "zero-variance lag must emit sentinel 2.0 with n-1 pairs")
    assert(rows(3) === ((7L, 2.0)), "lag 3 pairs over 10 rows = 7")
  }

  test("giniPerGroup: equal masses give 0; total concentration approaches (n-1)/n") {
    val eq = (1 to 8).map(i => ("a", i.toLong, 50L)).toDF("g", "id", "x")
    val g1 = Analytics.giniPerGroup(eq, Seq(col("g")), col("x"), col("id"))
      .collect()(0)
    assert(g1.getLong(1) === 8L && g1.getLong(2) === 0L,
      "uniform distribution has Gini 0")

    // one holder owns everything: G = (n-1)/n = 3/4 at n=4
    val conc = Seq(("b", 1L, 0L), ("b", 2L, 0L), ("b", 3L, 0L), ("b", 4L, 100L))
      .toDF("g", "id", "x")
    val g2 = Analytics.giniPerGroup(conc, Seq(col("g")), col("x"), col("id"))
      .collect()(0)
    assert(g2.getLong(2) === 750000L, s"full concentration at n=4 is 750000 ppm: $g2")

    // zero-mass group is dropped, not divided by zero
    val zero = Seq(("z", 1L, 0L)).toDF("g", "id", "x")
    assert(Analytics.giniPerGroup(zero, Seq(col("g")), col("x"), col("id")).count() === 0L)
  }

  test("benfordCensus: digits census is exact and a known skewed fixture deviates as computed") {
    // fixture: 30 values starting with 1, 10 with 2, 5 with 9
    val vals = (1 to 30).map(i => 100L + i) ++ (1 to 10).map(i => 2000L + i) ++
      (1 to 5).map(i => 90L + i)
    val df = vals.toDF("v")
    val out = Analytics.benfordCensus(df, col("v")).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1)._1 === 30L && out(2)._1 === 10L && out(9)._1 === 5L)
    // 30/45 -> 666667 ppm round-half-up
    assert(out(1)._2 === 666667L, s"obs ppm must round half-up: ${out(1)}")
    assert(out(1)._3 === 301030L, "expected ppm is the published Benford constant")
    // non-positive values are excluded from the census
    val withZero = (vals :+ 0L :+ -7L).toDF("v")
    assert(Analytics.benfordCensus(withZero, col("v"))
      .agg(sum(col("n"))).collect()(0).getLong(0) === 45L)
  }

  test("coverageSpans: overlapping and touching holds merge, distant ones don't") {
    import graft.operators.Timeseries
    // hold = 300s: [0,300)+[100,400) merge; [400,700) touches and merges;
    // [1000000,1000300) stands alone
    val ev = Seq(("u", 0L), ("u", 100000000L), ("u", 400000000L), ("u", 1000000000000L))
      .toDF("k", "ts_us")
    val out = Timeseries.coverageSpans(ev, "k", col("ts_us"), holdSeconds = 300)
      .collect()(0)
    assert(out.getLong(1) === 2L, s"two merged spans expected: $out")
    assert(out.getLong(2) === 700000000L + 300000000L,
      "active time is the union: [0,700s) + [1000000s,1000300s)")
    assert(out.getLong(3) === 700000000L, "longest span is the merged 700s run")
  }

  test("spearmanPerGroup: 1 on any monotone relation, -1 reversed, sentinel on constant") {
    val mono = (1 to 20).map(i => ("g", i.toLong, i.toLong * i * i)).toDF("g", "x", "y")
    val r1 = Analytics.spearmanPerGroup(mono, Seq(col("g")), col("x"), col("y"))
      .collect()(0).getDouble(2)
    assert(r1 === 1.0, "Spearman is 1 for any strictly monotone relation (x vs x^3)")

    val rev = (1 to 20).map(i => ("g", i.toLong, -i.toLong)).toDF("g", "x", "y")
    val r2 = Analytics.spearmanPerGroup(rev, Seq(col("g")), col("x"), col("y"))
      .collect()(0).getDouble(2)
    assert(r2 === -1.0)

    val const = (1 to 10).map(i => ("g", i.toLong, 5L)).toDF("g", "x", "y")
    val r3 = Analytics.spearmanPerGroup(const, Seq(col("g")), col("x"), col("y"))
      .collect()(0).getDouble(2)
    assert(r3 === 2.0, "zero rank variance must emit the sentinel")

    // tie correction: y has heavy ties but still monotone-nondecreasing in
    // x; tie-corrected rho must stay strictly below 1
    val tied = (1 to 20).map(i => ("g", i.toLong, (i / 5).toLong)).toDF("g", "x", "y")
    val r4 = Analytics.spearmanPerGroup(tied, Seq(col("g")), col("x"), col("y"))
      .collect()(0).getDouble(2)
    assert(r4 > 0.9 && r4 < 1.0, s"tied monotone data: high but < 1, got $r4")
  }

  test("associationRules: known baskets give exact support/confidence/lift ppm") {
    // b1{x,y,z} b2{x,y} b3{x,z} b4{y}; duplicate item in b2 must collapse
    val rows = Seq(
      (1L, "x"), (1L, "y"), (1L, "z"),
      (2L, "x"), (2L, "y"), (2L, "y"),
      (3L, "x"), (3L, "z"),
      (4L, "y")).toDF("bk", "it")
    val out = Analytics.associationRules(rows, col("bk"), col("it"), minSupport = 2)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(out.keySet === Set(("x", "y"), ("x", "z")), s"min-support 2 keeps two pairs: $out")
    // (x,y): n=2, supp 2/4, conf 2/3 both ways, lift 2*4/(3*3)
    assert(out(("x", "y")) === ((2L, 500000L, 666667L, 666667L, 888889L)))
    // (x,z): conf z->x = 2/2, lift 2*4/(3*2)
    assert(out(("x", "z")) === ((2L, 500000L, 666667L, 1000000L, 1333333L)))
  }

  test("fkGradeMilli/readabilityCensus: exact milli grades, clamping, zero-word drop") {
    val twenty = ("a " * 20).trim + "."
    val forty = ("a " * 40).trim + "."
    val df = Seq(("s1", twenty), ("s1", forty), ("s2", ""), ("s2", "!!!"))
      .toDF("source", "text")
    val per = df.select(col("text"), TextAnalysis.fkGradeMilli(col("text")).as("g"))
      .collect().map(r => r.getString(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    // 20 one-syllable words, 1 sentence: 390*20 + 11800 - 15590 = 4010
    assert(per(twenty) === Some(4010L), s"exact FK milli grade: $per")
    assert(per(forty) === Some(11810L), "longer sentences raise the grade")
    assert(per("") === None && per("!!!") === None, "zero-word docs drop")

    val census = TextAnalysis.readabilityCensus(df, Seq(col("source")), col("text"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(census("s1") === ((2L, 7910L)), "mean of 4010 and 11810")
    assert(!census.contains("s2"), "a source with only word-less docs vanishes")

    // clamp: a short simple sentence computes negative and clamps to 0
    val clamped = Seq(("c", "The cat sat.")).toDF("source", "text")
    val g = TextAnalysis.readabilityCensus(clamped, Seq(col("source")), col("text"))
      .collect()(0).getLong(2)
    assert(g === 0L, "negative grades clamp to zero")
  }

  test("pettittCensus: a clean step locates exactly; constants report zero; outliers don't move it") {
    // 10 zeros then 10 tens: D = 11 early / 31 late, n = 20, so
    // U_t = -10t for t <= 10 -> K = 100 at t = 10, direction -1 (upward shift)
    val step = ((1 to 10).map(i => ("k", i, 0.0)) ++ (11 to 20).map(i => ("k", i, 10.0)))
      .toDF("k", "i", "v")
    val s = Analytics.pettittCensus(step, "k", Seq(col("i")), col("v")).collect()(0)
    assert((s.getLong(1), s.getLong(2), s.getLong(3), s.getLong(4))
      === ((20L, 100L, 10L, -1L)), s"hand-computed step census: $s")

    val const = (1 to 12).map(i => ("k", i, 7.0)).toDF("k", "i", "v")
    val c = Analytics.pettittCensus(const, "k", Seq(col("i")), col("v")).collect()(0)
    assert((c.getLong(2), c.getLong(3), c.getLong(4)) === ((0L, 1L, 0L)),
      "constant series: zero statistic, earliest t, no direction")

    // one huge outlier mid-regime must NOT relocate the changepoint (ranks
    // cap its influence) — the advantage over mean-based CUSUM
    val noisy = ((1 to 10).map(i => ("k", i, 0.0)) ++ (11 to 20).map(i => ("k", i, 10.0)))
      .map { case (k, i, v) => if (i == 5) (k, i, 1e6) else (k, i, v) }
      .toDF("k", "i", "v")
    val o = Analytics.pettittCensus(noisy, "k", Seq(col("i")), col("v")).collect()(0)
    assert(o.getLong(3) === 10L, s"outlier-immune: changepoint stays at 10: $o")

    // a single-row key has no split point and drops
    val one = Seq(("solo", 1, 5.0)).toDF("k", "i", "v")
    assert(Analytics.pettittCensus(one, "k", Seq(col("i")), col("v")).count() === 0L)
  }

  test("weightedMedianPerGroup: mass midpoint, not count midpoint; zero-weight group drops") {
    // values 1..4 with weight 1 except value 4 carries weight 10: count
    // median is 2, but the MASS midpoint is 4 (10 of 13 units sit there)
    val heavy = Seq(("g", 1L, 1L, 1L), ("g", 2L, 1L, 2L), ("g", 3L, 1L, 3L),
      ("g", 4L, 10L, 4L)).toDF("g", "v", "w", "id")
    val h = Analytics.weightedMedianPerGroup(heavy, Seq(col("g")), col("v"),
      col("w"), col("id")).collect()(0)
    assert((h.getLong(1), h.getLong(2), h.getLong(3)) === ((4L, 13L, 4L)),
      s"mass midpoint must be 4: $h")

    // uniform weights reduce to the lower median
    val unif = (1 to 5).map(i => ("u", i.toLong, 1L, i.toLong)).toDF("g", "v", "w", "id")
    assert(Analytics.weightedMedianPerGroup(unif, Seq(col("g")), col("v"),
      col("w"), col("id")).collect()(0).getLong(3) === 3L)

    // even split: 2*cum >= tot first holds at the LOWER midpoint
    val even = Seq(("e", 1L, 1L, 1L), ("e", 9L, 1L, 2L)).toDF("g", "v", "w", "id")
    assert(Analytics.weightedMedianPerGroup(even, Seq(col("g")), col("v"),
      col("w"), col("id")).collect()(0).getLong(3) === 1L)

    val zero = Seq(("z", 5L, 0L, 1L)).toDF("g", "v", "w", "id")
    assert(Analytics.weightedMedianPerGroup(zero, Seq(col("g")), col("v"),
      col("w"), col("id")).count() === 0L)
  }

  test("dwellCensus: stints are holds-until-next per key; last events drop; means round half-up") {
    import graft.operators.Timeseries
    // u1: a@0 (dwell 10), b@10 (dwell 5), a@15 (last, drops)
    // u2: a@100 (dwell 3), b@103 (last, drops)
    val ev = Seq(
      ("u1", 0L, 1L, "a"), ("u1", 10L, 2L, "b"), ("u1", 15L, 3L, "a"),
      ("u2", 100L, 4L, "a"), ("u2", 103L, 5L, "b"))
      .toDF("k", "ts_us", "seq", "st")
    val out = Timeseries.dwellCensus(ev, "k", Seq(col("ts_us"), col("seq")),
        col("ts_us"), col("st"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out("a") === ((2L, 13L, 7L)), s"a: stints 10+3, mean 6.5 rounds half-up to 7: $out")
    assert(out("b") === ((1L, 5L, 5L)), s"b: one 5-unit stint: $out")
  }

  test("hapaxCensus: corpus-pooled hapax fraction; repeated vocab scores 0; empty group vanishes") {
    val docs = Seq(
      ("s", "aa bb"), ("s", "aa cc"),   // aa twice across docs, bb/cc once
      ("t", "x x x"), ("t", "x"),       // one term, never hapax
      ("e", "!!!"))                     // no tokens at all
      .toDF("source", "text")
    val out = TextAnalysis.hapaxCensus(docs, Seq(col("source")), col("text"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out("s") === ((3L, 2L, 666667L)),
      s"2 of 3 distinct terms are corpus-hapax -> 666667 ppm half-up: $out")
    assert(out("t") === ((1L, 0L, 0L)), "template vocabulary has no hapax")
    assert(!out.contains("e"), "token-less group vanishes")
  }

  test("zipfCensus: exact −1 slope on a perfect power law; tie-invariant; 1-term group NULL") {
    import spark.implicits._
    // freqs 24/r at ranks 1..4: ln f = ln 24 − ln r exactly linear → OLS
    // slope −1 to machine precision, −1.0 after the 6-decimal round
    val power = (Seq.fill(24)("w1") ++ Seq.fill(12)("w2") ++
        Seq.fill(8)("w3") ++ Seq.fill(6)("w4"))
      .map(w => ("p", w)).toDF("source", "text")
    // four terms ALL tied at freq 3 → every rank assignment is a
    // permutation of the same (rank, freq) multiset; slope must be the
    // flat 0.0 regardless of which term the heap's hash tiebreak ranks
    // where (ln f constant ⇒ OLS slope exactly 0)
    val tied = Seq.fill(3)(Seq("t1", "t2", "t3", "t4")).flatten
      .map(w => ("t", w)).toDF("source", "text")
    // single-term vocabulary: no slope — NULL, not NaN
    val mono = Seq.fill(5)(("m", "only")).toDF("source", "text")
    val out = TextAnalysis.zipfCensus(power.union(tied).union(mono),
        Seq(col("source")), col("text"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toMap
    assert(out("p").copy(_4 = None) === ((50L, 4L, 4L, None)), s"power counts: $out")
    assert(out("p")._4.exists(s => math.abs(s - (-1.0)) < 1e-9),
      s"perfect 24/r law must fit slope −1: $out")
    assert(out("t").copy(_4 = None) === ((12L, 4L, 4L, None)), s"tied counts: $out")
    assert(out("t")._4.exists(s => math.abs(s) < 1e-9),
      s"all-tied frequencies: flat slope under any tiebreak: $out")
    assert(out("m") === ((5L, 1L, 1L, None)),
      s"mono vocabulary has no slope: $out")
  }

  test("bm25Scores: idf favors rare terms, tf saturates, length normalizes, no-hit scores 0") {
    // 'rare' appears in 1 of 6 docs, 'common' in 5 of 6
    val docs = Seq(
      (1L, "rare alpha beta"), (2L, "common alpha"), (3L, "common beta"),
      (4L, "common gamma"), (5L, "common delta common common common common common"),
      (6L, "common epsilon zeta eta theta iota kappa lambda mu nu xi omicron pi"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.bm25Scores(docs, col("doc_id"), col("text"),
        terms = Seq("rare", "common"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out(1L) > out(2L), s"one rare hit must outscore one common hit: $out")
    // tf saturation: 6 occurrences score more than 1 but far less than 6x
    assert(out(5L) > out(2L) && out(5L) < 6.0 * out(2L) * 0.5,
      s"tf must saturate: ${out(2L)} -> ${out(5L)}")
    // length normalization: same single 'common' hit, longer doc scores less
    assert(out(6L) < out(2L), s"longer doc with same tf must score lower: $out")
    // no query term at all -> exactly 0
    val none = TextAnalysis.bm25Scores(docs, col("doc_id"), col("text"),
        terms = Seq("absent"))
      .collect().map(_.getDouble(2))
    assert(none.forall(_ === 0.0), "docs without the term score exactly 0")
  }

  test("ksCensus: hand-computed group-vs-rest distance; identical distributions score 0") {
    // A={1,1,2}, B={2,3,3}: on grid {1,2,3} cumA=2,3,3 cumRest=0,1,3
    // -> max|cumA*3 - cumRest*3| = 6; D = 6/9 -> 666667 ppm
    val ab = Seq(("A", 1L), ("A", 1L), ("A", 2L), ("B", 2L), ("B", 3L), ("B", 3L))
      .toDF("g", "v")
    val out = Analytics.ksCensus(ab, col("g"), col("v"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out("A") === ((3L, 3L, 6L, 666667L)), s"hand-computed KS: $out")
    assert(out("B") === ((3L, 3L, 6L, 666667L)), "group-vs-rest is symmetric for two groups")

    val same = Seq(("A", 1L), ("A", 2L), ("B", 1L), ("B", 2L)).toDF("g", "v")
    val z = Analytics.ksCensus(same, col("g"), col("v"))
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(z.values.forall(_ === 0L), s"identical distributions must score 0: $z")
  }

  test("ksCensus enforces the bounded-grid contract: continuous values quantize or fail loudly") {
    // 200 distinct raw micro-unit-ish values across two shifted groups
    val wide = ((1 to 100).map(i => ("A", i * 1000L + i)) ++
      (1 to 100).map(i => ("B", i * 1000L + i + 50000L))).toDF("g", "v")
    // un-binned: the in-plan guard raises at execution (the census stays
    // lazy — Explain audits the real plan), before the grid materializes
    val e = intercept[Exception] {
      Analytics.ksCensus(wide, col("g"), col("v"), maxDistinct = 64L).collect()
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).toSeq
    assert(chain(e).exists(m => m != null && m.contains("bins")),
      s"guard must point at the bins remedy: ${chain(e)}")
    // binned: deterministic equi-width quantization, grid bounded by bins
    val binned = Analytics.ksCensus(wide, col("g"), col("v"),
        bins = Some(16), maxDistinct = 64L)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(3))).toMap
    assert(binned("A")._1 === 100L && binned("B")._1 === 100L)
    // the 50k shift moves ~half the span: a large distance must survive binning
    assert(binned("A")._2 > 0L, s"shifted distributions must still register: $binned")
    val again = Analytics.ksCensus(wide, col("g"), col("v"),
        bins = Some(16), maxDistinct = 64L)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(3))).toMap
    assert(binned === again, "binning is deterministic run to run")
    // the discrete path is unchanged: same grid in = same census out
    val ab = Seq(("A", 1L), ("A", 1L), ("A", 2L), ("B", 2L), ("B", 3L), ("B", 3L))
      .toDF("g", "v")
    val raw = Analytics.ksCensus(ab, col("g"), col("v")).collect()
      .map(r => (r.getString(0), r.getLong(3), r.getLong(4))).toSet
    assert(raw === Set(("A", 6L, 666667L), ("B", 6L, 666667L)))
  }

  test("spcCensus: run rules fire on hand-computed patterns; constants are silent") {
    // 10 zeros then 10 tens: binary split sits just inside 1 sigma, so only
    // the same-side run rule fires — 8-in-a-row completes 3 times per side
    val steps = ((1 to 10).map(i => ("k", i, 0.0)) ++ (11 to 20).map(i => ("k", i, 10.0)))
      .toDF("k", "i", "v")
    val s = Analytics.spcCensus(steps, "k", Seq(col("i")), col("v")).collect()(0)
    assert((s.getLong(1), s.getLong(2), s.getLong(3), s.getLong(4), s.getLong(5))
      === ((20L, 0L, 0L, 0L, 6L)), s"step series: only R4, 3 completions per side: $s")

    // 19 tens + a spike of 100 at the end: the spike breaches 3 sigma once;
    // the 19 below-mean rows complete 8-in-a-row 12 times
    val spike = ((1 to 19).map(i => ("k", i, 10.0)) :+ (("k", 20, 100.0)))
      .toDF("k", "i", "v")
    val p = Analytics.spcCensus(spike, "k", Seq(col("i")), col("v")).collect()(0)
    assert((p.getLong(2), p.getLong(5)) === ((1L, 12L)),
      s"spike: R1 once, R4 twelve completions: $p")

    val const = (1 to 30).map(i => ("k", i, 5.0)).toDF("k", "i", "v")
    val c = Analytics.spcCensus(const, "k", Seq(col("i")), col("v")).collect()(0)
    assert((c.getLong(2), c.getLong(3), c.getLong(4), c.getLong(5))
      === ((0L, 0L, 0L, 0L)), "a constant series fires nothing (dev = 0 has no side)")
  }

  test("aucCensus: perfect/reversed/tied separation give exactly 1, 0, and 1/2") {
    // pos scores {3,4} above neg {1,2}: AUC = 1
    val perfect = Seq(("g", 1L, false), ("g", 2L, false), ("g", 3L, true), ("g", 4L, true))
      .toDF("g", "s", "y")
    val p = Analytics.aucCensus(perfect, Seq(col("g")), col("s"), col("y")).collect()(0)
    assert((p.getLong(1), p.getLong(2), p.getLong(3), p.getLong(4), p.getLong(5))
      === ((2L, 2L, 8L, 8L, 1000000L)), s"perfect separation: $p")

    val reversed = Seq(("g", 1L, true), ("g", 2L, true), ("g", 3L, false), ("g", 4L, false))
      .toDF("g", "s", "y")
    assert(Analytics.aucCensus(reversed, Seq(col("g")), col("s"), col("y"))
      .collect()(0).getLong(5) === 0L, "reversed separation is AUC 0")

    // all scores tied: every pair is a half-win -> exactly 1/2
    val tied = Seq(("g", 7L, true), ("g", 7L, true), ("g", 7L, false), ("g", 7L, false))
      .toDF("g", "s", "y")
    assert(Analytics.aucCensus(tied, Seq(col("g")), col("s"), col("y"))
      .collect()(0).getLong(5) === 500000L, "full ties give exactly 1/2")

    // single-class group drops
    val mono = Seq(("m", 1L, true), ("m", 2L, true)).toDF("g", "s", "y")
    assert(Analytics.aucCensus(mono, Seq(col("g")), col("s"), col("y")).count() === 0L)
  }

  test("rfmCensus: aligned dimensions quintile cleanly; recency is against the corpus max") {
    // entity i (1..10): i activity rows, last ts = i, 100 cents each ->
    // all three dimensions rank identically, quintiles pair (10,9)(8,7)...
    val rows = (1 to 10).flatMap(i => (1 to i).map(_ => (i.toLong, i.toLong, 100L)))
      .toDF("e", "ts", "cents")
    val out = Analytics.rfmCensus(rows, col("e"), col("ts"), col("cents"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> (r.getLong(3), r.getLong(4))).toMap
    assert(out.keySet === (1 to 5).map(b => (b, b, b)).toSet,
      s"aligned dims occupy only the diagonal cells: ${out.keySet}")
    assert(out((1, 1, 1)) === ((2L, 1900L)), s"best cell: entities 10+9, 19 rows of 100c: $out")
    assert(out((5, 5, 5)) === ((2L, 300L)), "worst cell: entities 2+1")
  }

  test("abcCensus: 80/95 inclusive boundaries classify exactly; ties break by item") {
    val items = Seq(("p1", 80L), ("p2", 15L), ("p3", 5L)).toDF("i", "v")
    val out = Analytics.abcCensus(items, col("i"), col("v"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out("A") === ((1L, 80L, 800000L)), s"cum 80 is INSIDE the 80% cut: $out")
    assert(out("B") === ((1L, 15L, 150000L)), "cum 95 is inside the 95% cut")
    assert(out("C") === ((1L, 5L, 50000L)))

    // equal values: the (value desc, item) tie-break decides who straddles
    val tied = Seq(("a", 50L), ("b", 50L)).toDF("i", "v")
    val t = Analytics.abcCensus(tied, col("i"), col("v"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(t === Map("A" -> 1L, "C" -> 1L),
      s"first of the tie lands at cum 50% (A), second at 100% (C): $t")
  }

  test("attributionCensus: first/last/linear credit with remainder-to-last; tail events earn nothing") {
    // u1: a b c PURCHASE d  -> window 1 touches (a,b,c); d is post-conversion tail
    // u2: x PURCHASE y PURCHASE -> window 1 = (x), window 2 = (y)
    val ev = Seq(
      ("u1", 1L, "a"), ("u1", 2L, "b"), ("u1", 3L, "c"), ("u1", 4L, "purchase"),
      ("u1", 5L, "d"),
      ("u2", 1L, "x"), ("u2", 2L, "purchase"), ("u2", 3L, "y"), ("u2", 4L, "purchase"))
      .toDF("u", "i", "t")
    val out = Analytics.attributionCensus(ev, "u", Seq(col("i")), col("t"), "purchase")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // a: first of 3-touch window -> 333333 ppm; c: last -> 333333 + remainder 1
    assert(out("a") === ((1L, 0L, 333333L)), s"first touch floor share: $out")
    assert(out("b") === ((0L, 0L, 333333L)))
    assert(out("c") === ((0L, 1L, 333334L)), "last touch absorbs the split remainder")
    assert(out("x") === ((1L, 1L, 1000000L)), "solo touch is first, last, and full credit")
    assert(out("y") === ((1L, 1L, 1000000L)), "window 2 credits the post-conv pre-next event")
    assert(!out.contains("d"), "events after the final conversion earn nothing")
    assert(!out.contains("purchase"), "conversions themselves earn no credit")
    // invariant: linear credit sums to 1e6 per converted window with touches
    assert(out.values.map(_._3).sum === 3000000L)
  }

  test("saxSymbols: a ramp spells the full alphabet; constants are uniform; short series collapse ranks") {
    import graft.operators.Timeseries
    val ramp = (1 to 16).map(i => ("k", i, i.toDouble)).toDF("k", "i", "v")
    val out = Timeseries.saxSymbols(ramp, "k", Seq(col("i")), col("v"),
        buckets = 4, alphabet = 4)
      .collect().map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3))).toMap
    // PAA means 2.5/6.5/10.5/14.5 in micro-units; quartile breakpoints at
    // values 4, 8, 12 -> symbols 0,1,2,3
    assert(out === Map(0L -> (25000L, 0L), 1L -> (65000L, 1L),
      2L -> (105000L, 2L), 3L -> (145000L, 3L)), s"ramp SAX: $out")

    val const = (1 to 8).map(i => ("c", i, 5.0)).toDF("k", "i", "v")
    val c = Timeseries.saxSymbols(const, "k", Seq(col("i")), col("v"),
        buckets = 4, alphabet = 4)
      .collect().map(r => (r.getLong(2), r.getLong(3))).toSet
    assert(c === Set((50000L, 3L)),
      s"constant: all three (equal) breakpoints sit <= the mean everywhere: $c")

    // n=2 with alphabet 4: quartile ranks 1,1,2 collapse to two breakpoints
    val short = Seq(("s", 1, 1.0), ("s", 2, 9.0)).toDF("k", "i", "v")
    val sh = Timeseries.saxSymbols(short, "k", Seq(col("i")), col("v"),
        buckets = 2, alphabet = 4)
      .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
    assert(sh === Map(0L -> 1L, 1L -> 2L),
      s"collapsed ranks: low point clears one breakpoint, high point both: $sh")
  }

  test("saxSymbols fails loudly on a signed series instead of diverging from the oracle") {
    import graft.operators.Timeseries
    // round-half-up integral division floors on DuckDB but truncates on
    // Spark for negative sums — the contract is now enforced, not advisory
    val signed = Seq(("k", 1, 1.0), ("k", 2, -3.5), ("k", 3, 2.0), ("k", 4, 4.0))
      .toDF("k", "i", "v")
    val e = intercept[Exception] {
      Timeseries.saxSymbols(signed, "k", Seq(col("i")), col("v"),
        buckets = 2, alphabet = 2).collect()
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).toSeq
    assert(chain(e).exists(m => m != null && m.contains("shift the series")),
      s"negative quantized values must raise the contract message: ${chain(e)}")
    // a shifted copy of the same series runs clean
    val ok = Timeseries.saxSymbols(signed.withColumn("v", col("v") + 10.0),
      "k", Seq(col("i")), col("v"), buckets = 2, alphabet = 2).collect()
    assert(ok.nonEmpty)
  }

  test("winsorizedStatsApprox: sketch boundaries track the exact form within rank tolerance") {
    val ev = Tables.events(spark, sf)
    val exact = Analytics.winsorizedStats(ev, Seq(col("event_type")), col("value"))
      .collect().map(r => r.getString(0) -> r).toMap
    val approx = Analytics.winsorizedStatsApprox(ev, Seq(col("event_type")), col("value"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(approx.keySet === exact.keySet)
    for ((k, a) <- approx) {
      val e = exact(k)
      val n = e.getAs[Long]("n_rows")
      assert(a.getAs[Long]("n_rows") === n)
      // clipped FRACTIONS stay near the nominal tails even when the sketch
      // boundary lands a few ranks off the exact one
      assert(a.getAs[Long]("n_clipped_lo") <= n * 7 / 100 + 1, s"$k: $a vs exact $e")
      assert(a.getAs[Long]("n_clipped_hi") <= n * 7 / 100 + 1, s"$k: $a vs exact $e")
      // boundaries are real multiset elements inside the exact band's
      // neighbourhood: within the [p3, p97] envelope measured exactly
      assert(a.getAs[Double]("lo") <= a.getAs[Double]("hi"))
      val su = a.getAs[Long]("sum_u")
      assert(su >= (a.getAs[Double]("lo") * 10000).round * n &&
        su <= (a.getAs[Double]("hi") * 10000).round * n)
    }
  }

  test("percentile_approx exact regime: n < accuracy/2 keeps every sample — quantiles are ceil(p*n) order statistics; guard trips when outgrown") {
    import spark.implicits._
    // shuffled distinct doubles across 4 partitions: exercises the GK
    // partial update AND the summary merge path, not just a single buffer
    val n = 1501
    val vals = (1 to n).map(i => ((i * 7919) % n).toDouble + 0.25)
    val df = vals.map(("g", _)).toDF("g", "v").repartition(4)
    val acc = 4096 // n < acc/2 => compression can never drop a sample
    val got = df.groupBy("g").agg(
        percentile_approx(col("v"), lit(0.25), lit(acc)).as("p25"),
        percentile_approx(col("v"), lit(0.5), lit(acc)).as("p50"),
        percentile_approx(col("v"), lit(0.75), lit(acc)).as("p75"),
        percentile_approx(col("v"), lit(0.9), lit(acc)).as("p90"))
      .collect()(0)
    val sorted = vals.sorted
    def os(p: Double) = sorted(math.ceil(p * n).toInt - 1)
    assert(got.getDouble(1) === os(0.25))
    assert(got.getDouble(2) === os(0.5))
    assert(got.getDouble(3) === os(0.75))
    assert(got.getDouble(4) === os(0.9))
    // the q_approx_percentiles_exact contract guard: a group past the
    // no-drop bound must raise loudly, not drift to estimates
    val guard = df.groupBy("g").count().agg(max(col("count")).as("__mx"))
    val guarded = Guards.inPlanAssert(
      df.groupBy("g").agg(percentile_approx(col("v"), lit(0.5), lit(100)).as("p50")),
      guard, col("__mx") * 2 < 100, "exact-regime outgrown")
    val e = intercept[Exception](guarded.collect())
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("exact-regime outgrown")), s"got: $e")
  }
}
