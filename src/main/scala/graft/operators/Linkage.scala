package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Entity resolution / record linkage: find, for every dirty record, its
  * best fuzzy match in a clean reference table — the classic
  * "link the crawl's author strings to the canonical author list" step.
  *
  * All-pairs edit distance is O(|L|·|R|) and dead at scale; the standard
  * shape (Christen, "Data Matching", 2012) is BLOCK → VERIFY → RESOLVE:
  *   1. q-gram blocking: each name emits the q-grams of its tail; records
  *      sharing any gram land in one candidate block. A single edit
  *      disturbs at most q grams, so near matches almost always share one.
  *   2. frequency capping with a per-record floor: grams more common than
  *      `maxGramFreq` (the '0000'-style stop-grams) are dropped BEFORE the
  *      join — the skew guard: without it one hot gram turns the block
  *      join into a quadratic straggler. The cap bounds per-gram fanout at
  *      |L|·maxGramFreq. Because the cap is a GLOBAL threshold it would
  *      rot recall as the corpus grows (more records become all-hot and
  *      lose every block key — measured on a Zipf-name fixture, SCALE.md
  *      r18), so a record whose every reference-present gram is hot keeps
  *      its rarest `floorGrams` hot grams instead of going unindexed, and
  *      the reference side is first deduped by NAME (min-id
  *      representative — output-preserving under the resolve total order)
  *      so floored-gram fanout counts distinct names, not records.
  *   3. verify: codegen'd `levenshtein` on the DISTINCT candidate pairs
  *      only; keep dist ≤ maxDist.
  *   4. resolve: best match per left record, total order (dist, right id).
  *
  * Plan at 100 TB: gram explode (narrow, ids + name lengths only) →
  * hash-partition both sides on gram → pair dedup (hash agg on two id
  * longs) → id-keyed name reattach → per-pair scalar verify →
  * per-left-id window for the argmin. No broadcast of either corpus and
  * no all-pairs product anywhere; the one corpus-DERIVED table both
  * sides consult is the reference gram-frequency census `dfreq` (one
  * row per distinct tail gram — bounded by alphabet^gramWidth, ~2M for
  * ASCII q=4, NOT by record count), joined WITHOUT a broadcast hint:
  * the planner/AQE broadcasts it at runtime when it is census-sized and
  * falls back to a gram-keyed shuffle join when a non-ASCII alphabet or
  * a caller-raised gramWidth/tailLen makes it corpus-sized — the same
  * exchange class as the block join itself, never a driver OOM. Every
  * exchange is keyed on gram or pair id, and no fanout exchange carries
  * a string payload (dfreq rows are gram+count; the fanout rows are
  * ids + lengths).
  */
object Linkage {

  /** Shared defaults of the blocking parameters: one value for every
    * method that takes them.
    */
  val DefaultGramWidth = 4
  val DefaultTailLen = 8
  val DefaultMaxGramFreq = 200L
  val DefaultFloorGrams = 2
  val DefaultFloorBlockCap = 128L

  /** Q-grams of the last `tailLen` chars of `name` (the discriminative
    * zone for id-suffixed names; pass the whole string by raising
    * `tailLen`). Pure array expression — no UDF.
    */
  private def tailGrams(name: Column, gramWidth: Int, tailLen: Int): Column = {
    val tail = name.substr(
      greatest(length(name) - (tailLen - 1), lit(1)), lit(tailLen))
    transform(
      sequence(lit(1), greatest(length(tail) - (gramWidth - 1), lit(1))),
      i => tail.substr(i, lit(gramWidth)))
  }

  /** Best fuzzy match in `right` for every record of `left`.
    *
    * Inputs are (id, name) shaped via the four column args; names are
    * compared case-insensitively. Output: (left_id, right_id, dist) — one
    * row per left record that found a candidate within `maxDist`; ties
    * resolve on smallest right_id (total order, cross-engine stable).
    */
  def bestMatch(
      left: DataFrame, leftId: Column, leftName: Column,
      right: DataFrame, rightId: Column, rightName: Column,
      gramWidth: Int = DefaultGramWidth,
      tailLen: Int = DefaultTailLen,
      maxGramFreq: Long = DefaultMaxGramFreq,
      maxDist: Int = 2,
      floorGrams: Int = DefaultFloorGrams,
      floorBlockCap: Long = DefaultFloorBlockCap): DataFrame = {
    // length filter: levenshtein(a,b) >= |len(a)-len(b)|, so pairs whose
    // lengths differ by more than maxDist can never verify — pruning them
    // BEFORE the distinct shrinks the pair-dedup exchange (output-neutral)
    val pairs = candidatePairs(left, leftId, leftName, right, rightId, rightName,
      gramWidth, tailLen, maxGramFreq, maxLenDiff = Some(maxDist),
      floorGrams = floorGrams, floorBlockCap = floorBlockCap)
    // 3-arg levenshtein runs the BANDED O(maxDist·n) DP and bails with -1
    // past the threshold — the verify step's cost tracks the budget, not
    // the name length; kept rows carry the exact distance either way
    val verified = pairs
      .withColumn("dist", levenshtein(col("__ln"), col("__rn"), maxDist))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
    // resolve as a lexicographic-min AGGREGATE, not a ranking window
    // (r21, guide §2.3 "aggregate before you shuffle"): min over
    // struct(dist, right_id) IS the (dist, right_id) total order, and
    // the hash agg partially combines map-side — one row per (left_id,
    // partition) through the exchange, where row_number had to exchange
    // AND sort every verified pair. Output identical.
    verified
      .groupBy(col("left_id"))
      .agg(min(struct(col("dist"), col("right_id"))).as("__best"))
      .select(col("left_id"), col("__best.right_id").as("right_id"),
        col("__best.dist").as("dist"))
  }

  /** [[bestMatch]] with a Jaro-Winkler verifier — same BLOCK step, but the
    * verify/resolve favors shared prefixes and transpositions (human-keyed
    * typos) instead of raw edit count. Keeps candidates with similarity ≥
    * `minSim`; best match per left record = argmax, ties on smallest
    * right_id. Output: (left_id, right_id, sim) with sim rounded to 6dp —
    * the ROUNDED value also drives the argmax ordering, so the resolve is
    * stable cross-engine even if a foreign implementation differs in the
    * last float bits.
    *
    * Length prune (output-neutral): matches are bounded by the shorter
    * string — m ≤ min(|a|,|b|) gives jaro ≤ (2 + min/max)/3 and, with the
    * full prefix boost, jw ≤ 0.8 + 0.2·min/max. So for `minSim` > 0.8 a
    * pair whose length ratio min/max < (minSim − 0.8)/0.2 can never
    * verify, and the verify work is skipped for it up front (for
    * minSim = 0.9 that drops every pair off by more than 2× in length).
    * The oracle SQL runs without the prune — identical output either way
    * is exactly the neutrality claim.
    */
  def bestMatchJw(
      left: DataFrame, leftId: Column, leftName: Column,
      right: DataFrame, rightId: Column, rightName: Column,
      gramWidth: Int = DefaultGramWidth,
      tailLen: Int = DefaultTailLen,
      maxGramFreq: Long = DefaultMaxGramFreq,
      minSim: Double = 0.9,
      floorGrams: Int = DefaultFloorGrams,
      floorBlockCap: Long = DefaultFloorBlockCap): DataFrame = {
    // jw ≤ 0.8 + 0.2·min/max (see scaladoc): below-ratio pairs can never
    // reach minSim, so they are pruned inside the BLOCK step (before the
    // pair dedup — see candidatePairs) and never verified. The 1e-9 slack
    // keeps the float division from clipping an exactly-on-the-bound pair.
    val pairs = candidatePairs(left, leftId, leftName, right, rightId, rightName,
      gramWidth, tailLen, maxGramFreq, maxLenDiff = None,
      minLenRatio = if (minSim > 0.8) Some((minSim - 0.8) / 0.2 - 1e-9) else None,
      floorGrams = floorGrams, floorBlockCap = floorBlockCap)
    val verified = pairs
      .withColumn("sim",
        round(graft.functions.JaroWinkler.jaroWinkler(col("__ln"), col("__rn")), 6))
      .filter(col("sim") >= minSim)
    // argmax via lexicographic-min aggregate (see bestMatch): min over
    // struct(−sim, right_id) IS the (sim desc, right_id asc) total order
    // — negation of the 6dp-rounded non-negative sim is exact, and every
    // equal sim maps to the same negated key. Map-side combinable where
    // the ranking window exchanged + sorted every verified pair.
    verified
      .groupBy(col("left_id"))
      .agg(min(struct(negate(col("sim")).as("nsim"), col("right_id"))).as("__best"))
      .select(col("left_id"), col("__best.right_id").as("right_id"),
        negate(col("__best.nsim")).as("sim"))
  }

  /** The shared BLOCK step: distinct candidate pairs
    * (left_id, __ln, right_id, __rn) from q-gram blocking with stop-gram
    * capping, optionally length-pruned for edit-bounded verifiers.
    *
    * The heavy exchanges — the per-gram fanout join and the pair-dedup
    * hash agg — carry `(id, length(name))`, NEVER the name strings: the
    * gram join's output is Σ(per-gram |L|·|R|) rows and the dedup keys
    * hash far cheaper as two longs than as two longs plus two strings.
    * Names re-attach AFTER the dedup via two id-keyed joins against the
    * (|L|- and |R|-sized) name tables — broadcastable when a side is a
    * dimension, plain shuffle-hash on id otherwise, either way touching
    * |pairs| + |names| rows instead of widening every fanout row. The
    * length prunes still run BEFORE the dedup (lengths ride the gram
    * rows), so pruned pairs never reach the pair exchange at all.
    *
    * AQE dependency (deliberate): the gram-frequency join carries NO
    * broadcast hint — dfreq is normally census-sized (≤ alphabet^gramWidth
    * rows) and AQE converts it to a runtime broadcast for free, while a
    * FORCED hint is a driver OOM when a non-ASCII alphabet or raised
    * gramWidth/tailLen makes dfreq track distinct names. The flip side:
    * with `spark.sql.adaptive.enabled=false` (or a tiny
    * `autoBroadcastJoinThreshold`) every gram-fanout row pays a full
    * gram-keyed shuffle join — correct, same exchange class the operator
    * already lives in, but slower; re-enable AQE (the engine default)
    * rather than re-adding the hint.
    */
  private def candidatePairs(
      left: DataFrame, leftId: Column, leftName: Column,
      right: DataFrame, rightId: Column, rightName: Column,
      gramWidth: Int, tailLen: Int, maxGramFreq: Long,
      maxLenDiff: Option[Int], minLenRatio: Option[Double] = None,
      floorGrams: Int = DefaultFloorGrams,
      floorBlockCap: Long = DefaultFloorBlockCap): DataFrame = {
    val l = left.select(leftId.as("left_id"), lower(leftName).as("__ln"))
    val r = right.select(rightId.as("right_id"), lower(rightName).as("__rn"))

    // Reference NAME-dedup — an output-preserving collapse: the resolve
    // step's total order is (dist/sim, right_id), and identical names
    // produce identical grams and identical verify scores, so for any
    // candidate (l, id) its name's min-id twin (l, min_id) is also a
    // candidate with the same score and min_id ≤ id — the winner is
    // ALWAYS a min-id representative. Verifying against distinct names
    // only is therefore exact, and it is what keeps the rarest-gram floor
    // below bounded: on a corpus where many records share few popular
    // names (the Zipf-name shape), per-gram fanout counts DISTINCT names,
    // not records.
    val rDedup = r.groupBy(col("__rn")).agg(min(col("right_id")).as("right_id"))
      .select(col("right_id"), col("__rn"))

    def explodeGrams(df: DataFrame, idCol: String, nameCol: String, lenCol: String) =
      df.select(col(idCol), length(col(nameCol)).as(lenCol),
          explode(tailGrams(col(nameCol), gramWidth, tailLen)).as("__g"))
        .dropDuplicates(idCol, "__g")

    // Lazy stage boundaries (localCheckpoint(false), never persist() — the
    // session-cache leak class): rg feeds both the df census and its own
    // kept-set pass, dfreq feeds BOTH sides' kept passes, and exchange
    // reuse does not fire across their differing projections — without
    // the boundaries the gram explode + dedup subtree re-executes per
    // consumer (measured: 10 customer scans / 10 Window nodes / 2 reused
    // exchanges at sf0.1, 10.4 s vs the 2.5 s r17 plan).
    val lg = explodeGrams(l, "left_id", "__ln", "__ll").localCheckpoint(false)
    val rg = explodeGrams(rDedup, "right_id", "__rn", "__rl").localCheckpoint(false)

    // Gram document frequencies, measured on the (deduped) reference side
    // — the side a production pipeline has profiled ahead of time.
    val dfreq = rg.groupBy(col("__g")).agg(count(lit(1)).as("__f"))
      .localCheckpoint(false)

    // Per-record kept set = all COLD grams (1 ≤ df ≤ cap — the unchanged
    // fast path) PLUS, for records having NO cold gram at all, their
    // `floorGrams` rarest hot grams. The Zipf-name measurement (SCALE.md
    // r18) showed why the bare cap rots: it is a GLOBAL threshold, so as
    // the corpus grows more records consist entirely of above-cap grams
    // and silently lose every block key (coverage 90% → 83% from ×1 to
    // ×30 while the all-hot record fraction grew 0% → 6%). The floor is
    // the per-record repair, and its CONDITION must be judged against the
    // reference df, not the record's raw gram set: a single-edit dirty
    // copy of an all-hot name gains a few NOVEL grams (absent from the
    // reference — they match nothing), and counting those as "cold" would
    // suppress the floor exactly where it is needed. The inner df join
    // below settles both at once: reference-absent grams drop out (they
    // cannot produce a candidate — removing them only shrinks the probe
    // index), and the floor triggers precisely when a record has zero
    // reference-present under-cap grams. Both sides rank by the same
    // reference df, so a floored pair's kept grams coincide unless the
    // edit disturbed exactly the rarest zone. Cost: records with any cold
    // gram keep EXACTLY their old kept set (on gram-diverse corpora like
    // the digit-tailed testdata names the floor never fires and the plan
    // cost is the old cap's), floored mass is bounded by the all-hot
    // populations, and the name-dedup above keeps reference-side floor
    // fanout counted in distinct names. (An UNCONDITIONAL rarest-hot
    // floor was tried first and re-admitted every barely-hot digit gram
    // for thousands of testdata records each — a measured hang at sf0.1;
    // the condition is load-bearing.)
    def kept(g: DataFrame, idCol: String) = {
      // The cold fast path is a single df-join + filter — no per-record
      // window over the full gram table (a first cut windowed everything
      // and paid an id-exchange + sort per side for a floor that fires on
      // a vanishing fraction of records). "Zero cold grams" ⟺ min df over
      // the record > cap: a map-combinable min agg whose exchange carries
      // one row per record, then the rarest-`floorGrams` window runs over
      // ONLY the all-hot records' grams (empty on gram-diverse corpora
      // like the testdata digit tails — AQE sees an empty/small build
      // side and the floor branch costs nothing). The dfreq join carries
      // NO broadcast hint on purpose: dfreq is normally census-sized
      // (≤ alphabet^gramWidth rows) and AQE converts to a runtime
      // broadcast for free, but a non-ASCII alphabet or caller-raised
      // gramWidth/tailLen can make it track distinct reference names —
      // a forced broadcast there is a driver OOM, while the planner's
      // fallback is a gram-keyed shuffle join (the exchange class this
      // operator already lives in).
      val withF = g.join(dfreq, Seq("__g"))
      val cold = withF.filter(col("__f") <= maxGramFreq).drop("__f")
      val allHot = withF.groupBy(col(idCol)).agg(min(col("__f")).as("__minf"))
        .filter(col("__minf") > maxGramFreq)
        .select(col(idCol))
      val w = Window.partitionBy(col(idCol)).orderBy(col("__f"), col("__g"))
      val floor = withF.join(allHot, Seq(idCol))
        .withColumn("__rk", row_number().over(w))
        .filter(col("__rk") <= floorGrams)
        // Floor-block cap — the provable fanout bound. On a corpus where
        // entire tails repeat ∝ N (the ScaleData digit tails: every
        // replica shares them), ALL records go all-hot together and even
        // their rarest grams are shared by ∝ N floorers — the floor join
        // would be quadratic (measured: ×10 linkage_blocked 10.9 → 29.8 s
        // for matches an 8-char all-digit tail cannot discriminate
        // anyway). A floored gram kept by more than `floorBlockCap`
        // records on a side carries too little signal to be worth B²
        // verify pairs; past that the honest fix is a wider tailLen, not
        // a bigger join. Bound: floor pairs ≤ floorBlockCap² per gram,
        // and the rescue keeps working wherever rarest grams are shared
        // by small cohorts (the Zipf-name fixture's all-hot class —
        // coverage measured unchanged with the cap in place).
        .withColumn("__bc", count(lit(1)).over(Window.partitionBy(col("__g"))))
        .filter(col("__bc") <= floorBlockCap)
        .drop("__f", "__rk", "__bc")
      cold.unionByName(floor)
    }
    val lgCold = kept(lg, "left_id")
    val rgCold = kept(rg, "right_id")

    val joined = lgCold.join(rgCold, "__g")
    val diffPruned = maxLenDiff match {
      case Some(d) => joined.filter(abs(col("__ll") - col("__rl")) <= d)
      case None => joined
    }
    val pruned = minLenRatio match {
      case Some(ratio) =>
        val lenL = col("__ll").cast("double")
        val lenR = col("__rl").cast("double")
        diffPruned.filter(least(lenL, lenR) / greatest(lenL, lenR) >= lit(ratio))
      case None => diffPruned
    }
    pruned
      .select(col("left_id"), col("right_id"))
      .distinct()
      .join(l, "left_id")
      .join(r, "right_id")
      .select(col("left_id"), col("__ln"), col("right_id"), col("__rn"))
  }
}
