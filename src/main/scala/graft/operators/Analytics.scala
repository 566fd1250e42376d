package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.IntegralDivide
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/** Per-key analytic statistics a feature-engineering / monitoring pipeline
  * runs over event streams and document corpora: exponential smoothing,
  * rolling correlation, per-group trend fits, distribution entropy,
  * deterministic mode, and Markov transition mining.
  *
  * The reference has no analytic surface (its WindowEmitter, reference
  * window.py:13-327, hands raw window contents to user code); these are
  * [EXT] operators, built so every result is bit-reproducible cross-engine:
  * inputs quantize ONCE to integer units, all accumulation happens in exact
  * integer/decimal arithmetic (Spark decimal sums ≡ DuckDB HUGEINT sums),
  * and the only floating-point step is a final division of identical
  * integers — nothing order-dependent survives to the output.
  *
  * Scale shape: everything here is per-key windows (shard by key — 10⁹
  * independent series parallelize flat) or two-level hash aggregation with
  * map-side combine. No global sorts, no driver materialization.
  */
object Analytics {

  /** `DIV` (truncating integer division — DuckDB `//`), for exact plans. */
  private def intDiv(a: Column, b: Column): Column =
    ColumnBridge.column(new IntegralDivide(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Round-half-up to `scale` dp from IEEE primitives only — multiply,
    * add, floor, long-cast, divide are each correctly rounded, so the
    * result is bit-identical on any IEEE engine (the engines' native
    * round() is NOT: at decimal ties Spark rounds the shortest decimal
    * repr, DuckDB the binary expansion). Valid while |x·10^scale| < 2⁵³.
    */
  private[operators] def ieeeRound(x: Column, scale: Int): Column = {
    val p = math.pow(10, scale)
    floor(x * p + 0.5).cast("long") / p
  }

  /** Bounded-horizon exponential moving average per key.
    *
    * The textbook EWMA recurrence y_t = α·x_t + (1−α)·y_{t−1} is inherently
    * sequential — state threads through every row of a series, which is the
    * one shape a shared-nothing engine cannot parallelize within a key. The
    * scale form truncates the geometric tail: weights α(1−α)^j decay so fast
    * that horizon K with (1−α)^K < 1e-4 changes nothing material, and the
    * truncated sum is a pure function of the last K rows — embarrassingly
    * parallel, one per-key window, no recurrence.
    *
    *   y_t = Σ_{j=0..K−1} (1−α)^j · x_{t−j}  /  Σ_{j=0..K−1 present} (1−α)^j
    *
    * (normalized over the lags that exist, so the first rows of a series
    * average over their shorter history instead of decaying toward 0).
    *
    * Exactness: x quantizes once to integer micro-units (×10⁴); weights are
    * (1−α)^j for integer j — the same double on any IEEE engine; numerator
    * and denominator are short fixed-order sums (j ascending, unrolled), so
    * the final division is bit-identical cross-engine. Output rounds to 4dp.
    */
  def ewma(
      keyCol: String,
      orderCols: Seq[Column],
      valueCol: String,
      alpha: Double,
      horizon: Int = 8): Column = {
    require(alpha > 0 && alpha < 1, s"alpha in (0,1), got $alpha")
    require(horizon >= 1, s"horizon >= 1, got $horizon")
    val w = Window.partitionBy(col(keyCol)).orderBy(orderCols: _*)
    val xu = round(col(valueCol) * 10000, 0).cast("long")
    // fixed ascending-j unrolled sums: identical association order on both
    // engines, so the doubles agree to the last bit
    val terms = (0 until horizon).map { j =>
      val wj = math.pow(1 - alpha, j)
      val lj = if (j == 0) xu else lag(xu, j).over(w)
      (when(lj.isNotNull, lit(wj) * lj).otherwise(lit(0.0)),
       when(lj.isNotNull, lit(wj)).otherwise(lit(0.0)))
    }
    val num = terms.map(_._1).reduceLeft(_ + _)
    val den = terms.map(_._2).reduceLeft(_ + _)
    round(num / den / 10000.0, 4)
  }

  /** Rolling Pearson correlation between two series over a trailing
    * `frameRows`-row frame per key, computed from EXACT integer moment sums
    * (n, Σx, Σy, Σxy, Σx², Σy² as decimal — Spark decimal agg ≡ DuckDB
    * HUGEINT, both exact) rather than the engines' native `corr` window
    * aggregate, whose incremental update order is engine-private and floats
    * in the last ulp. From identical integer moments the closed form
    *
    *   r = (n·Σxy − Σx·Σy) / sqrt(n·Σx² − (Σx)²) / sqrt(n·Σy² − (Σy)²)
    *
    * is bit-identical cross-engine (sqrt and divide are correctly-rounded
    * IEEE ops); output rounds to 4dp via [[ieeeRound]]. Degenerate frames
    * (zero variance on either side) yield the sentinel 2.0 — outside [−1,1],
    * never NULL, so the oracle hash stays total.
    *
    * Scale: one per-key window with a bounded ROWS frame — state per frame
    * is six numbers regardless of series length.
    */
  def rollingCorr(
      keyCol: String,
      orderCols: Seq[Column],
      xCol: Column,
      yCol: Column,
      frameRows: Int): Column = {
    val w = Window.partitionBy(col(keyCol)).orderBy(orderCols: _*)
      .rowsBetween(-(frameRows - 1), Window.currentRow)
    // LONG moments behind an in-plan envelope guard (r22; was six
    // DECIMAL(38,0) window sums — exact but each add/multiply runs
    // through Spark's Decimal objects in the window pass). With
    // |x|, |y| <= B = floor(sqrt(Long.Max/2) / frameRows), every moment
    // and cross product (n·Σxy, Σx·Σy, n·Σx² − (Σx)², all bounded by
    // 2·f²·B²) stays inside int64, so the LONG sums equal the DECIMAL
    // sums value-for-value and the final long→double casts are the same
    // correctly-rounded IEEE conversions the Decimal path performed —
    // bit-identical output (oracle hash-gated; DuckDB replays HUGEINT).
    // Beyond the envelope the guard FAILS LOUD per row with the DECIMAL
    // advice instead of risking silent wraparound under non-ANSI
    // sessions (ANSI mode would raise on the wrap anyway, just less
    // helpfully). It checks the value BEFORE the long cast: with ANSI
    // off, an out-of-range DECIMAL wraps on the cast (2^64 + 5 becomes
    // 5) and would pass a check of the cast value silently. Nulls pass
    // through the guard unchanged (sum/count skip them exactly as the
    // decimal form did).
    val bound = math.floor(math.sqrt(Long.MaxValue.toDouble / 2.0) / frameRows).toLong
    def guarded(c: Column, name: String): Column =
      when(assert_true(abs(coalesce(c, lit(0L))) <= bound,
        lit(s"rollingCorr: |$name| exceeds the LONG-moment envelope " +
          s"(${bound} at frameRows=$frameRows) — quantize the series " +
          "coarser or restore the DECIMAL(38,0) moment variant")).isNull, c.cast("long"))
    val x = guarded(xCol, "x")
    val y = guarded(yCol, "y")
    val n   = count(lit(1)).over(w)
    val sx  = sum(x).over(w)
    val sy  = sum(y).over(w)
    val sxy = sum(x * y).over(w)
    val sxx = sum(x * x).over(w)
    val syy = sum(y * y).over(w)
    val varX = (n * sxx - sx * sx).cast("double")
    val varY = (n * syy - sy * sy).cast("double")
    val cov  = (n * sxy - sx * sy).cast("double")
    when(varX > 0 && varY > 0, ieeeRound(cov / sqrt(varX) / sqrt(varY), 4))
      .otherwise(lit(2.0))
  }

  /** Bollinger-band breach census per key: rows whose value leaves the
    * rolling mean ± k·σ band of the trailing `frameRows` window — the band
    * monitor every metrics pipeline runs, here with ZERO float math: the
    * breach test |v − mean| > k·σ squares into
    *   (v·n − Σv)²·(n−1) > k²·n·(n·Σv² − (Σv)²)
    * over exact integer micro-unit moments (cross-multiplied so no
    * division, no sqrt — the σ never materializes), so the distributed run
    * and the single-threaded oracle agree bit-for-bit. Rows without a full
    * frame don't evaluate.
    *
    * One per-key window pass + one hash agg. Output: (key, n_eval,
    * n_breaches, first_breach — the tie-broken order position, null when
    * the key never breaches).
    */
  def bollingerCensus(
      df: DataFrame,
      keyCol: String,
      orderCols: Seq[Column],
      value: Column,
      frameRows: Int,
      k: Int = 2): DataFrame = {
    require(frameRows >= 2 && k >= 1, "bollingerCensus: frameRows >= 2, k >= 1")
    val w = Window.partitionBy(col(keyCol)).orderBy(orderCols: _*)
      .rowsBetween(-(frameRows - 1), Window.currentRow)
    val wOrd = Window.partitionBy(col(keyCol)).orderBy(orderCols: _*)
    val vu = round(value * 10000, 0).cast("long")
    val base = df.select(col(keyCol), struct(orderCols: _*).as("__ord0"), vu.as("__vu"))
    val withM = base
      .withColumn("__i", row_number().over(
        Window.partitionBy(col(keyCol)).orderBy(col("__ord0"))))
      .withColumn("__n", count(lit(1)).over(
        Window.partitionBy(col(keyCol)).orderBy(col("__ord0"))
          .rowsBetween(-(frameRows - 1), Window.currentRow)))
      .withColumn("__sx", sum(col("__vu")).over(
        Window.partitionBy(col(keyCol)).orderBy(col("__ord0"))
          .rowsBetween(-(frameRows - 1), Window.currentRow)))
      .withColumn("__sxx", sum(col("__vu") * col("__vu")).over(
        Window.partitionBy(col(keyCol)).orderBy(col("__ord0"))
          .rowsBetween(-(frameRows - 1), Window.currentRow)))
    val full = withM.filter(col("__n") === frameRows)
    val dev = col("__vu") * col("__n") - col("__sx")
    val breach = dev * dev * (col("__n") - 1) >
      lit(k.toLong * k) * col("__n") * (col("__n") * col("__sxx") - col("__sx") * col("__sx"))
    full.withColumn("__b", breach)
      .groupBy(col(keyCol))
      .agg(
        count(lit(1)).as("n_eval"),
        sum(when(col("__b"), 1L).otherwise(0L)).as("n_breaches"),
        min(when(col("__b"), col("__i"))).as("first_breach"))
  }

  /** Robust rolling-outlier census per key: rows whose value deviates from
    * the trailing-frame MEDIAN by more than `k` × the frame's MAD (median
    * absolute deviation) — the robust twin of [[bollingerCensus]]: one
    * 30× spike in the frame shifts a mean/σ band enough to mask the NEXT
    * anomaly, but barely moves the median/MAD. `frameRows` must be odd so
    * the lower median IS the median: median, deviations, and MAD are then
    * all exact integers in micro-units and the breach test
    * `|v − med| > k · MAD` never touches a float — distributed run ≡
    * single-threaded oracle bit-for-bit. A zero-MAD (majority-constant)
    * frame flags any deviation, the standard convention. Rows without a
    * full frame don't evaluate.
    *
    * Scale shape: ONE per-key window pass carrying a frame-bounded array
    * (sort cost O(frame log frame) per row, frame ≲ dozens) + one hash
    * agg; no self-join, no global sort. Output: (key, n_eval, n_outliers,
    * first_outlier — order position, null when the key never breaches).
    */
  def rollingMadCensus(
      df: DataFrame,
      keyCol: String,
      orderCols: Seq[Column],
      value: Column,
      frameRows: Int,
      k: Int = 3): DataFrame = {
    require(frameRows >= 3 && frameRows % 2 == 1 && k >= 1,
      "rollingMadCensus: frameRows odd >= 3, k >= 1")
    val mid = (frameRows + 1) / 2 // 1-based lower-median index
    val vu = round(value * 10000, 0).cast("long")
    // null observations are skipped up front (mirrored in the oracle):
    // Spark's collect_list drops nulls from the frame while DuckDB's
    // list() keeps them — filtering first gives both engines the same
    // frame contents
    val base = df.select(col(keyCol), struct(orderCols: _*).as("__ord0"), vu.as("__vu"))
      .filter(col("__vu").isNotNull)
    val wOrd = Window.partitionBy(col(keyCol)).orderBy(col("__ord0"))
    val wFrame = wOrd.rowsBetween(-(frameRows - 1), Window.currentRow)
    val withArr = base
      .withColumn("__i", row_number().over(wOrd))
      .withColumn("__arr", collect_list(col("__vu")).over(wFrame))
      .filter(size(col("__arr")) === frameRows)
      .withColumn("__med", element_at(sort_array(col("__arr")), mid))
      .withColumn("__mad", element_at(
        sort_array(transform(col("__arr"), x => abs(x - col("__med")))), mid))
      .withColumn("__b", abs(col("__vu") - col("__med")) > lit(k.toLong) * col("__mad"))
    withArr.groupBy(col(keyCol))
      .agg(
        count(lit(1)).as("n_eval"),
        sum(when(col("__b"), 1L).otherwise(0L)).as("n_outliers"),
        min(when(col("__b"), col("__i"))).as("first_outlier"))
  }

  /** Per-group ordinary-least-squares fit of y against x — the trend
    * detector behind per-segment drift monitoring. Deliberately NOT the
    * engines' `regr_slope`/`regr_intercept`: those accumulate doubles in
    * partition order, so a distributed run is not reproducible against a
    * single-threaded oracle. Here both coordinates quantize to integers
    * (y to micro-units, x shifted by `xOrigin` to keep magnitudes small),
    * the five moments aggregate as exact decimals, and slope/intercept come
    * out of one closed-form division of identical integers.
    *
    * Output: (group, n, slope, intercept) with slope/intercept rounded to
    * `scale` dp — via floor(x·10^scale + 0.5)/10^scale, every step an IEEE
    * primitive (multiply, add, floor, divide) with one correctly-rounded
    * result, so the output double is bit-identical cross-engine; the
    * engines' native round() differs at decimal-tie boundaries (Spark
    * rounds the shortest decimal repr, DuckDB the binary expansion).
    * Requires |x·10^scale| < 2⁵³. Groups with zero x-variance are dropped
    * (no fit exists).
    *
    * Scale: a two-level hash agg with map-side combine — one row per group
    * out, nothing sorts.
    */
  def regressionPerGroup(
      df: DataFrame,
      groupCols: Seq[Column],
      x: Column,
      y: Column,
      scale: Int = 6): DataFrame = {
    val dec = "decimal(38,0)"
    val xi = x.cast("long").cast(dec)
    val yi = y.cast("long").cast(dec)
    df.groupBy(groupCols: _*)
      .agg(
        count(lit(1)).cast(dec).as("n_dec"),
        sum(xi).as("sx"),
        sum(yi).as("sy"),
        sum(xi * yi).as("sxy"),
        sum(xi * xi).as("sxx"))
      .withColumn("det", (col("n_dec") * col("sxx") - col("sx") * col("sx")).cast("double"))
      .filter(col("det") > 0)
      .withColumn("slope_raw",
        (col("n_dec") * col("sxy") - col("sx") * col("sy")).cast("double") / col("det"))
      .withColumn("slope", ieeeRound(col("slope_raw"), scale))
      .withColumn("intercept", ieeeRound(
        (col("sy").cast("double") - col("slope_raw") * col("sx").cast("double"))
          / col("n_dec").cast("double"), scale))
      .withColumn("n", col("n_dec").cast("long"))
      .drop("n_dec", "sx", "sy", "sxy", "sxx", "det", "slope_raw")
  }

  /** Shannon entropy (nats) of a categorical distribution per group — the
    * label-skew / source-diversity signal a corpus monitor tracks. Two-level
    * hash agg: counts per (group, category), then H = ln(N) − Σc·ln(c)/N
    * per group from exact integer counts. That algebraic form needs only ONE
    * float sum (Σ c·ln c); with ≤ a few hundred categories per group and a
    * 6dp round, accumulation-order ulp noise is far below the output
    * precision, and DuckDB's single-threaded sum agrees.
    *
    * Output: (groupCols..., n_cats, entropy).
    */
  def categoricalEntropy(
      df: DataFrame,
      groupCols: Seq[Column],
      category: Column): DataFrame = {
    val byCat = df.groupBy((groupCols :+ category.as("__cat")): _*)
      .agg(count(lit(1)).as("__c"))
    byCat.groupBy(groupCols: _*)
      .agg(
        count(lit(1)).as("n_cats"),
        sum(col("__c")).as("__n"),
        sum(col("__c").cast("double") * log(col("__c").cast("double"))).as("__clnc"))
      .withColumn("entropy",
        round(log(col("__n").cast("double")) - col("__clnc") / col("__n"), 6))
      .drop("__n", "__clnc")
  }

  /** KL divergence of each group's category distribution against the whole
    * corpus's — the data-mixture drift monitor: "how far is source X's
    * language (or domain/label) mix from the blend the training run
    * expects?". KL(p_g ‖ q) = Σ_c (n_gc/n_g)·ln(n_gc·N / (n_g·n_c)),
    * computed from exact integer counts with the single float step
    * Σ n_gc·(ln n_gc + ln N − ln n_g − ln n_c) done per group over ≤|cats|
    * terms (same ulp-vs-6dp argument as [[categoricalEntropy]]).
    *
    * Plan shape at 100 TB: ONE corpus-sized hash agg to the (group,
    * category) joint counts; everything after runs on that compact table —
    * group totals re-aggregate it, category totals and the grand total are
    * tiny and broadcast. q_c > 0 whenever n_gc > 0 (q is the marginal of
    * the same counts), so the log never sees zero.
    *
    * Output: (groupCols..., n_rows, n_cats, kl).
    */
  def klDivergence(
      df: DataFrame,
      groupCols: Seq[Column],
      category: Column): DataFrame = {
    val joint = df.groupBy((groupCols :+ category.as("__cat")): _*)
      .agg(count(lit(1)).as("__ngc"))
    val gTot = joint.groupBy(groupCols: _*).agg(sum(col("__ngc")).as("__ng"))
    val cTot = joint.groupBy(col("__cat")).agg(sum(col("__ngc")).as("__nc"))
    val grand = cTot.agg(sum(col("__nc")).as("__n"))
    val groupNames = groupCols.map(_.toString)
    joint
      .join(gTot, groupNames)
      .join(broadcast(cTot), "__cat")
      .crossJoin(broadcast(grand))
      .groupBy(groupCols: _*)
      .agg(
        max(col("__ng")).as("n_rows"),
        count(lit(1)).as("n_cats"),
        sum(col("__ngc").cast("double") *
            (log(col("__ngc").cast("double")) + log(col("__n").cast("double"))
              - log(col("__ng").cast("double")) - log(col("__nc").cast("double"))))
          .as("__t"))
      .withColumn("kl", round(col("__t") / col("n_rows").cast("double"), 6))
      .drop("__t")
  }

  /** Pearson chi-square contribution of each row-category to the
    * (rowCat × colCat) independence test — the "is language independent of
    * source?" census. Expected counts e_rc = n_r·n_c / N from exact integer
    * marginals; UNOBSERVED cells (o = 0, e > 0) are synthesised by crossing
    * the two marginal tables (|rows|·|cols| cells — tiny) so the statistic
    * is the textbook one, then each (o−e)²/e folds back per row-category.
    *
    * Plan: one corpus-sized hash agg to the joint counts; marginals crossed
    * and broadcast; observed cells left-joined in. Output: (rowCat, n_rows,
    * n_cells, chi2).
    */
  def chiSquare(
      df: DataFrame,
      rowCat: Column,
      colCat: Column): DataFrame = {
    val joint = df.groupBy(rowCat.as("__r"), colCat.as("__c"))
      .agg(count(lit(1)).as("__o"))
    val rTot = joint.groupBy(col("__r")).agg(sum(col("__o")).as("__nr"))
    val cTot = joint.groupBy(col("__c")).agg(sum(col("__o")).as("__nc"))
    val grand = cTot.agg(sum(col("__nc")).as("__n"))
    val cells = rTot.crossJoin(broadcast(cTot)).crossJoin(broadcast(grand))
      .join(joint, Seq("__r", "__c"), "left")
      .withColumn("__oD", coalesce(col("__o"), lit(0L)).cast("double"))
      .withColumn("__e",
        col("__nr").cast("double") * col("__nc").cast("double") / col("__n").cast("double"))
    cells.groupBy(col("__r"))
      .agg(
        max(col("__nr")).as("n_rows"),
        count(lit(1)).as("n_cells"),
        round(sum((col("__oD") - col("__e")) * (col("__oD") - col("__e")) / col("__e")), 6)
          .as("chi2"))
      .withColumnRenamed("__r", "row_cat")
  }

  /** Winsorized statistics per group: clamp a metric into its per-group
    * [pLo, pHi] NEAREST-RANK percentile band and report exact clipped
    * counts and the exact micro-unit sum of the clamped values. The robust
    * alternative to dropping outliers before feature scaling.
    *
    * Nearest-rank (not interpolated) boundaries on the micro-unit INTEGER
    * multiset keep every step exact — interpolated percentiles of 2-decimal
    * money land on half-cent rounding boundaries and are not cross-engine
    * reproducible (the q_percentiles family's known trap). k = ⌈p·n⌉ via
    * pure integer (p100·n + 99) div 100.
    *
    * Plan (histogram-compacted, same trick as the MAD census): one hash agg
    * to the (group, value_u) multiset — corpus-sized rows collapse to
    * distinct values — then a per-group cumulative over the COMPACT
    * multiset picks boundaries; boundaries broadcast back onto the corpus
    * scan for the clamp. No global sort, no per-row window over raw data.
    *
    * Output: (groupCols..., n_rows, lo, hi, n_clipped_lo, n_clipped_hi,
    * sum_u) — lo/hi in original units (exact 2dp), sum_u = Σ clamp(value_u)
    * in BIGINT micro-units.
    */
  def winsorizedStats(
      df: DataFrame,
      groupCols: Seq[Column],
      value: Column,
      pLo: Int = 5,
      pHi: Int = 95): DataFrame = {
    require(0 <= pLo && pLo < pHi && pHi <= 100, "need 0 <= pLo < pHi <= 100")
    val groupNames = groupCols.map(_.toString)
    val vu = round(value * 10000, 0).cast("long").as("__vu")
    val withU = df.select((groupCols :+ vu): _*)
    val multiset = withU.groupBy((groupCols :+ col("__vu")): _*)
      .agg(count(lit(1)).as("__c"))
    val wCum = Window.partitionBy(groupCols: _*).orderBy(col("__vu"))
    val cum = multiset
      .withColumn("__cum", sum(col("__c")).over(wCum))
      .withColumn("__n", sum(col("__c")).over(Window.partitionBy(groupCols: _*)))
    def kOf(p: Int) = intDiv(col("__n") * p + 99, lit(100L))
    val bounds = cum
      .withColumn("__klo", kOf(pLo))
      .withColumn("__khi", kOf(pHi))
      .groupBy(groupCols: _*)
      .agg(
        max(col("__n")).as("n_rows"),
        min(when(col("__cum") >= col("__klo"), col("__vu"))).as("__lo_u"),
        min(when(col("__cum") >= col("__khi"), col("__vu"))).as("__hi_u"))
    val clamped = withU.join(broadcast(bounds), groupNames)
      .withColumn("__cl", least(greatest(col("__vu"), col("__lo_u")), col("__hi_u")))
    clamped.groupBy(groupCols: _*)
      .agg(
        max(col("n_rows")).as("n_rows"),
        (max(col("__lo_u")) / 10000.0).as("lo"),
        (max(col("__hi_u")) / 10000.0).as("hi"),
        sum(when(col("__vu") < col("__lo_u"), 1L).otherwise(0L)).as("n_clipped_lo"),
        sum(when(col("__vu") > col("__hi_u"), 1L).otherwise(0L)).as("n_clipped_hi"),
        sum(col("__cl")).as("sum_u"))
  }

  /** Sketch-boundary companion to [[winsorizedStats]] for value domains
    * where even the compacted multiset approaches corpus size (near-unique
    * doubles): per-group [pLo, pHi] boundaries from `percentile_approx`
    * (GK sketch — map-side partial merge, NO multiset materialization, no
    * sort), broadcast back for the identical clamp pass. Boundary values
    * are sketch-dependent (rows-only tier; the exact form is the oracle
    * anchor) but always real elements of the group's value multiset.
    *
    * Output schema matches [[winsorizedStats]].
    */
  def winsorizedStatsApprox(
      df: DataFrame,
      groupCols: Seq[Column],
      value: Column,
      pLo: Int = 5,
      pHi: Int = 95,
      accuracy: Int = 10000): DataFrame = {
    require(0 <= pLo && pLo < pHi && pHi <= 100, "need 0 <= pLo < pHi <= 100")
    val groupNames = groupCols.map(_.toString)
    val vu = round(value * 10000, 0).cast("long").as("__vu")
    val withU = df.select((groupCols :+ vu): _*)
    val bounds = withU.groupBy(groupCols: _*)
      .agg(
        count(lit(1)).as("n_rows"),
        percentile_approx(col("__vu"), lit(pLo / 100.0), lit(accuracy)).as("__lo_u"),
        percentile_approx(col("__vu"), lit(pHi / 100.0), lit(accuracy)).as("__hi_u"))
    val clamped = withU.join(broadcast(bounds), groupNames)
      .withColumn("__cl", least(greatest(col("__vu"), col("__lo_u")), col("__hi_u")))
    clamped.groupBy(groupCols: _*)
      .agg(
        max(col("n_rows")).as("n_rows"),
        (max(col("__lo_u")) / 10000.0).as("lo"),
        (max(col("__hi_u")) / 10000.0).as("hi"),
        sum(when(col("__vu") < col("__lo_u"), 1L).otherwise(0L)).as("n_clipped_lo"),
        sum(when(col("__vu") > col("__hi_u"), 1L).otherwise(0L)).as("n_clipped_hi"),
        sum(col("__cl")).as("sum_u"))
  }

  /** CUSUM changepoint census per key: cumulative deviation of a metric
    * from its per-key mean, flagged where the excursion exceeds a
    * threshold — the classic drift detector (Page 1954) for "did this
    * source's quality shift mid-corpus?", complementary to
    * [[Timeseries.rollingAnomalies]]' pointwise z-score.
    *
    * EXACT integer form: with vu = micro-units, the mean-centered cumsum
    * c_i = n·Σ_{j≤i} vu_j − i·Σ vu scales the deviation by n so no
    * division (and no float) ever happens; a crossing is |c_i| > thr_u·n.
    * Everything is one per-key window pass (cumsum + row_number + the
    * unbounded n/Σ share a single (key)-partitioned sort) + one hash agg.
    *
    * Output: (key, n_events, n_crossings, max_dev_u = max|c| DIV n in
    * micro-units, first_cross = earliest crossing position or null).
    */
  def cusumCensus(
      df: DataFrame,
      key: Column,
      orderCols: Seq[Column],
      value: Column,
      thresholdUnits: Double): DataFrame = {
    val thrU = math.round(thresholdUnits * 10000)
    val vu = round(value * 10000, 0).cast("long")
    val base = df.select(key.as("__k"), struct(orderCols: _*).as("__ord"), vu.as("__vu"))
    val wOrd = Window.partitionBy(col("__k")).orderBy(col("__ord"))
    val wAll = Window.partitionBy(col("__k"))
    val c = base
      .withColumn("__i", row_number().over(wOrd).cast("long"))
      .withColumn("__cum",
        sum(col("__vu")).over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn("__s", sum(col("__vu")).over(wAll))
      .withColumn("__c", col("__n") * col("__cum") - col("__i") * col("__s"))
      .withColumn("__x", abs(col("__c")) > lit(thrU) * col("__n"))
    c.groupBy(col("__k"))
      .agg(
        max(col("__n")).as("n_events"),
        sum(when(col("__x"), 1L).otherwise(0L)).as("n_crossings"),
        intDiv(max(abs(col("__c"))), max(col("__n"))).as("max_dev_u"),
        min(when(col("__x"), col("__i"))).as("first_cross"))
  }

  /** Mode (most frequent value) per group with a DETERMINISTIC tie-break
    * (smallest value wins). The engines' native `mode()` returns an
    * arbitrary element on ties — fine interactively, useless for a
    * reproducible pipeline or a cross-engine check. Count + one per-group
    * rank over (count desc, value asc); the rank window partitions by group,
    * so it shards. Output: (groupCols..., mode_val, mode_n).
    */
  def deterministicMode(
      df: DataFrame,
      groupCols: Seq[Column],
      value: Column): DataFrame = {
    val counted = df.groupBy((groupCols :+ value.as("mode_val")): _*)
      .agg(count(lit(1)).as("mode_n"))
    val w = Window.partitionBy(groupCols: _*)
      .orderBy(col("mode_n").desc, col("mode_val"))
    counted.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .drop("__rk")
  }

  /** First-order Markov transition census over per-key ordered event
    * sequences: for every key the consecutive (state → next state) pairs,
    * counted corpus-wide, with the conditional transition probability in
    * integer parts-per-million, computed as pure integer round-half-up
    * ((n·2e6 + total) div (2·total)) — no float anywhere in the output.
    *
    * This is the sequence-mining companion to funnel/cohort analysis: which
    * step follows which, and how often.
    *
    * Scale: lag is a per-key window (shards); the census is a hash agg on
    * (from, to); the row-total a window over `from` — at most |states|²
    * rows by then, negligible.
    *
    * Output: (from_state, to_state, n, p_ppm).
    */
  /** Autocorrelation census per key: Pearson correlation of the value
    * series against its own `lag`-shifted self, for each requested lag —
    * the seasonality/persistence detector (a daily cycle shows as a peak
    * at the day lag; white noise stays near 0). Pairs-convention ACF
    * (each lag correlates the (x_t, x_{t+lag}) pairs with their own
    * means), the form that is a plain Pearson fit per (key, lag) and so
    * shares [[rollingCorr]]'s exact machinery: values quantize ONCE to
    * deci-units, all six moments aggregate as exact decimals, and the
    * closed form divides identical integers. Deci-units (not the family's
    * micro-units) keep every moment difference n·Σx²−(Σx)² ≤ n²·σ²
    * inside int64 through sf1, where the oracle's BIGINT→DOUBLE cast is a
    * single correctly-rounded hardware op (DuckDB's HUGEINT→DOUBLE is
    * not). Degenerate lags (zero variance either side) yield sentinel 2.0.
    *
    * Scale: one per-key window pass computes ALL lags' leads (same window
    * spec → one Window exec), then one hash agg on |keys|·|lags| groups.
    * No self-join — the shifted pairing rides lead(), so the series is
    * read once regardless of how many lags are probed.
    */
  def autocorrCensus(
      df: DataFrame,
      keyCol: String,
      orderCols: Seq[Column],
      value: Column,
      lags: Seq[Int],
      scale: Int = 4): DataFrame = {
    require(lags.nonEmpty && lags.forall(_ >= 1), "autocorrCensus: lags >= 1")
    val dec = "decimal(38,0)"
    val w = Window.partitionBy(col(keyCol)).orderBy(col("__ord0"))
    val base = df.select(col(keyCol), struct(orderCols: _*).as("__ord0"),
      round(value * 10, 0).cast("long").as("__x"))
    val pairs = base
      .withColumn("__ys", array(lags.map(l => lead(col("__x"), l).over(w)): _*))
      .select(col(keyCol), col("__x"),
        posexplode(col("__ys")).as(Seq("__p", "__y")))
      // both sides of the pair must exist: a null value row would inflate
      // the pair count while the moment sums skipped it
      .filter(col("__y").isNotNull && col("__x").isNotNull)
      .withColumn("lag", element_at(array(lags.map(l => lit(l)): _*), col("__p") + 1))
    val x = col("__x").cast(dec)
    val y = col("__y").cast(dec)
    pairs.groupBy(col(keyCol), col("lag"))
      .agg(
        count(lit(1)).cast(dec).as("__n"),
        sum(x).as("__sx"), sum(y).as("__sy"),
        sum(x * y).as("__sxy"), sum(x * x).as("__sxx"), sum(y * y).as("__syy"))
      .withColumn("__varx",
        (col("__n") * col("__sxx") - col("__sx") * col("__sx")).cast("double"))
      .withColumn("__vary",
        (col("__n") * col("__syy") - col("__sy") * col("__sy")).cast("double"))
      .withColumn("__cov",
        (col("__n") * col("__sxy") - col("__sx") * col("__sy")).cast("double"))
      .withColumn("acf",
        when(col("__varx") > 0 && col("__vary") > 0,
          ieeeRound(col("__cov") / sqrt(col("__varx")) / sqrt(col("__vary")), scale))
          .otherwise(lit(2.0)))
      .withColumn("n_pairs", col("__n").cast("long"))
      .select(col(keyCol), col("lag"), col("n_pairs"), col("acf"))
  }

  /** Spearman rank correlation per group — the monotone-association
    * monitor (robust to outliers and any monotone rescaling, the reason a
    * corpus pipeline prefers it over Pearson for sanity checks like "does
    * char length track token count in every source?"). Standard
    * tie-corrected form: Pearson over average-tie ranks — computed here as
    * DOUBLED ranks, 2·avg_rank = 2·rank_min + ties − 1, an exact integer
    * (Pearson is scale-invariant, so doubling changes nothing), then the
    * family's exact decimal moments + one closed-form division of
    * identical integers, 2.0 sentinel on zero rank variance. Moment
    * differences are ≤ n⁴/3, inside int64 while groups stay ≤ ~5·10⁴ rows
    * (documents-per-source through sf1) — the oracle's BIGINT→DOUBLE is
    * then a single correctly-rounded cvt.
    *
    * Scale: one shuffle on the group key, two in-partition rank sorts (one
    * per variable), one hash agg row per group.
    */
  def spearmanPerGroup(
      df: DataFrame,
      groupCols: Seq[Column],
      x: Column,
      y: Column,
      scale: Int = 4): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df.select(groupCols ++ Seq(x.cast("long").as("__x"), y.cast("long").as("__y")): _*)
    val names = base.columns.dropRight(2)
    def dblRank(c: String): Column = {
      val w = Window.partitionBy(names.map(col): _*).orderBy(col(c))
      val wt = Window.partitionBy((names.map(col) :+ col(c)): _*)
      (lit(2L) * rank().over(w) + count(lit(1)).over(wt) - 1).cast(dec)
    }
    val rx = col("__rx"); val ry = col("__ry")
    base
      .withColumn("__rx", dblRank("__x"))
      .withColumn("__ry", dblRank("__y"))
      .groupBy(names.map(col): _*)
      .agg(
        count(lit(1)).cast(dec).as("__n"),
        sum(rx).as("__sx"), sum(ry).as("__sy"),
        sum(rx * ry).as("__sxy"), sum(rx * rx).as("__sxx"), sum(ry * ry).as("__syy"))
      .withColumn("__varx",
        (col("__n") * col("__sxx") - col("__sx") * col("__sx")).cast("double"))
      .withColumn("__vary",
        (col("__n") * col("__syy") - col("__sy") * col("__sy")).cast("double"))
      .withColumn("__cov",
        (col("__n") * col("__sxy") - col("__sx") * col("__sy")).cast("double"))
      .withColumn("rho",
        when(col("__varx") > 0 && col("__vary") > 0,
          ieeeRound(col("__cov") / sqrt(col("__varx")) / sqrt(col("__vary")), scale))
          .otherwise(lit(2.0)))
      .withColumn("n", col("__n").cast("long"))
      .select(names.map(col) ++ Seq(col("n"), col("rho")): _*)
  }

  /** Gini concentration coefficient per group — the inequality monitor a
    * corpus pipeline points at per-source document mass ("is this source a
    * few huge documents or many small ones?"). Classic rank formula over
    * values sorted ascending with a TOTAL (value, tie) order,
    *
    *   G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx),
    *
    * every term an exact decimal product of integers; the output is
    * integer ppm via the family's round-half-up integral division — no
    * float anywhere, distributed ≡ single-threaded bit-for-bit. `value`
    * must be a non-negative integer column (so the numerator is ≥ 0 and
    * flooring division rounds half-up correctly); groups with Σx = 0 are
    * dropped (no concentration is defined on zero mass).
    *
    * Scale shape: the rank needs one per-group window sort — the exact
    * oracle form (groups shard across the cluster; a single group never
    * exceeds one partition's sort budget at |group| ≲ 10⁸). Then one hash
    * agg row per group.
    */
  def giniPerGroup(
      df: DataFrame,
      groupCols: Seq[Column],
      value: Column,
      tie: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df.select(groupCols ++ Seq(value.cast("long").as("__x"), tie.as("__t")): _*)
    val names = base.columns.dropRight(2)
    val w = Window.partitionBy(names.map(col): _*).orderBy(col("__x"), col("__t"))
    val ranked = base.withColumn("__i", row_number().over(w).cast(dec))
    val agg = ranked.groupBy(names.map(col): _*)
      .agg(
        count(lit(1)).cast(dec).as("__n"),
        sum(col("__x").cast(dec)).as("__sx"),
        sum(col("__i") * col("__x").cast(dec)).as("__six"))
    val num = lit(2).cast(dec) * col("__six") - (col("__n") + 1) * col("__sx")
    val den = col("__n") * col("__sx")
    agg.filter(col("__sx") > 0)
      .withColumn("gini_ppm",
        intDiv(num * 2000000L + den, den * 2).cast("long"))
      .withColumn("n", col("__n").cast("long"))
      .select(names.map(col) ++ Seq(col("n"), col("gini_ppm")): _*)
  }

  /** Lower weighted median per group — "the value below which half the
    * MASS sits" (with weight = size, the corpus-mass midpoint: half your
    * bytes live in documents shorter than this). Exact integer form: sort
    * by a TOTAL (value, tie) order (ties must not reorder the cumsum),
    * running weight cumsum, the answer is the first row where
    * 2·cumw ≥ total — qualifying rows are a suffix of the sort, so one
    * min agg picks its value deterministically. No float anywhere.
    *
    * Output: (group..., n, total_w, wmedian). Groups with zero total
    * weight drop. Scale: the per-group window sort is the exact oracle
    * shape (groups shard; see [[giniPerGroup]]); one agg row per group.
    */
  def weightedMedianPerGroup(
      df: DataFrame,
      groupCols: Seq[Column],
      value: Column,
      weight: Column,
      tie: Column): DataFrame = {
    val base = df.select(groupCols ++ Seq(value.cast("long").as("__v"),
      weight.cast("long").as("__w"), tie.as("__t")): _*)
    val names = base.columns.dropRight(3)
    val wOrd = Window.partitionBy(names.map(col): _*).orderBy(col("__v"), col("__t"))
    val wAll = Window.partitionBy(names.map(col): _*)
    base
      .withColumn("__cum", sum(col("__w")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__tot", sum(col("__w")).over(wAll))
      .withColumn("__n", count(lit(1)).over(wAll))
      .filter(col("__tot") > 0 && col("__cum") * 2 >= col("__tot"))
      .groupBy(names.map(col): _*)
      .agg(
        max(col("__n")).as("n"),
        max(col("__tot")).as("total_w"),
        min(col("__v")).as("wmedian"))
  }

  /** Benford first-significant-digit census — the fraud/synthetic-data
    * screen: naturally occurring multiplicative quantities put digit d
    * first with probability log₁₀(1+1/d); fabricated or truncated data
    * doesn't. `value` must be a POSITIVE integer column (quantize prices
    * to cents first); the first digit is the first character of the
    * decimal string — pure string math, no log10 near a power-of-ten
    * boundary to disagree at. Expected shares are the published Benford
    * ppm constants (they sum to exactly 1,000,000), emitted as literals on
    * both engines; observed shares are the family's round-half-up integer
    * ppm. Output: (digit, n, obs_ppm, exp_ppm, dev_ppm).
    *
    * Scale: one hash agg to ≤ 9 rows; the total rides an unpartitioned
    * window over those 9 rows, never the corpus.
    */
  def benfordCensus(df: DataFrame, value: Column): DataFrame = {
    val expPpm = Seq(301030L, 176091L, 124939L, 96910L, 79181L, 66947L,
      57992L, 51153L, 45757L)
    val v = value.cast("long")
    val counts = df.filter(v > 0)
      .select(substring(v.cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy(col("digit"))
      .agg(count(lit(1)).as("n"))
    val tot = sum(col("n")).over(Window.partitionBy())
    counts
      .withColumn("obs_ppm", intDiv(col("n") * 2000000L + tot, tot * 2).cast("long"))
      .withColumn("exp_ppm", element_at(array(expPpm.map(lit): _*), col("digit")))
      .withColumn("dev_ppm", col("obs_ppm") - col("exp_ppm"))
  }

  /** Multi-touch attribution census — which event types get credit for
    * conversions, under the three standard models at once: FIRST touch,
    * LAST touch, and LINEAR (equal split). Each conversion event closes a
    * window; every non-conversion event belongs to the window of the NEXT
    * conversion in its user's stream (events after the last conversion
    * earn nothing — they haven't converted anyone yet). Linear credit is
    * exact integer ppm: each touch gets ⌊10⁶/n⌋ and the LAST touch absorbs
    * the remainder (a deterministic convention, so Σ credit per converted
    * window is exactly 10⁶ and the distributed run matches the oracle
    * bit-for-bit).
    *
    * Output: (event_type, first_n, last_n, linear_ppm) — linear_ppm sums
    * to 10⁶ × (windows with ≥ 1 touch). Scale: one shuffle on the user
    * key for the window pass, a second keyed on (user, window ordinal)
    * for the in-window ranks, then one small census agg. No self-joins.
    */
  def attributionCensus(
      df: DataFrame,
      userCol: String,
      orderCols: Seq[Column],
      typeCol: Column,
      convType: String): DataFrame = {
    val base = df.select(col(userCol).as("__u"), struct(orderCols: _*).as("__ord0"),
      typeCol.as("__t"))
    val wt = Window.partitionBy(col("__u")).orderBy(col("__ord0"))
    val marked = base
      .withColumn("__conv", when(col("__t") === convType, 1L).otherwise(0L))
      .withColumn("__cb", sum(col("__conv")).over(
        wt.rowsBetween(Window.unboundedPreceding, Window.currentRow)) - col("__conv"))
      .withColumn("__nc", sum(col("__conv")).over(Window.partitionBy(col("__u"))))
      .withColumn("__tgt", col("__cb") + 1)
    val touches = marked
      .filter(col("__conv") === 0 && col("__tgt") <= col("__nc"))
    val ws = Window.partitionBy(col("__u"), col("__tgt")).orderBy(col("__ord0"))
    val wsAll = Window.partitionBy(col("__u"), col("__tgt"))
    val credited = touches
      .withColumn("__rn", row_number().over(ws))
      .withColumn("__n", count(lit(1)).over(wsAll))
      .withColumn("__base", intDiv(lit(1000000L), col("__n")))
      .withColumn("__lin",
        col("__base") + when(col("__rn") === col("__n"),
          lit(1000000L) - col("__n") * col("__base")).otherwise(lit(0L)))
    credited.groupBy(col("__t").as("event_type"))
      .agg(
        sum(when(col("__rn") === 1, 1L).otherwise(0L)).as("first_n"),
        sum(when(col("__rn") === col("__n"), 1L).otherwise(0L)).as("last_n"),
        sum(col("__lin")).as("linear_ppm"))
  }

  /** RFM segmentation census — the classic customer-value grid (recency /
    * frequency / monetary quintiles), the first thing a commerce or
    * engagement team asks of an event log. Per entity: last-activity
    * recency against the corpus max timestamp (a 1-row broadcast, so the
    * census is a pure function of the data), activity count, and exact
    * integer monetary cents; each dimension bins by `ntile(bins)` under a
    * TOTAL tie-broken order (best first: most recent / most frequent /
    * highest spend = bin 1 — ntile is deterministic once the order is
    * total, the perplexityBuckets precedent). Output: one row per
    * occupied (r, f, m) cell with entity count and cell monetary mass —
    * ≤ bins³ rows.
    *
    * Scale: one hash agg to |entities| rows, then three ntile windows
    * over that bounded table (shard-by-hash at extreme entity counts is
    * the documented CCNet-bucket swap), one census agg.
    */
  def rfmCensus(
      df: DataFrame,
      entity: Column,
      tsMicros: Column,
      amountCents: Column,
      bins: Int = 5): DataFrame = {
    require(bins >= 2, "rfmCensus: bins >= 2")
    val per = df.groupBy(entity.as("__e"))
      .agg(max(tsMicros).as("__last"), count(lit(1)).as("__f"),
        sum(amountCents).as("__m"))
    val asOf = per.agg(max(col("__last")).as("__asof"))
    val binned = per.crossJoin(broadcast(asOf))
      .withColumn("__rec", col("__asof") - col("__last"))
      .withColumn("r_bin", ntile(bins).over(
        Window.orderBy(col("__rec"), col("__e"))))
      .withColumn("f_bin", ntile(bins).over(
        Window.orderBy(col("__f").desc, col("__e"))))
      .withColumn("m_bin", ntile(bins).over(
        Window.orderBy(col("__m").desc, col("__e"))))
    binned.groupBy(col("r_bin"), col("f_bin"), col("m_bin"))
      .agg(count(lit(1)).as("n_entities"), sum(col("__m")).as("cell_cents"))
  }

  /** ABC / Pareto census — the 80/95 concentration cut ("class A items
    * carry 80% of the value") over per-item value mass. Items rank by
    * exact cents under a total (value desc, item) order; an item's class
    * comes from its INCLUSIVE cumulative share via cross-multiplied
    * integer comparisons (cum·100 ≤ 80·total → A, ≤ 95·total → B, else
    * C) — no percentage float ever exists. Output: ≤ 3 rows (abc_class,
    * n_items, class_cents, share_ppm round-half-up).
    *
    * Scale: one corpus hash agg to |items| rows; the rank window runs
    * over that bounded vocabulary table (the profiler/Benford "bounded
    * artifact window" class — range-partition the sort if the vocabulary
    * itself is huge). The corpus never sorts.
    */
  def abcCensus(
      df: DataFrame,
      itemCol: Column,
      valueCents: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val per = df.groupBy(itemCol.as("__i")).agg(sum(valueCents).as("__v"))
    val w = Window.orderBy(col("__v").desc, col("__i"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = sum(col("__v")).over(Window.partitionBy())
    val classed = per
      .withColumn("__cum", sum(col("__v")).over(w).cast(dec))
      .withColumn("__tot", tot.cast(dec))
      .withColumn("abc_class",
        when(col("__cum") * 100 <= col("__tot") * 80, "A")
          .when(col("__cum") * 100 <= col("__tot") * 95, "B")
          .otherwise("C"))
    classed.groupBy(col("abc_class"))
      .agg(
        count(lit(1)).as("n_items"),
        sum(col("__v")).as("class_cents"),
        max(col("__tot")).as("__t"))
      .withColumn("share_ppm",
        intDiv(col("class_cents").cast(dec) * 2000000L + col("__t"),
          col("__t") * 2).cast("long"))
      .drop("__t")
  }

  /** AUC (area under the ROC curve) census per group — the
    * threshold-free "does this score separate the classes" metric, exact:
    * AUC is the Mann-Whitney statistic, so with the doubled average ranks
    * of [[spearmanPerGroup]]/[[pettittCensus]] (2R_i = 2·rank_min +
    * ties − 1, ties contributing the standard ½),
    *
    *   AUC = (Σ_{i∈pos} R_i − n₁(n₁+1)/2) / (n₁·n₀)
    *       = (Σ_{i∈pos} 2R_i − n₁(n₁+1)) / (2·n₁·n₀),
    *
    * every term an exact integer. Output keeps the exact rational
    * (auc_num, auc_den) plus the family round-half-up ppm. Groups missing
    * a class drop (no curve exists).
    *
    * Scale: one shuffle on the group key, one in-partition rank sort, two
    * agg rows per group folded to one — never a pairwise positive×negative
    * comparison (that's the n₁·n₀ blowup the rank identity exists to
    * avoid).
    */
  def aucCensus(
      df: DataFrame,
      groupCols: Seq[Column],
      score: Column,
      label: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df.select(groupCols ++ Seq(score.cast("long").as("__s"),
      label.cast("boolean").as("__y")): _*)
    val names = base.columns.dropRight(2)
    val wRank = Window.partitionBy(names.map(col): _*).orderBy(col("__s"))
    val wTie = Window.partitionBy((names.map(col) :+ col("__s")): _*)
    val ranked = base.withColumn("__d",
      (lit(2L) * rank().over(wRank) + count(lit(1)).over(wTie) - 1).cast(dec))
    val agg = ranked.groupBy(names.map(col): _*)
      .agg(
        sum(when(col("__y"), 1L).otherwise(0L)).cast(dec).as("__n1"),
        sum(when(!col("__y"), 1L).otherwise(0L)).cast(dec).as("__n0"),
        sum(when(col("__y"), col("__d")).otherwise(lit(0L).cast(dec))).as("__r1"))
      .filter(col("__n1") > 0 && col("__n0") > 0)
    val num = col("__r1") - col("__n1") * (col("__n1") + 1)
    val den = lit(2).cast(dec) * col("__n1") * col("__n0")
    agg
      .withColumn("n_pos", col("__n1").cast("long"))
      .withColumn("n_neg", col("__n0").cast("long"))
      .withColumn("auc_num", num.cast("long"))
      .withColumn("auc_den", den.cast("long"))
      .withColumn("auc_ppm", intDiv(num * 2000000L + den, den * 2).cast("long"))
      .select(names.map(col) ++ Seq(col("n_pos"), col("n_neg"),
        col("auc_num"), col("auc_den"), col("auc_ppm")): _*)
  }

  /** Western-Electric SPC rule census per key — the four classic control-
    * chart run rules over the key's own control limits (full-series mean
    * and sample σ), the monitoring vocabulary process engineers have used
    * since the 1956 handbook:
    *
    *   R1: a point beyond ±3σ;
    *   R2: ≥2 of the trailing 3 points beyond 2σ, same side;
    *   R3: ≥4 of the trailing 5 points beyond 1σ, same side;
    *   R4: 8 consecutive points on the same side of the mean.
    *
    * (Pattern rules flag at the completing row, and only once the trailing
    * frame is full — that precise contract is what the oracle mirrors.)
    * ZERO float math: with S = Σx, Q = Σx² (cents, exact decimals), the
    * k·σ test cross-multiplies to (x·n − S)²·(n−1) > k²·n·(n·Q − S²) and
    * the side is the sign of x·n − S — the [[bollingerCensus]] inequality
    * with whole-series limits, in decimal so no corpus size wraps it.
    *
    * Output: (key, n, r1, r2, r3, r4 — rows each rule fires on). Scale:
    * one shuffle on the key; full-partition stats + bounded trailing
    * frames in the same window pass family.
    */
  def spcCensus(
      df: DataFrame,
      keyCol: String,
      orderCols: Seq[Column],
      value: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val vu = round(value * 100, 0).cast("long")
    val base = df.select(col(keyCol), struct(orderCols: _*).as("__ord0"), vu.as("__v"))
    val wk = Window.partitionBy(col(keyCol))
    val wt = wk.orderBy(col("__ord0"))
    def trail(k: Int) = wt.rowsBetween(-(k - 1), Window.currentRow)
    val n = count(lit(1)).over(wk)
    val s = sum(col("__v")).over(wk).cast(dec)
    // square in DECIMAL: a Long square wraps silently past |v| ~ 3e9 cents
    // while the oracle's HUGEINT product stays exact
    val q = sum(col("__v").cast(dec) * col("__v").cast(dec)).over(wk)
    val withStats = base
      .withColumn("__n", n)
      .withColumn("__dev", col("__v").cast(dec) * col("__n") - s)
      .withColumn("__var", col("__n").cast(dec) * q - s * s)
      .withColumn("__rn", row_number().over(wt))
    def beyond(k: Int): Column =
      col("__dev") * col("__dev") * (col("__n") - 1) >
        lit(k.toLong * k) * col("__n") * col("__var")
    def cnt(c: Column, k: Int): Column =
      sum(when(c, 1L).otherwise(0L)).over(trail(k))
    val flagged = withStats
      .withColumn("__r1", beyond(3))
      .withColumn("__r2", col("__rn") >= 3 &&
        (cnt(beyond(2) && col("__dev") > 0, 3) >= 2 ||
         cnt(beyond(2) && col("__dev") < 0, 3) >= 2))
      .withColumn("__r3", col("__rn") >= 5 &&
        (cnt(beyond(1) && col("__dev") > 0, 5) >= 4 ||
         cnt(beyond(1) && col("__dev") < 0, 5) >= 4))
      .withColumn("__r4", col("__rn") >= 8 &&
        (cnt(col("__dev") > 0, 8) === 8 || cnt(col("__dev") < 0, 8) === 8))
    flagged.groupBy(col(keyCol))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("__r1"), 1L).otherwise(0L)).as("r1"),
        sum(when(col("__r2"), 1L).otherwise(0L)).as("r2"),
        sum(when(col("__r3"), 1L).otherwise(0L)).as("r3"),
        sum(when(col("__r4"), 1L).otherwise(0L)).as("r4"))
  }

  /** Two-sample Kolmogorov-Smirnov census: for each group, the KS distance
    * between the group's value distribution and the REST of the corpus —
    * the drift detector that sees shape changes the mean/variance monitors
    * miss. Exact integer form: at every distinct value v,
    *
    *   D(v) = |cumg(v)/n_g − cumr(v)/n_r|
    *        = |cumg(v)·n_r − cumr(v)·n_g| / (n_g·n_r),
    *
    * so the census reports the cross-multiplied numerator max (an exact
    * integer) plus the denominator pieces — callers divide if they want
    * the classical D ∈ [0,1]. The group-vs-rest split means one pass
    * computes every group's census against its own complement.
    *
    * Output: (group, n_g, n_rest, d_num — max |cross difference|, d_ppm —
    * the distance in round-half-up ppm). Scale: one hash agg collapses the
    * corpus to (group, value) counts; the working set from there is the
    * |groups| × |distinct values| ECDF grid (the rest-ECDF must step at
    * values the group never takes), so `value` must be discrete or
    * quantized to a bounded grid — binned ECDFs are the standard KS form
    * at scale, and the census is EXACT on whatever grid it is given. The
    * contract is ENFORCED, not advisory — and IN the plan, so the census
    * stays fully lazy (Explain audits the real plan; nothing executes at
    * build time): with `bins = None` an `assert_true` filter on the 1-row
    * grand aggregate raises at runtime if the distinct-value count
    * exceeds `maxDistinct` (a raw continuous column can't silently
    * detonate the grid); with `bins = Some(b)` values quantize to `b`
    * equi-width buckets over the observed [min, max], the bounds riding
    * in as a broadcast 1-row join — pure integer arithmetic (cross-engine
    * deterministic), the `d_num` axis then being bucket indices.
    *
    * Not persisted: the collapsed counts subtree is IDENTICAL under its
    * four consumers (totals / corpus / grand / probe), so its exchange
    * computes once and is ReusedExchange'd at runtime — the same reason
    * [[associationRules]] doesn't pin its basket table.
    */
  def ksCensus(
      df: DataFrame,
      groupCol: Column,
      value: Column,
      bins: Option[Int] = None,
      maxDistinct: Long = 65536L): DataFrame = {
    require(bins.forall(_ >= 2), s"ksCensus: bins must be >= 2, got $bins")
    require(maxDistinct >= 2, s"ksCensus: maxDistinct must be >= 2, got $maxDistinct")
    val dec = "decimal(38,0)"
    val raw = df.select(groupCol.as("__g"), value.cast("long").as("__v"))
      .groupBy(col("__g"), col("__v")).agg(count(lit(1)).as("__c"))
    val counts = bins match {
      case None => raw
      case Some(b) =>
        // equi-width integer binning over the observed span: bucket =
        // ((v - min) * b) / (span + 1) in exact decimal products so no
        // span x bins combination wraps; bounds join in as ONE broadcast
        // row, then re-collapse on the bucket axis
        val bounds = raw.agg(min(col("__v")).as("__mn"), max(col("__v")).as("__mx"))
        raw.crossJoin(broadcast(bounds))
          .select(col("__g"),
            intDiv((col("__v").cast(dec) - col("__mn").cast(dec)) * b,
              col("__mx").cast(dec) - col("__mn").cast(dec) + 1).cast("long").as("__v"),
            col("__c"))
          .groupBy(col("__g"), col("__v")).agg(sum(col("__c")).as("__c"))
    }
    val totals = counts.groupBy(col("__g")).agg(sum(col("__c")).as("__ng"))
    val corpus = counts.groupBy(col("__v")).agg(sum(col("__c")).as("__call"))
    val grand = counts.agg(sum(col("__c")).as("__nall"),
      countDistinct(col("__v")).as("__nd"))
    // the loud guard rides the grand row as a filter (never prunable):
    // assert_true is NULL when the contract holds, raises otherwise.
    // (Same idiom as [[Guards.inPlanAssert]]; inlined here because this
    // guard row also CARRIES a payload column (__nall) the grid consumes
    // downstream, where the helper drops its guard columns.)
    val grandGuarded =
      if (bins.isDefined) grand.select(col("__nall")) // bounded by construction
      else grand
        .filter(assert_true(col("__nd") <= maxDistinct,
          concat(lit("ksCensus: "), col("__nd").cast("string"),
            lit(s" distinct values exceed maxDistinct=$maxDistinct — the ECDF grid " +
              "is |groups| x |distinct values|; pass bins=Some(b) to quantize to a " +
              "bounded grid, or widen maxDistinct if the grid is intended"))).isNull)
        .select(col("__nall"))
    val grid = totals.crossJoin(corpus).crossJoin(broadcast(grandGuarded))
    val w = Window.partitionBy(col("__g")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val stepped = grid
      .join(counts, Seq("__g", "__v"), "left")
      .na.fill(0L, Seq("__c"))
      .withColumn("__cumg", sum(col("__c")).over(w))
      .withColumn("__cumall", sum(col("__call")).over(w))
      .withColumn("__nr", col("__nall") - col("__ng"))
      .withColumn("__dnum",
        abs(col("__cumg") * col("__nr") - (col("__cumall") - col("__cumg")) * col("__ng")))
    stepped.groupBy(col("__g"))
      .agg(
        max(col("__ng")).as("n_g"),
        max(col("__nr")).as("n_rest"),
        max(col("__dnum")).as("d_num"))
      .filter(col("n_rest") > 0)
      // ppm in decimal so d_num·2e6 can't wrap past int64 on huge corpora
      .withColumn("d_ppm",
        intDiv(col("d_num").cast(dec) * 2000000L
            + col("n_g").cast(dec) * col("n_rest"),
          col("n_g").cast(dec) * col("n_rest") * 2).cast("long"))
      .select(col("__g").as("group"), col("n_g"), col("n_rest"),
        col("d_num"), col("d_ppm"))
  }

  /** Pettitt changepoint census per key — the rank-based (distribution-free)
    * single-changepoint locator (Pettitt 1979), the robust complement to
    * [[cusumCensus]]: CUSUM tracks mean drift in value units, Pettitt asks
    * WHERE the series most decisively splits into before/after regimes,
    * immune to outliers because only ranks enter. Exact integer form: with
    * doubled average ranks D_i = 2·rank_min + ties − 1 (the
    * [[spearmanPerGroup]] trick), the Mann-Whitney split statistic is
    *
    *   U_t = Σ_{i≤t} (D_i − n − 1)
    *
    * (twice the classic U_t, so ties cost no fractions), and the census
    * reports K = max_t |U_t| over t < n with the earliest achieving t. A
    * negative U at the changepoint means the early regime ranks LOW — an
    * upward shift. Values quantize to micro-units once; everything after
    * is integer, so distributed ≡ single-threaded bit-for-bit.
    *
    * Output: (key, n, k2_stat — K in doubled-rank units, t_hat — earliest
    * argmax position, direction ∈ {−1, 0, 1} — sign of U at t_hat).
    * Keys with n < 2 drop (no split point exists).
    *
    * Scale: one shuffle on the key, three in-partition window passes (rank
    * by value, cumsum + argmax by time) — |U| ≤ 2n² stays in int64 past
    * 10⁹-row keys.
    */
  def pettittCensus(
      df: DataFrame,
      keyCol: String,
      orderCols: Seq[Column],
      value: Column): DataFrame = {
    val vu = round(value * 10000, 0).cast("long")
    val base = df.select(col(keyCol), struct(orderCols: _*).as("__ord0"), vu.as("__v"))
    val wk = Window.partitionBy(col(keyCol))
    val wTime = wk.orderBy(col("__ord0"))
    base
      .withColumn("__n", count(lit(1)).over(wk))
      .withColumn("__d",
        lit(2L) * rank().over(wk.orderBy(col("__v")))
          + count(lit(1)).over(Window.partitionBy(col(keyCol), col("__v"))) - 1)
      .withColumn("__t", row_number().over(wTime).cast("long"))
      .withColumn("__u", sum(col("__d") - col("__n") - 1)
        .over(wTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("__t") < col("__n"))
      .withColumn("__a", abs(col("__u")))
      .withColumn("__rn", row_number().over(wk.orderBy(col("__a").desc, col("__t"))))
      .filter(col("__rn") === 1)
      .select(col(keyCol), col("__n").cast("long").as("n"),
        col("__a").cast("long").as("k2_stat"), col("__t").as("t_hat"),
        when(col("__u") > 0, 1L).when(col("__u") < 0, -1L).otherwise(0L).as("direction"))
  }

  /** Association-rule census (market-basket mining): for every UNORDERED
    * item pair co-occurring in ≥ `minSupport` baskets, the support /
    * confidence / lift table — the classic "what sells with what" and, in
    * a corpus pipeline, "which tags/domains co-occur" signal. All three
    * metrics are exact integer ppm (the family round-half-up division):
    * supp = n_ab/N, conf(a→b) = n_ab/n_a (and the reverse), lift =
    * n_ab·N/(n_a·n_b).
    *
    * Scale shape: pairs come from a SELF-JOIN ON THE BASKET KEY — fanout
    * is Σ|basket|², bounded by the basket size cap, never |items|²; the
    * pair census is one hash agg on (a, b); item marginals are a bounded
    * vocabulary joined back (broadcast-able); the basket count is a 1-row
    * broadcast. The min-support cut happens ON THE AGGREGATED pairs, so
    * nothing rides the exchange twice.
    */
  def associationRules(
      df: DataFrame,
      basketCol: Column,
      itemCol: Column,
      minSupport: Long = 2L): DataFrame = {
    val dec = "decimal(38,0)"
    def ppm(num: Column, den: Column): Column =
      intDiv(num * 2000000L + den, den * 2).cast("long")
    // NOT persisted: `b` is a cheap 2-column project+distinct whose two
    // self-join sides share one exchange at runtime (AQE ReusedExchange —
    // identical subtrees), and the marginal/count aggs are one-pass reads
    // of the same pruned scan. At 100 TB pinning a distinct'd corpus in
    // the cache is strictly worse than re-reading a 2-column parquet
    // projection — and the pin either leaked for the session's lifetime
    // or (unpersisted) cost every later pass its refill anyway.
    // NOTE (r22 measured-and-rejected): the min-support pre-filter on item
    // frequency BEFORE pairing (semantically free — a pair with n_ab >=
    // minSupport needs both marginals >= minSupport) was implemented as a
    // broadcast left_semi of the frequent-item set onto both pair sides
    // and benched 3.84–4.24 s vs 2.60–2.64 s baseline at sf0.1, where the
    // corpus has ZERO below-support items (every part appears in >= 2
    // baskets — nothing can prune, so the probe + extra marginal subtree
    // is pure overhead). The same no-op-null-filter trick that collapsed
    // the KN type tables did not merge the marginal/count scans here
    // either (the semi-join reorders the pruned aggregate's output
    // attributes, breaking canonical equality). Deploy the pre-filter
    // only on corpora with a long below-support tail — at 100 TB with a
    // real vocabulary that is the common case, and the code is one
    // broadcast semi-join as sketched above.
    val b = df.select(basketCol.as("__bk"), itemCol.as("__it")).distinct()
    val nBaskets = b.agg(countDistinct(col("__bk")).cast(dec).as("__N"))
    val itemN = b.groupBy(col("__it")).agg(count(lit(1)).cast(dec).as("__ni"))
    val pairs = b.as("l")
      .join(b.as("r"), col("l.__bk") === col("r.__bk") && col("l.__it") < col("r.__it"))
      .select(col("l.__it").as("item_a"), col("r.__it").as("item_b"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).cast(dec).as("__nab"))
      .filter(col("__nab") >= minSupport)
    pairs
      .join(itemN.select(col("__it").as("item_a"), col("__ni").as("__na")), "item_a")
      .join(itemN.select(col("__it").as("item_b"), col("__ni").as("__nb")), "item_b")
      .crossJoin(broadcast(nBaskets))
      .select(
        col("item_a"), col("item_b"), col("__nab").cast("long").as("n_ab"),
        ppm(col("__nab"), col("__N")).as("supp_ppm"),
        ppm(col("__nab"), col("__na")).as("conf_ab_ppm"),
        ppm(col("__nab"), col("__nb")).as("conf_ba_ppm"),
        ppm(col("__nab") * col("__N"), col("__na") * col("__nb")).as("lift_ppm"))
  }

  def transitionCensus(
      df: DataFrame,
      keyCol: String,
      orderCols: Seq[Column],
      stateCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(orderCols: _*)
    val pairs = df
      .withColumn("__to", lead(col(stateCol), 1).over(w))
      .filter(col("__to").isNotNull)
      .select(col(stateCol).as("from_state"), col("__to").as("to_state"))
    val counted = pairs.groupBy(col("from_state"), col("to_state"))
      .agg(count(lit(1)).as("n"))
    val wf = Window.partitionBy(col("from_state"))
    counted
      .withColumn("__tot", sum(col("n")).over(wf))
      .withColumn("p_ppm",
        intDiv(col("n") * 2000000L + col("__tot"), col("__tot") * 2L).cast("long"))
      .drop("__tot")
  }
}
