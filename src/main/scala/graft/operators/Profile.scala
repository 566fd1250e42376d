package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType

/** One-pass corpus/column profiler — the "what is actually in this table"
  * census a pipeline runs before trusting a new data drop: per column, row
  * count, null count, distinct count, and numeric min/max.
  *
  * Everything is computed in a SINGLE aggregate over ONE scan of the
  * table (map-side combined), then pivoted to one row per column with an
  * `inline` — profiling k columns never rescans the table k times.
  *
  * `exact = true` uses `countDistinct`, which Catalyst plans via Expand:
  * the scan's rows are replicated once per distinct-aggregated column
  * before the partial agg — exact, and the oracle anchor, but the k×
  * row-multiplication is real at corpus scale. `exact = false` swaps in
  * `approx_count_distinct` (HLL++, one mergeable sketch per column, no
  * Expand) — the 100 TB shape, identical output schema.
  *
  * Output: `col_name`, `n_rows`, `n_nulls`, `n_distinct`, `min_num`,
  * `max_num` (the latter two NULL for non-numeric columns; numerics are
  * cast to double — min/max carry parquet values through unchanged, no
  * arithmetic, so the cast is the only representation step).
  */
object Profile {

  def profile(df: DataFrame, cols: Seq[String], exact: Boolean = true): DataFrame = {
    require(cols.nonEmpty, "profile: cols must be non-empty")
    val schema = df.schema
    def isNum(c: String) = schema(c).dataType.isInstanceOf[NumericType]
    val aggs = cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"__nn_$c"),
        (if (exact) countDistinct(col(c))
         else approx_count_distinct(col(c))).as(s"__nd_$c")) ++
      (if (isNum(c))
         Seq(min(col(c)).cast("double").as(s"__mn_$c"),
           max(col(c)).cast("double").as(s"__mx_$c"))
       else
         Seq(lit(null).cast("double").as(s"__mn_$c"),
           lit(null).cast("double").as(s"__mx_$c")))
    }
    val one = df.agg(count(lit(1)).as("__n"), aggs: _*)
    val entries = cols.map { c =>
      struct(
        lit(c).as("col_name"),
        col("__n").as("n_rows"),
        (col("__n") - col(s"__nn_$c")).as("n_nulls"),
        col(s"__nd_$c").as("n_distinct"),
        col(s"__mn_$c").as("min_num"),
        col(s"__mx_$c").as("max_num"))
    }
    one.select(explode(array(entries: _*)).as("p")).select("p.*")
  }

  /** Declarative data-quality gate (the Deequ/Great-Expectations check a
    * pipeline runs before promoting a new drop): evaluate a set of named
    * constraints and emit one row per constraint —
    * `(check_name, n_rows, n_violations, passed)`.
    *
    * Three constraint kinds:
    *   - `rowChecks`: per-row boolean predicates; a NULL predicate counts
    *     as a violation (a check you can't evaluate didn't pass).
    *   - `uniqueCols`: violations = non-null duplicate excess,
    *     `count(c) − countDistinct(c)` (nulls are `not_null`'s job).
    *   - `fkChecks`: `(name, dim, fkCol, pkCol)` — violations = rows
    *     whose fk has no match in `dim` (left-anti count).
    *
    * Scale shape: ALL row + uniqueness checks run in ONE aggregate over
    * ONE scan (adding a check never rescans); `countDistinct` plans an
    * Expand (rows × unique-checks before the partial agg) — at corpus
    * scale swap `approx_count_distinct` in, same as `profile(exact =
    * false)`. Each FK check is its own broadcast/shuffle anti-join pass
    * over the fact — unavoidable second input, but the dim is typically
    * broadcast so the fact is still scanned map-side only.
    */
  /** Mergeable distinct-count sketches per column — the incremental half of
    * profiling: sketch today's batch, UNION it into the stored corpus
    * sketch, and the corpus-wide distinct count updates WITHOUT rescanning
    * 100 TB. Apache DataSketches HLL via the native `hll_sketch_agg`
    * aggregate (one mergeable binary per column, map-side combined).
    *
    * Merging tracks the direct whole-corpus sketch closely but NOT
    * bit-identically: DataSketches HLL promotes through LIST → SET → HLL
    * modes, and a union's gadget can sit in a different mode than a
    * directly-built sketch of the same stream, shifting the estimator by
    * a fraction of a percent (spec pins merged-vs-direct within 1% and
    * both within the usual HLL error of exact).
    *
    * Output: one row per column, (col_name, n_rows, sketch BINARY).
    */
  def sketchProfile(df: DataFrame, cols: Seq[String], lgK: Int = 12): DataFrame = {
    require(cols.nonEmpty, "sketchProfile: cols must be non-empty")
    val aggs = count(lit(1)).as("__n") +:
      cols.map(c => hll_sketch_agg(col(c).cast("string"), lit(lgK)).as(s"__sk_$c"))
    val one = df.agg(aggs.head, aggs.tail: _*)
    val entries = cols.map { c =>
      struct(lit(c).as("col_name"), col("__n").as("n_rows"), col(s"__sk_$c").as("sketch"))
    }
    one.select(explode(array(entries: _*)).as("e")).select("e.*")
  }

  /** Merge two sketch-profile tables (same columns) into one: row counts
    * add, sketches HLL-union. Both inputs are |cols| rows — this runs in
    * milliseconds regardless of how much data each side summarizes.
    */
  def mergeSketchProfiles(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy(col("col_name"))
      .agg(sum(col("n_rows")).as("n_rows"),
        hll_union_agg(col("sketch"), lit(true)).as("sketch"))

  /** Readable view of a sketch profile: distinct-count estimates. */
  def estimateSketchProfile(p: DataFrame): DataFrame =
    p.select(col("col_name"), col("n_rows"),
      hll_sketch_estimate(col("sketch")).as("n_distinct_est"))

  /** Row-level diff of two corpus snapshots by content fingerprint — the
    * "what changed between yesterday's drop and today's" audit. One full
    * outer join on the id, comparing md5 fingerprints; the shuffle carries
    * (id, 32-char hash), never the documents. Output: (id, change) with
    * change ∈ added | removed | changed | unchanged.
    */
  def snapshotDiff(a: DataFrame, b: DataFrame, id: String, content: String): DataFrame = {
    val fa = a.select(col(id).as("__ida"), md5(col(content).cast("binary")).as("__ha"))
    val fb = b.select(col(id).as("__idb"), md5(col(content).cast("binary")).as("__hb"))
    fa.join(fb, col("__ida") === col("__idb"), "full_outer")
      .select(
        coalesce(col("__ida"), col("__idb")).as("id"),
        when(col("__hb").isNull, lit("removed"))
          .when(col("__ha").isNull, lit("added"))
          .when(col("__ha") =!= col("__hb"), lit("changed"))
          .otherwise(lit("unchanged")).as("change"))
  }

  def expectations(
      df: DataFrame,
      rowChecks: Seq[(String, Column)],
      uniqueCols: Seq[String] = Nil,
      fkChecks: Seq[(String, DataFrame, String, String)] = Nil): DataFrame = {
    require(rowChecks.nonEmpty || uniqueCols.nonEmpty || fkChecks.nonEmpty,
      "expectations: at least one check required")
    val rowAggs = rowChecks.map { case (nm, pred) =>
      sum(when(coalesce(pred, lit(false)), 0L).otherwise(1L)).as(s"__rc_$nm")
    }
    val uniqAggs = uniqueCols.map { c =>
      (count(col(c)) - countDistinct(col(c))).as(s"__uq_$c")
    }
    val aggs = rowAggs ++ uniqAggs
    val scanChecks: Seq[DataFrame] =
      if (aggs.isEmpty) Nil
      else {
        val one = df.agg(count(lit(1)).as("__n"), aggs: _*)
        val entries =
          rowChecks.map { case (nm, _) =>
            struct(lit(nm).as("check_name"), col("__n").as("n_rows"),
              col(s"__rc_$nm").as("n_violations"))
          } ++ uniqueCols.map { c =>
            struct(lit(s"unique_$c").as("check_name"), col("__n").as("n_rows"),
              col(s"__uq_$c").as("n_violations"))
          }
        Seq(one.select(explode(array(entries: _*)).as("e")).select("e.*"))
      }
    val fkFrames = fkChecks.map { case (nm, dim, fk, pk) =>
      val viol = df.join(dim.select(col(pk)), col(fk) === col(pk), "left_anti")
        .agg(count(lit(1)).as("n_violations"))
      val n = df.agg(count(lit(1)).as("n_rows"))
      n.crossJoin(viol).select(lit(nm).as("check_name"),
        col("n_rows"), col("n_violations"))
    }
    (scanChecks ++ fkFrames).reduce(_ unionByName _)
      .withColumn("passed", (col("n_violations") === 0L).cast("int"))
  }
}
