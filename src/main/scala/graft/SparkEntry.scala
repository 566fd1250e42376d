package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.Registry

/** Batch query contract — see SURVEY.md §7.
  *
  * Every `queries` entry is a deterministic, order-stable batch query over
  * the driver's parquet tables; every SQL-expressible one has a matching
  * DuckDB `oracleSql` with IDENTICAL output column names. Both maps derive
  * from the per-family `QuerySpec` declarations in `graft.queries`.
  * Cross-engine determinism rules used throughout:
  *   - aggregated doubles are `round(_, 2|4)` on BOTH sides so float
  *     summation order can't flip the hash compare;
  *   - timestamp bucketing is integer epoch-seconds math on BOTH sides
  *     (events.ts is nanos in parquet; Spark truncates to micros — raw
  *     timestamp output would hash-mismatch);
  *   - every ranking has a total tie-break order;
  *   - every result ends in ORDER BY.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The multi-way star join — a scale-representative plan (broadcast dims,
    * hash-partitioned fact joins), not one of the oracle-shape queries.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q_multi_join")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Registry.all.queries

  /** Evaluated per call, after the queries ran: see [[Registry.all]]. */
  def oracleSql: Map[String, String] = Registry.all.oracleSql
}
