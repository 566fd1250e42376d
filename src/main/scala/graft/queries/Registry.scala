package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One batch query, declared once with everything keyed by its name.
  *
  * @param build          the query over the parquet tables at `dir`:
  *                       deterministic and order-stable
  * @param oracleSql      equivalent ANSI SQL runnable by DuckDB on the same
  *                       tables, with identical output column names; `None`
  *                       for operators SQL cannot express
  * @param scaleNote      why the plan is kept in a small-data "oracle
  *                       shape", or what to audit at scale (`graft.Explain`)
  * @param allPairsReason why the plan may carry an all-pairs join
  *                       (`PlanGuardSuite`); a stale reason fails that suite
  */
final case class QuerySpec(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracleSql: Option[String] = None,
    scaleNote: Option[String] = None,
    allPairsReason: Option[String] = None)

/** Name-keyed views of a set of specs. Construction throws when two specs
  * share a name: a `Map` built from them would silently keep the last.
  */
final class Registry(val specs: Seq[QuerySpec]) {
  private val dups = specs.groupBy(_.name).collect { case (n, ss) if ss.size > 1 => n }
  require(dups.isEmpty, s"query names declared more than once: ${dups.toSeq.sorted.mkString(", ")}")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(q => q.name -> q.build).toMap
  def oracleSql: Map[String, String] = collect(_.oracleSql)
  def scaleNotes: Map[String, String] = collect(_.scaleNote)
  def allPairsReasons: Map[String, String] = collect(_.allPairsReason)

  private def collect(field: QuerySpec => Option[String]): Map[String, String] =
    specs.flatMap(q => field(q).map(q.name -> _)).toMap
}

object Registry {
  /** Every query, rebuilt on each call: the BPE and unigram oracles embed
    * the tables their queries trained on their latest run.
    */
  def all: Registry = new Registry(
    WindowQueries.specs ++ RelationalQueries.specs ++ AnalyticsQueries.specs ++
      GraphQueries.specs ++ TextQueries.specs ++ WebQueries.specs ++ DedupQueries.specs ++
      SimilarityQueries.specs ++ MultimodalQueries.specs ++ PipelineQueries.specs)
}
