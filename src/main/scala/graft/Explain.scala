package graft

import org.apache.spark.sql.SparkSession

/** Plan-audit main: print the formatted physical plan of one or more
  * SparkEntry queries (default: a representative set). Used to verify scan
  * pushdown (`PushedFilters`/`ReadSchema`), broadcast choices, partial
  * aggregation, and whole-stage-codegen spans.
  *
  * Usage: runMain graft.Explain [-exec] [queryName ...]
  *
  * `-exec` EXECUTES each query first and prints the final adaptive plan
  * instead of the pre-execution one: AQE decisions (broadcast downgrades,
  * coalesced partitions) and ReusedExchange nodes (self-join subtree
  * dedup) only exist in the executed plan — the static `explain` shows
  * `isFinalPlan=false` and double-counts shared subtrees.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val exec = args.contains("-exec")
    val rest = args.filterNot(_ == "-exec").toSeq
    val names = if (rest.nonEmpty) rest else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      println(s"\n========== $name ==========")
      scaleNotes.get(name).foreach(n => println(s"[scale] $n"))
      val df = SparkEntry.queries(name)(spark, sfDir)
      if (exec) {
        // drive df's OWN QueryExecution (a write/count would execute a
        // different plan instance and leave this one un-finalized) — audit
        // scale is sf0.001, so the collect is a few thousand rows
        df.collect()
        println(df.queryExecution.executedPlan.toString)
      } else df.explain("formatted")
    }
    spark.stop()
  }

  /** Queries kept deliberately in a small-data "oracle shape" — printed so a
    * plan audit never mistakes them for the recommended scale path.
    */
  val scaleNotes: Map[String, String] = graft.queries.Registry.all.scaleNotes
}
