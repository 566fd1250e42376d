package org.apache.spark.sql.graft

import org.apache.spark.sql.{classic, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.types.StructType

/** Bridge into Spark's `private[sql]` plan constructors, so that graft's
  * emitter hands out rows it already holds as a DataFrame without running
  * Catalyst analysis. Lives under `org.apache.spark.sql` solely for
  * access; contains no Spark code.
  */
object FrameBridge {

  /** `rows` (in `schema`'s internal representation: `UTF8String`s,
    * timestamps as epoch µs) as a DataFrame over a `LocalRelation` that is
    * marked analyzed, so building it skips the analyzer that
    * `createDataFrame` runs. The frame is local (`isLocal`), and a
    * `collect()` of it starts no Spark job.
    */
  def local(spark: SparkSession, schema: StructType, rows: Seq[InternalRow]): DataFrame = {
    val plan = LocalRelation(DataTypeUtils.toAttributes(schema), rows)
    plan.setAnalyzed()
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
  }
}
