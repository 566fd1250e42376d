package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** Native Catalyst expression: sparse-vector dot product of two
  * ASCENDING-key-sorted `array<struct<h: long, w: double>>` columns by a
  * single merge scan — the weighted cousin of [[IntersectCountSorted]],
  * and the per-candidate verify kernel of the prefix-filtered tf-idf
  * cosine join: candidates arrive as pairs of per-document (term-hash,
  * weight) arrays, and Σ w_a·w_b over shared hashes is the exact dot the
  * threshold test needs. O(|A|+|B|), allocation-light, whole-stage
  * codegen.
  *
  * Keys MUST be sorted ascending and distinct per array (guaranteed by
  * `sort_array(struct(xxhash64(term), w))` over per-doc distinct terms);
  * products accumulate in ascending-key order, so the summation order is
  * deterministic — identical on every executor and run.
  */
case class DotSortedPairs(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def dataType: DataType = DoubleType

  private val pairType = ArrayType(StructType(Seq(
    StructField("h", LongType, nullable = false),
    StructField("w", DoubleType, nullable = false))), containsNull = false)

  override def inputTypes = Seq(pairType, pairType)

  override def nullSafeEval(a: Any, b: Any): Any =
    DotSortedPairs.mergeDot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = graft.functions.DotSortedPairs.mergeDot($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DotSortedPairs {
  /** The kernel, shared by interpreted eval and generated code. */
  def mergeDot(x: ArrayData, y: ArrayData): Double = {
    val n = x.numElements()
    val m = y.numElements()
    var i = 0
    var j = 0
    var acc = 0.0
    while (i < n && j < m) {
      val xr = x.getStruct(i, 2)
      val yr = y.getStruct(j, 2)
      val xh = xr.getLong(0)
      val yh = yr.getLong(0)
      if (xh < yh) i += 1
      else if (xh > yh) j += 1
      else { acc += xr.getDouble(1) * yr.getDouble(1); i += 1; j += 1 }
    }
    acc
  }

  /** Column API: Σ w_a·w_b over shared keys of two ascending-key-sorted
    * `array<struct<h: long, w: double>>` columns.
    */
  def dotSortedPairs(a: Column, b: Column): Column =
    ColumnBridge.column(DotSortedPairs(ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
