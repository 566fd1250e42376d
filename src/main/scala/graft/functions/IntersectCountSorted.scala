package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Native Catalyst expression: `|A ∩ B|` for two ASCENDING-sorted
  * `array<long>` of distinct elements, by a single merge scan.
  *
  * The `size(array_intersect(a, b))` formulation builds a per-pair hash set
  * AND materializes the intersection array only to take its length; the
  * dedup verify paths (minhash, prefix-Jaccard) need just the count, over
  * arrays that are already `sort_array`'d hashes. The merge scan is
  * O(|A|+|B|), allocation-free, and participates in whole-stage codegen —
  * this is the per-candidate hot loop of the near-dup verifies.
  *
  * Inputs MUST be sorted ascending with distinct elements (both guaranteed
  * by `sort_array(transform(sh, xxhash64))` over distinct shingles — modulo
  * the ~2⁻⁶⁴ hash-collision case, in which case a duplicated element counts
  * once per matching run, same as set semantics). Null elements are not
  * expected (xxhash64 is total); a null array yields null via
  * nullSafeEval.
  */
case class IntersectCountSorted(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def dataType: DataType = IntegerType

  override def inputTypes =
    Seq(ArrayType(LongType), ArrayType(LongType))

  override def nullSafeEval(a: Any, b: Any): Any =
    IntersectCountSorted.mergeCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.IntersectCountSorted.mergeCount($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object IntersectCountSorted {
  /** The kernel, shared by interpreted eval and generated code. */
  def mergeCount(x: ArrayData, y: ArrayData): Int = {
    val n = x.numElements()
    val m = y.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < n && j < m) {
      val xv = x.getLong(i)
      val yv = y.getLong(j)
      if (xv < yv) i += 1
      else if (xv > yv) j += 1
      else { c += 1; i += 1; j += 1 }
    }
    c
  }

  /** Column API: count of common elements of two sorted-ascending
    * `array<long>` columns.
    */
  def intersectCountSorted(a: Column, b: Column): Column =
    ColumnBridge.column(IntersectCountSorted(ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
