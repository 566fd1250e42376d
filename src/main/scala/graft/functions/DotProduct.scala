package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression for `dot(array<double>, array<double>)`.
  *
  * The higher-order-function formulation
  * (`aggregate(zip_with(a,b,*),0.0,+)`) allocates an intermediate array and
  * evaluates interpreted per element; this expression is a tight primitive
  * loop and participates in whole-stage codegen — the hot path for the
  * similarity/near-dup operators (millions of 64-dim dot products).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def dataType: DataType = DoubleType

  override def inputTypes =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))

  override def nullSafeEval(a: Any, b: Any): Any =
    DotProduct.product(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = graft.functions.DotProduct.product($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  /** The kernel, shared by interpreted eval and generated code.
    * Mismatched dimensionality is a data/config bug (e.g. planes generated
    * for the wrong dim) — silently truncating to min length would return
    * plausible-but-wrong scores, so fail loudly instead.
    */
  def product(x: ArrayData, y: ArrayData): Double = {
    val n = x.numElements()
    if (n != y.numElements()) {
      throw new IllegalArgumentException(
        s"graft_dot: vector length mismatch ($n vs ${y.numElements()})")
    }
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  /** Column API over the native expression. Inputs must be array<double>. */
  def dot(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
