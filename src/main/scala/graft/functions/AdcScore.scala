package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Native ADC (Asymmetric Distance Computation) kernel for PQ scoring:
  * `adc(codes, lut, ksub) = Σ_sub lut[sub·ksub + codes[sub]]`.
  *
  * `codes` is a corpus vector's `m` byte-sized PQ cell codes; `lut` is one
  * query's dense lookup table of per-(sub, cell) partial dot products,
  * laid out row-major by subspace (length m·ksub). The previous
  * formulation posexploded the code array (m× row multiplication), joined
  * the LUT on (sub, cell) and partial-summed through an exchange; this is
  * the textbook flat-array probe instead — one fused loop per
  * (query, vector) pair inside whole-stage codegen, no explode, no join,
  * no aggregation. At 100 TB the corpus side stays m bytes/vector and the
  * scoring pass is a single scan.
  *
  * Out-of-range codes (code < 0, code ≥ ksub, or a LUT shorter than
  * m·ksub) are a codebook/encoding mismatch — fail loudly rather than
  * return a plausible-but-wrong score.
  */
case class AdcScore(codes: Expression, lut: Expression, ksub: Int)
    extends BinaryExpression with ExpectsInputTypes {

  override def left: Expression = codes
  override def right: Expression = lut

  override def dataType: DataType = DoubleType

  override def inputTypes =
    Seq(ArrayType(LongType), ArrayType(DoubleType))

  override def nullSafeEval(a: Any, b: Any): Any =
    AdcScore.score(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], ksub)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = graft.functions.AdcScore.score($a, $b, $ksub);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(codes = newLeft, lut = newRight)
}

object AdcScore {
  /** The kernel, shared by interpreted eval and generated code. */
  def score(codes: ArrayData, lut: ArrayData, ksub: Int): Double = {
    val m = codes.numElements()
    val len = lut.numElements()
    var s = 0.0
    var sub = 0
    while (sub < m) {
      val code = codes.getLong(sub)
      val idx = sub.toLong * ksub + code
      if (code < 0 || code >= ksub || idx >= len) {
        throw new IllegalArgumentException(
          s"graft_adc: code $code at sub $sub out of range (ksub=$ksub, lut=$len)")
      }
      s += lut.getDouble(idx.toInt)
      sub += 1
    }
    s
  }

  /** Column API: `codes` array<long> (length m), `lut` array<double>
    * (length m·ksub, row-major by subspace).
    */
  def adc(codes: Column, lut: Column, ksub: Int): Column =
    ColumnBridge.column(AdcScore(
      ColumnBridge.expression(codes), ColumnBridge.expression(lut), ksub))
}
