package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native product-quantization kernels over a DRIVER-RESOLVED codebook.
  *
  * A PQ codebook is a bounded model artifact — at most 256·256 rows of
  * dim/m doubles, whatever the corpus size — so unlike corpus-sized state
  * it is collected once after training and compiled into these
  * expressions as flat constant arrays (`ctx.addReferenceObj`, the same
  * mechanism Spark uses for literal constants). That turns ENCODING —
  * the pass that must touch every corpus vector — into a pure projection
  * inside whole-stage codegen: one scan, zero exchanges. The previous
  * declarative formulation exploded each vector into m subvector rows and
  * paid two corpus-sized shuffles (per-(id, sub) argmin agg + the pivot
  * back to one codes row per id), which is exactly the shape you cannot
  * afford when encoding 100 TB.
  *
  * Both kernels L2-normalize the input internally (zero vectors pass
  * through), mirroring the trainers' unit-normalization, so summed
  * subspace inner products remain the quantized cosine.
  *
  * Layout contract (shared with [[AdcScore]]): `cb[(sub·ksub + cell)·dsub
  * + d]`, `cn2[sub·ksub + cell]` = that centroid's squared norm, with
  * Lloyd-emptied cells marked `cn2 = +∞` (never win an argmin, score 0 in
  * the LUT — no code references them).
  */
object PqKernels {

  /** Flat driver-side codebook: centroid coordinates, per-cell squared
    * norms (+∞ = cell dropped out of training), and the layout dims.
    */
  final case class DenseCodebook(
      cb: Array[Double], cn2: Array[Double], m: Int, ksub: Int, dsub: Int)

  /** The input vector as a copied array, checked against the codebook's
    * m·dsub and (when `normalize`) unit-normalized in place; the summation
    * order matches the HOF `aggregate` formulation the trainers use, so
    * codes from this kernel are bitwise-identical to the declarative
    * argmin's.
    */
  private def checkedVector(v: ArrayData, book: DenseCodebook, normalize: Boolean, fn: String): Array[Double] = {
    val x = v.toDoubleArray()
    if (x.length != book.m * book.dsub) {
      throw new IllegalArgumentException(
        s"$fn: vector length ${x.length} != ${book.m * book.dsub}")
    }
    if (normalize) {
      var n2 = 0.0
      var i = 0
      while (i < x.length) { n2 += x(i) * x(i); i += 1 }
      val n = math.sqrt(n2)
      if (n > 0.0) { i = 0; while (i < x.length) { x(i) /= n; i += 1 } }
    }
    x
  }

  /** Encode kernel of [[PqCodes]], shared by interpreted eval and
    * generated code.
    */
  def encode(v: ArrayData, book: DenseCodebook, normalize: Boolean): ArrayData = {
    val x = checkedVector(v, book, normalize, "graft_pq_codes")
    val out = new Array[Long](book.m)
    var sub = 0
    while (sub < book.m) {
      var bestCell = -1
      var bestD = Double.PositiveInfinity
      var cell = 0
      while (cell < book.ksub) {
        val c2 = book.cn2(sub * book.ksub + cell)
        if (c2 != Double.PositiveInfinity) {
          var dot = 0.0
          val off = (sub * book.ksub + cell) * book.dsub
          val voff = sub * book.dsub
          var d = 0
          while (d < book.dsub) { dot += x(voff + d) * book.cb(off + d); d += 1 }
          val dist = c2 - 2.0 * dot
          if (dist < bestD) { bestD = dist; bestCell = cell }
        }
        cell += 1
      }
      if (bestCell < 0) throw new IllegalStateException(
        s"graft_pq_codes: no surviving cell in sub $sub")
      out(sub) = bestCell.toLong
      sub += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Lookup-table kernel of [[PqLut]], shared by interpreted eval and
    * generated code.
    */
  def lut(v: ArrayData, book: DenseCodebook): ArrayData = {
    val x = checkedVector(v, book, normalize = true, "graft_pq_lut")
    val out = new Array[Double](book.m * book.ksub)
    var sub = 0
    while (sub < book.m) {
      var cell = 0
      while (cell < book.ksub) {
        val sc = sub * book.ksub + cell
        if (book.cn2(sc) != Double.PositiveInfinity) {
          var dot = 0.0
          val off = sc * book.dsub
          val voff = sub * book.dsub
          var d = 0
          while (d < book.dsub) { dot += x(voff + d) * book.cb(off + d); d += 1 }
          out(sc) = dot
        }
        cell += 1
      }
      sub += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** PQ encode as a scalar expression: `array<long>` of m byte-range cell
    * codes, argmin of squared euclidean per subspace (ties → smallest
    * cell, matching `min_by(cell, struct(dist, cell))`).
    *
    * `normalize = false` skips the internal unit-normalization — the
    * raw-vector mode that turns this kernel (with m = 1, dsub = dim) into
    * a plain nearest-centroid assigner over a broadcast codebook: the
    * one-projection IVF cell assignment ([[graft.operators.Similarity
    * .kmeansCells]]'s sampled path), where centroids were trained on raw
    * vectors and normalizing would change the argmin.
    */
  case class PqCodes(child: Expression, book: DenseCodebook, normalize: Boolean = true)
      extends UnaryExpression with ExpectsInputTypes {

    override def inputTypes = Seq(ArrayType(DoubleType))
    override def dataType: DataType = ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)

    override def nullSafeEval(input: Any): Any =
      encode(input.asInstanceOf[ArrayData], book, normalize)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val bookRef = ctx.addReferenceObj("pqBook", book, classOf[DenseCodebook].getName)
      nullSafeCodeGen(ctx, ev, v =>
        s"${ev.value} = graft.functions.PqKernels.encode($v, $bookRef, $normalize);")
    }

    override protected def withNewChildInternal(newChild: Expression): PqCodes =
      copy(child = newChild)
  }

  /** Per-query dense ADC lookup table as a scalar expression:
    * `array<double>` of length m·ksub, `lut[sub·ksub + cell] =
    * dot(q_sub, cent)`, 0.0 for dropped cells — byte-compatible with
    * [[AdcScore]] and with the previous aggregate-built LUT.
    */
  case class PqLut(child: Expression, book: DenseCodebook)
      extends UnaryExpression with ExpectsInputTypes {

    override def inputTypes = Seq(ArrayType(DoubleType))
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

    override def nullSafeEval(input: Any): Any =
      lut(input.asInstanceOf[ArrayData], book)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val bookRef = ctx.addReferenceObj("pqBook", book, classOf[DenseCodebook].getName)
      nullSafeCodeGen(ctx, ev, v => s"${ev.value} = graft.functions.PqKernels.lut($v, $bookRef);")
    }

    override protected def withNewChildInternal(newChild: Expression): PqLut =
      copy(child = newChild)
  }

  /** Column API: m byte-range PQ codes of a double vector. */
  def pqCodes(vec: Column, book: DenseCodebook, normalize: Boolean = true): Column =
    ColumnBridge.column(PqCodes(ColumnBridge.expression(vec), book, normalize))

  /** Column API: dense m·ksub ADC lookup table of a query vector. */
  def pqLut(vec: Column, book: DenseCodebook): Column =
    ColumnBridge.column(PqLut(ColumnBridge.expression(vec), book))
}
