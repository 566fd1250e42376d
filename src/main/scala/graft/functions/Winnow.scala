package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken, SIGMOD
  * 2003 — public algorithm): hash every SEQUENTIAL n-token shingle
  * (xxhash64, seed 42), slide a window of `w` consecutive hashes over the
  * sequence, select each window's minimum (rightmost on ties — the paper's
  * "robust winnowing"), and return the DISTINCT selected hashes in
  * selection order.
  *
  * Guarantee (the reason this beats a global min): every run of `w`
  * consecutive shingles contributes at least one fingerprint, so any shared
  * substring of ≥ w+n−1 tokens between two documents yields at least one
  * shared fingerprint, while an edit perturbs only the ≤ w windows that
  * overlap it. Density is ~2/(w+1) fingerprints per shingle.
  *
  * Native codegen'd expression for the same reason as [[MinHashSig]]: the
  * HOF formulation re-tokenizes per element and evaluates interpreted.
  * The scan keeps the rightmost-min index incrementally — each window does
  * O(1) work except when the previous minimum falls out of range (a full
  * w-rescan, amortized O(1) per position overall).
  *
  * Documents with fewer than n tokens yield an empty array; with fewer
  * than w shingles, the whole document is one window (its min is the one
  * fingerprint — the short-document degenerate case in the paper).
  */
case class WinnowFingerprints(child: Expression, n: Int, w: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(n >= 1 && w >= 1)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def inputTypes = Seq(ArrayType(StringType))

  override protected def nullSafeEval(input: Any): Any =
    Winnow.fingerprints(input.asInstanceOf[ArrayData], n, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = graft.functions.Winnow.fingerprints($a, $n, $w);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Winnow {
  private val sep = UTF8String.fromString(" ")

  /** Kernel of [[WinnowFingerprints]], shared by interpreted eval and
    * generated code.
    */
  def fingerprints(toks: ArrayData, n: Int, w: Int): ArrayData = {
    val m = toks.numElements()
    if (m < n) return new GenericArrayData(Array.empty[Any])
    val nh = m - n + 1
    val hashes = new Array[Long](nh)
    var i = 0
    while (i < nh) {
      val parts = new Array[UTF8String](n)
      var j = 0
      while (j < n) { parts(j) = toks.getUTF8String(i + j); j += 1 }
      hashes(i) = XXH64.hashUTF8String(UTF8String.concatWs(sep, parts: _*), 42L)
      i += 1
    }
    val win = math.min(w, nh)
    val out = new java.util.LinkedHashSet[java.lang.Long]()
    var minIdx = -1
    var t = win - 1
    while (t < nh) {
      val start = t - win + 1
      if (minIdx < start) {
        minIdx = start
        var k = start + 1
        while (k <= t) { if (hashes(k) <= hashes(minIdx)) minIdx = k; k += 1 }
      } else if (hashes(t) <= hashes(minIdx)) minIdx = t
      out.add(hashes(minIdx))
      t += 1
    }
    val arr = new Array[Any](out.size)
    val it = out.iterator()
    var p = 0
    while (it.hasNext) { arr(p) = it.next().longValue(); p += 1 }
    new GenericArrayData(arr)
  }

  /** Winnowing fingerprint set of an array<string> token column. */
  def winnow(tokens: Column, n: Int, w: Int): Column =
    ColumnBridge.column(WinnowFingerprints(ColumnBridge.expression(tokens), n, w))
}
