package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode normalization of a string column (NFC/NFD/NFKC/NFKD), which
  * Spark's built-in function surface lacks entirely — the first step of
  * any text-cleaning pipeline over crawled data, where the same visible
  * text arrives precomposed on one page and as base-plus-combining-mark
  * sequences on another and every downstream equality (fingerprints,
  * shingles, dedup keys) silently misses the match.
  *
  * Codegen'd; the fast path skips the (allocating) java.text.Normalizer
  * round-trip for strings that are already in normal form — in practice
  * almost all web text — via `Normalizer.isNormalized`.
  */
case class UnicodeNormalize(child: Expression, form: String)
    extends UnaryExpression with ExpectsInputTypes {
  private val nf = Normalizer.Form.valueOf(form)

  override def dataType: DataType = StringType

  override def inputTypes = Seq(StringType)

  override protected def nullSafeEval(input: Any): Any =
    UnicodeNormalize.normalized(input.asInstanceOf[UTF8String], nf)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.UnicodeNormalize.normalized($a, java.text.Normalizer.Form.$nf);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object UnicodeNormalize {
  /** The kernel, shared by interpreted eval and generated code. */
  def normalized(text: UTF8String, form: Normalizer.Form): UTF8String = {
    val s = text.toString
    if (Normalizer.isNormalized(s, form)) text
    else UTF8String.fromString(Normalizer.normalize(s, form))
  }

  /** Normalize a string column to the given Unicode normal form. */
  def normalize(text: Column, form: String = "NFC"): Column =
    ColumnBridge.column(UnicodeNormalize(ColumnBridge.expression(text), form))
}
