package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DataTypes, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native word tokenizer: maximal runs of `[a-z0-9]` bytes, equivalent to
  * `regexp_extract_all(text, '[a-z0-9]+', 0)` (the DuckDB oracle form)
  * but a single branch-per-byte scan instead of a JDK regex Matcher.
  *
  * The class is ASCII-only by construction, so scanning BYTES is exact on
  * any UTF-8 input: every byte of a multi-byte code point is ≥ 0x80 and
  * never matches, i.e. non-ASCII text separates tokens exactly as the
  * regex does, and each matched run is a valid single-byte-per-char UTF-8
  * substring. Tokenization is the inner loop of every text-family query
  * (TF-IDF, term frequencies, quality stats all explode it over the full
  * corpus); the regex Matcher showed up as the dominant cost of the whole
  * family at sf0.1, and at 100 TB it is pure per-row CPU — no shuffle to
  * hide behind.
  */
object Tokenize {

  /** Kernel of [[WordTokens]], shared by interpreted eval and generated code. */
  def tokens(text: UTF8String): ArrayData = {
    val bytes = text.getBytes
    val out = new java.util.ArrayList[UTF8String]()
    var i = 0
    val n = bytes.length
    while (i < n) {
      val b = bytes(i)
      if ((b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')) {
        val start = i
        i += 1
        while (i < n && {
          val c = bytes(i); (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')
        }) i += 1
        out.add(UTF8String.fromBytes(bytes, start, i - start))
      } else i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Kernel of [[WordTokenCount]], shared by interpreted eval and
    * generated code.
    */
  def tokenCount(text: UTF8String): Int = {
    val bytes = text.getBytes
    var count = 0
    var inRun = false
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i)
      val m = (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')
      if (m && !inRun) count += 1
      inRun = m
      i += 1
    }
    count
  }

  /** `graft_word_tokens(text)` — array of the [a-z0-9]+ runs of `text`. */
  case class WordTokens(child: Expression)
      extends UnaryExpression with ExpectsInputTypes {

    override def inputTypes = Seq(StringType)
    override def dataType: DataType = ArrayType(StringType, containsNull = false)

    override protected def nullSafeEval(input: Any): Any =
      tokens(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, v => s"${ev.value} = graft.functions.Tokenize.tokens($v);")

    override protected def withNewChildInternal(newChild: Expression): WordTokens =
      copy(child = newChild)
  }

  /** `graft_word_token_count(text)` — COUNT of [a-z0-9]+ runs without
    * materializing the token array: the `size(wordTokens(text))` fast
    * path quality-stat queries take (no per-token allocation at all).
    */
  case class WordTokenCount(child: Expression)
      extends UnaryExpression with ExpectsInputTypes {

    override def inputTypes = Seq(StringType)
    override def dataType: DataType = DataTypes.IntegerType

    override protected def nullSafeEval(input: Any): Any =
      tokenCount(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, v => s"${ev.value} = graft.functions.Tokenize.tokenCount($v);")

    override protected def withNewChildInternal(newChild: Expression): WordTokenCount =
      copy(child = newChild)
  }

  def wordTokens(text: Column): Column =
    ColumnBridge.column(WordTokens(ColumnBridge.expression(text)))

  def wordTokenCount(text: Column): Column =
    ColumnBridge.column(WordTokenCount(ColumnBridge.expression(text)))
}
