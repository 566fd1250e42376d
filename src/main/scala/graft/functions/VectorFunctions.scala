package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Vector math over `ArrayType` columns. The dot product — the hot
  * primitive — is a native codegen'd Catalyst expression
  * ([[DotProduct]]); the rest composes it. No UDFs, no serialization.
  *
  * The native expression loops in ascending index order, so results are
  * deterministic and match a sequential reference implementation (DuckDB's
  * list_cosine_similarity) to ~1e-16.
  */
object VectorFunctions {

  /** Cast array<float> (parquet `list<float>`) to array<double> for stable math. */
  def toDoubleArray(c: Column): Column = transform(c, _.cast(DoubleType))

  /** Native codegen'd dot product (inputs must be array<double>). */
  def dot(a: Column, b: Column): Column = DotProduct.dot(a, b)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity = dot(a,b) / (|a| * |b|). Inputs must be non-zero. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Symmetric int8 quantization: struct(scale, array<tinyint>) with
    * `scale = max|x| / 127`, `q_i = round(x_i / scale)`. Cuts embedding
    * storage/shuffle 4-8× (float/double → byte) — the standard trick for
    * 100 TB embedding corpora; rank-only workloads (ANN candidate
    * generation) tolerate the ~0.4% per-dim error, with exact re-scoring on
    * the shortlist. The all-zero vector quantizes to zeros (scale 0).
    */
  def quantizeInt8(vec: Column): Column = {
    val scale = array_max(transform(vec, x => abs(x))) / lit(127.0)
    struct(
      scale.as("scale"),
      transform(vec, x =>
        when(scale === 0.0, lit(0))
          .otherwise(round(x / scale)).cast("tinyint")).as("q"))
  }

  /** Inverse of [[quantizeInt8]]: array<double> ≈ the original vector. */
  def dequantizeInt8(quantized: Column): Column =
    transform(quantized.getField("q"),
      q => q.cast(DoubleType) * quantized.getField("scale"))
}
