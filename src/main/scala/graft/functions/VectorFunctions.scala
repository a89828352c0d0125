package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Embedding-vector math over `array<float>` columns, built from
  * higher-order builtins (`zip_with` + `aggregate`) so it is codegen'd
  * and — critically for the oracle — sums strictly left-to-right in
  * double, matching DuckDB's
  * `list_sum([a[i]::double * b[i]::double for i ...])` bit-for-bit.
  */
object VectorFunctions {

  /** Σ aᵢ·bᵢ in double precision (cast-before-multiply), strictly
    * sequential — a native codegen kernel
    * ([[graft.functions.expressions.Kernels.dotFF]]) bit-identical to
    * the `aggregate(zip_with(...))` form and the oracle's
    * `list_sum([a[i]::double * b[i]::double ...])`. */
  def dot(a: Column, b: Column): Column =
    graft.functions.expressions.Kernels.dotFF(a, b)

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; 0 for zero-norm inputs (guards div-by-zero). */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val nn = norm(a) * norm(b)
    when(nn === 0.0, lit(0.0)).otherwise(d / nn)
  }

  /** Deterministic plane coefficient in [-1, 1) from md5(p:d). */
  private[graft] def planeCoef(p: Int, d: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$p:$d".getBytes("UTF-8"))
    val bits = java.nio.ByteBuffer.wrap(md).getLong(0)
    (bits.toDouble / Long.MaxValue.toDouble)
  }
}
