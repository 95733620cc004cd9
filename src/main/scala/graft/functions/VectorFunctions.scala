package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** Dense-vector column functions built from codegen'd Spark higher-order
  * functions — no UDFs in the hot path.
  *
  * Semantics mirror the reference's exact (non-approximate) cosine pipeline:
  * corpus rows are L2-normalized once at index build
  * (/root/reference/minivectordb/vector_database.py:42-47) and queries are
  * normalized per call (vector_database.py:473-475), so inner product equals
  * cosine similarity. Here both shapes are exposed: `dot` for pre-normalized
  * arrays, `cosine` for raw arrays.
  *
  * All arithmetic is performed in Double (sequential left-to-right fold, the
  * same evaluation order DuckDB uses for `list_cosine_similarity(DOUBLE[],
  * DOUBLE[])`) so results are bit-comparable with the verification oracle.
  */
object VectorFunctions {

  /** Cast an ARRAY<FLOAT> (or any numeric array) column to ARRAY<DOUBLE>. */
  def toDoubleArray(v: Column): Column = v.cast(ArrayType(DoubleType))

  /** Sequential-fold dot product of two equal-length numeric arrays, as a
    * native codegen expression ([[DotProductExpr]]) — a fused loop with no
    * per-row allocation, replacing the interpreted
    * `aggregate(zip_with(...))` form. Identical accumulation order ⇒
    * identical doubles.
    */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      DotProductExpr(
        org.apache.spark.sql.graft.Bridge.expression(a),
        org.apache.spark.sql.graft.Bridge.expression(b)))

  /** Squared L2 norm (= dot(v, v); same fold order as the explicit sum of
    * squares).
    */
  def normSq(v: Column): Column = dot(v, v)

  /** Exact cosine similarity of two raw (unnormalized) vectors, computed as
    * dot / (sqrt(|a|^2) * sqrt(|b|^2)) — the same formula and fold order as
    * the DuckDB oracle, giving bit-comparable doubles.
    */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(normSq(a)) * sqrt(normSq(b)))

  /** [[cosine]] of a vector column against one driver-side query vector,
    * with the same doubles. The query's norm is computed here
    * ([[queryNorm]]) and bound with [[BoundParam.param]]: `cosine(v,
    * typedLit(q))` would fold it into an inlined literal, so every new query
    * would compile new code.
    */
  def cosineTo(v: Column, query: Seq[Float]): Column =
    dot(v, typedLit(query)) / (sqrt(normSq(v)) * BoundParam.param(queryNorm(query)))

  /** `sqrt(normSq(q))` of a driver-side vector, in the kernel's fold order
    * ([[DotProductExpr]]: left to right from 0.0, each element widened to
    * double first), so it equals the folded column expression bit for bit.
    */
  def queryNorm(query: Seq[Float]): Double =
    math.sqrt(query.foldLeft(0.0)((s, x) => s + x.toDouble * x.toDouble))
}
