package graft.operators

import graft.functions.{VectorFunctions => VF}
import graft.functions.BoundParam.param
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ByteType

/** Int8-quantized vector search — parity with the reference's usearch
  * variant (`metric='cos', dtype='int8'`,
  * /root/reference/minivectordb/sharded_vector_database_usearch.py:621-627),
  * re-expressed storage-first: embeddings are quantized ONCE at ingest to a
  * symmetric per-vector int8 code (4× smaller on disk and over the wire —
  * at 100 TB the scan is the query, so byte width is throughput), and
  * cosine over the codes is scale-invariant, so ranking needs no
  * dequantization at all.
  *
  * Quantization: `q_i = floor(127·x_i / max|x| + 0.5)` ∈ [−127, 127] —
  * spelled with floor(±0.5) rather than a round() builtin so the identical
  * arithmetic runs in the DuckDB oracle. Cosine of the dequantized vectors
  * equals cosine of the raw codes (the per-vector scale cancels), computed
  * with the same fused dot kernel as the exact path (int8 arrays read
  * directly, no widening copy).
  *
  * Unlike the reference's usearch variant (returns cosine DISTANCE
  * ascending), scores keep the engine-wide similarity-descending convention
  * (SURVEY §1.2 decision).
  */
object Quantized {

  /** Attach `qemb` (ARRAY<TINYINT>) and its precomputed squared norm to a
    * vector table — the quantized index-build step.
    */
  def quantize(df: DataFrame, vec: Column): DataFrame =
    df
      .withColumn("_d", VF.toDoubleArray(vec))
      .withColumn("_s", array_max(transform(col("_d"), x => abs(x))))
      .withColumn("qemb",
        when(col("_s") > 0,
          transform(col("_d"), x => floor(x * lit(127.0) / col("_s") + lit(0.5)).cast(ByteType)))
          .otherwise(transform(col("_d"), _ => lit(0).cast(ByteType))))
      .withColumn("qnorm_sq", VF.dot(col("qemb"), col("qemb")))
      .drop("_d", "_s")

  /** Driver-side quantization of the query vector (same formula). */
  def quantizeVec(v: Seq[Float]): Array[Int] = {
    val d = v.map(_.toDouble).toArray
    val s = d.map(math.abs).foldLeft(0.0)(math.max)
    if (s <= 0) new Array[Int](d.length)
    else d.map(x => math.floor(x * 127.0 / s + 0.5).toInt)
  }

  /** Top-k by cosine over the int8 codes (scale-invariant ⇒ equals cosine
    * of the dequantized vectors).
    */
  def search(quantized: DataFrame, id: Column, query: Seq[Float], k: Int = 5): DataFrame = {
    val q = quantizeVec(query)
    val qNorm = math.sqrt(q.map(x => x.toDouble * x.toDouble).sum)
    quantized
      .withColumn("score",
        VF.dot(col("qemb"), typedLit(q.toSeq)) / (sqrt(col("qnorm_sq")) * param(qNorm)))
      .select(id.as("id"), col("score"))
      .orderBy(desc("score"), asc("id"))
      .limit(k)
  }

  /** Top-k by cosine DISTANCE over the int8 codes, ascending — the usearch
    * variant's native return convention (`metric='cos'` returns distances,
    * /root/reference/minivectordb/sharded_vector_database_usearch.py:621-627):
    * `distance = 1 − cosine`, smallest first, id tiebreak. Feeds
    * [[graft.operators.Autocut.ascending]].
    */
  def searchDistance(quantized: DataFrame, id: Column, query: Seq[Float], k: Int = 5): DataFrame = {
    val q = quantizeVec(query)
    val qNorm = math.sqrt(q.map(x => x.toDouble * x.toDouble).sum)
    quantized
      .withColumn("distance",
        lit(1.0) - VF.dot(col("qemb"), typedLit(q.toSeq)) / (sqrt(col("qnorm_sq")) * param(qNorm)))
      .select(id.as("id"), col("distance"))
      .orderBy(asc("distance"), asc("id"))
      .limit(k)
  }

  // ------------------------------------------------------- binary (1-bit)

  /** Binary (sign-bit) quantization: dimension j contributes bit j, set iff
    * `v_j ≥ 0` — 64 dims pack into ONE BIGINT (64× narrower than float32).
    * At scan-is-the-query scale this is the cheapest possible prefilter
    * representation: candidate ranking is a single XOR + popcount per row.
    * Supports dim ≤ 64 (one word); wider vectors — real embedding models
    * are 384/512/1024-d (/root/reference/tests/test_embedding_model.py:13,
    * 37,61,73) — use [[binarizeWords]].
    */
  def binarize(df: DataFrame, vec: Column, dim: Int): DataFrame = {
    require(dim >= 1 && dim <= 64, s"one-word binarization needs dim ≤ 64, got $dim")
    // single word of the same sign-pack kernel (one codegen node instead of
    // a dim-term when-chain; identical bit semantics incl. NaN → bit set)
    df.withColumn("bcode",
      element_at(org.apache.spark.sql.graft.Bridge.column(
        graft.functions.SignPackExpr(
          org.apache.spark.sql.graft.Bridge.expression(slice(vec, 1, dim)),
          minWords = 1)), 1))
  }

  /** Multi-word binary quantization for ANY dimension: word w packs dims
    * [64w, 64w+63] (bit j of word w = sign of dim 64w+j) into an
    * ARRAY<BIGINT> `bcodes` of ⌈dim/64⌉ words — a 512-d float32 vector
    * becomes 64 bytes. Hamming over the words is one fused XOR+popcount
    * loop ([[graft.functions.PopcountXorExpr]]).
    */
  def binarizeWords(df: DataFrame, vec: Column, dim: Int): DataFrame = {
    require(dim >= 1, s"need dim ≥ 1, got $dim")
    // one native node ([[graft.functions.SignPackExpr]]) instead of dim
    // when(element_at(...)) terms: at 512-d the O(dim)-node Catalyst tree
    // cost more to analyze/codegen per query than the scan took to run
    // minWords pins the old when-chain's fixed ceil(dim/64)-word output even
    // for vectors shorter than dim (absent dims pack as 0 bits) — Hamming
    // iterates the min length of the two sides, so width must not shrink
    df.withColumn("bcodes",
      org.apache.spark.sql.graft.Bridge.column(
        graft.functions.SignPackExpr(
          org.apache.spark.sql.graft.Bridge.expression(slice(vec, 1, dim)),
          minWords = (dim + 63) / 64)))
  }

  /** Driver-side multi-word sign packing of the query (same word/bit order).
    * Takes Doubles: the wide query is derived in Double arithmetic and must
    * not round-trip through Float (a tiny negative difference collapsing to
    * -0.0f would flip its sign bit versus the column-side Double test).
    */
  def binarizeVecWords(v: Seq[Double]): Array[Long] = {
    val out = new Array[Long]((v.length + 63) / 64)
    // !(x < 0): NaN sets its bit, matching SignPackExpr and the SQL-
    // comparison semantics of the original when(x >= 0) column form
    v.zipWithIndex.foreach { case (x, i) => if (!(x < 0)) out(i >> 6) |= 1L << (i & 63) }
    out
  }

  /** Multi-word Hamming distance column between a packed codes column and a
    * driver-packed query code.
    */
  def hammingWords(codes: Column, queryWords: Array[Long]): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.functions.PopcountXorExpr(
        org.apache.spark.sql.graft.Bridge.expression(codes),
        org.apache.spark.sql.graft.Bridge.expression(typedLit(queryWords.toSeq))))

  /** Two-stage binary search over multi-word codes — [[binarySearch]] with
    * the 64-dim cap lifted: coarse Hamming rank over ⌈dim/64⌉ words per row
    * (fused XOR+popcount), keep `rerank` candidates, exact cosine top-k on
    * the `vec` column.
    */
  def binarySearchWords(
      binarized: DataFrame,
      id: Column,
      query: Seq[Double],
      rerankVec: Column,
      rerankQuery: Seq[Float],
      k: Int = 5,
      rerank: Int = 50): DataFrame = {
    val qWords = binarizeVecWords(query)
    binarized
      .withColumn("hamming", hammingWords(col("bcodes"), qWords))
      .withColumn("id", id)
      .orderBy(asc("hamming"), asc("id"))
      .limit(rerank)
      .withColumn("score", VF.cosineTo(rerankVec, rerankQuery))
      .select(col("id"), col("score"))
      .orderBy(desc("score"), asc("id"))
      .limit(k)
  }

  /** Driver-side sign packing of the query (same bit order). */
  def binarizeVec(v: Seq[Float]): Long =
    v.zipWithIndex.map { case (x, j) => if (x >= 0) 1L << j else 0L }.sum

  /** Two-stage binary search: rank ALL rows by Hamming distance of the
    * 1-bit codes (ascending, id tiebreak), keep the best `rerank`
    * candidates, then exact cosine top-k on those only. The coarse pass
    * reads 8 bytes per row instead of the float array — the rerank budget
    * is the recall dial.
    */
  def binarySearch(
      binarized: DataFrame,
      id: Column,
      vec: Column,
      query: Seq[Float],
      k: Int = 5,
      rerank: Int = 50): DataFrame = {
    val qCode = binarizeVec(query)
    binarized
      .withColumn("hamming", bit_count(col("bcode").bitwiseXOR(param(qCode))))
      .withColumn("id", id)
      .orderBy(asc("hamming"), asc("id"))
      .limit(rerank)
      .withColumn("score", VF.cosineTo(vec, query))
      .select(col("id"), col("score"))
      .orderBy(desc("score"), asc("id"))
      .limit(k)
  }
}
