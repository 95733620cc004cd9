package graft.operators

import graft.functions.{VectorFunctions => VF}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, ShortType}

/** Product quantization (Jégou, Douze, Schmid, TPAMI 2011) — the
  * billion-scale memory layout for vector search: each vector is cut into
  * `m` subspaces and each subspace is replaced by the index of its nearest
  * per-subspace centroid, so a 64-d float32 vector (256 B) stores as `m`
  * code bytes (8 B at m=8, ks=16) plus one shared codebook. Search is
  * asymmetric-distance (ADC): the query builds an m×ks lookup table of
  * subspace distances ONCE, and every corpus row scores with `m` table
  * lookups — the per-query scan reads the code table, not the float corpus,
  * which at 100 TB is a 32× I/O reduction before any pruning.
  *
  * Beyond the reference's quantization surface (int8 scalar codes,
  * /root/reference/minivectordb/sharded_vector_database_usearch.py:621-627
  * — 4× compression, no codebook): PQ is the shape its FAISS/usearch
  * lineage uses when the corpus outgrows scalar codes. Pipeline placement
  * mirrors [[IvfSearch]]: deterministic codebooks from the lowest-id
  * vectors (so the DuckDB oracle can replicate every arithmetic step);
  * production swaps per-subspace k-means via the identical downstream
  * machinery.
  *
  * Composes with IVF ([[IvfSearch.index]]) into IVF-PQ: list pruning cuts
  * the candidate set, ADC ranks the survivors from codes alone, and an
  * exact-rerank stage ([[searchRefined]]) restores float precision for the
  * final k — each stage an independent recall/cost dial.
  */
object Pq {

  /** Per-subspace codebooks: `cents(j)(c)` is the `subDim`-wide centroid of
    * code `c` in subspace `j` (subspace `j` covers dims `[j·subDim,
    * (j+1)·subDim)`).
    */
  case class Codebooks(m: Int, ks: Int, subDim: Int, cents: Array[Array[Array[Double]]]) {
    require(cents.length == m && cents.forall(_.length == ks))
  }

  /** Deterministic codebooks — subvectors of the `ks` lowest-id corpus
    * vectors, code c = rank c (mirroring [[IvfSearch.centroidsFromIds]]).
    * Production training replaces this with per-subspace k-means (Lloyd
    * over slices, as [[IvfSearch.train]] does for whole vectors); every
    * downstream step — encode, LUT, ADC — is identical either way.
    */
  def codebooksFromIds(
      embs: DataFrame,
      id: Column,
      vec: Column,
      m: Int,
      ks: Int): Codebooks = {
    val rows = embs.select(id.cast("long").as("cid"), VF.toDoubleArray(vec).as("v"))
      .orderBy("cid").limit(ks).collect()
    require(rows.length == ks, s"need $ks vectors for codebooks, got ${rows.length}")
    val dim = rows.head.getSeq[Double](1).length
    require(dim % m == 0, s"dim $dim must split into $m subspaces")
    val d = dim / m
    val cents = Array.tabulate(m, ks) { (j, c) =>
      rows(c).getSeq[Double](1).slice(j * d, (j + 1) * d).toArray
    }
    Codebooks(m, ks, d, cents)
  }

  /** Per-subspace Lloyd refinement of [[codebooksFromIds]] — the production
    * training path. ONE job per iteration: every row explodes into its m
    * (subspace, subvector, assigned code) structs and a single groupBy
    * (j, code) computes all m·ks centroid means with map-side partial
    * aggregation ([[graft.functions.VectorAggs.vectorMean]] — the shuffle
    * carries (sum-vector, count) buffers, never raw subvectors). Empty
    * clusters keep their previous centroid. Downstream (encode, LUT, ADC)
    * is byte-identical to the deterministic-codebook path.
    */
  def train(
      embs: DataFrame,
      id: Column,
      vec: Column,
      m: Int,
      ks: Int,
      iters: Int = 5): Codebooks = {
    var cb = codebooksFromIds(embs, id, vec, m, ks)
    val base = embs.select(vec.cast(
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType)).as("v"))
    for (_ <- 0 until iters) {
      val cur = cb
      val subs = (0 until cur.m).map { j =>
        val s = slice(col("v"), j * cur.subDim + 1, cur.subDim)
        struct(lit(j).as("j"), s.as("s"),
          org.apache.spark.sql.graft.Bridge.column(
            graft.functions.NearestCentroidExpr(
              org.apache.spark.sql.graft.Bridge.expression(s),
              cur.cents(j),
              Array.tabulate(cur.ks)(_.toLong))).as("code"))
      }
      val means = base.select(explode(array(subs: _*)).as("x"))
        .groupBy(col("x.j").as("j"), col("x.code").as("code"))
        .agg(graft.functions.VectorAggs.vectorMean(col("x.s")).as("mean"))
        .collect()
        .map(r => (r.getInt(0), r.getLong(1).toInt) -> r.getSeq[Double](2).toArray)
        .toMap
      cb = cur.copy(cents = Array.tabulate(cur.m, cur.ks) { (j, c) =>
        means.getOrElse((j, c), cur.cents(j)(c))
      })
    }
    cb
  }

  /** Attach `pq_codes` (ARRAY<TINYINT> for ks ≤ 256, ARRAY<SMALLINT> up to
    * 65536) — the ingest-time encode. Per subspace one
    * [[graft.functions.NearestCentroidExpr]] node over the vector slice:
    * argmin `|c|² − 2·v_j·c` with ties to the smaller code, the same kernel
    * and tie rule as IVF assignment. Codes are stored as UNSIGNED values of
    * the narrow type (ks=256 packs codes 128..255 as negative bytes — the
    * standard PQ layout, 1 B/subspace); [[graft.functions.PqAdcExpr]]
    * decodes with the matching unsigned read.
    */
  def encode(df: DataFrame, vec: Column, cb: Codebooks): DataFrame = {
    require(cb.ks <= 65536, s"ks=${cb.ks} exceeds SMALLINT code storage")
    val (narrow, width) = if (cb.ks <= 256) (ByteType, 256L) else (ShortType, 65536L)
    val codes = (0 until cb.m).map { j =>
      val raw = org.apache.spark.sql.graft.Bridge.column(
        graft.functions.NearestCentroidExpr(
          org.apache.spark.sql.graft.Bridge.expression(
            slice(vec, j * cb.subDim + 1, cb.subDim)),
          cb.cents(j),
          Array.tabulate(cb.ks)(_.toLong)))
      // explicit two's-complement wrap into the narrow signed range (ANSI
      // mode rejects the overflowing cast); a no-op for ks ≤ half-range
      when(raw >= lit(width / 2), raw - lit(width)).otherwise(raw).cast(narrow)
    }
    df.withColumn("pq_codes", array(codes: _*))
  }

  /** Per-query ADC lookup table, flat `m·ks` doubles: `lut(j·ks + c) =
    * |cent_jc|² − 2·q_j·cent_jc` (the |q_j|² constant is rank-invariant and
    * dropped). Left-to-right Double accumulation, matching the column-side
    * kernels.
    */
  def lut(query: Seq[Double], cb: Codebooks): Array[Double] = {
    require(query.length == cb.m * cb.subDim,
      s"query dim ${query.length} != ${cb.m}*${cb.subDim}")
    val out = new Array[Double](cb.m * cb.ks)
    var j = 0
    while (j < cb.m) {
      var c = 0
      while (c < cb.ks) {
        val cent = cb.cents(j)(c)
        var normSq = 0.0
        var dotQ = 0.0
        var i = 0
        while (i < cb.subDim) {
          normSq += cent(i) * cent(i)
          dotQ += query(j * cb.subDim + i) * cent(i)
          i += 1
        }
        out(j * cb.ks + c) = normSq - 2.0 * dotQ
        c += 1
      }
      j += 1
    }
    out
  }

  /** ADC column over a `pq_codes` column for a driver-built LUT. */
  def adcCol(codes: Column, lutFlat: Array[Double], ks: Int): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.functions.PqAdcExpr(
        org.apache.spark.sql.graft.Bridge.expression(codes), lutFlat, ks))

  /** Top-k by ADC distance (ascending, id tiebreak) — the pure
    * codes-only scan: `m` lookups + adds per row, no float vector read.
    */
  def search(
      encoded: DataFrame,
      id: Column,
      query: Seq[Double],
      cb: Codebooks,
      k: Int = 10): DataFrame = {
    val l = lut(query, cb)
    encoded
      .select(id.as("id"), adcCol(col("pq_codes"), l, cb.ks).as("adist"))
      .orderBy(asc("adist"), asc("id"))
      .limit(k)
  }

  /** Two-stage PQ search: ADC shortlist of `rerank` candidates from codes
    * alone, exact cosine on the float vectors for the final k — the
    * IVF-PQ-refine stage shape (rerank budget = the recall dial, float
    * reads bounded by `rerank`, not the corpus).
    */
  def searchRefined(
      encoded: DataFrame,
      id: Column,
      vec: Column,
      query: Seq[Float],
      cb: Codebooks,
      k: Int = 10,
      rerank: Int = 50): DataFrame = {
    val l = lut(query.map(_.toDouble), cb)
    encoded
      .withColumn("adist", adcCol(col("pq_codes"), l, cb.ks))
      .withColumn("id", id)
      .orderBy(asc("adist"), asc("id"))
      .limit(rerank)
      .withColumn("score", VF.cosineTo(vec, query))
      .select(col("id"), col("score"))
      .orderBy(desc("score"), asc("id"))
      .limit(k)
  }
}
