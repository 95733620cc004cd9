package graft.operators

import graft.functions.{BoundParam, VectorFunctions => VF}
import graft.functions.BoundParam.param
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** IVF-PQ: coarse centroid pruning ([[IvfSearch]]) composed with product-
  * quantized residual codes ([[Pq]]) — the canonical billion-scale ANN
  * layout (FAISS `IndexIVFPQ`; Jégou/Douze/Schmid TPAMI 2011 §IV). The
  * reference's FAISS lineage (/root/reference/minivectordb/
  * vector_database.py:42-47 is `IndexFlatIP`) grows into exactly this shape
  * when the corpus outgrows both exact scan and scalar codes.
  *
  * Why residuals: after a vector is assigned to list `l`, what remains to
  * encode is `r = v − c_l`, whose energy is a fraction of `|v|` — the same
  * `m × ks` code budget quantizes far finer than PQ over raw vectors. The
  * cost is one LUT per probed list at query time (`q − c_l` differs per
  * list), still driver-trivial: `nprobe · m · ks` doubles.
  *
  * Distance algebra (and the cross-list constant you must NOT drop):
  * `|q − v|² ≈ |q − c_l − r̂|² = Σ_j (|r̂_j|² − 2·qr_j·r̂_j) + |qr_l|²`
  * where `qr_l = q − c_l`. Single-LUT PQ drops `|q|²` because it is
  * rank-invariant; here `|qr_l|²` VARIES ACROSS LISTS, so each list's
  * constant is added back ([[search]] wires it per probe branch).
  *
  * Scale shape: the index persists partitioned by `list_id` (probe filters
  * → partition pruning, a query touches `nprobe/C` of the data) and each
  * pruned row is scored from `m` code bytes — no float vector is read until
  * the `rerank`-bounded exact-refine stage. All three dials (`nprobe`,
  * `rerank`, `m·log₂ks` bits) are independent recall/cost knobs.
  */
object IvfPq {

  /** Driver-side nearest-centroid assignment — same math, fold order, and
    * smaller-cid tie rule as the column kernel
    * ([[graft.functions.NearestCentroidExpr]]): argmin `|c|² − 2·v·c`.
    */
  private def nearestCentroid(
      v: Seq[Double], centroids: Seq[IvfSearch.Centroid]): IvfSearch.Centroid = {
    var best: IvfSearch.Centroid = null
    var bestD = Double.MaxValue
    centroids.foreach { ct =>
      var dotv = 0.0
      var i = 0
      while (i < ct.vec.length) { dotv += v(i) * ct.vec(i); i += 1 }
      val d = ct.normSq - 2.0 * dotv
      if (d < bestD || (d == bestD && (best == null || ct.cid < best.cid))) {
        best = ct; bestD = d
      }
    }
    best
  }

  /** Deterministic residual codebooks: the `ks` corpus vectors with the
    * smallest ids ≥ `fromId` are assigned to their nearest centroid and
    * their RESIDUALS become the codebook entries (code = rank), sliced into
    * `m` subspaces — [[Pq.codebooksFromIds]] lifted to residual space.
    * `fromId` defaults past the centroid ids: a centroid's own residual is
    * the zero vector, which would degenerate the codebook.
    * Production swaps per-subspace k-means over residuals via the identical
    * downstream machinery ([[Pq.train]]'s explode-and-mean shape applies
    * unchanged to a residual column).
    */
  def residualCodebooks(
      embs: DataFrame,
      id: Column,
      vec: Column,
      centroids: Seq[IvfSearch.Centroid],
      m: Int,
      ks: Int,
      fromId: Long = -1L): Pq.Codebooks = {
    val lo = if (fromId >= 0) fromId else centroids.map(_.cid).max + 1
    val rows = embs.select(id.cast("long").as("cid"), VF.toDoubleArray(vec).as("v"))
      .filter(col("cid") >= lo).orderBy("cid").limit(ks).collect()
    require(rows.length == ks, s"need $ks vectors past id $lo for residual codebooks")
    val dim = rows.head.getSeq[Double](1).length
    require(dim % m == 0, s"dim $dim must split into $m subspaces")
    val d = dim / m
    val resids = rows.map { r =>
      val v = r.getSeq[Double](1)
      val c = nearestCentroid(v, centroids).vec
      Array.tabulate(dim)(i => v(i) - c(i))
    }
    Pq.Codebooks(m, ks, d, Array.tabulate(m, ks) { (j, c) =>
      java.util.Arrays.copyOfRange(resids(c), j * d, (j + 1) * d)
    })
  }

  /** Element-wise residual column `v − centroid(list_id)` — a literal
    * cid→centroid map (C·dim doubles riding the plan) + `zip_with`
    * subtraction, all built-in codegen; no kernel needed.
    */
  def residualCol(vec: Column, centroids: Seq[IvfSearch.Centroid]): Column = {
    val centMap = typedLit(centroids.map(ct => ct.cid -> ct.vec).toMap)
    zip_with(VF.toDoubleArray(vec), element_at(centMap, col("list_id")),
      (a, b) => a - b)
  }

  /** Ingest: `list_id` (coarse assignment) + `pq_codes` (PQ over the
    * residual). Persist partitioned/bucketed by `list_id`; the float vector
    * column is only needed by the refine stage and can live in a separate
    * column family / projection.
    */
  def index(
      embs: DataFrame,
      vec: Column,
      centroids: Seq[IvfSearch.Centroid],
      cb: Pq.Codebooks): DataFrame = {
    val assigned = IvfSearch.index(embs, vec, centroids)
      .withColumn("pq_resid", residualCol(vec, centroids))
    Pq.encode(assigned, col("pq_resid"), cb).drop("pq_resid")
  }

  /** Three-stage approximate top-k: prune to the `nprobe` nearest inverted
    * lists (pushed `IN` filter), ADC-rank the survivors from residual codes
    * with that list's LUT (+ its `|q − c_l|²` constant), exact-cosine refine
    * the best `rerank` — TakeOrderedAndProject at both cuts, no global sort.
    */
  def search(
      indexed: DataFrame,
      id: Column,
      vec: Column,
      query: Seq[Float],
      centroids: Seq[IvfSearch.Centroid],
      cb: Pq.Codebooks,
      k: Int = 10,
      nprobe: Int = 3,
      rerank: Int = 40): DataFrame = {
    val qd = query.map(_.toDouble)
    val byCid = centroids.map(c => c.cid -> c).toMap
    val probes = IvfSearch.probeLists(query, centroids, nprobe)
    val branches = probes.map { cid =>
      val cent = byCid(cid).vec
      val qr = Array.tabulate(qd.length)(i => qd(i) - cent(i))
      var qrNormSq = 0.0
      var i = 0
      while (i < qr.length) { qrNormSq += qr(i) * qr(i); i += 1 }
      (cid, Pq.lut(qr.toSeq, cb), qrNormSq)
    }
    val adist = branches.tail.foldLeft(
      when(col("list_id") === param(branches.head._1),
        Pq.adcCol(col("pq_codes"), branches.head._2, cb.ks) + param(branches.head._3))) {
      case (acc, (cid, lutFlat, n2)) =>
        acc.when(col("list_id") === param(cid),
          Pq.adcCol(col("pq_codes"), lutFlat, cb.ks) + param(n2))
    }
    indexed
      .filter(BoundParam.longIn(col("list_id"), probes))
      .withColumn("adist", adist)
      .withColumn("id", id)
      .orderBy(asc("adist"), asc("id"))
      .limit(rerank)
      .withColumn("score", VF.cosineTo(vec, query))
      .select(col("id"), col("score"))
      .orderBy(desc("score"), asc("id"))
      .limit(k)
  }
}
