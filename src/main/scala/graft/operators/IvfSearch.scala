package graft.operators

import graft.functions.{BoundParam, VectorFunctions => VF}
import graft.sources.{Layout, LayoutManifest}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest-neighbor search — the
  * centroid-partitioned scale path complementing sign-LSH ([[AnnSearch]]).
  * The reference engine is exact-only (FAISS `IndexFlatIP`,
  * /root/reference/minivectordb/vector_database.py:42-47); IVF is what its
  * FAISS dependency would use at scale (`IndexIVFFlat`), re-expressed as
  * Spark columns:
  *
  *  - '''index''': every vector is assigned to its nearest centroid
  *    (`list_id` column). Persisted partitioned/bucketed by `list_id`, the
  *    assignment turns probe filters into partition pruning — a query
  *    touches `nprobe/C` of the data.
  *  - '''search''': rank centroids by distance to the query on the driver
  *    (centroids are tiny), prune to the `nprobe` nearest lists via a
  *    pushed-down `IN` filter, then EXACT cosine top-k inside — like LSH,
  *    IVF only prunes; it never changes the scoring math.
  *
  * Centroid choice is pluggable: [[centroidsFromIds]] picks corpus vectors
  * by id — deterministic and reproducible, which the correctness oracle
  * requires — while [[train]] runs Lloyd iterations (k-means) for real
  * clustering quality; both feed the same index/search machinery.
  *
  * Distance math: argmin over centroids of `|c|² − 2·v·c` (equals argmin
  * squared L2 since `|v|²` is constant per row), accumulated in Double in
  * the same sequential order as the DuckDB oracle, ties to the smaller
  * centroid id.
  */
object IvfSearch {

  /** A centroid: (list id, vector as exact doubles). */
  final case class Centroid(cid: Long, vec: Seq[Double]) {
    /** |c|² with the same left-to-right fold the scoring uses. */
    lazy val normSq: Double = {
      var acc = 0.0; var i = 0
      while (i < vec.length) { acc += vec(i) * vec(i); i += 1 }
      acc
    }
  }

  /** Deterministic "training": the corpus vectors with the `c` smallest ids
    * become centroids. Production would swap in [[train]]; every downstream
    * step is identical.
    */
  def centroidsFromIds(embs: DataFrame, id: Column, vec: Column, c: Int): Seq[Centroid] =
    embs.select(id.cast("long").as("cid"), VF.toDoubleArray(vec).as("v"))
      .orderBy("cid").limit(c).collect().toSeq
      .map(r => Centroid(r.getLong(0), r.getSeq[Double](1)))

  /** Lloyd / k-means refinement of [[centroidsFromIds]]: assign, recompute
    * means element-wise, repeat. The mean is a one-pass typed Aggregator
    * ([[graft.functions.VectorAggs.vectorMean]]) — the shuffle carries one
    * (sum-vector, count) buffer per list, not a posexploded row per
    * element.
    */
  def train(embs: DataFrame, id: Column, vec: Column, c: Int, iters: Int = 5): Seq[Centroid] = {
    var cents = centroidsFromIds(embs, id, vec, c)
    val base = embs.select(vec.cast(
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)).as("v"))
    for (_ <- 0 until iters) {
      val assigned = base.withColumn("list_id", assignCol(col("v"), cents))
      val means = assigned
        .groupBy("list_id")
        .agg(graft.functions.VectorAggs.vectorMean(col("v")).as("mean"))
        .collect()
      val updated = means.map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
      cents = cents.map(ct => Centroid(ct.cid, updated.getOrElse(ct.cid, ct.vec)))
    }
    cents
  }

  /** Nearest-centroid assignment column: lexicographic min over
    * `(distance, cid)` — ONE native codegen node
    * ([[graft.functions.NearestCentroidExpr]]) holding the centroid matrix
    * as a plan reference. The previous `array_min(array(C structs))`
    * spelling left whole-stage codegen past C≈32 candidates (method-size
    * limit → interpreted fallback, a measured 7× cliff); arithmetic is
    * unchanged (same fold order, same tie-break).
    */
  def assignCol(vec: Column, centroids: Seq[Centroid]): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.functions.NearestCentroidExpr(
        org.apache.spark.sql.graft.Bridge.expression(vec),
        centroids.map(_.vec.toArray).toArray,
        centroids.map(_.cid).toArray))

  /** Ingest-time step: attach `list_id`. Persist partitioned by `list_id`
    * (or bucketed on it) so probe filters prune at the file/partition level.
    */
  def index(embs: DataFrame, vec: Column, centroids: Seq[Centroid]): DataFrame =
    embs.withColumn("list_id", assignCol(vec, centroids))

  /** The `nprobe` centroid ids nearest to the query (driver-side — the
    * centroid table is tiny by construction).
    */
  def probeLists(query: Seq[Float], centroids: Seq[Centroid], nprobe: Int): Seq[Long] =
    centroids.map { ct =>
      var acc = 0.0; var i = 0
      while (i < ct.vec.length) { acc += query(i).toDouble * ct.vec(i); i += 1 }
      (ct.normSq - 2.0 * acc, ct.cid)
    }.sorted.take(nprobe).map(_._2)

  /** Approximate top-k: prune to the probed inverted lists, exact cosine
    * ranking inside them (TakeOrderedAndProject — no global sort).
    */
  def search(
      indexed: DataFrame,
      id: Column,
      vec: Column,
      query: Seq[Float],
      centroids: Seq[Centroid],
      k: Int = 5,
      nprobe: Int = 4): DataFrame = {
    val probes = probeLists(query, centroids, nprobe)
    indexed
      .filter(BoundParam.longIn(col("list_id"), probes))
      .withColumn("score", VF.cosineTo(vec, query))
      .select(id.as("id"), col("score"))
      .orderBy(desc("score"), asc("id"))
      .limit(k)
  }

  /** Persist a vector table CLUSTERED by its IVF list — the coarse-partition
    * twin of [[graft.operators.AnnSearch.clusteredWrite]]: range-partitioned
    * and sorted on `list_id`, so each parquet file covers a contiguous list
    * span and the zone-map manifest prunes probe reads at the FILE level.
    * Unlike the LSH bucket's xor-scattered multiprobe set, nprobe nearest
    * lists are just ids — but they are still arbitrary points in the list-id
    * space, so the read side shares the same membership prune.
    */
  def clusteredWrite(embs: DataFrame, vec: Column, centroids: Seq[Centroid],
      path: String, numFiles: Int): Unit =
    Layout.writeClustered(index(embs, vec, centroids), path, numFiles, identity(centroids))

  /** Deterministic fingerprint of a centroid set (ids + exact double
    * coordinates, [[graft.sources.Layout.fingerprint]]) — persisted at
    * [[clusteredWrite]], validated by operations whose list pruning must
    * agree with the write-time assignment (a probe against
    * retrained-but-not-rebuilt centroids reads the wrong lists).
    */
  def centroidsHash(centroids: Seq[Centroid]): String =
    Layout.fingerprint(centroids.map(c => (c.cid, c.vec)))

  /** The IVF index as a [[graft.sources.Layout.ClusteredIndex]]: clustered
    * on `list_id`, identified by its centroids.
    */
  private[graft] def identity(centroids: Seq[Centroid]): Layout.ClusteredIndex =
    Layout.ClusteredIndex("list_id", "ann_ivf", "centroid", "ivf_c", centroids.length,
      "centroids_hash", centroidsHash(centroids))

  /** Rebuild-and-cutover for an IVF [[clusteredWrite]] layout — the
    * quantizer-drift answer (previously documented as "offline
    * rebuild-and-cutover" with no operator performing it): RETRAIN the
    * coarse quantizer on the LIVE rows (`trainIters` Lloyd rounds over
    * [[centroidsFromIds]] seeds; 0 = deterministic id seeds only),
    * re-assign, re-cluster, and swap via one manifest commit
    * ([[graft.sources.Layout.replaceLayout]]). Readers see the old index
    * until the commit instant; a crash leaves a complete index either way.
    * Returns the new centroids — the caller's probe handle.
    */
  def rebuildClustered(
      spark: SparkSession,
      path: String,
      idColName: String,
      vecColName: String,
      c: Int,
      trainIters: Int = 0,
      numFiles: Int = 8): Seq[Centroid] = {
    val live = LayoutManifest.readData(spark, path).drop("list_id")
    val cents =
      if (trainIters <= 0) centroidsFromIds(live, col(idColName), col(vecColName), c)
      else train(live, col(idColName), col(vecColName), c, trainIters)
    Layout.rebuildClustered(spark, path, index(live, col(vecColName), cents),
      numFiles, identity(cents))
    cents
  }

  /** [[search]] over a [[clusteredWrite]] layout: the nprobe nearest lists
    * prune FILES via the zone-map manifest
    * ([[graft.sources.Layout.prunedReadIn]]) before any task is scheduled,
    * then [[search]] runs on the files kept (zone maps prune files, not
    * rows), so results equal [[search]] on the full in-memory index at the
    * same dials.
    */
  def searchClustered(
      spark: SparkSession,
      path: String,
      manifest: LayoutManifest.Manifest, // with `list_id` spans
      id: Column,
      vec: Column,
      query: Seq[Float],
      centroids: Seq[Centroid],
      k: Int = 5,
      nprobe: Int = 4): DataFrame =
    search(Layout.prunedReadIn(spark, path, manifest, "list_id",
      probeLists(query, centroids, nprobe)), id, vec, query, centroids, k, nprobe)

  /** [[searchClustered]] against a [[clusteredWrite]] PATH: list-span stats
    * resolved from the committed manifest (no scan) and the caller's
    * centroids validated against the write-time fingerprint.
    */
  def searchClusteredAt(
      spark: SparkSession,
      path: String,
      id: Column,
      vec: Column,
      query: Seq[Float],
      centroids: Seq[Centroid],
      k: Int = 5,
      nprobe: Int = 4): DataFrame =
    searchClustered(spark, path, Layout.checkedManifest(spark, path, identity(centroids)),
      id, vec, query, centroids, k, nprobe)

  /** ONE Lloyd (k-means) update round surfaced as a DataFrame: assign every
    * vector to its nearest seed centroid (the [[assignCol]] codegen argmin —
    * the centroid matrix rides the task binary, no join), then recompute
    * each cluster's mean with the one-pass typed aggregator. The only
    * exchange carries one (sum-vector, count) buffer per cluster — at 100 TB
    * the update step is a single map-side-combined aggregation over the
    * scan, which is why distributed k-means scales on exactly this shape
    * ([[train]] iterates it; this entry exposes one auditable round).
    */
  def lloydStep(embs: DataFrame, id: Column, vec: Column, c: Int): DataFrame = {
    val cents = centroidsFromIds(embs, id, vec, c)
    val v = vec.cast(org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.FloatType))
    embs.select(v.as("v"))
      .withColumn("list_id", assignCol(col("v"), cents))
      .groupBy("list_id")
      .agg(count(lit(1)).as("n"),
        graft.functions.VectorAggs.vectorMean(col("v")).as("centroid"))
  }
}
