package graft.operators

import graft.functions.{VectorFunctions => VF}
import graft.sources.{Layout, LayoutManifest}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate nearest-neighbor search — the scale path beyond the exact
  * brute-force scan (reference is exact-only, FAISS `IndexFlatIP`,
  * /root/reference/minivectordb/vector_database.py:42-47; this module adds
  * what the reference would need at 100 TB).
  *
  * Scheme: sign-LSH (random hyperplane, Charikar 2002). Each vector gets a
  * small integer bucket = the sign bits of `numPlanes` fixed random
  * projections. Cosine-close vectors agree on most signs, so a query only
  * scans its own bucket plus the Hamming-1 neighbors (multiprobe).
  *
  * Scale design:
  *  - The bucket is a PERSISTABLE derived column (computed once at ingest,
  *    like `norm_sq`). Written as a Parquet partition/bucketing key, the
  *    probe filter becomes partition pruning — the query reads
  *    (probes/2^numPlanes) of the data and scans nothing else.
  *  - The probe set is tiny (1 + numPlanes buckets), pushed down as an
  *    `IN` predicate over a small-int column → row-group stats skip.
  *  - Within the probed buckets the ranking is the same exact
  *    cosine + TakeOrderedAndProject plan as exact Search — ANN here only
  *    PRUNES; it never changes the scoring math.
  */
object AnnSearch {

  val DefaultPlanes = 6

  /** Plane count as a function of corpus size — the dial every sign-LSH
    * tier should compute rather than hardcode. With `b` planes the
    * expected bucket occupancy is `n / 2^b`, so holding occupancy at
    * `targetOccupancy` as the corpus grows means `b = ceil(log2(n /
    * target))`: probe cost per query stays ~`(1 + b + C(b,2)) · target`
    * rows (radius-2 multiprobe) instead of growing linearly with n — the
    * difference between the label-propagation smoke row growing 5.7× for
    * 10× data at a FIXED 10-plane dial and staying ~flat when the dial
    * tracks n. Clamped to [minPlanes, maxPlanes]: below the floor the
    * bucket column stops pruning anything; above the cap the radius-2
    * probe set itself (quadratic in b) starts to dominate and a coarser
    * structure (IVF) is the better tool. At 100 TB (~1e11 vectors,
    * target 256) this yields 29 bits — still an Int bucket column.
    */
  def planesFor(n: Long, targetOccupancy: Long = 256,
      minPlanes: Int = 4, maxPlanes: Int = 30): Int = {
    require(targetOccupancy >= 1 && minPlanes >= 1 && maxPlanes <= 30 &&
      minPlanes <= maxPlanes)
    if (n <= 0) minPlanes
    else {
      val b = math.ceil(math.log(n.toDouble / targetOccupancy) / math.log(2.0)).toInt
      math.min(maxPlanes, math.max(minPlanes, b))
    }
  }

  /** Deterministic pseudo-random hyperplanes (uniform [-1, 1) coords from a
    * splitmix stream — direction uniformity is what sign-LSH needs; exact
    * distribution shape is immaterial).
    */
  def hyperplanes(dim: Int, numPlanes: Int = DefaultPlanes, seed: Long = 0xA11CE5L): Seq[Seq[Double]] = {
    var x = seed
    def next(): Double = {
      x += 0x9e3779b97f4a7c15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z = z ^ (z >>> 31)
      (z >>> 11) * (1.0 / (1L << 53)) * 2.0 - 1.0
    }
    Seq.fill(numPlanes)(Seq.fill(dim)(next()))
  }

  /** [[hyperplanes]] with the plane count computed from the corpus size
    * via [[planesFor]] — the form a deployment calls at ingest (n is the
    * table's row count, known before the index column is written).
    */
  def hyperplanesFor(dim: Int, n: Long, targetOccupancy: Long = 256,
      seed: Long = 0xA11CE5L): Seq[Seq[Double]] =
    hyperplanes(dim, planesFor(n, targetOccupancy), seed)

  /** Bucket id column: bit i set iff v · plane_i ≥ 0. */
  def bucketCol(vec: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(VF.dot(vec, typedLit(p)) >= 0, lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Driver-side bucket of the query vector (same math as [[bucketCol]]). */
  def bucketOf(q: Seq[Float], planes: Seq[Seq[Double]]): Int =
    planes.zipWithIndex.map { case (p, i) =>
      val d = p.lazyZip(q).map((pi, qi) => pi * qi.toDouble).sum
      if (d >= 0) 1 << i else 0
    }.sum

  /** All buckets within Hamming distance `radius` of the query bucket (the
    * multiprobe set). Radius is THE recall/cost dial: scanned fraction is
    * Σ_{i≤radius} C(numPlanes, i) / 2^numPlanes; recall follows the sign-LSH
    * collision curve (1 − θ/π per bit) — data with weak neighbor structure
    * (near-orthogonal vectors) needs a larger radius than clustered data.
    */
  def probeBuckets(bucket: Int, numPlanes: Int, radius: Int = 1): Seq[Int] =
    xorMasks(numPlanes, radius).map(bucket ^ _)

  /** All bit masks of `bits` bits with popcount ≤ radius, ascending.
    * Enumerated by CHOOSING the set bits (O(C(bits, ≤radius)) masks
    * built directly) rather than filtering the full 2^bits range — with
    * [[planesFor]] supplying ~30 bits at corpus scale, the filter form
    * would walk a billion candidates to emit a few hundred masks.
    */
  def xorMasks(bits: Int, radius: Int): Seq[Int] = {
    require(bits <= 30, s"bucket is an Int bit-set: at most 30 planes (got $bits)")
    val r = math.min(radius, bits)
    (0 to r).flatMap(k => (0 until bits).combinations(k)
      .map(_.foldLeft(0)((m, i) => m | (1 << i)))).sorted
  }

  /** Attach the LSH bucket to a vector table (ingest-time step; persist the
    * result partitioned by `bucket` to turn probes into partition pruning).
    */
  def index(df: DataFrame, vec: Column, planes: Seq[Seq[Double]]): DataFrame =
    df.withColumn("bucket", bucketCol(vec, planes))

  /** Deterministic 64-bit fingerprint of a plane matrix
    * ([[graft.sources.Layout.fingerprint]] over each plane's length and
    * values) — persisted in the layout manifest at [[clusteredWrite]] time
    * so operations that must agree with the write-time planes
    * ([[deleteVectors]], [[searchClusteredAt]]) can detect a caller passing
    * DIFFERENT planes (count, seed, or values) and fail loudly instead of
    * silently pruning the wrong files.
    */
  def planesHash(planes: Seq[Seq[Double]]): String =
    Layout.fingerprint(planes.map(p => (p.length.toLong, p)))

  /** The LSH index as a [[graft.sources.Layout.ClusteredIndex]]: clustered
    * on `bucket`, identified by its planes.
    */
  private[graft] def identity(planes: Seq[Seq[Double]]): Layout.ClusteredIndex =
    Layout.ClusteredIndex("bucket", "ann_lsh", "plane", "planes_n", planes.length,
      "planes_hash", planesHash(planes))

  /** Persist a vector table CLUSTERED by its LSH bucket: range-partitioned
    * and sorted on `bucket`, so each parquet file covers a contiguous
    * bucket span and the zone-map stats prune at the FILE level. This is
    * the deployable form of the "bucket as partition key" story in this
    * module's header — hive partitioning by bucket would mean 2^b
    * directories (2^29 at corpus scale, untenable); clustering + min/max
    * file stats gives the same probe-time pruning with file counts chosen
    * by data size.
    *
    * The write commits a [[graft.sources.LayoutManifest]] carrying the
    * per-file bucket spans (probe reads schedule zero stats tasks) and the
    * index identity props `planes_n`/`planes_hash` — the contract
    * [[deleteVectors]] validates, and the state [[rebuildClustered]]
    * replaces at cutover.
    */
  def clusteredWrite(df: DataFrame, vec: Column, planes: Seq[Seq[Double]],
      path: String, numFiles: Int): Unit =
    Layout.writeClustered(index(df, vec, planes), path, numFiles, identity(planes))

  /** The committed manifest of a [[clusteredWrite]] layout — the per-file
    * bucket spans [[searchClustered]]/[[searchClusteredBatch]] prune with,
    * read on the driver (no job).
    */
  def loadManifest(spark: org.apache.spark.sql.SparkSession,
      path: String): LayoutManifest.Manifest =
    LayoutManifest.committed(spark, path)

  /** [[search]] over a [[clusteredWrite]] layout: the multiprobe set
    * prunes FILES via the zone-map manifest before any task is scheduled
    * ([[graft.sources.Layout.prunedReadIn]] — membership prune, since xor
    * neighbors scatter across the bucket space), then [[search]] runs on
    * the files kept (zone maps prune files, not rows). Results are identical
    * to [[search]] on the full in-memory index at the same dials; the
    * scanned fraction is the probed files' share of the layout
    * (→ probes/2^b of the corpus as file count grows with data).
    */
  def searchClustered(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      manifest: LayoutManifest.Manifest, // with `bucket` spans (loadManifest)
      id: Column,
      vec: Column,
      query: Seq[Float],
      planes: Seq[Seq[Double]],
      k: Int = 5,
      probeRadius: Int = 1): DataFrame = {
    val probes = probeBuckets(bucketOf(query, planes), planes.length, probeRadius)
    search(Layout.prunedReadIn(spark, path, manifest, "bucket", probes.map(_.toLong)),
      id, vec, query, planes, k, probeRadius)
  }

  /** [[searchClustered]] against a [[clusteredWrite]] PATH: manifest stats
    * and plane validation resolved from the committed layout — the no-scan
    * probe read a deployment calls (zone spans come from the manifest, the
    * plane fingerprint is checked against the write-time identity).
    */
  def searchClusteredAt(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      id: Column,
      vec: Column,
      query: Seq[Float],
      planes: Seq[Seq[Double]],
      k: Int = 5,
      probeRadius: Int = 1): DataFrame =
    searchClustered(spark, path, Layout.checkedManifest(spark, path, identity(planes)),
      id, vec, query, planes, k, probeRadius)

  /** GDPR forget for a [[clusteredWrite]] index: delete the tombstoned
    * vectors by ID while pruning files by BUCKET. On a bucket-clustered
    * layout the id spans per file are near-total (ids scatter across
    * buckets), so an id-span delete ([[graft.sources.Layout.deleteRows]])
    * would rewrite every file; but the bucket is a pure function of the
    * vector, so the tombstones' own embeddings name exactly the file
    * spans that can hold them — a forget batch of a few thousand vectors
    * rewrites ≤ 2·|distinct tombstone buckets| files regardless of index
    * size. `tombstones` carries `(id, embedding)`; returns
    * (filesTotal, filesRewritten, rowsDeleted).
    *
    * Correctness guard: the pruned files are named by buckets computed from
    * the CALLER's planes — if those differ from the write-time planes, the
    * tombstoned rows sit in files the prune skips and SURVIVE the forget
    * with no error. On a manifest-committed layout the write-time plane
    * fingerprint is validated first and a mismatch throws; a layout with no
    * manifest passes unchecked.
    */
  def deleteVectors(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      idColName: String,
      tombstones: DataFrame,    // (id, embedding) — a bounded forget batch
      planes: Seq[Seq[Double]]): (Int, Int, Long) = {
    LayoutManifest.current(spark, path).foreach(identity(planes).check(path, _))
    val tsId = tombstones.columns.head
    val tsVec = tombstones.columns(1)
    // distinct bucket ids: at most 2^planes values reach the driver
    val buckets = tombstones
      .select(bucketCol(col(tsVec), planes).as("b")).distinct()
      .collect().map(_.getInt(0).toLong).toSeq
    Layout.deleteRowsIn(spark, path, "bucket", buckets,
      idColName, tombstones.select(col(tsId)))
  }

  /** Approximate top-k: prune to the probe buckets (Hamming ≤ probeRadius
    * around the query's bucket), then exact cosine ranking inside them.
    * The probe set stays an `IN` of int literals, which Parquet pushes
    * down; generated code spells such values out, so a warm process
    * compiles once per query bucket (at most 2^planes), not once per query.
    */
  def search(
      indexed: DataFrame,
      id: Column,
      vec: Column,
      query: Seq[Float],
      planes: Seq[Seq[Double]],
      k: Int = 5,
      probeRadius: Int = 1): DataFrame = {
    val qb = bucketOf(query, planes)
    val probes = probeBuckets(qb, planes.length, probeRadius)
    indexed
      .filter(col("bucket").isin(probes: _*))
      .withColumn("score", VF.cosineTo(vec, query))
      .select(id.as("id"), col("score"))
      .orderBy(desc("score"), asc("id"))
      .limit(k)
  }

  /** Batch ANN: a query TABLE against the bucketed index — the production
    * batch shape composing the index's pruning with
    * [[Search.findMostSimilarBatch]]'s amortized scan. Each query explodes
    * into its multiprobe bucket set (a Hamming-ball of xor masks, computed
    * COLUMN-side — no driver round-trip per query) and the probe table
    * broadcast-equi-joins the index on `bucket`: a corpus row is scored
    * only against the queries probing its bucket, so the scored volume is
    * Σ_q probed-bucket sizes — not n·Q as in the exact batch path. The
    * per-query top-k then runs on the GroupTopK partial+final heaps: the
    * exchange moves ≤ Q·k·P narrow survivor rows. On a `bucket`-partitioned
    * persisted index, the distinct probe set additionally prunes at the
    * directory level (dynamic partition pruning from the broadcast side).
    */
  def searchBatch(
      indexed: DataFrame,       // (..., bucket) from index()
      id: Column,
      vec: Column,
      queries: DataFrame,       // (query_id, query_vec ARRAY<FLOAT>)
      planes: Seq[Seq[Double]],
      k: Int = 5,
      probeRadius: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val masks = xorMasks(planes.length, probeRadius)
    val probeTbl = broadcast(queries
      .select(col("query_id"), col("query_vec"),
        sqrt(VF.normSq(col("query_vec"))).as("qnrm"),
        bucketCol(col("query_vec"), planes).as("qb"))
      .withColumn("m", explode(typedLit(masks)))
      .withColumn("bucket", col("qb").bitwiseXOR(col("m")))
      .drop("qb", "m"))
    val scored = indexed.join(probeTbl, Seq("bucket"))
      .withColumn("score",
        VF.dot(vec, col("query_vec")) / (sqrt(VF.normSq(vec)) * col("qnrm")))
      .select(col("query_id"), id.as("id"), col("score"))
    val topk = org.apache.spark.sql.graft.GroupTopK.perGroup(
      scored, Seq(col("query_id")), Seq(desc("score"), asc("id")), k)
    topk.withColumn("rank",
      row_number().over(Window.partitionBy("query_id").orderBy(desc("score"), asc("id"))))
  }

  /** [[searchBatch]] over a [[clusteredWrite]] layout: the UNION of every
    * query's multiprobe buckets prunes files via the zone-map manifest,
    * then the same probe-join + GroupTopK ranking runs on the pruned read.
    * Results are identical to [[searchBatch]] on the full index; the
    * scanned fraction is the union probe set's share of the layout — still
    * ~|queries|·probes/2^b of the corpus when queries are few, because
    * distinct queries' probe sets rarely overlap.
    *
    * The bucket union is computed DISTRIBUTED — the same column-side
    * [[bucketCol]] + xor-mask explode the probe join uses (so any numeric
    * vector type the join accepts works here too) — and only the distinct
    * bucket INTS sync to the driver for the file prune: bounded by the
    * probe-set size, never by Q·d query floats.
    */
  def searchClusteredBatch(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      manifest: LayoutManifest.Manifest, // with `bucket` spans (loadManifest)
      id: Column,
      vec: Column,
      queries: DataFrame,       // (query_id, query_vec) — a BOUNDED batch
      planes: Seq[Seq[Double]],
      k: Int = 5,
      probeRadius: Int = 1): DataFrame = {
    val masks = xorMasks(planes.length, probeRadius)
    // distinct bucket ids: at most 2^planes values reach the driver
    val probeUnion = queries
      .select(bucketCol(col("query_vec"), planes).as("qb"))
      .withColumn("m", explode(typedLit(masks)))
      .select(col("qb").bitwiseXOR(col("m")).cast("long").as("b"))
      .distinct()
      .collect().map(_.getLong(0)).toSeq
    val pruned = Layout.prunedReadIn(spark, path, manifest, "bucket", probeUnion)
    searchBatch(pruned, id, vec, queries, planes, k, probeRadius)
  }

  /** GDPR forget by BARE IDS — no embeddings required: [[deleteVectors]]
    * prunes by the tombstones' buckets (a function of their vectors), but a
    * real deletion request often arrives as ids alone, and on a
    * bucket-clustered layout the id spans per file are near-total so a span
    * prune would rewrite everything. A per-file bloom sidecar over the id
    * column ([[graft.sources.Layout.writeBloomSidecar]] — one aggregation
    * pass at index-build time, KB per file) names the candidate files by
    * MEMBERSHIP instead: the rewrite touches the files that actually hold
    * the ids plus an fpp-bounded handful of false positives, and the
    * sidecar is maintained incrementally across the delete's manifest
    * commit. Returns (filesTotal, filesRewritten, rowsDeleted).
    */
  def deleteVectorsById(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      idColName: String,
      tombstoneIds: DataFrame): (Int, Int, Long) =
    Layout.deleteRowsBloom(spark, path, idColName, tombstoneIds)

  /** Rebuild-and-cutover for a [[clusteredWrite]] layout: re-bucket the
    * LIVE rows with `newPlanes`, re-cluster, and swap via ONE manifest
    * commit ([[graft.sources.Layout.replaceLayout]]) — readers resolve the
    * old index until the commit instant, then the new one, never a mix,
    * and a crash at any point leaves a complete index. This is the missing
    * half of the [[planesFor]] occupancy dial: the dial sets the plane
    * count at initial write, but a corpus that grows 10× under streaming
    * maintenance keeps the stale dial and bucket occupancy fattens
    * linearly — exactly the regime the fixed-dial scale smoke measured.
    * Rebuilding with `planesFor(currentN)` restores ~target occupancy; and
    * because [[hyperplanes]] draws planes from one sequential stream, the
    * new plane set EXTENDS the old one (same seed), so every old bucket is
    * exactly split, never reshuffled. Returns (filesBefore, filesAfter).
    */
  def rebuildClustered(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      vecColName: String,
      newPlanes: Seq[Seq[Double]],
      numFiles: Int): (Int, Int) =
    Layout.rebuildClustered(spark, path,
      index(LayoutManifest.readData(spark, path).drop("bucket"), col(vecColName), newPlanes),
      numFiles, identity(newPlanes))

  /** [[rebuildClustered]] with the dial recomputed from the LIVE row count:
    * n comes from the manifest (no scan), the plane count from
    * [[planesFor]], the planes from the same seeded stream as the original
    * write (so buckets split, never reshuffle), and the file count scales
    * to hold ~`rowsPerFile` rows. Returns the new planes — the caller's
    * probe handle for the rebuilt index.
    */
  def rebuildClusteredAuto(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      vecColName: String,
      dim: Int,
      seed: Long = 0xA11CE5L,
      targetOccupancy: Long = 256,
      rowsPerFile: Long = 1000000L): Seq[Seq[Double]] = {
    val n = LayoutManifest.committed(spark, path).totalRows
    val newPlanes = hyperplanes(dim, planesFor(n, targetOccupancy), seed)
    val numFiles = math.max(1, math.ceil(n.toDouble / rowsPerFile).toInt)
    rebuildClustered(spark, path, vecColName, newPlanes, numFiles)
    newPlanes
  }
}
