package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

/** Physical-layout operators — Z-order clustering, zone-map (per-file
  * min/max) manifests with planning-time file pruning, and small-file
  * compaction. Beyond-reference: the reference persists one pickle per
  * store (/root/reference/minivectordb/vector_database.py,
  * `persist_to_disk`) and always reads all of it; at 100 TB the dominant
  * cost of every selective query is the bytes the scan does NOT have to
  * read, and that is decided by how the writer laid the data out.
  *
  * Scale contract:
  *  - Z-ORDER: multi-dimensional locality. Sorting by `(a, b)` clusters
  *    `a` perfectly and scatters `b`; interleaving the bits of `a` and `b`
  *    into one Morton key and range-partitioning + sorting on it gives
  *    every dimension ~sqrt locality, so per-file min/max ranges are tight
  *    on BOTH columns and predicates on EITHER prune files. The key is
  *    pure column algebra (integer scale + shift/mask interleave —
  *    codegen'd, no UDF), and the layout job is ONE range exchange, the
  *    same cost as any global sort.
  *  - ZONE MAP: the per-file min/max spans of a [[LayoutManifest]]'s
  *    entries (from parquet footers, or one column-pruned aggregate).
  *    Spark consults footer stats per-task AFTER scheduling; a manifest
  *    consulted at PLANNING time schedules no task at all for a pruned
  *    file — at 100 TB / ~100k files the difference between a 3-file job
  *    and a 100k-task job whose tasks mostly read a footer and exit. The
  *    manifest is tiny (one entry per file) and lives on the driver, so
  *    every prune, delete and compaction decision over it is plain Scala,
  *    not a job. Span pruning is [[prunedRead]]'s and [[prunedReadIn]]'s.
  *    Point reads prune in the scan itself: [[LayoutManifest.readData]]'s
  *    file index keeps only the files whose Parquet bloom on `id` (written
  *    by every write here, through [[stageIn]]) can hold a looked-up id.
  *  - COMPACTION: streaming ingest and fine-grained writes leave files far
  *    below the scan's `maxPartitionBytes`, and task-scheduling overhead
  *    then dominates reads. Compaction bin-packs by TOTAL BYTES (not file
  *    count) into `ceil(bytes / targetBytes)` outputs in one job; with a
  *    cluster column it re-sorts with `repartitionByRange` so the rewrite
  *    RESTORES zone-map tightness instead of destroying it.
  *  - CLUSTERED INDEX: both vector index kinds, LSH buckets and IVF lists,
  *    are one format here ([[ClusteredIndex]]): one clustered write, one
  *    identity check, one probe read ([[prunedReadIn]]) and one rebuild;
  *    the operators supply only the key column, its expression and the
  *    probe set.
  */
object Layout {

  /** Spread the low 16 bits of `c` so one zero bit separates each data bit
    * (0b...abcd -> 0b...0a0b0c0d). Classic mask-shift cascade — five
    * codegen'd integer ops, no UDF.
    */
  private def spread16(c: Column): Column = {
    val m1 = c.bitwiseOR(shiftleft(c, 8)).bitwiseAND(lit(0x00FF00FFL))
    val m2 = m1.bitwiseOR(shiftleft(m1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val m3 = m2.bitwiseOR(shiftleft(m2, 2)).bitwiseAND(lit(0x33333333L))
    m3.bitwiseOR(shiftleft(m3, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** Signed shift that maps a [lo, hi] integer range onto 16 bits:
    * `bits(hi-lo) - 16`. Positive ⇒ right-shift wide ranges down; NEGATIVE
    * ⇒ left-shift narrow ranges UP. The scale-up matters as much as the
    * scale-down: a dimension left in its natural low bit-width (e.g. a
    * 0..9 key against a 0..2000 key) contributes only low-order interleave
    * bits, the Morton key ordering degenerates to a plain sort on the wide
    * dimension, and its zone spans stay global. Equal bit-width per
    * dimension is what makes the curve split files on BOTH dims.
    *
    * Exact integer arithmetic (no float log2) ⇒ bit-identical across
    * engines — the DuckDB oracle derives the same width from
    * `length(printf('%b', range))` and applies the same `<< / >>` pair.
    */
  def shiftFor16(lo: Long, hi: Long): Int = {
    require(hi >= lo, s"empty bound range [$lo, $hi]")
    val range = hi - lo
    // clamp to >= 1 bit: printf('%b', 0) is "0" (one digit) in the oracle's
    // derivation, and a degenerate range shifts 0 either way
    val bits = math.max(1, 64 - java.lang.Long.numberOfLeadingZeros(range))
    bits - 16
  }

  def scaleTo16(x: Column, lo: Long, hi: Long): Column = {
    val s = shiftFor16(lo, hi)
    val v = x.cast("long") - lit(lo)
    if (s >= 0) shiftright(v, s) else shiftleft(v, -s)
  }

  /** 32-bit Morton (Z-order) key of two 16-bit-scaled columns: bits of `x`
    * on even positions, `y` on odd. Locality: rows close in the key are
    * close in BOTH dimensions (each key octant is a quadrant of the 2-d
    * grid), which is what makes per-file min/max tight on both columns.
    */
  def mortonKey(x16: Column, y16: Column): Column =
    spread16(x16).bitwiseOR(shiftleft(spread16(y16), 1))

  /** Z-order `df` on two integer dimension columns and write it as
    * `numFiles` parquet files. Bounds for the integer scaling come from
    * one tiny agg (4 scalars to the driver — same cost class as any
    * broadcast threshold). One range exchange on the Morton key +
    * in-partition sort; file k then covers a contiguous key range, so the
    * zone map over EITHER dimension is tight.
    */
  def zorderWrite(df: DataFrame, dimX: String, dimY: String,
                  path: String, numFiles: Int): Unit = {
    val b = df.agg(min(col(dimX)).cast("long"), max(col(dimX)).cast("long"),
                   min(col(dimY)).cast("long"), max(col(dimY)).cast("long"))
      .head()
    val keyed = df.withColumn("_zkey",
      mortonKey(scaleTo16(col(dimX), b.getLong(0), b.getLong(1)),
                scaleTo16(col(dimY), b.getLong(2), b.getLong(3))))
    overwriteWith(rangeCluster(keyed, numFiles, "_zkey").drop("_zkey"), path, "zo")
  }

  /** `df` in `n` range partitions of `key`, sorted on it within each: the
    * one clustering every clustered write, rebuild and compaction produces,
    * so each output file covers a contiguous span of `key`.
    */
  private[graft] def rangeCluster(df: DataFrame, n: Int, key: String): DataFrame =
    df.repartitionByRange(n, col(key)).sortWithinPartitions(key)

  /** Planning-time file pruning: keep only the files of `manifest` whose
    * [min, max] span of `statCol` intersects [lo, hi] (a file may still
    * contain no matching row — the zone map has no false negatives, like
    * any bloom/minmax skip index), then read exactly those files of the
    * layout at `path`. The prune is plain Scala over the driver-side
    * entries: no job, and no task is ever scheduled for a skipped file.
    * Callers re-apply the row-level predicate: zone maps prune FILES, not
    * rows. A file without a span for `statCol` (stats unknown) is KEPT:
    * pruning may never produce a false negative.
    */
  def prunedRead(spark: SparkSession, path: String,
      manifest: LayoutManifest.Manifest, statCol: String,
      lo: Long, hi: Long): DataFrame =
    readKept(spark, path, manifest, manifest.files.filter(
      _.stats.get(statCol).forall { case (mn, mx) => mn <= hi && mx >= lo }))

  /** The files a prune kept; when it kept none, an empty frame with the
    * schema of the manifest's first file, read from its footer on the
    * driver (no job).
    */
  private def readKept(spark: SparkSession, path: String,
      manifest: LayoutManifest.Manifest,
      kept: Seq[LayoutManifest.FileEntry]): DataFrame = {
    require(manifest.files.nonEmpty, s"pruned read over an EMPTY manifest " +
      s"at $path — the layout lists no files")
    if (kept.nonEmpty)
      Parquet.read(spark, kept.map(e => LayoutManifest.dataPath(path, e.name)): _*)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      Parquet.schema(spark, LayoutManifest.dataPath(path, manifest.files.head.name)))
  }

  /** Membership prune: keep files whose [min, max] span contains at least
    * one of `values` — the probe-read primitive for bucket-clustered
    * layouts ([[graft.operators.AnnSearch.searchClustered]]), where the
    * radius-r multiprobe set is ~1+b+C(b,2) SCATTERED bucket ids, not an
    * interval (a [min(values), max(values)] range prune would keep nearly
    * every file, since xor-neighbor buckets span the whole id space).
    * Same contract as [[prunedRead]]: driver-side over the manifest
    * entries (binary search per file span), no false negatives, callers
    * re-apply the row-level predicate.
    */
  def prunedReadIn(spark: SparkSession, path: String,
      manifest: LayoutManifest.Manifest, statCol: String,
      values: Seq[Long]): DataFrame =
    readKept(spark, path, manifest, filesSpanning(manifest, statCol, values))

  /** Entries whose [min, max] span of `statCol` contains at least one of
    * `values` — the driver-side membership prune shared by
    * [[prunedReadIn]] and [[deleteRowsIn]] (binary search per file span
    * over the sorted value set). A file without a span (stats unknown for
    * this column) is kept: the prune may never claim a value is absent
    * from a file it knows nothing about.
    */
  private def filesSpanning(manifest: LayoutManifest.Manifest, statCol: String,
      values: Seq[Long]): Seq[LayoutManifest.FileEntry] = {
    val sorted = values.distinct.sorted.toArray
    def spanHasValue(lo: Long, hi: Long): Boolean = {
      var i = java.util.Arrays.binarySearch(sorted, lo)
      if (i < 0) i = -i - 1 // insertion point: first value >= lo
      i < sorted.length && sorted(i) <= hi
    }
    manifest.files.filter(_.stats.get(statCol).forall { case (lo, hi) =>
      spanHasValue(lo, hi) })
  }

  /** [[manifestStats]]'s result: file count, span fractions of the global
    * range (avg, max; rounded to 6 decimals) and overlapping span pairs.
    */
  final case class ManifestStats(nFiles: Long, spanFracAvg: Double,
      spanFracMax: Double, overlapPairs: Long)

  /** Layout-health audit over a manifest — the "has my clustering
    * decayed?" gate that decides when to re-run [[compact]]/[[zorderWrite]]:
    * per-file span statistics of `statCol` as fractions of the global range
    * (avg + max), plus the number of OVERLAPPING span pairs. A freshly
    * range-clustered layout reads near-zero overlap and span fractions
    * ~1/F; a hash-scattered or update-churned layout reads span fractions
    * ~1 and ~C(F,2) overlaps — the regime where every
    * [[prunedRead]]/[[deleteRows]] degrades toward a full scan or rewrite.
    * Runs on the driver over the entries, O(F log F). Files without a span
    * count in `nFiles` only; a single-point global range reads fractions 0.
    *
    * Spec-pinned rather than driver-oracled: the spans depend on Spark's
    * range-partitioner SAMPLING boundaries, which no SQL oracle can
    * replicate.
    */
  def manifestStats(manifest: LayoutManifest.Manifest, statCol: String): ManifestStats = {
    val spans = manifest.files.flatMap(_.stats.get(statCol))
    val nFiles = manifest.files.size.toLong
    if (spans.isEmpty) return ManifestStats(nFiles, 0.0, 0.0, 0L)
    val glo = spans.map(_._1).min.toDouble
    val ghi = spans.map(_._2).max.toDouble
    val fracs =
      if (ghi > glo) spans.map { case (lo, hi) => (hi.toDouble - lo.toDouble) / (ghi - glo) }
      else Seq(0.0)
    // Overlap-pair count by an endpoint sweep: sort the 2F endpoints
    // (starts before ends at equal coordinate — spans are closed, touching
    // counts), and at every start add the number of currently-open
    // intervals. Each unordered overlapping pair is counted exactly once,
    // at the later interval's start.
    var open = 0L; var pairs = 0L
    (spans.map(s => (s._1, 0)) ++ spans.map(s => (s._2, 1))).sorted.foreach {
      case (_, 0) => pairs += open; open += 1
      case _      => open -= 1
    }
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    ManifestStats(nFiles, round6(fracs.sum / fracs.size), round6(fracs.max), pairs)
  }

  /** The manifest a write path decides over: the committed one, or a
    * [[LayoutManifest.bootstrap]] of the directory when none is committed.
    * A committed entry without a span of a `statCols` column gets one from
    * [[LayoutManifest.entriesFor]] over the snapshot's OWN files (the
    * footer path: usually no job). It never lists the directory, so a file
    * no manifest commits — the orphan of a crashed rewrite — can never be
    * rewritten back into the table.
    */
  private def snapshot(spark: SparkSession, path: String,
      statCols: Seq[String]): LayoutManifest.Manifest =
    LayoutManifest.current(spark, path) match {
      case None => LayoutManifest.bootstrap(spark, path, statCols)
      case Some(m) =>
        val lacking = m.files.filterNot(e => statCols.forall(e.stats.contains))
        val filled = LayoutManifest.entriesFor(spark,
          lacking.map(e => LayoutManifest.dataPath(path, e.name)), statCols)
          .map(e => e.name -> e.stats).toMap
        m.copy(files = m.files.map(e =>
          e.copy(stats = filled.getOrElse(e.name, Map.empty) ++ e.stats)))
    }

  /** Phase 1 of every rewrite, and the one way this file writes layout
    * data: write `df` to a dot-prefixed temp dir inside the layout, rename
    * each part in as `<tag>_<name>`, drop the temp dir. The renamed files
    * stay invisible orphans until a manifest commit lists them. The write
    * takes [[Parquet.writeOptions]] with the key: a top-level `id` column
    * gets a Parquet bloom filter, which the read's file index probes
    * ([[FileFacts]]), and neither `id` nor the elements of vector columns
    * are dictionary-encoded. Parquet would drop those dictionaries at the
    * first page anyway (unique ids, barely repeating floats) and write the
    * values PLAIN, so on store data the files are byte-identical and only
    * the encoding CPU is saved. Returns the new files' names.
    */
  private def stageIn(df: DataFrame, path: String, prefix: String): Seq[String] = {
    val fs = LayoutManifest.fs(df.sparkSession, path)
    val tag = prefix + java.util.UUID.randomUUID().toString.take(8)
    val tmp = new Path(path, s".stage_$tag")
    df.write.options(Parquet.writeOptions(df, keyed = true)).parquet(tmp.toString)
    val names = fs.listStatus(tmp).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map { s =>
        val nn = s"${tag}_${s.getPath.getName}"
        require(fs.rename(s.getPath, new Path(path, nn)), s"rename-in failed: $nn")
        nn
      }
    fs.delete(tmp, true)
    names
  }

  /** Replace everything in the directory `path` with `df`'s files, staged
    * in first ([[stageIn]]), so `df` may read `path` itself. Returns the
    * number of files written.
    */
  private def overwriteWith(df: DataFrame, path: String, prefix: String): Int = {
    val names = stageIn(df, path, prefix).toSet
    val fs = LayoutManifest.fs(df.sparkSession, path)
    fs.listStatus(new Path(path)).filterNot(s => names(s.getPath.getName))
      .foreach(s => fs.delete(s.getPath, true))
    names.size
  }

  /** Targeted row deletion (the GDPR/right-to-be-forgotten shape):
    * rewrite ONLY the files whose [min, max] span of `idCol` can contain a
    * tombstoned id, leave every other file physically untouched. At 100 TB
    * a delete of a few thousand ids touches a handful of files on an
    * id-clustered layout — the full-table rewrite (or full anti-join
    * rewrite) this replaces is ~six orders of magnitude more IO.
    *
    * Mechanics: the tombstone ids are taken to the driver, up to
    * [[TombstoneCap]] rows ([[heldIds]]), and pruned by membership in each
    * file's span; the affected files alone are read, filtered by the held
    * ids (no join, so the rewrite is one write job), and swapped in via
    * the [[LayoutManifest]] commit protocol (see [[rewriteWithout]]): no
    * crash point loses a surviving row, and a concurrent manifest reader
    * sees either the old or the new complete file set, never a mix. Past
    * the cap, every file is rewritten through a broadcast anti-join with
    * the tombstones. Rows with a null `idCol` survive either way.
    * Returns (filesTotal, filesRewritten, rowsDeleted).
    */
  def deleteRows(spark: SparkSession, path: String, idCol: String,
                 tombstones: DataFrame): (Int, Int, Long) =
    deleteRowsUpTo(spark, path, idCol, tombstones, TombstoneCap)

  /** [[deleteRows]] with the tombstone cap as a parameter, so the past-cap
    * route can be exercised on small data.
    */
  private[graft] def deleteRowsUpTo(spark: SparkSession, path: String, idCol: String,
      tombstones: DataFrame, cap: Int): (Int, Int, Long) = {
    val snap = snapshot(spark, path, Seq(idCol))
    val (affected, survivors) = deletePlan(snap, idCol, tombstones, cap)(ids =>
      filesSpanning(snap, idCol, ids.toSeq))
    rewriteWithout(spark, path, snap, affected, idCol, survivors)
  }

  /** The most tombstone rows a delete takes to the driver. At the cap the
    * driver briefly holds 1M collected rows and two boxed sets of their ids
    * (on the order of 100 MB); a larger delete rewrites every file through
    * a broadcast anti-join instead.
    */
  private[graft] val TombstoneCap: Int = 1 << 20

  /** The non-null ids of `tombstones`' first column as longs, or None when
    * it has more than `cap` rows. A local frame is already on the driver
    * and collects with no job; any other goes through [[Bridge.collectUpTo]].
    */
  private def heldIds(tombstones: DataFrame, cap: Int): Option[Set[Long]] = {
    val ids = tombstones.select(tombstones(tombstones.columns.head).cast("long"))
    val rows =
      if (Bridge.isLocal(ids)) Some(ids.collect()).filter(_.length <= cap)
      else Bridge.collectUpTo(ids, cap)
    rows.map(_.collect { case r if !r.isNullAt(0) => r.getLong(0) }.toSet)
  }

  /** What a delete by `tombstones` rewrites, and how it keeps a file's
    * surviving rows. With the ids held ([[heldIds]]): the files `prune`
    * names, filtered by `NOT coalesce(idCol IN ids, false)`, an `InSet`
    * that generated code reads as a reference, so a new id set compiles
    * nothing, and a null id survives as it does under the anti-join. Past
    * `cap`: every file, anti-joined with the broadcast tombstones.
    */
  private def deletePlan(snap: LayoutManifest.Manifest, idCol: String,
      tombstones: DataFrame, cap: Int)(prune: Set[Long] => Seq[LayoutManifest.FileEntry])
      : (Seq[LayoutManifest.FileEntry], DataFrame => DataFrame) =
    heldIds(tombstones, cap) match {
      case Some(ids) => (prune(ids), _.filter(
        !coalesce(graft.functions.BoundParam.longIn(col(idCol), ids), lit(false))))
      case None => (snap.files, antiJoin(idCol, tombstones))
    }

  /** Survivors of a rewrite: the rows whose `idCol` is not among the
    * tombstones' first column, through a broadcast left anti-join.
    */
  private[graft] def antiJoin(idCol: String, tombstones: DataFrame): DataFrame => DataFrame =
    _.join(broadcast(tombstones.select(tombstones(tombstones.columns.head).cast("long").as(idCol))
      .distinct()), Seq(idCol), "left_anti")

  /** Targeted deletion on a layout CLUSTERED BY A DIFFERENT COLUMN than
    * the delete key — the ANN-index forget shape
    * ([[graft.operators.AnnSearch.deleteVectors]]): the index is clustered
    * by LSH `bucket`, tombstones are vector IDS, and on such a layout the
    * id spans per file are near-total, so a prune on the id spans would
    * rewrite everything. The caller resolves the tombstones' CLUSTER values
    * (`clusterValues` — a pure function of the vector, or a lookup against
    * the id-clustered primary store) and files are pruned by MEMBERSHIP of
    * those values in each file's span; the rewrite then anti-joins the
    * distributed tombstones on the true id column. Spans come from the
    * write-path snapshot: the committed manifest (no scan), or a bootstrap
    * when none is committed.
    */
  def deleteRowsIn(spark: SparkSession, path: String, clusterCol: String,
                   clusterValues: Seq[Long], idCol: String,
                   tombstones: DataFrame): (Int, Int, Long) = {
    val snap = snapshot(spark, path, Seq(clusterCol))
    rewriteWithout(spark, path, snap, filesSpanning(snap, clusterCol, clusterValues),
      idCol, antiJoin(idCol, tombstones))
  }

  /** Shared delete mechanics under the [[LayoutManifest]] commit protocol.
    * Phases, in crash-safety order:
    *  1. read ONLY `affected`, keep the rows `survivors` keeps (a filter
    *     by held ids or a tombstone anti-join on `idCol`), write them to a
    *     dot-prefixed temp dir, rename them into the layout dir under
    *     fresh unique names. A crash here
    *     leaves the old manifest pointing at the intact old files — the new
    *     names are orphans [[LayoutManifest.gc]] reclaims; NOTHING has been
    *     deleted.
    *  2. compute the new files' zone stats and commit manifest v+1 = (old
    *     files − affected) + new files, in ONE atomic rename. This is the
    *     swap: a reader resolves either version, each a complete table.
    *  3. delete the superseded `affected` files and prune old manifests —
    *     space reclamation only, correctness never depends on it. The
    *     deletion is EAGER (not deferred to gc's retention horizon) by
    *     design: this is the GDPR path, and physical erasure must not wait
    *     on snapshot retention — prior manifest versions referencing the
    *     affected files become unreadable, which is the point of a forget.
    *     A [[LayoutManifest.CommitConflictException]] (concurrent writer)
    *     propagates: re-derive from the new current and re-run.
    * `crashPoint` is the kill-injection hook for the LayoutSpec crash
    * tests: 1 aborts after phase 1, 2 after phase 2 (rowsDeleted is -1 on
    * a phase-1 abort — the count is not yet known).
    * Returns (filesTotal, filesRewritten, rowsDeleted).
    */
  private[graft] def rewriteWithout(spark: SparkSession, path: String,
      snapshot: LayoutManifest.Manifest,
      affected: Seq[LayoutManifest.FileEntry], idCol: String,
      survivors: DataFrame => DataFrame, crashPoint: Int = 0): (Int, Int, Long) = {
    val total = snapshot.files.size
    if (affected.isEmpty) return (total, 0, 0L)
    val gone = affected.map(_.name).toSet
    // the manifest already carries exact per-file row counts — summing the
    // affected entries replaces a COUNT read of the affected files
    val nBefore = affected.map(_.rows).sum
    val kept = survivors(Parquet.read(spark,
      affected.map(e => LayoutManifest.dataPath(path, e.name)): _*))
    // phase 1, at the affected-file granularity (no global shuffle)
    val newNames = stageIn(kept.coalesce(affected.size), path, "rw")
    if (crashPoint == 1) return (total, affected.size, -1L)

    // phase 2: stats for the new files, then the atomic manifest commit
    val statCols = (snapshot.statCols :+ idCol).distinct
    val newEntries = LayoutManifest.entriesFor(spark,
      newNames.map(n => LayoutManifest.dataPath(path, n)), statCols)
    val nAfter = newEntries.map(_.rows).sum
    LayoutManifest.commit(spark, path, LayoutManifest.Manifest(
      snapshot.version + 1, snapshot.props,
      snapshot.files.filterNot(e => gone(e.name)) ++ newEntries))
    if (crashPoint == 2) return (total, affected.size, nBefore - nAfter)

    // phase 3: GC the superseded files + old manifests
    val fs = LayoutManifest.fs(spark, path)
    gone.foreach(n => fs.delete(new Path(path, n), false))
    LayoutManifest.gc(spark, path)
    (total, affected.size, nBefore - nAfter)
  }

  /** `df` packed into ceil(`bytes` / `targetBytes`) outputs: range-
    * partitioned and sorted on `clusterCol` when set (restoring zone-map
    * tightness), a plain repartition otherwise.
    */
  private def pack(df: DataFrame, bytes: Long, targetBytes: Long,
      clusterCol: Option[String]): DataFrame = {
    val nOut = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    clusterCol.fold(df.repartition(nOut))(rangeCluster(df, nOut, _))
  }

  /** Bin-pack small files into ~`targetBytes` outputs. File count comes
    * from actual listed bytes (ceil(total/target)), not a guess; with
    * `clusterCol` set the rewrite is a range-partitioned re-sort that
    * RESTORES clustering (and zone-map tightness) instead of a hash
    * shuffle that destroys it. One read + one exchange + one write.
    * Returns (filesBefore, filesAfter).
    */
  def compact(spark: SparkSession, inPath: String, outPath: String,
              targetBytes: Long, clusterCol: Option[String] = None): (Int, Int) = {
    val fs = LayoutManifest.fs(spark, inPath)
    // RECURSIVE listing: a streaming-maintained index is hive-partitioned
    // (bucket=X/batch_id=Y/part-*.parquet), and a top-level listStatus
    // would see only directories — sizing the output from 0 bytes and
    // reporting filesBefore = 0
    val parts = {
      val it = fs.listFiles(new Path(inPath), true)
      val buf = scala.collection.mutable.ArrayBuffer
        .empty[org.apache.hadoop.fs.LocatedFileStatus]
      while (it.hasNext) {
        val s = it.next()
        if (s.isFile && s.getPath.getName.endsWith(".parquet")) buf += s
      }
      buf.toArray
    }
    (parts.length, overwriteWith(
      pack(Parquet.read(spark, inPath), parts.map(_.getLen).sum, targetBytes, clusterCol),
      outPath, "cp"))
  }

  /** Commit a v1 [[LayoutManifest]] over a freshly-written layout: one
    * column-pruned stats pass over the directory, one atomic manifest
    * rename. From this point readers/deletes/compactions resolve the
    * manifest (no listing, no stats scan) and every rewrite is crash-safe.
    * `props` carries index identity (e.g. the LSH plane hash) for
    * write-vs-operate validation. Returns the committed version.
    */
  def commitLayout(spark: SparkSession, path: String, statCols: Seq[String],
      props: Map[String, String] = Map.empty): Long = {
    val next = LayoutManifest.current(spark, path).map(_.version + 1).getOrElse(0L)
    LayoutManifest.commit(spark, path,
      LayoutManifest.bootstrap(spark, path, statCols, props).copy(version = next))
  }

  /** Append a batch to a manifest-committed layout: write the batch to a
    * temp dir, rename its files in under fresh names, commit manifest v+1 =
    * old files + new entries. Crash-safe like every manifest commit (an
    * uncommitted append's files are invisible orphans), EXACTLY-ONCE under
    * at-least-once retries when `batchId` is passed (the manifest records
    * the high-water batch id and a replayed batch is skipped — the
    * manifest-native form of the (bucket, batch_id) dynamic-partition
    * overwrite idempotence the streaming maintenance tier uses), and SAFE
    * UNDER CONCURRENT APPENDERS: a commit conflict means another writer
    * advanced the manifest, so this re-reads the new current, re-derives
    * (old files + ITS OWN new entries — the data files are already renamed
    * in and stay valid), and retries; a concurrent retry of the SAME batch
    * resolves to exactly one winner, the loser's files becoming
    * gc-reclaimable orphans. With `index`, each manifest read is checked
    * against that clustered index's identity first ([[ClusteredIndex.check]]),
    * so a streaming append reads the manifest once per batch. Returns the
    * appended row count (0 on a replay skip).
    */
  def appendCommitted(df: DataFrame, path: String,
      batchId: Option[Long] = None, index: Option[ClusteredIndex] = None): Long = {
    val spark = df.sparkSession
    def alreadySeen(s: LayoutManifest.Manifest): Boolean = {
      index.foreach(_.check(path, s))
      batchId.exists(b => s.props.get("last_batch_id").exists(_.toLong >= b))
    }
    var snapshot = LayoutManifest.committed(spark, path)
    if (alreadySeen(snapshot)) return 0L
    val newNames = stageIn(df, path, "ap")
    val newEntries = LayoutManifest.entriesFor(spark,
      newNames.map(n => LayoutManifest.dataPath(path, n)), snapshot.statCols)
    var attempts = 0
    while (true) {
      val props = batchId match {
        case Some(b) => snapshot.props + ("last_batch_id" -> b.toString)
        case None    => snapshot.props
      }
      try {
        LayoutManifest.commit(spark, path, LayoutManifest.Manifest(
          snapshot.version + 1, props, snapshot.files ++ newEntries))
        return newEntries.map(_.rows).sum
      } catch {
        case _: LayoutManifest.CommitConflictException =>
          attempts += 1
          require(attempts < 32, s"append commit contention at $path")
          snapshot = LayoutManifest.committed(spark, path)
          // a concurrent retry of THIS batch won while we raced: skip —
          // our renamed-in files are orphans the next gc reclaims
          if (alreadySeen(snapshot)) return 0L
      }
    }
    0L // unreachable
  }

  /** Replace a layout's ENTIRE file set in place with `newData` — the
    * engine under [[compactInPlace]] and the index rebuild-and-cutover
    * operators ([[graft.operators.AnnSearch.rebuildClustered]],
    * [[graft.operators.IvfSearch.rebuildClustered]]). Same three-phase
    * protocol as the targeted rewrite: (1) write + rename the new files in
    * under fresh names, (2) commit a manifest listing ONLY them, with
    * `props` MERGED over the old ones (a rebuild overrides index identity
    * keys like `planes_hash` but must preserve maintenance state like the
    * streaming high-water `last_batch_id`), (3) GC the superseded files. The cutover is the single manifest rename: a reader
    * resolves the old index or the new one, never a mix — which is what
    * lets a rebuild retrain dials/centroids against live data without a
    * second path and a caller-side symlink dance. Superseded files are
    * deleted eagerly (an in-place rebuild/compaction's contract is
    * immediate cutover — snapshot time travel is the APPEND history's
    * feature, [[LayoutManifest.readDataAt]]); a commit conflict propagates
    * for the caller to re-run. `crashPoint` as in the targeted rewrite
    * (kill-injection testing). Returns (filesBefore, filesAfter).
    */
  private[graft] def replaceLayout(spark: SparkSession, path: String,
      newData: DataFrame, statCols: Seq[String], props: Map[String, String],
      crashPoint: Int = 0): (Int, Int) = {
    val snap = snapshot(spark, path, Nil)
    val newNames = stageIn(newData, path, "rb")
    if (crashPoint == 1) return (snap.files.size, newNames.size)

    val newEntries = LayoutManifest.entriesFor(spark,
      newNames.map(n => LayoutManifest.dataPath(path, n)), statCols)
    LayoutManifest.commit(spark, path, LayoutManifest.Manifest(
      snap.version + 1, snap.props ++ props, newEntries))
    if (crashPoint == 2) return (snap.files.size, newEntries.size)

    val fs = LayoutManifest.fs(spark, path)
    snap.fileNames.diff(newNames.toSet).foreach(n =>
      fs.delete(new Path(path, n), false))
    LayoutManifest.gc(spark, path)
    (snap.files.size, newEntries.size)
  }

  /** A clustered vector index — LSH buckets
    * ([[graft.operators.AnnSearch.clusteredWrite]]) or IVF lists
    * ([[graft.operators.IvfSearch.clusteredWrite]]): files range-clustered on
    * the integer `key`, and a manifest that records the index's identity
    * ([[props]]): its `kind`, the `size` of its key parameters (plane or
    * centroid count) and their `hash` ([[fingerprint]]). Keys computed from
    * other parameters name the wrong files, so every operation that
    * computes keys from caller-supplied parameters runs [[check]] first.
    */
  private[graft] final case class ClusteredIndex(key: String, kind: String,
      noun: String, sizeProp: String, size: Int, hashProp: String, hash: String) {
    def props: Map[String, String] =
      Map("index" -> kind, sizeProp -> size.toString, hashProp -> hash)

    /** Fail loudly when `m` records a different fingerprint; a manifest
      * without one passes.
      */
    def check(path: String, m: LayoutManifest.Manifest): Unit =
      m.props.get(hashProp).foreach { want =>
        require(want == hash,
          s"$noun mismatch at $path: layout was written with $sizeProp=" +
            s"${m.props.getOrElse(sizeProp, "?")} $hashProp=$want, caller passed " +
            s"$sizeProp=$size $hashProp=$hash — keys from different ${noun}s " +
            "name the wrong files, so probes miss rows and deletes leave them. " +
            s"Rebuild with rebuildClustered or pass the write-time ${noun}s.")
      }
  }

  /** Order-sensitive 64-bit FNV fold over `rows` (their count, then per row
    * its header long and the raw bits of its doubles), as hex. Manifests
    * store it as index identity, so its output for a given input is fixed.
    */
  private[graft] def fingerprint(rows: Seq[(Long, Seq[Double])]): String = {
    var h = 0xcbf29ce484222325L // FNV offset basis
    def mix(x: Long): Unit = { h ^= x; h *= 0x100000001b3L }
    mix(rows.length.toLong)
    rows.foreach { case (head, ds) =>
      mix(head)
      ds.foreach(d => mix(java.lang.Double.doubleToLongBits(d)))
    }
    java.lang.Long.toHexString(h)
  }

  /** Write `indexed` (rows carrying `index.key`) as `numFiles` clustered
    * files and commit its manifest with the key spans and index props.
    */
  private[graft] def writeClustered(indexed: DataFrame, path: String,
      numFiles: Int, index: ClusteredIndex): Unit = {
    overwriteWith(rangeCluster(indexed, numFiles, index.key), path, "cw")
    commitLayout(indexed.sparkSession, path, Seq(index.key), index.props)
  }

  /** Rebuild-and-cutover of a clustered index: `reindexed` (the live rows
    * keyed anew) replaces every file in one commit ([[replaceLayout]]).
    * Returns (filesBefore, filesAfter).
    */
  private[graft] def rebuildClustered(spark: SparkSession, path: String,
      reindexed: DataFrame, numFiles: Int, index: ClusteredIndex): (Int, Int) =
    replaceLayout(spark, path, rangeCluster(reindexed, numFiles, index.key),
      Seq(index.key), index.props)

  /** The committed manifest of a clustered index, checked against the
    * caller's identity — what a probe read starts from.
    */
  private[graft] def checkedManifest(spark: SparkSession, path: String,
      index: ClusteredIndex): LayoutManifest.Manifest = {
    val m = LayoutManifest.committed(spark, path)
    index.check(path, m)
    m
  }

  /** [[compact]] IN PLACE under the manifest protocol: read the live file
    * set, bin-pack by listed bytes, range-re-sort on `clusterCol` to
    * restore zone-map tightness, and cut over with one manifest commit —
    * readers during the compaction see the old complete layout until the
    * commit instant. Props are preserved (compaction changes physical
    * layout, not index identity). Returns (filesBefore, filesAfter).
    */
  def compactInPlace(spark: SparkSession, path: String, targetBytes: Long,
      clusterCol: Option[String] = None): (Int, Int) = {
    val snap = snapshot(spark, path, Nil)
    require(snap.files.nonEmpty, s"compactInPlace over an empty layout: $path")
    val fs = LayoutManifest.fs(spark, path)
    val files = snap.files.map(e => LayoutManifest.dataPath(path, e.name))
    val liveBytes = files.map(f => fs.getFileStatus(new Path(f)).getLen).sum
    val statCols = (snap.statCols ++ clusterCol.toSeq).distinct
    replaceLayout(spark, path,
      pack(Parquet.read(spark, files: _*), liveBytes, targetBytes, clusterCol),
      statCols, snap.props)
  }

  /** Per-file BLOOM sidecar over `col` — the point-lookup skip index zone
    * maps cannot be: on a layout clustered by a DIFFERENT column (the
    * bucket-clustered ANN index), every file's span of a scattered column
    * like the row id is near-total, so a span prune keeps everything; a
    * per-file bloom answers "can this id be in this file" regardless of
    * clustering. This is what lets a GDPR forget arrive as BARE IDS
    * ([[deleteRowsBloom]]) — previously the ANN forget needed the
    * tombstones' embeddings to name their buckets.
    *
    * Storage: one parquet sidecar per manifest version at
    * `_graft/bloom-<version>-<col>.parquet` with rows (file, k, words) —
    * the Iceberg-Puffin shape: KB-scale per file (uniform dims from the
    * manifest's max per-file row count at `fpp`), loaded only when a
    * membership prune asks. Build cost: ONE column-pruned aggregation pass
    * (map-side-combined OR-merge; items never shuffle). False positives
    * cost an extra file rewrite/read, never correctness; no false
    * negatives by construction. Values are [[graft.functions.Bloom.mix64]]
    * fingerprints, so structured ids probe uniformly.
    */
  def writeBloomSidecar(spark: SparkSession, path: String, colName: String,
      fpp: Double = 0.01): (Int, Int) = {
    val m = LayoutManifest.committed(spark, path)
    writeSidecarDf(spark, path, m.version, colName,
      bloomsDf(spark, path, m.files, colName, fpp), m.files.size)
    graft.functions.Bloom.dims(math.max(1L, m.files.map(_.rows).max), fpp)
  }

  /** The per-file bloom build shared by [[writeBloomSidecar]] and the
    * incremental maintenance in [[deleteRowsBloom]] — fully DISTRIBUTED
    * (round-9: the former implementation collected one words-array row per
    * file to the driver and wrote the sidecar via `parallelize(rows, 1)`,
    * ~120 GB of driver traffic at the 100k-file/100 TB target): the
    * `groupBy(file)` bloom aggregation flows STRAIGHT into the sidecar
    * parquet write; no word array ever crosses to the driver.
    *
    * Files are banded by power-of-two row count and each band sized at its
    * own `Bloom.dims(bandMaxRows, fpp)` — one aggregation branch per band
    * unioned into one job — so a small file no longer pays the largest
    * file's filter width (the former uniform-max sizing). The sidecar rows
    * carry `k` per file, so heterogeneous dims probe correctly.
    */
  private def bloomsDf(spark: SparkSession, path: String,
      entries: Seq[LayoutManifest.FileEntry], colName: String,
      fpp: Double): DataFrame = {
    require(entries.nonEmpty, s"bloom sidecar build over zero files at $path")
    implicit val enc: org.apache.spark.sql.Encoder[Long] =
      org.apache.spark.sql.Encoders.scalaLong
    val bands = entries.groupBy(e =>
      java.lang.Long.highestOneBit(math.max(1L, e.rows))).toSeq.sortBy(_._1)
    bands.map { case (_, es) =>
      val (numWords, k) = graft.functions.Bloom.dims(
        math.max(1L, es.map(_.rows).max), fpp)
      val agg = org.apache.spark.sql.functions.udaf(
        new graft.functions.BloomBitsAgg(numWords, k))
      Parquet.read(spark, es.map(e => LayoutManifest.dataPath(path, e.name)): _*)
        .select(col("_metadata.file_path").as("__file"),
          graft.functions.Bloom.mix64Col(col(colName)).as("__fp"))
        .groupBy("__file")
        .agg(agg(col("__fp")).as("words"))
        .select(substring_index(col("__file"), "/", -1).as("file"),
          lit(k).as("k"), col("words"))
    }.reduce(_ unionAll _)
  }

  private def sidecarPath(path: String, version: Long, colName: String): String =
    s"$path/${LayoutManifest.SubDir}/bloom-$version-$colName.parquet"

  /** One distributed write of the sidecar rows — coalesced toward ~2k file
    * rows per output part so the sidecar stays a handful of files without
    * funnelling all words through one task at 100k-file scale.
    */
  private def writeSidecarDf(spark: SparkSession, path: String, version: Long,
      colName: String, rows: DataFrame, nFiles: Int): Unit =
    rows.coalesce(math.max(1, (nFiles + 2047) / 2048))
      .write.mode("overwrite").parquet(sidecarPath(path, version, colName))

  private def readSidecarDf(spark: SparkSession, path: String, version: Long,
      colName: String): Option[DataFrame] = {
    val p = sidecarPath(path, version, colName)
    if (!LayoutManifest.fs(spark, path).exists(new Path(p))) None
    else Some(Parquet.read(spark, p))
  }

  /** Files that MIGHT contain at least one of `values` in `colName`, per
    * the current version's bloom sidecar — no false negatives. The
    * membership test runs DISTRIBUTED over the sidecar rows (the tombstone
    * fingerprints ship as a task reference object into the codegen'd
    * [[graft.functions.BloomAnyMightContainExpr]]); only the matching file
    * NAMES come back — bounded like every other prune in this file, where
    * the former implementation collected every word array to the driver.
    */
  def bloomPrunedFiles(spark: SparkSession, path: String, colName: String,
      values: Seq[Long]): Array[String] = {
    val m = LayoutManifest.committed(spark, path)
    val side = readSidecarDf(spark, path, m.version, colName).getOrElse(
      throw new IllegalStateException(
        s"no bloom sidecar for v${m.version}/$colName at $path — run " +
          "writeBloomSidecar after the last commit"))
    val fps = values.distinct.map(graft.functions.Bloom.mix64).toArray
    val hit = Bridge.column(graft.functions.BloomAnyMightContainExpr(
      Bridge.expression(col("words")), Bridge.expression(col("k")), fps))
    side.filter(hit).select("file").collect()
      .map(r => LayoutManifest.dataPath(path, r.getString(0)))
  }

  /** Targeted deletion by BARE IDS on a layout where id spans cannot prune
    * (clustered by another column): bloom-sidecar membership of the held
    * ids ([[heldIds]], up to [[TombstoneCap]] rows) names the candidate
    * files (≈ |hit files| + fpp·F), only those are rewritten (past the cap,
    * all of them, as in [[deleteRows]]), and the sidecar is maintained
    * INCREMENTALLY for the new version — one bloom pass over just the
    * rewritten files, untouched files' rows carry over.
    * Returns (filesTotal, filesRewritten, rowsDeleted).
    */
  def deleteRowsBloom(spark: SparkSession, path: String, idCol: String,
      tombstones: DataFrame, fpp: Double = 0.01): (Int, Int, Long) = {
    val snapshot = LayoutManifest.committed(spark, path)
    val (affected, survivors) = deletePlan(snapshot, idCol, tombstones, TombstoneCap) { ids =>
      val hit = bloomPrunedFiles(spark, path, idCol, ids.toSeq).map(f => new Path(f).getName).toSet
      snapshot.files.filter(e => hit(e.name))
    }
    val result = rewriteWithout(spark, path, snapshot, affected, idCol, survivors)
    if (affected.nonEmpty) {
      // maintain the sidecar at the NEW version: re-bloom only the
      // rewritten files; every untouched file's row carries over WITHOUT
      // its words ever visiting the driver (round-9: only file NAMES are
      // compared driver-side — manifest-scale — and the kept rows flow
      // parquet→parquet while the fresh files' blooms come from one
      // banded aggregation, each file sized to its own row count)
      val m2 = LayoutManifest.current(spark, path).get
      val old = readSidecarDf(spark, path, snapshot.version, idCol).get
      val affectedNames = affected.map(_.name).toSet
      // the sidecar at snapshot.version covers exactly snapshot.fileNames
      // (bloomPrunedFiles already threw if versions diverged), so the
      // kept/dropped split is manifest arithmetic — no job to list it
      val keptNames = snapshot.fileNames.intersect(m2.fileNames) -- affectedNames
      val dropNames = (snapshot.fileNames -- keptNames).toSeq.sorted // small
      val newEntries = m2.files.filterNot(e => keptNames(e.name))
      val kept = old.filter(!col("file").isin(dropNames: _*))
      // rebuilt files' blooms use the caller's fpp (round-10, advisor fix:
      // the hardcoded 0.01 silently degraded a sidecar originally written
      // at a tighter fpp on every incremental maintenance pass)
      val merged =
        if (newEntries.isEmpty) kept
        else kept.unionByName(bloomsDf(spark, path, newEntries, idCol, fpp))
      writeSidecarDf(spark, path, m2.version, idCol, merged, m2.files.size)
    }
    result
  }

  /** One [[maintainCompaction]] decision: the stats it read, the thresholds
    * it applied, and what it did. `overlapFrac` is overlap_pairs / C(F,2)
    * (0 when F < 2).
    */
  final case class CompactionDecision(
      compacted: Boolean, nFiles: Long, spanFracAvg: Double,
      spanFracMax: Double, overlapPairs: Long, overlapFrac: Double,
      filesAfter: Int)

  /** The wired recompaction gate: measure layout health via
    * [[manifestStats]] and RUN [[compactInPlace]] when clustering has
    * decayed past the thresholds. Thresholds come from the manifestStats
    * regimes: a freshly range-clustered layout reads span fractions ~1/F
    * and ~zero overlap; a churned/appended one drifts toward fractions ~1
    * and ~C(F,2) overlaps, where every pruned read/delete degrades toward a
    * full scan. Defaults (avg span > 0.5 of the global range, or > 25% of
    * file pairs overlapping) trigger when pruning has lost roughly half its
    * power — early enough that the rewrite is amortized by the reads it
    * saves, late enough that steady appends don't thrash rewrites. A layout
    * of fewer than two files is never decayed: its one span IS the global
    * range. A maintenance schedule calls this after every append wave; the
    * no-op decision reads the committed manifest on the driver and fires
    * no job when its entries carry `statCol` spans.
    */
  def maintainCompaction(spark: SparkSession, path: String, statCol: String,
      targetBytes: Long, spanFracAvgMax: Double = 0.5,
      overlapFracMax: Double = 0.25): CompactionDecision = {
    val s = manifestStats(snapshot(spark, path, Seq(statCol)), statCol)
    val pairs = s.nFiles * (s.nFiles - 1) / 2
    val overlapFrac = if (pairs == 0) 0.0 else s.overlapPairs.toDouble / pairs
    val decayed = s.nFiles >= 2 &&
      (s.spanFracAvg > spanFracAvgMax || overlapFrac > overlapFracMax)
    val filesAfter =
      if (decayed) compactInPlace(spark, path, targetBytes, Some(statCol))._2
      else s.nFiles.toInt
    CompactionDecision(decayed, s.nFiles, s.spanFracAvg, s.spanFracMax,
      s.overlapPairs, overlapFrac, filesAfter)
  }
}
