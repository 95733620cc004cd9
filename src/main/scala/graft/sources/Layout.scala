package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
  *  - ZONE MAP: per-file min/max stats collected in one column-pruned
  *    aggregate over `_metadata.file_path` (only the stat columns are
  *    read). Parquet footers already hold these stats, but Spark consults
  *    them per-task AFTER scheduling; a manifest consulted at PLANNING
  *    time schedules no task at all for a pruned file — at 100 TB /
  *    ~100k files the difference between a 3-file job and a 100k-task
  *    job whose tasks mostly read a footer and exit. The manifest is tiny
  *    (one row per file) and rebuilt incrementally per written partition.
  *  - COMPACTION: streaming ingest and fine-grained writes leave files far
  *    below the scan's `maxPartitionBytes`, and task-scheduling overhead
  *    then dominates reads. Compaction bin-packs by TOTAL BYTES (not file
  *    count) into `ceil(bytes / targetBytes)` outputs in one job; with a
  *    cluster column it re-sorts with `repartitionByRange` so the rewrite
  *    RESTORES zone-map tightness instead of destroying it.
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
    keyed
      .repartitionByRange(numFiles, col("_zkey"))
      .sortWithinPartitions("_zkey")
      .drop("_zkey")
      .write.mode("overwrite").parquet(path)
  }

  /** Zone-map manifest: one row per data file with min/max of each stat
    * column. One aggregate over the hidden `_metadata.file_path` column;
    * only `statCols` are read (column pruning), and the map-side combine
    * means one partial row per (task x file) crosses the exchange.
    */
  def zoneMap(spark: SparkSession, path: String, statCols: Seq[String]): DataFrame = {
    // Footer fast path (round-9): identical spans straight from parquet
    // metadata when every stat column is a plain int — no scan job. The
    // scan aggregation remains the exact fallback for partitioned layouts
    // and non-integer columns (see LayoutManifest.entriesFor).
    LayoutManifest.footerEntries(spark, Seq(path), statCols) match {
      case Some(entries) if entries.forall(e => statCols.forall(e.stats.contains)) =>
        LayoutManifest.statsDf(spark, path, LayoutManifest.Manifest(
          -1L, Map.empty, entries), statCols)
      case _ =>
        val df = Parquet.read(spark, path)
        df.select(col("_metadata.file_path").as("file") +: statCols.map(col): _*)
          .groupBy("file")
          .agg(min(col(statCols.head)).as(s"${statCols.head}_min"),
               max(col(statCols.head)).as(s"${statCols.head}_max") +:
               statCols.tail.flatMap(c =>
                 Seq(min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max"))): _*)
    }
  }

  /** Planning-time file pruning: keep only files whose [min, max] span
    * intersects [lo, hi] (a file may still contain no matching row — the
    * zone map has no false negatives, like any bloom/minmax skip index),
    * then read exactly those files. The manifest is one row per file, so
    * the prune itself is a driver-side filter over a tiny collect; no task
    * is ever scheduled for a skipped file. Callers re-apply the row-level
    * predicate: zone maps prune FILES, not rows. A file with NULL bounds
    * (span unknown — e.g. a manifest entry written without stats for this
    * column) is KEPT: pruning may never produce a false negative.
    */
  def prunedRead(spark: SparkSession, manifest: DataFrame, statCol: String,
                 lo: Long, hi: Long): DataFrame = {
    val mn = col(s"${statCol}_min"); val mx = col(s"${statCol}_max")
    val rows = manifest
      .select(col("file"), ((mn <= hi && mx >= lo) ||
        mn.isNull || mx.isNull).as("keep"))
      .collect()
    require(rows.nonEmpty, "prunedRead over an EMPTY manifest — the layout " +
      "lists no files (zoneMap over a dir with no parquet, or a manifest " +
      "committed with zero entries)")
    readKept(spark, rows.filter(_.getBoolean(1)).map(_.getString(0)).toIndexedSeq,
      rows.head.getString(0))
  }

  /** The files a prune kept; when it kept none, an empty frame with the
    * schema of `any` file, read from its footer on the driver (no job).
    */
  private def readKept(spark: SparkSession, files: Seq[String], any: String): DataFrame =
    if (files.nonEmpty) Parquet.read(spark, files: _*)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      Parquet.schema(spark, any))

  /** Membership prune: keep files whose [min, max] span contains at least
    * one of `values` — the probe-read primitive for bucket-clustered
    * layouts ([[graft.operators.AnnSearch.searchClustered]]), where the
    * radius-r multiprobe set is ~1+b+C(b,2) SCATTERED bucket ids, not an
    * interval (a [min(values), max(values)] range prune would keep nearly
    * every file, since xor-neighbor buckets span the whole id space).
    * Same contract as [[prunedRead]]: driver-side over the one-row-per-
    * file manifest (binary search per file span), no false negatives,
    * callers re-apply the row-level predicate.
    */
  def prunedReadIn(spark: SparkSession, manifest: DataFrame, statCol: String,
                   values: Seq[Long]): DataFrame = {
    val rows = manifest.select("file").collect()
    require(rows.nonEmpty, "prunedReadIn over an EMPTY manifest — the " +
      "layout lists no files")
    readKept(spark, filesSpanning(manifest, statCol, values).toIndexedSeq,
      rows.head.getString(0))
  }

  /** Files whose [min, max] span of `statCol` contains at least one of
    * `values` — the driver-side membership prune shared by
    * [[prunedReadIn]] and [[deleteRowsIn]] (binary search per file span
    * over the sorted value set). A NULL span (stats unknown for this
    * column) keeps the file: the prune may never claim a value is absent
    * from a file it knows nothing about.
    */
  private def filesSpanning(manifest: DataFrame, statCol: String,
      values: Seq[Long]): Array[String] = {
    val sorted = values.distinct.sorted.toArray
    def spanHasValue(lo: Long, hi: Long): Boolean = {
      var i = java.util.Arrays.binarySearch(sorted, lo)
      if (i < 0) i = -i - 1 // insertion point: first value >= lo
      i < sorted.length && sorted(i) <= hi
    }
    manifest
      .select(col("file"), col(s"${statCol}_min").cast("long"),
        col(s"${statCol}_max").cast("long"))
      .collect()
      .filter(r => r.isNullAt(1) || r.isNullAt(2) ||
        spanHasValue(r.getLong(1), r.getLong(2)))
      .map(_.getString(0))
  }

  /** Layout-health audit over a zone-map manifest — the "has my
    * clustering decayed?" gate that decides when to re-run
    * [[compact]]/[[zorderWrite]]: per-file span statistics of `statCol`
    * as fractions of the global range (avg + max), plus the number of
    * OVERLAPPING span pairs. A freshly range-clustered layout reads
    * near-zero overlap and span fractions ~1/F; a hash-scattered or
    * update-churned layout reads span fractions ~1 and ~C(F,2) overlaps —
    * the regime where every [[prunedRead]]/[[deleteRows]] degrades toward
    * a full scan or rewrite. The manifest is one row per file, so the
    * overlap self-join is F²-bounded manifest-scale work, never corpus
    * work. Returns ONE row: `(n_files, span_frac_avg, span_frac_max,
    * overlap_pairs)`; a single-point global range reads fractions 0.
    *
    * Spec-pinned rather than driver-oracled: the spans depend on Spark's
    * range-partitioner SAMPLING boundaries, which no SQL oracle can
    * replicate.
    */
  def manifestStats(manifest: DataFrame, statCol: String): DataFrame = {
    val lo = col(s"${statCol}_min").cast("double")
    val hi = col(s"${statCol}_max").cast("double")
    val g = manifest.agg(min(lo).as("glo"), max(hi).as("ghi"),
      count(lit(1)).as("n_files"))
    val spans = manifest.select(col("file"), lo.as("lo"), hi.as("hi"))
    // Overlap-pair COUNT via an endpoint sweep instead of the former
    // O(F²) theta self-join (BNLJ): sort the 2F interval endpoints (starts
    // before ends at equal coordinate — spans are closed, touching counts),
    // and at every start event add the number of currently-open intervals
    // (= starts so far − ends so far, both over STRICTLY PRECEDING events).
    // Each unordered overlapping pair is counted exactly once, at the
    // later interval's start. O(F log F) — manifest-scale even at the
    // 100k-file extrapolation where the join form was ~5·10⁹ pair tests.
    // NULL spans never joined under the old form (NULL comparisons are
    // false); the sweep drops them identically.
    val ev = spans.filter(col("lo").isNotNull && col("hi").isNotNull)
      .select(col("lo").as("x"), lit(0).as("t"))
      .unionAll(spans.filter(col("lo").isNotNull && col("hi").isNotNull)
        .select(col("hi").as("x"), lit(1).as("t")))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("x"), col("t"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val overlaps = ev
      .withColumn("open",
        coalesce(sum(when(col("t") === 0, 1L).otherwise(-1L)).over(w), lit(0L)))
      .filter(col("t") === 0)
      .agg(coalesce(sum(col("open")), lit(0L)).as("overlap_pairs"))
    spans.crossJoin(broadcast(g))
      .select(col("n_files"),
        when(col("ghi") > col("glo"),
          (col("hi") - col("lo")) / (col("ghi") - col("glo")))
          .otherwise(lit(0.0)).as("frac"))
      .groupBy("n_files")
      .agg(round(avg(col("frac")), 6).as("span_frac_avg"),
        round(max(col("frac")), 6).as("span_frac_max"))
      .crossJoin(broadcast(overlaps))
  }

  /** Targeted row deletion (the GDPR/right-to-be-forgotten shape):
    * rewrite ONLY the files whose zone-map [min, max] span can contain a
    * tombstoned id, leave every other file physically untouched. At 100 TB
    * a delete of a few thousand ids touches a handful of files on an
    * id-clustered layout — the full-table rewrite (or full anti-join
    * rewrite) this replaces is ~six orders of magnitude more IO.
    *
    * Mechanics: per-file id spans from [[zoneMap]] (one manifest row per
    * file) are range-joined to the tombstone set to pick affected files
    * (zone maps have no false negatives, so unaffected files provably hold
    * no tombstoned row); the affected files alone are read, anti-joined
    * against the broadcast tombstones, and swapped in via the
    * [[LayoutManifest]] commit protocol — new files are fully written and
    * renamed in BEFORE the one-rename manifest commit makes them live, and
    * the superseded files are deleted only AFTER it, so no crash point
    * loses a surviving row and a concurrent manifest reader sees either
    * the old or the new complete file set, never a mix.
    * Returns (filesTotal, filesRewritten, rowsDeleted).
    */
  def deleteRows(spark: SparkSession, path: String, idCol: String,
                 tombstones: DataFrame,
                 knownManifest: Option[DataFrame] = None): (Int, Int, Long) = {
    val tsCol = tombstones.columns.head
    // committed manifest first (no scan); else without a maintained zone
    // map it is rebuilt here — one column-pruned scan of the whole table,
    // the dominant cost of a small delete as the table grows. Production
    // passes the incrementally maintained manifest (see
    // Streaming.startZoneMapMaintenance) or commits one at write time
    // (commitLayout) and the delete cost is then bounded by the affected
    // files alone.
    val snapshot = LayoutManifest.current(spark, path)
      .getOrElse(LayoutManifest.bootstrap(spark, path, Seq(idCol)))
    val manifest = knownManifest.getOrElse {
      if (snapshot.files.exists(_.stats.contains(idCol)))
        LayoutManifest.statsDf(spark, path, snapshot, Seq(idCol))
      else zoneMap(spark, path, Seq(idCol))
    }
    val mn = col(s"${idCol}_min").cast("long")
    val mx = col(s"${idCol}_max").cast("long")
    val affected = manifest
      .join(tombstones,
        tombstones(tsCol).cast("long").between(mn, mx) ||
          mn.isNull || mx.isNull, // unknown span: must be treated as affected
        "left_semi")
      .select("file").collect().map(_.getString(0))
    rewriteWithout(spark, path, snapshot, affected, idCol, tombstones)
  }

  /** Targeted deletion on a layout CLUSTERED BY A DIFFERENT COLUMN than
    * the delete key — the ANN-index forget shape
    * ([[graft.operators.AnnSearch.deleteVectors]]): the index is clustered
    * by LSH `bucket`, tombstones are vector IDS, and on such a layout the
    * id spans per file are near-total, so [[deleteRows]]'s range prune
    * would rewrite everything. The caller resolves the tombstones'
    * CLUSTER values (`clusterValues` — a pure function of the vector, or
    * a lookup against the id-clustered primary store) and files are
    * pruned by MEMBERSHIP of those values in each file's span; the
    * rewrite then anti-joins on the true id column as usual.
    */
  def deleteRowsIn(spark: SparkSession, path: String, clusterCol: String,
                   clusterValues: Seq[Long], idCol: String,
                   tombstones: DataFrame,
                   knownManifest: Option[DataFrame] = None): (Int, Int, Long) = {
    val snapshot = LayoutManifest.current(spark, path)
      .getOrElse(LayoutManifest.bootstrap(spark, path, Seq(clusterCol)))
    val manifest = knownManifest.getOrElse {
      if (snapshot.files.exists(_.stats.contains(clusterCol)))
        LayoutManifest.statsDf(spark, path, snapshot, Seq(clusterCol))
      else zoneMap(spark, path, Seq(clusterCol))
    }
    val affected = filesSpanning(manifest, clusterCol, clusterValues)
    rewriteWithout(spark, path, snapshot, affected, idCol, tombstones)
  }

  /** Shared delete mechanics under the [[LayoutManifest]] commit protocol.
    * Phases, in crash-safety order:
    *  1. read ONLY `affected`, anti-join the broadcast tombstones on
    *     `idCol`, write the survivors to a dot-prefixed temp dir, rename
    *     them into the layout dir under fresh unique names. A crash here
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
      affected: Array[String], idCol: String,
      tombstones: DataFrame, crashPoint: Int = 0): (Int, Int, Long) = {
    import org.apache.hadoop.fs.Path
    val tsCol = tombstones.columns.head
    val total = snapshot.files.size
    if (affected.isEmpty) return (total, 0, 0L)
    val affectedNames = affected
      .map(f => new Path(new java.net.URI(f).getPath).getName).toSet

    // the manifest already carries exact per-file row counts — summing the
    // affected entries replaces what used to be a full COUNT read of the
    // affected files (one whole scan job per delete, round-9 optimization)
    val nBefore = snapshot.files.filter(e => affectedNames(e.name)).map(_.rows).sum
    val before = Parquet.read(spark, affected.toIndexedSeq: _*)
    val kept = before.join(
      broadcast(tombstones.select(tombstones(tsCol).cast("long").as(idCol)).distinct()),
      Seq(idCol), "left_anti")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val tag = s"rw${java.util.UUID.randomUUID().toString.take(8)}"
    val tmp = s"$path/.rewrite_$tag"
    // keep the rewrite at the affected-file granularity (no global shuffle)
    kept.coalesce(math.max(1, affected.length)).write.parquet(tmp)
    // phase 1: rename fully-written files IN under fresh names (invisible
    // to manifest readers until the commit below)
    val newNames = fs.listStatus(new Path(tmp))
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map { s =>
        val nn = s"${tag}_${s.getPath.getName}"
        require(fs.rename(s.getPath, new Path(path, nn)), s"rename-in failed: $nn")
        nn
      }.toSeq
    fs.delete(new Path(tmp), true)
    if (crashPoint == 1) return (total, affected.length, -1L)

    // phase 2: stats for the new files, then the atomic manifest commit
    val statCols = (snapshot.statCols :+ idCol).distinct
    val newEntries = LayoutManifest.entriesFor(spark,
      newNames.map(n => LayoutManifest.dataPath(path, n)), statCols)
    val nAfter = newEntries.map(_.rows).sum
    LayoutManifest.commit(spark, path, LayoutManifest.Manifest(
      snapshot.version + 1, snapshot.props,
      snapshot.files.filterNot(e => affectedNames(e.name)) ++ newEntries))
    if (crashPoint == 2) return (total, affected.length, nBefore - nAfter)

    // phase 3: GC the superseded files + old manifests
    affected.foreach(f => fs.delete(new Path(new java.net.URI(f).getPath), false))
    LayoutManifest.gc(spark, path)
    (total, affected.length, nBefore - nAfter)
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
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(inPath), spark.sparkContext.hadoopConfiguration)
    // RECURSIVE listing: a streaming-maintained index is hive-partitioned
    // (bucket=X/batch_id=Y/part-*.parquet), and a top-level listStatus
    // would see only directories — sizing the output from 0 bytes and
    // reporting filesBefore = 0
    val parts = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(inPath), true)
      val buf = scala.collection.mutable.ArrayBuffer
        .empty[org.apache.hadoop.fs.LocatedFileStatus]
      while (it.hasNext) {
        val s = it.next()
        if (s.isFile && s.getPath.getName.endsWith(".parquet")) buf += s
      }
      buf.toArray
    }
    val nOut = math.max(1, math.ceil(parts.map(_.getLen).sum.toDouble / targetBytes).toInt)
    val df = Parquet.read(spark, inPath)
    val packed = clusterCol match {
      case Some(c) => df.repartitionByRange(nOut, col(c)).sortWithinPartitions(c)
      case None    => df.repartition(nOut)
    }
    packed.write.mode("overwrite").parquet(outPath)
    val after = fs.listStatus(new org.apache.hadoop.fs.Path(outPath))
      .count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    (parts.length, after)
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
    * gc-reclaimable orphans. Returns the appended row count (0 on a replay
    * skip).
    */
  def appendCommitted(df: DataFrame, path: String,
      batchId: Option[Long] = None): Long = {
    import org.apache.hadoop.fs.Path
    val spark = df.sparkSession
    def snapshotNow(): LayoutManifest.Manifest =
      LayoutManifest.current(spark, path).getOrElse(
        throw new IllegalStateException(
          s"appendCommitted needs a committed layout at $path — run commitLayout first"))
    def alreadySeen(s: LayoutManifest.Manifest): Boolean =
      batchId.exists(b => s.props.get("last_batch_id").exists(_.toLong >= b))
    var snapshot = snapshotNow()
    if (alreadySeen(snapshot)) return 0L
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val tag = s"ap${java.util.UUID.randomUUID().toString.take(8)}"
    val tmp = s"$path/.append_$tag"
    df.write.parquet(tmp)
    val newNames = fs.listStatus(new Path(tmp))
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map { s =>
        val nn = s"${tag}_${s.getPath.getName}"
        require(fs.rename(s.getPath, new Path(path, nn)), s"rename-in failed: $nn")
        nn
      }.toSeq
    fs.delete(new Path(tmp), true)
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
          snapshot = snapshotNow()
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
    import org.apache.hadoop.fs.Path
    val snapshot = LayoutManifest.current(spark, path)
      .getOrElse(LayoutManifest.bootstrap(spark, path, statCols))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val tag = s"rb${java.util.UUID.randomUUID().toString.take(8)}"
    val tmp = s"$path/.rebuild_$tag"
    newData.write.parquet(tmp)
    val newNames = fs.listStatus(new Path(tmp))
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map { s =>
        val nn = s"${tag}_${s.getPath.getName}"
        require(fs.rename(s.getPath, new Path(path, nn)), s"rename-in failed: $nn")
        nn
      }.toSeq
    fs.delete(new Path(tmp), true)
    if (crashPoint == 1) return (snapshot.files.size, newNames.size)

    val newEntries = LayoutManifest.entriesFor(spark,
      newNames.map(n => LayoutManifest.dataPath(path, n)), statCols)
    LayoutManifest.commit(spark, path, LayoutManifest.Manifest(
      snapshot.version + 1, snapshot.props ++ props, newEntries))
    if (crashPoint == 2) return (snapshot.files.size, newEntries.size)

    snapshot.fileNames.diff(newNames.toSet).foreach(n =>
      fs.delete(new Path(path, n), false))
    LayoutManifest.gc(spark, path)
    (snapshot.files.size, newEntries.size)
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
    val snapshot = LayoutManifest.current(spark, path).getOrElse(
      LayoutManifest.bootstrap(spark, path, clusterCol.toSeq))
    require(snapshot.files.nonEmpty, s"compactInPlace over an empty layout: $path")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val liveBytes = snapshot.files.map(e => fs.getFileStatus(
      new org.apache.hadoop.fs.Path(path, e.name)).getLen).sum
    val nOut = math.max(1, math.ceil(liveBytes.toDouble / targetBytes).toInt)
    val df = Parquet.read(spark,
      snapshot.files.map(e => LayoutManifest.dataPath(path, e.name)): _*)
    val packed = clusterCol match {
      case Some(c) => df.repartitionByRange(nOut, col(c)).sortWithinPartitions(c)
      case None    => df.repartition(nOut)
    }
    val statCols = (snapshot.statCols ++ clusterCol.toSeq).distinct
    replaceLayout(spark, path, packed, statCols, snapshot.props)
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
    val m = LayoutManifest.current(spark, path).getOrElse(
      throw new IllegalStateException(
        s"bloom sidecar needs a committed layout at $path — run commitLayout first"))
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
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(p))) None
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
    val m = LayoutManifest.current(spark, path).getOrElse(
      throw new IllegalStateException(s"no committed manifest at $path"))
    val side = readSidecarDf(spark, path, m.version, colName).getOrElse(
      throw new IllegalStateException(
        s"no bloom sidecar for v${m.version}/$colName at $path — run " +
          "writeBloomSidecar after the last commit"))
    val fps = values.distinct.map(graft.functions.Bloom.mix64).toArray
    val hit = org.apache.spark.sql.graft.Bridge.column(
      graft.functions.BloomAnyMightContainExpr(
        org.apache.spark.sql.graft.Bridge.expression(col("words")),
        org.apache.spark.sql.graft.Bridge.expression(col("k")), fps))
    side.filter(hit).select("file").collect()
      .map(r => LayoutManifest.dataPath(path, r.getString(0)))
  }

  /** Targeted deletion by BARE IDS on a layout where id spans cannot prune
    * (clustered by another column): bloom-sidecar membership names the
    * candidate files (≈ |hit files| + fpp·F), only those are rewritten, and
    * the sidecar is maintained INCREMENTALLY for the new version — one
    * bloom pass over just the rewritten files, untouched files' rows carry
    * over. Returns (filesTotal, filesRewritten, rowsDeleted).
    */
  def deleteRowsBloom(spark: SparkSession, path: String, idCol: String,
      tombstones: DataFrame, fpp: Double = 0.01): (Int, Int, Long) = {
    val snapshot = LayoutManifest.current(spark, path).getOrElse(
      throw new IllegalStateException(s"no committed manifest at $path"))
    val tsCol = tombstones.columns.head
    val ids = tombstones.select(tombstones(tsCol).cast("long"))
      .distinct().collect().map(_.getLong(0)).toSeq
    val affected = bloomPrunedFiles(spark, path, idCol, ids)
    val result = rewriteWithout(spark, path, snapshot, affected, idCol, tombstones)
    if (affected.nonEmpty) {
      // maintain the sidecar at the NEW version: re-bloom only the
      // rewritten files; every untouched file's row carries over WITHOUT
      // its words ever visiting the driver (round-9: only file NAMES are
      // compared driver-side — manifest-scale — and the kept rows flow
      // parquet→parquet while the fresh files' blooms come from one
      // banded aggregation, each file sized to its own row count)
      val m2 = LayoutManifest.current(spark, path).get
      val old = readSidecarDf(spark, path, snapshot.version, idCol).get
      val affectedNames = affected.map(f => new org.apache.hadoop.fs.Path(
        new java.net.URI(f).getPath).getName).toSet
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
    * decayed past the thresholds — the decision loop that previously lived
    * only in a docstring. Thresholds come from the manifestStats regimes: a
    * freshly range-clustered layout reads span fractions ~1/F and ~zero
    * overlap; a churned/appended one drifts toward fractions ~1 and ~C(F,2)
    * overlaps, where every pruned read/delete degrades toward a full scan.
    * Defaults (avg span > 0.5 of the global range, or > 25% of file pairs
    * overlapping) trigger when pruning has lost roughly half its power —
    * early enough that the rewrite is amortized by the reads it saves, late
    * enough that steady appends don't thrash rewrites. A maintenance
    * schedule calls this after every append wave; the no-op path costs one
    * manifest-scale aggregate, no scan, when the layout carries a committed
    * manifest with `statCol` stats.
    */
  def maintainCompaction(spark: SparkSession, path: String, statCol: String,
      targetBytes: Long, spanFracAvgMax: Double = 0.5,
      overlapFracMax: Double = 0.25): CompactionDecision = {
    val committed = LayoutManifest.current(spark, path)
    val statsSrc = committed match {
      case Some(m) if m.files.exists(_.stats.contains(statCol)) =>
        LayoutManifest.statsDf(spark, path, m, Seq(statCol))
      case _ => zoneMap(spark, path, Seq(statCol))
    }
    val s = manifestStats(statsSrc, statCol).head()
    val nFiles = s.getLong(0)
    val pairs = nFiles * (nFiles - 1) / 2
    val overlapFrac =
      if (pairs == 0) 0.0 else s.getLong(3).toDouble / pairs
    val decayed = s.getDouble(1) > spanFracAvgMax || overlapFrac > overlapFracMax
    val filesAfter =
      if (decayed)
        compactInPlace(spark, path, targetBytes, Some(statCol))._2
      else nFiles.toInt
    CompactionDecision(decayed, nFiles, s.getDouble(1), s.getDouble(2),
      s.getLong(3), overlapFrac, filesAfter)
  }
}
