package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Versioned manifest commit protocol for the layout tier — the crash-safe
  * replacement for delete-then-rename swaps.
  *
  * Why it exists: [[Layout.deleteRows]]/[[Layout.compact]] rewrite a subset
  * of a directory's parquet files. A swap that deletes the old files before
  * renaming the new ones in has a window where surviving rows exist only in
  * a temp dir readers ignore — a crash there LOSES data, and a concurrent
  * reader silently misses rows. (The reference has the same exposure at its
  * scale: the pickle store is rewritten wholesale with no isolation,
  * /root/reference/minivectordb/sharded_vector_database.py:134-154.) The fix
  * is the classic table-format move (Iceberg/Delta): readers resolve a
  * MANIFEST — a single small file listing exactly the live data files — and
  * a rewrite becomes (1) write new files under fresh names, (2) commit a new
  * manifest version in ONE atomic rename, (3) garbage-collect unreferenced
  * files. Every crash point leaves a complete, consistent table:
  *   - before the commit: the old manifest still lists only old files (all
  *     intact — nothing was deleted); the new files are invisible orphans.
  *   - after the commit: the new manifest lists the new files (all fully
  *     written before the commit); the old files are orphans.
  * Orphans are reclaimed by [[gc]], which is pure space hygiene — never
  * correctness.
  *
  * Contents: one entry per live data file (name, row count, per-column
  * min/max zone stats) plus a string property map. The zone stats make the
  * manifest the layout's only zone map: [[Layout.prunedRead]]/
  * [[Layout.prunedReadIn]], the deletes and the compaction gate all decide
  * over the driver-side entries, so a probe read over a committed layout
  * runs no job to discover file spans. The props carry index identity
  * (LSH plane count/hash, IVF centroid hash) so a delete/search against a layout
  * written with DIFFERENT dials fails loudly instead of silently missing
  * rows ([[Layout.ClusteredIndex]] checks them).
  *
  * Reads: [[readData]]/[[readDataAt]] open exactly one version's files as
  * a Parquet relation over a [[ManifestFileIndex]] (no listing, no
  * inference job). The index drops, while Spark plans the scan, each file
  * whose `id` bloom proves it holds no looked-up id, and keeps every file
  * it knows nothing about.
  *
  * Format: a tiny TSV (dependency-free, human-inspectable), one file per
  * version under `path/_graft/manifest-<version>.tsv`. The commit is the
  * rename of a fully-written temp file to that versioned name — atomic on
  * HDFS/POSIX. Readers take the HIGHEST version present, so a half-written
  * temp file is never visible and two committers cannot both win one
  * version (the loser's rename targets an existing name and fails; it
  * retries at version+1 on top of the winner — single-maintainer is the
  * intended deployment, as with any table format's commit service. On
  * object stores without atomic rename, the same protocol runs against a
  * CAS endpoint; the format is unchanged).
  *
  * Scale: the manifest is one row per FILE (a 100 TB layout at 1 GB files
  * is ~100k lines, single-digit MB) — driver-readable by design, exactly
  * like the file listing every planner already holds.
  */
object LayoutManifest {

  val SubDir = "_graft"
  private val Magic = "graft-manifest"
  private val FormatVersion = "1"

  /** One live data file: bare name (unique within the layout dir), row
    * count, and per-column (min, max) long spans. A column absent from
    * `stats` means "span unknown" — prunes must keep the file (no false
    * negatives, same contract as any min/max skip index).
    */
  final case class FileEntry(name: String, rows: Long,
      stats: Map[String, (Long, Long)])

  final case class Manifest(version: Long, props: Map[String, String],
      files: Seq[FileEntry]) {
    def fileNames: Set[String] = files.map(_.name).toSet
    def totalRows: Long = files.map(_.rows).sum
    def statCols: Seq[String] =
      files.flatMap(_.stats.keys).distinct.sorted
  }

  private[sources] def fs(spark: SparkSession, path: String): FileSystem =
    FileSystem.get(new java.net.URI(path),
      spark.sparkContext.hadoopConfiguration)

  private def manifestDir(path: String): Path = new Path(path, SubDir)

  private[graft] def manifestPath(path: String, version: Long): Path =
    new Path(manifestDir(path), s"manifest-$version.tsv")

  private def versionOf(name: String): Option[Long] =
    if (name.startsWith("manifest-") && name.endsWith(".tsv"))
      scala.util.Try(
        name.stripPrefix("manifest-").stripSuffix(".tsv").toLong).toOption
    else None

  /** The highest committed manifest version at `path`, if any. */
  def current(spark: SparkSession, path: String): Option[Manifest] = {
    val f = fs(spark, path)
    val dir = manifestDir(path)
    if (!f.exists(dir)) return None
    val versions = f.listStatus(dir).toSeq
      .filter(_.isFile).flatMap(s => versionOf(s.getPath.getName))
    if (versions.isEmpty) None
    else Some(read(f, manifestPath(path, versions.max), versions.max))
  }

  /** [[current]] for operations that need a committed layout: throws when
    * `path` has none (it was not written through a manifest commit).
    */
  def committed(spark: SparkSession, path: String): Manifest =
    current(spark, path).getOrElse(throw new IllegalStateException(
      s"no committed manifest at $path — write it with commitLayout or a clusteredWrite first"))

  private def read(f: FileSystem, p: Path, version: Long): Manifest = {
    val in = f.open(p)
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val lines = text.split('\n').filter(_.nonEmpty)
    require(lines.nonEmpty && lines.head.startsWith(s"$Magic\t"),
      s"not a graft manifest: $p")
    val props = scala.collection.mutable.Map.empty[String, String]
    val rowsByFile = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val stats = scala.collection.mutable
      .Map.empty[String, Map[String, (Long, Long)]].withDefaultValue(Map.empty)
    lines.tail.foreach { ln =>
      val t = ln.split('\t')
      t(0) match {
        case "P" => props(t(1)) = if (t.length > 2) t(2) else ""
        case "F" => rowsByFile(t(1)) = t(2).toLong
        case "S" => stats(t(1)) = stats(t(1)) + (t(2) -> (t(3).toLong, t(4).toLong))
        case other => throw new IllegalStateException(
          s"unknown manifest record '$other' in $p")
      }
    }
    Manifest(version,
      props.toMap,
      rowsByFile.toSeq.map { case (n, r) => FileEntry(n, r, stats(n)) })
  }

  private def serialize(m: Manifest): String = {
    val sb = new StringBuilder
    sb.append(Magic).append('\t').append(FormatVersion)
      .append('\t').append(m.version).append('\n')
    m.props.toSeq.sortBy(_._1).foreach { case (k, v) =>
      require(!k.contains('\t') && !v.contains('\t') && !v.contains('\n'),
        s"manifest property may not contain tab/newline: $k")
      sb.append("P\t").append(k).append('\t').append(v).append('\n')
    }
    m.files.foreach { e =>
      require(!e.name.contains('\t'), s"file name may not contain tab: ${e.name}")
      sb.append("F\t").append(e.name).append('\t').append(e.rows).append('\n')
      e.stats.toSeq.sortBy(_._1).foreach { case (c, (lo, hi)) =>
        sb.append("S\t").append(e.name).append('\t').append(c)
          .append('\t').append(lo).append('\t').append(hi).append('\n')
      }
    }
    sb.toString
  }

  /** A concurrent committer won the version this commit targeted. The
    * caller must RE-READ the current manifest, re-derive its change, and
    * retry — silently re-targeting a higher version would publish content
    * derived from a stale snapshot and DROP the winner's files (silent data
    * loss, strictly worse than failing). [[graft.sources.Layout
    * .appendCommitted]] implements exactly that retry loop; rewrite/replace
    * operations surface the conflict to their caller.
    */
  final class CommitConflictException(path: String, version: Long)
    extends RuntimeException(
      s"manifest version $version at $path was committed concurrently — " +
        "re-read the current manifest and retry the operation " +
        "(optimistic concurrency; do not re-target a higher version with " +
        "stale content)")

  /** Atomically commit `m` AT EXACTLY `m.version`: write a temp file,
    * close it, rename to `manifest-<version>.tsv`. Optimistic concurrency —
    * the versioned name is the compare-and-swap: if the target exists (a
    * concurrent committer won), this throws [[CommitConflictException]] and
    * the CALLER re-reads + re-derives; the committed chain is therefore a
    * linear history where every version's content was derived from its
    * predecessor. Returns the committed version. (On object stores without
    * atomic rename the same protocol runs against a CAS endpoint.)
    */
  def commit(spark: SparkSession, path: String, m: Manifest): Long = {
    val f = fs(spark, path)
    val dir = manifestDir(path)
    f.mkdirs(dir)
    val target = manifestPath(path, m.version)
    val tmp = new Path(dir, s".tmp-${java.util.UUID.randomUUID().toString.take(12)}")
    val out = f.create(tmp, true)
    try out.write(serialize(m).getBytes("UTF-8"))
    finally out.close()
    // The exists+rename pair is the CAS. HDFS rename fails (does not
    // replace) when the target exists, so the pair is atomic cross-JVM
    // there; POSIX rename REPLACES, so same-JVM committers (local mode,
    // multiple streaming queries in one driver — the shapes the specs
    // race) are additionally serialized by a per-path JVM lock. Object
    // stores swap this for a real CAS endpoint; the protocol is unchanged.
    val won = commitLock(path).synchronized {
      !f.exists(target) && f.rename(tmp, target)
    }
    if (!won) {
      f.delete(tmp, false)
      throw new CommitConflictException(path, m.version)
    }
    m.version
  }

  private val commitLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def commitLock(path: String): Object =
    commitLocks.computeIfAbsent(path, _ => new Object)

  /** Build a manifest's file entries from the directory's CURRENT parquet
    * content — the bootstrap for layouts written before the manifest
    * protocol (or by plain `.write.parquet`). One column-pruned aggregate
    * computes rows + min/max per file for every `statCols` column.
    */
  def bootstrap(spark: SparkSession, path: String, statCols: Seq[String],
      props: Map[String, String] = Map.empty): Manifest = {
    val entries = entriesFor(spark, Seq(path), statCols)
    Manifest(0L, props, entries)
  }

  /** File entries (name, rows, stats) for the parquet files under `paths` —
    * the stats pass shared by [[bootstrap]] and the rewrite commit (which
    * runs it over just the NEW files).
    *
    * Fast path (round-9 optimization): parquet FOOTERS already carry exact
    * row counts and per-chunk min/max for plain integer columns, so when
    * every requested stat column is an unannotated INT32/INT64 with
    * statistics present in every chunk, the entries come from a
    * metadata-only footer read — no scan job is scheduled at all. This is
    * the Iceberg move (manifests from writer metadata): at 100 TB it turns
    * every commit's stats pass from a full-table read into file-count
    * work. Any deviation — partitioned directory layout, non-integer or
    * logically-annotated types (timestamps!), a chunk without statistics —
    * falls back to the exact scan aggregation, so the produced spans are
    * identical either way (footer int stats are exact, never truncated).
    */
  def entriesFor(spark: SparkSession, paths: Seq[String],
      statCols: Seq[String]): Seq[FileEntry] = {
    if (paths.isEmpty) return Seq.empty
    footerEntries(spark, paths, statCols).getOrElse {
      val df = Parquet.read(spark, paths: _*)
      val present = statCols.filter(df.columns.contains)
      val aggs = count(lit(1)).as("__rows") +:
        present.flatMap(c => Seq(
          min(col(c)).cast("long").as(s"${c}__min"),
          max(col(c)).cast("long").as(s"${c}__max")))
      df.select(col("_metadata.file_path").as("__file") +: present.map(col): _*)
        .groupBy("__file")
        .agg(aggs.head, aggs.tail: _*)
        .collect().toSeq
        .map { r =>
          val name = new Path(new java.net.URI(r.getString(0)).getPath).getName
          val stats = present.flatMap { c =>
            val iLo = r.fieldIndex(s"${c}__min"); val iHi = r.fieldIndex(s"${c}__max")
            if (r.isNullAt(iLo) || r.isNullAt(iHi)) None
            else Some(c -> (r.getLong(iLo), r.getLong(iHi)))
          }.toMap
          FileEntry(name, r.getAs[Long]("__rows"), stats)
        }.sortBy(_.name)
    }
  }

  /** Footer-only [[entriesFor]] — Some(entries) when the fast path is
    * valid for every file and every requested column, None to fall back.
    */
  private[sources] def footerEntries(spark: SparkSession, paths: Seq[String],
      statCols: Seq[String]): Option[Seq[FileEntry]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val files = Parquet.flatParquetFiles(conf, paths).getOrElse(return None)
    if (files.isEmpty) return None
    // footer reads are metadata-scale (KBs per file) but latency-bound;
    // a driver-side pool covers the 100k-file case in seconds — the same
    // cost class as the file listing the planner already does
    val entries = new java.util.concurrent.ConcurrentHashMap[String, FileEntry]()
    val failed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(32, math.max(1, files.size)))
    try {
      val tasks = files.map { st =>
        pool.submit(new Runnable {
          override def run(): Unit = {
            if (failed.get()) return
            // any footer-read failure (corrupt footer, unexpected stats
            // encoding, IO error) means "fast path unavailable", not "fail
            // the commit": an exception here used to propagate out of
            // tasks.foreach(_.get()) and abort bootstrap/commit
            // where the exact scan fallback handles the file fine
            val e = try footerEntry(conf, st, statCols)
                    catch { case NonFatal(_) => None }
            e match {
              case Some(fe) => entries.put(fe.name, fe)
              case None     => failed.set(true)
            }
          }
        })
      }
      tasks.foreach(_.get())
    } finally pool.shutdown()
    if (failed.get()) None
    else Some(entries.values.asScala.toSeq
      .filter(_.rows > 0) // the scan path groups by file: 0-row files vanish
      .sortBy(_.name))
  }

  private def footerEntry(conf: org.apache.hadoop.conf.Configuration,
      st: FileStatus, statCols: Seq[String]): Option[FileEntry] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
    try {
      FileFacts.remember(st, reader) // the read's schema footer and id bloom
      val footer = reader.getFooter
      val schema = footer.getFileMetaData.getSchema
      val blocks = footer.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      val stats = scala.collection.mutable.Map.empty[String, (Long, Long)]
      statCols.distinct.foreach { c =>
        if (schema.containsField(c)) {
          val t = schema.getType(Seq(c): _*)
          if (!t.isPrimitive) return None
          val pt = t.asPrimitiveType()
          val ok = (pt.getPrimitiveTypeName == PrimitiveTypeName.INT32 ||
            pt.getPrimitiveTypeName == PrimitiveTypeName.INT64) &&
            (pt.getLogicalTypeAnnotation == null || (pt.getLogicalTypeAnnotation match {
              case i: org.apache.parquet.schema.LogicalTypeAnnotation.IntLogicalTypeAnnotation =>
                i.isSigned // unsigned ints reinterpret; timestamps/decimals never qualify
              case _ => false
            }))
          if (!ok) return None
          var lo = Long.MaxValue; var hi = Long.MinValue; var any = false
          blocks.foreach { b =>
            val cc = b.getColumns.asScala.find(_.getPath.toDotString == c)
              .getOrElse(return None)
            val st = cc.getStatistics
            if (st == null || !st.isNumNullsSet) return None
            if (st.hasNonNullValue) {
              val (l, h) = st.genericGetMin match {
                case i: java.lang.Integer =>
                  (i.longValue(), st.genericGetMax.asInstanceOf[java.lang.Integer].longValue())
                case l: java.lang.Long =>
                  (l.longValue(), st.genericGetMax.asInstanceOf[java.lang.Long].longValue())
                case _ => return None
              }
              if (l < lo) lo = l
              if (h > hi) hi = h
              any = true
            } else if (st.getNumNulls != b.getRowCount) return None // stats unreliable
          }
          if (any) stats(c) = (lo, hi)
          // all-null column: scan path yields NULL min/max -> no stats entry
        }
        // column absent from the (flat) schema: scan path skips it too
      }
      Some(FileEntry(st.getPath.getName, rows, stats.toMap))
    } finally reader.close()
  }

  /** Absolute path of a manifest-listed data file. */
  def dataPath(path: String, name: String): String =
    new Path(path, name).toString

  /** Read exactly the files the current manifest lists (the isolated-reader
    * contract: a rewrite in progress — new files renamed in but not yet
    * committed — is invisible). Falls back to a plain directory read when no
    * manifest exists (legacy layout).
    *
    * With a manifest, the DataFrame is a Parquet relation over a
    * [[ManifestFileIndex]] of the listed files: no directory listing, no
    * schema-inference job, and the schema from one footer the commit path
    * usually cached already. When Spark plans the scan, the index keeps
    * only the files whose Parquet bloom on `id` can hold an `=` or `IN`
    * value of the scan's filters (the blooms [[Layout]]'s writes store,
    * cached on the driver at commit). A file with no known bloom is always
    * kept, so a lookup of an absent id over bloomed files runs no task.
    */
  def readData(spark: SparkSession, path: String): DataFrame =
    current(spark, path) match {
      case Some(m) if m.files.nonEmpty => relation(spark, path, m)
      case Some(_) =>
        throw new IllegalStateException(s"manifest at $path lists no files")
      case None => Parquet.read(spark, path)
    }

  /** The [[readData]] relation over the files of manifest `m`. */
  private def relation(spark: SparkSession, path: String, m: Manifest): DataFrame = {
    val f = fs(spark, path)
    val files = m.files.map(e => f.getFileStatus(new Path(path, e.name)))
    Bridge.parquetRelation(spark, ManifestFileIndex(path, m.version, files),
      FileFacts.schema(spark, files, Bridge.hadoopConf(spark)))
  }

  /** A SPECIFIC committed version, if still retained. */
  def at(spark: SparkSession, path: String, version: Long): Option[Manifest] = {
    val f = fs(spark, path)
    val p = manifestPath(path, version)
    if (f.exists(p)) Some(read(f, p, version)) else None
  }

  /** Snapshot (time-travel) read: the table exactly as committed at
    * `version` — the reproducible-training-set primitive (pin the manifest
    * version in the experiment record and every rerun reads identical
    * bytes, whatever deletes/compactions/rebuilds happened since). Valid
    * for versions [[gc]] retains: gc keeps the newest `keepManifests`
    * versions AND every data file any retained version references, so the
    * retention dial is exactly the time-travel horizon (Iceberg/Delta's
    * expire-snapshots semantics). Throws if the version was expired. The
    * relation and its file pruning are [[readData]]'s.
    */
  def readDataAt(spark: SparkSession, path: String, version: Long): DataFrame =
    at(spark, path, version) match {
      case Some(m) if m.files.nonEmpty => relation(spark, path, m)
      case Some(_) =>
        throw new IllegalStateException(
          s"manifest v$version at $path lists no files")
      case None => throw new IllegalStateException(
        s"manifest v$version at $path does not exist (never committed, or " +
          "expired by gc — raise keepManifests to widen the time-travel horizon)")
    }

  /** Row-level diff between two RETAINED versions, reading ONLY the files
    * the versions do not share — the snapshot-audit operator ("what changed
    * between the training set I shipped and today's?") at manifest cost:
    * rows in shared files are identical by construction (files are
    * immutable once committed) and are never read, so an append-only
    * history diffs by reading exactly the appended files, and a targeted
    * delete by reading the rewritten handful. Rows that merely MOVED files
    * (rewrite survivors) appear on both exclusive sides and cancel in the
    * `idCol` anti-joins. Returns `(change, <row columns>)` with change ∈
    * {'added', 'removed'}; a row whose CONTENT changed under a stable id
    * surfaces as removed+added when content participates in `idCol`
    * (callers diff on a content hash column for that reading).
    */
  def diffVersions(spark: SparkSession, path: String, vOld: Long, vNew: Long,
      idCol: String): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast => _, _}
    val a = at(spark, path, vOld).getOrElse(throw new IllegalStateException(
      s"manifest v$vOld at $path does not exist (expired or never committed)"))
    val b = at(spark, path, vNew).getOrElse(throw new IllegalStateException(
      s"manifest v$vNew at $path does not exist (expired or never committed)"))
    val onlyOld = a.fileNames.diff(b.fileNames).toSeq.sorted
    val onlyNew = b.fileNames.diff(a.fileNames).toSeq.sorted
    def readOr(names: Seq[String], schemaFrom: Seq[String]): DataFrame =
      if (names.nonEmpty)
        Parquet.read(spark, names.map(dataPath(path, _)): _*)
      else {
        val any = schemaFrom.headOption.getOrElse(throw new IllegalStateException(
          s"diffVersions at $path: both versions list no files"))
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          Parquet.schema(spark, dataPath(path, any)))
      }
    val all = (onlyOld ++ onlyNew) ++ b.fileNames.toSeq
    val oldRows = readOr(onlyOld, all)
    val newRows = readOr(onlyNew, all)
    newRows.join(oldRows.select(idCol), Seq(idCol), "left_anti")
      .select(lit("added").as("change") +: newRows.columns.map(col): _*)
      .unionByName(
        oldRows.join(newRows.select(idCol), Seq(idCol), "left_anti")
          .select(lit("removed").as("change") +: oldRows.columns.map(col): _*))
  }

  /** Garbage collection with a time-travel retention horizon: keep the
    * newest `keepManifests` versions and EVERY data file any retained
    * version references (so [[readDataAt]] of a retained version stays
    * valid — expire-snapshots semantics); delete everything else — orphans
    * from crashed rewrites and files only expired versions reference. Pure
    * space hygiene: a reader resolving a retained manifest is correct
    * whether or not gc has run. MUST NOT run concurrently with a writer
    * (an uncommitted rewrite's fresh files look like orphans) — the
    * single-maintainer contract every table format's expire-snapshots has;
    * production adds a grace period on file age. Returns
    * (orphan data files deleted, expired manifests deleted); a no-op when
    * no manifest exists.
    */
  def gc(spark: SparkSession, path: String, keepManifests: Int = 2): (Int, Int) = {
    val f = fs(spark, path)
    val dir = manifestDir(path)
    if (!f.exists(dir)) return (0, 0)
    val versions = f.listStatus(dir).toSeq.filter(_.isFile)
      .flatMap(s => versionOf(s.getPath.getName).map(_ -> s.getPath))
      .sortBy(-_._1)
    if (versions.isEmpty) return (0, 0)
    val (retained, stale) = versions.splitAt(math.max(1, keepManifests))
    val live = retained.flatMap { case (v, p) => read(f, p, v).fileNames }.toSet
    val dataDeleted = f.listStatus(new Path(path)).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet") &&
        !live.contains(s.getPath.getName))
      .map { s => f.delete(s.getPath, false); s }
      .size
    stale.foreach { case (_, p) => f.delete(p, false) }
    // abandoned commit temps are also orphans
    f.listStatus(dir).toSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith(".tmp-"))
      .foreach(s => f.delete(s.getPath, false))
    (dataDeleted, stale.size)
  }
}
