package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, FormattedMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{Bridge, JobCount, SucceededTasks}
import graft.sources.{Layout, LayoutManifest, VectorStore}

import scala.jdk.CollectionConverters._

class LayoutSpec extends SparkSpec {

  private def tmp(name: String): String =
    System.getProperty("java.io.tmpdir") + "/graft_layoutspec_" + name

  test("morton key: known bit patterns and quadrant containment") {
    import testImplicits._
    val df = Seq(
      (1L, 0L), (0L, 1L), (0xFFFFL, 0L), (0L, 0xFFFFL), (0xFFFFL, 0xFFFFL),
      (3L, 5L)).toDF("x", "y")
    val keys = df.select(Layout.mortonKey(col("x"), col("y")).as("z"))
      .collect().map(_.getLong(0)).toSeq
    // x on even bits, y on odd: morton(3,5) = 0b100111 = interleave(011, 101)
    assert(keys == Seq(1L, 2L, 0x55555555L, 0xAAAAAAAAL, 0xFFFFFFFFL, 0x27L))
    // quadrant property: both dims in the lower half <=> key below 2^30
    val q = (0 until 200).map(i => ((i * 7919) % 65536L, (i * 104729) % 65536L))
      .toDF("x", "y")
      .select(col("x"), col("y"), Layout.mortonKey(col("x"), col("y")).as("z"))
      .collect()
    q.foreach { r =>
      val lowQuad = r.getLong(0) < 32768 && r.getLong(1) < 32768
      assert(lowQuad == (r.getLong(2) < (1L << 30)),
        s"quadrant violated at ${r.toSeq}")
    }
  }

  test("scaleTo16: shift width derived from range bits; narrow ranges scale UP") {
    assert(Layout.shiftFor16(0, 1999) == -5)    // 11 bits -> scale up by 5
    assert(Layout.shiftFor16(0, 65535) == 0)    // exactly 16 bits
    assert(Layout.shiftFor16(0, 65536) == 1)    // 17 bits -> halve
    assert(Layout.shiftFor16(5, 5) == -15)      // degenerate single value -> 0
    assert(Layout.shiftFor16(0, (1L << 32) - 1) == 16)
    import testImplicits._
    val down = Seq(0L, 1L, 65535L, 65536L, 131071L).toDF("v")
      .select(Layout.scaleTo16(col("v"), 0L, 131071L).as("s"))
      .collect().map(_.getLong(0)).toSeq
    assert(down == Seq(0L, 0L, 32767L, 32768L, 65535L))
    // narrow dim occupies the HIGH bits after scale-up: 0..9 -> s = -12
    val up = Seq(0L, 9L).toDF("v")
      .select(Layout.scaleTo16(col("v"), 0L, 9L).as("s"))
      .collect().map(_.getLong(0)).toSeq
    assert(up == Seq(0L, 9L << 12))
  }

  test("zorder layout: per-file zone spans are tight on BOTH dims vs single-dim sort") {
    val li = graft.sources.Testdata.table(spark, "/root/testdata/sf0.001", "lineitem")
    val zdir = tmp("zorder"); val sdir = tmp("sorted")
    Layout.zorderWrite(li, "l_partkey", "l_suppkey", zdir, numFiles = 8)
    li.repartitionByRange(8, col("l_partkey")).sortWithinPartitions("l_partkey")
      .write.mode("overwrite").parquet(sdir)
    def meanSpan(path: String, c: String): Double = {
      val spans = LayoutManifest.bootstrap(spark, path, Seq(c)).files.map(_.stats(c))
      spans.map { case (lo, hi) => (hi - lo).toDouble }.sum / spans.size
    }
    // the partkey-sorted layout leaves suppkey spans ~global (rows in a file
    // see every suppkey); z-order must cut the suppkey span while keeping
    // partkey spans far below global
    val zSupp = meanSpan(zdir, "l_suppkey"); val sSupp = meanSpan(sdir, "l_suppkey")
    val zPart = meanSpan(zdir, "l_partkey")
    assert(zSupp < sSupp * 0.6, s"zorder suppkey span $zSupp !< 0.6 * $sSupp")
    assert(zPart < 2000 * 0.6, s"zorder partkey span $zPart not tight")
    // content preserved
    assert(spark.read.parquet(zdir).count() == li.count())
  }

  test("zone-map pruned read: skips files, never rows; empty prune keeps schema") {
    val li = graft.sources.Testdata.table(spark, "/root/testdata/sf0.001", "lineitem")
    val zdir = tmp("zonemap")
    Layout.zorderWrite(li, "l_partkey", "l_suppkey", zdir, numFiles = 8)
    val manifest = LayoutManifest.bootstrap(spark, zdir, Seq("l_partkey", "l_suppkey"))
    assert(manifest.files.size == 8)
    // a selective partkey range must actually skip files on a z-ordered layout
    val kept = manifest.files.count { e =>
      val (lo, hi) = e.stats("l_partkey"); lo <= 120 && hi >= 100 }
    assert(kept < 8, s"no files pruned ($kept of 8 kept)")
    val pruned = Layout.prunedRead(spark, zdir, manifest, "l_partkey", 100L, 120L)
      .filter(col("l_partkey").between(100, 120))
    val full = li.filter(col("l_partkey").between(100, 120))
    assert(pruned.count() == full.count())
    assert(pruned.agg(sum("l_quantity")).head().getDouble(0)
      == full.agg(sum("l_quantity")).head().getDouble(0))
    // range outside every file span -> empty result, schema intact
    val empty = Layout.prunedRead(spark, zdir, manifest, "l_partkey", 1000000L, 2000000L)
    assert(empty.count() == 0)
    assert(empty.schema.fieldNames.toSet == li.schema.fieldNames.toSet)
  }

  test("targeted delete: only zone-affected files rewritten, others untouched") {
    import testImplicits._
    val docs = graft.sources.Testdata.table(spark, "/root/testdata/sf0.001", "documents")
    val dir = tmp("delete")
    docs.repartitionByRange(8, col("doc_id")).sortWithinPartitions("doc_id")
      .write.mode("overwrite").parquet(dir)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    def files() = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(s => s.getPath.getName -> s.getModificationTime).toMap
    val before = files()
    // ids 50..59 live in one or two range-partitioned files
    val (total, rewritten, deleted) =
      graft.sources.Layout.deleteRows(spark, dir, "doc_id",
        (50L until 60L).toDF("doc_id"))
    assert(total == 8)
    assert(rewritten >= 1 && rewritten <= 2, s"rewrote $rewritten of 8 files")
    assert(deleted == 10L)
    val after = files()
    // untouched files keep their exact name and mtime
    val survivors = after.keySet.intersect(before.keySet)
    assert(survivors.size == total - rewritten)
    survivors.foreach(n => assert(after(n) == before(n), s"file $n was rewritten"))
    // content equals the plain anti-join
    val got = spark.read.parquet(dir).select("doc_id")
      .orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    val want = docs.filter(!col("doc_id").between(50, 59))
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(got == want)
    // deleting ids that hit no file span is a metadata-only no-op
    val (_, rw2, d2) = graft.sources.Layout.deleteRows(spark, dir, "doc_id",
      Seq(10000000L).toDF("doc_id"))
    assert(rw2 == 0 && d2 == 0L)
    assert(files() == after)
    // the committed-manifest path (production shape: the first delete
    // committed one) deletes identically
    assert(LayoutManifest.current(spark, dir).isDefined)
    val (_, rw3, d3) = graft.sources.Layout.deleteRows(spark, dir, "doc_id",
      Seq(70L).toDF("doc_id"))
    assert(rw3 == 1 && d3 == 1L)
    assert(spark.read.parquet(dir).filter(col("doc_id") === 70L).count() == 0L)
  }

  test("compaction: bin-packs by bytes, preserves content, restores cluster order") {
    val docs = graft.sources.Testdata.table(spark, "/root/testdata/sf0.001", "documents")
    val in = tmp("compact_in"); val out = tmp("compact_out")
    docs.repartition(32).write.mode("overwrite").parquet(in)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(in), spark.sparkContext.hadoopConfiguration)
    val total = fs.listStatus(new org.apache.hadoop.fs.Path(in))
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getLen).sum
    val (before, after) =
      Layout.compact(spark, in, out, targetBytes = math.max(1L, total / 4),
        clusterCol = Some("doc_id"))
    assert(before == 32)
    assert(after <= 6 && after >= 1, s"expected ~4 output files, got $after")
    // content identical
    val a = docs.select(md5(concat_ws("",
      col("doc_id"), col("text"))).as("h"))
      .agg(sum(conv(substring(col("h"), 1, 8), 16, 10).cast("decimal(38,0)")))
      .head().getDecimal(0)
    val b = spark.read.parquet(out).select(md5(concat_ws("",
      col("doc_id"), col("text"))).as("h"))
      .agg(sum(conv(substring(col("h"), 1, 8), 16, 10).cast("decimal(38,0)")))
      .head().getDecimal(0)
    assert(a == b)
    // cluster order restored: doc_id zone spans disjoint across files
    val zm = LayoutManifest.bootstrap(spark, out, Seq("doc_id")).files
      .map(_.stats("doc_id")).sortBy(_._1)
    zm.sliding(2).foreach {
      case Seq(lo, hi) =>
        assert(lo._2 < hi._1, "doc_id zones overlap after clustered compaction")
      case _ =>
    }
  }

  test("manifest commit protocol: versioned atomic commits, props round-trip, gc reclaims orphans only") {
    import graft.sources.LayoutManifest
    val dir = java.nio.file.Files.createTempDirectory("graft_manifest").toString
    val sp = spark
    sp.range(100).select(col("id").as("k"))
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
      .write.mode("overwrite").parquet(dir)
    assert(LayoutManifest.current(sp, dir).isEmpty)
    val v0 = Layout.commitLayout(sp, dir, Seq("k"), Map("index" -> "test", "planes_n" -> "6"))
    val m0 = LayoutManifest.current(sp, dir).get
    assert(m0.version == v0)
    assert(m0.props == Map("index" -> "test", "planes_n" -> "6"))
    assert(m0.files.size == 4 && m0.totalRows == 100)
    // per-file spans round-trip through the TSV and are disjoint (clustered)
    val spans = m0.files.map(_.stats("k")).sortBy(_._1)
    spans.sliding(2).foreach {
      case Seq(a, b) => assert(a._2 < b._1, s"spans overlap: $a $b")
      case _ =>
    }
    assert(spans.head._1 == 0L && spans.last._2 == 99L)
    // the committed entries are the zone map prunedRead consumes
    assert(Layout.prunedRead(sp, dir, m0, "k", 10L, 20L).count() == 25 ||
      Layout.prunedRead(sp, dir, m0, "k", 10L, 20L)
        .filter(col("k").between(10, 20)).count() == 11)
    // a second commit takes the next version; readers take the max
    val v1 = LayoutManifest.commit(sp, dir, m0.copy(version = m0.version + 1,
      props = m0.props + ("planes_n" -> "8")))
    assert(v1 > v0)
    assert(LayoutManifest.current(sp, dir).get.props("planes_n") == "8")
    // gc: an unreferenced data file is an orphan; referenced ones survive
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), sp.sparkContext.hadoopConfiguration)
    val orphan = new org.apache.hadoop.fs.Path(dir, "orphan_part.parquet")
    val out = fs.create(orphan); out.write(1); out.close()
    val (dataGone, manifestsGone) = LayoutManifest.gc(sp, dir, keepManifests = 1)
    assert(dataGone == 1 && !fs.exists(orphan))
    assert(manifestsGone == 1) // v0 pruned, v1 kept
    assert(LayoutManifest.readData(sp, dir).count() == 100)
  }

  test("kill-injection: a crash at EVERY rewrite phase loses no surviving row and duplicates none") {
    import graft.sources.LayoutManifest
    import testImplicits._
    val sp = spark
    val docs = graft.sources.Testdata.table(sp, "/root/testdata/sf0.001", "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft_kill").toString
    docs.repartitionByRange(8, col("doc_id")).sortWithinPartitions("doc_id")
      .write.mode("overwrite").parquet(dir)
    Layout.commitLayout(sp, dir, Seq("doc_id"))
    val n = docs.count()
    val tomb = (50L until 60L).toDF("doc_id")
    def affectedOf(m: LayoutManifest.Manifest): Seq[LayoutManifest.FileEntry] =
      m.files.filter { e => val (lo, hi) = e.stats("doc_id"); lo <= 59L && hi >= 50L }

    // ---- crash AFTER phase 1 (new files renamed in, manifest NOT committed)
    val snap0 = LayoutManifest.current(sp, dir).get
    Layout.rewriteWithout(sp, dir, snap0, affectedOf(snap0), "doc_id",
      Layout.antiJoin("doc_id", tomb), crashPoint = 1)
    // the manifest reader sees the OLD COMPLETE table: nothing deleted, nothing lost
    assert(LayoutManifest.readData(sp, dir).count() == n)
    assert(LayoutManifest.readData(sp, dir)
      .filter(col("doc_id").between(50, 59)).count() == 10)
    // recovery = gc: the uncommitted rewrite's files are orphans
    val (orphans, _) = LayoutManifest.gc(sp, dir)
    assert(orphans >= 1, "phase-1 crash must leave reclaimable orphans")
    assert(spark.read.parquet(dir).count() == n) // directory agrees after gc

    // ---- crash AFTER phase 2 (manifest committed, superseded files not GC'd)
    val snap1 = LayoutManifest.current(sp, dir).get
    val (_, rewritten, deleted) = Layout.rewriteWithout(sp, dir, snap1,
      affectedOf(snap1), "doc_id", Layout.antiJoin("doc_id", tomb), crashPoint = 2)
    assert(rewritten >= 1 && deleted == 10L)
    // the manifest reader sees the NEW complete table: survivors only, no dupes
    val after = LayoutManifest.readData(sp, dir)
    assert(after.count() == n - 10)
    assert(after.filter(col("doc_id").between(50, 59)).count() == 0)
    assert(after.select("doc_id").distinct().count() == n - 10)
    // a DIRECTORY read in this window sees duplicates (old affected files
    // still present) — which is why the manifest is the read contract
    assert(spark.read.parquet(dir).count() > n - 10)
    // recovery = gc at horizon 1 (recover-to-latest: the superseded files
    // would otherwise be RETAINED for the previous snapshot — the
    // time-travel union semantics), after which directory == manifest
    LayoutManifest.gc(sp, dir, keepManifests = 1)
    assert(spark.read.parquet(dir).count() == n - 10)
    val got = spark.read.parquet(dir).select("doc_id")
      .orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    val want = docs.filter(!col("doc_id").between(50, 59))
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(got == want)
  }

  test("kill-injection: replaceLayout (rebuild/compaction cutover) is all-or-nothing") {
    import graft.sources.LayoutManifest
    val sp = spark
    val dir = java.nio.file.Files.createTempDirectory("graft_kill_rb").toString
    sp.range(1000).select(col("id").as("k"), (col("id") * 7 % 13).as("v"))
      .repartition(6) // scattered
      .write.mode("overwrite").parquet(dir)
    Layout.commitLayout(sp, dir, Seq("k"))
    val rebuilt = LayoutManifest.readData(sp, dir)
      .repartitionByRange(3, col("k")).sortWithinPartitions("k")
    // crash after phase 1: old manifest still current, reader sees old data
    Layout.replaceLayout(sp, dir, rebuilt, Seq("k"), Map("gen" -> "2"), crashPoint = 1)
    assert(LayoutManifest.current(sp, dir).get.props.get("gen").isEmpty)
    assert(LayoutManifest.readData(sp, dir).count() == 1000)
    LayoutManifest.gc(sp, dir) // uncommitted files are orphans at ANY horizon
    assert(spark.read.parquet(dir).count() == 1000)
    // crash after phase 2: new manifest current, exactly the new file set
    Layout.replaceLayout(sp, dir, rebuilt, Seq("k"), Map("gen" -> "2"), crashPoint = 2)
    val m = LayoutManifest.current(sp, dir).get
    assert(m.props("gen") == "2" && m.files.size == 3)
    assert(LayoutManifest.readData(sp, dir).count() == 1000)
    assert(LayoutManifest.readData(sp, dir).select("k").distinct().count() == 1000)
    LayoutManifest.gc(sp, dir, keepManifests = 1) // recover-to-latest horizon
    assert(spark.read.parquet(dir).count() == 1000)
  }

  test("appendCommitted: crash-safe append, exactly-once under batch replay") {
    import graft.sources.LayoutManifest
    val sp = spark
    val dir = java.nio.file.Files.createTempDirectory("graft_append").toString
    sp.range(100).select(col("id").as("k"))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    Layout.commitLayout(sp, dir, Seq("k"))
    val batch = sp.range(100, 150).select(col("id").as("k"))
    assert(Layout.appendCommitted(batch, dir, batchId = Some(7L)) == 50L)
    assert(LayoutManifest.readData(sp, dir).count() == 150)
    // a replay of the same batch id is skipped — no duplicates
    assert(Layout.appendCommitted(batch, dir, batchId = Some(7L)) == 0L)
    assert(LayoutManifest.readData(sp, dir).count() == 150)
    // a later batch lands; stats cover the appended range
    assert(Layout.appendCommitted(
      sp.range(150, 160).select(col("id").as("k")), dir, batchId = Some(8L)) == 10L)
    val m = LayoutManifest.current(sp, dir).get
    assert(m.totalRows == 160 && m.props("last_batch_id") == "8")
    assert(m.files.flatMap(_.stats.get("k")).map(_._2).max == 159L)
  }

  test("maintainCompaction: the recompaction gate triggers on decayed clustering and restores pruning") {
    import graft.sources.LayoutManifest
    val sp = spark
    val dir = java.nio.file.Files.createTempDirectory("graft_autocompact").toString
    // a freshly clustered layout: the gate must NOT fire
    sp.range(10000).select(col("id").as("k"), (col("id") % 97).as("v"))
      .repartitionByRange(8, col("k")).sortWithinPartitions("k")
      .write.mode("overwrite").parquet(dir)
    Layout.commitLayout(sp, dir, Seq("k"))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), sp.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(new org.apache.hadoop.fs.Path(dir)).getLength
    val d0 = Layout.maintainCompaction(sp, dir, "k", targetBytes = bytes / 4)
    assert(!d0.compacted && d0.overlapPairs == 0L)
    // churn: streaming-style appends draw keys from the WHOLE distribution,
    // so every appended file spans ~the full range — the decay regime
    (0 until 6).foreach { i =>
      Layout.appendCommitted(
        sp.range(1000).select(((col("id") * 7919 + i) % 10000).as("k"),
          (col("id") % 97).as("v")).coalesce(1),
        dir, batchId = Some(i.toLong))
    }
    val expectedSum = LayoutManifest.readData(sp, dir)
      .agg(sum("k")).head().getLong(0)
    val d1 = Layout.maintainCompaction(sp, dir, "k", targetBytes = bytes / 4)
    assert(d1.compacted, s"gate must fire after churn: $d1")
    assert(d1.overlapFrac > 0.25 || d1.spanFracAvg > 0.5)
    // post-compaction: content intact, clustering (and the gate) restored
    val after = LayoutManifest.readData(sp, dir)
    assert(after.count() == 16000)
    assert(after.agg(sum("k")).head().getLong(0) == expectedSum)
    val d2 = Layout.maintainCompaction(sp, dir, "k", targetBytes = bytes / 4)
    assert(!d2.compacted, s"freshly compacted layout must not re-fire: $d2")
    assert(d2.overlapPairs == 0L && d2.spanFracAvg < 0.5)
  }

  test("snapshot time travel: retained versions read their exact bytes; gc's retention dial is the horizon") {
    import graft.sources.{Layout, LayoutManifest}
    val sp = spark
    val dir = java.nio.file.Files.createTempDirectory("graft_timetravel").toString
    sp.range(100).select(col("id").as("k"))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val v0 = Layout.commitLayout(sp, dir, Seq("k"))
    Layout.appendCommitted(sp.range(100, 150).select(col("id").as("k")), dir,
      batchId = Some(0L))
    val v1 = LayoutManifest.current(sp, dir).get.version
    Layout.appendCommitted(sp.range(150, 180).select(col("id").as("k")), dir,
      batchId = Some(1L))
    // every retained version reads exactly what was committed at it
    assert(LayoutManifest.readDataAt(sp, dir, v0).count() == 100)
    assert(LayoutManifest.readDataAt(sp, dir, v1).count() == 150)
    assert(LayoutManifest.readData(sp, dir).count() == 180)
    // gc keeping 3 versions reclaims nothing the snapshots need
    LayoutManifest.gc(sp, dir, keepManifests = 3)
    assert(LayoutManifest.readDataAt(sp, dir, v0).count() == 100)
    // shrinking the horizon to 1 expires v0/v1; the CURRENT read is intact
    // (the appended history shares files, so only manifests expire here —
    // the retention union semantics are what kept them safe before)
    val (_, expired) = LayoutManifest.gc(sp, dir, keepManifests = 1)
    assert(expired == 2)
    val e = intercept[IllegalStateException] {
      LayoutManifest.readDataAt(sp, dir, v0)
    }
    assert(e.getMessage.contains("expired") || e.getMessage.contains("does not exist"))
    assert(LayoutManifest.readData(sp, dir).count() == 180)
    // a REWRITE history does not retain: compactInPlace supersedes every
    // file eagerly (immediate-cutover contract), so the pre-compaction
    // snapshot's manifest may remain briefly but its files are gone
    val vPre = LayoutManifest.current(sp, dir).get.version
    Layout.compactInPlace(sp, dir, targetBytes = Long.MaxValue, clusterCol = Some("k"))
    assert(LayoutManifest.readData(sp, dir).count() == 180)
    assert(LayoutManifest.at(sp, dir, vPre).isEmpty ||
      intercept[Exception] {
        LayoutManifest.readDataAt(sp, dir, vPre).count()
      } != null)
  }

  test("diffVersions: reads only unshared files; appends diff as added, dropped files as removed, moved rows cancel") {
    import graft.sources.{Layout, LayoutManifest}
    val sp = spark
    val dir = java.nio.file.Files.createTempDirectory("graft_vdiff").toString
    sp.range(100).select(col("id").as("k"))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val v0 = Layout.commitLayout(sp, dir, Seq("k"))
    Layout.appendCommitted(sp.range(100, 160).select(col("id").as("k"))
      .coalesce(1), dir, batchId = Some(0L))
    val v1 = LayoutManifest.current(sp, dir).get.version
    // append-only: diff = exactly the appended rows, all 'added'
    val d01 = LayoutManifest.diffVersions(sp, dir, v0, v1, "k")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(d01.length == 60 && d01.forall(_._1 == "added"))
    assert(d01.map(_._2).sorted.toSeq == (100L until 160L))
    // a hand-committed v2 drops the base file and adds a replacement that
    // KEEPS rows 0-49 (moved) and loses 50-99 — the retention-friendly
    // rewrite shape: moved rows must cancel, lost rows read 'removed'
    val m1 = LayoutManifest.current(sp, dir).get
    val fsys = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), sp.sparkContext.hadoopConfiguration)
    val tmp2 = s"$dir/.half"
    sp.range(50).select(col("id").as("k")).coalesce(1).write.parquet(tmp2)
    val halfName = fsys.listStatus(new org.apache.hadoop.fs.Path(tmp2))
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet")).head.getPath
    fsys.rename(halfName, new org.apache.hadoop.fs.Path(dir, "half_0.parquet"))
    fsys.delete(new org.apache.hadoop.fs.Path(tmp2), true)
    val baseFile = LayoutManifest.at(sp, dir, v0).get.files.head.name
    val halfEntries = LayoutManifest.entriesFor(sp,
      Seq(LayoutManifest.dataPath(dir, "half_0.parquet")), Seq("k"))
    LayoutManifest.commit(sp, dir, LayoutManifest.Manifest(
      m1.version + 1, m1.props,
      m1.files.filterNot(_.name == baseFile) ++ halfEntries))
    val v2 = m1.version + 1
    val d12 = LayoutManifest.diffVersions(sp, dir, v1, v2, "k")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(d12.count(_._1 == "added") == 0, "moved rows must cancel")
    assert(d12.filter(_._1 == "removed").map(_._2).sorted.toSeq == (50L until 100L))
    // expired versions refuse loudly
    LayoutManifest.gc(sp, dir, keepManifests = 1)
    intercept[IllegalStateException] {
      LayoutManifest.diffVersions(sp, dir, v0, v2, "k")
    }
  }

  test("concurrent appenders: optimistic commits serialize to a linear history with every batch exactly once") {
    import graft.sources.{Layout, LayoutManifest}
    val sp = spark
    val dir = java.nio.file.Files.createTempDirectory("graft_concurrent").toString
    sp.range(100).select(col("id").as("k"))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    Layout.commitLayout(sp, dir, Seq("k"))
    // 4 appenders race distinct key ranges (no batchId: all must land)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val appended = Await.result(Future.sequence((0 until 4).map { i =>
      Future(Layout.appendCommitted(
        sp.range(100 + i * 50, 150 + i * 50).select(col("id").as("k"))
          .coalesce(1), dir))
    }), 120.seconds)
    assert(appended.forall(_ == 50L), s"every appender lands: $appended")
    val live = LayoutManifest.readData(sp, dir)
    assert(live.count() == 300)
    assert(live.select("k").distinct().count() == 300)
    // linear history: versions 0..4 all committed, each derived from its
    // predecessor (file counts strictly grow)
    val m = LayoutManifest.current(sp, dir).get
    assert(m.version == 4)
    assert((0L to 4L).forall(v => LayoutManifest.at(sp, dir, v).isDefined))
    assert((0L to 4L).map(v => LayoutManifest.at(sp, dir, v).get.files.size)
      .sliding(2).forall { case Seq(a, b) => a < b; case _ => true })
    // the SAME batch raced by two appenders resolves to exactly one winner
    val dup = Await.result(Future.sequence((0 until 2).map { _ =>
      Future(Layout.appendCommitted(
        sp.range(300, 320).select(col("id").as("k")).coalesce(1), dir,
        batchId = Some(99L)))
    }), 120.seconds)
    assert(dup.sorted == Seq(0L, 20L), s"exactly one same-batch winner: $dup")
    LayoutManifest.gc(sp, dir, keepManifests = 1) // reclaim the loser's orphans
    val after = LayoutManifest.readData(sp, dir)
    assert(after.count() == 320)
    assert(spark.read.parquet(dir).count() == 320) // directory agrees post-gc
  }

  test("prune guards: empty manifest throws a clear error; NULL spans are kept, never pruned") {
    val sp = spark
    val dir = java.nio.file.Files.createTempDirectory("graft_nullspan").toString
    val empty = LayoutManifest.Manifest(-1L, Map.empty, Seq.empty)
    val e1 = intercept[IllegalArgumentException] {
      Layout.prunedRead(sp, dir, empty, "k", 0L, 10L)
    }
    assert(e1.getMessage.contains("EMPTY manifest"))
    val e2 = intercept[IllegalArgumentException] {
      Layout.prunedReadIn(sp, dir, empty, "k", Seq(1L))
    }
    assert(e2.getMessage.contains("EMPTY manifest"))
    // a file with NULL bounds (stats unknown) must be KEPT by both prunes
    // and treated as affected by the delete prune — no false negatives
    sp.range(10).select(col("id").as("k"))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), sp.sparkContext.hadoopConfiguration)
    val file = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .head.getPath.getName
    val nullSpan = LayoutManifest.Manifest(-1L, Map.empty,
      Seq(LayoutManifest.FileEntry(file, 10L, Map.empty)))
    assert(Layout.prunedRead(sp, dir, nullSpan, "k", 100L, 200L).count() == 10)
    assert(Layout.prunedReadIn(sp, dir, nullSpan, "k", Seq(999L)).count() == 10)
  }

  test("manifestStats: clustered layout reads tight disjoint spans; a scattered one reads full-range overlap") {
    val sp = spark
    val rows = sp.range(10000).select(col("id").as("k"), (col("id") * 3).as("v"))
    def stats(path: String): (Long, Double, Double, Long) = {
      val m = Layout.manifestStats(LayoutManifest.bootstrap(sp, path, Seq("k")), "k")
      (m.nFiles, m.spanFracAvg, m.spanFracMax, m.overlapPairs)
    }
    val tidy = java.nio.file.Files.createTempDirectory("graft_mstats_c").toString
    rows.repartitionByRange(8, col("k")).sortWithinPartitions("k")
      .write.mode("overwrite").parquet(tidy)
    val (nf1, avg1, max1, ov1) = stats(tidy)
    assert(nf1 == 8)
    assert(ov1 == 0, "range-clustered spans must be disjoint")
    assert(max1 < 0.30, s"clustered span fraction should be ~1/8, got $max1")
    // scatter by k mod 8: every file's span covers ~the whole range
    val messy = java.nio.file.Files.createTempDirectory("graft_mstats_s").toString
    rows.repartition(8, pmod(col("k"), lit(8)))
      .write.mode("overwrite").parquet(messy)
    val (nf2, avg2, max2, ov2) = stats(messy)
    assert(avg2 > 0.9 && max2 > 0.9, s"scattered spans must cover the range: $avg2")
    assert(ov2 == nf2 * (nf2 - 1) / 2, "every scattered span pair overlaps")
    assert(avg1 < avg2 && ov1 < ov2)
    // degenerate: a constant column reads zero fractions, full overlap
    val flat = java.nio.file.Files.createTempDirectory("graft_mstats_f").toString
    sp.range(100).select(lit(7L).as("k")).repartition(2)
      .write.mode("overwrite").parquet(flat)
    val (nf3, avg3, max3, _) = stats(flat)
    assert(nf3 == 2 && avg3 == 0.0 && max3 == 0.0)
  }

  test("manifestStats sweep: overlap count equals the pairwise join form on scattered/clustered/mixed/null manifests") {
    // pins the endpoint sweep's count against a brute-force pair count on
    // adversarial span sets: duplicates, touching endpoints, containment
    // nesting, point spans, NULL spans
    val cases: Seq[Seq[Option[(Long, Long)]]] = Seq(
      // clustered: disjoint
      Seq(Some((0L, 9L)), Some((10L, 19L)), Some((20L, 29L)), Some((30L, 39L))),
      // scattered: all overlap
      Seq(Some((0L, 100L)), Some((1L, 99L)), Some((2L, 98L)), Some((3L, 97L))),
      // mixed: touching endpoints count (closed spans), nesting, duplicates
      Seq(Some((0L, 10L)), Some((10L, 20L)), Some((21L, 30L)), Some((5L, 7L)),
        Some((5L, 7L)), Some((7L, 7L)), Some((25L, 40L)), Some((41L, 41L))),
      // null spans never pair
      Seq(Some((0L, 5L)), None, Some((3L, 8L)), None),
      // single file / empty-range
      Seq(Some((4L, 4L))))
    def manifest(spans: Seq[Option[(Long, Long)]]) = LayoutManifest.Manifest(-1L,
      Map.empty, spans.zipWithIndex.map { case (span, i) =>
        LayoutManifest.FileEntry(f"f$i%03d", 1L, span.map("k" -> _).toMap) })
    def brute(spans: Seq[(Long, Long)]): Long = (for {
      ((alo, ahi), i) <- spans.zipWithIndex; ((blo, bhi), j) <- spans.zipWithIndex
      if i < j && alo <= bhi && blo <= ahi
    } yield 1).size.toLong
    cases.zipWithIndex.foreach { case (spans, ci) =>
      val got = Layout.manifestStats(manifest(spans), "k").overlapPairs
      val want = brute(spans.flatten)
      assert(got == want, s"case $ci: sweep=$got join=$want spans=$spans")
    }
    // randomized cross-check: 200 spans, brute force vs sweep
    val rnd = new scala.util.Random(42)
    val rspans = Seq.fill(200) {
      val lo = rnd.nextInt(1000).toLong; (lo, lo + rnd.nextInt(200).toLong)
    }
    val rgot = Layout.manifestStats(manifest(rspans.map(Some(_))), "k").overlapPairs
    val rwant = brute(rspans)
    assert(rgot == rwant, s"random: sweep=$rgot brute=$rwant")
  }

  test("deleteRows on a column the manifest has no span for never rewrites an orphan into the table") {
    val sp = spark
    import sp.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_orphan_del").toString
    sp.range(1000).select(col("id").as("a"), (col("id") * 3).as("b"))
      .repartitionByRange(4, col("a")).sortWithinPartitions("a")
      .write.mode("overwrite").parquet(dir)
    Layout.commitLayout(sp, dir, Seq("a"))
    // a crashed rewrite's leftover: a renamed-in copy of the live file
    // holding b = 3 (a = 1), which no manifest lists
    val live = LayoutManifest.current(sp, dir).get.files
      .find { e => val (lo, hi) = e.stats("a"); lo <= 1L && hi >= 1L }.get.name
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), sp.sparkContext.hadoopConfiguration)
    org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(dir, live),
      fs, new org.apache.hadoop.fs.Path(dir, s"rwdead000_$live"), false,
      sp.sparkContext.hadoopConfiguration)
    val (total, rewritten, deleted) = Layout.deleteRows(sp, dir, "b", Seq(3L).toDF("b"))
    assert((total, rewritten, deleted) == ((4, 1, 1L)))
    val after = LayoutManifest.readData(sp, dir)
    assert(after.count() == 999)
    assert(after.filter(col("b") === 3L).count() == 0)
    // the delete's commit carries the filled-in spans of the new column
    assert(LayoutManifest.current(sp, dir).get.files.forall(_.stats.contains("b")))
  }

  test("maintainCompaction: a one-file layout is never decayed, so repeated calls do not rewrite it") {
    val sp = spark
    val dir = java.nio.file.Files.createTempDirectory("graft_onefile").toString
    sp.range(1000).select(col("id").as("k")).coalesce(1)
      .write.mode("overwrite").parquet(dir)
    val v = Layout.commitLayout(sp, dir, Seq("k"))
    (1 to 3).foreach { _ =>
      val d = Layout.maintainCompaction(sp, dir, "k", targetBytes = 1L << 30)
      assert(!d.compacted && d.nFiles == 1 && d.filesAfter == 1, s"$d")
    }
    assert(LayoutManifest.current(sp, dir).get.version == v)
  }

  test("decisions over a committed layout fire no jobs: compaction no-op, prunedRead and prunedReadIn file choice") {
    val sp = spark
    val dir = java.nio.file.Files.createTempDirectory("graft_nojobs").toString
    sp.range(10000).select(col("id").as("k"), (col("id") % 97).as("v"))
      .repartitionByRange(8, col("k")).sortWithinPartitions("k")
      .write.mode("overwrite").parquet(dir)
    Layout.commitLayout(sp, dir, Seq("k"))
    val m = LayoutManifest.current(sp, dir).get
    val (d, gateJobs) = JobCount(sp)(
      Layout.maintainCompaction(sp, dir, "k", targetBytes = 1L << 30))
    assert(!d.compacted && d.nFiles == 8)
    assert(gateJobs == 0, s"no-op compaction decision ran $gateJobs jobs")
    val (range, rangeJobs) = JobCount(sp)(Layout.prunedRead(sp, dir, m, "k", 10L, 20L))
    assert(rangeJobs == 0, s"prunedRead file choice ran $rangeJobs jobs")
    val (in, inJobs) = JobCount(sp)(Layout.prunedReadIn(sp, dir, m, "k", Seq(5L, 9000L)))
    assert(inJobs == 0, s"prunedReadIn file choice ran $inJobs jobs")
    // and the choices are right: one file, then two
    assert(range.select(col("_metadata.file_path")).distinct().count() == 1)
    assert(in.select(col("_metadata.file_path")).distinct().count() == 2)
  }

  test("footer-based manifest entries: rows and int spans equal the scan aggregation; non-int columns fall back correctly") {
    import graft.sources.LayoutManifest
    val sp = spark
    val docs = graft.sources.Testdata.table(sp, "/root/testdata/sf0.001", "documents")
    val dir = tmp("footer_entries")
    docs.repartitionByRange(4, col("doc_id")).sortWithinPartitions("doc_id")
      .write.mode("overwrite").parquet(dir)
    // footer fast path (doc_id and n_chars are plain ints) vs a direct agg
    val entries = LayoutManifest.entriesFor(sp, Seq(dir), Seq("doc_id", "n_chars"))
    val want = sp.read.parquet(dir)
      .select(col("_metadata.file_path").as("f"), col("doc_id"), col("n_chars"))
      .groupBy("f")
      .agg(count(lit(1)).as("rows"),
        min("doc_id").as("dlo"), max("doc_id").as("dhi"),
        min("n_chars").cast("long").as("clo"), max("n_chars").cast("long").as("chi"))
      .collect().map { r =>
        val name = new org.apache.hadoop.fs.Path(
          new java.net.URI(r.getString(0)).getPath).getName
        name -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      }.toMap
    assert(entries.size == want.size && entries.nonEmpty)
    entries.foreach { e =>
      val (rows, dlo, dhi, clo, chi) = want(e.name)
      assert(e.rows == rows, s"${e.name}: rows")
      assert(e.stats("doc_id") == ((dlo, dhi)), s"${e.name}: doc_id span")
      assert(e.stats("n_chars") == ((clo, chi)), s"${e.name}: n_chars span")
    }
    // events.ts is a physical INT64 timestamp: the annotation must force
    // the fallback so the span stays the SCAN semantics (epoch math), not
    // raw nanos
    val edir = tmp("footer_ts")
    graft.sources.Testdata.events(sp, "/root/testdata/sf0.001")
      .limit(1000).coalesce(1).write.mode("overwrite").parquet(edir)
    val e3 = LayoutManifest.entriesFor(sp, Seq(edir), Seq("ts"))
    val w3 = sp.read.parquet(edir)
      .agg(min(col("ts")).cast("long"), max(col("ts")).cast("long")).head()
    assert(e3.size == 1 && e3.head.stats("ts") == ((w3.getLong(0), w3.getLong(1))))
  }

  test("bloom sidecar: banded dims size small files below large ones; distributed probe has no false negatives") {
    import graft.sources.{Layout, LayoutManifest}
    val sp = spark
    import testImplicits._
    val dir = tmp("sidecar_bands")
    // two deliberate size bands: one file of ~20k rows, four of ~100
    val big = sp.range(0, 20000).select(col("id").as("vec_id"))
    val small = sp.range(20000, 20400).select(col("id").as("vec_id"))
    big.coalesce(1).write.mode("overwrite").parquet(dir)
    small.repartitionByRange(4, col("vec_id")).write.mode("append").parquet(dir)
    Layout.commitLayout(sp, dir, Seq("vec_id"))
    Layout.writeBloomSidecar(sp, dir, "vec_id")
    val m = LayoutManifest.current(sp, dir).get
    val side = sp.read.parquet(
      s"$dir/${LayoutManifest.SubDir}/bloom-${m.version}-vec_id.parquet")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getSeq[Long](2).length))
    assert(side.length == 5)
    val lens = side.map(_._3).distinct
    assert(lens.length >= 2, s"banded dims expected, got uniform $lens")
    assert(side.map(_._3).max > side.map(_._3).min * 8,
      "the 20k-row file's filter must be far wider than the 100-row files'")
    // no false negatives across bands: every present id's file is named
    Seq(5L, 19999L, 20001L, 20399L).foreach { id =>
      val files = Layout.bloomPrunedFiles(sp, dir, "vec_id", Seq(id))
      val holder = sp.read.parquet(files: _*)
      assert(holder.filter(col("vec_id") === id).count() == 1, s"id=$id missed")
    }
    // expression kernel ≡ scala kernel on the sidecar rows
    val fullSide = sp.read.parquet(
      s"$dir/${LayoutManifest.SubDir}/bloom-${m.version}-vec_id.parquet")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getSeq[Long](2).toArray))
    val probeFps = Seq(5L, 424242L).map(graft.functions.Bloom.mix64).toArray
    val gotNames = Layout.bloomPrunedFiles(sp, dir, "vec_id", Seq(5L, 424242L))
      .map(f => new org.apache.hadoop.fs.Path(new java.net.URI(f).getPath).getName)
      .toSet
    val wantNames = fullSide.collect {
      case (n, k, words)
        if graft.functions.Bloom.anyMightContain(words, probeFps, k) => n
    }.toSet
    assert(gotNames == wantNames)
  }

  test("the clustered-index format has one home: Layout clusters, LayoutManifest throws, one identity per index kind") {
    // a second copy of the clustering, the missing-manifest throw or an
    // identity prop can drift from the manifests already on disk
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"program sources not found under ${root.toAbsolutePath}")
    val sources = Files.walk(root).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString -> Files.readString(p)).sortBy(_._1)
    val clustering = sources.collect {
      case (p, s) if p.startsWith("operators/") && s.contains("repartitionByRange") => p }
    assert(clustering.isEmpty, s"cluster through Layout.rangeCluster: $clustering")
    val throwing = """LayoutManifest\s*\.\s*current\([^)]*\)\s*\.\s*getOrElse\(\s*throw""".r
    val throwers = sources.collect {
      case (p, s) if p != "sources/LayoutManifest.scala" && throwing.findFirstIn(s).nonEmpty => p }
    assert(throwers.isEmpty, s"read a required manifest with LayoutManifest.committed: $throwers")
    for (prop <- Seq("planes_hash", "centroids_hash")) {
      val uses = sources.map { case (p, s) => p -> ("\"" + prop + "\"").r.findAllIn(s).size }
        .filter(_._2 > 0)
      assert(uses.map(_._2).sum == 1, s"$prop belongs to one identity definition: $uses")
    }
  }

  // ---- the manifest-backed read: file index, spans and id blooms ----

  /** `n` rows keyed `k`, with a string `id` ("v<k>") and a 2-d embedding. */
  private def keyed(from: Long, n: Long): DataFrame =
    spark.range(from, from + n).select(col("id").as("k"),
      concat(lit("v"), col("id").cast("string")).as("id"),
      array(col("id").cast("float"), lit(1f)).as("embedding"))

  /** An 8-file layout clustered on `k`, every file written through Layout. */
  private def bloomedLayout(name: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft_index_$name").toString
    keyed(0, 800).coalesce(1).write.mode("overwrite").parquet(dir)
    Layout.commitLayout(spark, dir, Seq("k"))
    Layout.replaceLayout(spark, dir, Layout.rangeCluster(keyed(0, 800), 8, "k"),
      Seq("k"), Map.empty)
    val files = LayoutManifest.current(spark, dir).get.files
    assert(files.size == 8)
    // every file's bloom is cached at commit and sized to its ~100 rows,
    // not to Parquet's 1 MB default
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    files.foreach { e =>
      val bytes = graft.sources.FileFacts.bloom(
        fs.getFileStatus(new org.apache.hadoop.fs.Path(dir, e.name))).map(_.bytes)
      assert(bytes.exists(b => b > 0 && b <= 1024), s"${e.name}: bloom of $bytes bytes")
    }
    dir
  }

  /** The one file scan of `df`'s executed plan. */
  private def scanOf(df: DataFrame): FileSourceScanExec =
    df.queryExecution.executedPlan.collectFirst { case s: FileSourceScanExec => s }.get

  /** Rows of `df` and how many files its scan read. */
  private def readFiles(df: DataFrame): (Long, Long) = {
    val rows = df.collect().length.toLong
    (rows, scanOf(df).metrics("numFiles").value)
  }

  test("manifest index: a present id reads one task, an absent id none, a duplicate still throws") {
    val dir = bloomedLayout("lookup")
    val (got, tasks) = SucceededTasks(spark)(
      VectorStore(LayoutManifest.readData(spark, dir)).getVector("v437"))
    assert(got.toSeq == Seq(437f, 1f))
    assert(tasks == 1, s"a present-id lookup over 8 files ran $tasks tasks")
    val (err, none) = SucceededTasks(spark)(intercept[NoSuchElementException](
      VectorStore(LayoutManifest.readData(spark, dir)).getVector("v-absent")))
    assert(err.getMessage == "Unique ID does not exist.")
    assert(none == 0, s"an absent-id lookup ran $none tasks")
    // the same id appended again lives in two bloomed files: both are kept
    Layout.appendCommitted(keyed(437, 1), dir)
    intercept[IllegalStateException](
      VectorStore(LayoutManifest.readData(spark, dir)).getVector("v437"))
  }

  test("manifest index: files without a bloom are kept; prunedRead reads the files spanning a range") {
    val sp = spark
    val dir = java.nio.file.Files.createTempDirectory("graft_index_plain").toString
    Layout.rangeCluster(keyed(0, 800), 8, "k").write.mode("overwrite").parquet(dir)
    Layout.commitLayout(sp, dir, Seq("k"))
    val m = LayoutManifest.current(sp, dir).get
    assert(m.files.size == 8)
    // plain write.parquet stores no bloom: an id lookup reads every file
    assert(readFiles(LayoutManifest.readData(sp, dir).filter(col("id") === "v437")) == ((1L, 8L)))
    // the manifest spans prune a range in the one span pruner, prunedRead
    val spanning = m.files.count { e => val (lo, hi) = e.stats("k"); lo <= 260 && hi >= 150 }
    assert(spanning > 0 && spanning < 8)
    assert(readFiles(Layout.prunedRead(sp, dir, m, "k", 150, 260).filter(col("k").between(150, 260))) ==
      ((111L, spanning.toLong)))
  }

  test("manifest index: an id the writer does not bloom by its Spark value is never pruned") {
    // a TIMESTAMP_MILLIS `id` is an INT64 column whose bloom hashes millis,
    // while Spark's timestamp value is micros: probing it would drop the file
    val sp = spark
    val dir = java.nio.file.Files.createTempDirectory("graft_index_ts").toString
    val tsType = "spark.sql.parquet.outputTimestampType"
    val was = sp.conf.getOption(tsType)
    sp.conf.set(tsType, "TIMESTAMP_MILLIS")
    try sp.range(0, 40).select(col("id").as("k"), timestamp_seconds(col("id")).as("id"))
      .coalesce(1).write.mode("overwrite").option("parquet.bloom.filter.enabled#id", "true")
      .parquet(dir)
    finally was.fold(sp.conf.unset(tsType))(sp.conf.set(tsType, _))
    Layout.commitLayout(sp, dir, Seq("k"))
    val file = LayoutManifest.current(sp, dir).get.files.head.name
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), sp.sparkContext.hadoopConfiguration)
    assert(graft.sources.FileFacts.bloom(fs.getFileStatus(new org.apache.hadoop.fs.Path(dir, file))).nonEmpty)
    val ts = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(17))
    assert(readFiles(LayoutManifest.readData(sp, dir).filter(col("id") === lit(ts))) == ((1L, 1L)))
  }

  test("readData: a layout with no manifest reads its directory through Parquet.read") {
    val sp = spark
    val dir = java.nio.file.Files.createTempDirectory("graft_index_legacy").toString
    keyed(0, 30).withColumn("part", col("k") % 3).write.mode("overwrite").partitionBy("part")
      .parquet(dir)
    val legacy = LayoutManifest.readData(sp, dir)
    assert(legacy.count() == 30 && legacy.columns.contains("part"))
    val missing = intercept[org.apache.spark.sql.AnalysisException](
      LayoutManifest.readData(sp, s"$dir/absent"))
    assert(missing.getMessage.contains("PATH_NOT_FOUND"), missing.getMessage)
  }

  test("manifest index: a layout deleted and re-created at version 0 reads its new rows") {
    // one file name, two contents: the caches are keyed by file identity,
    // so the first layout's bloom can never prune the second's ids
    val sp = spark
    val dir = java.nio.file.Files.createTempDirectory("graft_index_recreate").toString
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), sp.sparkContext.hadoopConfiguration)
    def create(from: Long, n: Long): Unit = {
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      val stage = java.nio.file.Files.createTempDirectory("graft_index_stage").toString + "/s"
      keyed(from, n).coalesce(1).write.option("parquet.bloom.filter.enabled#id", "true")
        .parquet(stage)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(stage))
        .find(_.getPath.getName.endsWith(".parquet")).get.getPath
      fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
      assert(fs.rename(part, new org.apache.hadoop.fs.Path(dir, "data.parquet")))
      assert(Layout.commitLayout(sp, dir, Seq("k")) == 0L)
    }
    create(0, 100)
    assert(VectorStore(LayoutManifest.readData(sp, dir)).getVector("v7").toSeq == Seq(7f, 1f))
    create(1000, 150)
    val again = LayoutManifest.readData(sp, dir)
    assert(again.count() == 150)
    assert(VectorStore(again).getVector("v1007").toSeq == Seq(1007f, 1f))
    intercept[NoSuchElementException](VectorStore(again).getVector("v7"))
  }

  test("manifest index: readData equals spark.read.parquet of the live files in schema, rows and size") {
    val dir = bloomedLayout("equal")
    Layout.appendCommitted(keyed(800, 40), dir)
    val files = LayoutManifest.current(spark, dir).get.files
      .map(e => LayoutManifest.dataPath(dir, e.name))
    val ours = LayoutManifest.readData(spark, dir)
    val theirs = spark.read.parquet(files: _*)
    assert(ours.schema == theirs.schema)
    assert(ours.collect().map(_.toString).sorted.toSeq == theirs.collect().map(_.toString).sorted.toSeq)
    assert(ours.queryExecution.optimizedPlan.stats.sizeInBytes ==
      theirs.queryExecution.optimizedPlan.stats.sizeInBytes)
    def paths(df: DataFrame) = df.inputFiles.map(f => new java.net.URI(f).getPath).toSet
    assert(paths(ours) == paths(theirs) && paths(ours).size == files.size)
  }

  test("manifest index: explain names the layout, its version and live files; a lookup reads one file") {
    val dir = bloomedLayout("explain")
    val v = LayoutManifest.current(spark, dir).get.version
    val lookup = LayoutManifest.readData(spark, dir).filter(col("id") === "v12").select("embedding")
    val index = scanOf(lookup).relation.location
    val manifest = LayoutManifest.manifestPath(dir, v)
    assert(manifest.toString == s"$dir/_graft/manifest-$v.tsv")
    assert(index.toString == s"ManifestFileIndex[$dir v$v, 8 files]")
    assert(index.rootPaths.head == manifest)
    val plan = lookup.queryExecution.explainString(FormattedMode)
    assert(plan.contains(s"Location: ManifestFileIndex [$manifest, ... 8 entries]"), plan)
    assert(Bridge.collectUpTo(lookup, 1).map(_.length).contains(1))
    assert(scanOf(lookup).metrics("numFiles").value == 1)
  }

  // ---- write encoding: vector elements and the key skip the dictionary ----

  /** (every leaf column path, the paths whose chunks have a dictionary page) of `file`. */
  private def dictionaryPages(file: String): (Set[String], Set[String]) = {
    val r = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(file), spark.sparkContext.hadoopConfiguration))
    try {
      val chunks = r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
      (chunks.map(_.getPath.toDotString).toSet,
        chunks.filter(_.hasDictionaryPage).map(_.getPath.toDotString).toSet)
    } finally r.close()
  }

  /** `df` in one partition appended through appendCommitted to a fresh
    * layout committed over one row of it; the appended file.
    */
  private def appendedFile(name: String, df: DataFrame): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft_enc_$name").toString
    df.limit(1).write.mode("overwrite").parquet(dir)
    Layout.commitLayout(spark, dir, Seq("k"))
    Layout.appendCommitted(df.coalesce(1), dir)
    val added = LayoutManifest.current(spark, dir).get.files.map(_.name).filter(_.startsWith("ap"))
    assert(added.size == 1, s"appended files: $added")
    LayoutManifest.dataPath(dir, added.head)
  }

  /** 1k rows over 8 distinct `embedding` vectors and 10 distinct ids: values
    * that repeat enough for Parquet to keep a dictionary of its own accord.
    */
  private def repeating(elem: String): DataFrame =
    spark.range(1000).select(col("id").as("k"),
      (col("id") % 10).cast("string").as("id"),
      (col("id") % 3).cast("int").as("label"),
      transform(array((0 until 8).map(lit): _*),
        i => ((col("id") % 8) * 8 + i).cast(elem)).as("embedding"))

  test("appendCommitted writes repeating vector elements and ids without a dictionary page") {
    val (leaves, dict) = dictionaryPages(appendedFile("repeat", repeating("float")))
    assert(leaves.contains("embedding.list.element"), leaves)
    assert(!dict.contains("embedding.list.element") && !dict.contains("id"), dict)
    // a column outside the rule keeps Parquet's own choice
    assert(dict.contains("label"), dict)
  }

  test("under writeLegacyFormat an ARRAY<DOUBLE> vector's legacy leaf gets no dictionary page") {
    val key = "spark.sql.parquet.writeLegacyFormat"
    spark.conf.set(key, "true")
    val (leaves, dict) = try dictionaryPages(appendedFile("legacy", repeating("double")))
      finally spark.conf.unset(key)
    val vector = leaves.filter(_.startsWith("embedding."))
    assert(vector.size == 1 && vector != Set("embedding.list.element"), leaves)
    assert(dict.intersect(vector).isEmpty && dict.contains("label"), dict)
  }

  test("on store-shaped data appendCommitted writes the bytes of a plain write with the same bloom") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(101)
    val raw = (0 until 4000).map(i => (rnd.nextLong() >>> 16,
      Seq.fill(64)(rnd.nextGaussian().toFloat), s"""{"label": ${i % 10}}"""))
      .toDF("k", "embedding", "metadata")
    val store = VectorStore.ingest(raw, col("k"), col("embedding"), col("metadata"))
      .withColumn("k", col("id").cast("long"))
    val plain = java.nio.file.Files.createTempDirectory("graft_enc_plain").toString
    store.coalesce(1).write.mode("overwrite").options(Map(
        "parquet.bloom.filter.enabled#id" -> "true",
        "parquet.bloom.filter.adaptive.enabled" -> "true",
        "parquet.bloom.filter.candidates.number#id" -> "16"))
      .parquet(plain)
    val plainFile = new java.io.File(plain).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(plainFile.length == 1)
    def md5(f: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f))).toSeq
    val ours = appendedFile("store", store)
    assert(dictionaryPages(ours)._2.intersect(Set("id", "embedding.list.element")).isEmpty)
    assert(md5(ours) == md5(plainFile.head.getPath))
  }

  // ---- deletes by held ids ----

  /** `k` = 0 until 800 (and `nulls` rows whose `k` is null) with a payload
    * `v`, in 8 files range-clustered on `k`, committed with `k` spans.
    */
  private def deleteLayout(name: String, nulls: Int = 0): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft_del_$name").toString
    val rows = spark.range(800).select(col("id").as("k"), col("id").as("v"))
      .unionByName(spark.range(nulls).select(lit(null).cast("long").as("k"), (-col("id") - 1).as("v")))
    Layout.rangeCluster(rows, 8, "k").write.mode("overwrite").parquet(dir)
    Layout.commitLayout(spark, dir, Seq("k"))
    dir
  }

  test("deleteRows of 200 ids from a local frame on 8 committed files runs one job") {
    import testImplicits._
    val dir = deleteLayout("jobs")
    assert(LayoutManifest.current(spark, dir).get.files.size == 8)
    val tomb = (0L until 800L by 4).toDF("k")
    val ((total, rewritten, deleted), jobs) =
      JobCount(spark)(Layout.deleteRows(spark, dir, "k", tomb))
    assert((total, rewritten, deleted) == ((8, 8, 200L)))
    assert(jobs == 1, s"$jobs jobs for one delete")
    val live = LayoutManifest.readData(spark, dir).select("k").collect().map(_.getLong(0)).sorted
    assert(live.toSeq == (0L until 800L).filter(_ % 4 != 0))
  }

  test("deleteRows keeps null ids, and past the tombstone cap deletes the same rows by anti-join") {
    import testImplicits._
    val tombstones = Seq(
      "local" -> Seq(Some(3L), Some(3L), None, Some(401L), Some(799L), Some(5000L)).toDF("k"),
      "distributed" -> spark.range(0, 800, 7).select(col("id").as("k")))
    tombstones.foreach { case (what, tomb) =>
      val ids = tomb.collect().filterNot(_.isNullAt(0)).map(_.getLong(0)).toSet
      val want = (-5L to -1L).map(v => (None, v)) ++
        (0L until 800L).filterNot(ids).map(k => (Some(k), k))
      val rewrites = Seq(Layout.TombstoneCap, 2).map { cap =>
        val dir = deleteLayout(s"${what}_$cap", nulls = 5)
        val (total, rewritten, deleted) = Layout.deleteRowsUpTo(spark, dir, "k", tomb, cap)
        val live = LayoutManifest.readData(spark, dir).select("k", "v").collect()
          .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]), r.getLong(1))).sortBy(_._2)
        assert(live.toSeq == want, s"$what, cap $cap")
        assert(deleted == ids.count(_ < 800), s"$what, cap $cap")
        (total, rewritten)
      }
      // past the cap every file is rewritten; under it only the spanning ones
      assert(rewrites(1)._2 == rewrites(1)._1, s"$what: $rewrites")
      if (what == "local") assert(rewrites(0)._2 < rewrites(0)._1, s"$what: $rewrites")
    }
  }
}
