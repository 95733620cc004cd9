package graft

import graft.operators.AnnSearch
import graft.sources.VectorStore
import org.apache.spark.sql.functions._

/** Sign-LSH ANN behavioral contracts + recall measurement against the exact
  * brute-force ranking on the driver testdata.
  */
class AnnSearchSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("bucketCol (distributed) agrees with bucketOf (driver) on real vectors") {
    val planes = AnnSearch.hyperplanes(dim = 64)
    val df = spark.read.parquet(s"$dir/embeddings.parquet").limit(20)
    val rows = AnnSearch.index(df, col("embedding"), planes)
      .select(col("vec_id"), col("bucket"), col("embedding")).collect()
    rows.foreach { r =>
      val v = r.getSeq[Float](2)
      assert(r.getAs[Int]("bucket") == AnnSearch.bucketOf(v, planes))
    }
  }

  test("hyperplanes are deterministic and in [-1,1)") {
    val a = AnnSearch.hyperplanes(8, 4)
    val b = AnnSearch.hyperplanes(8, 4)
    assert(a == b)
    assert(a.flatten.forall(x => x >= -1.0 && x < 1.0))
  }

  test("planesHash: the fingerprint committed manifests store is fixed") {
    // layouts on disk record this value as planes_hash; a fold that changed
    // it would make every committed LSH layout fail its identity check
    assert(AnnSearch.planesHash(AnnSearch.hyperplanes(8, 6)) == "f982275f0e38799b")
  }

  test("probeBuckets: self plus Hamming-1 neighbors") {
    assert(AnnSearch.probeBuckets(0, 3).toSet == Set(0, 1, 2, 4))
    assert(AnnSearch.probeBuckets(5, 3).toSet == Set(5, 4, 7, 1))
    assert(AnnSearch.probeBuckets(0, 3, radius = 2).toSet == Set(0, 1, 2, 4, 3, 5, 6))
  }

  test("xorMasks: combination enumeration matches the popcount filter") {
    for (bits <- 1 to 12; radius <- 0 to 3) {
      val filtered = (0 until (1 << bits)).filter(Integer.bitCount(_) <= radius)
      assert(AnnSearch.xorMasks(bits, radius) == filtered,
        s"bits=$bits radius=$radius")
    }
    // at the planesFor ceiling the old filter form would walk 2^30 ints;
    // the combination form must stay cheap and correctly sized
    val wide = AnnSearch.xorMasks(30, 2)
    assert(wide.size == 1 + 30 + 30 * 29 / 2)
    assert(wide.head == 0 && wide == wide.sorted)
  }

  test("planesFor: occupancy-held dial with clamps") {
    // n/2^b <= target just barely: b = ceil(log2(n/target))
    assert(AnnSearch.planesFor(256, targetOccupancy = 256) == 4)  // floor clamp
    assert(AnnSearch.planesFor(256 * 1024, targetOccupancy = 256) == 10)
    assert(AnnSearch.planesFor(256 * 1024 + 1, targetOccupancy = 256) == 11)
    assert(AnnSearch.planesFor(100000000000L, targetOccupancy = 256) == 29) // 1e11 vectors
    assert(AnnSearch.planesFor(Long.MaxValue) == 30)              // ceiling clamp
    assert(AnnSearch.planesFor(0) == 4)
    // 10x the data at a held target adds ~log2(10) = 3-4 planes
    val b1 = AnnSearch.planesFor(1000000, targetOccupancy = 64)
    val b2 = AnnSearch.planesFor(10000000, targetOccupancy = 64)
    assert(b2 - b1 >= 3 && b2 - b1 <= 4)
  }

  test("searchClustered: equals search() on the full index; the probe set prunes files") {
    import graft.sources.Layout
    val embs = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = VectorStore.fromEmbeddingsTable(spark, dir).getVector("0").toSeq
    val tmp = java.nio.file.Files.createTempDirectory("graft_ann_clust").toString
    // result parity at the oracled dials (6 planes, radius 2)
    val planes = AnnSearch.hyperplanes(dim = 64)
    AnnSearch.clusteredWrite(embs, col("embedding"), planes, tmp, numFiles = 8)
    val manifest = AnnSearch.loadManifest(spark, tmp)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), BigDecimal(r.getDouble(1))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)))
    val got = rows(AnnSearch.searchClustered(spark, tmp, manifest,
      col("vec_id").cast("string"), col("embedding"), q, planes,
      k = 10, probeRadius = 2))
    val want = rows(AnnSearch.search(
      AnnSearch.index(embs, col("embedding"), planes),
      col("vec_id").cast("string"), col("embedding"), q, planes,
      k = 10, probeRadius = 2))
    assert(got.toSeq == want.toSeq)
    // pruning evidence needs probes < files (each probe bucket lands in at
    // most 2 range-partitioned file spans): 10 planes radius 1 = 11 probes
    // against 32 files must leave files unread
    val planes10 = AnnSearch.hyperplanes(dim = 64, numPlanes = 10)
    val tmp10 = java.nio.file.Files.createTempDirectory("graft_ann_clust10").toString
    AnnSearch.clusteredWrite(embs, col("embedding"), planes10, tmp10, numFiles = 32)
    val man10 = AnnSearch.loadManifest(spark, tmp10)
    val totalFiles = man10.files.size
    val probes = AnnSearch
      .probeBuckets(AnnSearch.bucketOf(q, planes10), 10, radius = 1)
      .map(_.toLong)
    val readFiles = Layout.prunedReadIn(spark, tmp10, man10, "bucket", probes)
      .select(col("_metadata.file_path")).distinct().count()
    assert(readFiles >= 1 && readFiles <= 2L * probes.size,
      s"read $readFiles of $totalFiles files")
    assert(readFiles < totalFiles,
      s"probe read must skip files: read $readFiles of $totalFiles")
    // and the pruned+filtered result still equals the full-index search
    val got10 = rows(AnnSearch.searchClustered(spark, tmp10, man10,
      col("vec_id").cast("string"), col("embedding"), q, planes10,
      k = 10, probeRadius = 1))
    val want10 = rows(AnnSearch.search(
      AnnSearch.index(embs, col("embedding"), planes10),
      col("vec_id").cast("string"), col("embedding"), q, planes10,
      k = 10, probeRadius = 1))
    assert(got10.toSeq == want10.toSeq)
  }

  test("searchClusteredBatch: equals searchBatch on the full index; union probe set prunes files") {
    import graft.sources.Layout
    val embs = spark.read.parquet(s"$dir/embeddings.parquet")
    val planes = AnnSearch.hyperplanes(dim = 64, numPlanes = 10)
    val tmp = java.nio.file.Files.createTempDirectory("graft_ann_cb").toString
    AnnSearch.clusteredWrite(embs, col("embedding"), planes, tmp, numFiles = 32)
    val man = AnnSearch.loadManifest(spark, tmp)
    val qs = embs.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("query_id"), col("rank"), col("id"),
        round(col("score"), 6).as("score"))
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(3))).toSeq
    val got = rows(AnnSearch.searchClusteredBatch(spark, tmp, man,
      col("vec_id").cast("string"), col("embedding"), qs, planes,
      k = 5, probeRadius = 1))
    val want = rows(AnnSearch.searchBatch(
      AnnSearch.index(embs, col("embedding"), planes),
      col("vec_id").cast("string"), col("embedding"), qs, planes,
      k = 5, probeRadius = 1))
    assert(got == want && got.nonEmpty)
    // 3 queries x 11 probes (radius 1) = <= 33 buckets -> <= 66 of 32 is
    // vacuous; but the UNION dedups and the spans are contiguous, so the
    // pruned read must still skip at least some of the 32 files
    val probeUnion = qs.collect().flatMap { r =>
      AnnSearch.probeBuckets(
        AnnSearch.bucketOf(r.getSeq[Float](1), planes), 10, radius = 1)
    }.distinct.toSeq.map(_.toLong)
    val readFiles = Layout.prunedReadIn(spark, tmp, man, "bucket", probeUnion)
      .select(col("_metadata.file_path")).distinct().count()
    assert(readFiles < man.files.size,
      s"batch probe read must skip files: read $readFiles of ${man.files.size}")
  }

  test("deleteVectors: bucket-membership prune rewrites few files; survivors equal the filtered twin") {
    val embs = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = VectorStore.fromEmbeddingsTable(spark, dir).getVector("0").toSeq
    // 10 planes / 32 files so 5 tombstone buckets can only span <= 10 files
    val planes = AnnSearch.hyperplanes(dim = 64, numPlanes = 10)
    val tmp = java.nio.file.Files.createTempDirectory("graft_ann_forget").toString
    AnnSearch.clusteredWrite(embs, col("embedding"), planes, tmp, numFiles = 32)
    val tombIds = Seq(3L, 7L, 11L, 19L, 42L)
    val tomb = embs.filter(col("vec_id").isin(tombIds: _*))
      .select(col("vec_id"), col("embedding"))
    val (total, rewritten, deleted) =
      AnnSearch.deleteVectors(spark, tmp, "vec_id", tomb, planes)
    assert(deleted == 5L, s"deleted=$deleted")
    assert(rewritten >= 1 && rewritten <= 10,
      s"bucket prune must bound the rewrite: $rewritten of $total files")
    assert(spark.read.parquet(tmp).filter(col("vec_id").isin(tombIds: _*)).count() == 0)
    // the surviving index still answers searches exactly like a fresh
    // index over the corpus minus the tombstones (the delete committed
    // the new manifest with bucket spans for the rewritten files)
    val man = AnnSearch.loadManifest(spark, tmp)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), BigDecimal(r.getDouble(1))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP))).toSeq
    val got = rows(AnnSearch.searchClustered(spark, tmp, man,
      col("vec_id").cast("string"), col("embedding"), q, planes,
      k = 10, probeRadius = 2))
    val want = rows(AnnSearch.search(
      AnnSearch.index(embs.filter(!col("vec_id").isin(tombIds: _*)),
        col("embedding"), planes),
      col("vec_id").cast("string"), col("embedding"), q, planes,
      k = 10, probeRadius = 2))
    assert(got == want)
  }

  test("prunedReadIn: membership prune keeps exactly the spanned files; empty probe set reads nothing") {
    import graft.sources.Layout
    val sp = spark
    import sp.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_pruned_in").toString
    // EVEN buckets 0..198 across 4 range-partitioned files, so odd probe
    // values are absent from the data but inside some file's span
    sp.range(100).select((col("id") * 2).as("bucket"), col("id").as("v"))
      .repartitionByRange(4, col("bucket")).sortWithinPartitions("bucket")
      .write.mode("overwrite").parquet(tmp)
    val man = graft.sources.LayoutManifest.bootstrap(sp, tmp, Seq("bucket"))
    assert(man.files.size == 4)
    // two present values far apart: exactly their two files read
    val hit = Layout.prunedReadIn(sp, tmp, man, "bucket", Seq(4L, 154L))
    val spans = hit.select(col("_metadata.file_path")).distinct().count()
    assert(spans == 2)
    assert(hit.filter(col("bucket").isin(4L, 154L)).count() == 2)
    // an absent value inside a span still keeps its covering file (no
    // false negatives; the caller's row-level predicate then drops it)
    val cover = Layout.prunedReadIn(sp, tmp, man, "bucket", Seq(27L))
    assert(cover.select(col("_metadata.file_path")).distinct().count() == 1)
    assert(cover.filter(col("bucket") === 27L).count() == 0)
    // no value in any span: zero files, schema preserved
    val none = Layout.prunedReadIn(sp, tmp, man, "bucket", Seq(999L))
    assert(none.count() == 0 && none.columns.toSeq == Seq("bucket", "v"))
  }

  test("ANN search: recall@10 grows with probe radius; scores stay exact") {
    val store = VectorStore.fromEmbeddingsTable(spark, dir)
    val q = store.getVector("0").toSeq
    val planes = AnnSearch.hyperplanes(dim = 64)
    val indexed = AnnSearch.index(
      spark.read.parquet(s"$dir/embeddings.parquet"), col("embedding"), planes)
    val exact = graft.operators.Search.findMostSimilar(store, q, k = 10)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    def recallAt(radius: Int): Double = {
      val ann = AnnSearch.search(indexed, col("vec_id").cast("string"), col("embedding"),
        q, planes, k = 10, probeRadius = radius).collect()
      // returned scores must equal the exact cosine (ANN prunes, never rescores)
      ann.foreach(r => exact.get(r.getString(0)).foreach(s => assert(math.abs(s - r.getDouble(1)) < 1e-12)))
      ann.map(_.getString(0)).count(exact.contains).toDouble / exact.size
    }
    val r1 = recallAt(1); val r2 = recallAt(2); val r6 = recallAt(6)
    info(s"recall@10: radius1=$r1 radius2=$r2 radius6(full scan)=$r6")
    // this corpus is near-orthogonal random noise — the weakest case for
    // sign-LSH — so only monotonicity and the exhaustive limit are stable
    assert(r1 <= r2 + 1e-9 && r2 <= r6 + 1e-9)
    assert(r6 == 1.0, "radius = numPlanes probes every bucket ⇒ exact")
    assert(r2 >= 0.2)
  }

  test("searchBatch: per-query results equal single-query search; full radius equals exact batch") {
    import graft.operators.Search
    val planes = AnnSearch.hyperplanes(dim = 64)
    val embs = spark.read.parquet(s"$dir/embeddings.parquet")
    val indexed = AnnSearch.index(embs, col("embedding"), planes)
    val store = VectorStore.fromEmbeddingsTable(spark, dir)
    val qs = embs.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    // radius-2 batch == three single searches at radius 2
    val batch = AnnSearch.searchBatch(indexed, col("vec_id").cast("string"),
        col("embedding"), qs, planes, k = 5, probeRadius = 2)
      .select(col("query_id"), col("id"), round(col("score"), 6).as("s"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    val singles = (0L until 3L).flatMap { qid =>
      val q = store.getVector(qid.toString).toSeq
      AnnSearch.search(indexed, col("vec_id").cast("string"), col("embedding"),
          q, planes, k = 5, probeRadius = 2)
        .select(col("id"), round(col("score"), 6).as("s"))
        .collect().map(r => (qid, r.getString(0), r.getDouble(1)))
    }.toSet
    assert(batch == singles)
    // full-radius batch degrades to the exact batch path
    val full = AnnSearch.searchBatch(indexed, col("vec_id").cast("string"),
        col("embedding"), qs, planes, k = 5, probeRadius = planes.length)
      .select(col("query_id"), col("rank"), col("id"), round(col("score"), 6).as("s"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(3))).toSet
    val exact = Search.findMostSimilarBatch(store, qs, k = 5)
      .select(col("query_id"), col("rank"), col("id"), round(col("score"), 6).as("s"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(3))).toSet
    assert(full == exact)
    // plan: bucket equi-join broadcast + GroupTopK partial before the exchange
    val plan = AnnSearch.searchBatch(indexed, col("vec_id").cast("string"),
        col("embedding"), qs, planes, k = 5, probeRadius = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"bucket join must broadcast:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"probe join must be an equi-join, not a BNLJ:\n$plan")
    assert(plan.contains("GroupTopK"), s"per-query top-k must use the heap operator:\n$plan")
  }

  test("bucket pruning actually reduces the scanned fraction") {
    val planes = AnnSearch.hyperplanes(dim = 64)
    val indexed = AnnSearch.index(
      spark.read.parquet(s"$dir/embeddings.parquet"), col("embedding"), planes)
    val store = VectorStore.fromEmbeddingsTable(spark, dir)
    val q = store.getVector("0").toSeq
    val probes = AnnSearch.probeBuckets(AnnSearch.bucketOf(q, planes), planes.length)
    val scanned = indexed.filter(col("bucket").isin(probes: _*)).count()
    val total = indexed.count()
    info(s"scanned $scanned of $total")
    assert(scanned < total)
  }

  test("clusteredWrite commits index identity; searchClusteredAt resolves it; wrong planes fail loudly") {
    import graft.sources.LayoutManifest
    val embs = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = VectorStore.fromEmbeddingsTable(spark, dir).getVector("0").toSeq
    val planes = AnnSearch.hyperplanes(dim = 64)
    val tmp = java.nio.file.Files.createTempDirectory("graft_ann_mfst").toString
    AnnSearch.clusteredWrite(embs, col("embedding"), planes, tmp, numFiles = 8)
    val m = LayoutManifest.current(spark, tmp).get
    assert(m.props("planes_n") == "6")
    assert(m.props("planes_hash") == AnnSearch.planesHash(planes))
    assert(m.files.size == 8 && m.totalRows == embs.count())
    // the manifest-resolved search equals one over spans re-derived from
    // the directory
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), BigDecimal(r.getDouble(1))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP))).toSeq
    val got = rows(AnnSearch.searchClusteredAt(spark, tmp,
      col("vec_id").cast("string"), col("embedding"), q, planes,
      k = 10, probeRadius = 2))
    val want = rows(AnnSearch.searchClustered(spark, tmp,
      LayoutManifest.bootstrap(spark, tmp, Seq("bucket")),
      col("vec_id").cast("string"), col("embedding"), q, planes,
      k = 10, probeRadius = 2))
    assert(got == want)
    // ADVICE r7: a delete with DIFFERENT planes (count or seed) must fail
    // loudly — silently pruning the wrong files would let tombstones survive
    val tomb = embs.filter(col("vec_id") === 3L).select(col("vec_id"), col("embedding"))
    val wrongCount = AnnSearch.hyperplanes(dim = 64, numPlanes = 8)
    val eCount = intercept[IllegalArgumentException] {
      AnnSearch.deleteVectors(spark, tmp, "vec_id", tomb, wrongCount)
    }
    assert(eCount.getMessage.contains("plane mismatch"))
    val wrongSeed = AnnSearch.hyperplanes(dim = 64, numPlanes = 6, seed = 99L)
    intercept[IllegalArgumentException] {
      AnnSearch.searchClusteredAt(spark, tmp, col("vec_id").cast("string"),
        col("embedding"), q, wrongSeed, k = 10, probeRadius = 2)
    }
    // the write-time planes pass, and the manifest version advances
    val (_, _, deleted) = AnnSearch.deleteVectors(spark, tmp, "vec_id", tomb, planes)
    assert(deleted == 1L)
    assert(LayoutManifest.current(spark, tmp).get.version > m.version)
    assert(LayoutManifest.readData(spark, tmp)
      .filter(col("vec_id") === 3L).count() == 0)
  }

  test("searchClusteredBatch: probe union is computed column-side and tolerates DOUBLE query vectors") {
    val embs = spark.read.parquet(s"$dir/embeddings.parquet")
    val planes = AnnSearch.hyperplanes(dim = 64, numPlanes = 10)
    val tmp = java.nio.file.Files.createTempDirectory("graft_ann_cbd").toString
    AnnSearch.clusteredWrite(embs, col("embedding"), planes, tmp, numFiles = 32)
    val man = AnnSearch.loadManifest(spark, tmp)
    val qsF = embs.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    // ADVICE r7: an array<double> batch crashed the old driver-side
    // getSeq[Float]; the column-side union must accept any numeric array
    val qsD = qsF.select(col("query_id"),
      col("query_vec").cast("array<double>").as("query_vec"))
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("query_id"), col("rank"), col("id"),
        round(col("score"), 6).as("score"))
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(3))).toSeq
    val gotD = rows(AnnSearch.searchClusteredBatch(spark, tmp, man,
      col("vec_id").cast("string"), col("embedding"), qsD, planes,
      k = 5, probeRadius = 1))
    val gotF = rows(AnnSearch.searchClusteredBatch(spark, tmp, man,
      col("vec_id").cast("string"), col("embedding"), qsF, planes,
      k = 5, probeRadius = 1))
    assert(gotD == gotF && gotF.nonEmpty)
  }

  test("forget by bare ids: bloom sidecar bounds the rewrite where span prunes cannot; sidecar maintained across the commit") {
    import graft.sources.{Layout, LayoutManifest}
    val sp = spark
    import sp.implicits._
    val embs = sp.read.parquet(s"$dir/embeddings.parquet")
    val planes = AnnSearch.hyperplanes(dim = 64, numPlanes = 10)
    val tmp = java.nio.file.Files.createTempDirectory("graft_forget_id").toString
    AnnSearch.clusteredWrite(embs, col("embedding"), planes, tmp, numFiles = 32)
    Layout.writeBloomSidecar(sp, tmp, "vec_id")
    // mix64 column/driver twin agreement (the probe contract)
    val fps = embs.limit(20)
      .select(col("vec_id"), graft.functions.Bloom.mix64Col(col("vec_id")))
      .collect()
    fps.foreach(r => assert(r.getLong(1) == graft.functions.Bloom.mix64(r.getLong(0))))
    // on this bucket-clustered layout the id spans are near-total: a span
    // prune would mark essentially every file affected — the bloom prune
    // must name only the true holders plus fpp noise
    val spanAffected = LayoutManifest.bootstrap(sp, tmp, Seq("vec_id")).files
      .count { e => val (lo, hi) = e.stats("vec_id"); lo <= 44L && hi >= 5L }
    val tombIds = Seq(5L, 13L, 21L, 33L, 44L)
    val bloomAffected = Layout.bloomPrunedFiles(sp, tmp, "vec_id", tombIds).length
    assert(spanAffected >= 24, s"span prune must be useless here: $spanAffected of 32")
    assert(bloomAffected <= 10, s"bloom prune must be tight: $bloomAffected of 32")
    // the delete itself: bounded rewrite, exact survivors, no false negatives
    val (total, rewritten, deleted) =
      AnnSearch.deleteVectorsById(sp, tmp, "vec_id", tombIds.toDF("vec_id"))
    assert(total == 32 && deleted == 5L && rewritten == bloomAffected)
    val live = LayoutManifest.readData(sp, tmp)
    assert(live.filter(col("vec_id").isin(tombIds: _*)).count() == 0)
    assert(live.count() == embs.count() - 5)
    // the sidecar was maintained for the NEW version: a second bare-id
    // delete works without a rebuild, and probing a deleted id misses
    val (_, rw2, d2) =
      AnnSearch.deleteVectorsById(sp, tmp, "vec_id", Seq(60L).toDF("vec_id"))
    assert(d2 == 1L && rw2 >= 1)
    assert(LayoutManifest.readData(sp, tmp).count() == embs.count() - 6)
    // deleting an absent id is a metadata-or-fpp-only touch, never data loss
    val before = LayoutManifest.readData(sp, tmp).count()
    val (_, _, d3) = AnnSearch.deleteVectorsById(sp, tmp, "vec_id",
      Seq(99999999L).toDF("vec_id"))
    assert(d3 == 0L && LayoutManifest.readData(sp, tmp).count() == before)
  }

  test("rebuild-and-cutover: 10x growth under clustered maintenance, re-dial restores occupancy, search parity holds") {
    import graft.sources.LayoutManifest
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val embs = sp.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val n0 = embs.count()
    val q = VectorStore.fromEmbeddingsTable(spark, dir).getVector("0").toSeq
    // initial write at the dial for n0
    val target = 32L
    val planes0 = AnnSearch.hyperplanesFor(64, n0, target)
    val tmp = java.nio.file.Files.createTempDirectory("graft_ann_rebuild").toString
    AnnSearch.clusteredWrite(embs, col("embedding"), planes0, tmp, numFiles = 8)

    // grow the corpus 10x under streaming maintenance (manifest-committed
    // appends; same vectors re-keyed — the distribution a live feed has)
    val in = MemoryStream[(Long, Seq[Float])]
    val mq = graft.streaming.Streaming.startClusteredAnnIndexMaintenance(
      in.toDF().toDF("vec_id", "embedding"), planes0, tmp,
      java.nio.file.Files.createTempDirectory("graft_ann_rb_ck").toString)
    try {
      val base = embs.collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
      (1 to 9).foreach { rep =>
        in.addData(base.map { case (id, v) => (id + rep * 1000000L, v) }.toSeq)
        mq.processAllAvailable()
      }
    } finally mq.stop()
    val grown = LayoutManifest.current(sp, tmp).get
    assert(grown.totalRows == 10 * n0, s"growth landed: ${grown.totalRows}")

    // the stale dial's occupancy has fattened ~10x
    def maxOccupancy(): Long = LayoutManifest.readData(sp, tmp)
      .groupBy("bucket").count().agg(max("count")).head().getLong(0)
    val occStale = maxOccupancy()

    // rebuild-and-cutover: dial recomputed from the LIVE manifest count
    val planes1 = AnnSearch.rebuildClusteredAuto(sp, tmp, "embedding",
      dim = 64, targetOccupancy = target, rowsPerFile = n0)
    assert(planes1.length == AnnSearch.planesFor(10 * n0, target))
    assert(planes1.length > planes0.length, "the dial must grow with the corpus")
    // same seeded stream: the new planes EXTEND the old (buckets split, not reshuffled)
    assert(planes1.take(planes0.length) == planes0)
    val m1 = LayoutManifest.current(sp, tmp).get
    assert(m1.props("planes_n") == planes1.length.toString)
    assert(m1.props("planes_hash") == AnnSearch.planesHash(planes1))
    assert(m1.totalRows == 10 * n0, "cutover loses nothing")

    // occupancy restored: the split spreads the 10x corpus back down
    val occRebuilt = maxOccupancy()
    assert(occRebuilt * 2 <= occStale,
      s"rebuild must cut occupancy: stale=$occStale rebuilt=$occRebuilt")

    // search parity: the rebuilt layout's probe search equals the same
    // search over a fresh in-memory index at the new dial — and the old
    // planes are now rejected
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), BigDecimal(r.getDouble(1))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP))).toSeq
    val got = rows(AnnSearch.searchClusteredAt(sp, tmp,
      col("vec_id").cast("string"), col("embedding"), q, planes1,
      k = 10, probeRadius = 2))
    val want = rows(AnnSearch.search(
      AnnSearch.index(LayoutManifest.readData(sp, tmp).drop("bucket"),
        col("embedding"), planes1),
      col("vec_id").cast("string"), col("embedding"), q, planes1,
      k = 10, probeRadius = 2))
    assert(got == want && got.size == 10)
    intercept[IllegalArgumentException] {
      AnnSearch.searchClusteredAt(sp, tmp, col("vec_id").cast("string"),
        col("embedding"), q, planes0, k = 10, probeRadius = 2)
    }
  }
}
