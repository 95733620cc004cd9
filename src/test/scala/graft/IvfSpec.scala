package graft

import graft.operators.{IvfSearch, Search}
import graft.sources.VectorStore
import org.apache.spark.sql.functions._

/** IVF ANN behavioral pins: assignment totality, full-probe exactness,
  * k-means training plumbing, and partition pruning of the probe filter once
  * the index is persisted by list.
  */
class IvfSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private lazy val embs = spark.read.parquet(s"$dir/embeddings.parquet")
  private lazy val cents =
    IvfSearch.centroidsFromIds(embs, col("vec_id"), col("embedding"), c = 16)
  private lazy val query: Seq[Float] =
    VectorStore.fromEmbeddingsTable(spark, dir).getVector("0").toSeq

  test("every vector lands in exactly one known inverted list") {
    val indexed = IvfSearch.index(embs, col("embedding"), cents)
    val lists = indexed.groupBy("list_id").count().collect()
    assert(lists.map(_.getLong(1)).sum == embs.count())
    val known = cents.map(_.cid).toSet
    assert(lists.map(_.getLong(0)).forall(known.contains))
  }

  test("centroidsHash: the fingerprint committed manifests store is fixed") {
    // layouts on disk record this value as centroids_hash; a fold that
    // changed it would make every committed IVF layout fail its identity check
    import testImplicits._
    val rnd = new scala.util.Random(11)
    val frame = (0L until 12L).map(i => (i, Seq.fill(4)(rnd.nextFloat()))).toDF("id", "v")
    val cents3 = IvfSearch.centroidsFromIds(frame, col("id"), col("v"), c = 3)
    assert(IvfSearch.centroidsHash(cents3) == "7a9f67a8720373b5")
  }

  test("a centroid's own vector is assigned to its list") {
    val indexed = IvfSearch.index(embs, col("embedding"), cents)
    val own = indexed.filter(col("vec_id") === 5L).select("list_id").head().getLong(0)
    assert(own == 5L)
  }

  test("probing every list reproduces the exact top-k") {
    val indexed = IvfSearch.index(embs, col("embedding"), cents)
    val approx = IvfSearch.search(indexed, col("vec_id").cast("string"),
        col("embedding"), query, cents, k = 10, nprobe = cents.size)
      .select("id").collect().map(_.getString(0)).toSeq
    val exact = Search.findMostSimilar(
        VectorStore.fromEmbeddingsTable(spark, dir), query, k = 10)
      .select("id").collect().map(_.getString(0)).toSeq
    assert(approx == exact)
  }

  test("k-means training keeps list count and search still returns k") {
    val trained = IvfSearch.train(embs, col("vec_id"), col("embedding"), c = 8, iters = 2)
    assert(trained.size == 8)
    assert(trained.map(_.vec.length).distinct == Seq(64))
    val indexed = IvfSearch.index(embs, col("embedding"), trained)
    val hits = IvfSearch.search(indexed, col("vec_id").cast("string"),
      col("embedding"), query, trained, k = 5, nprobe = 3).collect()
    assert(hits.length == 5)
  }

  test("vectorMean aggregator: element-wise mean with partial aggregation") {
    import testImplicits._
    val df = Seq((0L, Seq(1f, 2f)), (0L, Seq(3f, 4f)), (1L, Seq(10f, 20f)))
      .toDF("g", "v").repartition(4)
    val got = df.groupBy("g")
      .agg(graft.functions.VectorAggs.vectorMean(col("v")).as("m"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(got(0L) == Seq(2.0, 3.0))
    assert(got(1L) == Seq(10.0, 20.0))
    // partial (map-side) aggregation shows up as two HashAggregate phases
    val plan = df.groupBy("g")
      .agg(graft.functions.VectorAggs.vectorMean(col("v")).as("m"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_"), s"expected map-side partial agg:\n$plan")
  }

  test("persisted by list_id, the probe filter prunes partitions") {
    val tmp = System.getProperty("java.io.tmpdir") + "/graft_ivf_part"
    IvfSearch.index(embs, col("embedding"), cents)
      .write.mode("overwrite").partitionBy("list_id").parquet(tmp)
    val reread = spark.read.parquet(tmp)
    val probed = IvfSearch.search(reread, col("vec_id").cast("string"),
      col("embedding"), query, cents, k = 5, nprobe = 2)
    val scan = probed.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("list_id"),
      s"expected list_id partition pruning in:\n$scan")
  }

  test("searchClustered: equals search() on the full index; nprobe lists prune files") {
    import graft.sources.Layout
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivf_clust").toString
    IvfSearch.clusteredWrite(embs, col("embedding"), cents, tmp, numFiles = 8)
    val man = graft.sources.LayoutManifest.current(spark, tmp).get
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), BigDecimal(r.getDouble(1))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP))).toSeq
    val got = rows(IvfSearch.searchClustered(spark, tmp, man,
      col("vec_id").cast("string"), col("embedding"), query, cents,
      k = 10, nprobe = 4))
    val want = rows(IvfSearch.search(
      IvfSearch.index(embs, col("embedding"), cents),
      col("vec_id").cast("string"), col("embedding"), query, cents,
      k = 10, nprobe = 4))
    assert(got == want && got.size == 10)
    // 4 probed lists against 8 files covering 16 lists (~2 per file): the
    // read must schedule at most 2 files per probe and skip the rest
    val probes = IvfSearch.probeLists(query, cents, nprobe = 4)
    val readFiles = Layout.prunedReadIn(spark, tmp, man, "list_id", probes)
      .select(col("_metadata.file_path")).distinct().count()
    assert(readFiles >= 1 && readFiles <= 2L * probes.size)
    assert(readFiles < man.files.size,
      s"probe read must skip files: read $readFiles of ${man.files.size}")
  }

  test("rebuild-and-cutover: retrained quantizer swaps in one commit; stale centroids fail loudly") {
    import graft.sources.LayoutManifest
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivf_rebuild").toString
    // initial write with a deliberately coarse quantizer (c=4)
    val cents4 = IvfSearch.centroidsFromIds(embs, col("vec_id"), col("embedding"), c = 4)
    IvfSearch.clusteredWrite(embs, col("embedding"), cents4, tmp, numFiles = 8)
    val m0 = LayoutManifest.current(spark, tmp).get
    assert(m0.props("ivf_c") == "4")
    assert(m0.props("centroids_hash") == IvfSearch.centroidsHash(cents4))
    // rebuild at c=16 with Lloyd refinement — the quantizer-drift cutover
    val cents16 = IvfSearch.rebuildClustered(spark, tmp, "vec_id", "embedding",
      c = 16, trainIters = 2, numFiles = 8)
    assert(cents16.length == 16)
    val m1 = LayoutManifest.current(spark, tmp).get
    assert(m1.version > m0.version && m1.props("ivf_c") == "16")
    assert(m1.totalRows == embs.count(), "cutover loses nothing")
    // parity: the rebuilt layout's probe search equals the same search over
    // a fresh in-memory index at the retrained quantizer
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), BigDecimal(r.getDouble(1))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP))).toSeq
    val got = rows(IvfSearch.searchClusteredAt(spark, tmp,
      col("vec_id").cast("string"), col("embedding"), query, cents16,
      k = 10, nprobe = 4))
    val want = rows(IvfSearch.search(
      IvfSearch.index(embs, col("embedding"), cents16),
      col("vec_id").cast("string"), col("embedding"), query, cents16,
      k = 10, nprobe = 4))
    assert(got == want && got.size == 10)
    // probing with the RETIRED quantizer reads the wrong lists — rejected
    val e = intercept[IllegalArgumentException] {
      IvfSearch.searchClusteredAt(spark, tmp, col("vec_id").cast("string"),
        col("embedding"), query, cents4, k = 10, nprobe = 4)
    }
    assert(e.getMessage.contains("centroid mismatch"))
  }

  test("lloydStep: counts cover the corpus and a cluster mean is the member mean") {
    val step = IvfSearch.lloydStep(embs, col("vec_id"), col("embedding"), c = 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getSeq[Double](2))).toMap
    assert(step.values.map(_._1).sum == embs.count())
    // hand-recompute cluster 0's mean from the assignment the index applies
    val cents8 = IvfSearch.centroidsFromIds(embs, col("vec_id"), col("embedding"), c = 8)
    val members = IvfSearch.index(embs, col("embedding"), cents8)
      .filter(col("list_id") === 0L)
      .select(col("embedding")).collect().map(_.getSeq[Float](0))
    val want = Array.tabulate(64)(i =>
      members.map(_(i).toDouble).sum / members.length)
    val got = step(0L)._2
    assert(step(0L)._1 == members.length.toLong)
    assert(want.indices.forall(i => math.abs(got(i) - want(i)) < 1e-9))
  }
}
