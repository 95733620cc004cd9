package graft

import graft.operators._
import graft.sources.VectorStore
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** A warm process compiles no code for a serving request that differs from
  * an earlier one only in its values: the id, the filter constants and the
  * query vector reach generated code as references, never as inlined
  * literals. Each case runs request A twice (the second run is warm on both
  * the driver and the task side; Spark caches a class per class loader),
  * then request B, and counts the classes Spark compiles while B runs. B's
  * result is checked against a brute-force answer computed here.
  */
class WarmCompileSpec extends SparkSpec {
  import MetaValue._

  private val n = 300
  private val dim = 16

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Runs `a` twice, then `b`; returns `b`'s result and the compiles it caused. */
  private def warmThen[T](a: => T, b: => T): (T, Long) = {
    a; a
    val before = compiles
    val got = b
    (got, compiles - before)
  }

  private val vecs: IndexedSeq[Array[Float]] = {
    val rnd = new scala.util.Random(7)
    IndexedSeq.fill(n)(Array.fill(dim)(rnd.nextGaussian().toFloat))
  }
  private def label(i: Int) = i % 7
  private def value(i: Int) = (i * 37) % 100
  private def name(i: Int) = f"n$i%03d"

  private def query(seed: Int): Seq[Float] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(dim)(rnd.nextGaussian().toFloat)
  }

  // the kernels' left-to-right double folds, so scores compare exactly
  private def dot(a: Seq[Double], b: Seq[Double]): Double =
    a.indices.foldLeft(0.0)((s, i) => s + a(i) * b(i))
  private def cosine(i: Int, q: Seq[Float]): Double = {
    val (v, qd) = (vecs(i).toSeq.map(_.toDouble), q.map(_.toDouble))
    dot(v, qd) / (math.sqrt(dot(v, v)) * math.sqrt(dot(qd, qd)))
  }

  /** Exact top-k by cosine over `candidates`, ties on id, as (id, score). */
  private def exactTopK(candidates: Seq[Int], q: Seq[Float], k: Int): Seq[(String, Double)] =
    candidates.map(i => (i.toString, cosine(i, q)))
      .sortBy { case (id, s) => (-s, id) }.take(k)

  /** Two-stage reference: the `rerank` best by `approx` (ties on id), then
    * exact top-k.
    */
  private def rerankTopK(approx: Int => Double, rerank: Int, q: Seq[Float], k: Int): Seq[(String, Double)] =
    exactTopK((0 until n).sortBy(i => (approx(i), i.toString)).take(rerank), q, k)

  private def rows(df: DataFrame): Seq[(String, Double)] =
    df.select(col("id"), col("score")).collect().toSeq.map(r => (r.getString(0), r.getDouble(1)))

  private lazy val dir = java.nio.file.Files.createTempDirectory("graft_warm").toString

  private lazy val store: VectorStore = {
    val sp = spark
    import sp.implicits._
    val raw = (0 until n).map { i =>
      (i.toString, vecs(i).toSeq,
        s"""{"label": ${label(i)}, "value": ${value(i)}, "name": "${name(i)}"}""")
    }.toDF("id", "embedding", "metadata")
    VectorStore(VectorStore.ingest(raw, col("id"), col("embedding"), col("metadata"))
      .repartition(3)).persist(s"$dir/store")
    VectorStore.load(spark, s"$dir/store")
  }

  /** A Parquet copy of `df` (a serving table is read from files). */
  private def persisted(df: DataFrame, name: String): DataFrame = {
    df.write.parquet(s"$dir/$name")
    spark.read.parquet(s"$dir/$name")
  }

  test("getVector: a new id, present or absent, compiles nothing") {
    val (got, c) = warmThen(store.getVector("17"), store.getVector("42"))
    assert(got.sameElements(vecs(42)))
    assert(c == 0, s"$c classes compiled for a warm lookup")
    def absent(id: String) =
      intercept[NoSuchElementException](store.getVector(id)).getMessage
    val (msg, ca) = warmThen(absent("no-such-id"), absent("other-missing-id"))
    assert(msg == "Unique ID does not exist.")
    assert(ca == 0, s"$ca classes compiled for a warm absent lookup")
  }

  /** One findMostSimilar request and its brute-force answer. */
  private case class Req(
      q: Seq[Float],
      and: Seq[FilterDsl.MetaFilter] = Nil,
      or: Seq[FilterDsl.MetaFilter] = Nil,
      exclude: Seq[Map[String, MetaValue]] = Nil,
      keep: Int => Boolean = _ => true,
      autocut: Boolean = false) {
    def run(): Seq[(String, Double)] =
      rows(Search.findMostSimilar(store, q, and, exclude, or, k = 10, autocut = autocut))
    def expected: Seq[(String, Double)] = {
      val top = exactTopK((0 until n).filter(keep), q, 10)
      if (!autocut || top.size < 2) top
      else {
        val drops = top.sliding(2).map { case Seq((_, p), (_, s)) => (p - s) / p }.toSeq
        val cut = drops.indexOf(drops.max) + 1
        if (drops.max > Autocut.Threshold) top.take(cut) else top
      }
    }
  }

  private val searches: Seq[(String, Req, Req)] = Seq(
    ("numeric eq",
      Req(query(1), and = Seq(Map("label" -> Eq(2))), keep = label(_) == 2),
      Req(query(2), and = Seq(Map("label" -> Eq(5))), keep = label(_) == 5)),
    ("numeric range",
      Req(query(3), and = Seq(Map("value" -> Ops(Seq("$gte" -> MLong(20), "$lt" -> MLong(60))))),
        keep = i => value(i) >= 20 && value(i) < 60),
      Req(query(4), and = Seq(Map("value" -> Ops(Seq("$gte" -> MDouble(35.5), "$lt" -> MLong(90))))),
        keep = i => value(i) >= 35.5 && value(i) < 90)),
    ("composite OR/exclude",
      Req(query(5), and = Seq(Map("value" -> Ops(Seq("$gt" -> MLong(10))))),
        or = Seq(Map("label" -> Eq(1)), Map("label" -> Eq(3))),
        exclude = Seq(Map("label" -> MLong(3))),
        keep = i => value(i) > 10 && label(i) == 1),
      Req(query(6), and = Seq(Map("value" -> Ops(Seq("$gt" -> MLong(40))))),
        or = Seq(Map("label" -> Eq(2)), Map("label" -> Eq(4))),
        exclude = Seq(Map("label" -> MLong(2))),
        keep = i => value(i) > 40 && label(i) == 4)),
    ("string",
      Req(query(7), and = Seq(Map("name" -> Ops(Seq("$gte" -> MStr("n100"))))), keep = name(_) >= "n100"),
      Req(query(8), and = Seq(Map("name" -> Ops(Seq("$gte" -> MStr("n250"))))), keep = name(_) >= "n250")),
    ("autocut", Req(query(9), autocut = true), Req(query(10), autocut = true)))

  for ((kind, a, b) <- searches)
    test(s"findMostSimilar ($kind): a new query and new constants compile nothing") {
      val (got, c) = warmThen(a.run(), b.run())
      assert(got == b.expected)
      assert(c == 0, s"$c classes compiled for a warm $kind search")
    }

  // ---------------------------------------------- approximate search tiers

  private lazy val cents =
    IvfSearch.centroidsFromIds(store.df, col("id"), col("embedding"), c = 8)
  private lazy val ivfPqBooks =
    IvfPq.residualCodebooks(store.df, col("id"), col("embedding"), cents, m = 4, ks = 16)
  private lazy val pqBooks =
    Pq.codebooksFromIds(store.df, col("id"), col("embedding"), m = 4, ks = 16)
  private lazy val planes = AnnSearch.hyperplanes(dim, numPlanes = 6)

  /** The store with every index column the approximate searches read. */
  private lazy val indexed: DataFrame = persisted(
    Quantized.binarizeWords(Quantized.binarize(Quantized.quantize(
      AnnSearch.index(IvfPq.index(store.df, col("embedding"), cents, ivfPqBooks),
        col("embedding"), planes),
      col("embedding")), col("embedding"), dim), col("embedding"), dim), "indexed")
  private lazy val pqIndexed: DataFrame =
    persisted(Pq.encode(store.df, col("embedding"), pqBooks), "pq")

  /** Index columns per row, for the references. */
  private lazy val indexRows: Map[Int, Row] =
    indexed.select(col("id").cast("int"), col("bucket"), col("list_id"), col("pq_codes"),
        col("qemb"), col("bcode"), col("bcodes"))
      .collect().map(r => r.getInt(0) -> r).toMap
  private lazy val pqCodes: Map[Int, Seq[Byte]] =
    pqIndexed.select(col("id").cast("int"), col("pq_codes")).collect()
      .map(r => r.getInt(0) -> r.getSeq[Byte](1)).toMap

  private def adc(codes: Seq[Byte], lut: Array[Double], ks: Int): Double =
    codes.indices.foldLeft(0.0)((s, j) => s + lut(j * ks + (codes(j) & 0xff)))

  test("ANN search: a new query in a warm bucket compiles nothing") {
    // the probe set is a function of the query's bucket and stays a pushed
    // literal IN (see AnnSearch.search), so B shares A's bucket
    val (qa, qb) = (query(11), query(11).map(_ + 0.01f))
    assert(AnnSearch.bucketOf(qa, planes) == AnnSearch.bucketOf(qb, planes))
    def run(q: Seq[Float]) =
      rows(AnnSearch.search(indexed, col("id"), col("embedding"), q, planes, k = 10))
    val (got, c) = warmThen(run(qa), run(qb))
    val probes = AnnSearch.probeBuckets(AnnSearch.bucketOf(qb, planes), planes.length).toSet
    assert(got == exactTopK((0 until n).filter(i => probes(indexRows(i).getInt(1))), qb, 10))
    assert(c == 0, s"$c classes compiled for a warm ANN search")
  }

  test("IVF search: a new query and new probe lists compile nothing") {
    val (qa, qb) = (query(12), query(13))
    val probesB = IvfSearch.probeLists(qb, cents, 3).toSet
    assert(probesB != IvfSearch.probeLists(qa, cents, 3).toSet)
    def run(q: Seq[Float]) =
      rows(IvfSearch.search(indexed, col("id"), col("embedding"), q, cents, k = 10, nprobe = 3))
    val (got, c) = warmThen(run(qa), run(qb))
    assert(got == exactTopK((0 until n).filter(i => probesB(indexRows(i).getLong(2))), qb, 10))
    assert(c == 0, s"$c classes compiled for a warm IVF search")
  }

  test("IVF-PQ search: a new query, probe lists and list constants compile nothing") {
    val (qa, qb) = (query(14), query(15))
    def run(q: Seq[Float]) = rows(IvfPq.search(indexed, col("id"), col("embedding"), q,
      cents, ivfPqBooks, k = 10, nprobe = 3, rerank = 40))
    val (got, c) = warmThen(run(qa), run(qb))
    // reference: per probed list, ADC over residual codes + |q − c|²
    val byList = IvfSearch.probeLists(qb, cents, 3).map { cid =>
      val cent = cents.find(_.cid == cid).get.vec
      val qr = qb.indices.map(i => qb(i).toDouble - cent(i))
      cid -> (Pq.lut(qr, ivfPqBooks), qr.foldLeft(0.0)((s, x) => s + x * x))
    }.toMap
    def approx(i: Int): Double = byList.get(indexRows(i).getLong(2)) match {
      case Some((lut, n2)) => adc(indexRows(i).getSeq[Byte](3), lut, ivfPqBooks.ks) + n2
      case None => Double.PositiveInfinity
    }
    val probed = (0 until n).count(i => byList.contains(indexRows(i).getLong(2)))
    assert(got == rerankTopK(approx, math.min(40, probed), qb, 10))
    assert(c == 0, s"$c classes compiled for a warm IVF-PQ search")
  }

  test("PQ refined search: a new query compiles nothing") {
    val (qa, qb) = (query(16), query(17))
    def run(q: Seq[Float]) = rows(Pq.searchRefined(pqIndexed, col("id"), col("embedding"), q,
      pqBooks, k = 10, rerank = 40))
    val (got, c) = warmThen(run(qa), run(qb))
    val lut = Pq.lut(qb.map(_.toDouble), pqBooks)
    assert(got == rerankTopK(i => adc(pqCodes(i), lut, pqBooks.ks), 40, qb, 10))
    assert(c == 0, s"$c classes compiled for a warm PQ search")
  }

  test("int8 searches (score and distance): a new query compiles nothing") {
    val (qa, qb) = (query(18), query(19))
    def run(q: Seq[Float]) = rows(Quantized.search(indexed, col("id"), q, k = 10))
    def runDist(q: Seq[Float]) =
      Quantized.searchDistance(indexed, col("id"), q, k = 10).collect().toSeq
        .map(r => (r.getString(0), r.getDouble(1)))
    val (got, c) = warmThen(run(qa), run(qb))
    val (gotDist, cd) = warmThen(runDist(qa), runDist(qb))
    // reference: cosine over the int8 codes, in the kernel's fold order
    val qq = Quantized.quantizeVec(qb).toSeq.map(_.toDouble)
    val want = (0 until n).map { i =>
      val e = indexRows(i).getSeq[Byte](4).map(_.toDouble)
      (i.toString, dot(e, qq) / (math.sqrt(dot(e, e)) * math.sqrt(dot(qq, qq))))
    }.sortBy { case (id, s) => (-s, id) }
    assert(got == want.take(10))
    assert(gotDist == want.map { case (id, s) => (id, 1.0 - s) }
      .sortBy { case (id, d) => (d, id) }.take(10))
    assert(c == 0 && cd == 0, s"$c + $cd classes compiled for warm int8 searches")
  }

  test("binary searches (one word and multi-word): a new query compiles nothing") {
    val (qa, qb) = (query(20), query(21))
    def run(q: Seq[Float]) =
      rows(Quantized.binarySearch(indexed, col("id"), col("embedding"), q, k = 10, rerank = 40))
    def runWords(q: Seq[Float]) = rows(Quantized.binarySearchWords(indexed, col("id"),
      q.map(_.toDouble), col("embedding"), q, k = 10, rerank = 40))
    val (qc, qd) = (query(22), query(23))
    val (got, c) = warmThen(run(qa), run(qb))
    val (gotWords, cw) = warmThen(runWords(qc), runWords(qd))
    val code = Quantized.binarizeVec(qb)
    assert(got == rerankTopK(
      i => java.lang.Long.bitCount(indexRows(i).getLong(5) ^ code).toDouble, 40, qb, 10))
    val words = Quantized.binarizeVecWords(qd.map(_.toDouble))
    assert(gotWords == rerankTopK(i => indexRows(i).getSeq[Long](6).zip(words)
      .map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum.toDouble, 40, qd, 10))
    assert(c == 0 && cw == 0, s"$c + $cw classes compiled for warm binary searches")
  }

  test("deleteRows: a warm delete of new ids compiles nothing") {
    val sp = spark
    import sp.implicits._
    val path = s"$dir/delete"
    graft.sources.Layout.rangeCluster(spark.range(400).select(col("id").as("k"),
      col("id").cast("string").as("id")), 4, "k").write.parquet(path)
    graft.sources.Layout.commitLayout(spark, path, Seq("k"))
    def delete(ids: Long*) = graft.sources.Layout.deleteRows(spark, path, "k", ids.toDF("k"))._3
    // the warm-up repeats its delete: the second run rewrites the same
    // files and deletes nothing
    val (deleted, c) = warmThen(delete(1L, 2L, 3L), delete(100L, 200L, 201L, 300L))
    assert(deleted == 4L)
    assert(graft.sources.LayoutManifest.readData(spark, path).count() == 393L)
    assert(c == 0, s"$c classes compiled for a warm delete")
  }
}
