package graft

import graft.operators._
import graft.sources.VectorStore
import org.apache.spark.sql.functions._

/** Behavioral contracts from the reference suite
  * (/root/reference/tests/test_vector_database.py) — top-k, k-clamping,
  * empty results, CRUD error semantics, autocut.
  */
class SearchSpec extends SparkSpec {

  private def store(rows: (String, Seq[Float], String)*): VectorStore = {
    val sp = spark
    import sp.implicits._
    VectorStore(VectorStore.ingest(
      rows.toSeq.toDF("id", "embedding", "metadata"),
      col("id"), col("embedding"), col("metadata")))
  }

  private val base = store(
    ("1", Seq(1.0f, 0.0f), """{"type":"a"}"""),
    ("2", Seq(0.9f, 0.1f), """{"type":"a"}"""),
    ("3", Seq(0.0f, 1.0f), """{"type":"b"}"""),
    ("4", Seq(-1.0f, 0.0f), """{"type":"b"}"""))

  test("top-k ordering: most similar first, exact cosine") {
    val r = Search.findMostSimilar(base, Seq(1.0f, 0.0f), k = 4).collect()
    assert(r.map(_.getString(0)).toSeq == Seq("1", "2", "3", "4"))
    assert(math.abs(r(0).getDouble(1) - 1.0) < 1e-12)
    assert(math.abs(r(2).getDouble(1)) < 1e-12) // orthogonal
    assert(math.abs(r(3).getDouble(1) + 1.0) < 1e-12) // opposite
  }

  test("k-clamping: k larger than corpus returns all rows (test_vector_database.py:149-160)") {
    assert(Search.findMostSimilar(base, Seq(1.0f, 0.0f), k = 50).count() == 4)
  }

  test("metadata AND filter restricts candidates (test_vector_database.py:34-117)") {
    val r = Search.findMostSimilar(base, Seq(1.0f, 0.0f), k = 4,
      metadataFilter = Seq(Map("type" -> Eq(MetaValue.MStr("b"))))).collect()
    assert(r.map(_.getString(0)).toSeq == Seq("3", "4"))
  }

  test("filter matching nothing returns empty (vector_database.py:485-486)") {
    val r = Search.findMostSimilar(base, Seq(1.0f, 0.0f), k = 4,
      metadataFilter = Seq(Map("type" -> Eq(MetaValue.MStr("zzz")))))
    assert(r.count() == 0)
  }

  test("exclude filter subtracts equality matches (test_vector_database.py:69-97)") {
    val r = Search.findMostSimilar(base, Seq(1.0f, 0.0f), k = 4,
      excludeFilter = Seq(Map("type" -> MetaValue.MStr("a")))).collect()
    assert(r.map(_.getString(0)).toSeq == Seq("3", "4"))
  }

  test("empty store returns an empty result (vector_database.py:470-471)") {
    val empty = store()
    assert(Search.findMostSimilar(empty, Seq(1.0f, 0.0f), k = 5).count() == 0)
  }

  test("iterative exclude pagination walks the corpus without overlap (test_vector_database.py:69-97)") {
    // the reference idiom: repeatedly search, excluding pages already seen
    var seen = Seq.empty[Map[String, MetaValue]]
    var ids = Set.empty[String]
    (1 to 2).foreach { _ =>
      val page = Search.findMostSimilar(base, Seq(1.0f, 0.0f), k = 2,
        excludeFilter = seen).collect()
      val pageIds = page.map(_.getString(0)).toSet
      assert((ids & pageIds).isEmpty, "pages must not overlap")
      ids ++= pageIds
      seen ++= page.map(r => Map[String, MetaValue](
        "type" -> MetaValue.MStr(
          com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
            .readTree(r.getString(2)).get("type").asText())))
    }
    // two pages of k=2 with type-level exclusion cover both type groups
    assert(ids == Set("1", "2", "3", "4"))
  }

  test("batch k-NN: per-query ranks equal single-query results") {
    val sp = spark
    import sp.implicits._
    val qs = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)))
      .toDF("query_id", "query_vec")
    val batch = Search.findMostSimilarBatch(base, qs, k = 2).collect()
      .groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.sortBy(_.getAs[Int]("rank")).map(_.getAs[String]("id")).toSeq).toMap
    val single0 = Search.findMostSimilar(base, Seq(1.0f, 0.0f), k = 2).collect().map(_.getString(0)).toSeq
    val single1 = Search.findMostSimilar(base, Seq(0.0f, 1.0f), k = 2).collect().map(_.getString(0)).toSeq
    assert(batch(0L) == single0)
    assert(batch(1L) == single1)
  }

  test("autocut truncates at the largest >20% relative drop (vector_database.py:443-464)") {
    val sp = spark
    import sp.implicits._
    // scores 1.0, 0.95, 0.5, 0.45 → largest rel drop at 0.95→0.5 (47%) ⇒ keep 2
    val df = Seq(("a", 1.0), ("b", 0.95), ("c", 0.5), ("d", 0.45)).toDF("id", "score")
    val cut = Autocut(df, col("score"), col("id")).collect()
    assert(cut.map(_.getString(0)).toSeq == Seq("a", "b"))
  }

  test("autocut keeps everything when no drop exceeds 20%") {
    val sp = spark
    import sp.implicits._
    val df = Seq(("a", 1.0), ("b", 0.95), ("c", 0.9)).toDF("id", "score")
    assert(Autocut(df, col("score"), col("id")).count() == 3)
  }

  test("autocut on a single row keeps it (reference guards len>1)") {
    val sp = spark
    import sp.implicits._
    val df = Seq(("a", 1.0)).toDF("id", "score")
    assert(Autocut(df, col("score"), col("id")).count() == 1)
  }

  test("ascending autocut truncates at the first largest >20% relative increase " +
      "(sharded_vector_database_usearch.py:573-594)") {
    val sp = spark
    import sp.implicits._
    // distances 0.10, 0.11, 0.30, 0.33 → largest rel increase at 0.11→0.30
    // (173%) ⇒ keep the 2 rows before the jump
    val df = Seq(("a", 0.10), ("b", 0.11), ("c", 0.30), ("d", 0.33)).toDF("id", "dist")
    val cut = Autocut.ascending(df, col("dist"), col("id")).collect()
    assert(cut.map(_.getString(0)).toSeq == Seq("a", "b"))
    // ties on the max increase: cut at the FIRST occurrence (reference
    // increases.index(max) semantics): 0.1, 0.2, 0.4 → both increases are
    // 100%; keep only the row before the first jump
    val tied = Seq(("a", 0.1), ("b", 0.2), ("c", 0.4)).toDF("id", "dist")
    assert(Autocut.ascending(tied, col("dist"), col("id"))
      .collect().map(_.getString(0)).toSeq == Seq("a"))
    // no increase exceeds 20% ⇒ keep everything
    val flat = Seq(("a", 0.10), ("b", 0.11), ("c", 0.12)).toDF("id", "dist")
    assert(Autocut.ascending(flat, col("dist"), col("id")).count() == 3)
    // single row ⇒ kept (no increases to inspect)
    assert(Autocut.ascending(Seq(("a", 0.5)).toDF("id", "dist"),
      col("dist"), col("id")).count() == 1)
  }

  test("insert duplicate id raises 'Unique ID already exists.' (vector_database.py:59-60)") {
    val e = intercept[IllegalArgumentException] {
      base.insert("1", Seq(0.5f, 0.5f)).df.count()
    }
    assert(e.getMessage.contains("Unique ID already exists."))
  }

  test("batch insert pads missing metadata and appends (sharded_vector_database.py:260-261)") {
    val s2 = base.insertBatch(Seq("10", "11"), Seq(Seq(0.1f, 0.2f), Seq(0.3f, 0.4f)))
    assert(s2.count() == 6)
    assert(s2.df.filter(col("id") === "10").select("metadata").first().getString(0) == "{}")
  }

  test("delete removes the row; deleting a missing id raises (vector_database.py:119-121)") {
    assert(base.delete("1").count() == 3)
    val e = intercept[NoSuchElementException] { base.delete("99") }
    assert(e.getMessage.contains("Unique ID does not exist."))
  }

  test("getVector point lookup + missing id error (vector_database.py:49-55)") {
    assert(base.getVector("3").toSeq == Seq(0.0f, 1.0f))
    intercept[NoSuchElementException] { base.getVector("nope") }
  }

  test("persist/reload round-trip with shard-size files (vector_database.py:538-548)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-store").toString + "/db"
    base.persist(dir, shardSize = 2)
    val re = VectorStore.load(spark, dir)
    assert(re.count() == 4)
    assert(re.getVector("2").toSeq == Seq(0.9f, 0.1f))
    // shard-size knob produced multiple part files (4 rows / 2 per file)
    val parts = new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    assert(parts >= 2)
  }

  test("hardNegatives: only label-mismatched items, k-bounded, brute-force top-1 agrees") {
    val sfDir = "/root/testdata/sf0.001"
    val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val anchors = embs.filter(col("vec_id") < 4)
      .select(col("vec_id").as("anchor_id"), col("embedding").as("anchor_vec"),
        col("label").as("anchor_label"))
    val out = Search.hardNegatives(embs, col("vec_id"), col("embedding"),
      col("label"), anchors, k = 3).collect()
    val anchorLabel = embs.filter(col("vec_id") < 4)
      .select("vec_id", "label").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out.groupBy(_.getAs[Long]("anchor_id")).values.forall(_.length <= 3))
    assert(out.forall(r => r.getAs[Int]("lbl") != anchorLabel(r.getAs[Long]("anchor_id"))))
    // brute-force the best negative for anchor 0
    val all = embs.select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray, r.getInt(2)))
    val a0 = all.find(_._1 == 0L).get
    def cos(x: Array[Double], y: Array[Double]) = {
      val d = x.indices.map(i => x(i) * y(i)).sum
      d / (math.sqrt(x.map(v => v * v).sum) * math.sqrt(y.map(v => v * v).sum))
    }
    val want = all.filter(_._3 != a0._3).maxBy(t => (cos(t._2, a0._2), -t._1))._1
    val got = out.filter(_.getAs[Long]("anchor_id") == 0L)
      .maxBy(_.getAs[Double]("score")).getAs[Long]("id")
    assert(got == want)
  }

  test("recallAtK: per-query hit counting, missing queries score zero") {
    import testImplicits._
    val exact = Seq(
      (0L, "a"), (0L, "b"), (0L, "c"),
      (1L, "d"), (1L, "e"),
      (2L, "f")).toDF("query_id", "id")
    val approx = Seq(
      (0L, "a"), (0L, "c"), (0L, "x"), // 2/3
      (1L, "d"), (1L, "e")) // 2/2; query 2 returned nothing → 0/1
      .toDF("query_id", "id")
    val got = RankEval.recallAtK(exact, approx, "query_id", "id")
      .orderBy("query_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq(
      (0L, 3L, 2L, math.rint(2.0 / 3 * 1e6) / 1e6),
      (1L, 2L, 2L, 1.0),
      (2L, 1L, 0L, 0.0)))
  }

  test("knnGraphMutual: equals brute-force mutual kNN; grid plan, no broadcast NLJ") {
    import testImplicits._
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 40L).map(i => (i, Array.fill(8)(rnd.nextFloat() - 0.5f)))
    val df = vecs.toDF("vid", "emb")
    val k = 4
    val got = Search.knnGraphMutual(df, col("vid"), col("emb"), k, blocks = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // brute force on the driver
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val edges = vecs.flatMap { case (i, vi) =>
      vecs.filter(_._1 != i)
        .map { case (j, vj) => (j, cos(vi, vj)) }
        .sortBy { case (j, s) => (-s, j) }
        .take(k).map { case (j, _) => (i, j) }
    }.toSet
    val mutual = edges.filter { case (i, j) => edges.contains((j, i)) }
    val exp = vecs.map(_._1).map(i => i -> mutual.count(_._1 == i).toLong).toMap
    assert(got == exp)
    assert(got.values.sum > 0)    // some reciprocated edges exist
    assert(got.values.exists(_ < k)) // and not everything is mutual
    // scale contract: grid equi-join + partial/final GroupTopK, no
    // cartesian and no broadcast nested loop anywhere in the plan
    val plan = Search.knnGraphMutual(df, col("vid"), col("emb"), k, blocks = 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"grid join must not plan a product:\n$plan")
  }

  test("labelPropagate: equals a driver replica of clamped 2-round plurality voting") {
    import testImplicits._
    val rnd = new scala.util.Random(7)
    // three separated clusters; labels interleave with ids so seeds
    // (vid % 4 == 0) land in every cluster
    val vecs = (0L until 30L).map { i =>
      val c = (i % 3).toInt
      val v = Array.tabulate(8)(d => (if (d % 3 == c) 1f else 0f) +
        (rnd.nextFloat() - 0.5f) * 0.2f)
      (i, v, c)
    }
    val df = vecs.toDF("vid", "emb", "lab")
    val k = 4
    val out = Search.labelPropagate(df, col("vid"), col("emb"), col("lab"),
      col("vid") % 4 === 0, k = k, rounds = 2, blocks = 4)
    val got = out.collect().map(r => (r.getLong(0), r.getInt(1),
      if (r.isNullAt(2)) None else Some(r.getInt(2)),
      if (r.isNullAt(3)) None else Some(r.getInt(3)))).toSeq
    // driver replica of the exact contract
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val dir = vecs.flatMap { case (i, vi, _) =>
      vecs.filter(_._1 != i).map { case (j, vj, _) => (j, cos(vi, vj)) }
        .sortBy { case (j, s) => (-s, j) }.take(k).map { case (j, _) => (i, j) }
    }.toSet
    val edges = dir ++ dir.map { case (a, b) => (b, a) }
    val trueLab = vecs.map(v => v._1 -> v._3).toMap
    val isSeed = (i: Long) => i % 4 == 0
    var lbl: Map[Long, Option[Int]] =
      vecs.map(v => v._1 -> (if (isSeed(v._1)) Some(v._3) else None)).toMap
    for (_ <- 1 to 2) {
      lbl = vecs.map { v =>
        val i = v._1
        if (isSeed(i)) i -> Some(trueLab(i))
        else {
          val counts = edges.collect { case (s, d) if s == i => lbl(d) }
            .flatten.groupBy(identity).map { case (l, o) => (l, o.size) }
          i -> (if (counts.isEmpty) None
                else Some(counts.toSeq.minBy { case (l, c) => (-c, l) }._1))
        }
      }.toMap
    }
    val exp = vecs.map { v =>
      val p = lbl(v._1)
      (v._1, if (isSeed(v._1)) 1 else 0, p, p.map(l => if (l == trueLab(v._1)) 1 else 0))
    }
    assert(got == exp)
    // the propagation did real work: some non-seed node got labeled
    assert(got.exists(r => r._2 == 0 && r._3.nonEmpty))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"edge grid must not plan a product:\n$plan")
  }

  test("kCenterCoreset: equals the greedy farthest-point replica; radius non-increasing; k>n returns n") {
    import testImplicits._
    val rnd = new scala.util.Random(41)
    val vecs = (0L until 20L).map { i =>
      (i, Array.tabulate(6)(d => rnd.nextFloat() * (if ((i + d) % 3 == 0) 2f else 1f)))
    }
    val df = vecs.toDF("vid", "emb")
    val k = 5
    val got = Search.kCenterCoreset(df, col("vid"), col("emb"), k = k)
      .collect().map(r => (r.getInt(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSeq
    // driver replica of the greedy traversal on the same double arithmetic
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val byId = vecs.toMap
    var picked = Seq[(Int, Long, Option[Double])]((0, 0L, None))
    var mind = vecs.filter(_._1 != 0L)
      .map { case (i, v) => i -> (1.0 - cos(v, byId(0L))) }.toMap
    for (r <- 1 until k) {
      val (ci, cd) = mind.toSeq.minBy { case (i, d) => (-d, i) }
      picked :+= ((r, ci,
        Some(BigDecimal(cd).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))
      mind = (mind - ci).map { case (i, d) =>
        i -> math.min(d, 1.0 - cos(byId(i), byId(ci)))
      }
    }
    assert(got == picked)
    // the cover radius curve never increases
    val dists = got.flatMap(_._3)
    assert(dists == dists.sorted.reverse, s"radius curve must be non-increasing: $dists")
    // k past n degrades to selecting everything once
    val all = Search.kCenterCoreset(df, col("vid"), col("emb"), k = 25).collect()
    assert(all.length == 20)
    assert(all.map(_.getLong(1)).toSet == vecs.map(_._1).toSet)
    // cover audit: every vector assigned exactly once, each center
    // self-assigns (radius >= 0), realized radii never exceed the last
    // selection distance by construction of the greedy cover
    val audit = Search.kCenterAssign(df, col("vid"), col("emb"), k = k).collect()
    assert(audit.map(_.getLong(1)).sum == 20L)
    assert(audit.length == k)
    assert(audit.map(_.getLong(0)).toSet == picked.map(_._2).toSet)
    assert(audit.forall(_.getDouble(2) >= 0.0))
    val lastSel = picked.last._3.get
    assert(audit.forall(_.getDouble(2) <= lastSel + 1e-9),
      s"cover radius must not exceed the final selection distance $lastSel")
  }

  test("labelAgreement: equals a driver replica; planted mislabel flagged, clean core not") {
    import testImplicits._
    val rnd = new scala.util.Random(31)
    // two tight clusters; vector 7 sits in cluster 1's region but carries
    // cluster 0's label — the planted annotation error
    val vecs = (0L until 24L).map { i =>
      val c = (i % 2).toInt
      val v = Array.tabulate(8)(d => (if (d % 2 == c) 1f else 0f) +
        (rnd.nextFloat() - 0.5f) * 0.1f)
      val lbl = if (i == 7L) ((c + 1) % 2) else c
      (i, v, lbl)
    }
    val df = vecs.toDF("vid", "emb", "lab")
    val k = 5
    val out = Search.labelAgreement(df, col("vid"), col("emb"), col("lab"),
        k = k, blocks = 4)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getInt(5))).toSeq
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val lblOf = vecs.map(v => v._1 -> v._3).toMap
    val exp = vecs.map { case (i, vi, li) =>
      val nbrs = vecs.filter(_._1 != i)
        .map { case (j, vj, _) => (j, cos(vi, vj)) }
        .sortBy { case (j, s) => (-s, j) }.take(k).map(_._1)
      val agree = nbrs.count(j => lblOf(j) == li).toLong
      (i, li, k.toLong, agree,
        math.rint(agree.toDouble / k * 1e6) / 1e6,
        if (agree < k * 0.5) 1 else 0)
    }
    assert(out == exp)
    // the planted mislabel is flagged; its honest cluster-1 twin is not
    assert(out.find(_._1 == 7L).get._6 == 1)
    assert(out.count(_._6 == 1) <= 2, s"only the planted error (and at most " +
      s"one boundary point) should flag:\n${out.filter(_._6 == 1)}")
    val plan = Search.labelAgreement(df, col("vid"), col("emb"), col("lab"), k = k)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"edge grid must not plan a product:\n$plan")
  }

  test("labelAgreementLsh: full-probe radius equals the exact screen") {
    import testImplicits._
    val rnd = new scala.util.Random(53)
    val vecs = (0L until 24L).map { i =>
      val c = (i % 2).toInt
      (i, Array.tabulate(8)(d => (if (d % 2 == c) 1f else 0f) +
        (rnd.nextFloat() - 0.5f) * 0.1f), c)
    }
    val df = vecs.toDF("vid", "emb", "lab")
    val planes = graft.operators.AnnSearch.hyperplanes(dim = 8, numPlanes = 4)
    val full = Search.labelAgreementLsh(df, col("vid"), col("emb"), col("lab"),
        planes, k = 5, probeRadius = 4)
      .collect().map(_.toSeq).toSeq
    val exact = Search.labelAgreement(df, col("vid"), col("emb"), col("lab"),
        k = 5, blocks = 4)
      .collect().map(_.toSeq).toSeq
    assert(full == exact)
    // bounded radius: every node still reported, n_nbrs never above k
    val tight = Search.labelAgreementLsh(df, col("vid"), col("emb"), col("lab"),
        planes, k = 5, probeRadius = 1).collect()
    assert(tight.length == 24)
    assert(tight.forall(_.getLong(2) <= 5L))
  }

  test("labelPropagateLsh: full-probe radius equals the exact propagation") {
    import testImplicits._
    val rnd = new scala.util.Random(13)
    val vecs = (0L until 30L).map { i =>
      val c = (i % 3).toInt
      val v = Array.tabulate(8)(d => (if (d % 3 == c) 1f else 0f) +
        (rnd.nextFloat() - 0.5f) * 0.2f)
      (i, v, c)
    }
    val df = vecs.toDF("vid", "emb", "lab")
    val planes = graft.operators.AnnSearch.hyperplanes(dim = 8, numPlanes = 4)
    val full = Search.labelPropagateLsh(df, col("vid"), col("emb"), col("lab"),
        col("vid") % 4 === 0, planes, k = 4, rounds = 2, probeRadius = 4)
      .collect().map(_.toSeq).toSeq
    val exact = Search.labelPropagate(df, col("vid"), col("emb"), col("lab"),
        col("vid") % 4 === 0, k = 4, rounds = 2, blocks = 4)
      .collect().map(_.toSeq).toSeq
    assert(full == exact)
    // tight radius: every node still reported, seeds still clamped
    val tight = Search.labelPropagateLsh(df, col("vid"), col("emb"), col("lab"),
        col("vid") % 4 === 0, planes, k = 4, rounds = 2, probeRadius = 1)
      .collect()
    assert(tight.map(_.getLong(0)).toSet == vecs.map(_._1).toSet)
    assert(tight.filter(_.getInt(1) == 1)
      .forall(r => r.getInt(2) == vecs(r.getLong(0).toInt)._3))
  }

  test("knnGraphMutualLsh: full-probe radius equals the exact graph; bounded otherwise") {
    import testImplicits._
    val rnd = new scala.util.Random(23)
    val vecs = (0L until 30L).map(i => (i, Array.fill(8)(rnd.nextFloat() - 0.5f)))
    val df = vecs.toDF("vid", "emb")
    val planes = graft.operators.AnnSearch.hyperplanes(dim = 8, numPlanes = 4)
    // probeRadius = numPlanes → every bucket is a candidate → exact
    val full = Search.knnGraphMutualLsh(df, col("vid"), col("emb"), planes,
        k = 3, probeRadius = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = Search.knnGraphMutual(df, col("vid"), col("emb"), k = 3, blocks = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(full == exact)
    // tight radius: still every node reported, degrees bounded by k
    val tight = Search.knnGraphMutualLsh(df, col("vid"), col("emb"), planes,
        k = 3, probeRadius = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tight.keySet == vecs.map(_._1).toSet)
    assert(tight.values.forall(d => d >= 0 && d <= 3))
  }

  test("mmrRerank: equals hand-run greedy MMR; demotes the near-duplicate hit") {
    import testImplicits._
    // candidate 1 and 2 are near-identical (cos ~ 1); pure top-k would
    // rank them 1-2, MMR must push the duplicate behind the diverse 3
    val cands = Seq(
      ("1", 0.95, Array(1.0f, 0.0f, 0.0f)),
      ("2", 0.94, Array(0.999f, 0.04f, 0.0f)),
      ("3", 0.80, Array(0.0f, 1.0f, 0.0f)),
      ("4", 0.60, Array(0.0f, 0.0f, 1.0f))
    ).toDF("id", "rel", "v")
    val got = Search.mmrRerank(cands, col("id"), col("rel"), col("v"),
        k = 4, lambda = 0.75)
      .orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getDouble(3)))
    // step-3 hand check: "2" scores 0.75·0.94 − 0.25·cos(2,1) ≈ 0.455 vs
    // "4" at 0.75·0.60 = 0.45 — the near-dup is demoted below "3" but
    // narrowly beats the weakly-relevant "4"
    assert(got.map(_._2).toSeq == Seq("1", "3", "2", "4"))
    // hand values: rank1 mmr = 0.75·0.95; rank2 ("3"): 0.75·0.8 − 0.25·0
    assert(got(0)._3 == math.rint(0.75 * 0.95 * 1e6) / 1e6)
    assert(got(1)._3 == math.rint(0.75 * 0.80 * 1e6) / 1e6)
    // k past the candidate count returns every candidate once, on either
    // route (the distributed loop stops when no candidate is left)
    Seq(10000, 0).foreach { cap =>
      val all = Search.mmrRerankRouted(cands, col("id"), col("rel"), col("v"),
        k = 10, lambda = 0.75, shortlistCap = cap)._2.orderBy("rank").collect()
      assert(all.map(_.getString(1)).toSeq == Seq("1", "3", "2", "4"), s"cap $cap")
    }
    // a duplicated id keeps the shortlist off the driver; the loop still
    // stops once every distinct id is picked
    val dup = cands.unionByName(cands.filter(col("id") === "4"))
    val (route, dupPicks) = Search.mmrRerankRouted(dup, col("id"), col("rel"), col("v"),
      k = 10, lambda = 0.75)
    assert(route == "distributed")
    assert(dupPicks.orderBy("rank").collect().map(_.getString(1)).toSeq == Seq("1", "3", "2", "4"))
  }

  test("mmrRerank: the driver shortlist route equals the distributed greedy loop row for row") {
    import testImplicits._
    // a wider shortlist with clustered directions and rel ties so the
    // tie-breaks and maxsim updates are all exercised
    val rnd = new scala.util.Random(11)
    val cands = (1 to 40).map { i =>
      val base = i % 5
      val v = Array.tabulate(8)(j =>
        (if (j == base) 1.0f else 0.0f) + rnd.nextFloat() * 0.1f)
      (i.toString, math.rint((0.5 + (i % 7) * 0.07) * 100) / 100, v)
    }.toDF("id", "rel", "v")
    def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getDouble(2), r.getDouble(3))).toSeq
    def routed(cap: Int) = {
      val (route, df) = Search.mmrRerankRouted(cands, col("id"), col("rel"), col("v"),
        k = 12, lambda = 0.75, shortlistCap = cap)
      (route, rows(df))
    }
    val (driverRoute, driver) = routed(40)
    val (distRoute, distributed) = routed(39)
    assert(driverRoute == "driver" && distRoute == "distributed")
    assert(driver == distributed)
    assert(routed(0) == (("distributed", distributed)))
  }

  test("confusion: exact matrix counts and truth-row shares") {
    import testImplicits._
    val df = Seq(("a", "a"), ("a", "a"), ("a", "b"), ("b", "b"), ("c", "a"))
      .toDF("t", "p")
    val got = RankEval.confusion(df, col("t"), col("p"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(got(("a", "a")) == ((2L, math.rint(2.0 / 3 * 1e6) / 1e6)))
    assert(got(("a", "b")) == ((1L, math.rint(1.0 / 3 * 1e6) / 1e6)))
    assert(got(("b", "b")) == ((1L, 1.0)))
    assert(got(("c", "a")) == ((1L, 1.0)))
    assert(got.size == 4)
  }

  test("propagate routing: driver fixpoint ≡ distributed loop, int and string labels") {
    import testImplicits._
    // 40 nodes, ~25% seeds, a hand-wired directed edge list including an
    // isolate (node 39 gets no edges → label stays null unless seeded) and
    // vote ties (several nodes with equal-count neighbor labels, so the
    // count-desc/label-asc tie-break is exercised on both routes)
    val dirEdges = (0L until 39L).flatMap { i =>
      (1 to 3).map(d => (i, (i + d * 7) % 39))
    }.filter { case (a, b) => a != b }
    // int labels
    val intRows = (0L until 40L).map(i => (i, (i % 3).toInt, i % 4 == 0))
    val tInt = intRows.toDF("id", "lbl_true", "seed")
      .select(col("id"), col("lbl_true"), col("seed"))
    val dirDf = dirEdges.toDF("src", "dst")
    val drvInt = Search.propagateRouted(tInt, dirDf, rounds = 2)
    val dstInt = Search.propagateRouted(tInt, dirDf, rounds = 2, driverEdgeCap = 0)
    assert(drvInt._1 == "driver" && dstInt._1 == "distributed")
    assert(drvInt._2.collect().map(_.toSeq).toSeq ==
      dstInt._2.collect().map(_.toSeq).toSeq)
    // string labels (UTF-8 asc tie-break path), plus a null-label seed
    val strRows = (0L until 40L).map(i =>
      (i, if (i == 4) null else s"c${i % 3}", i % 4 == 0))
    val tStr = strRows.toDF("id", "lbl_true", "seed")
    val drvStr = Search.propagateRouted(tStr, dirDf, rounds = 3)
    val dstStr = Search.propagateRouted(tStr, dirDf, rounds = 3, driverEdgeCap = 0)
    assert(drvStr._1 == "driver" && dstStr._1 == "distributed")
    assert(drvStr._2.collect().map(_.toSeq).toSeq ==
      dstStr._2.collect().map(_.toSeq).toSeq)
    // non-comparable label type (double) must not take the driver route
    val dblRows = (0L until 10L).map(i => (i, (i % 3).toDouble, i % 4 == 0))
    val tDbl = dblRows.toDF("id", "lbl_true", "seed")
    val smallDir = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("src", "dst")
    assert(Search.propagateRouted(tDbl, smallDir, rounds = 1)._1 == "distributed")
  }
}
