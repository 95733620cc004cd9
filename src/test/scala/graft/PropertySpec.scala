package graft

import graft.operators._
import graft.sources.VectorStore
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based contracts the reference's example-based suite lacks
  * (SURVEY §5 strategy): the filter compiler agrees with a brute-force
  * row-level evaluator on arbitrary filter/corpus combinations; top-k is a
  * sort prefix; autocut output is a ranking prefix; insert∘delete is
  * identity. Deterministically sampled (fixed seed) from ScalaCheck
  * generators — no scalatestplus bridge needed.
  */
class PropertySpec extends SparkSpec {

  import MetaValue._

  /** Deterministic generator sampling. */
  private def samples[A](gen: Gen[A], n: Int): Seq[A] = {
    var seed = Seed(42L)
    (1 to n).map { _ =>
      val v = gen.pureApply(Gen.Parameters.default, seed)
      seed = seed.next
      v
    }
  }

  private val keys = Seq("a", "b", "c")
  private case class Rec(id: Int, meta: Map[String, Long])

  private val recGen: Gen[List[Rec]] = for {
    n <- Gen.choose(4, 16)
    recs <- Gen.listOfN(n, for {
      present <- Gen.someOf(keys)
      vals <- Gen.listOfN(present.size, Gen.choose(0L, 5L))
    } yield present.zip(vals).toMap)
  } yield recs.zipWithIndex.map { case (m, i) => Rec(i, m) }

  private val predGen: Gen[(String, FilterValue)] = for {
    k <- Gen.oneOf(keys)
    op <- Gen.oneOf("eq", "$gt", "$gte", "$lt", "$lte", "$ne")
    v <- Gen.choose(0L, 5L)
  } yield (k, if (op == "eq") Eq(MLong(v)) else Ops(Seq(op -> MLong(v))))

  /** Reference semantics, directly from SURVEY §2.3: key-presence gating on
    * every operator including $ne.
    */
  private def evalPred(m: Map[String, Long], k: String, fv: FilterValue): Boolean =
    m.get(k) match {
      case None => false
      case Some(x) => fv match {
        case Eq(MLong(v)) => x == v
        case Ops(Seq(("$gt", MLong(v)))) => x > v
        case Ops(Seq(("$gte", MLong(v)))) => x >= v
        case Ops(Seq(("$lt", MLong(v)))) => x < v
        case Ops(Seq(("$lte", MLong(v)))) => x <= v
        case Ops(Seq(("$ne", MLong(v)))) => x != v
        case other => sys.error(s"unexpected $other")
      }
    }

  private def toDf(recs: List[Rec]) = {
    val sp = spark
    import sp.implicits._
    recs.map { r =>
      val json = r.meta.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      (r.id.toString, json)
    }.toDF("id", "metadata")
      .withColumn("metadata_kv", graft.functions.JsonMeta.jsonKv(col("metadata")))
  }

  test("property: compiled AND/OR/EXCLUDE filter == brute-force evaluator (15 cases)") {
    val caseGen = for {
      recs <- recGen
      andPreds <- Gen.listOfN(2, predGen)
      orPreds <- Gen.listOfN(2, predGen)
      exPred <- predGen
    } yield (recs, andPreds, orPreds, exPred)
    samples(caseGen, 15).foreach { case (recs, andPreds, orPreds, exPred) =>
      val andF = andPreds.map { case (k, fv) => Map(k -> fv) }
      val orF = Seq(orPreds.toMap)
      val exF: Seq[Map[String, MetaValue]] = exPred match {
        case (k, Eq(v)) => Seq(Map(k -> v))
        case _ => Nil
      }
      val got = toDf(recs)
        .filter(FilterDsl.compile(col("metadata_kv"), andF, orF, exF))
        .select("id").collect().map(_.getString(0)).toSet
      val orEff = orPreds.toMap.toSeq // or-dict: last binding per key wins, as in compile
      val expected = recs.filter { r =>
        val andOk = andPreds.forall { case (k, fv) => evalPred(r.meta, k, fv) }
        val orOk = orEff.isEmpty || orEff.exists { case (k, fv) => evalPred(r.meta, k, fv) }
        val exHit = exF.exists(_.forall { case (k, v) => evalPred(r.meta, k, Eq(v)) })
        andOk && orOk && !exHit
      }.map(_.id.toString).toSet
      assert(got == expected,
        s"filter mismatch: and=$andPreds or=$orPreds ex=$exF corpus=$recs")
    }
  }

  test("property: top-k is exactly the k-prefix of the full descending sort (10 cases)") {
    val caseGen = for {
      vecs <- Gen.listOfN(8, Gen.listOfN(4, Gen.choose(-5, 5).map(_.toFloat / 5)))
        .suchThat(_.forall(v => v.exists(_ != 0.0f)))
      k <- Gen.choose(1, 10)
    } yield (vecs, k)
    samples(caseGen, 10).foreach { case (vecs, k) =>
      val sp = spark
      import sp.implicits._
      val st = VectorStore(VectorStore.ingest(
        vecs.zipWithIndex.map { case (v, i) => (i.toString, v, "{}") }
          .toDF("id", "embedding", "metadata"),
        col("id"), col("embedding"), col("metadata")))
      val q = Seq(1.0f, 0.0f, 0.0f, 0.0f)
      val topK = Search.findMostSimilar(st, q, k = k).collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSeq
      val full = Search.findMostSimilar(st, q, k = vecs.length).collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSeq
      assert(topK == full.take(k))
    }
  }

  test("property: autocut output is a non-empty ranking prefix (15 cases)") {
    val scoresGen = Gen.listOfN(6, Gen.choose(1, 100))
      .map(_.map(_ / 100.0).distinct.sorted.reverse).suchThat(_.nonEmpty)
    samples(scoresGen, 15).foreach { scores =>
      val sp = spark
      import sp.implicits._
      val df = scores.zipWithIndex.map { case (s, i) => (f"$i%03d", s) }.toDF("id", "score")
      val cutRows = Autocut(df, col("score"), col("id"))
        .orderBy(desc("score"), asc("id")).collect().map(_.getString(0)).toSeq
      val input = df.orderBy(desc("score"), asc("id")).collect().map(_.getString(0)).toSeq
      assert(input.startsWith(cutRows), s"not a prefix: $cutRows of $input")
      assert(cutRows.nonEmpty && cutRows.head == input.head,
        "autocut never removes the top result and never returns empty")
    }
  }

  test("property: insertBatch then deleteBatch of the same ids is identity (8 cases)") {
    val batchGen = Gen.choose(1, 5).flatMap(n =>
      Gen.listOfN(n, Gen.listOfN(2, Gen.choose(-10, 10).map(_.toFloat))))
    samples(batchGen, 8).foreach { embs =>
      val sp = spark
      import sp.implicits._
      val base = VectorStore(VectorStore.ingest(
        Seq(("k1", Seq(1.0f, 0.0f), "{}"), ("k2", Seq(0.0f, 1.0f), "{}"))
          .toDF("id", "embedding", "metadata"),
        col("id"), col("embedding"), col("metadata")))
      val ids = embs.indices.map(i => s"new$i")
      val after = base.insertBatch(ids, embs).deleteBatch(ids)
      assert(after.df.select("id").collect().map(_.getString(0)).toSet == Set("k1", "k2"))
    }
  }

  // (key, id, t) event lists for the join-operator properties
  private val evGen: Gen[List[(String, Long, Long)]] = for {
    n <- Gen.choose(2, 20)
    rows <- Gen.listOfN(n, for {
      k <- Gen.oneOf("u", "v")
      t <- Gen.choose(0L, 50L)
    } yield (k, t))
  } yield rows.zipWithIndex.map { case ((k, t), i) => (k, i.toLong, t) }

  test("property: asof backward equals the brute-force latest-at-or-before") {
    val sp = spark
    import sp.implicits._
    samples(Gen.zip(evGen, evGen), 6).foreach { case (ls, rs) =>
      val left = ls.toDF("k", "id", "t")
      val right = rs.map { case (k, i, t) => (k, i + 1000L, t) }.toDF("k", "rid", "t")
      val got = AsofJoin.backward(left, right, "k", "t", "t", "rid")
        .select("id", "r_rid").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
      val rsShift = rs.map { case (k, i, t) => (k, i + 1000L, t) }
      val expect = ls.map { case (k, id, t) =>
        val cands = rsShift.filter(r => r._1 == k && r._3 <= t)
        // ties break to the max tiebreak (the operator's documented order)
        id -> (if (cands.isEmpty) -1L
               else cands.maxBy(c => (c._3, c._2))._2)
      }.toMap
      assert(got == expect, s"left=$ls right=$rs")
    }
  }

  test("property: banded range join equals the brute-force window predicate") {
    val sp = spark
    import sp.implicits._
    val gapSec = 7L
    samples(evGen, 6).foreach { rows =>
      val df = rows.toDF("k", "id", "sec")
        .select(col("k"), col("id"), timestamp_seconds(col("sec")).as("ts"))
      val got = RangeJoin.within(df, df, "k", "ts", "ts", gapSec)
        .select("l_id", "r_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val expect = (for {
        a <- rows; b <- rows
        if a._1 == b._1 && b._3 >= a._3 && b._3 - a._3 <= gapSec
      } yield (a._2, b._2)).toSet
      assert(got == expect, s"rows=$rows")
    }
  }

  test("property: GroupTopK equals the sort-and-take definition per group") {
    val sp = spark
    import sp.implicits._
    val gen = for {
      n <- Gen.choose(1, 25)
      rows <- Gen.listOfN(n, Gen.zip(Gen.oneOf("g1", "g2", "g3"), Gen.choose(0, 9)))
      k <- Gen.choose(1, 4)
    } yield (rows.zipWithIndex.map { case ((g, s), i) => (g, i.toLong, s.toDouble) }, k)
    samples(gen, 6).foreach { case (rows, k) =>
      val df = rows.toDF("g", "id", "score")
      val got = org.apache.spark.sql.graft.GroupTopK.perGroup(
          df, Seq(col("g")), Seq(col("score").desc, col("id").asc), k)
        .select("g", "id").collect().map(r => (r.getString(0), r.getLong(1))).toSet
      val expect = rows.groupBy(_._1).toSeq.flatMap { case (_, grp) =>
        grp.sortBy(r => (-r._3, r._2)).take(k).map(r => (r._1, r._2))
      }.toSet
      assert(got == expect, s"rows=$rows k=$k")
    }
  }

  test("property: every token appears in some chunk, chunks reassemble the doc") {
    val sp = spark
    import sp.implicits._
    val gen = for {
      n <- Gen.choose(1, 40)
      size <- Gen.choose(2, 8)
      stride <- Gen.choose(1, size)
    } yield ((1 to n).map(i => s"w$i").mkString(" "), size, stride)
    samples(gen, 6).foreach { case (text, size, stride) =>
      val chunks = Curation.chunkTokens(
          Seq((1L, text)).toDF("doc_id", "text"), col("doc_id"), col("text"), size, stride)
        .orderBy("chunk_idx").collect().map(_.getString(2))
      val toks = text.split(" ")
      val covered = chunks.flatMap(_.split(" ")).toSet
      assert(covered == toks.toSet, s"size=$size stride=$stride")
      // consecutive chunks overlap by exactly size-stride tokens (except the tail)
      chunks.sliding(2).zipWithIndex.foreach { case (pair, ci) =>
        if (pair.length == 2) {
          val a = pair(0).split(" "); val b = pair(1).split(" ")
          val expectedOverlap = math.max(0,
            math.min(size - stride, toks.length - (ci + 1) * stride))
          assert(a.takeRight(expectedOverlap).sameElements(b.take(expectedOverlap)),
            s"size=$size stride=$stride chunk=$ci")
        }
      }
    }
  }

  test("SignPackExpr ≡ the when-chain sign packing it replaced, on arbitrary vectors") {
    import testImplicits._
    val vecGen: Gen[List[Float]] = for {
      d <- Gen.choose(1, 130)
      v <- Gen.listOfN(d, Gen.oneOf(
        Gen.choose(-1.0f, 1.0f), Gen.const(0.0f), Gen.const(-0.0f)))
    } yield v
    samples(vecGen, 40).foreach { v =>
      val dim = v.length
      val df = Seq(Tuple1(v)).toDF("vec")
      // independent reference: the driver-side packing (same word/bit order)
      val expected = graft.operators.Quantized.binarizeVecWords(v.map(_.toDouble))
      val got = graft.operators.Quantized.binarizeWords(df, col("vec"), dim)
        .select("bcodes").head().getSeq[Long](0).toArray
      assert(java.util.Arrays.equals(got, expected), s"dim=$dim v=$v")
    }
  }

  test("NearestCentroidExpr ≡ struct-argmin assignment on arbitrary vectors and centroid counts") {
    import testImplicits._
    val gen: Gen[(List[List[Double]], List[Float])] = for {
      d <- Gen.choose(2, 16)
      c <- Gen.choose(1, 40)
      cents <- Gen.listOfN(c, Gen.listOfN(d, Gen.choose(-1.0, 1.0)))
      v <- Gen.listOfN(d, Gen.choose(-1.0f, 1.0f))
    } yield (cents, v)
    samples(gen, 30).foreach { case (cents, v) =>
      val centroids = cents.zipWithIndex.map { case (cv, i) =>
        IvfSearch.Centroid(i.toLong, cv)
      }
      val df = Seq(Tuple1(v)).toDF("vec")
      // the struct-argmin spelling the native kernel replaced
      val structAssign = array_min(array(centroids.map { ct =>
        struct(
          (lit(ct.normSq) - lit(2.0) * graft.functions.VectorFunctions
            .dot(col("vec"), typedLit(ct.vec))).as("dist"),
          lit(ct.cid).as("cid"))
      }: _*)).getField("cid")
      val expected = df.select(structAssign.as("cid")).head().getLong(0)
      val got = df.select(IvfSearch.assignCol(col("vec"), centroids).as("cid"))
        .head().getLong(0)
      assert(got == expected, s"cents=${cents.size} v=$v")
    }
  }

  test("HashMaskExpr ≡ the UDF closure it replaced, on arbitrary shingle arrays") {
    import testImplicits._
    import org.apache.spark.sql.graft.Bridge
    val gen: Gen[(List[String], Int)] = for {
      n <- Gen.choose(0, 60)
      ss <- Gen.listOfN(n, Gen.oneOf(
        Gen.alphaNumStr.map(_.take(8)), Gen.const(""), Gen.const("aa bb")))
      bits <- Gen.oneOf(64, 128, 1024)
    } yield (ss, bits)
    samples(gen, 25).foreach { case (ss, bits) =>
      val df = Seq(Tuple1(ss)).toDF("sh")
      val got = df.select(Bridge.column(
          graft.functions.HashMaskExpr(Bridge.expression(col("sh")), bits)).as("ms"))
        .select(col("ms.mask"), col("ms.set_bits")).head()
      // the Scala closure the kernel replaced (identical arithmetic)
      val m = new Array[Long](bits / 64)
      var setBits = 0
      ss.foreach { s =>
        val b = (graft.functions.PolyHashExpr.hash(s, 31L, 1000000007L) % bits).toInt
        val w = b >> 6
        val bit = 1L << (b & 63)
        if ((m(w) & bit) == 0L) { m(w) |= bit; setBits += 1 }
      }
      assert(java.util.Arrays.equals(got.getSeq[Long](0).toArray, m), s"ss=$ss bits=$bits")
      assert(got.getInt(1) == setBits, s"ss=$ss bits=$bits")
    }
  }

  test("JsonStrDecodeExpr ∘ Jackson-encode is the identity on arbitrary strings") {
    val gen: Gen[String] = for {
      n <- Gen.choose(0, 30)
      cs <- Gen.listOfN(n, Gen.oneOf(
        Gen.alphaNumChar, Gen.oneOf('"', '\\', '/', '\n', '\r', '\t', '\b', '\f'),
        Gen.oneOf('\u0001', '\u001f', '\u00e9', '\u4e2d', '\u2028')))
    } yield cs.mkString
    samples(gen, 50).foreach { raw =>
      // encode exactly as ingest does (JsonMeta canonical = Jackson)
      val frag = com.fasterxml.jackson.databind.node.TextNode.valueOf(raw).toString
      val got = graft.functions.JsonStrDecodeExpr.decode(
        org.apache.spark.unsafe.types.UTF8String.fromString(frag))
      assert(got != null && got.toString == raw, s"raw=${raw.map(_.toInt).mkString(",")}")
    }
    // non-string fragments decode to null (the type gate)
    Seq("7", "true", "null", "[\"a\"]", "{\"k\":1}", "").foreach { f =>
      assert(graft.functions.JsonStrDecodeExpr.decode(
        org.apache.spark.unsafe.types.UTF8String.fromString(f)) == null, s"frag=$f")
    }
  }

  test("BoundParam ≡ Literal in comparisons and arithmetic, generated and interpreted") {
    import graft.functions.BoundParam.param
    import org.apache.spark.sql.{Column, Row}
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val values = Seq(Double.NaN, 0.0, -0.0, Double.PositiveInfinity, Double.NegativeInfinity,
      1.5, -2.0) ++ samples(Gen.choose(-1e6, 1e6), 6)
    // text cells as FilterDsl sees them: try_cast to double, "abc" and null
    // give null inputs
    val cells = values.map(_.toString) ++ Seq("abc", null)
    // an RDD, not a local relation, so projections run as generated or
    // interpreted code rather than being folded by the optimizer
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(cells.map(Row(_)), 2),
      StructType(Seq(StructField("s", StringType))))
    val x = col("s").try_cast("double")
    val ops: Seq[(Column, Column) => Column] = Seq(_ === _, _ <=> _, _ < _, _ <= _, _ > _,
      _ >= _, _ + _, _ - _, _ * _, try_divide)
    def check(codegen: Boolean): Unit = {
      spark.conf.set("spark.sql.codegen.wholeStage", codegen.toString)
      spark.conf.set("spark.sql.codegen.factoryMode", if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN")
      values.foreach { v =>
        val pairs = ops.flatMap(op => Seq(
          (op(x, lit(v)), op(x, param(v))), (op(lit(v), x), op(param(v), x))))
        val q = df.select(pairs.flatMap { case (l, p) => Seq(l, p) }: _*)
        val got = q.collect()
        assert(q.queryExecution.executedPlan.toString.contains("*(") == codegen)
        got.foreach { r =>
          pairs.indices.foreach { i =>
            // Double.equals: NaN equals NaN, -0.0 differs from 0.0
            assert(java.util.Objects.equals(r.get(2 * i), r.get(2 * i + 1)),
              s"v=$v pair $i (codegen=$codegen): ${r.get(2 * i)} vs ${r.get(2 * i + 1)}")
          }
        }
      }
    }
    try { check(codegen = true); check(codegen = false) }
    finally {
      spark.conf.unset("spark.sql.codegen.wholeStage")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("GramAgg ≡ brute-force Σ v·vᵀ; partition-count invariant to 1e-9") {
    import testImplicits._
    val gen: Gen[List[List[Float]]] = for {
      d <- Gen.choose(1, 8)
      n <- Gen.choose(1, 30)
      vs <- Gen.listOfN(n, Gen.listOfN(d, Gen.choose(-2.0f, 2.0f)))
    } yield vs
    samples(gen, 15).foreach { vs =>
      val d = vs.head.length
      val expect = Array.ofDim[Double](d * d)
      vs.foreach { v =>
        for (i <- 0 until d; j <- 0 until d)
          expect(i * d + j) += v(i).toDouble * v(j).toDouble
      }
      for (parts <- Seq(1, 3)) {
        val got = vs.map(Tuple1(_)).toDF("vec").repartition(parts)
          .agg(graft.functions.VectorAggs.gramMatrix(col("vec")))
          .head().getSeq[Double](0)
        assert(got.length == d * d)
        got.zip(expect).zipWithIndex.foreach { case ((g, e), idx) =>
          assert(math.abs(g - e) < 1e-9, s"cell $idx: $g vs $e (parts=$parts, d=$d)")
        }
      }
    }
  }

  test("Bloom: zero false negatives, column kernel ≡ scala contract, fpp near target") {
    import testImplicits._
    import org.apache.spark.sql.graft.Bridge
    val rnd = new scala.util.Random(7)
    val inserted = Array.fill(2000)(rnd.nextLong()).distinct
    val (numWords, k) = graft.functions.Bloom.dims(inserted.length, 0.01)
    val words = new Array[Long](numWords)
    inserted.foreach(graft.functions.Bloom.set(words, _, k))
    // no false negatives — the exactness of the two-phase screen rests here
    assert(inserted.forall(graft.functions.Bloom.mightContain(words, _, k)))
    // column expression agrees with the scala kernel on mixed members/misses
    val insertedSet = inserted.toSet
    val probes = inserted.take(500) ++ Array.fill(10000)(rnd.nextLong()).filterNot(insertedSet)
    val got = probes.toSeq.toDF("fp")
      .select(col("fp"), Bridge.column(graft.functions.BloomMightContainExpr(
        Bridge.expression(col("fp")), words, k)).as("hit"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    probes.foreach { fp =>
      assert(got(fp) == graft.functions.Bloom.mightContain(words, fp, k), s"fp=$fp")
    }
    // false-positive rate lands near the 1% target (loose 3× bound)
    val misses = probes.filterNot(insertedSet)
    val fpRate = misses.count(graft.functions.Bloom.mightContain(words, _, k)).toDouble / misses.length
    assert(fpRate < 0.03, s"fpp=$fpRate")
    // dims: power-of-two word count, sane k
    assert((numWords & (numWords - 1)) == 0 && k >= 1 && k <= 16)
  }

  test("property: containment trio == brute-force set containment on arbitrary corpora (8 cases)") {
    import testImplicits._
    // small vocabularies force heavy shingle sharing (the regime where the
    // strategies could diverge); doc lengths span empty..20 tokens so the
    // minShingles guard and empty-shingle edge paths are exercised
    val vocab = Vector("aa", "bb", "cc", "dd", "ee")
    val corpusGen: Gen[List[String]] = for {
      n <- Gen.choose(3, 10)
      docs <- Gen.listOfN(n, for {
        len <- Gen.choose(0, 20)
        toks <- Gen.listOfN(len, Gen.oneOf(vocab))
      } yield toks.mkString(" "))
    } yield docs
    samples(corpusGen, 8).foreach { corpus =>
      val df = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      val tau = 0.6
      val minSh = 2
      // brute force: distinct word bigrams per doc, C = |A∩B|/min
      val sets = corpus.zipWithIndex.map { case (t, i) =>
        val toks = t.split("\\s+").filter(_.nonEmpty)
        i.toLong -> toks.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSet
      }.filter(_._2.size >= minSh)
      val expect = (for {
        (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
        c = sa.intersect(sb).size.toDouble / math.min(sa.size, sb.size)
        if c >= tau
      } yield (ia, ib, BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP))).toSet
      def norm(out: org.apache.spark.sql.DataFrame) = out.collect().map(r =>
        (r.getLong(0), r.getLong(1),
          BigDecimal(r.getDouble(2)).setScale(6, BigDecimal.RoundingMode.HALF_UP))).toSet
      val cj = norm(Dedup.containmentPairs(df, col("id"), col("text"),
        tau = tau, minShingles = minSh))
      val grid = norm(Dedup.containmentPairsBitsetHashed(df, col("id"), col("text"),
        tau = tau, minShingles = minSh))
      assert(cj == expect, s"count-join diverged on corpus $corpus")
      assert(grid == expect, s"grid-bitset diverged on corpus $corpus")
    }
  }

  test("property: BpeApplyExpr ≡ plain sequential rank-order application on arbitrary states and tables") {
    import testImplicits._
    // the independent oracle: for each merge in rank order, one greedy
    // non-overlapping left-to-right rewrite (the textbook loop; the
    // kernel's no-op skipping and per-pair rank lists must be invisible)
    def seqApply(state: String, merges: Seq[String]): String =
      merges.foldLeft(state) { (st, pr) =>
        val Array(x, y) = pr.split(" ", 2)
        val toks = st.split(" ")
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var i = 0
        while (i < toks.length) {
          if (i < toks.length - 1 && toks(i) == x && toks(i + 1) == y) {
            out += (x + y); i += 2
          } else { out += toks(i); i += 1 }
        }
        out.mkString(" ")
      }
    // tiny alphabet so pairs recur, words long enough for chains; tables may
    // contain DUPLICATE pairs and pairs over merged symbols ("ab a") —
    // the adversarial shapes a learned table rarely exhibits
    val syms = Seq("a", "b", "c", "ab", "ba", "abc")
    val caseGen = for {
      wordLen <- Gen.choose(0, 12)
      word <- Gen.listOfN(wordLen, Gen.oneOf(syms))
      nMerges <- Gen.choose(0, 10)
      merges <- Gen.listOfN(nMerges, for {
        x <- Gen.oneOf(syms); y <- Gen.oneOf(syms)
      } yield s"$x $y")
    } yield (word.mkString(" "), merges)
    val cases = samples(caseGen, 60).filter(_._1.nonEmpty)
    val df = cases.zipWithIndex
      .map { case ((st, _), i) => (i, st) }.toDF("i", "state")
    cases.zipWithIndex.foreach { case ((st, merges), i) =>
      val got = df.filter(col("i") === i)
        .select(TextAnalysis.bpeApply(col("state"), merges))
        .head().getString(0)
      assert(got == seqApply(st, merges),
        s"state '$st' table $merges")
    }
  }

  test("property: bpeMergesLocal ≡ bpeMerges on random corpora (trainer equivalence beyond the fixture pin)") {
    import testImplicits._
    // The spec pin covers one corpus; random ones exercise the local
    // trainer's INCREMENTAL pair maintenance (retire/re-add around each
    // rewrite, the stale-membership superset, transient zero counts) and
    // the (count desc, pair asc UTF-8) tie-break under heavy ties — small
    // alphabets force both.
    val corpusGen = for {
      nDocs <- Gen.choose(2, 6)
      docs <- Gen.listOfN(nDocs, for {
        len <- Gen.choose(1, 10)
        toks <- Gen.listOfN(len, for {
          wl <- Gen.choose(1, 5)
          cs <- Gen.listOfN(wl, Gen.oneOf("a", "b", "c"))
        } yield cs.mkString)
      } yield toks.mkString(" "))
    } yield docs
    samples(corpusGen, 6).foreach { corpus =>
      val df = corpus.toDF("text")
      def table(m: org.apache.spark.sql.DataFrame) = m.orderBy("step").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
      // bpeMerges' distributed route, forced by a cap of a few words
      val (route, distDf) = TextAnalysis.bpeMergesRouted(df, col("text"), nMerges = 6,
        vocabCap = 2)
      val dist = table(distDf)
      val local = table(TextAnalysis.bpeMergesLocal(df, col("text"), nMerges = 6))
      assert(local == dist, s"trainers diverged on corpus $corpus")
      assert(table(TextAnalysis.bpeMerges(df, col("text"), nMerges = 6)) == dist,
        s"bpeMerges' routes diverged on corpus $corpus")
      val vocabSize = corpus.flatMap(_.split(" ")).distinct.size
      assert(route == (if (vocabSize > 2) "distributed" else "driver"))
    }
  }
}
