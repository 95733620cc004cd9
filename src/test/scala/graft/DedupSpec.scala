package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Behavioral contracts of the dedup family (beyond-reference training-data
  * pipeline capabilities).
  */
class DedupSpec extends SparkSpec {

  private def docs(rows: (Long, String)*) = {
    import testImplicits._
    rows.toDF("id", "text")
  }

  /** Independent exact set-Jaccard reference: collect the rows, shingle
    * them in plain Scala (word n-grams joined by a space, as
    * [[Dedup.shingles]]), and score all n² pairs.
    */
  private def bruteJaccard(df: org.apache.spark.sql.DataFrame, id: String, text: String,
      n: Int = 2, tau: Double = 0.5): Set[(Long, Long, Double)] = {
    val sets = df.select(col(id), col(text)).collect().map { r =>
      val toks = Option(r.getString(1)).map(_.split("\\s+", -1)).getOrElse(Array.empty[String])
      r.getLong(0) -> toks.sliding(n).filter(_.length == n).map(_.mkString(" ")).toSet
    }
    (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b && sa.nonEmpty && sb.nonEmpty
      inter = (sa & sb).size
      j = inter.toDouble / (sa.size + sb.size - inter) if j >= tau
    } yield (a, b, j)).toSet
  }

  /** Independent connected-components reference: BFS over the pair list in
    * plain Scala; every id maps to (its component's min id, is that min).
    */
  private def bfsComponents(ids: Seq[Long], pairs: Seq[(Long, Long)]): Map[Long, (Long, Boolean)] = {
    val adj = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }.groupMap(_._1)(_._2)
    val label = scala.collection.mutable.Map.empty[Long, Long]
    for (s <- ids if !label.contains(s)) {
      val seen = scala.collection.mutable.Set(s)
      val queue = scala.collection.mutable.Queue(s)
      while (queue.nonEmpty)
        adj.getOrElse(queue.dequeue(), Nil).foreach(v => if (seen.add(v)) queue.enqueue(v))
      seen.foreach(label(_) = seen.min)
    }
    ids.map(i => i -> (label(i), label(i) == i)).toMap
  }

  private def ccMap(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Boolean)] =
    df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap

  test("shingles: word bigrams, distinct, short-doc guard") {
    import testImplicits._
    val out = Seq("a b c d", "a b a b", "solo", "").toDF("text")
      .select(Dedup.shingles(col("text"), 2).as("sh")).collect().map(_.getSeq[String](0))
    assert(out(0) == Seq("a b", "b c", "c d"))
    assert(out(1).sorted == Seq("a b", "b a"))
    assert(out(2) == Seq.empty)
    assert(out(3) == Seq.empty)
  }

  test("exactDedup: keeps lowest id per identical content, counts groups") {
    val d = docs(1L -> "same text", 2L -> "same text", 3L -> "other", 4L -> "same text")
    val byId = Dedup.exactDedup(d, col("id"), col("text")).collect()
      .map(x => x.getAs[Long]("id") -> ((x.getAs[Long]("group_size"), x.getAs[Boolean]("keep")))).toMap
    assert(byId(1L) == ((3L, true)))
    assert(byId(2L) == ((3L, false)))
    assert(byId(3L) == ((1L, true)))
    assert(byId(4L) == ((3L, false)))
  }

  test("jaccardPairs: exact bigram Jaccard via shingle equi-join") {
    // {ab,bc,cd} vs {ab,bc,ce}: inter 2, union 4 → 0.5
    val d = docs(1L -> "a b c d", 2L -> "a b c e", 3L -> "x y z w")
    val r = Dedup.jaccardPairs(d, col("id"), col("text"), n = 2, tau = 0.4).collect()
    assert(r.length == 1)
    assert(r(0).getAs[Long]("id_a") == 1L && r(0).getAs[Long]("id_b") == 2L)
    assert(math.abs(r(0).getAs[Double]("jaccard") - 0.5) < 1e-9)
  }

  test("containmentPairs: a quoted subset scores 1.0 where jaccard stays low") {
    // doc 2 is fully contained in doc 1 (a 4-shingle doc inside a
    // 12-shingle doc): containment 1.0, jaccard 4/12 = 0.33
    val d = docs(
      1L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu",
      2L -> "alpha beta gamma delta epsilon",
      3L -> "completely different words here now")
    val cont = Dedup.containmentPairs(d, col("id"), col("text"), tau = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(cont.toSeq == Seq((1L, 2L, 1.0)))
    val jac = Dedup.jaccardPairs(d, col("id"), col("text"), tau = 0.5)
      .count()
    assert(jac == 0, "jaccard at 0.5 must miss the asymmetric pair")
  }

  test("containmentPairs: minShingles suppresses short docs") {
    val d = docs(
      1L -> "a b c d e f g h i j k",
      2L -> "a b c",            // 2 shingles — below minShingles=3
      3L -> "a b c d e",
      4L -> "x y z w v u t s")
    val base = Dedup.containmentPairs(d, col("id"), col("text"),
      tau = 0.5, minShingles = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(base == Set((1L, 3L)))
  }

  test("containmentPairs: count-join, grid-bitset, and auto routes agree") {
    val d = docs(
      1L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu",
      2L -> "alpha beta gamma delta epsilon zeta",
      3L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu xi",
      4L -> "completely different words in here right now folks",
      5L -> "different words in here")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        BigDecimal(r.getDouble(2)).setScale(6, BigDecimal.RoundingMode.HALF_UP))).toSet
    val cj = norm(Dedup.containmentPairs(d, col("id"), col("text"), tau = 0.5, minShingles = 3))
    val grid = norm(Dedup.containmentPairsBitsetHashed(d, col("id"), col("text"),
      tau = 0.5, minShingles = 3))
    val auto = norm(Dedup.containmentPairsAuto(d, col("id"), col("text"),
      tau = 0.5, minShingles = 3))
    assert(cj.nonEmpty)
    assert(cj == grid)
    assert(cj == auto)
  }

  test("jaccardPairs: prefix-filter and count-join strategies return identical pairs") {
    val docs = graft.sources.Testdata.table(spark, "/root/testdata/sf0.001", "documents")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect()
        .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
          math.round(r.getAs[Double]("jaccard") * 1e9)))
        .toSet
    val p = canon(Dedup.jaccardPairs(docs, col("doc_id"), col("text"), n = 2, tau = 0.5))
    assert(p == bruteJaccard(docs, "doc_id", "text").map { case (a, b, j) =>
      (a, b, math.round(j * 1e9)) })
    assert(p == canon(Dedup.jaccardPairsBitsetHashed(docs, col("doc_id"), col("text"), n = 2, tau = 0.5)))
    // the hashed prefilter is complete at ANY bit width (collision losses
    // are bounded per pair) — 64 bits forces heavy collisions yet the
    // exact-verify output must not change
    assert(p == canon(Dedup.jaccardPairsBitsetHashed(docs, col("doc_id"), col("text"),
      n = 2, tau = 0.5, bits = 64)))
    assert(p == canon(Dedup.jaccardPairsAuto(docs, col("doc_id"), col("text"), n = 2, tau = 0.5)))
    assert(p.nonEmpty, "testdata contains planted near-dups")
  }

  test("minhashLshPairs: finds planted near-dups and verifies with exact jaccard") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val d = docs(
      1L -> base,
      2L -> base.replace("today", "tonight"), // near-dup of 1
      3L -> "completely different words in this one nothing shared at all here")
    val r = Dedup.minhashLshPairs(d, col("id"), col("text"), n = 2, tau = 0.5).collect()
    assert(r.length == 1)
    assert((r(0).getAs[Long]("id_a"), r(0).getAs[Long]("id_b")) == ((1L, 2L)))
    // jaccard is the TRUE jaccard (verified), not an estimate: 11/13
    assert(math.abs(r(0).getAs[Double]("jaccard") - 11.0 / 13.0) < 1e-9)
  }

  test("minhash signature is deterministic across invocations") {
    val d = docs(1L -> "a b c d e f g")
    def sig() = d.select(Dedup.minhashSig(Dedup.shingleFps(Dedup.shingles(col("text"), 2))).as("s"))
      .collect()(0).getSeq[Long](0)
    assert(sig() == sig())
    assert(sig().length == 32)
  }

  test("simhash: identical text → hamming 0; near text → small; disjoint → large") {
    val d = docs(
      1L -> "alpha beta gamma delta epsilon zeta eta theta",
      2L -> "alpha beta gamma delta epsilon zeta eta iota",
      3L -> "alpha beta gamma delta epsilon zeta eta theta",
      4L -> "xx yy zz ww vv uu tt ss")
    val sims = d.select(col("id"), Dedup.simhash(col("text")).as("s")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sims(1L) == sims(3L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sims(1L), sims(2L)) < ham(sims(1L), sims(4L)))
    assert(sims.values.forall(s => s >= 0 && s < (1L << 60)))
  }

  test("simhashPairs: banded blocking finds identical and near pairs") {
    val d = docs(
      1L -> "alpha beta gamma delta epsilon zeta eta theta",
      2L -> "alpha beta gamma delta epsilon zeta eta theta",
      3L -> "qq rr ss tt uu vv ww xx")
    val r = Dedup.simhashPairs(d, col("id"), col("text"), maxHamming = 3).collect()
    assert(r.map(x => (x.getAs[Long]("id_a"), x.getAs[Long]("id_b"))).toSet == Set((1L, 2L)))
    assert(r(0).getAs[Int]("hamming") == 0)
  }

  test("repeatedSpans: cross-doc runs merge to maximal spans; within-doc repeats don't count") {
    // docs 1 and 2 share a 7-word phrase -> with k=3 positions p..p+4 are
    // duplicated in each, one maximal span of 4+3 = 7 words; doc 3 repeats
    // its own trigram twice but shares nothing across docs -> no span
    val d = docs(
      1L -> "alpha beta gamma delta epsilon zeta eta unique1 tail1",
      2L -> "head2 alpha beta gamma delta epsilon zeta eta unique2",
      3L -> "solo solo solo solo solo")
    val spans = Dedup.repeatedSpans(d, col("id"), col("text"), k = 3, minDocs = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).sortBy(x => (x._1, x._2))
    assert(spans.toSeq == Seq((1L, 0, 7), (2L, 1, 7)))
  }

  test("repeatedSpans: two disjoint shared phrases in one doc give two spans") {
    val d = docs(
      1L -> "aa bb cc xx yy zz dd ee ff",
      2L -> "aa bb cc q1 q2 q3 q4 q5 q6",
      3L -> "p1 p2 p3 p4 p5 p6 dd ee ff")
    val spans = Dedup.repeatedSpans(d, col("id"), col("text"), k = 3, minDocs = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).sortBy(x => (x._1, x._2))
    assert(spans.toSeq == Seq((1L, 0, 3), (1L, 6, 3), (2L, 0, 3), (3L, 6, 3)))
  }

  test("scrubRepeatedSpans: first occurrence kept, later ones removed, text rebuilt") {
    val d = docs(
      1L -> "alpha beta gamma delta epsilon zeta eta unique1 tail1",
      2L -> "head2 alpha beta gamma delta epsilon zeta eta unique2",
      3L -> "untouched words only here")
    val out = Dedup.scrubRepeatedSpans(d, col("id"), col("text"), k = 3, minDocs = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "alpha beta gamma delta epsilon zeta eta unique1 tail1")
    assert(out(2L) == "head2 unique2")
    assert(out(3L) == "untouched words only here")
  }

  test("scrubRepeatedSpans: a fully-duplicated later doc becomes empty, row preserved") {
    val d = docs(
      1L -> "one two three four five",
      2L -> "one two three four five")
    val out = Dedup.scrubRepeatedSpans(d, col("id"), col("text"), k = 3, minDocs = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "one two three four five")
    assert(out(2L) == "")
  }

  test("cosinePairs: threshold self-join on small vectors") {
    import testImplicits._
    val d = Seq(
      (1L, Seq(1.0f, 0.0f)),
      (2L, Seq(0.9f, 0.1f)),
      (3L, Seq(0.0f, 1.0f))).toDF("id", "v")
    val r = Dedup.cosinePairs(d, col("id"), col("v"), tau = 0.9).collect()
    assert(r.map(x => (x.getAs[Long]("id_a"), x.getAs[Long]("id_b"))).toSet == Set((1L, 2L)))
  }

  test("connectedComponents: chains merge, singletons keep their own label") {
    import testImplicits._
    val ids = (1L to 7L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val expected = Map(
      1L -> (1L, true), 2L -> (1L, false), 3L -> (1L, false),
      4L -> (4L, true), 5L -> (5L, true), 6L -> (5L, false), 7L -> (7L, true))
    assert(ccMap(Dedup.connectedComponentsAuto(ids, pairs)) == expected)
    assert(ccMap(Dedup.connectedComponentsStars(ids, pairs)) == expected)
  }

  test("connectedComponents: converges on a path graph deeper than one hop") {
    import testImplicits._
    val n = 12L
    val ids = (1L to n).toDF("id")
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("id_a", "id_b")
    Seq(Dedup.connectedComponentsAuto(ids, pairs), Dedup.connectedComponentsStars(ids, pairs))
      .foreach { cc =>
        val got = cc.collect()
        assert(got.forall(_.getLong(1) == 1L))
        assert(got.count(_.getBoolean(2)) == 1)
      }
  }

  test("connectedComponentsStars: equals a brute-force BFS on mixed clusters") {
    import testImplicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (6L, 7L), (7L, 5L))
    assert(ccMap(Dedup.connectedComponentsStars((1L to 9L).toDF("id"), pairs.toDF("id_a", "id_b"))) ==
      bfsComponents(1L to 9L, pairs))
  }

  test("connectedComponentsStars: a 64-node chain converges within the default round budget") {
    import testImplicits._
    // diameter 63: min-label propagation would need ~63 rounds; the
    // alternating star rewrite collapses it in O(log² n)
    val n = 64L
    val pairs = (1L until n).map(i => (i, i + 1))
    val got = ccMap(Dedup.connectedComponentsStars((1L to n).toDF("id"), pairs.toDF("id_a", "id_b")))
    assert(got == bfsComponents(1L to n, pairs))
    assert(got.values.count(_._2) == 1)
  }

  test("CC front door: edge lists within the cap take the driver union-find; past it, stars") {
    import testImplicits._
    // shallow mixed clusters and a 64-node chain (diameter 63): both routes
    // equal the BFS reference on either shape; a cap of exactly the edge
    // count still fits, one less overflows
    val mixed = (1L to 9L, Seq((1L, 2L), (2L, 3L), (5L, 6L), (6L, 7L), (7L, 5L)))
    val chain = (1L to 64L, (1L until 64L).map(i => (i, i + 1)))
    Seq(mixed, chain).foreach { case (idSeq, pairSeq) =>
      val ids = idSeq.toDF("id")
      val pairs = pairSeq.toDF("id_a", "id_b")
      val expected = bfsComponents(idSeq, pairSeq)
      Seq(None -> "driver", Some(pairSeq.size) -> "driver",
          Some(pairSeq.size - 1) -> "stars", Some(0) -> "stars").foreach { case (cap, route) =>
        val (got, cc) = cap.fold(Dedup.connectedComponentsAutoRouted(ids, pairs))(
          Dedup.connectedComponentsAutoRouted(ids, pairs, _))
        assert(got == route, s"cap $cap")
        assert(ccMap(cc) == expected, s"cap $cap")
      }
    }
  }

  test("auto strategy routes by candidate volume: dense corpus → bitset, unique-vocab corpus → prefix") {
    // dense: every doc shares one 4-shingle set → Σdf² = 4·4² = 64 ≫ n²/2
    val dense = docs(
      1L -> "a b c d a b", 2L -> "b c d a b c", 3L -> "c d a b c d", 4L -> "a b c d a b")
    val densePlan = Dedup.jaccardPairsAuto(dense, col("id"), col("text"))
      .queryExecution.executedPlan.toString
    assert(densePlan.contains("graft_popcount_and"), "dense corpus must route to the bitset strategy")
    // sparse: every doc's words are globally unique → every df = 1, so
    // Σdf² = 8·3 = 24 < n²/2 = 32 — prefix's candidate space is linear here
    val sparse = docs((1L to 8L).map(i =>
      i -> s"w${i}a w${i}b w${i}c w${i}d"): _*)
    val sparsePlan = Dedup.jaccardPairsAuto(sparse, col("id"), col("text"))
      .queryExecution.executedPlan.toString
    assert(!sparsePlan.contains("graft_popcount_and"), "sparse corpus must route to the prefix filter")
    // routing never changes the answer: dense output equals the exact ground truth
    val auto = Dedup.jaccardPairsAuto(dense, col("id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = bruteJaccard(dense, "id", "text").map { case (a, b, _) => (a, b) }
    assert(auto == exact)
  }

  test("probe samples by id, so an exact-duplicate-heavy corpus still routes to the grid") {
    import testImplicits._
    // 700 docs (past the 10·sampleMod exhaustive-probe floor) sharing ONE
    // text: every shingle's df = n, Σdf² = 3n² ≫ n²/2 — the one corpus
    // that MUST take the grid. A text-keyed sample puts all 700 docs
    // behind a single fingerprint that misses the 1/64 draw 63 times out
    // of 64, reads Σdf² ≈ 0, and routes the naive shared-shingle join
    // into its (df)² = n² candidate space; the id-keyed sample sees ~n/64
    // docs regardless of text duplication.
    val dup = (1L to 700L).map(i => (i, "a b c d")).toDF("id", "text")
    val plan = Dedup.jaccardPairsAuto(dup, col("id"), col("text"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_popcount_and"),
      "duplicate-heavy corpus must route to the bitset grid")
  }

  test("incremental screening: exact dup hits all bands with estimate 1.0; unrelated doc absent") {
    val corpus = Dedup.signatureTable(
      docs(10L -> "the quick brown fox jumps over the lazy dog",
           11L -> "an entirely different document about database engines"),
      col("id"), col("text"))
    val batch = Dedup.signatureTable(
      docs(1L -> "the quick brown fox jumps over the lazy dog", // dup of 10
           2L -> "unrelated text with no shared bigrams at all"),
      col("id"), col("text"))
    val res = Dedup.incrementalNearDups(corpus, batch)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    assert(res((1L, 10L)) == ((8L, 1.0)))   // identical text: all 8 bands, all 32 slots
    assert(!res.keySet.exists(_._1 == 2L))  // no band collision for the unrelated doc
  }

  test("incremental screening: containment read-out exceeds the jaccard estimate for a banded subset pair") {
    // batch doc 1 = a strict prefix (subset shingles) of corpus doc 10 with
    // true J = 12/16 (high enough to band-collide — the read-out inherits
    // the banding's jaccard recall) but true containment 1.0
    val corpus = Dedup.signatureTable(
      docs(10L -> "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 w16 w17"),
      col("id"), col("text"))
    val batch = Dedup.signatureTable(
      docs(1L -> "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13"),
      col("id"), col("text"))
    val row = Dedup.incrementalNearDups(corpus, batch)
      .filter(col("new_id") === 1L && col("corpus_id") === 10L)
      .select("est_jaccard", "sz_a", "sz_b", "est_containment")
      .collect()
    assert(row.nonEmpty, "subset pair at J=0.75 must band-collide")
    val (estJ, szA, szB, estC) =
      (row(0).getDouble(0), row(0).getLong(1), row(0).getLong(2), row(0).getDouble(3))
    assert(szA == 12L && szB == 16L)
    // formula parity with the stored sizes, cap at 1
    val expect = math.min(estJ * (szA + szB) / ((1 + estJ) * math.min(szA, szB)), 1.0)
    assert(math.abs(estC - expect) < 1e-12)
    assert(estC > estJ, "containment read-out must exceed the jaccard estimate for a subset")
    assert(estC >= 0.9, s"quoted subset should screen high, got $estC")
  }

  test("postings screen: a containment-1.0 / J~0.05 planted pair is flagged; banding misses it") {
    // corpus doc 100 has 200 distinct words (199 bigram shingles); batch
    // doc 1 is an 11-word contiguous quote of it: J = 10/199 ~ 0.05 but
    // containment = 10/10 = 1.0 — the banded screen's documented blind
    // spot (round-5 verdict #6), closed by the postings path.
    val longText = (0 until 200).map(i => s"w$i").mkString(" ")
    val quote = (50 to 60).map(i => s"w$i").mkString(" ")
    val corpusDocs = docs(100L -> longText, 101L -> "x1 w55 w56 x2")
    val batchDocs = docs(1L -> quote)
    // banded screen: no candidate at J ~ 0.05 (no band of 4 slots collides)
    val banded = Dedup.incrementalNearDups(
      Dedup.signatureTable(corpusDocs, col("id"), col("text")),
      Dedup.signatureTable(batchDocs, col("id"), col("text")))
    assert(banded.filter(col("corpus_id") === 100L).isEmpty,
      "banding unexpectedly caught the J~0.05 pair — weaken the planted J")
    // postings screen: exact intersection, containment 1.0
    val postings = Dedup.shinglePostings(corpusDocs, col("id"), col("text"))
    val got = Dedup.incrementalContainmentExact(postings,
        batchDocs, col("id"), col("text"), tau = 0.9, minOverlap = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(got.keySet == Set((1L, 100L)))
    assert(got((1L, 100L)) == ((10L, 10L, 199L, 1.0)))
    // dfCap drops the df-2 stop shingle "w55 w56" (shared with doc 101):
    // the intersection becomes a documented lower bound (9/10)
    val capped = Dedup.incrementalContainmentExact(postings,
        batchDocs, col("id"), col("text"), tau = 0.85, minOverlap = 2,
        dfCap = Some(1L))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(5)).toMap
    assert(capped == Map((1L, 100L) -> 0.9))
  }

  test("incremental verify join-back: exact jaccard on flagged pairs only, semi-join-pruned corpus scan") {
    val corpusDocs = docs(
      10L -> "the quick brown fox jumps over the lazy dog",
      11L -> "the quick brown fox jumps over the sleepy dog today", // near-dup of 1
      12L -> "an entirely different document about database engines")
    val batchDocs = docs(
      1L -> "the quick brown fox jumps over the lazy dog", // dup of 10, near 11
      2L -> "unrelated text with no shared bigrams at all")
    val corpus = Dedup.signatureTable(corpusDocs, col("id"), col("text"))
    val batch = Dedup.signatureTable(batchDocs, col("id"), col("text"))
    val screened = Dedup.incrementalNearDups(corpus, batch)
    val verified = Dedup.incrementalNearDupsVerified(screened,
      corpusDocs, col("id"), col("text"), batchDocs, col("id"), col("text"),
      n = 2, tau = 0.5)
    val rows = verified.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(4)).toMap
    // the exact dup verifies at jaccard 1.0; verified ⊆ screened
    assert(rows((1L, 10L)) == 1.0)
    val screenedKeys = screened.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows.keySet.subsetOf(screenedKeys))
    // exact value matches a hand-computed ground truth for the near-dup pair
    // (if the banding surfaced it): 6 shared bigrams, |A|=8, |B|=9 → 6/11
    rows.get((1L, 11L)).foreach(j => assert(j == 6.0 / 11.0))
    // scale shape: the corpus-text side is pruned by a broadcast semi-join
    // BEFORE shingling, so flagged-count bounds the text read
    val plan = verified.queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), s"expected a semi-join corpus prune:\n$plan")
  }

  test("semantic dedup: within-cluster near-dups flagged, min-id kept, equi-join plan") {
    import testImplicits._
    import graft.operators.IvfSearch
    val embs = Seq(
      (1L, Seq(1f, 0f)),      // centroid/cluster 1
      (2L, Seq(0f, 1f)),      // centroid/cluster 2
      (3L, Seq(0.999f, 0.02f)), // near-dup of 1, same cluster
      (4L, Seq(0.6f, 0.8f)),  // cluster 2, cosine 0.8 with centroid — below tau
      (5L, Seq(0f, 1f))       // exact dup of 2
    ).toDF("vec_id", "embedding")
    val cents = IvfSearch.centroidsFromIds(embs, col("vec_id"), col("embedding"), c = 2)
    val res = Dedup.semanticDedup(embs, col("vec_id"), col("embedding"), cents, tau = 0.95)
    val keep = res.collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(keep == Map(1L -> true, 2L -> true, 3L -> false, 4L -> true, 5L -> false))
    val plan = res.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"pair generation must be the list_id equi-join:\n$plan")
  }

  test("source overlap: identical vocabularies hit jaccard 1, disjoint ones emit no row") {
    import testImplicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta", "s1"),
      (2L, "alpha beta gamma delta", "s2"),
      (3L, "omega psi chi phi", "s3"))
      .toDF("doc_id", "text", "source")
    val m = Dedup.sourceOverlapMatrix(docs, col("source"), col("text"), n = 2)
      .collect().map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getDouble(3)))).toMap
    assert(m(("s1", "s2")) == ((3L, 1.0)))
    assert(!m.contains(("s1", "s3")) && !m.contains(("s2", "s3")) && m.size == 1)
  }

  test("tfCosinePairs equals brute-force full-TF cosine (df=1 prune is exact)") {
    // 'rare' appears only in doc 3 (df=1): it must not change any pair's
    // cosine vs the full-vector definition — dropped from the join but
    // counted in doc 3's norm
    val d = docs(
      (1L, "a a b c"),
      (2L, "a b b c"),
      (3L, "a a b c rare"),
      (4L, "x y z"))
    def tf(s: String): Map[String, Long] =
      s.split("\\s+").groupBy(identity).view.mapValues(_.length.toLong).toMap
    def cosine(x: String, y: String): Double = {
      val (tx, ty) = (tf(x), tf(y))
      val dot = tx.keys.toSeq.map(k => tx(k) * ty.getOrElse(k, 0L)).sum
      dot / (math.sqrt(tx.values.map(v => v * v).sum.toDouble) *
        math.sqrt(ty.values.map(v => v * v).sum.toDouble))
    }
    val texts = Map(1L -> "a a b c", 2L -> "a b b c", 3L -> "a a b c rare", 4L -> "x y z")
    val want = (for {
      a <- texts.keys; b <- texts.keys if a < b
      c = cosine(texts(a), texts(b)) if c >= 0.5
    } yield (a, b, math.rint(c * 1e6) / 1e6)).toSet
    val got = Dedup.tfCosinePairs(d, col("id"), col("text"), tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
    assert(got == want)
  }

  test("tfCosinePairs: dense grid strategy is bit-equal to the postings join; auto routes by vocab density") {
    // tiny shared vocabulary → Σdf² ≫ n²/2 → auto must take the dense grid
    val dense = docs(
      (1L, "a a b c"), (2L, "a b b c"), (3L, "a a b c"), (4L, "c b a"))
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val sparse = collect(Dedup.tfCosinePairs(dense, col("id"), col("text"), tau = 0.5))
    val grid = collect(Dedup.tfCosinePairsDense(dense, col("id"), col("text"), tau = 0.5,
      vocab = Seq("a", "b", "c")))
    assert(grid == sparse && sparse.nonEmpty)
    val autoPlan = Dedup.tfCosinePairsAuto(dense, col("id"), col("text"), tau = 0.5)
      .queryExecution.executedPlan.toString
    assert(autoPlan.contains("graft_dot"),
      s"dense-vocab corpus must route to the grid strategy:\n$autoPlan")
    assert(collect(Dedup.tfCosinePairsAuto(dense, col("id"), col("text"), tau = 0.5)) == sparse)
    // a vocabulary past maxVocab overflows the bounded collect: postings route
    val capped = Dedup.tfCosinePairsAuto(dense, col("id"), col("text"), tau = 0.5, maxVocab = 2)
    val cappedPlan = capped.queryExecution.executedPlan.toString
    assert(!cappedPlan.contains("graft_dot"),
      s"a vocabulary past maxVocab must stay on the postings join:\n$cappedPlan")
    assert(collect(capped) == sparse)
    // globally-unique vocabularies (every df = 1) stay on the postings join
    val uniq = docs((1L to 8L).map(i => (i, s"u${i}a u${i}b u${i}c")): _*)
    val uniqPlan = Dedup.tfCosinePairsAuto(uniq, col("id"), col("text"), tau = 0.5)
      .queryExecution.executedPlan.toString
    assert(!uniqPlan.contains("graft_dot"),
      s"unique-vocab corpus must stay on the postings join:\n$uniqPlan")
  }
}
