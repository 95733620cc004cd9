package graft

import graft.operators.TextAnalysis
import org.apache.spark.sql.functions._

/** Behavioral contracts of the text-analysis operators (beyond-reference
  * training-data pipeline capabilities).
  */
class TextAnalysisSpec extends SparkSpec {

  test("codeSwitch: bilingual doc flags mixed with the right switch count; monolingual doesn't") {
    import testImplicits._
    val en = Seq.fill(4)("the a and of to in is it that for").mkString(" ")  // 40 en tokens
    val de = Seq.fill(4)("der die das und ist ein zu den nicht mit").mkString(" ")
    val docs = Seq(
      (1L, s"$en $de $en"),     // en | de | en at 40-token segments
      (2L, s"$en $en"),         // monolingual, 2 segments
      (3L, "qq ww zz")          // 1 short segment, no profile hits -> und
    ).toDF("doc_id", "text")
    val out = TextAnalysis.codeSwitch(docs, col("doc_id"), col("text"), segTokens = 40)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getString(3), r.getInt(4), r.getInt(5)))).toMap
    // doc 1: 3 segments en/de/en -> majority en (2 vs 1), 2 switches, mixed
    assert(out(1L) == ((3, 2, "en", 2, 1)))
    // doc 2: 2 en segments, no switches, not mixed
    assert(out(2L) == ((2, 1, "en", 0, 0)))
    // doc 3: single undetermined segment
    assert(out(3L) == ((1, 1, "und", 0, 0)))
    // majority tie-break: 1 en + 1 de segment -> count tie -> 'de' < 'en'
    val tie = Seq((9L, s"$en $de")).toDF("doc_id", "text")
    val t = TextAnalysis.codeSwitch(tie, col("doc_id"), col("text"), segTokens = 40)
      .head()
    assert(t.getString(3) == "de" && t.getInt(5) == 1)
  }

  test("unigram NLL: hand-computed two-doc corpus; rare tokens score higher") {
    import testImplicits._
    // corpus tokens: a a b | a c  →  counts a=3, b=1, c=1, N=5
    val docs = Seq((1L, "a a b"), (2L, "a c")).toDF("doc_id", "text")
    val res = TextAnalysis.unigramNll(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    val ln = (x: Double) => math.log(x)
    val d1 = -(ln(3.0 / 5) + ln(3.0 / 5) + ln(1.0 / 5)) / 3
    val d2 = -(ln(3.0 / 5) + ln(1.0 / 5)) / 2
    assert(math.abs(res(1L)._1 - d1) < 1e-12 && res(1L)._2 == 3L)
    assert(math.abs(res(2L)._1 - d2) < 1e-12 && res(2L)._2 == 2L)
    // doc 2 carries proportionally more rare mass → higher NLL
    assert(res(2L)._1 > res(1L)._1)
  }

  private def one(text: String) = {
    import testImplicits._
    Seq(Tuple1(text)).toDF("text")
  }

  private def profiled(text: String) =
    TextAnalysis.profile(one(text), col("text")).collect().head

  test("token counts: whitespace vs lexer regex") {
    val r = profiled("hello world, 42 times!")
    assert(r.getAs[Int]("ws_tokens") == 4)
    // hello | world | , | 42 | times | !
    assert(r.getAs[Int]("re_tokens") == 6)
  }

  test("punct ratio counts non-alphanumeric non-space chars") {
    val r = profiled("ab, cd!")
    // non-ws chars: a b , c d !  → 2 punct of 6
    assert(math.abs(r.getAs[Double]("punct_ratio") - 2.0 / 6.0) < 1e-9)
  }

  test("stopword ratio and language id") {
    val en = profiled("the cat sat on the mat")
    assert(math.abs(en.getAs[Double]("stop_ratio") - 2.0 / 6.0) < 1e-9)
    assert(en.getAs[String]("lang_pred") == "en")
    val de = profiled("der hund ist nicht zu haus und das ist gut")
    assert(de.getAs[String]("lang_pred") == "de")
    val und = profiled("xyzzy plugh")
    assert(und.getAs[String]("lang_pred") == "und")
  }

  test("language id tie-break follows profile declaration order") {
    // 'est' is french-only, 'ist' german-only: one hit each → de wins (declared first)
    val r = profiled("ist est")
    assert(r.getAs[String]("lang_pred") == "de")
  }

  test("rolling fingerprint matches the reference fold and is content-sensitive") {
    def expected(s: String): Long =
      s.foldLeft(0L)((acc, c) => (acc * 31 + c.toInt) % TextAnalysis.FingerprintMod)
    val r = profiled("hello world")
    assert(r.getAs[Long]("fingerprint") == expected("hello world"))
    assert(profiled("hello worle").getAs[Long]("fingerprint") != r.getAs[Long]("fingerprint"))
    assert(profiled("").getAs[Long]("fingerprint") == 0L)
  }

  test("quality: longer natural text scores above short symbol soup") {
    val good = profiled("the quick brown fox jumps over the lazy dog and runs in a field of grass " * 3)
    val bad = profiled("@# $% ^&")
    assert(good.getAs[Double]("quality") > bad.getAs[Double]("quality"))
    assert(good.getAs[Double]("quality") <= 1.0 + 1e-9)
  }

  test("avg token length") {
    val r = profiled("ab cdef")
    assert(math.abs(r.getAs[Double]("avg_tok_len") - 3.0) < 1e-9)
  }

  test("keywords: hand-computed TF-IDF top-1, tie on token, GroupTopK plan") {
    import testImplicits._
    val docs = Seq(
      (1L, "apple apple banana"),          // apple: 2·ln3 beats banana: ln1.5
      (2L, "banana cherry"),               // tie at ln1.5 → token order → banana
      (3L, "cherry cherry cherry durian")  // cherry: 3·ln1.5 beats durian: ln3
    ).toDF("doc_id", "text")
    val out = TextAnalysis.keywords(docs, col("doc_id"), col("text"), topK = 1)
    assert(out.collect().map(r => r.getLong(0) -> r.getString(1)).toMap ==
      Map(1L -> "apple", 2L -> "banana", 3L -> "cherry"))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("GroupTopK") && !plan.contains("Window"),
      s"keywords must select per-doc top-k without a window sort:\n$plan")
  }

  test("bigram NLL: hand-computed MLE conditionals; 1-token docs emit no row") {
    import testImplicits._
    // corpus bigrams: "a b" ×2, "a c" ×1, "b a" ×1 → c(a→·)=3, c(b→·)=1
    val docs = Seq((1L, "a b a c"), (2L, "a b"), (3L, "x")).toDF("doc_id", "text")
    val out = TextAnalysis.bigramNll(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    // doc 1: lps = ln(2/3), ln(1/1), ln(1/3) → avg_nll = −(sum)/3
    val d1 = -(math.log(2.0 / 3) + math.log(1.0) + math.log(1.0 / 3)) / 3
    // doc 2: single bigram "a b" → −ln(2/3)
    val d2 = -math.log(2.0 / 3)
    assert(out(1L)._2 == 3L && math.abs(out(1L)._1 - r6(d1)) < 1e-9)
    assert(out(2L)._2 == 1L && math.abs(out(2L)._1 - r6(d2)) < 1e-9)
    assert(!out.contains(3L))
  }

  test("vocabulary: rank order, monotone coverage, exact shares") {
    import testImplicits._
    // counts: a=4, b=2, c=1 over 7 tokens
    val docs = Seq((1L, "a a b c"), (2L, "a a b")).toDF("doc_id", "text")
    val v = TextAnalysis.vocabulary(docs, col("text"), topV = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(v == Seq(
      ("a", 4L, math.rint(4.0 / 7 * 1e6) / 1e6),
      ("b", 2L, math.rint(6.0 / 7 * 1e6) / 1e6)))
  }

  test("collocations: a NULL-text row contributes nothing (nb derivation stays exact)") {
    import testImplicits._
    val docs = (Seq.fill(8)("a b") ++ Seq.fill(2)("a c")).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val withNull = docs.union(Seq((99L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      TextAnalysis.collocations(df, col("text"), minCount = 2L, topK = 10)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(rows(withNull) == rows(docs))
  }

  test("collocations: hand-computed PMI, minCount prunes the tail") {
    import testImplicits._
    // corpus: 8×"a b", 2×"a c" → T=20 tokens (a:10 b:8 c:2), B=10 bigrams
    val docs = (Seq.fill(8)("a b") ++ Seq.fill(2)("a c")).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val out = TextAnalysis.collocations(docs, col("text"), minCount = 2L, topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    // pmi("a b") = ln((8/10)/((10/20)·(8/20))) = ln 4; same for "a c"
    val ln4 = math.rint(math.log(4.0) * 1e6) / 1e6
    assert(out.map(_._1).sorted == Seq("a b", "a c"))
    assert(out.forall(r => math.abs(r._3 - ln4) < 2e-6))
    assert(out.find(_._1 == "a b").get._2 == 8L)
    // raising minCount past a pair's support prunes it before any join
    val pruned = TextAnalysis.collocations(docs, col("text"), minCount = 3L, topK = 10)
      .collect().map(_.getString(0)).toSeq
    assert(pruned == Seq("a b"))
  }

  test("novelty: df=1 gram share, hand-computed; short docs score 0") {
    import testImplicits._
    val docs = Seq(
      (1L, "x y z w"),            // grams {x y z, y z w}: first shared with doc 2
      (2L, "x y z q"),            // grams {x y z, y z q}
      (3L, "u v w t"),            // both grams unique
      (4L, "hi there")            // < 3 tokens: no grams
    ).toDF("doc_id", "text")
    val out = TextAnalysis.novelty(docs, col("doc_id"), col("text"), n = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(1L) == ((2L, 1L, 0.5)))
    assert(out(2L) == ((2L, 1L, 0.5)))
    assert(out(3L) == ((2L, 2L, 1.0)))
    assert(out(4L) == ((0L, 0L, 0.0)))
    // a repeated gram WITHIN one doc still counts as that doc's own (df=1)
    val rep = Seq((1L, "a b c a b c a b c"), (2L, "z z z z")).toDF("doc_id", "text")
    val r1 = TextAnalysis.novelty(rep, col("doc_id"), col("text"), n = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(r1(1L) == 1.0 && r1(2L) == 1.0)
  }

  test("hashedClassifier: bounded scores, token-order invariance, zero-shuffle plan") {
    import testImplicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "delta gamma beta alpha"),   // same multiset, permuted
      (3L, "alpha alpha alpha alpha"),  // one bucket only
      (4L, "omega")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.hashedClassifier(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getDouble(2), r.getDouble(3))).toMap
    // z is a mean of weights in [-0.5, 0.5); sigmoid stays in (0.37, 0.63)
    assert(out.values.forall { case (_, z, s) =>
      z >= -0.5 && z < 0.5 && s > 0.37 && s < 0.63 })
    // bag-of-words: token order cannot change the score (sorted fold)
    assert(out(1L) == out(2L))
    // single repeated token: z is exactly that token's weight
    val (n3, z3, _) = out(3L)
    assert(n3 == 4)
    val single = TextAnalysis.hashedClassifier(
      Seq((9L, "alpha")).toDF("doc_id", "text"), col("doc_id"), col("text"))
      .collect().head.getDouble(2)
    assert(z3 == single)
    // scale contract: one projection, no exchange anywhere in the plan
    val plan = TextAnalysis.hashedClassifier(docs, col("doc_id"), col("text"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"classifier must not shuffle:\n$plan")
  }

  test("zipfFit: exact power law fits slope -1 with r2 ~ 1; flat corpus fits slope 0") {
    import testImplicits._
    // token i appears floor(1200/i) times: c(r) = 1200/r, ln c = ln 1200 - ln r
    val zipfy = (1 to 30).flatMap(i => Seq.fill(1200 / i)(f"tok$i%02d"))
    val docs = Seq(Tuple1(zipfy.mkString(" "))).toDF("text")
    val r = TextAnalysis.zipfFit(docs, col("text")).collect().head
    assert(r.getLong(0) == 30L)
    assert(math.abs(r.getDouble(1) - (-1.0)) < 0.02, s"slope ${r.getDouble(1)}")
    assert(r.getDouble(2) > 0.999, s"r2 ${r.getDouble(2)}")
    // uniform frequencies: ln c constant -> slope 0, r2 degenerate (null)
    val flat = Seq(Tuple1((1 to 20).flatMap(i => Seq.fill(5)(s"t$i")).mkString(" "))).toDF("text")
    val f = TextAnalysis.zipfFit(flat, col("text")).collect().head
    assert(f.getDouble(1) == 0.0, s"flat slope ${f.getDouble(1)}")
    assert(f.isNullAt(2), "flat corpus r2 must be null (zero y-variance)")
    // determinism under repartitioning: decimal sums are order-invariant
    val again = TextAnalysis.zipfFit(docs.repartition(7), col("text")).collect().head
    assert(r.toSeq == again.toSeq)
  }

  test("textrank: hub token ranks first; symmetric tokens tie exactly; deterministic") {
    import testImplicits._
    // star graph: y is adjacent to x and z; x and z are symmetric leaves
    val docs = Seq((1L, "x y"), (2L, "y z")).toDF("doc_id", "text")
    val out = TextAnalysis.textrank(docs, col("text"), iters = 5, topK = 10)
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(out.head._1 == "y")                       // the hub dominates
    val byTok = out.toMap
    assert(byTok("x") == byTok("z"))                 // symmetry is exact
    assert(byTok("y") > byTok("x"))
    // fixed iterations: re-evaluation returns the identical ranking
    val again = TextAnalysis.textrank(docs, col("text"), iters = 5, topK = 10)
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(out.toSeq == again.toSeq)
    // the 1-iteration hand value for the hub: 0.15 + 0.85·(1/1·1 + 1/1·1)
    val one = TextAnalysis.textrank(docs, col("text"), iters = 1, topK = 10)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(math.abs(one("y") - (0.15 + 0.85 * 2.0)) < 1e-9)
    assert(math.abs(one("x") - (0.15 + 0.85 * 0.5)) < 1e-9)
  }

  test("sourceTokenKl: hand-computed divergence; identical groups give 0") {
    import testImplicits._
    val docs = Seq(("g1", "a a b"), ("g2", "b b")).toDF("src", "text")
    val got = TextAnalysis.sourceTokenKl(docs, col("src"), col("text"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // corpus: a=2, b=3, n=5. g1: p=(2/3, 1/3); g2: p(b)=1
    val kl1 = 2.0 / 3 * math.log((2.0 / 3) / (2.0 / 5)) +
      1.0 / 3 * math.log((1.0 / 3) / (3.0 / 5))
    val kl2 = math.log(1.0 / (3.0 / 5))
    assert(got("g1")._1 == 3L && got("g2")._1 == 2L)
    assert(math.abs(got("g1")._2 - kl1) < 1e-6)
    assert(math.abs(got("g2")._2 - kl2) < 1e-6)
    // same distribution in every group → both KL exactly 0
    val same = Seq(("g1", "a b"), ("g2", "a b")).toDF("src", "text")
    val z = TextAnalysis.sourceTokenKl(same, col("src"), col("text"))
      .collect().map(_.getDouble(2))
    assert(z.forall(_ == 0.0))
  }

  test("bpeMerges: hand-run merge sequence on the classic tiny corpus; early stop") {
    import testImplicits._
    val docs = Seq("ab ab abc", "ab").toDF("text")
    // words: "ab"×3, "abc"×1 → pairs: (a b)=4, (b c)=1 → merge1 = "a b"/4
    // states: "ab"×3, "ab c" → merge2 = "ab c"/1 → all single symbols → stop
    val got = TextAnalysis.bpeMerges(docs, col("text"), nMerges = 4)
      .orderBy("step").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq == Seq((1, "a b", 4L), (2, "ab c", 1L)))
    // greedy non-overlap: "aaaa" merges (a a) to two "aa" symbols, so round
    // 2's top pair is (aa aa)
    val rep = Seq("aaaa aaaa").toDF("text")
    val g2 = TextAnalysis.bpeMerges(rep, col("text"), nMerges = 2)
      .orderBy("step").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(g2.toSeq == Seq((1, "a a", 6L), (2, "aa aa", 2L)))
  }

  test("bpeMerges: non-BMP merge symbols (emoji) trim in codepoints, not UTF-16 units") {
    import testImplicits._
    // The pizza emoji U+1F355 is 2 UTF-16 units but ONE codepoint, and it
    // must survive as ONE symbol: the old between-chars split cut it into
    // lone surrogate halves that the UTF8String round trip mangled to '?',
    // and the old rewrite trimmed the accumulator by UTF-16 units, eating
    // the preceding symbol. With the codepoint split + codepoint trim,
    // round 1 merges the mid-word pair (🍕 a) and round 2's rewrite of
    // "c 🍕 a" keeps the leading "c" intact.
    val pizza = "\uD83C\uDF55"
    val docs = Seq(s"c${pizza}a c${pizza}a c${pizza}a " +
      s"x${pizza}a x${pizza}a").toDF("text")
    val got = TextAnalysis.bpeMerges(docs, col("text"), nMerges = 2)
      .orderBy("step").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq == Seq(
      (1, s"$pizza a", 5L),
      (2, s"c ${pizza}a", 3L)), got.toSeq)
  }

  test("bpeEncode: hand-run apply of learned merges; OOV words part-merge; emoji counts codepoints") {
    import testImplicits._
    val docs = Seq((1L, "ab ab abc"), (2L, "ab")).toDF("doc_id", "text")
    val merges = TextAnalysis.bpeMerges(docs, col("text"), nMerges = 4)
      .orderBy("step").collect().map(_.getString(1)).toSeq
    assert(merges == Seq("a b", "ab c"))
    // "ab" → 1 token/2 chars; "abc" → "ab c" → "abc" → 1 token/3 chars
    val got = TextAnalysis.bpeEncode(docs, col("doc_id"), col("text"), merges)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq((1L, 3L, 3L, 2.333333), (2L, 1L, 1L, 2.0)))
    // apply to a DIFFERENT corpus: "abd" part-merges to "ab d" (2 tokens),
    // "zz" has no learned pair (2 tokens) — OOV text degrades gracefully
    // to more tokens, never errors
    val other = Seq((7L, "abd zz")).toDF("doc_id", "text")
    val o = TextAnalysis.bpeEncode(other, col("doc_id"), col("text"), merges)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(o.toSeq == Seq((7L, 2L, 4L, 1.25)))
    // non-BMP chars are single symbols AND single chars: 🍕x = 2 tokens,
    // 2 codepoints under an empty applicable-merge set
    val pizza = "🍕"
    val em = TextAnalysis.bpeEncode(Seq((9L, s"${pizza}x")).toDF("doc_id", "text"),
      col("doc_id"), col("text"), merges)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(em.toSeq == Seq((1L, 2L, 1.0)))
  }

  test("bpeApply kernel: equals plain sequential rank-order application on a learned table") {
    import testImplicits._
    // independent oracle: the textbook sequential form — for each merge in
    // rank order, one greedy non-overlapping left-to-right rewrite. The
    // kernel's no-op-skipping loop must be indistinguishable from it.
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
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val merges = TextAnalysis.bpeMergesLocal(docs, col("text"), nMerges = 64)
      .orderBy("step").collect().map(_.getString(1)).toSeq
    assert(merges.size == 64)
    val states = docs.select(explode(split(lower(col("text")), "\\s+")).as("w"))
      .filter(col("w") =!= "").distinct().limit(400)
      .withColumn("state", concat_ws(" ",
        regexp_extract_all(col("w"), lit("(?s)."), lit(0))))
      .withColumn("applied", TextAnalysis.bpeApply(col("state"), merges))
      .collect()
    states.foreach { r =>
      assert(r.getString(2) == seqApply(r.getString(1), merges),
        s"word '${r.getString(0)}'")
    }
    // duplicate pair strings in the table fire at EACH of their ranks
    // (the fold form's semantics): "c ab" recreates nothing here, but the
    // repeated "a b" must not fire twice on the same occurrence
    val dup = Seq("a b", "ab c", "a b")
    val hand = Seq("a b c a b" -> null)
    hand.foreach { case (st, _) =>
      val viaKernel = Seq(st).toDF("state")
        .select(TextAnalysis.bpeApply(col("state"), dup)).head().getString(0)
      assert(viaKernel == seqApply(st, dup), s"state '$st'")
    }
    // empty table and single-symbol states pass through
    val passthrough = Seq("a", "a b").toDF("state")
      .select(TextAnalysis.bpeApply(col("state"), Seq.empty)).collect()
    assert(passthrough.map(_.getString(0)).toSeq == Seq("a", "a b"))
  }

  test("bpeMergesLocal: merge table equals the distributed trainer's; deep depth encodes monotonically") {
    import testImplicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def table(df: org.apache.spark.sql.DataFrame) = df.orderBy("step").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    // bpeMerges' distributed route, forced by a vocabulary cap of 0 words
    val (distRoute, distDf) = TextAnalysis.bpeMergesRouted(docs, col("text"), nMerges = 12,
      vocabCap = 0)
    assert(distRoute == "distributed")
    val dist = table(distDf)
    val local = table(TextAnalysis.bpeMergesLocal(docs, col("text"), nMerges = 12))
    assert(local == dist,
      "driver-local trainer must reproduce the distributed merge table exactly")
    val (driverRoute, driverDf) = TextAnalysis.bpeMergesRouted(docs, col("text"), nMerges = 12)
    assert(driverRoute == "driver" && table(driverDf) == dist)
    // production depth: 256 merges train in-memory and encode in ONE
    // kernel pass; a deeper table can only merge MORE, so per-doc token
    // counts are monotonically <= the 4-merge encoding's. The natural-text
    // corpus exhausts its pair structure at ~90 merges (tiny synthetic
    // vocabulary), so depth trains on md5(text) words — 32 hex chars per
    // word, enough pair mass for any depth
    val hexDocs = docs.select(col("doc_id"), md5(col("text")).as("text"))
    val m256 = TextAnalysis.bpeMergesLocal(hexDocs, col("text"), nMerges = 256)
      .orderBy("step").collect().map(_.getString(1)).toSeq
    assert(m256.size == 256)
    val enc4 = TextAnalysis.bpeEncode(hexDocs, col("doc_id"), col("text"), m256.take(4))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val enc256 = TextAnalysis.bpeEncode(hexDocs, col("doc_id"), col("text"), m256)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(enc256.keySet == enc4.keySet)
    assert(enc256.forall { case (id, n) => n <= enc4(id) })
    assert(enc256.values.sum < enc4.values.sum,
      "252 extra merges must shorten the corpus encoding somewhere")
    // the maxVocab cap is deterministic (count desc, word asc) and only
    // drops tail mass: capping at the full vocab size changes nothing
    val vocabSize = docs.select(explode(split(col("text"), "\\s+")).as("w"))
      .filter(col("w") =!= "").distinct().count().toInt
    val capped = TextAnalysis.bpeMergesLocal(docs, col("text"), nMerges = 12,
      maxVocab = vocabSize)
      .orderBy("step").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    assert(capped == dist)
  }

  test("klAgainstReference: hand-computed smoothed KL; OOV takes the Laplace floor") {
    import testImplicits._
    val reference = (Seq.fill(40)("a") ++ Seq.fill(30)("b") ++ Seq.fill(30)("c"))
      .toDF("t").groupBy("t").agg(count(lit(1)).as("c_t"))
    // n_ref=100, V=3 → smoothing denominator 104
    val r1 = TextAnalysis.klAgainstReference(Seq("a b").toDF("text"),
      col("text"), reference).head()
    val exp1 = 0.5 * math.log(0.5 / (41.0 / 104)) + 0.5 * math.log(0.5 / (31.0 / 104))
    assert(r1.getLong(0) == 2L && r1.getLong(1) == 2L && r1.getLong(2) == 0L)
    assert(math.abs(r1.getDouble(3) - exp1) < 1e-6)
    // pure OOV: p=1 against the floor 1/104 → KL = ln(104)
    val r2 = TextAnalysis.klAgainstReference(Seq("zz").toDF("text"),
      col("text"), reference).head()
    assert(r2.getLong(2) == 1L)
    assert(math.abs(r2.getDouble(3) - math.log(104.0)) < 1e-6)
    // empty batch → no row
    assert(TextAnalysis.klAgainstReference(
      Seq.empty[String].toDF("text"), col("text"), reference).count() == 0L)
  }

  test("phraseSearch: counts equal brute-force sliding scan; overlaps counted") {
    import testImplicits._
    val docs = Seq(
      (1L, "a b a b a"),      // "a b a" at starts 0 and 2 (overlapping)
      (2L, "x a b a y"),      // one occurrence
      (3L, "a a b b a"),      // none
      (4L, "a b")             // too short for the trigram
    ).toDF("id", "text")
    val got = TextAnalysis.phraseSearch(docs, col("id"), col("text"),
        Seq("a", "b", "a"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def brute(s: String, ph: Seq[String]): Long = {
      val t = s.split("\\s+").toSeq
      (0 to t.length - ph.length).count(i => t.slice(i, i + ph.length) == ph).toLong
    }
    val exp = Seq((1L, "a b a b a"), (2L, "x a b a y"), (3L, "a a b b a"),
      (4L, "a b")).map { case (i, s) => i -> brute(s, Seq("a", "b", "a")) }
      .filter(_._2 > 0).toMap
    assert(got == exp)
    assert(got(1L) == 2L)     // overlapping starts both counted
    // single-term phrase degenerates to term frequency
    val one = TextAnalysis.phraseSearch(docs, col("id"), col("text"), Seq("a"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one(1L) == 3L && one(3L) == 3L && one(4L) == 1L)
  }
}
