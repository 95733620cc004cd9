package graft.operators

import graft.functions.TextFeatures
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Hybrid rerank (reference `hybrid_rerank_results`,
  * /root/reference/minivectordb/vector_database.py:413-441): fuse the vector
  * search score with a char-n-gram hash cosine and a fuzzy partial-ratio
  * against the query TEXT, then re-sort and trim to k.
  *
  * Scale contract: the reference feeds this the OUTPUT of `find_most_similar`
  * (sentences + search scores, README.md:96-102) — a ≤ k-row relation. The
  * plan is therefore UDF-over-tiny-input + `TakeOrderedAndProject`; the
  * distributed heavy lifting happened upstream in Search. The deliberate
  * scale quirks are preserved: fuzzy is on a 0–100 scale while the other two
  * are cosines in [−1, 1] (vector_database.py:424), and weights default to
  * (0.80, 0.15, 0.05) (vector_database.py:413).
  */
object Rerank {

  val DefaultWeights: (Double, Double, Double) = (0.80, 0.15, 0.05)

  private val hashFeatures = udf(TextFeatures.charNgramHash _)
  private val partialRatio = udf(TextFeatures.partialRatio _)

  /** Rerank `results` — rows carrying a sentence column and a search-score
    * column — against `query`. Returns the input columns plus `hash_score`,
    * `fuzzy_score`, `combined_score`, ordered by `combined_score` descending
    * (tie-broken on the sentence for determinism), limited to k.
    *
    * The reference's catch-all fallback (any exception ⇒ first k inputs
    * untouched, vector_database.py:439-441, pinned by
    * tests/test_vector_database.py:554-570 for the empty case) dissolves
    * here: an empty input plan yields an empty result naturally.
    */
  def hybridRerank(
      results: DataFrame,
      sentence: Column,
      searchScore: Column,
      query: String,
      k: Int = 5,
      weights: (Double, Double, Double) = DefaultWeights): DataFrame = {
    // Hash the (single) query driver-side; ship the 64-d vector as a literal.
    val queryVec = TextFeatures.charNgramHash(query).toSeq
    results
      .withColumn("hash_score", graft.functions.VectorFunctions.dot(hashFeatures(sentence), typedLit(queryVec)))
      .withColumn("fuzzy_score", partialRatio(lit(query), sentence).cast("double"))
      .withColumn(
        "combined_score",
        lit(weights._1) * searchScore + lit(weights._2) * col("hash_score") +
          lit(weights._3) * col("fuzzy_score"))
      .orderBy(desc("combined_score"), sentence.asc)
      .limit(k)
  }

  /** Deterministic-kernel hybrid rerank — same structure and weights as
    * [[hybridRerank]] (search ⊕ char-n-gram-hash ⊕ lexical, 0.80/0.15/0.05),
    * with every kernel ORACLE-REPLICABLE in SQL:
    *
    *  - hash_score: cosine of [[graft.functions.NgramPolyHashVecExpr]]
    *    signed polyhash features (normalized ⇒ plain dot), replacing the
    *    murmur HashingVectorizer twin;
    *  - overlap_score: distinct-token Jaccard × 100, replacing fuzzy
    *    partial_ratio ON ITS 0–100 SCALE — the reference's scale quirk
    *    (vector_database.py:424: a [0,100] signal under a 0.05 weight
    *    dominating two cosines) is deliberately preserved so the variant
    *    ranks like the original;
    *  - deterministic tiebreak on `id` (the murmur variant keeps the
    *    reference's sentence tiebreak).
    *
    * The murmur+difflib original stays the API for reference parity
    * (RerankSpec pins thefuzz values); this variant is the driver-oracled
    * entry (q_rerank_hybrid).
    */
  def hybridRerankDeterministic(
      results: DataFrame,
      id: Column,
      sentence: Column,
      searchScore: Column,
      query: String,
      k: Int = 5,
      weights: (Double, Double, Double) = DefaultWeights): DataFrame = {
    import graft.functions.NgramPolyHashVecExpr
    val queryVec = NgramPolyHashVecExpr.features(query).toSeq
    val queryToks = query.toLowerCase.split("\\s+").filter(_.nonEmpty).distinct.toSeq
    val docVec = org.apache.spark.sql.graft.Bridge.column(
      NgramPolyHashVecExpr(org.apache.spark.sql.graft.Bridge.expression(sentence)))
    val toks = array_distinct(split(lower(sentence), "\\s+"))
    val inter = size(array_intersect(toks, typedLit(queryToks))).cast("double")
    val overlap = lit(100.0) * inter /
      (size(toks) + lit(queryToks.size.toDouble) - inter)
    results
      .withColumn("hash_score", graft.functions.VectorFunctions.dot(docVec, typedLit(queryVec)))
      .withColumn("overlap_score", overlap)
      .withColumn(
        "combined_score",
        lit(weights._1) * searchScore + lit(weights._2) * col("hash_score") +
          lit(weights._3) * col("overlap_score"))
      .orderBy(desc("combined_score"), id.asc)
      .limit(k)
  }

  /** Reciprocal-rank fusion of several retrieval result lists (Cormack,
    * Clarke & Buettcher 2009): `rrf(d) = Σ_lists 1/(c + rank_list(d))`,
    * summing only over the lists that contain `d`. The standard way to
    * fuse dense (cosine k-NN) and sparse (BM25) retrieval without score
    * calibration — ranks are comparable where raw scores are not.
    *
    * Scale contract mirrors [[hybridRerank]]: the inputs are TOP-N lists
    * (each ≤ a few hundred rows by construction — the corpus-scale work is
    * the upstream Search/Bm25 top-k), so the unpartitioned rank windows and
    * the full-outer join chain all run on bounded relations. Each list df
    * must carry (id, score); rank is dense position by (score DESC, id ASC)
    * — fully deterministic, and the fused score is a pure function of the
    * ranks (integer arithmetic under one double reciprocal per list, summed
    * in the fixed list order — oracle bit-parity holds).
    */
  def rrfFusion(lists: Seq[(String, DataFrame)], c: Int = 60, k: Int = 10): DataFrame = {
    require(lists.nonEmpty, "at least one ranked list")
    import org.apache.spark.sql.expressions.Window
    val ranked = lists.map { case (name, df) =>
      df.select(col("id"),
        row_number().over(Window.orderBy(desc("score"), asc("id")))
          .as(s"rank_$name"))
    }
    val joined = ranked.reduce((a, b) => a.join(b, Seq("id"), "full_outer"))
    val fused = lists.map { case (name, _) =>
      when(col(s"rank_$name").isNotNull,
        lit(1.0) / (lit(c.toDouble) + col(s"rank_$name")))
        .otherwise(lit(0.0))
    }.reduce(_ + _)
    joined
      .withColumn("rrf_score", fused)
      .orderBy(desc("rrf_score"), asc("id"))
      .limit(k)
  }
}
