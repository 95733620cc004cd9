package graft

import graft.Checkpoint.CheckpointOps
import graft.functions.{VectorFunctions => VF}
import graft.operators._
import graft.sources.{Parquet, VectorStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — one `queries` entry per implemented operator
  * (SURVEY.md §2), each paired with DuckDB-runnable oracle SQL over the same
  * parquet tables.
  *
  * Oracle-parity conventions (BASELINE.md measurement notes):
  *  - float scores are computed in Double on both sides (DuckDB arrays are
  *    CAST to DOUBLE[]) and rounded to 6 decimals;
  *  - every ordered result pins a total order (score DESC, id ASC) and
  *    ORDER/LIMIT happen on the ROUNDED score in both engines;
  *  - aggregate/computed columns are aliased identically on both sides.
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_knn")(spark, "/root/testdata/sf0.001")

  /** The corpus vector used as a deterministic query point: both engines
    * read it from the same parquet, so no float literals cross the boundary.
    * Memoized per (session, dir, id) — six queries share it, one lookup job.
    */
  private val qvCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, String), Seq[Float]]
  private def queryVec(spark: SparkSession, dir: String, vecId: String = "0"): Seq[Float] =
    qvCache.getOrElseUpdate((spark, dir, vecId),
      VectorStore.fromEmbeddingsTable(spark, dir).getVector(vecId).toSeq)

  private def knnQuery(
      spark: SparkSession,
      dir: String,
      k: Int,
      metadataFilter: Seq[FilterDsl.MetaFilter] = Nil,
      excludeFilter: Seq[Map[String, MetaValue]] = Nil,
      orFilters: Seq[FilterDsl.MetaFilter] = Nil): DataFrame = {
    val store = VectorStore.fromEmbeddingsTable(spark, dir)
    val q = queryVec(spark, dir)
    Search.findMostSimilar(store, q, metadataFilter, excludeFilter, orFilters, k = k)
      .withColumn("score", round(col("score"), 6))
      .select("id", "score")
      .orderBy(desc("score"), asc("id"))
  }

  // top-k selection runs on the EXACT double score (like the Spark plan);
  // rounding is applied to the already-selected rows.
  private val knnOracleBase =
    """SELECT id, round(score, 6) AS score FROM (
      |  SELECT CAST(e.vec_id AS VARCHAR) AS id,
      |         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.qe AS DOUBLE[])) AS score
      |  FROM embeddings e, (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) q
      |  %s
      |  ORDER BY score DESC, id ASC
      |  LIMIT %d
      |) ORDER BY score DESC, id ASC""".stripMargin

  /** MMR oracle: top-12 shortlist + pairwise sims as CTEs, then the greedy
    * steps 2..k unrolled — each step's selected-set is the UNION of prior
    * step CTEs, the argmax an ORDER BY … LIMIT 1 with the same (mmr DESC,
    * id ASC) tie-break, and the constants 0.75/0.25 exact in both engines.
    */
  /** k-center oracle: the greedy farthest-point rounds unrolled — each
    * round removes the last-picked center, folds its distance into the
    * running min, and takes the (mind desc, id asc) argmax; MATERIALIZED
    * per round so the chain stays linear.
    */
  private def kCenterOracle(k: Int): String = {
    val sel = (s"SELECT 0 AS round, id AS vec_id, CAST(NULL AS DOUBLE) AS dist FROM c0" +:
      (1 until k).map(r => s"SELECT $r, id, round(mind, 6) FROM c$r"))
      .mkString("\nUNION ALL ")
    s"WITH ${kCenterChain(k)}\n$sel\nORDER BY round"
  }

  /** The shared greedy-round CTE chain (e, c0, m1, c1, … c(k−1)) used by
    * both k-center oracles.
    */
  private def kCenterChain(k: Int): String = {
    val chain = new StringBuilder
    chain.append(
      """e AS MATERIALIZED (
        |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  WHERE list_inner_product(CAST(embedding AS DOUBLE[]),
        |    CAST(embedding AS DOUBLE[])) > 0
        |), c0 AS (SELECT id, v FROM e ORDER BY id LIMIT 1
        |), m1 AS MATERIALIZED (
        |  SELECT e.id, e.v, 1.0 - list_cosine_similarity(e.v, c0.v) AS mind
        |  FROM e, c0 WHERE e.id <> c0.id
        |)""".stripMargin)
    for (r <- 1 until k) {
      chain.append(
        s", c$r AS (SELECT id, v, mind FROM m$r ORDER BY mind DESC, id ASC LIMIT 1)")
      if (r < k - 1)
        chain.append(
          s""", m${r + 1} AS MATERIALIZED (
             |  SELECT m.id, m.v,
             |    least(m.mind, 1.0 - list_cosine_similarity(m.v, c$r.v)) AS mind
             |  FROM m$r m, c$r WHERE m.id <> c$r.id
             |)""".stripMargin)
    }
    chain.toString
  }

  /** Cover-audit oracle: the [[kCenterOracle]] round chain, the selected
    * centers unioned into one table, per-vector argmin assignment (dist
    * asc, center asc), per-center count + max distance.
    */
  private def kCenterAssignOracle(k: Int): String = {
    val chain = kCenterChain(k)
    val cen = (s"SELECT id AS center_id, v AS cv FROM c0" +:
      (1 until k).map(r => s"SELECT id, v FROM c$r")).mkString(" UNION ALL ")
    s"""WITH $chain, cen AS ($cen
       |), asg AS (
       |  SELECT e.id, cen.center_id,
       |    1.0 - list_cosine_similarity(e.v, cen.cv) AS dist,
       |    row_number() OVER (PARTITION BY e.id
       |      ORDER BY 1.0 - list_cosine_similarity(e.v, cen.cv) ASC,
       |        cen.center_id ASC) AS rn
       |  FROM e, cen
       |)
       |SELECT center_id, CAST(count(*) AS BIGINT) AS n_assigned,
       |  round(max(dist), 6) AS cover_radius
       |FROM asg WHERE rn = 1
       |GROUP BY 1 ORDER BY center_id""".stripMargin
  }

  private def mmrOracle(k: Int): String = {
    val steps = (2 to k).map { r =>
      val selUnion = (1 until r)
        .map(i => s"SELECT id FROM s$i").mkString(" UNION ALL ")
      s"""s$r AS (
         |  SELECT $r AS rank, c.id, c.rel, 0.75 * c.rel - 0.25 * max(s.sim) AS mmr
         |  FROM cand c JOIN sims s ON c.id = s.id_a AND s.id_b IN ($selUnion)
         |  WHERE c.id NOT IN ($selUnion)
         |  GROUP BY c.id, c.rel
         |  ORDER BY mmr DESC, c.id ASC LIMIT 1
         |)""".stripMargin
    }.mkString(", ")
    val all = ("SELECT * FROM p1" +: (2 to k).map(r => s"SELECT * FROM s$r"))
      .mkString(" UNION ALL ")
    s"""WITH cand AS (
       |  SELECT id, score AS rel, v FROM (
       |    SELECT CAST(e.vec_id AS VARCHAR) AS id,
       |      list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.qe AS DOUBLE[])) AS score,
       |      CAST(e.embedding AS DOUBLE[]) AS v
       |    FROM embeddings e, (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) q
       |    ORDER BY score DESC, id ASC LIMIT 12
       |  )
       |), sims AS (
       |  SELECT a.id AS id_a, b.id AS id_b, list_cosine_similarity(a.v, b.v) AS sim
       |  FROM cand a JOIN cand b ON a.id <> b.id
       |), s1 AS (SELECT id, rel FROM cand ORDER BY rel DESC, id ASC LIMIT 1),
       |p1 AS (SELECT 1 AS rank, id, rel, 0.75 * rel AS mmr FROM s1),
       |$steps
       |SELECT CAST(rank AS INT) AS rank, id, round(rel, 6) AS rel, round(mmr, 6) AS mmr
       |FROM ($all) ORDER BY rank""".stripMargin
  }

  /** BPE oracle: the merge rounds unrolled as CTE triples — p_r picks the
    * top pair over w_{r-1}'s adjacent-symbol counts (cnt DESC, pair ASC),
    * m_r splits it, w_r rewrites every state with the same greedy
    * left-to-right `list_reduce` fold the Spark `aggregate` runs (a merged
    * symbol can never equal its own left side, so compare-with-last IS the
    * classic non-overlapping scan).
    */
  private def bpeOracle(n: Int): String = {
    val rounds = (1 to n).map { r =>
      val prev = s"w${r - 1}"
      s"""p$r AS (
         |  SELECT pr, cnt FROM (
         |    SELECT u.pr AS pr, sum(n_w) AS cnt
         |    FROM $prev, unnest(CASE WHEN len(string_split(state, ' ')) >= 2
         |      THEN list_transform(range(1, len(string_split(state, ' '))),
         |        i -> string_split(state, ' ')[i] || ' ' || string_split(state, ' ')[i+1])
         |      ELSE CAST([] AS VARCHAR[]) END) AS u(pr)
         |    GROUP BY u.pr
         |  ) ORDER BY cnt DESC, pr ASC LIMIT 1
         |), m$r AS (
         |  SELECT string_split(pr, ' ')[1] AS x, string_split(pr, ' ')[2] AS y, pr, cnt FROM p$r
         |), w$r AS (
         |  SELECT list_reduce(list_prepend('', string_split(state, ' ')), (acc, t) ->
         |    CASE WHEN acc = '' THEN t
         |         WHEN string_split(acc, ' ')[-1] = m$r.x AND t = m$r.y THEN
         |           CASE WHEN acc = m$r.x THEN m$r.x || m$r.y
         |                ELSE substr(acc, 1, length(acc) - length(m$r.x) - 1) || ' ' || m$r.x || m$r.y END
         |         ELSE acc || ' ' || t END) AS state, n_w
         |  FROM $prev, m$r
         |)""".stripMargin
    }.mkString(", ")
    val all = (1 to n)
      .map(r => s"SELECT $r AS step, pr AS pair, cnt FROM m$r")
      .mkString(" UNION ALL ")
    s"""WITH w0 AS (
       |  SELECT array_to_string(string_split(w, ''), ' ') AS state, count(*) AS n_w
       |  FROM (SELECT unnest(string_split_regex(text, '\\s+')) AS w FROM documents)
       |  GROUP BY 1
       |), $rounds
       |SELECT CAST(step AS INT) AS step, pair, CAST(cnt AS BIGINT) AS cnt
       |FROM ($all) ORDER BY step""".stripMargin
  }

  /** BPE ENCODE oracle: the same unrolled learn chain as [[bpeOracle]]
    * but with the word carried through every rewrite (w ↔ state is a
    * bijection, so grouping by both leaves the learned merges
    * unchanged), then the per-word token counts joined back over the
    * per-document word list — the vocabulary-bounded apply shape the
    * Spark operator runs.
    */
  private def bpeEncodeOracle(n: Int): String =
    s"""WITH ${bpeApplyCtes(n)}
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |  round(CAST(sum(n_chars) AS DOUBLE) / sum(n_tok), 6) AS chars_per_token
       |FROM dw JOIN wt USING (w)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Composed tokenizer-pipeline oracle: the shared learn+apply CTE chain,
    * per-doc budgets, then the [[graft.operators.Curation.packBins]]
    * shard/cumsum/bin arithmetic replayed in a window, aggregated per bin.
    */
  private def bpeTokenizePackOracle(n: Int, shardDocs: Int, budget: Int): String =
    s"""WITH ${bpeApplyCtes(n)}, budgets AS (
       |  SELECT doc_id AS id, CAST(sum(n_tok) AS BIGINT) AS n_tokens
       |  FROM dw JOIN wt USING (w) GROUP BY 1
       |), pk AS (
       |  SELECT id, (id - id % $shardDocs) // $shardDocs AS shard, n_tokens,
       |    sum(n_tokens) OVER (PARTITION BY (id - id % $shardDocs) // $shardDocs
       |      ORDER BY id ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM budgets
       |), pb AS (
       |  SELECT id, shard,
       |    ((cum - n_tokens) - (cum - n_tokens) % $budget) // $budget AS bin,
       |    n_tokens
       |  FROM pk
       |)
       |SELECT CAST(shard AS BIGINT) AS shard, CAST(bin AS BIGINT) AS bin,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS bin_tokens
       |FROM pb GROUP BY 1, 2 ORDER BY shard, bin""".stripMargin

  /** The learn+apply CTE chain shared by the BPE encode oracles: w0..wN
    * carry the word through every rewrite, `wt` is the per-word token
    * count, `dw` the per-doc word list.
    */
  private def bpeApplyCtes(n: Int): String = {
    val rounds = (1 to n).map { r =>
      val prev = s"w${r - 1}"
      s"""p$r AS (
         |  SELECT pr, cnt FROM (
         |    SELECT u.pr AS pr, sum(n_w) AS cnt
         |    FROM $prev, unnest(CASE WHEN len(string_split(state, ' ')) >= 2
         |      THEN list_transform(range(1, len(string_split(state, ' '))),
         |        i -> string_split(state, ' ')[i] || ' ' || string_split(state, ' ')[i+1])
         |      ELSE CAST([] AS VARCHAR[]) END) AS u(pr)
         |    GROUP BY u.pr
         |  ) ORDER BY cnt DESC, pr ASC LIMIT 1
         |), m$r AS (
         |  SELECT string_split(pr, ' ')[1] AS x, string_split(pr, ' ')[2] AS y FROM p$r
         |), w$r AS (
         |  SELECT w, list_reduce(list_prepend('', string_split(state, ' ')), (acc, t) ->
         |    CASE WHEN acc = '' THEN t
         |         WHEN string_split(acc, ' ')[-1] = m$r.x AND t = m$r.y THEN
         |           CASE WHEN acc = m$r.x THEN m$r.x || m$r.y
         |                ELSE substr(acc, 1, length(acc) - length(m$r.x) - 1) || ' ' || m$r.x || m$r.y END
         |         ELSE acc || ' ' || t END) AS state, n_w
         |  FROM $prev, m$r
         |)""".stripMargin
    }.mkString(", ")
    s"""w0 AS (
       |  SELECT w, array_to_string(string_split(w, ''), ' ') AS state, count(*) AS n_w
       |  FROM (SELECT unnest(string_split_regex(text, '\\s+')) AS w FROM documents) t
       |  WHERE w <> ''
       |  GROUP BY 1, 2
       |), $rounds, wt AS (
       |  SELECT w, len(string_split(state, ' ')) AS n_tok, length(w) AS n_chars FROM w$n
       |), dw AS (
       |  SELECT doc_id, u.w AS w
       |  FROM documents, unnest(string_split_regex(text, '\\s+')) AS u(w)
       |  WHERE u.w <> ''
       |)""".stripMargin
  }

  /** Run a compiled metadata predicate over the events-derived metadata
    * corpus, returning matching ids in numeric order.
    */
  private def filterQuery(
      andF: Seq[FilterDsl.MetaFilter] = Nil,
      orF: Seq[FilterDsl.MetaFilter] = Nil,
      exF: Seq[Map[String, MetaValue]] = Nil)(spark: SparkSession, dir: String): DataFrame =
    MetadataTables.eventsMeta(spark, dir)
      .filter(FilterDsl.compile(col("metadata_kv"), andF, orF, exF))
      .select("id")
      .orderBy(col("id").cast("bigint"))

  private def filterOracle(where: String): String =
    s"""SELECT CAST(event_id AS VARCHAR) AS id FROM events WHERE $where ORDER BY event_id"""

  /** The ANN oracle replicates the sign-LSH bucket math in SQL — plane
    * literals and probe masks are generated from the same Scala constants
    * the Spark plan uses, so the check is exact regardless of LSH recall.
    * Parameterized by plane count so the rebuild query (which re-dials the
    * planes) derives its oracle from the SAME generator.
    */
  private def annOracleFor(numPlanes: Int, radius: Int): String = {
    val planes = AnnSearch.hyperplanes(dim = 64, numPlanes = numPlanes)
    def bucketExpr(vecSql: String): String =
      planes.zipWithIndex.map { case (p, i) =>
        val lst = p.mkString("[", ",", "]")
        s"(CASE WHEN list_dot_product($vecSql, $lst) >= 0 THEN ${1 << i} ELSE 0 END)"
      }.mkString("(", " + ", ")")
    val masks = AnnSearch.xorMasks(planes.length, radius).mkString("[", ",", "]")
    s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0),
       |qb AS (SELECT ${bucketExpr("qe")} AS b FROM q),
       |probes AS (SELECT xor(qb.b, m) AS pb FROM qb, unnest($masks) AS t(m)),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
       |             ${bucketExpr("CAST(embedding AS DOUBLE[])")} AS bucket
       |      FROM embeddings)
       |SELECT id, round(score, 6) AS score FROM (
       |  SELECT CAST(e.vec_id AS VARCHAR) AS id, list_cosine_similarity(e.emb, q.qe) AS score
       |  FROM e, q WHERE e.bucket IN (SELECT pb FROM probes)
       |  ORDER BY score DESC, id ASC LIMIT 10
       |) ORDER BY score DESC, id ASC""".stripMargin
  }

  private val annOracle: String = annOracleFor(6, 2)

  /** Per-dim drift oracle (unnest + per-pos avg on both halves) — shared by
    * q_embed_drift and its precomputed-reference twin q_embed_drift_ref
    * (identical rows by construction).
    */
  private val embedDriftOracle: String =
    """WITH r AS (
      |  SELECT generate_subscripts(embedding, 1) - 1 AS pos,
      |    CAST(unnest(embedding) AS DOUBLE) AS v
      |  FROM embeddings WHERE vec_id % 2 = 0
      |),
      |c AS (
      |  SELECT generate_subscripts(embedding, 1) - 1 AS pos,
      |    CAST(unnest(embedding) AS DOUBLE) AS v
      |  FROM embeddings WHERE vec_id % 2 = 1
      |),
      |rs AS (SELECT pos, avg(v) AS mr, avg(v*v) AS mr2,
      |         CAST(count(*) AS BIGINT) AS n_ref FROM r GROUP BY pos),
      |cs AS (SELECT pos, avg(v) AS mc,
      |         CAST(count(*) AS BIGINT) AS n_cur FROM c GROUP BY pos)
      |SELECT CAST(rs.pos AS INT) AS pos, n_ref, n_cur,
      |  round(mr, 6) AS mean_ref, round(mc, 6) AS mean_cur,
      |  CASE WHEN sqrt(greatest(mr2 - mr*mr, 0)) > 0
      |       THEN round((mc - mr) / sqrt(greatest(mr2 - mr*mr, 0)), 6)
      |  END AS shift_z
      |FROM rs JOIN cs ON rs.pos = cs.pos ORDER BY pos""".stripMargin

  /** IVF probe oracle — shared by q_ann_ivf and its persisted-layout
    * twin q_ann_ivf_clustered (identical results by construction).
    */
  private val ivfOracle: String =
    """WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
        |           FROM embeddings WHERE vec_id < 16),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
        |asg AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT e.vec_id, c.cid,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_dot_product(c.cv, c.cv) - 2*list_dot_product(e.ev, c.cv) ASC,
        |        c.cid ASC) AS rn
        |    FROM e, c) WHERE rn = 1
        |),
        |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
        |qp AS (
        |  SELECT cid FROM (
        |    SELECT c.cid, row_number() OVER (ORDER BY
        |      list_dot_product(c.cv, c.cv) - 2*list_dot_product(q.qv, c.cv) ASC,
        |      c.cid ASC) AS rn
        |    FROM c, q) WHERE rn <= 4
        |)
        |SELECT id, round(score, 6) AS score FROM (
        |  SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |         list_cosine_similarity(e.ev, q.qv) AS score
        |  FROM e JOIN asg ON e.vec_id = asg.vec_id, q
        |  WHERE asg.cid IN (SELECT cid FROM qp)
        |  ORDER BY score DESC, id ASC LIMIT 10
        |) ORDER BY score DESC, id ASC""".stripMargin

  /** Survivors of the clustered-index forget, with their bucket column
    * intact — replicates [[graft.operators.AnnSearch.bucketCol]] in SQL
    * (same plane literals as annOracle) over the non-tombstoned rows.
    * Parameterized by the tombstone set: the embedding-carrying forget
    * (q_ann_forget) and the bare-id bloom forget (q_ann_forget_by_id) use
    * different ids but the same survivor contract.
    */
  private def annForgetOracleFor(ids: Seq[Long]): String = {
    val planes = AnnSearch.hyperplanes(dim = 64)
    val bucketExpr = planes.zipWithIndex.map { case (p, i) =>
      val lst = p.mkString("[", ",", "]")
      s"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), $lst) >= 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString("(", " + ", ")")
    s"""SELECT vec_id, $bucketExpr AS bucket FROM embeddings
       |WHERE vec_id NOT IN (${ids.mkString(", ")}) ORDER BY vec_id""".stripMargin
  }

  private val annForgetOracle: String =
    annForgetOracleFor(Seq(3L, 7L, 11L, 19L, 42L))

  /** The annOracle with the metadata predicate composed in — the filtered
    * ANN twin (same planes, same radius-2 probe set, label = 3 on the
    * corpus side).
    */
  private val annOracleFiltered: String = {
    val planes = AnnSearch.hyperplanes(dim = 64)
    def bex(vecSql: String): String =
      planes.zipWithIndex.map { case (p, i) =>
        val lst = p.mkString("[", ",", "]")
        s"(CASE WHEN list_dot_product($vecSql, $lst) >= 0 THEN ${1 << i} ELSE 0 END)"
      }.mkString("(", " + ", ")")
    val masks = AnnSearch.xorMasks(planes.length, 2).mkString("[", ",", "]")
    s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0),
       |qb AS (SELECT ${bex("qe")} AS b FROM q),
       |probes AS (SELECT xor(qb.b, m) AS pb FROM qb, unnest($masks) AS t(m)),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
       |             ${bex("CAST(embedding AS DOUBLE[])")} AS bucket
       |      FROM embeddings WHERE label = 3)
       |SELECT id, round(score, 6) AS score FROM (
       |  SELECT CAST(e.vec_id AS VARCHAR) AS id, list_cosine_similarity(e.emb, q.qe) AS score
       |  FROM e, q WHERE e.bucket IN (SELECT pb FROM probes)
       |  ORDER BY score DESC, id ASC LIMIT 10
       |) ORDER BY score DESC, id ASC""".stripMargin
  }

  /** LSH-blocked embedding near-dup oracle: replicates the sign-LSH bucket
    * math in SQL from the same plane constants the Spark plan uses (the
    * q_ann_topk pattern), then applies the EXACT blocking definition —
    * candidate iff Hamming(bucket_a, bucket_b) ≤ radius (what the multiprobe
    * equi-join generates) — so the check is exact whatever the LSH recall.
    */
  /** SQL twin of the sign-LSH bucket id over `vecSql` — shared by the
    * embedding-LSH dedup oracle and the embed-pipeline oracle.
    */
  private def bucketExpr(vecSql: String): String = {
    val planes = AnnSearch.hyperplanes(dim = 64)
    planes.zipWithIndex.map { case (p, i) =>
      val lst = p.mkString("[", ",", "]")
      s"(CASE WHEN list_dot_product($vecSql, $lst) >= 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString("(", " + ", ")")
  }

  private val dedupEmbeddingLshOracle: String = {
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev,
       |         ${bucketExpr("CAST(embedding AS DOUBLE[])")} AS bucket
       |  FROM embeddings
       |)
       |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |  round(list_cosine_similarity(a.ev, b.ev), 6) AS cosine
       |FROM e a, e b
       |WHERE a.vec_id < b.vec_id
       |  AND bit_count(xor(CAST(a.bucket AS BIGINT), CAST(b.bucket AS BIGINT))) <= 2
       |  AND list_cosine_similarity(a.ev, b.ev) >= 0.4
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Hybrid-rerank oracle: exact SQL replica of the deterministic kernels
    * (graft.functions.NgramPolyHashVecExpr + distinct-token Jaccard ×100).
    * The query string rides through the SAME feature CTEs as the document
    * rows (union'd in as a marker row), so no float literal ever crosses
    * the engine boundary — only the query text and the integer hash
    * constants.
    */
  // grams/hash expressions over a lowercase string column `t` — verbatim
  // integer arithmetic of NgramPolyHashVecExpr.features, shared by the
  // rerank and text-search oracles
  private val gramsSql = "flatten(list_transform(range(1, 7), n -> " +
    "list_transform(range(1, length(t) - n + 2), i -> substring(t, CAST(i AS INT), CAST(n AS INT)))))"
  private val polyhashSql = "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
    "list_transform(range(1, length(g)+1), i -> CAST(unicode(substring(g, CAST(i AS INT), 1)) AS BIGINT))), " +
    "(acc, x) -> (acc*31 + x) % 1000000007)"

  // same rolling fingerprint over an arbitrary column name (sketch oracles)
  private def polySqlOf(v: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(range(1, length($v)+1), i -> CAST(unicode(substring($v, CAST(i AS INT), 1)) AS BIGINT))), " +
      "(acc, x) -> (acc*31 + x) % 1000000007)"

  // the second, independent fingerprint (base 131 mod 1e9+9) — the wide
  // sketch tier's other 30-bit lane (TextAnalysis.fingerprint2)
  private def polySql2Of(v: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(range(1, length($v)+1), i -> CAST(unicode(substring($v, CAST(i AS INT), 1)) AS BIGINT))), " +
      "(acc, x) -> (acc*131 + x) % 1000000009)"

  /** Shared CTE chain of the repeated-span oracles: positioned 5-gram
    * fingerprints, cross-doc duplicated positions, islands merged to
    * maximal spans keyed by md5 of the actual span text (the SQL twin of
    * [[graft.operators.Dedup.repeatedSpans]] — content-exact key, since the
    * scrub deletes on key equality).
    */
  private val spansOracleBase: String =
    s"""WITH tok AS (SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM documents),
       |gr AS (SELECT doc_id, list_transform(
       |    list_transform(range(1, len(w)-3), i -> w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]),
       |    g -> $polyhashSql) AS fps FROM tok),
       |px AS (SELECT doc_id, fps, unnest(range(1, len(fps)+1)) AS i FROM gr),
       |g AS (SELECT doc_id, CAST(i-1 AS INT) AS pos, fps[i] AS fp FROM px),
       |dup AS (SELECT fp FROM g GROUP BY fp HAVING count(DISTINCT doc_id) >= 2),
       |dp AS (SELECT g.doc_id, g.pos, g.fp FROM g JOIN dup USING (fp)),
       |isl AS (SELECT doc_id, pos, fp,
       |  pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM dp),
       |spans0 AS (
       |  SELECT doc_id, min(pos) AS start_pos,
       |    CAST(max(pos)-min(pos)+5 AS INT) AS span_words
       |  FROM isl GROUP BY doc_id, grp),
       |spans AS (
       |  SELECT s.doc_id, s.start_pos, s.span_words,
       |    md5(array_to_string(t.w[s.start_pos+1 : s.start_pos+s.span_words], ' ')) AS span_key
       |  FROM spans0 s JOIN tok t ON s.doc_id = t.doc_id)""".stripMargin

  private val rerankOracle: String = {
    val grams = gramsSql
    val polyhash = polyhashSql
    s"""WITH hits AS (
       |  SELECT CAST(e.vec_id AS VARCHAR) AS id,
       |         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.qe AS DOUBLE[])) AS score
       |  FROM embeddings e, (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) q
       |  ORDER BY score DESC, id ASC LIMIT 20
       |), rows_ AS (
       |  SELECT h.id, h.score, lower(d.text) AS t
       |  FROM hits h JOIN documents d ON h.id = CAST(d.doc_id AS VARCHAR)
       |  UNION ALL SELECT '__query__', 0.0, lower('table join query scan fast')
       |), hs AS (
       |  SELECT id, score, t,
       |    list_transform($grams, g -> $polyhash) AS hl
       |  FROM rows_
       |), vv AS (
       |  SELECT id, score, t,
       |    list_transform(range(0, 64), b -> CAST(coalesce(list_sum(list_transform(hl, h ->
       |      CASE WHEN h % 64 = b THEN (CASE WHEN (h // 64) % 2 = 0 THEN 1 ELSE -1 END) ELSE 0 END)), 0) AS DOUBLE)) AS v
       |  FROM hs
       |), vn AS (
       |  SELECT id, score,
       |    CASE WHEN list_dot_product(v, v) > 0
       |         THEN list_transform(v, x -> x / sqrt(list_dot_product(v, v))) ELSE v END AS fv,
       |    list_distinct(string_split_regex(t, '\\s+')) AS toks
       |  FROM vv
       |), q AS (SELECT fv AS qv, toks AS qt FROM vn WHERE id = '__query__'),
       |scored AS (
       |  SELECT d.id,
       |    0.80 * d.score + 0.15 * list_dot_product(d.fv, q.qv)
       |      + 0.05 * (100.0 * len(list_intersect(d.toks, q.qt)) /
       |                (len(d.toks) + len(q.qt) - len(list_intersect(d.toks, q.qt)))) AS combined
       |  FROM vn d, q WHERE d.id <> '__query__'
       |  ORDER BY combined DESC, id ASC LIMIT 5
       |)
       |SELECT id, round(combined, 6) AS combined_score FROM scored
       |ORDER BY combined_score DESC, id ASC""".stripMargin
  }

  /** Text-search (O22) oracle: the full text → embed → store → cosine top-k
    * path replicated in SQL. Embedding = the deterministic polyhash kernel
    * (same CTEs as the rerank oracle, double precision), then the STORE's
    * float32 dtype coercion (`VectorStore.ingest` casts to ARRAY<FLOAT>;
    * `CAST(fv AS REAL[])` is the same IEEE round-to-nearest), then the exact
    * search arithmetic: dot and norms accumulated in double over the float
    * values, score = dot / (|v|·|q|) — the fold order `DotProductExpr` and
    * DuckDB's `list_dot_product` share. The query string rides through the
    * same feature CTEs as a marker row, so no float literal crosses the
    * engine boundary.
    */
  private val textSearchOracle: String = {
    val grams = gramsSql
    val polyhash = polyhashSql
    s"""WITH rows_ AS (
       |  SELECT CAST(doc_id AS VARCHAR) AS id, lower(text) AS t FROM documents
       |  UNION ALL SELECT '__query__', lower('table join query scan fast')
       |), hs AS (
       |  SELECT id, list_transform($grams, g -> $polyhash) AS hl FROM rows_
       |), vv AS (
       |  SELECT id, list_transform(range(0, 64), b -> CAST(coalesce(list_sum(list_transform(hl, h ->
       |    CASE WHEN h % 64 = b THEN (CASE WHEN (h // 64) % 2 = 0 THEN 1 ELSE -1 END) ELSE 0 END)), 0) AS DOUBLE)) AS v
       |  FROM hs
       |), vn AS (
       |  SELECT id, CASE WHEN list_dot_product(v, v) > 0
       |       THEN list_transform(v, x -> x / sqrt(list_dot_product(v, v))) ELSE v END AS fv
       |  FROM vv
       |), fe AS (SELECT id, CAST(fv AS REAL[]) AS ef FROM vn),
       |q AS (SELECT CAST(ef AS DOUBLE[]) AS qd,
       |             sqrt(list_dot_product(CAST(ef AS DOUBLE[]), CAST(ef AS DOUBLE[]))) AS qn
       |      FROM fe WHERE id = '__query__'),
       |scored AS (
       |  SELECT d.id,
       |    list_dot_product(CAST(d.ef AS DOUBLE[]), q.qd) /
       |      (sqrt(list_dot_product(CAST(d.ef AS DOUBLE[]), CAST(d.ef AS DOUBLE[]))) * q.qn) AS score
       |  FROM fe d, q WHERE d.id <> '__query__'
       |  ORDER BY score DESC, id ASC LIMIT 10
       |)
       |SELECT id, round(score, 6) AS score FROM scored
       |ORDER BY score DESC, id ASC""".stripMargin
  }

  /** Incremental-dedup oracle: replicate the full signature pipeline in SQL
    * — bigram shingles, polynomial fingerprints (shared fragment), the 32
    * universal-hash minima with the SAME deterministic (a, b) coefficients
    * the Spark kernel uses (integer arithmetic, products < 2^63), then the
    * band-collision count and slot-match estimator.
    */
  private def dedupIncrementalOraclePrefix: String = {
    val coeffs = Dedup.hashCoeffs(32)
    val p = Dedup.HashP
    val sigExprs = coeffs.map { case (a, b) =>
      s"list_min(list_transform(fps, x -> (${a}*x + ${b}) % ${p}))"
    }.mkString("[", ",\n        |    ", "]")
    val bandsHit = (0 until 8).map { bnd =>
      val lo = bnd * 4 + 1; val hi = bnd * 4 + 4
      s"(CASE WHEN n.sig[$lo:$hi] = c.sig[$lo:$hi] THEN 1 ELSE 0 END)"
    }.mkString("(", " + ", ")")
    s"""WITH t AS (
       |  SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM documents
       |), sh AS MATERIALIZED (
       |  SELECT doc_id, list_distinct(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS s FROM t
       |), fp AS (
       |  SELECT doc_id, list_transform(s, g -> $polyhashSql) AS fps FROM sh WHERE len(s) > 0
       |), sg AS MATERIALIZED (SELECT doc_id, $sigExprs AS sig FROM fp),
       |pairs AS (
       |  SELECT n.doc_id AS new_id, c.doc_id AS corpus_id,
       |    $bandsHit AS bands_hit,
       |    CAST(len(list_filter(range(1, 33), i -> n.sig[i] = c.sig[i])) AS DOUBLE) / 32 AS est
       |  FROM sg n, sg c WHERE n.doc_id < 50 AND c.doc_id >= 50
       |)""".stripMargin
  }

  private val dedupIncrementalOracle: String =
    s"""$dedupIncrementalOraclePrefix
       |SELECT new_id, corpus_id, CAST(bands_hit AS BIGINT) AS bands_hit,
       |  round(est, 6) AS est_jaccard
       |FROM pairs WHERE bands_hit > 0 ORDER BY new_id, corpus_id""".stripMargin

  /** Containment-screen oracle: same banding + slot-match estimate, then
    * C = J(A+B)/((1+J)·min(A,B)) with the exact shingle counts, capped at 1
    * — the operator's formula verbatim.
    */
  private val dedupIncrementalContainmentOracle: String =
    s"""$dedupIncrementalOraclePrefix
       |SELECT f.new_id, f.corpus_id,
       |  CAST(len(a.s) AS BIGINT) AS sz_a, CAST(len(b.s) AS BIGINT) AS sz_b,
       |  round(least(f.est * (len(a.s) + len(b.s)) /
       |    ((1.0 + f.est) * least(len(a.s), len(b.s))), 1.0), 6) AS est_containment
       |FROM (SELECT * FROM pairs WHERE bands_hit > 0) f
       |JOIN sh a ON a.doc_id = f.new_id
       |JOIN sh b ON b.doc_id = f.corpus_id
       |ORDER BY new_id, corpus_id""".stripMargin

  /** Postings-screen oracle: distinct bigram-shingle fingerprints per doc
    * (same polynomial hash as the engine), batch (< 50) joined against
    * corpus (≥ 50) per shared fingerprint, exact intersection count and
    * containment = inter / min(sz) at the same thresholds.
    */
  private val dedupIncrementalPostingsOracle: String =
    s"""WITH sh AS (
       |  SELECT doc_id, list_distinct(list_transform(
       |    range(1, len(string_split_regex(text, '\\s+'))),
       |    i -> string_split_regex(text, '\\s+')[i] || ' ' || string_split_regex(text, '\\s+')[i+1])) AS s
       |  FROM documents
       |), f AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, sz, ${polySqlOf("g")} AS fp FROM (
       |    SELECT doc_id, CAST(len(s) AS BIGINT) AS sz, unnest(s) AS g
       |    FROM sh WHERE len(s) > 0)
       |), j AS (
       |  SELECT b.doc_id AS new_id, c.doc_id AS corpus_id,
       |    count(*) AS inter, min(b.sz) AS sz_a, min(c.sz) AS sz_b
       |  FROM f b JOIN f c ON b.fp = c.fp
       |  WHERE b.doc_id < 50 AND c.doc_id >= 50
       |  GROUP BY 1, 2
       |)
       |SELECT new_id, corpus_id, inter, sz_a, sz_b,
       |  round(CAST(inter AS DOUBLE) / least(sz_a, sz_b), 6) AS containment
       |FROM j
       |WHERE inter >= 2
       |  AND round(CAST(inter AS DOUBLE) / least(sz_a, sz_b), 6) >= 0.8
       |ORDER BY new_id, corpus_id""".stripMargin

  /** Verified-screen oracle: the incremental screen's flagged pairs joined
    * back to the exact shingle sets (the `sh` CTE the signature pipeline
    * already built), true Jaccard computed with the same double arithmetic
    * as the exact-dedup oracles, filtered at tau on the VERIFIED value.
    */
  private val dedupIncrementalVerifiedOracle: String =
    s"""$dedupIncrementalOraclePrefix,
       |verified AS (
       |  SELECT f.new_id, f.corpus_id, f.bands_hit, f.est,
       |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
       |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS j
       |  FROM (SELECT * FROM pairs WHERE bands_hit > 0) f
       |  JOIN sh a ON a.doc_id = f.new_id
       |  JOIN sh b ON b.doc_id = f.corpus_id
       |)
       |SELECT new_id, corpus_id, CAST(bands_hit AS BIGINT) AS bands_hit,
       |  round(est, 6) AS est_jaccard, round(j, 6) AS jaccard
       |FROM verified WHERE j >= 0.5 ORDER BY new_id, corpus_id""".stripMargin

  /** Ground-truth near-dup pairs: exact pairwise bigram-shingle Jaccard.
    * Shared by the exact (q_dedup_jaccard) and LSH (q_dedup_minhash)
    * queries — the LSH path must reproduce the exact answer because its
    * candidates are verified with true Jaccard and its banding recall covers
    * every pair at tau=0.5 on this corpus.
    */
  /** Generates the all-but-the-top oracle: per-dim mean rounded to 6 dp,
    * `iters` power-iteration CTEs (each normalized then re-rounded to 6 dp —
    * the exact driver sync points of [[graft.operators.EmbedQc.topComponent]],
    * so shuffle-order float drift cannot compound), then per-vector
    * projection and residual norm. `dim` is the corpus embedding width.
    */
  private def abttOracle(iters: Int, dim: Int): String = {
    val d1 = dim + 1
    val sub = s"(SELECT CAST(j AS INT) AS j FROM range(1, $d1) t(j))"
    val its = (1 to iters).map { k =>
      val prev = if (k == 1) "v0" else s"it${k - 1}"
      s"""it$k AS (
         |  SELECT list(vj ORDER BY j) AS v FROM (
         |    SELECT j, round(wx / sqrt(sum(wx*wx) OVER ()), 6) AS vj FROM (
         |      SELECT s.j AS j, avg(list_dot_product(c.xc, p.v) * c.xc[s.j]) AS wx
         |      FROM c, $prev p, $sub s
         |      GROUP BY s.j))
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
       |m AS (
       |  SELECT list(round(mx, 6) ORDER BY j) AS mv FROM (
       |    SELECT s.j AS j, avg(e.ev[s.j]) AS mx FROM e, $sub s GROUP BY s.j)
       |),
       |c AS (
       |  SELECT e.vec_id, list_transform(range(1, $d1), i -> e.ev[i] - m.mv[i]) AS xc
       |  FROM e, m
       |),
       |v0 AS (SELECT list_transform(range(1, $d1),
       |  i -> CASE WHEN i = 1 THEN 1.0 ELSE 0.0 END) AS v),
       |$its
       |SELECT vec_id AS id, round(list_dot_product(xc, v), 6) AS proj,
       |  round(sqrt(list_dot_product(r, r)), 6) AS resid_norm
       |FROM (
       |  SELECT c.vec_id, c.xc, f.v,
       |    list_transform(range(1, $d1),
       |      i -> c.xc[i] - list_dot_product(c.xc, f.v) * f.v[i]) AS r
       |  FROM c, it$iters f
       |) ORDER BY id""".stripMargin
  }

  /** PCA-2 oracle: the abtt loop twice — it* converges to the top
    * direction over the centered data, c2 Hotelling-deflates with the
    * ROUNDED v₁ (both engines re-enter with identical floats), jt* runs
    * the same loop over c2, and the epilogue projects on both directions.
    */
  private def pca2Oracle(iters: Int, dim: Int): String = {
    val d1 = dim + 1
    val sub = s"(SELECT CAST(j AS INT) AS j FROM range(1, $d1) t(j))"
    def loop(prefix: String, src: String, init: String): String =
      (1 to iters).map { k =>
        val prev = if (k == 1) init else s"$prefix${k - 1}"
        s"""$prefix$k AS MATERIALIZED (
           |  SELECT list(vj ORDER BY j) AS v FROM (
           |    SELECT j, round(wx / sqrt(sum(wx*wx) OVER ()), 6) AS vj FROM (
           |      SELECT s.j AS j, avg(list_dot_product(c.xc, p.v) * c.xc[s.j]) AS wx
           |      FROM $src c, $prev p, $sub s
           |      GROUP BY s.j))
           |)""".stripMargin
      }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
       |m AS (
       |  SELECT list(round(mx, 6) ORDER BY j) AS mv FROM (
       |    SELECT s.j AS j, avg(e.ev[s.j]) AS mx FROM e, $sub s GROUP BY s.j)
       |),
       |c AS MATERIALIZED (
       |  SELECT e.vec_id, list_transform(range(1, $d1), i -> e.ev[i] - m.mv[i]) AS xc
       |  FROM e, m
       |),
       |v0 AS (SELECT list_transform(range(1, $d1),
       |  i -> CASE WHEN i = 1 THEN 1.0 ELSE 0.0 END) AS v),
       |w0 AS (SELECT list_transform(range(1, $d1),
       |  i -> CASE WHEN i = 2 THEN 1.0 ELSE 0.0 END) AS v),
       |${loop("it", "c", "v0")},
       |c2 AS MATERIALIZED (
       |  SELECT c.vec_id, list_transform(range(1, $d1),
       |    i -> c.xc[i] - f.v[i] * list_dot_product(c.xc, f.v)) AS xc
       |  FROM c, it$iters f
       |),
       |${loop("jt", "c2", "w0")}
       |SELECT vec_id, round(p1, 6) AS p1, round(p2, 6) AS p2,
       |  round(sqrt(list_dot_product(r, r)), 6) AS resid_norm
       |FROM (
       |  SELECT c.vec_id,
       |    list_dot_product(c.xc, f1.v) AS p1,
       |    list_dot_product(c.xc, f2.v) AS p2,
       |    list_transform(range(1, $d1), i ->
       |      c.xc[i] - list_dot_product(c.xc, f1.v) * f1.v[i]
       |              - list_dot_product(c.xc, f2.v) * f2.v[i]) AS r
       |  FROM c, it$iters f1, jt$iters f2
       |) ORDER BY vec_id""".stripMargin
  }

  /** Batch-ANN oracle: per-query sign-LSH bucket (the annOracle plane
    * constants), radius-2 multiprobe set by xor mask, bucket equi-join
    * against the bucketed corpus, per-query cosine rank.
    */
  private val knnBatchAnnOracle: String = {
    val planes = AnnSearch.hyperplanes(dim = 64)
    def bExpr(vecSql: String): String =
      planes.zipWithIndex.map { case (p, i) =>
        val lst = p.mkString("[", ",", "]")
        s"(CASE WHEN list_dot_product($vecSql, $lst) >= 0 THEN ${1 << i} ELSE 0 END)"
      }.mkString("(", " + ", ")")
    val masks = AnnSearch.xorMasks(planes.length, 2).mkString("[", ",", "]")
    s"""WITH qs AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
       |            FROM embeddings WHERE vec_id < 3),
       |qb AS (SELECT query_id, qv, ${bExpr("qv")} AS b FROM qs),
       |probes AS (SELECT query_id, qv, xor(b, m) AS pb FROM qb, unnest($masks) AS t(m)),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
       |             ${bExpr("CAST(embedding AS DOUBLE[])")} AS bucket
       |      FROM embeddings),
       |scored AS (
       |  SELECT p.query_id, CAST(e.vec_id AS VARCHAR) AS id,
       |    list_cosine_similarity(e.emb, p.qv) AS score,
       |    row_number() OVER (PARTITION BY p.query_id
       |      ORDER BY list_cosine_similarity(e.emb, p.qv) DESC,
       |               CAST(e.vec_id AS VARCHAR) ASC) AS rank
       |  FROM e JOIN probes p ON e.bucket = p.pb
       |)
       |SELECT query_id, CAST(rank AS INT) AS rank, id, round(score, 6) AS score
       |FROM scored WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  /** Recall@10 oracle: exact batch top-10 (window rank) joined against the
    * multiprobe sign-LSH top-10 (same plane constants as annOracle) — the
    * SQL twin of RankEval.recallAtK over the two retrieval runs.
    */
  private val evalAnnRecallOracle: String = {
    val planes = AnnSearch.hyperplanes(dim = 64)
    def bExpr(vecSql: String): String =
      planes.zipWithIndex.map { case (p, i) =>
        val lst = p.mkString("[", ",", "]")
        s"(CASE WHEN list_dot_product($vecSql, $lst) >= 0 THEN ${1 << i} ELSE 0 END)"
      }.mkString("(", " + ", ")")
    val masks = AnnSearch.xorMasks(planes.length, 2).mkString("[", ",", "]")
    s"""WITH qs AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
       |            FROM embeddings WHERE vec_id < 8),
       |ex AS (
       |  SELECT query_id, id FROM (
       |    SELECT q.query_id, CAST(e.vec_id AS VARCHAR) AS id,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) DESC,
       |                 CAST(e.vec_id AS VARCHAR) ASC) AS rank
       |    FROM embeddings e, qs q)
       |  WHERE rank <= 10),
       |qb AS (SELECT query_id, qv, ${bExpr("qv")} AS b FROM qs),
       |probes AS (SELECT query_id, qv, xor(b, m) AS pb FROM qb, unnest($masks) AS t(m)),
       |eb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
       |              ${bExpr("CAST(embedding AS DOUBLE[])")} AS bucket
       |       FROM embeddings),
       |ann AS (
       |  SELECT query_id, id FROM (
       |    SELECT p.query_id, CAST(eb.vec_id AS VARCHAR) AS id,
       |      row_number() OVER (PARTITION BY p.query_id
       |        ORDER BY list_cosine_similarity(eb.emb, p.qv) DESC,
       |                 CAST(eb.vec_id AS VARCHAR) ASC) AS rank
       |    FROM eb JOIN probes p ON eb.bucket = p.pb)
       |  WHERE rank <= 10),
       |d AS (SELECT query_id, count(*) AS n_exact FROM ex GROUP BY 1),
       |h AS (SELECT ex.query_id, count(*) AS n_hit
       |      FROM ex JOIN ann ON ex.query_id = ann.query_id AND ex.id = ann.id
       |      GROUP BY 1)
       |SELECT d.query_id, d.n_exact, coalesce(h.n_hit, 0) AS n_hit,
       |  round(CAST(coalesce(h.n_hit, 0) AS DOUBLE) / d.n_exact, 6) AS recall
       |FROM d LEFT JOIN h ON d.query_id = h.query_id
       |ORDER BY d.query_id""".stripMargin
  }

  private val dedupJaccardOracle =
    """WITH t AS MATERIALIZED (
      |  SELECT doc_id, list_distinct(list_transform(
      |    range(1, len(string_split_regex(text, '\s+'))),
      |    i -> string_split_regex(text, '\s+')[i] || ' ' || string_split_regex(text, '\s+')[i+1])) AS sh
      |  FROM documents
      |)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
      |        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jaccard
      |FROM t a, t b
      |WHERE a.doc_id < b.doc_id
      |  AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
      |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5
      |ORDER BY id_a, id_b""".stripMargin

  /** BM25 oracle generated from the same term list and constants as the
    * Spark plan (graft.operators.Bm25) — per-term expressions written in the
    * identical arithmetic order so doubles are bit-comparable.
    */
  private val bm25Oracle: String = {
    val terms = Seq("table", "join", "query", "scan", "fast")
    val tfs = terms.indices.map(i =>
      s"len(list_filter(toks, x -> x = '${terms(i)}')) AS tf_$i").mkString(",\n        |    ")
    val dfs = terms.indices.map(i =>
      s"sum(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS df_$i").mkString(",\n        |    ")
    val score = terms.indices.map(i =>
      s"ln((n - df_$i + 0.5)/(df_$i + 0.5) + 1.0) * (tf_$i * 2.2) / (tf_$i + 1.2*(1.0 - 0.75 + 0.75*dl/avgdl))")
      .mkString("\n        |      + ")
    s"""WITH d AS (
       |  SELECT doc_id, string_split_regex(text, '\\s+') AS toks FROM documents
       |), tf AS (
       |  SELECT doc_id, len(toks) AS dl,
       |    $tfs
       |  FROM d
       |), g AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n,
       |    CAST(sum(dl) AS DOUBLE)/count(*) AS avgdl,
       |    $dfs
       |  FROM tf
       |)
       |SELECT id, round(score, 6) AS score FROM (
       |  SELECT doc_id AS id,
       |    $score AS score
       |  FROM tf, g
       |  ORDER BY score DESC, id ASC LIMIT 10
       |) ORDER BY score DESC, id ASC""".stripMargin
  }

  import MetaValue._

  // DuckDB list literals of the language-ID stopword profiles — single
  // source of truth is TextAnalysis.StopwordProfiles.
  private def profileSql(lang: String): String =
    TextAnalysis.StopwordProfiles.toMap.apply(lang).map("'" + _ + "'").mkString("[", ",", "]")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // O13: exact cosine top-k over the full corpus
    "q_knn" -> ((s, dir) => knnQuery(s, dir, k = 10)),
    // Hybrid retrieval by reciprocal-rank fusion: dense cosine top-20 +
    // sparse BM25 top-20, fused on rank position (no score calibration);
    // both inputs bounded, fusion runs on <= 40 rows
    "q_search_rrf" -> ((s, dir) => {
      val docs = graft.sources.Testdata.table(s, dir, "documents")
      val store = VectorStore.fromEmbeddingsTable(s, dir)
      val dense = Search.findMostSimilar(store, queryVec(s, dir), k = 20)
        .select(col("id"), col("score"))
      val sparse = Bm25.rank(docs, col("doc_id"), col("text"),
          Seq("table", "join", "query", "scan", "fast"), k = 20)
        .select(col("id").cast("string").as("id"), col("score"))
      Rerank.rrfFusion(Seq("dense" -> dense, "sparse" -> sparse), c = 60, k = 10)
        .select(col("id"), col("rank_dense"), col("rank_sparse"),
          round(col("rrf_score"), 6).as("rrf_score"))
        .orderBy(desc("rrf_score"), asc("id"))
    }),
    // O13 + O8: top-k under an AND metadata filter
    "q_knn_filtered" -> ((s, dir) =>
      knnQuery(s, dir, k = 10, metadataFilter = Seq(Map("label" -> Eq(MLong(3)))))),
    // O8 equality on a string key
    "q_filter_eq" -> filterQuery(andF = Seq(Map("type" -> Eq(MStr("click"))))) _,
    // O8 $gt on a double key
    "q_filter_gt" -> filterQuery(andF = Seq(Map("value" -> Ops(Seq("$gt" -> MDouble(250.0)))))) _,
    // O8 $lte on a double key
    "q_filter_lte" -> filterQuery(andF = Seq(Map("value" -> Ops(Seq("$lte" -> MDouble(50.0)))))) _,
    // O8 $ne with key-presence gating: `opt` exists only on purchase rows
    "q_filter_ne" -> filterQuery(andF = Seq(Map("opt" -> Ops(Seq("$ne" -> MLong(2)))))) _,
    // O8 $in: filter value ∈ metadata list
    "q_filter_in" -> filterQuery(andF = Seq(Map("tags" -> Ops(Seq("$in" -> MStr("view")))))) _,
    // O8 multi-operator range dict on ISO-date strings (SURVEY §2.3.4)
    "q_filter_date_range" -> filterQuery(andF = Seq(Map("date" -> Ops(Seq(
      "$gte" -> MStr("2024-01-10T00:00:00"), "$lt" -> MStr("2024-01-20T00:00:00")))))) _,
    // O8+O9+O10 composition: (AND) ∩ (OR) − (EXCLUDE)
    "q_filter_and_or_exclude" -> filterQuery(
      andF = Seq(Map("value" -> Ops(Seq("$gt" -> MDouble(100.0))))),
      orF = Seq(Map("type" -> Eq(MStr("click"))), Map("type" -> Eq(MStr("view")))),
      exF = Seq(Map("k" -> MLong(7)))) _,
    // O9 or-dict with operator values (union across keys within one dict)
    "q_filter_or_ops" -> filterQuery(
      orF = Seq(Map(
        "value" -> Ops(Seq("$lt" -> MDouble(10.0))),
        "k" -> Ops(Seq("$gte" -> MLong(95)))))) _,
    // O8 string range over ESCAPE-BEARING values (quote / newline at the
    // divergence point): the raw-string comparison the reference does
    // (vector_database.py:166-173) — fragment lexicographic order would
    // invert these (a quote encodes as `\"`, sorting as backslash 0x5C).
    // Fixture rows are constructed because no natural corpus value carries
    // an escape; to_json provides the canonical JSON encoding.
    "q_filter_escaped" -> ((s, dir) => {
      val docs = graft.sources.Testdata.table(s, dir, "documents")
      val note = concat(lit("a"),
        when(col("doc_id") % 3 === 0, lit("\n"))
          .when(col("doc_id") % 3 === 1, lit("\""))
          .otherwise(lit("Q")),
        (col("doc_id") % 7).cast("string"))
      docs.select(col("doc_id"), note.as("note"))
        .withColumn("metadata", to_json(struct(col("note"))))
        .withColumn("metadata_kv", graft.functions.JsonMeta.jsonKv(col("metadata")))
        .filter(FilterDsl.compile(col("metadata_kv"), andFilters = Seq(Map(
          "note" -> Ops(Seq("$gt" -> MStr("a\t"), "$lt" -> MStr("aM")))))))
        .select(col("doc_id"), col("note"))
        .orderBy("doc_id")
    }),
    // O18 autocut: truncate top-k at the largest >20% relative score drop
    "q_knn_autocut" -> ((s, dir) => {
      val store = VectorStore.fromEmbeddingsTable(s, dir)
      Search.findMostSimilar(store, queryVec(s, dir), k = 10, autocut = true)
        .withColumn("score", round(col("score"), 6))
        .select("id", "score")
        .orderBy(desc("score"), asc("id"))
    }),
    // O14+O17: hybrid rerank (search ⊕ ngram-hash ⊕ lexical, reference
    // weights 0.80/0.15/0.05) of the top-20 search hits' document text —
    // the DETERMINISTIC-kernel variant (polyhash features + token-overlap
    // ×100), fully oracled; the reference's murmur+difflib kernels stay
    // API-exposed and RerankSpec-pinned (thefuzz parity values).
    "q_rerank_hybrid" -> ((s, dir) => {
      val store = VectorStore.fromEmbeddingsTable(s, dir)
      val docs = graft.sources.Testdata.table(s, dir, "documents")
      val hits = Search.findMostSimilar(store, queryVec(s, dir), k = 20)
      val joined = hits.join(docs, hits("id") === docs("doc_id").cast("string"))
      Rerank.hybridRerankDeterministic(joined, col("id"), col("text"), col("score"),
          "table join query scan fast", k = 5)
        .select(col("id"), round(col("combined_score"), 6).as("combined_score"))
        .orderBy(desc("combined_score"), asc("id"))
    }),
    // Text analysis (beyond-reference, training-data pipeline ops): token
    // counting — whitespace + BPE-ish lexer regex
    "q_text_stats" -> ((s, dir) => {
      val t = col("text")
      graft.sources.Testdata.table(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.wsTokenCount(t).as("ws_tokens"),
          TextAnalysis.reTokenCount(t).as("re_tokens"))
        .orderBy("doc_id")
    }),
    // quality scoring: length/punct/stopword heuristics
    "q_text_quality" -> ((s, dir) => {
      val t = col("text")
      graft.sources.Testdata.table(s, dir, "documents")
        .select(col("doc_id"),
          round(TextAnalysis.punctRatio(t), 6).as("punct_ratio"),
          round(TextAnalysis.stopwordRatio(t), 6).as("stop_ratio"),
          round(TextAnalysis.avgTokenLen(t), 6).as("avg_tok_len"),
          round(TextAnalysis.qualityScore(t), 6).as("quality"))
        .orderBy("doc_id")
    }),
    // unigram-LM quality scoring (CCNet perplexity-filter shape): avg
    // negative log-likelihood under the corpus's own unigram distribution;
    // per-doc sum folds the SORTED log-prob list for partition-invariance
    "q_text_unigram_nll" -> ((s, dir) =>
      TextAnalysis.unigramNll(graft.sources.Testdata.table(s, dir, "documents"),
          col("doc_id"), col("text"))
        .select(col("id"), round(col("avg_nll"), 6).as("avg_nll"), col("n_tokens"))
        .orderBy("id")),
    // language-ID: stopword-profile argmax heuristic
    "q_text_langid" -> ((s, dir) =>
      graft.sources.Testdata.table(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")),
    // code-switching profile: 40-token segments, per-segment language ID,
    // per-doc rollup (majority vote, switch points, mixed flag) — the
    // multilingual routing audit a doc-level langid cannot see; chunk +
    // segment-ID stay in the scan stage, the only exchange is the
    // per-doc groupBy of (chunk_idx, lang) pairs
    "q_text_code_switch" -> ((s, dir) =>
      TextAnalysis.codeSwitch(graft.sources.Testdata.table(s, dir, "documents"),
          col("doc_id"), col("text"), segTokens = 40)
        .withColumnRenamed("id", "doc_id")),
    // bigram-LM NLL (the closer CCNet-perplexity proxy): MLE conditionals
    // over corpus bigram counts, context denominators derived from the
    // bigram table, sorted-fold per-doc sums (bit-parity oracle)
    "q_text_bigram_nll" -> ((s, dir) =>
      TextAnalysis.bigramNll(graft.sources.Testdata.table(s, dir, "documents"),
          col("doc_id"), col("text"))
        .orderBy("id")),
    // tokenizer-prep vocabulary: top-30 tokens with cumulative coverage —
    // one corpus-sized count shuffle, TakeOrderedAndProject selection,
    // V-row window
    "q_text_vocab" -> ((s, dir) =>
      TextAnalysis.vocabulary(graft.sources.Testdata.table(s, dir, "documents"),
        col("text"), topV = 30)),
    // per-doc novelty: share of the doc's distinct word-3-gram
    // fingerprints occurring in NO other doc (df=1) — one tokenize pass,
    // (doc, fp) count agg, fp-keyed df re-agg with exchange reuse, one
    // equi-join; grams travel as 8-byte fingerprints
    "q_text_novelty" -> ((s, dir) =>
      TextAnalysis.novelty(graft.sources.Testdata.table(s, dir, "documents"),
          col("doc_id"), col("text"), n = 3)
        .orderBy("id")),
    // bigram collocations by PMI: two count aggs + pruned equi-joins +
    // totals broadcast; pmi rounded before ordering so the top-k boundary
    // is engine-stable
    "q_text_collocations" -> ((s, dir) =>
      TextAnalysis.collocations(graft.sources.Testdata.table(s, dir, "documents"),
        col("text"), minCount = 5L, topK = 20)),
    // Zipf-law corpus audit: ln(freq) ~ ln(rank) least squares over the
    // vocabulary; order-invariant integer-scaled decimal sums keep float
    // parity under any partitioning
    "q_text_zipf" -> ((s, dir) =>
      TextAnalysis.zipfFit(graft.sources.Testdata.table(s, dir, "documents"),
        col("text"))),
    // TextRank keywords: fixed-iteration damped PageRank over the
    // adjacent-token graph — edge-sized working set after one count agg,
    // one equi-join + sorted-fold agg per iteration
    "q_text_textrank" -> ((s, dir) =>
      TextAnalysis.textrank(graft.sources.Testdata.table(s, dir, "documents"),
        col("text"), iters = 5, damping = 0.85, topK = 20)),
    // hashed-feature linear quality classifier (fastText shape):
    // bucket→weight→mean→sigmoid entirely inside transform/aggregate —
    // zero-shuffle single projection, deterministic weight table
    "q_text_qclassifier" -> ((s, dir) =>
      TextAnalysis.hashedClassifier(graft.sources.Testdata.table(s, dir, "documents"),
          col("doc_id"), col("text"), dim = 4096)
        .orderBy("id")),
    // deterministic HyperLogLog: distinct user-days per event type plus the
    // register-merged ALL row — constant m-register state per group, exact
    // twin alongside for the rel_err audit
    "q_events_dau_hll" -> ((s, dir) =>
      Sketches.hllCardinality(graft.sources.Testdata.events(s, dir),
        col("event_type"),
        concat(col("user_id").cast("string"), lit(":"),
          col("ts").cast("date").cast("string")), p = 10)),
    // WIDE HLL tier (round-5 verdict #2): ~2^60 two-lane hash instead of
    // the 30-bit fingerprint, so register saturation moves from ~10^7 to
    // past 10^11 distinct keys — the 100 TB cardinality path. Identical
    // estimator; only the hash and the rho stream width change.
    "q_events_dau_hll_wide" -> ((s, dir) =>
      Sketches.hllCardinality(graft.sources.Testdata.events(s, dir),
        col("event_type"),
        concat(col("user_id").cast("string"), lit(":"),
          col("ts").cast("date").cast("string")), p = 10, wide = true)),
    // rolling 7-day actives from MERGED daily registers (wide tier): the
    // corpus is hashed once into per-day registers; WAU is a register-wise
    // max over the trailing window — a ×7 fanout of a KB-scale register
    // table, never of events. Exact twins ride along for the audit.
    "q_events_wau_rolling_hll" -> ((s, dir) =>
      Sketches.hllRolling(graft.sources.Testdata.events(s, dir),
        col("ts"), col("user_id").cast("string"), windowDays = 7,
        p = 10, wide = true)),
    // ESTIMATE-ONLY front doors (the audited twins above weld a
    // corpus-wide exact distinct into every call): registers/counters →
    // estimates, nothing downstream of the hash bigger than ~KB — the
    // form these operators run in at 100 TB. Registers are deterministic,
    // so the oracle replicates them exactly, minus the exact twin.
    "q_events_dau_hll_est" -> ((s, dir) =>
      Sketches.hllCardinality(graft.sources.Testdata.events(s, dir),
        col("event_type"),
        concat(col("user_id").cast("string"), lit(":"),
          col("ts").cast("date").cast("string")), p = 10, wide = true,
        audit = false)),
    "q_events_wau_rolling_hll_est" -> ((s, dir) =>
      Sketches.hllRolling(graft.sources.Testdata.events(s, dir),
        col("ts"), col("user_id").cast("string"), windowDays = 7,
        p = 10, wide = true, audit = false)),
    "q_text_heavy_hitters_est" -> ((s, dir) =>
      Sketches.cmHeavyHitters(
        graft.sources.Testdata.table(s, dir, "documents")
          .select(explode(TextAnalysis.wsTokens(col("text"))).as("t")),
        col("t"), depth = 4, width = 1024, topK = 20, audit = false)),
    // Bulk batch-inference e2e (the reference's O22 batch-index half):
    // per-partition sessions, batched token matrices, padding, store
    // ingest — the Spark plumbing runs for real; only the model call is
    // the deterministic zero-egress stand-in (StubInferenceProvider),
    // with OnnxSessionProvider as the drop-in for a real model
    // Embedding unnested to scalar (id, pos, val) rows — the comparison
    // harness sorts by column values, so results must avoid array columns
    // (same reshaping as q_crud_lookup)
    "q_embed_bulk_inference" -> ((s, dir) =>
      graft.functions.Embedder.embedDocumentsBulk(
          () => new graft.functions.SessionEmbedder(
            graft.functions.StubInferenceProvider(), dim = 4),
          graft.sources.Testdata.table(s, dir, "documents"),
          col("doc_id"), col("text"))
        .select(col("id"), posexplode(col("embedding")).as(Seq("pos", "val")))
        .orderBy(col("id"), col("pos"))),
    // count-min heavy hitters: d x w counter matrix in one aggregation,
    // exact top-20 tokens estimated as min over their d cells
    "q_text_heavy_hitters" -> ((s, dir) =>
      Sketches.cmHeavyHitters(
        graft.sources.Testdata.table(s, dir, "documents")
          .select(explode(TextAnalysis.wsTokens(col("text"))).as("t")),
        col("t"), depth = 4, width = 1024, topK = 20)),
    // KMV theta-sketch cross-source overlap: G·k bounded state (bottom-k
    // distinct shingle hashes per source via the GroupTopK heap), theta
    // set-algebra estimates for every source pair, audited against the
    // exact shared-gram matrix it replaces at scale
    "q_sketch_kmv_overlap" -> ((s, dir) => {
      val docs = graft.sources.Testdata.table(s, dir, "documents")
      val grams = docs.select(col("source"),
        explode(Dedup.shingles(col("text"), 2)).as("sh"))
      val est = Sketches.kmvOverlap(grams, col("source"), col("sh"), k = 64)
      val exact = Dedup.sourceOverlapMatrix(docs, col("source"), col("text"), n = 2)
        .select(col("src_a"), col("src_b"), col("shared_grams"))
      est.join(exact, Seq("src_a", "src_b"), "left")
        .na.fill(0L, Seq("shared_grams"))
        .select(col("src_a"), col("src_b"), col("shared_grams"),
          col("d_est_a"), col("d_est_b"), col("inter_est"), col("jaccard_est"))
        .orderBy("src_a", "src_b")
    }),
    // WIDE-hash KMV tier: same theta set algebra over the ~2^60 two-lane
    // hash — at 10^9+ distinct keys the narrow theta is an integer near k
    // (quantization alone biases percent-level, then the space saturates);
    // the wide space pushes the quantization floor past 10^12 keys
    "q_sketch_kmv_overlap_wide" -> ((s, dir) => {
      val docs = graft.sources.Testdata.table(s, dir, "documents")
      val grams = docs.select(col("source"),
        explode(Dedup.shingles(col("text"), 2)).as("sh"))
      Sketches.kmvOverlap(grams, col("source"), col("sh"), k = 64, wide = true)
        .orderBy("src_a", "src_b")
    }),
    // per-doc TF-IDF keywords: two count aggs + vocab equi-join, then the
    // per-doc top-3 as the GroupTopK bounded heap (no window sort)
    "q_text_keywords" -> ((s, dir) =>
      TextAnalysis.keywords(graft.sources.Testdata.table(s, dir, "documents"),
          col("doc_id"), col("text"), topK = 3)
        .orderBy(col("id"), col("score").desc, col("tok"))),
    // document fingerprinting: rolling polynomial hash
    "q_text_fingerprint" -> ((s, dir) =>
      graft.sources.Testdata.table(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fingerprint"))
        .orderBy("doc_id")),
    // Curation: overlapping token-window chunking (no shuffle — stays in
    // the scan stage)
    "q_curate_chunks" -> ((s, dir) =>
      Curation.chunkTokens(graft.sources.Testdata.table(s, dir, "documents"),
          col("doc_id"), col("text"), size = 64, stride = 48)
        .orderBy("id", "chunk_idx")),
    // Curation: deterministic train/val/test split by id arithmetic
    "q_curate_split" -> ((s, dir) =>
      Curation.hashSplit(graft.sources.Testdata.table(s, dir, "documents"), col("doc_id"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_ids"))
        .orderBy("split")),
    // Split-leakage audit: near-dup pair matrix BETWEEN train/val/test —
    // the prefix-filter Jaccard pair join + id-arithmetic split assignment
    "q_curate_split_leakage" -> ((s, dir) =>
      Curation.splitLeakage(graft.sources.Testdata.table(s, dir, "documents"),
        col("doc_id"), col("text"), tau = 0.5)),
    // one-pass histogram quantiles of the quality-score distribution —
    // the sketch replacement for the exact percentile gate: B bin counts,
    // rank interpolation, error bounded by one bin width
    "q_curate_quality_quantiles" -> ((s, dir) => {
      val scored = graft.sources.Testdata.table(s, dir, "documents")
        .select(round(TextAnalysis.qualityScore(col("text")), 6).as("quality"))
      Sketches.histogramQuantiles(scored, col("quality"),
        Seq(0.25, 0.5, 0.75, 0.9), bins = 256, lo = 0.0, hi = 1.0)
    }),
    // per-source quality distribution audit: grouped histogram quantiles
    // in ONE corpus pass (G·B sketch rows, bounded per-group windows) —
    // the pre-mix forensics for a multi-source corpus
    "q_curate_quality_by_source" -> ((s, dir) => {
      val docs = graft.sources.Testdata.table(s, dir, "documents")
      val scored = docs.select(col("source"),
        round(TextAnalysis.qualityScore(col("text")), 6).as("quality"))
      Sketches.histogramQuantilesByGroup(scored, col("source"), col("quality"),
        Seq(0.25, 0.75), bins = 256, lo = 0.0, hi = 1.0)
    }),
    // CCNet head/middle/tail split (Wenzek et al. 2020 §4.3: bucket the
    // corpus by LM perplexity terciles — public paper): per-doc unigram
    // NLL → histogram-sketch tercile thresholds (one pass, no value
    // sort) → bucket assignment + per-bucket fingerprint. The composed
    // plan: two corpus aggregations (LM counts, per-doc NLL), one 256-bin
    // sketch, broadcast thresholds back over the scored docs.
    "q_curate_ccnet_buckets" -> ((s, dir) => {
      val docs = graft.sources.Testdata.table(s, dir, "documents")
      // lazily checkpoint the scored table: three consumers follow (the
      // sketch's min/max pass, its bin counts, and the bucket assignment) —
      // without the cut each re-runs the full unigram-NLL corpus scan (the
      // histogram-sketch lineage lesson, applied one level up)
      val nll = TextAnalysis.unigramNll(docs, col("doc_id"), col("text"))
        .select(col("id"), round(col("avg_nll"), 6).as("nll"))
        .cut(eager = false)
      val th = Sketches.histogramQuantilesAdaptive(nll, col("nll"),
          Seq(1.0 / 3.0, 2.0 / 3.0), bins = 256)
        .agg(min(col("est")).as("t1"), max(col("est")).as("t2"))
      nll.crossJoin(broadcast(th))
        .select(col("id"),
          when(col("nll") <= col("t1"), "head")
            .when(col("nll") <= col("t2"), "middle")
            .otherwise("tail").as("bucket"),
          col("t1"), col("t2"))
        .groupBy("bucket", "t1", "t2")
        .agg(count(lit(1)).as("n_docs"), sum(col("id")).as("sum_ids"))
        .orderBy("bucket")
        .select("bucket", "n_docs", "sum_ids", "t1", "t2")
    }),
    // the same gate driven by the ONE-PASS histogram threshold instead of
    // the exact two-pass percentile — the 100 TB shape: corpus → 256-bin
    // sketch → broadcast single-row threshold, no value sort anywhere
    "q_curate_quality_filter_sketch" -> ((s, dir) => {
      val docs = graft.sources.Testdata.table(s, dir, "documents")
      // three consumers (the sketch's bin pass + the gate + its broadcast):
      // cut so the quality-score pass runs once (round-9)
      val scored = docs.select(col("doc_id"),
        round(TextAnalysis.qualityScore(col("text")), 6).as("quality"))
        .cut(eager = false)
      val threshold = Sketches.histogramQuantiles(scored, col("quality"),
        Seq(0.25), bins = 256, lo = 0.0, hi = 1.0)
        .select(col("est").as("q25"))
      scored.crossJoin(broadcast(threshold))
        .filter(col("quality") >= col("q25"))
        .select(col("doc_id"), col("quality"), col("q25"))
        .orderBy("doc_id")
    }),
    // Curation: percentile-threshold quality filter — corpus-level exact
    // quantile (single-row broadcast) gates the per-doc quality score
    "q_curate_quality_filter" -> ((s, dir) => {
      val docs = graft.sources.Testdata.table(s, dir, "documents")
      // two consumers (threshold percentile + the gate): cut so the
      // quality-score pass runs once (round-9)
      val scored = docs.select(col("doc_id"),
        round(TextAnalysis.qualityScore(col("text")), 6).as("quality"))
        .cut(eager = false)
      val threshold = scored.agg(
        expr("percentile(quality, 0.25)").as("q25"))
      scored.crossJoin(broadcast(threshold))
        .filter(col("quality") >= col("q25"))
        .select(col("doc_id"), col("quality"), round(col("q25"), 6).as("q25"))
        .orderBy("doc_id")
    }),
    // Curation: Gopher-style repetition rules (duplicate word / 2-gram /
    // 3-gram fractions + length gate) — one projection pass, native n-gram
    // kernel, pass computed on unrounded stats
    "q_curate_gopher" -> ((s, dir) =>
      Curation.gopherFilter(graft.sources.Testdata.table(s, dir, "documents"),
          col("doc_id"), col("text"))
        .select(col("id"), col("n_words"),
          round(col("dup_word_frac"), 6).as("dup_word_frac"),
          round(col("dup_2gram_frac"), 6).as("dup_2gram_frac"),
          round(col("dup_3gram_frac"), 6).as("dup_3gram_frac"),
          col("pass"))
        .orderBy("id")),
    // Curation: deterministic stratified sampling — cap over-represented
    // strata (en at 20 %, de at 50 %, es at 80 %), keep the rest whole;
    // membership is pure id arithmetic (reproducible, scan-stage filter)
    "q_curate_sample" -> ((s, dir) =>
      Curation.stratifiedSample(graft.sources.Testdata.table(s, dir, "documents"),
          col("doc_id"), col("lang"),
          Seq("en" -> 200, "de" -> 500, "es" -> 800), defaultPerMille = 1000)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_ids"))
        .orderBy("lang")),
    // Curation: deterministic 16-shard training layout audit — shard is
    // pure id-hash arithmetic (scan-stage, no window/sort), the audit one
    // 16-group aggregation (docs, token mass, source spread per shard)
    "q_curate_shards" -> ((s, dir) =>
      Curation.shardStats(graft.sources.Testdata.table(s, dir, "documents"),
          col("doc_id"), col("text"), col("source"), nShards = 16)
        .orderBy("shard_id")),
    // Curation: deterministic strided epoch order over the 16-shard hash
    // layout — one per-shard dense rank (narrow rows), epoch position is
    // pure arithmetic; no global sort of the corpus
    "q_curate_epoch" -> ((s, dir) =>
      Curation.epochOrder(graft.sources.Testdata.table(s, dir, "documents"),
          col("doc_id"), nShards = 16)
        .orderBy("epoch_pos")),
    // Curation: train/eval decontamination — docs sharing any word 5-gram
    // (by 64-bit fingerprint) with the eval subset (doc_id < 20) are
    // flagged; broadcast semi-join on the 8-byte gram fingerprint
    "q_curate_decontam" -> ((s, dir) => {
      val docs = graft.sources.Testdata.table(s, dir, "documents")
      Curation.decontaminate(docs, col("doc_id"), col("text"),
          docs.filter(col("doc_id") < 20), col("text"), n = 5)
        .orderBy("id")
    }),
    // contamination forensics: per eval doc, the top-10 training docs by
    // shared distinct 5-gram count — the named-culprit audit behind the
    // decontam drop decision; eval (id, fp) pairs broadcast, the pair
    // aggregation is bounded by actual shared evidence
    "q_curate_contam_report" -> ((s, dir) => {
      val docs = graft.sources.Testdata.table(s, dir, "documents")
      Curation.contaminationReport(
        docs.filter(col("doc_id") >= 20), col("doc_id"), col("text"),
        docs.filter(col("doc_id") < 20), col("doc_id"), col("text"), n = 5)
    }),
    // Decontamination against a LARGE blocklist: Bloom prefilter in the
    // scan stage (no false negatives) + exact verify on survivors — same
    // exact semantics, so the oracle is the plain intersect; here 4-grams
    // vs the doc_id<25 eval slice
    "q_curate_decontam_bloom" -> ((s, dir) => {
      val docs = graft.sources.Testdata.table(s, dir, "documents")
      Curation.decontaminateBloom(docs, col("doc_id"), col("text"),
          docs.filter(col("doc_id") < 25), col("text"), n = 4, fpp = 0.01)
        .orderBy("id")
    }),
    // The COMPOSED curation pipeline in ONE Catalyst plan — quality gate →
    // scrub → exact dedup → chunk → per-doc chunk stats. The point: every
    // stage is column algebra, so the chain fuses (gate and scrub share the
    // scan; only dedup's window and the final agg shuffle)
    // Composed embedding pipeline in ONE plan: LSH near-dup screen (keep
    // non-dominated) -> per-label centroid z-screen over the SURVIVORS ->
    // deterministic 8-shard layout audit. The dedup candidate join, the
    // broadcast centroid/stats joins, and the shard aggregation all stack
    // into one DAG — the embedding-side twin of q_pipeline_curate.
    // composed tokenizer pipeline: learn the merge table, encode every doc
    // to its real token budget, pack docs into fixed-token training bins —
    // one plan from corpus to shard/bin manifest; the corpus-sized stages
    // are one tokenize and one broadcast map-back
    "q_pipeline_tokenize" -> ((s, dir) => {
      val docs = graft.sources.Testdata.table(s, dir, "documents")
      val merges = TextAnalysis.bpeMerges(docs, col("text"), nMerges = 4)
        .orderBy("step").collect().map(_.getString(1)).toSeq
      val budgets = TextAnalysis.bpeEncode(docs, col("doc_id"), col("text"), merges)
      Curation.packBins(budgets, col("doc_id"), col("n_tokens"),
          budgetTokens = 512, shardDocs = 250)
        .groupBy("shard", "bin")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("bin_tokens"))
        .orderBy("shard", "bin")
    }),
    "q_pipeline_embed" -> ((s, dir) => {
      val embs = Parquet.read(s, s"$dir/embeddings.parquet")
      val dominated = Dedup.cosinePairsLsh(embs, col("vec_id"), col("embedding"),
          tau = 0.4, planes = AnnSearch.hyperplanes(dim = 64), probeRadius = 2)
        .select(col("id_b").as("vec_id")).distinct()
      val surv = embs.join(dominated, Seq("vec_id"), "left_anti")
      val kept = EmbedQc.zScreen(surv, col("vec_id"), col("embedding"),
        col("label"), zMax = 3.0)
      kept.select(Curation.shardOf(col("id"), 8).as("shard_id"), col("lbl"))
        .groupBy("shard_id")
        .agg(count(lit(1)).as("n_vecs"), countDistinct(col("lbl")).as("n_labels"))
        .orderBy("shard_id")
    }),
    // dataset card in ONE aggregation pass: the headline corpus facts a
    // release README quotes (volume, vocabulary of sources, exact-dup
    // rate, mean quality, language share) from a single scan — the
    // quality/langid/md5/token expressions all fold into the same
    // map-side-combined aggregate; the decimal quality sum keeps the
    // mean partition-order-invariant where a raw double sum would drift
    "q_pipeline_dataset_card" -> ((s, dir) => {
      val docs = graft.sources.Testdata.table(s, dir, "documents")
      docs.agg(
          count(lit(1)).as("n_docs"),
          sum(TextAnalysis.wsTokenCount(col("text")).cast("long")).as("n_tokens"),
          countDistinct(col("source")).as("n_sources"),
          (lit(1.0) - countDistinct(md5(col("text"))).cast("double") /
            count(lit(1))).as("dup"),
          (sum(round(TextAnalysis.qualityScore(col("text")), 6)
            .cast("decimal(18,6)")).cast("double") / count(lit(1))).as("meanq"),
          (sum((TextAnalysis.langId(col("text")) === "en").cast("long"))
            .cast("double") / count(lit(1))).as("enf"))
        .select(expr(
          "stack(6, " +
            "'n_docs', CAST(n_docs AS DOUBLE), " +
            "'n_tokens', CAST(n_tokens AS DOUBLE), " +
            "'n_sources', CAST(n_sources AS DOUBLE), " +
            "'exact_dup_rate', round(dup, 6), " +
            "'mean_quality', round(meanq, 6), " +
            "'en_frac', round(enf, 6)) AS (metric, value)"))
        .orderBy("metric")
    }),
    "q_pipeline_curate" -> ((s, dir) => {
      val docs = graft.sources.Testdata.table(s, dir, "documents")
      val gated = Curation.gopherFilter(docs, col("doc_id"), col("text"))
        .filter(col("pass")).select(col("id").as("doc_id"))
        .join(docs, Seq("doc_id"))
      val scrubbed = gated.select(col("doc_id"), Curation.scrub(col("text")).as("stext"))
      val deduped = Dedup.exactDedup(scrubbed, col("doc_id"), col("stext"))
        .filter(col("keep")).select(col("id").as("doc_id"))
        .join(scrubbed, Seq("doc_id"))
      Curation.chunkTokens(deduped, col("doc_id"), col("stext"), size = 64, stride = 48)
        .groupBy("id")
        .agg(count(lit(1)).as("n_chunks"), sum(col("n_tokens")).as("sum_tokens"))
        .orderBy("id")
    }),
    // Curation: training-mix construction — per-source rates derived from
    // the data (target tokens / available tokens), deterministic membership
    "q_curate_mix" -> ((s, dir) =>
      Curation.mixSample(graft.sources.Testdata.table(s, dir, "documents"),
          col("doc_id"), col("source"), col("text"),
          targets = Seq("src0" -> 2.0, "src1" -> 1.0, "src2" -> 1.0),
          budgetTokens = 2000L)
        .orderBy("id")),
    // Curation: DSIR-style importance resampling — unigram-LM likelihood
    // ratio toward the lang='en' target domain, deterministic Gumbel-top-k
    // draw of 50 docs (one tokenize pass, conditional-count LM, sorted-fold
    // per-doc sum, TakeOrderedAndProject)
    "q_curate_dsir" -> ((s, dir) =>
      Curation.importanceSample(graft.sources.Testdata.table(s, dir, "documents"),
        col("doc_id"), col("text"), col("lang") === "en", k = 50)),
    // Curation: per-source document cap (the web-pipeline per-domain cap) —
    // keep the 10 longest docs per source, id tie-break; runs as the
    // GroupTopK bounded-heap operator (partial+final), NOT a window sort
    "q_curate_source_cap" -> ((s, dir) =>
      Curation.capPerGroup(graft.sources.Testdata.table(s, dir, "documents"),
          Seq(col("source")), Seq(col("n_chars").desc, col("doc_id").asc), n = 10)
        .select(col("doc_id").as("id"), col("source"), col("n_chars"))
        .orderBy("source", "id")),
    // Curation: normalization + pattern scrubbing (PII-redaction shape)
    "q_curate_scrub" -> ((s, dir) =>
      graft.sources.Testdata.table(s, dir, "documents")
        .select(col("doc_id"),
          md5(Curation.scrub(col("text"))).as("scrub_md5"),
          (Curation.scrub(col("text")) =!= col("text")).as("changed"),
          length(Curation.scrub(col("text"))).as("scrub_len"))
        .orderBy("doc_id")),
    // extended PII scrub (emails/URLs/IPs/phones/digits, specificity
    // order) — md5 content parity + per-doc marker counts
    // snapshot diff: old = head slice, new = tail slice with every 7th doc
    // mutated — added/removed/changed/unchanged triage off one hash join
    "q_curate_snapshot_diff" -> ((s, dir) => {
      val docs = graft.sources.Testdata.table(s, dir, "documents")
      val old = docs.filter(col("doc_id") < 450)
      val nw = docs.filter(col("doc_id") >= 50)
        .withColumn("text", when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      Curation.snapshotDiff(old, nw, col("doc_id"), col("text"))
        .orderBy("id")
        .select("id", "status", "old_key", "new_key")
    }),
    "q_curate_scrub_pii" -> ((s, dir) => {
      val s2 = Curation.scrubPii(col("text"))
      def marks(tag: String): org.apache.spark.sql.Column =
        ((length(s2) - length(regexp_replace(s2, tag, ""))) / lit(tag.length))
          .cast("int")
      graft.sources.Testdata.table(s, dir, "documents")
        .select(col("doc_id"), md5(s2).as("scrub_md5"),
          marks("<email>").as("n_email"), marks("<url>").as("n_url"),
          marks("<ip>").as("n_ip"), marks("<phone>").as("n_phone"),
          marks("<num>").as("n_num"))
        .orderBy("doc_id")
    }),
    // Curation: shard-local sequence packing into ~512-token bins
    "q_curate_pack" -> ((s, dir) => {
      val docs = graft.sources.Testdata.table(s, dir, "documents")
      Curation.packBins(docs, col("doc_id"),
          TextAnalysis.wsTokenCount(col("text")), budgetTokens = 512, shardDocs = 250)
        .orderBy("id")
    }),
    // Per-label k-NN: top-3 cosine matches per label in ONE corpus scan —
    // the GroupTopK bounded heap over the scored stream (a stratified
    // retrieval probe; the window spelling would sort every label group)
    "q_knn_per_label" -> ((s, dir) => {
      val emb = graft.sources.Testdata.table(s, dir, "embeddings")
      val scored = emb.select(col("label"), col("vec_id").cast("string").as("id"),
        graft.functions.VectorFunctions.cosineTo(col("embedding"), queryVec(s, dir)).as("score"))
      org.apache.spark.sql.graft.GroupTopK
        .perGroup(scored, Seq(col("label")), Seq(col("score").desc, col("id").asc), 3)
        .select(col("label"), col("id"), round(col("score"), 6).as("score"))
        .orderBy(col("label"), col("score").desc, col("id"))
    }),
    // Embedding statistics: per-label centroids via the one-pass typed
    // vector-mean aggregator (the k-means update step surfaced as a query —
    // shuffle carries one (sum-vector, count) buffer per label, not d rows
    // per vector)
    "q_embed_label_centroid" -> ((s, dir) =>
      graft.sources.Testdata.table(s, dir, "embeddings")
        .groupBy("label")
        .agg(graft.functions.VectorAggs.vectorMean(col("embedding")).as("centroid"),
          count(lit(1)).as("n"))
        .select(col("label"), col("n"), posexplode(col("centroid")))
        .select(col("label"), col("n"), col("pos"),
          round(col("col"), 6).as("mean_v"))
        .orderBy("label", "pos")),
    // Embedding-distribution drift: per-dim mean shift of the current half
    // vs the frozen reference half in reference-σ units — the vector-space
    // PSI (a model swap / normalization regression = mass z-shifts; the
    // even/odd vec_id split stands in for two snapshots)
    "q_embed_drift" -> ((s, dir) => {
      val embs = graft.sources.Testdata.table(s, dir, "embeddings")
      graft.operators.EmbedQc.embeddingDrift(
        embs.filter(pmod(col("vec_id"), lit(2)) === 0),
        embs.filter(pmod(col("vec_id"), lit(2)) === 1),
        col("embedding"))
    }),
    // The monitor form of the drift check: the reference reduced ONCE to
    // its d-row per-dim stats (referenceStats), every batch then pays one
    // moments pass + a d-row broadcast join — identical rows to
    // q_embed_drift by construction, which the shared oracle pins
    "q_embed_drift_ref" -> ((s, dir) => {
      val embs = graft.sources.Testdata.table(s, dir, "embeddings")
      val stats = graft.operators.EmbedQc.referenceStats(
        embs.filter(pmod(col("vec_id"), lit(2)) === 0), col("embedding"))
      graft.operators.EmbedQc.embeddingDriftFromStats(stats,
        embs.filter(pmod(col("vec_id"), lit(2)) === 1), col("embedding"))
    }),
    // Embedding statistics: corpus Gram matrix Σ v·vᵀ in ONE aggregation
    // pass (d² buffer, map-side combine) — the covariance/PCA/whitening
    // input without the posexplode self-join's n·d² row blowup
    "q_embed_gram" -> ((s, dir) =>
      graft.sources.Testdata.table(s, dir, "embeddings")
        .agg(graft.functions.VectorAggs.gramMatrix(col("embedding")).as("g"))
        .select(posexplode(col("g")))
        .select((col("pos") / 64).cast("int").as("i"),
          pmod(col("pos"), lit(64)).cast("int").as("j"),
          round(col("col"), 6).as("g"))
        .orderBy("i", "j")),
    // Embedding statistics: ONE Lloyd (k-means) round — codegen argmin
    // assignment against the 8 seed centroids (no join; the matrix rides
    // the task binary), then per-cluster means via the typed vector-mean
    // aggregator (one (sum-vector, count) buffer per cluster through the
    // exchange — the distributed k-means update step)
    "q_embed_kmeans" -> ((s, dir) =>
      IvfSearch.lloydStep(graft.sources.Testdata.table(s, dir, "embeddings"),
          col("vec_id"), col("embedding"), c = 8)
        .select(col("list_id"), col("n"), posexplode(col("centroid")))
        .select(col("list_id"), col("n"), col("pos"),
          round(col("col"), 6).as("mean_v"))
        .orderBy("list_id", "pos")),
    // Embedding training data: hard-negative mining — for each of 6 anchor
    // vectors, the 4 most similar DIFFERENT-label items in one broadcast
    // scan; the label-mismatch predicate runs before the GroupTopK heap so
    // the anchor_id exchange moves <= anchors*k survivors
    "q_embed_hardneg" -> ((s, dir) => {
      val embs = graft.sources.Testdata.table(s, dir, "embeddings")
      val anchors = embs.filter(col("vec_id") < 6)
        .select(col("vec_id").as("anchor_id"), col("embedding").as("anchor_vec"),
          col("label").as("anchor_label"))
      Search.hardNegatives(embs, col("vec_id"), col("embedding"),
          col("label"), anchors, k = 4)
        .select(col("anchor_id"), col("id"), col("lbl").as("neg_label"),
          round(col("score"), 6).as("score"))
        .orderBy(col("anchor_id"), col("score").desc, col("id"))
    }),
    // Embedding QC: distance-to-centroid outliers — broadcast per-label
    // centroids (rounded to pin the float boundary), two fused dot kernels
    // per row, 8-byte dist through the stats exchange, TakeOrderedAndProject
    "q_embed_outliers" -> ((s, dir) =>
      EmbedQc.outliers(graft.sources.Testdata.table(s, dir, "embeddings"),
          col("vec_id"), col("embedding"), col("label"), k = 20)
        .orderBy(col("z").desc, col("id").asc)),
    // all-but-the-top: corpus mean + top PC by distributed power iteration
    // (8 rounds, 6-dp driver sync points), per-vector projection + residual
    "q_embed_abtt" -> ((s, dir) =>
      EmbedQc.abtt(graft.sources.Testdata.table(s, dir, "embeddings"),
          col("vec_id"), col("embedding"), iters = 8)
        .orderBy("id")),
    // matryoshka truncation probe: recall@10 of prefix sub-embeddings
    // against the full-dimension ranking
    "q_embed_mrl" -> ((s, dir) => {
      val embs = graft.sources.Testdata.table(s, dir, "embeddings")
      EmbedQc.truncationRecall(embs, col("vec_id"), col("embedding"),
        queryVec(s, dir), dims = Seq(8, 16, 32), k = 10)
    }),
    // Dedup family (beyond-reference): exact content dedup via hash-groupBy
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exactDedup(graft.sources.Testdata.table(s, dir, "documents"),
          col("doc_id"), col("text"))
        .filter(col("keep"))
        .select(col("id"), col("content_key"), col("group_size"))
        .orderBy("id")),
    // exact n-gram Jaccard near-dup. Hashed-bitset strategy: dense tiny
    // shingle vocabulary is the regime where candidate pruning can't
    // discriminate, so the winning plan makes the per-pair kernel a fused
    // AND+popcount over a FIXED hashed bit space (no driver vocabulary —
    // the sound-upper-bound prefilter + exact verify keeps results exact)
    "q_dedup_jaccard" -> ((s, dir) =>
      Dedup.jaccardPairsBitsetHashed(graft.sources.Testdata.table(s, dir, "documents"),
          col("doc_id"), col("text"), n = 2, tau = 0.5)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_a", "id_b")),
    // Asymmetric containment |A∩B|/min(|A|,|B|): catches a short doc quoted
    // inside a long one, which the symmetric Jaccard union denominator
    // provably cannot at the same threshold
    "q_dedup_containment" -> ((s, dir) =>
      Dedup.containmentPairsAuto(graft.sources.Testdata.table(s, dir, "documents"),
          col("doc_id"), col("text"), n = 2, tau = 0.5, minShingles = 5)
        .select(col("id_a"), col("id_b"),
          round(col("containment"), 6).as("containment"))
        .orderBy("id_a", "id_b")),
    // Incremental near-dup screening: band-join the doc_id<50 batch's
    // minhash signatures against the doc_id>=50 corpus SIGNATURE table —
    // the persisted-index shape that dedups a new crawl without touching
    // corpus text; output is band collisions + the slot-match estimator
    // Same screen, asymmetric read-out: containment estimated from the
    // slot-match Jaccard + the exact stored shingle counts — flags a batch
    // doc quoted inside a corpus doc from index state alone
    "q_dedup_incremental_containment" -> ((s, dir) => {
      val docs = graft.sources.Testdata.table(s, dir, "documents")
      val corpus = Dedup.signatureTable(docs.filter(col("doc_id") >= 50),
        col("doc_id"), col("text"))
      val batch = Dedup.signatureTable(docs.filter(col("doc_id") < 50),
        col("doc_id"), col("text"))
      Dedup.incrementalNearDups(corpus, batch)
        .select(col("new_id"), col("corpus_id"), col("sz_a"), col("sz_b"),
          round(col("est_containment"), 6).as("est_containment"))
        .orderBy("new_id", "corpus_id")
    }),
    "q_dedup_incremental" -> ((s, dir) => {
      val docs = graft.sources.Testdata.table(s, dir, "documents")
      val corpus = Dedup.signatureTable(docs.filter(col("doc_id") >= 50),
        col("doc_id"), col("text"))
      val batch = Dedup.signatureTable(docs.filter(col("doc_id") < 50),
        col("doc_id"), col("text"))
      Dedup.incrementalNearDups(corpus, batch)
        .select(col("new_id"), col("corpus_id"), col("bands_hit"),
          round(col("est_jaccard"), 6).as("est_jaccard"))
        .orderBy("new_id", "corpus_id")
    }),
    // Incremental screen + exact-verify join-back: the screen's flagged
    // pairs fetch text (semi-join-pruned corpus scan) and verify true
    // bigram-shingle Jaccard — estimator decides what to read, exact value
    // decides what to keep
    "q_dedup_incremental_verified" -> ((s, dir) => {
      val docs = graft.sources.Testdata.table(s, dir, "documents")
      val corpusDocs = docs.filter(col("doc_id") >= 50)
      val batchDocs = docs.filter(col("doc_id") < 50)
      val corpus = Dedup.signatureTable(corpusDocs, col("doc_id"), col("text"))
      val batch = Dedup.signatureTable(batchDocs, col("doc_id"), col("text"))
      Dedup.incrementalNearDupsVerified(
          Dedup.incrementalNearDups(corpus, batch),
          corpusDocs, col("doc_id"), col("text"),
          batchDocs, col("doc_id"), col("text"),
          n = 2, tau = 0.5)
        .select(col("new_id"), col("corpus_id"), col("bands_hit"),
          round(col("est_jaccard"), 6).as("est_jaccard"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy("new_id", "corpus_id")
    }),
    // Postings-index containment screen: candidates per shared shingle
    // fingerprint (no Jaccard banding blind spot), exact fp-set
    // intersection, containment = inter/min(sz) — the C-high/J≈0 ingest
    // path (a short doc wholly quoted inside a long one)
    "q_dedup_incremental_postings" -> ((s, dir) => {
      val docs = graft.sources.Testdata.table(s, dir, "documents")
      val postings = Dedup.shinglePostings(docs.filter(col("doc_id") >= 50),
        col("doc_id"), col("text"))
      Dedup.incrementalContainmentExact(postings,
          docs.filter(col("doc_id") < 50), col("doc_id"), col("text"),
          n = 2, tau = 0.8, minOverlap = 2)
        .orderBy("new_id", "corpus_id")
    }),
    // MinHash+LSH banded near-dup with exact-Jaccard verification: same
    // oracle as q_dedup_jaccard — the LSH only bounds which pairs are
    // verified, and at this tau its recall is exhaustive on the corpus
    "q_dedup_minhash" -> ((s, dir) =>
      Dedup.minhashLshPairs(graft.sources.Testdata.table(s, dir, "documents"),
          col("doc_id"), col("text"), n = 2, tau = 0.5)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_a", "id_b")),
    // ExactSubstr-style repeated spans (Lee et al. ACL 2022): maximal runs
    // of word positions whose 5-gram fingerprint occurs in ≥2 distinct
    // docs — the cross-doc boilerplate detector whole-doc near-dup misses
    "q_dedup_spans" -> ((s, dir) =>
      Dedup.repeatedSpans(graft.sources.Testdata.table(s, dir, "documents"),
          col("doc_id"), col("text"), k = 5, minDocs = 2)
        .orderBy("id", "start_pos")),
    // Span REMOVAL (the ExactSubstr second half): keep the globally-first
    // occurrence of each span content, drop the word ranges of every other
    // occurrence, rebuild text — one row per input document
    "q_dedup_spans_scrub" -> ((s, dir) =>
      Dedup.scrubRepeatedSpans(graft.sources.Testdata.table(s, dir, "documents"),
          col("doc_id"), col("text"), k = 5, minDocs = 2)
        .orderBy("id")),
    // Source-overlap matrix: distinct shared bigram fingerprints + gram
    // Jaccard per source pair — fp-keyed self-join with fanout bounded by
    // the source count, never a doc-pair space
    "q_dedup_source_overlap" -> ((s, dir) =>
      Dedup.sourceOverlapMatrix(graft.sources.Testdata.table(s, dir, "documents"),
          col("source"), col("text"), n = 2)
        .orderBy("src_a", "src_b")),
    // SimHash near-dup by Hamming ≤ 3. The banding is pigeonhole-complete at
    // this radius, so the oracle is the direct all-pairs Hamming predicate
    // over an exact SQL replica of the 60-bit simhash kernel
    "q_dedup_simhash" -> ((s, dir) =>
      Dedup.simhashPairs(graft.sources.Testdata.table(s, dir, "documents"),
          col("doc_id"), col("text"), maxHamming = 3)
        .orderBy("id_a", "id_b")),
    // duplicate clustering: connected components over the near-dup pairs —
    // routed front door (driver union-find up to the edge cap, star
    // rewriting past it), canonical representative = min id per
    // component. Pairs come from the MinHash+LSH path (exact-verified,
    // banding-complete at this tau) — the candidate generator that
    // survives 100 TB.
    "q_dedup_clusters" -> ((s, dir) => {
      val docs = graft.sources.Testdata.table(s, dir, "documents")
      val pairs = Dedup.minhashLshPairs(docs, col("doc_id"), col("text"), n = 2, tau = 0.5)
        .select("id_a", "id_b")
      Dedup.connectedComponentsAuto(docs.select(col("doc_id").as("id")), pairs)
        .orderBy("id")
    }),
    // The full dedup story in ONE composed plan: exact dedup (md5 groups,
    // min-id representative) → MinHash-LSH near-dup pairs over the
    // representatives only (exact content never re-compared) → connected
    // components → per-cluster roll-up carrying the exact-dup multiplicity
    "q_pipeline_dedup" -> ((s, dir) => {
      val docs = graft.sources.Testdata.table(s, dir, "documents")
      // checkpoint the representative table: three consumers follow (the
      // LSH pair machinery, the CC vertex list, the roll-up join) — without
      // the cut each re-runs the exact-dedup window over the corpus
      val reps = Dedup.exactDedup(docs, col("doc_id"), col("text"))
        .filter(col("keep"))
        .select(col("id").as("doc_id"), col("group_size"))
        .join(docs, "doc_id")
        .cut(eager = false)
      val pairs = Dedup.minhashLshPairs(reps, col("doc_id"), col("text"), n = 2, tau = 0.5)
        .select("id_a", "id_b")
      val cc = Dedup.connectedComponentsAuto(reps.select(col("doc_id").as("id")), pairs)
      cc.join(reps.select(col("doc_id").as("id"), col("group_size")), "id")
        .groupBy("cluster_id")
        .agg(count(lit(1)).as("near_members"), sum(col("group_size")).as("total_docs"))
        .orderBy("cluster_id")
        .select("cluster_id", "near_members", "total_docs")
    }),
    // embedding-cosine near-dup pairs over the embeddings table — EXACT,
    // planned as the 1-Bucket-Theta grid equi-join (no BNLJ/cartesian, even
    // reducer load, `blocks` = scale-out dial); see Dedup.cosinePairs for
    // why LSH blocking cannot be complete at tau=0.4 on this corpus
    "q_dedup_embedding" -> ((s, dir) =>
      Dedup.cosinePairs(Parquet.read(s, s"$dir/embeddings.parquet"),
          col("vec_id"), col("embedding"), tau = 0.4)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
        .orderBy("id_a", "id_b")),
    // embedding near-dup, APPROXIMATE sign-LSH-blocked variant: candidates
    // from a multiprobe equi-join on bucket codes (Hamming ≤ 2), exact
    // cosine verify inside. The oracle replicates the bucket math in SQL
    // (like q_ann_topk), so the check is exact regardless of LSH recall.
    "q_dedup_embedding_lsh" -> ((s, dir) =>
      Dedup.cosinePairsLsh(Parquet.read(s, s"$dir/embeddings.parquet"),
          col("vec_id"), col("embedding"), tau = 0.4,
          planes = AnnSearch.hyperplanes(dim = 64), probeRadius = 2)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
        .orderBy("id_a", "id_b")),
    // ANN: sign-LSH bucketed top-k (multiprobe radius 2) — the 100 TB scale
    // path where the bucket becomes a partition key and probing = pruning
    "q_ann_topk" -> ((s, dir) => {
      val planes = AnnSearch.hyperplanes(dim = 64)
      val indexed = AnnSearch.index(Parquet.read(s, s"$dir/embeddings.parquet"),
        col("embedding"), planes)
      AnnSearch.search(indexed, col("vec_id").cast("string"), col("embedding"),
          queryVec(s, dir), planes, k = 10, probeRadius = 2)
        .withColumn("score", round(col("score"), 6))
        .orderBy(desc("score"), asc("id"))
    }),
    // ANN over the PERSISTED bucket-clustered layout: the multiprobe set
    // prunes parquet FILES via the zone-map manifest before any task runs
    // — the deployable form of "probing = pruning" (hive-partitioning by
    // bucket would be 2^b directories). Same planes/radius/scoring as
    // q_ann_topk, so it shares that oracle.
    "q_ann_topk_clustered" -> ((s, dir) => {
      val planes = AnnSearch.hyperplanes(dim = 64)
      val tmp = System.getProperty("java.io.tmpdir") + "/graft_ann_clustered"
      AnnSearch.clusteredWrite(Parquet.read(s, s"$dir/embeddings.parquet"),
        col("embedding"), planes, tmp, numFiles = 8)
      // file spans + plane identity resolve from the COMMITTED manifest —
      // the probe read schedules no stats scan at all
      AnnSearch.searchClusteredAt(s, tmp, col("vec_id").cast("string"),
          col("embedding"), queryVec(s, dir), planes, k = 10, probeRadius = 2)
        .withColumn("score", round(col("score"), 6))
        .orderBy(desc("score"), asc("id"))
    }),
    // GDPR forget on the clustered ANN index: tombstoned vectors' own
    // buckets (a pure function of the embedding) prune which files the
    // delete rewrites — an id-span delete on a bucket-clustered layout
    // would rewrite everything, since ids scatter across buckets
    "q_ann_forget" -> ((s, dir) => {
      val planes = AnnSearch.hyperplanes(dim = 64)
      val tmp = System.getProperty("java.io.tmpdir") + "/graft_ann_forget"
      val embs = Parquet.read(s, s"$dir/embeddings.parquet")
      AnnSearch.clusteredWrite(embs, col("embedding"), planes, tmp, numFiles = 8)
      val tomb = embs.filter(col("vec_id").isin(3L, 7L, 11L, 19L, 42L))
        .select(col("vec_id"), col("embedding"))
      AnnSearch.deleteVectors(s, tmp, "vec_id", tomb, planes)
      Parquet.read(s, tmp).select(col("vec_id"), col("bucket"))
        .orderBy("vec_id")
    }),
    // GDPR forget by BARE IDS (no embeddings in the request): the per-file
    // bloom sidecar over vec_id names the candidate files by membership —
    // a span prune is useless here (ids scatter across the bucket-clustered
    // files, every span is near-total) and the embedding-keyed prune of
    // q_ann_forget is unavailable without the vectors. Sidecar built once
    // at index time, maintained incrementally across the delete's commit.
    "q_ann_forget_by_id" -> ((s, dir) => {
      import s.implicits._
      val planes = AnnSearch.hyperplanes(dim = 64)
      val tmp = System.getProperty("java.io.tmpdir") + "/graft_ann_forget_id"
      val embs = Parquet.read(s, s"$dir/embeddings.parquet")
      AnnSearch.clusteredWrite(embs, col("embedding"), planes, tmp, numFiles = 8)
      graft.sources.Layout.writeBloomSidecar(s, tmp, "vec_id")
      AnnSearch.deleteVectorsById(s, tmp, "vec_id",
        Seq(5L, 13L, 21L, 33L, 44L).toDF("vec_id"))
      graft.sources.LayoutManifest.readData(s, tmp)
        .select(col("vec_id"), col("bucket"))
        .orderBy("vec_id")
    }),
    // Rebuild-and-cutover on the clustered LSH index: the corpus outgrew a
    // deliberately-coarse 4-plane dial; the rebuild re-buckets the LIVE
    // rows at 8 planes and swaps in ONE manifest commit (readers see old or
    // new, never a mix; the old planes are rejected by fingerprint after
    // the cutover). Probe search then runs at the new dial.
    "q_ann_rebuild" -> ((s, dir) => {
      val planes0 = AnnSearch.hyperplanes(dim = 64, numPlanes = 4)
      val planes1 = AnnSearch.hyperplanes(dim = 64, numPlanes = 8)
      val tmp = System.getProperty("java.io.tmpdir") + "/graft_ann_rebuild_q"
      AnnSearch.clusteredWrite(Parquet.read(s, s"$dir/embeddings.parquet"),
        col("embedding"), planes0, tmp, numFiles = 8)
      AnnSearch.rebuildClustered(s, tmp, "embedding", planes1, numFiles = 8)
      AnnSearch.searchClusteredAt(s, tmp, col("vec_id").cast("string"),
          col("embedding"), queryVec(s, dir), planes1, k = 10, probeRadius = 2)
        .withColumn("score", round(col("score"), 6))
        .orderBy(desc("score"), asc("id"))
    }),
    // ANN, IVF variant: centroid-partitioned inverted lists (deterministic
    // centroids = lowest-id corpus vectors so the oracle can replicate the
    // assignment; production swaps in IvfSearch.train k-means — identical
    // machinery). nprobe/C is the recall dial; scoring stays exact cosine.
    "q_ann_ivf" -> ((s, dir) => {
      val embs = Parquet.read(s, s"$dir/embeddings.parquet")
      val cents = IvfSearch.centroidsFromIds(embs, col("vec_id"), col("embedding"), c = 16)
      val indexed = IvfSearch.index(embs, col("embedding"), cents)
      IvfSearch.search(indexed, col("vec_id").cast("string"), col("embedding"),
          queryVec(s, dir), cents, k = 10, nprobe = 4)
        .withColumn("score", round(col("score"), 6))
        .orderBy(desc("score"), asc("id"))
    }),
    // IVF over the PERSISTED list-clustered layout: the nprobe nearest
    // lists prune parquet FILES via the zone-map manifest — the coarse-
    // partition twin of q_ann_topk_clustered. Same dials as q_ann_ivf, so
    // it shares that oracle.
    "q_ann_ivf_clustered" -> ((s, dir) => {
      val embs = Parquet.read(s, s"$dir/embeddings.parquet")
      val cents = IvfSearch.centroidsFromIds(embs, col("vec_id"), col("embedding"), c = 16)
      val tmp = System.getProperty("java.io.tmpdir") + "/graft_ivf_clustered"
      IvfSearch.clusteredWrite(embs, col("embedding"), cents, tmp, numFiles = 8)
      // list spans + quantizer identity resolve from the committed manifest
      IvfSearch.searchClusteredAt(s, tmp, col("vec_id").cast("string"),
          col("embedding"), queryVec(s, dir), cents, k = 10, nprobe = 4)
        .withColumn("score", round(col("score"), 6))
        .orderBy(desc("score"), asc("id"))
    }),
    // IVF quantizer rebuild-and-cutover: the layout was written with a
    // too-coarse c=8 quantizer; the rebuild re-derives c=16 centroids from
    // the LIVE rows (deterministic id seeds so the oracle replicates the
    // assignment; production passes trainIters>0 for Lloyd refinement —
    // identical machinery) and swaps in one manifest commit. The retired
    // centroids are rejected by fingerprint afterwards.
    "q_ann_ivf_rebuild" -> ((s, dir) => {
      val embs = Parquet.read(s, s"$dir/embeddings.parquet")
      val cents8 = IvfSearch.centroidsFromIds(embs, col("vec_id"), col("embedding"), c = 8)
      val tmp = System.getProperty("java.io.tmpdir") + "/graft_ivf_rebuild_q"
      IvfSearch.clusteredWrite(embs, col("embedding"), cents8, tmp, numFiles = 8)
      val cents16 = IvfSearch.rebuildClustered(s, tmp, "vec_id", "embedding",
        c = 16, trainIters = 0, numFiles = 8)
      IvfSearch.searchClusteredAt(s, tmp, col("vec_id").cast("string"),
          col("embedding"), queryVec(s, dir), cents16, k = 10, nprobe = 4)
        .withColumn("score", round(col("score"), 6))
        .orderBy(desc("score"), asc("id"))
    }),
    // IVF-PQ: coarse list pruning + residual ADC from codes + exact refine
    // (FAISS IndexIVFPQ shape); codebooks are residuals of vec_ids 8..23
    "q_ann_ivf_pq" -> ((s, dir) => {
      val embs = Parquet.read(s, s"$dir/embeddings.parquet")
      val cents = IvfSearch.centroidsFromIds(embs, col("vec_id"), col("embedding"), c = 8)
      val cb = IvfPq.residualCodebooks(embs, col("vec_id"), col("embedding"),
        cents, m = 8, ks = 16)
      val indexed = IvfPq.index(embs, col("embedding"), cents, cb)
      IvfPq.search(indexed, col("vec_id").cast("string"), col("embedding"),
          queryVec(s, dir), cents, cb, k = 10, nprobe = 3, rerank = 40)
        .withColumn("score", round(col("score"), 6))
        .orderBy(desc("score"), asc("id"))
    }),
    // The SQL surface end-to-end: flagship k-NN written as PURE SQL text
    // through the registered native kernels (graft_dot), query vector via
    // scalar subquery — proves a spark.sql-only user gets the same engine
    "q_sql_knn" -> ((s, dir) => {
      GraftExtensions.register(s)
      Parquet.read(s, s"$dir/embeddings.parquet").createOrReplaceTempView("sql_vectors")
      s.sql(
        """WITH scored AS (
          |  SELECT CAST(v.vec_id AS STRING) AS id,
          |    graft_dot(v.embedding, q.embedding) /
          |      (sqrt(graft_dot(v.embedding, v.embedding)) * sqrt(graft_dot(q.embedding, q.embedding))) AS score
          |  FROM sql_vectors v, (SELECT embedding FROM sql_vectors WHERE vec_id = 0) q
          |  ORDER BY score DESC, id ASC LIMIT 10
          |)
          |SELECT id, round(score, 6) AS score FROM scored
          |ORDER BY score DESC, id ASC""".stripMargin)
    }),
    // SemDeDup-style semantic dedup: cluster on IVF lists (deterministic
    // centroids, oracle-replicable), flag within-cluster cosine near-dups,
    // keep the min-id representative — pair space Σ|cluster|², equi-join
    "q_dedup_semantic" -> ((s, dir) => {
      val embs = Parquet.read(s, s"$dir/embeddings.parquet")
      val cents = IvfSearch.centroidsFromIds(embs, col("vec_id"), col("embedding"), c = 16)
      Dedup.semanticDedup(embs, col("vec_id"), col("embedding"), cents, tau = 0.4)
        .orderBy("id")
    }),
    // Multimodal: typed-metadata projection over opaque binary payloads
    "q_media_meta" -> ((s, dir) =>
      Multimodal.metaFeatures(
          Multimodal.mediaTable(graft.sources.Testdata.table(s, dir, "documents")))
        .orderBy("doc_id")),
    // Multimodal: frame sampling = fixed-size binary slices, content-hashed
    "q_media_frames" -> ((s, dir) =>
      Multimodal.sampleFrames(
          Multimodal.mediaTable(graft.sources.Testdata.table(s, dir, "documents")),
          frameBytes = 100, maxFrames = 4)
        .orderBy("doc_id", "frame_idx")),
    // Scene segmentation: a synthetic still (the first frame duplicated at
    // the head of each payload) gives every ≥100-char doc a known 2-frame
    // opening scene; runs of identical frame signatures collapse to scenes
    "q_media_scenes" -> ((s, dir) => {
      val docs = graft.sources.Testdata.table(s, dir, "documents")
        .filter(length(col("text")) > 0)
      val stilled = docs.select(col("doc_id"),
        concat(substring(col("text"), 1, 100), col("text")).cast("binary").as("content"))
      Multimodal.sceneSegments(stilled, frameBytes = 100, maxFrames = 5)
        .select(col("doc_id"), col("scene_id"), col("n_frames"),
          col("start_frame").cast("long").as("start_frame"), col("frame_md5"))
        .orderBy("doc_id", "scene_id")
    }),
    // Multimodal: stubbed batch decode via mapPartitions; the stub's byte
    // math is deterministic, so the oracle replicates it over hex(payload)
    "q_media_decode" -> ((s, dir) =>
      Multimodal.decodeFeatures(
          Multimodal.mediaTable(graft.sources.Testdata.table(s, dir, "documents")))
        .withColumn("brightness", round(col("brightness"), 6))
        .orderBy("doc_id")),
    // Multimodal near-dup: Jaccard over frame-content hashes (count-join —
    // only payloads sharing a frame ever meet)
    "q_media_neardup" -> ((s, dir) =>
      Multimodal.frameNearDupPairs(
          Multimodal.mediaTable(graft.sources.Testdata.table(s, dir, "documents")),
          frameBytes = 100, tau = 0.2)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_a", "id_b")),
    // Relational scale patterns (beyond-reference): TPC-H Q1-shaped
    // filtered partial aggregation with exact decimal sums
    "q_rel_pricing" -> ((s, dir) =>
      Relational.pricingSummary(graft.sources.Testdata.lineitem(s, dir), "1998-09-01")
        .orderBy("l_returnflag", "l_linestatus")),
    // broadcast-dimension join + per-group window top-n (no global sort)
    "q_rel_top_customers" -> ((s, dir) =>
      Relational.topCustomersPerNation(
          graft.sources.Testdata.orders(s, dir),
          graft.sources.Testdata.table(s, dir, "customer"),
          graft.sources.Testdata.table(s, dir, "nation"), topN = 3)
        .orderBy("n_name", "rank")),
    // star join: fact-fact equi-join + broadcast dims + tiny-key agg
    "q_rel_region_revenue" -> ((s, dir) =>
      Relational.regionRevenueByYear(
          graft.sources.Testdata.lineitem(s, dir),
          graft.sources.Testdata.orders(s, dir),
          graft.sources.Testdata.table(s, dir, "customer"),
          graft.sources.Testdata.table(s, dir, "nation"),
          graft.sources.Testdata.table(s, dir, "region"))
        .orderBy("r_name", "ship_year")),
    // rollup: region/year revenue with subtotals and grand total, one pass
    "q_rel_rollup" -> ((s, dir) =>
      Relational.regionRevenueRollup(
          graft.sources.Testdata.lineitem(s, dir),
          graft.sources.Testdata.orders(s, dir),
          graft.sources.Testdata.table(s, dir, "customer"),
          graft.sources.Testdata.table(s, dir, "nation"),
          graft.sources.Testdata.table(s, dir, "region"))
        .orderBy(asc_nulls_first("r_name"), asc_nulls_first("ship_year"))),
    // salted fact⋈dim join: hot join keys spread across 8 reducers via a
    // deterministic per-row salt; result is salt-invariant (oracle = the
    // plain join)
    "q_rel_salted_join" -> ((s, dir) =>
      Relational.saltedJoin(
          graft.sources.Testdata.lineitem(s, dir),
          graft.sources.Testdata.orders(s, dir),
          factKey = "l_orderkey", otherKey = "o_orderkey",
          saltBy = col("l_linenumber"), salts = 8)
        .groupBy("o_orderpriority")
        .agg(
          round(sum(col("l_quantity")
            .cast(org.apache.spark.sql.types.DataTypes.createDecimalType(18, 6)))
            .cast("double"), 6).as("sum_qty"),
          count(lit(1)).as("n_items"))
        .orderBy("o_orderpriority")),
    // asymmetric grouping sets: by region, by year, by region x returnflag
    // in ONE Expand pass (the case rollup/cube cannot express)
    "q_rel_grouping_sets" -> ((s, dir) =>
      Relational.regionRevenueGroupingSets(
          graft.sources.Testdata.lineitem(s, dir),
          graft.sources.Testdata.orders(s, dir),
          graft.sources.Testdata.table(s, dir, "customer"),
          graft.sources.Testdata.table(s, dir, "nation"),
          graft.sources.Testdata.table(s, dir, "region"))
        .orderBy(asc_nulls_first("r_name"), asc_nulls_first("ship_year"),
          asc_nulls_first("l_returnflag"))),
    // cube: all four grouping combinations in one aggregation pass
    "q_rel_cube" -> ((s, dir) =>
      Relational.regionRevenueCube(
          graft.sources.Testdata.lineitem(s, dir),
          graft.sources.Testdata.orders(s, dir),
          graft.sources.Testdata.table(s, dir, "customer"),
          graft.sources.Testdata.table(s, dir, "nation"),
          graft.sources.Testdata.table(s, dir, "region"))
        .orderBy(asc_nulls_first("r_name"), asc_nulls_first("ship_year"))),
    // pivot with an explicit value list (no discovery scan, fixed schema)
    "q_rel_pivot" -> ((s, dir) =>
      Relational.revenuePivotByYear(
          graft.sources.Testdata.lineitem(s, dir),
          graft.sources.Testdata.orders(s, dir),
          graft.sources.Testdata.table(s, dir, "customer"),
          graft.sources.Testdata.table(s, dir, "nation"),
          years = 1995 to 2001)
        .orderBy("n_name")),
    // window-function family: row_number / ntile / percent_rank / cume_dist
    // / lag-gap in one per-customer pass
    "q_rel_window_ranks" -> ((s, dir) =>
      Relational.customerOrderRanks(graft.sources.Testdata.orders(s, dir))
        .orderBy("o_custkey", "rn")),
    // RANGE-frame sliding window: trailing-30-day revenue per customer,
    // keyed on an integer day number (event-time range, not row count) —
    // one exchange + one ordered pass, no self-join expansion
    "q_rel_rolling" -> ((s, dir) =>
      Relational.rollingRevenue(graft.sources.Testdata.orders(s, dir), days = 30)
        .orderBy("o_custkey", "day", "o_orderkey")),
    // set operations with SQL INTERSECT/EXCEPT distinct semantics
    "q_rel_setops" -> ((s, dir) => {
      val ord = graft.sources.Testdata.orders(s, dir)
      def buyers(y: Int) =
        ord.filter(year(col("o_orderdate")) === y).select(col("o_custkey"))
      buyers(1995).intersect(buyers(1996)).except(buyers(1997))
        .orderBy("o_custkey")
    }),
    // distinct + percentile aggregates per market segment (count-distinct
    // expands to a two-phase agg; median is the exact interpolated one)
    "q_rel_segment_stats" -> ((s, dir) => {
      val cust = graft.sources.Testdata.table(s, dir, "customer")
      val ord = graft.sources.Testdata.orders(s, dir)
      ord.join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
          countDistinct(col("o_custkey")).as("n_buyers"),
          count(lit(1)).as("n_orders"),
          round(median(col("o_totalprice")), 6).as("median_price"))
        .orderBy("c_mktsegment")
    }),
    // as-of join (beyond-reference time-series op): for each purchase, the
    // latest click by the same user at or before it — single-shuffle
    // union-window merge, checked against DuckDB's native ASOF JOIN
    "q_asof_click_purchase" -> ((s, dir) => {
      val ev = graft.sources.Testdata.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
      AsofJoin.backward(purchases, clicks, "user_id", "ts", "ts", "click_id")
        .select(col("event_id"), col("user_id"), col("r_click_id").as("click_id"),
          (unix_micros(col("ts")) - unix_micros(col("r_ts"))).as("gap_us"))
        .orderBy("event_id")
    }),
    // banded range join: same-user event pairs within 5 minutes — the
    // (key, bin) equi-join shape that replaces cartesian-filter range joins
    "q_range_copresence" -> ((s, dir) => {
      val ev = graft.sources.Testdata.events(s, dir)
        .select("event_id", "user_id", "ts")
      RangeJoin.within(ev, ev, "user_id", "ts", "ts", maxGapSec = 300)
        .filter(col("l_ts") < col("r_ts") ||
          (col("l_ts") === col("r_ts") && col("l_event_id") < col("r_event_id")))
        .select(col("l_event_id").as("id_a"), col("r_event_id").as("id_b"),
          col("l_user_id").as("user_id"), col("gap_us"))
        .orderBy("id_a", "id_b")
    }),
    // forward as-of (funnel conversion): each signup joined to the user's
    // FIRST subsequent purchase — same union-window merge, time reversed
    "q_asof_signup_conversion" -> ((s, dir) => {
      val ev = graft.sources.Testdata.events(s, dir)
      val signups = ev.filter(col("event_type") === "signup")
        .select("event_id", "user_id", "ts")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
      AsofJoin.forward(signups, purchases, "user_id", "ts", "ts", "purchase_id")
        .select(col("event_id"), col("user_id"),
          col("r_purchase_id").as("purchase_id"),
          (unix_micros(col("r_ts")) - unix_micros(col("ts"))).as("lag_us"))
        .orderBy("event_id")
    }),
    // sessionization: lag + running-sum windows, one shuffle on user_id
    "q_rel_sessions" -> ((s, dir) =>
      Relational.sessionize(graft.sources.Testdata.events(s, dir), gapMinutes = 30)
        .orderBy("user_id", "session_idx")),
    // SCD-2 dimension build from the event log: per-user event_type change
    // points with [valid_from, valid_to) ranges — one exchange + one sort
    // shared by both windows (the filter preserves ordering)
    "q_rel_scd2" -> ((s, dir) =>
      Relational.scd2(graft.sources.Testdata.events(s, dir),
          col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .select(col("k").as("user_id"), col("attr").as("event_type"),
          col("valid_from"), col("valid_to"), col("tie").as("first_event_id"))
        .orderBy("user_id", "valid_from", "first_event_id")),
    // event-type affinity (market-basket lift): user-key co-partitioned
    // self-join over per-user DISTINCT type sets — pair fanout bounded by
    // the type count, never raw event volume
    "q_rel_affinity" -> ((s, dir) =>
      Relational.typeAffinity(graft.sources.Testdata.events(s, dir),
          col("user_id"), col("event_type"))
        .orderBy("ta", "tb")),
    // cohort retention matrix: acquisition-week cohorts x whole-week
    // offsets — two user-key-aligned exchanges + a tiny-key distinct count
    "q_rel_retention" -> ((s, dir) =>
      Relational.retention(graft.sources.Testdata.events(s, dir),
          col("user_id"), col("ts"))
        .orderBy("cohort_week", "week_offset")),
    // ordered conversion funnel (view -> click -> purchase, strictly-after
    // sequence matching): ONE exchange — per-user sorted stage lists from a
    // single groupBy, chained strictly-after minima as array folds, no
    // self-joins or windows
    "q_rel_funnel" -> ((s, dir) =>
      Relational.funnel(graft.sources.Testdata.events(s, dir),
          col("user_id"), col("ts"), col("event_type"),
          Seq("view", "click", "purchase"))
        .orderBy("stage_idx")),
    // Streaming batch-twin: the exact windowed-aggregation definition the
    // streaming path runs (graft.streaming.Streaming.windowedEventStats),
    // executed as a batch plan over the same events table
    "q_stream_window_stats" -> ((s, dir) =>
      graft.streaming.Streaming.windowedEventStats(
          graft.sources.Testdata.events(s, dir), "5 minutes")
        .orderBy("win_start", "event_type")),
    // usearch-variant parity: int8 quantized cosine top-k (scale-invariant
    // codes, 4x narrower storage; floor(+0.5) quantization mirrored in SQL)
    "q_knn_quantized" -> ((s, dir) => {
      val qz = Quantized.quantize(Parquet.read(s, s"$dir/embeddings.parquet"), col("embedding"))
      Quantized.search(qz, col("vec_id").cast("string"), queryVec(s, dir), k = 10)
        .withColumn("score", round(col("score"), 6))
        .orderBy(desc("score"), asc("id"))
    }),
    // O22 embedding extraction + search: text → embedder → store (float32
    // coercion) → cosine top-k, all in-cluster — the DETERMINISTIC-kernel
    // variant (codegen NgramPolyHashVecExpr column, no UDF), fully oracled;
    // the murmur HashingEmbedder stays API-exposed and QuantizedSpec-pinned
    "q_text_search" -> ((s, dir) => {
      val docs = graft.sources.Testdata.table(s, dir, "documents")
      val feat = org.apache.spark.sql.graft.Bridge.column(
        graft.functions.NgramPolyHashVecExpr(
          org.apache.spark.sql.graft.Bridge.expression(col("text"))))
      val store = VectorStore(VectorStore.ingest(
        docs.select(col("doc_id").as("id"), feat.as("embedding"),
          to_json(struct(col("text").as("text"))).as("metadata")),
        col("id"), col("embedding"), col("metadata")))
      val qv = graft.functions.NgramPolyHashVecExpr
        .features("table join query scan fast").map(_.toFloat).toSeq
      Search.findMostSimilar(store, qv, k = 10)
        .select(col("id"), round(col("score"), 6).as("score"))
        .orderBy(desc("score"), asc("id"))
    }),
    // BM25 lexical top-k over documents (sparse counterpart to cosine
    // search): integer tf/df statistics in one scan + broadcast stats row,
    // fixed-order score arithmetic for oracle bit-parity
    "q_text_bm25" -> ((s, dir) =>
      Bm25.rank(graft.sources.Testdata.table(s, dir, "documents"),
          col("doc_id"), col("text"),
          queryTerms = Seq("table", "join", "query", "scan", "fast"), k = 10)
        .withColumn("score", round(col("score"), 6))
        .orderBy(desc("score"), asc("id"))),
    // binary (1-bit) quantization: 64 dims in one BIGINT, XOR+popcount
    // Hamming prefilter over all rows, exact cosine rerank of the best 50
    "q_knn_binary" -> ((s, dir) => {
      val b = Quantized.binarize(Parquet.read(s, s"$dir/embeddings.parquet"),
        col("embedding"), dim = 64)
      Quantized.binarySearch(b, col("vec_id").cast("string"), col("embedding"),
          queryVec(s, dir), k = 10, rerank = 50)
        .withColumn("score", round(col("score"), 6))
        .orderBy(desc("score"), asc("id"))
    }),
    // usearch-mirror ascending-distance autocut: int8 cosine DISTANCE
    // (1 − cos, the usearch return convention), smallest-first, truncated at
    // the first >20% relative increase. The query row itself is excluded so
    // the distance list has no ~0 leading entry (relative increases over a
    // near-zero denominator are float-noise-sensitive on BOTH engines).
    "q_knn_quantized_autocut" -> ((s, dir) => {
      val corpus = Parquet.read(s, s"$dir/embeddings.parquet").filter(col("vec_id") =!= 0)
      val qz = Quantized.quantize(corpus, col("embedding"))
      val d = Quantized.searchDistance(qz, col("vec_id").cast("string"), queryVec(s, dir), k = 10)
      Autocut.ascending(d, col("distance"), col("id"))
        .select(col("id"), round(col("distance"), 6).as("distance"))
        .orderBy(asc("distance"), asc("id"))
    }),
    // multi-word binary quantization (the 64-dim cap lifted): a 512-d wide
    // vector (8 threshold slices of the embedding — multi-threshold scalar
    // quantization) packs into 8 BIGINT words; coarse rank is one fused
    // XOR+popcount pass over 64 bytes/row, exact cosine rerank of the best
    // 50 on the original floats
    "q_knn_binary_wide" -> ((s, dir) => {
      val embs = Parquet.read(s, s"$dir/embeddings.parquet")
      val ev = VF.toDoubleArray(col("embedding"))
      def thr(sl: Int): Double = (sl - 3.5) * 0.04
      val wide = flatten(array((0 until 8).map(sl => transform(ev, x => x - lit(thr(sl)))): _*))
      val b = Quantized.binarizeWords(embs.withColumn("wide", wide), col("wide"), dim = 512)
      val q = queryVec(s, dir)
      val qWide = (0 until 8).flatMap(sl => q.map(x => x.toDouble - thr(sl)))
      Quantized.binarySearchWords(b, col("vec_id").cast("string"), qWide,
          rerankVec = col("embedding"), rerankQuery = q, k = 10, rerank = 50)
        .withColumn("score", round(col("score"), 6))
        .orderBy(desc("score"), asc("id"))
    }),
    // Product quantization (Jégou et al. 2011): 64-d float32 (256 B) →
    // 8 code bytes + shared codebook; per-query scan is m table lookups
    // per row over the CODE table (32× less I/O than the float corpus).
    // Deterministic codebooks (subvectors of the 16 lowest-id vectors) so
    // the oracle replicates encode + ADC arithmetic exactly in SQL.
    "q_knn_pq" -> ((s, dir) => {
      val embs = Parquet.read(s, s"$dir/embeddings.parquet")
      val cb = Pq.codebooksFromIds(embs, col("vec_id"), col("embedding"), m = 8, ks = 16)
      val enc = Pq.encode(embs, col("embedding"), cb)
      Pq.search(enc, col("vec_id").cast("string"),
          queryVec(s, dir).map(_.toDouble), cb, k = 10)
        .withColumn("adist", round(col("adist"), 6))
        .orderBy(asc("adist"), asc("id"))
    }),
    // Two-stage PQ: ADC shortlist (codes-only scan, top-50) → exact cosine
    // rerank of the shortlist — the IVF-PQ-refine shape where float reads
    // are bounded by the rerank budget, not the corpus
    "q_knn_pq_refined" -> ((s, dir) => {
      val embs = Parquet.read(s, s"$dir/embeddings.parquet")
      val cb = Pq.codebooksFromIds(embs, col("vec_id"), col("embedding"), m = 8, ks = 16)
      val enc = Pq.encode(embs, col("embedding"), cb)
      Pq.searchRefined(enc, col("vec_id").cast("string"), col("embedding"),
          queryVec(s, dir), cb, k = 10, rerank = 50)
        .withColumn("score", round(col("score"), 6))
        .orderBy(desc("score"), asc("id"))
    }),
    // batch k-NN: top-5 per query for 3 query vectors in one corpus scan
    "q_knn_batch" -> ((s, dir) => {
      val store = VectorStore.fromEmbeddingsTable(s, dir)
      val qs = Parquet.read(s, s"$dir/embeddings.parquet")
        .filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      Search.findMostSimilarBatch(store, qs, k = 5)
        .select(col("query_id"), col("rank"), col("id"), round(col("score"), 6).as("score"))
        .orderBy("query_id", "rank")
    }),
    // Batch ANN: query table -> multiprobe bucket explode -> broadcast
    // equi-join on bucket -> GroupTopK; scored volume is the probed-bucket
    // sizes, not n·Q
    "q_knn_batch_ann" -> ((s, dir) => {
      val embs = Parquet.read(s, s"$dir/embeddings.parquet")
      val planes = AnnSearch.hyperplanes(dim = 64)
      val indexed = AnnSearch.index(embs, col("embedding"), planes)
      val qs = embs.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      AnnSearch.searchBatch(indexed, col("vec_id").cast("string"), col("embedding"),
          qs, planes, k = 5, probeRadius = 2)
        .select(col("query_id"), col("rank"), col("id"), round(col("score"), 6).as("score"))
        .orderBy("query_id", "rank")
    }),
    // batch ANN over the PERSISTED clustered layout: the union of all
    // queries' probe buckets prunes files via the zone-map manifest, then
    // the probe-join + GroupTopK ranking runs on the pruned read. Same
    // dials and output as q_knn_batch_ann, so it shares that oracle.
    "q_knn_batch_ann_clustered" -> ((s, dir) => {
      val embs = Parquet.read(s, s"$dir/embeddings.parquet")
      val planes = AnnSearch.hyperplanes(dim = 64)
      val tmp = System.getProperty("java.io.tmpdir") + "/graft_ann_clustered_b"
      AnnSearch.clusteredWrite(embs, col("embedding"), planes, tmp, numFiles = 8)
      // stats from the committed manifest (no scan); the probe-bucket union
      // is computed column-side — only bucket ints reach the driver
      val manifest = AnnSearch.loadManifest(s, tmp)
      val qs = embs.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      AnnSearch.searchClusteredBatch(s, tmp, manifest, col("vec_id").cast("string"),
          col("embedding"), qs, planes, k = 5, probeRadius = 2)
        .select(col("query_id"), col("rank"), col("id"), round(col("score"), 6).as("score"))
        .orderBy("query_id", "rank")
    }),
    // O4 batch insert: duplicate validation + metadata padding, then scan
    "q_crud_insert_batch" -> ((s, dir) => {
      val st = VectorStore.fromEmbeddingsTable(s, dir)
      st.insertBatch(
        Seq("n1", "n2", "n3"),
        Seq(Seq(0.1f, 0.2f), Seq(0.3f, 0.4f), Seq(0.5f, 0.6f)),
        Seq("""{"tag":"new"}""", """{"tag":"new"}""", """{"tag":"new"}"""))
        .df.select("id", "metadata").orderBy("id")
    }),
    // O6 batch delete: existence validation, anti-join removal
    "q_crud_delete_batch" -> ((s, dir) => {
      val st = VectorStore.fromEmbeddingsTable(s, dir)
      st.deleteBatch((0 until 10).map(_.toString))
        .df.select("id").orderBy(col("id").cast("bigint"))
    }),
    // O7 point lookup by id — embedding unnested to scalar (id, pos, val)
    // rows: the comparison harness sorts by column values, so results must
    // avoid array-typed columns
    "q_crud_lookup" -> ((s, dir) =>
      VectorStore.fromEmbeddingsTable(s, dir)
        .df.filter(col("id") === "42")
        .select(col("id"), posexplode(col("embedding")).as(Seq("pos", "val")))
        .orderBy("pos")),
    // O1+O2: persist (shard-size-bounded parquet files) and reload
    "q_crud_persist_roundtrip" -> ((s, dir) => {
      val st = VectorStore.fromEmbeddingsTable(s, dir)
      val tmp = System.getProperty("java.io.tmpdir") + "/graft_roundtrip_store"
      st.persist(tmp, shardSize = 100)
      VectorStore.load(s, tmp).df
        .select("id", "metadata").orderBy(col("id").cast("bigint"))
    }),
    // Source-format coverage: JSONL egress + ingest roundtrip (the LLM
    // dataset interchange format) — line-splittable files, explicit schema
    // on read (no inference pass); content proven by md5 against the
    // parquet original
    "q_source_jsonl_roundtrip" -> ((s, dir) => {
      val docs = graft.sources.Testdata.table(s, dir, "documents")
      val tmp = System.getProperty("java.io.tmpdir") + "/graft_roundtrip_jsonl"
      graft.sources.TextFormats.writeJsonl(docs, tmp)
      graft.sources.TextFormats.readJsonl(s, tmp, docs.schema)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          md5(col("text")).as("text_md5"))
        .orderBy("doc_id")
    }),
    // Source-format coverage: headered-CSV egress + ingest roundtrip with
    // an explicit schema (header names only, types from the schema)
    "q_source_csv_roundtrip" -> ((s, dir) => {
      val docs = graft.sources.Testdata.table(s, dir, "documents")
      val tmp = System.getProperty("java.io.tmpdir") + "/graft_roundtrip_csv"
      graft.sources.TextFormats.writeCsv(docs, tmp)
      graft.sources.TextFormats.readCsv(s, tmp, docs.schema)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          md5(col("text")).as("text_md5"))
        .orderBy("doc_id")
    }),
    // Source-format coverage: ORC egress + ingest roundtrip (Hive/Trino
    // interop) — self-describing schema, columnar, splittable
    "q_source_orc_roundtrip" -> ((s, dir) => {
      val docs = graft.sources.Testdata.table(s, dir, "documents")
      val tmp = System.getProperty("java.io.tmpdir") + "/graft_roundtrip_orc"
      graft.sources.ColumnarFormats.writeOrc(docs, tmp)
      graft.sources.ColumnarFormats.readOrc(s, tmp)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          md5(col("text")).as("text_md5"))
        .orderBy("doc_id")
    }),
    // Curation: temperature (alpha=0.5) mixture sampling — per-stratum
    // acceptance rate sqrt(avail_min/avail_s) flattens the token
    // distribution toward uniform (the XLM-R/mT5 multilingual shape);
    // sqrt+division are correctly rounded, so membership is bit-identical
    // to the oracle
    "q_curate_temperature_mix" -> ((s, dir) =>
      Curation.temperatureSample(graft.sources.Testdata.table(s, dir, "documents"),
          col("doc_id"), col("lang"), col("text"))
        .orderBy("id")),
    // Data profiling: per-column completeness + exact distincts in ONE
    // aggregation (single Expand pass — the table is read once no matter
    // how many columns are profiled)
    "q_profile_completeness" -> ((s, dir) =>
      Profile.completeness(graft.sources.Testdata.events(s, dir),
          Seq("event_type", "props", "user_id", "value"))
        .orderBy("col_name")),
    // Referential-integrity audit: orphan children under a deliberately
    // truncated parent set (every 10th order withheld) — the ingest-gate
    // shape (one-row result; reject the drop if orphan_rate > tau)
    "q_profile_orphans" -> ((s, dir) =>
      Profile.orphanAudit(
        graft.sources.Testdata.lineitem(s, dir), col("l_orderkey"),
        graft.sources.Testdata.orders(s, dir)
          .filter(pmod(col("o_orderkey"), lit(10)) =!= 0), col("o_orderkey"))),
    // Layout tier: Morton (Z-order) key — exact shift/mask integer algebra
    // on two dimensions, replicated bit-for-bit by the DuckDB oracle
    "q_layout_zorder" -> ((s, dir) => {
      import graft.sources.Layout
      val li = graft.sources.Testdata.table(s, dir, "lineitem")
      val b = li.agg(min("l_partkey").cast("long"), max("l_partkey").cast("long"),
                     min("l_suppkey").cast("long"), max("l_suppkey").cast("long")).head()
      li.select(col("l_orderkey"), col("l_linenumber"),
          Layout.mortonKey(
            Layout.scaleTo16(col("l_partkey"), b.getLong(0), b.getLong(1)),
            Layout.scaleTo16(col("l_suppkey"), b.getLong(2), b.getLong(3))).as("zkey"))
        .orderBy("zkey", "l_orderkey", "l_linenumber")
    }),
    // Layout tier: Z-order write -> zone-map manifest -> planning-time file
    // pruning -> row-level re-filter; result must equal the plain full-scan
    // filter (the zone map may only ever skip files, never rows)
    "q_layout_zonemap_prune" -> ((s, dir) => {
      import graft.sources.Layout
      val li = graft.sources.Testdata.table(s, dir, "lineitem")
      val tmp = System.getProperty("java.io.tmpdir") + "/graft_layout_zorder"
      Layout.zorderWrite(li, "l_partkey", "l_suppkey", tmp, numFiles = 8)
      val manifest = graft.sources.LayoutManifest
        .bootstrap(s, tmp, Seq("l_partkey", "l_suppkey"))
      Layout.prunedRead(s, tmp, manifest, "l_partkey", 100L, 300L)
        .filter(col("l_partkey").between(100, 300))
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity")
        // (orderkey, linenumber) is NOT unique in the synthetic lineitem —
        // pin a total order over all output columns
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity")
    }),
    // Layout tier: targeted delete (GDPR forget) — only zone-map-affected
    // files are rewritten; result must equal the plain anti-join
    "q_layout_delete" -> ((s, dir) => {
      import graft.sources.Layout
      val docs = graft.sources.Testdata.table(s, dir, "documents")
      val tmp = System.getProperty("java.io.tmpdir") + "/graft_layout_delete"
      docs.repartitionByRange(8, col("doc_id")).sortWithinPartitions("doc_id")
        .write.mode("overwrite").parquet(tmp)
      import s.implicits._
      val tombstones = ((50L until 60L) ++ Seq(100L, 200L)).toDF("doc_id")
      Layout.deleteRows(s, tmp, "doc_id", tombstones)
      Parquet.read(s, tmp)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          md5(col("text")).as("text_md5"))
        .orderBy("doc_id")
    }),
    // The forget CASCADE: one tombstone set propagated through a source
    // table AND its derived chunk table, each via zone-targeted deleteRows
    // (both clustered on the doc id, so the cascade touches a handful of
    // files per table no matter how large either grows). The readback
    // joins the two maintained tables to prove the cascade is consistent.
    "q_pipeline_forget" -> ((s, dir) => {
      import graft.sources.Layout
      import s.implicits._
      val docs = graft.sources.Testdata.table(s, dir, "documents")
      val docDir = System.getProperty("java.io.tmpdir") + "/graft_forget_docs"
      val chunkDir = System.getProperty("java.io.tmpdir") + "/graft_forget_chunks"
      docs.repartitionByRange(8, col("doc_id")).sortWithinPartitions("doc_id")
        .write.mode("overwrite").parquet(docDir)
      Curation.chunkTokens(docs, col("doc_id"), col("text"), size = 64, stride = 48)
        .repartitionByRange(8, col("id")).sortWithinPartitions("id", "chunk_idx")
        .write.mode("overwrite").parquet(chunkDir)
      // the production cascade commits manifests at write time: each delete
      // then snapshots file spans from the manifest (no stats scan) and the
      // rewrite swaps in crash-safe (q_layout_delete keeps the legacy
      // bootstrap path covered)
      Layout.commitLayout(s, docDir, Seq("doc_id"))
      Layout.commitLayout(s, chunkDir, Seq("id"))
      val tomb = (30L until 40L).toDF("doc_id")
      Layout.deleteRows(s, docDir, "doc_id", tomb)
      Layout.deleteRows(s, chunkDir, "id", tomb)
      val chunkStats = Parquet.read(s, chunkDir).groupBy("id")
        .agg(count(lit(1)).as("n_chunks"), sum("n_tokens").as("sum_tokens"))
      Parquet.read(s, docDir).select(col("doc_id"))
        .join(chunkStats, col("doc_id") === col("id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
          coalesce(col("sum_tokens"), lit(0L)).as("sum_tokens"))
        .orderBy("doc_id")
    }),
    // Layout tier: small-file compaction — 32 splinter files bin-packed by
    // listed bytes into ~4, cluster order restored; content-preserving by md5
    "q_layout_compact" -> ((s, dir) => {
      import graft.sources.Layout
      val docs = graft.sources.Testdata.table(s, dir, "documents")
      val tmpIn = System.getProperty("java.io.tmpdir") + "/graft_compact_in"
      val tmpOut = System.getProperty("java.io.tmpdir") + "/graft_compact_out"
      docs.repartition(32).write.mode("overwrite").parquet(tmpIn)
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(tmpIn), s.sparkContext.hadoopConfiguration)
      val total = fs.listStatus(new org.apache.hadoop.fs.Path(tmpIn))
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        .map(_.getLen).sum
      Layout.compact(s, tmpIn, tmpOut, targetBytes = math.max(1L, total / 4),
        clusterCol = Some("doc_id"))
      Parquet.read(s, tmpOut)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          md5(col("text")).as("text_md5"))
        .orderBy("doc_id")
    }),
    // The WIRED recompaction gate: a hash-scattered committed layout reads
    // ~full-range overlapping spans from its manifest (no scan), the
    // maintainCompaction threshold fires, and the in-place clustered
    // rewrite cuts over in one manifest commit. Readback goes through the
    // manifest-resolved read — content must equal the source exactly.
    "q_layout_autocompact" -> ((s, dir) => {
      import graft.sources.Layout
      val docs = graft.sources.Testdata.table(s, dir, "documents")
      val tmp = System.getProperty("java.io.tmpdir") + "/graft_autocompact_q"
      docs.repartition(16).write.mode("overwrite").parquet(tmp)
      Layout.commitLayout(s, tmp, Seq("doc_id"))
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(tmp), s.sparkContext.hadoopConfiguration)
      val total = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        .map(_.getLen).sum
      val d = Layout.maintainCompaction(s, tmp, "doc_id",
        targetBytes = math.max(1L, total / 4))
      require(d.compacted && d.filesAfter < 16,
        s"the gate must fire on a scattered layout and shrink it: $d")
      graft.sources.LayoutManifest.readData(s, tmp)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          md5(col("text")).as("text_md5"))
        .orderBy("doc_id")
    }),
    // Committed appends: a base layout plus two appended batches — batch 1
    // deliberately REPLAYED (at-least-once delivery) and skipped by the
    // manifest's batch high-water mark, so the manifest-resolved readback
    // holds exactly one copy of every row. The crash-safe ingest shape the
    // streaming clustered-ANN maintenance runs per micro-batch.
    "q_layout_append" -> ((s, dir) => {
      import graft.sources.{Layout, LayoutManifest}
      val docs = graft.sources.Testdata.table(s, dir, "documents")
      val tmp = System.getProperty("java.io.tmpdir") + "/graft_append_q"
      docs.filter(col("doc_id") % 3 === 0)
        .repartitionByRange(4, col("doc_id")).sortWithinPartitions("doc_id")
        .write.mode("overwrite").parquet(tmp)
      Layout.commitLayout(s, tmp, Seq("doc_id"))
      Layout.appendCommitted(docs.filter(col("doc_id") % 3 === 1), tmp,
        batchId = Some(1L))
      Layout.appendCommitted(docs.filter(col("doc_id") % 3 === 1), tmp,
        batchId = Some(1L)) // replay: must be skipped, not duplicated
      Layout.appendCommitted(docs.filter(col("doc_id") % 3 === 2), tmp,
        batchId = Some(2L))
      LayoutManifest.readData(s, tmp)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          md5(col("text")).as("text_md5"))
        .orderBy("doc_id")
    }),
    // Snapshot time travel: pin the manifest version of the EVEN-docs
    // commit, append the odd docs, then read the pinned version — the
    // reproducible-training-set primitive (a rerun reads identical bytes
    // whatever landed since; gc's keepManifests is the horizon). Output is
    // the v0 snapshot, which must equal the even half exactly even though
    // the CURRENT table holds everything.
    "q_layout_snapshot" -> ((s, dir) => {
      import graft.sources.{Layout, LayoutManifest}
      val docs = graft.sources.Testdata.table(s, dir, "documents")
      val tmp = System.getProperty("java.io.tmpdir") + "/graft_snapshot_q"
      docs.filter(col("doc_id") % 2 === 0)
        .repartitionByRange(4, col("doc_id")).sortWithinPartitions("doc_id")
        .write.mode("overwrite").parquet(tmp)
      val v0 = Layout.commitLayout(s, tmp, Seq("doc_id"))
      Layout.appendCommitted(docs.filter(col("doc_id") % 2 === 1), tmp,
        batchId = Some(1L))
      require(LayoutManifest.readData(s, tmp).count() >
        LayoutManifest.readDataAt(s, tmp, v0).count(),
        "the current table must have grown past the pinned snapshot")
      LayoutManifest.readDataAt(s, tmp, v0)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          md5(col("text")).as("text_md5"))
        .orderBy("doc_id")
    }),
    // Version diff at manifest cost: what changed between the pinned even
    // snapshot and the current table — the diff reads ONLY the files the
    // versions do not share (here: exactly the appended odd files; the
    // shared even files are provably identical and never read), so a
    // snapshot audit costs the CHANGE, not the table.
    "q_layout_version_diff" -> ((s, dir) => {
      import graft.sources.{Layout, LayoutManifest}
      val docs = graft.sources.Testdata.table(s, dir, "documents")
      val tmp = System.getProperty("java.io.tmpdir") + "/graft_vdiff_q"
      docs.filter(col("doc_id") % 2 === 0)
        .repartitionByRange(4, col("doc_id")).sortWithinPartitions("doc_id")
        .write.mode("overwrite").parquet(tmp)
      val v0 = Layout.commitLayout(s, tmp, Seq("doc_id"))
      Layout.appendCommitted(docs.filter(col("doc_id") % 2 === 1), tmp,
        batchId = Some(1L))
      val v1 = LayoutManifest.current(s, tmp).get.version
      LayoutManifest.diffVersions(s, tmp, v0, v1, "doc_id")
        .select(col("change"), col("doc_id"), col("lang"), col("source"),
          md5(col("text")).as("text_md5"))
        .orderBy("doc_id")
    }),
    // interval OVERLAP join: per-user event intervals [ts, ts+(id%7+1) min],
    // dual-binned (key, bin) equi-join, pairs deduped to the overlap-start
    // bin — the two-sided generalization of the banded range join
    "q_join_intervals" -> ((s, dir) => {
      val iv = graft.sources.Testdata.events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts").as("ts_start"),
          timestamp_micros(unix_micros(col("ts")) +
            (pmod(col("event_id"), lit(7)) + 1) * lit(60000000L)).as("ts_end"))
      RangeJoin.overlaps(iv, iv, "user_id", "ts_start", "ts_end",
          "ts_start", "ts_end", binSec = 420)
        .filter(col("l_event_id") < col("r_event_id"))
        .select(col("l_event_id").as("id_a"), col("r_event_id").as("id_b"),
          col("l_user_id").as("user_id"), col("overlap_us"))
        .orderBy("id_a", "id_b")
    }),
    // TF cosine pairs, cost-routed: postings self-join (df>=2 prune is
    // exact) on natural vocabularies; on THIS corpus the sampled Σdf² probe
    // detects the 31-term dense vocabulary (Σdf² ≈ 4.5e8 postings-join rows
    // at sf0.1) and routes to the dense grid strategy — vocab-pivoted
    // ARRAY<BIGINT> vectors through the 1-Bucket-Theta self-join, bit-equal
    // results either way
    "q_text_cosine_pairs" -> ((s, dir) =>
      Dedup.tfCosinePairsAuto(
          Parquet.read(s, s"$dir/documents.parquet"),
          col("doc_id"), col("text"), tau = 0.9)
        .orderBy("id_a", "id_b")),
    // key-skew audit: the measurement that decides salting — one
    // map-combined groupBy + TakeOrderedAndProject; rank/cum-share windows
    // run over the ≤ topN survivors only
    "q_profile_skew" -> ((s, dir) =>
      Profile.keySkew(graft.sources.Testdata.events(s, dir),
          col("user_id"), topN = 20)
        .orderBy("rnk")),
    // gap-filled hourly resample + 3-bucket trailing mean: raw table touched
    // once (bucketed pre-agg); the dense axis is sequence()+explode on the
    // aggregated grid, never a calendar cross join
    "q_ts_resample" -> ((s, dir) =>
      Relational.resampleGapFill(graft.sources.Testdata.events(s, dir),
          col("event_type"), col("ts"), bucketMinutes = 60)
        .withColumnRenamed("g", "event_type")
        .orderBy("event_type", "bucket_start")),
    // ANN acceptance as a query: recall@10 of the multiprobe sign-LSH run
    // against the exact batch top-10 — two Q·k-row joins, corpus scanned
    // once per side
    // language-ID accuracy eval: the stopword-profile predictor scored
    // against the table's ground-truth lang — full confusion matrix plus
    // per-truth-language accuracy, one scan + a langs²-bounded aggregate
    "q_eval_langid_accuracy" -> ((s, dir) => {
      val docs = graft.sources.Testdata.table(s, dir, "documents")
      val scored = docs.select(col("lang"),
        TextAnalysis.langId(col("text")).as("lang_pred"))
      val conf = scored.groupBy("lang", "lang_pred")
        .agg(count(lit(1)).as("n"))
      val tot = scored.groupBy("lang").agg(count(lit(1)).as("n_true"))
      conf.join(tot, "lang")
        .select(col("lang"), col("lang_pred"), col("n"),
          round(col("n") / col("n_true"), 6).as("frac_of_true"))
        .orderBy("lang", "lang_pred")
    }),
    "q_eval_ann_recall" -> ((s, dir) => {
      val embs = Parquet.read(s, s"$dir/embeddings.parquet")
      val store = VectorStore.fromEmbeddingsTable(s, dir)
      val qs = embs.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val exact = Search.findMostSimilarBatch(store, qs, k = 10)
      val planes = AnnSearch.hyperplanes(dim = 64)
      val indexed = AnnSearch.index(embs, col("embedding"), planes)
      val ann = AnnSearch.searchBatch(indexed, col("vec_id").cast("string"),
        col("embedding"), qs, planes, k = 10, probeRadius = 2)
      RankEval.recallAtK(exact, ann, "query_id", "id").orderBy("query_id")
    }),
    // per-source quantile calibration: quality scores become within-source
    // percent ranks (ties share a percentile), so one global cut applies
    // fairly across sources — one exchange on source + per-group sort
    "q_curate_quantile_norm" -> ((s, dir) =>
      Curation.quantileNormalize(
          graft.sources.Testdata.table(s, dir, "documents"),
          col("doc_id"), col("source"), TextAnalysis.qualityScore(col("text")))
        .withColumnRenamed("id", "doc_id").withColumnRenamed("grp", "source")
        .orderBy("doc_id")),
    // trailing z-score volume anomalies over the gap-filled hourly series:
    // each bucket scored against the prior 24 buckets (current excluded) —
    // integer window sums, a fixed-order double epilogue
    "q_ts_anomaly" -> ((s, dir) =>
      Relational.anomalyScores(graft.sources.Testdata.events(s, dir),
          col("event_type"), col("ts"), bucketMinutes = 60)
        .withColumnRenamed("g", "event_type")
        .orderBy("event_type", "bucket_start")),
    // record linkage: a deterministically corrupted name column matched back
    // to the clean dimension at edit distance <= 1 — symmetric-deletion
    // (FastSS/SymSpell) blocking equi-join + exact levenshtein verify;
    // candidates come from variant equality, never a cross join
    // record-linkage clustering: two record sources (clean + per-record
    // corrupted twins), edit-distance≤1 self-ER via the deletion-
    // neighborhood blocking, then connected components over the match
    // edges — every record mapped to its resolved ENTITY (min reachable
    // id), the master-data consolidation shape; 1-in-10 key sample keeps
    // the oracle's brute-force quadratic ground truth tractable at sf0.1
    "q_er_clusters" -> ((s, dir) => {
      val cust = Parquet.read(s, s"$dir/customer.parquet")
        .filter(pmod(col("c_custkey"), lit(10)) === 0)
      val pos = pmod(col("c_custkey"), length(col("c_name")).cast("long"))
      val recs = cust
        .select((col("c_custkey") * 2).as("rid"), col("c_name").as("name"))
        .unionByName(cust.select((col("c_custkey") * 2 + 1).as("rid"),
          concat(col("c_name").substr(lit(1), pos.cast("int")),
            col("c_name").substr((pos + lit(2L)).cast("int"),
              length(col("c_name")))).as("name")))
      val pairs = FuzzyJoin.edJoin(recs, col("rid"), col("name"),
          recs, col("rid"), col("name"), maxDist = 1)
        .filter(col("l_id") < col("r_id"))
        .select(col("l_id").as("id_a"), col("r_id").as("id_b"))
      Dedup.connectedComponentsAuto(recs.select(col("rid").as("id")), pairs)
        .orderBy("id")
    }),
    "q_er_names" -> ((s, dir) => {
      val cust = Parquet.read(s, s"$dir/customer.parquet")
      val pos = pmod(col("c_custkey"), length(col("c_name")).cast("long"))
      val dirty = cust.select(col("c_custkey").as("dirty_id"),
        concat(col("c_name").substr(lit(1), pos.cast("int")),
          col("c_name").substr((pos + lit(2L)).cast("int"),
            length(col("c_name")))).as("dirty_name"))
      FuzzyJoin.edJoin(dirty, col("dirty_id"), col("dirty_name"),
          cust, col("c_custkey"), col("c_name"), maxDist = 1)
        .select(col("l_id").as("dirty_id"), col("r_id").as("c_custkey"),
          col("dist").cast("long").as("dist"))
        .orderBy("dirty_id", "c_custkey")
    }),
    // per-source token-distribution drift: KL(source || corpus) in nats —
    // one tokenize into a (source, token) count, vocabulary-bounded joins,
    // sorted-fold sum for bit-stable floats
    "q_text_source_kl" -> ((s, dir) =>
      TextAnalysis.sourceTokenKl(
          graft.sources.Testdata.table(s, dir, "documents"),
          col("source"), col("text"))
        .withColumnRenamed("g", "source")
        .orderBy("source")),
    // robust per-source quality outliers: |v - median| > k·1.4826·MAD —
    // exact two-pass percentiles over 6-dp-rounded scores, flat groups
    // (MAD = 0) never flag
    "q_profile_mad" -> ((s, dir) =>
      Profile.madOutliers(graft.sources.Testdata.table(s, dir, "documents"),
          col("source"), col("doc_id"),
          TextAnalysis.qualityScore(col("text")), k = 2.0)
        .withColumnRenamed("g", "source").withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),
    // sequence-length bucketing audit: per-bucket doc count / used tokens /
    // padded capacity / waste fraction; the top boundary (96) sits below the
    // corpus max so the truncation path is exercised
    "q_curate_length_buckets" -> ((s, dir) =>
      Curation.lengthBuckets(
          graft.sources.Testdata.table(s, dir, "documents"),
          col("doc_id"), TextAnalysis.wsTokenCount(col("text")),
          boundaries = Seq(16, 32, 64, 96))
        .orderBy("bucket")),
    // exact positional phrase search: postings filtered to the phrase terms
    // in the scan stage (one corpus pass), then narrow (id, pos) adjacency
    // equi-joins — never a LIKE scan
    "q_text_phrase" -> ((s, dir) =>
      TextAnalysis.phraseSearch(
          graft.sources.Testdata.table(s, dir, "documents"),
          col("doc_id"), col("text"), Seq("table", "hash"))
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),
    // windowed event dedup: first event per (user, type, hour bucket) via
    // the GroupTopK heap — idempotent at-least-once ingestion, no window
    // sort
    "q_rel_window_dedup" -> ((s, dir) =>
      Relational.firstEventPerWindow(graft.sources.Testdata.events(s, dir),
          Seq(col("user_id"), col("event_type")), col("ts"), col("event_id"),
          bucketMinutes = 60)
        .select(col("k0").as("user_id"), col("k1").as("event_type"),
          col("bucket"), col("tb").as("event_id"))
        .orderBy("user_id", "event_type", "bucket")),
    // filtered ANN: metadata predicate composed with the multiprobe bucket
    // probe — BOTH reach the scan (PushedFilters carries label + bucket IN)
    "q_ann_topk_filtered" -> ((s, dir) => {
      val planes = AnnSearch.hyperplanes(dim = 64)
      val indexed = AnnSearch.index(Parquet.read(s, s"$dir/embeddings.parquet"),
        col("embedding"), planes)
      AnnSearch.search(indexed.filter(col("label") === 3),
          col("vec_id").cast("string"), col("embedding"),
          queryVec(s, dir), planes, k = 10, probeRadius = 2)
        .withColumn("score", round(col("score"), 6))
        .orderBy(desc("score"), asc("id"))
    }),
    // classifier eval as a query: langId predictions vs the ground-truth
    // lang column — exact confusion counts + per-truth-row shares (the
    // documents table carries zh, which the stopword profiles cannot
    // predict, so the off-diagonal mass is real)
    "q_eval_langid_confusion" -> ((s, dir) =>
      RankEval.confusion(
          graft.sources.Testdata.table(s, dir, "documents")
            .select(col("lang"), TextAnalysis.langId(col("text")).as("pred")),
          col("lang"), col("pred"))
        .orderBy("truth", "pred")),
    // join fan-out audit: orders-per-customer histogram including
    // zero-order customers — the distribution behind join-explosion risk
    "q_profile_fanout" -> ((s, dir) =>
      Profile.fanoutHistogram(
          graft.sources.Testdata.orders(s, dir), col("o_custkey"),
          Parquet.read(s, s"$dir/customer.parquet"), col("c_custkey"))
        .orderBy("n_children")),
    // 2-component PCA map: deflated power iteration (2·iters+1 map-side
    // aggregation scans, dim-length driver vectors, per-iteration 6-dp
    // rounding) — per-vector (p1, p2) scatter coordinates + abtt-2 residual
    "q_embed_pca2" -> ((s, dir) =>
      EmbedQc.pcaTop2(Parquet.read(s, s"$dir/embeddings.parquet"),
          col("vec_id"), col("embedding"), iters = 8)
        .withColumnRenamed("id", "vec_id")
        .orderBy("vec_id")),
    // perceptual-hash media near-dup: 60-bit average hash over
    // stride-sampled payload bytes, simhash pigeonhole banding, exact
    // Hamming verify in the join projection
    "q_media_phash" -> ((s, dir) =>
      Multimodal.phashNearDupPairs(
          Multimodal.mediaTable(graft.sources.Testdata.table(s, dir, "documents")),
          maxHamming = 3)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
        .orderBy("id_a", "id_b")),
    // numeric column profile: count/nulls/min/max/mean/stddev for three
    // measures in ONE aggregation job — decimal-cast sums keep the moments
    // partition-order-invariant (the pricing-summary pattern)
    "q_profile_numeric" -> ((s, dir) =>
      Profile.numericProfile(graft.sources.Testdata.lineitem(s, dir),
          Seq("l_quantity", "l_extendedprice", "l_discount"))
        .orderBy("col_name")),
    // PSI drift gate: per-source quality-score distributions vs the src0
    // reference over 32 fixed bins — one corpus aggregation into the
    // G·B bin sketch, spine + reference rates broadcast, eps-floored
    // (p−q)·ln(p/q) folded over a sorted term list
    "q_profile_psi" -> ((s, dir) => {
      val docs = graft.sources.Testdata.table(s, dir, "documents")
      Sketches.psiByGroup(
        docs.select(col("source"),
          round(TextAnalysis.qualityScore(col("text")), 6).as("q")),
        col("source"), col("q"), refGroup = "src0", bins = 32)
    }),
    // first-order Markov transitions over per-user event sequences: one
    // user-key exchange + lead window, then event-type^2-bounded counts
    "q_rel_transitions" -> ((s, dir) =>
      Relational.transitions(graft.sources.Testdata.events(s, dir),
          col("user_id"), col("ts"), col("event_type"), col("event_id"))
        .orderBy("from_e", "to_e")),
    // soft dedup: per-doc training weight 1/|near-dup cluster| — the
    // down-weighting alternative to dropping; composes the same LSH->CC
    // clusters as q_curate_group_split
    "q_curate_softdedup" -> ((s, dir) => {
      val docs = graft.sources.Testdata.table(s, dir, "documents")
      val pairs = Dedup.minhashLshPairs(docs, col("doc_id"), col("text"),
        n = 2, tau = 0.5).select("id_a", "id_b")
      val clusters = Dedup.connectedComponentsAuto(
        docs.select(col("doc_id").as("id")), pairs).select("id", "cluster_id")
      Curation.softDedupWeights(docs.select(col("doc_id")), col("doc_id"),
          clusters)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),
    // the full ingest decision for an arriving drop, ONE composed plan:
    // exact-dup (md5 vs reference) + near-dup (signature-index screen at
    // est_jaccard >= 0.5) + quality gate + content novelty + shard
    // assignment for the accepted docs — what an ingest pipeline runs
    // before admitting a batch to the corpus
    "q_pipeline_ingest" -> ((s, dir) => {
      val docs = graft.sources.Testdata.table(s, dir, "documents")
      val newB = docs.filter(col("doc_id") < 50)
      val ref = docs.filter(col("doc_id") >= 50)
      val refMd5 = ref.select(md5(col("text")).as("h")).distinct()
        .withColumn("dup_exact", lit(true))
      val nd = Dedup.incrementalNearDups(
          Dedup.signatureTable(ref, col("doc_id"), col("text")),
          Dedup.signatureTable(newB, col("doc_id"), col("text")))
        .filter(col("est_jaccard") >= 0.5)
        .select(col("new_id").as("doc_id")).distinct()
        .withColumn("near_dup", lit(true))
      val nov = Curation.dropNovelty(newB, col("doc_id"), col("text"),
          ref, col("text"), n = 3)
        .select(col("id").as("doc_id"), col("novelty"))
      newB.select(col("doc_id"), md5(col("text")).as("h"),
          round(TextAnalysis.qualityScore(col("text")), 6).as("quality"))
        .join(refMd5, Seq("h"), "left")
        .join(nd, Seq("doc_id"), "left")
        .join(nov, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("dup_exact"), lit(false)).as("dup_exact"),
          coalesce(col("near_dup"), lit(false)).as("near_dup"),
          col("quality"), col("novelty"))
        .withColumn("accept",
          !col("dup_exact") && !col("near_dup") && col("quality") >= 0.5)
        .withColumn("shard", when(col("accept"), Curation.shardOf(col("doc_id"), 8)))
        .orderBy("doc_id")
    }),
    // LSH-blocked mutual k-NN graph: the sub-quadratic companion of
    // q_embed_knn_graph — candidates from radius-2 multiprobe bucket
    // collisions (each pair collides in exactly one probe bucket), same
    // GroupTopK + mutual epilogue
    "q_embed_knn_graph_lsh" -> ((s, dir) =>
      Search.knnGraphMutualLsh(Parquet.read(s, s"$dir/embeddings.parquet"),
          col("vec_id"), col("embedding"),
          AnnSearch.hyperplanes(dim = 64), k = 6, probeRadius = 2)
        .withColumnRenamed("id", "vec_id")
        .orderBy("vec_id")),
    // Efraimidis-Spirakis weighted sample without replacement: ln(u)/w keys
    // from id-hash uniforms, global top-25 via TakeOrderedAndProject —
    // quality-weighted subsampling with hashSplit determinism
    "q_curate_weighted_sample" -> ((s, dir) =>
      Curation.weightedSample(
          graft.sources.Testdata.table(s, dir, "documents"),
          col("doc_id"),
          round(TextAnalysis.qualityScore(col("text")), 6), k = 25)
        .withColumnRenamed("id", "doc_id")
        .orderBy(desc("key"), asc("doc_id"))),
    // cross-snapshot content novelty: new-drop grams left-joined against
    // the broadcast reference fingerprint set — one tokenize per side, the
    // acquisition-value measure for an arriving crawl
    "q_curate_drop_novelty" -> ((s, dir) => {
      val docs = graft.sources.Testdata.table(s, dir, "documents")
      Curation.dropNovelty(
          docs.filter(col("doc_id") >= 400), col("doc_id"), col("text"),
          docs.filter(col("doc_id") < 400), col("text"), n = 3)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),
    // exactly-5-per-source deterministic sample: id-hash rank through the
    // GroupTopK bounded heap — no RNG, no window sort, same rows every run
    "q_curate_exact_stratified" -> ((s, dir) =>
      Curation.stratifiedExact(
          graft.sources.Testdata.table(s, dir, "documents"),
          col("doc_id"), col("source"), nPerGroup = 5)
        .withColumnRenamed("grp", "source").withColumnRenamed("id", "doc_id")
        .orderBy("source", "doc_id")),
    // Luhn-validated card redaction: deterministic card/decoy planting on
    // the corpus, then checksum-gated replace — the valid PAN is redacted,
    // the one-digit-off decoy survives
    "q_curate_scrub_cards" -> ((s, dir) =>
      graft.sources.Testdata.table(s, dir, "documents")
        .withColumn("text2", concat(col("text"),
          when(pmod(col("doc_id"), lit(7)) === 0,
            lit(" card 4532015112830366 ok")).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(11)) === 0,
            lit(" bogus 4532015112830367 no")).otherwise(lit(""))))
        .select(col("doc_id"),
          Curation.cardCount(col("text2")).cast("long").as("n_cards"),
          md5(Curation.scrubCards(col("text2"))).as("scrubbed_md5"))
        .orderBy("doc_id")),
    // BPE vocabulary induction: first 4 merges learned from word-frequency
    // states — one corpus tokenize, then vocabulary-sized rounds (the
    // production BPE-trainer shape)
    "q_text_bpe" -> ((s, dir) =>
      TextAnalysis.bpeMerges(
          graft.sources.Testdata.table(s, dir, "documents"),
          col("text"), nMerges = 4)
        .orderBy("step")),
    // the PRODUCTION-depth trainer (one word-count pass + in-memory merge
    // loop with incremental pair counts — sentencepiece/HF shape; runs
    // 256+ rounds where the distributed loop pays a Spark job each). Same
    // merge semantics and tie-break as q_text_bpe, so it shares that
    // oracle at the oracle's replicable depth
    "q_text_bpe_local" -> ((s, dir) =>
      TextAnalysis.bpeMergesLocal(
          graft.sources.Testdata.table(s, dir, "documents"),
          col("text"), nMerges = 4)
        .orderBy("step")),
    // BPE APPLY: per-doc token budgets under the learned 4-merge
    // tokenizer — the merge table is the bounded model artifact (driver
    // collect, like centroids); rewrites run on the DISTINCT-word
    // vocabulary and the word→count map broadcasts back, so the corpus
    // is read once and never shuffled for the encode
    "q_text_bpe_encode" -> ((s, dir) => {
      val docs = graft.sources.Testdata.table(s, dir, "documents")
      val merges = TextAnalysis.bpeMerges(docs, col("text"), nMerges = 4)
        .orderBy("step").collect().map(_.getString(1)).toSeq
      TextAnalysis.bpeEncode(docs, col("doc_id"), col("text"), merges)
        .orderBy("doc_id")
    }),
    // tokenizer fertility by source (tokens per word under the learned
    // merge table): the fairness audit that shows which sources/languages
    // pay more tokens per word — the encode's one tokenize pass plus a
    // column-pruned (doc_id, source) join and a source-bounded aggregate
    "q_text_fertility_by_source" -> ((s, dir) => {
      val docs = graft.sources.Testdata.table(s, dir, "documents")
      val merges = TextAnalysis.bpeMerges(docs, col("text"), nMerges = 4)
        .orderBy("step").collect().map(_.getString(1)).toSeq
      TextAnalysis.bpeEncode(docs, col("doc_id"), col("text"), merges)
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_words").as("n_words"), sum("n_tokens").as("n_tokens"),
          round(sum("n_tokens") / sum("n_words"), 6).as("fertility"))
        .orderBy("source")
    }),
    // exact mutual k-NN graph: all-pairs cosine through the 1-Bucket-Theta
    // grid (no corpus broadcast), GroupTopK partial heaps cut the exchange
    // to <= n·k edges, mutual = self-semi-join on the edge list
    "q_embed_knn_graph" -> ((s, dir) =>
      Search.knnGraphMutual(Parquet.read(s, s"$dir/embeddings.parquet"),
          col("vec_id"), col("embedding"), k = 6)
        .withColumnRenamed("id", "vec_id")
        .orderBy("vec_id")),
    // noisy-label screen: per-vector agreement with its 6 exact nearest
    // neighbors' labels — integer counts over the one-off grid edge
    // build; agree_frac < 0.5 flags a likely mislabel for re-annotation
    "q_embed_label_noise" -> ((s, dir) =>
      Search.labelAgreement(Parquet.read(s, s"$dir/embeddings.parquet"),
          col("vec_id"), col("embedding"), col("label"), k = 6)
        .withColumnRenamed("id", "vec_id")),
    // greedy k-center coreset (farthest-point traversal): 8 diverse
    // centers covering the corpus — one state scan per round, the
    // argmax a TakeOrderedAndProject, dist = the shrinking cover radius
    "q_embed_kcenter" -> ((s, dir) =>
      Search.kCenterCoreset(Parquet.read(s, s"$dir/embeddings.parquet"),
          col("vec_id"), col("embedding"), k = 8)
        .withColumnRenamed("id", "vec_id")
        .orderBy("round")),
    // cover audit: every vector assigned to its nearest selected center
    // (broadcast k-row table, GroupTopK argmin), per-center count + max
    // assigned distance = the realized cover radius
    "q_embed_kcenter_assign" -> ((s, dir) =>
      Search.kCenterAssign(Parquet.read(s, s"$dir/embeddings.parquet"),
        col("vec_id"), col("embedding"), k = 8)),
    // label propagation (clamped seeds, 2 synchronous rounds) over the
    // symmetrized exact k-NN graph: 25% seed labels spread to the bulk by
    // integer plurality votes — the weak-supervision labeling shape; the
    // corpus-sized work is the one-off grid edge build, each round touches
    // only the <= 2nk edge list
    "q_embed_label_prop" -> ((s, dir) =>
      Search.labelPropagate(Parquet.read(s, s"$dir/embeddings.parquet"),
        col("vec_id"), col("embedding"), col("label"),
        col("vec_id") % 4 === 0, k = 6, rounds = 2)
        .withColumnRenamed("id", "vec_id")),
    // MMR diversified rerank over the exact top-12 shortlist: greedy
    // λ·rel − (1−λ)·max-sim selection, candidate generation distributed,
    // the greedy loop on the driver over the collected shortlist
    "q_knn_mmr" -> ((s, dir) => {
      val embs = Parquet.read(s, s"$dir/embeddings.parquet")
      val q = broadcast(embs.filter(col("vec_id") === 0)
        .select(col("embedding").as("qv"),
          sqrt(VF.normSq(col("embedding"))).as("qnrm")))
      val cands = embs.crossJoin(q)
        .withColumn("rel", VF.dot(col("embedding"), col("qv")) /
          (sqrt(VF.normSq(col("embedding"))) * col("qnrm")))
        .withColumn("sid", col("vec_id").cast("string"))
        .orderBy(desc("rel"), asc("sid"))
        .limit(12)
      Search.mmrRerank(cands, col("sid"), col("rel"), col("embedding"),
          k = 5, lambda = 0.75)
        .orderBy("rank")
    }),
    // leakage-aware split: near-dup clusters (LSH pairs -> connected
    // components) decide the split via the cluster id's hash arithmetic, so
    // no near-dup pair ever crosses train/val/test — the fix for what
    // q_curate_split_leakage measures
    "q_curate_group_split" -> ((s, dir) => {
      val docs = graft.sources.Testdata.table(s, dir, "documents")
      val pairs = Dedup.minhashLshPairs(docs, col("doc_id"), col("text"),
        n = 2, tau = 0.5).select("id_a", "id_b")
      val clusters = Dedup.connectedComponentsAuto(
        docs.select(col("doc_id").as("id")), pairs).select("id", "cluster_id")
      Curation.groupAwareSplit(docs.select(col("doc_id")), col("doc_id"),
          clusters)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),
  )

  def oracleSql: Map[String, String] = Map(
    "q_knn" -> knnOracleBase.format("", 10),
    // RRF oracle: dense/sparse top-20 CTEs with the same cut tie-breaks as
    // the Spark plans (dense: VARCHAR id; sparse: numeric doc_id), ranks
    // re-keyed on VARCHAR id, reciprocal sum in fixed list order
    "q_search_rrf" -> {
      val terms = Seq("table", "join", "query", "scan", "fast")
      val tfs = terms.indices.map(i =>
        s"len(list_filter(toks, x -> x = '${terms(i)}')) AS tf_$i").mkString(", ")
      val dfs = terms.indices.map(i =>
        s"sum(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS df_$i").mkString(", ")
      val score = terms.indices.map(i =>
        s"ln((n - df_$i + 0.5)/(df_$i + 0.5) + 1.0) * (tf_$i * 2.2) / (tf_$i + 1.2*(1.0 - 0.75 + 0.75*dl/avgdl))")
        .mkString("\n         |      + ")
      s"""WITH dense AS (
         |  SELECT CAST(e.vec_id AS VARCHAR) AS id,
         |         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.qe AS DOUBLE[])) AS score
         |  FROM embeddings e, (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) q
         |  ORDER BY score DESC, id ASC LIMIT 20
         |), dr AS (
         |  SELECT id, row_number() OVER (ORDER BY score DESC, id ASC) AS rank_dense FROM dense
         |), d0 AS (
         |  SELECT doc_id, string_split_regex(text, '\\s+') AS toks FROM documents
         |), tf AS (
         |  SELECT doc_id, len(toks) AS dl, $tfs FROM d0
         |), gs AS (
         |  SELECT CAST(count(*) AS DOUBLE) AS n,
         |    CAST(sum(dl) AS DOUBLE)/count(*) AS avgdl, $dfs
         |  FROM tf
         |), sparse AS (
         |  SELECT doc_id,
         |    $score AS score
         |  FROM tf, gs
         |  ORDER BY score DESC, doc_id ASC LIMIT 20
         |), sr AS (
         |  SELECT CAST(doc_id AS VARCHAR) AS id,
         |    row_number() OVER (ORDER BY score DESC, CAST(doc_id AS VARCHAR) ASC) AS rank_sparse
         |  FROM sparse
         |), j AS (
         |  SELECT COALESCE(dr.id, sr.id) AS id, rank_dense, rank_sparse,
         |    (CASE WHEN rank_dense IS NOT NULL THEN 1.0/(60.0 + rank_dense) ELSE 0.0 END)
         |      + (CASE WHEN rank_sparse IS NOT NULL THEN 1.0/(60.0 + rank_sparse) ELSE 0.0 END) AS rrf
         |  FROM dr FULL OUTER JOIN sr ON sr.id = dr.id
         |)
         |SELECT id, CAST(rank_dense AS INT) AS rank_dense,
         |  CAST(rank_sparse AS INT) AS rank_sparse, round(rrf, 6) AS rrf_score
         |FROM (SELECT * FROM j ORDER BY rrf DESC, id ASC LIMIT 10)
         |ORDER BY rrf_score DESC, id ASC""".stripMargin
    },
    "q_knn_filtered" -> knnOracleBase.format("WHERE e.label = 3", 10),
    "q_filter_eq" -> filterOracle("event_type = 'click'"),
    "q_filter_gt" -> filterOracle("value > 250.0"),
    "q_filter_lte" -> filterOracle("value <= 50.0"),
    "q_filter_ne" -> filterOracle(
      "event_type = 'purchase' AND CAST(floor(value/100) AS INT) != 2"),
    "q_filter_in" -> filterOracle("list_contains([event_type, 'tagged'], 'view')"),
    "q_filter_date_range" -> filterOracle(
      "strftime(ts, '%Y-%m-%dT%H:%M:%S') >= '2024-01-10T00:00:00' AND strftime(ts, '%Y-%m-%dT%H:%M:%S') < '2024-01-20T00:00:00'"),
    "q_filter_and_or_exclude" -> filterOracle(
      "value > 100.0 AND event_type IN ('click','view') AND NOT (CAST(json_extract(props,'$.k') AS INT) = 7)"),
    "q_filter_or_ops" -> filterOracle(
      "value < 10.0 OR CAST(json_extract(props,'$.k') AS INT) >= 95"),
    // Raw-string comparison on the same constructed fixture (the oracle
    // never JSON-encodes — it compares the raw strings directly, which IS
    // the reference semantics the decode kernel restores)
    "q_filter_escaped" ->
      """SELECT doc_id, note FROM (
        |  SELECT doc_id,
        |    'a' || (CASE WHEN doc_id % 3 = 0 THEN chr(10)
        |                 WHEN doc_id % 3 = 1 THEN '"'
        |                 ELSE 'Q' END) || CAST(doc_id % 7 AS VARCHAR) AS note
        |  FROM documents)
        |WHERE note > 'a' || chr(9) AND note < 'aM'
        |ORDER BY doc_id""".stripMargin,
    "q_text_stats" ->
      """SELECT doc_id,
        |  len(string_split_regex(text, '\s+')) AS ws_tokens,
        |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS re_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    // Keywords oracle: the row_number window twin of the GroupTopK heap,
    // same round-before-select score and (score DESC, tok ASC) total order
    "q_text_keywords" ->
      """WITH tok AS (
        |  SELECT doc_id AS id, unnest(string_split_regex(text, '\s+')) AS tok FROM documents
        |), tf AS (
        |  SELECT id, tok, count(*) AS tf FROM tok GROUP BY id, tok
        |), dfq AS (
        |  SELECT tok, count(*) AS df FROM tf GROUP BY tok
        |), n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
        |s AS (
        |  SELECT id, tok, tf,
        |    round(CAST(tf AS DOUBLE) * ln(n_docs / CAST(df AS DOUBLE)), 6) AS score
        |  FROM tf JOIN dfq USING (tok), n
        |)
        |SELECT id, tok, tf, score FROM (
        |  SELECT *, row_number() OVER (PARTITION BY id ORDER BY score DESC, tok ASC) AS rn
        |  FROM s)
        |WHERE rn <= 3 ORDER BY id, score DESC, tok""".stripMargin,
    // Bigram-NLL oracle: same positional bigrams, same MLE terms and
    // parenthesization, same sorted-fold doc sum; 6-dp rounding absorbs the
    // JVM-vs-libm last-ulp ln divergence (two ln calls per term, unlike the
    // unigram model's one-variable ln difference)
    "q_text_bigram_nll" ->
      """WITH t AS (
        |  SELECT doc_id AS id, string_split_regex(text, '\s+') AS w FROM documents
        |), bp AS (
        |  SELECT id, b, string_split(b, ' ')[1] AS prev FROM (
        |    SELECT id, unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS b FROM t)
        |), c2 AS (SELECT b, count(*) AS c2 FROM bp GROUP BY b),
        |cs AS (SELECT string_split(b, ' ')[1] AS prev, CAST(sum(c2) AS BIGINT) AS cs
        |       FROM c2 GROUP BY 1),
        |lp AS (
        |  SELECT bp.id, ln(CAST(c2.c2 AS DOUBLE)) - ln(CAST(cs.cs AS DOUBLE)) AS lp
        |  FROM bp JOIN c2 USING (b) JOIN cs USING (prev)
        |), d AS (
        |  SELECT id,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(lp ORDER BY lp)), (a, x) -> a + x) AS s,
        |    count(*) AS n
        |  FROM lp GROUP BY id
        |)
        |SELECT id, round(s / -n, 6) AS avg_nll2, n AS n_bigrams FROM d ORDER BY id""".stripMargin,
    // Vocabulary oracle: same counts, same (c DESC, tok) total order, exact
    // integer running sum divided by the double total
    "q_text_vocab" ->
      """WITH uni AS (
        |  SELECT tok, count(*) AS c FROM (
        |    SELECT unnest(string_split_regex(text, '\s+')) AS tok FROM documents
        |  ) GROUP BY tok
        |), tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n_total FROM uni),
        |top AS (SELECT tok, c FROM uni ORDER BY c DESC, tok ASC LIMIT 30)
        |SELECT tok, c,
        |  round(sum(c) OVER (ORDER BY c DESC, tok ASC ROWS UNBOUNDED PRECEDING) / n_total, 6) AS coverage
        |FROM top, tot ORDER BY c DESC, tok ASC""".stripMargin,
    // Novelty oracle: same tokenize/3-gram/polyhash chain as the decontam
    // oracles, distinct (doc, fp), fp doc-frequency, df=1 share per doc
    "q_text_novelty" ->
      s"""WITH tok AS (SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM documents),
         |gr AS (SELECT doc_id, list_transform(range(1, len(w)-1),
         |  i -> w[i]||' '||w[i+1]||' '||w[i+2]) AS gs FROM tok),
         |u AS (SELECT DISTINCT doc_id,
         |  unnest(list_transform(gs, g -> $polyhashSql)) AS fp FROM gr),
         |dfreq AS (SELECT fp, count(*) AS df FROM u GROUP BY fp),
         |per AS (SELECT u.doc_id, count(*) AS n_grams,
         |    sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS n_unique
         |  FROM u JOIN dfreq USING (fp) GROUP BY u.doc_id)
         |SELECT d.doc_id AS id,
         |  CAST(coalesce(per.n_grams, 0) AS BIGINT) AS n_grams,
         |  CAST(coalesce(per.n_unique, 0) AS BIGINT) AS n_unique,
         |  CASE WHEN coalesce(per.n_grams, 0) = 0 THEN 0.0
         |       ELSE round(CAST(per.n_unique AS DOUBLE) / per.n_grams, 6) END AS novelty
         |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
         |ORDER BY id""".stripMargin,
    // Collocations oracle: same tokenization, positional space-joined
    // bigrams (the WordNgramsExpr spelling), identical PMI parenthesization
    // and the same round-before-order total order
    "q_text_collocations" ->
      """WITH t AS (
        |  SELECT string_split_regex(text, '\s+') AS w FROM documents
        |), uni AS (
        |  SELECT tok, count(*) AS c FROM (SELECT unnest(w) AS tok FROM t) GROUP BY tok
        |), big AS (
        |  SELECT bigram, count(*) AS cxy FROM (
        |    SELECT unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bigram FROM t
        |  ) GROUP BY bigram
        |), tot AS (
        |  SELECT (SELECT CAST(sum(c) AS DOUBLE) FROM uni) AS nt,
        |         (SELECT CAST(sum(cxy) AS DOUBLE) FROM big) AS nb
        |)
        |SELECT bigram, cxy,
        |  round(ln(((CAST(cxy AS DOUBLE) * nt) * nt) / ((nb * CAST(cx AS DOUBLE)) * CAST(cy AS DOUBLE))), 6) AS pmi
        |FROM (
        |  SELECT b.bigram, b.cxy, ux.c AS cx, uy.c AS cy
        |  FROM big b
        |  JOIN uni ux ON ux.tok = string_split(b.bigram, ' ')[1]
        |  JOIN uni uy ON uy.tok = string_split(b.bigram, ' ')[2]
        |  WHERE b.cxy >= 5
        |), tot
        |ORDER BY pmi DESC, bigram ASC LIMIT 20""".stripMargin,
    // Zipf oracle: identical ranking (count desc, token asc), identical
    // integer scaling, DECIMAL sums (order-invariant), identical
    // closed-form slope/R2 in double
    "q_text_zipf" ->
      """WITH tok AS (
        |  SELECT unnest(string_split_regex(text, '\s+')) AS t FROM documents
        |), v AS (
        |  SELECT t, count(*) AS c FROM tok GROUP BY t
        |), rk AS (
        |  SELECT c, row_number() OVER (ORDER BY c DESC, t ASC) AS r FROM v
        |), s AS (
        |  SELECT CAST(round(ln(CAST(r AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS x6,
        |         CAST(round(ln(CAST(c AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS y6
        |  FROM rk
        |), ag AS (
        |  SELECT count(*) AS n,
        |    sum(CAST(x6 AS DECIMAL(18,0))) AS sx,
        |    sum(CAST(y6 AS DECIMAL(18,0))) AS sy,
        |    sum(CAST(x6 AS DECIMAL(18,0)) * CAST(y6 AS DECIMAL(18,0))) AS sxy,
        |    sum(CAST(x6 AS DECIMAL(18,0)) * CAST(x6 AS DECIMAL(18,0))) AS sxx,
        |    sum(CAST(y6 AS DECIMAL(18,0)) * CAST(y6 AS DECIMAL(18,0))) AS syy
        |  FROM s
        |)
        |SELECT CAST(n AS BIGINT) AS n_types,
        |  CASE WHEN n > 1 AND (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) <> 0.0 THEN round(
        |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) END AS slope,
        |  CASE WHEN n > 1 AND (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) <> 0.0
        |    AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) <> 0.0 THEN round(
        |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |      * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) END AS r2
        |FROM ag""".stripMargin,
    // TextRank oracle: the 5 damped-PageRank iterations unrolled as CTEs.
    // Contribution sums fold over value-sorted lists (partition/engine
    // invariant); the restart term is written (CAST(1.0 AS DOUBLE) -
    // CAST(0.85 AS DOUBLE)) because DuckDB decimal-literal subtraction is
    // exact-decimal, which differs in the last ulp from the Scala side's
    // IEEE `1.0 - 0.85`.
    "q_text_textrank" -> {
      val iter = (i: Int) =>
        s"""i$i AS (
           |  SELECT ew.dst AS tok,
           |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |      list(ew.w / ew.ow * s.sc ORDER BY ew.w / ew.ow * s.sc)),
           |      (a, x) -> a + x) AS sm
           |  FROM ew JOIN s${i - 1} s ON s.tok = ew.src GROUP BY ew.dst
           |), s$i AS (
           |  SELECT n.tok,
           |    (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
           |      + CAST(0.85 AS DOUBLE) * coalesce(i$i.sm, CAST(0.0 AS DOUBLE)) AS sc
           |  FROM nodes n LEFT JOIN i$i ON i$i.tok = n.tok
           |)""".stripMargin
      s"""WITH t AS (
         |  SELECT string_split_regex(text, '\\s+') AS w FROM documents
         |), pr AS (
         |  SELECT string_split(b, ' ')[1] AS x, string_split(b, ' ')[2] AS y FROM (
         |    SELECT unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS b FROM t)
         |), e AS (
         |  SELECT src, dst, CAST(count(*) AS DOUBLE) AS w FROM (
         |    SELECT x AS src, y AS dst FROM pr UNION ALL SELECT y AS src, x AS dst FROM pr
         |  ) GROUP BY src, dst
         |), ow AS (SELECT src, sum(w) AS ow FROM e GROUP BY src),
         |ew AS (SELECT e.src, e.dst, e.w, ow.ow FROM e JOIN ow USING (src)),
         |nodes AS (SELECT DISTINCT src AS tok FROM e),
         |s0 AS (SELECT tok, CAST(1.0 AS DOUBLE) AS sc FROM nodes),
         |${(1 to 5).map(iter).mkString(",\n")}
         |SELECT tok, round(sc, 6) AS score FROM s5
         |ORDER BY score DESC, tok ASC LIMIT 20""".stripMargin
    },
    // Hashed-classifier oracle: per-token poly-fingerprint → bucket →
    // deterministic weight, value-sorted fold, single exp under the 6-dp
    // rounding margin
    "q_text_qclassifier" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents
        |), w AS (
        |  SELECT doc_id, len(toks) AS n,
        |    list_sort(list_transform(toks, t ->
        |      CAST(((list_reduce(list_prepend(CAST(0 AS BIGINT),
        |          list_transform(range(1, length(t)+1), i -> CAST(ascii(substring(t, i, 1)) AS BIGINT))),
        |          (acc, x) -> (acc*31 + x) % 1000000007) % 4096)
        |        * 2654435761 + 99991) % 2000003 AS DOUBLE) / CAST(2000003.0 AS DOUBLE)
        |        - CAST(0.5 AS DOUBLE))) AS ws
        |  FROM t
        |), z AS (
        |  SELECT doc_id, n,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), ws), (a, x) -> a + x)
        |      / CAST(n AS DOUBLE) AS zc
        |  FROM w
        |)
        |SELECT doc_id AS id, CAST(n AS INT) AS n_tokens, round(zc, 6) AS z,
        |  round(CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + exp(-zc)), 6) AS score
        |FROM z ORDER BY id""".stripMargin,
    // HLL oracle: identical salted universal hashes, trailing-zero rho via
    // integer divisibility, register sum in scaled-integer arithmetic (the
    // only float-library call is the ln in the linear-counting branch)
    "q_events_dau_hll" ->
      s"""WITH k AS (
         |  SELECT event_type,
         |    CAST(user_id AS VARCHAR) || ':' || CAST(CAST(ts AS DATE) AS VARCHAR) AS kk
         |  FROM events
         |), h0 AS (
         |  SELECT event_type, kk, ${polySqlOf("kk")} AS h FROM k
         |), h1 AS (
         |  SELECT event_type, kk, (h * 2654435761 + 97) % 1000000007 AS t1 FROM h0
         |), h2 AS (
         |  SELECT event_type, kk, (xor(t1, t1 >> 15) * 1866763009 + 127) % 1000000007 AS t2 FROM h1
         |), hm AS (
         |  SELECT event_type, kk,
         |    (xor(t2, t2 >> 13) * 1540483477 + 233) % 1000000007 AS hf FROM h2
         |), r0 AS (
         |  SELECT event_type, hf % 1024 AS bucket,
         |    1 + len(list_filter(list_transform(range(1, 21), j -> (CAST(1 AS BIGINT) << j)),
         |      pk -> (hf // 1024) % pk = 0)) AS rho
         |  FROM hm
         |), regs AS (
         |  SELECT event_type AS grp, bucket, max(rho) AS rho FROM r0 GROUP BY 1, 2
         |  UNION ALL
         |  SELECT 'ALL' AS grp, bucket, max(rho) AS rho FROM r0 GROUP BY 1, 2
         |), agg AS (
         |  SELECT grp, count(*) AS present,
         |    CAST(sum(CAST(1 AS BIGINT) << (21 - rho)) AS BIGINT) AS si
         |  FROM regs GROUP BY grp
         |), e AS (
         |  SELECT grp, 1024 - present AS v,
         |    CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE) / CAST(1024.0 AS DOUBLE))
         |      * CAST(1048576.0 AS DOUBLE)
         |      / (CAST((1024 - present) * 2097152 + si AS DOUBLE) / CAST(2097152.0 AS DOUBLE)) AS e_raw
         |  FROM agg
         |), fin AS (
         |  SELECT grp, CASE WHEN e_raw <= CAST(2560.0 AS DOUBLE) AND v > 0
         |    THEN CAST(1024.0 AS DOUBLE) * ln(CAST(1024.0 AS DOUBLE) / CAST(v AS DOUBLE))
         |    ELSE e_raw END AS est
         |  FROM e
         |), ex AS (
         |  SELECT event_type AS grp, count(DISTINCT kk) AS n_exact FROM k GROUP BY 1
         |  UNION ALL SELECT 'ALL', count(DISTINCT kk) FROM k
         |)
         |SELECT ex.grp, ex.n_exact, round(fin.est, 6) AS hll_est,
         |  round((fin.est - ex.n_exact) / ex.n_exact, 6) AS rel_err
         |FROM ex JOIN fin ON fin.grp = ex.grp
         |ORDER BY ex.grp""".stripMargin,
    // Wide-HLL oracle: two independent poly fingerprints, each through its
    // own splitmix-mod-p chain, packed h1*2^30+h2 into a ~2^60 space;
    // rho stream widens to 50 bits (p=10), scale constant to 2^51
    "q_events_dau_hll_wide" ->
      s"""WITH k AS (
         |  SELECT event_type,
         |    CAST(user_id AS VARCHAR) || ':' || CAST(CAST(ts AS DATE) AS VARCHAR) AS kk
         |  FROM events
         |), h0 AS (
         |  SELECT event_type, kk, ${polySqlOf("kk")} AS h, ${polySql2Of("kk")} AS g FROM k
         |), ha AS (
         |  SELECT event_type, kk, (h * 2654435761 + 97) % 1000000007 AS t1,
         |         (g * 3266489917 + 113) % 1000000009 AS s1 FROM h0
         |), hb AS (
         |  SELECT event_type, kk,
         |    (xor(t1, t1 >> 15) * 1866763009 + 127) % 1000000007 AS t2,
         |    (xor(s1, s1 >> 16) * 2246822519 + 151) % 1000000009 AS s2 FROM ha
         |), hm AS (
         |  SELECT event_type, kk,
         |    ((xor(t2, t2 >> 13) * 1540483477 + 233) % 1000000007) * 1073741824
         |      + ((xor(s2, s2 >> 12) * 1274126177 + 241) % 1000000009) AS hf FROM hb
         |), r0 AS (
         |  SELECT event_type, hf % 1024 AS bucket,
         |    1 + len(list_filter(list_transform(range(1, 51), j -> (CAST(1 AS BIGINT) << j)),
         |      pk -> (hf // 1024) % pk = 0)) AS rho
         |  FROM hm
         |), regs AS (
         |  SELECT event_type AS grp, bucket, max(rho) AS rho FROM r0 GROUP BY 1, 2
         |  UNION ALL
         |  SELECT 'ALL' AS grp, bucket, max(rho) AS rho FROM r0 GROUP BY 1, 2
         |), agg AS (
         |  SELECT grp, count(*) AS present,
         |    CAST(sum(CAST(1 AS BIGINT) << (51 - rho)) AS BIGINT) AS si
         |  FROM regs GROUP BY grp
         |), e AS (
         |  SELECT grp, 1024 - present AS v,
         |    CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE) / CAST(1024.0 AS DOUBLE))
         |      * CAST(1048576.0 AS DOUBLE)
         |      / (CAST((1024 - present) * 2251799813685248 + si AS DOUBLE) / CAST(2251799813685248.0 AS DOUBLE)) AS e_raw
         |  FROM agg
         |), fin AS (
         |  SELECT grp, CASE WHEN e_raw <= CAST(2560.0 AS DOUBLE) AND v > 0
         |    THEN CAST(1024.0 AS DOUBLE) * ln(CAST(1024.0 AS DOUBLE) / CAST(v AS DOUBLE))
         |    ELSE e_raw END AS est
         |  FROM e
         |), ex AS (
         |  SELECT event_type AS grp, count(DISTINCT kk) AS n_exact FROM k GROUP BY 1
         |  UNION ALL SELECT 'ALL', count(DISTINCT kk) FROM k
         |)
         |SELECT ex.grp, ex.n_exact, round(fin.est, 6) AS hll_est,
         |  round((fin.est - ex.n_exact) / ex.n_exact, 6) AS rel_err
         |FROM ex JOIN fin ON fin.grp = ex.grp
         |ORDER BY ex.grp""".stripMargin,
    // Estimate-only wide-HLL oracle: the identical register chain with
    // the exact-distinct twin dropped
    "q_events_dau_hll_est" ->
      s"""WITH k AS (
         |  SELECT event_type,
         |    CAST(user_id AS VARCHAR) || ':' || CAST(CAST(ts AS DATE) AS VARCHAR) AS kk
         |  FROM events
         |), h0 AS (
         |  SELECT event_type, kk, ${polySqlOf("kk")} AS h, ${polySql2Of("kk")} AS g FROM k
         |), ha AS (
         |  SELECT event_type, kk, (h * 2654435761 + 97) % 1000000007 AS t1,
         |         (g * 3266489917 + 113) % 1000000009 AS s1 FROM h0
         |), hb AS (
         |  SELECT event_type, kk,
         |    (xor(t1, t1 >> 15) * 1866763009 + 127) % 1000000007 AS t2,
         |    (xor(s1, s1 >> 16) * 2246822519 + 151) % 1000000009 AS s2 FROM ha
         |), hm AS (
         |  SELECT event_type, kk,
         |    ((xor(t2, t2 >> 13) * 1540483477 + 233) % 1000000007) * 1073741824
         |      + ((xor(s2, s2 >> 12) * 1274126177 + 241) % 1000000009) AS hf FROM hb
         |), r0 AS (
         |  SELECT event_type, hf % 1024 AS bucket,
         |    1 + len(list_filter(list_transform(range(1, 51), j -> (CAST(1 AS BIGINT) << j)),
         |      pk -> (hf // 1024) % pk = 0)) AS rho
         |  FROM hm
         |), regs AS (
         |  SELECT event_type AS grp, bucket, max(rho) AS rho FROM r0 GROUP BY 1, 2
         |  UNION ALL
         |  SELECT 'ALL' AS grp, bucket, max(rho) AS rho FROM r0 GROUP BY 1, 2
         |), agg AS (
         |  SELECT grp, count(*) AS present,
         |    CAST(sum(CAST(1 AS BIGINT) << (51 - rho)) AS BIGINT) AS si
         |  FROM regs GROUP BY grp
         |), e AS (
         |  SELECT grp, 1024 - present AS v,
         |    CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE) / CAST(1024.0 AS DOUBLE))
         |      * CAST(1048576.0 AS DOUBLE)
         |      / (CAST((1024 - present) * 2251799813685248 + si AS DOUBLE) / CAST(2251799813685248.0 AS DOUBLE)) AS e_raw
         |  FROM agg
         |)
         |SELECT grp, round(CASE WHEN e_raw <= CAST(2560.0 AS DOUBLE) AND v > 0
         |  THEN CAST(1024.0 AS DOUBLE) * ln(CAST(1024.0 AS DOUBLE) / CAST(v AS DOUBLE))
         |  ELSE e_raw END, 6) AS hll_est
         |FROM e ORDER BY grp""".stripMargin,
    // Rolling-HLL oracle: the wide register chain keyed by day, then the
    // ×7 register fanout (d + j, target days semi-joined to active days),
    // daily + rolling estimates from the same estimator CTE shape, exact
    // twins from the distinct (day, user) pairs
    "q_events_wau_rolling_hll" ->
      s"""WITH k AS (
         |  SELECT CAST(ts AS DATE) AS d, CAST(user_id AS VARCHAR) AS kk FROM events
         |), h0 AS (
         |  SELECT d, kk, ${polySqlOf("kk")} AS h, ${polySql2Of("kk")} AS g FROM k
         |), ha AS (
         |  SELECT d, kk, (h * 2654435761 + 97) % 1000000007 AS t1,
         |         (g * 3266489917 + 113) % 1000000009 AS s1 FROM h0
         |), hb AS (
         |  SELECT d, kk,
         |    (xor(t1, t1 >> 15) * 1866763009 + 127) % 1000000007 AS t2,
         |    (xor(s1, s1 >> 16) * 2246822519 + 151) % 1000000009 AS s2 FROM ha
         |), hm AS (
         |  SELECT d, kk,
         |    ((xor(t2, t2 >> 13) * 1540483477 + 233) % 1000000007) * 1073741824
         |      + ((xor(s2, s2 >> 12) * 1274126177 + 241) % 1000000009) AS hf FROM hb
         |), r0 AS (
         |  SELECT d, hf % 1024 AS bucket,
         |    1 + len(list_filter(list_transform(range(1, 51), j -> (CAST(1 AS BIGINT) << j)),
         |      pk -> (hf // 1024) % pk = 0)) AS rho
         |  FROM hm
         |), regs AS (
         |  SELECT d, bucket, max(rho) AS rho FROM r0 GROUP BY 1, 2
         |), days AS (SELECT DISTINCT d FROM k
         |), fan AS (
         |  SELECT r.d + CAST(j AS INT) AS day_t, r.bucket, max(r.rho) AS rho
         |  FROM regs r, unnest(range(0, 7)) AS t(j)
         |  WHERE r.d + CAST(j AS INT) IN (SELECT d FROM days)
         |  GROUP BY 1, 2
         |), u AS (
         |  SELECT d AS day_t, 1 AS w, bucket, rho FROM regs
         |  UNION ALL SELECT day_t, 7 AS w, bucket, rho FROM fan
         |), agg AS (
         |  SELECT day_t, w, count(*) AS present,
         |    CAST(sum(CAST(1 AS BIGINT) << (51 - rho)) AS BIGINT) AS si
         |  FROM u GROUP BY 1, 2
         |), e AS (
         |  SELECT day_t, w, 1024 - present AS v,
         |    CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE) / CAST(1024.0 AS DOUBLE))
         |      * CAST(1048576.0 AS DOUBLE)
         |      / (CAST((1024 - present) * 2251799813685248 + si AS DOUBLE) / CAST(2251799813685248.0 AS DOUBLE)) AS e_raw
         |  FROM agg
         |), fin AS (
         |  SELECT day_t, w, CASE WHEN e_raw <= CAST(2560.0 AS DOUBLE) AND v > 0
         |    THEN CAST(1024.0 AS DOUBLE) * ln(CAST(1024.0 AS DOUBLE) / CAST(v AS DOUBLE))
         |    ELSE e_raw END AS est
         |  FROM e
         |), pr AS (SELECT DISTINCT d, kk FROM k
         |), ex1 AS (
         |  SELECT d AS day_t, count(*) AS n_exact_1d FROM pr GROUP BY 1
         |), exw AS (
         |  SELECT day_t, count(*) AS n_exact_wd FROM (
         |    SELECT DISTINCT p.d + CAST(j AS INT) AS day_t, p.kk
         |    FROM pr p, unnest(range(0, 7)) AS t(j)
         |    WHERE p.d + CAST(j AS INT) IN (SELECT d FROM days)
         |  ) GROUP BY 1
         |)
         |SELECT CAST(ex1.day_t AS VARCHAR) AS day,
         |  CAST(ex1.n_exact_1d AS BIGINT) AS n_exact_1d,
         |  round(f1.est, 6) AS dau_est,
         |  CAST(exw.n_exact_wd AS BIGINT) AS n_exact_wd,
         |  round(f7.est, 6) AS wau_est
         |FROM ex1
         |JOIN fin f1 ON f1.day_t = ex1.day_t AND f1.w = 1
         |JOIN exw ON exw.day_t = ex1.day_t
         |JOIN fin f7 ON f7.day_t = ex1.day_t AND f7.w = 7
         |ORDER BY day""".stripMargin,
    // Estimate-only rolling oracle: identical register chain and ×7
    // register fanout, exact pair twins dropped
    "q_events_wau_rolling_hll_est" ->
      s"""WITH k AS (
         |  SELECT CAST(ts AS DATE) AS d, CAST(user_id AS VARCHAR) AS kk FROM events
         |), h0 AS (
         |  SELECT d, kk, ${polySqlOf("kk")} AS h, ${polySql2Of("kk")} AS g FROM k
         |), ha AS (
         |  SELECT d, kk, (h * 2654435761 + 97) % 1000000007 AS t1,
         |         (g * 3266489917 + 113) % 1000000009 AS s1 FROM h0
         |), hb AS (
         |  SELECT d, kk,
         |    (xor(t1, t1 >> 15) * 1866763009 + 127) % 1000000007 AS t2,
         |    (xor(s1, s1 >> 16) * 2246822519 + 151) % 1000000009 AS s2 FROM ha
         |), hm AS (
         |  SELECT d, kk,
         |    ((xor(t2, t2 >> 13) * 1540483477 + 233) % 1000000007) * 1073741824
         |      + ((xor(s2, s2 >> 12) * 1274126177 + 241) % 1000000009) AS hf FROM hb
         |), r0 AS (
         |  SELECT d, hf % 1024 AS bucket,
         |    1 + len(list_filter(list_transform(range(1, 51), j -> (CAST(1 AS BIGINT) << j)),
         |      pk -> (hf // 1024) % pk = 0)) AS rho
         |  FROM hm
         |), regs AS (
         |  SELECT d, bucket, max(rho) AS rho FROM r0 GROUP BY 1, 2
         |), days AS (SELECT DISTINCT d FROM k
         |), fan AS (
         |  SELECT r.d + CAST(j AS INT) AS day_t, r.bucket, max(r.rho) AS rho
         |  FROM regs r, unnest(range(0, 7)) AS t(j)
         |  WHERE r.d + CAST(j AS INT) IN (SELECT d FROM days)
         |  GROUP BY 1, 2
         |), u AS (
         |  SELECT d AS day_t, 1 AS w, bucket, rho FROM regs
         |  UNION ALL SELECT day_t, 7 AS w, bucket, rho FROM fan
         |), agg AS (
         |  SELECT day_t, w, count(*) AS present,
         |    CAST(sum(CAST(1 AS BIGINT) << (51 - rho)) AS BIGINT) AS si
         |  FROM u GROUP BY 1, 2
         |), e AS (
         |  SELECT day_t, w, 1024 - present AS v,
         |    CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE) / CAST(1024.0 AS DOUBLE))
         |      * CAST(1048576.0 AS DOUBLE)
         |      / (CAST((1024 - present) * 2251799813685248 + si AS DOUBLE) / CAST(2251799813685248.0 AS DOUBLE)) AS e_raw
         |  FROM agg
         |), fin AS (
         |  SELECT day_t, w, CASE WHEN e_raw <= CAST(2560.0 AS DOUBLE) AND v > 0
         |    THEN CAST(1024.0 AS DOUBLE) * ln(CAST(1024.0 AS DOUBLE) / CAST(v AS DOUBLE))
         |    ELSE e_raw END AS est
         |  FROM e
         |)
         |SELECT CAST(f1.day_t AS VARCHAR) AS day,
         |  round(f1.est, 6) AS dau_est,
         |  round(f7.est, 6) AS wau_est
         |FROM fin f1
         |JOIN fin f7 ON f7.day_t = f1.day_t AND f7.w = 7
         |WHERE f1.w = 1
         |ORDER BY day""".stripMargin,
    // Bulk-inference oracle: per-CODEPOINT 31-polynomial token ids (32-bit
    // wrap then the 31-bit mask, +1 — hashCode's recurrence but
    // codepoint-clean, matching SessionEmbedder.hashTokenizer on non-BMP
    // text too), truncated at maxLen 128, stub vector
    // [sum, n, first, last] mod 97 — every lane an exact small integer
    "q_embed_bulk_inference" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS ws
        |  FROM documents
        |), ids0 AS (
        |  SELECT doc_id, list_transform(ws, t ->
        |    (list_reduce(list_prepend(CAST(0 AS BIGINT),
        |       list_transform(range(1, length(t)+1), i -> CAST(unicode(substring(t, CAST(i AS INT), 1)) AS BIGINT))),
        |      (acc, c) -> (acc*31 + c) % 4294967296) % 2147483648) + 1) AS tid
        |  FROM toks
        |), ids AS (
        |  SELECT doc_id, tid[1:128] AS tid FROM ids0
        |)
        |, vecs AS (
        |  SELECT CAST(doc_id AS VARCHAR) AS id,
        |    [CAST(coalesce(list_sum(tid), 0) % 97 AS FLOAT),
        |     CAST(len(tid) % 97 AS FLOAT),
        |     CAST(coalesce(tid[1], 0) % 97 AS FLOAT),
        |     CAST(coalesce(tid[-1], 0) % 97 AS FLOAT)] AS embedding
        |  FROM ids
        |)
        |SELECT id,
        |       CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
        |       unnest(embedding) AS val
        |FROM vecs ORDER BY id, pos""".stripMargin,
    // Count-min oracle: one UNION ALL branch per hash row for both the
    // counter matrix and the probe side; min over the d cells
    "q_text_heavy_hitters" -> {
      val salts = graft.operators.Sketches.CmSalts
      val counterRows = salts.zipWithIndex.map { case ((a, b), i) =>
        s"SELECT $i AS i, ((fp*$a + $b) % 1000000007) % 1024 AS cell, count(*) AS cnt FROM f GROUP BY 2"
      }.mkString("\n  UNION ALL ")
      val probeRows = salts.zipWithIndex.map { case ((a, b), i) =>
        s"SELECT item, n_exact, $i AS i, ((fp*$a + $b) % 1000000007) % 1024 AS cell FROM tf"
      }.mkString("\n  UNION ALL ")
      s"""WITH occ AS (
         |  SELECT unnest(string_split_regex(text, '\\s+')) AS item FROM documents
         |), f AS (
         |  SELECT item, ${polySqlOf("item")} AS fp FROM occ
         |), counters AS (
         |  $counterRows
         |), top AS (
         |  SELECT item, count(*) AS n_exact FROM occ GROUP BY item
         |  ORDER BY n_exact DESC, item ASC LIMIT 20
         |), tf AS (
         |  SELECT item, n_exact, ${polySqlOf("item")} AS fp FROM top
         |), probe AS (
         |  $probeRows
         |)
         |SELECT p.item, p.n_exact, min(c.cnt) AS n_est
         |FROM probe p JOIN counters c ON c.i = p.i AND c.cell = p.cell
         |GROUP BY 1, 2 ORDER BY n_exact DESC, item ASC""".stripMargin
    },
    // Estimate-only count-min oracle: every distinct item probed, top-K
    // by the ESTIMATE (ties by item) — no exact counts anywhere
    "q_text_heavy_hitters_est" -> {
      val salts = graft.operators.Sketches.CmSalts
      val counterRows = salts.zipWithIndex.map { case ((a, b), i) =>
        s"SELECT $i AS i, ((fp*$a + $b) % 1000000007) % 1024 AS cell, count(*) AS cnt FROM f GROUP BY 2"
      }.mkString("\n  UNION ALL ")
      val probeRows = salts.zipWithIndex.map { case ((a, b), i) =>
        s"SELECT item, $i AS i, ((fp*$a + $b) % 1000000007) % 1024 AS cell FROM tf"
      }.mkString("\n  UNION ALL ")
      s"""WITH occ AS (
         |  SELECT unnest(string_split_regex(text, '\\s+')) AS item FROM documents
         |), f AS (
         |  SELECT item, ${polySqlOf("item")} AS fp FROM occ
         |), counters AS (
         |  $counterRows
         |), tf AS (
         |  SELECT DISTINCT item, ${polySqlOf("item")} AS fp FROM occ
         |), probe AS (
         |  $probeRows
         |)
         |SELECT item, min(c.cnt) AS n_est
         |FROM probe p JOIN counters c ON c.i = p.i AND c.cell = p.cell
         |GROUP BY 1 ORDER BY n_est DESC, item ASC LIMIT 20""".stripMargin
    },
    // KMV theta-sketch oracle: same fingerprint + splitmix-mod-p chain as
    // the HLL oracle, bottom-64 per source via row_number, theta set
    // algebra in the identical double arithmetic order
    "q_sketch_kmv_overlap" ->
      s"""WITH sh0 AS (
         |  SELECT source, unnest(list_distinct(list_transform(
         |    range(1, len(string_split_regex(text, '\\s+'))),
         |    i -> string_split_regex(text, '\\s+')[i] || ' ' || string_split_regex(text, '\\s+')[i+1]))) AS s
         |  FROM documents
         |), g AS (
         |  SELECT DISTINCT source AS src, ${polySqlOf("s")} AS fp FROM sh0
         |), h1 AS (
         |  SELECT src, (fp * 2654435761 + 97) % 1000000007 AS t1 FROM g
         |), h2 AS (
         |  SELECT src, (xor(t1, t1 >> 15) * 1866763009 + 127) % 1000000007 AS t2 FROM h1
         |), hs AS (
         |  SELECT DISTINCT src AS grp,
         |    (xor(t2, t2 >> 13) * 1540483477 + 233) % 1000000007 AS h FROM h2
         |), rk AS (
         |  SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS rn FROM hs
         |), sk AS (
         |  SELECT grp, h FROM rk WHERE rn <= 64
         |), th AS (
         |  SELECT grp, count(*) AS cnt, max(h) AS hmax FROM sk GROUP BY grp
         |), thetas AS (
         |  SELECT grp, CASE WHEN cnt >= 64 THEN CAST(hmax AS DOUBLE)
         |    ELSE CAST(1000000007 AS DOUBLE) END AS theta FROM th
         |), ret AS (
         |  SELECT s.grp, s.h, t.theta FROM sk s JOIN thetas t ON t.grp = s.grp
         |  WHERE CAST(s.h AS DOUBLE) < t.theta
         |), dest AS (
         |  SELECT grp, count(*) * CAST(1000000007 AS DOUBLE) / any_value(theta) AS d_est
         |  FROM ret GROUP BY grp
         |), pairs AS (
         |  SELECT a.grp AS src_a, b.grp AS src_b, least(a.theta, b.theta) AS theta
         |  FROM thetas a JOIN thetas b ON a.grp < b.grp
         |), commons AS (
         |  SELECT ra.grp AS src_a, rb.grp AS src_b, count(*) AS c
         |  FROM ret ra JOIN ret rb ON rb.h = ra.h AND ra.grp < rb.grp
         |  JOIN pairs p ON p.src_a = ra.grp AND p.src_b = rb.grp
         |  WHERE CAST(ra.h AS DOUBLE) < p.theta
         |  GROUP BY 1, 2
         |), est AS (
         |  SELECT p.src_a, p.src_b,
         |    CAST(COALESCE(c.c, 0) AS DOUBLE) * CAST(1000000007 AS DOUBLE) / p.theta AS inter_est,
         |    da.d_est AS da, db.d_est AS db
         |  FROM pairs p
         |  LEFT JOIN commons c ON c.src_a = p.src_a AND c.src_b = p.src_b
         |  JOIN dest da ON da.grp = p.src_a
         |  JOIN dest db ON db.grp = p.src_b
         |), shared AS (
         |  SELECT a.src AS src_a, b.src AS src_b, count(*) AS shared_grams
         |  FROM g a JOIN g b ON b.fp = a.fp AND a.src < b.src
         |  GROUP BY 1, 2
         |)
         |SELECT e.src_a, e.src_b, COALESCE(s2.shared_grams, 0) AS shared_grams,
         |  round(e.da, 6) AS d_est_a, round(e.db, 6) AS d_est_b,
         |  round(e.inter_est, 6) AS inter_est,
         |  round(CASE WHEN e.da + e.db - e.inter_est > 0
         |    THEN e.inter_est / (e.da + e.db - e.inter_est) ELSE CAST(0.0 AS DOUBLE) END, 6) AS jaccard_est
         |FROM est e LEFT JOIN shared s2 ON s2.src_a = e.src_a AND s2.src_b = e.src_b
         |ORDER BY e.src_a, e.src_b""".stripMargin,
    // Wide-KMV oracle: dual fingerprint+mix chains packed h1*2^30+h2, the
    // same theta algebra with the wide space constant (identical IEEE
    // product of two exact doubles on both engines)
    "q_sketch_kmv_overlap_wide" ->
      s"""WITH sh0 AS (
         |  SELECT source, unnest(list_distinct(list_transform(
         |    range(1, len(string_split_regex(text, '\\s+'))),
         |    i -> string_split_regex(text, '\\s+')[i] || ' ' || string_split_regex(text, '\\s+')[i+1]))) AS s
         |  FROM documents
         |), g AS (
         |  SELECT DISTINCT source AS src, ${polySqlOf("s")} AS fp, ${polySql2Of("s")} AS fq FROM sh0
         |), m1 AS (
         |  SELECT src, (fp * 2654435761 + 97) % 1000000007 AS t1,
         |         (fq * 3266489917 + 113) % 1000000009 AS s1 FROM g
         |), m2 AS (
         |  SELECT src, (xor(t1, t1 >> 15) * 1866763009 + 127) % 1000000007 AS t2,
         |         (xor(s1, s1 >> 16) * 2246822519 + 151) % 1000000009 AS s2 FROM m1
         |), hs AS (
         |  SELECT DISTINCT src AS grp,
         |    ((xor(t2, t2 >> 13) * 1540483477 + 233) % 1000000007) * 1073741824
         |      + ((xor(s2, s2 >> 12) * 1274126177 + 241) % 1000000009) AS h FROM m2
         |), rk AS (
         |  SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS rn FROM hs
         |), sk AS (
         |  SELECT grp, h FROM rk WHERE rn <= 64
         |), th AS (
         |  SELECT grp, count(*) AS cnt, max(h) AS hmax FROM sk GROUP BY grp
         |), spc AS (
         |  SELECT CAST(1073741824 AS DOUBLE) * CAST(1000000007 AS DOUBLE) AS sp
         |), thetas AS (
         |  SELECT grp, CASE WHEN cnt >= 64 THEN CAST(hmax AS DOUBLE)
         |    ELSE (SELECT sp FROM spc) END AS theta FROM th
         |), ret AS (
         |  SELECT s.grp, s.h, t.theta FROM sk s JOIN thetas t ON t.grp = s.grp
         |  WHERE CAST(s.h AS DOUBLE) < t.theta
         |), dest AS (
         |  SELECT grp, count(*) * (SELECT sp FROM spc) / any_value(theta) AS d_est
         |  FROM ret GROUP BY grp
         |), pairs AS (
         |  SELECT a.grp AS src_a, b.grp AS src_b, least(a.theta, b.theta) AS theta
         |  FROM thetas a JOIN thetas b ON a.grp < b.grp
         |), commons AS (
         |  SELECT ra.grp AS src_a, rb.grp AS src_b, count(*) AS c
         |  FROM ret ra JOIN ret rb ON rb.h = ra.h AND ra.grp < rb.grp
         |  JOIN pairs p ON p.src_a = ra.grp AND p.src_b = rb.grp
         |  WHERE CAST(ra.h AS DOUBLE) < p.theta
         |  GROUP BY 1, 2
         |), est AS (
         |  SELECT p.src_a, p.src_b,
         |    CAST(COALESCE(c.c, 0) AS DOUBLE) * (SELECT sp FROM spc) / p.theta AS inter_est,
         |    da.d_est AS da, db.d_est AS db
         |  FROM pairs p
         |  LEFT JOIN commons c ON c.src_a = p.src_a AND c.src_b = p.src_b
         |  JOIN dest da ON da.grp = p.src_a
         |  JOIN dest db ON db.grp = p.src_b
         |)
         |SELECT e.src_a, e.src_b,
         |  round(e.da, 6) AS d_est_a, round(e.db, 6) AS d_est_b,
         |  round(e.inter_est, 6) AS inter_est,
         |  round(CASE WHEN e.da + e.db - e.inter_est > 0
         |    THEN e.inter_est / (e.da + e.db - e.inter_est) ELSE CAST(0.0 AS DOUBLE) END, 6) AS jaccard_est
         |FROM est e
         |ORDER BY e.src_a, e.src_b""".stripMargin,
    "q_text_quality" ->
      s"""WITH t AS (
        |  SELECT doc_id, string_split_regex(text, '\\s+') AS toks,
        |         length(regexp_replace(text, '\\s', '', 'g')) AS nonws,
        |         length(regexp_replace(text, '[a-z0-9\\s]', '', 'g')) AS punct
        |  FROM documents
        |), s AS (
        |  SELECT doc_id,
        |    CASE WHEN nonws > 0 THEN CAST(punct AS DOUBLE)/nonws ELSE 0.0 END AS punct_ratio,
        |    CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, x -> list_contains(${profileSql("en")}, x))) AS DOUBLE)/len(toks) ELSE 0.0 END AS stop_ratio,
        |    CASE WHEN len(toks) > 0 THEN CAST(nonws AS DOUBLE)/len(toks) ELSE 0.0 END AS avg_tok_len,
        |    len(toks) AS n
        |  FROM t
        |)
        |SELECT doc_id, round(punct_ratio,6) AS punct_ratio, round(stop_ratio,6) AS stop_ratio,
        |  round(avg_tok_len,6) AS avg_tok_len,
        |  round(0.4*least(n/100.0,1.0) + 0.3*(1.0-punct_ratio) + 0.3*least(stop_ratio/0.1,1.0), 6) AS quality
        |FROM s ORDER BY doc_id""".stripMargin,
    // Unigram-NLL oracle: same LM (corpus token counts), same ln(c)-ln(N)
    // per-token term, same sorted-sequential fold for the per-doc sum
    "q_text_unigram_nll" ->
      """WITH tok AS (
        |  SELECT doc_id AS id, unnest(string_split_regex(text, '\s+')) AS t FROM documents
        |), lm AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
        |tot AS (SELECT count(*) AS n FROM tok),
        |lp AS (
        |  SELECT id, ln(CAST(c AS DOUBLE)) - ln(CAST(n AS DOUBLE)) AS lp
        |  FROM tok JOIN lm USING (t), tot
        |), ag AS (
        |  SELECT id, list(lp ORDER BY lp) AS lps, count(*) AS n_tokens FROM lp GROUP BY id
        |)
        |SELECT id,
        |  round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), lps), (a, x) -> a + x) / -n_tokens, 6) AS avg_nll,
        |  n_tokens
        |FROM ag ORDER BY id""".stripMargin,
    "q_text_langid" ->
      s"""WITH t AS (
        |  SELECT doc_id, string_split_regex(text, '\\s+') AS toks FROM documents
        |), s AS (
        |  SELECT doc_id,
        |    len(list_filter(toks, x -> list_contains(${profileSql("en")}, x))) AS s_en,
        |    len(list_filter(toks, x -> list_contains(${profileSql("de")}, x))) AS s_de,
        |    len(list_filter(toks, x -> list_contains(${profileSql("es")}, x))) AS s_es,
        |    len(list_filter(toks, x -> list_contains(${profileSql("fr")}, x))) AS s_fr
        |  FROM t
        |)
        |SELECT doc_id, CASE
        |  WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en > 0 THEN 'en'
        |  WHEN s_de >= s_es AND s_de >= s_fr AND s_de > 0 THEN 'de'
        |  WHEN s_es >= s_fr AND s_es > 0 THEN 'es'
        |  WHEN s_fr > 0 THEN 'fr' ELSE 'und' END AS lang_pred
        |FROM s ORDER BY doc_id""".stripMargin,
    // code-switch oracle: the chunk formula at stride = size, the langid
    // CASE per segment, then window/group rollups (majority via
    // row_number count-desc-lang-asc, switches via lag)
    "q_text_code_switch" ->
      s"""WITH t AS (
         |  SELECT doc_id AS id, string_split_regex(text, '\\s+') AS toks FROM documents
         |), nn AS (
         |  SELECT id, toks, len(toks) AS n FROM t WHERE len(toks) > 0
         |), seg AS (
         |  SELECT id, CAST(k AS INT) AS chunk_idx,
         |    list_slice(toks, k*40 + 1, k*40 + 40) AS stoks
         |  FROM nn, unnest(range(0,
         |    CAST(ceil(CAST(greatest(n - 40, 0) AS DOUBLE) / 40) AS BIGINT) + 1)) AS u(k)
         |), sc AS (
         |  SELECT id, chunk_idx,
         |    len(list_filter(stoks, x -> list_contains(${profileSql("en")}, x))) AS s_en,
         |    len(list_filter(stoks, x -> list_contains(${profileSql("de")}, x))) AS s_de,
         |    len(list_filter(stoks, x -> list_contains(${profileSql("es")}, x))) AS s_es,
         |    len(list_filter(stoks, x -> list_contains(${profileSql("fr")}, x))) AS s_fr
         |  FROM seg
         |), sl AS (
         |  SELECT id, chunk_idx, CASE
         |    WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en > 0 THEN 'en'
         |    WHEN s_de >= s_es AND s_de >= s_fr AND s_de > 0 THEN 'de'
         |    WHEN s_es >= s_fr AND s_es > 0 THEN 'es'
         |    WHEN s_fr > 0 THEN 'fr' ELSE 'und' END AS lang
         |  FROM sc
         |), wl AS (
         |  SELECT id, chunk_idx, lang,
         |    lag(lang) OVER (PARTITION BY id ORDER BY chunk_idx) AS prev
         |  FROM sl
         |), mj AS (
         |  SELECT id, lang FROM (
         |    SELECT id, lang,
         |      row_number() OVER (PARTITION BY id
         |        ORDER BY count(*) DESC, lang ASC) AS rn
         |    FROM sl GROUP BY id, lang)
         |  WHERE rn = 1
         |), ag AS (
         |  SELECT id, CAST(count(*) AS INT) AS n_segments,
         |    CAST(count(DISTINCT lang) AS INT) AS n_langs,
         |    CAST(sum(CASE WHEN prev IS NOT NULL AND lang <> prev
         |      THEN 1 ELSE 0 END) AS INT) AS n_switches,
         |    CAST(count(DISTINCT lang) > 1 AS INT) AS mixed
         |  FROM wl GROUP BY id
         |)
         |SELECT ag.id AS doc_id, ag.n_segments, ag.n_langs,
         |  mj.lang AS majority_lang, ag.n_switches, ag.mixed
         |FROM ag JOIN mj ON mj.id = ag.id
         |ORDER BY doc_id""".stripMargin,
    "q_text_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT), list_transform(range(1, length(text)+1), i -> CAST(ascii(substring(text, i, 1)) AS BIGINT))),
        |    (acc, x) -> (acc*31 + x) % 1000000007) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_rel_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_qty,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_base_price,
        |  round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_disc_price,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS avg_qty,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS avg_price,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-01'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_rel_top_customers" ->
      """WITH spend AS (
        |  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,6))) AS spend_d
        |  FROM orders GROUP BY 1
        |), ranked AS (
        |  SELECT n_name, c_name, spend_d,
        |         row_number() OVER (PARTITION BY n_name ORDER BY spend_d DESC, o_custkey ASC) AS rank
        |  FROM spend JOIN customer ON o_custkey = c_custkey
        |             JOIN nation ON c_nationkey = n_nationkey
        |)
        |SELECT n_name, CAST(rank AS INT) AS rank, c_name, round(CAST(spend_d AS DOUBLE), 6) AS spend
        |FROM ranked WHERE rank <= 3 ORDER BY n_name, rank""".stripMargin,
    "q_rel_region_revenue" ->
      """SELECT r_name, CAST(year(l_shipdate) AS INT) AS ship_year,
        |  round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE), 6) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_rel_rollup" ->
      """SELECT r_name, CAST(year(l_shipdate) AS INT) AS ship_year,
        |  round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE), 6) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, ship_year)
        |ORDER BY r_name NULLS FIRST, ship_year NULLS FIRST""".stripMargin,
    "q_rel_salted_join" ->
      """SELECT o_orderpriority,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_qty,
        |  count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_rel_grouping_sets" ->
      """SELECT r_name, CAST(year(l_shipdate) AS INT) AS ship_year, l_returnflag,
        |  round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE), 6) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY GROUPING SETS ((r_name), (ship_year), (r_name, l_returnflag))
        |ORDER BY r_name NULLS FIRST, ship_year NULLS FIRST, l_returnflag NULLS FIRST""".stripMargin,
    "q_rel_cube" ->
      """SELECT r_name, CAST(year(l_shipdate) AS INT) AS ship_year,
        |  round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE), 6) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY CUBE (r_name, ship_year)
        |ORDER BY r_name NULLS FIRST, ship_year NULLS FIRST""".stripMargin,
    "q_rel_pivot" -> {
      val cols = (1995 to 2001).map(y =>
        s"round(CAST(sum(CASE WHEN year(l_shipdate) = $y THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)) END) AS DOUBLE), 6) AS y$y")
        .mkString(",\n        |  ")
      s"""SELECT n_name,
        |  $cols
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin
    },
    "q_rel_window_ranks" ->
      """SELECT o_orderkey, o_custkey,
        |  CAST(row_number() OVER w AS INT) AS rn,
        |  CAST(ntile(4) OVER w AS INT) AS nt,
        |  round(percent_rank() OVER w, 6) AS pr,
        |  round(cume_dist() OVER w, 6) AS cd,
        |  CAST(date_diff('day',
        |    CAST(lag(o_orderdate, 1) OVER w AS DATE),
        |    CAST(o_orderdate AS DATE)) AS INT) AS gap_days
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, rn""".stripMargin,
    // Rolling-window oracle: identical day arithmetic and RANGE frame;
    // per-frame double sums of ≤ tens of 1e5-magnitude values carry ~1e-10
    // error, absorbed by the 6-dp rounding
    "q_rel_rolling" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderkey,
        |    CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS INT) AS day,
        |    o_totalprice
        |  FROM orders
        |)
        |SELECT o_custkey, o_orderkey, day,
        |  round(sum(o_totalprice) OVER w, 6) AS rolling_rev,
        |  count(*) OVER w AS n_in_window
        |FROM o
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY day RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, day, o_orderkey""".stripMargin,
    "q_rel_setops" ->
      """SELECT o_custkey FROM (
        |  (SELECT o_custkey FROM orders WHERE year(CAST(o_orderdate AS TIMESTAMP)) = 1995
        |   INTERSECT
        |   SELECT o_custkey FROM orders WHERE year(CAST(o_orderdate AS TIMESTAMP)) = 1996)
        |  EXCEPT
        |  SELECT o_custkey FROM orders WHERE year(CAST(o_orderdate AS TIMESTAMP)) = 1997
        |) ORDER BY o_custkey""".stripMargin,
    "q_rel_segment_stats" ->
      """SELECT c_mktsegment,
        |  count(DISTINCT o_custkey) AS n_buyers,
        |  count(*) AS n_orders,
        |  round(median(o_totalprice), 6) AS median_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_range_copresence" ->
      """SELECT a.event_id AS id_a, b.event_id AS id_b, a.user_id,
        |       epoch_us(CAST(b.ts AS TIMESTAMP)) - epoch_us(CAST(a.ts AS TIMESTAMP)) AS gap_us
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 300 SECONDS
        | AND (a.ts < b.ts OR (a.ts = b.ts AND a.event_id < b.event_id))
        |ORDER BY id_a, id_b""".stripMargin,
    "q_asof_click_purchase" ->
      """SELECT p.event_id, p.user_id, c.event_id AS click_id,
        |       epoch_us(CAST(p.ts AS TIMESTAMP)) - epoch_us(CAST(c.ts AS TIMESTAMP)) AS gap_us
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.event_id""".stripMargin,
    // DuckDB ASOF is backward-only; the forward oracle is the explicit
    // first-match window over the (bounded) candidate join
    "q_asof_signup_conversion" ->
      """SELECT event_id, user_id, purchase_id, lag_us FROM (
        |  SELECT s.event_id, s.user_id, p.event_id AS purchase_id,
        |    epoch_us(CAST(p.ts AS TIMESTAMP)) - epoch_us(CAST(s.ts AS TIMESTAMP)) AS lag_us,
        |    row_number() OVER (PARTITION BY s.event_id ORDER BY p.ts ASC, p.event_id ASC) AS rn
        |  FROM (SELECT * FROM events WHERE event_type = 'signup') s
        |  LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |    ON s.user_id = p.user_id AND p.ts >= s.ts
        |) WHERE rn = 1 ORDER BY event_id""".stripMargin,
    "q_rel_sessions" ->
      """WITH t AS (
        |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |         lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events
        |), s AS (
        |  SELECT user_id, event_id, us,
        |         CASE WHEN prev IS NULL OR us - prev > 1800000000 THEN 1 ELSE 0 END AS ns
        |  FROM t
        |), x AS (
        |  SELECT user_id, us,
        |         CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
        |  FROM s
        |)
        |SELECT user_id, session_idx, count(*) AS n_events, max(us) - min(us) AS duration_us
        |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // SCD-2 oracle: same (ts, event_id) total order in both windows
    "q_rel_scd2" ->
      """WITH o AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events
        |), ch AS (
        |  SELECT user_id, event_type, ts, event_id FROM o
        |  WHERE prev IS NULL OR prev <> event_type
        |)
        |SELECT user_id, event_type, ts AS valid_from,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
        |  event_id AS first_event_id
        |FROM ch ORDER BY user_id, valid_from, first_event_id""".stripMargin,
    // Affinity oracle: same distinct (user, type) base, ordered pairs,
    // identical lift parenthesization
    "q_rel_affinity" ->
      """WITH ut AS (SELECT DISTINCT user_id AS u, event_type AS t FROM events),
        |n AS (SELECT CAST(count(DISTINCT user_id) AS DOUBLE) AS n_users FROM events),
        |s AS (SELECT t, count(*) AS ct FROM ut GROUP BY t),
        |p AS (
        |  SELECT a.t AS ta, b.t AS tb, count(*) AS cab
        |  FROM ut a JOIN ut b ON a.u = b.u AND a.t < b.t
        |  GROUP BY a.t, b.t
        |)
        |SELECT ta, tb, cab,
        |  round((CAST(cab AS DOUBLE) * n_users) /
        |    (CAST(sa.ct AS DOUBLE) * CAST(sb.ct AS DOUBLE)), 6) AS lift
        |FROM p JOIN s sa ON p.ta = sa.t JOIN s sb ON p.tb = sb.t, n
        |ORDER BY ta, tb""".stripMargin,
    // Retention oracle: same Monday-start date_trunc week, same day-count
    // arithmetic (date-cast difference, floor/7)
    "q_rel_retention" ->
      """WITH f AS (SELECT user_id AS u, min(ts) AS first_ts FROM events GROUP BY user_id)
        |SELECT CAST(date_trunc('week', CAST(first_ts AS TIMESTAMP)) AS DATE) AS cohort_week,
        |  CAST(floor(date_diff('day', CAST(first_ts AS DATE), CAST(ts AS DATE)) / 7) AS BIGINT) AS week_offset,
        |  count(DISTINCT e.user_id) AS n_users
        |FROM events e JOIN f ON e.user_id = f.u
        |GROUP BY cohort_week, week_offset
        |ORDER BY cohort_week, week_offset""".stripMargin,
    // Funnel oracle: per-user sorted stage lists, chained strictly-after
    // minima as list folds (NULL predicate rows excluded by list_filter on
    // both engines), single-row stage rollup
    "q_rel_funnel" ->
      """WITH per AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN ts END) AS t1,
        |    list(ts ORDER BY ts) FILTER (WHERE event_type = 'click') AS l2,
        |    list(ts ORDER BY ts) FILTER (WHERE event_type = 'purchase') AS l3
        |  FROM events GROUP BY user_id
        |), p2 AS (
        |  SELECT user_id, t1, list_aggregate(list_filter(l2, x -> x > t1), 'min') AS t2, l3
        |  FROM per
        |), p3 AS (
        |  SELECT user_id, t1, t2, list_aggregate(list_filter(l3, x -> x > t2), 'min') AS t3
        |  FROM p2
        |), t AS (SELECT count(t1) AS n1, count(t2) AS n2, count(t3) AS n3 FROM p3)
        |SELECT 1 AS stage_idx, 'view' AS stage, n1 AS users,
        |  CAST(1.0 AS DOUBLE) AS conv_from_prev FROM t
        |UNION ALL SELECT 2, 'click', n2,
        |  CASE WHEN n1 = 0 THEN CAST(0.0 AS DOUBLE)
        |       ELSE round(CAST(n2 AS DOUBLE) / n1, 6) END FROM t
        |UNION ALL SELECT 3, 'purchase', n3,
        |  CASE WHEN n2 = 0 THEN CAST(0.0 AS DOUBLE)
        |       ELSE round(CAST(n3 AS DOUBLE) / n2, 6) END FROM t
        |ORDER BY stage_idx""".stripMargin,
    "q_text_bm25" -> bm25Oracle,
    "q_rerank_hybrid" -> rerankOracle,
    "q_text_search" -> textSearchOracle,
    // Binary-quantized search oracle: replicate the sign packing (bit j =
    // embedding[j] ≥ 0), Hamming-rank all rows with the string-id tiebreak
    // the Spark plan uses, keep 50, exact cosine top-10.
    "q_knn_binary" ->
      """WITH b AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev,
        |    CAST(list_sum(list_transform(range(0, 64), j ->
        |      CASE WHEN embedding[CAST(j+1 AS INT)] >= 0
        |           THEN (CASE WHEN j = 63 THEN CAST(-9223372036854775807 - 1 AS BIGINT)
        |                 ELSE (CAST(1 AS BIGINT) << CAST(j AS BIGINT)) END)
        |           ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS bcode
        |  FROM embeddings
        |), q AS (SELECT ev AS qv, bcode AS qb FROM b WHERE vec_id = 0),
        |cand AS (
        |  SELECT b.vec_id, b.ev FROM b, q
        |  ORDER BY bit_count(xor(b.bcode, q.qb)) ASC, CAST(b.vec_id AS VARCHAR) ASC
        |  LIMIT 50
        |)
        |SELECT id, round(score, 6) AS score FROM (
        |  SELECT CAST(c.vec_id AS VARCHAR) AS id,
        |         list_cosine_similarity(c.ev, q.qv) AS score
        |  FROM cand c, q
        |  ORDER BY score DESC, id ASC LIMIT 10
        |) ORDER BY score DESC, id ASC""".stripMargin,
    // Ascending-distance autocut oracle: same int8 quantization CTEs as
    // q_knn_quantized, distance = 1 − cosine ascending, then the increase/
    // max/first-cut windows (mirror of the q_knn_autocut oracle, sign
    // flipped). Query row excluded on both sides.
    "q_knn_quantized_autocut" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS d FROM embeddings
        |), sc AS (
        |  SELECT vec_id, d, list_max(list_transform(d, x -> abs(x))) AS s FROM e
        |), qz AS (
        |  SELECT vec_id,
        |    CASE WHEN s > 0 THEN list_transform(d, x -> floor(x * 127.0 / s + 0.5))
        |         ELSE list_transform(d, x -> 0.0) END AS q
        |  FROM sc
        |), qv AS (SELECT q AS qq FROM qz WHERE vec_id = 0),
        |topk AS (
        |  SELECT CAST(z.vec_id AS VARCHAR) AS id,
        |    1.0 - list_dot_product(z.q, qv.qq) /
        |      (sqrt(list_dot_product(z.q, z.q)) * sqrt(list_dot_product(qv.qq, qv.qq))) AS dist
        |  FROM qz z, qv WHERE z.vec_id <> 0
        |  ORDER BY dist ASC, id ASC LIMIT 10
        |), dd AS (
        |  SELECT id, dist,
        |         row_number() OVER (ORDER BY dist ASC, id ASC) AS rn,
        |         lag(dist) OVER (ORDER BY dist ASC, id ASC) AS prev
        |  FROM topk
        |), m AS (SELECT max((dist - prev) / prev) AS maxi FROM dd),
        |c AS (SELECT min(rn) AS cut FROM dd, m WHERE (dist - prev) / prev = maxi)
        |SELECT id, round(dist, 6) AS distance FROM dd, m, c
        |WHERE CASE WHEN maxi > 0.2 THEN rn < cut ELSE true END
        |ORDER BY distance ASC, id ASC""".stripMargin,
    // Multi-word binary oracle: replicate the 8-threshold wide-vector sign
    // packing ((embedding[j] − (s−3.5)·0.04) ≥ 0 ⇒ bit j of word s; bit 63
    // via the min-long literal — DuckDB << is overflow-checked), Hamming =
    // Σ_w bit_count(xor), keep 50 (id tiebreak), exact cosine top-10.
    "q_knn_binary_wide" ->
      """WITH b AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev,
        |    list_transform(range(0, 8), s ->
        |      CAST(list_sum(list_transform(range(0, 64), j ->
        |        CASE WHEN (CAST(embedding[CAST(j+1 AS INT)] AS DOUBLE) - (s - 3.5)*0.04) >= 0
        |             THEN (CASE WHEN j = 63 THEN CAST(-9223372036854775807 - 1 AS BIGINT)
        |                   ELSE (CAST(1 AS BIGINT) << CAST(j AS BIGINT)) END)
        |             ELSE CAST(0 AS BIGINT) END)) AS BIGINT)) AS words
        |  FROM embeddings
        |), q AS (SELECT ev AS qv, words AS qw FROM b WHERE vec_id = 0),
        |cand AS (
        |  SELECT b.vec_id, b.ev FROM b, q
        |  ORDER BY list_sum(list_transform(range(0, 8), w ->
        |             bit_count(xor(b.words[CAST(w+1 AS INT)], q.qw[CAST(w+1 AS INT)])))) ASC,
        |           CAST(b.vec_id AS VARCHAR) ASC
        |  LIMIT 50
        |)
        |SELECT id, round(score, 6) AS score FROM (
        |  SELECT CAST(c.vec_id AS VARCHAR) AS id,
        |         list_cosine_similarity(c.ev, q.qv) AS score
        |  FROM cand c, q
        |  ORDER BY score DESC, id ASC LIMIT 10
        |) ORDER BY score DESC, id ASC""".stripMargin,
    // PQ oracle: replicate codebook derivation (subvectors of the 16
    // lowest-id vectors), encode (argmin |c|²−2·v_j·c per subspace, ties to
    // the smaller code — same formula as the IVF assignment oracle), and
    // ADC (Σ_j |c|²−2·q_j·c over the assigned codes) entirely in SQL.
    "q_knn_pq" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
        |cb AS (SELECT vec_id AS code, ev FROM e WHERE vec_id < 16),
        |sub AS (SELECT CAST(j AS INT) AS j FROM range(8) t(j)),
        |enc AS (
        |  SELECT vec_id, j, code FROM (
        |    SELECT v.vec_id, s.j, c.code,
        |      row_number() OVER (PARTITION BY v.vec_id, s.j ORDER BY
        |        list_dot_product(c.ev[s.j*8+1 : s.j*8+8], c.ev[s.j*8+1 : s.j*8+8])
        |        - 2*list_dot_product(v.ev[s.j*8+1 : s.j*8+8], c.ev[s.j*8+1 : s.j*8+8]) ASC,
        |        c.code ASC) AS rn
        |    FROM e v, sub s, cb c) WHERE rn = 1
        |),
        |q AS (SELECT ev AS qv FROM e WHERE vec_id = 0),
        |adc AS (
        |  SELECT enc.vec_id, sum(
        |    list_dot_product(c.ev[enc.j*8+1 : enc.j*8+8], c.ev[enc.j*8+1 : enc.j*8+8])
        |    - 2*list_dot_product(q.qv[enc.j*8+1 : enc.j*8+8], c.ev[enc.j*8+1 : enc.j*8+8])) AS adist
        |  FROM enc JOIN cb c ON enc.code = c.code, q
        |  GROUP BY enc.vec_id
        |)
        |SELECT id, round(adist, 6) AS adist FROM (
        |  SELECT CAST(vec_id AS VARCHAR) AS id, adist FROM adc
        |  ORDER BY adist ASC, id ASC LIMIT 10
        |) ORDER BY adist ASC, id ASC""".stripMargin,
    // Two-stage PQ oracle: same codebook/encode/ADC CTEs, then the
    // (adist ASC, id ASC) top-50 shortlist reranked by exact cosine.
    "q_knn_pq_refined" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
        |cb AS (SELECT vec_id AS code, ev FROM e WHERE vec_id < 16),
        |sub AS (SELECT CAST(j AS INT) AS j FROM range(8) t(j)),
        |enc AS (
        |  SELECT vec_id, j, code FROM (
        |    SELECT v.vec_id, s.j, c.code,
        |      row_number() OVER (PARTITION BY v.vec_id, s.j ORDER BY
        |        list_dot_product(c.ev[s.j*8+1 : s.j*8+8], c.ev[s.j*8+1 : s.j*8+8])
        |        - 2*list_dot_product(v.ev[s.j*8+1 : s.j*8+8], c.ev[s.j*8+1 : s.j*8+8]) ASC,
        |        c.code ASC) AS rn
        |    FROM e v, sub s, cb c) WHERE rn = 1
        |),
        |q AS (SELECT ev AS qv FROM e WHERE vec_id = 0),
        |adc AS (
        |  SELECT enc.vec_id, sum(
        |    list_dot_product(c.ev[enc.j*8+1 : enc.j*8+8], c.ev[enc.j*8+1 : enc.j*8+8])
        |    - 2*list_dot_product(q.qv[enc.j*8+1 : enc.j*8+8], c.ev[enc.j*8+1 : enc.j*8+8])) AS adist
        |  FROM enc JOIN cb c ON enc.code = c.code, q
        |  GROUP BY enc.vec_id
        |),
        |cand AS (SELECT vec_id FROM adc ORDER BY adist ASC, CAST(vec_id AS VARCHAR) ASC LIMIT 50)
        |SELECT id, round(score, 6) AS score FROM (
        |  SELECT CAST(c.vec_id AS VARCHAR) AS id,
        |         list_cosine_similarity(e.ev, q.qv) AS score
        |  FROM cand c JOIN e ON c.vec_id = e.vec_id, q
        |  ORDER BY score DESC, id ASC LIMIT 10
        |) ORDER BY score DESC, id ASC""".stripMargin,
    "q_knn_batch" ->
      """SELECT query_id, CAST(rank AS INT) AS rank, id, round(score, 6) AS score FROM (
        |  SELECT q.vec_id AS query_id, CAST(e.vec_id AS VARCHAR) AS id,
        |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) AS score,
        |    row_number() OVER (
        |      PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) DESC,
        |               CAST(e.vec_id AS VARCHAR) ASC) AS rank
        |  FROM embeddings e, (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 3) q
        |) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q_knn_batch_ann" -> knnBatchAnnOracle,
    "q_knn_batch_ann_clustered" -> knnBatchAnnOracle,
    "q_knn_quantized" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS d FROM embeddings
        |), sc AS (
        |  SELECT vec_id, d, list_max(list_transform(d, x -> abs(x))) AS s FROM e
        |), qz AS (
        |  SELECT vec_id,
        |    CASE WHEN s > 0 THEN list_transform(d, x -> floor(x * 127.0 / s + 0.5))
        |         ELSE list_transform(d, x -> 0.0) END AS q
        |  FROM sc
        |), qv AS (SELECT q AS qq FROM qz WHERE vec_id = 0)
        |SELECT id, round(score, 6) AS score FROM (
        |  SELECT CAST(z.vec_id AS VARCHAR) AS id,
        |    list_dot_product(z.q, qv.qq) /
        |      (sqrt(list_dot_product(z.q, z.q)) * sqrt(list_dot_product(qv.qq, qv.qq))) AS score
        |  FROM qz z, qv
        |  ORDER BY score DESC, id ASC LIMIT 10
        |) ORDER BY score DESC, id ASC""".stripMargin,
    "q_stream_window_stats" ->
      """SELECT time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)) AS win_start,
        |  event_type, count(*) AS n_events,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_ann_topk" -> annOracle,
    "q_ann_topk_clustered" -> annOracle,
    "q_ann_forget" -> annForgetOracle,
    // bare-id bloom forget: same survivor contract, different tombstones
    "q_ann_forget_by_id" -> annForgetOracleFor(Seq(5L, 13L, 21L, 33L, 44L)),
    // rebuild cutover: same generator as annOracle at the POST-rebuild dial
    "q_ann_rebuild" -> annOracleFor(8, 2),
    // IVF oracle: replicate nearest-centroid assignment (argmin |c|²−2·v·c,
    // ties to smaller cid — |v|² is row-constant so this is argmin L2²),
    // probe the 4 nearest lists, exact cosine inside.
    "q_sql_knn" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
        |scored AS (
        |  SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |    list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv) /
        |      (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) * sqrt(list_dot_product(q.qv, q.qv))) AS score
        |  FROM embeddings e, q ORDER BY score DESC, id ASC LIMIT 10
        |)
        |SELECT id, round(score, 6) AS score FROM scored
        |ORDER BY score DESC, id ASC""".stripMargin,
    // Semantic-dedup oracle: same in-SQL centroid derivation + assignment
    // as q_ann_ivf, then the within-cluster dominated set
    "q_dedup_semantic" ->
      """WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
        |           FROM embeddings WHERE vec_id < 16),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
        |asg AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT e.vec_id, c.cid,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_dot_product(c.cv, c.cv) - 2*list_dot_product(e.ev, c.cv) ASC,
        |        c.cid ASC) AS rn
        |    FROM e, c) WHERE rn = 1
        |),
        |ae AS (SELECT asg.vec_id, asg.cid, e.ev FROM asg JOIN e USING (vec_id)),
        |dom AS (SELECT DISTINCT b.vec_id FROM ae a JOIN ae b
        |        ON a.cid = b.cid AND a.vec_id < b.vec_id
        |        AND list_cosine_similarity(a.ev, b.ev) >= 0.4)
        |SELECT ae.vec_id AS id, ae.cid AS list_id,
        |  ae.vec_id NOT IN (SELECT vec_id FROM dom) AS keep
        |FROM ae ORDER BY id""".stripMargin,
    "q_ann_ivf" -> ivfOracle,
    "q_ann_ivf_clustered" -> ivfOracle,
    // quantizer rebuild: post-cutover c=16 id-seed assignment = ivfOracle
    "q_ann_ivf_rebuild" -> ivfOracle,
    // IVF-PQ: centroids = vec_id < 8; residual codebooks = residuals of
    // vec_ids 8..23 (code = vec_id - 8); nprobe 3; ADC = per-subspace LUT
    // terms + the per-list |q - c_l|^2 constant (NOT rank-invariant across
    // lists); rerank 40 exact-cosine refine
    "q_ann_ivf_pq" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
        |c AS (SELECT vec_id AS cid, ev AS cv FROM e WHERE vec_id < 8),
        |asg AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT e.vec_id, c.cid,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_dot_product(c.cv, c.cv) - 2*list_dot_product(e.ev, c.cv) ASC,
        |        c.cid ASC) AS rn
        |    FROM e, c) WHERE rn = 1
        |),
        |res AS (
        |  SELECT e.vec_id, a.cid,
        |    list_transform(range(1, len(e.ev) + 1), i -> e.ev[i] - c.cv[i]) AS rv
        |  FROM e JOIN asg a ON e.vec_id = a.vec_id JOIN c ON a.cid = c.cid
        |),
        |rcb AS (SELECT vec_id - 8 AS code, rv FROM res WHERE vec_id >= 8 AND vec_id < 24),
        |sub AS (SELECT CAST(j AS INT) AS j FROM range(8) t(j)),
        |enc AS (
        |  SELECT vec_id, j, code FROM (
        |    SELECT v.vec_id, s.j, r.code,
        |      row_number() OVER (PARTITION BY v.vec_id, s.j ORDER BY
        |        list_dot_product(r.rv[s.j*8+1 : s.j*8+8], r.rv[s.j*8+1 : s.j*8+8])
        |        - 2*list_dot_product(v.rv[s.j*8+1 : s.j*8+8], r.rv[s.j*8+1 : s.j*8+8]) ASC,
        |        r.code ASC) AS rn
        |    FROM res v, sub s, rcb r) WHERE rn = 1
        |),
        |q AS (SELECT ev AS qv FROM e WHERE vec_id = 0),
        |qp AS (
        |  SELECT cid FROM (
        |    SELECT c.cid, row_number() OVER (ORDER BY
        |      list_dot_product(c.cv, c.cv) - 2*list_dot_product(q.qv, c.cv) ASC,
        |      c.cid ASC) AS rn
        |    FROM c, q) WHERE rn <= 3
        |),
        |qr AS (
        |  SELECT c.cid,
        |    list_transform(range(1, len(q.qv) + 1), i -> q.qv[i] - c.cv[i]) AS qrv
        |  FROM c JOIN qp USING (cid), q
        |),
        |adc AS (
        |  SELECT enc.vec_id,
        |    sum(list_dot_product(r.rv[enc.j*8+1 : enc.j*8+8], r.rv[enc.j*8+1 : enc.j*8+8])
        |        - 2*list_dot_product(qr.qrv[enc.j*8+1 : enc.j*8+8], r.rv[enc.j*8+1 : enc.j*8+8]))
        |      + max(list_dot_product(qr.qrv, qr.qrv)) AS adist
        |  FROM enc
        |  JOIN asg ON enc.vec_id = asg.vec_id
        |  JOIN qr ON asg.cid = qr.cid
        |  JOIN rcb r ON enc.code = r.code
        |  GROUP BY enc.vec_id
        |),
        |cand AS (SELECT vec_id FROM adc ORDER BY adist ASC, CAST(vec_id AS VARCHAR) ASC LIMIT 40)
        |SELECT id, round(score, 6) AS score FROM (
        |  SELECT CAST(cd.vec_id AS VARCHAR) AS id,
        |         list_cosine_similarity(e.ev, q.qv) AS score
        |  FROM cand cd JOIN e ON cd.vec_id = e.vec_id, q
        |  ORDER BY score DESC, id ASC LIMIT 10
        |) ORDER BY score DESC, id ASC""".stripMargin,
    "q_media_meta" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image/x-fake' WHEN doc_id % 3 = 1 THEN 'audio/x-fake' ELSE 'video/x-fake' END AS mime,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
        |  octet_length(encode(text)) AS n_bytes,
        |  64 + octet_length(encode(text)) % 576 AS width,
        |  64 + (octet_length(encode(text)) * 31) % 312 AS height
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_media_frames" ->
      """SELECT doc_id, frame_idx,
        |  length(substring(text, CAST(frame_idx * 100 + 1 AS INT), 100)) AS frame_len,
        |  md5(substring(text, CAST(frame_idx * 100 + 1 AS INT), 100)) AS frame_md5
        |FROM documents,
        |     unnest(range(least(CAST(ceil(length(text) / 100.0) AS BIGINT), 4))) AS t(frame_idx)
        |WHERE length(text) > 0
        |ORDER BY doc_id, frame_idx""".stripMargin,
    "q_media_scenes" ->
      """WITH c AS (
        |  SELECT doc_id, substring(text, 1, 100) || text AS ct
        |  FROM documents WHERE length(text) > 0
        |), f AS (
        |  SELECT doc_id, frame_idx,
        |    md5(substring(ct, CAST(frame_idx * 100 + 1 AS INT), 100)) AS fm
        |  FROM c,
        |       unnest(range(least(CAST(ceil(length(ct) / 100.0) AS BIGINT), 5))) AS t(frame_idx)
        |), b AS (
        |  SELECT doc_id, frame_idx, fm,
        |    CASE WHEN lag(fm) OVER (PARTITION BY doc_id ORDER BY frame_idx)
        |         IS DISTINCT FROM fm THEN 1 ELSE 0 END AS boundary
        |  FROM f
        |), sc AS (
        |  SELECT doc_id, frame_idx, fm,
        |    CAST(sum(boundary) OVER (PARTITION BY doc_id ORDER BY frame_idx
        |      ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS scene_id
        |  FROM b
        |)
        |SELECT doc_id, scene_id, count(*) AS n_frames,
        |  min(frame_idx) AS start_frame, min(fm) AS frame_md5
        |FROM sc GROUP BY doc_id, scene_id ORDER BY doc_id, scene_id""".stripMargin,
    "q_curate_chunks" ->
      """WITH t AS (
        |  SELECT doc_id AS id, string_split_regex(text, '\s+') AS toks FROM documents
        |), n AS (
        |  SELECT id, toks, len(toks) AS n FROM t WHERE len(toks) > 0
        |)
        |SELECT id, CAST(k AS INT) AS chunk_idx,
        |  array_to_string(list_slice(toks, k*48 + 1, k*48 + 64), ' ') AS chunk_text,
        |  CAST(least(64, n - k*48) AS INT) AS n_tokens
        |FROM n, unnest(range(0,
        |  CAST(ceil(CAST(greatest(n - 64, 0) AS DOUBLE) / 48) AS BIGINT) + 1)) AS u(k)
        |ORDER BY id, chunk_idx""".stripMargin,
    "q_curate_split" ->
      """SELECT CASE WHEN ((doc_id % 1000003) * 97 + 13) % 1000 < 800 THEN 'train'
        |            WHEN ((doc_id % 1000003) * 97 + 13) % 1000 < 900 THEN 'val'
        |            ELSE 'test' END AS split,
        |  count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // Leakage-audit oracle: exact pairwise-Jaccard near-dup pairs (the
    // q_dedup_jaccard ground truth) bucketed by the hash-split matrix
    "q_curate_split_leakage" ->
      """WITH t AS MATERIALIZED (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(1, len(string_split_regex(text, '\s+'))),
        |    i -> string_split_regex(text, '\s+')[i] || ' ' || string_split_regex(text, '\s+')[i+1])) AS sh
        |  FROM documents
        |), p AS MATERIALIZED (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM t a, t b
        |  WHERE a.doc_id < b.doc_id
        |    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5
        |), s AS (
        |  SELECT doc_id,
        |    CASE WHEN ((doc_id % 1000003) * 97 + 13) % 1000 < 800 THEN 'train'
        |         WHEN ((doc_id % 1000003) * 97 + 13) % 1000 < 900 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents
        |)
        |SELECT least(sa.split, sb.split) AS split_a,
        |       greatest(sa.split, sb.split) AS split_b, count(*) AS n_pairs
        |FROM p
        |JOIN s sa ON sa.doc_id = p.id_a
        |JOIN s sb ON sb.doc_id = p.id_b
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // Histogram-quantile oracle: same quality formula (rounded to 6 dp
    // BEFORE binning, like the Spark plan), same bin transform, integer
    // rank targets, identical interpolation expression
    "q_curate_quality_quantiles" ->
      s"""WITH t AS (
         |  SELECT doc_id, string_split_regex(text, '\\s+') AS toks,
         |         length(regexp_replace(text, '\\s', '', 'g')) AS nonws,
         |         length(regexp_replace(text, '[a-z0-9\\s]', '', 'g')) AS punct
         |  FROM documents
         |), sc AS (
         |  SELECT round(
         |    0.4*least(len(toks)/100.0, 1.0)
         |    + 0.3*(1.0 - CASE WHEN nonws > 0 THEN CAST(punct AS DOUBLE)/nonws ELSE 0.0 END)
         |    + 0.3*least((CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, x -> list_contains(${profileSql("en")}, x))) AS DOUBLE)/len(toks) ELSE 0.0 END)/0.1, 1.0),
         |    6) AS quality
         |  FROM t
         |), b AS (
         |  SELECT CAST(least(greatest(floor((quality - CAST(0.0 AS DOUBLE)) / CAST(1.0 AS DOUBLE) * CAST(256.0 AS DOUBLE)), CAST(0.0 AS DOUBLE)), CAST(255.0 AS DOUBLE)) AS INT) AS bin FROM sc
         |), c AS (
         |  SELECT bin, count(*) AS cnt FROM b GROUP BY bin
         |), cc AS (
         |  SELECT bin, cnt, sum(cnt) OVER (ORDER BY bin) AS cum FROM c
         |), tot AS (
         |  SELECT CAST(sum(cnt) AS BIGINT) AS n FROM c
         |), qv AS (
         |  SELECT CAST(unnest([0.25, 0.5, 0.75, 0.9]) AS DOUBLE) AS q
         |), tg AS (
         |  SELECT q, CAST(ceil(q * n) AS BIGINT) AS target FROM qv, tot
         |), pick AS (
         |  SELECT tg.q, tg.target, min(cc.bin) AS bin
         |  FROM tg JOIN cc ON cc.cum >= tg.target
         |  GROUP BY 1, 2
         |)
         |SELECT p.q, round(CAST(0.0 AS DOUBLE) + (CAST(p.bin AS DOUBLE)
         |  + CAST(p.target - (cc.cum - cc.cnt) AS DOUBLE) / CAST(cc.cnt AS DOUBLE))
         |  * (CAST(1.0 AS DOUBLE) / CAST(256.0 AS DOUBLE)), 6) AS est
         |FROM pick p JOIN cc ON cc.bin = p.bin
         |ORDER BY q""".stripMargin,
    // Grouped-quantile oracle: quality chain + per-source partitioned
    // cumulative window over the bin sketch
    // PSI oracle: the quality chain, 32-bin counts, dense bin spine with
    // the eps floor on both sides, then the sorted-fold PSI sum
    "q_profile_psi" ->
      s"""WITH t AS (
         |  SELECT source, string_split_regex(text, '\\s+') AS toks,
         |         length(regexp_replace(text, '\\s', '', 'g')) AS nonws,
         |         length(regexp_replace(text, '[a-z0-9\\s]', '', 'g')) AS punct
         |  FROM documents
         |), sc AS (
         |  SELECT source AS grp, round(
         |    0.4*least(len(toks)/100.0, 1.0)
         |    + 0.3*(1.0 - CASE WHEN nonws > 0 THEN CAST(punct AS DOUBLE)/nonws ELSE 0.0 END)
         |    + 0.3*least((CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, x -> list_contains(${profileSql("en")}, x))) AS DOUBLE)/len(toks) ELSE 0.0 END)/0.1, 1.0),
         |    6) AS q
         |  FROM t
         |), b AS (
         |  SELECT grp, CAST(least(greatest(floor((q - CAST(0.0 AS DOUBLE)) / CAST(1.0 AS DOUBLE) * CAST(32.0 AS DOUBLE)), CAST(0.0 AS DOUBLE)), CAST(31.0 AS DOUBLE)) AS INT) AS bin FROM sc
         |), c AS (
         |  SELECT grp, bin, count(*) AS cnt FROM b GROUP BY 1, 2
         |), tots AS (
         |  SELECT grp, CAST(sum(cnt) AS BIGINT) AS n FROM c GROUP BY 1
         |), spine AS (
         |  SELECT CAST(unnest(range(0, 32)) AS INT) AS bin
         |), dense AS (
         |  SELECT t2.grp, s.bin, t2.n,
         |    greatest(CAST(COALESCE(c.cnt, 0) AS DOUBLE) / t2.n, CAST(0.0001 AS DOUBLE)) AS rate
         |  FROM (tots t2 CROSS JOIN spine s)
         |  LEFT JOIN c ON c.grp = t2.grp AND c.bin = s.bin
         |), ref AS (
         |  SELECT bin, rate AS ref_rate FROM dense WHERE grp = 'src0'
         |), terms AS (
         |  SELECT d.grp, d.n, (d.rate - r.ref_rate) * ln(d.rate / r.ref_rate) AS term
         |  FROM dense d JOIN ref r USING (bin) WHERE d.grp <> 'src0'
         |), ag AS (
         |  SELECT grp, CAST(max(n) AS BIGINT) AS n_rows, list(term ORDER BY term) AS ts
         |  FROM terms GROUP BY 1
         |)
         |SELECT grp, n_rows,
         |  round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), ts), (a, x) -> a + x), 6) AS psi
         |FROM ag ORDER BY grp""".stripMargin,
    "q_curate_quality_by_source" ->
      s"""WITH t AS (
         |  SELECT source, string_split_regex(text, '\\s+') AS toks,
         |         length(regexp_replace(text, '\\s', '', 'g')) AS nonws,
         |         length(regexp_replace(text, '[a-z0-9\\s]', '', 'g')) AS punct
         |  FROM documents
         |), sc AS (
         |  SELECT source AS grp, round(
         |    0.4*least(len(toks)/100.0, 1.0)
         |    + 0.3*(1.0 - CASE WHEN nonws > 0 THEN CAST(punct AS DOUBLE)/nonws ELSE 0.0 END)
         |    + 0.3*least((CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, x -> list_contains(${profileSql("en")}, x))) AS DOUBLE)/len(toks) ELSE 0.0 END)/0.1, 1.0),
         |    6) AS quality
         |  FROM t
         |), b AS (
         |  SELECT grp, CAST(least(greatest(floor((quality - CAST(0.0 AS DOUBLE)) / CAST(1.0 AS DOUBLE) * CAST(256.0 AS DOUBLE)), CAST(0.0 AS DOUBLE)), CAST(255.0 AS DOUBLE)) AS INT) AS bin FROM sc
         |), c AS (
         |  SELECT grp, bin, count(*) AS cnt FROM b GROUP BY 1, 2
         |), cc AS (
         |  SELECT grp, bin, cnt, sum(cnt) OVER (PARTITION BY grp ORDER BY bin) AS cum FROM c
         |), tt AS (
         |  SELECT grp, CAST(sum(cnt) AS BIGINT) AS n FROM c GROUP BY grp
         |), qv AS (
         |  SELECT CAST(unnest([0.25, 0.75]) AS DOUBLE) AS q
         |), tg AS (
         |  SELECT grp, q, CAST(ceil(q * n) AS BIGINT) AS target FROM qv, tt
         |), pick AS (
         |  SELECT tg.grp, tg.q, tg.target, min(cc.bin) AS bin
         |  FROM tg JOIN cc ON cc.grp = tg.grp AND cc.cum >= tg.target
         |  GROUP BY 1, 2, 3
         |)
         |SELECT p.grp, p.q, round(CAST(0.0 AS DOUBLE) + (CAST(p.bin AS DOUBLE)
         |  + CAST(p.target - (cc.cum - cc.cnt) AS DOUBLE) / CAST(cc.cnt AS DOUBLE))
         |  * (CAST(1.0 AS DOUBLE) / CAST(256.0 AS DOUBLE)), 6) AS est
         |FROM pick p JOIN cc ON cc.grp = p.grp AND cc.bin = p.bin
         |ORDER BY p.grp, p.q""".stripMargin,
    // CCNet-bucket oracle: the proven unigram-NLL chain (bit-parity sorted
    // fold) feeds the histogram-quantile CTE chain at the tercile targets;
    // thresholds rounded per-estimate then min/max'd, same as the Spark agg
    "q_curate_ccnet_buckets" ->
      """WITH tok AS (
        |  SELECT doc_id AS id, unnest(string_split_regex(text, '\s+')) AS t FROM documents
        |), lm AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
        |tot AS (SELECT count(*) AS n FROM tok),
        |lp AS (
        |  SELECT id, ln(CAST(c AS DOUBLE)) - ln(CAST(n AS DOUBLE)) AS lp
        |  FROM tok JOIN lm USING (t), tot
        |), ag AS (
        |  SELECT id, list(lp ORDER BY lp) AS lps, count(*) AS n_tokens FROM lp GROUP BY id
        |), sc AS (
        |  SELECT id, round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), lps), (a, x) -> a + x) / -n_tokens, 6) AS nll
        |  FROM ag
        |), ext AS (
        |  SELECT min(nll) AS lo, max(nll) AS hi FROM sc
        |), b AS (
        |  SELECT CASE WHEN ext.hi = ext.lo THEN 0
        |    ELSE CAST(least(greatest(floor((nll - ext.lo) / (ext.hi - ext.lo) * CAST(256.0 AS DOUBLE)), CAST(0.0 AS DOUBLE)), CAST(255.0 AS DOUBLE)) AS INT) END AS bin
        |  FROM sc, ext
        |), c AS (
        |  SELECT bin, count(*) AS cnt FROM b GROUP BY bin
        |), cc AS (
        |  SELECT bin, cnt, sum(cnt) OVER (ORDER BY bin) AS cum FROM c
        |), tct AS (
        |  SELECT CAST(sum(cnt) AS BIGINT) AS n FROM c
        |), qv AS (
        |  SELECT CAST(1.0 AS DOUBLE)/CAST(3.0 AS DOUBLE) AS q
        |  UNION ALL SELECT CAST(2.0 AS DOUBLE)/CAST(3.0 AS DOUBLE)
        |), tg AS (
        |  SELECT q, CAST(ceil(q * n) AS BIGINT) AS target FROM qv, tct
        |), pick AS (
        |  SELECT tg.q, tg.target, min(cc.bin) AS bin
        |  FROM tg JOIN cc ON cc.cum >= tg.target
        |  GROUP BY 1, 2
        |), est AS (
        |  SELECT p.q, round(ext.lo + (CAST(p.bin AS DOUBLE)
        |    + CAST(p.target - (cc.cum - cc.cnt) AS DOUBLE) / CAST(cc.cnt AS DOUBLE))
        |    * ((ext.hi - ext.lo) / CAST(256.0 AS DOUBLE)), 6) AS e
        |  FROM pick p JOIN cc ON cc.bin = p.bin, ext
        |), th AS (
        |  SELECT min(e) AS t1, max(e) AS t2 FROM est
        |)
        |SELECT CASE WHEN sc.nll <= th.t1 THEN 'head'
        |            WHEN sc.nll <= th.t2 THEN 'middle'
        |            ELSE 'tail' END AS bucket,
        |  th.t1, th.t2,
        |  count(*) AS n_docs, CAST(sum(sc.id) AS BIGINT) AS sum_ids
        |FROM sc, th GROUP BY 1, th.t1, th.t2
        |ORDER BY bucket""".stripMargin,
    // Sketch-gated twin: the histogram-quantile threshold (identical CTE
    // chain to the q_curate_quality_quantiles oracle at q=0.25) gates the
    // same rounded scores
    "q_curate_quality_filter_sketch" ->
      s"""WITH t AS (
         |  SELECT doc_id, string_split_regex(text, '\\s+') AS toks,
         |         length(regexp_replace(text, '\\s', '', 'g')) AS nonws,
         |         length(regexp_replace(text, '[a-z0-9\\s]', '', 'g')) AS punct
         |  FROM documents
         |), sc AS (
         |  SELECT doc_id, round(
         |    0.4*least(len(toks)/100.0, 1.0)
         |    + 0.3*(1.0 - CASE WHEN nonws > 0 THEN CAST(punct AS DOUBLE)/nonws ELSE 0.0 END)
         |    + 0.3*least((CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, x -> list_contains(${profileSql("en")}, x))) AS DOUBLE)/len(toks) ELSE 0.0 END)/0.1, 1.0),
         |    6) AS quality
         |  FROM t
         |), b AS (
         |  SELECT CAST(least(greatest(floor((quality - CAST(0.0 AS DOUBLE)) / CAST(1.0 AS DOUBLE) * CAST(256.0 AS DOUBLE)), CAST(0.0 AS DOUBLE)), CAST(255.0 AS DOUBLE)) AS INT) AS bin FROM sc
         |), c AS (
         |  SELECT bin, count(*) AS cnt FROM b GROUP BY bin
         |), cc AS (
         |  SELECT bin, cnt, sum(cnt) OVER (ORDER BY bin) AS cum FROM c
         |), tot AS (
         |  SELECT CAST(sum(cnt) AS BIGINT) AS n FROM c
         |), tg AS (
         |  SELECT CAST(0.25 AS DOUBLE) AS q, CAST(ceil(CAST(0.25 AS DOUBLE) * n) AS BIGINT) AS target FROM tot
         |), pick AS (
         |  SELECT tg.q, tg.target, min(cc.bin) AS bin
         |  FROM tg JOIN cc ON cc.cum >= tg.target
         |  GROUP BY 1, 2
         |), th AS (
         |  SELECT round(CAST(0.0 AS DOUBLE) + (CAST(p.bin AS DOUBLE)
         |    + CAST(p.target - (cc.cum - cc.cnt) AS DOUBLE) / CAST(cc.cnt AS DOUBLE))
         |    * (CAST(1.0 AS DOUBLE) / CAST(256.0 AS DOUBLE)), 6) AS q25
         |  FROM pick p JOIN cc ON cc.bin = p.bin
         |)
         |SELECT sc.doc_id, sc.quality, th.q25
         |FROM sc, th WHERE sc.quality >= th.q25
         |ORDER BY sc.doc_id""".stripMargin,
    // Same quality formula as the q_text_quality oracle, then the exact
    // interpolated 25th percentile gates the corpus (computed over the
    // ROUNDED scores, like the Spark plan; output q25 rounded after).
    "q_curate_quality_filter" ->
      s"""WITH t AS (
        |  SELECT doc_id, string_split_regex(text, '\\s+') AS toks,
        |         length(regexp_replace(text, '\\s', '', 'g')) AS nonws,
        |         length(regexp_replace(text, '[a-z0-9\\s]', '', 'g')) AS punct
        |  FROM documents
        |), sc AS (
        |  SELECT doc_id, round(
        |    0.4*least(len(toks)/100.0, 1.0)
        |    + 0.3*(1.0 - CASE WHEN nonws > 0 THEN CAST(punct AS DOUBLE)/nonws ELSE 0.0 END)
        |    + 0.3*least((CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, x -> list_contains(${profileSql("en")}, x))) AS DOUBLE)/len(toks) ELSE 0.0 END)/0.1, 1.0),
        |    6) AS quality
        |  FROM t
        |), th AS (SELECT quantile_cont(quality, 0.25) AS q25 FROM sc)
        |SELECT doc_id, quality, round(q25, 6) AS q25
        |FROM sc, th WHERE quality >= q25 ORDER BY doc_id""".stripMargin,
    // Repetition stats: duplicate fraction of words / 2-grams / 3-grams,
    // n-gram spelling identical to WordNgramsExpr (space-joined); pass is
    // computed on the UNROUNDED fractions like the Spark plan
    "q_curate_gopher" ->
      """WITH t AS (
        |  SELECT doc_id AS id, string_split_regex(text, '\s+') AS w FROM documents
        |), g AS (
        |  SELECT id, w,
        |    list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]) AS g2,
        |    list_transform(range(1, len(w)-1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS g3
        |  FROM t
        |), s AS (
        |  SELECT id, CAST(len(w) AS INT) AS n_words,
        |    CASE WHEN len(w) > 0 THEN CAST(len(w) - len(list_distinct(w)) AS DOUBLE)/len(w) ELSE 0.0 END AS f1,
        |    CASE WHEN len(g2) > 0 THEN CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE)/len(g2) ELSE 0.0 END AS f2,
        |    CASE WHEN len(g3) > 0 THEN CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE)/len(g3) ELSE 0.0 END AS f3
        |  FROM g
        |)
        |SELECT id, n_words,
        |  round(f1, 6) AS dup_word_frac, round(f2, 6) AS dup_2gram_frac,
        |  round(f3, 6) AS dup_3gram_frac,
        |  (n_words >= 10 AND n_words <= 100000 AND f1 <= 0.6 AND f2 <= 0.45 AND f3 <= 0.35) AS pass
        |FROM s ORDER BY id""".stripMargin,
    // Decontamination oracle: same 5-gram construction (space-joined), same
    // rolling-polynomial fingerprint (shared polyhash fragment), intersect
    // against the flattened distinct eval fingerprint list
    "q_curate_decontam" ->
      s"""WITH tok AS (
         |  SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM documents
         |), gr AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |    list_transform(range(1, len(w)-3), i -> w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]),
         |    g -> $polyhashSql)) AS fps
         |  FROM tok
         |), ev AS (SELECT list_distinct(flatten(list(fps))) AS efps FROM gr WHERE doc_id < 20)
         |SELECT gr.doc_id AS id,
         |  CAST(len(list_intersect(gr.fps, ev.efps)) AS BIGINT) AS n_hits,
         |  len(list_intersect(gr.fps, ev.efps)) > 0 AS contaminated
         |FROM gr, ev ORDER BY id""".stripMargin,
    // LangID-eval oracle: the langid CASE vs the ground-truth column,
    // confusion counts + per-truth fractions
    "q_eval_langid_accuracy" ->
      s"""WITH t AS (
         |  SELECT lang, string_split_regex(text, '\\s+') AS toks FROM documents
         |), sc AS (
         |  SELECT lang,
         |    len(list_filter(toks, x -> list_contains(${profileSql("en")}, x))) AS s_en,
         |    len(list_filter(toks, x -> list_contains(${profileSql("de")}, x))) AS s_de,
         |    len(list_filter(toks, x -> list_contains(${profileSql("es")}, x))) AS s_es,
         |    len(list_filter(toks, x -> list_contains(${profileSql("fr")}, x))) AS s_fr
         |  FROM t
         |), p AS (
         |  SELECT lang, CASE
         |    WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en > 0 THEN 'en'
         |    WHEN s_de >= s_es AND s_de >= s_fr AND s_de > 0 THEN 'de'
         |    WHEN s_es >= s_fr AND s_es > 0 THEN 'es'
         |    WHEN s_fr > 0 THEN 'fr' ELSE 'und' END AS lang_pred
         |  FROM sc
         |), conf AS (
         |  SELECT lang, lang_pred, count(*) AS n FROM p GROUP BY 1, 2
         |), tot AS (SELECT lang, count(*) AS n_true FROM p GROUP BY 1)
         |SELECT conf.lang, conf.lang_pred, conf.n,
         |  round(CAST(conf.n AS DOUBLE) / tot.n_true, 6) AS frac_of_true
         |FROM conf JOIN tot USING (lang)
         |ORDER BY lang, lang_pred""".stripMargin,
    // Dataset-card oracle: the shared quality/langid chains, one
    // aggregate row, melted to the tall (metric, value) frame
    "q_pipeline_dataset_card" ->
      s"""WITH t AS (
         |  SELECT source, text, string_split_regex(text, '\\s+') AS toks,
         |    length(regexp_replace(text, '\\s', '', 'g')) AS nonws,
         |    length(regexp_replace(text, '[a-z0-9\\s]', '', 'g')) AS punct
         |  FROM documents
         |), sc AS (
         |  SELECT source, text, toks, nonws, punct,
         |    len(list_filter(toks, x -> list_contains(${profileSql("en")}, x))) AS s_en,
         |    len(list_filter(toks, x -> list_contains(${profileSql("de")}, x))) AS s_de,
         |    len(list_filter(toks, x -> list_contains(${profileSql("es")}, x))) AS s_es,
         |    len(list_filter(toks, x -> list_contains(${profileSql("fr")}, x))) AS s_fr
         |  FROM t
         |), qd AS (
         |  SELECT source, text, toks,
         |    round(0.4*least(len(toks)/100.0, 1.0)
         |      + 0.3*(1.0 - CASE WHEN nonws > 0 THEN CAST(punct AS DOUBLE)/nonws ELSE 0.0 END)
         |      + 0.3*least((CASE WHEN len(toks) > 0 THEN CAST(s_en AS DOUBLE)/len(toks) ELSE 0.0 END)/0.1, 1.0),
         |      6) AS q,
         |    CASE
         |      WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en > 0 THEN 'en'
         |      WHEN s_de >= s_es AND s_de >= s_fr AND s_de > 0 THEN 'de'
         |      WHEN s_es >= s_fr AND s_es > 0 THEN 'es'
         |      WHEN s_fr > 0 THEN 'fr' ELSE 'und' END AS lang
         |  FROM sc
         |), m AS (
         |  SELECT count(*) AS n_docs,
         |    CAST(sum(len(toks)) AS BIGINT) AS n_tokens,
         |    count(DISTINCT source) AS n_sources,
         |    count(DISTINCT md5(text)) AS n_dist,
         |    sum(CAST(q AS DECIMAL(18,6))) AS sq,
         |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS n_en
         |  FROM qd
         |)
         |SELECT metric, value FROM (
         |  SELECT 'n_docs' AS metric, CAST(n_docs AS DOUBLE) AS value FROM m
         |  UNION ALL SELECT 'n_tokens', CAST(n_tokens AS DOUBLE) FROM m
         |  UNION ALL SELECT 'n_sources', CAST(n_sources AS DOUBLE) FROM m
         |  UNION ALL SELECT 'exact_dup_rate',
         |    round(1.0 - CAST(n_dist AS DOUBLE)/n_docs, 6) FROM m
         |  UNION ALL SELECT 'mean_quality',
         |    round(CAST(sq AS DOUBLE)/n_docs, 6) FROM m
         |  UNION ALL SELECT 'en_frac',
         |    round(CAST(n_en AS DOUBLE)/n_docs, 6) FROM m
         |) ORDER BY metric""".stripMargin,
    // Contamination-report oracle: the same distinct-gram fingerprint
    // tables, pairwise intersect counts, row_number top-10 per eval doc
    "q_curate_contam_report" ->
      s"""WITH tok AS (
         |  SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM documents
         |), gr AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |    list_transform(range(1, len(w)-3), i -> w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]),
         |    g -> $polyhashSql)) AS fps
         |  FROM tok
         |), p AS (
         |  SELECT ev.doc_id AS eval_id, tr.doc_id AS train_id,
         |    CAST(len(list_intersect(ev.fps, tr.fps)) AS BIGINT) AS n_shared_grams
         |  FROM gr ev, gr tr
         |  WHERE ev.doc_id < 20 AND tr.doc_id >= 20
         |    AND len(list_intersect(ev.fps, tr.fps)) > 0
         |)
         |SELECT eval_id, train_id, n_shared_grams FROM (
         |  SELECT *, row_number() OVER (PARTITION BY eval_id
         |    ORDER BY n_shared_grams DESC, train_id ASC) AS rn
         |  FROM p)
         |WHERE rn <= 10
         |ORDER BY eval_id, n_shared_grams DESC, train_id""".stripMargin,
    // Per-label k-NN oracle: the row_number window twin of the GroupTopK
    // heap — selection on the exact double score, rounding after
    "q_knn_per_label" ->
      """SELECT label, id, round(score, 6) AS score FROM (
        |  SELECT e.label, CAST(e.vec_id AS VARCHAR) AS id,
        |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.qe AS DOUBLE[])) AS score,
        |    row_number() OVER (
        |      PARTITION BY e.label
        |      ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.qe AS DOUBLE[])) DESC,
        |        CAST(e.vec_id AS VARCHAR) ASC) AS rn
        |  FROM embeddings e, (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) q
        |) WHERE rn <= 3 ORDER BY label, score DESC, id""".stripMargin,
    // Centroid oracle: per-(label, position) mean over the unnested
    // embeddings; double sums differ only in the last ulps across engines
    // and the 6-dp rounding absorbs that
    "q_embed_drift" -> embedDriftOracle,
    // the precomputed-reference form must produce IDENTICAL rows
    "q_embed_drift_ref" -> embedDriftOracle,
    "q_embed_label_centroid" ->
      """WITH e AS (
        |  SELECT label, CAST(unnest(embedding) AS DOUBLE) AS v,
        |    generate_subscripts(embedding, 1) - 1 AS pos
        |  FROM embeddings
        |)
        |SELECT label, CAST(count(*) AS BIGINT) AS n, CAST(pos AS INT) AS pos,
        |  round(avg(v), 6) AS mean_v
        |FROM e GROUP BY label, pos ORDER BY label, pos""".stripMargin,
    // Gram oracle: the self-join spelling of Σ v·vᵀ the one-pass aggregator
    // replaces — per-cell product sums, 6-dp rounding for float parity
    "q_embed_gram" ->
      """WITH e AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS p,
        |    CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings
        |)
        |SELECT CAST(a.p AS INT) AS i, CAST(b.p AS INT) AS j,
        |  round(sum(a.v * b.v), 6) AS g
        |FROM e a JOIN e b ON a.vec_id = b.vec_id
        |GROUP BY a.p, b.p ORDER BY i, j""".stripMargin,
    // Lloyd-step oracle: the q_ann_ivf assignment CTE (same double argmin
    // with cid tie-break) feeding the per-(cluster, position) average
    "q_embed_kmeans" ->
      """WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
        |           FROM embeddings WHERE vec_id < 8),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
        |asg AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT e.vec_id, c.cid,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_dot_product(c.cv, c.cv) - 2*list_dot_product(e.ev, c.cv) ASC,
        |        c.cid ASC) AS rn
        |    FROM e, c) WHERE rn = 1
        |),
        |x AS (
        |  SELECT asg.cid, generate_subscripts(em.embedding, 1) - 1 AS pos,
        |    CAST(unnest(em.embedding) AS DOUBLE) AS v
        |  FROM asg JOIN embeddings em ON asg.vec_id = em.vec_id
        |)
        |SELECT cid AS list_id, CAST(count(*) AS BIGINT) AS n, CAST(pos AS INT) AS pos,
        |  round(avg(v), 6) AS mean_v
        |FROM x GROUP BY cid, pos ORDER BY list_id, pos""".stripMargin,
    // Outlier oracle: 6-dp-rounded per-(label, pos) mean rebuilt as a list
    // centroid, the same |v|^2 - 2 v.c + |c|^2 expansion, population std,
    // round-before-order z with id tie-break
    "q_embed_outliers" ->
      """WITH m AS (
        |  SELECT label AS lbl, pos, round(avg(v), 6) AS m FROM (
        |    SELECT label, generate_subscripts(embedding, 1) AS pos,
        |      CAST(unnest(embedding) AS DOUBLE) AS v
        |    FROM embeddings) GROUP BY label, pos
        |), c AS (SELECT lbl, list(m ORDER BY pos) AS cv FROM m GROUP BY lbl),
        |d AS (
        |  SELECT e.vec_id AS id, e.lbl,
        |    sqrt(greatest(list_dot_product(ev, ev) - 2*list_dot_product(ev, c.cv)
        |      + list_dot_product(c.cv, c.cv), 0.0)) AS dist
        |  FROM (SELECT vec_id, label AS lbl, CAST(embedding AS DOUBLE[]) AS ev
        |        FROM embeddings) e
        |  JOIN c USING (lbl)
        |), st AS (SELECT lbl, avg(dist) AS mu, stddev_pop(dist) AS sigma
        |          FROM d GROUP BY lbl)
        |SELECT id, lbl, round(dist, 6) AS dist,
        |  CASE WHEN sigma = 0 THEN 0.0 ELSE round((dist - mu) / sigma, 6) END AS z
        |FROM d JOIN st USING (lbl)
        |ORDER BY z DESC, id ASC LIMIT 20""".stripMargin,
    // ABTT oracle: per-dim mean (round 6), 8 power-iteration CTEs each
    // re-rounded to 6 dp (the driver sync points), then per-vector
    // projection + residual norm
    "q_embed_abtt" -> abttOracle(iters = 8, dim = 64),
    "q_embed_pca2" -> pca2Oracle(iters = 8, dim = 64),
    // Matryoshka truncation oracle: per-width prefix-cosine top-10 vs the
    // full-width top-10, recall by id-set intersection
    "q_embed_mrl" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
        |q AS (SELECT ev AS qv FROM e WHERE vec_id = 0),
        |f AS (SELECT id FROM (
        |  SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |    list_cosine_similarity(e.ev, q.qv) AS score
        |  FROM e, q ORDER BY score DESC, id ASC LIMIT 10)),
        |d8 AS (SELECT id FROM (
        |  SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |    list_cosine_similarity(e.ev[1:8], q.qv[1:8]) AS score
        |  FROM e, q ORDER BY score DESC, id ASC LIMIT 10)),
        |d16 AS (SELECT id FROM (
        |  SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |    list_cosine_similarity(e.ev[1:16], q.qv[1:16]) AS score
        |  FROM e, q ORDER BY score DESC, id ASC LIMIT 10)),
        |d32 AS (SELECT id FROM (
        |  SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |    list_cosine_similarity(e.ev[1:32], q.qv[1:32]) AS score
        |  FROM e, q ORDER BY score DESC, id ASC LIMIT 10))
        |SELECT dim, hits, round(hits / 10.0, 6) AS recall FROM (
        |  SELECT CAST(8 AS INT) AS dim,
        |    (SELECT count(*) FROM d8 WHERE id IN (SELECT id FROM f)) AS hits
        |  UNION ALL SELECT CAST(16 AS INT),
        |    (SELECT count(*) FROM d16 WHERE id IN (SELECT id FROM f))
        |  UNION ALL SELECT CAST(32 AS INT),
        |    (SELECT count(*) FROM d32 WHERE id IN (SELECT id FROM f))
        |) ORDER BY dim""".stripMargin,
    // Hard-negative oracle: label-mismatch join, cosine rank per anchor,
    // round AFTER the rank-4 selection (same boundary as GroupTopK)
    "q_embed_hardneg" ->
      """WITH a AS (SELECT vec_id AS anchor_id, CAST(embedding AS DOUBLE[]) AS av, label AS al
        |           FROM embeddings WHERE vec_id < 6),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev, label FROM embeddings),
        |s AS (
        |  SELECT a.anchor_id, e.vec_id AS id, e.label AS neg_label,
        |    list_cosine_similarity(e.ev, a.av) AS score,
        |    row_number() OVER (PARTITION BY a.anchor_id ORDER BY
        |      list_cosine_similarity(e.ev, a.av) DESC, e.vec_id ASC) AS rn
        |  FROM e JOIN a ON e.label <> a.al
        |)
        |SELECT anchor_id, id, neg_label, round(score, 6) AS score
        |FROM s WHERE rn <= 4 ORDER BY anchor_id, score DESC, id""".stripMargin,
    // Bloom-decontamination oracle: the bloom phase is exact-by-
    // construction (verify join removes false positives), so the oracle is
    // the same plain 4-gram-fingerprint intersect — no bloom in SQL
    "q_curate_decontam_bloom" ->
      s"""WITH tok AS (
         |  SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM documents
         |), gr AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |    list_transform(range(1, len(w)-2), i -> w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]),
         |    g -> $polyhashSql)) AS fps
         |  FROM tok
         |), ev AS (SELECT list_distinct(flatten(list(fps))) AS efps FROM gr WHERE doc_id < 25)
         |SELECT gr.doc_id AS id,
         |  CAST(len(list_intersect(gr.fps, ev.efps)) AS BIGINT) AS n_hits,
         |  len(list_intersect(gr.fps, ev.efps)) > 0 AS contaminated
         |FROM gr, ev ORDER BY id""".stripMargin,
    // Pipeline oracle: the gopher-pass, scrub, md5-dedup, and chunk-count
    // replicas composed as CTEs (same fragments as the standalone oracles)
    "q_pipeline_curate" ->
      """WITH t AS (
        |  SELECT doc_id, text, string_split_regex(text, '\s+') AS w FROM documents
        |), gg AS (
        |  SELECT doc_id, text, len(w) AS n_words,
        |    CASE WHEN len(w) > 0 THEN CAST(len(w) - len(list_distinct(w)) AS DOUBLE)/len(w) ELSE 0.0 END AS f1,
        |    CASE WHEN len(w) > 1 THEN CAST(len(w)-1 - len(list_distinct(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]))) AS DOUBLE)/(len(w)-1) ELSE 0.0 END AS f2,
        |    CASE WHEN len(w) > 2 THEN CAST(len(w)-2 - len(list_distinct(list_transform(range(1, len(w)-1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS DOUBLE)/(len(w)-2) ELSE 0.0 END AS f3
        |  FROM t
        |), p AS (
        |  SELECT doc_id, text FROM gg
        |  WHERE n_words >= 10 AND n_words <= 100000 AND f1 <= 0.6 AND f2 <= 0.45 AND f3 <= 0.35
        |), s AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(
        |      regexp_replace(
        |        regexp_replace(lower(text), '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<email>', 'g'),
        |        '[0-9]+', '<num>', 'g'),
        |      '\s+', ' ', 'g')) AS stext
        |  FROM p
        |), d AS (
        |  SELECT doc_id, stext,
        |    row_number() OVER (PARTITION BY md5(stext) ORDER BY doc_id) AS rn
        |  FROM s
        |), tok AS (
        |  SELECT doc_id AS id, len(string_split_regex(stext, '\s+')) AS n FROM d WHERE rn = 1
        |), ch AS (
        |  SELECT id, n, unnest(range(0, CAST(ceil(greatest(n - 64, 0) / 48.0) AS BIGINT) + 1)) AS i
        |  FROM tok WHERE n > 0
        |)
        |SELECT id, count(*) AS n_chunks, CAST(sum(least(64, n - i*48)) AS BIGINT) AS sum_tokens
        |FROM ch GROUP BY id ORDER BY id""".stripMargin,
    // Mix oracle: same availability aggregation, same rate arithmetic
    // (exact-decimal targets: 2/4 and 1/4 of 2000), same id-hash membership
    "q_curate_mix" ->
      """WITH t AS (
        |  SELECT doc_id AS id, source AS stratum,
        |    CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents
        |), a AS (SELECT stratum, CAST(sum(n_tokens) AS DOUBLE) AS avail FROM t GROUP BY stratum),
        |r AS (
        |  SELECT stratum, least(1000, CAST(floor(1000.0 *
        |    CASE stratum WHEN 'src0' THEN 1000.0 WHEN 'src1' THEN 500.0 WHEN 'src2' THEN 500.0 ELSE 0.0 END
        |    / avail) AS BIGINT)) AS rate_pm
        |  FROM a
        |)
        |SELECT t.id, t.stratum, t.n_tokens
        |FROM t JOIN r USING (stratum)
        |WHERE ((t.id % 1000003) * 131 + 7) % 1000 < r.rate_pm
        |ORDER BY t.id""".stripMargin,
    "q_curate_sample" ->
      """SELECT lang, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM documents
        |WHERE ((doc_id % 1000003) * 131 + 7) % 1000 <
        |  CASE lang WHEN 'en' THEN 200 WHEN 'de' THEN 500 WHEN 'es' THEN 800 ELSE 1000 END
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // Epoch-order oracle: same hash shard, same per-shard dense rank and
    // stride arithmetic
    "q_curate_epoch" ->
      """WITH s AS (
        |  SELECT doc_id AS id,
        |    CAST(((doc_id % 1000003) * 131 + 7) % 1000 % 16 AS BIGINT) AS shard_id
        |  FROM documents
        |), p AS (
        |  SELECT id, shard_id,
        |    CAST(row_number() OVER (PARTITION BY shard_id ORDER BY id) - 1 AS BIGINT)
        |      AS pos_in_shard
        |  FROM s
        |)
        |SELECT id, shard_id, pos_in_shard,
        |  pos_in_shard * 16 + shard_id AS epoch_pos
        |FROM p ORDER BY epoch_pos""".stripMargin,
    // Shard-layout oracle: the sampleBucket hash mod 16, same token count
    "q_curate_shards" ->
      """SELECT CAST(((doc_id % 1000003) * 131 + 7) % 1000 % 16 AS BIGINT) AS shard_id,
        |  count(*) AS n_docs,
        |  CAST(sum(len(string_split_regex(text, '\s+'))) AS BIGINT) AS total_tokens,
        |  count(DISTINCT source) AS n_sources
        |FROM documents GROUP BY shard_id ORDER BY shard_id""".stripMargin,
    // DSIR oracle: same smoothed LM terms (identical parenthesization),
    // same sorted-fold doc sum, same deterministic Gumbel hash and
    // (score DESC, id) total order
    "q_curate_dsir" ->
      """WITH tok AS (
        |  SELECT doc_id AS id, (lang = 'en') AS is_t,
        |    unnest(string_split_regex(text, '\s+')) AS t
        |  FROM documents
        |), lm AS (
        |  SELECT t, count(*) AS cr, count(*) FILTER (WHERE is_t) AS ct
        |  FROM tok GROUP BY t
        |), tot AS (
        |  SELECT CAST(sum(cr) AS DOUBLE) AS n_r, CAST(sum(ct) AS DOUBLE) AS n_t,
        |    CAST(count(*) AS DOUBLE) AS vv
        |  FROM lm
        |), term AS (
        |  SELECT tok.id,
        |    ln((CAST(ct AS DOUBLE) + 1.0) / (n_t + vv)) -
        |    ln((CAST(cr AS DOUBLE) + 1.0) / (n_r + vv)) AS lp
        |  FROM tok JOIN lm USING (t), tot
        |), dw AS (
        |  SELECT id,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(lp ORDER BY lp)),
        |      (a, x) -> a + x) AS logw
        |  FROM term GROUP BY id
        |)
        |SELECT id, round(logw, 6) AS logw,
        |  round(logw - ln(-ln((((id % 1000003) * 137 + 11) % 1000 + 0.5) / 1000.0)), 6) AS score
        |FROM dw ORDER BY score DESC, id ASC LIMIT 50""".stripMargin,
    // Per-source cap oracle: the row_number() window twin of the GroupTopK
    // bounded-heap plan (same total order: n_chars DESC, doc_id ASC)
    "q_curate_source_cap" ->
      """SELECT doc_id AS id, source, n_chars FROM (
        |  SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id ASC) AS rn
        |  FROM documents)
        |WHERE rn <= 10 ORDER BY source, id""".stripMargin,
    // Extended-PII oracle: same six regexes in the same specificity order,
    "q_curate_snapshot_diff" ->
      """WITH old AS (
        |  SELECT doc_id, md5(text) AS old_key FROM documents WHERE doc_id < 450
        |), nw AS (
        |  SELECT doc_id,
        |    md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END) AS new_key
        |  FROM documents WHERE doc_id >= 50
        |)
        |SELECT COALESCE(o.doc_id, n.doc_id) AS id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       WHEN old_key = new_key THEN 'unchanged'
        |       ELSE 'changed' END AS status,
        |  old_key, new_key
        |FROM old o FULL OUTER JOIN nw n ON o.doc_id = n.doc_id
        |ORDER BY id""".stripMargin,
    // marker counts by length arithmetic (int/int division is double on
    // both engines; values exactly divisible)
    "q_curate_scrub_pii" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(
        |      regexp_replace(
        |        regexp_replace(
        |          regexp_replace(
        |            regexp_replace(
        |              regexp_replace(lower(text), '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<email>', 'g'),
        |              '(https?://|www\.)[^\s]+', '<url>', 'g'),
        |            '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<ip>', 'g'),
        |          '\+?[0-9][0-9().\-\s]{5,}[0-9]', '<phone>', 'g'),
        |        '[0-9]+', '<num>', 'g'),
        |      '\s+', ' ', 'g')) AS sc
        |  FROM documents
        |)
        |SELECT doc_id, md5(sc) AS scrub_md5,
        |  CAST((length(sc) - length(regexp_replace(sc, '<email>', '', 'g'))) / 7 AS INT) AS n_email,
        |  CAST((length(sc) - length(regexp_replace(sc, '<url>', '', 'g'))) / 5 AS INT) AS n_url,
        |  CAST((length(sc) - length(regexp_replace(sc, '<ip>', '', 'g'))) / 4 AS INT) AS n_ip,
        |  CAST((length(sc) - length(regexp_replace(sc, '<phone>', '', 'g'))) / 7 AS INT) AS n_phone,
        |  CAST((length(sc) - length(regexp_replace(sc, '<num>', '', 'g'))) / 5 AS INT) AS n_num
        |FROM s ORDER BY doc_id""".stripMargin,
    "q_curate_scrub" ->
      """WITH s AS (
        |  SELECT doc_id,  text,
        |    trim(regexp_replace(
        |      regexp_replace(
        |        regexp_replace(lower(text), '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<email>', 'g'),
        |        '[0-9]+', '<num>', 'g'),
        |      '\s+', ' ', 'g')) AS scrubbed
        |  FROM documents
        |)
        |SELECT doc_id, md5(scrubbed) AS scrub_md5,
        |  (scrubbed <> text) AS changed,
        |  CAST(length(scrubbed) AS INT) AS scrub_len
        |FROM s ORDER BY doc_id""".stripMargin,
    "q_curate_pack" ->
      """WITH t AS (
        |  SELECT doc_id AS id,
        |    CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens,
        |    CAST((doc_id - doc_id % 250) / 250 AS BIGINT) AS shard
        |  FROM documents
        |), c AS (
        |  SELECT id, shard, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY shard ORDER BY id
        |                        ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t
        |)
        |SELECT id, shard,
        |  CAST(((cum - n_tokens) - (cum - n_tokens) % 512) / 512 AS BIGINT) AS bin,
        |  n_tokens
        |FROM c ORDER BY id""".stripMargin,
    "q_media_neardup" ->
      """WITH f AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(0, CAST(ceil(length(text)/100.0) AS BIGINT)),
        |    i -> md5(substring(text, CAST(i*100 + 1 AS INT), 100)))) AS fh
        |  FROM documents WHERE length(text) > 0
        |)
        |SELECT id_a, id_b, round(j, 6) AS jaccard FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_intersect(a.fh, b.fh)) AS DOUBLE) /
        |    (len(a.fh) + len(b.fh) - len(list_intersect(a.fh, b.fh))) AS j
        |  FROM f a, f b
        |  WHERE a.doc_id < b.doc_id AND len(list_intersect(a.fh, b.fh)) > 0
        |) WHERE j >= 0.2 ORDER BY id_a, id_b""".stripMargin,
    "q_dedup_exact" ->
      """SELECT doc_id AS id, md5(text) AS content_key,
        |       count(*) OVER (PARTITION BY md5(text)) AS group_size
        |FROM documents
        |QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
        |ORDER BY id""".stripMargin,
    // Repeated-span oracle: positioned 5-gram fingerprints (same polyhash
    // as the decontam oracle), cross-doc duplicated positions, islands
    // merged by the pos − row_number trick.
    // Source-overlap oracle: same bigram fingerprints, distinct per source,
    // fp-equality self-join with the same '<' pair ordering
    "q_dedup_source_overlap" ->
      s"""WITH tok AS (SELECT source AS src, string_split_regex(text, '\\s+') AS w FROM documents),
         |gr AS (SELECT src, unnest(list_transform(
         |    list_transform(range(1, len(w)), i -> w[i]||' '||w[i+1]),
         |    g -> $polyhashSql)) AS fp FROM tok),
         |g AS (SELECT DISTINCT src, fp FROM gr),
         |sz AS (SELECT src, count(*) AS n_grams FROM g GROUP BY src),
         |sh AS (SELECT a.src AS src_a, b.src AS src_b, count(*) AS shared_grams
         |       FROM g a JOIN g b ON a.fp = b.fp AND a.src < b.src GROUP BY a.src, b.src)
         |SELECT src_a, src_b, shared_grams,
         |  round(CAST(shared_grams AS DOUBLE) / (sa.n_grams + sb.n_grams - shared_grams), 6) AS jaccard
         |FROM sh JOIN sz sa ON sa.src = sh.src_a JOIN sz sb ON sb.src = sh.src_b
         |ORDER BY src_a, src_b""".stripMargin,
    "q_dedup_spans" ->
      s"""$spansOracleBase
         |SELECT doc_id AS id, start_pos, span_words, span_key
         |FROM spans ORDER BY id, start_pos""".stripMargin,
    // Scrub oracle: keeper = row_number 1 per span_key ordered (doc, start);
    // other occurrences explode to masked positions, anti-joined from the
    // positioned token stream, text rebuilt in position order.
    "q_dedup_spans_scrub" ->
      s"""$spansOracleBase,
         |mask AS (
         |  SELECT doc_id, start_pos, span_words,
         |    row_number() OVER (PARTITION BY span_key ORDER BY doc_id, start_pos) AS rn
         |  FROM spans),
         |mpos AS (
         |  SELECT DISTINCT doc_id, CAST(start_pos + unnest(range(0, span_words)) AS INT) AS pos
         |  FROM mask WHERE rn > 1),
         |wt AS (SELECT doc_id, CAST(i-1 AS INT) AS pos, w[i] AS word
         |       FROM (SELECT doc_id, w, unnest(range(1, len(w)+1)) AS i FROM tok)),
         |kept AS (
         |  SELECT wt.doc_id, string_agg(wt.word, ' ' ORDER BY wt.pos) AS st
         |  FROM wt LEFT JOIN mpos ON wt.doc_id = mpos.doc_id AND wt.pos = mpos.pos
         |  WHERE mpos.doc_id IS NULL GROUP BY wt.doc_id)
         |SELECT d.doc_id AS id, coalesce(k.st, '') AS scrubbed_text
         |FROM documents d LEFT JOIN kept k ON d.doc_id = k.doc_id ORDER BY id""".stripMargin,
    // Exact SQL replica of SimHash60Expr (functions/HashExprs.scala): per
    // token two polynomial hashes (base 37 mod 998244353, base 31 mod
    // 1000000007) packed into 60 bits, ±1 per-bit counters, sign collapse.
    // Banding at Hamming ≤ 3 is pigeonhole-complete → direct all-pairs check.
    "q_dedup_simhash" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents
        |), h AS (
        |  SELECT doc_id, list_transform(toks, tok ->
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        list_transform(range(1, length(tok)+1), i -> CAST(unicode(substring(tok,i,1)) AS BIGINT))),
        |      (acc,x) -> (acc*37 + x) % 998244353) * 1073741824
        |    + list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        list_transform(range(1, length(tok)+1), i -> CAST(unicode(substring(tok,i,1)) AS BIGINT))),
        |      (acc,x) -> (acc*31 + x) % 1000000007)
        |  ) AS hs
        |  FROM t
        |), s AS (
        |  SELECT doc_id,
        |    list_sum(list_transform(range(0, 60), j ->
        |      CASE WHEN list_sum(list_transform(hs, hv -> 2*((hv >> CAST(j AS BIGINT)) & 1) - 1)) > 0
        |           THEN (CAST(1 AS BIGINT) << CAST(j AS BIGINT)) ELSE CAST(0 AS BIGINT) END
        |    )) AS sim
        |  FROM h
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       CAST(bit_count(xor(a.sim, b.sim)) AS INT) AS hamming
        |FROM s a, s b
        |WHERE a.doc_id < b.doc_id AND bit_count(xor(a.sim, b.sim)) <= 3
        |ORDER BY id_a, id_b""".stripMargin,
    // Exact SQL replica of Multimodal.decodeStub byte math; the payload byte
    // sum is recovered by parsing hex(utf8 bytes) two nibbles at a time
    // (strpos over a '0'-less alphabet maps '0'→0 … 'F'→15).
    "q_media_decode" ->
      """WITH t AS (
        |  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, n,
        |    CASE WHEN n = 0 THEN 0 ELSE list_sum(list_transform(range(0, n), i ->
        |      (strpos('123456789ABCDEF', substring(hx, CAST(2*i+1 AS INT), 1)))*16
        |      + strpos('123456789ABCDEF', substring(hx, CAST(2*i+2 AS INT), 1)))) END AS bsum
        |  FROM t
        |)
        |SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
        |  CAST(n AS INT) AS n_bytes,
        |  CAST(64 + n % 576 AS INT) AS width,
        |  CAST(64 + (n * 31) % 312 AS INT) AS height,
        |  3 AS channels,
        |  round(CASE WHEN n = 0 THEN 0.0 ELSE CAST(bsum AS DOUBLE) / n / 255.0 END, 6) AS brightness
        |FROM s ORDER BY doc_id""".stripMargin,
    "q_dedup_jaccard" -> dedupJaccardOracle,
    "q_dedup_containment" ->
      """WITH t AS MATERIALIZED (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(1, len(string_split_regex(text, '\s+'))),
        |    i -> string_split_regex(text, '\s+')[i] || ' ' || string_split_regex(text, '\s+')[i+1])) AS sh
        |  FROM documents
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |        least(len(a.sh), len(b.sh)), 6) AS containment
        |FROM t a, t b
        |WHERE a.doc_id < b.doc_id
        |  AND len(a.sh) >= 5 AND len(b.sh) >= 5
        |  AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |      least(len(a.sh), len(b.sh)) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,
    "q_dedup_minhash" -> dedupJaccardOracle,
    "q_dedup_incremental" -> dedupIncrementalOracle,
    "q_dedup_incremental_containment" -> dedupIncrementalContainmentOracle,
    "q_dedup_incremental_postings" -> dedupIncrementalPostingsOracle,
    "q_dedup_incremental_verified" -> dedupIncrementalVerifiedOracle,
    // Same pair predicate as dedupJaccardOracle, then transitive closure via
    // a recursive CTE; cluster label = min reachable id.
    "q_dedup_clusters" ->
      """WITH RECURSIVE t AS MATERIALIZED (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(1, len(string_split_regex(text, '\s+'))),
        |    i -> string_split_regex(text, '\s+')[i] || ' ' || string_split_regex(text, '\s+')[i+1])) AS sh
        |  FROM documents
        |), p AS MATERIALIZED (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM t a, t b
        |  WHERE a.doc_id < b.doc_id
        |    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5
        |), e AS (
        |  SELECT id_a AS s, id_b AS d FROM p UNION ALL SELECT id_b, id_a FROM p
        |), r AS (
        |  SELECT doc_id AS id, doc_id AS reach FROM documents
        |  UNION
        |  SELECT e.d AS id, r.reach FROM r JOIN e ON r.id = e.s
        |)
        |SELECT id, min(reach) AS cluster_id, (id = min(reach)) AS keep
        |FROM r GROUP BY id ORDER BY id""".stripMargin,
    // Composed pipeline oracle: exact-dedup representatives first (QUALIFY
    // min-id per md5 group), exact Jaccard pairs among representatives
    // (LSH recall 1.0 on this corpus, as q_dedup_clusters), recursive
    // closure, then the per-cluster roll-up with exact-dup multiplicity
    "q_pipeline_dedup" ->
      """WITH RECURSIVE rep AS MATERIALIZED (
        |  SELECT doc_id, text,
        |    count(*) OVER (PARTITION BY md5(text)) AS group_size
        |  FROM documents
        |  QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
        |), t AS MATERIALIZED (
        |  SELECT doc_id, group_size, list_distinct(list_transform(
        |    range(1, len(string_split_regex(text, '\s+'))),
        |    i -> string_split_regex(text, '\s+')[i] || ' ' || string_split_regex(text, '\s+')[i+1])) AS sh
        |  FROM rep
        |), p AS MATERIALIZED (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM t a, t b
        |  WHERE a.doc_id < b.doc_id
        |    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5
        |), e AS (
        |  SELECT id_a AS s, id_b AS d FROM p UNION ALL SELECT id_b, id_a FROM p
        |), r AS (
        |  SELECT doc_id AS id, doc_id AS reach FROM t
        |  UNION
        |  SELECT e.d AS id, r.reach FROM r JOIN e ON r.id = e.s
        |), cl AS (SELECT id, min(reach) AS cluster_id FROM r GROUP BY id)
        |SELECT cl.cluster_id, count(*) AS near_members,
        |  CAST(sum(t.group_size) AS BIGINT) AS total_docs
        |FROM cl JOIN t ON cl.id = t.doc_id
        |GROUP BY cl.cluster_id ORDER BY cl.cluster_id""".stripMargin,
    "q_dedup_embedding" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS cosine
        |FROM embeddings a, embeddings b
        |WHERE a.vec_id < b.vec_id
        |  AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.4
        |ORDER BY id_a, id_b""".stripMargin,
    "q_dedup_embedding_lsh" -> dedupEmbeddingLshOracle,
    // Embed-pipeline oracle: LSH dominated set (same bucket twin), survivor
    // centroids/std (6-dp-rounded means, population std), rounded-z keep
    // gate, sampleBucket-hash shard rollup
    "q_pipeline_embed" ->
      s"""WITH e AS (
         |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS ev,
         |         ${bucketExpr("CAST(embedding AS DOUBLE[])")} AS bucket
         |  FROM embeddings
         |), dom AS (
         |  SELECT DISTINCT b.vec_id FROM e a, e b
         |  WHERE a.vec_id < b.vec_id
         |    AND bit_count(xor(CAST(a.bucket AS BIGINT), CAST(b.bucket AS BIGINT))) <= 2
         |    AND list_cosine_similarity(a.ev, b.ev) >= 0.4
         |), surv AS (
         |  SELECT vec_id, label, ev FROM e
         |  WHERE vec_id NOT IN (SELECT vec_id FROM dom)
         |), m AS (
         |  SELECT lbl, pos, round(avg(v), 6) AS m FROM (
         |    SELECT label AS lbl, generate_subscripts(ev, 1) AS pos, unnest(ev) AS v
         |    FROM surv) GROUP BY lbl, pos
         |), c AS (SELECT lbl, list(m ORDER BY pos) AS cv FROM m GROUP BY lbl),
         |d AS (
         |  SELECT s.vec_id AS id, s.label AS lbl,
         |    sqrt(greatest(list_dot_product(ev, ev) - 2*list_dot_product(ev, c.cv)
         |      + list_dot_product(c.cv, c.cv), 0.0)) AS dist
         |  FROM surv s JOIN c ON s.label = c.lbl
         |), st AS (SELECT lbl, avg(dist) AS mu, stddev_pop(dist) AS sigma
         |          FROM d GROUP BY lbl),
         |kept AS (
         |  SELECT id, d.lbl FROM d JOIN st USING (lbl)
         |  WHERE (CASE WHEN sigma = 0 THEN 0.0
         |         ELSE round((dist - mu) / sigma, 6) END) <= 3.0
         |)
         |SELECT CAST(((id % 1000003) * 131 + 7) % 1000 % 8 AS BIGINT) AS shard_id,
         |  count(*) AS n_vecs, count(DISTINCT lbl) AS n_labels
         |FROM kept GROUP BY shard_id ORDER BY shard_id""".stripMargin,
    "q_knn_autocut" ->
      """WITH topk AS (
        |  SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.qe AS DOUBLE[])) AS score
        |  FROM embeddings e, (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) q
        |  ORDER BY score DESC, id ASC LIMIT 10
        |), d AS (
        |  SELECT id, score,
        |         row_number() OVER (ORDER BY score DESC, id ASC) AS rn,
        |         lag(score) OVER (ORDER BY score DESC, id ASC) AS prev
        |  FROM topk
        |), m AS (SELECT max((prev - score) / prev) AS maxd FROM d),
        |c AS (SELECT min(rn) AS cut FROM d, m WHERE (prev - score) / prev = maxd)
        |SELECT id, round(score, 6) AS score FROM d, m, c
        |WHERE CASE WHEN maxd > 0.2 THEN rn < cut ELSE true END
        |ORDER BY score DESC, id ASC""".stripMargin,
    "q_crud_insert_batch" ->
      """SELECT id, metadata FROM (
        |  SELECT CAST(vec_id AS VARCHAR) AS id, '{"label":' || label || '}' AS metadata FROM embeddings
        |  UNION ALL SELECT * FROM (VALUES ('n1','{"tag":"new"}'), ('n2','{"tag":"new"}'), ('n3','{"tag":"new"}')) v(id, metadata)
        |) ORDER BY id""".stripMargin,
    "q_crud_delete_batch" ->
      "SELECT CAST(vec_id AS VARCHAR) AS id FROM embeddings WHERE vec_id >= 10 ORDER BY vec_id",
    "q_crud_lookup" ->
      """SELECT CAST(vec_id AS VARCHAR) AS id,
        |       CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
        |       unnest(embedding) AS val
        |FROM embeddings WHERE vec_id = 42 ORDER BY pos""".stripMargin,
    "q_crud_persist_roundtrip" ->
      """SELECT CAST(vec_id AS VARCHAR) AS id, '{"label":' || label || '}' AS metadata
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    // Format-roundtrip oracles: the roundtrip is content-preserving iff it
    // reproduces the parquet original, so the oracle IS the original
    "q_source_jsonl_roundtrip" ->
      """SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_source_csv_roundtrip" ->
      """SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_source_orc_roundtrip" ->
      """SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
    // Temperature sampling: rate_s = floor(1000*sqrt(min_avail/avail_s));
    // every float op correctly rounded -> thresholds bit-identical
    "q_curate_temperature_mix" ->
      """WITH t AS (
        |  SELECT doc_id AS id, lang AS stratum,
        |    CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents
        |), a AS (SELECT stratum, sum(n_tokens) AS avail FROM t GROUP BY stratum),
        |m AS (SELECT min(avail) AS amin FROM a),
        |r AS (
        |  SELECT stratum, CAST(floor(1000.0 *
        |    sqrt(CAST(amin AS DOUBLE) / CAST(avail AS DOUBLE))) AS BIGINT) AS rate_pm
        |  FROM a, m
        |)
        |SELECT t.id, t.stratum, t.n_tokens
        |FROM t JOIN r USING (stratum)
        |WHERE ((t.id % 1000003) * 131 + 7) % 1000 < r.rate_pm
        |ORDER BY t.id""".stripMargin,
    "q_profile_completeness" ->
      """WITH s AS (
        |  SELECT 'event_type' AS col_name, count(*) AS n_rows,
        |         count(*) - count(event_type) AS n_nulls,
        |         count(DISTINCT event_type) AS n_distinct FROM events
        |  UNION ALL
        |  SELECT 'props', count(*), count(*) - count(props),
        |         count(DISTINCT props) FROM events
        |  UNION ALL
        |  SELECT 'user_id', count(*), count(*) - count(user_id),
        |         count(DISTINCT user_id) FROM events
        |  UNION ALL
        |  SELECT 'value', count(*), count(*) - count(value),
        |         count(DISTINCT value) FROM events
        |)
        |SELECT * FROM s ORDER BY col_name""".stripMargin,
    "q_profile_orphans" ->
      """WITH p AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 10 != 0)
        |SELECT
        |  (SELECT count(*) FROM lineitem) AS n_children,
        |  (SELECT count(*) FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM p)) AS n_orphans,
        |  round(CAST((SELECT count(*) FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM p)) AS DOUBLE)
        |    / (SELECT count(*) FROM lineitem), 6) AS orphan_rate""".stripMargin,
    // Morton key replicated in exact integer algebra: the 16-bit scale is a
    // right shift (width derived from the binary length of the range — no
    // float log2), the interleave the same mask-shift cascade as the engine
    "q_layout_zorder" ->
      """WITH b AS (
        |  SELECT min(l_partkey) AS xlo, max(l_partkey) AS xhi,
        |         min(l_suppkey) AS ylo, max(l_suppkey) AS yhi FROM lineitem
        |), sh AS (
        |  SELECT xlo, ylo,
        |         GREATEST(0, length(printf('%b', xhi - xlo)) - 16) AS rx,
        |         GREATEST(0, 16 - length(printf('%b', xhi - xlo))) AS lx,
        |         GREATEST(0, length(printf('%b', yhi - ylo)) - 16) AS ry,
        |         GREATEST(0, 16 - length(printf('%b', yhi - ylo))) AS ly FROM b
        |), k AS (
        |  SELECT l_orderkey, l_linenumber,
        |         ((l_partkey - xlo) << lx) >> rx AS x,
        |         ((l_suppkey - ylo) << ly) >> ry AS y
        |  FROM lineitem, sh
        |), c1 AS (
        |  SELECT l_orderkey, l_linenumber,
        |         ((x | (x << 8)) & 16711935) AS x, ((y | (y << 8)) & 16711935) AS y FROM k
        |), c2 AS (
        |  SELECT l_orderkey, l_linenumber,
        |         ((x | (x << 4)) & 252645135) AS x, ((y | (y << 4)) & 252645135) AS y FROM c1
        |), c3 AS (
        |  SELECT l_orderkey, l_linenumber,
        |         ((x | (x << 2)) & 858993459) AS x, ((y | (y << 2)) & 858993459) AS y FROM c2
        |), c4 AS (
        |  SELECT l_orderkey, l_linenumber,
        |         ((x | (x << 1)) & 1431655765) AS x, ((y | (y << 1)) & 1431655765) AS y FROM c3
        |)
        |SELECT l_orderkey, l_linenumber, (x | (y << 1)) AS zkey FROM c4
        |ORDER BY zkey, l_orderkey, l_linenumber""".stripMargin,
    // Zone maps prune FILES, never rows: the pruned-and-refiltered read must
    // equal the plain full-scan filter
    "q_layout_zonemap_prune" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity
        |FROM lineitem WHERE l_partkey BETWEEN 100 AND 300
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity""".stripMargin,
    // Targeted delete must equal the plain anti-join over the whole table
    "q_layout_delete" ->
      """SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5
        |FROM documents
        |WHERE doc_id NOT BETWEEN 50 AND 59 AND doc_id NOT IN (100, 200)
        |ORDER BY doc_id""".stripMargin,
    // Forget cascade: both maintained tables must equal their tombstone
    // anti-joins, and the doc<->chunk join must stay consistent
    "q_pipeline_forget" ->
      """WITH t AS (
        |  SELECT doc_id AS id, string_split_regex(text, '\s+') AS toks
        |  FROM documents WHERE doc_id NOT BETWEEN 30 AND 39
        |), n AS (
        |  SELECT id, len(toks) AS n FROM t WHERE len(toks) > 0
        |), c AS (
        |  SELECT id, count(*) AS n_chunks,
        |    CAST(sum(least(64, n - k*48)) AS BIGINT) AS sum_tokens
        |  FROM n, unnest(range(0,
        |    CAST(ceil(CAST(greatest(n - 64, 0) AS DOUBLE) / 48) AS BIGINT) + 1)) AS u(k)
        |  GROUP BY id
        |)
        |SELECT d.doc_id, coalesce(c.n_chunks, 0) AS n_chunks,
        |       coalesce(c.sum_tokens, 0) AS sum_tokens
        |FROM (SELECT doc_id FROM documents WHERE doc_id NOT BETWEEN 30 AND 39) d
        |LEFT JOIN c ON d.doc_id = c.id
        |ORDER BY d.doc_id""".stripMargin,
    // Compaction is content-preserving iff it reproduces the original
    "q_layout_compact" ->
      """SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
    // The auto-compaction gate's rewrite is content-preserving too — the
    // manifest-resolved readback must reproduce the source exactly
    "q_layout_autocompact" ->
      """SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
    // Committed appends with one replayed batch: exactly-once in the
    // manifest-resolved bytes — the readback is one copy of every row
    "q_layout_append" ->
      """SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
    // Snapshot read of the pinned pre-append version = the even half only
    "q_layout_snapshot" ->
      """SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5
        |FROM documents WHERE doc_id % 2 = 0 ORDER BY doc_id""".stripMargin,
    // Version diff of the append-only history = exactly the odd half, added
    "q_layout_version_diff" ->
      """SELECT 'added' AS change, doc_id, lang, source, md5(text) AS text_md5
        |FROM documents WHERE doc_id % 2 = 1 ORDER BY doc_id""".stripMargin,
    "q_join_intervals" ->
      """WITH iv AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS s,
        |    CAST(ts AS TIMESTAMP)
        |      + to_microseconds(((event_id % 7) + 1) * 60000000) AS e
        |  FROM events)
        |SELECT a.event_id AS id_a, b.event_id AS id_b, a.user_id,
        |  epoch_us(least(a.e, b.e)) - epoch_us(greatest(a.s, b.s)) AS overlap_us
        |FROM iv a JOIN iv b
        |  ON a.user_id = b.user_id AND a.s <= b.e AND b.s <= a.e
        | AND a.event_id < b.event_id
        |ORDER BY id_a, id_b""".stripMargin,
    "q_text_cosine_pairs" ->
      """WITH tf AS MATERIALIZED (
        |  SELECT doc_id, t AS term, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS t
        |    FROM documents)
        |  GROUP BY doc_id, t
        |), norms AS (
        |  SELECT doc_id, sum(tf * tf) AS n2 FROM tf GROUP BY doc_id
        |), kept AS (
        |  SELECT term FROM (SELECT term, count(*) AS df FROM tf GROUP BY term)
        |  WHERE df >= 2
        |), p AS MATERIALIZED (SELECT tf.* FROM tf JOIN kept USING (term)
        |), dots AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(sum(a.tf * b.tf) AS BIGINT) AS dot
        |  FROM p a JOIN p b ON a.term = b.term AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, dot,
        |  round(CAST(dot AS DOUBLE) /
        |    (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))), 6) AS cos
        |FROM dots
        |JOIN norms na ON na.doc_id = id_a
        |JOIN norms nb ON nb.doc_id = id_b
        |WHERE CAST(dot AS DOUBLE) /
        |  (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) >= 0.9
        |ORDER BY id_a, id_b""".stripMargin,
    "q_profile_skew" ->
      """WITH c AS (SELECT user_id AS key, count(*) AS cnt FROM events GROUP BY 1),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_rows, count(*) AS n_keys FROM c),
        |top AS (SELECT key, cnt FROM c ORDER BY cnt DESC, key ASC LIMIT 20)
        |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, key ASC) AS INT) AS rnk,
        |  key, cnt,
        |  round(CAST(cnt AS DOUBLE) / n_rows, 6) AS share,
        |  round(CAST(sum(cnt) OVER (ORDER BY cnt DESC, key ASC
        |          ROWS UNBOUNDED PRECEDING) AS DOUBLE) / n_rows, 6) AS cum_share,
        |  n_keys, n_rows
        |FROM top, t ORDER BY rnk""".stripMargin,
    "q_ts_resample" ->
      """WITH c AS (
        |  SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS b,
        |         count(*) AS n_events
        |  FROM events GROUP BY 1, 2
        |), s AS (SELECT event_type, min(b) AS b0, max(b) AS b1 FROM c GROUP BY 1
        |), grid AS (
        |  SELECT event_type, unnest(range(b0, b1 + 1)) AS b FROM s
        |), d AS (
        |  SELECT grid.event_type, grid.b, coalesce(c.n_events, 0) AS n_events
        |  FROM grid LEFT JOIN c ON grid.event_type = c.event_type AND grid.b = c.b)
        |SELECT event_type, make_timestamp(b * 3600000000) AS bucket_start, n_events,
        |  round(CAST(sum(n_events) OVER w AS DOUBLE) /
        |        CAST(count(*) OVER w AS DOUBLE), 6) AS roll_avg
        |FROM d
        |WINDOW w AS (PARTITION BY event_type ORDER BY b
        |             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY event_type, bucket_start""".stripMargin,
    "q_eval_ann_recall" -> evalAnnRecallOracle,
    // same score arithmetic as q_text_quality, ranked within source
    "q_curate_quantile_norm" ->
      s"""WITH t AS (
        |  SELECT doc_id, source, string_split_regex(text, '\\s+') AS toks,
        |         length(regexp_replace(text, '\\s', '', 'g')) AS nonws,
        |         length(regexp_replace(text, '[a-z0-9\\s]', '', 'g')) AS punct
        |  FROM documents
        |), q AS (
        |  SELECT doc_id, source,
        |    0.4*least(len(toks)/100.0, 1.0)
        |    + 0.3*(1.0 - CASE WHEN nonws > 0 THEN CAST(punct AS DOUBLE)/nonws ELSE 0.0 END)
        |    + 0.3*least((CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, x -> list_contains(${profileSql("en")}, x))) AS DOUBLE)/len(toks) ELSE 0.0 END)/0.1, 1.0)
        |      AS score
        |  FROM t
        |)
        |SELECT doc_id, source, round(score, 6) AS score,
        |  round(percent_rank() OVER (PARTITION BY source ORDER BY score), 6) AS pct
        |FROM q ORDER BY doc_id""".stripMargin,
    "q_ts_anomaly" ->
      """WITH c AS (
        |  SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS b,
        |         count(*) AS n_events
        |  FROM events GROUP BY 1, 2
        |), s AS (SELECT event_type, min(b) AS b0, max(b) AS b1 FROM c GROUP BY 1
        |), grid AS (
        |  SELECT event_type, unnest(range(b0, b1 + 1)) AS b FROM s
        |), d AS (
        |  SELECT grid.event_type, grid.b, coalesce(c.n_events, 0) AS n_events
        |  FROM grid LEFT JOIN c ON grid.event_type = c.event_type AND grid.b = c.b
        |), wins AS (
        |  SELECT event_type, b, n_events,
        |    CAST(sum(n_events) OVER w AS BIGINT) AS s1,
        |    CAST(sum(n_events * n_events) OVER w AS BIGINT) AS s2,
        |    count(*) OVER w AS nh
        |  FROM d
        |  WINDOW w AS (PARTITION BY event_type ORDER BY b
        |               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
        |), z AS (
        |  SELECT event_type, b, n_events, nh,
        |    CAST(s1 AS DOUBLE) / nh AS mean,
        |    (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / nh) / nh AS variance
        |  FROM wins
        |)
        |SELECT event_type, make_timestamp(b * 3600000000) AS bucket_start, n_events,
        |  round(mean, 6) AS mean,
        |  round(CASE WHEN nh >= 6 AND variance > 0
        |    THEN (CAST(n_events AS DOUBLE) - mean) / sqrt(variance) END, 6) AS z
        |FROM z ORDER BY event_type, bucket_start""".stripMargin,
    "q_knn_mmr" -> mmrOracle(5),
    "q_embed_kcenter" -> kCenterOracle(8),
    "q_embed_kcenter_assign" -> kCenterAssignOracle(8),
    "q_text_bpe" -> bpeOracle(4),
    "q_text_bpe_local" -> bpeOracle(4),
    "q_text_bpe_encode" -> bpeEncodeOracle(4),
    "q_pipeline_tokenize" -> bpeTokenizePackOracle(4, shardDocs = 250, budget = 512),
    // fertility oracle: the shared learn+apply CTE chain, per-doc budgets,
    // then the source rollup (docs with no words are absent on BOTH sides)
    "q_text_fertility_by_source" ->
      s"""WITH ${bpeApplyCtes(4)}, budgets AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |    CAST(sum(n_tok) AS BIGINT) AS n_tokens
         |  FROM dw JOIN wt USING (w) GROUP BY 1
         |)
         |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(b.n_words) AS BIGINT) AS n_words,
         |  CAST(sum(b.n_tokens) AS BIGINT) AS n_tokens,
         |  round(CAST(sum(b.n_tokens) AS DOUBLE) / sum(b.n_words), 6) AS fertility
         |FROM budgets b JOIN documents d USING (doc_id)
         |GROUP BY 1 ORDER BY d.source""".stripMargin,
    "q_rel_window_dedup" ->
      """SELECT user_id, event_type, bucket, event_id FROM (
        |  SELECT user_id, event_type,
        |    CAST(floor(epoch_us(ts) / 3600000000) AS BIGINT) AS bucket,
        |    event_id,
        |    row_number() OVER (
        |      PARTITION BY user_id, event_type, floor(epoch_us(ts) / 3600000000)
        |      ORDER BY ts, event_id) AS rn
        |  FROM events
        |) WHERE rn = 1 ORDER BY user_id, event_type, bucket""".stripMargin,
    "q_ann_topk_filtered" -> annOracleFiltered,
    // confusion oracle: the q_text_langid CASE ladder as the prediction,
    // count matrix + per-truth shares
    "q_eval_langid_confusion" ->
      s"""WITH t AS (
         |  SELECT lang, string_split_regex(text, '\\s+') AS toks FROM documents
         |), s AS (
         |  SELECT lang,
         |    len(list_filter(toks, x -> list_contains(${profileSql("en")}, x))) AS s_en,
         |    len(list_filter(toks, x -> list_contains(${profileSql("de")}, x))) AS s_de,
         |    len(list_filter(toks, x -> list_contains(${profileSql("es")}, x))) AS s_es,
         |    len(list_filter(toks, x -> list_contains(${profileSql("fr")}, x))) AS s_fr
         |  FROM t
         |), pr AS (
         |  SELECT lang AS truth, CASE
         |    WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en > 0 THEN 'en'
         |    WHEN s_de >= s_es AND s_de >= s_fr AND s_de > 0 THEN 'de'
         |    WHEN s_es >= s_fr AND s_es > 0 THEN 'es'
         |    WHEN s_fr > 0 THEN 'fr' ELSE 'und' END AS pred
         |  FROM s
         |), m AS (SELECT truth, pred, count(*) AS n FROM pr GROUP BY 1, 2
         |), tt AS (SELECT truth, CAST(sum(n) AS BIGINT) AS tot FROM m GROUP BY 1)
         |SELECT truth, pred, n, round(CAST(n AS DOUBLE) / tot, 6) AS row_share
         |FROM m JOIN tt USING (truth) ORDER BY truth, pred""".stripMargin,
    "q_profile_fanout" ->
      """WITH oc AS (
        |  SELECT o_custkey AS k, count(*) AS c FROM orders GROUP BY 1
        |), pc AS (
        |  SELECT coalesce(oc.c, 0) AS n_children
        |  FROM customer LEFT JOIN oc ON c_custkey = oc.k
        |)
        |SELECT n_children, count(*) AS n_parents FROM pc
        |GROUP BY 1 ORDER BY n_children""".stripMargin,
    // phash oracle: same stride sampling via hex nibbles, same integer
    // 60·x > Σ mean test, exact shifts; pairs = brute-force Hamming <= 3
    // (the pigeonhole banding is complete at this radius)
    "q_media_phash" ->
      """WITH t AS (
        |  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n
        |  FROM documents
        |), v AS (
        |  SELECT doc_id,
        |    list_transform(range(0, 61), j ->
        |      (strpos('123456789ABCDEF', substring(hx, CAST(2*least(j*greatest(1, n//61), n-1)+1 AS INT), 1)))*16
        |      + strpos('123456789ABCDEF', substring(hx, CAST(2*least(j*greatest(1, n//61), n-1)+2 AS INT), 1))) AS vals
        |  FROM t WHERE n > 0
        |), ph AS MATERIALIZED (
        |  SELECT doc_id, CAST(list_sum(list_transform(range(1, 61), j ->
        |    CASE WHEN vals[CAST(j+1 AS INT)] > vals[CAST(j AS INT)]
        |         THEN (CAST(1 AS BIGINT) << CAST(j - 1 AS INT)) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS ph
        |  FROM v
        |  UNION ALL SELECT doc_id, CAST(0 AS BIGINT) AS ph FROM t WHERE n = 0
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.ph, b.ph)) AS BIGINT) AS hamming
        |FROM ph a JOIN ph b ON a.doc_id < b.doc_id AND bit_count(xor(a.ph, b.ph)) <= 3
        |ORDER BY id_a, id_b""".stripMargin,
    // numeric-profile oracle: same decimal-cast sums, same E[x^2]-E[x]^2
    // epilogue in double
    "q_profile_numeric" -> {
      // x² split into an exact integer lane (DECIMAL(38,0)) and a
      // fractional lane (DECIMAL(38,12)) — mirrors the operator's
      // headroom/granularity split; `% 1.0` is IEEE fmod on both engines
      def block(c: String): String = {
        val x2 = s"(CAST($c AS DOUBLE) * CAST($c AS DOUBLE))"
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
           |  count(*) - count($c) AS n_nulls,
           |  round(min(CAST($c AS DOUBLE)), 6) AS min_v,
           |  round(max(CAST($c AS DOUBLE)), 6) AS max_v,
           |  round(CAST(sum(CAST($c AS DECIMAL(30,6))) AS DOUBLE) / count($c), 6) AS mean,
           |  round(sqrt(greatest(0.0,
           |    (CAST(sum(CAST($x2 - ($x2 % 1.0) AS DECIMAL(38,0))) AS DOUBLE)
           |     + CAST(sum(CAST($x2 % 1.0 AS DECIMAL(38,12))) AS DOUBLE)) / count($c)
           |    - (CAST(sum(CAST($c AS DECIMAL(30,6))) AS DOUBLE) / count($c))
           |      * (CAST(sum(CAST($c AS DECIMAL(30,6))) AS DOUBLE) / count($c)))), 6) AS stddev
           |FROM lineitem""".stripMargin
      }
      Seq("l_discount", "l_extendedprice", "l_quantity").map(block)
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    },
    "q_rel_transitions" ->
      """WITH p AS (
        |  SELECT event_type AS e,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ne
        |  FROM events
        |), c AS (
        |  SELECT e AS from_e, ne AS to_e, count(*) AS cnt
        |  FROM p WHERE ne IS NOT NULL GROUP BY 1, 2
        |), t2 AS (SELECT from_e, CAST(sum(cnt) AS BIGINT) AS tot FROM c GROUP BY 1)
        |SELECT from_e, to_e, cnt, round(CAST(cnt AS DOUBLE) / tot, 6) AS p
        |FROM c JOIN t2 USING (from_e) ORDER BY from_e, to_e""".stripMargin,
    // soft-dedup oracle: the cluster closure + a per-cluster count window
    "q_curate_softdedup" ->
      """WITH RECURSIVE t AS MATERIALIZED (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(1, len(string_split_regex(text, '\s+'))),
        |    i -> string_split_regex(text, '\s+')[i] || ' ' || string_split_regex(text, '\s+')[i+1])) AS sh
        |  FROM documents
        |), p AS MATERIALIZED (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM t a, t b
        |  WHERE a.doc_id < b.doc_id
        |    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5
        |), e AS (
        |  SELECT id_a AS s, id_b AS d FROM p UNION ALL SELECT id_b, id_a FROM p
        |), r AS (
        |  SELECT doc_id AS id, doc_id AS reach FROM documents
        |  UNION
        |  SELECT e.d AS id, r.reach FROM r JOIN e ON r.id = e.s
        |), cl AS (SELECT id, min(reach) AS group_id FROM r GROUP BY id)
        |SELECT id AS doc_id, group_id,
        |  count(*) OVER (PARTITION BY group_id) AS group_size,
        |  round(1.0 / count(*) OVER (PARTITION BY group_id), 6) AS weight
        |FROM cl ORDER BY doc_id""".stripMargin,
    // ingest-pipeline oracle: the incremental-screen prefix (same split,
    // new = doc_id < 50) + md5 exact-dup + quality + 3-gram novelty +
    // shard arithmetic, composed
    "q_pipeline_ingest" ->
      s"""$dedupIncrementalOraclePrefix,
         |nd AS (SELECT DISTINCT new_id AS doc_id FROM pairs
         |       WHERE bands_hit > 0 AND est >= 0.5),
         |refh AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id >= 50),
         |qv AS (
         |  SELECT doc_id, round(
         |    0.4*least(len(w)/100.0, 1.0)
         |    + 0.3*(1.0 - CASE WHEN nonws > 0 THEN CAST(punct AS DOUBLE)/nonws ELSE 0.0 END)
         |    + 0.3*least((CASE WHEN len(w) > 0 THEN CAST(len(list_filter(w, x -> list_contains(${profileSql("en")}, x))) AS DOUBLE)/len(w) ELSE 0.0 END)/0.1, 1.0),
         |    6) AS quality, md5(text) AS h
         |  FROM (SELECT doc_id, text, string_split_regex(text, '\\s+') AS w,
         |          length(regexp_replace(text, '\\s', '', 'g')) AS nonws,
         |          length(regexp_replace(text, '[a-z0-9\\s]', '', 'g')) AS punct
         |        FROM documents WHERE doc_id < 50)
         |), g3 AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |    list_transform(range(1, len(w)-1), i -> w[i]||' '||w[i+1]||' '||w[i+2]),
         |    g -> $polyhashSql)) AS fps
         |  FROM t
         |), ref3 AS (SELECT list_distinct(flatten(list(fps))) AS rfps FROM g3 WHERE doc_id >= 50
         |), nov AS (
         |  SELECT g3.doc_id,
         |    round(CAST(len(g3.fps) - len(list_intersect(g3.fps, ref3.rfps)) AS DOUBLE) / len(g3.fps), 6) AS novelty
         |  FROM g3, ref3 WHERE g3.doc_id < 50 AND len(g3.fps) > 0
         |), dec AS (
         |  SELECT qv.doc_id,
         |    (qv.h IN (SELECT h FROM refh)) AS dup_exact,
         |    (qv.doc_id IN (SELECT doc_id FROM nd)) AS near_dup,
         |    qv.quality, nov.novelty
         |  FROM qv LEFT JOIN nov ON qv.doc_id = nov.doc_id
         |)
         |SELECT doc_id, dup_exact, near_dup, quality, novelty,
         |  (NOT dup_exact AND NOT near_dup AND quality >= 0.5) AS accept,
         |  CASE WHEN NOT dup_exact AND NOT near_dup AND quality >= 0.5
         |       THEN (((doc_id % 1000003) * 131 + 7) % 1000) % 8 END AS shard
         |FROM dec ORDER BY doc_id""".stripMargin,
    // LSH-graph oracle: same plane constants, candidate = hamming(bucket)
    // <= radius (the closed form of "collides in some probe bucket"),
    // same rank/mutual epilogue as the exact graph
    "q_embed_knn_graph_lsh" -> {
      val planes = AnnSearch.hyperplanes(dim = 64)
      def bExpr(vecSql: String): String =
        planes.zipWithIndex.map { case (p, i) =>
          val lst = p.mkString("[", ",", "]")
          s"(CASE WHEN list_dot_product($vecSql, $lst) >= 0 THEN ${1 << i} ELSE 0 END)"
        }.mkString("(", " + ", ")")
      s"""WITH e AS MATERIALIZED (
         |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v,
         |         ${bExpr("CAST(embedding AS DOUBLE[])")} AS b
         |  FROM embeddings
         |), sc AS (
         |  SELECT a.id AS src, b.id AS dst,
         |    row_number() OVER (PARTITION BY a.id
         |      ORDER BY list_cosine_similarity(a.v, b.v) DESC, b.id ASC) AS rnk
         |  FROM e a JOIN e b ON a.id <> b.id AND bit_count(xor(a.b, b.b)) <= 2
         |), ed AS (SELECT src, dst FROM sc WHERE rnk <= 6
         |), m AS (
         |  SELECT e1.src FROM ed e1 JOIN ed e2
         |    ON e1.src = e2.dst AND e1.dst = e2.src
         |)
         |SELECT e.id AS vec_id, coalesce(d.c, 0) AS mutual_degree
         |FROM e LEFT JOIN (SELECT src, count(*) AS c FROM m GROUP BY src) d
         |  ON e.id = d.src
         |ORDER BY vec_id""".stripMargin
    },
    // weighted-sample oracle: identical quality weight (6-dp), identical
    // id-hash uniform, identical ln(u)/w key; selection on the raw key,
    // rounding after
    "q_curate_weighted_sample" ->
      s"""WITH t AS (
         |  SELECT doc_id, string_split_regex(text, '\\s+') AS toks,
         |         length(regexp_replace(text, '\\s', '', 'g')) AS nonws,
         |         length(regexp_replace(text, '[a-z0-9\\s]', '', 'g')) AS punct
         |  FROM documents
         |), sc AS (
         |  SELECT doc_id, round(
         |    0.4*least(len(toks)/100.0, 1.0)
         |    + 0.3*(1.0 - CASE WHEN nonws > 0 THEN CAST(punct AS DOUBLE)/nonws ELSE 0.0 END)
         |    + 0.3*least((CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, x -> list_contains(${profileSql("en")}, x))) AS DOUBLE)/len(toks) ELSE 0.0 END)/0.1, 1.0),
         |    6) AS q
         |  FROM t
         |), uh AS (
         |  SELECT doc_id, q, ${polySqlOf("CAST(doc_id AS VARCHAR)")} AS h,
         |         ${polySql2Of("CAST(doc_id AS VARCHAR)")} AS g
         |  FROM sc WHERE q > 0
         |), um AS (
         |  SELECT doc_id, q,
         |    (h * 2654435761 + 97) % 1000000007 AS t1,
         |    (g * 3266489917 + 113) % 1000000009 AS s1
         |  FROM uh
         |), un AS (
         |  SELECT doc_id, q,
         |    (xor(t1, t1 >> 15) * 1866763009 + 127) % 1000000007 AS t2,
         |    (xor(s1, s1 >> 16) * 2246822519 + 151) % 1000000009 AS s2
         |  FROM um
         |), u AS (
         |  SELECT doc_id, q,
         |    CAST(((xor(t2, t2 >> 13) * 1540483477 + 233) % 1000000007) * 1073741824
         |      + ((xor(s2, s2 >> 12) * 1274126177 + 241) % 1000000009) + 1 AS DOUBLE)
         |      / 1073741831516192768.0 AS u
         |  FROM un
         |), top AS (
         |  SELECT doc_id, q, ln(u) / q AS rawkey FROM u
         |  ORDER BY rawkey DESC, doc_id ASC LIMIT 25
         |)
         |SELECT doc_id, round(q, 6) AS w, round(rawkey, 6) AS key
         |FROM top ORDER BY key DESC, doc_id ASC""".stripMargin,
    // drop-novelty oracle: 3-gram fingerprints per doc (the decontam
    // spelling), reference = flattened distinct set over doc_id < 400
    "q_curate_drop_novelty" ->
      s"""WITH tok AS (
         |  SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM documents
         |), gr AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |    list_transform(range(1, len(w)-1), i -> w[i]||' '||w[i+1]||' '||w[i+2]),
         |    g -> $polyhashSql)) AS fps
         |  FROM tok
         |), ref AS (SELECT list_distinct(flatten(list(fps))) AS rfps FROM gr WHERE doc_id < 400)
         |SELECT gr.doc_id,
         |  CAST(len(gr.fps) AS BIGINT) AS n_grams,
         |  CAST(len(gr.fps) - len(list_intersect(gr.fps, ref.rfps)) AS BIGINT) AS n_new,
         |  round(CAST(len(gr.fps) - len(list_intersect(gr.fps, ref.rfps)) AS DOUBLE) / len(gr.fps), 6) AS novelty
         |FROM gr, ref WHERE gr.doc_id >= 400 AND len(gr.fps) > 0
         |ORDER BY gr.doc_id""".stripMargin,
    // exact-stratified oracle: the sampleBucket arithmetic as a window rank
    "q_curate_exact_stratified" ->
      """SELECT source, doc_id FROM (
        |  SELECT source, doc_id, row_number() OVER (
        |    PARTITION BY source
        |    ORDER BY ((doc_id % 1000003) * 131 + 7) % 1000, doc_id) AS rn
        |  FROM documents
        |) WHERE rn <= 5 ORDER BY source, doc_id""".stripMargin,
    // card-scrub oracle: identical planting, identical Luhn fold, identical
    // distinct-then-filter-then-replace pipeline
    "q_curate_scrub_cards" ->
      """WITH t AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 7 = 0 THEN ' card 4532015112830366 ok' ELSE '' END ||
        |    CASE WHEN doc_id % 11 = 0 THEN ' bogus 4532015112830367 no' ELSE '' END AS text2
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, text2,
        |    list_filter(list_distinct(regexp_extract_all(text2, '[0-9]{13,19}')), c ->
        |      list_reduce(list_prepend(CAST(0 AS BIGINT), range(1, length(c)+1)), (acc, i) ->
        |        acc + CASE WHEN i % 2 = 0 THEN
        |          CASE WHEN CAST(substr(reverse(c), CAST(i AS INT), 1) AS INT) * 2 > 9
        |               THEN CAST(substr(reverse(c), CAST(i AS INT), 1) AS INT) * 2 - 9
        |               ELSE CAST(substr(reverse(c), CAST(i AS INT), 1) AS INT) * 2 END
        |          ELSE CAST(substr(reverse(c), CAST(i AS INT), 1) AS INT) END
        |      ) % 10 = 0) AS valid
        |  FROM t
        |)
        |SELECT doc_id, CAST(len(valid) AS BIGINT) AS n_cards,
        |  md5(list_reduce(list_prepend(text2,
        |    list_transform(
        |      list_sort(list_transform(valid, v -> CAST(99 - length(v) AS VARCHAR) || v)),
        |      s -> substr(s, 3))),
        |    (acc, v) -> replace(acc, v, '<card>'))) AS scrubbed_md5
        |FROM c ORDER BY doc_id""".stripMargin,
    // mutual k-NN oracle: all-pairs cosine, per-src row_number rank <= k,
    // mutual = reciprocated-edge join, isolates kept via the left join
    "q_embed_knn_graph" ->
      """WITH e AS MATERIALIZED (
        |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), sc AS (
        |  SELECT a.id AS src, b.id AS dst,
        |    row_number() OVER (PARTITION BY a.id
        |      ORDER BY list_cosine_similarity(a.v, b.v) DESC, b.id ASC) AS rnk
        |  FROM e a JOIN e b ON a.id <> b.id
        |), ed AS (SELECT src, dst FROM sc WHERE rnk <= 6
        |), m AS (
        |  SELECT e1.src FROM ed e1 JOIN ed e2
        |    ON e1.src = e2.dst AND e1.dst = e2.src
        |)
        |SELECT e.id AS vec_id, coalesce(d.c, 0) AS mutual_degree
        |FROM e LEFT JOIN (SELECT src, count(*) AS c FROM m GROUP BY src) d
        |  ON e.id = d.src
        |ORDER BY vec_id""".stripMargin,
    // Label-noise oracle: the same exact top-6 edge list, per-src count
    // of neighbors sharing the source's label, noisy = n_agree < k/2
    "q_embed_label_noise" ->
      """WITH e AS MATERIALIZED (
        |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v, label
        |  FROM embeddings
        |), sc AS (
        |  SELECT a.id AS src, a.label AS src_lbl, b.label AS dst_lbl,
        |    row_number() OVER (PARTITION BY a.id
        |      ORDER BY list_cosine_similarity(a.v, b.v) DESC, b.id ASC) AS rnk
        |  FROM e a JOIN e b ON a.id <> b.id
        |), ag AS (
        |  SELECT src AS id, CAST(count(*) AS BIGINT) AS n_nbrs,
        |    CAST(sum(CASE WHEN dst_lbl = src_lbl THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
        |  FROM sc WHERE rnk <= 6 GROUP BY 1
        |)
        |SELECT e.id AS vec_id, e.label AS label,
        |  coalesce(ag.n_nbrs, 0) AS n_nbrs, coalesce(ag.n_agree, 0) AS n_agree,
        |  round(CAST(coalesce(ag.n_agree, 0) AS DOUBLE)
        |    / greatest(coalesce(ag.n_nbrs, 0), 1), 6) AS agree_frac,
        |  CAST(coalesce(ag.n_agree, 0) < coalesce(ag.n_nbrs, 0) * 0.5 AS INT) AS noisy
        |FROM e LEFT JOIN ag ON ag.id = e.id
        |ORDER BY vec_id""".stripMargin,
    // Label-propagation oracle: the same exact top-6 edge list
    // symmetrized, then two unrolled synchronous rounds of clamped-seed
    // plurality votes (count desc, label asc — integer-deterministic)
    "q_embed_label_prop" ->
      """WITH e AS MATERIALIZED (
        |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v, label,
        |    (vec_id % 4 = 0) AS seed
        |  FROM embeddings
        |), sc AS (
        |  SELECT a.id AS src, b.id AS dst,
        |    row_number() OVER (PARTITION BY a.id
        |      ORDER BY list_cosine_similarity(a.v, b.v) DESC, b.id ASC) AS rnk
        |  FROM e a JOIN e b ON a.id <> b.id
        |), ed AS MATERIALIZED (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT src, dst FROM sc WHERE rnk <= 6
        |    UNION ALL SELECT dst, src FROM sc WHERE rnk <= 6)
        |), s0 AS MATERIALIZED (
        |  SELECT id, CASE WHEN seed THEN label END AS lbl, seed, label AS lbl_true FROM e
        |), v1 AS (
        |  SELECT ed.src, s.lbl AS nlbl, count(*) AS cnt
        |  FROM ed JOIN s0 s ON s.id = ed.dst AND s.lbl IS NOT NULL
        |  GROUP BY 1, 2
        |), w1 AS (
        |  SELECT src AS id, nlbl AS win FROM (
        |    SELECT src, nlbl,
        |      row_number() OVER (PARTITION BY src ORDER BY cnt DESC, nlbl ASC) AS rn
        |    FROM v1)
        |  WHERE rn = 1
        |), s1 AS MATERIALIZED (
        |  SELECT s0.id, CASE WHEN s0.seed THEN s0.lbl ELSE w1.win END AS lbl,
        |    s0.seed, s0.lbl_true
        |  FROM s0 LEFT JOIN w1 ON w1.id = s0.id
        |), v2 AS (
        |  SELECT ed.src, s.lbl AS nlbl, count(*) AS cnt
        |  FROM ed JOIN s1 s ON s.id = ed.dst AND s.lbl IS NOT NULL
        |  GROUP BY 1, 2
        |), w2 AS (
        |  SELECT src AS id, nlbl AS win FROM (
        |    SELECT src, nlbl,
        |      row_number() OVER (PARTITION BY src ORDER BY cnt DESC, nlbl ASC) AS rn
        |    FROM v2)
        |  WHERE rn = 1
        |), s2 AS (
        |  SELECT s1.id, CASE WHEN s1.seed THEN s1.lbl ELSE w2.win END AS lbl,
        |    s1.seed, s1.lbl_true
        |  FROM s1 LEFT JOIN w2 ON w2.id = s1.id
        |)
        |SELECT id AS vec_id, CAST(seed AS INT) AS seed, lbl AS label_pred,
        |  CASE WHEN lbl IS NOT NULL THEN CAST(lbl = lbl_true AS INT) END AS correct
        |FROM s2 ORDER BY vec_id""".stripMargin,
    // ER oracle: the same deterministic one-char-deletion corruption, then
    // the brute-force cross join with exact levenshtein — the blocking-free
    // ground truth the deletion-neighborhood join must reproduce exactly
    // ER-clustering oracle: the same two record sources, brute-force
    // levenshtein≤1 match pairs, then the recursive min-reachable-id
    // closure (the softdedup CC oracle pattern)
    "q_er_clusters" ->
      """WITH RECURSIVE c AS (
        |  SELECT c_custkey AS k, c_name FROM customer WHERE c_custkey % 10 = 0
        |), recs AS MATERIALIZED (
        |  SELECT k * 2 AS rid, c_name AS name FROM c
        |  UNION ALL
        |  SELECT k * 2 + 1,
        |    substr(c_name, 1, CAST(k % length(c_name) AS INT)) ||
        |    substr(c_name, CAST(k % length(c_name) AS INT) + 2)
        |  FROM c
        |), p AS MATERIALIZED (
        |  SELECT a.rid AS id_a, b.rid AS id_b
        |  FROM recs a, recs b
        |  WHERE a.rid < b.rid AND levenshtein(a.name, b.name) <= 1
        |), e AS (
        |  SELECT id_a AS s, id_b AS d FROM p UNION ALL SELECT id_b, id_a FROM p
        |), r AS (
        |  SELECT rid AS id, rid AS reach FROM recs
        |  UNION
        |  SELECT e.d AS id, r.reach FROM r JOIN e ON r.id = e.s
        |), cl AS (SELECT id, min(reach) AS cluster_id FROM r GROUP BY id)
        |SELECT id, cluster_id, id = cluster_id AS keep
        |FROM cl ORDER BY id""".stripMargin,
    "q_er_names" ->
      """WITH dirty AS (
        |  SELECT c_custkey AS dirty_id,
        |    substr(c_name, 1, CAST(c_custkey % length(c_name) AS INT)) ||
        |    substr(c_name, CAST(c_custkey % length(c_name) AS INT) + 2) AS dirty_name
        |  FROM customer
        |)
        |SELECT d.dirty_id, c.c_custkey,
        |  CAST(levenshtein(d.dirty_name, c.c_name) AS BIGINT) AS dist
        |FROM dirty d, customer c
        |WHERE levenshtein(d.dirty_name, c.c_name) <= 1
        |ORDER BY dirty_id, c_custkey""".stripMargin,
    // KL oracle: identical count tables, identical double-division term,
    // identical sorted-list fold for the per-group sum
    "q_text_source_kl" ->
      """WITH tok AS (
        |  SELECT source AS g, unnest(string_split_regex(text, '\s+')) AS t FROM documents
        |), gt AS (SELECT g, t, count(*) AS c_gt FROM tok GROUP BY g, t),
        |gcnt AS (SELECT t, CAST(sum(c_gt) AS BIGINT) AS c_t FROM gt GROUP BY t),
        |gtot AS (SELECT g, CAST(sum(c_gt) AS BIGINT) AS n_g FROM gt GROUP BY g),
        |tot AS (SELECT CAST(sum(c_t) AS BIGINT) AS n FROM gcnt),
        |terms AS (
        |  SELECT g, n_g,
        |    (CAST(c_gt AS DOUBLE)/n_g) *
        |      ln((CAST(c_gt AS DOUBLE)/n_g)/(CAST(c_t AS DOUBLE)/n)) AS term
        |  FROM gt JOIN gcnt USING (t) JOIN gtot USING (g), tot
        |), ag AS (
        |  SELECT g AS source, CAST(max(n_g) AS BIGINT) AS n_tokens,
        |    list(term ORDER BY term) AS ts
        |  FROM terms GROUP BY g
        |)
        |SELECT source, n_tokens,
        |  round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), ts), (a, x) -> a + x), 6) AS kl_nats
        |FROM ag ORDER BY source""".stripMargin,
    // MAD oracle: the q_text_quality score expression, 6-dp-rounded BEFORE
    // the medians (interpolation parity), quantile_cont = Spark percentile
    "q_profile_mad" ->
      s"""WITH t AS (
        |  SELECT doc_id, source, string_split_regex(text, '\\s+') AS toks,
        |         length(regexp_replace(text, '\\s', '', 'g')) AS nonws,
        |         length(regexp_replace(text, '[a-z0-9\\s]', '', 'g')) AS punct
        |  FROM documents
        |), sc AS (
        |  SELECT doc_id, source, round(
        |    0.4*least(len(toks)/100.0, 1.0)
        |    + 0.3*(1.0 - CASE WHEN nonws > 0 THEN CAST(punct AS DOUBLE)/nonws ELSE 0.0 END)
        |    + 0.3*least((CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, x -> list_contains(${profileSql("en")}, x))) AS DOUBLE)/len(toks) ELSE 0.0 END)/0.1, 1.0),
        |    6) AS v
        |  FROM t
        |), sc6 AS (
        |  SELECT doc_id, source, CAST(round(v * 1e6) AS BIGINT) AS v6 FROM sc
        |), med AS (
        |  SELECT source, CAST(quantile_cont(v6, 0.5) * 2 AS BIGINT) AS m2
        |  FROM sc6 GROUP BY source
        |), dev AS (
        |  SELECT doc_id, source, v6, m2, abs(v6 * 2 - m2) AS dev2
        |  FROM sc6 JOIN med USING (source)
        |), mad AS (
        |  SELECT source, CAST(quantile_cont(dev2, 0.5) * 2 AS BIGINT) AS mad4
        |  FROM dev GROUP BY source
        |)
        |SELECT source, doc_id, round(v6 / 1e6, 6) AS value, round(m2 / 2e6, 6) AS med,
        |  CASE WHEN mad4 > 0 THEN round(CAST(dev2 * 2 AS DOUBLE) / (1.4826 * mad4), 6) END AS robust_z,
        |  (mad4 > 0 AND dev2 * 2 > 2.0 * 1.4826 * mad4) AS is_outlier
        |FROM dev JOIN mad USING (source) ORDER BY doc_id""".stripMargin,
    "q_curate_length_buckets" ->
      """WITH t AS (
        |  SELECT doc_id, len(string_split_regex(text, '\s+')) AS n FROM documents
        |), b AS (
        |  SELECT doc_id, n,
        |    CAST(CASE WHEN n <= 16 THEN 16 WHEN n <= 32 THEN 32
        |              WHEN n <= 64 THEN 64 ELSE 96 END AS BIGINT) AS bucket
        |  FROM t
        |)
        |SELECT bucket, count(*) AS n_docs,
        |  CAST(sum(least(n, bucket)) AS BIGINT) AS used_tokens,
        |  bucket * count(*) AS capacity,
        |  round(1.0 - CAST(sum(least(n, bucket)) AS DOUBLE) / (bucket * count(*)), 6) AS waste
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,
    // phrase oracle: positional postings via ranged subscripts, adjacency
    // self-join — 1-based positions vs Spark's 0-based posexplode, but only
    // position DIFFERENCES enter the predicate
    "q_text_phrase" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS ts FROM documents
        |), p AS MATERIALIZED (
        |  SELECT doc_id, ts[i] AS t, i
        |  FROM tok, unnest(range(1, len(ts) + 1)) AS u(i)
        |), m AS (
        |  SELECT a.doc_id FROM p a JOIN p b ON a.doc_id = b.doc_id AND b.i = a.i + 1
        |  WHERE a.t = 'table' AND b.t = 'hash'
        |)
        |SELECT doc_id, count(*) AS n_occurrences FROM m GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,
    // group-split oracle: the q_dedup_clusters recursive closure gives each
    // doc its min-reach cluster id; the split is hashSplit's pure arithmetic
    // applied to that cluster id
    "q_curate_group_split" ->
      """WITH RECURSIVE t AS MATERIALIZED (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(1, len(string_split_regex(text, '\s+'))),
        |    i -> string_split_regex(text, '\s+')[i] || ' ' || string_split_regex(text, '\s+')[i+1])) AS sh
        |  FROM documents
        |), p AS MATERIALIZED (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM t a, t b
        |  WHERE a.doc_id < b.doc_id
        |    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5
        |), e AS (
        |  SELECT id_a AS s, id_b AS d FROM p UNION ALL SELECT id_b, id_a FROM p
        |), r AS (
        |  SELECT doc_id AS id, doc_id AS reach FROM documents
        |  UNION
        |  SELECT e.d AS id, r.reach FROM r JOIN e ON r.id = e.s
        |), cl AS (SELECT id, min(reach) AS cluster_id FROM r GROUP BY id)
        |SELECT id AS doc_id, cluster_id AS group_id,
        |  CASE WHEN ((cluster_id % 1000003) * 97 + 13) % 1000 < 800 THEN 'train'
        |       WHEN ((cluster_id % 1000003) * 97 + 13) % 1000 < 900 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM cl ORDER BY doc_id""".stripMargin,
  )
}
