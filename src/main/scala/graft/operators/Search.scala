package graft.operators

import graft.Checkpoint.CheckpointOps
import graft.functions.{VectorFunctions => VF}
import graft.functions.BoundParam.param
import graft.sources.VectorStore
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's defining read path — `find_most_similar`
  * (/root/reference/minivectordb/vector_database.py:466-536) — as one
  * declarative Spark plan:
  *
  * {{{ scan → filter(compiled metadata predicate) → score(cosine) → top-k }}}
  *
  * The reference's two physical paths (full-index search vs throwaway
  * subset index, vector_database.py:495-523) collapse into a single plan
  * shape here: Catalyst scores only rows surviving the filter, and
  * `orderBy(desc).limit(k)` plans as `TakeOrderedAndProject` — per-partition
  * partial top-k, then a k·P-row merge on one reducer — so no global sort and
  * no full shuffle at any scale. Exactness matches the reference:
  * `IndexFlatIP` is brute force, so scan-and-score is the same algorithm
  * distributed.
  */
object Search {
  import FilterDsl.MetaFilter

  /** Ordered-descending cosine top-k with optional metadata filtering and
    * autocut, returning `(id, score, metadata)` — the reference's result
    * triple (vector_database.py:526-536) as a DataFrame. Ties break on id
    * (the reference inherits FAISS's arbitrary tie order; we pin a
    * deterministic one for oracle parity — BASELINE.md measurement notes).
    */
  def findMostSimilar(
      store: VectorStore,
      query: Seq[Float],
      metadataFilter: Seq[MetaFilter] = Nil,
      excludeFilter: Seq[Map[String, MetaValue]] = Nil,
      orFilters: Seq[MetaFilter] = Nil,
      k: Int = 5,
      autocut: Boolean = false): DataFrame = {
    val pred = FilterDsl.compile(col("metadata_kv"), metadataFilter, orFilters, excludeFilter)
    val scored = store.df
      .filter(pred)
      .withColumn("score", VF.dot(col("embedding"), typedLit(query)) /
        (sqrt(col("norm_sq")) * param(VF.queryNorm(query))))
      .select(col("id"), col("score"), col("metadata"))
      .orderBy(desc("score"), asc("id"))
      .limit(k)
    if (autocut) Autocut(scored, col("score"), col("id")) else scored
  }

  /** Batch k-NN: top-k per query for a whole SET of query vectors in ONE
    * corpus scan — the throughput shape the reference cannot express (its
    * `find_most_similar` is one query per call under a global lock).
    *
    * Plan: broadcast the (small) query table against the corpus — the big
    * side never shuffles for the join — score every (row, query) pair with
    * the fused dot kernel, then rank within each query id. GroupTopK plans
    * as partial-then-final heaps: the partial node reduces each scan
    * partition to ≤ Q·k survivors BEFORE the exchange, so the `query_id`
    * shuffle moves ≤ Q·k·P narrow (id, score) rows — not the n·Q scored
    * pairs, and never embeddings. At Q queries per scan the dominant cost —
    * reading the corpus — is amortized Q-fold.
    */
  def findMostSimilarBatch(
      store: VectorStore,
      queries: DataFrame, // (query_id, query_vec ARRAY<FLOAT>)
      k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = broadcast(queries
      .select(col("query_id"), col("query_vec"),
        sqrt(VF.normSq(col("query_vec"))).as("qnrm")))
    val scored = store.df
      .join(q) // broadcast nested-loop: every row scored against every query
      .withColumn("score",
        VF.dot(col("embedding"), col("query_vec")) / (sqrt(col("norm_sq")) * col("qnrm")))
      .select(col("query_id"), col("id"), col("score"))
    // per-group top-k runs on the custom heap operator (GroupTopKExec):
    // O(n log k) with no per-group sort — the n·Q scored rows never hit a
    // WindowExec sort buffer. The rank column is derived afterwards over
    // the ≤ k·Q survivors only.
    val topk = org.apache.spark.sql.graft.GroupTopK.perGroup(
      scored, Seq(col("query_id")), Seq(desc("score"), asc("id")), k)
    val w = Window.partitionBy("query_id").orderBy(desc("score"), asc("id"))
    topk.withColumn("rank", row_number().over(w))
  }

  /** Hard-negative mining for embedding-model training (the contrastive
    * batch-construction step: for each anchor, the most similar items with
    * a DIFFERENT label are the informative negatives). Same plan skeleton
    * as [[findMostSimilarBatch]] — broadcast the anchor set against one
    * corpus scan, score with the fused dot kernel — but the label-mismatch
    * predicate runs BEFORE the heap, so same-label rows never enter the
    * top-k and the `anchor_id` exchange still moves ≤ anchors·k survivors
    * (GroupTopK partial). One corpus scan mines negatives for the whole
    * anchor batch.
    *
    * `anchors`: (anchor_id, anchor_vec ARRAY&lt;FLOAT&gt;, anchor_label).
    */
  def hardNegatives(
      embs: DataFrame,
      id: Column,
      vec: Column,
      label: Column,
      anchors: DataFrame,
      k: Int = 5): DataFrame = {
    val a = broadcast(anchors
      .select(col("anchor_id"), col("anchor_vec"), col("anchor_label"),
        sqrt(VF.normSq(col("anchor_vec"))).as("anrm")))
    val scored = embs
      .select(id.as("id"), vec.as("v"), label.as("lbl"))
      .join(a, col("lbl") =!= col("anchor_label")) // negatives only
      .withColumn("score",
        VF.dot(col("v"), col("anchor_vec")) / (sqrt(VF.normSq(col("v"))) * col("anrm")))
      .select(col("anchor_id"), col("id"), col("lbl"), col("score"))
    org.apache.spark.sql.graft.GroupTopK.perGroup(
      scored, Seq(col("anchor_id")), Seq(desc("score"), asc("id")), k)
  }

  /** Exact mutual k-NN graph: for every vector its top-`k` cosine
    * neighbors, keeping an edge only when BOTH endpoints rank each other —
    * the symmetric neighborhood graph that seeds manifold methods (UMAP,
    * spectral clustering) and flags isolated/duplicate regions (mutual
    * degree 0 = isolate, degree ≈ k = dense near-dup pocket). Returns
    * `(id, mutual_degree)` for every vector.
    *
    * Scale shape: corpus-sized query sets break the
    * [[findMostSimilarBatch]] broadcast, so the all-pairs scoring runs as
    * the 1-Bucket-Theta grid instead (the [[Dedup.cosinePairs]] exchange:
    * destinations hashed into `blocks`, sources replicated across them —
    * n²/blocks pairs per reducer, no corpus broadcast), then GroupTopK's
    * partial heap cuts each reducer's output to ≤ srcs·k rows before the
    * regroup. The mutual check is a self-semi-join on the ≤ n·k edge list,
    * and norms are materialized once per row, not per pair.
    */
  def knnGraphMutual(embs: DataFrame, id: Column, vec: Column, k: Int,
      blocks: Int = 32): DataFrame = {
    require(k >= 1 && blocks >= 1)
    val t = embs.select(id.as("id"), vec.as("v"))
      .withColumn("nrm", sqrt(VF.normSq(col("v"))))
    mutualDegrees(t.select(col("id")), gridTopKEdges(t, k, blocks))
  }

  /** Greedy k-center coreset — farthest-point traversal (Gonzalez 1985,
    * a 2-approximation of the optimal k-center cover): seed with the
    * lowest id, then `k−1` times pick the vector FARTHEST (cosine
    * distance) from everything selected so far. The standard
    * diverse-subset selection for annotation budgets and data pruning —
    * where [[Rerank.mmr]] diversifies a RANKED shortlist against a
    * query, this covers the whole corpus with no query at all. Returns
    * the ≤ k selected centers as `(round, id, dist)` — `dist` is the
    * selection distance (the corpus coverage radius just before that
    * center joined, so the column is the decreasing radius curve;
    * NULL for the seed), rounded 6 dp after selection.
    *
    * Scale shape: per round, ONE scan of the (id, min-dist) state — the
    * new center rides into the task binary as a literal vector, the
    * argmax is a TakeOrderedAndProject (never a sort), and the state is
    * lineage-cut per round so k rounds stay flat. Nothing but the k
    * selected rows ever reaches the driver. Total cost k scans — the
    * same shape as Lloyd iterations, with k bounded by the annotation
    * budget (tens to thousands), not the corpus.
    *
    * Round-depth guidance (SCALE_SMOKE.md "kcenter coreset" rows): the
    * k=64 audit row runs at ~3.7× the k=8 row (not 8× — fixed setup
    * dominates), i.e. per-round cost (scan + localCheckpoint + 1-row
    * collect) does NOT compound with depth; the marginal round costs
    * ~0.25 s on the x200 corpus. The practical ceiling is therefore wall
    * clock, not memory: at k rounds × (one corpus scan each), budget
    * k ≲ a few thousand; past that, relax to batched selection (pick the
    * m farthest points per pass — still a 2·OPT-flavored cover in
    * practice) or seed with [[kCenterCoreset]] over an IVF/LSH sample.
    */
  def kCenterCoreset(embs: DataFrame, id: Column, vec: Column,
      k: Int): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField, StructType}
    require(k >= 1)
    val spark = embs.sparkSession
    // store dtype discipline (O20): vectors coerce to float32 on entry.
    // Zero-norm vectors are excluded up front — their cosine distance is
    // NaN, which least() skips and desc-sort ranks FIRST, so one garbage
    // vector (a failed upstream inference) would hijack round 1 with a
    // reported dist of 1.8e308 and a meaningless radius curve.
    val t = embs.select(id.as("id"), vec.cast("array<float>").as("v"))
      .withColumn("nrm", sqrt(VF.normSq(col("v"))))
      .filter(col("nrm") > 0)
      .cut(eager = false) // one scan feeds every round
    val outSchema = StructType(Seq(
      StructField("round", IntegerType, nullable = false),
      StructField("id", t.schema("id").dataType),
      StructField("dist", DoubleType)))
    def round6(x: Double): java.lang.Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val seedRows = t.orderBy("id").limit(1).collect()
    if (seedRows.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], outSchema)
    val seed = seedRows.head
    var picked = Seq[Row](Row(0, seed.get(0), null))
    var centerVec = seed.getSeq[Float](1)
    var centerNrm = seed.getDouble(2)
    var lastId: Any = seed.get(0)
    var state = t.withColumn("mind", lit(Double.MaxValue))
    for (r <- 1 until k) {
      val d = lit(1.0) - VF.dot(col("v"), typedLit(centerVec)) /
        (col("nrm") * lit(centerNrm))
      state = state
        .filter(col("id") =!= lit(lastId))
        .withColumn("mind", least(col("mind"), d))
        .cut(eager = false)
      val rows = state.orderBy(desc("mind"), asc("id")).limit(1).collect()
      if (rows.nonEmpty) {
        val c = rows.head
        picked :+= Row(r, c.get(0), round6(c.getDouble(3)))
        centerVec = c.getSeq[Float](1)
        centerNrm = c.getDouble(2)
        lastId = c.get(0)
      }
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(picked, numSlices = 1), outSchema)
  }

  /** Cover audit for [[kCenterCoreset]]: assign every vector to its
    * nearest selected center (cosine distance, ties → lower center id)
    * and report per-center `(n_assigned, cover_radius)` — the radius is
    * the max assigned distance, an order-invariant aggregate (a mean of
    * floats would drift with partitioning). The k-row center table rides
    * as a broadcast, so the assignment is ONE corpus scan + a bounded
    * k-fanout; the per-vector argmin is the GroupTopK heap, never a sort.
    */
  def kCenterAssign(embs: DataFrame, id: Column, vec: Column,
      k: Int): DataFrame = {
    val t = embs.select(id.as("id"), vec.cast("array<float>").as("v"))
      .withColumn("nrm", sqrt(VF.normSq(col("v"))))
      .filter(col("nrm") > 0) // same NaN exclusion as the coreset rounds
      .cut(eager = false) // the coreset rounds + the assignment share it
    val centers = kCenterCoreset(t, col("id"), col("v"), k)
      .select(col("id").as("center_id"))
    val cvecs = t.join(centers, col("id") === col("center_id"))
      .select(col("center_id"), col("v").as("cv"), col("nrm").as("cnrm"))
    val scored = t.crossJoin(broadcast(cvecs))
      .select(col("id"), col("center_id"),
        (lit(1.0) - VF.dot(col("v"), col("cv")) /
          (col("nrm") * col("cnrm"))).as("dist"))
    org.apache.spark.sql.graft.GroupTopK.perGroup(
        scored, Seq(col("id")), Seq(asc("dist"), asc("center_id")), 1)
      .groupBy("center_id")
      .agg(count(lit(1)).as("n_assigned"),
        round(max(col("dist")), 6).as("cover_radius"))
      .orderBy("center_id")
  }

  /** Noisy-label screen over the exact k-NN graph — the
    * neighborhood-consensus detector (the confident-learning/"cleanlab"
    * shape reduced to its kNN core, Northcutt et al. 2021; reference
    * labels feed MiniVectorDB metadata filters, cnmoro/MiniVectorDB
    * README §metadata): for every labeled vector, what fraction of its
    * `k` nearest neighbors carries the SAME label. A low `agree_frac`
    * flags a likely mislabel (or a boundary point) for re-annotation —
    * the pre-training label QC pass run before a labeled corpus is
    * trusted. Returns `(id, label, n_nbrs, n_agree, agree_frac, noisy)`,
    * `noisy` = agree_frac < `tau`. Pure integer counts + one 6-dp
    * division, so the output is engine-independent and fully oracled.
    *
    * Scale shape: the corpus-sized work is the one-off
    * [[knnGraphMutual]] grid edge build (partial heaps before the
    * exchange, no corpus broadcast); the consensus is then a join of the
    * ≤ n·k edge list against the n-row label table (AQE picks broadcast
    * vs SMJ by label-table size) and one counting aggregation.
    */
  def labelAgreement(embs: DataFrame, id: Column, vec: Column,
      label: Column, k: Int, tau: Double = 0.5,
      blocks: Int = 32): DataFrame = {
    require(k >= 1 && blocks >= 1 && tau >= 0.0 && tau <= 1.0)
    val t = embs.select(id.as("id"), vec.as("v"), label.as("lbl"))
      .withColumn("nrm", sqrt(VF.normSq(col("v"))))
      .cut(eager = false) // edge build + both label joins share the scan
    labelConsensus(t, gridTopKEdges(t.select("id", "v", "nrm"), k, blocks), tau)
  }

  /** Sub-quadratic companion of [[labelAgreement]] — candidate edges from
    * sign-LSH bucket collisions ([[lshTopKEdges]]) instead of the exact
    * n² grid, the 100 TB screen. At full probe radius the edge list —
    * and therefore every agreement count — equals the exact one
    * (spec-pinned); at bounded radius recall follows the ANN_EVAL.md
    * banding curves for these planes/radius dials.
    */
  def labelAgreementLsh(embs: DataFrame, id: Column, vec: Column,
      label: Column, planes: Seq[Seq[Double]], k: Int, tau: Double = 0.5,
      probeRadius: Int = 1): DataFrame = {
    require(k >= 1 && tau >= 0.0 && tau <= 1.0)
    val masks = AnnSearch.xorMasks(planes.length, probeRadius)
    val t = AnnSearch.index(
        embs.select(id.as("id"), vec.as("v"), label.as("lbl")), col("v"), planes)
      .withColumn("nrm", sqrt(VF.normSq(col("v"))))
      .cut(eager = false)
    labelConsensus(t, lshTopKEdges(t, masks, k), tau)
  }

  /** Shared consensus epilogue: join neighbor labels over the directed
    * edge list, count per-source agreement, flag `noisy` from the raw
    * counts (never the rounded fraction). Input `t` carries (id, lbl).
    */
  private def labelConsensus(t: DataFrame, edges: DataFrame,
      tau: Double): DataFrame = {
    val counts = edges
      .join(t.select(col("id").as("dst"), col("lbl").as("dst_lbl")), "dst")
      .join(t.select(col("id").as("src"), col("lbl").as("src_lbl")), "src")
      .groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("n_nbrs"),
        sum((col("dst_lbl") === col("src_lbl")).cast("long")).as("n_agree"))
    t.select(col("id"), col("lbl").as("label"))
      .join(counts, Seq("id"), "left")
      .select(Seq(col("id"), col("label")) ++ consensusColumns(tau): _*)
      .orderBy("id")
  }

  /** THE consensus-flag definition — single source of truth shared with
    * the streaming ingest screen
    * ([[graft.streaming.Streaming.startLabelNoiseScreen]]), so the online
    * gate can never drift from the offline screen it twins: coalesced
    * counts, 6-dp `agree_frac`, and `noisy` computed from the RAW counts
    * (`n_agree < n_nbrs·τ`), never from the rounded fraction. Input rows
    * carry nullable `n_nbrs` / `n_agree` from a left join.
    */
  private[graft] def consensusColumns(tau: Double): Seq[Column] = Seq(
    coalesce(col("n_nbrs"), lit(0L)).as("n_nbrs"),
    coalesce(col("n_agree"), lit(0L)).as("n_agree"),
    round(coalesce(col("n_agree"), lit(0L)) /
      greatest(coalesce(col("n_nbrs"), lit(0L)), lit(1L)), 6)
      .as("agree_frac"),
    (coalesce(col("n_agree"), lit(0L)) <
      coalesce(col("n_nbrs"), lit(0L)).cast("double") * lit(tau))
      .cast("int").as("noisy"))

  /** Directed exact top-`k` cosine edge list `(src, dst)` over the
    * 1-Bucket-Theta grid — the shared candidate generator of
    * [[knnGraphMutual]] and [[labelPropagate]]. Input `t` must carry
    * (id, v, nrm). Ties break (score desc, dst asc), so the edge list is
    * deterministic under any partitioning.
    */
  private def gridTopKEdges(t: DataFrame, k: Int, blocks: Int): DataFrame = {
    val withBlk = t.withColumn("_blk", pmod(hash(col("id")), lit(blocks)))
    val left = t.withColumn("_pb", explode(array((0 until blocks).map(lit(_)): _*)))
    // shuffle_hash on the block side for the same reason as the dedup grid:
    // the block-key exchange IS the intended parallelism dial
    val scored = left.as("a").join(withBlk.as("b").hint("shuffle_hash"),
        col("a._pb") === col("b._blk") && col("a.id") =!= col("b.id"))
      .select(col("a.id").as("src"), col("b.id").as("dst"),
        (VF.dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm"))).as("score"))
    org.apache.spark.sql.graft.GroupTopK.perGroup(
        scored, Seq(col("src")), Seq(desc("score"), asc("dst")), k)
      .select("src", "dst")
  }

  /** Label propagation over the symmetrized exact k-NN graph — the weak
    * supervision workhorse (Zhu & Ghahramani 2002 LP / Raghavan et al.
    * 2007 LPA, clamped-seed variant): a small labeled SEED set spreads to
    * the unlabeled bulk through embedding-neighborhood majority votes.
    * Synchronous rounds; seeds are clamped; every non-seed node recomputes
    * each round as the PLURALITY label among its currently-labeled
    * neighbors (count desc, label asc tie-break — pure integer arithmetic,
    * so the fixpoint is engine-independent); nodes no labeled neighbor has
    * reached stay null. Returns `(id, seed, label_pred, correct)` with the
    * ground-truth audit column (production drops `correct`; it exists so
    * the propagation accuracy is measurable row by row).
    *
    * Scale shape: the corpus-sized work is the one-off edge build (the
    * [[knnGraphMutual]] grid — no corpus broadcast, partial heaps before
    * the exchange); each round then touches only the ≤ 2·n·k edge list
    * (join + count + GroupTopK argmax) and the n-row state, checkpointed
    * per round so `rounds` iterations keep a flat lineage.
    */
  def labelPropagate(embs: DataFrame, id: Column, vec: Column, label: Column,
      seed: Column, k: Int, rounds: Int = 2, blocks: Int = 32): DataFrame = {
    require(k >= 1 && rounds >= 1 && blocks >= 1)
    val t = embs.select(id.as("id"), vec.as("v"), label.as("lbl_true"),
        seed.cast("boolean").as("seed"))
      .withColumn("nrm", sqrt(VF.normSq(col("v"))))
      .cut(eager = false) // edge build + initial state share the scan
    propagate(t, gridTopKEdges(t.select("id", "v", "nrm"), k, blocks), rounds)
  }

  /** Sub-quadratic companion of [[labelPropagate]]: candidate edges come
    * from sign-LSH bucket collisions within multiprobe radius `r` (the
    * [[knnGraphMutualLsh]] blocking) instead of the exact n² grid — the
    * 100 TB path, with recall following the same banding curve
    * ANN_EVAL.md measures for these planes/radius dials. At full probe
    * radius the edge list equals the exact one and so does every
    * propagated label (spec-pinned).
    */
  def labelPropagateLsh(embs: DataFrame, id: Column, vec: Column,
      label: Column, seed: Column, planes: Seq[Seq[Double]], k: Int,
      rounds: Int = 2, probeRadius: Int = 1): DataFrame = {
    require(k >= 1 && rounds >= 1)
    val masks = AnnSearch.xorMasks(planes.length, probeRadius)
    val t = AnnSearch.index(
        embs.select(id.as("id"), vec.as("v"), label.as("lbl_true"),
          seed.cast("boolean").as("seed")), col("v"), planes)
      .withColumn("nrm", sqrt(VF.normSq(col("v"))))
      .cut(eager = false) // probe side, build side, and initial state
    propagate(t, lshTopKEdges(t, masks, k), rounds)
  }

  /** Directed LSH-blocked top-`k` cosine edge list `(src, dst)` — the
    * sub-quadratic candidate generator shared by [[labelPropagateLsh]]
    * and [[labelAgreementLsh]]: bucket collisions within the multiprobe
    * XOR-mask radius, scored exactly, per-src GroupTopK heap. Input `t`
    * must carry (id, v, bucket, nrm).
    */
  private def lshTopKEdges(t: DataFrame, masks: Seq[Int], k: Int): DataFrame = {
    val probes = t
      .withColumn("m", explode(typedLit(masks)))
      .withColumn("pb", col("bucket").bitwiseXOR(col("m")))
    val scored = probes.as("a").join(t.as("b"),
        col("a.pb") === col("b.bucket") && col("a.id") =!= col("b.id"))
      .select(col("a.id").as("src"), col("b.id").as("dst"),
        (VF.dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm"))).as("score"))
    org.apache.spark.sql.graft.GroupTopK.perGroup(
        scored, Seq(col("src")), Seq(desc("score"), asc("dst")), k)
      .select("src", "dst")
  }

  /** Shared propagation epilogue: symmetrize the directed edge list, then
    * `rounds` synchronous clamped-seed plurality votes over it. Input `t`
    * must carry (id, lbl_true, seed).
    *
    * Routing: the vote graph is the edge-list OUTPUT of a k-NN build —
    * ≤ 2·n·k rows, orders of magnitude smaller than the corpus — so one
    * bounded collect ([[org.apache.spark.sql.graft.Bridge.collectUpTo]] at
    * [[Dedup.DriverEdgeCap]] edges) decides: when the symmetrized list
    * fits, the whole synchronous fixpoint runs on the driver over the
    * collected rows (exact integer plurality votes, same
    * count-desc/label-asc tie-break, Spark's own collected label values)
    * and the result re-attaches as a BROADCAST join — zero per-round
    * shuffles where each round was a join + groupBy + GroupTopK + join.
    * Label types whose asc order the driver replicates exactly (integral +
    * UTF-8 strings) route; anything else, and anything past the cap, takes
    * the distributed loop.
    */
  private def propagate(t: DataFrame, dir: DataFrame, rounds: Int): DataFrame =
    propagateRouted(t, dir, rounds)._2

  /** [[propagate]] with the chosen route exposed for tests
    * ("driver" | "distributed").
    */
  private[graft] def propagateRouted(t: DataFrame, dir: DataFrame,
      rounds: Int,
      driverEdgeCap: Int = Dedup.DriverEdgeCap): (String, DataFrame) = {
    val sym = dir
      .unionByName(dir.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StringType}
    // the driver's label asc order, for the label types it replicates exactly
    val lblLt: Option[(Any, Any) => Boolean] = t.schema("lbl_true").dataType match {
      case IntegerType => Some((a, b) => a.asInstanceOf[Int] < b.asInstanceOf[Int])
      case LongType    => Some((a, b) => a.asInstanceOf[Long] < b.asInstanceOf[Long])
      case ShortType   => Some((a, b) => a.asInstanceOf[Short] < b.asInstanceOf[Short])
      case ByteType    => Some((a, b) => a.asInstanceOf[Byte] < b.asInstanceOf[Byte])
      case StringType  => Some((a, b) => utf8Lt(a.asInstanceOf[String], b.asInstanceOf[String]))
      case _ => None
    }
    val driver = for (lt <- lblLt;
        edges <- org.apache.spark.sql.graft.Bridge.collectUpTo(sym, driverEdgeCap))
      yield propagateDriver(t, edges, rounds, lt)
    driver.map(("driver", _))
      .getOrElse(("distributed", propagateDistributed(t, sym, rounds)))
  }

  /** The distributed fixpoint: `rounds` synchronous clamped-seed plurality
    * votes over the symmetrized edge list `sym`, checkpointed per round.
    */
  private def propagateDistributed(t: DataFrame, sym: DataFrame,
      rounds: Int): DataFrame = {
    val edges = sym.cut(eager = false)
    var state = t.select(col("id"),
      when(col("seed"), col("lbl_true")).as("lbl"),
      col("seed"), col("lbl_true"))
    for (_ <- 1 to rounds) {
      val votes = edges
        .join(state.select(col("id").as("dst"), col("lbl").as("nlbl"))
          .filter(col("nlbl").isNotNull), "dst")
        .groupBy("src", "nlbl").agg(count(lit(1)).as("cnt"))
      val winners = org.apache.spark.sql.graft.GroupTopK.perGroup(
          votes, Seq(col("src")), Seq(desc("cnt"), asc("nlbl")), 1)
        .select(col("src").as("id"), col("nlbl").as("win"))
      state = state.join(winners, Seq("id"), "left")
        .select(col("id"),
          when(col("seed"), col("lbl")).otherwise(col("win")).as("lbl"),
          col("seed"), col("lbl_true"))
        .cut(eager = false)
    }
    state.select(col("id"), col("seed").cast("int").as("seed"),
        col("lbl").as("label_pred"),
        when(col("lbl").isNotNull,
          (col("lbl") === col("lbl_true")).cast("int")).as("correct"))
      .orderBy("id")
  }

  /** Spark's string asc = unsigned UTF-8 byte order (Java's UTF-16 order
    * diverges for non-BMP chars): the driver routes' tie-break (MMR,
    * label propagation, the in-memory BPE trainer).
    */
  private[operators] def utf8Lt(a: String, b: String): Boolean =
    org.apache.spark.unsafe.types.UTF8String.fromString(a)
      .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b)) < 0

  /** Driver fixpoint over a collected edge list:
    * `rounds` synchronous clamped-seed plurality votes, bit-identical to
    * the distributed loop — votes are integer counts, the winner is
    * (count desc, label asc) with asc replicated per label type, and every
    * round recomputes each non-seed node from its neighbors' PREVIOUS
    * labels exactly as the distributed left join does (a non-seed with no
    * labeled neighbor this round goes back to null). Only edge-incident
    * nodes ever receive votes, so the driver walks just those; everything
    * else is seed-clamped or null by construction and stays distributed in
    * the final broadcast re-attach.
    */
  private def propagateDriver(t: DataFrame, eRows: Array[org.apache.spark.sql.Row],
      rounds: Int, lblLt: (Any, Any) => Boolean): DataFrame = {
    val spark = t.sparkSession
    // adjacency over edge-incident nodes (ids are Spark's collected values;
    // equality/hash are the JVM's, matching the equi-join semantics for the
    // integral/string types this route admits)
    val adj = new java.util.HashMap[Any, java.util.ArrayList[Any]]()
    eRows.foreach { r =>
      adj.computeIfAbsent(r.get(0), _ => new java.util.ArrayList[Any]()).add(r.get(1))
    }
    // seed labels of the edge-incident nodes only (semi-join against the
    // bounded node set — never a corpus collect; seeds outside the graph
    // can never influence a vote because votes flow along edges)
    val nodeSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", t.schema("id").dataType)))
    val nodeRows = adj.keySet().asInstanceOf[java.util.Set[Any]]
      .toArray.map(v => org.apache.spark.sql.Row(v)).toSeq
    val nodesDf = spark.createDataFrame(
      spark.sparkContext.parallelize(nodeRows, 1), nodeSchema)
    val sub = t.select(col("id"),
        when(col("seed"), col("lbl_true")).as("lbl"), col("seed"))
      .join(broadcast(nodesDf), Seq("id"), "left_semi")
      .collect()
    val labels = new java.util.HashMap[Any, Any]()
    val seeds = new java.util.HashSet[Any]()
    sub.foreach { r =>
      if (!r.isNullAt(1)) labels.put(r.get(0), r.get(1))
      // null seed behaves as false, matching when(seed, ...)'s null semantics
      if (!r.isNullAt(2) && r.getBoolean(2)) seeds.add(r.get(0))
    }
    val nodes = adj.keySet().asInstanceOf[java.util.Set[Any]].toArray
    for (_ <- 1 to rounds) {
      val next = new java.util.HashMap[Any, Any]()
      nodes.foreach { u =>
        if (seeds.contains(u)) {
          val l = labels.get(u); if (l != null) next.put(u, l)
        } else {
          val counts = new java.util.HashMap[Any, Long]()
          adj.get(u).forEach { v =>
            val l = labels.get(v)
            if (l != null) counts.merge(l, 1L, _ + _)
          }
          var win: Any = null; var winCnt = -1L
          counts.forEach { (l, c) =>
            if (c > winCnt || (c == winCnt && lblLt(l, win))) { win = l; winCnt = c }
          }
          if (win != null) next.put(u, win)
        }
      }
      labels.clear(); labels.putAll(next)
    }
    // computed labels for NON-SEED nodes re-attach as a broadcast join;
    // seeds stay clamped via lbl_true and never consult the join
    val lblSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", t.schema("id").dataType),
      org.apache.spark.sql.types.StructField("win", t.schema("lbl_true").dataType)))
    val lblRows = nodes.toSeq.collect {
      case u if !seeds.contains(u) && labels.get(u) != null =>
        org.apache.spark.sql.Row(u, labels.get(u))
    }
    val winsDf = spark.createDataFrame(
      spark.sparkContext.parallelize(lblRows, 1), lblSchema)
    t.select(col("id"), col("seed"), col("lbl_true"))
      .join(broadcast(winsDf), Seq("id"), "left")
      .withColumn("label_pred",
        when(col("seed"), col("lbl_true")).otherwise(col("win")))
      .select(col("id"), col("seed").cast("int").as("seed"),
        col("label_pred"),
        when(col("label_pred").isNotNull,
          (col("label_pred") === col("lbl_true")).cast("int")).as("correct"))
      .orderBy("id")
  }

  /** Reciprocated-edge degree per node over a directed edge list: the
    * shared epilogue of the exact and LSH-blocked k-NN graphs. Edge list is
    * checkpointed once (both sides of the mutual semi-join); isolates kept
    * via the left join.
    */
  private def mutualDegrees(ids: DataFrame, edgesIn: DataFrame): DataFrame = {
    val edges = edgesIn.cut(eager = false)
    val mutual = edges.as("e1").join(edges.as("e2"),
      col("e1.src") === col("e2.dst") && col("e1.dst") === col("e2.src"),
      "left_semi")
    ids.join(mutual.groupBy("src").agg(count(lit(1)).as("md")),
        col("id") === col("src"), "left")
      .select(col("id"), coalesce(col("md"), lit(0L)).as("mutual_degree"))
  }

  /** Approximate mutual k-NN graph via sign-LSH bucket blocking — the
    * sub-quadratic companion of [[knnGraphMutual]] (the
    * cosinePairs/cosinePairsLsh pairing, applied to graphs): candidate
    * pairs come from bucket collisions within multiprobe radius `r` (a
    * pair collides in EXACTLY one probe bucket — the xor mask is determined
    * by the two buckets — so no dedup pass is needed), scored rows are cut
    * by the GroupTopK partial heap, and the mutual check runs on ≤ n·k
    * edges. Candidate volume is Σ bucket-size² scaled by the probe count
    * instead of n²; recall follows the banding curve (measured in
    * ANN_EVAL.md for the same planes/radius dials).
    */
  def knnGraphMutualLsh(embs: DataFrame, id: Column, vec: Column,
      planes: Seq[Seq[Double]], k: Int, probeRadius: Int = 1): DataFrame = {
    require(k >= 1)
    val masks = AnnSearch.xorMasks(planes.length, probeRadius)
    val idx = AnnSearch.index(
        embs.select(id.as("id"), vec.as("v")), col("v"), planes)
      .withColumn("nrm", sqrt(VF.normSq(col("v"))))
      .cut(eager = false) // probe side and build side of the self-join
    val probes = idx
      .withColumn("m", explode(typedLit(masks)))
      .withColumn("pb", col("bucket").bitwiseXOR(col("m")))
    val scored = probes.as("a").join(idx.as("b"),
        col("a.pb") === col("b.bucket") && col("a.id") =!= col("b.id"))
      .select(col("a.id").as("src"), col("b.id").as("dst"),
        (VF.dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm"))).as("score"))
    val edges = org.apache.spark.sql.graft.GroupTopK.perGroup(
        scored, Seq(col("src")), Seq(desc("score"), asc("dst")), k)
      .select("src", "dst")
    mutualDegrees(idx.select(col("id")), edges)
  }

  /** MMR (maximal marginal relevance, Carbonell & Goldstein 1998)
    * diversified re-ranking: greedily select `k` of the candidates, each
    * step maximizing `λ·rel − (1−λ)·max_{s∈selected} cos(c, s)` — the
    * standard redundancy-removal pass over a retrieval shortlist (near-dup
    * hits that q_knn happily returns adjacent get suppressed). Ties break
    * on id ascending at every step; rank-1 is pure relevance with
    * `mmr = λ·rel`.
    *
    * The DISTRIBUTED part is candidate generation (a bounded top-N
    * retrieval upstream). The shortlist is retrieval-bounded by contract
    * (tens to thousands of rows), so one bounded collect
    * ([[org.apache.spark.sql.graft.Bridge.collectUpTo]], 10,000 rows)
    * decides: when it fits, the whole greedy loop runs on the driver over
    * the collected rows. Past the cap the loop runs distributed: k−1 small
    * jobs over the checkpointed candidate table and its N² pairwise-cosine
    * table, with only each step's argmax row crossing to the driver (the
    * selection ids are the loop state, like [[IvfSearch.lloydStep]]'s
    * centroid sync).
    *
    * Output: `(rank, id, rel, mmr)`, one row per selection, rank 1..k.
    */
  def mmrRerank(cands: DataFrame, id: Column, rel: Column, vec: Column,
      k: Int, lambda: Double = 0.75): DataFrame =
    mmrRerankRouted(cands, id, rel, vec, k, lambda)._2

  /** [[mmrRerank]] with the chosen route exposed for tests
    * ("driver" | "distributed"); `shortlistCap` forces a route.
    */
  private[graft] def mmrRerankRouted(cands: DataFrame, id: Column, rel: Column,
      vec: Column, k: Int, lambda: Double,
      shortlistCap: Int = 10000): (String, DataFrame) = {
    require(k >= 1 && lambda > 0 && lambda <= 1)
    val spark = cands.sparkSession
    val c = cands.select(id.cast("string").as("id"), rel.as("rel"), vec.as("v"))
      .withColumn("nrm", sqrt(VF.normSq(col("v"))))
    // Duplicate candidate ids (already undefined-order distributedly) and
    // null vectors/norms stay on the distributed loop: its kernels tolerate
    // a null v (null sim — the row just never wins), where the driver's
    // getSeq would NPE.
    val driverRows = org.apache.spark.sql.graft.Bridge.collectUpTo(c, shortlistCap)
      .filter { rows =>
        !rows.exists(r => r.isNullAt(2) || r.isNullAt(3)) &&
          rows.map(_.getString(0)).distinct.length == rows.length
      }
    val (route, picks) = driverRows match {
      case Some(rows) => ("driver", mmrDriver(rows, k, lambda))
      case None => ("distributed", mmrDistributed(c.cut(eager = false), k, lambda))
    }
    import spark.implicits._
    (route, picks.toDF("rank", "id", "rel", "mmr")
      .select(col("rank"), col("id"), round(col("rel"), 6).as("rel"),
        round(col("mmr"), 6).as("mmr")))
  }

  /** The greedy MMR loop over a collected shortlist `(id, rel, v, nrm)`
    * with distinct ids and no null vector. Arithmetic replicates the
    * kernels bit-for-bit (same left-to-right double dot, same Math.max NaN
    * propagation, same UTF-8-byte id tie-break), so the selection equals
    * the distributed loop's.
    */
  private def mmrDriver(rows: Array[org.apache.spark.sql.Row], k: Int,
      lambda: Double): Vector[(Int, String, Double, Double)] = {
    val ids = rows.map(_.getString(0))
    val rels = rows.map(_.getDouble(1))
    val vs = rows.map(_.getSeq[Any](2).map {
      case f: java.lang.Float => f.toDouble
      case d: java.lang.Double => d.doubleValue
      case n: java.lang.Number => n.doubleValue
    }.toArray)
    val nrms = rows.map(_.getDouble(3))
    def dot(a: Array[Double], b: Array[Double]): Double = {
      val n = math.min(a.length, b.length)
      var s = 0.0; var i = 0
      while (i < n) { s += a(i) * b(i); i += 1 }
      s
    }
    val n = ids.length
    if (n == 0) return Vector.empty
    val taken = new Array[Boolean](n)
    var best = 0
    for (i <- 1 until n)
      if (java.lang.Double.compare(rels(i), rels(best)) > 0 ||
        (java.lang.Double.compare(rels(i), rels(best)) == 0 &&
          utf8Lt(ids(i), ids(best)))) best = i
    var picks = Vector((1, ids(best), rels(best), lambda * rels(best)))
    taken(best) = true
    val maxsim = Array.tabulate(n)(i =>
      if (i == best) Double.NaN
      else dot(vs(i), vs(best)) / (nrms(i) * nrms(best)))
    for (r <- 2 to math.min(k, n)) {
      var sel = -1; var selMmr = 0.0
      for (i <- 0 until n) if (!taken(i)) {
        val m = lambda * rels(i) - (1.0 - lambda) * maxsim(i)
        // Double.compare for the tie too: m == selMmr is false for a
        // NaN pair, which let the first-seen NaN candidate win where
        // the distributed orderBy treats NaNs as equal and tie-breaks
        // on id asc
        if (sel < 0 || java.lang.Double.compare(m, selMmr) > 0 ||
          (java.lang.Double.compare(m, selMmr) == 0 &&
            utf8Lt(ids(i), ids(sel)))) { sel = i; selMmr = m }
      }
      picks :+= ((r, ids(sel), rels(sel), selMmr))
      taken(sel) = true
      for (i <- 0 until n) if (!taken(i))
        maxsim(i) = math.max(maxsim(i),
          dot(vs(i), vs(sel)) / (nrms(i) * nrms(sel)))
    }
    picks
  }

  /** The greedy MMR loop as Spark jobs over the checkpointed shortlist `c`
    * and its pairwise-cosine table; stops at `k` picks or when no
    * candidate is left.
    */
  private def mmrDistributed(c: DataFrame, k: Int,
      lambda: Double): Vector[(Int, String, Double, Double)] = {
    val sims = c.as("a").join(c.as("b"), col("a.id") =!= col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        (VF.dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm"))).as("sim"))
      .cut(eager = false)
    var picks = c.orderBy(col("rel").desc, col("id").asc)
      .select(col("id"), col("rel")).head(1).toVector
      .map(r => (1, r.getString(0), r.getDouble(1), lambda * r.getDouble(1)))
    var exhausted = picks.isEmpty
    while (!exhausted && picks.length < k) {
      val sel = picks.map(_._2)
      val next = c.filter(!col("id").isin(sel: _*))
        .join(sims.filter(col("id_b").isin(sel: _*))
          .groupBy("id_a").agg(max(col("sim")).as("maxsim")),
          col("id") === col("id_a"))
        .withColumn("mmr",
          lit(lambda) * col("rel") - lit(1.0 - lambda) * col("maxsim"))
        .orderBy(col("mmr").desc, col("id").asc)
        .select(col("id"), col("rel"), col("mmr")).head(1)
      exhausted = next.isEmpty
      for (r <- next)
        picks :+= ((picks.length + 1, r.getString(0), r.getDouble(1), r.getDouble(2)))
    }
    picks
  }
}

/** Autocut (reference `autocut_scores`, vector_database.py:443-464): over a
  * descending score list, find the FIRST largest relative drop between
  * consecutive scores; if it exceeds 20%, truncate from that point on.
  *
  * Operates on a top-k result (≤ k rows by construction), so the
  * unpartitioned windows are bounded and NOT a scale concern — the expensive
  * distributed work (scan/filter/top-k) has already reduced the data.
  */
object Autocut {
  val Threshold = 0.2

  def apply(topK: DataFrame, score: Column, tieBreak: Column): DataFrame = {
    // Unpartitioned windows here are deliberate: the input is a top-k result
    // (≤ k rows), so the single-partition WindowExec is bounded regardless of
    // corpus size. (A literal partition key would be folded away by the
    // optimizer anyway.)
    val w = Window.orderBy(score.desc, tieBreak.asc)
    val all = Window.partitionBy().rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val prev = lag(score, 1).over(w)
    topK
      .withColumn("_rn", row_number().over(w))
      .withColumn("_drop", (prev - score) / prev)
      .withColumn("_maxd", max(col("_drop")).over(all))
      .withColumn("_cut", min(when(col("_drop") === col("_maxd"), col("_rn"))).over(all))
      // single-row inputs have no drops (reference guards len>1,
      // vector_database.py:528): _maxd is null ⇒ when() is false ⇒ keep all
      .filter(when(col("_maxd") > Threshold, col("_rn") < col("_cut")).otherwise(lit(true)))
      .drop("_rn", "_drop", "_maxd", "_cut")
  }

  /** Ascending-DISTANCE autocut — the usearch-variant mirror
    * (`autocut_distances`, /root/reference/minivectordb/
    * sharded_vector_database_usearch.py:573-594): over an ascending distance
    * list, find the FIRST largest relative INCREASE between consecutive
    * distances; if it exceeds 20%, truncate from that point on. Identical
    * window shape to the descending form (input is a ≤ k-row top-k result),
    * with the drop ratio sign-flipped: `(d − prev) / prev`.
    */
  def ascending(topK: DataFrame, distance: Column, tieBreak: Column): DataFrame = {
    val w = Window.orderBy(distance.asc, tieBreak.asc)
    val all = Window.partitionBy().rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val prev = lag(distance, 1).over(w)
    topK
      .withColumn("_rn", row_number().over(w))
      .withColumn("_incr", (distance - prev) / prev)
      .withColumn("_maxi", max(col("_incr")).over(all))
      .withColumn("_cut", min(when(col("_incr") === col("_maxi"), col("_rn"))).over(all))
      // single-row inputs have no increases: _maxi null ⇒ keep all (the
      // reference calls max() on a non-empty increase list only)
      .filter(when(col("_maxi") > Threshold, col("_rn") < col("_cut")).otherwise(lit(true)))
      .drop("_rn", "_incr", "_maxi", "_cut")
  }
}

/** Ranking-quality evaluation — recall@k of an approximate retrieval run
  * against exact ground truth, as a QUERY (not a harness): the ANN tier's
  * acceptance test is itself a two-join dataflow that runs at any query
  * count. Recall measured this way is what gates an index config (planes,
  * probe radius, nlist/nprobe) before it serves production traffic.
  */
object RankEval {
  import org.apache.spark.sql.{functions => F}

  /** Per-query recall@k: both inputs are (queryCol, idCol) ranked lists;
    * `exact` is the ground truth. An inner join on (query, id) counts the
    * hits; the exact side's per-query size is the denominator (≤ k — a
    * bucketed ANN run can legitimately return fewer). Join keys are narrow
    * (query_id, id) pairs — at any scale this is two small shuffles over
    * ≤ Q·k rows each, regardless of corpus size.
    */
  def recallAtK(
      exact: DataFrame, approx: DataFrame,
      queryCol: String, idCol: String): DataFrame = {
    val g = exact.select(F.col(queryCol).as("query_id"), F.col(idCol).as("id"))
    val a = approx.select(F.col(queryCol).as("query_id"), F.col(idCol).as("id"))
    val denom = g.groupBy("query_id").agg(F.count(F.lit(1)).as("n_exact"))
    val hits = g.join(a, Seq("query_id", "id"))
      .groupBy("query_id").agg(F.count(F.lit(1)).as("n_hit"))
    denom.join(hits, Seq("query_id"), "left")
      .select(F.col("query_id"), F.col("n_exact"),
        F.coalesce(F.col("n_hit"), F.lit(0L)).as("n_hit"))
      .withColumn("recall",
        F.round(F.col("n_hit").cast("double") / F.col("n_exact"), 6))
  }

  /** Confusion matrix of a predicted label column against ground truth:
    * exact (truth, pred) counts plus each cell's share of its truth row —
    * the per-class recall diagonal and the confusion mass off it. The
    * classifier-eval-as-a-query shape: two label-cardinality-bounded
    * aggregations (the count table is checkpointed for its two consumers);
    * corpus rows shuffle only into the first count.
    */
  def confusion(df: DataFrame, truth: Column, pred: Column): DataFrame = {
    val m = df.select(truth.as("truth"), pred.as("pred"))
      .groupBy("truth", "pred").agg(F.count(F.lit(1)).as("n"))
      .cut(eager = false)
    val tot = m.groupBy("truth").agg(F.sum(F.col("n")).cast("long").as("tot"))
    m.join(tot, "truth")
      .select(F.col("truth"), F.col("pred"), F.col("n"),
        F.round(F.col("n") / F.col("tot"), 6).as("row_share"))
  }
}