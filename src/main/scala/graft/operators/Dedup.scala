package graft.operators

import graft.Checkpoint.CheckpointOps
import graft.operators.TextAnalysis.{fingerprint, FingerprintMod}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data curation — beyond-reference
  * capability (the reference dedups nothing; its only uniqueness notion is
  * the id-collision check, /root/reference/minivectordb/vector_database.py:59-60).
  *
  * Four tiers, by cost and fuzziness, each designed around its shuffle:
  *
  *  - EXACT: hash-groupBy on a 128-bit content key. One shuffle on the key;
  *    map-side partial aggregation; no text comparison ever crosses the wire.
  *  - N-GRAM JACCARD (exact near-dup): a rarest-first prefix filter joins
  *    docs on shared prefix shingles, so only docs SHARING a shingle ever
  *    meet — no O(n²) cross product; dense corpora route to a hashed-bitset
  *    grid instead ([[jaccardPairsAuto]]).
  *  - MINHASH + LSH (approximate near-dup at scale): 32 minhashes → 8 bands
  *    × 4 rows → equi-join on (band, band-signature) → exact-Jaccard verify
  *    of the surviving candidates only. Candidate volume is governed by the
  *    banding curve 1-(1-J^4)^8, so the verify join touches ~0 non-dup pairs;
  *    this is the shape that survives 100 TB (the exact variant's shingle
  *    join grows with shared-shingle frequency, the LSH join doesn't).
  *  - SIMHASH (near-dup by Hamming distance): 60-bit signed-projection
  *    fingerprint per doc; pairs blocked on 4 × 15-bit bands (pigeonhole:
  *    any pair within Hamming ≤ 3 shares at least one exact band).
  *
  * All signature math is integer Column algebra on deterministic polynomial
  * fingerprints — codegen'd, oracle-reproducible, no UDFs.
  */
object Dedup {

  // ---------------------------------------------------------------- shingles

  /** Distinct word n-gram shingles of a text column (n ≥ 1); n-gram
    * construction is a native single-pass kernel
    * ([[graft.functions.WordNgramsExpr]]).
    */
  def shingles(text: Column, n: Int): Column = {
    val toks = split(text, "\\s+")
    if (n == 1) array_distinct(toks)
    else
      array_distinct(org.apache.spark.sql.graft.Bridge.column(
        graft.functions.WordNgramsExpr(
          org.apache.spark.sql.graft.Bridge.expression(toks), n)))
  }

  // ------------------------------------------------------------- exact dedup

  /** Exact dedup: group identical content, keep the lowest-id row per group.
    * Returns (id, content_key, group_size, keep) for every row — callers
    * `filter($"keep")` to retain one representative per distinct content.
    */
  def exactDedup(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val w = Window.partitionBy(col("content_key")).orderBy(col("id"))
    val wAll = Window.partitionBy(col("content_key"))
    docs
      .select(id.as("id"), md5(text).as("content_key"))
      .withColumn("group_size", count(lit(1)).over(wAll))
      .withColumn("keep", row_number().over(w) === 1)
  }

  // --------------------------------------------------- exact n-gram Jaccard

  /** All pairs (idA < idB) whose n-gram-shingle Jaccard ≥ tau — EXACT, by
    * PREFIX FILTER (the AllPairs/PPJoin family): order each doc's shingles
    * rarest-first (global df ascending), join only on each doc's first
    * |x| − ⌈tau·|x|⌉ + 1 shingles (any pair with J ≥ tau must share a prefix
    * element), verify candidates with the true set intersection. Wins on
    * Zipfian NATURAL text, where hot shingles dominate Σ df² but never enter
    * a rarest-first prefix; dense corpora, where prefix selection can't
    * discriminate, take [[jaccardPairsBitsetHashed]] ([[jaccardPairsAuto]]
    * routes between the two).
    */
  def jaccardPairs(
      docs: DataFrame,
      id: Column,
      text: Column,
      n: Int = 2,
      tau: Double = 0.5): DataFrame = {
    val sh = docs.select(id.as("id"), shingles(text, n).as("sh"))
      .withColumn("sz", size(col("sh")))
    val exploded = sh.select(col("id"), col("sz"), explode(col("sh")).as("s"))
    // canonical rarest-first order per doc (ties broken on the shingle).
    // Round-9 plan shape: df comes from a count window over the same
    // shingle exchange (the groupBy-joined-back form shingled the corpus
    // twice), and the ordered table is checkpointed once — it feeds the
    // prefix self-join plus both verify sides, which are not canonically
    // identical and would re-run the per-doc sort each
    val ordered = exploded
      .withColumn("df", count(lit(1)).over(Window.partitionBy("s")))
      .groupBy("id", "sz")
      .agg(sort_array(collect_list(struct(col("df"), col("s")))).as("osh"))
      .withColumn("plen", (col("sz") - ceil(col("sz") * tau) + 1).cast("int"))
      .withColumn("sh", transform(col("osh"), x => x.getField("s")))
      .drop("osh")
      .cut(eager = false)
    val prefixes = ordered.select(col("id"),
      explode(slice(col("sh"), lit(1), col("plen"))).as("s"))
    val cand = prefixes.as("x").join(prefixes.as("y"),
        col("x.s") === col("y.s") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    val sets = ordered.select(col("id"), col("sh"), col("sz"))
    cand
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a"), col("sz").as("sz_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b"), col("sz").as("sz_b")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= tau)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Exact Jaccard pairs with the physical strategy chosen FROM DATA
    * STATISTICS — the cost-based front door over the oracle-equal pair
    * ([[jaccardPairs]] prefix filter, [[jaccardPairsBitsetHashed]] grid).
    *
    * Decision statistic: the two strategies' actual cost drivers.
    *  - grid-bitset: Θ(n²/blocks) fused popcount kernels — n² is its cost,
    *    independent of content;
    *  - prefix/AllPairs: candidates come from an equi-join on shared
    *    shingles, so its cost is Σ_s df(s)² (each pair generated once per
    *    shared shingle, then deduped).
    * Route to the bitset iff `Σdf² > n²/2`: the ½ is calibrated from the
    * committed shoot-out (SCALE_SMOKE.md — bitset 2.24 s over n² = 2.5e7
    * ⇒ ~9e-8 s/pair; prefix 13.5 s over Σdf² = 7.3e7 ⇒ ~1.9e-7 s/cand:
    * a prefix candidate costs ~2× a grid kernel, so the break-even is
    * Σdf² ≈ n²/2). A dense template corpus measures Σdf² ≈ 3·n² → bitset
    * (its answer is near-quadratic anyway); a sparse or SHARDED-vocabulary
    * corpus (e.g. disjoint sub-corpora) measures Σdf² ≪ n² → prefix, whose
    * candidate space then grows near-LINEARLY — the earlier local-reuse
    * probe could not see this global pair-space structure and mis-routed
    * exactly that case (caught by the x200 scale smoke).
    *
    * Probe cost: one pass over the shingle stream of a deterministic
    * 1/`sampleMod` id-hash DOCUMENT sample (filter before the exchange, so
    * the shuffle carries ~1/sampleMod of the stream; the Binomial moment
    * identity in [[pairCostProbe]] recovers an unbiased Σdf²), plus a
    * count() for n. An index-build-time decision, not a per-query one.
    * Small corpora (n < 10·sampleMod) probe exhaustively — sampling noise
    * would exceed the signal there and the full pass is trivial anyway.
    */
  def jaccardPairsAuto(
      docs: DataFrame,
      id: Column,
      text: Column,
      n: Int = 2,
      tau: Double = 0.5,
      sampleMod: Int = 64): DataFrame = {
    val (nDocs, sumDf2) = pairCostProbe(docs, id, text, n, sampleMod)
    // Double arithmetic: nDocs² overflows Long past ~3.04e9 docs (wrapping
    // negative and force-routing every huge corpus to the Θ(n²) grid)
    if (sumDf2 > nDocs.toDouble * nDocs.toDouble / 2.0) jaccardPairsBitsetHashed(docs, id, text, n, tau)
    else jaccardPairs(docs, id, text, n, tau)
  }

  /** The shared routing statistic for pair-join strategy choice: (n docs,
    * estimated Σ_s df(s)²) from a deterministic 1/sampleMod DOCUMENT
    * hash-sample. Small corpora probe exhaustively.
    *
    * Why documents and not vocabulary (round-6 skew lesson): the earlier
    * probe sampled the SHINGLE vocabulary at 1/m, which is exact per
    * sampled shingle but misses any given shingle with probability
    * (m−1)/m — and under a Zipf head the entire Σdf² mass can sit in a
    * handful of boilerplate shingles (df = 0.2·n ⇒ df² = n²/25 EACH), so
    * the probe read low 63/64 of the time exactly when the prefix filter
    * was about to explode. Sampling documents instead measures every
    * shingle's df at rate 1/m — a head shingle is present in every sample
    * by construction (df/m ≫ 1) — and the Binomial moment identity
    * E[df_s²] = df²/m² + df·(1/m)(1−1/m) gives the unbiased read-out
    * `m²·Σdf_s² − m(m−1)·Σdf_s` (clamped at 0 for tiny samples).
    *
    * The sample is keyed on the UNIQUE id, never the text: identical texts
    * share a fingerprint and would enter or miss the sample as a block,
    * which breaks the per-doc independence the Binomial identity needs —
    * on an exact-duplicate-heavy corpus (the dedup router's normal input)
    * a text-keyed probe reads Σdf² ≈ 0 with probability (m−1)/m and
    * routes the one corpus that MUST take the grid straight into the
    * naive join's df² ≈ n² candidate space.
    */
  private def pairCostProbe(
      docs: DataFrame, id: Column, text: Column, n: Int,
      sampleMod: Int): (Long, Double) = {
    val nDocs = docs.count()
    val m = if (nDocs < 10L * sampleMod) 1 else sampleMod
    val row = docs
      .filter(pmod(xxhash64(id.cast("string")), lit(m.toLong)) === 0)
      .select(explode(shingles(text, n)).as("s"))
      .groupBy("s").agg(count(lit(1)).as("df"))
      .agg(coalesce(sum(col("df") * col("df")), lit(0L)).as("s2"),
        coalesce(sum(col("df")), lit(0L)).as("s1"))
      .head()
    val est = m.toDouble * m * row.getLong(0) - m.toDouble * (m - 1) * row.getLong(1)
    (nDocs, math.max(0.0, est))
  }

  /** Source-overlap matrix — corpus forensics: for every pair of sources,
    * how many DISTINCT word-n-gram fingerprints they share, plus the
    * set-Jaccard of their gram vocabularies. The "did feed A scrape feed B"
    * / cross-source contamination probe a multi-source 100 TB ingest needs
    * before mixing.
    *
    * Scale shape: one tokenize pass → distinct (source, fp) pairs (the
    * map-side-combined distinct is the only corpus-sized shuffle) → a
    * self equi-join ON THE FINGERPRINT whose per-key fanout is bounded by
    * the SOURCE count (≤ S rows per fp side, ≤ S²/2 emitted pairs per fp —
    * independent of corpus size), then an S²-row aggregate. No pair of
    * documents is ever materialized.
    */
  def sourceOverlapMatrix(
      docs: DataFrame,
      source: Column,
      text: Column,
      n: Int = 2): DataFrame = {
    val g = docs
      .select(source.as("src"), explode(shingles(text, n)).as("s"))
      .select(col("src"), fingerprint(col("s")).as("fp"))
      .distinct()
    val sz = g.groupBy("src").agg(count(lit(1)).as("n_grams"))
    val shared = g.as("a").join(g.as("b"),
        col("a.fp") === col("b.fp") && col("a.src") < col("b.src"))
      .groupBy(col("a.src").as("src_a"), col("b.src").as("src_b"))
      .agg(count(lit(1)).as("shared_grams"))
    shared
      .join(sz.select(col("src").as("src_a"), col("n_grams").as("na")), Seq("src_a"))
      .join(sz.select(col("src").as("src_b"), col("n_grams").as("nb")), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("shared_grams"),
        round(col("shared_grams").cast("double") /
          (col("na") + col("nb") - col("shared_grams")), 6).as("jaccard"))
  }

  /** All pairs whose shingle-set CONTAINMENT `|A∩B| / min(|A|,|B|)` ≥ tau —
    * the asymmetric near-dup predicate. Jaccard under-scores a short
    * document quoted inside a long one (the union denominator is dominated
    * by the long side: a fully-contained 10-shingle doc inside a 75-shingle
    * doc scores J ≈ 0.13 but C = 1.0); containment is the standard measure
    * for quote/boilerplate/subset detection in web-corpus curation and for
    * the reference corpus finds pairs Jaccard ≥ 0.5 provably cannot.
    *
    * This is the COUNT-JOIN route (explode→equi-join→count, a `least(sz)`
    * denominator) — the sparse-vocabulary strategy, cost Σ_s df(s)². The
    * prefix-filter (AllPairs/PPJoin) route does NOT transfer to
    * containment: its prefix bound derives from the symmetric Jaccard
    * threshold (J ≥ τ ⇒ a shared element in the first |x| − ⌈τ|x|⌉ + 1
    * rarest shingles of BOTH docs), while a contained doc constrains only
    * the SMALLER side. On dense/template corpora use
    * [[containmentPairsBitsetHashed]] (the Θ(n²/blocks) grid, measured 30×
    * faster there); [[containmentPairsAuto]] routes between the two from
    * the same Σdf² probe as [[jaccardPairsAuto]].
    *
    * `minShingles` suppresses noise pairs from trivially short docs.
    */
  def containmentPairs(
      docs: DataFrame,
      id: Column,
      text: Column,
      n: Int = 2,
      tau: Double = 0.8,
      minShingles: Int = 1): DataFrame = {
    val sh = docs.select(id.as("id"), shingles(text, n).as("sh"))
      .withColumn("sz", size(col("sh")))
      .filter(col("sz") >= minShingles)
    val exploded = sh.select(col("id"), col("sz"), explode(col("sh")).as("s"))
    val a = exploded.select(col("id").as("id_a"), col("sz").as("sz_a"), col("s"))
    val b = exploded.select(col("id").as("id_b"), col("sz").as("sz_b"), col("s"))
    a.join(b, Seq("s"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b", "sz_a", "sz_b")
      .agg(count(lit(1)).as("inter"))
      .withColumn("containment",
        col("inter").cast("double") / least(col("sz_a"), col("sz_b")))
      .filter(col("containment") >= tau)
      .select(col("id_a"), col("id_b"), col("containment"))
  }

  /** Containment pairs, two-phase hashed-bitset GRID route — the
    * dense-vocabulary strategy ([[jaccardPairsBitsetHashed]] lifted to the
    * asymmetric predicate). Phase 1 moves only NARROW rows (id, sz,
    * bits/8-byte mask, collision count) through the 1-Bucket-Theta grid and
    * prefilters on the popcount overlap UPPER BOUND: C ≥ τ ⇔ inter ≥
    * τ·min(|A|,|B|), and inter ≤ popcount(maskA ∧ maskB) + min(collA,
    * collB) — so testing the bound never drops a true pair (completeness by
    * the collision upper bound, same argument as the Jaccard twin). Phase 2
    * fetches shingle sets by id for the few survivors and verifies exact
    * containment. NOTE the Jaccard twin's size-ratio window (τ·|B| ≤ |A| ≤
    * |B|/τ) is deliberately ABSENT: containment permits any size ratio —
    * that window is precisely what makes Jaccard blind to subset pairs.
    */
  def containmentPairsBitsetHashed(
      docs: DataFrame,
      id: Column,
      text: Column,
      n: Int = 2,
      tau: Double = 0.8,
      minShingles: Int = 1,
      bits: Int = 1024): DataFrame = {
    require(bits % 64 == 0)
    val hashMask = org.apache.spark.sql.graft.Bridge.column(
      graft.functions.HashMaskExpr(
        org.apache.spark.sql.graft.Bridge.expression(col("sh")), bits))
    // three consumers (grid phase + both verify sides), same cut rationale
    // as the Jaccard twin (round-9)
    val t = docs.select(id.as("id"), shingles(text, n).as("sh"))
      .withColumn("sz", size(col("sh")))
      .filter(col("sz") >= math.max(1, minShingles))
      .withColumn("ms", hashMask)
      .select(col("id"), col("sh"), col("sz"),
        col("ms.mask").as("mask"), (col("sz") - col("ms.set_bits")).as("coll"))
      .cut(eager = false)
    val interBits = org.apache.spark.sql.graft.Bridge.column(
      graft.functions.PopcountAndExpr(
        org.apache.spark.sql.graft.Bridge.expression(col("a.mask")),
        org.apache.spark.sql.graft.Bridge.expression(col("b.mask"))))
    val ub = interBits + least(col("a.coll"), col("b.coll"))
    val candidate = ub >= lit(tau) * least(col("a.sz"), col("b.sz"))
    val cand = gridSelfJoin(t.select("id", "sz", "mask", "coll"), candidate)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    def exactInter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("long")
    def exactCont = exactInter.cast("double") / least(col("sz_a"), col("sz_b"))
    cand
      .join(t.select(col("id").as("id_a"), col("sh").as("sh_a"), col("sz").as("sz_a")), Seq("id_a"))
      .join(t.select(col("id").as("id_b"), col("sh").as("sh_b"), col("sz").as("sz_b")), Seq("id_b"))
      .filter(exactCont >= lit(tau))
      .select(col("id_a"), col("id_b"), exactCont.as("containment"))
  }

  /** Cost-based containment front door: the same Σdf² vs n²/2 routing
    * statistic as [[jaccardPairsAuto]] (the two routes share the identical
    * cost drivers — count-join volume is Σdf², the grid is Θ(n²)); both
    * routes are exact and oracle-equal.
    */
  def containmentPairsAuto(
      docs: DataFrame,
      id: Column,
      text: Column,
      n: Int = 2,
      tau: Double = 0.8,
      minShingles: Int = 1,
      sampleMod: Int = 64): DataFrame = {
    val (nDocs, sumDf2) = pairCostProbe(docs, id, text, n, sampleMod)
    if (sumDf2 > nDocs.toDouble * nDocs.toDouble / 2.0)
      containmentPairsBitsetHashed(docs, id, text, n, tau, minShingles)
    else containmentPairs(docs, id, text, n, tau, minShingles)
  }

  /** Exact Jaccard pairs, hashed-bitset GRID strategy — for the dense
    * regime (template/log-like corpora) where nearly every pair shares
    * shingles, so candidate pruning cannot help and the O(n²) pair space is
    * output-bound anyway. Each doc's shingle set is encoded as a bitmask
    * and |A∩B| bounded by a fused AND+popcount kernel
    * ([[graft.functions.PopcountAndExpr]]). Shingles hash into a fixed
    * `bits`-wide space (fingerprint mod bits), so there is NO
    * driver-collected dictionary (a 100 TB corpus's shingle vocabulary
    * neither fits in nor belongs on the driver).
    *
    * Soundness: for a pair (A, B) with per-doc collision losses
    * `coll = |shingles| − popcount(mask)`, the hashed intersection obeys
    * `|A∩B| ≤ popcount(mask_a AND mask_b) + min(coll_a, coll_b)` — losses
    * within A∩B are bounded by losses within either superset. Filtering on
    * the Jaccard upper bound built from that is therefore COMPLETE (no true
    * pair is lost, at any bit width); the few surviving candidates are
    * verified with the exact shingle intersection. Bit width only tunes how
    * many false candidates reach the verify step.
    */
  def jaccardPairsBitsetHashed(
      docs: DataFrame,
      id: Column,
      text: Column,
      n: Int = 2,
      tau: Double = 0.5,
      bits: Int = 1024): DataFrame = {
    require(bits % 64 == 0)
    // native codegen kernel (HashMaskExpr): the flagship dedup plan is now
    // UDF-free end to end — the mask packing was its last serialization
    // boundary. Same arithmetic as the closure it replaced (poly-hash mod
    // bits, distinct-bit count).
    val hashMask = org.apache.spark.sql.graft.Bridge.column(
      graft.functions.HashMaskExpr(
        org.apache.spark.sql.graft.Bridge.expression(col("sh")), bits))
    // three consumers (the grid phase plus both verify sides): cut so the
    // shingle + hash-mask projection runs once (round-9)
    val t = docs.select(id.as("id"), shingles(text, n).as("sh"))
      .withColumn("sz", size(col("sh")))
      .filter(col("sz") > 0)
      .withColumn("ms", hashMask)
      .select(col("id"), col("sh"), col("sz"),
        col("ms.mask").as("mask"), (col("sz") - col("ms.set_bits")).as("coll"))
      .cut(eager = false)
    val interBits = org.apache.spark.sql.graft.Bridge.column(
      graft.functions.PopcountAndExpr(
        org.apache.spark.sql.graft.Bridge.expression(col("a.mask")),
        org.apache.spark.sql.graft.Bridge.expression(col("b.mask"))))
    val ub = interBits + least(col("a.coll"), col("b.coll"))
    // J ≥ τ ⇔ inter ≥ τ/(1+τ)·(|A|+|B|); test the upper bound on the cheap
    // popcount before the exact intersection ever runs
    val candidate = ub * lit(1.0 + tau) >= lit(tau) * (col("a.sz") + col("b.sz"))
    // TWO PHASES so the O(n²/blocks) grid join moves only NARROW rows
    // (id, sz, 16-word mask, coll — ~150 B): with the exact verify inside
    // the grid join, every replicated row hauls its full shingle array
    // (KBs) through the exchange, and that I/O — not the popcount — is the
    // dominant cost (measured 2.6× on this corpus). The few prefilter
    // survivors then fetch shingle sets by id and verify exactly; the
    // τ-filter sits in THAT join, where every row pays the intersect anyway,
    // so PushPredicateThroughJoin reordering (round-2 gotcha) is moot.
    val cand = gridSelfJoin(t.select("id", "sz", "mask", "coll"),
        col("a.sz") >= lit(tau) * col("b.sz") &&
          col("b.sz") >= lit(tau) * col("a.sz") &&
          candidate)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    def exactInter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("long")
    def exactJaccard =
      exactInter.cast("double") / (col("sz_a") + col("sz_b") - exactInter)
    cand
      .join(t.select(col("id").as("id_a"), col("sh").as("sh_a"), col("sz").as("sz_a")), Seq("id_a"))
      .join(t.select(col("id").as("id_b"), col("sh").as("sh_b"), col("sz").as("sz_b")), Seq("id_b"))
      .filter(exactJaccard >= lit(tau))
      .select(col("id_a"), col("id_b"), exactJaccard.as("jaccard"))
  }

  // ---------------------------------------------------------- MinHash + LSH

  val HashP: Long = FingerprintMod // 1e9+7; coefficients and values < P, products fit a Long

  /** Deterministic (a, b) coefficient pairs for the universal hash family
    * h_i(x) = (a_i·x + b_i) mod P, derived from a splitmix-style generator.
    */
  def hashCoeffs(num: Int, seed: Long = 0x5eed5eedL): Seq[(Long, Long)] = {
    var x = seed
    def next(): Long = {
      x += 0x9e3779b97f4a7c15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    Seq.fill(num)((math.floorMod(next(), HashP - 1) + 1, math.floorMod(next(), HashP)))
  }

  /** Shingle array → integer fingerprint array (compute once per doc; the
    * signature then runs pure modular arithmetic over these ints).
    */
  def shingleFps(shinglesCol: Column): Column = transform(shinglesCol, s => fingerprint(s))

  /** MinHash signature (array of `num` minima) over a PRE-FINGERPRINTED
    * shingle array column: all `num` minima in one native pass
    * ([[graft.functions.MinHashSigExpr]]).
    */
  def minhashSig(fpsCol: Column, num: Int = 32): Column = {
    val coeffs = hashCoeffs(num)
    org.apache.spark.sql.graft.Bridge.column(
      graft.functions.MinHashSigExpr(
        org.apache.spark.sql.graft.Bridge.expression(fpsCol),
        coeffs.map(_._1).toArray, coeffs.map(_._2).toArray, HashP))
  }

  /** Match signature-computation parallelism to the session when the input's
    * FILE LAYOUT under-splits it: parquet's split unit is the row group, so
    * a small single-row-group file is scanned by ONE task and the per-doc
    * hashing (shingles → fingerprints → minhash/simhash) serializes behind
    * it no matter how many cores are idle. The exchange moves only the
    * narrow (id, text) projection and the hashing lands AFTER it. On a real
    * cluster the input arrives in thousands of row groups, the partition
    * count is ≥ the parallelism, and this is a no-op — the trigger is
    * layout, not a blanket repartition (a blanket version measured 2×
    * SLOWER on payload-heavy queries; only the signature paths win).
    */
  private def spread(df: DataFrame): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    val maxSplit = org.apache.spark.sql.internal.SQLConf.get.filesMaxPartitionBytes
    // logical-plan stats, not .rdd.getNumPartitions: the latter forces full
    // physical planning + RDD DAG construction per query BUILD, a fixed tax
    // on every invocation. sizeInBytes under half a split per core means the
    // scan cannot reach the session's parallelism no matter how it splits.
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes < BigInt(maxSplit) * cores / 2) df.repartition(cores) else df
  }

  /** Persistable MinHash signature table `(id, sig ARRAY<BIGINT>)` — the
    * ingest-time index for INCREMENTAL dedup: 8·numHashes bytes per doc
    * regardless of text size, computed once when a document enters the
    * corpus. Docs with no shingles (under n words) are excluded — their
    * signature is undefined.
    */
  def signatureTable(
      docs: DataFrame,
      id: Column,
      text: Column,
      n: Int = 2,
      numHashes: Int = 32): DataFrame =
    spread(docs.select(id.as("id"), text.as("txt")))
      .select(col("id"), shingles(col("txt"), n).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("id"), minhashSig(shingleFps(col("sh")), numHashes).as("sig"),
        // exact distinct-shingle count (8 B/doc on top of the signature):
        // turns the screen's Jaccard estimate into a containment estimate
        // too — sizes are the only extra state asymmetry needs
        size(col("sh")).cast("long").as("sz"))

  /** Incremental near-dup screening: band-join a NEW batch's signatures
    * against the EXISTING corpus signature table — the shape that dedups a
    * fresh crawl against a 100 TB corpus without touching corpus text
    * (the signature table IS the index; the batch side is small, so the
    * band join broadcasts it). Returns per candidate pair the number of
    * colliding bands, the standard MinHash estimate of Jaccard
    * (matching-slot fraction — integer arithmetic, exactly reproducible),
    * and a containment estimate derived from it plus the EXACT stored
    * shingle counts: the screen flags asymmetric (doc-quoted-in-doc)
    * arrivals too, from the same 8·numHashes+8 bytes/doc of index state.
    * CAVEAT the read-out inherits the banding's JACCARD recall curve —
    * candidate pairs only exist where a band collides, so a tiny doc quoted
    * inside a huge one (C high, J near 0) will not surface here; that
    * regime is covered by the postings-index companion path
    * ([[shinglePostings]] + [[incrementalContainmentExact]]), which
    * generates candidates per shared SHINGLE instead of per banded
    * signature and therefore has no Jaccard blind spot.
    * Exact verification (where text is still available) is a join away;
    * the estimator is the screening decision at index-only scale.
    */
  def incrementalNearDups(
      corpusSigs: DataFrame,
      newSigs: DataFrame,
      numHashes: Int = 32,
      bands: Int = 8): DataFrame = {
    require(numHashes % bands == 0)
    val rows = numHashes / bands
    def banded(df: DataFrame, idOut: String): DataFrame =
      df.select(col("id").as(idOut), col("sig"), col("sz"),
          posexplode(array((0 until bands).map(b =>
            slice(col("sig"), b * rows + 1, rows)): _*)))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "bsig")
    // the batch side is small by contract — hint it so the corpus signature
    // table never shuffles (without stats Spark could plan an SMJ that
    // exchanges the whole exploded index, the exact cost this path avoids)
    val cand = broadcast(banded(newSigs, "new_id").as("x"))
      .join(banded(corpusSigs, "corpus_id").as("y"),
        col("x.band") === col("y.band") && col("x.bsig") === col("y.bsig"))
      .groupBy(col("x.new_id").as("new_id"), col("y.corpus_id").as("corpus_id"))
      .agg(count(lit(1)).as("bands_hit"),
        first(col("x.sig")).as("sig_a"), first(col("y.sig")).as("sig_b"),
        first(col("x.sz")).as("sz_a"), first(col("y.sz")).as("sz_b"))
    val estJ = aggregate(zip_with(col("sig_a"), col("sig_b"),
        (x, y) => when(x === y, 1L).otherwise(0L)), lit(0L), (a, x) => a + x)
      .cast("double") / numHashes
    // containment from the SAME estimate plus the exact stored sizes:
    // J = I/(A+B−I) ⇒ I = J(A+B)/(1+J), C = I/min(A,B) — capped at 1
    // (an overestimated Ĵ can push Î past the smaller set)
    cand
      .withColumn("est_jaccard", estJ)
      .select(col("new_id"), col("corpus_id"), col("bands_hit"),
        col("est_jaccard"), col("sz_a"), col("sz_b"),
        least(col("est_jaccard") * (col("sz_a") + col("sz_b"))
            / ((lit(1.0) + col("est_jaccard")) * least(col("sz_a"), col("sz_b"))),
          lit(1.0)).as("est_containment"))
  }

  /** Exact-verify join-back for the incremental screen — the optional third
    * phase of [[incrementalNearDups]]: fetch TEXT for flagged pairs only and
    * verify true shingle-set Jaccard. The screen's estimator decides which
    * corpus texts are worth reading, so at 100 TB the corpus text scan is
    * pruned by a BROADCAST semi-join on the flagged ids (batch-bounded by
    * contract — never more corpus ids than screen hits) and shingling runs
    * only on the pruned rows, never the full corpus. Output keeps the screen
    * columns and appends the verified `jaccard`; `tau` filters on the exact
    * value, not the estimate.
    */
  def incrementalNearDupsVerified(
      screened: DataFrame,
      corpusDocs: DataFrame, corpusId: Column, corpusText: Column,
      batchDocs: DataFrame, batchId: Column, batchText: Column,
      n: Int = 2,
      tau: Double = 0.5): DataFrame = {
    // the screen (banded join + groupBy over the full signature index)
    // feeds two subtrees — pruned to corpus_id for the semi-join and in
    // full for the final join; the pruned branch is not canonically
    // identical, so exchange reuse cannot collapse them and WITHOUT a
    // lineage cut the dominant index-scan aggregation would run twice
    val scr = screened.cut(eager = false)
    val flagged = scr.select(col("corpus_id")).distinct()
    // semi-join BEFORE the shingle projection so the per-doc shingling work
    // is bounded by the flag count, not the corpus size
    val corpusSh = corpusDocs.select(corpusId.as("corpus_id"), corpusText.as("txt"))
      .join(broadcast(flagged), Seq("corpus_id"), "left_semi")
      .select(col("corpus_id"), shingles(col("txt"), n).as("sh_b"))
    val batchSh = batchDocs.select(batchId.as("new_id"), shingles(batchText, n).as("sh_a"))
    scr
      .join(broadcast(batchSh), Seq("new_id"))
      .join(corpusSh, Seq("corpus_id"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .filter(col("jaccard") >= tau)
      .select(col("new_id"), col("corpus_id"), col("bands_hit"),
        col("est_jaccard"), col("jaccard"))
  }

  /** Persistable inverted shingle-fingerprint index `(fp, id, sz, df)` —
    * one row per (distinct shingle fingerprint, doc): the asymmetric
    * companion to [[signatureTable]]. The MinHash screen's banding draws
    * candidates from JACCARD collisions, so a short doc wholly quoted
    * inside a long one (containment 1.0, Jaccard ≈ 0) can evade it; the
    * postings index generates a candidate for every SHARED shingle, which
    * has no such blind spot. Cost: ~12 B per (doc, distinct shingle) —
    * token-scale rather than doc-scale state, the price of asymmetric
    * recall (this IS the inverted-index shape; build it once at ingest).
    * `df` (document frequency per fingerprint) is precomputed so screens
    * can drop stop-shingle postings without a second pass.
    */
  def shinglePostings(
      docs: DataFrame,
      id: Column,
      text: Column,
      n: Int = 2): DataFrame = {
    val posts = spread(docs.select(id.as("id"), text.as("txt")))
      .select(col("id"), shingles(col("txt"), n).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("id"), size(col("sh")).cast("long").as("sz"),
        explode(array_distinct(shingleFps(col("sh")))).as("fp"))
    // df rides on the index so screen-time stop-shingle capping is a
    // filter, not an aggregation. Round-9: df comes from a count window
    // over the SAME fp exchange instead of a groupBy joined back — the
    // join form shingled the corpus twice (the two exchange subtrees are
    // not canonically identical, so exchange reuse could not collapse
    // them); the window form is one scan + one shuffle.
    posts.withColumn("df",
      count(lit(1)).over(Window.partitionBy("fp")))
  }

  /** EXACT containment screen of a new batch against a corpus postings
    * index — the C-high/J≈0 ingest path the banded
    * [[incrementalNearDups]] screen cannot see. Every corpus doc sharing
    * ≥ `minOverlap` shingle fingerprints with a batch doc surfaces with
    * its exact fingerprint-set intersection and
    * `containment = |A∩B| / min(|A|,|B|)` (both orientations at once:
    * batch-quoted-in-corpus AND corpus-quoted-in-batch — min picks the
    * contained side).
    *
    * Plan shape: the batch fingerprint table BROADCASTS (batch small by
    * contract), so the postings index is scanned once with the join
    * filter applied scan-side and never shuffles; the only exchange is
    * the candidate-pair aggregation, whose size is bounded by
    * Σ_fp∈batch df(fp). That bound is the operator's cost dial:
    * `dfCap` drops postings of stop-shingles (df > cap) at scan time,
    * making the reported intersection a LOWER bound — pairs whose overlap
    * is entirely df-capped common shingles can be missed, which is the
    * documented trade for bounding fanout on web-scale corpora (capped
    * shingles are exactly the ones shared by millions of docs, i.e. the
    * least identifying evidence of quotation).
    */
  def incrementalContainmentExact(
      postings: DataFrame,
      batchDocs: DataFrame,
      batchId: Column,
      batchText: Column,
      n: Int = 2,
      tau: Double = 0.8,
      minOverlap: Int = 2,
      dfCap: Option[Long] = None): DataFrame = {
    val batch = batchDocs.select(batchId.as("new_id"), batchText.as("txt"))
      .select(col("new_id"), shingles(col("txt"), n).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("new_id"), size(col("sh")).cast("long").as("sz_a"),
        explode(array_distinct(shingleFps(col("sh")))).as("fp"))
    val posts = dfCap.map(c => postings.filter(col("df") <= c)).getOrElse(postings)
    posts.select(col("fp"), col("id").as("corpus_id"), col("sz").as("sz_b"))
      .join(broadcast(batch), Seq("fp"))
      .groupBy("new_id", "corpus_id")
      .agg(count(lit(1)).as("inter"),
        first(col("sz_a")).as("sz_a"), first(col("sz_b")).as("sz_b"))
      .filter(col("inter") >= minOverlap)
      .withColumn("containment",
        round(col("inter").cast("double") / least(col("sz_a"), col("sz_b")).cast("double"), 6))
      .filter(col("containment") >= tau)
      .select(col("new_id"), col("corpus_id"), col("inter"),
        col("sz_a"), col("sz_b"), col("containment"))
  }

  /** Approximate near-dup pairs via banded MinHash-LSH with exact-Jaccard
    * verification: candidates are pairs agreeing on at least one band of
    * `rows` consecutive signature slots; each candidate is then verified
    * with the true shingle-set Jaccard ≥ tau (so the OUTPUT is exact up to
    * LSH recall; the banding only bounds which pairs get verified).
    */
  def minhashLshPairs(
      docs: DataFrame,
      id: Column,
      text: Column,
      n: Int = 2,
      tau: Double = 0.5,
      numHashes: Int = 32,
      bands: Int = 8): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rows = numHashes / bands
    // three consumers follow (the banded self-join — whose two sides DO
    // collapse via exchange reuse — plus the id_a and id_b verify joins,
    // which do not): without the lazy cut the corpus is shingled three
    // times and minhashed once more (round-9; the ccnet-buckets lesson
    // applied here)
    val sh = spread(docs.select(id.as("id"), text.as("txt")))
      .select(col("id"), shingles(col("txt"), n).as("sh"))
      .withColumn("fps", shingleFps(col("sh")))
      .withColumn("sig", minhashSig(col("fps"), numHashes))
      .drop("fps")
      .cut(eager = false)
    // band signature = the `rows`-slot slice; joined as (band index, slice)
    val banded = sh.select(
      col("id"),
      posexplode(array((0 until bands).map(b =>
        slice(col("sig"), b * rows + 1, rows)): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bsig")
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bsig") === col("y.bsig") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    // exact verification of candidates only
    val sets = sh.select(col("id"), col("sh"), size(col("sh")).as("sz"))
    cand
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a"), col("sz").as("sz_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b"), col("sz").as("sz_b")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= tau)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  // ---------------------------------------------------------------- SimHash

  val SimHashBits: Int = graft.functions.SimHash60Expr.Bits

  /** SimHash of a text column: per token a 60-bit packed pair of polynomial
    * hashes, ±1 projection per bit summed with term-frequency weight, sign
    * collapse — all in one native codegen pass
    * ([[graft.functions.SimHash60Expr]]); empty tokens are skipped.
    */
  def simhash(text: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.functions.SimHash60Expr(
        org.apache.spark.sql.graft.Bridge.expression(split(text, "\\s+"))))

  /** Hamming distance between two simhash columns. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Near-dup pairs with Hamming(simhash) ≤ maxHamming, blocked on 4
    * 15-bit bands (pigeonhole-complete for maxHamming ≤ 3; above that the
    * blocking is a recall/cost trade, as in production simhash dedup).
    *
    * Pipeline-order note (measured at 50k docs with 10× exact copies):
    * mass-duplicated corpora collapse every copy into the same bands, so
    * the band join degenerates toward the duplicate-cluster square — run
    * [[exactDedup]] FIRST and simhash only the per-content representatives,
    * as production dedup pipelines do.
    */
  def simhashPairs(docs: DataFrame, id: Column, text: Column, maxHamming: Int = 3): DataFrame = {
    val sh = spread(docs.select(id.as("id"), text.as("txt")))
      .select(col("id"), simhash(col("txt")).as("sim"))
    val banded = sh.select(col("id"), col("sim"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("sim"), b * 15).bitwiseAND(lit(0x7fffL))): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bval")
    // hamming is computed and filtered in the join projection, BEFORE the
    // distinct exchange: a pair's hamming is the same from every band that
    // matched it, so pruning first is semantics-free and the distinct only
    // shuffles qualifying pairs (on a hostile corpus most band candidates
    // fail the radius and would otherwise ride the exchange just to be
    // dropped after)
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bval") === col("y.bval") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        hamming(col("x.sim"), col("y.sim")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  // ------------------------------------------------------ repeated spans

  /** ExactSubstr-style repeated-span detection (Lee, Ippolito et al.,
    * "Deduplicating Training Data Makes Language Models Better", ACL 2022
    * — public paper): a word position is DUPLICATED iff its k-gram
    * fingerprint occurs in ≥ `minDocs` distinct documents; runs of
    * consecutive duplicated positions merge into maximal spans (a run of r
    * positions covers r + k − 1 words). This is the document-crossing
    * boilerplate/quotation detector that whole-doc near-dup cannot see —
    * the paper's suffix-array pass re-expressed as three equi-shuffles:
    *
    *  1. groupBy(fingerprint) over the positioned k-gram stream (8-byte
    *     keys; the shuffle carries (fp, id, pos) — no gram text);
    *  2. join back on fp to keep duplicated positions (both sides already
    *     partitioned by fp from step 1 — the exchange is reused);
    *  3. per-doc islands-and-gaps window (pos − row_number) to merge runs —
    *     partitioned by doc id, rows are bare (id, pos) ints.
    *
    * All three scale out on their keys; nothing is broadcast or collected.
    * Output: (id, start_pos, span_words) per maximal span, word-indexed.
    */
  def repeatedSpans(
      docs: DataFrame,
      id: Column,
      text: Column,
      k: Int = 50,
      minDocs: Int = 2): DataFrame = {
    val toks = split(col("txt"), "\\s+")
    val grams = org.apache.spark.sql.graft.Bridge.column(
      graft.functions.WordNgramsExpr(
        org.apache.spark.sql.graft.Bridge.expression(toks), k))
    // ONE tokenize pass (round-10; the former shape ran two — the
    // df≥minDocs fingerprint aggregation and the position join-back each
    // re-derived the gram stream, and checkpointing the raw stream measured
    // SLOWER than recomputing it in round 9): pre-aggregate the stream to
    // one row per (fp, doc) carrying the doc's position list, then the
    // distinct-doc count per fingerprint is a count window over that SAME
    // exchange — no distinct pass, no join-back. Skew note: a corpus-hot
    // boilerplate gram's window partition holds one row per CONTAINING DOC
    // (positions ride as arrays), the same per-key row set the old SMJ
    // join-back sorted on one task — buffering exposure is unchanged, the
    // second tokenize pass and its full-stream exchange are gone.
    val g = spread(docs.select(id.as("id"), text.as("txt")))
      .select(col("id"), posexplode(grams))
      .select(col("id"), col("pos"), fingerprint(col("col")).as("fp"))
    val perDoc = g.groupBy("fp", "id").agg(collect_list(col("pos")).as("ps"))
    val dup = perDoc
      .withColumn("nd", count(lit(1)).over(Window.partitionBy("fp")))
      .filter(col("nd") >= minDocs)
      .select(col("id"), explode(col("ps")).as("pos"))
    val w = Window.partitionBy("id").orderBy("pos")
    val runs = dup.withColumn("grp", col("pos") - row_number().over(w))
      .groupBy("id", "grp")
      .agg(min(col("pos")).as("start_pos"),
        (max(col("pos")) - min(col("pos")) + k).as("span_words"))
    // span content key: md5 of the ACTUAL span text (sliced back out of the
    // doc's tokens) — [[scrubRepeatedSpans]] DELETES on key equality, so the
    // key must be content-exact, not a fold of the 30-bit gram fingerprints
    // (whose cross-doc collisions — near-certain at 1e5+ grams, guaranteed
    // at corpus scale — would silently remove unique text). Same exactness
    // standard [[exactDedup]] keys on. The token re-read is pruned to
    // span-bearing docs by the semi-join (spans are pairs-of-duplicates
    // sized, broadcastable), so the corpus text never rescans in full.
    val spanDocs = spread(docs.select(id.as("id"), text.as("txt")))
      .join(runs.select("id").distinct(), Seq("id"), "left_semi")
      .select(col("id"), toks.as("w"))
    runs.join(spanDocs, Seq("id"))
      .select(col("id"), col("start_pos"), col("span_words"),
        md5(array_join(slice(col("w"), col("start_pos") + 1, col("span_words")), " "))
          .as("span_key"))
  }

  /** Span REMOVAL — the second half of the ExactSubstr recipe: of all
    * occurrences of the same span content (equal `span_key`), the
    * lexicographically first (min doc id, then min start) is KEPT and every
    * other occurrence's word range is dropped from its document; text is
    * rebuilt from the surviving words. One row per input document
    * (`id, scrubbed_text`), documents without spans pass through verbatim.
    *
    * Scale shape: the keeper choice is a window over the SPANS table
    * (pairs-of-duplicates sized, not corpus sized); masked ranges explode
    * to (id, pos) and anti-join the token stream on (id, pos) — equi keys
    * end to end, then one per-doc sorted-fold rebuilds the text.
    */
  def scrubRepeatedSpans(
      docs: DataFrame,
      id: Column,
      text: Column,
      k: Int = 50,
      minDocs: Int = 2): DataFrame = {
    val spans = repeatedSpans(docs, id, text, k, minDocs)
    val keepW = Window.partitionBy("span_key").orderBy("id", "start_pos")
    val masked = spans
      .withColumn("rn", row_number().over(keepW))
      .filter(col("rn") > 1)
      .select(col("id"),
        explode(sequence(col("start_pos"),
          col("start_pos") + col("span_words") - 1)).as("pos"))
      .distinct()
    val toks = spread(docs.select(id.as("id"), text.as("txt")))
      .select(col("id"), posexplode(split(col("txt"), "\\s+")))
    val rebuilt = toks.join(masked, Seq("id", "pos"), "left_anti")
      .groupBy("id")
      .agg(concat_ws(" ",
        transform(array_sort(collect_list(struct(col("pos"), col("col")))),
          x => x.getField("col"))).as("scrubbed_text"))
    // fully-masked documents drop out of the token stream — restore them
    // as empty text so the output stays one row per input document
    docs.select(id.as("id")).join(rebuilt, Seq("id"), "left")
      .select(col("id"), coalesce(col("scrubbed_text"), lit("")).as("scrubbed_text"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023, public
    * paper): cluster embeddings (k-means / IVF lists), then flag near-dups
    * ONLY within each cluster — clustering is what makes embedding dedup
    * tractable at corpus scale, shrinking the pair space from O(n²) to
    * Σ|cluster|² with an equi-join on `list_id` (no grid, no BNLJ; cluster
    * granularity is the scale dial). A row is a duplicate iff some
    * same-cluster row with a smaller id has cosine ≥ tau with it — the
    * deterministic keep-the-min-id representative rule (the paper keeps one
    * point per ε-ball; min-id is the reproducible tie-break an engine
    * needs). Recall caveat like any blocked method: cross-cluster
    * near-dups are not compared (the paper accepts the same trade).
    *
    * Sizing for scale: Σ|cluster|² = n²/C at fixed C — grow the cluster
    * COUNT with the corpus (C ∝ n, constant cluster size s) and total pair
    * work is n·s, linear (ScaleSmoke demonstrates x20 vs x60 at constant
    * s). Centroids must be trained on distinct vectors (a sample), never
    * on the raw id order of a replicated/appended table.
    */
  def semanticDedup(
      embs: DataFrame,
      id: Column,
      vec: Column,
      centroids: Seq[IvfSearch.Centroid],
      tau: Double): DataFrame = {
    import graft.functions.{VectorFunctions => VF}
    val indexed = IvfSearch.index(embs.select(id.as("id"), vec.as("v")), col("v"), centroids)
      .withColumn("nrm", sqrt(VF.normSq(col("v"))))
    def cosine = VF.dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm"))
    val dominated = indexed.as("a").join(indexed.as("b"),
        col("a.list_id") === col("b.list_id") && col("a.id") < col("b.id") && cosine >= tau)
      .select(col("b.id").as("id")).distinct()
    indexed.select(col("id"), col("list_id"))
      .join(dominated.withColumn("dom", lit(true)), Seq("id"), "left")
      .select(col("id"), col("list_id"), not(coalesce(col("dom"), lit(false))).as("keep"))
  }

  // ------------------------------------------------ grid-blocked self-join

  /** All-pairs self-join via 1-Bucket-Theta grid partitioning (Okcan &
    * Riedewald, SIGMOD'11) — the scale-out shape for EXACT pairwise
    * predicates with no equi key. Each row gets a block id (hash(id) mod
    * `blocks`); the left side replicates once per block and the join runs
    * EQUI on the right side's block, so:
    *
    *  - no BroadcastNestedLoopJoin / cartesian: a ShuffledHashJoin on the
    *    block key, each reducer handling n × n/blocks candidates — even
    *    load by construction (every left row meets every block exactly once);
    *  - bounded per-task memory: a task builds/sorts one block (n/blocks
    *    rows), never the whole table, and never broadcasts anything;
    *  - total comparison count stays O(n²) — that is inherent to an exact
    *    pairwise predicate — but it scales OUT horizontally: `blocks`
    *    (≈ the cluster's task slots) is the parallelism dial, replication
    *    factor = `blocks` on one side only.
    *
    * `cond` (refs via `col("a.…")` / `col("b.…")`) is evaluated INSIDE the
    * join condition after the id dedup, last in the And chain, so the
    * expensive predicate short-circuits behind the cheap ones and cannot be
    * reordered ahead of them by PushPredicateThroughJoin (round-2 measured
    * gotcha).
    */
  private[operators] def gridSelfJoin(t: DataFrame, cond: Column, blocks: Int = 32): DataFrame = {
    require(blocks >= 1)
    // NOTE the two grid sides (exploded probe rows vs block rows) are not
    // canonically identical, so the caller's input lineage runs twice —
    // callers with an expensive projection (dense tf pivot, hash masks)
    // cut BEFORE passing it in; an unconditional cut here measured slower
    // on the already-cut callers (double checkpoint)
    val withBlk = t.withColumn("_blk", pmod(hash(col("id")), lit(blocks)))
    val left = withBlk
      .withColumn("_pb", explode(array((0 until blocks).map(lit(_)): _*)))
      .drop("_blk")
    // SHUFFLE_HASH on the block side: without it the planner broadcasts the
    // small side and the whole O(n²/blocks)-per-task pair evaluation runs at
    // the SCAN's parallelism (a small parquet file = 1-2 tasks — measured 4×
    // slower at sf0.1). The shuffle on the block key IS the algorithm's
    // intended exchange: each reducer owns one grid cell, so parallelism =
    // `blocks` regardless of input file layout, here and on a real cluster.
    left.as("a").join(withBlk.as("b").hint("shuffle_hash"),
      col("a._pb") === col("b._blk") && col("a.id") < col("b.id") && cond)
  }

  // ------------------------------------------------- embedding-cosine pairs

  /** Near-dup pairs by embedding cosine ≥ tau — EXACT (every qualifying pair,
    * no recall caveat), planned as a [[gridSelfJoin]] rather than the naive
    * broadcast nested-loop self-join: no broadcast of the corpus, no BNLJ,
    * even per-reducer load, `blocks` as the scale-out dial.
    *
    * Why not LSH blocking for the exact entry: completeness would require
    * every qualifying pair to collide. Measured on this corpus (64-d
    * near-orthogonal embeddings, tau=0.4 ⇒ pair angles up to 66°), true
    * pairs span the FULL Hamming range of the 6-plane sign-LSH code — 3 of
    * 920 pairs at sf0.1 disagree on all 6 planes — so no probe radius short
    * of "everything" is complete. Exact all-pairs cosine is inherently
    * O(n²) FLOPs; the honest scale answer is to distribute those FLOPs
    * evenly (this plan), and to offer the approximate blocked variant
    * ([[cosinePairsLsh]]) where recall < 1 is acceptable.
    */
  def cosinePairs(embs: DataFrame, id: Column, vec: Column, tau: Double, blocks: Int = 32): DataFrame = {
    import graft.functions.{VectorFunctions => VF}
    // norms are materialized once per ROW before the pair join (n sqrt-folds
    // instead of n² — the index-build analog), so each pair costs exactly
    // one fused dot-product loop plus a divide.
    val t = embs.select(id.as("id"), vec.as("v"))
      .withColumn("nrm", sqrt(VF.normSq(col("v"))))
    def cosine = VF.dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm"))
    gridSelfJoin(t, cosine >= tau, blocks)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), cosine.as("cosine"))
  }

  /** Near-dup pairs by embedding cosine ≥ tau — APPROXIMATE, blocked on
    * sign-LSH buckets ([[AnnSearch]] machinery): candidates are pairs whose
    * bucket codes agree within Hamming ≤ `probeRadius`, generated by a
    * multiprobe EQUI-join (each row emits its bucket ⊕ every mask of
    * popcount ≤ radius; the other side joins on its own bucket), then
    * verified with exact cosine. Candidate volume ≈ n²·probes/2^planes per
    * the collision curve — with enough planes the equi-join touches a
    * vanishing pair fraction, which is the 100 TB near-dup shape when the
    * corpus actually clusters (true duplicates at cosine ≥ 0.9 disagree on
    * ~0.14 of planes; this corpus's tau=0.4 stress case is documented in
    * [[cosinePairs]]). Recall is the banding curve, not 1.
    */
  def cosinePairsLsh(
      embs: DataFrame,
      id: Column,
      vec: Column,
      tau: Double,
      planes: Seq[Seq[Double]],
      probeRadius: Int = 2): DataFrame = {
    import graft.functions.{VectorFunctions => VF}
    // four consumers (probe explode, bucket join side, both verify sides):
    // the per-row plane projection would otherwise run up to four times
    // (round-9, the minhashLshPairs lesson)
    val t = embs.select(id.as("id"), vec.as("v"))
      .withColumn("bucket", AnnSearch.bucketCol(col("v"), planes))
      .cut(eager = false)
    val masks = AnnSearch.xorMasks(planes.length, probeRadius)
    val probed = t.select(col("id"),
      explode(array(masks.map(m => col("bucket").bitwiseXOR(lit(m))): _*)).as("probe"))
    // a pair at Hamming h ≤ radius collides on C(h + pad ≤ radius) probes →
    // distinct before the (exact) verify so each pair is scored once
    val cand = probed.as("x").join(t.select(col("id"), col("bucket")).as("y"),
        col("x.probe") === col("y.bucket") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    // distinct column names on each verify side (shared lineage + alias is
    // the round-2 name-resolution landmine)
    val sides = t.withColumn("nrm", sqrt(VF.normSq(col("v"))))
    def cosine = VF.dot(col("va"), col("vb")) / (col("nrma") * col("nrmb"))
    cand
      .join(sides.select(col("id").as("id_a"), col("v").as("va"), col("nrm").as("nrma")), Seq("id_a"))
      .join(sides.select(col("id").as("id_b"), col("v").as("vb"), col("nrm").as("nrmb")), Seq("id_b"))
      .filter(cosine >= tau)
      .select(col("id_a"), col("id_b"), cosine.as("cosine"))
  }

  // --------------------------------------------------- duplicate clustering

  /** Connected components over a near-dup pair list: every id is labeled
    * with the smallest id reachable through pairs (`cluster_id`), turning
    * pairwise similarity into dedup GROUPS with a canonical representative
    * (`id == cluster_id`, `keep`) — the step production pipelines run
    * between candidate pairs and the actual drop.
    *
    * Routing by edge count, decided by one bounded collect
    * ([[org.apache.spark.sql.graft.Bridge.collectUpTo]]): up to
    * [[DriverEdgeCap]] edges the collected list IS the input of a driver
    * union-find — exact on any graph shape, no iterative rounds, and the
    * label table re-attaches to the corpus as a broadcast join. Past the
    * cap the collect stops early and star rewriting
    * ([[connectedComponentsStars]]) runs distributed, in O(log² n) rounds
    * for any graph diameter. Both routes give the same labels.
    */
  def connectedComponentsAuto(ids: DataFrame, pairs: DataFrame): DataFrame =
    connectedComponentsAutoRouted(ids, pairs)._2

  /** Edge cap for the driver union-find route: 4M (long, long) edges is
    * ~64 MB collected — the broadcast-hash-relation cost class. The bounded
    * collect holds at most 2·cap + 1 rows on the driver before it gives up
    * (the kept rows plus one partition's `cap + 1`), so the driver's memory
    * stays bounded even when the edge list is far past the cap. Near-dup
    * EDGE lists are the candidate-pair OUTPUT of a screen, orders of
    * magnitude smaller than the corpus, so most real dedup graphs take this
    * route; label propagation's vote graph shares the cap.
    */
  val DriverEdgeCap = 4000000

  /** [[connectedComponentsAuto]] with the chosen route exposed for tests
    * ("driver" | "stars"); `driverEdgeCap` forces a route.
    */
  private[graft] def connectedComponentsAutoRouted(
      ids: DataFrame,
      pairs: DataFrame,
      driverEdgeCap: Int = DriverEdgeCap): (String, DataFrame) = {
    val p = pairs.select(col("id_a").cast("long").as("id_a"),
      col("id_b").cast("long").as("id_b"))
    org.apache.spark.sql.graft.Bridge.collectUpTo(p, driverEdgeCap) match {
      case Some(edges) => ("driver", connectedComponentsDriver(ids, edges))
      case None => ("stars", connectedComponentsStars(ids, p))
    }
  }

  /** Driver union-find (path halving) over a collected edge list: every
    * node labeled with the min id of its component — identical to the
    * distributed fixpoint on any graph shape. The label table returns as a
    * broadcast-joined local frame.
    */
  private def connectedComponentsDriver(ids: DataFrame, edges: Array[Row]): DataFrame = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x0: Long): Long = {
      var x = x0
      var px = parent.get(x)
      while (px != x) {
        val ppx = parent.get(px)
        parent.put(x, ppx) // path halving
        x = ppx
        px = parent.get(x)
      }
      x
    }
    edges.foreach { r =>
      val a = r.getLong(0); val b = r.getLong(1)
      parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb) }
    }
    // min label per root, then one row per edge-incident node
    val minOf = new java.util.HashMap[Long, Long]()
    parent.keySet().forEach { n =>
      val r = find(n)
      val cur = minOf.getOrDefault(r, Long.MaxValue)
      if (n < cur) minOf.put(r, n)
    }
    val spark = ids.sparkSession
    val rows = new scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row](parent.size())
    parent.keySet().forEach(n => rows += org.apache.spark.sql.Row(n, minOf.get(find(n))))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("comp",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val labels = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 1), schema)
    ids.select(col("id"))
      .join(broadcast(labels), Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("cluster_id"))
      .withColumn("keep", col("id") === col("cluster_id"))
  }

  /** Connected components via alternating LARGE-STAR / SMALL-STAR edge
    * rewriting (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14) — O(log² n) rounds on ANY graph shape, where
    * min-label propagation needs O(diameter): a chained corpus (chained
    * near-dups: doc₁≈doc₂≈…≈docₙ) makes the diameter O(n). The distributed
    * route of [[connectedComponentsAuto]] past [[DriverEdgeCap]].
    *
    *  - large-star: every node u links its LARGER neighbors to
    *    m(u) = min(Γ(u) ∪ u);
    *  - small-star: every node u links its smaller-or-equal neighbors
    *    (and itself) to m(u).
    *
    * Both preserve connectivity; alternation converges to per-component
    * stars rooted at the component minimum. Convergence = stable edge
    * checksum (sum of endpoint sums is monotone non-increasing under both
    * operations and strictly decreases until fixpoint).
    */
  def connectedComponentsStars(ids: DataFrame, pairs: DataFrame, maxIters: Int = 50): DataFrame = {
    def bothDirs(e: DataFrame): DataFrame =
      e.select(col("s"), col("d")).union(e.select(col("d").as("s"), col("s").as("d")))
    // star round: m = min(Γ(u) ∪ u) per node, then link the selected
    // neighbor side (larger for large-star, ≤ for small-star) to m
    def star(e: DataFrame, large: Boolean): DataFrame = {
      val nbrs = bothDirs(e)
      val m = nbrs.groupBy(col("s").as("u"))
        .agg(least(min(col("d")), col("s")).as("m"))
      val linked = nbrs.join(m, nbrs("s") === m("u"))
      val sel =
        if (large) linked.filter(col("d") > col("s"))
          .select(col("d").as("s"), col("m").as("d"))
        else linked.filter(col("d") <= col("s"))
          .select(col("d").as("s"), col("m").as("d"))
          .union(m.select(col("u").as("s"), col("m").as("d")))
      sel.filter(col("s") =!= col("d")).distinct()
    }
    var edges = pairs
      .select(least(col("id_a"), col("id_b")).as("s"),
        greatest(col("id_a"), col("id_b")).as("d"))
      .filter(col("s") =!= col("d")).distinct()
      .cut()
    var prevSig = Option.empty[(Long, Long)]
    var it = 0
    var converged = false
    while (it < maxIters && !converged) {
      edges = star(star(edges, large = true), large = false).cut()
      // (count, weighted endpoint sum) — a positional checksum, not a bare
      // endpoint sum, so distinct edge sets don't silently collide
      val row = edges.agg(
        org.apache.spark.sql.functions.count(lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(col("s") * lit(100003L) + col("d")).as("t")).head()
      val sig = (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
      converged = prevSig.contains(sig)
      prevSig = Some(sig)
      it += 1
    }
    require(converged, s"connectedComponentsStars did not converge in $maxIters rounds")
    // at fixpoint every edge is (child, root-min): the label table directly
    val labels = edges.select(col("s").as("id"), col("d").as("comp"))
      .groupBy("id").agg(min("comp").as("comp"))
    ids.select(col("id"))
      .join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("cluster_id"))
      .withColumn("keep", col("id") === col("cluster_id"))
  }

  // ------------------------------------------- sparse TF cosine pairs

  /** All pairs (idA < idB) whose TERM-FREQUENCY cosine ≥ tau — the sparse
    * lexical twin of [[cosinePairs]] (which works on dense embeddings), and
    * the weighted refinement of [[jaccardPairs]] (which sees shingles as
    * sets): `cos(a,b) = Σ_t tf_a(t)·tf_b(t) / (‖tf_a‖·‖tf_b‖)` over
    * whitespace tokens. The classic postings-join shape (Elsayed et al.
    * 2008, pairwise similarity via MapReduce): one posting list per term,
    * self-join on the term, partial-aggregated dot products.
    *
    * Scale properties: terms with df = 1 are dropped from the JOIN only —
    * they cannot contribute to any pair's dot product, and on a natural
    * corpus they are the majority of the vocabulary (Zipf), so the join
    * input shrinks by half or more at zero accuracy cost. Norms are
    * computed over the FULL vector, so the result is the exact full-TF
    * cosine. Join volume is Σ_t df(t)² — the hot-term (stopword) skew is
    * real (the df-ordered prefix-filter of [[jaccardPairs]] does not
    * transfer because weighted cosine has no set-prefix bound).
    *
    * Determinism: tf counts and dot products are exact integers; the only
    * floating-point is the final `dot / (sqrt(n2a)·sqrt(n2b))`, written in
    * the same operation order as the SQL oracle (IEEE sqrt/÷ are correctly
    * rounded, so bit-equal across engines).
    */
  def tfCosinePairs(
      docs: DataFrame,
      id: Column,
      text: Column,
      tau: Double): DataFrame = {
    val tf = docs
      .select(id.as("id"), explode(split(text, "\\s+")).as("term"))
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))
    // full-vector squared norm (exact integer), BEFORE any df pruning
    val norms = tf.groupBy("id").agg(sum(col("tf") * col("tf")).as("n2"))
    val df_ = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val kept = df_.filter(col("df") >= 2)
    val postings = tf.join(kept.select("term"), Seq("term"))
    val dots = postings.as("a")
      .join(postings.as("b"),
        col("a.term") === col("b.term") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(sum(col("a.tf") * col("b.tf")).as("dot"))
    dots
      .join(norms.select(col("id").as("id_a"), col("n2").as("n2_a")), Seq("id_a"))
      .join(norms.select(col("id").as("id_b"), col("n2").as("n2_b")), Seq("id_b"))
      .withColumn("cos",
        col("dot").cast("double") /
          (sqrt(col("n2_a").cast("double")) * sqrt(col("n2_b").cast("double"))))
      .filter(col("cos") >= tau)
      .select(col("id_a"), col("id_b"), col("dot"), round(col("cos"), 6).as("cos"))
  }

  /** Dense-vocabulary strategy for [[tfCosinePairs]] — same answer, built
    * for the corpus shape where the postings join DEGENERATES: template/log
    * text with a tiny global vocabulary (the sf0.1 documents table has 31
    * distinct tokens across 5000 docs, making Σ df² ≈ 4.5·10⁸ join rows —
    * the same density that routes Jaccard to its grid). Each
    * doc's tf map is pivoted onto the sorted global vocabulary as a dense
    * ARRAY<BIGINT> and pairs run through the 1-Bucket-Theta [[gridSelfJoin]]
    * (even reducer load, `blocks` as the parallelism dial) with a
    * `zip_with`-fold integer dot product. O(n²·V/blocks) work per task with
    * V small — no posting blow-up, no broadcast of the corpus.
    *
    * Exactness: tf values and dots are integers (exact in ANY order), norms
    * are the full-vector sums, and the final cosine expression is written
    * in the identical operation order as the sparse strategy — the two
    * routes are bit-equal, pair for pair (df-singleton terms contribute 0
    * to every dot here, matching their exact prune there).
    *
    * `vocab`: the sorted global vocabulary. Terms outside it are ignored,
    * so it must cover every term to match [[tfCosinePairs]];
    * [[tfCosinePairsAuto]] collects it and checks its size.
    */
  def tfCosinePairsDense(
      docs: DataFrame,
      id: Column,
      text: Column,
      tau: Double,
      vocab: Seq[String],
      blocks: Int = 32): DataFrame = {
    val tf = docs
      .select(id.as("id"), explode(split(text, "\\s+")).as("term"))
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))
    // the fused native kernel, not aggregate(zip_with(...)): the HOF form
    // allocates an intermediate array per PAIR — on the O(n²) grid join
    // that allocation is the whole runtime (measured 6.5 s → see kernel
    // docstring). Double accumulation over integer tf values ≤ 2^53 is
    // exact, so dot/n2 remain exact integers bit-equal to the long fold.
    import graft.functions.{VectorFunctions => VF}
    // norms materialize per ROW (n sqrts, not n² — the cosinePairs trick);
    // sqrt is a pure function of n2, so the per-pair product a.nrm·b.nrm is
    // bit-identical to the oracle's sqrt(n2_a)·sqrt(n2_b)
    val t = tf.groupBy("id")
      .agg(map_from_entries(collect_list(struct(col("term"), col("tf")))).as("m"))
      .select(col("id"),
        array(vocab.map(tm => coalesce(element_at(col("m"), lit(tm)), lit(0L))): _*).as("v"))
      .withColumn("nrm", sqrt(VF.normSq(col("v"))))
      // both grid sides re-derive their input: cut so the tokenize +
      // tf map pivot runs once (round-9; measured 3.15 -> 2.53 s at sf0.1)
      .cut(eager = false)
    def dot = VF.dot(col("a.v"), col("b.v"))
    def cos = dot / (col("a.nrm") * col("b.nrm"))
    gridSelfJoin(t, cos >= tau, blocks)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        dot.cast("long").as("dot"), round(cos, 6).as("cos"))
  }

  /** Cost-routed front door for TF-cosine pairs, mirroring
    * [[jaccardPairsAuto]]: the same sampled Σ df² probe decides whether the
    * postings join's candidate volume beats the grid's n²/2, and the dense
    * route additionally requires the global vocabulary to fit `maxVocab`
    * (a Σ df²-dense corpus with a LARGE vocabulary — natural text dominated
    * by stopwords — stays on postings). The vocabulary comes through one
    * bounded collect ([[org.apache.spark.sql.graft.Bridge.collectUpTo]],
    * `maxVocab` terms) and is sorted on the driver; its order changes no
    * result, since the dense dot products are exact integer sums.
    */
  def tfCosinePairsAuto(
      docs: DataFrame,
      id: Column,
      text: Column,
      tau: Double,
      maxVocab: Int = 4096,
      blocks: Int = 32,
      sampleMod: Int = 64): DataFrame = {
    val (nDocs, sumDf2) = pairCostProbe(docs, id, text, n = 1, sampleMod)
    val vocab =
      if (sumDf2 > nDocs.toDouble * nDocs.toDouble / 2.0)
        org.apache.spark.sql.graft.Bridge.collectUpTo(
          docs.select(explode(split(text, "\\s+")).as("term")).distinct(), maxVocab)
      else None
    vocab.fold(tfCosinePairs(docs, id, text, tau))(v =>
      tfCosinePairsDense(docs, id, text, tau, v.map(_.getString(0)).toSeq.sorted, blocks))
  }
}
