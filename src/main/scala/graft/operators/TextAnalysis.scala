package graft.operators

import graft.Checkpoint.CheckpointOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-scale text analysis for training-data pipelines — beyond-reference
  * capability (the reference's only text ops are the rerank kernels,
  * /root/reference/minivectordb/vector_database.py:388-411; these operators
  * cover the ingest/curation side a 100 TB pipeline needs).
  *
  * Scale contract: every function here is pure `Column` algebra over Spark
  * built-ins / higher-order functions — whole-stage-codegen'd, no UDFs, no
  * shuffles. Applied to N documents the plan is a single narrow projection
  * pass (scan → project), embarrassingly parallel across partitions, and the
  * text column is the only wide column read (Parquet column pruning keeps
  * untouched columns on disk).
  */
object TextAnalysis {

  /** Whitespace tokens (Python `str.split` analog). */
  def wsTokens(text: Column): Column = split(text, "\\s+")

  /** Whitespace token count. */
  def wsTokenCount(text: Column): Column = size(wsTokens(text))

  /** BPE-ish lexer token count: runs of letters, runs of digits, or single
    * non-alphanumeric marks — the pre-tokenization shape BPE vocabularies
    * split on. Regex is RE2/Java-portable (also runs verbatim in the DuckDB
    * oracle).
    */
  val TokenRegex = "[a-z]+|[0-9]+|[^a-z0-9\\s]"
  def reTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(TokenRegex), lit(0)))

  /** Per-language stopword profiles for the n-gram/stopword language-ID
    * heuristic. Deliberately small and fixed: the classifier is
    * `argmax_lang |tokens ∩ profile|` with ties broken in declaration order.
    */
  val StopwordProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "it", "that", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "zu", "den", "nicht", "mit"),
    "es" -> Seq("el", "los", "y", "que", "una", "se", "con", "por", "para", "como"),
    "fr" -> Seq("le", "les", "et", "des", "une", "est", "dans", "pour", "sur", "avec"))

  /** Count of tokens belonging to a fixed word list (codegen'd HOF filter —
    * the array literal is broadcast as part of the plan, no join needed).
    */
  def stopwordHits(tokens: Column, words: Seq[String]): Column =
    size(filter(tokens, t => array_contains(typedLit(words), t)))

  /** Language-ID: highest stopword-profile hit count wins; ties resolve in
    * profile declaration order (en, de, es, fr); zero hits everywhere ⇒
    * "und" (undetermined).
    */
  def langId(text: Column): Column = {
    val toks = wsTokens(text)
    val scores = StopwordProfiles.map { case (lang, words) => lang -> stopwordHits(toks, words) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((lang, s), elseCol) =>
      when(s === best && s > 0, lit(lang)).otherwise(elseCol)
    }
  }

  /** Segment-level language profile — the code-switching detector a
    * multilingual 100 TB ingest runs before routing documents to
    * per-language pipelines: the document splits into NON-overlapping
    * `segTokens`-token windows ([[Curation.chunkTokens]] at
    * stride = size), each segment gets the stopword-profile [[langId]],
    * and the per-doc rollup reports segment count, distinct-language
    * count, the majority language (count desc, lang asc — pure integer
    * tie-break), the number of language SWITCH points between adjacent
    * segments, and a `mixed` flag. A doc-level langId can miss a 50/50
    * bilingual document entirely (the profiles just outvote each other);
    * the segment profile sees every span.
    *
    * Scale shape: chunking + per-segment language ID live in the scan
    * stage (one Generate, no join); the only exchange is the per-doc
    * groupBy, whose state is one (chunk_idx, lang) pair per segment —
    * bounded by doc length, never corpus-sized. The rollup arithmetic
    * (majority vote, switch count) runs as codegen'd array expressions
    * over that per-doc list.
    */
  def codeSwitch(docs: DataFrame, id: Column, text: Column,
      segTokens: Int = 50): DataFrame = {
    require(segTokens >= 1)
    val segs = Curation.chunkTokens(docs, id, text,
        size = segTokens, stride = segTokens)
      .select(col("id"), col("chunk_idx"), langId(col("chunk_text")).as("lang"))
    val agg = segs.groupBy("id")
      .agg(sort_array(collect_list(struct(col("chunk_idx"), col("lang"))))
        .as("segs"))
    val langs = transform(col("segs"), s => s.getField("lang"))
    val byCount = array_sort(
      transform(array_distinct(langs), l =>
        struct(size(filter(langs, x => x === l)).as("cnt"), l.as("lang"))),
      (a, b) => when(a.getField("cnt") > b.getField("cnt"), -1)
        .when(a.getField("cnt") < b.getField("cnt"), 1)
        .otherwise(when(a.getField("lang") < b.getField("lang"), -1)
          .when(a.getField("lang") > b.getField("lang"), 1)
          .otherwise(0)))
    val switches = when(size(col("segs")) >= 2,
      aggregate(sequence(lit(2), size(col("segs"))), lit(0), (acc, i) =>
        acc + when(element_at(col("segs"), i).getField("lang") =!=
          element_at(col("segs"), i - 1).getField("lang"), 1).otherwise(0)))
      .otherwise(lit(0))
    agg.select(col("id"),
        size(col("segs")).as("n_segments"),
        size(array_distinct(langs)).as("n_langs"),
        element_at(byCount, 1).getField("lang").as("majority_lang"),
        switches.as("n_switches"),
        (size(array_distinct(langs)) > 1).cast("int").as("mixed"))
      .orderBy("id")
  }

  /** Punctuation ratio: fraction of non-whitespace chars that are neither
    * letters nor digits.
    */
  def punctRatio(text: Column): Column = {
    val nonWs = length(regexp_replace(text, "\\s", ""))
    val punct = length(regexp_replace(text, "[a-z0-9\\s]", ""))
    when(nonWs > 0, punct.cast("double") / nonWs.cast("double")).otherwise(lit(0.0))
  }

  /** Stopword ratio over whitespace tokens (English profile). */
  def stopwordRatio(text: Column): Column = {
    val toks = wsTokens(text)
    when(size(toks) > 0,
      stopwordHits(toks, StopwordProfiles.head._2).cast("double") / size(toks).cast("double"))
      .otherwise(lit(0.0))
  }

  /** Mean whitespace-token length in characters. */
  def avgTokenLen(text: Column): Column = {
    val toks = wsTokens(text)
    when(size(toks) > 0,
      length(regexp_replace(text, "\\s", "")).cast("double") / size(toks).cast("double"))
      .otherwise(lit(0.0))
  }

  /** Composite quality score in [0, 1]: rewards reasonable length (saturating
    * at 100 tokens), low punctuation density, and natural-language stopword
    * presence (saturating at 10%) — the standard length/punct/stopword
    * heuristic family used for pretraining-corpus filtering.
    */
  def qualityScore(text: Column): Column =
    lit(0.4) * least(wsTokenCount(text).cast("double") / lit(100.0), lit(1.0)) +
      lit(0.3) * (lit(1.0) - punctRatio(text)) +
      lit(0.3) * least(stopwordRatio(text) / lit(0.1), lit(1.0))

  /** Rolling polynomial fingerprint of the full text:
    * `h_i = (31·h_{i-1} + char_i) mod 1e9+7` as a native codegen loop
    * ([[graft.functions.PolyHashExpr]]) — a content fingerprint cheap enough
    * to compute on every document at ingest (dup-grouping joins on this
    * 8-byte value instead of the full text).
    */
  val FingerprintMod = 1000000007L
  def fingerprint(text: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.functions.PolyHashExpr(
        org.apache.spark.sql.graft.Bridge.expression(text), 31L, FingerprintMod))

  /** Second, independent polynomial fingerprint (base 131, mod 1e9+9) —
    * paired with [[fingerprint]] to widen the hash space to ~2^60 for the
    * wide sketch tier ([[Sketches.hllWideHash]]): two keys collide only if
    * BOTH polynomials collide, pushing the birthday bound from ~10^4.5
    * keys (one 30-bit hash) past 10^9. Same codegen kernel, different
    * (base, mod) pair, so the cost is one more rolling pass per key.
    */
  val FingerprintMod2 = 1000000009L
  def fingerprint2(text: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.functions.PolyHashExpr(
        org.apache.spark.sql.graft.Bridge.expression(text), 131L, FingerprintMod2))

  /** CCNet-style language-model quality scoring (Wenzek et al. 2020 filter
    * by LM perplexity — public paper), with the corpus's own unigram
    * distribution as the LM: per-document average negative log-likelihood
    * `−(Σ_t ln(c_t/N)) / n`, low = in-distribution text, high = rare-token
    * noise. Plan: one explode + groupBy builds the LM (shuffle on token),
    * one equi-join scores tokens, one groupBy aggregates per doc — all
    * partial-aggregated, nothing collected to the driver (the total-count
    * row broadcasts like the BM25 stats row).
    *
    * Determinism contract: the per-doc sum folds over the SORTED log-prob
    * list (`aggregate(sort_array(...))`, a sequential fold), so the result
    * is independent of partitioning and bit-identical to the oracle's
    * `list_reduce(list(lp ORDER BY lp))` — a shuffle-order float sum would
    * not be.
    */
  def unigramNll(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val toks = docs.select(id.as("id"), explode(wsTokens(text)).as("t"))
    // the LM table is vocabulary-sized — cut it, and derive the grand total
    // AS Σc over that sketch instead of a second corpus token count (the
    // old totalDf re-tokenized the whole corpus to count rows the LM pass
    // had already counted; round-10, one corpus tokenize pass removed).
    // Exact: count and sum are the same integers.
    val lm = toks.groupBy("t").agg(count(lit(1)).as("c")).cut(eager = false)
    val totalDf = lm.agg(sum(col("c")).as("n_total"))
    val scored = toks.join(lm, Seq("t"))
      .crossJoin(broadcast(totalDf))
      .select(col("id"),
        (log(col("c").cast("double")) - log(col("n_total").cast("double"))).as("lp"))
    scored.groupBy("id")
      .agg(sort_array(collect_list(col("lp"))).as("lps"), count(lit(1)).as("n_tokens"))
      .select(col("id"),
        (aggregate(col("lps"), lit(0.0), (a, x) => a + x) / -col("n_tokens")).as("avg_nll"),
        col("n_tokens"))
  }

  /** Bigram-LM quality scoring — [[unigramNll]] one order up (the closer
    * proxy for the CCNet/KenLM perplexity filter): per-bigram
    * lp = ln(c(prev,tok) / c(prev→·)) with MLE conditionals over the
    * corpus's own bigram counts, averaged per document over its bigrams
    * (docs with < 2 tokens have no bigrams and emit no row). The context
    * denominator c(prev→·) is derived FROM the bigram-count table (a
    * vocabulary-sized aggregation), not by re-scanning the corpus.
    * Determinism contract as in [[unigramNll]]: the per-doc sum folds over
    * the SORTED lp list, so the result is partition-invariant; the output
    * is rounded to 6 dp because each term carries TWO ln calls and the
    * JVM-vs-libm last-ulp divergence shows up where the unigram model's
    * single-variable difference did not.
    */
  def bigramNll(docs: DataFrame, id: Column, text: Column): DataFrame = {
    def ngrams2(toks: Column): Column =
      org.apache.spark.sql.graft.Bridge.column(
        graft.functions.WordNgramsExpr(
          org.apache.spark.sql.graft.Bridge.expression(toks), 2))
    val bigs = docs.select(id.as("id"), explode(ngrams2(wsTokens(text))).as("b"))
      .withColumn("prev", split(col("b"), " ", 2).getItem(0))
    val c2 = bigs.groupBy("b").agg(count(lit(1)).as("c2"))
    val cs = c2.withColumn("prev", split(col("b"), " ", 2).getItem(0))
      .groupBy("prev").agg(sum(col("c2")).as("cs"))
    bigs.join(c2, Seq("b")).join(cs, Seq("prev"))
      .select(col("id"),
        (log(col("c2").cast("double")) - log(col("cs").cast("double"))).as("lp"))
      .groupBy("id")
      .agg(sort_array(collect_list(col("lp"))).as("lps"), count(lit(1)).as("n_bigrams"))
      .select(col("id"),
        round(aggregate(col("lps"), lit(0.0), (a, x) => a + x) / -col("n_bigrams"), 6)
          .as("avg_nll2"),
        col("n_bigrams"))
  }

  /** The full per-document profile in one projection pass. */
  def profile(docs: DataFrame, text: Column): DataFrame =
    docs
      .withColumn("ws_tokens", wsTokenCount(text))
      .withColumn("re_tokens", reTokenCount(text))
      .withColumn("punct_ratio", punctRatio(text))
      .withColumn("stop_ratio", stopwordRatio(text))
      .withColumn("avg_tok_len", avgTokenLen(text))
      .withColumn("quality", qualityScore(text))
      .withColumn("lang_pred", langId(text))
      .withColumn("fingerprint", fingerprint(text))

  /** Top-`topK` TF-IDF keywords per document — the per-doc salient-term
    * probe (tagging, clustering features, index terms). Score is
    * tf · ln(N/df), rounded to 6 dp BEFORE the per-group selection so the
    * boundary is engine-stable; ties break on the token.
    *
    * Scale shape: a (doc, token) count aggregation, a token-keyed
    * document-frequency aggregation (both map-side combined), one
    * equi-join (the df side is NOT assumed broadcastable at corpus
    * vocabulary sizes), a single-row N broadcast — then the per-doc top-k
    * runs as [[org.apache.spark.sql.graft.GroupTopK]]: bounded ≤k heap
    * per doc with a map-side partial pass, no WindowExec sort of the full
    * (doc, token) table.
    */
  def keywords(docs: DataFrame, id: Column, text: Column, topK: Int): DataFrame = {
    val toks = docs.select(id.as("id"), explode(wsTokens(text)).as("tok"))
    val tf = toks.groupBy("id", "tok").agg(count(lit(1)).as("tf"))
    // df = docs where the term count is positive. The tf > 0 gate (always
    // true by construction) also keeps the tf count in this branch's
    // column set, so its shuffle subtree stays canonically IDENTICAL to
    // tf's and exchange reuse replaces a second full tokenize pass of the
    // corpus with a re-read of tf's shuffle files — without it, column
    // pruning narrows this branch and the reuse never fires.
    val dfreq = tf.filter(col("tf") > 0).groupBy("tok").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val scored = tf.join(dfreq, Seq("tok"))
      .crossJoin(broadcast(nDocs))
      .select(col("id"), col("tok"), col("tf"),
        round(col("tf").cast("double") * log(col("n_docs") / col("df").cast("double")), 6)
          .as("score"))
    org.apache.spark.sql.graft.GroupTopK
      .perGroup(scored, Seq(col("id")), Seq(col("score").desc, col("tok").asc), topK)
  }

  /** Tokenizer-prep vocabulary probe: the `topV` most frequent tokens with
    * each rank's CUMULATIVE share of all corpus tokens — the curve that
    * sizes a vocabulary ("how many types cover 95 % of tokens"). One
    * map-side-combined count aggregation is the only corpus-sized shuffle;
    * the top-V selection is a TakeOrderedAndProject and the running
    * coverage a single-partition window over the V survivors (V rows, not
    * the vocabulary).
    */
  def vocabulary(docs: DataFrame, text: Column, topV: Int): DataFrame = {
    val uni = docs.select(explode(wsTokens(text)).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    val total = uni.agg(sum(col("c")).cast("double").as("n_total"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("c").desc, col("tok").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    uni.orderBy(col("c").desc, col("tok").asc).limit(topV)
      .crossJoin(broadcast(total))
      .select(col("tok"), col("c"),
        round(sum(col("c")).over(w) / col("n_total"), 6).as("coverage"))
      .orderBy(col("c").desc, col("tok").asc)
  }

  /** Per-document novelty: the share of a doc's DISTINCT word-n-gram
    * fingerprints that occur in NO other document (df = 1) — the diversity
    * signal a curation pipeline uses to favor docs contributing new content
    * over near-boilerplate (high template overlap ⇒ low novelty), and the
    * per-doc complement of the corpus-level dedup screens.
    *
    * Scale shape mirrors [[keywords]]: one tokenize + n-gram + fingerprint
    * pass feeds a (doc, fp) count aggregation; the document-frequency
    * branch re-aggregates THAT table by fp (its `tf > 0` gate keeps the
    * subtree canonically identical so exchange reuse replaces a second
    * corpus tokenize with a shuffle-file re-read); one fp-keyed equi-join
    * (the gram table is never assumed broadcastable) and a per-doc count
    * finish it. Grams ride as 8-byte fingerprints through every exchange —
    * the text never shuffles.
    */
  def novelty(docs: DataFrame, id: Column, text: Column, n: Int = 3): DataFrame = {
    // the explicit not-null gate keeps BOTH downstream branches' scan
    // subtrees identical: the final left-join-back pushes isnotnull(id)
    // into the probe branch only, and without the gate already present on
    // the shared subtree that asymmetry defeats the (id, fp) exchange
    // reuse and the corpus tokenizes twice
    val grams = docs.filter(id.isNotNull)
      .select(id.as("id"),
        explode(org.apache.spark.sql.graft.Bridge.column(
          graft.functions.WordNgramsExpr(
            org.apache.spark.sql.graft.Bridge.expression(wsTokens(text)), n))).as("g"))
      .select(col("id"), fingerprint(col("g")).as("fp"))
    val tf = grams.groupBy("id", "fp").agg(count(lit(1)).as("tf"))
    // BOTH branches gate on tf > 0 (vacuously true): without the gate the
    // probe side prunes tf away and its partial aggregate degrades to a
    // plain distinct, which de-canonicalizes the shared (id, fp) exchange
    // and the corpus tokenizes twice (same trade as [[keywords]])
    val dfreq = tf.filter(col("tf") > 0).groupBy("fp").agg(count(lit(1)).as("df"))
    val per = tf.filter(col("tf") > 0).join(dfreq, Seq("fp"))
      .groupBy("id").agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
    // short docs (< n tokens) have no grams: novelty 0 by convention
    docs.select(id.as("id")).join(per, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_unique"), lit(0L)).as("n_unique"),
        when(coalesce(col("n_grams"), lit(0L)) === 0, lit(0.0))
          .otherwise(round(col("n_unique").cast("double") / col("n_grams"), 6))
          .as("novelty"))
  }

  /** Top bigram collocations by pointwise mutual information — the
    * corpus-statistics probe of a curation pipeline (which word pairs are
    * glued templates vs. free text; PMI spikes mark boilerplate and
    * multi-word entities worth treating as units).
    *
    * PMI(x,y) = ln(p(x,y) / (p(x)·p(y))) with p(x,y) = c(x,y)/B over
    * bigram count B and p(x) = c(x)/T over token count T. `minCount`
    * prunes the long low-support tail BEFORE any join (rare pairs have
    * unstable PMI and dominate the candidate set otherwise).
    *
    * Scale shape: two count aggregations (map-side partial combine — the
    * shuffle carries one row per DISTINCT token/bigram, not per token),
    * then two equi-joins of the pruned bigram table against the unigram
    * table keyed on the 1st/2nd word, and a single-row totals broadcast.
    * No driver-side vocabulary, no window, top-k via
    * TakeOrderedAndProject. The unigram side is NOT assumed broadcastable
    * (a 100 TB corpus has 10⁸+ distinct tokens) — both joins are plain
    * equi-joins Catalyst/AQE can route. PMI is rounded to 6 dp before the
    * final ordering so the (pmi, bigram) order is total and engine-stable
    * (ln's last ulp may differ across libm implementations).
    */
  def collocations(docs: DataFrame, text: Column, minCount: Long, topK: Int): DataFrame = {
    def ngrams(toks: Column, n: Int): Column =
      org.apache.spark.sql.graft.Bridge.column(
        graft.functions.WordNgramsExpr(
          org.apache.spark.sql.graft.Bridge.expression(toks), n))
    val toks = docs.select(explode(wsTokens(text)).as("tok"))
    val uni = toks.groupBy("tok").agg(count(lit(1)).as("c"))
    val bigAll = docs.select(explode(ngrams(wsTokens(text), 2)).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("cxy"))
    // nb = nt − n_docs exactly: whitespace split yields ≥1 token per
    // NON-NULL doc (even "" → [""]), so each contributes len−1 bigrams —
    // and count(text) matches that by skipping NULL texts, which produce
    // neither tokens nor bigrams (explode of a NULL array emits nothing).
    // Deriving nb this way drops a whole second bigram tokenize+shuffle
    // branch (a sum over bigAll would NOT reuse bigAll's exchange — the
    // candidate branch's pushed join-key isnotnull filter makes the
    // subtrees differ); nt's sum over uni reuses uni's exchange, and the
    // doc count reads only the text column's null mask.
    val totals = uni.agg(sum(col("c")).cast("double").as("nt"))
      .crossJoin(docs.agg(count(text).cast("double").as("n_docs")))
      .select(col("nt"), (col("nt") - col("n_docs")).as("nb"))
    val cand = bigAll.filter(col("cxy") >= minCount)
      .withColumn("x", split(col("bigram"), " ", 2).getItem(0))
      .withColumn("y", split(col("bigram"), " ", 2).getItem(1))
    cand
      .join(uni.select(col("tok").as("x"), col("c").as("cx")), Seq("x"))
      .join(uni.select(col("tok").as("y"), col("c").as("cy")), Seq("y"))
      .crossJoin(broadcast(totals))
      .select(col("bigram"), col("cxy"),
        round(log(((col("cxy").cast("double") * col("nt")) * col("nt")) /
          ((col("nb") * col("cx").cast("double")) * col("cy").cast("double"))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("bigram").asc)
      .limit(topK)
  }

  /** Hashed-feature linear quality classifier — the fastText shape behind
    * the CCNet/LLaMA "looks like a Wikipedia reference" filters (Joulin et
    * al. 2016, Bag of Tricks; Touvron et al. 2023 §2 data filtering —
    * public papers): score = σ(w·x̄) over a D-dim hashed bag-of-words,
    * bucket(t) = polyfingerprint(t) mod D. Real deployments load trained
    * weights; with zero egress the weight table is a DETERMINISTIC
    * pseudo-random function of the bucket (`((b·2654435761 + 99991) mod
    * 2000003)/2000003 − 0.5`), which exercises the identical plan — a
    * trained model swaps in as a lookup column without changing a single
    * operator.
    *
    * Scale shape: pure per-row column algebra (hash → weight → mean →
    * sigmoid INSIDE `transform`/`aggregate`) — no explode, no shuffle, no
    * weight-table join or broadcast at any corpus size; the plan is a
    * single codegen'd projection over the scan.
    *
    * Determinism contract: the feature sum folds over the SORTED weight
    * list (partition- and engine-invariant, see [[unigramNll]]); bucket
    * and weight arithmetic stay in exact i64/IEEE territory (max product
    * 4095·2654435761 ≪ 2⁶³), so only the final single `exp` needs the
    * 6-dp rounding margin.
    */
  def hashedClassifier(docs: DataFrame, id: Column, text: Column,
      dim: Int = 4096): DataFrame = {
    val toks = wsTokens(text)
    def weightOf(t: Column): Column =
      (pmod(fingerprint(t), lit(dim.toLong)) * lit(2654435761L) + lit(99991L))
        .%(lit(2000003L)).cast("double") / lit(2000003.0) - lit(0.5)
    val zc = aggregate(sort_array(transform(toks, weightOf(_))), lit(0.0),
      (a, x) => a + x) / size(toks).cast("double")
    docs.select(id.as("id"), size(toks).as("n_tokens"),
        round(zc, 6).as("z"),
        round(lit(1.0) / (lit(1.0) + exp(-zc)), 6).as("score"))
  }

  /** Zipf-law audit: least-squares slope and R² of ln(frequency) against
    * ln(rank) over the corpus vocabulary — natural text tracks slope ≈ −1
    * (Zipf 1949); template/log-like or spam corpora deviate sharply, so
    * the fitted (slope, r2) pair is a cheap whole-corpus health probe.
    *
    * Scale shape: one corpus tokenize+count into the VOCABULARY-sized
    * table; the rank window sorts vocab rows (vocab-bounded, ≪ corpus),
    * and the regression reduces to five sums.
    *
    * Determinism contract: plain double sums are partition-ORDER-dependent
    * and would break engine parity, so each ln is scaled to an exact
    * integer (`round(ln·10⁶)`) and the five regression sums run in DECIMAL
    * arithmetic — exact and order-invariant under ANY partitioning; the
    * closed-form slope/R² then evaluates in identical double expressions
    * on both engines. (The scaling quantizes at 1e-6 — far below any
    * meaningful fit difference.)
    */
  def zipfFit(docs: DataFrame, text: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vocab = docs.select(explode(wsTokens(text)).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
    val ranked = vocab.withColumn("r",
      row_number().over(Window.orderBy(col("c").desc, col("t").asc)))
    val s = ranked.select(
      round(log(col("r").cast("double")) * lit(1000000.0), 0).cast("long").as("x6"),
      round(log(col("c").cast("double")) * lit(1000000.0), 0).cast("long").as("y6"))
    val d = (c: String) => col(c).cast("decimal(18,0)")
    val ag = s.agg(count(lit(1)).as("n"),
      sum(d("x6")).as("sx"), sum(d("y6")).as("sy"),
      sum(d("x6") * d("y6")).as("sxy"),
      sum(d("x6") * d("x6")).as("sxx"),
      sum(d("y6") * d("y6")).as("syy"))
    val nD = col("n").cast("double")
    val cov = nD * col("sxy").cast("double") - col("sx").cast("double") * col("sy").cast("double")
    val varX = nD * col("sxx").cast("double") - col("sx").cast("double") * col("sx").cast("double")
    val varY = nD * col("syy").cast("double") - col("sy").cast("double") * col("sy").cast("double")
    ag.select(col("n").as("n_types"),
      when(col("n") > 1 && varX =!= 0.0, round(cov / varX, 6)).as("slope"),
      when(col("n") > 1 && varX =!= 0.0 && varY =!= 0.0,
        round(cov * cov / (varX * varY), 6)).as("r2"))
  }

  /** TextRank keyword ranking (Mihalcea & Tarau 2004 — public paper):
    * PageRank with damping `d` over the token co-occurrence graph (edges =
    * adjacent-token pairs, both directions, weighted by corpus count),
    * run for a FIXED iteration count so the result is a deterministic
    * function of the corpus. Scores converge toward tokens that many
    * distinct well-connected tokens point at — a graph-global signal the
    * purely local TF-IDF [[keywords]] can't see.
    *
    * Scale shape: after one explode + count aggregation the working set is
    * EDGE-sized (distinct bigrams ≈ vocabulary²-bounded, corpus-volume
    * independent), and each iteration is one equi-join + one aggregation
    * on that edge table. The edge/out-weight/node tables are
    * lazily localCheckpointed once (they feed every iteration; without the
    * cut the plan re-derives the corpus scan per iteration and the DAG
    * depth grows ×iters). No driver-side collection at any point.
    *
    * Determinism contract: per-node contribution sums fold over SORTED
    * lists; `w/ow·sc` is pure IEEE arithmetic in identical association on
    * both engines, so scores are bit-identical without intermediate
    * rounding; the top-k boundary is taken on the 6-dp-rounded score with
    * a token tie-break (round BEFORE ordering, the engine-stable order).
    */
  def textrank(docs: DataFrame, text: Column, iters: Int = 5,
      damping: Double = 0.85, topK: Int = 20): DataFrame = {
    def ngrams2(toks: Column): Column =
      org.apache.spark.sql.graft.Bridge.column(
        graft.functions.WordNgramsExpr(
          org.apache.spark.sql.graft.Bridge.expression(toks), 2))
    val pairs = docs.select(explode(ngrams2(wsTokens(text))).as("b"))
      .select(split(col("b"), " ", 2).getItem(0).as("x"),
        split(col("b"), " ", 2).getItem(1).as("y"))
    val edges = pairs.select(col("x").as("src"), col("y").as("dst"))
      .unionAll(pairs.select(col("y").as("src"), col("x").as("dst")))
      .groupBy("src", "dst").agg(count(lit(1)).cast("double").as("w"))
    // out-weight via a sum window over the src exchange instead of a
    // groupBy joined back to edges — one exchange fewer per build; w is
    // an integer-valued double, so the window's fold order cannot drift
    val ew = edges
      .withColumn("ow", sum(col("w")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("src")))
      .cut(eager = false)
    val nodes = ew.select(col("src").as("tok")).distinct().cut(eager = false)
    var score = nodes.select(col("tok"), lit(1.0).as("sc"))
    for (_ <- 1 to iters) {
      val summed = ew.join(score.withColumnRenamed("tok", "src"), Seq("src"))
        .select(col("dst").as("tok"), (col("w") / col("ow") * col("sc")).as("c"))
        .groupBy("tok")
        .agg(aggregate(sort_array(collect_list(col("c"))), lit(0.0),
          (a, x) => a + x).as("s"))
      score = nodes.join(summed, Seq("tok"), "left")
        .select(col("tok"),
          (lit(1.0 - damping) + lit(damping) * coalesce(col("s"), lit(0.0))).as("sc"))
    }
    score.select(col("tok"), round(col("sc"), 6).as("score"))
      .orderBy(col("score").desc, col("tok").asc)
      .limit(topK)
  }

  /** Per-group token-distribution drift: `KL(P_g ‖ P_corpus)` in nats over
    * whitespace tokens — the domain-shift audit a mixing pipeline runs per
    * source (and a crawl pipeline per snapshot) before trusting a drop.
    * Every group token also appears in the corpus distribution, so the log
    * ratio needs no smoothing.
    *
    * Scale shape: ONE corpus tokenize into a map-side-combined (group,
    * token) count; everything after is vocabulary-bounded — the token-key
    * equi-join against corpus counts, the tiny per-group totals, and a
    * single-row grand total broadcast. The per-group sum folds a sorted
    * list of term values (the partition-invariant float-sum pattern), so
    * results are bit-stable under any partitioning.
    */
  def sourceTokenKl(docs: DataFrame, grp: Column, text: Column): DataFrame = {
    // the (group, token) count table is the fan-in point: three consumers
    // (corpus counts, group totals, the term join) — checkpoint the
    // vocabulary-bounded table once so the corpus tokenize runs once
    val gt = docs.select(grp.as("g"), explode(wsTokens(text)).as("t"))
      .groupBy("g", "t").agg(count(lit(1)).as("c_gt"))
      .cut(eager = false)
    val glob = gt.groupBy("t").agg(sum("c_gt").as("c_t"))
    val gTot = gt.groupBy("g").agg(sum("c_gt").as("n_g"))
    val tot = glob.agg(sum("c_t").as("n"))
    gt.join(glob, "t").join(gTot, "g").crossJoin(broadcast(tot))
      .select(col("g"), col("n_g"),
        ((col("c_gt") / col("n_g")) *
          log((col("c_gt") / col("n_g")) / (col("c_t") / col("n")))).as("term"))
      .groupBy("g")
      .agg(max(col("n_g")).as("n_tokens"),
        aggregate(sort_array(collect_list(col("term"))), lit(0.0),
          (a, x) => a + x).as("klsum"))
      .select(col("g"), col("n_tokens"), round(col("klsum"), 6).as("kl_nats"))
  }

  /** BPE merge induction (Sennrich et al. 2016 — public paper): learn the
    * first `nMerges` byte-pair merges from the corpus. Each round counts
    * adjacent symbol pairs (weighted by word frequency), picks the most
    * frequent (count desc, pair asc tie-break), and rewrites every word
    * state by the standard greedy left-to-right merge. Returns the merge
    * table `(step, pair, cnt)` — the vocabulary-induction artifact a
    * tokenizer trainer ships.
    *
    * Scale shape: the corpus is read ONCE into frequency-weighted word
    * counts (exactly how production BPE trainers scale — they train on word
    * counts, never raw text). One bounded collect
    * ([[org.apache.spark.sql.graft.Bridge.collectUpTo]], 2^20^ word types)
    * decides the route: when the whole vocabulary fits, the merge loop runs
    * in memory ([[trainMerges]]) — exact, since no word is dropped. Past
    * the cap every merge round runs as Spark jobs on the distributed
    * word-state table, checkpointed per round so the driver loop's lineage
    * stays flat; the greedy rewrite there is a codegen'd `aggregate` fold
    * ([[mergeFold]]). Both routes give the same table.
    */
  def bpeMerges(docs: DataFrame, text: Column, nMerges: Int): DataFrame =
    bpeMergesRouted(docs, text, nMerges)._2

  /** [[bpeMerges]] with the chosen route exposed for tests
    * ("driver" | "distributed"); `vocabCap` forces a route.
    */
  private[graft] def bpeMergesRouted(docs: DataFrame, text: Column, nMerges: Int,
      vocabCap: Int = 1 << 20): (String, DataFrame) = {
    require(nMerges >= 1)
    val spark = docs.sparkSession
    val words = wordCounts(docs, text)
    val (route, merges) = org.apache.spark.sql.graft.Bridge.collectUpTo(words, vocabCap) match {
      case Some(vocab) => ("driver", trainMerges(vocab, nMerges))
      case None => ("distributed", trainMergesDistributed(words, nMerges))
    }
    import spark.implicits._
    (route, merges.toDF("step", "pair", "cnt"))
  }

  /** Frequency-weighted non-empty whitespace words `(w, n_w)`: the one
    * corpus pass both BPE trainers start from.
    */
  private def wordCounts(docs: DataFrame, text: Column): DataFrame =
    docs.select(explode(wsTokens(text)).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("n_w"))

  /** The distributed BPE merge loop over the word counts `(w, n_w)`: one
    * pair-count job per round on the vocabulary-sized word-state table.
    */
  private def trainMergesDistributed(words: DataFrame,
      nMerges: Int): Vector[(Int, String, Long)] = {
    // word states: space-joined character symbols, frequency-weighted.
    // The split is per CODEPOINT (regex "." matches one code point): the
    // earlier between-chars lookahead split cut words at UTF-16 unit
    // boundaries, and a lone surrogate half does not survive the
    // String→UTF8String round trip — every non-BMP char (emoji, rare CJK)
    // was silently mangled to '?' before the first merge round
    var states = words
      .select(concat_ws(" ",
        regexp_extract_all(col("w"), lit("(?s)."), lit(0))).as("state"), col("n_w"))
      .cut(eager = false)
    var merges = Vector.empty[(Int, String, Long)]
    var done = false
    for (m <- 1 to nMerges if !done) {
      val toks = split(col("state"), " ")
      val prs = when(size(toks) >= 2,
        transform(sequence(lit(1), size(toks) - 1),
          i => concat(element_at(toks, i), lit(" "), element_at(toks, i + 1))))
        .otherwise(array().cast("array<string>"))
      val top = states.select(explode(prs).as("pr"), col("n_w"))
        .groupBy("pr").agg(sum(col("n_w")).as("cnt"))
        .orderBy(desc("cnt"), asc("pr"))
        .head(1)
      if (top.isEmpty) done = true
      else {
        val pr = top(0).getString(0)
        merges :+= ((m, pr, top(0).getLong(1)))
        val Array(x, y) = pr.split(" ", 2)
        states = states.withColumn("state", mergeFold(col("state"), x, y))
          .cut(eager = false)
      }
    }
    merges
  }

  /** One greedy left-to-right rewrite of a space-joined symbol state for
    * merge pair (x, y) — the shared apply step of BPE training
    * ([[bpeMerges]], once per learned round) and encoding ([[bpeEncode]],
    * once per SHIPPED merge in rank order). Equivalent to the classic
    * non-overlapping scan because a merged symbol `x||y` can never equal
    * its own left side `x`.
    */
  private def mergeFold(state: Column, x: String, y: String): Column = {
    val merged = x + y
    aggregate(split(state, " "), lit(""),
      (acc, t) => when(acc === "", t)
        .when(substring_index(acc, " ", -1) === x && t === y,
          when(acc === x, lit(merged))
            .otherwise(concat(
              // trim width in CODEPOINTS: Spark length() counts
              // codepoints while String.length counts UTF-16 units —
              // for a merge symbol containing non-BMP chars (emoji,
              // rare CJK) the unit count would over-trim and corrupt
              // the rewritten word state
              acc.substr(lit(1),
                length(acc) - lit(x.codePointCount(0, x.length) + 1)),
              lit(" " + merged))))
        .otherwise(concat(acc, lit(" "), t)))
  }

  /** The whole ranked merge table applied to a space-joined symbol state
    * as one codegen'd column — see [[graft.functions.BpeApplyExpr]].
    */
  def bpeApply(state: Column, merges: Seq[String]): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.functions.BpeApplyExpr(
        org.apache.spark.sql.graft.Bridge.expression(state), merges.toArray))

  /** BPE merge induction collected to the driver — the PRODUCTION trainer
    * shape (how sentencepiece/HF tokenizer trainers actually run: one
    * corpus pass to frequency-weighted word counts, then an in-memory
    * merge loop over that vocabulary-sized table). The ONE distributed
    * pass reduces the corpus to `(word, count)` (vocabulary-sized — the
    * corpus itself never moves), the top `maxVocab` types come back to the
    * driver (count desc, word asc cutoff, so the cap is deterministic), and
    * [[trainMerges]] runs the merge loop. Where [[bpeMerges]] takes every
    * word or none, this trainer always runs in memory and truncates: same
    * merge semantics and (count desc, pair asc) tie-break, and the same
    * table whenever the vocabulary fits in `maxVocab` (TextAnalysisSpec
    * pins the equality).
    *
    * At 100 TB the word-count pass is the same one-shuffle aggregation
    * every vocabulary operator here runs; the collect is bounded by
    * `maxVocab` (1M types ≈ tens of MB), and the frequency cutoff loses
    * only hapax-tail mass that cannot win a merge round against the head.
    */
  def bpeMergesLocal(docs: DataFrame, text: Column, nMerges: Int,
      maxVocab: Int = 1 << 20): DataFrame = {
    require(nMerges >= 1 && maxVocab >= 1)
    val spark = docs.sparkSession
    val vocabRows = wordCounts(docs, text)
      .orderBy(desc("n_w"), asc("w")) // TakeOrdered, never a full sort
      .limit(maxVocab)
      .collect()
    import spark.implicits._
    trainMerges(vocabRows, nMerges).toDF("step", "pair", "cnt")
  }

  /** The in-memory BPE merge loop over collected word counts `(w, n_w)`,
    * with incremental pair-count maintenance: each round only touches the
    * words that actually contain the merged pair. Returns `(step, pair,
    * cnt)` rows in step order.
    */
  private def trainMerges(vocabRows: Array[org.apache.spark.sql.Row],
      nMerges: Int): Vector[(Int, String, Long)] = {
    // word states as codepoint-symbol arrays (the same per-CODEPOINT split
    // as the distributed loop: a UTF-16-unit split would mangle non-BMP
    // chars)
    val states = vocabRows.map { r =>
      val cps = r.getString(0).codePoints().toArray
      cps.map(cp => new String(Character.toChars(cp)))
    }
    val counts = vocabRows.map(_.getLong(1))
    val lens = states.map(_.length)
    import scala.collection.mutable
    val pairCount = mutable.HashMap.empty[String, Long]
    val pairWords = mutable.HashMap.empty[String, mutable.Set[Int]]
    def addPairs(wid: Int, sign: Long): Unit = {
      val s = states(wid); val n = lens(wid)
      var i = 0
      while (i < n - 1) {
        val pr = s(i) + " " + s(i + 1)
        val c = pairCount.getOrElse(pr, 0L) + sign * counts(wid)
        if (c == 0L) { pairCount.remove(pr); pairWords.get(pr).foreach(_.remove(wid)) }
        else {
          pairCount(pr) = c
          if (sign > 0) pairWords.getOrElseUpdate(pr, mutable.Set.empty) += wid
        }
        i += 1
      }
    }
    states.indices.foreach(addPairs(_, 1L))
    var merges = Vector.empty[(Int, String, Long)]
    var m = 1
    while (m <= nMerges && pairCount.nonEmpty) {
      // argmax with the distributed tie-break: count desc, pair asc — in
      // UTF-8 BYTE order (what Spark's UTF8String sort and the DuckDB
      // oracle both use; Java's UTF-16 order diverges for non-BMP pairs)
      var bestPr: String = null; var bestC = -1L
      pairCount.foreach { case (pr, c) =>
        if (c > bestC || (c == bestC && Search.utf8Lt(pr, bestPr))) {
          bestPr = pr; bestC = c
        }
      }
      merges :+= ((m, bestPr, bestC))
      val sp = bestPr.indexOf(' ')
      val x = bestPr.substring(0, sp); val y = bestPr.substring(sp + 1)
      val touched = pairWords.getOrElse(bestPr, mutable.Set.empty).toArray
      touched.foreach { wid =>
        addPairs(wid, -1L) // retire the old adjacencies
        lens(wid) = graft.functions.BpeApplyExpr.mergePass(
          states(wid), lens(wid), x, y, x + y)
        addPairs(wid, 1L)  // account the rewritten ones
      }
      m += 1
    }
    merges
  }

  /** BPE ENCODE — apply a learned merge table (rank-ordered `pair`
    * strings from [[bpeMerges]], i.e. the artifact a tokenizer trainer
    * ships) to the corpus, and return per-document token accounting:
    * `(doc id, n_words, n_tokens, chars_per_token)`. This is the apply
    * side of Sennrich et al. 2016: token BUDGETS under the real
    * tokenizer are what mixing/packing/pricing decisions consume —
    * whitespace token counts ([[wsTokens]]) systematically undercount
    * long-tail text.
    *
    * Scale shape: the corpus is tokenized ONCE into a DISTINCT-word
    * vocabulary; the whole merge table applies in ONE codegen'd kernel
    * pass over that vocabulary-bounded table
    * ([[graft.functions.BpeApplyExpr]] — O(symbols²) per word type
    * regardless of merge depth, so a 32k-merge production table costs
    * the same plan as 4 merges; exactly how production tokenizers
    * batch-encode — per word type, never per occurrence); the
    * word→token-count map then broadcasts back over the corpus words, so
    * the big side never shuffles. Rewrites apply sequentially in rank
    * order — the reference apply-BPE semantics this engine pins (the
    * oracle replicates the sequential fold; TextAnalysisSpec pins the
    * kernel against the fold form merge-by-merge).
    */
  def bpeEncode(docs: DataFrame, id: Column, text: Column,
      merges: Seq[String]): DataFrame = {
    val vocab = docs.select(explode(wsTokens(text)).as("w"))
      .filter(col("w") =!= "").distinct()
    val st = vocab.withColumn("state", bpeApply(concat_ws(" ",
      regexp_extract_all(col("w"), lit("(?s)."), lit(0))), merges))
    val wtok = st.select(col("w"),
      size(split(col("state"), " ")).cast("long").as("n_tok"),
      length(col("w")).cast("long").as("n_chars"))
    docs.select(id.as("doc_id"), explode(wsTokens(text)).as("w"))
      .filter(col("w") =!= "")
      .join(broadcast(wtok), Seq("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("n_tok").as("n_tokens"),
        round(sum(col("n_chars")).cast("double") / sum(col("n_tok")), 6)
          .as("chars_per_token"))
  }

  /** `KL(batch ‖ reference)` of one document batch against a FROZEN
    * reference token distribution `(t, c_t)` — the one-sided drift score an
    * ingest monitor computes per arriving drop ([[sourceTokenKl]] is the
    * all-groups batch audit; this is the single-group kernel the streaming
    * monitor reuses). Tokens absent from the reference take the Laplace
    * floor `1/(n_ref + V + 1)` (every present token gets `(c_t+1)` mass),
    * so out-of-vocabulary text raises the score instead of crashing the
    * log. Returns ONE row: (n_tokens, n_types, oov_types, kl_nats); empty
    * batches return no row.
    *
    * Scale shape: one batch tokenize into vocabulary-bounded counts; the
    * reference and both total rows ride as broadcasts; sorted-fold sum.
    */
  def klAgainstReference(docs: DataFrame, text: Column,
      reference: DataFrame): DataFrame = {
    val refTot = reference.agg(sum(col("c_t")).cast("long").as("n_ref"),
      count(lit(1)).as("v_ref"))
    val bt = docs.select(explode(wsTokens(text)).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c_bt"))
      .cut(eager = false) // two consumers: batch totals + the term join
    val bTot = bt.agg(sum(col("c_bt")).cast("long").as("n_b"),
      count(lit(1)).as("types_b"))
    bt.join(broadcast(reference.select(col("t"), col("c_t"))), Seq("t"), "left")
      .crossJoin(broadcast(bTot)).crossJoin(broadcast(refTot))
      .select(col("n_b"), col("types_b"),
        ((col("c_bt") / col("n_b")) *
          log((col("c_bt") / col("n_b")) /
            ((coalesce(col("c_t"), lit(0L)) + lit(1L)) /
              (col("n_ref") + col("v_ref") + lit(1L))))).as("term"),
        col("c_t").isNull.cast("long").as("oov"))
      .agg(max(col("n_b")).as("n_tokens"), max(col("types_b")).as("n_types"),
        sum(col("oov")).as("oov_types"),
        round(aggregate(sort_array(collect_list(col("term"))), lit(0.0),
          (a, x) => a + x), 6).as("kl_nats"))
      .filter(col("n_tokens").isNotNull)
  }

  /** Exact phrase search over positional postings: documents containing the
    * consecutive token sequence `phrase`, with occurrence counts — the
    * inverted-index capability keyword/BM25 retrieval can't express
    * (BM25 is bag-of-words; "hash table" ≠ "table hash").
    *
    * Scale shape: ONE corpus tokenize producing postings restricted to the
    * phrase's terms (the `isin` filter runs in the scan projection, so
    * non-phrase tokens never leave the first stage), checkpointed once,
    * then m−1 narrow (id, pos) equi-joins chain the adjacency — each join
    * input is term-selectivity-sized, never corpus-sized. The classic
    * positional-index phrase plan, as a DataFrame.
    */
  def phraseSearch(docs: DataFrame, id: Column, text: Column,
      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one term")
    val post = docs
      .select(id.as("id"), posexplode(wsTokens(text)).as(Seq("pos", "t")))
      .filter(col("t").isin(phrase.distinct: _*))
      .cut(eager = false)
    val start = post.filter(col("t") === phrase.head).select(col("id"), col("pos"))
    val matched = phrase.zipWithIndex.tail.foldLeft(start) { case (acc, (term, i)) =>
      acc.join(post.filter(col("t") === term)
        .select(col("id"), (col("pos") - i).as("pos")), Seq("id", "pos"))
    }
    matched.groupBy("id").agg(count(lit(1)).as("n_occurrences"))
  }
}
