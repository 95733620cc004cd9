package graft

import graft.streaming.Streaming
import graft.sources.VectorStore
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

/** Structured Streaming contracts: incremental ingest into the store,
  * watermarked windowed aggregation, session windows — each driven through
  * MemoryStream with explicit micro-batch control.
  */
class StreamingSpec extends SparkSpec {

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("streaming ingest: append micro-batches into a queryable VectorStore") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val in = MemoryStream[(String, Seq[Float], String)]
    val canonical = Streaming.canonicalIngest(
      in.toDF().toDF("id", "embedding", "metadata"),
      col("id"), col("embedding"), col("metadata"))
    val out = tmpDir("graft_stream_store")
    val q = Streaming.startIngest(canonical, s"$out/data", s"$out/ckpt", shardSize = 2)
    try {
      in.addData(("a", Seq(1.0f, 0.0f), """{"k":1}"""), ("b", Seq(0.0f, 1.0f), "{}"))
      q.processAllAvailable()
      in.addData(("c", Seq(0.5f, 0.5f), "{}"))
      q.processAllAvailable()
      val store = VectorStore.load(sp, s"$out/data")
      assert(store.count() == 3)
      // streamed rows carry the full canonical schema incl. norm_sq / kv map
      assert(store.df.columns.toSet ==
        Set("id", "embedding", "metadata", "norm_sq", "metadata_kv"))
      // and the store is immediately searchable
      val top = graft.operators.Search.findMostSimilar(store, Seq(1.0f, 0.0f), k = 1).collect()
      assert(top.head.getString(0) == "a")
    } finally q.stop()
  }

  test("streaming ingest: in-batch duplicate ids are dropped") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val in = MemoryStream[(String, Seq[Float], String)]
    val canonical = Streaming.canonicalIngest(
      in.toDF().toDF("id", "embedding", "metadata"),
      col("id"), col("embedding"), col("metadata"))
    val out = tmpDir("graft_stream_dup")
    val q = Streaming.startIngest(canonical, s"$out/data", s"$out/ckpt")
    try {
      in.addData(("x", Seq(1.0f), "{}"), ("x", Seq(2.0f), "{}"), ("y", Seq(3.0f), "{}"))
      q.processAllAvailable()
      assert(VectorStore.load(sp, s"$out/data").count() == 2)
    } finally q.stop()
  }

  test("windowed stats: streaming watermarked aggregation matches the batch twin") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    def ts(m: Int, s: Int = 0) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:$s%02d")
    val rows = Seq(
      (ts(0), "click", 1.0), (ts(2), "click", 2.0), (ts(3), "view", 3.0),
      (ts(6), "click", 4.0), (ts(11), "view", 5.0))

    // batch twin
    val batch = Streaming.windowedEventStats(rows.toDF("ts", "event_type", "value"))
      .orderBy("win_start", "event_type").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))

    // streaming, two micro-batches, complete mode over memory sink
    val in = MemoryStream[(Timestamp, String, Double)]
    val agg = Streaming.windowedEventStats(
      Streaming.withEventWatermark(in.toDF().toDF("ts", "event_type", "value")))
    val q = agg.writeStream.format("memory").queryName("win_stats").outputMode("complete").start()
    try {
      in.addData(rows.take(3))
      q.processAllAvailable()
      in.addData(rows.drop(3))
      q.processAllAvailable()
      val streamed = sp.table("win_stats").orderBy("win_start", "event_type").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      assert(streamed.toSeq == batch.toSeq)
      // window shape: 5-minute tumbling
      assert(batch.map(_._1).distinct.length == 3)
    } finally q.stop()
  }

  test("mapGroupsWithState: per-user totals accumulate across micro-batches") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val in = MemoryStream[(Long, Double)]
    val totals = Streaming.runningUserTotals(in.toDF().toDF("user_id", "value"))
    val q = Streaming.startRunningTotals(totals, "user_totals")
    try {
      in.addData((1L, 10.0), (1L, 5.0), (2L, 1.0))
      q.processAllAvailable()
      in.addData((1L, 2.0), (3L, 7.0))
      q.processAllAvailable()
      // update-mode memory sink appends one row per user per batch; totals
      // are monotone, so the max-count row per user is the final state
      val last = sp.table("user_totals").collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
        .groupBy(_._1).view.mapValues(_.map(_._2).maxBy(_._1)).toMap
      assert(last(1L) == ((3L, 17.0))) // state carried over batch boundary
      assert(last(2L) == ((1L, 1.0)))
      assert(last(3L) == ((1L, 7.0)))
      // equals the batch twin over the union of all inputs
      val batch = Seq((1L, 10.0), (1L, 5.0), (2L, 1.0), (1L, 2.0), (3L, 7.0))
        .groupBy(_._1).view.mapValues(v => (v.size.toLong, v.map(_._2).sum)).toMap
      assert(last == batch)
    } finally q.stop()
  }

  test("funnel state machine: strictly-after advancement across micro-batches") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    def us(s: Long) = new Timestamp(s * 1000L)
    val in = MemoryStream[(Long, Timestamp, String)]
    val prog = Streaming.funnelProgress(
      in.toDF().toDF("user_id", "ts", "event_type"),
      Seq("view", "click", "purchase"))
    val q = prog.writeStream.format("memory").queryName("funnel_prog")
      .outputMode("update").start()
    try {
      // batch 1: user 1 views; user 2's click precedes any view (no advance)
      in.addData((1L, us(1), "view"), (2L, us(5), "click"), (2L, us(6), "view"))
      q.processAllAvailable()
      // batch 2: user 1 clicks then purchases (in-batch disorder repaired);
      // user 2's purchase is strictly after the view but stage 2 never
      // happened, so it stays at 1
      in.addData((1L, us(3), "purchase"), (1L, us(2), "click"), (2L, us(7), "purchase"))
      q.processAllAvailable()
      val last = sp.table("funnel_prog").collect()
        .map(r => (r.getLong(0), (r.getInt(1), r.getLong(2))))
        .groupBy(_._1).view.mapValues(_.map(_._2).maxBy(_._1)).toMap
      assert(last(1L)._1 == 3) // full funnel across the batch boundary
      assert(last(2L)._1 == 1) // out-of-order click never counted
      // matches the batch twin over the same union of events
      import org.apache.spark.sql.functions.col
      val ev = Seq((1L, us(1), "view"), (2L, us(5), "click"), (2L, us(6), "view"),
        (1L, us(3), "purchase"), (1L, us(2), "click"), (2L, us(7), "purchase"))
        .toDF("user_id", "ts", "event_type")
      val batch = graft.operators.Relational.funnel(ev, col("user_id"), col("ts"),
          col("event_type"), Seq("view", "click", "purchase"))
        .orderBy("stage_idx").collect().map(_.getLong(2)).toSeq
      assert(batch == Seq(2L, 1L, 1L)) // views: u1+u2; click: u1; purchase: u1
    } finally q.stop()
  }

  test("session windows: per-user sessions close on the gap") {
    val sp = spark
    import sp.implicits._
    def ts(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    // user 1: two bursts 40min apart → 2 sessions; user 2: one burst
    val rows = Seq(
      (ts(10, 0), 1L), (ts(10, 5), 1L), (ts(10, 45), 1L),
      (ts(11, 0), 2L), (ts(11, 10), 2L))
    val out = Streaming.sessionStats(rows.toDF("ts", "user_id"), gap = "30 minutes")
      .orderBy("user_id", "sess_start").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events")))
    assert(out.toSeq == Seq((1L, 2L), (1L, 1L), (2L, 2L)))
  }

  test("flatMapGroupsWithState: sessions close when the watermark passes the gap") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    def ts(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val in = MemoryStream[(Long, Timestamp)]
    val sessions = Streaming.closedSessions(
      in.toDF().toDF("user_id", "ts"), gapMinutes = 30)
    val q = sessions.toDF().writeStream.format("memory").queryName("closed_sessions")
      .outputMode("append").start()
    try {
      in.addData((1L, ts(10, 0)), (1L, ts(10, 5)))
      q.processAllAvailable()
      assert(sp.table("closed_sessions").count() == 0) // session still open
      // another user's much later event drives the watermark past the gap
      in.addData((2L, ts(12, 0)))
      q.processAllAvailable()
      in.addData((2L, ts(12, 1))) // one more batch so the timeout fires
      q.processAllAvailable()
      val closed = sp.table("closed_sessions").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(closed.toSeq == Seq((1L, 2L))) // user 1's 2-event session, once
    } finally q.stop()
  }

  test("foreachBatch upsert: latest-wins merge-on-read, tombstones, compaction") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val in = MemoryStream[(String, Seq[Float], String, Boolean)]
    val out = tmpDir("graft_upsert")
    val q = Streaming.startUpsert(
      in.toDF().toDF("id", "embedding", "metadata", "deleted"),
      s"$out/log", s"$out/ckpt")
    try {
      in.addData(
        ("a", Seq(1.0f), """{"v":1}""", false),
        ("b", Seq(2.0f), "{}", false))
      q.processAllAvailable()
      in.addData(
        ("a", Seq(9.0f), """{"v":2}""", false), // update a
        ("b", Seq(0.0f), "{}", true),           // delete b
        ("c", Seq(3.0f), "{}", false))          // insert c
      q.processAllAvailable()
      val resolved = Streaming.loadVersioned(sp, s"$out/log")
        .collect().map(r => r.getString(0) ->
          (r.getSeq[Float](1).head, r.getString(2))).toMap
      assert(resolved.keySet == Set("a", "c"))
      assert(resolved("a") == ((9.0f, """{"v":2}"""))) // latest version won
      assert(resolved("c") == ((3.0f, "{}")))
      // compaction resolves to the same state
      Streaming.compact(sp, s"$out/log", s"$out/compacted")
      val compacted = Streaming.loadVersioned(sp, s"$out/compacted")
        .collect().map(_.getString(0)).sorted.toSeq
      assert(compacted == Seq("a", "c"))
    } finally q.stop()
  }

  test("foreachBatch upsert: a batch replayed under its id after a lost commit is stored once") {
    // as in the count-min replay test: a file source delivers two batches,
    // and deleting the last commit makes the restart re-run batch 1
    val sp = spark
    import sp.implicits._
    val out = tmpDir("graft_upsert_replay")
    val inDir = s"$out/in"
    new java.io.File(inDir).mkdirs()
    def arrive(rows: (String, Seq[Float], String, Boolean)*): Unit =
      rows.toDF("id", "embedding", "metadata", "deleted").coalesce(1)
        .write.mode("append").parquet(inDir)
    def run() = {
      val q = Streaming.startUpsert(
        sp.readStream.schema("id STRING, embedding ARRAY<FLOAT>, metadata STRING, deleted BOOLEAN")
          .option("maxFilesPerTrigger", 1).parquet(inDir),
        s"$out/log", s"$out/ckpt")
      try q.processAllAvailable() finally q.stop()
      q.recentProgress.toSeq.filter(_.numInputRows > 0).map(p => p.batchId -> p.numInputRows)
    }
    arrive(("a", Seq(1f), "{}", false), ("b", Seq(2f), "{}", false))
    arrive(("a", Seq(9f), "{}", false), ("b", Seq(0f), "{}", true), ("c", Seq(3f), "{}", false))
    assert(run() == Seq(0L -> 2L, 1L -> 3L))
    val commits = new java.io.File(s"$out/ckpt/commits")
    assert(new java.io.File(commits, "1").delete(), "commit of batch 1 not found")
    new java.io.File(commits, ".1.crc").delete()
    assert(run() == Seq(1L -> 3L), "the restart must replay batch 1 and only it")
    assert(graft.sources.Parquet.read(sp, s"$out/log").count() == 5L,
      "a replayed batch must replace its rows in the log, not add to them")
    val resolved = Streaming.loadVersioned(sp, s"$out/log")
      .collect().map(r => r.getString(0) -> r.getSeq[Float](1).head).toMap
    assert(resolved == Map("a" -> 9f, "c" -> 3f))
    Streaming.compact(sp, s"$out/log", s"$out/compacted")
    assert(Streaming.loadVersioned(sp, s"$out/compacted")
      .collect().map(r => r.getString(0) -> r.getSeq[Float](1).head).toMap == resolved)
  }

  test("streaming near-dup screen flags arrivals colliding with the static signature index") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val corpus = graft.operators.Dedup.signatureTable(
      Seq((100L, "the quick brown fox jumps over the lazy dog"),
          (101L, "an entirely different corpus document about engines"))
        .toDF("doc_id", "text"),
      col("doc_id"), col("text"))
    val in = MemoryStream[(Long, String)]
    val out = tmpDir("graft_screen")
    val q = Streaming.startNearDupScreen(
      in.toDF().toDF("id", "text"), corpus, s"$out/res", s"$out/ckpt")
    try {
      in.addData((1L, "the quick brown fox jumps over the lazy dog"), // dup of 100
                 (2L, "totally novel content with no shared bigrams whatsoever"))
      q.processAllAvailable()
      in.addData((3L, "an entirely different corpus document about engines")) // dup of 101
      q.processAllAvailable()
      // batch_id comes back as a discovered partition column (integral type
      // inferred) — read it numerically
      val res = sp.read.parquet(s"$out/res").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2),
          r.getAs[Number]("batch_id").longValue))).toMap
      assert(res(1L)._1 == 1L && res(1L)._2 == 1.0 && res(1L)._3 == 0L)
      assert(res(2L)._1 == 0L && res(2L)._2 == 0.0)
      assert(res(3L)._1 == 1L && res(3L)._2 == 1.0 && res(3L)._3 == 1L) // second batch
    } finally q.stop()
  }

  test("streaming dataset card: merged state equals the batch truth; dup estimate in band") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    import graft.operators.TextAnalysis
    val in = MemoryStream[(String, String)]
    val out = tmpDir("graft_card")
    val q = Streaming.startDatasetCardMaintenance(
      in.toDF().toDF("text", "source"), col("text"), col("source"),
      s"$out/state", s"$out/ckpt", p = 7)
    val b1 = Seq(
      ("the quick brown fox and the dog", "web"),
      ("the quick brown fox and the dog", "web"),      // exact dup
      ("der hund und die katze ist ein tier", "books"))
    val b2 = Seq(
      ("to be or not to be that is it", "web"),
      ("el que los gatos y una cosa", "forums"))
    try {
      in.addData(b1: _*)
      q.processAllAvailable()
      in.addData(b2: _*)
      q.processAllAvailable()
      val card = Streaming.loadDatasetCard(sp, s"$out/state", p = 7)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val all = b1 ++ b2
      assert(card("n_docs") == all.size.toDouble)
      assert(card("n_sources") == 3.0)
      // token count equals the batch operator's definition
      val expTokens = all.map(_._1.split("\\s+").length).sum.toDouble
      assert(card("n_tokens") == expTokens)
      // en_frac: langId over each text, replicated through the engine
      val df = all.map(_._1).toDF("text")
      val nEn = df.select(TextAnalysis.langId(col("text")).as("l"))
        .collect().count(_.getString(0) == "en").toDouble
      assert(card("en_frac") ==
        math.rint(nEn / all.size * 1e6) / 1e6)
      // the sketch sees 4 distinct texts among 5 docs: estimate within
      // the p=7 error band, and the dup-rate estimate is positive
      assert(math.abs(card("distinct_text_est") - 4.0) <= 2.0,
        s"distinct est ${card("distinct_text_est")}")
      assert(card("dup_rate_est") > 0.0)
      // replayed batch ids overwrite, never double-count: state rows per
      // batch_id are unique in the agg table
      val aggRows = sp.read.parquet(s"$out/state/agg")
        .groupBy("batch_id", "source", "lang").count()
        .filter(col("count") > 1).count()
      assert(aggRows == 0L)
    } finally q.stop()
  }

  test("streaming label-noise screen: full-probe agreement equals the driver replica; idempotent stamps") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val rnd = new scala.util.Random(61)
    // labeled corpus: two separated clusters
    val corpusRows = (0L until 16L).map { i =>
      val c = (i % 2).toInt
      (i, Array.tabulate(6)(d => (if (d % 2 == c) 1f else 0f) +
        (rnd.nextFloat() - 0.5f) * 0.1f).toSeq, c)
    }
    val corpus = corpusRows.toDF("cid", "cvec", "clab")
    val planes = graft.operators.AnnSearch.hyperplanes(dim = 6, numPlanes = 3)
    val in = MemoryStream[(Long, Seq[Float], Int)]
    val out = tmpDir("graft_label_noise")
    val k = 4
    // full probe radius -> every corpus vector is a candidate -> exact
    val q = Streaming.startLabelNoiseScreen(
      in.toDF().toDF("id", "vec", "label"),
      col("id"), col("vec"), col("label"),
      corpus, col("cid"), col("cvec"), col("clab"),
      planes, k = k, tau = 0.5, s"$out/res", s"$out/ckpt", probeRadius = 3)
    // arrival 1 matches cluster 0 and carries label 0 (clean); arrival 2
    // sits in cluster 1 but carries label 0 (planted noise)
    val a1 = (500L, Array.tabulate(6)(d => if (d % 2 == 0) 1f else 0f).toSeq, 0)
    val a2 = (501L, Array.tabulate(6)(d => if (d % 2 == 1) 1f else 0f).toSeq, 0)
    try {
      in.addData(a1)
      q.processAllAvailable()
      in.addData(a2)
      q.processAllAvailable()
      // same id, same vector, CONFLICTING labels in ONE batch (an
      // at-least-once replay carrying a correction): each (id, label)
      // payload must screen independently, not share one merged top-k
      in.addData((502L, a1._2, 0), (502L, a1._2, 1))
      q.processAllAvailable()
      val res = sp.read.parquet(s"$out/res").collect()
        .map(r => (r.getLong(0), r.getInt(1)) -> ((r.getLong(2), r.getLong(3),
          r.getDouble(4), r.getInt(5), r.getAs[Number]("batch_id").longValue)))
        .toMap
      // driver replica of the bipartite consensus
      def cos(a: Seq[Float], b: Seq[Float]): Double = {
        var d = 0.0; var na = 0.0; var nb = 0.0
        for (i <- a.indices) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i) }
        d / (math.sqrt(na) * math.sqrt(nb))
      }
      for ((aid, avec, alab) <- Seq(a1, a2, (502L, a1._2, 0), (502L, a1._2, 1))) {
        val nbrs = corpusRows.map { case (ci, cv, cl) => (ci, cos(avec, cv), cl) }
          .sortBy { case (ci, s, _) => (-s, ci) }.take(k)
        val agree = nbrs.count(_._3 == alab).toLong
        val (nn, na2, frac, noisy, _) = res((aid, alab))
        assert((nn, na2) == ((k.toLong, agree)), s"row ($aid, $alab)")
        assert(frac == math.rint(agree.toDouble / k * 1e6) / 1e6)
        assert(noisy == (if (agree < k * 0.5) 1 else 0))
      }
      assert(res((500L, 0))._4 == 0 && res((501L, 0))._4 == 1) // planted noise flags
      assert(res((500L, 0))._5 == 0L && res((501L, 0))._5 == 1L) // batch stamps
      // the conflicting-label pair got DIFFERENT verdicts from one batch
      assert(res((502L, 0))._4 == 0 && res((502L, 1))._4 == 1)
    } finally q.stop()
  }

  test("streaming ANN index maintenance: buckets accumulate across batches; search equals the batch twin") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    import graft.operators.AnnSearch
    val planes = AnnSearch.hyperplanes(dim = 4, numPlanes = 3)
    val in = MemoryStream[(String, Seq[Float])]
    val out = tmpDir("graft_ann_maint")
    val q = Streaming.startAnnIndexMaintenance(
      in.toDF().toDF("id", "embedding"), planes, s"$out/idx", s"$out/ckpt")
    val b1 = Seq("a" -> Seq(1f, 0f, 0f, 0f), "b" -> Seq(0f, 1f, 0f, 0f))
    // "c" is colinear with "a" (same sign pattern for ANY plane set), so a
    // cross-batch arrival provably lands in an EXISTING bucket partition
    val b2 = Seq("c" -> Seq(2f, 0f, 0f, 0f), "d" -> Seq(0f, 0f, 0f, 1f))
    try {
      in.addData(b1: _*)
      q.processAllAvailable()
      assert(Streaming.loadAnnIndex(sp, s"$out/idx").count() == 2)
      in.addData(b2: _*)
      q.processAllAvailable()
      val idx = Streaming.loadAnnIndex(sp, s"$out/idx")
      assert(idx.count() == 4)
      val buckets = idx.collect().map(r => r.getString(0) -> r.getAs[Int]("bucket")).toMap
      assert(buckets("a") == buckets("c"), "cross-batch arrival must grow its existing bucket")
      // the maintained index answers searches exactly like an index built in
      // one batch over the union of all arrivals
      val qv = Seq(1f, 0f, 0f, 0f)
      def res(df: org.apache.spark.sql.DataFrame) =
        AnnSearch.search(df, col("id"), col("embedding"), qv, planes, k = 3)
          .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
      val twin = AnnSearch.index((b1 ++ b2).toDF("id", "embedding"), col("embedding"), planes)
      assert(res(idx) == res(twin))
    } finally q.stop()
  }

  test("manifest-committed clustered ANN maintenance: exactly-once appends; probe search equals the batch twin; wrong planes kill the stream") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    import graft.operators.AnnSearch
    import graft.sources.LayoutManifest
    val embs = sp.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val n = embs.count()
    val planes = AnnSearch.hyperplanes(dim = 64)
    val dir = tmpDir("graft_clustered_maint")
    // seed: the first quarter of the corpus, committed
    AnnSearch.clusteredWrite(embs.filter(col("vec_id") < n / 4),
      col("embedding"), planes, dir, numFiles = 4)
    val in = MemoryStream[(Long, Seq[Float])]
    val q = Streaming.startClusteredAnnIndexMaintenance(
      in.toDF().toDF("vec_id", "embedding"), planes, dir, tmpDir("graft_cm_ck"))
    try {
      val rest = embs.filter(col("vec_id") >= n / 4)
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
      val (h1, h2) = rest.splitAt(rest.length / 2)
      in.addData(h1.toSeq); q.processAllAvailable()
      in.addData(h2.toSeq); q.processAllAvailable()
    } finally q.stop()
    // every vector exactly once in the committed bytes
    val live = LayoutManifest.readData(sp, dir)
    assert(live.count() == n)
    assert(live.select("vec_id").distinct().count() == n)
    assert(LayoutManifest.current(sp, dir).get.props("last_batch_id") == "1")
    // the maintained layout answers probe searches exactly like a fresh
    // full index at the same dials
    val qv = graft.sources.VectorStore
      .fromEmbeddingsTable(sp, "/root/testdata/sf0.001").getVector("0").toSeq
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), BigDecimal(r.getDouble(1))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP))).toSeq
    val got = rows(AnnSearch.searchClusteredAt(sp, dir,
      col("vec_id").cast("string"), col("embedding"), qv, planes,
      k = 10, probeRadius = 2))
    val want = rows(AnnSearch.search(
      AnnSearch.index(embs, col("embedding"), planes),
      col("vec_id").cast("string"), col("embedding"), qv, planes,
      k = 10, probeRadius = 2))
    assert(got == want && got.size == 10)
    // a maintenance stream carrying DIFFERENT planes must fail its first
    // batch loudly (fingerprint check) instead of corrupting probes
    val badIn = MemoryStream[(Long, Seq[Float])]
    val wrong = AnnSearch.hyperplanes(dim = 64, seed = 123L)
    val badQ = Streaming.startClusteredAnnIndexMaintenance(
      badIn.toDF().toDF("vec_id", "embedding"), wrong, dir, tmpDir("graft_cm_bad"))
    try {
      badIn.addData((999999L, Seq.fill(64)(0.1f)))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        badQ.processAllAvailable()
      }
      assert(e.getMessage.contains("plane mismatch") ||
        Option(e.getCause).exists(_.getMessage.contains("plane mismatch")))
    } finally badQ.stop()
    // nothing from the failed stream landed
    assert(LayoutManifest.readData(sp, dir).count() == n)
  }

  test("manifest-committed clustered IVF maintenance: exactly-once appends; probe search equals the batch twin") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    import graft.operators.IvfSearch
    import graft.sources.LayoutManifest
    val embs = sp.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val n = embs.count()
    val cents = IvfSearch.centroidsFromIds(embs, col("vec_id"), col("embedding"), c = 8)
    val dir = tmpDir("graft_ivf_cl_maint")
    IvfSearch.clusteredWrite(embs.filter(col("vec_id") < n / 4),
      col("embedding"), cents, dir, numFiles = 4)
    val in = MemoryStream[(Long, Seq[Float])]
    val q = Streaming.startClusteredIvfIndexMaintenance(
      in.toDF().toDF("vec_id", "embedding"), cents, dir, tmpDir("graft_icm_ck"))
    try {
      val rest = embs.filter(col("vec_id") >= n / 4)
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
      val (h1, h2) = rest.splitAt(rest.length / 2)
      in.addData(h1.toSeq); q.processAllAvailable()
      in.addData(h2.toSeq); q.processAllAvailable()
    } finally q.stop()
    val live = LayoutManifest.readData(sp, dir)
    assert(live.count() == n)
    assert(live.select("vec_id").distinct().count() == n)
    // probe search over the maintained layout equals a fresh full index
    val qv = graft.sources.VectorStore
      .fromEmbeddingsTable(sp, "/root/testdata/sf0.001").getVector("0").toSeq
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), BigDecimal(r.getDouble(1))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP))).toSeq
    val got = rows(IvfSearch.searchClusteredAt(sp, dir,
      col("vec_id").cast("string"), col("embedding"), qv, cents,
      k = 10, nprobe = 4))
    val want = rows(IvfSearch.search(
      IvfSearch.index(embs, col("embedding"), cents),
      col("vec_id").cast("string"), col("embedding"), qv, cents,
      k = 10, nprobe = 4))
    assert(got == want && got.size == 10)
    // retrained-but-not-rebuilt centroids are rejected at the first batch
    val cents16 = IvfSearch.centroidsFromIds(embs, col("vec_id"), col("embedding"), c = 16)
    val badIn = MemoryStream[(Long, Seq[Float])]
    val badQ = Streaming.startClusteredIvfIndexMaintenance(
      badIn.toDF().toDF("vec_id", "embedding"), cents16, dir, tmpDir("graft_icm_bad"))
    try {
      badIn.addData((999999L, Seq.fill(64)(0.1f)))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        badQ.processAllAvailable()
      }
      assert(e.getMessage.contains("centroid mismatch") ||
        Option(e.getCause).exists(_.getMessage.contains("centroid mismatch")))
    } finally badQ.stop()
    assert(LayoutManifest.readData(sp, dir).count() == n)
  }

  test("streaming embedding-drift monitor: per-batch rows equal the batch twin; a shifted batch reads its planted z") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    import graft.operators.EmbedQc
    // dim 0 cycles 0..3 (sigma = sqrt(1.25)); dims 1, 2 constant
    val ref = (0 until 40)
      .map(i => (i.toLong, Seq((i % 4).toFloat, 1f, 7f))).toDF("id", "embedding")
    val in = MemoryStream[(Long, Seq[Float])]
    val out = tmpDir("graft_embed_drift")
    val q = Streaming.startEmbeddingDriftMonitor(
      in.toDF().toDF("id", "embedding"), col("embedding"), ref,
      s"$out/drift", s"$out/ckpt")
    val inBand = (100 until 120).map(i => (i.toLong, Seq((i % 4).toFloat, 1f, 7f)))
    val shifted = (200 until 220).map(i => (i.toLong, Seq((i % 4).toFloat + 2f, 1f, 7f)))
    try {
      in.addData(inBand: _*)
      q.processAllAvailable()
      in.addData(shifted: _*)
      q.processAllAvailable()
    } finally q.stop()
    val drift = sp.read.parquet(s"$out/drift")
      .select(col("batch_id").cast("long"), col("pos"), col("shift_z"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(drift((0L, 0)) == Some(0.0), "in-band batch must read zero drift")
    assert(drift((1L, 0)) == Some(BigDecimal(2.0 / math.sqrt(1.25))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    // constant dims stay NULL in every batch
    assert(Seq(1, 2).forall(p => drift((0L, p)).isEmpty && drift((1L, p)).isEmpty))
    // and each persisted batch equals the batch twin computed offline
    val twin = EmbedQc.embeddingDrift(ref, shifted.toDF("id", "embedding"),
        col("embedding")).collect()
      .map(r => r.getInt(0) ->
        (if (r.isNullAt(5)) None else Some(r.getDouble(5)))).toMap
    assert(Seq(0, 1, 2).forall(p => twin(p) == drift((1L, p))))
  }

  test("maintained ANN index compacts into the clustered layout; probe search equals the batch twin") {
    // the operational loop closed: streaming maintenance appends small
    // per-(bucket, batch) files; Layout.compact(clusterCol = bucket)
    // periodically re-sorts them into the searchClustered layout, whose
    // zone-map manifest then prunes probe reads — maintenance, compaction,
    // and the probe-read path compose without a full rebuild
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    import graft.operators.AnnSearch
    import graft.sources.Layout
    val planes = AnnSearch.hyperplanes(dim = 4, numPlanes = 3)
    val in = MemoryStream[(String, Seq[Float])]
    val out = tmpDir("graft_ann_compact")
    val q = Streaming.startAnnIndexMaintenance(
      in.toDF().toDF("id", "embedding"), planes, s"$out/idx", s"$out/ckpt")
    val b1 = Seq("a" -> Seq(1f, 0f, 0f, 0f), "b" -> Seq(0f, 1f, 0f, 0f))
    val b2 = Seq("c" -> Seq(2f, 0f, 0f, 0f), "d" -> Seq(0f, 0f, 0f, 1f))
    try {
      in.addData(b1: _*)
      q.processAllAvailable()
      in.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val (before, after) = Layout.compact(sp, s"$out/idx", s"$out/clustered",
      targetBytes = 1L << 30, clusterCol = Some("bucket"))
    assert(before >= 2 && after >= 1)
    val man = graft.sources.LayoutManifest.bootstrap(sp, s"$out/clustered", Seq("bucket"))
    val qv = Seq(1f, 0f, 0f, 0f)
    def res(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    val got = res(AnnSearch.searchClustered(sp, s"$out/clustered", man, col("id"),
      col("embedding"), qv, planes, k = 3))
    val twin = res(AnnSearch.search(
      AnnSearch.index((b1 ++ b2).toDF("id", "embedding"), col("embedding"), planes),
      col("id"), col("embedding"), qv, planes, k = 3))
    assert(got == twin)
  }

  test("streaming IVF index maintenance: lists accumulate across batches; search equals the batch twin") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    import graft.operators.IvfSearch
    // two frozen centroids on orthogonal axes: assignment is unambiguous
    val cents = Seq(
      IvfSearch.Centroid(0L, Seq(1.0, 0.0, 0.0, 0.0)),
      IvfSearch.Centroid(1L, Seq(0.0, 1.0, 0.0, 0.0)))
    val in = MemoryStream[(String, Seq[Float])]
    val out = tmpDir("graft_ivf_maint")
    val q = Streaming.startIvfIndexMaintenance(
      in.toDF().toDF("id", "embedding"), cents, s"$out/idx", s"$out/ckpt")
    val b1 = Seq("a" -> Seq(0.9f, 0.1f, 0f, 0f), "b" -> Seq(0.1f, 0.9f, 0f, 0f))
    val b2 = Seq("c" -> Seq(0.8f, 0.2f, 0f, 0f), "d" -> Seq(0.2f, 0.8f, 0f, 0f))
    try {
      in.addData(b1: _*)
      q.processAllAvailable()
      assert(Streaming.loadIvfIndex(sp, s"$out/idx").count() == 2)
      in.addData(b2: _*)
      q.processAllAvailable()
      val idx = Streaming.loadIvfIndex(sp, s"$out/idx")
      assert(idx.count() == 4)
      val lists = idx.collect().map(r => r.getString(0) -> r.getAs[Long]("list_id")).toMap
      assert(lists("a") == lists("c") && lists("b") == lists("d"),
        "cross-batch arrivals must grow their existing inverted lists")
      assert(lists("a") != lists("b"))
      val qv = Seq(1f, 0f, 0f, 0f)
      def res(df: org.apache.spark.sql.DataFrame) =
        IvfSearch.search(df, col("id"), col("embedding"), qv, cents, k = 3, nprobe = 1)
          .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
      val twin = IvfSearch.index((b1 ++ b2).toDF("id", "embedding"), col("embedding"), cents)
      assert(res(idx) == res(twin))
      assert(res(idx).map(_._1) == Seq("a", "c"), "nprobe=1 must prune to list 0")
    } finally q.stop()
  }

  test("streaming IVF-PQ maintenance: codes persist per batch; search equals the batch twin") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    import graft.operators.{IvfPq, IvfSearch, Pq}
    val cents = Seq(
      IvfSearch.Centroid(0L, Seq(1.0, 0.0, 0.0, 0.0)),
      IvfSearch.Centroid(1L, Seq(0.0, 1.0, 0.0, 0.0)))
    // hand-built residual codebooks: m=2 subspaces of width 2, ks=2 codes
    val cb = Pq.Codebooks(m = 2, ks = 2, subDim = 2, cents = Array(
      Array(Array(-0.1, 0.1), Array(0.1, -0.1)),
      Array(Array(0.0, 0.1), Array(0.1, 0.0))))
    val in = MemoryStream[(String, Seq[Float])]
    val out = tmpDir("graft_ivfpq_maint")
    val q = Streaming.startIvfPqIndexMaintenance(
      in.toDF().toDF("id", "embedding"), cents, cb, s"$out/idx", s"$out/ckpt")
    val b1 = Seq("a" -> Seq(0.9f, 0.1f, 0f, 0.1f), "b" -> Seq(0.1f, 0.9f, 0.1f, 0f))
    val b2 = Seq("c" -> Seq(0.8f, 0.2f, 0f, 0f), "d" -> Seq(0.2f, 0.8f, 0f, 0.1f))
    try {
      in.addData(b1: _*)
      q.processAllAvailable()
      in.addData(b2: _*)
      q.processAllAvailable()
      val idx = Streaming.loadIvfIndex(sp, s"$out/idx")
      assert(idx.count() == 4)
      assert(idx.schema("pq_codes").dataType.simpleString == "array<tinyint>",
        "codes must survive the parquet round-trip narrow")
      val qv = Seq(1f, 0f, 0f, 0f)
      def res(df: org.apache.spark.sql.DataFrame) =
        IvfPq.search(df, col("id"), col("embedding"), qv, cents, cb,
            k = 2, nprobe = 1, rerank = 2)
          .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
      val twin = IvfPq.index((b1 ++ b2).toDF("id", "embedding"), col("embedding"), cents, cb)
      assert(res(idx) == res(twin))
      assert(res(idx).map(_._1).toSet.subsetOf(Set("a", "c")),
        "nprobe=1 must prune to list 0")
    } finally q.stop()
  }

  test("watermarked dedup drops cross-batch duplicates with bounded state") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val in = MemoryStream[(Long, Timestamp)]
    val deduped = Streaming.dedupWithinWatermark(
      in.toDF().toDF("id", "ts"), keys = Seq("id"), delay = "10 minutes")
    val q = deduped.writeStream.format("memory").queryName("dedup_sink")
      .outputMode("append").start()
    try {
      in.addData((1L, ts(0)), (2L, ts(1)), (1L, ts(2)))
      q.processAllAvailable()
      in.addData((1L, ts(3)), (3L, ts(4))) // 1 is a dup from the prior batch
      q.processAllAvailable()
      val ids = sp.table("dedup_sink").collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("stream-stream interval join attributes purchases to recent clicks") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val clicks = MemoryStream[(Long, Long, Timestamp)]
    val purchases = MemoryStream[(Long, Long, Timestamp)]
    val joined = Streaming.clickAttribution(
      clicks.toDF().toDF("event_id", "user_id", "ts"),
      purchases.toDF().toDF("event_id", "user_id", "ts"),
      horizonMinutes = 30)
    val q = joined.writeStream.format("memory").queryName("attr_sink")
      .outputMode("append").start()
    try {
      clicks.addData((100L, 1L, ts(0)), (101L, 2L, ts(5)), (102L, 1L, ts(50)))
      purchases.addData((200L, 1L, ts(10)), (201L, 1L, ts(55)), (202L, 3L, ts(20)))
      q.processAllAvailable()
      val got = sp.table("attr_sink").collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
      // purchase 200 (user 1 @10) ← click 100 (@0, within 30m)
      // purchase 201 (user 1 @55) ← click 102 (@50) but NOT 100 (55m gap)
      // purchase 202: user 3 never clicked
      assert(got == Set((200L, 100L), (201L, 102L)))
    } finally q.stop()
  }

  test("streaming HLL maintenance: registers max-merge across batches; estimate equals the batch twin") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    import graft.operators.Sketches
    val in = MemoryStream[(String, String)]
    val out = tmpDir("graft_hll_maint")
    val q = Streaming.startHllMaintenance(
      in.toDF().toDF("src", "k"), col("src"), col("k"), p = 7,
      s"$out/regs", s"$out/ckpt")
    val b1 = (1 to 400).map(i => ("a", s"key-$i"))
    val b2 = (201 to 600).map(i => ("a", s"key-$i")) // 200 overlap with b1
    try {
      in.addData(b1: _*)
      q.processAllAvailable()
      in.addData(b2: _*)
      q.processAllAvailable()
      val est = Streaming.loadHllEstimate(sp, s"$out/regs", p = 7)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      // merged registers must equal a single-batch build over the union:
      // the max-merge absorbs the 200-key overlap exactly
      val twin = Sketches.hllEstimate(
        Sketches.hllRegisters((b1 ++ b2).toDF("src", "k"), col("src"), col("k"), 7), 7)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(est == twin)
      // and the persisted state is bounded: at most m rows per batch
      val regs = sp.read.parquet(s"$out/regs")
      assert(regs.groupBy("batch_id").count().collect().forall(_.getLong(1) <= 128))
    } finally q.stop()
  }

  test("streaming HLL maintenance: stop + restart on the same checkpoint recovers; merged state equals the single-run twin") {
    // Round-6 verdict #7: every streaming pin proved batch_id-idempotence
    // WITHIN a run; none proved a query killed mid-series and restarted
    // against the same checkpoint dir resumes instead of reprocessing or
    // losing data. A FILE source (replayable by contract) drives it:
    // MemoryStream state dies with the query object, so it cannot
    // exercise the restart path.
    val sp = spark
    import sp.implicits._
    import graft.operators.Sketches
    val out = tmpDir("graft_hll_restart")
    val inDir = s"$out/in"
    new java.io.File(inDir).mkdirs()
    val b1 = (1 to 300).map(i => ("a", s"key-$i"))
    val b2 = (151 to 450).map(i => ("a", s"key-$i")) // overlaps b1
    val b3 = (301 to 600).map(i => ("a", s"key-$i")) // overlaps b2
    def arrive(rows: Seq[(String, String)]): Unit =
      rows.toDF("src", "k").coalesce(1).write.mode("append").parquet(inDir)
    def start() = Streaming.startHllMaintenance(
      sp.readStream.schema("src STRING, k STRING")
        .option("maxFilesPerTrigger", 1).parquet(inDir),
      col("src"), col("k"), p = 7, s"$out/regs", s"$out/ckpt")
    arrive(b1); arrive(b2)
    val q1 = start()
    try { q1.processAllAvailable() } finally q1.stop()
    // data keeps arriving while the query is DOWN
    arrive(b3)
    val q2 = start()
    try { q2.processAllAvailable() } finally q2.stop()
    val est = Streaming.loadHllEstimate(sp, s"$out/regs", p = 7)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val twin = Sketches.hllEstimate(
      Sketches.hllRegisters((b1 ++ b2 ++ b3).toDF("src", "k"),
        col("src"), col("k"), 7), 7)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(est == twin,
      "estimate after stop/restart must equal a single uninterrupted build")
    // recovery evidence: the restarted query CONTINUED the micro-batch
    // numbering from the offset log (batch 2 after the run that committed
    // 0 and 1) — a query that restarted from scratch would re-emit
    // batch_ids 0.. and reprocess the first two files
    val batchIds = sp.read.parquet(s"$out/regs")
      .select(col("batch_id").cast("long")) // partition col may infer as int
      .distinct().collect().map(_.getLong(0)).toSet
    assert(batchIds == Set(0L, 1L, 2L),
      s"expected resumed batch numbering {0,1,2}, got $batchIds")
  }

  test("streaming HLL maintenance: wide tier streams the 2^60 registers; twin equality holds") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    import graft.operators.Sketches
    val in = MemoryStream[(String, String)]
    val out = tmpDir("graft_hll_maint_wide")
    val q = Streaming.startHllMaintenance(
      in.toDF().toDF("src", "k"), col("src"), col("k"), p = 7,
      s"$out/regs", s"$out/ckpt", wide = true)
    val b1 = (1 to 400).map(i => ("a", s"key-$i"))
    val b2 = (201 to 600).map(i => ("a", s"key-$i"))
    try {
      in.addData(b1: _*)
      q.processAllAvailable()
      in.addData(b2: _*)
      q.processAllAvailable()
      val est = Streaming.loadHllEstimate(sp, s"$out/regs", p = 7, wide = true)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val twin = Sketches.hllEstimate(
        Sketches.hllRegisters((b1 ++ b2).toDF("src", "k"), col("src"), col("k"), 7,
          wide = true), 7, wide = true)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(est == twin)
      // and the maintained registers really are the WIDE-hash stream:
      // they differ from a narrow-tier build of the same keys
      val wideRegs = sp.read.parquet(s"$out/regs")
        .groupBy("grp", "bucket").agg(max(col("rho")).as("rho"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
      val narrowRegs = Sketches.hllRegisters(
          (b1 ++ b2).toDF("src", "k"), col("src"), col("k"), 7)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
      assert(wideRegs != narrowRegs)
    } finally q.stop()
  }

  test("streaming count-min maintenance: cell counts sum-merge across batches; probes equal the batch twin") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    import graft.operators.Sketches
    val in = MemoryStream[String]
    val out = tmpDir("graft_cm_maint")
    val q = Streaming.startCmMaintenance(
      in.toDF().toDF("t"), col("t"), depth = 4, width = 256,
      s"$out/cells", s"$out/ckpt")
    val b1 = Seq.fill(30)("alpha") ++ Seq.fill(5)("beta")
    val b2 = Seq.fill(20)("alpha") ++ Seq.fill(9)("gamma")
    try {
      in.addData(b1: _*)
      q.processAllAvailable()
      in.addData(b2: _*)
      q.processAllAvailable()
      val counters = Streaming.loadCmCounters(sp, s"$out/cells")
      // merged counters == a single-batch build over the union (sum-merge)
      val twin = Sketches.cmCounters((b1 ++ b2).toDF("t"), col("t"), 4, 256)
        .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      val got = counters.collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(got == twin)
      // the live matrix answers frequency probes across everything ingested
      val est = Sketches.cmEstimate(counters, Seq("alpha", "beta", "gamma").toDF("t"),
          col("t"), 4, 256)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(est("alpha") >= 50L && est("beta") >= 5L && est("gamma") >= 9L)
      // bounded state per batch: at most d*w cells
      val cells = sp.read.parquet(s"$out/cells")
      assert(cells.groupBy("batch_id").count().collect().forall(_.getLong(1) <= 4 * 256))
    } finally q.stop()
  }

  test("streaming count-min maintenance: a batch replayed under its id after a lost commit is counted once") {
    // a SUM-merged sink is where a non-idempotent write would double-count.
    // A file source (replayable, unlike MemoryStream) delivers two batches;
    // deleting the last commit makes the restarted query re-run batch 1
    // under the same id, as after a crash between its write and its commit.
    val sp = spark
    import sp.implicits._
    import graft.operators.Sketches
    val out = tmpDir("graft_cm_replay")
    val inDir = s"$out/in"
    new java.io.File(inDir).mkdirs()
    val b1 = Seq.fill(30)("alpha") ++ Seq.fill(5)("beta")
    val b2 = Seq.fill(20)("alpha") ++ Seq.fill(9)("gamma")
    def arrive(items: Seq[String]): Unit =
      items.toDF("t").coalesce(1).write.mode("append").parquet(inDir)
    def run() = {
      val q = Streaming.startCmMaintenance(
        sp.readStream.schema("t STRING").option("maxFilesPerTrigger", 1).parquet(inDir),
        col("t"), depth = 4, width = 256, s"$out/cells", s"$out/ckpt")
      try q.processAllAvailable() finally q.stop()
      q.recentProgress.toSeq.filter(_.numInputRows > 0).map(p => p.batchId -> p.numInputRows)
    }
    arrive(b1); arrive(b2)
    assert(run() == Seq(0L -> b1.size.toLong, 1L -> b2.size.toLong))
    val commits = new java.io.File(s"$out/ckpt/commits")
    assert(new java.io.File(commits, "1").delete(), "commit of batch 1 not found")
    new java.io.File(commits, ".1.crc").delete()
    assert(run() == Seq(1L -> b2.size.toLong), "the restart must replay batch 1 and only it")
    val got = Streaming.loadCmCounters(sp, s"$out/cells")
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val twin = Sketches.cmCounters((b1 ++ b2).toDF("t"), col("t"), 4, 256)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == twin, "a replayed batch must replace its partition, not add to it")
  }

  test("streaming zone-map maintenance: manifest grows per batch; pruned read stays exact") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    import graft.sources.Layout
    val in = MemoryStream[(Long, Long)]
    val out = tmpDir("graft_zm_maint")
    val q = Streaming.startZoneMapMaintenance(
      in.toDF().toDF("id", "k"), Seq("k"), s"$out/data", s"$out/manifest", s"$out/ckpt")
    try {
      in.addData((1L, 10L), (2L, 20L), (3L, 30L))
      q.processAllAvailable()
      val m1 = Streaming.loadZoneMap(sp, s"$out/manifest")
      val files1 = m1.files.size
      assert(files1 >= 1)
      in.addData((4L, 1000L), (5L, 2000L))
      q.processAllAvailable()
      val m2 = Streaming.loadZoneMap(sp, s"$out/manifest")
      assert(m2.files.size > files1, "second batch must add manifest rows")
      // pruned read over the accumulated table: only first-batch spans
      // intersect [0, 100], and the result equals the row-level filter
      val pruned = Layout.prunedRead(sp, s"$out/data", m2, "k", 0L, 100L)
        .filter(col("k").between(0L, 100L))
        .select("id").collect().map(_.getLong(0)).toSet
      assert(pruned == Set(1L, 2L, 3L))
      // the prune actually skipped the second batch's files
      val kept = m2.files.count { e => val (lo, hi) = e.stats("k"); lo <= 100L && hi >= 0L }
      assert(kept < m2.files.size, "no files pruned")
      // high-range probe reads only the later arrivals
      val hi = Layout.prunedRead(sp, s"$out/data", m2, "k", 1500L, 3000L)
        .filter(col("k").between(1500L, 3000L))
        .select("id").collect().map(_.getLong(0)).toSet
      assert(hi == Set(5L))
    } finally q.stop()
  }

  test("streaming volume monitor: bucket counts sum-merge across straddling batches; anomalies equal the batch twin") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val in = MemoryStream[(String, Long)]
    val out = tmpDir("graft_volmon")
    val q = Streaming.startVolumeMonitor(
      in.toDF().toDF("g", "sec")
        .select(col("g"), timestamp_seconds(col("sec")).as("ts")),
      col("g"), col("ts"), bucketMinutes = 1,
      s"$out/counts", s"$out/ckpt")
    // minute buckets 0..7 with counts 1,2,1,2,1,2,1,10 — but batch 2 starts
    // MID-bucket-3, so bucket 3's total is split across both batches
    val counts = Seq(1, 2, 1, 2, 1, 2, 1, 10)
    val all = counts.zipWithIndex.flatMap { case (n, minute) =>
      (0 until n).map(i => ("x", minute * 60L + i)) }
    val (b1, b2) = all.splitAt(all.indexWhere(_._2 == 3 * 60L + 1))
    try {
      in.addData(b1: _*)
      q.processAllAvailable()
      in.addData(b2: _*)
      q.processAllAvailable()
      // merged anomalies == the batch twin over the union of all events
      val twin = graft.operators.Relational.anomalyScores(
          all.toDF("g", "sec").select(col("g"), timestamp_seconds(col("sec")).as("ts")),
          col("g"), col("ts"), bucketMinutes = 1, histBuckets = 24, minHist = 6)
        .orderBy("bucket_start")
        .collect().map(r => (r.getTimestamp(1), r.getLong(2),
          if (r.isNullAt(4)) None else Some(r.getDouble(4))))
      val got = Streaming.loadVolumeAnomalies(sp, s"$out/counts",
          bucketMinutes = 1, histBuckets = 24, minHist = 6)
        .orderBy("bucket_start")
        .collect().map(r => (r.getTimestamp(1), r.getLong(2),
          if (r.isNullAt(4)) None else Some(r.getDouble(4))))
      assert(got.toSeq == twin.toSeq)
      assert(got.last._2 == 10L && got.last._3.exists(_ > 3.0), "spike must score")
      // the straddled bucket was written by BOTH batches and re-summed
      val perBatch = sp.read.parquet(s"$out/counts")
        .filter(col("b") === 3L).select("batch_id").distinct().count()
      assert(perBatch == 2L, "bucket 3 must have partial counts from two batches")
    } finally q.stop()
  }

  test("streaming drift monitor: per-batch KL rows equal the batch twin; drifted batch scores higher") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    import graft.operators.TextAnalysis
    val in = MemoryStream[String]
    val out = tmpDir("graft_drift")
    // frozen reference: uniform-ish a/b/c corpus
    val ref = Seq.fill(40)("a") ++ Seq.fill(30)("b") ++ Seq.fill(30)("c")
    val reference = ref.toDF("t").groupBy("t").agg(count(lit(1)).as("c_t"))
      .localCheckpoint(false)
    val q = Streaming.startDriftMonitor(in.toDF().toDF("text"), col("text"),
      reference, s"$out/kl", s"$out/ckpt")
    val b1 = Seq("a b c a", "b c a a")          // in-distribution
    val b2 = Seq("zz zz qq zz", "qq zz a zz")   // heavy OOV drift
    try {
      in.addData(b1: _*)
      q.processAllAvailable()
      in.addData(b2: _*)
      q.processAllAvailable()
      val rows = sp.read.parquet(s"$out/kl")
        .collect().map(r => r.getAs[Long]("batch_id") ->
          ((r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
      assert(rows.keySet == Set(0L, 1L))
      // each batch row equals the batch-kernel twin run directly
      for ((bid, docs) <- Seq(0L -> b1, 1L -> b2)) {
        val t = TextAnalysis.klAgainstReference(docs.toDF("text"), col("text"),
          reference).head()
        assert(rows(bid) == ((t.getLong(0), t.getLong(1), t.getLong(2),
          t.getDouble(3))))
      }
      // drifted batch scores far above the in-distribution one, with OOV
      assert(rows(1L)._4 > rows(0L)._4 + 1.0)
      assert(rows(0L)._3 == 0L && rows(1L)._3 == 2L) // zz, qq unseen
    } finally q.stop()
  }

  test("streaming ER screen: per-batch matches equal the batch twin edJoin") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    import graft.operators.FuzzyJoin
    val in = MemoryStream[(Long, String)]
    val out = tmpDir("graft_er_screen")
    val dim = Seq((100L, "spark"), (101L, "hello"), (102L, "kitten"))
      .toDF("dim_id", "dim_name").localCheckpoint(false)
    val q = Streaming.startErScreen(in.toDF().toDF("rid", "rname"),
      col("rid"), col("rname"), dim, col("dim_id"), col("dim_name"),
      maxDist = 1, s"$out/matches", s"$out/ckpt")
    val b1 = Seq((1L, "spak"), (2L, "helo"))      // del variants
    val b2 = Seq((3L, "mitten"), (4L, "unrelated"))
    try {
      in.addData(b1: _*)
      q.processAllAvailable()
      in.addData(b2: _*)
      q.processAllAvailable()
      val rows = sp.read.parquet(s"$out/matches")
        .withColumn("batch_id", col("batch_id").cast("long"))
        .collect().map(r => (r.getAs[Long]("batch_id"), r.getAs[Long]("record_id"),
          r.getAs[Long]("matched_id"), r.getAs[Int]("dist"))).toSet
      for ((bid, data) <- Seq(0L -> b1, 1L -> b2)) {
        val twin = FuzzyJoin.edJoin(data.toDF("rid", "rname"), col("rid"),
            col("rname"), dim, col("dim_id"), col("dim_name"), 1)
          .collect().map(r => (bid, r.getAs[Long]("l_id"), r.getAs[Long]("r_id"),
            r.getAs[Int]("dist"))).toSet
        assert(rows.filter(_._1 == bid) == twin)
      }
      assert(rows.map(t => (t._2, t._3)) ==
        Set((1L, 100L), (2L, 101L), (3L, 102L))) // 4 matches nothing
    } finally q.stop()
  }

  test("every foreachBatch sink runs and writes through the two Streaming helpers") {
    // one runner (eachBatch) and one idempotent batch write (overwriteBatch)
    // carry the sink contract; a sink spelling out its own foreachBatch
    // wiring or partition overwrite would be a copy that can drift from it
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"program sources not found under ${root.toAbsolutePath}")
    val streaming = root.resolve("graft/streaming/Streaming.scala")
    val lines = Files.readAllLines(streaming).asScala.toIndexedSeq
    def body(helper: String): Set[Int] = {
      val from = lines.indexWhere(_.contains(s"private def $helper("))
      assert(from >= 0, s"helper $helper not found")
      (from until lines.indexWhere(_.trim.isEmpty, from)).toSet
    }
    val helpers = body("eachBatch") ++ body("overwriteBatch")
    val marker = """partitionOverwriteMode|\.foreachBatch""".r
    val hits = Files.walk(root).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
      .flatMap(p => Files.readAllLines(p).asScala.zipWithIndex
        .filter { case (l, _) => marker.findFirstIn(l).nonEmpty }
        .map { case (_, i) => (p, i) })
    val offenders = hits.filterNot { case (p, i) => p == streaming && helpers(i) }
      .map { case (p, i) => s"${root.relativize(p)}:${i + 1}" }
    assert(offenders.isEmpty, s"route the sink through eachBatch / overwriteBatch: $offenders")
    assert(hits.size == 2, s"each helper keeps its one use: $hits")
  }
}
