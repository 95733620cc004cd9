package graft
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Benchmark main — per-query wall time at the given SF dir, one JSON line.
  *
  * Noise defense (round-3 lesson: a one-shot bench recorded a background
  * -load spike as a fake 38 % regression): every query is timed `Reps`
  * times and the reported number is the MEDIAN of the reps; all reps are
  * emitted under "reps" so any run's spread is auditable after the fact.
  * Two consecutive runs on an idle box agree within ~10 % per query.
  */
object Bench {
  val Reps = 3

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** Box-condition stamp (round-4 verdict #2: a 25 s vs 31 s cross-session
    * gap on the same commit was pure environment — absolute totals are
    * uninterpretable without the load/memory/quota they ran under).
    */
  private def boxConditions(): String = {
    def readFirst(path: String): Option[String] =
      try {
        val src = scala.io.Source.fromFile(path)
        try src.getLines().nextOption() finally src.close()
      } catch { case NonFatal(_) => None }
    val loadAvg = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val memAvailKb = try {
      val src = scala.io.Source.fromFile("/proc/meminfo")
      try src.getLines().collectFirst {
        case l if l.startsWith("MemAvailable:") => l.split("\\s+")(1).toLong
      }.getOrElse(-1L) finally src.close()
    } catch { case NonFatal(_) => -1L }
    // cgroup v2 ("max 100000" | "200000 100000") or v1 quota/period
    val cpuQuota = readFirst("/sys/fs/cgroup/cpu.max").map { l =>
      val parts = l.split("\\s+")
      if (parts(0) == "max") -1.0 else parts(0).toDouble / parts(1).toDouble
    }.orElse {
      for {
        q <- readFirst("/sys/fs/cgroup/cpu/cpu.cfs_quota_us").map(_.toDouble)
        p <- readFirst("/sys/fs/cgroup/cpu/cpu.cfs_period_us").map(_.toDouble)
      } yield if (q < 0) -1.0 else q / p
    }.getOrElse(-1.0)
    val procs = Runtime.getRuntime.availableProcessors()
    s"""{"load_avg_1m":$loadAvg,"mem_available_kb":$memAvailKb,""" +
      s""""cpu_quota_cores":$cpuQuota,"available_processors":$procs}"""
  }

  /** (steal, total) jiffies from /proc/stat's aggregate cpu line — the
    * round-8 forensics showed `load_avg` box stamps cannot see hypervisor
    * steal (a same-commit pair read 20% apart under an invisible steal
    * window); the delta across the run makes the artifact self-documenting.
    */
  private def cpuJiffies(): Option[(Long, Long)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).map { l =>
        val f = l.trim.split("\\s+").drop(1).map(_.toLong)
        (if (f.length > 7) f(7) else 0L, f.sum)
      } finally src.close()
    } catch { case NonFatal(_) => None }

  def main(args: Array[String]): Unit = {
    val boxStart = boxConditions()
    val jiffiesStart = cpuJiffies()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.max(4, Runtime.getRuntime.availableProcessors()).toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // Untimed warm-up: JIT + codegen-compiler init and per-table file
    // listing, so the first timed query measures its plan rather than
    // session startup (measured ~4.5 s on the first action otherwise).
    Seq("q_knn", "q_text_stats", "q_filter_eq", "q_rel_pricing")
      .foreach(n => SparkEntry.queries.get(n).foreach { fn =>
        try { fn(spark, sfDir).count(); () } catch { case NonFatal(_) => () }
      })
    // SPARK_GRAFT_BENCH_ONLY=q_a,q_b scopes the run (drift-attribution /
    // regression-bisection tool); the default remains the full suite.
    val names = sys.env.get("SPARK_GRAFT_BENCH_ONLY") match {
      case Some(list) =>
        val want = list.split(",").map(_.trim).filter(_.nonEmpty).toSet
        SparkEntry.queries.keys.toSeq.filter(want).sorted
      case None => SparkEntry.queries.keys.toSeq.sorted
    }
    // rep loops OUTSIDE the query loop: a load spike then dents one rep of
    // many queries (medianed away) instead of all reps of one query.
    // Rep 0 is UNTIMED: each query's first execution pays its own codegen/
    // JIT (measured 2-3× on the heavy dedup plans), which is one-time cost,
    // not query cost — without this, run-to-run medians disagreed up to
    // 30 % on exactly the queries with the largest generated code.
    val times = scala.collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    // Failure accounting (round-5 verdict #1: the old timed loop swallowed
    // Throwables, so a broken query benched as "fast" with rc=0). A query
    // that throws in ANY rep lands in `failed` and is excluded from the
    // total; the summary line reports ok/failed counts so the driver's
    // 2×-of-baseline gate can also gate on failed==0.
    val failed = scala.collection.mutable.Set.empty[String]
    (0 to Reps).foreach { rep =>
      names.foreach { name =>
        val fn = SparkEntry.queries(name)
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
                 catch { case NonFatal(_) => failed += name; false }
        if (rep > 0 && ok) times(name) = times(name) :+ (System.nanoTime() - t0) / 1e9
      }
    }
    val okNames = names.filterNot(failed)
    val med = okNames.map(n => n -> median(times(n))).toMap
    val total = med.values.sum
    // Load-spike attribution (round-6 verdict #8: q_events_wau_rolling_hll
    // read 4.68 s under driver load vs 1.25 s idle — the widest spread in
    // the suite). For any query whose rep spread (max/min) exceeds 2×, the
    // detail file reports the MIN rep alongside the median: the min is the
    // best observed run on this box, so a fat median with a thin min reads
    // as "load spike", while a fat min reads as "the query is actually
    // this slow". Medians stay the headline numbers.
    val loadSensitive = okNames.flatMap { n =>
      val reps = times(n)
      if (reps.size >= 2 && reps.min > 0 && reps.max / reps.min > 2.0)
        Some(n -> (med(n), reps.min))
      else None
    }
    // Per-query medians + raw reps go to a detail FILE, not stdout: the
    // 163-query single-line payload overflowed the driver's 2,000-char
    // stdout tail window in rounds 4-5 ("parsed": null), truncating away
    // the line's head and blinding the driver's bench gate.
    val qs = okNames.map(n => s"\"$n\":${med(n)}").mkString("{", ",", "}")
    val reps = names.map(n => s"\"$n\":${times(n).mkString("[", ",", "]")}")
      .mkString("{", ",", "}")
    val failedArr = failed.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val loadSensitiveJson = loadSensitive
      .map { case (n, (m, mn)) => s""""$n":{"median":$m,"min":$mn}""" }
      .mkString("{", ",", "}")
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL", "BENCH_DETAIL.json")
    // Round-10 (verdict #2): a 32c+8c scaling pair used to CLOBBER the same
    // default detail file, losing the main run's per-query evidence (round-9
    // PERF had per_query: {} for exactly this reason). The detail is now
    // ALSO written to a cpu-count-suffixed sibling, so both runs of a
    // scaling pair leave their per-query artifacts on disk; the plain path
    // stays the summary line's "detail" pointer for driver back-compat.
    val detailPathByCpus =
      if (detailPath.endsWith(".json"))
        detailPath.stripSuffix(".json") + s"_c$cpus.json"
      else s"${detailPath}_c$cpus"
    val boxEnd = boxConditions()
    // hypervisor-steal fraction across the whole run (-1 when unreadable):
    // the one environment number load_avg cannot show (round-8 lesson)
    val stealPct = (for {
      (s0, t0) <- jiffiesStart; (s1, t1) <- cpuJiffies(); if t1 > t0
    } yield 100.0 * (s1 - s0) / (t1 - t0)).getOrElse(-1.0)
    val detail = s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","ok":${okNames.size},"failed":${failed.size},"failed_queries":$failedArr,"n_reps":$Reps,"queries":$qs,"reps":$reps,"load_sensitive":$loadSensitiveJson,"steal_pct":$stealPct,"box_start":$boxStart,"box_end":$boxEnd}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(detailPath),
      detail.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.write(java.nio.file.Paths.get(detailPathByCpus),
      detail.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // Compact summary (~300 chars) as the FINAL stdout line — must fit any
    // tail window. The driver parses this; humans read the detail file.
    println(s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","ok":${okNames.size},"failed":${failed.size},"detail":"$detailPath","steal_pct":$stealPct,"box_start":$boxStart,"box_end":$boxEnd}""")
    spark.stop()
  }
}
