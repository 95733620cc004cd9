package perfbench

import graft.SparkEntry
import graft.sources.Testdata

/** `driver_suite`: a fixed set of `SparkEntry.queries`, each timed as
  * construction + `count()` (the op `graft.Bench` times); every pass runs
  * the set once, in a seed-permuted order.
  *
  * The inputs are the committed sf0.01 fixture tables. The first warm-up
  * pass collects every query once and compares its row count and digest
  * with the golden file recorded from an oracle-checked tree; timed ops
  * compare their row counts with it too.
  */
final class DriverSuite(h: Harness, fixture: String, golden: Map[String, (Long, String)])
    extends Workload {
  import DriverSuite._

  private var dir = ""

  val passLength: Int = Queries.size
  private def query(i: Long): String = DriverSuite.query(h.seed, i)
  def kindOf(i: Long): String = query(i)

  /** Stages the fixture in a fresh directory and reads every table once. */
  def setup(rep: Int): Unit = {
    Fs.deleteTree(s"${h.work}/driver_suite")
    dir = s"${h.work}/driver_suite/$rep"
    Fs.copyTree(fixture, dir)
    Tables.foreach(t => Testdata.table(h.spark, dir, t).count())
  }

  /** Three untimed passes: the first checks every query's rows against
    * the golden file, the others let the JIT settle (each of the first few
    * passes runs ~10 % faster than the one before).
    */
  def warmUp(): Unit = {
    (0 until passLength).foreach { j =>
      val name = query(j.toLong)
      val result = scala.util.Try(SparkEntry.queries(name)(h.spark, dir).collect().toSeq)
      val want = golden.get(name)
      h.checkOp(result.isSuccess && want.contains((result.get.size.toLong, Digest.of(result.get))),
        s"$name: ${result.map(r => s"${r.size} rows, digest ${Digest.of(r)}").getOrElse(result.failed.get)}" +
          s", golden ${want.getOrElse("missing")}")
    }
    (0 until 2 * passLength).foreach(j => h.warmUpOp(WarmUpBase + j)(op(WarmUpBase + j)))
  }

  def op(i: Long): Long = {
    val name = query(i)
    val df = h.tracer(s"SparkEntry.$name", "SparkEntry.construct_s")(SparkEntry.queries(name)(h.spark, dir))
    val n = h.tracer("count", "operators.exec_s")(df.count())
    if (!golden.get(name).exists(_._1 == n))
      h.opFailed(i, s"$name counted $n rows, golden ${golden.get(name).map(_._1)}")
    n
  }

  /** The suite has no vector store of its own; the probe reads a generated
    * one, written after the timed phases.
    */
  def probeData(): org.apache.spark.sql.DataFrame =
    KernelProbe.writeStore(h.spark, s"${h.work}/probe_store", h.seed)

  def figures(): Map[String, Double] = Map.empty

  /** Golden file lines: `name<TAB>rows<TAB>digest`. */
  def goldenLines(): Seq[String] = Queries.sorted.map { name =>
    val rows = SparkEntry.queries(name)(h.spark, dir).collect().toSeq
    s"$name\t${rows.size}\t${Digest.of(rows)}"
  }
}

object DriverSuite {
  /** A fixed cross-section of the suite, about 5 s per pass on 4 cores:
    * the vector read path (`q_knn*`, `q_ann_ivf`), filters, the write path
    * (`q_crud_insert_batch`, `q_layout_append`), the only streaming entry
    * (`q_stream_window_stats`), relational and text operators, and the
    * construction-heavy dedup/curation queries whose eager jobs and
    * lineage cuts dominate the full suite.
    */
  val Queries: Seq[String] = Seq(
    "q_knn", "q_knn_filtered", "q_knn_batch", "q_filter_and_or_exclude", "q_ann_ivf",
    "q_crud_insert_batch", "q_layout_append", "q_stream_window_stats", "q_rel_window_ranks",
    "q_rel_pricing", "q_text_stats", "q_dedup_minhash", "q_curate_softdedup")

  /** Tables the queries above read (the fixture holds exactly these). */
  val Tables: Seq[String] = Seq(
    "customer", "documents", "embeddings", "events", "lineitem", "nation", "orders",
    "part", "region", "supplier")

  private val SPass = 3L << 44
  private val WarmUpBase = Queries.size.toLong << 40

  /** Op `i`'s query: pass `i / n` is a seeded permutation of the `n` queries. */
  def query(seed: Long, i: Long): String =
    Gen.permute(Queries, seed, SPass + i / Queries.size)((i % Queries.size).toInt)

  def readGolden(path: String): Map[String, (Long, String)] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map(_.split('\t')).map(f => f(0) -> (f(1).toLong, f(2))).toMap
    finally src.close()
  }
}
