package perfbench

import graft.operators.Search
import graft.sources.{Layout, LayoutManifest, VectorStore}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import scala.collection.mutable

/** `crud_churn`: writes beside reads on one manifest-committed layout.
  *
  * The store starts as `Initial` seeded rows, range-clustered on a numeric
  * id (`rid`, random 48-bit, as hashed keys would be) and committed with
  * `Layout.commitLayout`. A pass ([[CrudChurn.Pass]]) mixes batch
  * inserts (`VectorStore.insertBatch`'s duplicate check, landed with
  * `Layout.appendCommitted`), batch deletes (`Layout.deleteRows`), one
  * `Layout.maintainCompaction` after every fourth write, point lookups of
  * just-inserted, recent (Zipf over recency) and just-deleted ids, and
  * metadata-filtered top-k searches over `LayoutManifest.readData`.
  *
  * After every op (untimed): the manifest's row count equals initial +
  * inserted - deleted; lookups return exactly the generated vector or, for
  * a deleted id, throw; searches equal the exact top-k over live rows.
  */
final class CrudChurn(h: Harness) extends Workload {
  import CrudChurn._

  private val spark = h.spark
  private val seed = h.seed
  private val shape = Gen.Shape(seed, Dim, Clusters)
  private val zipf = new Gen.Zipf(Initial + 64 * InsertBatch, 1.0)
  private def path = s"${h.work}/crud_churn/layout"

  // checker state, indexed by insertion order
  private val rids = mutable.ArrayBuffer.empty[Long]
  private val vecs = mutable.ArrayBuffer.empty[Array[Float]]
  private val labels = mutable.ArrayBuffer.empty[Int]
  private val values = mutable.ArrayBuffer.empty[Int]
  private val dates = mutable.ArrayBuffer.empty[String]
  private val metas = mutable.ArrayBuffer.empty[String]
  private val alive = mutable.BitSet.empty
  private var aliveInOrder = mutable.ArrayBuffer.empty[Int]
  private val indexOf = mutable.HashMap.empty[Long, Int]
  private var lastInserted = Seq.empty[Int]
  private var lastDeleted = Seq.empty[Int]

  // results of the op just run, checked by afterOp
  private var pending: Option[() => Option[String]] = None

  // write accounting (after warm-up)
  private var liveFiles = Set.empty[String]
  private var bytesWritten = 0L
  private var userBytesInserted = 0L
  private var filesRewritten = 0L

  private def userBytes(i: Int): Long = 4L * Dim + rids(i).toString.length + metas(i).length

  private def grow(n: Int): Seq[Int] = {
    val from = rids.size
    (from until from + n).map { i =>
      val rid = ridOf(seed, i.toLong)
      rids += rid; vecs += shape.vector(i.toLong); labels += shape.label(i.toLong)
      values += shape.value(i.toLong); dates += shape.date(i.toLong)
      metas += shape.metadataJson(i.toLong)
      indexOf(rid) = i
      i
    }
  }

  private def rows: Gen.Rows = Gen.Rows(vecs.toArray, labels.toArray, values.toArray, dates.toArray)

  private def storeRows(df: DataFrame): DataFrame =
    VectorStore.ingest(df, col("id"), col("embedding"), col("metadata"))
      .withColumn("rid", col("id").cast("long"))

  val passLength: Int = Pass.size
  def kindOf(i: Long): String = Pass((i % passLength).toInt)

  def setup(rep: Int): Unit = {
    Fs.deleteTree(s"${h.work}/crud_churn")
    Seq(rids, vecs, labels, values, dates, metas).foreach(_.clear())
    alive.clear(); indexOf.clear()
    val idx = grow(Initial)
    alive ++= idx
    aliveInOrder = mutable.ArrayBuffer.from(idx)
    val sp = spark
    import sp.implicits._
    val (sh, sd) = (shape, seed)
    val raw = spark.range(0, Initial, 1, Session.cores)
      .map(i => (ridOf(sd, i).toString, sh.vector(i), sh.metadataJson(i)))
      .toDF("id", "embedding", "metadata")
    storeRows(raw).repartitionByRange(InitialFiles, col("rid")).sortWithinPartitions("rid")
      .write.parquet(path)
    Layout.commitLayout(spark, path, Seq("rid"))
  }

  /** Two untimed passes, so the timed ones run compiled code. */
  def warmUp(): Unit = {
    (0 until 2 * passLength).foreach { j =>
      val i = passLength * WarmUpPasses + j
      h.warmUpOp(i) { op(i); afterOp(i) }
    }
    liveFiles = LayoutManifest.current(spark, path).get.fileNames
    bytesWritten = 0L; userBytesInserted = 0L; filesRewritten = 0L
  }

  private def recent(i: Long, stream: Long): Int = {
    val n = aliveInOrder.size
    var d = 0
    var r = zipf.rank(Gen.unit(seed, stream, i))
    while (r >= n) { d += 1; r = zipf.rank(Gen.unit(seed, stream, i + (d.toLong << 40))) }
    aliveInOrder(n - 1 - r)
  }

  private def live(): DataFrame =
    h.tracer("LayoutManifest.readData", "sources.manifest_s")(LayoutManifest.readData(spark, path))

  private def lookup(i: Long, idx: Int, expectPresent: Boolean): Long = {
    val got = scala.util.Try(h.tracer("VectorStore.getVector", "sources.lookup_s")(
      VectorStore(live()).getVector(rids(idx).toString)))
    pending = Some { () =>
      (got, expectPresent) match {
        case (scala.util.Success(v), true) if v.sameElements(vecs(idx)) => None
        case (scala.util.Success(_), true) => Some(s"getVector(${rids(idx)}) returned a wrong vector")
        case (scala.util.Failure(e), true) => Some(s"getVector(${rids(idx)}) of a live id threw $e")
        case (scala.util.Failure(_: NoSuchElementException), false) => None
        case (scala.util.Failure(e), false) => Some(s"getVector(${rids(idx)}) of a deleted id threw $e")
        case (scala.util.Success(_), false) => Some(s"getVector(${rids(idx)}) returned a deleted id")
      }
    }
    if (got.isSuccess) 1L else 0L
  }

  def op(i: Long): Long = kindOf(i) match {
    case "insert" =>
      val idx = grow(InsertBatch)
      val ids = idx.map(j => rids(j).toString)
      h.tracer("VectorStore.insertBatch", "sources.append_s")(
        VectorStore(live().drop("rid")).insertBatch(ids, idx.map(j => vecs(j).toSeq), idx.map(metas)))
      val sp = spark
      import sp.implicits._
      val batch = storeRows(idx.zip(ids).map { case (j, id) => (id, vecs(j), metas(j)) }
        .toDF("id", "embedding", "metadata"))
      val appended = h.tracer("Layout.appendCommitted", "sources.append_s")(
        Layout.appendCommitted(batch, path))
      alive ++= idx; aliveInOrder ++= idx; lastInserted = idx
      userBytesInserted += idx.map(userBytes).sum
      pending = Some(() => if (appended == InsertBatch) None else Some(s"appended $appended rows"))
      appended
    case "delete" =>
      val chosen = mutable.LinkedHashSet.empty[Int]
      var draw = 0L
      while (chosen.size < DeleteBatch) { chosen += recent(i + (draw << 20), SDelete); draw += 1 }
      val sp = spark
      import sp.implicits._
      val (_, rewritten, deleted) = h.tracer("Layout.deleteRows", "sources.delete_s")(
        Layout.deleteRows(spark, path, "rid", chosen.toSeq.map(rids).toDF("rid")))
      alive --= chosen
      aliveInOrder = aliveInOrder.filterNot(chosen)
      lastDeleted = chosen.toSeq
      filesRewritten += rewritten
      pending = Some(() => if (deleted == DeleteBatch) None else Some(s"deleted $deleted rows"))
      deleted
    case "compact" =>
      val d = h.tracer("Layout.maintainCompaction", "sources.compact_s")(
        Layout.maintainCompaction(spark, path, "rid", TargetBytes))
      if (d.compacted) filesRewritten += d.nFiles
      pending = None
      d.filesAfter.toLong
    case "get_new" =>
      // a delete since the insert may have removed some of its ids
      val fresh = lastInserted.filter(alive)
      lookup(i, fresh(Gen.below(seed, SPick, i, fresh.size)), expectPresent = true)
    case "get_live" => lookup(i, recent(i, SLookup), expectPresent = true)
    case "get_deleted" =>
      lookup(i, lastDeleted(Gen.below(seed, SPick, i, lastDeleted.size)), expectPresent = false)
    case "search" =>
      val q = shape.query(i)
      val p = searchOp(seed, i)
      val df = h.tracer("Search.findMostSimilar", "operators.call_s")(
        Search.findMostSimilar(VectorStore(live()), q.toSeq, p.filter.and, p.filter.exclude,
          p.filter.or, p.k, p.autocut))
      val got = h.tracer("collect", "operators.exec_s")(df.collect())
        .toSeq.map(r => (r.getAs[String]("id"), r.getAs[Double]("score")))
      pending = Some { () =>
        val rs = rows
        val top = Exact.topK(rs, q, p.k, r => alive(r) && p.filter.matches(rs, r),
          r => rids(r).toString)
        Exact.check(got, if (p.autocut) Exact.autocut(top) else top,
          id => id.toLongOption.flatMap(indexOf.get)
            .filter(r => alive(r) && p.filter.matches(rs, r)).map(r => Exact.cosine(vecs(r), q)))
          .map(e => s"(k=${p.k}, ${p.filter.name}${if (p.autocut) ", autocut" else ""}) $e")
      }
      got.size
  }

  override def afterOp(i: Long): Unit = {
    pending.flatMap(_()).foreach(e => h.opFailed(i, s"${kindOf(i)}: $e"))
    pending = None
    val m = LayoutManifest.current(spark, path).get
    if (m.totalRows != alive.size)
      h.opFailed(i, s"${kindOf(i)}: manifest lists ${m.totalRows} rows, expected ${alive.size}")
    if (WriteKinds(kindOf(i))) {
      val added = m.fileNames -- liveFiles
      bytesWritten += added.toSeq.map(n => Fs.size(LayoutManifest.dataPath(path, n))).sum +
        Fs.size(s"$path/${LayoutManifest.SubDir}/manifest-${m.version}.tsv")
      liveFiles = m.fileNames
    }
  }

  def probeData(): DataFrame = LayoutManifest.readData(spark, path)

  def figures(): Map[String, Double] = {
    val m = LayoutManifest.current(spark, path).get
    val liveBytes = m.files.map(f => Fs.size(LayoutManifest.dataPath(path, f.name))).sum
    val liveUser = alive.toSeq.map(userBytes).sum
    val writes = h.samples.filter(s => !s.traced && WriteKinds(s.kind)).map(_.seconds).toSeq
    val reads = h.samples.filter(s => !s.traced && !WriteKinds(s.kind)).map(_.seconds).toSeq
    def pct(xs: Seq[Double], p: Double) = if (xs.isEmpty) 0.0 else Stats.percentile(xs, p)
    Map(
      "sources.write_amp" -> (if (userBytesInserted > 0) bytesWritten.toDouble / userBytesInserted else 0.0),
      "sources.space_amp" -> liveBytes.toDouble / liveUser,
      "sources.files_live" -> m.files.size.toDouble,
      "sources.files_rewritten" -> filesRewritten.toDouble,
      "write_p50_s" -> pct(writes, 50), "write_p90_s" -> pct(writes, 90),
      "read_p50_s" -> pct(reads, 50), "read_p90_s" -> pct(reads, 90))
  }
}

object CrudChurn {
  final case class SearchOp(k: Int, filter: Filter, autocut: Boolean)

  /** One pass: 5 writes (2 inserts, 2 deletes, then the compaction check
    * after every fourth write), 11 point lookups and 4 searches. Lookups
    * are the majority, as in a read-mostly store, so the median op is a
    * lookup.
    */
  val Pass: Seq[String] = Seq(
    "insert", "get_new", "get_live", "search", "get_live", "delete", "get_deleted",
    "get_live", "search", "get_new", "insert", "get_new", "get_live", "search",
    "get_live", "delete", "get_deleted", "search", "get_live", "compact")

  /** k, metadata filter and autocut of search op `i`. Each pass's four
    * searches use each filter once (none, `label` equality: about 1 %, a
    * `value` range: about 30 %, and a date AND label-OR minus label-exclude
    * composite), k = 10 twice and 100 twice, and autocut once, in seeded
    * order; the seed also draws the filter values.
    */
  def searchOp(seed: Long, i: Long): SearchOp = {
    require(Pass((i % Pass.size).toInt) == "search", s"op $i is not a search")
    val pass = i / Pass.size
    val slot = Pass.take((i % Pass.size).toInt).count(_ == "search")
    def pick[A](xs: Seq[A], stream: Long): A = Gen.permute(xs, seed, stream + pass)(slot)
    val filter = pick(0 until 4, SFilter) match {
      case 0 => Filter.NoFilter
      case 1 => Filter.LabelEq(Gen.below(seed, SFilterArg, i, Gen.Labels))
      case 2 =>
        val lo = Gen.below(seed, SFilterArg, i, Gen.ValueRange - 150)
        Filter.ValueRange(lo, lo + 150)
      case _ =>
        val labels = Gen.permute(0 until Gen.Labels, seed, SLabels + i).take(20)
        Filter.Composite(
          java.time.LocalDate.of(2020, 1, 1)
            .plusDays(Gen.below(seed, SFilterArg, i, Gen.DateDays / 2).toLong).toString,
          labels, labels(Gen.below(seed, SFilterArg, i + 1, labels.size)))
    }
    SearchOp(pick(Seq(10, 10, 100, 100), SK), filter, pick(Seq(true, false, false, false), SAutocut))
  }

  val Initial = 20000
  val Dim = 64
  val Clusters = 50
  val InitialFiles = 8
  val InsertBatch = 1000
  val DeleteBatch = 500
  val TargetBytes: Long = 4L << 20
  val WriteKinds = Set("insert", "delete", "compact")

  private val RidMask = (1L << 48) - 1

  /** Id of the `i`-th row ever inserted: random 48-bit, as hashed keys are. */
  def ridOf(seed: Long, i: Long): Long = Gen.hash(seed, SRid, i) & RidMask
  private val SRid = 21L
  private val SDelete = 22L
  private val SLookup = 23L
  private val SPick = 24L
  private val SFilterArg = 26L
  private val SFilter = 1L << 44
  private val SK = 2L << 44
  private val SAutocut = 3L << 44
  private val SLabels = 4L << 44
  private val WarmUpPasses = 1L << 40
}
