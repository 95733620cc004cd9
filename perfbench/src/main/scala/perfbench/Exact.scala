package perfbench

import graft.operators.{Eq, FilterDsl, MetaValue, Ops}

/** Metadata filters the workloads send, each with its Spark form (the
  * arguments `Search.findMostSimilar` takes) and its plain-Scala form (the
  * checker's predicate over generated rows).
  */
sealed trait Filter {
  def name: String
  def and: Seq[FilterDsl.MetaFilter] = Nil
  def or: Seq[FilterDsl.MetaFilter] = Nil
  def exclude: Seq[Map[String, MetaValue]] = Nil
  def matches(rows: Gen.Rows, r: Int): Boolean
}

object Filter {
  case object NoFilter extends Filter {
    val name = "none"
    def matches(rows: Gen.Rows, r: Int): Boolean = true
  }

  /** `label` equality: about 1 % of rows. */
  final case class LabelEq(label: Int) extends Filter {
    val name = "label_eq"
    override def and: Seq[FilterDsl.MetaFilter] = Seq(Map("label" -> Eq(MetaValue.MLong(label))))
    def matches(rows: Gen.Rows, r: Int): Boolean = rows.labels(r) == label
  }

  /** `value` in `[lo, hi)`. */
  final case class ValueRange(lo: Int, hi: Int) extends Filter {
    val name = "value_range"
    override def and: Seq[FilterDsl.MetaFilter] =
      Seq(Map("value" -> Ops(Seq("$gte" -> MetaValue.MLong(lo), "$lt" -> MetaValue.MLong(hi)))))
    def matches(rows: Gen.Rows, r: Int): Boolean = rows.values(r) >= lo && rows.values(r) < hi
  }

  /** `date >= from` AND `label` in `labels` (one OR dict per label) minus
    * `label == excluded`.
    */
  final case class Composite(from: String, labels: Seq[Int], excluded: Int) extends Filter {
    val name = "composite"
    override def and: Seq[FilterDsl.MetaFilter] =
      Seq(Map("date" -> Ops(Seq("$gte" -> MetaValue.MStr(from)))))
    override def or: Seq[FilterDsl.MetaFilter] =
      labels.map(l => Map[String, graft.operators.FilterValue]("label" -> Eq(MetaValue.MLong(l))))
    override def exclude: Seq[Map[String, MetaValue]] =
      Seq(Map("label" -> MetaValue.MLong(excluded)))
    private val labelSet = labels.toSet
    def matches(rows: Gen.Rows, r: Int): Boolean =
      rows.dates(r) >= from && labelSet(rows.labels(r)) && rows.labels(r) != excluded
  }
}

/** Exact cosine top-k in plain Scala, with the engine's arithmetic (a
  * left-to-right double fold over float products) and its total order
  * (score descending, then id ascending as a string).
  */
object Exact {
  type Hit = (String, Double)

  def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  def cosine(v: Array[Float], q: Array[Float]): Double =
    dot(v, q) / (math.sqrt(dot(v, v)) * math.sqrt(dot(q, q)))

  private val order: Ordering[Hit] =
    Ordering.by[Hit, Double](-_._2).orElse(Ordering.by[Hit, String](_._1))

  /** Top-k over rows with `eligible(r)`; the id of row `r` is `idOf(r)`. */
  def topK(rows: Gen.Rows, q: Array[Float], k: Int, eligible: Int => Boolean,
      idOf: Int => String = _.toString): Seq[Hit] = {
    // max-heap on the order above: the head is the worst kept hit
    val heap = new java.util.PriorityQueue[Hit](k + 1, order.reverse)
    val qNorm = math.sqrt(dot(q, q))
    var r = 0
    while (r < rows.size) {
      if (eligible(r)) {
        heap.add((idOf(r), dot(rows.vecs(r), q) / (math.sqrt(rows.normSq(r)) * qNorm)))
        if (heap.size > k) heap.poll()
      }
      r += 1
    }
    val out = new Array[Hit](heap.size)
    var i = out.length - 1
    while (!heap.isEmpty) { out(i) = heap.poll(); i -= 1 }
    out.toSeq
  }

  /** The engine's autocut over a top-k list: cut before the largest
    * relative score drop when that drop exceeds `graft.operators.Autocut.Threshold`.
    */
  def autocut(hits: Seq[Hit]): Seq[Hit] = {
    if (hits.size < 2) return hits
    val drops = hits.sliding(2).map { case Seq(p, c) => (p._2 - c._2) / p._2 }.toSeq
    val maxDrop = drops.max
    if (maxDrop > graft.operators.Autocut.Threshold) hits.take(drops.indexOf(maxDrop) + 1)
    else hits
  }

  /** Checks that `got` is a correct top-k answer.
    *
    * `scoreOf(id)` gives the exact score of an eligible id (None for ids
    * that are filtered out, deleted or unknown). Scores may differ from the
    * exact ones by `tol` (a kernel may sum in another order); within that
    * tolerance ties may come in either order. Returns the first violation.
    */
  def check(got: Seq[Hit], expected: Seq[Hit], scoreOf: String => Option[Double],
      tol: Double = 1e-9): Option[String] = {
    if (got.size != expected.size)
      return Some(s"returned ${got.size} rows, expected ${expected.size}")
    if (got.map(_._1).distinct.size != got.size) return Some("duplicate ids in result")
    got.foreach { case (id, s) =>
      scoreOf(id) match {
        case None => return Some(s"id $id is not eligible (filtered, deleted or unknown)")
        case Some(e) if math.abs(e - s) > tol => return Some(s"id $id scored $s, exact $e")
        case _ =>
      }
    }
    got.sliding(2).foreach {
      case Seq(a, b) if b._2 > a._2 + tol => return Some(s"result not ordered at ${a._1}, ${b._1}")
      case _ =>
    }
    if (expected.nonEmpty) {
      val kth = expected.last._2
      val ids = got.map(_._1).toSet
      expected.find { case (id, s) => s > kth + tol && !ids(id) }
        .foreach { case (id, s) => return Some(s"missing id $id (exact score $s)") }
      got.find(_._2 < kth - tol)
        .foreach { case (id, s) => return Some(s"id $id scored $s, below the k-th exact score $kth") }
    }
    None
  }
}
