package perfbench

import org.scalatest.funsuite.AnyFunSuite

class ExactSpec extends AnyFunSuite {
  private val shape = Gen.Shape(3, 8, 4)
  private val rows = shape.matrix(300)
  private val q = shape.query(1)
  private def scoreOf(f: Filter)(id: String): Option[Double] =
    id.toIntOption.filter(r => r >= 0 && r < rows.size && f.matches(rows, r))
      .map(r => Exact.cosine(rows.vecs(r), q))
  private val exact = Exact.topK(rows, q, 10, _ => true)

  test("topK is ordered by score, then id, and keeps the best k") {
    val all = (0 until rows.size).map(r => (r.toString, Exact.cosine(rows.vecs(r), q)))
      .sortBy(h => (-h._2, h._1))
    assert(exact == all.take(10))
  }

  test("the checker accepts the exact answer") {
    assert(Exact.check(exact, exact, scoreOf(Filter.NoFilter)).isEmpty)
  }

  test("the checker rejects a perturbed result") {
    val outside = Exact.topK(rows, q, 11, _ => true).last
    val swapped = exact.updated(9, outside)
    assert(Exact.check(swapped, exact, scoreOf(Filter.NoFilter)).exists(_.contains("below the k-th")))
    val dropped = exact.updated(0, outside).sortBy(h => (-h._2, h._1))
    assert(Exact.check(dropped, exact, scoreOf(Filter.NoFilter)).exists(_.contains("missing")))
    val rescored = exact.updated(0, (exact.head._1, exact.head._2 + 1e-6))
    assert(Exact.check(rescored, exact, scoreOf(Filter.NoFilter)).exists(_.contains("scored")))
    val reordered = exact.updated(0, exact(1)).updated(1, exact(0))
    assert(Exact.check(reordered, exact, scoreOf(Filter.NoFilter)).exists(_.contains("ordered")))
    assert(Exact.check(exact.take(9), exact, scoreOf(Filter.NoFilter)).isDefined)
  }

  test("the checker rejects an id the filter excludes") {
    val f = Filter.LabelEq(rows.labels(exact.head._1.toInt) + 1)
    val expected = Exact.topK(rows, q, 10, r => f.matches(rows, r))
    val leaked = expected.updated(0, exact.head)
    assert(Exact.check(leaked, expected, scoreOf(f)).exists(_.contains("not eligible")))
  }

  test("autocut cuts before the largest relative drop above the threshold") {
    val hits = Seq("a" -> 1.0, "b" -> 0.95, "c" -> 0.5, "d" -> 0.45)
    assert(Exact.autocut(hits).map(_._1) == Seq("a", "b"))
    assert(Exact.autocut(Seq("a" -> 1.0, "b" -> 0.9)).size == 2)
  }
}
