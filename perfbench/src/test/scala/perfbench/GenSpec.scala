package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  test("the same seed gives the same vectors, metadata and queries") {
    val (a, b) = (Gen.Shape(7, 16, 5), Gen.Shape(7, 16, 5))
    (0L until 50L).foreach { r =>
      assert(a.vector(r).sameElements(b.vector(r)))
      assert(a.metadataJson(r) == b.metadataJson(r))
      assert(a.query(r).sameElements(b.query(r)))
    }
  }

  test("another seed gives other vectors") {
    assert(!Gen.Shape(7, 16, 5).vector(3).sameElements(Gen.Shape(8, 16, 5).vector(3)))
  }

  test("the same seed gives the same op sequence") {
    val searches = (0L until 60L).filter(i => CrudChurn.Pass((i % CrudChurn.Pass.size).toInt) == "search")
    val ops = (s: Long) =>
      ((0L until 60L).map(DriverSuite.query(s, _)), searches.map(CrudChurn.searchOp(s, _)))
    assert(ops(3) == ops(3))
    assert(ops(3) != ops(4))
  }

  test("each crud_churn pass searches once with every filter kind") {
    val pass = (0 until CrudChurn.Pass.size).filter(j => CrudChurn.Pass(j) == "search")
      .map(j => CrudChurn.searchOp(5, 2L * CrudChurn.Pass.size + j))
    assert(pass.map(_.filter.name).sorted == Seq("composite", "label_eq", "none", "value_range"))
    assert(pass.map(_.k).sorted == Seq(10, 10, 100, 100))
    assert(pass.count(_.autocut) == 1)
  }

  test("each driver_suite pass runs every query once") {
    val n = DriverSuite.Queries.size
    (0 until 3).foreach { p =>
      assert((0 until n).map(j => DriverSuite.query(5, p.toLong * n + j)).sorted == DriverSuite.Queries.sorted)
    }
  }

  test("metadata is valid JSON with the filtered keys") {
    val kv = graft.functions.JsonMeta.kvOf(Gen.Shape(1, 4, 2).metadataJson(9))
    assert(Set("label", "value", "date", "tags").subsetOf(kv.keySet))
  }

  test("Zipf ranks favour the head and stay in range") {
    val z = new Gen.Zipf(1000, 1.0)
    val ranks = (0 until 2000).map(i => z.rank(Gen.unit(1, 99, i)))
    assert(ranks.forall(r => r >= 0 && r < 1000))
    assert(ranks.count(_ < 10) > ranks.count(_ >= 500))
  }
}
