package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class BenchLogicSpec extends AnyFunSuite {

  test("the tail is the highest ladder percentile with ten samples beyond it") {
    assert(Stats.tailPercentile(10) == 50)
    assert(Stats.tailPercentile(19) == 50)
    assert(Stats.tailPercentile(20) == 50)
    assert(Stats.tailPercentile(40) == 75)
    assert(Stats.tailPercentile(50) == 80)
    assert(Stats.tailPercentile(99) == 80)
    assert(Stats.tailPercentile(100) == 90)
    assert(Stats.tailPercentile(200) == 95)
    assert(Stats.tailPercentile(1000) == 99)
    assert(Stats.tailPercentile(10000) == 99.9)
  }

  test("tail reports its percentile, value and sample count") {
    val xs = (1 to 100).map(_.toDouble)
    val (p, v, n) = Stats.tail(xs)
    assert(p == 90 && n == 100)
    assert(math.abs(v - 90.1) < 1e-9)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(1.0, 2.0, 3.0, 4.0)) == 2.5)
  }

  test("union length counts overlaps once and clips to the window") {
    assert(Stats.unionLength(Seq((0.0, 10.0), (5.0, 15.0), (20.0, 25.0)), 0, 100) == 20.0)
    assert(Stats.unionLength(Seq((0.0, 10.0)), 2, 6) == 4.0)
    assert(Stats.unionLength(Seq((10.0, 20.0)), 0, 5) == 0.0)
    assert(Stats.unionLength(Nil, 0, 5) == 0.0)
  }

  test("self time subtracts the covered part of each span's interval") {
    val root = Span(0, -1, "driver", "op", 0, 100)
    val spans = SelfTime.nest(root, Seq(
      Span(1, 0, "plans.analysis", "analysis", 0, 20),
      Span(2, 0, "exec", "job 0", 30, 70),
      Span(3, 0, "exec", "job 1", 60, 80),   // overlaps job 0
      Span(4, 0, "catalog", "loadTable", 5, 15), // inside analysis
      Span(5, 0, "catalog", "tableExists", 85, 90))) // outside any phase
    val parents = spans.map(s => s.id -> s.parent).toMap
    assert(parents(4) == 1 && parents(5) == 0 && parents(2) == 0)
    val self = SelfTime.selfTimes(spans)
    // op: 100 minus [0,20] ∪ [30,80] ∪ [85,90] = 100 - 75
    assert(self(0) == 25.0)
    assert(self(1) == 10.0) // analysis minus its catalog call
    assert(self(4) == 10.0)
    val byLayer = SelfTime.byLayer(spans)
    assert(byLayer("exec") == 60.0)
    assert(byLayer("catalog") == 15.0)
    // siblings that overlap each keep their own self time: [60, 70] twice
    assert(byLayer.values.sum == 110.0)
  }

  test("ABBA alternates which side runs first") {
    assert((0 until 6).map(Workload.engineFirst) ==
      Seq(true, false, true, false, true, false))
    val ops = Seq(OpResult("q", "engine", 30), OpResult("q", "raw", 20),
      OpResult("q", "raw", 10), OpResult("q", "engine", 15))
    assert(Workload.ratio(ops) == 1.5)
  }

  private val rows = Seq(
    OrderRow(1, 10, "F", 100.0, "1-URGENT"),
    OrderRow(2, 20, "O", 200.0, "2-HIGH"),
    OrderRow(3, 30, "P", 300.0, "2-HIGH"),
    OrderRow(4, 40, "F", 400.0, "5-LOW"))

  test("the DML model applies each statement kind") {
    val m = new DmlModel(rows)
    val (upd, n1) = m.applied(Stmt.Update(2, 3, 1.5, "X"))
    assert(n1 == 2 && upd(2) == OrderRow(2, 20, "X", 201.5, "2-HIGH") && upd(1) == rows.head)
    val (del, n2) = m.applied(Stmt.Delete(3, 10))
    assert(n2 == 2 && del.keySet == Set(1L, 2L))
    val (ins, n3) = m.applied(Stmt.Insert(Seq(OrderRow(9, 90, "O", 9.25, "3-MEDIUM"))))
    assert(n3 == 1 && ins.size == 5)
    val (mrg, n4) = m.applied(Stmt.Merge(Seq(
      OrderRow(1, 99, "P", 5.0, "4-NOT SPECIFIED"), OrderRow(7, 70, "O", 7.0, "5-LOW"))))
    // a match keeps its customer and partition, and takes price and status
    assert(n4 == 2 && mrg(1) == OrderRow(1, 10, "P", 5.0, "1-URGENT") && mrg(7).cust == 70)
    val (ovw, n5) = m.applied(Stmt.Overwrite("2-HIGH", 1.1))
    assert(n5 == 2 && ovw(3).price == 300.0 * 1.1 && ovw(4).price == 400.0)
    assert(m.applied(Stmt.Compact()) == (m.rows, 0))
  }

  test("the DML model moves only on commit") {
    val m = new DmlModel(rows)
    val (next, _) = m.applied(Stmt.Delete(1, 4))
    assert(m.rows.size == 4)
    m.commit(next)
    assert(m.rows.isEmpty && m.aggregate.isEmpty)
  }

  test("the model's aggregate matches the read statement's shape") {
    val agg = new DmlModel(rows).aggregate
    assert(agg("2-HIGH") == ((2L, 5L, 500.0)))
    assert(agg.keySet == Set("1-URGENT", "2-HIGH", "5-LOW"))
  }

  test("statements render to SQL with double literals") {
    assert(Stmt.Update(1, 5, 0.25, "F").sql("t") ==
      "UPDATE t SET o_totalprice = o_totalprice + 0.25D, o_orderstatus = 'F' " +
        "WHERE o_orderkey BETWEEN 1 AND 5")
    assert(Stmt.Insert(rows.take(1)).sql("t") ==
      "INSERT INTO t VALUES (1L, 10L, 'F', 100.0D, '1-URGENT')")
  }

  test("canonical results ignore row and column order") {
    assert(Canon.render(0.1 + 0.2) == Canon.render(0.3))
    assert(Canon.diff(Seq("a", "b"), Seq("a", "b")).isEmpty)
    assert(Canon.diff(Seq("a", "b"), Seq("a", "c")).exists(_.contains("1 missing")))
  }
}
