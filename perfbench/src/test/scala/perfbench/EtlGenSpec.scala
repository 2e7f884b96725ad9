package perfbench

import org.scalatest.funsuite.AnyFunSuite

class EtlGenSpec extends AnyFunSuite {
  test("the same seed gives the same tables and push documents") {
    val a = new EtlGen(7, 3)
    val b = new EtlGen(7, 3)
    assert(a.tables == b.tables)
    assert((0 until 3).map(a.pushDocs) == (0 until 3).map(b.pushDocs))
  }

  test("different seeds give different data") {
    val a = new EtlGen(7, 3)
    val b = new EtlGen(8, 3)
    assert(a.tables != b.tables)
    assert(a.pushDocs(1) != b.pushDocs(1))
  }

  test("rows share index timestamps, but never a full page of them") {
    val g = new EtlGen(3, 4)
    EtlGen.TableShapes.foreach { case (t, shape) =>
      val perTs = g.tables(t).groupBy(_.ts).values.map(_.size)
      assert(perTs.exists(_ > 1), s"$t has no shared timestamp")
      assert(perTs.max < shape.limit, s"$t has a full page on one timestamp")
    }
  }

  test("each cycle's rows fall inside its window and ids are unique") {
    val g = new EtlGen(5, 3)
    g.tables.foreach { case (t, rows) =>
      assert(rows.map(_.id).distinct.size == rows.size, t)
      assert(rows.forall(r => r.ts > EtlGen.windowStart(0) && r.ts <= EtlGen.windowStart(3)), t)
    }
    assert(g.tables("form").exists(_.archived))
    assert(!g.tables("case").exists(_.archived))
  }
}
