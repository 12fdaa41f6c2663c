package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.lineage.LineParser

class LineageGenSpec extends AnyFunSuite {

  test("the same seed gives the same scripts and ground truth") {
    assert(LineageGen.scripts(7, 50) == LineageGen.scripts(7, 50))
  }

  test("another seed gives other scripts and ground truth") {
    val a = LineageGen.scripts(7, 50)
    val b = LineageGen.scripts(8, 50)
    assert(a.map(_.sql) != b.map(_.sql))
    assert(a.map(_.truth) != b.map(_.truth))
  }

  test("every shape appears and scripts vary in length") {
    val sql = LineageGen.scripts(1, 200).map(_.sql)
    Seq("SELECT *", " IN (11,22)", "LEFT OUTER JOIN", "['cid']", ") u JOIN",
      "UNION ALL SELECT", "FULL OUTER JOIN", "USE ").foreach { frag =>
      assert(sql.exists(_.contains(frag)), s"no script contains '$frag'")
    }
    assert(LineageGen.scripts(1, 200).map(_.stmts).distinct.size > 3)
  }

  test("the checker rejects a result that differs from the ground truth") {
    val s = LineageGen.scripts(3, 20).find(_.truth.cols.exists(_.sources.nonEmpty)).get
    val p = new LineParser(LineageGen.meta).parse(s.sql)
    val i = s.truth.cols.indexWhere(_.sources.nonEmpty)
    val c = s.truth.cols(i)
    val wrongSource = s.truth.copy(cols = s.truth.cols.updated(i,
      c.copy(sources = c.sources + "db.nowhere.x")))
    val wrongInputs = s.truth.copy(inputs = s.truth.inputs + "db.nowhere")
    assert(LineageGen.check(p, wrongSource).isDefined)
    assert(LineageGen.check(p, wrongInputs).isDefined)
  }

  test("source sets expand union provenance and drop empty names") {
    assert(LineageGen.sourceSet("a.t1&b.t2.uid,a.t3.x") ==
      Set("a.t1.uid", "b.t2.uid", "a.t3.x"))
    assert(LineageGen.sourceSet("") == Set.empty)
  }
}
