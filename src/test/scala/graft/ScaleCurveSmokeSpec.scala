package graft

import org.scalatest.funsuite.AnyFunSuite

/** The scale harness's command line, checked without running a row. */
class ScaleCurveSmokeSpec extends AnyFunSuite {
  import ScaleCurveSmoke.parseArgs

  private val names =
    ScaleCurveSmoke.rows(fail("listing the rows started Spark"), "unused").map(_.name)

  test("parseArgs: defaults, copies and a subset in harness order") {
    assert(names.nonEmpty && names.distinct === names)
    assert(parseArgs(Nil, names) === ((ScaleCurveSmoke.DefaultCopies, names)))
    assert(parseArgs(Seq("3"), names) === ((3, names)))
    assert(parseArgs(Seq("2", "graph_scc", "dedup_ppjoin"), names) ===
      ((2, Seq("dedup_ppjoin", "graph_scc"))))
  }

  test("parseArgs rejects fewer than two copies and unknown op names") {
    Seq("0", "1", "99999999999").foreach { n =>
      val e = intercept[IllegalArgumentException](parseArgs(Seq(n, "graph_scc"), names))
      assert(e.getMessage.contains("copies must be an integer >= 2"), n)
    }
    val e = intercept[IllegalArgumentException](parseArgs(Seq("10", "graph_sc"), names))
    assert(e.getMessage.contains("unknown op graph_sc"))
    names.foreach(n => assert(e.getMessage.contains(n), s"valid op $n not listed"))
    assert(intercept[IllegalArgumentException](parseArgs(Seq("-1"), names))
      .getMessage.contains("unknown op -1"))
  }
}
