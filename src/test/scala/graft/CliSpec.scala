package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query-subset parser behind BENCH_ONLY, VERIFY_ONLY, SCALE_OPS
  * and the Plans query list.
  */
class CliSpec extends AnyFunSuite {

  private val known = Seq("b", "a", "c")

  test("a subset keeps the known order; whitespace and repeats are dropped") {
    assert(Cli.subset("X", "a,b", known) == Seq("b", "a"))
    assert(Cli.subset("X", " c , a ,", known) == Seq("a", "c"))
    assert(Cli.subset("X", "a,a, a", known) == Seq("a"))
  }

  test("an empty subset is refused") {
    Seq("", ",", " ", " , ,").foreach { list =>
      intercept[IllegalArgumentException](Cli.subset("X", list, known))
    }
  }

  test("an unknown name is refused and named") {
    val e = intercept[IllegalArgumentException](Cli.subset("X", "a,zz", known))
    assert(e.getMessage.contains("zz"))
  }
}
