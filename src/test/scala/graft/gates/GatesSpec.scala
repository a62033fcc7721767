package graft.gates

import org.scalatest.funsuite.AnyFunSuite

/** The gate registry refuses a repeated name instead of letting one
  * definition silently replace the other in the name-keyed maps. */
class GatesSpec extends AnyFunSuite {

  private def gate(name: String) = Gate(name, (s, _) => s.emptyDataFrame, "SELECT 1")

  test("the registry check fails on a repeated gate name, naming it") {
    val e = intercept[IllegalArgumentException](
      Gates.checked(Seq(gate("q_twice"), gate("q_twice"))))
    assert(e.getMessage.contains("q_twice"), e.getMessage)
  }
}
