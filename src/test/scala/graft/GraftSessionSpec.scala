package graft

import org.scalatest.funsuite.AnyFunSuite

/** Slot selection shared by the suite tools.  Pure over
  * `SparkEntry.queries`: no session is built. */
class GraftSessionSpec extends AnyFunSuite {

  test("no parts selects every slot, sorted by name") {
    val names = GraftSession.slots(Nil).map(_._1)
    assert(names.size == 134)
    assert(names == names.sorted)
    assert(names.toSet == SparkEntry.queries.keySet)
  }

  test("a part selects only the names containing it, in sorted order") {
    val names = GraftSession.slots(Seq("q110")).map(_._1)
    assert(names.nonEmpty)
    assert(names == SparkEntry.queries.keys.filter(_.contains("q110")).toSeq.sorted)
  }

  test("ABProbe names the substring that matches no slot") {
    val e = intercept[RuntimeException](graft.tools.ABProbe.slot("no_such_slot"))
    assert(e.getMessage == "no query matches 'no_such_slot'")
  }
}
