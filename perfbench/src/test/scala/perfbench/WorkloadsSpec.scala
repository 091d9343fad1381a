package perfbench

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

class WorkloadsSpec extends AnyFunSuite {
  private val slots = graft.SparkEntry.queries.keySet

  test("the full workloads partition every driver slot exactly once") {
    val placed = Workloads.full.values.toSeq.flatMap(Workloads.resolve(_, slots))
    assert(placed.diff(placed.distinct).isEmpty, "a slot sits in two workloads")
    val missing = slots -- placed
    assert(missing.isEmpty, s"slots in no workload: ${missing.toSeq.sorted.mkString(", ")}")
    assert(placed.size == slots.size)
  }

  test("each timed set is a subset of its workload, and every workload lists its tables") {
    assert(Workloads.timed.keySet.subsetOf(Workloads.full.keySet))
    assert(Workloads.tables.keySet == Workloads.full.keySet)
    Workloads.timed.foreach { case (w, prefixes) =>
      assert(prefixes.nonEmpty)
      assert(prefixes.toSet.subsetOf(Workloads.full(w).toSet), s"$w times a slot it does not hold")
    }
  }

  test("a prefix that names no slot, or several, is an error") {
    intercept[RuntimeException](Workloads.resolve(Seq("q999"), slots))
    intercept[RuntimeException](Workloads.resolve(Seq("q1"), Seq("q1_a", "q1_b")))
    assert(Workloads.resolve(Seq("q34b"), slots) == Seq("q34b_flac_meta"))
  }

  private val bench = JsonMethods.parse(
    Files.readString(Paths.get("..", "BENCHMARK.json").toAbsolutePath.normalize))
  private def names(section: String): Seq[String] =
    (bench \ section).children.map(m => (m \ "name").values.toString)

  test("metric names are well formed and BENCHMARK.json lists every layer metric") {
    val layer = Layers.metrics(Nil, new SparkRecorder, 1, 4).map(_._1)
    val all = names("end_to_end") ++ names("per_layer") ++ layer
    all.foreach(n => assert(n.matches("[A-Za-z0-9_.-]+"), s"bad metric name $n"))
    assert(layer.toSet.subsetOf(names("per_layer").toSet))
    assert(names("workloads").toSet.subsetOf(Workloads.timed.keySet))
  }
}
