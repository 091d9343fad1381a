package perfbench

import org.scalatest.funsuite.AnyFunSuite
import SparkRecorder.{Job, Stage, Task}

class TraceSpec extends AnyFunSuite {
  private val ms = 1000000L
  private def span(id: Long, name: String, from: Long, to: Long, parent: Option[Long] = None) =
    Span(id, 1, name, from * ms, to * ms, parent)

  test("covered length merges overlaps and clips to the window") {
    assert(Trace.covered(Seq((10L, 30L), (20L, 50L), (90L, 120L), (200L, 300L)), 0, 100) == 50)
    assert(Trace.covered(Nil, 0, 100) == 0)
    assert(Trace.covered(Seq((0L, 100L), (10L, 20L)), 0, 100) == 100)
  }

  test("self time subtracts what direct children cover, not grandchildren") {
    val root = span(1, "exec", 0, 100)
    val tree = Seq(root,
      span(2, "job", 10, 30, Some(1)),
      span(3, "job", 20, 50, Some(1)),
      span(4, "job", 90, 120, Some(1)),
      span(5, "stage 0", 12, 14, Some(2)))
    assert(Trace.selfTime(root, tree) == 50 * ms)
    assert(Trace.selfTime(tree(1), tree) == 18 * ms)
    assert(Trace.selfTime(tree(4), tree) == 2 * ms)
  }

  test("jobs attach to their phase, by property or else by time, and layers add up") {
    val phases = Seq(span(1, "build", 0, 100), span(2, "plans", 100, 110), span(3, "exec", 110, 310))
    val rec = new SparkRecorder
    rec.jobs ++= Seq(
      Job(0, Some(1), 20 * ms, 60 * ms, Seq(0)),
      Job(1, None, 150 * ms, 250 * ms, Seq(1)), // submitted from a pool thread
      Job(2, Some(1), 260 * ms, 300 * ms, Seq(2))) // stale property: runs inside exec
    rec.stages ++= Seq(Stage(0, 0, 1, 20 * ms, 60 * ms), Stage(1, 0, 4, 150 * ms, 250 * ms),
      Stage(2, 0, 1, 260 * ms, 300 * ms))
    def task(stage: Int, from: Long, to: Long) =
      Task(stage, from * ms, to * ms, false, (to - from) / 1e3, 0.0, 0.0, 0, 0, 0, 0, 0, 0)
    rec.tasks ++= Seq(task(0, 20, 60), task(2, 260, 300)) ++ Seq.fill(4)(task(1, 150, 250))

    val spans = phases ++ Trace.sparkSpans(phases, rec, 10)
    assert(spans.filter(_.name == "job").map(_.parent.get) == Seq(1, 3, 3))
    assert(spans.filter(_.name.startsWith("stage")).map(s => s.name -> s.parent.get) ==
      Seq("stage 0" -> 11, "stage 1" -> 12, "stage 2" -> 13))

    val m = Layers.metrics(spans, rec, 1, 4).map(x => x._1 -> x._2).toMap
    def near(k: String, v: Double) = assert(math.abs(m(k) - v) < 1e-9, s"$k = ${m(k)}, want $v")
    near("build.s", 0.1)
    near("build.jobs", 1)
    near("build.eager_s", 0.04)
    near("build.self_s", 0.06)
    near("plans.s", 0.01)
    near("exec.s", 0.2)
    near("exec.jobs", 2)
    near("exec.stages", 2)
    near("exec.tasks", 5)
    near("exec.task_s", 0.44)
    near("exec.core_busy", 0.55)
    near("exec.single_task_stages", 1)
    near("exec.driver_gap_s", 0.06)
  }
}
