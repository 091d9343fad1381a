package graft

import org.scalatest.funsuite.AnyFunSuite

/** r21 verdict #2: the driver archives only the LAST ~2 KB of bench
  * stdout, and r21's compact per-query line (seconds + jobs in one
  * line) outgrew that at 134 slots — its head was cut.  These specs
  * pin the hardened contract: the compact seconds map plus the
  * totals line must fit the 2 KB tail COMPLETE at >= 150 slots, with
  * the jobs map on its own earlier (sacrificial) line. */
class BenchTailBudgetSpec extends AnyFunSuite {

  private def fakeRows(n: Int): Seq[(String, Double, Int)] =
    (1 to n).map { i =>
      // worst-ish realistic shapes: multi-second values, a 'b' suffix
      // slot every 10th, all >= 1 s so every row lands in the jobs map
      val name = if (i % 10 == 0) s"q${i}b_long_query_name" else s"q${i}_some_query"
      (name, 1.0 + (i % 17) + 0.123456, 10 + i % 25)
    }

  test("compact seconds line + totals line fit a 2 KB tail at 150 slots, complete") {
    val lines = Bench.tailLines(fakeRows(150), nErrors = 0,
      sfDir = "/root/testdata/sf0.1")
    assert(lines.size == 3)
    val Seq(jobs, compact, total) = lines
    assert(jobs.contains("\"metric\":\"per_query_jobs\""))
    assert(compact.startsWith("{\"metric\":\"per_query\""))
    assert(total.contains("\"n_queries\":150"))
    // the tail keeps the last 2048 bytes; with "[info] " prefixes and
    // the runner's trailing "[success] ..." line, the compact line
    // must survive WHOLE — i.e. compact + total + overheads <= 2048
    val overhead = 8 * 2 /* [info] + newline on compact and total */ + 90 /* [success] line */
    assert(compact.length + total.length + overhead <= 2048,
      s"compact=${compact.length}B total=${total.length}B: the seconds map would be cut")
    // every query key present in the compact map
    val keys = "\"(q[0-9]+b?[a-z_]*)\":".r.findAllMatchIn(compact).map(_.group(1)).toSet
    assert(keys.size == 150, s"expected 150 keys, got ${keys.size}")
  }

  test("at 134 real-shaped slots the compact line keeps ms precision") {
    val rows = (1 to 134).map(i => (s"q${i}_name", 0.987654, 3))
    val compact = Bench.tailLines(rows, 0, "/root/testdata/sf0.1")(1)
    assert(compact.contains("0.988"), "ms (3-decimal) precision expected at 134 slots")
  }

  test("jobs line carries only >= 1 s rows; failed (-1) rows never inflate the total") {
    val rows = Seq(("q1_a", 0.5, 2), ("q2_b", 2.0, 9), ("q3_c", -1.0, 0))
    val Seq(jobs, compact, total) = Bench.tailLines(rows, 1, "/x")
    assert(jobs == """{"metric":"per_query_jobs","jobs":{"q2":9}}""")
    assert(compact.contains("\"q3\":-1"), "failed rows stay visible in the seconds map")
    assert(total.contains("\"value\":2.5"), s"total must sum only successes: $total")
  }

  test("oversized slot maps step precision down 3 -> 2 -> 1 -> 0 decimals, then fail loudly") {
    def rows(n: Int) = (1 to n).map(i => (s"q${i}_x", 12.3456, 1))
    def decimals(compact: String): Int =
      "\"q1\":([0-9.]+)".r.findFirstMatchIn(compact).get.group(1).dropWhile(_ != '.').drop(1).length
    val overhead = 8 * 2 + 90
    val lines = Iterator.range(100, 400)
      .map(n => scala.util.Try(Bench.tailLines(rows(n), 0, "sf0.1")))
      .takeWhile(_.isSuccess).map(_.get).toSeq
    lines.foreach { case Seq(_, compact, total) =>
      assert(compact.length + total.length + overhead <= 2048, "every emitted map fits whole")
    }
    assert(lines.map(l => decimals(l(1))).distinct == Seq(3, 2, 1, 0))
    assert(lines.last(1).contains("\"q1\":12,"), "0 decimals prints whole seconds")
    val e = intercept[IllegalStateException](
      Bench.tailLines(rows(100 + lines.size), 0, "sf0.1"))
    assert(e.getMessage.contains("overflows"))
  }
}
