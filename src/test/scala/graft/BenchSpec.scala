package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins Bench's failure accounting: a query that throws counts toward no
  * total, is not run again, and is listed with its exception class and
  * message. */
class BenchSpec extends AnyFunSuite {

  test("a throwing query is excluded from every total and listed in failed") {
    val calls = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    val runs = Bench.timeReps(Seq("qa", "qb", "qc"), reps = 3) { n =>
      calls(n) += 1
      if (n == "qb" && calls(n) == 2) throw new IllegalStateException("boom\nsecond line")
      Thread.sleep(if (n == "qb") 30 else 5)
    }
    assert(runs.failed === Map("qb" -> "java.lang.IllegalStateException: boom"))
    assert(runs.ok === Seq("qa", "qc"))
    assert(calls("qb") === 2, "a failed query is skipped on later passes")
    assert(!runs.times.contains("qb"), "its earlier and time-to-failure times are dropped")
    assert(runs.times.values.forall(_.size == 3))
    assert(runs.totalMin === runs.times("qa").min + runs.times("qc").min)
    assert(runs.totalMedian === Bench.median(runs.times("qa")) + Bench.median(runs.times("qc")))
    assert(runs.repTotals.size === 3)
    assert(math.abs(runs.repTotals.sum - runs.times.values.flatten.sum) < 1e-9)
  }

  test("causes are rendered as JSON strings") {
    assert(Bench.jstr("a \"q\" \\ b\nc") === "\"a \\\"q\\\" \\\\ b\\u000ac\"")
  }
}
