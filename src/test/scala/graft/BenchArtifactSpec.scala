package graft

import org.scalatest.funsuite.AnyFunSuite

/**
 * The bench artifact's `complete`/`measured` fields must be honest (VERDICT
 * r14 "what's wrong" #1): the r14 sf10 partial recorded `measured:167/167,
 * complete:true` while holding 62 sentinel -1.0 timings and 167 errored
 * pass-2 queries — only a manual rename kept it out of the gate's
 * scaling-artifact check. These pin the synthetic crashed-run shapes and
 * the bench's knob parsing.
 */
class BenchArtifactSpec extends AnyFunSuite {

  private val names = Seq("q1", "q2", "q3")

  test("a clean full run is complete and fully measured") {
    val best = Map("q1" -> 1.0, "q2" -> 2.0, "q3" -> 0.5)
    assert(Bench.measuredCount(best) === 3)
    assert(Bench.artifactComplete(claimed = true, names, best, Map.empty))
  }

  test("a sentinel -1 timing voids completeness and is not measured") {
    // the r14 crash shape: queries errored, sentinel recorded, error kept
    val best = Map("q1" -> 1.0, "q2" -> -1.0, "q3" -> 0.5)
    val errors = Map("q2" -> "java.util.ServiceConfigurationError: ...")
    assert(Bench.measuredCount(best) === 2)
    assert(!Bench.artifactComplete(claimed = true, names, best, errors))
  }

  test("an unresolved error voids completeness even with a real timing") {
    // a pass-2 error after a good pass-1 timing keeps best >= 0 but the
    // error entry stands until a later pass succeeds — not complete
    val best = Map("q1" -> 1.0, "q2" -> 2.0, "q3" -> 0.5)
    val errors = Map("q3" -> "OutOfMemoryError")
    assert(Bench.measuredCount(best) === 3)
    assert(!Bench.artifactComplete(claimed = true, names, best, errors))
  }

  test("an unvisited query voids completeness") {
    // killed mid-pass-1: q3 never ran, no sentinel, no error
    val best = Map("q1" -> 1.0, "q2" -> 2.0)
    assert(!Bench.artifactComplete(claimed = true, names, best, Map.empty))
  }

  test("a transient failure superseded by a later success is complete") {
    // timeQuery replaces the sentinel with the real timing and removes the
    // error entry on the successful retry — the run is honestly complete
    val best = Map("q1" -> 1.0, "q2" -> 2.0, "q3" -> 0.5)
    assert(Bench.artifactComplete(claimed = true, names, best, Map.empty))
  }

  test("claimed=false (mid-run flush) is never complete") {
    val best = Map("q1" -> 1.0, "q2" -> 2.0, "q3" -> 0.5)
    assert(!Bench.artifactComplete(claimed = false, names, best, Map.empty))
  }

  test("unset knobs take their defaults; set ones parse") {
    assert(Bench.knobs(Map.empty) === Bench.Knobs(3, 900.0, 8.0))
    assert(Bench.knobs(Map("SPARK_GRAFT_BENCH_RUNS" -> "1",
      "SPARK_GRAFT_BENCH_BUDGET" -> "60.5", "SPARK_GRAFT_BENCH_MIN_FREE_GB" -> "0")) ===
      Bench.Knobs(1, 60.5, 0.0))
  }

  test("a non-numeric or out-of-range knob fails naming the variable and the value") {
    val bad = Seq(
      "SPARK_GRAFT_BENCH_RUNS" -> "three", "SPARK_GRAFT_BENCH_RUNS" -> "0",
      "SPARK_GRAFT_BENCH_RUNS" -> "-1", "SPARK_GRAFT_BENCH_RUNS" -> "2.5",
      "SPARK_GRAFT_BENCH_BUDGET" -> "three", "SPARK_GRAFT_BENCH_BUDGET" -> "0",
      "SPARK_GRAFT_BENCH_BUDGET" -> "-1", "SPARK_GRAFT_BENCH_MIN_FREE_GB" -> "three",
      "SPARK_GRAFT_BENCH_MIN_FREE_GB" -> "-1", "SPARK_GRAFT_BENCH_MIN_FREE_GB" -> "NaN")
    for ((k, v) <- bad) {
      val e = intercept[IllegalArgumentException](Bench.knobs(Map(k -> v)))
      assert(e.getMessage.contains(k) && e.getMessage.contains(s"'$v'"), e.getMessage)
    }
  }
}
