package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's query selection: the env chooses the set, and a list that
  * names an unregistered query is refused instead of silently timing
  * less (an all-typo list would otherwise report a 0.0 total).
  */
class BenchSpec extends AnyFunSuite {

  test("query selection: headline default, FULL, ONLY, unknown names refused") {
    assert(Bench.selectQueries(Map.empty) == SparkEntry.benchQueries)
    val all = Bench.selectQueries(Map("SPARK_GRAFT_BENCH_FULL" -> "1"))
    assert(all == SparkEntry.queries.keys.toSeq.sorted)
    assert(Bench.selectQueries(Map(
      "SPARK_GRAFT_BENCH_ONLY" -> " t_scrub,a1_count ",
      "SPARK_GRAFT_BENCH_FULL" -> "1")) == Seq("a1_count", "t_scrub"))
    val ex = intercept[IllegalArgumentException] {
      Bench.selectQueries(Map("SPARK_GRAFT_BENCH_ONLY" -> "a1_count,nope"))
    }
    assert(ex.getMessage.contains("SPARK_GRAFT_BENCH_ONLY") &&
      ex.getMessage.contains("nope"), ex.getMessage)
    intercept[IllegalArgumentException] {
      Bench.selectQueries(Map("SPARK_GRAFT_BENCH_ONLY" -> " , "))
    }
  }
}
