package graft

import org.scalatest.funsuite.AnyFunSuite

/** `graft.Bench` scores only queries that ran: one that throws is
  * counted as failed and left out of the times and the total.
  */
class BenchSpec extends AnyFunSuite {
  import SparkTestSession._

  test("a throwing query is counted as failed, not timed") {
    val ok: Bench.Query = (s, _) => s.range(3).toDF()
    val boom: Bench.Query =
      (_, _) => throw new IllegalStateException("deliberate")
    val (times, failed) = Bench.timeAll(spark, sf,
      Seq("q2_boom" -> boom, "q1_ok" -> ok))
    assert(times.keySet == Set("q1_ok"))
    assert(failed == Seq("q2_boom"))
  }

  test("a query that fails while running is counted as failed too") {
    val lazyBoom: Bench.Query = (s, _) => s.range(3).toDF()
      .selectExpr("assert_true(id < 0) AS x")
    assert(withoutTaskFailureLogs(
      Bench.timeQuery(spark, sf, "q3_lazy", lazyBoom)).isEmpty)
  }
}
