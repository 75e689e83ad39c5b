package graft

/** Bench's timing contract: a query that throws is reported as failed,
  * never as the time it took to fail. */
class BenchSpec extends SparkSpec {

  test("a throwing query is timed as failed, a passing one as seconds") {
    val throwing = spark.range(10).selectExpr("raise_error('boom') AS x")
    val failed = Bench.timeRun(throwing.queryExecution.toRdd.count())
    assert(failed.isLeft, s"a throwing query must not read as a time: $failed")
    assert(failed.swap.exists(_.contains("boom")))
    val ok = Bench.timeRun(spark.range(10).queryExecution.toRdd.count())
    assert(ok.exists(_ >= 0.0))
  }
}
