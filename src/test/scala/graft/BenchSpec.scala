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

  test("a scaling cell whose body throws is failed, never a time") {
    import graft.tools.ScalingBench.cellTime
    var resets = 0
    val failed = cellTime(spark.range(10).selectExpr("raise_error('boom') AS x")
                            .queryExecution.toRdd.count(), resets += 1)
    assert(failed.isLeft && failed.swap.exists(_.contains("boom")),
           s"a throwing cell must not read as a time: $failed")
    assert(resets == 0, "a cell stops at its first failed run")
    // a body that passes once and then throws fails the whole cell
    var runs = 0
    val flaky = cellTime({ runs += 1; require(runs == 1, "second run") }, ())
    assert(flaky.isLeft && runs == 2)
    val ok = cellTime(spark.range(10).queryExecution.toRdd.count(), resets += 1)
    assert(ok.exists(_ >= 0.0) && resets >= 1)
  }
}
