package graft

import org.apache.spark.sql.functions.expr

class BenchSpec extends SparkSpec {

  test("a query that throws is a failure, never a sample") {
    assert(Bench.timed(spark, "", (s, _) => s.range(3).toDF()).isRight)
    val atBuild = Bench.timed(spark, "",
      (_, _) => throw new IllegalStateException("boom at build"))
    assert(atBuild.left.exists(_.contains("boom at build")), atBuild)
    val atRun = Bench.timed(spark, "",
      (s, _) => s.range(1).toDF().where(expr("raise_error('boom at run') is null")))
    assert(atRun.left.exists(_.contains("boom at run")), atRun)

    // medians cover the successful warm runs only
    val flaky = Bench.Runs(Right(0.5), Seq(Right(0.2), Left("boom"), Right(0.4)))
    assert(flaky.median.exists(m => math.abs(m - 0.3) < 1e-9), flaky.median)
    assert(flaky.failed)
    val flakyJson = Bench.queryJson("q1_x", flaky)
    assert(flakyJson == "\"q1_x\":{\"median\":0.300,\"cold\":0.500," +
      "\"warm\":[0.200,null,0.400],\"failed\":true,\"error\":\"boom\"}",
      flakyJson)
    // a query every run of which threw has no time at all
    val dead = Bench.Runs(Left("x \"quoted\""), Seq(Left("x"), Left("x")))
    assert(dead.median.isEmpty)
    assert(Bench.queryJson("q2_y", dead) ==
      "\"q2_y\":{\"median\":null,\"cold\":null,\"warm\":[null,null]," +
      "\"failed\":true,\"error\":\"x \\\"quoted\\\"\"}")
    val clean = Bench.Runs(Right(1.0), Seq(Right(2.0)))
    assert(!clean.failed && Bench.queryJson("q3_z", clean) ==
      "\"q3_z\":{\"median\":2.000,\"cold\":1.000,\"warm\":[2.000]," +
      "\"failed\":false}")
  }
}
