package graft

import org.apache.spark.sql.functions.{col, udf}

/** The shared harness's contracts: a stale name in the warm-up list would
  * only surface when an entry point runs, a warm-up step that built a
  * query without executing it would skip the codegen/JIT warm-up, and a
  * timer that caught fatal throwables would report a dying run as a
  * timing.
  */
class HarnessSpec extends SparkSpec {

  test("every warm-up query is a declared query") {
    val stale = Harness.warmupQueries.filterNot(SparkEntry.queries.contains)
    assert(stale.isEmpty, s"warm-up names no declared query: $stale")
  }

  test("warm executes each query step and reports one that fails only at execution") {
    // the DataFrame builds fine and only its execution throws, so a step
    // that merely built it would report no failure
    val boom = udf { (x: Long) =>
      if (x >= 0) throw new RuntimeException("boom"); x }
    val steps = Seq(
      "lazy-fail" -> Harness.queryStep((s, _) => s.range(1).toDF().where(boom(col("id")) > 0)),
      "fine" -> Harness.queryStep((s, _) => s.range(3).toDF()))
    assert(Harness.warm(spark, "unused", steps) === Seq("lazy-fail"))
    assert(Harness.warmupSteps.map(_._1) ===
      Harness.warmupQueries ++ Harness.warmupArtifacts.map(_._1))
  }

  test("timed returns a failure for a non-fatal throw and rethrows a fatal one") {
    val boom = new RuntimeException("boom")
    assert(Harness.timed(throw boom) === Left(boom))
    assert(Harness.timed(0L).exists(_ >= 0.0))
    intercept[InterruptedException](Harness.timed(throw new InterruptedException("stop")))
  }
}
