package graft

import scala.collection.mutable

/** Bench's failure accounting: a query that throws yields no timing and
  * is listed as failed, in both the full and the compact output. */
class BenchSpec extends SparkSpec {

  test("a throwing query shows up as failed and contributes no time") {
    val failed = mutable.LinkedHashMap.empty[String, String]
    // Bench's run step (HarnessSpec covers it): a throw while building
    // the plan, and one inside the action
    assert(Harness.run(spark, "q_boom",
      (_, _) => throw new IllegalStateException("planted failure"), sfDir, failed)(Harness.noop).isEmpty)
    assert(Harness.run(spark, "q_late",
      (s, _) => s.sql("SELECT raise_error('planted failure') AS x"), sfDir, failed)(Harness.noop).isEmpty)
    assert(Bench.failedJson(failed.keys, None) ==
      """"failed":["q_boom","q_late"],"n_failed":2""")
    assert(Bench.failedJson(failed.keys, Some(5)) ==
      """"n_failed":2,"failed_sample":["q_boom","q_late"]""")
  }

  test("the compact failure fields stay bounded") {
    val names = (1 to 9).map(i => s"q$i")
    assert(Bench.failedJson(names, Some(5)) ==
      """"n_failed":9,"failed_sample":["q1","q2","q3","q4","q5"]""")
  }

  test("the settle loop exits at the idle pin or once two successive probes agree within 25%") {
    // an idle 4-core box: warm probes above the 0.15 s pin, flat within noise
    assert(Bench.settled(0.192, 0.219))
    assert(Bench.settled(0.234, 0.192))
    assert(Bench.settled(1.00, 1.25))
    // at or below the pin: settled however far the previous probe was
    assert(Bench.settled(0.253, 0.15))
    assert(Bench.settled(0.30, 0.09))
    // still winding down (or spiking) above the pin: keep settling
    assert(!Bench.settled(0.15, 0.253))
    assert(!Bench.settled(0.294, 0.216))
    assert(!Bench.settled(1.00, 1.26))
  }
}
