package graft

import scala.collection.mutable

/** Bench's failure accounting: a query that throws yields no timing and
  * is listed as failed, in both the full and the compact output. */
class BenchSpec extends SparkSpec {

  test("a throwing query shows up as failed and contributes no time") {
    val failed = mutable.LinkedHashMap.empty[String, String]
    val boom = Bench.timeOnce(spark, sfDir, "q_boom",
      (_, _) => throw new IllegalStateException("planted failure"), failed)
    assert(boom.isEmpty, "a failed run must not return a timing")
    // a failure inside the action, not while building the plan
    val late = Bench.timeOnce(spark, sfDir, "q_late",
      (s, _) => s.sql("SELECT raise_error('planted failure') AS x"), failed)
    assert(late.isEmpty)
    val fine = Bench.timeOnce(spark, sfDir, "q_fine", (s, _) => s.range(3).toDF(), failed)
    assert(fine.exists(_ >= 0.0))
    assert(failed.keys.toSeq == Seq("q_boom", "q_late"))
    assert(failed("q_boom").contains("planted failure"))
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
}
