package graft

import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Contract of [[Tables.fanOut]] — the under-split-scan parallelizer
  * (SCALE.md "Under-split scans"): it must change PARTITIONING, never
  * data, and must be a no-op when the source already splits. */
class FanOutSpec extends SparkSpec {

  test("fan-out preserves rows and values exactly") {
    val raw = Tables.documents(spark, sfDir)
    val fanned = Tables.fanOut(raw)
    assert(fanned.count() == raw.count())
    // exact multiset equality via two-sided except
    assert(fanned.exceptAll(raw).isEmpty && raw.exceptAll(fanned).isEmpty)
  }

  test("an under-split source fans out to engine parallelism") {
    val raw = Tables.documents(spark, sfDir)
    assume(raw.rdd.getNumPartitions < spark.sparkContext.defaultParallelism,
      "fixture should arrive under-split (single row group)")
    val fanned = Tables.fanOut(raw)
    assert(fanned.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
  }

  test("a well-split source passes through untouched (no extra shuffle)") {
    val wide = Tables.documents(spark, sfDir)
      .repartition(spark.sparkContext.defaultParallelism + 4)
    val out = Tables.fanOut(wide)
    // the guard must not add a second exchange on top of an already
    // parallel frame — the plan object passes through identically
    assert(out eq wide)
  }

  test("downstream filters still push through the fan-out to the scan") {
    val scans = Tables.fanOut(Tables.documents(spark, sfDir))
      .filter(col("lang") === "en")
      .queryExecution.executedPlan.collectLeaves().map(_.toString).mkString("\n")
    assert(scans.contains("PushedFilters") && scans.contains("lang"),
      "predicate must reach the parquet scan below the repartition:\n" + scans)
  }

  /** Names of the SQL executions `body` posts, fenced by one `collect`
    * whose listener event arrives after every earlier one. */
  private def executionsOf(body: => Unit): Seq[String] = {
    val names = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val fence = s"fence-${java.util.UUID.randomUUID()}"
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        names.add(if (qe.analyzed.toString.contains(fence)) fence else funcName)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit =
        names.add(funcName)
    }
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).select(lit(fence)).collect()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!names.contains(fence) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(names.contains(fence), "listener fence timed out")
      names.toArray(Array.empty[String]).toSeq.filter(_ != fence)
    } finally spark.listenerManager.unregister(listener)
  }

  test("a 1-partition scan fans out without posting an `rdd` execution") {
    val one = Tables.documents(spark, sfDir).coalesce(1)
    // control: asking the Dataset for its RDD posts one
    assert(executionsOf(one.rdd.getNumPartitions).contains("rdd"))
    var fanned: org.apache.spark.sql.DataFrame = null
    val seen = executionsOf { fanned = Tables.fanOut(one) }
    assert(seen.isEmpty, s"fan-out posted SQL executions: $seen")
    assert(fanned.queryExecution.executedPlan.execute().getNumPartitions ==
      spark.sparkContext.defaultParallelism)
  }
}
