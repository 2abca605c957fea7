package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** Runs `body` and returns the job group (`spark.jobGroup.id`) of every
    * Spark job started while it ran. Listener events arrive
    * asynchronously but in order, so a marker job submitted after `body`
    * fences the list: once the marker's end event is seen, every job
    * `body` started has been seen too. */
  def jobGroups[A](body: => A): (A, Seq[Option[String]]) = {
    val sc = spark.sparkContext
    val marker = s"job-groups-marker-${java.util.UUID.randomUUID()}"
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[Option[String]]()
    val fenced = new java.util.concurrent.CountDownLatch(1)
    def groupOf(p: java.util.Properties) =
      Option(p).flatMap(q => Option(q.getProperty("spark.jobGroup.id")))
    val markerJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groupOf(e.properties) match {
          case Some(`marker`) => markerJobs.add(e.jobId)
          case g => groups.add(g)
        }
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        if (markerJobs.contains(e.jobId)) fenced.countDown()
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(fenced.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener fence timed out")
      (out, groups.toArray(Array.empty[Option[String]]).toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** Runs `body` under its own job group and counts the Spark jobs it
    * launched. */
  def countJobs[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"count-jobs-${java.util.UUID.randomUUID()}"
    val (out, groups) = jobGroups {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
    }
    (out, groups.count(_.contains(group)))
  }
}

object SparkSpec {
  /** Four cores whatever the box, so test expectations stay fixed. */
  lazy val session: SparkSession = Harness.session(cores = 4)
}
