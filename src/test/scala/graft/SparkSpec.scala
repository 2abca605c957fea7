package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  /** A fresh temp directory named `prefix...`, deleted with everything
    * under it when the suite ends. */
  def tempDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    tempDirs.add(dir)
    dir
  }

  override protected def afterAll(): Unit =
    try tempDirs.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d.toFile))
    finally super.afterAll()

  /** Runs `body` with each conf key set to its value, then puts every key
    * back as it was: its prior session value, or unset if it had none. */
  def withConf[A](kvs: (String, String)*)(body: => A): A =
    scopedConf(kvs.map { case (k, v) => k -> Some(v) })(body)

  /** Runs `body` with each conf key unset, then restores it like
    * [[withConf]]. */
  def withoutConf[A](keys: String*)(body: => A): A =
    scopedConf(keys.map(_ -> None))(body)

  private def scopedConf[A](kvs: Seq[(String, Option[String])])(body: => A): A = {
    def put(k: String, v: Option[String]): Unit = v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    val prior = kvs.map { case (k, _) => k -> spark.conf.getAll.get(k) }
    kvs.foreach { case (k, v) => put(k, v) }
    try body finally prior.foreach { case (k, v) => put(k, v) }
  }

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
