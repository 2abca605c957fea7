package graft

import java.io.File
import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.ops._

/** The pluggable stage-boundary materializer (r11): conf-selected
  * local/reliable/none modes, identical data under every mode, plan
  * truncation under the materializing modes, the lazy cached variant,
  * and the explicit release path the harnesses call between queries. */
class StageBoundarySpec extends SparkSpec {
  import spark.implicits._

  private def df = spark.range(0, 100).select(col("id"), (col("id") % 7).as("k"))

  test("default (local) mode truncates the plan to a LogicalRDD and keeps the rows") {
    withoutConf(StageBoundaryModeKey) {
      val out = df.stageBoundary
      assert(out.queryExecution.logical.isInstanceOf[
        org.apache.spark.sql.execution.LogicalRDD])
      assert(out.collect().map(_.getLong(0)).sorted.toSeq == (0L until 100L))
    }
  }

  test("reliable mode checkpoints to the reliable dir and keeps the rows") {
    withConf(StageBoundaryModeKey -> "reliable") {
      val out = df.stageBoundary
      // a reliable checkpoint also reads back as a truncated leaf plan
      assert(out.queryExecution.optimizedPlan.collectLeaves().size == 1)
      assert(out.collect().map(_.getLong(0)).sorted.toSeq == (0L until 100L))
      assert(spark.sparkContext.getCheckpointDir.nonEmpty,
        "reliable mode must have set a checkpoint dir")
    }
  }

  test("none mode is the identity (lineage flows through)") {
    withConf(StageBoundaryModeKey -> "none") {
      val in = df
      val out = in.stageBoundary
      assert(out eq in)
    }
  }

  test("releaseStageBoundaries drops the checkpointed blocks") {
    withoutConf(StageBoundaryModeKey) {
      val sc = spark.sparkContext
      releaseStageBoundaries() // drain anything earlier suites queued
      val before = sc.getPersistentRDDs.keySet
      val out = df.stageBoundary
      out.write.format("noop").mode("overwrite").save()
      val pinned = sc.getPersistentRDDs.keySet -- before
      assert(pinned.nonEmpty, "an eager local boundary must pin RDD blocks")
      releaseStageBoundaries()
      // unpersist is async (blocking = false); poll briefly
      def still = sc.getPersistentRDDs.keySet.intersect(pinned)
      val deadline = System.nanoTime() + 10e9.toLong
      while (still.nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      assert(still.isEmpty, s"release must unpin boundary blocks, still: $still")
    }
  }

  for (mode <- Seq("local", "reliable", "none"))
    test(s"stageBoundaryRows returns the count() row count in $mode mode") {
      withConf(StageBoundaryModeKey -> mode) {
        val in = df.filter(col("k") =!= 3)
        val (out, rows) = in.stageBoundaryRows
        assert(rows == in.count())
        assert(out.count() == rows)
        assert(out.collect().map(_.getLong(0)).sorted.toSeq ==
          (0L until 100L).filter(_ % 7 != 3))
        val (outK0, k0) = in.stageBoundaryRowsWhere(col("k") === 0)
        assert(k0 == 15L && outK0.count() == rows, "the filtered count keeps every row")
        releaseStageBoundaries()
      }
    }

  test("stageBoundaryRows launches exactly one job in local mode") {
    withConf(StageBoundaryModeKey -> "local") {
      val in = df.filter(col("k") =!= 3)
      val ((_, rows), jobs) = countJobs(in.stageBoundaryRows)
      assert(rows == 86L)
      assert(jobs == 1, s"expected the boundary's own job only, saw $jobs")
      // the same boundary plus a separate count() costs more
      val (_, jobs2) = countJobs { in.stageBoundary.count() }
      assert(jobs2 > 1, s"boundary + count() should be more than one job, saw $jobs2")
      releaseStageBoundaries()
    }
  }

  test("releaseStageBoundaries deletes reliable-mode checkpoint files") {
    withConf(StageBoundaryModeKey -> "reliable") {
      releaseStageBoundaries()
      val out = df.stageBoundary
      val file = out.queryExecution.logical match {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.getCheckpointFile
        case other => fail(s"reliable boundary should read back as a LogicalRDD, got $other")
      }
      assert(file.nonEmpty, "a reliable boundary must have written checkpoint files")
      val path = new org.apache.hadoop.fs.Path(file.get)
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.exists(path))
      out.write.format("noop").mode("overwrite").save()
      releaseStageBoundaries()
      assert(!fs.exists(path), s"release must delete $path")
    }
  }

  test("q253's lazy boundary is registered: release frees every RDD it pinned") {
    withoutConf(StageBoundaryModeKey) {
      val sc = spark.sparkContext
      releaseStageBoundaries()
      val before = sc.getPersistentRDDs.keySet
      Analytics.q253RfmSegments.run(spark, sfDir).write.format("noop").mode("overwrite").save()
      val pinned = sc.getPersistentRDDs.keySet -- before
      assert(pinned.nonEmpty, "q253 pins its boundaries")
      releaseStageBoundaries()
      def still = sc.getPersistentRDDs.keySet.intersect(pinned)
      val deadline = System.nanoTime() + 10e9.toLong
      while (still.nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      assert(still.isEmpty, s"release must unpin every RDD q253 pinned, still: $still")
    }
  }

  test("release quiets only the logger that warns about truncated lineage") {
    import org.apache.logging.log4j.{Level, LogManager}
    releaseStageBoundaries()
    assert(LogManager.getLogger("org.apache.spark.rdd.MapPartitionsRDD").getLevel == Level.ERROR)
    // the rest of the package keeps the session's level
    assert(LogManager.getLogger("org.apache.spark.rdd.HadoopRDD").getLevel != Level.ERROR)
  }

  test("the cached boundary runs no job and plans as persist(MEMORY_AND_DISK) does") {
    releaseStageBoundaries()
    val in = df.filter(col("k") =!= 3)
    val (out, jobs) = countJobs(in.cachedStageBoundary)
    assert(jobs == 0, s"a lazy cache must not run a job when called, saw $jobs")
    assert(out eq in)
    val rel = out.queryExecution.withCachedData.collectFirst { case r: InMemoryRelation => r }
    assert(rel.map(_.cacheBuilder.storageLevel) == Some(StorageLevel.MEMORY_AND_DISK))
    // lineage is kept: the cached plan is the frame's own, not a LogicalRDD
    assert(out.queryExecution.logical eq in.queryExecution.logical)
    assert(out.collect().map(_.getLong(0)).sorted.toSeq == (0L until 100L).filter(_ % 7 != 3))
    releaseStageBoundaries()
  }

  test("release alone uncaches a cached boundary nothing references any more") {
    val sc = spark.sparkContext
    val cache = spark.sharedState.cacheManager
    spark.catalog.clearCache()
    releaseStageBoundaries()
    val before = sc.getPersistentRDDs.keySet
    // the frame is unreachable once this returns; its cache entry is not
    def pinAndDrop(): Long = df.filter(col("k") =!= 5).cachedStageBoundary.count()
    assert(pinAndDrop() == 86L)
    System.gc()
    assert(!cache.isEmpty, "a dropped Dataset must not take its cache entry with it")
    assert((sc.getPersistentRDDs.keySet -- before).nonEmpty, "the count materialized the cache")
    releaseStageBoundaries()
    assert(cache.isEmpty, "release must empty the CacheManager without clearCache")
    def still = sc.getPersistentRDDs.keySet -- before
    val deadline = System.nanoTime() + 10e9.toLong
    while (still.nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    assert(still.isEmpty, s"release must unpersist the cached RDD, still: $still")
  }

  test("one materialization device: src/main pins only through ops/package.scala") {
    val main = new File("src/main/scala")
    assert(main.isDirectory, s"run from the project root: ${main.getAbsolutePath}")
    val pins = Seq(".persist(", ".cache()", ".localCheckpoint(", ".checkpoint(", "StorageLevel")
    val offenders = FileUtils.listFiles(main, Array("scala"), true).toArray(Array.empty[File]).toSeq
      .filter { f =>
        val src = new String(Files.readAllBytes(f.toPath), java.nio.charset.StandardCharsets.UTF_8)
        pins.exists(src.contains)
      }
      .map(f => main.toPath.relativize(f.toPath).toString)
      .filterNot(_ == "graft/ops/package.scala")
    assert(offenders.isEmpty, s"pin through the stageBoundary device: $offenders")
  }
}
