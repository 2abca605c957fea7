package graft

import java.io.File
import java.nio.file.Files

import scala.collection.mutable

import org.apache.commons.io.FileUtils

import org.apache.spark.sql.functions.expr

import graft.ops._

/** The one harness: its run step times a query, never times a failure,
  * tags every job with the query's name and leaves nothing pinned; its
  * resolver selects exactly the named queries. */
class HarnessSpec extends SparkSpec {

  test("run: a throwing query is failed and yields no time, a fine one is timed") {
    val failed = mutable.LinkedHashMap.empty[String, String]
    val boom = Harness.run(spark, "q_boom",
      (_, _) => throw new IllegalStateException("planted failure"), sfDir, failed)(Harness.noop)
    assert(boom.isEmpty, "a failed run must not return a timing")
    // a failure inside the action, not while building the plan
    val late = Harness.run(spark, "q_late",
      (s, _) => s.sql("SELECT raise_error('planted failure') AS x"), sfDir, failed)(Harness.noop)
    assert(late.isEmpty)
    val fine = Harness.run(spark, "q_fine", (s, _) => s.range(3).toDF(), sfDir, failed)(Harness.noop)
    assert(fine.exists(_ >= 0.0))
    assert(failed.keys.toSeq == Seq("q_boom", "q_late"))
    assert(failed("q_boom").contains("planted failure"))
  }

  test("run frees the query's persists and stage boundaries") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    var during = Set.empty[Int]
    val t = Harness.run(spark, "q_pins", { (s, _) =>
      val cached = s.range(1000).toDF("id").persist()
      cached.count()
      cached.stageBoundary.filter("id % 2 = 0")
    }, sfDir, mutable.Map.empty) { df =>
      Harness.noop(df)
      during = (sc.getPersistentRDDs.keySet -- before).toSet
    }
    assert(t.isDefined)
    assert(during.size >= 2, s"the query should pin a persist and a boundary, saw $during")
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty, "run must leave no RDD pinned")
  }

  test("every job a run starts carries the query's name as its job group") {
    val (_, groups) = jobGroups {
      Harness.run(spark, "q_grouped", (s, _) =>
        s.range(1000).toDF("id").stageBoundary.groupBy(expr("id % 7")).count(),
        sfDir, mutable.Map.empty)(Harness.noop)
    }
    assert(groups.size >= 2, s"expected a boundary job and the action's jobs, saw $groups")
    assert(groups.forall(_.contains("q_grouped")), s"untagged or mistagged jobs: $groups")
    assert(Option(spark.sparkContext.getLocalProperty("spark.jobGroup.id")).isEmpty,
      "run must clear its job group")
  }

  private val names = SparkEntry.queries.keys.toSeq.sorted

  test("select: a number names its own query, never the longer numbers it prefixes") {
    assert(Harness.select(Seq("q31"), names) == Seq("q31_minhash_lsh"))
  }

  test("select: comma-separated tokens select each named query") {
    assert(Harness.select(Seq("q01,q05"), names) == Seq("q01_pricing_summary", "q05_local_revenue"))
    assert(Harness.select(Seq("q01", "q05"), names) == Seq("q01_pricing_summary", "q05_local_revenue"))
  }

  test("select: an exact name selects itself, and no tokens select everything") {
    assert(Harness.select(Seq("q05_local_revenue"), names) == Seq("q05_local_revenue"))
    assert(Harness.select(Seq.empty, names) == names)
  }

  test("select: a token that matches nothing throws") {
    intercept[IllegalArgumentException](Harness.select(Seq("q99999"), names))
    intercept[IllegalArgumentException](Harness.select(Seq("q3"), names))
  }

  test("one session builder: SparkSession.builder appears in src/main only in Harness") {
    val main = new File("src/main/scala")
    assert(main.isDirectory, s"run from the project root: ${main.getAbsolutePath}")
    val offenders = FileUtils.listFiles(main, Array("scala"), true).toArray(Array.empty[File]).toSeq
      .filter(f => new String(Files.readAllBytes(f.toPath), java.nio.charset.StandardCharsets.UTF_8)
        .contains("SparkSession.builder"))
      .map(f => main.toPath.relativize(f.toPath).toString)
      .filterNot(_ == "graft/Harness.scala")
    assert(offenders.isEmpty, s"sessions are built by Harness.session: $offenders")
  }
}
