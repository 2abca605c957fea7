package graft

import java.io.File

import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Dedup
import graft.sources.Tables

/** Pins the corpus-state commit protocol through the state store:
  * build-once/read-after, atomic publish (readers never see
  * half-state), safe concurrent builders, and no cached frame left
  * behind by the build — the properties the streaming ingest loop
  * relies on. */
class DedupStateSpec extends SparkSpec {
  import spark.implicits._

  /** The q108 corpus plus one marker doc no earlier run has seen: its
    * content, and so its state key, is new to every test. */
  private def freshCorpus(): DataFrame = {
    val docs = Tables.documents(spark, sfDir).filter(col("doc_id") % 10 =!= 0)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    docs.unionByName(Seq((-1L, s"marker ${java.util.UUID.randomUUID()} doc")).toDF("doc_id", "text"))
  }

  private def tmpLeftovers(dir: File): Seq[File] =
    dir.getParentFile.listFiles().filter(_.getName.startsWith(dir.getName + ".tmp")).toSeq

  test("state builds once; a second call reads without rewriting") {
    val docs = freshCorpus()
    val dir = Dedup.corpusStateKey(docs).dir
    val sc = spark.sparkContext
    ops.releaseStageBoundaries()
    val before = sc.getPersistentRDDs.keySet
    val st1 = Dedup.persistedCorpusState(spark, docs)
    ops.releaseStageBoundaries()
    // the build's persisted frames are dropped once written
    val pinned = sc.getPersistentRDDs.keySet -- before
    assert(pinned.isEmpty, s"the build must unpersist what it cached: $pinned")
    val n = st1.shingles.count()
    assert(n > 0)
    val mtime = dir.lastModified()
    val st2 = Dedup.persistedCorpusState(spark, docs)
    assert(dir.lastModified() == mtime,
      "second call must be read-only — no rebuild, no republish")
    assert(st2.shingles.count() == n)
  }

  test("the published dir appears atomically: all four parts complete") {
    val docs = freshCorpus()
    val dir = Dedup.corpusStateKey(docs).dir
    Dedup.persistedCorpusState(spark, docs)
    Seq("shingles", "bands", "counts", "hashes").foreach { p =>
      assert(new File(dir, s"$p/_SUCCESS").exists(),
        s"published state must contain a complete $p")
    }
    // the writer-private tmp dir must not survive the publish
    val leftovers = tmpLeftovers(dir)
    assert(leftovers.isEmpty, s"tmp dirs must not leak: ${leftovers.mkString(",")}")
  }

  test("concurrent builders race safely: both return usable state, no tmp leaks") {
    val docs = freshCorpus()
    val dir = Dedup.corpusStateKey(docs).dir
    implicit val ec: ExecutionContext = ExecutionContext.global
    val states = Await.result(
      Future.sequence((1 to 2).map(_ =>
        Future(Dedup.persistedCorpusState(spark, docs)))),
      5.minutes)
    val counts = states.map(_.hashes.count())
    assert(counts.forall(_ > 0) && counts.distinct.size == 1,
      s"both racers must read the same complete state: $counts")
    val leftovers = tmpLeftovers(dir)
    assert(leftovers.isEmpty, s"the losing writer must discard its tmp: ${leftovers.mkString(",")}")
  }
}
