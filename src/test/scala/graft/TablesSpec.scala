package graft

import java.nio.file.Files

import graft.sources.Tables

/** The one parquet read path: its schema memo saves the inference job on
  * a repeated read, and is keyed by the files' content signature, so a
  * rewrite at the same path is never served a stale schema. */
class TablesSpec extends SparkSpec {

  private def freshPath(): String =
    Files.createTempDirectory("graft-tables-spec").resolve("t.parquet").toString

  test("the second read of an unchanged path resolves its schema without a job") {
    val path = freshPath()
    spark.range(10).selectExpr("id", "id * 2 AS x").write.parquet(path)
    val (first, inferJobs) = countJobs(Tables.parquet(spark, path))
    assert(inferJobs >= 1, "the first read infers the schema with a job")
    val (second, jobs) = countJobs(Tables.parquet(spark, path))
    assert(jobs == 0, s"a memoized read must run no job, saw $jobs")
    assert(second.schema == first.schema)
    assert(second.collect().toSet == first.collect().toSet)
  }

  test("rewriting the file at the same path with a different schema returns the new schema") {
    val path = freshPath()
    spark.range(5).selectExpr("id", "id * 2 AS x").write.parquet(path)
    assert(Tables.parquet(spark, path).columns.toSeq == Seq("id", "x"))
    spark.range(3).selectExpr("CAST(id AS STRING) AS name", "id + 0.5 AS y")
      .write.mode("overwrite").parquet(path)
    val df = Tables.parquet(spark, path)
    assert(df.columns.toSeq == Seq("name", "y"))
    assert(df.collect().map(_.getString(0)).sorted.toSeq == Seq("0", "1", "2"))
  }

  test("a changed parquet conf re-resolves the schema") {
    val path = freshPath()
    spark.range(4).selectExpr("id").write.parquet(path)
    Tables.parquet(spark, path)
    val key = "spark.sql.parquet.binaryAsString"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try {
      val (_, jobs) = countJobs(Tables.parquet(spark, path))
      assert(jobs >= 1, "a conf change must invalidate the memo")
    } finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
