package graft

import graft.sources.Tables

/** The one parquet read path: its schema memo saves the inference job on
  * a repeated read, and is keyed by the files' content signature, so a
  * rewrite at the same path is never served a stale schema. */
class TablesSpec extends SparkSpec {

  private def freshPath(): String =
    tempDir("graft-tables-spec").resolve("t.parquet").toString

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
    withConf("spark.sql.parquet.binaryAsString" -> "true") {
      val (_, jobs) = countJobs(Tables.parquet(spark, path))
      assert(jobs >= 1, "a conf change must invalidate the memo")
    }
  }

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"
  /** A conf's session setting: None when it is not set on the session. */
  private def setting(key: String): Option[String] = spark.conf.getAll.get(key)

  test("loading events leaves the session's nanosAsLong setting as it was") {
    def check(before: Option[String]): Unit = {
      assert(Tables.events(spark, sfDir).count() > 0)
      assert(setting(NanosAsLong) == before, s"events changed $NanosAsLong from $before")
    }
    withoutConf(NanosAsLong)(check(None))
    withConf(NanosAsLong -> "false")(check(Some("false")))
  }

  test("a TIMESTAMP(NANOS) events file loads with ts as a timestamp") {
    // nanos/events.parquet was written with pyarrow 16:
    //   python3 -c "import pyarrow as pa, pyarrow.parquet as pq; pq.write_table(pa.table({
    //     'event_id': pa.array([1, 2], pa.int64()),
    //     'ts': pa.array([1704067200123456789, 1704153600000001999], pa.timestamp('ns'))}),
    //     'events.parquet')"
    val dir = new java.io.File(getClass.getResource("/nanos/events.parquet").toURI).getParent
    val vectorized = "spark.sql.parquet.enableVectorizedReader"
    for (reader <- Seq("true", "false")) withConf(vectorized -> reader) {
      val df = Tables.events(spark, dir)
      assert(df.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
      val micros = df.orderBy("event_id").selectExpr("unix_micros(ts)").collect().map(_.getLong(0))
      assert(micros.toSeq == Seq(1704067200123456L, 1704153600000001L), s"vectorized=$reader")
    }
  }
}
