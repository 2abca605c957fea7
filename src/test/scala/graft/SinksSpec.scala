package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.{Sinks, Tables}

class SinksSpec extends SparkSpec {

  test("partitioned parquet write prunes partitions on read") {
    val dir = tempDir("graft-part").toString + "/orders"
    val orders = Tables.orders(spark, sfDir).withColumn("status", col("o_orderstatus"))
    Sinks.writePartitioned(orders, dir, "status")
    val back = spark.read.parquet(dir).filter(col("status") === "F")
    assert(back.count() == orders.filter(col("o_orderstatus") === "F").count())
    val scans = back.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(scans.contains("PartitionFilters: [isnotnull(status"), "partition pruning must kick in")
  }

  test("bucketed tables join without a shuffle exchange") {
    // warehouse dir is a static conf; tables land in ./spark-warehouse (gitignored)
    Sinks.writeBucketed(Tables.orders(spark, sfDir), "orders_b", "o_orderkey", 4)
    Sinks.writeBucketed(
      Tables.lineitem(spark, sfDir).groupBy(col("l_orderkey")).agg(count(lit(1)).as("n")),
      "li_counts_b", "l_orderkey", 4)
    val j = spark.table("orders_b").join(
      spark.table("li_counts_b"),
      col("o_orderkey") === col("l_orderkey"))
    val plan = j.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join must be shuffle-free:\n$plan")
    assert(j.count() > 0)
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS li_counts_b")
  }

  test("json round-trip preserves rows") {
    val dir = tempDir("graft-json").toString + "/out"
    val df = Tables.nation(spark, sfDir)
    Sinks.writeJson(df, dir)
    assert(Sinks.readJson(spark, dir).count() == 25)
  }

  test("orc round-trip preserves rows and pushes filters into the ORC scan") {
    val dir = tempDir("graft-orc").toString + "/lineitem"
    val li = Tables.lineitem(spark, sfDir)
    Sinks.writeOrc(li, dir)
    val back = Sinks.readOrc(spark, dir)
      .filter(col("l_quantity") < 10)
      .select(col("l_orderkey"), col("l_quantity"))
    assert(back.count() == li.filter(col("l_quantity") < 10).count())
    val scans = back.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(scans.contains("PushedFilters: [isnotnull(l_quantity), lessthan(l_quantity")
      || scans.contains("PushedFilters: [IsNotNull(l_quantity), LessThan(l_quantity"),
      s"ORC scan must receive the predicate:\n$scans")
  }

  test("csv round-trip with explicit schema preserves typed rows") {
    val dir = tempDir("graft-csv-src").toString + "/nation"
    val df = Tables.nation(spark, sfDir)
    Sinks.writeCsv(df, dir)
    val back = Sinks.readCsv(spark, dir,
      "n_nationkey INT, n_name STRING, n_regionkey INT")
    assert(back.count() == 25)
    assert(back.schema("n_nationkey").dataType.typeName == "integer")
  }

  test("malformed JSON: PERMISSIVE quarantines corrupt records, FAILFAST throws") {
    // ingest-side data quality: a 100 TB crawl WILL contain garbage
    // lines; the pipeline must quarantine them, not die or silently drop
    val dir = tempDir("graft-badjson").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/part.json"),
      """{"id": 1, "v": "ok"}
        |{"id": 2, "v": "also ok"}
        |{"id": oops not json
        |{"id": 4, "v": "fine"}
        |""".stripMargin)
    val schema = "id LONG, v STRING, _corrupt_record STRING"
    val permissive = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir)
    val rows = permissive.cache().collect() // cache: corrupt-record column requires it post-parse
    assert(rows.length == 4, "every input line must surface")
    assert(rows.count(_.getAs[String]("_corrupt_record") != null) == 1)
    assert(rows.filter(_.getAs[String]("_corrupt_record") == null)
      .map(_.getAs[Long]("id")).toSet == Set(1L, 2L, 4L))
    permissive.unpersist()
    val failfast = spark.read.schema("id LONG, v STRING")
      .option("mode", "FAILFAST").json(dir)
    intercept[org.apache.spark.SparkException](failfast.collect())
  }

  test("schema evolution: mergeSchema unions old and new parquet batches") {
    // day-1 batch: two columns; day-2 batch adds a column — the standard
    // append-only evolution a long-lived dataset accumulates
    val dir = tempDir("graft-evolve").toString + "/t"
    import spark.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("id", "name")
      .write.mode("append").parquet(dir)
    Seq((3L, "c", 9.5), (4L, "d", 7.25)).toDF("id", "name", "score")
      .write.mode("append").parquet(dir)
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.schema.fieldNames.toSet == Set("id", "name", "score"))
    val rows = merged.orderBy("id").collect()
    assert(rows.length == 4)
    // old-batch rows surface the new column as null, not a read error
    assert(rows(0).isNullAt(rows(0).fieldIndex("score")))
    assert(rows(2).getDouble(rows(2).fieldIndex("score")) == 9.5)
    // without mergeSchema the read still succeeds on the footer schema
    assert(spark.read.parquet(dir).count() == 4)
  }

  test("z-order layout: range-partitioned files have disjoint zkey ranges") {
    import graft.ops.Analytics
    val dir = tempDir("graft-zorder").toString + "/events"
    Analytics.zorderKeyed(Tables.events(spark, sfDir))
      .repartitionByRange(4, col("zkey"))
      .sortWithinPartitions(col("zkey"))
      .write.parquet(dir)
    // per-file zkey ranges must not overlap — the property that lets a
    // scan filtered on EITHER interleaved dimension prune whole files
    val ranges = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(min(col("zkey")).as("lo"), max(col("zkey")).as("hi"))
      .collect().map(r => (r.getAs[Long]("lo"), r.getAs[Long]("hi")))
      .sortBy(_._1)
    assert(ranges.length > 1, "expected multiple files")
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 <= lo2, s"overlap: $hi1 > $lo2")
      case _ =>
    }
  }
}
