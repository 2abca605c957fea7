package graft

import org.apache.spark.sql.functions._

import graft.functions.SkewJoin
import graft.sources.Tables

class SkewJoinSpec extends SparkSpec {

  private def someHotKeys(n: Int): Seq[Any] =
    Tables.lineitem(spark, sfDir).groupBy(col("l_orderkey")).count()
      .orderBy(col("count").desc, col("l_orderkey"))
      .limit(n).collect().map(_.get(0)).toSeq

  test("salted join with declared hot keys returns exactly the rows of the plain join") {
    val l = Tables.lineitem(spark, sfDir)
    val o = Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_custkey"))
    val plain = l.join(o, l("l_orderkey") === o("o_orderkey"))
      .select(col("l_orderkey"), col("l_linenumber"), col("o_custkey"))
    val salted = SkewJoin.saltedJoin(l, o, "l_orderkey", "o_orderkey",
        saltSource = col("l_linenumber"), saltFactor = 8,
        hotKeys = Some(someHotKeys(5)))
      .select(col("l_orderkey"), col("l_linenumber"), col("o_custkey"))
    assert(salted.count() == plain.count())
    assert(salted.except(plain).isEmpty && plain.except(salted).isEmpty)
  }

  test("salted join with auto-detected hot keys equals the plain join on synthetic skew") {
    val s = spark
    import s.implicits._
    // 90% of rows share key 0 → detection must flag it; the rest are uniform
    val probe = s.range(0, 50000).select(
      when(col("id") % 10 < 9, lit(0L)).otherwise(pmod(col("id"), lit(500))).as("k"),
      col("id").as("v"))
    val build = s.range(0, 500).select(col("id").as("k2"), (col("id") * 2).as("w"))
    val detected = SkewJoin.detectHotKeys(probe, "k", sampleFraction = 0.1)
    assert(detected.contains(0L), s"key 0 carries 90% of rows and must detect hot: $detected")
    assert(detected.size <= 5, s"uniform keys must not detect hot: $detected")
    val plain = probe.join(build, col("k") === col("k2"))
    val salted = SkewJoin.saltedJoin(probe, build, "k", "k2",
      saltSource = col("v"), saltFactor = 8)
    assert(salted.count() == plain.count())
    assert(salted.select("k", "v", "w").except(plain.select("k", "v", "w")).isEmpty)
  }

  test("detection finds no hot keys on uniform data and the plan degrades to the plain join") {
    val l = Tables.lineitem(spark, sfDir)
    val o = Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_orderpriority"))
    // TPC-H lineitem has ≤7 lines per order — nothing dominates a reducer
    assert(SkewJoin.detectHotKeys(l, "l_orderkey", sampleFraction = 0.1).isEmpty)
    val plan = SkewJoin.saltedJoin(l, o, "l_orderkey", "o_orderkey",
      saltSource = col("l_linenumber")).queryExecution.executedPlan.toString
    assert(!plan.contains("__salt"), s"no hot keys → no salt machinery in the plan:\n$plan")
  }

  test("cold keys are NOT replicated: build-side blowup is saltFactor x hot rows only") {
    val s = spark
    val build = s.range(0, 1000).select(col("id").as("k2"), (col("id") * 3).as("w"))
    val rep = SkewJoin.replicatedBuildSide(build, "k2", hot = Seq(0L, 7L), saltFactor = 8)
    // 2 hot keys x 8 salts + 998 cold keys x 1 salt
    assert(rep.count() == 2 * 8 + 998)
    assert(rep.filter(col("k2") === 0L).count() == 8)
    assert(rep.filter(col("k2") === 1L).count() == 1, "cold key must appear exactly once")
    assert(rep.filter(col("k2") === 1L).select("__salt").head().getInt(0) == 0)
  }

  test("salted join shuffles on (key, salt)") {
    val l = Tables.lineitem(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
    // disable auto-broadcast so the shuffle partitioning is visible
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val plan = SkewJoin.saltedJoin(l, o, "l_orderkey", "o_orderkey",
        saltSource = col("l_linenumber"), saltFactor = 8,
        hotKeys = Some(someHotKeys(3)))
        .queryExecution.executedPlan.toString
      assert(plan.contains("__salt"), s"salt must be part of the join keys:\n$plan")
    }
  }

  test("AQE splits a synthetic hot key at runtime (skew=true in the final plan)") {
    val s = spark
    withConf(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32k",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // 90% of 200k rows share key 0 → one shuffle partition dwarfs the rest
      val left = s.range(0, 200000).select(
        when(col("id") % 10 < 9, lit(0L)).otherwise(pmod(col("id"), lit(1000))).as("k"),
        col("id").as("v"))
      val right = s.range(0, 1000).select(col("id").as("k2"))
      val j = left.join(right, col("k") === col("k2"))
      j.collect() // finalize the adaptive plan
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE should have split the hot partition (skew=true):\n$plan")
    }
  }

  test("AQE switches a shuffle join to broadcast at runtime when the built " +
    "side turns out small (runtime re-plan, the 100 TB safety net)") {
    val s = spark
    // static planner must NOT broadcast (size stats say 'big'); only the
    // RUNTIME shuffle statistics reveal the filtered side is tiny
    withConf(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "10m") {
      val small = Tables.orders(s, sfDir)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_custkey"))
      val j = Tables.lineitem(s, sfDir).select(col("l_orderkey"), col("l_quantity"))
        .join(small, col("l_orderkey") === col("o_orderkey"))
      j.collect() // finalize the adaptive plan
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"), plan)
      assert(plan.contains("BroadcastHashJoin"),
        s"AQE should have re-planned SMJ -> BHJ from runtime sizes:\n$plan")
    }
  }

  test("dynamic partition pruning: a selective dim filter prunes the " +
    "partitioned fact scan at runtime") {
    val s = spark
    // fact = documents partitioned by lang (the q113 layout); dim = a
    // one-row relation selecting a single lang through a non-partition
    // predicate, so static pruning cannot apply
    val factDir = graft.ops.Layout.partitionedDocsDir(s, sfDir)
    val fact = s.read.parquet(factDir)
    import s.implicits._
    // the dim must be FILE-backed: on a LocalRelation the filter constant-
    // folds away before the PartitionPruning rule looks for a selective
    // predicate, and no DPP subquery is inserted
    val dimDir = tempDir("graft-dpp-dim").toString
    Seq(("en", "keep"), ("de", "drop"), ("es", "drop"), ("fr", "drop"))
      .toDF("lang_key", "action").write.mode("overwrite").parquet(dimDir)
    val dim = s.read.parquet(dimDir).filter(col("action") === "keep")
    withConf("spark.sql.optimizer.dynamicPartitionPruning.enabled" -> "true") {
      val j = fact.join(dim, col("lang") === col("lang_key"))
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("dynamicpruning"),
        s"fact scan should carry a dynamic pruning subquery:\n$plan")
      // and the pruned result is exactly the en partition
      assert(j.count() == fact.filter(col("lang") === "en").count())
    }
  }
}
