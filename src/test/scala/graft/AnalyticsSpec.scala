package graft

import graft.ops.Analytics

/** Smoke + semantics tests for the relational inventory at sf0.001.
  * (Exact value parity vs DuckDB is covered by the driver's oracle gate
  * and dev/compare.py; these tests pin structural invariants.) */
class AnalyticsSpec extends SparkSpec {

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query runs and respects its declared schema") {
    Analytics.all.foreach { q =>
      val df = q.run(spark, sfDir)
      val n = df.count()
      assert(n > 0, s"${q.name} returned no rows")
    }
  }

  test("oracle coverage: every query has an oracle except the sketch-based ones") {
    val missing = Analytics.all.filter(_.oracle.isEmpty).map(_.name)
    assert(missing == Seq("q48_approx_distinct", "q91_approx_percentiles", "q93_hll_merge"),
      s"relational queries must be oracle-checked: $missing")
  }

  test("q01 aggregates are exact and grouped correctly") {
    val rows = Analytics.q01PricingSummary.run(spark, sfDir).collect()
    assert(rows.map(r => (r.getString(0), r.getString(1))).distinct.length == rows.length)
    val total = rows.map(_.getAs[Long]("count_order")).sum
    assert(total == 6000L) // sf0.001 lineitem row count
  }

  test("q07 anti join is disjoint from q06 semi join universe") {
    val semi = Analytics.q06SemiJoin.run(spark, sfDir).select("o_orderkey").collect().map(_.getLong(0)).toSet
    val anti = Analytics.q07AntiJoin.run(spark, sfDir).select("o_orderkey").collect().map(_.getLong(0)).toSet
    assert(semi.intersect(anti).isEmpty)
  }

  test("q12 emits at most 3 rows per brand, ranked") {
    val rows = Analytics.q12WindowRank.run(spark, sfDir).collect()
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      assert(rs.length <= 3)
      assert(rs.map(_.getAs[Int]("rn")).sorted.sameElements(1 to rs.length))
    }
  }

  test("q13 running total is monotone per customer") {
    val rows = Analytics.q13WindowRunning.run(spark, sfDir).collect()
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val running = rs.map(_.getAs[Double]("running_spend"))
      assert(running.sameElements(running.sorted))
    }
  }

  test("q91 approx percentiles stay within 2% of exact q60") {
    val exact = Analytics.q60Percentiles.run(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    Analytics.q91ApproxPercentiles.run(spark, sfDir).collect().foreach { r =>
      val (p50, p95) = exact(r.getString(0))
      assert(math.abs(r.getDouble(1) - p50) / p50 < 0.02)
      assert(math.abs(r.getDouble(2) - p95) / p95 < 0.02)
      assert(r.getAs[Boolean]("within_bound"), "the emitted verdict column must agree")
      assert(r.getAs[Double]("p50_exact") == p50 && r.getAs[Double]("p95_exact") == p95,
        "the emitted exact-twin columns must equal q60")
    }
  }

  test("q48 approx distinct stays within 5% of exact") {
    Analytics.q48ApproxDistinct.run(spark, sfDir).collect().foreach { r =>
      val approx = r.getAs[Long]("approx_users").toDouble
      val exact = r.getAs[Long]("exact_users").toDouble
      assert(math.abs(approx - exact) / exact < 0.05, s"approx=$approx exact=$exact")
      assert(r.getAs[Boolean]("within_bound") &&
        r.getAs[Long]("err_micro") <= r.getAs[Long]("bound_micro"),
        "the emitted bound columns must agree with the spec's own check")
    }
  }

  test("broadcast hint survives planning in q05") {
    val plan = Analytics.q05LocalRevenue.run(spark, sfDir).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"))
  }

  test("q86: NOT IN plans as a broadcast null-aware anti join") {
    val df = Analytics.q86NullAwareAnti.run(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"), plan)
  }

  test("q86: null-keyed outer rows are dropped (NOT IN vs left_anti)") {
    import org.apache.spark.sql.functions._
    val orders = graft.sources.Tables.orders(spark, sfDir)
      .withColumn("k", when(col("o_orderpriority") === "1-URGENT", lit(null))
        .otherwise(col("o_custkey")))
    val block = graft.sources.Tables.customer(spark, sfDir)
      .filter(col("c_acctbal") < 0).select(col("c_custkey"))
    val notInTotal = Analytics.q86NullAwareAnti.run(spark, sfDir)
      .collect().map(_.getAs[Long]("n_orders")).sum
    // plain left_anti KEEPS null-keyed rows; NOT IN drops them
    val leftAntiTotal = orders
      .join(block, orders("k") === block("c_custkey"), "left_anti").count()
    val nullKeyed = orders.filter(col("k").isNull).count()
    assert(nullKeyed > 0, "fixture must contain urgent orders")
    assert(leftAntiTotal == notInTotal + nullKeyed)
  }

  test("q73: typed sequence face is a real ARRAY<STRING>, and the contract " +
    "face is its space-join") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val typed = Analytics.typedEventSequences(spark, sfDir)
    assert(typed.schema("seq").dataType == ArrayType(StringType, containsNull = false) ||
      typed.schema("seq").dataType == ArrayType(StringType, containsNull = true))
    val viaTyped = typed.select(col("user_id"), array_join(col("seq"), " ").as("seq"))
      .orderBy(col("user_id")).collect().map(r => (r.getLong(0), r.getString(1)))
    val contract = Analytics.q73EventSequences.run(spark, sfDir)
      .select(col("user_id"), col("seq")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(viaTyped.sameElements(contract))
    // sequences are genuinely multi-element, not degenerate singletons
    assert(typed.filter(size(col("seq")) > 1).count() > 0)
  }

  test("q235: the incremental merge equals a direct recompute, including one-sided keys") {
    import org.apache.spark.sql.functions._
    val merged = Analytics.q235MvMaintenance.run(spark, sfDir).collect().toSeq
    val direct = graft.sources.Tables.orders(spark, sfDir)
      .withColumn("mv_month", date_trunc("month", col("o_orderdate")).cast("date"))
      .withColumn("cents", expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)"))
      .groupBy(col("mv_month"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("rev_cents"),
        min(col("cents")).as("min_cents"), max(col("cents")).as("max_cents"))
      .withColumn("avg_cents", expr("rev_cents DIV n_orders"))
      .orderBy(col("mv_month"), col("o_orderpriority"))
      .collect().toSeq
    assert(merged == direct, "merge(state(base), state(delta)) must equal the full recompute")
    // planted: a key only in the base slice (no orderkey % 10 == 0), a key
    // only in the delta slice, and a key spanning both — the three outer-join
    // branches the merge must fold correctly
    import spark.implicits._
    val dir = tempDir("graft-mv").toString
    Seq(
      (1L, "P_BASE", "2024-01-05 00:00:00", 10.00),
      (10L, "P_DELTA", "2024-02-05 00:00:00", 20.00),
      (2L, "P_BOTH", "2024-03-05 00:00:00", 5.00),
      (20L, "P_BOTH", "2024-03-09 00:00:00", 7.00))
      .toDF("o_orderkey", "o_orderpriority", "d", "o_totalprice")
      .withColumn("o_orderdate", to_timestamp(col("d"))).drop("d")
      .withColumn("o_custkey", lit(1L)).withColumn("o_orderstatus", lit("O"))
      .write.parquet(s"$dir/orders.parquet")
    val planted = Analytics.q235MvMaintenance.run(spark, dir).collect()
      .map(r => r.getString(1) -> (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(planted("P_BASE") == ((1L, 1000L, 1000L, 1000L, 1000L)))
    assert(planted("P_DELTA") == ((1L, 2000L, 2000L, 2000L, 2000L)))
    assert(planted("P_BOTH") == ((2L, 1200L, 500L, 700L, 600L)),
      "the spanning key must add counts/sums and fold min/max across slices")
  }

  test("fuzzyPairs: value-space and pair-space paths return identical pairs") {
    import org.apache.spark.sql.functions._
    val rows = graft.sources.Tables.part(spark, sfDir).select(
      col("p_partkey").as("key"), col("p_brand").as("block"), col("p_name").as("name"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val valueSpace = pairs(Analytics.fuzzyPairs(rows))
    val pairSpace = pairs(Analytics.fuzzyPairs(rows, valueSpaceLimit = 0L))
    assert(valueSpace == pairSpace)
    assert(valueSpace.nonEmpty)
  }

  test("q253: planted quintiles land every customer in the hand-computed segment") {
    import spark.implicits._
    val dir = tempDir("graft-rfm").toString
    // customer i: last order 2024-02-01 minus (i-1) days (recency rank =
    // id order), order count by a permutation that exercises all six
    // segments, price i dollars per order
    val f = Map(1 -> 1, 2 -> 10, 3 -> 9, 4 -> 2, 5 -> 8,
      6 -> 3, 7 -> 7, 8 -> 4, 9 -> 6, 10 -> 5)
    var oid = 0L
    val rows = (1 to 10).flatMap { i =>
      (1 to f(i)).map { j =>
        oid += 1
        val d = if (j == 1) java.time.LocalDateTime.of(2024, 2, 1, 0, 0).minusDays(i - 1)
                else java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
        (oid, i.toLong, java.sql.Timestamp.valueOf(d), i.toDouble)
      }
    }
    rows.toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
      .write.parquet(s"$dir/orders.parquet")
    val got = graft.ops.Analytics.q253RfmSegments.run(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got == Seq(
      ("at_risk", 2L, 8L, 5L, 10400L),
      ("champions", 2L, 1L, 9L, 4700L),
      ("hibernating", 1L, 7L, 4L, 3200L),
      ("loyal", 2L, 5L, 7L, 8900L),
      ("recent", 2L, 1L, 1L, 900L),
      ("regular", 1L, 5L, 3L, 1800L)))
    // fixture-wide: every customer in exactly one segment, cents conserve
    val fix = graft.ops.Analytics.q253RfmSegments.run(spark, sfDir).collect()
    val o = graft.sources.Tables.orders(spark, sfDir)
    assert(fix.map(_.getLong(1)).sum == o.select(org.apache.spark.sql.functions.col("o_custkey")).distinct().count())
    val cents = o.agg(org.apache.spark.sql.functions.sum(
      org.apache.spark.sql.functions.expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)"))).head.getLong(0)
    assert(fix.map(_.getLong(4)).sum == cents)
  }

  test("q254: planted baskets produce hand-computed support/confidence/lift in both directions") {
    import spark.implicits._
    val dir = tempDir("graft-rules").toString
    // N=5 orders; {1,2} together twice (qualifies), {1,3} once (below
    // the support floor); n(1)=3, n(2)=3, n(3)=2
    Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L), (3L, 1L), (3L, 3L), (4L, 3L), (5L, 2L))
      .toDF("l_orderkey", "l_partkey")
      .write.parquet(s"$dir/lineitem.parquet")
    val got = graft.ops.Analytics.q254AssociationRules.run(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7))).toSeq
    // supp = 2/5, conf = 2/3, lift = 2*5/(3*3) in micro floors
    assert(got == Seq(
      (1L, 2L, 2L, 3L, 3L, 400000L, 666666L, 1111111L),
      (2L, 1L, 2L, 3L, 3L, 400000L, 666666L, 1111111L)))
    // fixture-wide: rule measures re-derive from their own counts and
    // confidence never exceeds 1
    val fix = graft.ops.Analytics.q254AssociationRules.run(spark, sfDir).collect()
    assert(fix.nonEmpty && fix.length <= 50)
    fix.foreach { r =>
      assert(r.getLong(6) == 1000000L * r.getLong(2) / r.getLong(3))
      assert(r.getLong(6) <= 1000000L)
      assert(r.getLong(2) <= math.min(r.getLong(3), r.getLong(4)))
    }
    val lifts = fix.map(_.getLong(7)).toSeq
    assert(lifts == lifts.sorted.reverse, "rows arrive in lift order")
  }

  test("q255: planted cohorts accumulate to hand-computed LTV; corpus cents conserve") {
    import spark.implicits._
    val dir = tempDir("graft-ltv").toString
    def ts(v: String) = java.sql.Timestamp.valueOf(v + " 00:00:00")
    Seq(
      (1L, 1L, ts("1995-01-15"), 10.0), (2L, 1L, ts("1995-05-10"), 5.0),
      (3L, 2L, ts("1995-02-01"), 20.0),
      (4L, 3L, ts("1995-04-01"), 7.0))
      .toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
      .write.parquet(s"$dir/orders.parquet")
    val got = graft.ops.Analytics.q255CohortLtv.run(spark, dir).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == Seq(
      ("1995-01-01", 0L, 2L, 3000L, 3000L, 1500L),
      ("1995-01-01", 1L, 2L, 500L, 3500L, 1750L),
      ("1995-04-01", 0L, 1L, 700L, 700L, 700L)))
    // fixture-wide: per-cohort curves are monotone and all cents land
    // in exactly one (cohort, age) cell
    val fix = graft.ops.Analytics.q255CohortLtv.run(spark, sfDir).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(3), r.getLong(4)))
    assert(fix.nonEmpty)
    fix.groupBy(_._1).values.foreach { rows =>
      val byAge = rows.sortBy(_._2)
      assert(byAge.map(_._4).sameElements(byAge.map(_._4).sorted), "cumulative curve monotone")
      assert(byAge.map(_._3).sum == byAge.last._4, "cum equals sum of age cells")
    }
    val cents = graft.sources.Tables.orders(spark, sfDir)
      .agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)")))
      .head.getLong(0)
    assert(fix.map(_._3).sum == cents)
  }

  test("q256: planted cascade counts the blast radius and write amplification exactly") {
    import spark.implicits._
    // find one requested and one untouched custkey under the md5 rule
    val sel = spark.sql(
      """SELECT id FROM range(1, 2000)
        |WHERE CAST(conv(substring(md5(concat('gdpr:', CAST(id AS STRING))), 1, 4), 16, 10) AS INT) % 50 = 0
        |ORDER BY id""".stripMargin).head.getLong(0)
    val non = spark.sql(
      """SELECT id FROM range(1, 2000)
        |WHERE CAST(conv(substring(md5(concat('gdpr:', CAST(id AS STRING))), 1, 4), 16, 10) AS INT) % 50 <> 0
        |ORDER BY id""".stripMargin).head.getLong(0)
    val dir = tempDir("graft-gdpr").toString
    Seq((sel, "a"), (non, "b")).toDF("c_custkey", "c_name")
      .write.parquet(s"$dir/customer.parquet")
    // requested customer owns orders 100 and 300 (files 0 and 1);
    // untouched customer owns order 150 (file 0)
    Seq((100L, sel), (300L, sel), (150L, non)).toDF("o_orderkey", "o_custkey")
      .write.parquet(s"$dir/orders.parquet")
    // deleting 3 of the 4 rows in file 0 and 1 of 1 in file 1 -> 5 rows
    // rewritten for 4 deleted
    Seq((100L, 1), (100L, 2), (300L, 1), (150L, 1), (150L, 2))
      .toDF("l_orderkey", "l_linenumber")
      .write.parquet(s"$dir/lineitem.parquet")
    val got = graft.ops.Analytics.q256DeletionCascade.run(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got("customer") == ((2L, 1L, 500000L)))
    assert(got("orders") == ((3L, 2L, 666666L)))
    assert(got("lineitem") == ((5L, 3L, 600000L)))
    assert(got("lineitem_files") == ((2L, 2L, 1000000L)))
    assert(got("write_amplification") == ((3L, 5L, 1666666L)))
    // fixture-wide: amplification is >= 1 and the cascade never deletes
    // more than exists
    val fix = graft.ops.Analytics.q256DeletionCascade.run(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(fix.keySet.size == 5)
    fix.filter(_._1 != "write_amplification").values.foreach { case (t, d, _) => assert(d <= t) }
    assert(fix("write_amplification")._3 >= 1000000L)
  }

  test("q257: ties deviate, unique values balance, and every row lands in one bucket") {
    import spark.implicits._
    val dir = tempDir("graft-eqd").toString
    // 32 rows: prices all distinct (perfect equi-depth), quantities in
    // two tied runs of 20 and 12 (boundaries cannot split a tie)
    (1 to 32).map(i => (i.toDouble, if (i <= 20) 1.0 else 2.0))
      .toDF("l_extendedprice", "l_quantity")
      .write.parquet(s"$dir/lineitem.parquet")
    val got = graft.ops.Analytics.q257EquiDepthAudit.run(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    val price = got.filter(_._1 == "price_cents")
    assert(price.length == 16)
    assert(price.forall(r => r._5 == 2L && r._6 == 0L), "unique values balance perfectly")
    val qty = got.filter(_._1 == "quantity").map(r => (r._2, r._3, r._4, r._5, r._6)).toSeq
    assert(qty == Seq((1L, 1L, 1L, 20L, 9000000L), (11L, 2L, 2L, 12L, 5000000L)),
      s"tied runs concentrate in two buckets: $qty")
    // fixture-wide: per column, bucket rows conserve the table
    val fix = graft.ops.Analytics.q257EquiDepthAudit.run(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(4)))
    val n = graft.sources.Tables.lineitem(spark, sfDir).count()
    fix.groupBy(_._1).values.foreach(rows => assert(rows.map(_._2).sum == n))
  }

  test("q261: the tx3 reading differs from tx1 by exactly the retroactive corrections") {
    import spark.implicits._
    val dir = tempDir("graft-bitemp").toString
    (1L to 140L).map(k => (k, 10.0)).toDF("p_partkey", "p_retailprice")
      .write.parquet(s"$dir/part.parquet")
    val corrected = spark.sql(
      """SELECT id FROM range(1, 141)
        |WHERE CAST(conv(substring(md5(concat('fix:', CAST(id AS STRING))), 1, 4), 16, 10) AS INT) % 7 = 0"""
        .stripMargin).collect().map(_.getLong(0)).toSet
    val got = graft.ops.Analytics.q261BitemporalAsof.run(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.map(_._2).sum == 140L, "every part reads at both knowledge states")
    got.foreach { case (bucket, n, nCorr, s1, s3) =>
      val wantCorr = corrected.count(_ % 16 == bucket)
      assert(nCorr == wantCorr, s"bucket $bucket correction count")
      // tx1 reading predates the corrections: base price everywhere
      assert(s1 == 1000L * n)
      // the tx3 reading moves by exactly +100 per corrected part — the
      // valid-era rows (tx1 and tx3 eras) start after the query date and
      // must not leak in
      assert(s3 == s1 + 100L * nCorr)
    }
    // fixture-wide: the same correction identity holds in aggregate
    val fix = graft.ops.Analytics.q261BitemporalAsof.run(spark, sfDir).collect()
      .map(r => (r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(fix.nonEmpty)
    assert(fix.map(_._3).sum - fix.map(_._2).sum == 100L * fix.map(_._1).sum)
  }
}
