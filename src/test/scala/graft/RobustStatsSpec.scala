package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Contracts, Graph, Temporal}

/** Hand-computed pins for the round-5 robust-stats/audit batch: BFS hop
  * distances, interval-union coverage (the case session-gap logic gets
  * wrong), Theil–Sen outlier resistance, dyadic-exact exponential
  * smoothing, and the data-contract evaluator. Fixture-dir faces are
  * hash-proved by the DuckDB gate; these pin the operator semantics on
  * planted inputs where the right answer is computable by hand. */
class RobustStatsSpec extends SparkSpec {
  import spark.implicits._

  private def edges(pairs: (Long, Long)*) =
    pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .toDF("src", "dst")

  test("bfs: path graph distances from one end, hop-bounded, unreachable absent") {
    // 1-2-3-4-5 plus isolated-from-seed component 10-11
    val e = edges((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
    val got = Graph.bfsDistances(e, Seq(1L).toDF("seed"), maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 5 is 4 hops away -> absent under maxHops=3; 10/11 unreachable -> absent
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
  }

  test("bfs: multi-source takes the minimum over seeds") {
    val e = edges((1L, 2L), (2L, 3L), (3L, 4L))
    val got = Graph.bfsDistances(e, Seq(1L, 4L).toDF("seed"), maxHops = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 0L))
  }

  test("interval union: a long interval swallows later short ones (running-max island test)") {
    // user 7: [0,100) swallows [10,20) and [30,40); [150,160) is a second island.
    // Session-gap logic (compare to PREVIOUS event's end) would split after
    // [30,40) ends at 40 < 150 the same way, but fails the planted case
    // below where the long interval's end, not the previous row's, decides.
    val iv = Seq(
      (7L, 1L, 0L, 100L), (7L, 2L, 10L, 20L), (7L, 3L, 30L, 40L),
      (7L, 4L, 150L, 160L),
      // user 8: previous-row end 25 < 30 would split, but row 1's end 50 covers it
      (8L, 1L, 0L, 50L), (8L, 2L, 20L, 25L), (8L, 3L, 30L, 60L))
      .toDF("user_id", "event_id", "s", "e")
    import org.apache.spark.sql.expressions.Window
    val byStart = Window.partitionBy(col("user_id")).orderBy(col("s"), col("event_id"))
    val marked = iv
      .withColumn("pmax", max(col("e")).over(byStart.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_island", when(col("pmax") >= col("s"), lit(0L)).otherwise(lit(1L)))
    val isl = marked.withColumn("island",
      sum(col("new_island")).over(Window.partitionBy(col("user_id"))
        .orderBy(col("s"), col("e"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val got = isl.groupBy(col("user_id"), col("island"))
      .agg((max(col("e")) - min(col("s"))).as("covered"))
      .groupBy(col("user_id"))
      .agg(sum(col("covered")).as("covered"), count(lit(1)).as("islands"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(7L -> ((110L, 2L)), 8L -> ((60L, 1L))))
  }

  test("q264 face: coverage bounded by span and at least one max-duration interval") {
    val rows = Temporal.q264IntervalUnion.run(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, islands, covered) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(islands >= 1L && islands <= n)
      // every interval is at least 60s and at most 60+490*60 s long
      assert(covered >= 60L * 1000000 && covered <= n * (60L + 491L * 60L) * 1000000)
    }
  }

  test("theil-sen: one wild outlier cannot bend the median slope") {
    // y = 2x on x=0..8 except y(4)=1000. OLS slope moves wildly; the
    // pairwise-slope median stays 2.
    val daily = (0L to 8L).map(x => (x, if (x == 4) 1000L else 2 * x))
    val df = daily.map { case (x, y) =>
      (java.sql.Timestamp.valueOf(java.time.LocalDateTime.of(2024, 1, 1 + x.toInt, 0, 0)), y)
    }.flatMap { case (ts, y) => Seq.fill(y.toInt max 1)(ts) } // y events per day
      .toDF("ts")
    // replicate the face's shape on a planted frame via SQL against a view
    df.createOrReplaceTempView("ts_events")
    val daily2 = spark.sql(
      "SELECT unix_micros(date_trunc('day', ts)) div 86400000000L AS x, count(*) AS y FROM ts_events GROUP BY 1")
    val d0 = daily2.agg(min(col("x")).as("d0"))
    val d = daily2.crossJoin(d0).select((col("x") - col("d0")).as("x"), col("y").as("cnt"))
    val sl = d.as("a").join(d.as("b"), col("b.x") > col("a.x"))
      .select(((col("b.cnt").cast("double") - col("a.cnt").cast("double"))
        / (col("b.x") - col("a.x")).cast("double")).as("slope"))
    import org.apache.spark.sql.expressions.Window
    val r = sl.withColumn("rn", row_number().over(Window.orderBy(col("slope"))))
      .withColumn("n", count(lit(1)).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .filter(col("rn") === expr("(n + 1) div 2") || col("rn") === expr("n div 2 + 1"))
      .agg(avg(col("slope")).as("slope")).head().getDouble(0)
    assert(r == 2.0)
  }

  test("dyadic smoothing recurrence: v-prefix form equals s_t = (y_t + s_{t-1})/2 exactly") {
    // y = 1, 3, 5 -> s = 1, 2, 3.5 ; forecasts 1, 2 ; residuals 2, 3
    val ts = (1 to 3).map(d => java.sql.Timestamp.valueOf(
      java.time.LocalDateTime.of(2024, 2, d, 0, 0)))
    val df = Seq.fill(1)(ts(0)) ++ Seq.fill(3)(ts(1)) ++ Seq.fill(5)(ts(2))
    df.toDF("ts").createOrReplaceTempView("dy_events")
    val got = spark.sql(
      """WITH daily AS (SELECT unix_micros(date_trunc('day', ts)) div 86400000000L AS day_idx,
        |  count(*) AS y FROM dy_events GROUP BY 1),
        |seq AS (SELECT day_idx, y, CAST(ROW_NUMBER() OVER (ORDER BY day_idx) AS BIGINT) AS t FROM daily),
        |pre AS (SELECT day_idx, y, t,
        |  SUM(CASE WHEN t = 1 THEN y ELSE y * shiftleft(1L, CAST(t - 2 AS INT)) END)
        |    OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v FROM seq)
        |SELECT CAST(v AS DOUBLE) / CAST(shiftleft(1L, CAST(t - 1 AS INT)) AS DOUBLE) AS smooth
        |FROM pre ORDER BY day_idx""".stripMargin)
      .collect().map(_.getDouble(0)).toSeq
    assert(got == Seq(1.0, 2.0, 3.5))
  }

  test("contracts: planted violations are counted exactly, unique includes surplus only") {
    import Contracts._
    val df = Seq(
      (Option(1L), Option("O"), Option(10.0), Option("1-URGENT")),
      (Option(1L), Option("F"), Option(20.0), Option("5-LOW")), // dup key 1
      (Option(2L), Option("X"), Option(-5.0), Option("bad")), // bad status, range, regex
      (None: Option[Long], None: Option[String], None: Option[Double], None: Option[String]))
      .toDF("k", "status", "price", "prio")
    val got = check(df, "t", Seq(
      NotNull("k"),
      AcceptedValues("status", Seq("O", "F", "P")),
      InRange("price", 0.01, 100.0),
      MatchesRegex("prio", "[1-5]-[A-Z ]+"),
      Unique(Seq("k"))))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(got("t.k.not_null") == ((1L, 4L, false)))
    assert(got("t.status.accepted_values{O,F,P}") == ((2L, 4L, false)))
    assert(got("t.price.range[0.01,100.0]") == ((2L, 4L, false)))
    assert(got("t.prio.regex") == ((2L, 4L, false)))
    // dup key 1 contributes 1 surplus row; NULL key is its own group
    assert(got("t.(k).unique") == ((1L, 4L, false)))
  }

  test("contracts: a clean table passes every expectation") {
    import Contracts._
    val df = Seq((1L, "O", 5.0), (2L, "F", 9.5)).toDF("k", "status", "price")
    val got = check(df, "t", Seq(
      NotNull("k"), AcceptedValues("status", Seq("O", "F")),
      InRange("price", 0.0, 10.0), Unique(Seq("k"))))
      .collect()
    assert(got.length == 4 && got.forall(_.getBoolean(3)))
  }

  test("q272 face: the planted lineitem PK violation is caught, clean contracts pass") {
    val rows = Contracts.q272DataContracts.run(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getBoolean(3)).toMap
    assert(!rows("lineitem.(l_orderkey,l_linenumber).unique"))
    assert(rows("orders.(o_orderkey).unique"))
    assert(rows("orders.o_orderstatus.accepted_values{O,F,P}"))
    assert(rows("orders.o_orderpriority.regex"))
  }

  test("episode mining face: gaps bound support, trigram space bounded") {
    val rows = Temporal.q269EpisodeMining.run(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.length <= 50)
    // support never exceeds occurrences; both positive
    rows.foreach { r =>
      assert(r.getLong(3) >= 1L && r.getLong(3) <= r.getLong(4))
    }
  }

  test("local bridges: the bridge between two triangles is the only one") {
    // triangles {1,2,3} and {10,11,12}; edge 3-10 closes no wedge
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L), (3L, 10L)).toDF("a", "b")
    val got = Graph.localBridges(e)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((3L, 10L, 3L, 3L)))
  }

  test("local bridges: a 4-cycle has no triangles yet every edge is a local bridge") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("a", "b")
    assert(Graph.localBridges(e).count() == 4L)
  }

  test("count-min face: estimates never undercount (the CM guarantee)") {
    val rows = graft.ops.Layout.q273CountMinAudit.run(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(3) >= 0L, s"undercount for user ${r.getLong(0)}"))
  }

  test("epoch allocation: budget respected, epochs prefix-closed and ordered by quality*size") {
    val rows = graft.ops.TextOps.q276EpochAllocation.run(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val toks = rows.map(_.getLong(1)).sum
    val scheduled = rows.map(_.getLong(4)).sum
    assert(scheduled <= 3L * toks / 2L)
    // every source is scheduled at least once unless the budget ran out
    // while higher-utility repeats were admitted — with 1.5x budget and
    // halving marginals, epoch-1 utilities dominate, so all sources run
    assert(rows.forall(_.getLong(3) >= 1L))
  }

  test("coverage select: marginals decrease and picks are distinct sources") {
    val rows = graft.ops.TextOps.q277CoverageSelect.run(spark, sfDir).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    val marginals = rows.map(_.getLong(2))
    assert(marginals.sliding(2).forall(p => p(0) >= p(1)), "greedy marginals must decrease")
    assert(rows.map(_.getString(1)).distinct.length == 3)
  }

  test("acf face: every lag in [-1, 1], lags complete") {
    val rows = Temporal.q270Autocorrelation.run(spark, sfDir).collect()
    assert(rows.map(_.getLong(0)).toSeq == (1L to 7L))
    rows.foreach(r => assert(math.abs(r.getDouble(2)) <= 1.0 + 1e-12))
  }

  test("seasonal decomposition: a pure weekly cycle leaves remainder exactly zero") {
    // y = 7 on dow 0, else 0, for 21 days: trend = 1 everywhere interior,
    // seasonal = 6 on dow 0 and -1 otherwise, remainder = 0 EXACTLY
    // (every emitted double is a dyadic-free exact integer ratio /7)
    val rows = (0 until 21).flatMap { d =>
      val y = if (d % 7 == 0) 7 else 0
      Seq.fill(y max 0)(java.sql.Timestamp.valueOf(
        java.time.LocalDateTime.of(2024, 3, d + 1, 12, 0)))
    } // zero-count days vanish from the aggregate -> plant a 1-event floor
    val withFloor = rows ++ (0 until 21).map(d => java.sql.Timestamp.valueOf(
      java.time.LocalDateTime.of(2024, 3, d + 1, 0, 1)))
    withFloor.toDF("ts").createOrReplaceTempView("seas_events")
    val got = spark.sql(
      """WITH daily AS (SELECT unix_micros(date_trunc('day', ts)) div 86400000000L AS day_idx,
        |  count(*) AS y FROM seas_events GROUP BY 1),
        |tr AS (SELECT day_idx, y, SUM(y) OVER w AS t7, COUNT(*) OVER w AS c7,
        |         MAX(day_idx) OVER w - MIN(day_idx) OVER w AS span
        |       FROM daily WINDOW w AS (ORDER BY day_idx ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |interior AS (SELECT day_idx, y, t7, 7 * y - t7 AS d7, day_idx % 7 AS dow
        |             FROM tr WHERE c7 = 7 AND span = 6),
        |seas AS (SELECT dow, SUM(d7) AS snum, COUNT(*) AS sden FROM interior GROUP BY 1)
        |SELECT CAST(i.y AS DOUBLE) - CAST(i.t7 AS DOUBLE) / 7.0
        |  - CAST(s.snum AS DOUBLE) / (7.0 * CAST(s.sden AS DOUBLE)) AS remainder
        |FROM interior i JOIN seas s ON s.dow = i.dow""".stripMargin)
      .collect().map(_.getDouble(0))
    assert(got.nonEmpty && got.forall(_ == 0.0))
  }

  test("kmv face: small key spaces report exactly, large ones within the 3-sigma envelope") {
    val rows = graft.ops.Layout.q278KmvSketch.run(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(4)))).toMap
    val (uN, uK, uEst) = rows("event_users")
    if (uK < 64) assert(uEst == uN.toDouble) // small-set rule: sketch IS the set
    val (pN, pK, pEst) = rows("lineitem_parts")
    if (pK == 64) assert(math.abs(pEst - pN) / pN <= 3.0 / math.sqrt(62.0))
  }

  test("assortativity: a star is perfectly disassortative (r = -1)") {
    val e = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("a", "b")
    val r = Graph.degreeAssortativity(e).head().getDouble(2)
    assert(r == -1.0)
  }

  test("burstiness: sign separates periodic from bursty planted users") {
    val t0 = java.time.LocalDateTime.of(2024, 4, 1, 0, 0)
    def ev(uid: Long, offsetsS: Seq[Long]) = offsetsS.zipWithIndex.map { case (o, i) =>
      (uid, (uid * 1000 + i).toLong, java.sql.Timestamp.valueOf(t0.plusSeconds(o)))
    }
    // user 1: perfect heartbeat (equal gaps) -> sigma = 0 -> B = -1
    // user 2: three quick hits then a long silence -> B > 0
    val df = (ev(1L, Seq(0L, 60L, 120L, 180L)) ++ ev(2L, Seq(0L, 1L, 2L, 300L)))
      .toDF("user_id", "event_id", "ts")
    import org.apache.spark.sql.expressions.Window
    val byTs = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val g = df.select(col("user_id"), expr("unix_micros(ts)").as("t"),
        lead(expr("unix_micros(ts)"), 1).over(byTs).as("tn"))
      .filter(col("tn").isNotNull)
      .select(col("user_id"), expr("(tn - t) div 1000000L").as("gap_s"))
    val b = g.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_gaps"), sum(col("gap_s")).as("sg"),
        sum(col("gap_s") * col("gap_s")).as("sg2"))
      .select(col("user_id"), expr(
        """(SQRT((CAST(n_gaps AS DOUBLE) * CAST(sg2 AS DOUBLE) - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)))
          |   / CAST(n_gaps AS DOUBLE) - CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE))
          |/ (SQRT((CAST(n_gaps AS DOUBLE) * CAST(sg2 AS DOUBLE) - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)))
          |   / CAST(n_gaps AS DOUBLE) + CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE))""".stripMargin).as("b"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(b(1L) == -1.0)
    assert(b(2L) > 0.0 && b(2L) < 1.0)
  }

  test("kcore: pendant tail peels away, the triangle survives as the 2-core") {
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    val core = Graph.kcoreEdges(e, k = 2, rounds = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(core == Set((1L, 2L), (2L, 3L), (1L, 3L)))
    kcoreOnBothPaths(e, k = 2, rounds = 4)
      .foreach(got => assert(got == degreesOf(fixedRoundPeel(pairsOf(e), 2, 4))))
  }

  test("kcore: extra rounds past the fixpoint change nothing (idempotent peel)") {
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (6L, 7L), (7L, 8L)).toDF("a", "b")
    def edges(rounds: Int) = Graph.kcoreEdges(e, k = 2, rounds)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edges(6) == edges(8))
    assert(edges(6) == Set((1L, 2L), (2L, 3L), (1L, 3L))) // the 6-chain fully unravels
    for (rounds <- Seq(6, 8)) kcoreOnBothPaths(e, k = 2, rounds)
      .foreach(got => assert(got == degreesOf(fixedRoundPeel(pairsOf(e), 2, rounds))))
  }

  private val BudgetKey = "spark.graft.graph.broadcastNodeBudget"

  private def pairsOf(e: DataFrame): Set[(Long, Long)] =
    e.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** `Graph.kcore`'s (v, core_degree) rows in their order, from the
    * driver finish (the default budget) and from the distributed peel
    * (budget 0). */
  private def kcoreOnBothPaths(e: DataFrame, k: Int, rounds: Int): Seq[Seq[(Long, Long)]] = {
    def run() = Graph.kcore(e, k, rounds).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    Seq(run(), withConf(BudgetKey -> "0")(run()))
  }

  /** Each endpoint of `e` with its degree, ordered by node. */
  private def degreesOf(e: Set[(Long, Long)]): Seq[(Long, Long)] =
    e.toSeq.flatMap { case (a, b) => Seq(a, b) }.groupBy(identity)
      .map { case (v, vs) => v -> vs.size.toLong }.toSeq.sorted

  /** The pre-fixpoint-exit peel: exactly `rounds` rounds, always. */
  private def fixedRoundPeel(e: Set[(Long, Long)], k: Int, rounds: Int): Set[(Long, Long)] =
    (1 to rounds).foldLeft(e) { (cur, _) =>
      val deg = cur.toSeq.flatMap { case (a, b) => Seq(a, b) }
        .groupBy(identity).map { case (v, vs) => v -> vs.size }
      cur.filter { case (a, b) => deg(a) >= k && deg(b) >= k }
    }

  test("kcore: a graph that converges before the round budget equals the fixed-round peel") {
    // triangle + 2-edge pendant tail: the 2-core is reached after 2 rounds
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
    val e = pairs.toDF("a", "b")
    def peel(rounds: Int) = countJobs(Graph.kcoreEdges(e, k = 2, rounds)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    val (got, jobsAt10) = peel(10)
    assert(got == fixedRoundPeel(pairs.toSet, 2, 10))
    assert(got == Set((1L, 2L), (2L, 3L), (1L, 3L)))
    // past the fixpoint the budget costs no further rounds
    val (_, jobsAt4) = peel(4)
    assert(jobsAt10 == jobsAt4, s"budget 10 ran $jobsAt10 jobs, budget 4 ran $jobsAt4")
    for (rounds <- Seq(4, 10)) kcoreOnBothPaths(e, k = 2, rounds)
      .foreach(got => assert(got == degreesOf(fixedRoundPeel(pairs.toSet, 2, rounds))))
  }

  test("kcore: when the round budget binds, the result equals the fixed-round peel") {
    // a 6-edge chain hanging off a triangle peels one node per round
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (6L, 7L), (7L, 8L), (8L, 9L))
    val got = Graph.kcoreEdges(pairs.toDF("a", "b"), k = 2, rounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = fixedRoundPeel(pairs.toSet, 2, 2)
    assert(got == want)
    assert(want != fixedRoundPeel(pairs.toSet, 2, 10), "the budget must bind on this graph")
    kcoreOnBothPaths(pairs.toDF("a", "b"), k = 2, rounds = 2)
      .foreach(got => assert(got == degreesOf(want)))
  }

  test("q284 face: stationary mass stays within the flooring leak, alphabet complete") {
    val rows = Temporal.q284MarkovStationary.run(spark, sfDir).collect()
    assert(rows.length == 5)
    val total = rows.map(_.getLong(1)).sum
    // start mass is 5 x 200000; each of 4 rounds floors away < 1 micro
    // per (cur, nxt) cell, 25 cells
    assert(total <= 1000000L && total >= 1000000L - 4L * 25L)
  }

  test("q283 face: identical shingle sets imply identical signatures (err 0 at J = 1)") {
    val rows = graft.ops.Dedup.q283MinhashAudit.run(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (m, est, exact) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(m >= 0L && m <= 8L && est == m * 125000L)
      if (exact == 1000000L) assert(m == 8L, "J=1 pairs must agree on every component")
    }
  }

  test("transitivity audit face: closure is a well-formed fraction of wedges") {
    val r = graft.ops.Dedup.q285TransitivityAudit.run(spark, sfDir).head()
    val (edges, wedges, closed, micro) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(edges >= 0L && closed <= wedges)
    assert(micro >= 0L && micro <= 1000000L)
    if (wedges > 0) assert(micro == closed * 1000000L / wedges)
  }

  test("synthetic generator: zero-input corpus is complete, bounded, and reproducible") {
    val a = graft.ops.Layout.q286SyntheticGen.run(spark, sfDir).collect()
    assert(a.map(_.getLong(1)).sum == 100000L)
    assert(a.length == 16 && a.map(_.getInt(0)).toSeq == (0 until 16))
    a.foreach { r =>
      assert(r.getLong(3) >= 0L && r.getLong(4) < 100000L) // value range
    }
    // pure function of ids: a second run is bit-identical
    val b = graft.ops.Layout.q286SyntheticGen.run(spark, sfDir).collect()
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq)
  }

  test("cdc apply face: deletes remove exactly the keys the changelog deletes") {
    val live = graft.ops.Analytics.q287CdcApply.run(spark, sfDir)
      .collect().map(_.getLong(1)).sum
    val o = graft.sources.Tables.orders(spark, sfDir)
    val total = o.count()
    val deleted = o.filter(col("o_orderkey") % 8 === 7).count()
    assert(live == total - deleted)
  }

  test("pass@k face: estimator dominates pass@1, Wilson brackets the point rate") {
    val rows = graft.ops.Classifier.q288PassAtK.run(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, c) = (r.getLong(1), r.getLong(2))
      val (p1, p5, lo, hi) = (r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6))
      assert(p5 >= p1 - 1e-12 && p5 <= 1.0 + 1e-12 && p1 >= 0.0)
      assert(lo <= c.toDouble / n + 1e-12 && hi >= c.toDouble / n - 1e-12)
      assert(lo >= 0.0 && hi <= 1.0)
      if (c == 0L) assert(p5 == 0.0)
      if (n - c < 5L) assert(p5 == 1.0)
    }
  }

  test("chao1 face: the estimate never falls below the observed vocabulary") {
    val rows = graft.ops.TextOps.q289Chao1.run(spark, sfDir).collect()
    assert(rows.map(_.getString(0)).toSet == Set("de", "en", "es", "fr", "zh"))
    rows.foreach { r =>
      assert(r.getDouble(5) >= r.getLong(2).toDouble) // chao1 >= V
      assert(r.getDouble(6) >= 0.0 && r.getDouble(6) <= 1.0)
    }
  }

  test("diff-in-diff face: cells partition the corpus and the headline matches its own cells") {
    val r = graft.ops.Analytics.q293DiffInDiff.run(spark, sfDir).head()
    val n = (0 to 3).map(r.getLong)
    val sums = (4 to 7).map(r.getLong)
    assert(n.sum == graft.sources.Tables.events(spark, sfDir).count())
    val did = (sums(0).toDouble / n(0) - sums(1).toDouble / n(1)) -
      (sums(2).toDouble / n(2) - sums(3).toDouble / n(3))
    assert(math.abs(r.getDouble(8) - did) < 1e-9)
  }

  test("ndv estimate face: sample is ~10%, every estimator at least the observed distinct") {
    val r = graft.ops.Layout.q294NdvEstimate.run(spark, sfDir).head()
    val (nRows, exact, nSample, d) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(nSample >= nRows / 20 && nSample <= nRows / 5, s"sample $nSample of $nRows")
    assert(d <= exact)
    assert(r.getDouble(6) >= d.toDouble && r.getDouble(7) >= d.toDouble)
  }

  test("kendall tau: planted monotone pairs hit +1, anti-monotone -1 (hand logic)") {
    def tau(pairsXY: Seq[(Long, Long)]): Double = {
      val xy = pairsXY.zipWithIndex.map { case ((x, y), d) => (d.toLong, x, y) }
        .toDF("d", "x", "y")
      val pr = xy.as("a").join(xy.as("b"), col("b.d") > col("a.d"))
        .select(
          when((col("b.x") - col("a.x")) * (col("b.y") - col("a.y")) > 0, 1L).otherwise(0L).as("con"),
          when((col("b.x") - col("a.x")) * (col("b.y") - col("a.y")) < 0, 1L).otherwise(0L).as("dis"),
          when(col("b.x") === col("a.x"), 1L).otherwise(0L).as("tx"),
          when(col("b.y") === col("a.y"), 1L).otherwise(0L).as("ty"))
      pr.agg(count(lit(1)).as("n0"), sum(col("con")).as("c"), sum(col("dis")).as("dd"),
          sum(col("tx")).as("n1"), sum(col("ty")).as("n2"))
        .select(expr("CAST(c - dd AS DOUBLE) / SQRT(CAST(n0 - n1 AS DOUBLE) * CAST(n0 - n2 AS DOUBLE))"))
        .head().getDouble(0)
    }
    assert(tau(Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L))) == 1.0)
    assert(tau(Seq((1L, 40L), (2L, 30L), (3L, 20L), (4L, 10L))) == -1.0)
  }

  test("q296/q297 faces: tau and every ccf bounded, lags complete, lag-0 terms = days") {
    val t = Temporal.q296KendallTau.run(spark, sfDir).head()
    assert(math.abs(t.getDouble(5)) <= 1.0)
    val cc = Temporal.q297CrossCorrelation.run(spark, sfDir).collect()
    assert(cc.map(_.getLong(0)).toSeq == (-7L to 7L))
    cc.foreach(r => assert(math.abs(r.getDouble(2)) <= 1.0 + 1e-12))
    val nDays = cc.find(_.getLong(0) == 0L).get.getLong(1)
    assert(cc.forall(_.getLong(1) <= nDays))
  }

  test("effect size face: cohen_d consistent with its own moments, sizing positive") {
    val r = graft.ops.Analytics.q295EffectSize.run(spark, sfDir).head()
    assert(math.abs(r.getDouble(4) - r.getDouble(2) / r.getDouble(3)) < 1e-12)
    assert(r.getLong(5) >= 1L)
  }

  test("ops scorecard face: five audits, the planted contract failure surfaces") {
    val rows = Contracts.q298OpsScorecard.run(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.keySet == Set("benford_max_chi2_micro", "contracts_failed",
      "gini_micro", "kmv_err_micro", "stationary_leak_micro"))
    assert(rows("contracts_failed") == 1L) // the lineitem composite-PK violation
    assert(rows("gini_micro") >= 0L && rows("gini_micro") <= 1000000L)
    assert(rows("stationary_leak_micro") >= 0L && rows("stationary_leak_micro") <= 100L)
  }

  test("weighted median face: the selected price splits quantity mass in half") {
    val rows = graft.ops.Analytics.q299WeightedMedian.run(spark, sfDir).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("A", "N", "R"))
    val li = graft.sources.Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag").as("f"),
        expr("CAST(FLOOR(l_extendedprice * 100) AS BIGINT)").as("cents"),
        expr("CAST(FLOOR(l_quantity) AS BIGINT)").as("qty"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    rows.foreach { r =>
      val (f, tw, med) = (r.getString(0), r.getLong(1), r.getLong(2))
      val grp = li.filter(_._1 == f)
      assert(grp.map(_._3).sum == tw)
      val below = grp.filter(_._2 < med).map(_._3).sum
      val atOrBelow = grp.filter(_._2 <= med).map(_._3).sum
      assert(2 * below < tw || 2 * below == tw,
        s"$f: strictly-below mass must not exceed half")
      assert(2 * atOrBelow >= tw, s"$f: at-or-below mass must reach half")
    }
  }

  test("latency histogram face: buckets partition all gaps, bounds are powers of two") {
    val rows = Temporal.q300LatencyHistogram.run(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (b, lo) = (r.getLong(0), r.getLong(1))
      assert(lo == (1L << b.toInt))
    }
    assert(rows.last.getLong(3) == 1000000L) // cumulative share ends at exactly 1
    val nGaps = rows.map(_.getLong(2)).sum
    val ev = graft.sources.Tables.events(spark, sfDir)
    val users = ev.select(col("user_id")).distinct().count()
    assert(nGaps == ev.count() - users) // one gap fewer than events, per user
  }

  test("entry/exit face: bounces only on the diagonal, sessions conserve events") {
    val rows = Temporal.q301EntryExit.run(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (en, ex, ns, nb, te) = (r.getString(0), r.getString(1),
        r.getLong(2), r.getLong(3), r.getLong(4))
      if (nb > 0) assert(en == ex, "a single-event session enters and exits on the same type")
      assert(nb <= ns && te >= ns)
    }
    assert(rows.map(_.getLong(4)).sum ==
      graft.sources.Tables.events(spark, sfDir).count())
  }

  test("walker convergence: round deltas contract (the 0.85 damping bound, observed)") {
    val rows = Graph.q302WalkerConvergence.run(spark, sfDir).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    val l1 = rows.map(_.getLong(1))
    assert(l1.sliding(2).forall(p => p(1) <= p(0)), "L1 movement must not grow")
  }

  test("joinability face: declared FK pairs score full containment, counts consistent") {
    val rows = graft.ops.Layout.q304Joinability.run(spark, sfDir).collect()
    assert(rows.length == 8)
    rows.foreach { r =>
      val (ndvA, common, micro) = (r.getLong(2), r.getLong(4), r.getLong(5))
      assert(common <= ndvA && micro == common * 1000000L / ndvA)
    }
    val byA = rows.map(r => r.getString(0) -> r.getLong(5)).toMap
    assert(byA("lineitem.l_orderkey") == 1000000L) // every lineitem order exists
    assert(byA("nation.n_regionkey") == 1000000L)
  }

  test("fd discovery face: PKs determine, the planted composite-PK defect fails its FD") {
    val rows = graft.ops.Layout.q305FdDiscovery.run(spark, sfDir)
      .collect().map(r => r.getString(0) -> ((r.getLong(3), r.getBoolean(4)))).toMap
    assert(rows("orders: o_orderkey -> o_custkey") == ((0L, true)))
    assert(rows("customer: c_custkey -> c_nationkey") == ((0L, true)))
    assert(!rows("lineitem: (l_orderkey,l_linenumber) -> l_partkey")._2,
      "the planted PK violation must surface as FD violations")
    assert(!rows("events: user_id -> event_type")._2)
  }

  test("contrast audit face: ordering of the distance order statistics") {
    val r = graft.ops.Similarity.q303ContrastAudit.run(spark, sfDir).head()
    val (n, mn, mnz, med, mean, mx) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
    assert(n > 0 && mn <= mnz && mnz <= med && med <= mx && mn <= mean && mean <= mx)
    assert(r.getLong(7) >= 0L)
  }

  test("sorted neighborhood face: pairs are sort-adjacent, verified, and loop-free") {
    val rows = graft.ops.Dedup.q306SortedNeighborhood.run(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getString(0) < r.getString(1), "window pairs follow sort order")
      assert(r.getLong(2) >= 1L && r.getLong(2) <= 4L)
    }
  }

  test("freshness face: one feed defines the high-water mark (lag 0), lags nonnegative") {
    val rows = Temporal.q307FreshnessAudit.run(spark, sfDir).collect()
    assert(rows.map(_.getString(0)).toSet ==
      Set("click", "error", "purchase", "signup", "view"))
    assert(rows.count(_.getLong(4) == 0L) >= 1)
    rows.foreach(r => assert(r.getLong(4) >= 0L))
  }

  test("qini face: deciles partition users, conversions bounded by arms") {
    val rows = graft.ops.Classifier.q308QiniUplift.run(spark, sfDir).collect()
    assert(rows.map(_.getLong(0)).toSeq == (1L to 10L))
    val users = graft.sources.Tables.events(spark, sfDir)
      .select(col("user_id")).distinct().count()
    assert(rows.map(r => r.getLong(1) + r.getLong(2)).sum == users)
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(1) && r.getLong(4) <= r.getLong(2))
    }
  }

  test("aa harness face: sixteen splits, arms partition events, deltas are noise-sized") {
    val rows = graft.ops.Analytics.q309AaHarness.run(spark, sfDir).collect()
    assert(rows.map(_.getLong(0)).toSeq == (0L to 15L))
    val total = graft.sources.Tables.events(spark, sfDir).count()
    rows.foreach(r => assert(r.getLong(1) + r.getLong(2) == total))
  }

  test("pvm bridge face: the three effects reconstruct the exact revenue delta") {
    val rows = Temporal.q310PvmBridge.run(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val recon = r.getDouble(6) + r.getDouble(7) + r.getDouble(8)
      assert(math.abs(recon - r.getLong(5).toDouble) < 1e-6,
        s"${r.getString(0)}: effects must bridge the delta")
    }
  }

  test("abc face: classes cover all revenue, A dominates per part") {
    val rows = graft.ops.Analytics.q311AbcClasses.run(spark, sfDir)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(rows.keySet.subsetOf(Set("A", "B", "C")) && rows.contains("A"))
    val li = graft.sources.Tables.lineitem(spark, sfDir)
    val totalCents = li.agg(sum(expr("CAST(FLOOR(l_extendedprice * 100) AS BIGINT)")))
      .head().getLong(0)
    assert(rows.values.map(_._2).sum == totalCents)
    // A-class parts each carry more than C-class parts on average
    for (a <- rows.get("A"); c <- rows.get("C"))
      assert(a._2 / a._1 > c._2 / c._1)
  }

  test("hierarchy rollup: every node's subtree includes itself plus all descendants (hand tree)") {
    // parent(k) = k div 4 over the face; pin the face's conservation law:
    // the root 0's subtree must carry ALL part revenue
    val rows = Graph.q312HierarchyRollup.run(spark, sfDir).collect()
    val byNode = rows.map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val li = graft.sources.Tables.lineitem(spark, sfDir)
    val total = li.agg(sum(expr("CAST(FLOOR(l_extendedprice * 100) AS BIGINT)")))
      .head().getLong(0)
    val nParts = graft.sources.Tables.part(spark, sfDir).count()
    assert(byNode(0L) == ((nParts - 1, total)),
      "root subtree = every other part as descendant + all revenue")
    // monotone: a child's subtree never exceeds its parent's
    rows.foreach { r =>
      val node = r.getLong(0)
      if (node > 0) byNode.get(node / 4).foreach { case (_, parentCents) =>
        assert(r.getLong(2) <= parentCents)
      }
    }
  }

  test("luhn audit face: minted numbers all pass, any single-digit bump always fails") {
    val rows = Contracts.q313LuhnAudit.run(spark, sfDir)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val (nM, vM) = rows("minted")
    val (nC, vC) = rows("corrupted")
    assert(nM == nC && vM == nM, "every minted PAN must verify")
    assert(vC == 0L, "Luhn detects every single-digit substitution")
  }

  test("residual anomaly face: flags agree with the emitted remainder and robust scale") {
    val rows = Temporal.q314ResidualAnomaly.run(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val rs = rows.map(_.getDouble(2)).sorted
    def med(a: Array[Double]) = (a((a.length + 1) / 2 - 1) + a(a.length / 2 + 1 - 1)) / 2
    val m = med(rs)
    val mad = med(rows.map(r => math.abs(r.getDouble(2) - m)).sorted)
    rows.foreach { r =>
      val expected = math.abs(r.getDouble(2) - m) > 3.0 * 1.4826 * mad
      assert(r.getBoolean(3) == expected)
    }
  }

  test("trending movers face: gains are first-minus-second rank, sorted by magnitude") {
    val rows = graft.ops.Analytics.q315TrendingMovers.run(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    rows.foreach(r => assert(r.getLong(3) == r.getLong(1) - r.getLong(2)))
    val mags = rows.map(r => math.abs(r.getLong(3)))
    assert(mags.sliding(2).forall(p => p(0) >= p(1)))
  }

  test("t-closeness face: t in [0, 1e6]; a single-source planted class maxes out") {
    val rows = graft.ops.TextOps.q316TCloseness.run(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(3) >= 0L && r.getLong(3) <= 1000000L))
    // TV distance to a 20-way global from a 1-doc class is near 1 - n_s/N;
    // every 1-doc class must sit above any 300k-micro threshold
    rows.filter(_.getLong(2) == 1L).foreach(r =>
      assert(r.getLong(3) > 300000L && r.getBoolean(4)))
  }

  test("topk+other face: shares cover everything, OTHER carries the residual exactly") {
    val rows = graft.ops.Analytics.q317TopkOther.run(spark, sfDir).collect()
    assert(rows.map(_.getLong(0)).toSeq == (1L to 11L))
    assert(rows.last.getString(1) == "OTHER")
    val li = graft.sources.Tables.lineitem(spark, sfDir)
    val total = li.agg(sum(expr("CAST(FLOOR(l_extendedprice * 100) AS BIGINT)")))
      .head().getLong(0)
    assert(rows.map(_.getLong(3)).sum == total)
    val nParts = li.select(col("l_partkey")).distinct().count()
    assert(rows.map(_.getLong(2)).sum == nParts)
  }

  test("bitmap index face: every conjunction answered from the index matches the rows") {
    val rows = graft.ops.Layout.q318BitmapIndex.run(spark, sfDir).collect()
    assert(rows.length == 6)
    rows.foreach { r =>
      assert(r.getBoolean(4), s"${r.getString(0)}/${r.getString(1)}: index must be exact")
      assert(r.getLong(2) == r.getLong(3))
    }
    assert(rows.map(_.getLong(2)).sum ==
      graft.sources.Tables.lineitem(spark, sfDir).count())
  }

  test("b-bit minhash face: compressed matches dominate full matches, J=1 still saturates") {
    val rows = graft.ops.Dedup.q319BbitMinhash.run(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (bb, fm) = (r.getLong(2), r.getLong(3))
      // dropping bits can only CREATE matches, never destroy them
      assert(bb >= fm && bb <= 8L && fm >= 0L)
      if (r.getLong(6) == 1000000L) { // exact J = 1
        assert(fm == 8L && bb == 8L && r.getLong(4) == 1000000L)
      }
      assert(r.getLong(4) >= 0L && r.getLong(4) <= 1000000L)
    }
  }

  test("histogram quantiles face: the bucket bound never under-reads the exact quantile") {
    val rows = Temporal.q320HistogramQuantiles.run(spark, sfDir).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("p50", "p90", "p99"))
    rows.foreach { r =>
      val (exact, est, over) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(est >= exact, s"${r.getString(0)}: upper bucket bound must dominate")
      assert(est < 2 * exact + 2, s"${r.getString(0)}: log2 buckets over-read at most 2x")
      assert(over == (est - exact) * 1000000L / exact)
    }
  }

  test("dispersion face: feeds share the corpus hour span; dispersion nonnegative") {
    val rows = Temporal.q321DispersionAudit.run(spark, sfDir).collect()
    assert(rows.map(_.getString(0)).toSet ==
      Set("click", "error", "purchase", "signup", "view"))
    val spans = rows.map(_.getLong(1)).distinct
    assert(spans.length == 1, "every feed measures against the same corpus hour grid")
    rows.foreach { r =>
      assert(r.getDouble(4) >= 0.0)
      assert(r.getBoolean(5) == (r.getDouble(4) > 2.0))
    }
  }

  test("growth accounting face: both conservation laws hold on every day") {
    val rows = Temporal.q322GrowthAccounting.run(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    assert(rows.nonEmpty)
    rows.foreach { case (_, (nw, ret, res, _, dau)) =>
      assert(nw + ret + res == dau, "every active user-day is exactly one status")
    }
    val days = rows.keys.toSeq.sorted
    days.sliding(2).foreach { case Seq(y, t) if t == y + 1 =>
      val dauY = rows(y)._5
      assert(rows(t)._4 == dauY - rows(t)._2,
        s"day $t: churned must equal yesterday's DAU minus today's retained")
    case _ => ()
    }
  }

  test("qte face: nine deciles, per-arm quantiles monotone, effect is the difference") {
    val rows = graft.ops.Analytics.q323QuantileEffects.run(spark, sfDir).collect()
    assert(rows.map(_.getLong(0)).toSeq == (1L to 9L))
    rows.foreach(r => assert(r.getLong(3) == r.getLong(1) - r.getLong(2)))
    val t = rows.map(_.getLong(1)); val c = rows.map(_.getLong(2))
    assert(t.sliding(2).forall(p => p(0) <= p(1)), "treated quantiles monotone")
    assert(c.sliding(2).forall(p => p(0) <= p(1)), "control quantiles monotone")
  }

  test("wilson ranking face: the bound shrinks toward zero and never exceeds the naive share") {
    val rows = graft.ops.Analytics.q324WilsonRanking.run(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    rows.foreach { r =>
      val (naive, lo) = (r.getLong(3), r.getDouble(4))
      assert(lo >= 0.0 && lo <= naive.toDouble / 1000000.0 + 1e-12,
        "the lower bound must not exceed the point estimate")
    }
    val los = rows.map(_.getDouble(4))
    assert(los.sliding(2).forall(p => p(0) >= p(1)))
  }

  test("textrank face: keywords obey the syntactic filter and ranks order the output") {
    val rows = Graph.q279Textrank.run(spark, sfDir).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getString(0).matches("[a-z]{4,}")))
    val ranks = rows.map(_.getLong(1))
    assert(ranks.sliding(2).forall(p => p(0) >= p(1)))
  }
}
