package graft

import org.apache.spark.sql.functions._
import graft.ops.Graph

/** Pins the fixed-point PageRank trajectory on hand-computed graphs —
  * the exact micro-unit ranks after each floor-divide/floor-damp round,
  * plus the co-occurrence edge builder's symmetry/distinctness. */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def edges(pairs: (Long, Long)*) =
    pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .toDF("src", "dst")

  test("uniform graph is a fixed point: triangle ranks stay 1_000_000") {
    val got = Graph.pagerank(edges((1L, 2L), (2L, 3L), (1L, 3L)), rounds = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(
      1L -> ((1000000L, 2L)), 2L -> ((1000000L, 2L)), 3L -> ((1000000L, 2L))))
  }

  test("path graph 1-2-3: hand-computed ranks after 2 rounds") {
    // r1: ends 575_000, middle 1_850_000
    // r2: ends 150000+floor(.85*925000)=936_250, middle 150000+floor(.85*1150000)=1_127_500
    val got = Graph.pagerank(edges((1L, 2L), (2L, 3L)), rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 936250L, 2L -> 1127500L, 3L -> 936250L))
  }

  test("co-occurrence edges are symmetric, distinct, and loop-free") {
    val df = Seq((10L, 1L), (10L, 2L), (10L, 2L), (10L, 3L), (20L, 1L), (20L, 4L))
      .toDF("g", "id")
    val e = Graph.coOccurrenceEdges(df, "g", "id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(e == Set((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L), (2L, 3L), (3L, 2L),
      (1L, 4L), (4L, 1L)))
  }

  test("label propagation: bridged triangles converge to two communities, hand-traced") {
    // Triangles {1,2,3} and {10,11,12} plus bridge 3-10. The sync
    // mode/lowest-label trajectory lands {1,2,3}→1 and {10,11,12}→3
    // after 3 rounds — the bridge does NOT merge the communities.
    val e = edges((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L), (3L, 10L))
    val got = Graph.labelPropagation(e, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 3L, 11L -> 3L, 12L -> 3L))
  }

  test("label propagation: star graph oscillates synchronously — pinned trajectory") {
    // Bipartite sync-LPA oscillation is a documented property of the
    // synchronous sweep (Raghavan 2007 §III): center and leaves swap
    // label generations each round. Pinning the round-3 state proves the
    // implementation is the deterministic synchronous variant.
    val e = edges((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L))
    val r3 = Graph.labelPropagation(e, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r3 == Map(0L -> 1L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 0L))
  }

  test("q153 contract face is deterministic and members sum to the node count") {
    val a = graft.ops.Graph.q153LabelProp.run(spark, sfDir).collect().toSeq
    val b = graft.ops.Graph.q153LabelProp.run(spark, sfDir).collect().toSeq
    assert(a.nonEmpty && a.map(_.toSeq) == b.map(_.toSeq))
    val li = graft.sources.Tables.lineitem(spark, sfDir)
    val nodes = Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey")
      .select("src").distinct().count()
    // ≤ 100 communities on the fixture, so the summary covers every node
    assert(a.map(_.getLong(1)).sum == nodes)
  }

  test("fixture co-purchase graph: every node keeps degree and a positive rank") {
    val li = graft.sources.Tables.lineitem(spark, sfDir)
    val out = Graph.pagerank(
      Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey"), rounds = 2)
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(1) >= 150000L, s"rank below damping floor: $r")
      assert(r.getLong(2) >= 1L)
    }
  }

  private def matches(ms: (String, String)*) = ms.toDF("w_src", "l_src")

  test("personalized PageRank: path graph with seed 1, hand-computed two rounds") {
    // n=3, |S|=1 -> tele(1) = 150000*3 = 450000, tele(2)=tele(3)=0
    // r0: (450000, 0, 0)
    // r1: 1 -> 450000; 2 -> floor(.85*450000) = 382500; 3 -> 0
    // r2: c1=450000, c2=floor(382500/2)=191250
    //     1 -> 450000+floor(.85*191250)=612562; 2 -> 382500; 3 -> floor(.85*191250)=162562
    val seeds = Seq(1L).toDF("seed")
    val got = Graph.personalizedPagerank(edges((1L, 2L), (2L, 3L)), seeds, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 612562L, 2L -> 382500L, 3L -> 162562L), got.toString)
  }

  test("personalized PageRank: mass stays in the seed component") {
    // two disconnected triangles; seeds only in the first
    val e = edges((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L), (10L, 12L))
    val got = Graph.personalizedPagerank(e, Seq(1L).toDF("seed"), rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.filterKeys(_ >= 10L).values.forall(_ == 0L),
      s"unreachable component must hold zero mass: $got")
    assert(got(1L) > got(2L) && got(2L) == got(3L),
      s"seed must dominate, symmetric neighbors tie: $got")
  }

  test("Bradley-Terry: single dominated pair reaches its hand-computed fixed point") {
    // A beats B twice; with the virtual win each way: w(A,B)=3, w(B,A)=1,
    // n=4, W_A=3, W_B=1. Round 1: D = floor(4e12/2e6) = 2e6 for both,
    // p_A = floor(3e12/2e6) = 1_500_000, p_B = 500_000 — and p_A+p_B is
    // unchanged, so rounds 2/3 are a fixed point.
    val got = Graph.bradleyTerry(matches(("A", "B"), ("A", "B")), rounds = 3)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map("A" -> ((1500000L, 3L, 4L)), "B" -> ((500000L, 1L, 4L))))
  }

  test("Bradley-Terry: a dominance chain orders strictly and an even split ties") {
    val chain = Graph.bradleyTerry(matches(
      Seq.fill(5)(("A", "B")) ++ Seq.fill(5)(("B", "C")) ++ Seq.fill(5)(("A", "C")): _*),
      rounds = 3).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(chain("A") > chain("B") && chain("B") > chain("C"), s"chain not ordered: $chain")
    val even = Graph.bradleyTerry(matches(
      Seq.fill(3)(("X", "Y")) ++ Seq.fill(3)(("Y", "X")): _*),
      rounds = 3).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(even("X") == even("Y"), s"even split must tie: $even")
  }

  test("q243: planted frequent-core triangle counts and clustering coefficients, hand-computed") {
    val dir = tempDir("graft-tri").toString
    // orders 1,2 each hold parts {1,2,3} → support-2 edges (1,2)(1,3)(2,3);
    // orders 3,4 each hold {1,4} → edge (1,4), no triangle; orders 5 holds
    // {5,6} once → below support, no edge
    Seq(
      (1L, 1L), (1L, 2L), (1L, 3L), (2L, 1L), (2L, 2L), (2L, 3L),
      (3L, 1L), (3L, 4L), (4L, 1L), (4L, 4L),
      (5L, 5L), (5L, 6L))
      .toDF("l_orderkey", "l_partkey")
      .write.parquet(s"$dir/lineitem.parquet")
    val got = Graph.q243Triangles.run(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // part 4 has degree 1 (excluded); part 1: deg 3, one triangle,
    // cc = 2e6 DIV (3·2); parts 2,3: deg 2, cc = 2e6 DIV 2
    assert(got == Map(
      1L -> ((3L, 1L, 333333L)),
      2L -> ((2L, 1L, 1000000L)),
      3L -> ((2L, 1L, 1000000L))))
    // fixture-wide identities: participation counts sum to 3·Δ, and a
    // clustering coefficient never exceeds 1
    val fix = Graph.q243Triangles.run(spark, sfDir).collect()
    assert(fix.nonEmpty)
    assert(fix.map(_.getLong(2)).sum % 3 == 0)
    assert(fix.forall(r => r.getLong(3) <= 1000000L))
    assert(fix.exists(_.getLong(2) > 0))
  }

  test("q173 face: strengths positive, wins <= games, ordered by strength") {
    val rows = Graph.q173BradleyTerry.run(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) > 0L)
      assert(r.getLong(2) <= r.getLong(3))
    }
    val s = rows.map(_.getLong(1)).toSeq
    assert(s == s.sorted.reverse)
  }

  test("walkers are plan-invariant: the budget-0 shuffle path equals the broadcast path") {
    // The size gate chooses a PLAN, never an answer: force the
    // co-partitioned fallback and compare every walker bit-for-bit.
    val e = edges((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
    val dirE = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("seed")
    def all() = Seq(
      Graph.pagerank(e, rounds = 2).collect().map(_.toString).sorted.toSeq,
      Graph.labelPropagation(e, rounds = 2).collect().map(_.toString).sorted.toSeq,
      Graph.bfsDistances(e, seeds, maxHops = 3).collect().map(_.toString).sorted.toSeq,
      Graph.bfsPerSeed(e, Seq(1L, 4L).toDF("seed"), maxHops = 3)
        .collect().map(_.toString).sorted.toSeq,
      Graph.transitiveClosureFixpoint(e.unionByName(dirE))
        .collect().map(_.toString).sorted.toSeq,
      Graph.pagerankDirected(dirE, rounds = 2).collect().map(_.toString).sorted.toSeq,
      Graph.hits(dirE, rounds = 2).collect().map(_.toString).sorted.toSeq,
      Graph.walkCorpus(e, steps = 3, seedMod = 1).collect().map(_.toString).sorted.toSeq,
      Graph.node2vecWalks(e, steps = 3, seedMod = 1).collect().map(_.toString).sorted.toSeq,
      Graph.sccCyclic(e.unionByName(dirE)).collect().map(_.toString).sorted.toSeq,
      Graph.betweennessSampled(e, seeds).collect().map(_.toString).sorted.toSeq,
      Graph.modularityOf(e, Graph.labelPropagation(e, rounds = 2))
        .collect().map(_.toString).sorted.toSeq,
      Graph.misByHash(e).collect().map(_.toString).sorted.toSeq,
      Graph.wlColors(e, rounds = 2).collect().map(_.toString).sorted.toSeq,
      Graph.walkCoverage(e, Seq(1L).toDF("node"),
          Graph.walkCorpus(e, steps = 3, seedMod = 1), maxStep = 3, nNodes = 5)
        .collect().map(_.toString).sorted.toSeq)
    val hinted = all()
    withConf(BudgetKey -> "0") {
      assert(all() == hinted, "shuffle-path walkers must equal the broadcast-path walkers")
    }
  }

  private val BudgetKey = "spark.graft.graph.broadcastNodeBudget"

  test("every round loop and edge pin keeps its job count on both plan paths") {
    // Small fixed graphs; every entry runs from an empty cache, so its
    // count is the loop's own: rounds × the jobs per round, the pin's
    // co-partition jobs over budget, and the caller's collect.
    val e = edges((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (3L, 7L), (7L, 8L),
      (6L, 9L), (9L, 10L), (10L, 6L))
    val dirE = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 4L),
      (6L, 1L), (5L, 7L), (8L, 8L)).toDF("src", "dst")
    val core = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L), (5L, 7L), (6L, 7L), (7L, 8L)).toDF("a", "b")
    val seeds = Seq(1L, 8L).toDF("seed")
    val ccNodes = (0L to 30L).toDF("doc_id")
    val ccPairs = (Seq((10L, 11L), (11L, 12L), (20L, 21L)) ++
      (0L until 6L).map(i => (i, i + 1))).toDF("doc_a", "doc_b")
    val loops: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "kcoreEdges" -> (() => Graph.kcoreEdges(core, k = 3, rounds = 5)),
      "bfsDistances capped" -> (() => Graph.bfsDistances(e, seeds, maxHops = 2)),
      "bfsDistances drained" -> (() => Graph.bfsDistances(e, seeds, maxHops = 10)),
      "bfsPerSeed capped" -> (() => Graph.bfsPerSeed(e, seeds, maxHops = 2)),
      "bfsPerSeed drained" -> (() => Graph.bfsPerSeed(e, seeds, maxHops = 10)),
      "transitiveClosureFixpoint" -> (() => Graph.transitiveClosureFixpoint(dirE)),
      "sccCyclic" -> (() => Graph.sccCyclic(dirE)),
      "misByHash" -> (() => Graph.misByHash(e)),
      "pagerank" -> (() => Graph.pagerank(e, rounds = 2)),
      "labelPropagation" -> (() => Graph.labelPropagation(e, rounds = 2)),
      "pagerankDirected" -> (() => Graph.pagerankDirected(dirE, rounds = 2)),
      "hits" -> (() => Graph.hits(dirE, rounds = 2)),
      "betweennessSampled" -> (() => Graph.betweennessSampled(e, seeds)),
      "wlColors" -> (() => Graph.wlColors(e, rounds = 2)),
      "connectedComponents propagation" -> (() =>
        graft.ops.Dedup.connectedComponents(ccNodes, ccPairs, localEdgeThreshold = 0)),
      "connectedComponentsStar" -> (() =>
        graft.ops.Dedup.connectedComponentsStar(ccNodes, ccPairs)))
    def measure(): Map[String, Int] = loops.map { case (name, run) =>
      graft.ops.releaseStageBoundaries()
      name -> countJobs(run().collect())._2
    }.toMap
    val hinted = measure()
    val shuffled = withConf(BudgetKey -> "0")(measure())
    val want = Map(
      "kcoreEdges" -> 11,
      "bfsDistances capped" -> 13,
      "bfsDistances drained" -> 37,
      "bfsPerSeed capped" -> 13,
      "bfsPerSeed drained" -> 42,
      "transitiveClosureFixpoint" -> 40,
      "sccCyclic" -> 66,
      "misByHash" -> 14,
      "pagerank" -> 15,
      "labelPropagation" -> 12,
      "pagerankDirected" -> 35,
      "hits" -> 40,
      "betweennessSampled" -> 25,
      "wlColors" -> 15,
      "connectedComponents propagation" -> 47,
      "connectedComponentsStar" -> 50)
    // over budget the pin adds its co-partition jobs and the gated
    // joins plan as shuffles
    val wantShuffled = want ++ Map(
      "bfsDistances capped" -> 17,
      "bfsDistances drained" -> 46,
      "bfsPerSeed capped" -> 17,
      "bfsPerSeed drained" -> 46,
      "sccCyclic" -> 75,
      "pagerank" -> 19,
      "labelPropagation" -> 16,
      "pagerankDirected" -> 39,
      "hits" -> 52,
      "betweennessSampled" -> 29,
      "wlColors" -> 19)
    // hits runs one job fewer in some runs of the same code, on either
    // path; every other count is exact
    def matches(got: Map[String, Int], want: Map[String, Int]) =
      (got - "hits") == (want - "hits") &&
        got.get("hits").exists(n => n == want("hits") || n == want("hits") - 1)
    assert(matches(hinted, want) && matches(shuffled, wantShuffled),
      s"broadcast path: $hinted; budget-0 path: $shuffled")
  }

  test("directed PageRank: dangling chain 1->2->3, hand-computed round 1") {
    // nodes {1,2,3}, nV=3; node 3 is dangling. Round 1: contribs 1->2
    // and 2->3 carry 1_000_000 each; dangling mass D=1_000_000, share
    // D DIV 3 = 333_333. rank_1 = 150000+floor(.85*333333) = 433_333;
    // rank_2 = rank_3 = 150000+floor(.85*1333333) = 1_283_333.
    val dirE = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val got = Graph.pagerankDirected(dirE, rounds = 1)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(
      1L -> ((433333L, 1L)), 2L -> ((1283333L, 1L)), 3L -> ((1283333L, 0L))))
    // mass conservation up to per-node floors: total stays ~3e6
    assert(math.abs(got.values.map(_._1).sum - 3000000L) <= 3)
  }

  test("directed PageRank without dangling nodes degrades to the plain walker shape") {
    // a directed 3-cycle has no dangling mass: D=0 every round, so the
    // uniform graph is a fixed point exactly as in the symmetric walker
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val got = Graph.pagerankDirected(cyc, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1000000L, 2L -> 1000000L, 3L -> 1000000L))
  }

  test("a planted 6-cycle: the 2-doubling bounded face provably misses it, the fixpoint face finds it") {
    // a 6-cycle plus an acyclic tail — path length after two doublings
    // is ≤ 4 < 6, so q347's bounded device reports NOTHING here (that
    // is its documented contract), while the convergence variant must
    // report exactly the six cycle members and no tail node
    val sixCycle = (1L to 6L).map(i => (i, i % 6 + 1))
    val tail = Seq((10L, 11L), (11L, 12L), (12L, 1L))
    val edges = (sixCycle ++ tail).toDF("src", "dst")
    // the bounded face, replayed inline (two doublings, as q347 plans)
    var r = edges.distinct().localCheckpoint(true)
    for (_ <- 1 to 2)
      r = r.unionByName(
          r.select(col("src"), col("dst").as("m"))
            .join(r.select(col("src").as("m"), col("dst")), Seq("m"))
            .select(col("src"), col("dst")))
        .distinct().localCheckpoint(true)
    assert(r.filter(col("src") === col("dst")).count() == 0,
      "two doublings must miss a 6-cycle — that miss is what motivates the fixpoint face")
    val found = Graph.cycleDetectFixpoint(edges).collect().map(_.getLong(0)).toSeq
    assert(found == (1L to 6L), s"fixpoint face must name exactly the cycle members, got $found")
  }

  test("fixpoint cycle detection on an acyclic chain converges to the empty report") {
    val chain = (1L to 20L).map(i => (i, i + 1)).toDF("src", "dst")
    assert(Graph.cycleDetectFixpoint(chain).count() == 0)
  }

  test("transitive closure: breaching the pair budget raises and names the scale path") {
    // a 20-node chain closes to 190 pairs > 10
    val chain = (1L to 20L).map(i => (i, i + 1)).toDF("src", "dst")
    val ex = intercept[IllegalArgumentException](
      Graph.transitiveClosureFixpoint(chain, pairBudget = 10).count())
    assert(ex.getMessage.contains("sccCyclic"))
  }

  test("SCC coloring: two cycles, a connector, a self-loop, an acyclic tail — hand-computed") {
    // {1,2,3} and {5,6,7} are 3-cycles joined by the connector 4;
    // 8 self-loops; 9→10 is acyclic. Both cycle classes fall in ONE
    // outer round (distinct colors 3 and 7, connector 4 is its own
    // root and peels as a singleton); scc_id = min member.
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (5L, 6L), (6L, 7L), (7L, 5L), (8L, 8L), (9L, 10L)).toDF("src", "dst")
    val got = Graph.sccCyclic(e).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L, 7L -> 5L, 8L -> 8L))
  }

  test("SCC coloring: a chain of SCCs where one color covers both forces a second outer round") {
    // {10,11,12} cycles and feeds {1,2,3} (12 > 3, so the downstream
    // cycle is colored 12 in round 1 but only SCC(12) = {10,11,12} is
    // reached backward); the peel + re-trim must then emit {1,2,3}.
    val e = Seq((10L, 11L), (11L, 12L), (12L, 10L), (12L, 1L),
      (1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val got = Graph.sccCyclic(e).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(10L -> 10L, 11L -> 10L, 12L -> 10L, 1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("HITS: hand-computed 2-round trajectory on a directed triangle-with-tail") {
    // Edges 1→3, 2→3, 3→1. Round 1: a_raw(3)=2e6, a_raw(1)=1e6, amx=2e6,
    // divisor 2 → a = (1e6, 0, 500000)[nodes 3,2,1 resp: a(3)=1e6, a(1)=5e5].
    // h_raw(1)=a(3)=1e6, h_raw(2)=1e6, h_raw(3)=a(1)=5e5; hmx=1e6, div 1.
    // Round 2: a_raw(3)=2e6→1e6, a_raw(1)=5e5→250000;
    // h(1)=h(2)=1e6, h(3)=250000.
    val e = Seq((1L, 3L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val got = Graph.hits(e, rounds = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(
      1L -> ((250000L, 1000000L)),
      2L -> ((0L, 1000000L)),
      3L -> ((1000000L, 250000L))))
  }

  test("walk corpus: degree-1 graph forces the alternating walk; output shape is seeds x (steps+1)") {
    // On 1↔2 every node has exactly one neighbor, so the hash pick is
    // forced and the walks alternate — a fully hand-checkable trace.
    val e = edges((1L, 2L))
    val got = Graph.walkCorpus(e, steps = 4, seedMod = 1)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getLong(1))).toSet
    val want = Set(
      (1L, 0, 1L), (1L, 1, 2L), (1L, 2, 1L), (1L, 3, 2L), (1L, 4, 1L),
      (2L, 0, 2L), (2L, 1, 1L), (2L, 2, 2L), (2L, 3, 1L), (2L, 4, 2L))
    assert(got == want)
  }

  test("walk corpus: every transition is a real edge and reruns are bit-identical") {
    val e = edges((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (2L, 4L))
    val w = Graph.walkCorpus(e, steps = 3, seedMod = 1)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getLong(1)))
    val edgeSet = e.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bySeed = w.groupBy(_._1)
    for ((seed, rows) <- bySeed) {
      val path = rows.sortBy(_._2).map(_._3)
      assert(path.head == seed)
      path.sliding(2).foreach { pair =>
        assert(edgeSet.contains((pair(0), pair(1))),
          s"walk $seed used non-edge ${pair(0)}->${pair(1)}")
      }
    }
    val again = Graph.walkCorpus(e, steps = 3, seedMod = 1)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getLong(1)))
    assert(w.toSet == again.toSet, "hash-driven walks must replay identically")
  }

  test("modularity: two disjoint triangles under their LPA labels score 250000 micro each") {
    // Each triangle: within=6 directed edges of E=12 → 500000; degree
    // sum 6 → 500000; q = 500000 - 500000^2/1e6 = 250000 (total Q=0.5,
    // the textbook two-clique value).
    val e = edges((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L))
    val labels = Graph.labelPropagation(e, rounds = 3)
    val got = Graph.modularityOf(e, labels)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(got == Set((1L, 3L, 6L, 6L, 250000L), (4L, 3L, 6L, 6L, 250000L)))
  }

  test("WL refinement: structurally equivalent nodes share colors, roles separate") {
    // disjoint triangle {1,2,3} + star 10-(11,12,13): triangle corners
    // are mutually isomorphic; star leaves are mutually isomorphic but
    // differ from the center and from the corners (degree + neighbor
    // multiset distinguish them by round 1)
    val e = edges((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (10L, 12L), (10L, 13L))
    val c = Graph.wlColors(e, rounds = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c(1L) == c(2L) && c(2L) == c(3L), "triangle corners are one WL class")
    assert(c(11L) == c(12L) && c(12L) == c(13L), "star leaves are one WL class")
    assert(c(10L) != c(11L), "center vs leaf must separate")
    assert(c(1L) != c(11L), "corner vs leaf must separate (corner sees degree-2 peers)")
    val again = Graph.wlColors(e, rounds = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == c, "refinement is a pure function of the graph")
  }

  test("betweenness: path 1-2-3 puts all dependency on the middle node, hand-computed") {
    // Seed 1: delta(2) = sig_2*(1e6+0)/sig_3 = 1e6; seed 3 symmetric;
    // seed 2: both neighbors are level 1 with no level 2 — no rows.
    val e = edges((1L, 2L), (2L, 3L))
    val seeds = Seq(1L, 2L, 3L).toDF("seed")
    val got = Graph.betweennessSampled(e, seeds)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((2L, 2000000L, 2L)))
  }

  test("MIS by hash: independent, maximal, deterministic — and exactly one node per clique") {
    val e = edges((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 5L), (2L, 5L),
      (10L, 11L), (11L, 12L), (10L, 12L))
    val adj = e.collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val mis = Graph.misByHash(e).collect().map(_.getLong(0)).toSet
    assert(mis.nonEmpty)
    for (v <- mis; w <- mis if w != v)
      assert(!adj(v).contains(w), s"MIS members $v,$w share an edge")
    for (v <- adj.keySet if !mis.contains(v))
      assert(adj(v).exists(mis.contains), s"non-member $v has no MIS neighbor (not maximal)")
    // the 10-11-12 triangle is a clique: exactly one member survives
    assert(Set(10L, 11L, 12L).count(mis.contains) == 1)
    val again = Graph.misByHash(e).collect().map(_.getLong(0)).toSet
    assert(again == mis, "hash priorities must make the set a pure function of the graph")
  }

  test("walk PPMI: hand-computed pair counts, marginals, ratio, and shift sign") {
    // one walk 10,20,10,30; window 2 → 10 ordered pairs, N = 10
    val corpus = Seq((1L, 0, 10L), (1L, 1, 20L), (1L, 2, 10L), (1L, 3, 30L))
      .toDF("seed", "step", "node")
    val got = Graph.walkPpmi(corpus, window = 2, shiftK = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    assert(got == Map(
      (10L, 20L) -> ((2L, 5L, 3L, 1333333L, 1L)),
      (10L, 10L) -> ((2L, 5L, 5L, 800000L, 0L)),
      (20L, 10L) -> ((2L, 3L, 5L, 1333332L, 1L)),
      (20L, 30L) -> ((1L, 3L, 2L, 1666665L, 1L)),
      (10L, 30L) -> ((1L, 5L, 2L, 1000000L, 0L)),
      (30L, 20L) -> ((1L, 2L, 3L, 1666666L, 1L)),
      (30L, 10L) -> ((1L, 2L, 5L, 1000000L, 0L))))
  }

  test("walk context similarity: hub contexts drop, cosines hand-computed") {
    // c=9 has fan-out 3 > maxFan=2 and must not contribute; the kept
    // vectors are 10:(c1=2,c2=1), 20:(c1=1), 30:(c2=2)
    val pc = Seq((10L, 1L, 2L), (20L, 1L, 1L), (10L, 2L, 1L), (30L, 2L, 2L),
      (10L, 9L, 5L), (20L, 9L, 5L), (30L, 9L, 5L)).toDF("w", "c", "n_ab")
    val got = Graph.walkContextSim(pc, maxFan = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(got == Map(
      (10L, 20L) -> ((2L, 5L, 1L, 0.894427)), // 2/sqrt(5)
      (10L, 30L) -> ((2L, 5L, 4L, 0.447214)))) // 2/sqrt(20)
  }

  test("walk coverage: hand-computed BFS frontier vs a synthetic corpus, empty frontier is NULL-safe") {
    // directed graph: 0→1→2→3→4→5 with a branch 1→6; seed {0}.
    // BFS distances: 0:0, 1:1, {2,6}:2, 3:3, 4:4 (5 is beyond step 4).
    // corpus walks 0,1,2,3,4 → min step per node = its index.
    val e = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 6L))
      .toDF("src", "dst")
    val seeds = Seq(0L).toDF("node")
    val corpus = (0 to 4).map(t => (0L, t, t.toLong)).toDF("seed", "step", "node")
    val got = Graph.walkCoverage(e, seeds, corpus, maxStep = 4, nNodes = 7)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), if (r.isNullAt(3)) -1L else r.getLong(3)))).toMap
    assert(got == Map(
      0L -> ((1L, 1L, 1000000L)),
      1L -> ((2L, 2L, 1000000L)),
      2L -> ((4L, 3L, 750000L)),  // frontier {0,1,2,6}, visited {0,1,2}
      3L -> ((5L, 4L, 800000L)),
      4L -> ((6L, 5L, 833333L)))) // 5_000_000 DIV 6
    // a seedless audit reports NULL coverage at every step, never a
    // division error (the house degenerate-input rule)
    val none = Graph.walkCoverage(e, Seq.empty[Long].toDF("node"),
        corpus.limit(0), maxStep = 1, nNodes = 7)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.isNullAt(3)))
    assert(none.toSet == Set((0L, 0L, true)))
  }

  test("node2vec: weighted cumulative bands pick the hand-derived successor on a path") {
    // On a path, step-2 candidates from an interior node are {prev,
    // other}: prev weighs 1 (return), the other 2 (distance 2 — prev
    // and next are never adjacent on a path), so the bands in
    // dst-order are hand-derivable from the raw hash alone.
    val pathPairs = (1L to 6L).map(i => (i, i + 1))
    val e = edges(pathPairs: _*)
    val adj = pathPairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sorted }
    def h(seed: Long, node: Long, t: Int): Long = spark.sql(
      s"SELECT CAST(conv(substring(md5(concat('n2v:', CAST($seed AS STRING), ':', " +
        s"CAST($node AS STRING), ':$t')), 1, 15), 16, 10) AS BIGINT)").head().getLong(0)
    val walks = Graph.node2vecWalks(e, steps = 2, seedMod = 1).collect()
      .map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
    for (s <- 1L to 7L) {
      assert(walks((s, 0)) == s)
      val nb1 = adj(s)
      val exp1 = nb1((h(s, s, 1) % nb1.length).toInt)
      assert(walks((s, 1)) == exp1, s"seed $s step 1")
      val prev = s
      val cur = exp1
      val cands = adj(cur) // sorted by dst
      val wgts = cands.map(d => if (d == prev) 1L else 2L)
      val tw = wgts.sum
      val r = h(s, cur, 2) % tw
      val cum = wgts.scanLeft(0L)(_ + _)
      val exp2 = cands(cum.indexWhere(_ > r) - 1)
      assert(walks((s, 2)) == exp2, s"seed $s step 2 (r=$r bands=$cum cands=$cands)")
    }
    val again = Graph.node2vecWalks(e, steps = 2, seedMod = 1).collect()
      .map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
    assert(again == walks, "biased walks must be bit-reproducible")
  }

  test("node2vec: every transition is a real edge and triadic candidates outweigh far ones") {
    // triangle + pendant: from inside the triangle the distance-1
    // candidate carries weight 4 vs return 1 — walks stay valid edges
    val e = edges((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    val adj = e.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rows = Graph.node2vecWalks(e, steps = 3, seedMod = 1).collect()
      .map(r => (r.getLong(0), r.getInt(2), r.getLong(1)))
    val bySeed = rows.groupBy(_._1)
    for ((_, steps) <- bySeed) {
      val ordered = steps.sortBy(_._2).map(_._3)
      ordered.sliding(2).foreach { case Array(a, b) =>
        assert(adj.contains((a, b)), s"walk transition $a->$b is not an edge")
      }
    }
  }

  test("MIS: asymmetric edges fail the fingerprint precondition loudly") {
    val asym = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val ex = intercept[IllegalArgumentException](Graph.misByHash(asym))
    assert(ex.getMessage.contains("symmetric"))
  }

  test("MIS: exceeding the round bound raises instead of under-reporting") {
    // Adversarial shape for the unroll bound: a path whose md5
    // priorities DECREASE monotonically along it has exactly one local
    // minimum per round (the far end), so a 2k-node path takes k
    // rounds — build it by sorting the ids by their actual priorities.
    val pri = spark.range(1, 21).select(col("id"), expr(
        "CAST(conv(substring(md5(concat('mis:', CAST(id AS STRING))), 1, 15), 16, 10) AS BIGINT)"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byPriDesc = (1L to 20L).sortBy(pri)(Ordering[Long].reverse)
    val path = byPriDesc.sliding(2).map { case Seq(a, b) => (a, b) }.toSeq
    val e = edges(path: _*)
    val ex = intercept[IllegalArgumentException](Graph.misByHash(e, maxRounds = 8))
    assert(ex.getMessage.contains("fixpoint"))
    // with room the same shape completes: one join per round, 10 rounds
    val full = Graph.misByHash(e, maxRounds = 16).collect()
    assert(full.map(_.getLong(0)).toSet.size == 10)
    assert(full.map(_.getLong(1)).max == 10L)
  }

  test("betweenness: split shortest paths halve the dependency (sigma ratios, not counts)") {
    // Square 1-2-4, 1-3-4: from seed 1, node 4 has sigma 2 via {2,3};
    // delta(2) = sig_2*(1e6+0) DIV sig_4 = 1*1e6 DIV 2 = 500000, same
    // for 3 — the sigma-ratio device, not a path count.
    val e = edges((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L))
    val seeds = Seq(1L).toDF("seed")
    val got = Graph.betweennessSampled(e, seeds)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(2L -> 500000L, 3L -> 500000L))
  }
}
