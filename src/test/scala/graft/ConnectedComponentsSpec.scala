package graft

import org.apache.spark.sql.DataFrame
import graft.ops.Dedup

/** Property tests for the two connected-components implementations:
  * min-label propagation (diameter-bound rounds) and large-star/small-star
  * contraction (size-logarithmic rounds, Kiveris et al. SoCC'14). Both must
  * agree with each other and with a driver-side union-find oracle on random
  * graphs; the star algorithm must also survive a diameter far beyond any
  * sane propagation cap, and the public entry point must fall back to it
  * rather than return unconverged labels. */
class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def nodesDf(ids: Seq[Long]): DataFrame = ids.toDF("doc_id")
  private def pairsDf(ps: Seq[(Long, Long)]): DataFrame =
    ps.toDF("doc_a", "doc_b")

  /** Driver-side union-find — the oracle. */
  private def unionFind(nodes: Seq[Long], pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // canonical label = component minimum
    val byRoot = nodes.groupBy(find)
    byRoot.flatMap { case (_, members) =>
      val m = members.min; members.map(_ -> m)
    }
  }

  private def labelsOf(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("driver union-find, propagation, star, and the oracle agree on random graphs") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 5) {
      val n = 50 + rnd.nextInt(100)
      val nodes = (0L until n).toSeq
      val pairs = Seq.fill(n / 2)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(p => p._1 != p._2)
      val expect = unionFind(nodes, pairs)
      // default: edge count under the broadcast budget → driver union-find
      val local = labelsOf(Dedup.connectedComponents(nodesDf(nodes), pairsDf(pairs))
        .select("doc_id", "cluster_id"))
      // threshold 0 forces the distributed propagation path
      val prop = labelsOf(Dedup.connectedComponents(nodesDf(nodes), pairsDf(pairs),
        localEdgeThreshold = 0).select("doc_id", "cluster_id"))
      val star = labelsOf(Dedup.connectedComponentsStar(nodesDf(nodes), pairsDf(pairs))
        .select("doc_id", "cluster_id"))
      assert(local == expect, s"driver union-find disagrees with oracle (trial $trial)")
      assert(prop == expect, s"propagation disagrees with union-find (trial $trial)")
      assert(star == expect, s"star disagrees with union-find (trial $trial)")
    }
  }

  test("star contraction collapses a 300-node chain (diameter >> any cap)") {
    val nodes = (0L until 300L).toSeq
    val chain = nodes.sliding(2).map(s => (s(0), s(1))).toSeq
    val star = labelsOf(Dedup.connectedComponentsStar(nodesDf(nodes), pairsDf(chain))
      .select("doc_id", "cluster_id"))
    assert(star.values.toSet == Set(0L), "every chain node labels to the minimum")
  }

  test("public entry point falls back to star instead of returning " +
    "unconverged labels when the diameter beats the propagation cap") {
    val nodes = (0L until 120L).toSeq
    val chain = nodes.sliding(2).map(s => (s(0), s(1))).toSeq
    // threshold 0 forces the distributed path; cap of 3 rounds cannot
    // propagate across a 120-node chain
    val got = labelsOf(Dedup.connectedComponents(nodesDf(nodes), pairsDf(chain),
      propagationRounds = 3, localEdgeThreshold = 0).select("doc_id", "cluster_id"))
    assert(got.values.toSet == Set(0L), "fallback must deliver the true fixpoint")
  }

  test("semi-naive propagation converging exactly at its cap equals union-find and star") {
    // a 0..7 chain drops node 7's label in round 7, and round 8 drops
    // none: a cap of 8 converges on its last round, with no fallback
    val nodes = (0L until 50L).toSeq
    val pairs = (0L until 7L).map(i => (i, i + 1)) ++
      Seq((20L, 21L), (20L, 22L), (20L, 23L), (30L, 31L), (31L, 32L), (32L, 30L), (41L, 40L))
    val err = new java.io.ByteArrayOutputStream()
    val stderr = System.err
    System.setErr(new java.io.PrintStream(err, true))
    val prop = try labelsOf(Dedup.connectedComponents(nodesDf(nodes), pairsDf(pairs),
        propagationRounds = 8, localEdgeThreshold = 0).select("doc_id", "cluster_id"))
      finally System.setErr(stderr)
    assert(!err.toString.contains("NOT converged"), "propagation must converge under its cap")
    val star = labelsOf(Dedup.connectedComponentsStar(nodesDf(nodes), pairsDf(pairs))
      .select("doc_id", "cluster_id"))
    assert(prop == unionFind(nodes, pairs))
    assert(star == prop)
  }

  test("cluster sizes are consistent with labels") {
    val nodes = (0L until 40L).toSeq
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L))
    val out = Dedup.connectedComponentsStar(nodesDf(nodes), pairsDf(pairs)).collect()
    val byCluster = out.groupBy(_.getLong(1))
    out.foreach { r =>
      assert(r.getLong(2) == byCluster(r.getLong(1)).length,
        s"cluster_size mismatch for doc ${r.getLong(0)}")
    }
    assert(byCluster(1L).map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    assert(byCluster(10L).map(_.getLong(0)).toSet == Set(10L, 11L))
  }

  test("star handles an empty edge set (all singletons)") {
    val nodes = (0L until 5L).toSeq
    val out = labelsOf(Dedup.connectedComponentsStar(nodesDf(nodes),
      pairsDf(Seq.empty)).select("doc_id", "cluster_id"))
    assert(out == nodes.map(n => n -> n).toMap)
  }

  test("component split: members of a component share one side and the split is a pure hash of the component id") {
    val nodes = (0L until 200L).toSeq
    // 50 chains of 4: {0..3}, {4..7}, ... — each must land whole
    val pairs = nodes.grouped(4).flatMap(g => g.sliding(2).map(p => (p(0), p(1)))).toSeq
    val out = Dedup.componentSplit(nodesDf(nodes), pairsDf(pairs))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out.length == nodes.length)
    out.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.map(_._3).toSet.size == 1, s"component $cid straddles the split")
      assert(members.map(_._1).min == cid)
    }
    assert(out.map(_._3).toSet == Set("train", "test"),
      "200 components must populate both sides")
  }

  test("q174 face: no verified near-dup pair straddles the split (the q161 leak, fixed)") {
    val split = Dedup.q174ComponentSplit.run(spark, sfDir)
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val pairs = Dedup.q32NeardupVerified.run(spark, sfDir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "fixture must contain verified near-dup pairs")
    pairs.foreach { case (a, b) =>
      assert(split(a) == split(b), s"near-dup pair ($a,$b) straddles the split")
    }
  }
}
