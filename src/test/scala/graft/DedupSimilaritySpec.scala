package graft

import org.apache.spark.sql.functions.{col, levenshtein}

import graft.ops.{Dedup, Similarity, TextOps}

class DedupSimilaritySpec extends SparkSpec {

  test("LSH candidates are a superset of truly-near pairs (recall)") {
    val verified = Dedup.q32NeardupVerified.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val candidates = Dedup.q31MinhashLsh.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(verified.subsetOf(candidates))
    assert(verified.nonEmpty, "fixture is known to contain planted near-dups")
  }

  test("verified near-dups all clear the jaccard threshold") {
    val rows = Dedup.q32NeardupVerified.run(spark, sfDir).collect()
    rows.foreach(r => assert(r.getAs[Double]("jaccard") > 0.7 && r.getAs[Double]("jaccard") <= 1.0))
  }

  test("exact dedup counts are consistent") {
    val r = Dedup.q30DedupExact.run(spark, sfDir).collect().head
    assert(r.getAs[Long]("n_docs") == r.getAs[Long]("n_unique") + r.getAs[Long]("n_exact_dupes"))
  }

  test("simhash signatures are 16-bit and near-dup pairs collide") {
    val sigs = Dedup.q33Simhash.run(spark, sfDir).collect()
    sigs.foreach(r => assert(r.getAs[Long]("simhash") >= 0 && r.getAs[Long]("simhash") < 65536))
    val simPairs = Dedup.q34SimhashPairs.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val nearDups = Dedup.q32NeardupVerified.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // weighted 16-bit simhash of ~0.98-jaccard docs should mostly collide
    assert(nearDups.intersect(simPairs).size >= nearDups.size / 2)
  }

  test("brute-force ANN returns k descending cosines in [-1, 1]") {
    val rows = Similarity.q38AnnBruteforce.run(spark, sfDir).collect()
    assert(rows.length == 10)
    val cosines = rows.map(_.getAs[Double]("cosine"))
    assert(cosines.sameElements(cosines.sorted.reverse))
    cosines.foreach(c => assert(c >= -1.0 && c <= 1.0 + 1e-9))
  }

  test("IVF ANN cosines match brute-force cosines for shared hits") {
    val brute = Similarity.q38AnnBruteforce.run(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("cosine")).toMap
    val ivf = Similarity.q39AnnIvf.run(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("cosine")).toMap
    val shared = brute.keySet.intersect(ivf.keySet)
    shared.foreach(k => assert(brute(k) == ivf(k), s"cosine mismatch for vec $k"))
    assert(ivf.size == 10)
  }

  test("array norms: unit-ish vectors, dim 64") {
    val rows = Similarity.q36ArrayNorms.run(spark, sfDir).collect()
    rows.foreach { r =>
      assert(r.getAs[Int]("dim") == 64)
      assert(r.getAs[Double]("l2_norm") > 0)
    }
  }

  test("quality scores are in [0, 1] and ratios consistent") {
    val rows = TextOps.q25QualityScore.run(spark, sfDir).collect()
    rows.foreach { r =>
      val q = r.getAs[Double]("quality")
      assert(q >= 0.0 && q <= 1.0)
      assert(r.getAs[Double]("uniq_ratio") > 0.0 && r.getAs[Double]("uniq_ratio") <= 1.0)
    }
  }

  test("langid confusion matrix covers every document exactly once") {
    val total = TextOps.q24LangId.run(spark, sfDir).collect().map(_.getAs[Long]("n")).sum
    assert(total == graft.sources.Tables.documents(spark, sfDir).count())
  }

  test("fingerprints are md5 hex and min <= max") {
    val rows = TextOps.q26Fingerprint.run(spark, sfDir).collect()
    rows.foreach { r =>
      assert(r.getAs[String]("fp_min").matches("[0-9a-f]{32}"))
      assert(r.getAs[String]("fp_min") <= r.getAs[String]("fp_max"))
    }
  }

  test("connected components collapse a multi-hop chain (needs >1 round)") {
    import spark.implicits._
    val nodes = (1L to 8L).toDF("doc_id")
    // path 1-2-3-4-5 (min-label needs ~4 rounds), pair 7-8, singleton 6
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (7L, 8L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(nodes, pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = Set(
      (1L, 1L, 5L), (2L, 1L, 5L), (3L, 1L, 5L), (4L, 1L, 5L), (5L, 1L, 5L),
      (6L, 6L, 1L), (7L, 7L, 2L), (8L, 7L, 2L))
    assert(got == want)
  }

  test("q245: planted edit kinds land in the right buckets; fixture total equals brute-force levenshtein") {
    import spark.implicits._
    val dir = tempDir("graft-fastss").toString
    // subs: (abc,abd) pos 3, (ab,aa) pos 2; indels: (aa,a) deletable at
    // either position → MIN(i) = 1, (ab,a) pos 2, (abc,ab) and (abd,ab)
    // pos 3; xyz isolated
    Seq((1L, "abc"), (2L, "abd"), (3L, "ab"), (4L, "xyz"), (5L, "aa"), (6L, "a"))
      .toDF("c_custkey", "c_name")
      .write.parquet(s"$dir/customer.parquet")
    val got = Dedup.q245FastssJoin.run(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(("indel", 1L, 1L), ("indel", 2L, 1L), ("indel", 3L, 2L),
      ("sub", 2L, 1L), ("sub", 3L, 1L)))
    // completeness on the real fixture: the deletion-neighborhood join
    // must find EVERY distance-1 pair the quadratic brute force finds
    val n = graft.sources.Tables.customer(spark, sfDir)
      .select(col("c_custkey").as("id"), col("c_name").as("nm"))
    val brute = n.as("a").join(n.as("b"),
        col("a.id") < col("b.id") &&
          levenshtein(col("a.nm"), col("b.nm")) === 1).count()
    val fix = Dedup.q245FastssJoin.run(spark, sfDir).collect()
    assert(fix.map(_.getLong(2)).sum == brute,
      s"histogram total must equal the brute-force distance-1 pair count $brute")
  }

  test("q85 clusters are transitively consistent with the verified pairs") {
    val pairs = Dedup.q32NeardupVerified.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val cl = Dedup.q85DedupClusters.run(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) => assert(cl(a) == cl(b), s"pair ($a,$b) split") }
    // every cluster representative is a member of its own cluster
    cl.values.toSet.foreach((c: Long) => assert(cl(c) == c))
  }
}
