package graft

import scala.util.Random

import graft.ops.Dedup

/** Dedup quality on a *generated* corpus with planted duplicates —
  * validates the MinHash-LSH machinery itself (recall on known near-dups,
  * exact-dup accounting), independent of the driver fixtures. Seeded, so
  * deterministic. */
class DedupQualitySpec extends SparkSpec {

  private val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
    "golf", "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
    "oscar", "papa", "quebec", "romeo", "sierra", "tango", "uniform", "victor")

  /** 80 base docs; docs 0..19 get a near-dup copy (3 of ~60 tokens
    * mutated → 3-gram jaccard ≈ 0.85); docs 20..24 get exact copies. */
  private def generateCorpus(): (String, Seq[(Long, Long)], Int) = {
    val rnd = new Random(42)
    def doc(): Seq[String] = Seq.fill(60)(vocab(rnd.nextInt(vocab.length)))
    val bases = Seq.fill(80)(doc())
    val nearPairs = (0 until 20).map { i =>
      val mutated = bases(i).toArray
      (0 until 3).foreach(_ => mutated(rnd.nextInt(mutated.length)) = vocab(rnd.nextInt(vocab.length)))
      (i.toLong, (100 + i).toLong) -> mutated.toSeq
    }
    val exactCopies = (20 until 25).map(i => (200 + i).toLong -> bases(i))
    val rows = bases.zipWithIndex.map { case (toks, i) => (i.toLong, toks.mkString(" ")) } ++
      nearPairs.map { case ((_, id), toks) => (id, toks.mkString(" ")) } ++
      exactCopies.map { case (id, toks) => (id, toks.mkString(" ")) }
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = tempDir("graft-dedupq").toString
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("gen"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$dir/documents.parquet")
    (dir, nearPairs.map(_._1._1).zip(nearPairs.map(_._1._2)), exactCopies.length)
  }

  test("MinHash-LSH + Jaccard verification recovers planted near-duplicates") {
    val (dir, planted, _) = generateCorpus()
    val verified = Dedup.q32NeardupVerified.run(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = planted.count { case (a, b) => verified.contains((a, b)) || verified.contains((b, a)) }
    assert(found >= (planted.size * 0.9).toInt,
      s"recall too low: $found of ${planted.size} planted near-dups found")
  }

  test("exact dedup counts the planted exact copies") {
    val (dir, _, nExact) = generateCorpus()
    val r = Dedup.q30DedupExact.run(spark, dir).collect().head
    assert(r.getAs[Long]("n_exact_dupes") == nExact.toLong)
    assert(r.getAs[Long]("max_group") == 2L)
  }

  /** q30 as it was: two distinct-counts, a second group-by, a cross join. */
  private def q30ThreeAggregates(dir: String) = {
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables.documents(spark, dir)
    val maxGroup = docs.groupBy(md5(col("text"))).agg(count(lit(1)).as("c"))
      .agg(max(col("c")).as("cnt"))
    docs.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(md5(col("text"))).as("n_unique"),
      (count(lit(1)) - countDistinct(md5(col("text")))).as("n_exact_dupes"))
      .crossJoin(maxGroup.select(col("cnt").as("max_group")))
  }

  test("q30 is one aggregate: its row equals the three-aggregate formulation in at most 4 jobs") {
    val old = q30ThreeAggregates(sfDir).collect().toSeq
    Dedup.q30DedupExact.run(spark, sfDir).collect() // warm the schema memo
    val (_, jobs) = countJobs(
      Dedup.q30DedupExact.run(spark, sfDir).write.format("noop").mode("overwrite").save())
    assert(jobs <= 4, s"q30 ran $jobs jobs")
    val now = Dedup.q30DedupExact.run(spark, sfDir)
    assert(now.columns.toSeq == Seq("n_docs", "n_unique", "n_exact_dupes", "max_group"))
    assert(now.collect().toSeq == old)
  }

  test("q30 on an empty documents table is (0, 0, 0, null)") {
    val dir = tempDir("graft-q30-empty").toString
    graft.sources.Tables.documents(spark, sfDir).limit(0).write.parquet(s"$dir/documents.parquet")
    val Seq(r) = Dedup.q30DedupExact.run(spark, dir).collect().toSeq
    assert(r.toSeq == Seq(0L, 0L, 0L, null))
    assert(q30ThreeAggregates(dir).collect().toSeq == Seq(r))
  }

  test("verified pairs have exact jaccard above threshold (no false positives)") {
    val (dir, _, _) = generateCorpus()
    Dedup.q32NeardupVerified.run(spark, dir).collect().foreach { r =>
      assert(r.getAs[Double]("jaccard") > 0.7)
    }
  }

  test("dedup eval audits the detector: truth pairs are J>=0.5, recall is high on planted dups") {
    val (dir, planted, nExact) = generateCorpus()
    val rows = Dedup.q150DedupEval.run(spark, dir).collect().map(r =>
      (r.getAs[Double]("jaccard"), r.getAs[Boolean]("predicted"), r.getAs[Boolean]("truth")))
    // flags are consistent with the emitted jaccard
    rows.foreach { case (j, _, t) => assert(t == (j >= 0.5)) }
    val truth = rows.count(_._3)
    val hit = rows.count(r => r._2 && r._3)
    // the planted exact+near dups all exceed J=0.5 — they must be in truth
    assert(truth >= planted.size + nExact,
      s"truth=$truth < planted ${planted.size + nExact}")
    // MinHash-LSH with 4 bands of 2 catches nearly all J>=0.5 pairs
    // (expected recall ≈ 1-(1-J²)⁴ ≈ 0.95 at J=0.73)
    assert(hit.toDouble / truth > 0.8, s"recall ${hit.toDouble / truth} too low")
  }

  test("split leakage: emitted pairs are exactly the cross-split verified near-dups") {
    val (dir, _, _) = generateCorpus()
    def splitOf(id: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"split:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 4)
      val bucket = Integer.parseInt(hex, 16)
      if (bucket < 52429) "train" else if (bucket < 58982) "val" else "test"
    }
    val verified = Dedup.q32NeardupVerified.run(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("jaccard")))
    val expected = verified.filter { case (a, b, _) => splitOf(a) != splitOf(b) }
      .map { case (a, b, j) => (a, b, j, splitOf(a), splitOf(b)) }.toSet
    assert(expected.nonEmpty,
      "the planted corpus should land some near-dup pair across splits")
    val got = Dedup.q161SplitLeakage.run(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("jaccard"),
        r.getString(3), r.getString(4))).toSet
    assert(got == expected)
  }

  test("dedup savings reconcile with cluster membership and per-doc stats") {
    val (dir, _, nExact) = generateCorpus()
    val members = Dedup.q85DedupClusters.run(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))          // (doc_id, cluster_id)
      .groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    val stats = graft.sources.Tables.documents(spark, dir)
      .selectExpr("doc_id", "CAST(size(split(text, ' ')) AS LONG) AS n_toks", "n_chars")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val rows = Dedup.q163DedupSavings.run(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.size >= nExact, "every planted exact copy forms a savings cluster")
    val multi = members.filter(_._2.size > 1)
    assert(rows.map(_._1).toSet == multi.keySet,
      "savings rows must be exactly the size>1 clusters")
    rows.foreach { case (cid, size, removed, toks, bytes) =>
      val m = members(cid)
      assert(cid == m.min, "the keeper is the minimum member id")
      assert(size == m.size && removed == size - 1)
      val losers = m - cid
      assert(toks == losers.toSeq.map(stats(_)._1).sum)
      assert(bytes == losers.toSeq.map(stats(_)._2).sum)
    }
  }

  test("rouge audit: exact copies score F1=1.0, clipping bounds hold, F1 re-derives") {
    val (dir, _, nExact) = generateCorpus()
    val rows = Dedup.q156RougeAudit.run(spark, dir).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6)))
    assert(rows.nonEmpty, "exact copies share a simhash, so pairs must exist")
    rows.foreach { case (a, b, la, lb, ov1, ov2, f1) =>
      assert(a < b)
      assert(ov1 <= math.min(la, lb), s"unigram clip violated on ($a,$b)")
      assert(ov2 <= math.max(0L, math.min(la, lb) - 1), s"bigram clip violated on ($a,$b)")
      assert(f1 == 2.0 * ov1 / (la + lb).toDouble, s"F1 does not re-derive on ($a,$b)")
    }
    // every planted exact copy (id 220+i of base i) simhash-collides with
    // its base and overlaps completely: F1 = 1.0, ov2 = len-1
    val perfect = rows.filter { case (a, b, _, _, _, _, _) => b == a + 200 }
    assert(perfect.size >= nExact, s"expected >= $nExact exact-copy pairs, got ${perfect.size}")
    perfect.foreach { case (_, _, la, lb, ov1, ov2, f1) =>
      assert(la == lb && ov1 == la && ov2 == la - 1 && f1 == 1.0)
    }
  }

  test("containment: a full quote is caught at low Jaccard; df>20 shingles never block pairs") {
    import spark.implicits._
    import graft.ops.Dedup
    // doc 1 (10 shingles) fully contained in doc 2 (100 shingles):
    // containment 1.0 but Jaccard 0.1 — invisible to the q32 threshold
    val quote = (1L to 10L).map(sh => (1L, sh)) ++ (1L to 100L).map(sh => (2L, sh))
    // 21 docs sharing ONLY shingle 999 (df = 21 > 20): blocked out
    val common = (0 until 21).flatMap(i => Seq((5000L + i, 999L), (5000L + i, 10000L + i)))
    val got = Dedup.containmentPairs((quote ++ common).toDF("doc_id", "sh"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(5)))
    assert(got.toSeq == Seq((1L, 2L, 1000000L)),
      s"expected exactly the quote pair at containment 1.0, got ${got.toSeq}")
  }

  test("source-overlap matrix re-derives from the verified pairs and the doc->source map") {
    val got = Dedup.q183SourceOverlap.run(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty)
    val srcOf = graft.sources.Tables.documents(spark, sfDir)
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val pairs = Dedup.q32NeardupVerified.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val want = pairs.groupBy { case (a, b, _) =>
      val (sa, sb) = (srcOf(a), srcOf(b))
      if (sa <= sb) (sa, sb) else (sb, sa)
    }.map { case (k, xs) =>
      val sumJ = xs.map { case (_, _, j) =>
        BigDecimal(j).setScale(6, BigDecimal.RoundingMode.HALF_UP) }.sum
      k -> ((xs.length.toLong,
        (sumJ * 1000000 / xs.length).setScale(0, BigDecimal.RoundingMode.FLOOR).toLong))
    }
    assert(got.length == want.size)
    got.foreach { case (sa, sb, n, mj) =>
      val (wn, wj) = want((sa, sb))
      assert(n == wn, s"($sa,$sb): n_pairs $n != $wn")
      assert(mj == wj, s"($sa,$sb): mean_jaccard $mj != $wj")
    }
  }

  test("novelty: per-doc dup share re-derives from driver-built shingle document frequencies") {
    val got = Dedup.q184Novelty.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty)
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq
        .sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSet)
      .toMap
    val df = docs.values.toSeq.flatMap(_.toSeq)
      .groupBy(identity).map { case (g, xs) => g -> xs.size }
    got.foreach { case (id, nSh, nDup, share) =>
      val mine = docs(id)
      assert(nSh == mine.size.toLong, s"doc $id: n_shingles $nSh != ${mine.size}")
      val wantDup = mine.count(df(_) >= 2).toLong
      assert(nDup == wantDup, s"doc $id: n_dup $nDup != $wantDup")
      assert(share == wantDup * 1000000L / mine.size)
    }
    // the score must actually discriminate on the fixture
    assert(got.map(_._4).distinct.length > 1, "dup share must vary across docs")
  }

  test("canonical dedup pairs every mangled copy with its original; byte-exact hashing sees none of them") {
    val got = Dedup.q194CanonicalDedup.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty)
    val byGroup = got.groupBy(_._2)
    // every synthesized upper-case copy (id + 1_000_000) must share a
    // group with exactly its original
    val uppers = got.filter(t => t._1 >= 1000000L && t._1 < 2000000L)
    assert(uppers.nonEmpty)
    uppers.foreach { case (id, canonId, _, nRaw) =>
      val members = byGroup(canonId).map(_._1).toSet
      assert(members.contains(id - 1000000L),
        s"upper copy $id must group with its original")
      // the group holds >= 2 distinct RAW hashes — invisible to q30
      assert(nRaw >= 2L, s"group of $id must differ byte-wise")
    }
    val spaced = got.filter(_._1 >= 2000000L)
    assert(spaced.nonEmpty)
    spaced.foreach { case (id, canonId, _, _) =>
      assert(byGroup(canonId).map(_._1).toSet.contains(id - 2000000L),
        s"double-spaced copy $id must group with its original")
    }
  }
}
