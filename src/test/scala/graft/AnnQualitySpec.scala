package graft

import scala.util.Random

import graft.ops.Similarity

/** ANN quality on a *generated* clustered corpus — the driver fixture's
  * embeddings are near-isotropic (no true neighbors), so recall there is
  * meaningless. Here: 8 well-separated cluster centers (stored as vectors
  * 0..7, which q39 uses as its quantizer), 30 noisy members each. The
  * query vector (vec 0) is itself a center, so its cluster members are the
  * true nearest neighbors. */
class AnnQualitySpec extends SparkSpec {

  private def generateClustered(): String = {
    val rnd = new Random(7)
    def unit(v: Array[Float]): Array[Float] = {
      val n = math.sqrt(v.map(x => x * x.toDouble).sum).toFloat
      v.map(_ / n)
    }
    val centers = Array.fill(8)(unit(Array.fill(64)(rnd.nextGaussian().toFloat)))
    val rows = scala.collection.mutable.ArrayBuffer[(Long, Array[Float], Int)]()
    centers.zipWithIndex.foreach { case (c, i) => rows += ((i.toLong, c, i)) }
    var id = 8L
    centers.zipWithIndex.foreach { case (c, label) =>
      (0 until 30).foreach { _ =>
        val noisy = unit(c.zip(Array.fill(64)(rnd.nextGaussian().toFloat * 0.15f)).map { case (a, b) => a + b })
        rows += ((id, noisy, label)); id += 1
      }
    }
    import spark.implicits._
    val dir = tempDir("graft-annq").toString
    rows.toSeq.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("IVF recall is high when clusters are real") {
    val dir = generateClustered()
    val brute = Similarity.q38AnnBruteforce.run(spark, dir).collect().map(_.getLong(0)).toSet
    val ivf = Similarity.q39AnnIvf.run(spark, dir).collect().map(_.getLong(0)).toSet
    val recall = brute.intersect(ivf).size
    assert(recall >= 8, s"IVF recall@10 = $recall, expected >= 8 on clustered data")
  }

  test("brute-force top-k on clustered data returns the query's own cluster") {
    val dir = generateClustered()
    val top = Similarity.q38AnnBruteforce.run(spark, dir).collect()
    // members of cluster 0 are ids 8..37; all top hits should come from there
    val fromCluster = top.count { r => val v = r.getLong(0); v >= 8 && v < 38 }
    assert(fromCluster == 10, s"expected all top-10 from cluster 0, got $fromCluster")
    top.foreach(r => assert(r.getAs[Double]("cosine") > 0.7))
  }

  test("int8-quantized ANN keeps high recall vs the exact baseline") {
    val dir = generateClustered()
    val brute = Similarity.q38AnnBruteforce.run(spark, dir).collect().map(_.getLong(0)).toSet
    val quant = Similarity.q61AnnQuantized.run(spark, dir).collect()
    val recall = brute.intersect(quant.map(_.getLong(0)).toSet).size
    assert(recall >= 8, s"quantized recall@10 = $recall, expected >= 8 (int8 error is small)")
    // reconstructed cosines stay close to exact on clustered data
    val exact = Similarity.q38AnnBruteforce.run(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("cosine")).toMap
    quant.foreach { r =>
      exact.get(r.getLong(0)).foreach { e =>
        assert(math.abs(r.getAs[Double]("qcosine") - e) < 0.02)
      }
    }
  }

  test("kmeans recovers planted clusters and does not increase inertia") {
    import org.apache.spark.sql.functions._
    val dir = generateClustered()
    val v = graft.sources.Tables.embeddings(spark, dir).select(col("vec_id"), expr(
      "transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0D + 0.5D) AS BIGINT))").as("qv"))
    val trained = Similarity.kmeansQuantized(v, k = 8, iters = 2).collect()
    // planted label: centers are vecs 0..7, members laid out 30-per-cluster from id 8
    def label(id: Long): Long = if (id < 8) id else (id - 8) / 30
    val byLabel = trained.groupBy(r => label(r.getAs[Long]("vec_id")))
    byLabel.foreach { case (l, rows) =>
      assert(rows.map(_.getAs[Long]("cid")).distinct.length == 1,
        s"planted cluster $l split across centroids")
    }
    assert(trained.map(_.getAs[Long]("cid")).distinct.length == 8)
    val inertia0 = Similarity.kmeansQuantized(v, k = 8, iters = 0)
      .agg(sum(col("dist"))).collect().head.getLong(0)
    val inertia2 = trained.map(_.getAs[Long]("dist")).sum
    assert(inertia2 <= inertia0, s"Lloyd increased inertia: $inertia0 -> $inertia2")
  }

  test("centroids survive the parquet round-trip bit-exactly") {
    import org.apache.spark.sql.functions._
    val dir = generateClustered()
    val v = graft.sources.Tables.embeddings(spark, dir).select(col("vec_id"), expr(
      "transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0D + 0.5D) AS BIGINT))").as("qv"))
    val cents = Similarity.kmeansCentroids(v, k = 8, iters = 2)
    val path = tempDir("graft-cent").toString + "/centroids.parquet"
    Similarity.saveCentroids(spark, cents, path)
    assert(Similarity.loadCentroids(spark, path) == cents)
  }

  test("trained-quantizer IVF recall matches brute force on clustered data") {
    val dir = generateClustered()
    val brute = Similarity.q38AnnBruteforce.run(spark, dir).collect().map(_.getLong(0)).toSet
    val ivf = Similarity.q120AnnIvfTrained.run(spark, dir).collect().map(_.getLong(0)).toSet
    val recall = brute.intersect(ivf).size
    assert(recall >= 8, s"trained IVF recall@10 = $recall, expected >= 8 on clustered data")
  }

  test("k=1024: centroids ride a broadcast relation (no plan literal) and argmin is exact") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.catalyst.expressions.{Literal => CatLit}
    import org.apache.spark.sql.types.ArrayType
    val d = 8
    val n = 4096
    // deterministic synthetic vectors — k is 128x the contract's coarse
    // quantizer, far past where a typedLit plan would be reasonable
    val v = spark.range(n).select(col("id").as("vec_id"),
      expr(s"transform(sequence(0, ${d - 1}), i -> CAST((id * 31 + i * 7919) % 997 AS BIGINT))").as("qv"))
    def qv(id: Long): Array[Long] = Array.tabulate(d)(i => (id * 31 + i * 7919L) % 997)

    val assigned0 = Similarity.assignToCentroids(v, Similarity.kmeansCentroidFrame(v, k = 1024, iters = 0))
    val phys = assigned0.queryExecution.executedPlan.toString
    assert(phys.contains("BroadcastNestedLoopJoin"), "centroid relation should broadcast-join the scan")
    // the test input's own sequence(0,7) constant-folds to an 8-element
    // literal; anything larger than one vector would be centroid leakage
    val bigArrayLits = assigned0.queryExecution.optimizedPlan
      .collect { case p => p.expressions }.flatten
      .flatMap(_.collect { case l: CatLit if l.dataType.isInstanceOf[ArrayType] => l })
      .filter(_.value.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].numElements() > d)
    assert(bigArrayLits.isEmpty, "no centroid array may appear as a plan literal")

    val got = assigned0.select("vec_id", "cid", "dist").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got.size == n)
    (0L until n).foreach { id =>
      val x = qv(id)
      val best = (0L until 1024L).map { c =>
        val cv = qv(c)
        val dd = (0 until d).map { i => val t = x(i) - cv(i); t * t }.sum
        (dd, c)
      }.min
      assert(got(id) == ((best._2, best._1)), s"vec $id: got ${got(id)}, want $best")
    }

    // one Lloyd round still runs at this k, and never increases inertia
    val inertia0 = got.values.map(_._2).sum
    val inertia1 = Similarity.kmeansQuantized(v, k = 1024, iters = 1)
      .agg(sum(col("dist"))).collect().head.getLong(0)
    assert(inertia1 <= inertia0, s"Lloyd increased inertia: $inertia0 -> $inertia1")
  }

  test("SemDeDup keep rules: nearest-centroid keeps the paper's survivor, lowest-id the smallest") {
    import org.apache.spark.sql.functions._
    val dir = generateClustered()
    // on this fixture every intra-cluster pair is a near-dup (members sit
    // within 0.15 noise of their center), so each cluster collapses to
    // exactly one survivor — the keep rule alone decides which
    val v = graft.sources.Tables.embeddings(spark, dir).select(col("vec_id"), expr(
      "transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0D + 0.5D) AS BIGINT))").as("qv"))
    val trained = Similarity.kmeansQuantized(v, k = 8, iters = 2)
      .select("vec_id", "cid", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byC = trained.groupBy(_._2)
    val wantNearest = byC.map { case (_, rows) => rows.minBy(r => (r._3, r._1))._1 }.toSet
    val wantLowest = byC.map { case (_, rows) => rows.map(_._1).min }.toSet

    val keptN = Similarity.semanticDedup(spark, dir, 8, 2, keepBy = Similarity.KeepNearestCentroid)
      .filter(col("kept")).collect().map(_.getLong(0)).toSet
    assert(keptN == wantNearest,
      s"nearest-centroid rule must keep argmin(dist, vec_id) per cluster; got $keptN want $wantNearest")
    val keptL = Similarity.semanticDedup(spark, dir, 8, 2)
      .filter(col("kept")).collect().map(_.getLong(0)).toSet
    assert(keptL == wantLowest,
      s"lowest-id rule must keep min vec_id per cluster; got $keptL want $wantLowest")
  }

  test("hard negatives: cross-label only, dense ranks, and the driver-side argmax agrees") {
    import org.apache.spark.sql.functions._
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
    val got = Similarity.hardNegatives(emb, col("vec_id") % 50 === 0, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(got.nonEmpty)
    val labels = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    got.foreach { case (a, v, _, _) =>
      assert(labels(v) != labels(a), s"negative $v shares anchor $a's label") }
    got.groupBy(_._1).foreach { case (a, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.length),
        s"anchor $a ranks not dense: ${rows.map(_._3).sorted.toSeq}")
      // within an anchor, rank order is cosine-descending
      val byRank = rows.sortBy(_._3).map(_._4)
      assert(byRank.zip(byRank.tail).forall { case (x, y) => x >= y })
    }
    // driver-side exact reference for one anchor
    val vecs = emb.select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).map(_.toDouble).toArray))
    val anchor = vecs.find(_._1 == got.map(_._1).min).get
    def cos(a: Array[Double], b: Array[Double]) = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val want = vecs.filter(_._2 != anchor._2)
      .map(v => (v._1, cos(anchor._3, v._3)))
      .sortBy { case (id, c) => (-c, id) }.take(5).map(_._1).toSeq
    val gotTop = got.filter(_._1 == anchor._1).sortBy(_._3).map(_._2).toSeq
    assert(gotTop == want, s"anchor ${anchor._1}: got $gotTop want $want")
  }

  test("PQ: every emitted code is the true sub-space argmin, and ADC sums the LUT exactly") {
    import org.apache.spark.sql.functions._
    val v = Similarity.quantizeVectors(
      graft.sources.Tables.embeddings(spark, sfDir))
      .persist()
    val books = Similarity.pqTrainCodebooks(v)
      .collect().map(r => (r.getInt(0).toLong, r.getLong(1), r.getSeq[Long](2).toIndexedSeq))
    assert(books.map(_._1).distinct.sorted.toSeq == Seq(0L, 1L, 2L, 3L))
    val vecs = v.collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toIndexedSeq).toMap
    def subDist(vec: IndexedSeq[Long], m: Long, code: IndexedSeq[Long]): Long =
      (0 until 16).map { i => val d = vec((m * 16 + i).toInt) - code(i); d * d }.sum
    // the contract face's top-10: re-derive ADC on the driver and compare
    val got = Similarity.q133PqAdc.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.length == 10)
    val byM = books.groupBy(_._1)
    def encode(vec: IndexedSeq[Long]): Seq[Long] =
      (0L to 3L).map { m =>
        byM(m).map { case (_, cid, code) => (subDist(vec, m, code), cid) }.min._2
      }
    val q = vecs(0L)
    got.foreach { case (id, codes, adc) =>
      val enc = encode(vecs(id))
      assert(codes == enc.mkString(" "), s"vec $id codes $codes != driver ${enc.mkString(" ")}")
      val want = (0L to 3L).map { m =>
        val code = byM(m).find(_._2 == enc(m.toInt)).get._3
        subDist(q, m, code)
      }.sum
      assert(adc == want, s"vec $id adc $adc != driver $want")
    }
    v.unpersist()
  }

  test("IVF-routed hard negatives recall the exact miner's picks on clustered data") {
    val dir = generateClustered()
    def pairs(q: graft.ops.QueryDef) = q.run(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.q131HardNegatives)
    val routed = pairs(Similarity.q135HardNegativesIvf)
    assert(routed.nonEmpty)
    // routing is a strict subset of the search space, so every routed
    // pick must also be scoreable by the exact miner's universe; on
    // well-clustered data the probed buckets hold the true neighbors
    val recall = exact.intersect(routed).size.toDouble / exact.size
    assert(recall >= 0.6, s"IVF-routed recall $recall too low on clustered data")
  }

  test("Gram matrix: diagonal equals driver-summed squares; upper triangle complete") {
    val v = Similarity.quantizeVectors(
      graft.sources.Tables.embeddings(spark, sfDir))
      .collect().map(r => r.getSeq[Long](1).toIndexedSeq)
    val d = v.head.length
    val got = Similarity.q138GramMatrix.run(spark, sfDir).collect()
      .map(r => ((r.getInt(0), r.getInt(1)), (r.getLong(2), r.getLong(3)))).toMap
    assert(got.size == d * (d + 1) / 2, s"expected full upper triangle, got ${got.size}")
    assert(got.values.forall(_._2 == v.length))
    (0 until d by 7).foreach { i =>
      val want = v.map(x => x(i) * x(i)).sum
      assert(got((i, i))._1 == want, s"diagonal $i: ${got((i, i))._1} != $want")
    }
    val (i0, j0) = (1, 5)
    assert(got((i0, j0))._1 == v.map(x => x(i0) * x(j0)).sum)
  }

  test("LSH cosines are bit-identical to brute force on shared hits") {
    val dir = generateClustered()
    val brute = Similarity.q38AnnBruteforce.run(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("cosine")).toMap
    val lsh = Similarity.q52AnnLsh.run(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("cosine")).toMap
    val shared = brute.keySet.intersect(lsh.keySet)
    assert(shared.nonEmpty, "clustered data should put true neighbors in the query's LSH bucket")
    shared.foreach(k => assert(brute(k) == lsh(k)))
  }

  test("routed kNN classifier agrees with brute force on clustered data") {
    // on the near-isotropic driver fixture routing disagrees often (the
    // expected IVF recall trade with probe=2 of k=8); on REAL clusters
    // the trained buckets coincide with the label clusters and the
    // routed verdicts match brute force almost everywhere
    val dir = generateClustered()
    val brute = Similarity.q140KnnClassify.run(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    val routed = Similarity.q152KnnClassifyIvf.run(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(2), r.getBoolean(4)))
    assert(routed.map(_._1).toSet == brute.keySet,
      "both faces must classify the same held-out set")
    val agree = routed.count { case (id, p, _) => brute(id) == p }
    assert(agree.toDouble / brute.size >= 0.9,
      s"routed/brute agreement $agree/${brute.size}")
    val correct = routed.count(_._3)
    assert(correct.toDouble / routed.size >= 0.9,
      s"routed accuracy $correct/${routed.size} on separable clusters")
  }

  test("two-stage PQ rerank recovers recall the raw ADC ranking loses") {
    val dir = generateClustered()
    val brute = Similarity.q38AnnBruteforce.run(spark, dir).collect().map(_.getLong(0)).toSet
    val adcOnly = Similarity.q133PqAdc.run(spark, dir).collect().map(_.getLong(0)).toSet
    val reranked = Similarity.q171PqRerank.run(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val rerankedIds = reranked.map(_._1).toSet
    val rAdc = brute.intersect(adcOnly).size
    val rTwo = brute.intersect(rerankedIds).size
    assert(rTwo >= rAdc,
      s"exact rescoring must not lose recall: two-stage $rTwo < adc-only $rAdc")
    assert(rTwo >= 8, s"two-stage recall@10 = $rTwo on separated clusters")
    // the rerank emits descending exact cosines
    val cosines = reranked.map(_._3).toSeq
    assert(cosines == cosines.sorted.reverse)
  }

  test("JL sign matrix is deterministic, ±1-valued, and near-balanced") {
    val a = Similarity.jlSignMatrix(spark, 64, 16).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    val b = Similarity.jlSignMatrix(spark, 64, 16).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(a == b, "two builds of the md5-derived matrix must be identical")
    assert(a.size == 16 && a.values.forall(_.size == 64))
    val flat = a.values.flatten.toSeq
    assert(flat.forall(v => v == 1L || v == -1L))
    // md5 parity is a fair coin: the 1024-entry sum stays well inside ±3σ = ±96
    assert(math.abs(flat.sum) <= 96, s"sign imbalance ${flat.sum}")
  }

  test("JL-space top-10 keeps most true neighbors on clustered data") {
    val dir = generateClustered()
    // exact full-space quantized-L2 top-10 for the query, driver-computed
    val vecs = Similarity.quantizeVectors(
        spark.read.parquet(s"$dir/embeddings.parquet")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    val q = vecs(0L)
    val exact = vecs.toSeq.filter(_._1 != 0L)
      .map { case (id, v) =>
        id -> v.zip(q).map { case (x, y) => (x - y) * (x - y) }.sum }
      .sortBy { case (id, d) => (d, id) }.take(10).map(_._1).toSet
    val jl = Similarity.q154JlAnn.run(spark, dir).collect().map(_.getLong(0)).toSet
    val recall = exact.intersect(jl).size
    assert(recall >= 7, s"JL recall@10 = $recall on separated clusters")
  }

  test("JL-space IVF keeps high recall vs brute force on clustered data") {
    // the quantizer trains and routes in 16 projected dims, but final
    // ranking is exact full-space cosine — so recall loss can only come
    // from routing to the wrong bucket, which separated clusters resist
    val dir = generateClustered()
    val brute = Similarity.q38AnnBruteforce.run(spark, dir).collect().map(_.getLong(0)).toSet
    val jlIvf = Similarity.q160JlIvf.run(spark, dir).collect().map(_.getLong(0)).toSet
    val recall = brute.intersect(jlIvf).size
    assert(recall >= 7, s"JL-IVF recall@10 = $recall on separated clusters")
  }

  test("index drift: proportional arrivals yield EXACTLY zero drift, shares re-derive") {
    // generateClustered puts 30 members per cluster in contiguous id
    // blocks, so the vec_id ≡ 9 (mod 10) arrival rule samples exactly 3
    // per cluster — shares are both 27/216 = 3/24 = 0.125 and the drift
    // is not just small but bit-exactly 0.0 (the integer-exact monitor
    // at work)
    val dir = generateClustered()
    val rows = Similarity.q162IndexDrift.run(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(rows.nonEmpty)
    val tb = rows.map(_._2).sum
    val tn = rows.map(_._3).sum
    assert(tn > 0, "some arrivals must exist")
    rows.foreach { case (_, nb, nn, sb, sn, drift) =>
      assert(sb == nb.toDouble / tb)
      assert(sn == nn.toDouble / tn)
      assert(drift == math.abs(nn.toDouble / tn - nb.toDouble / tb))
    }
    assert(rows.map(_._6).max == 0.0,
      s"proportional arrivals must show exactly zero drift, got ${rows.map(_._6).max}")
  }

  test("index drift monitor flags arrivals drawn from only one cluster") {
    // two well-separated clusters; every arrival-id (≡ 9 mod 10) carries
    // a cluster-B vector while the base splits evenly — the monitor must
    // register large drift on the B-heavy buckets
    val rnd = new Random(13)
    def unit(v: Array[Float]): Array[Float] = {
      val n = math.sqrt(v.map(x => x * x.toDouble).sum).toFloat
      v.map(_ / n)
    }
    val a = unit(Array.fill(64)(rnd.nextGaussian().toFloat))
    val b = unit(Array.fill(64)(rnd.nextGaussian().toFloat))
    def member(c: Array[Float]) = unit(c.zip(
      Array.fill(64)(rnd.nextGaussian().toFloat * 0.1f)).map { case (x, y) => x + y })
    val rows = scala.collection.mutable.ArrayBuffer[(Long, Array[Float], Int)]()
    (0L until 120L).foreach { id =>
      val v = if (id % 10 == 9) member(b)                 // arrivals: all B
        else if (id % 2 == 0) member(a) else member(b)    // base: even split
      rows += ((id, v, if (id % 10 == 9 || id % 2 != 0) 1 else 0))
    }
    import spark.implicits._
    val dir = tempDir("graft-drift").toString
    rows.toSeq.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val drifts = Similarity.q162IndexDrift.run(spark, dir).collect()
      .map(_.getDouble(5))
    assert(drifts.max > 0.2,
      s"single-cluster arrivals must register drift, got max ${drifts.max}")
  }

  test("JL projection coordinates re-derive exactly on the driver") {
    val dir = generateClustered()
    val signs = Similarity.jlSignMatrix(spark, 64, 16).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    val v = Similarity.quantizeVectors(spark.read.parquet(s"$dir/embeddings.parquet"))
    val projected = Similarity.jlProject(v, Similarity.jlSignMatrix(spark, 64, 16))
      .filter(org.apache.spark.sql.functions.col("vec_id") === 5L).collect().head
    val qv = v.filter(org.apache.spark.sql.functions.col("vec_id") === 5L)
      .collect().head.getSeq[Long](1).toArray
    val got = projected.getSeq[Long](projected.fieldIndex("pv")).toSeq
    val want = (0 until 16).map(j => qv.zip(signs(j.toLong)).map { case (x, s) => x * s }.sum)
    assert(got == want)
  }

  test("hubness: the hub list re-derives from a driver brute-force over the trained clusters") {
    import org.apache.spark.sql.functions._
    val v = Similarity.quantizeVectors(
      graft.sources.Tables.embeddings(spark, sfDir))
    val assigned = Similarity.assignToCentroids(
        v, Similarity.kmeansCentroidFrame(v, k = 8, iters = 2))
      .select(col("vec_id"), col("qv"), col("cid")).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray, r.getLong(2)))
    def l2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val cites: Seq[Long] = assigned.groupBy(_._3).toSeq.flatMap { case (_, members) =>
      members.toSeq.flatMap { case (va, qa, _) =>
        members.toSeq.filter(_._1 != va)
          .map { case (vb, qb, _) => (vb, l2(qa, qb)) }
          .sortBy { case (vb, d) => (d, vb) }.take(3).map(_._1)
      }
    }
    val want = cites.groupBy(identity).map { case (v0, xs) => v0 -> xs.size.toLong }
    val top20 = want.toSeq.sortBy { case (id, n) => (-n, id) }.take(20)
    val got = Similarity.q178Hubness.run(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(got == top20, s"hub list mismatch:\n got  $got\n want $top20")
  }

  test("embedding stats: one dimension's stats and outlier count re-derive on the driver") {
    import org.apache.spark.sql.functions._
    val got = Similarity.q179EmbeddingStats.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.nonEmpty)
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
      .select("embedding").collect().map(_.getSeq[Float](0).toArray)
    got.foreach { case (_, n, _, varM, _) =>
      assert(n == emb.length); assert(varM >= 0L)
    }
    val dim = got.head._1.toInt
    val vs = emb.map(e => math.floor(e(dim - 1).toDouble * 1000000.0 + 0.5).toLong)
    val n = vs.length.toLong
    val mu = vs.sum.toDouble / n
    val vr = vs.map(v => v.toDouble * v).sum / n - mu * mu
    val outliers = vs.count(v => math.abs(v - mu) > 3.0 * math.sqrt(vr)).toLong
    val row = got.head
    assert(row._3 == math.floor(mu).toLong, s"mean: ${row._3} != ${math.floor(mu)}")
    assert(row._5 == outliers, s"outliers: ${row._5} != $outliers")
  }

  test("silhouette: planted well-separated clusters score near 1.0; fixture scores stay in range") {
    import org.apache.spark.sql.functions._
    val planted = Similarity.q180Silhouette.run(spark, generateClustered()).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(planted.length == 8)
    planted.foreach { case (cid, n, mean, mn, mx) =>
      assert(n >= 1L)
      // the planted noise is sizeable (0.15·√64 ≈ 1.2 vs unit centers),
      // so ~0.5 is the honest squared-silhouette level — the separation
      // claim is the planted-vs-random gap asserted below
      assert(mean >= 400000L, s"cluster $cid mean silhouette $mean too low for planted data")
      assert(mn >= 0L && mx <= 1000000L && mn <= mean && mean <= mx)
    }
    val fixture = Similarity.q180Silhouette.run(spark, sfDir).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    fixture.foreach { case (_, _, mn, mx) =>
      assert(mn >= 0L && mx <= 1000000L)
    }
    assert(fixture.map(_._1).sum ==
      graft.sources.Tables.embeddings(spark, sfDir).count())
    // planted structure must clearly beat the near-random fixture corpus
    def weightedMean(rows: Seq[(Long, Long)]): Double =
      rows.map { case (n, m) => n.toDouble * m }.sum / rows.map(_._1).sum
    val plantedMean = weightedMean(planted.map(p => (p._2, p._3)).toSeq)
    val fixtureMean = weightedMean(fixture.map(f => (f._1, f._2)).toSeq)
    assert(plantedMean > fixtureMean + 200000.0,
      s"planted $plantedMean must dominate random $fixtureMean")
  }

  test("multi-probe LSH: high recall on clustered data and cosines bit-match brute force on shared hits") {
    val dir = generateClustered()
    val got = Similarity.q191MultiprobeLsh.run(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.nonEmpty)
    val brute = Similarity.q38AnnBruteforce.run(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val recall = got.keySet.intersect(brute.keySet).size
    assert(recall >= 5, s"multi-probe recall@10 = $recall on clustered data, expected >= 5")
    got.keySet.intersect(brute.keySet).foreach { id =>
      assert(got(id) == brute(id), s"cosine for $id differs from brute force")
    }
  }

  test("semantic decontamination: the flag re-derives from a driver within-cluster cosine sweep") {
    import org.apache.spark.sql.functions._
    val got = Similarity.q196SemanticDecontam.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2)))
    assert(got.nonEmpty)
    assert(got.forall(_._1 % 50 != 0), "eval vectors must not be emitted")
    val v = Similarity.quantizeVectors(graft.sources.Tables.embeddings(spark, sfDir))
    val cidOf = Similarity.assignToCentroids(
        v, Similarity.kmeansCentroidFrame(v, k = 8, iters = 2))
      .select("vec_id", "cid").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      a.indices.foreach { i =>
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val evals = emb.filter(_._1 % 50 == 0)
    got.foreach { case (id, cid, flagged) =>
      assert(cidOf(id) == cid.toLong)
      val want = evals.exists { case (eid, ee) =>
        cidOf(eid) == cid.toLong && cos(emb.find(_._1 == id).get._2, ee) > 0.35 }
      assert(flagged == want, s"vec $id: flag $flagged != $want")
    }
    assert(got.exists(_._3) && got.exists(!_._3),
      "both contaminated and clean train vectors must exist")
  }

  test("truncation audit: overlap and top-1 agreement re-derive from driver integer dots") {
    import org.apache.spark.sql.functions._
    val got = Similarity.q199TruncationAudit.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(got.nonEmpty)
    val vecs = Similarity.quantizeVectors(graft.sources.Tables.embeddings(spark, sfDir))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    got.foreach { case (q, overlap, top1) =>
      assert(overlap >= 0 && overlap <= 10)
      val qv = vecs(q)
      def rank(dims: Int) = vecs.toSeq.filter(_._1 != q)
        .map { case (id, v) => (id, (0 until dims).map(i => qv(i) * v(i)).sum) }
        .sortBy { case (id, d) => (-d, id) }.take(10).map(_._1)
      val full = rank(64); val trunc = rank(16)
      assert(overlap == full.toSet.intersect(trunc.toSet).size.toLong,
        s"query $q overlap $overlap")
      assert(top1 == (full.head == trunc.head), s"query $q top1")
    }
  }

  test("k-center greedy: picks cover every planted cluster and the coverage radius never increases") {
    import org.apache.spark.sql.functions._
    val dir = generateClustered()
    val labelOf = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val picks = Similarity.kcenterGreedy(
        Similarity.quantizeVectors(spark.read.parquet(s"$dir/embeddings.parquet")), k = 8)
      .orderBy(col("pick_rank")).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(picks.length == 8)
    // each new pick is the farthest point from the selected set, so with 8
    // well-separated planted clusters the 8 picks land one per cluster
    assert(picks.map(p => labelOf(p._2)).toSet.size == 8,
      s"picks must cover all 8 planted clusters: ${picks.map(p => labelOf(p._2)).toSeq}")
    // the radius-at-pick sequence is non-increasing after the seed
    val radii = picks.drop(1).map(_._3)
    assert(radii.zip(radii.tail).forall { case (a, b) => a >= b },
      s"coverage radius must not increase: ${radii.toSeq}")
  }

  test("persisted centroids equal a fresh Lloyd run (read-state == retrain)") {
    val v = Similarity.quantizeVectors(graft.sources.Tables.embeddings(spark, sfDir))
    val fresh = Similarity.collectCentroids(
      Similarity.kmeansCentroidFrame(v, k = 8, iters = 2))
    val stored = Similarity.collectCentroids(
      Similarity.trainedCentroids(spark, sfDir, k = 8, iters = 2))
    assert(stored == fresh, "published centroid state must be bit-identical to retraining")
  }
}
