package graft

import org.apache.spark.sql.functions._

import graft.ops.TextOps

/** Behavior of the round-4 text-curation operators on constructed inputs:
  * q117's repetition thresholds (which never fire on the near-random
  * fixture corpus) and q118's mixture rebalancing arithmetic. */
class TextQualitySpec extends SparkSpec {

  test("decontaminate (small-reference orientation) equals the generic contamination operator row-for-row") {
    import graft.sources.Tables
    val docs = Tables.documents(spark, sfDir)
    val scored = docs.filter(col("doc_id") % 50 =!= 0).select(col("doc_id"), col("text"))
    val ref = docs.filter(col("doc_id") % 50 === 0).select(col("doc_id"), col("text"))
    val a = TextOps.contamination(scored, ref).orderBy("doc_id").collect().toSeq
    val b = TextOps.decontaminate(scored, ref).orderBy("doc_id").collect().toSeq
    assert(a.nonEmpty && a == b,
      "the scan-side-totals + Bloom-pruned plan must be answer-identical to the generic join plan")
  }

  test("postings index: second read serves from published state and equals the first build") {
    import graft.sources.Tables
    val docs = Tables.documents(spark, sfDir)
    val (tf1, _, df1) = TextOps.postingsIndex(spark, docs)
    val a = tf1.orderBy("doc_id", "word").collect().toSeq
    val dirs = new java.io.File(System.getProperty("java.io.tmpdir"))
      .listFiles().filter(_.getName.startsWith("graft_postings_v1_"))
    assert(dirs.nonEmpty, "first call must publish the index state")
    def successMtimes = dirs.flatMap(d =>
      Seq("tf", "dl", "df").map(p => new java.io.File(d, s"$p/_SUCCESS").lastModified()))
    val before = successMtimes.toSeq
    val (tf2, _, df2) = TextOps.postingsIndex(spark, docs)
    val b = tf2.orderBy("doc_id", "word").collect().toSeq
    assert(a.nonEmpty && a == b, "re-read index must equal the built index")
    assert(df1.count() == df2.count())
    assert(successMtimes.toSeq == before,
      "second call must read the published state, not rebuild it")
  }

  test("BM25: no self-retrieval, dense ranks, and one score re-derives exactly on the driver") {
    import graft.sources.Tables
    val got = TextOps.q136Bm25.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(got.nonEmpty)
    got.foreach { case (q, d, _, s) =>
      assert(q != d, s"query $q retrieved itself"); assert(s > 0.0) }
    got.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.length), s"query $q ranks not dense") }
    // re-derive the top hit of the lowest query id from raw token data
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq).toMap
    val n = docs.size
    val avgdl = docs.values.map(_.size).sum.toDouble / n
    val dfm = docs.toSeq.flatMap { case (id, ws) => ws.distinct.map(_ -> id) }
      .groupBy(_._1).map { case (w, xs) => w -> xs.size }
    def bm25(q: Long, d: Long): Double = {
      val tfm = docs(d).groupBy(identity).map { case (w, xs) => w -> xs.size }
      docs(q).distinct.flatMap { w => tfm.get(w).map { tf =>
        math.log(1.0 + (n - dfm(w) + 0.5) / (dfm(w) + 0.5)) *
          (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * docs(d).size / avgdl))
      }}.sum
    }
    val (q0, d0, _, s0) = got.minBy(r => (r._1, r._3))
    assert(math.abs(bm25(q0, d0) - s0) < 1e-6,
      s"driver bm25 ${bm25(q0, d0)} != emitted $s0 for ($q0, $d0)")
  }

  test("RRF fusion: the fused score re-derives from the emitted leg ranks, ranks dense, no self-hits") {
    val got = TextOps.q137RrfFusion.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getDouble(5)))
    assert(got.nonEmpty)
    got.foreach { case (q, d, _, lex, sem, rrf) =>
      assert(q != d)
      assert(lex > 0 || sem > 0, "a fused row must come from at least one leg")
      val want = (if (lex > 0) 1.0 / (60 + lex) else 0.0) +
        (if (sem > 0) 1.0 / (60 + sem) else 0.0)
      assert(math.abs(rrf - want) < 1e-6, s"($q,$d): rrf $rrf != $want from ranks ($lex,$sem)")
    }
    got.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.length), s"query $q ranks not dense")
      // rows hit by BOTH legs must outrank rows hit by one leg at worse
      // positions: the top fused row always has at least one leg rank
      val top = rows.minBy(_._3)
      assert(top._4 > 0 || top._5 > 0)
    }
  }

  test("mix schedule: per-source spacing is exactly 1/rate and any prefix tracks each source's rate within 1") {
    val got = TextOps.q139MixSchedule.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty)
    // (a) within a source, kth-order equals vtime-order and spacing is constant
    got.groupBy(_._2).foreach { case (src, rows) =>
      val byK = rows.sortBy(_._3)
      byK.zip(byK.tail).foreach { case (a, b) =>
        assert(b._4 > a._4, s"$src: vtime not increasing with kth") }
      if (byK.length > 2) {
        val gaps = byK.zip(byK.tail).map { case (a, b) => b._4 - a._4 }
        gaps.foreach(g => assert(math.abs(g - gaps.head) < 2e-6,
          s"$src: stride not constant ($g vs ${gaps.head})"))
      }
    }
    // (b) the stride-scheduling guarantee: at any virtual time T, each
    // source has emitted within ±1 of rho*T picks
    val rates = TextOps.unimaxAllocation(
      graft.sources.Tables.documents(spark, sfDir)).collect()
      .map(r => r.getString(0) -> r.getLong(3).toDouble / r.getLong(1)).toMap
    val sorted = got.sortBy(r => (r._4, r._1))
    val sizes = got.groupBy(_._2).map { case (s, rs) => s -> rs.length }
    Seq(sorted.length / 4, sorted.length / 2, sorted.length - 1).foreach { i =>
      val t = sorted(i)._4
      val counts = sorted.take(i + 1).groupBy(_._2).map { case (s, rs) => s -> rs.length }
      rates.foreach { case (s, rho) =>
        // the stride bound holds until the source EXHAUSTS its docs
        val expected = math.min(rho * t, sizes(s).toDouble)
        val n = counts.getOrElse(s, 0)
        assert(math.abs(n - expected) <= 1.0 + 1e-6,
          s"source $s at T=$t: $n picks vs expected $expected")
      }
    }
  }

  test("UniMax water-filling: small sources cap, the rest split the remainder — hand-computed") {
    import spark.implicits._
    // one doc per source with a known token count: A=100, B=1000, C=10000
    def words(k: Int) = ("w " * k).trim
    val docs = Seq((1L, words(100), "A"), (2L, words(1000), "B"), (3L, words(10000), "C"))
      .toDF("doc_id", "text", "source")
    // t=11100, B=(19*11100)//10=21090, caps asc: A 200, B 2000, C 20000
    //  A: 200*3=600   <= 21090          -> capped
    //  B: 2000*2=4000 <= 21090-200      -> capped
    //  C: 20000*1     <= 21090-2200? no -> fair share (21090-2200)//1 = 18890
    val got = TextOps.unimaxAllocation(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(3), r.getBoolean(5)))).toMap
    assert(got == Map("A" -> ((200L, true)), "B" -> ((2000L, true)), "C" -> ((18890L, false))))
    // allocation never exceeds the budget
    assert(got.values.map(_._1).sum <= 21090L)
  }

  test("repetition metrics flag degenerate docs and clear natural ones") {
    import spark.implicits._
    val docs = Seq(
      (0L, "spam spam spam spam spam spam"),
      (1L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text").withColumn("toks", split(col("text"), " "))
    val m = TextOps.repetitionMetrics(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // 6×"spam": 5 identical bigrams (share 1.0), 2 identical 5-grams (dup 0.5)
    assert(m(0L).getAs[Double]("top_bigram_share") == 1.0)
    assert(m(0L).getAs[Double]("dup_5gram_frac") == 0.5)
    assert(m(0L).getAs[Boolean]("repetitive"))
    // all-distinct doc: share 1/7, zero duplicate 5-grams
    assert(math.abs(m(1L).getAs[Double]("top_bigram_share") - 1.0 / 7) < 1e-15)
    assert(m(1L).getAs[Double]("dup_5gram_frac") == 0.0)
    assert(!m(1L).getAs[Boolean]("repetitive"))
  }

  test("source remix: exact rates, binding source keeps all, deterministic") {
    import spark.implicits._
    val docs = ((0 until 40).map(i => (i.toLong, "src0")) ++
      (40 until 60).map(i => (i.toLong, "src1")) ++
      (60 until 70).map(i => (i.toLong, "src2")))
      .toDF("doc_id", "source")
    // uniform target over sources sized 40/20/10 → cap = 10 docs per source
    val rates = TextOps.sourceRates(docs, lit(1)).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Double]("rate")).toMap
    assert(rates == Map("src0" -> 0.25, "src1" -> 0.5, "src2" -> 1.0))
    val kept = TextOps.remixSources(docs, lit(1))
    val bySource = kept.groupBy(col("source")).count().collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("count")).toMap
    // rate 1.0 keeps every doc (md5 fraction is always < 1); others shrink
    assert(bySource("src2") == 10L)
    assert(bySource.getOrElse("src0", 0L) < 40L)
    // decisions are hash-derived, not random: reruns select the same set
    val ids1 = kept.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val ids2 = TextOps.remixSources(docs, lit(1))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2)
  }

  test("source remix: a zero-weight source is excluded, not an error") {
    import spark.implicits._
    val docs = ((0 until 10).map(i => (i.toLong, "keep")) ++
      (10 until 20).map(i => (i.toLong, "drop"))).toDF("doc_id", "source")
    val w = when(col("source") === "drop", 0).otherwise(1)
    val kept = TextOps.remixSources(docs, w).select(col("source")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(kept == Set("keep"), s"zero-weight source must drop, got $kept")
  }

  test("q123: every corpus-build survivor passes each stage's gate") {
    val out = TextOps.q123CorpusBuild.run(spark, sfDir).collect()
    assert(out.nonEmpty, "the build must keep a non-empty corpus")
    val ids = out.map(_.getAs[Long]("doc_id"))
    assert(ids.distinct.length == ids.length)
    // eval partition (doc_id % 50 == 0) is excluded before dedup
    assert(ids.forall(_ % 50 != 0))
    val idSet = ids.toSet
    val survivors = graft.sources.Tables.documents(spark, sfDir)
      .filter(col("doc_id").isin(idSet.toSeq.map(Long.box): _*))
      .withColumn("toks", split(col("text"), " "))
    // exact dedup held: no two survivors share a text hash
    val nHashes = survivors.select(md5(col("text"))).distinct().count()
    assert(nHashes == idSet.size, s"$nHashes hashes for ${idSet.size} docs")
    // repetition gate held: recomputing q117's metrics flags none of them
    val rep = TextOps.repetitionMetrics(survivors)
      .filter(col("repetitive")).count()
    assert(rep == 0L, s"$rep repetitive docs survived the build")
    // quality gate held: recomputing q107's score clears the 0.3 floor
    val lowQ = survivors
      .withColumn("n", size(col("toks")))
      .withColumn("score",
        (size(array_distinct(col("toks"))).cast("double") / col("n")) *
          (lit(1.0) - expr("size(filter(toks, x -> x = 'the' OR x = 'a'))")
            .cast("double") / col("n")) *
          least(lit(1.0), col("n").cast("double") / 50.0))
      .filter(col("score") < 0.3).count()
    assert(lowQ == 0L, s"$lowQ below-threshold docs survived the build")
    // decontamination held: no survivor overlaps the eval grams above 0.5
    val evalDocs = graft.sources.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 50 === 0).select(col("doc_id"), col("text"))
    val contaminated = TextOps.contamination(
      survivors.select(col("doc_id"), col("text")), evalDocs)
      .filter(col("contaminated")).count()
    assert(contaminated == 0L, s"$contaminated contaminated docs survived")
  }

  test("lm perplexity: out-of-reference docs score above reference-like docs") {
    val s = spark
    import s.implicits._
    val ref = Seq(
      (1L, "the cat sat on the mat"), (2L, "the dog sat on the rug"),
      (3L, "the cat ran to the dog")).toDF("doc_id", "text")
    val docs = ref.unionByName(Seq(
      (10L, "the cat sat on the rug"),       // in-distribution
      (11L, "zz qq vv kk ww yy")).toDF("doc_id", "text")) // unseen vocab
    val out = TextOps.lmPerplexity(docs, ref).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("avg_nll")).toMap
    assert(out(11L) > out(10L) + 0.5, "unseen-vocab doc must score far higher")
    assert(out(10L) < out(11L) && out(1L) < out(11L))
  }

  test("lm perplexity: flag fires exactly on the rounded threshold comparison") {
    val rows = TextOps.q128LmPerplexity.run(spark, sfDir).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("high_perplexity") == (r.getAs[Double]("avg_nll") > 3.45))
      assert(r.getAs[Long]("n_bigrams") > 0)
    }
    assert(rows.exists(_.getAs[Boolean]("high_perplexity")), "fixture has a high-ppl tail")
    assert(rows.count(_.getAs[Boolean]("high_perplexity")) < 250, "flag is a tail, not a majority")
  }

  test("dsir: docs matching the target vocabulary carry higher importance weights") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "wine cheese paris wine cheese"), (2L, "wine paris cheese baguette wine"),
      (3L, "rocket engine thrust nozzle fuel"), (4L, "engine fuel rocket thrust pump"))
      .toDF("doc_id", "text")
    val target = Seq((100L, "wine cheese paris baguette wine cheese paris")).toDF("doc_id", "text")
    val out = TextOps.dsirSelect(docs, target, buckets = 64, k = 2).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("log_weight")).toMap
    assert(out(1L) > out(3L) && out(2L) > out(4L),
      "target-domain docs must outweigh off-domain docs")
  }

  test("dsir contract face: exactly k selected, and they dominate by gumbel key") {
    val rows = TextOps.q129DsirSelect.run(spark, sfDir).collect()
    assert(rows.length == 500)
    val (sel, unsel) = rows.partition(_.getAs[Boolean]("selected"))
    assert(sel.length == 100)
    val minSel = sel.map(_.getAs[Double]("gumbel_key")).min
    assert(unsel.forall(_.getAs[Double]("gumbel_key") <= minSel))
  }

  test("fuzzyPairs at maxDist=0 reduces to exact within-block name equality") {
    import spark.implicits._
    val rows = Seq(
      (1L, "b1", "same"), (2L, "b1", "same"), (3L, "b1", "close"),
      (4L, "b2", "same")) // same name, different block: must NOT pair
      .toDF("key", "block", "name")
    val got = graft.ops.Analytics.fuzzyPairs(rows, maxDist = 0).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == Set((1L, 2L, 0)))
  }

  test("capstone-with-packing lays out a dense, capped token stream") {
    val rows = graft.ops.TextOps.q151CorpusBuildPack.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    // every chunk holds at most the context length, every slice is positive
    rows.foreach { case (_, _, _, n) => assert(n > 0 && n <= 128) }
    val perChunk = rows.groupBy(_._2).view.mapValues(_.map(_._4).sum)
    // all chunks except the last are exactly full (cross-doc packing)
    val lastChunk = perChunk.keys.max
    perChunk.foreach { case (c, tot) =>
      if (c != lastChunk) assert(tot == 128L, s"chunk $c holds $tot")
      else assert(tot <= 128L)
    }
    // the layout is gap-free: chunk ids tile 0..last
    assert(perChunk.keySet == (0L to lastChunk).toSet)
    // the domain cap held: at most 8 surviving docs per source
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("source"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val perSource = rows.map(_._1).distinct.groupBy(docs)
    perSource.foreach { case (src, ds) =>
      assert(ds.length <= 8, s"source $src kept ${ds.length} docs")
    }
  }

  test("corpus card totals reconcile with the corpus") {
    val card = graft.ops.TextOps.q149CorpusCard.run(spark, sfDir).collect()
    val docs = graft.sources.Tables.documents(spark, sfDir)
    assert(card.map(_.getAs[Long]("n_docs")).sum == docs.count())
    val totalTokens = docs
      .select(org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.split(
          org.apache.spark.sql.functions.col("text"), " ")).cast("long").as("n"))
      .agg(org.apache.spark.sql.functions.sum("n")).collect()(0).getLong(0)
    assert(card.map(_.getAs[Long]("n_tokens")).sum == totalTokens)
    card.foreach { r =>
      assert(r.getAs[Double]("ttr") > 0 && r.getAs[Double]("ttr") <= 1.0)
      assert(r.getAs[Double]("quality_rate") >= 0 && r.getAs[Double]("quality_rate") <= 1.0)
      assert(r.getAs[Long]("vocab") <= r.getAs[Long]("n_tokens"))
    }
  }

  test("collocations: a planted always-adjacent pair tops the lift ranking, lift re-derives") {
    import org.apache.spark.sql.functions.{col, length, lit}
    import spark.implicits._
    // 40 filler docs of near-random common words push every filler-word
    // marginal to ~100, while 'zeta omega' appears 8 times and its words
    // NEVER apart — its lift N·8/(8·8) dwarfs the filler's ≈1.
    val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
      "golf", "hotel", "india", "juliet", "kilo")
    val rnd = new scala.util.Random(11)
    val filler = (0 until 40).map(i =>
      (i.toLong, Seq.fill(60)(vocab(rnd.nextInt(vocab.length))).mkString(" ")))
    val planted = (100 until 108).map(i => (i.toLong, "zeta omega"))
    val dir = tempDir("graft-colloc").toString
    (filler ++ planted).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("gen"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$dir/documents.parquet")
    val rows = TextOps.q155Collocations.run(spark, dir).collect()
    assert(rows.nonEmpty)
    val top = rows.head
    assert(top.getString(0) == "zeta omega", s"top collocation was ${top.getString(0)}")
    val n = 40L * 59 + 8 // total corpus bigrams
    assert(top.getLong(1) == 8L && top.getLong(2) == 8L && top.getLong(3) == 8L)
    assert(top.getDouble(4) == (n * 8L).toDouble / 64.0)
    // ranking is by lift descending with the emitted values re-deriving
    rows.foreach { r =>
      assert(r.getLong(1) >= 5L)
      assert(r.getDouble(4) ==
        (n * r.getLong(1)).toDouble / (r.getLong(2) * r.getLong(3)).toDouble)
    }
    assert(rows.map(_.getDouble(4)).toSeq == rows.map(_.getDouble(4)).sortBy(-_).toSeq)
  }

  test("temperature mix: rates re-derive, the max source pins 1.0, small sources up-sample") {
    val rows = TextOps.q164TemperatureMix.run(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(rows.nonEmpty)
    val m = rows.map(_._2).max
    rows.foreach { case (_, n, w, rm) =>
      assert(w == math.sqrt(n.toDouble) / math.sqrt(m.toDouble))
      assert(rm == math.floor(1000000.0 * w).toLong)
      assert(w > 0.0 && w <= 1.0)
      // τ=2 up-samples every non-max source relative to proportional
      if (n < m) assert(w > n.toDouble / m, s"tempered rate must exceed proportional for n=$n")
    }
    assert(rows.filter(_._2 == m).forall(_._3 == 1.0))
    // monotone: more tokens, no smaller rate
    val byTokens = rows.sortBy(_._2)
    byTokens.sliding(2).foreach {
      case Array((_, _, w1, _), (_, _, w2, _)) => assert(w2 >= w1)
      case _ =>
    }
  }

  test("shard manifest reconciles with shard packing and the hash re-derives order-independently") {
    import org.apache.spark.sql.functions.{col, expr}
    val packing = TextOps.q100ShardPacking.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))   // (doc_id, n_tokens, shard_id)
    val perDocHash = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), expr(
        "CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), ':', text)), 1, 15), 16, 10) AS BIGINT)").as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val manifest = TextOps.q165ShardManifest.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(manifest.nonEmpty)
    val byShard = packing.groupBy(_._3)
    assert(manifest.map(_._1).toSet == byShard.keySet)
    manifest.foreach { case (sid, nDocs, minDoc, maxDoc, totTokens, hash) =>
      val docs = byShard(sid)
      assert(nDocs == docs.size)
      assert(minDoc == docs.map(_._1).min && maxDoc == docs.map(_._1).max)
      assert(totTokens == docs.map(_._2).sum)
      // XOR in arbitrary driver order — order independence is the point
      assert(hash == docs.map(d => perDocHash(d._1)).reduce(_ ^ _))
    }
  }

  test("manifest diff: counts reconcile with both versions, and a tail-only edit stays in the tail shard") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // fixture reconciliation: old/new doc totals equal each version's size
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val rows = TextOps.q167ManifestDiff.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    assert(rows.map(_._3).sum == docs.filter(col("doc_id") % 13 =!= 0).count())
    assert(rows.map(_._4).sum == docs.filter(col("doc_id") % 17 =!= 0).count())
    assert(rows.forall(r => Set("added", "removed", "changed", "unchanged")(r._2)))
    // localization: 10 docs × 6000 tokens → shards {0: docs 0–8, 1: doc 9};
    // editing only doc 9 must leave shard 0's manifest row identical
    def ver(editTail: Boolean) = (0L until 10L).map { i =>
      val tok = if (editTail && i == 9) "EDITED" else s"w$i"
      (i, Seq.fill(6000)(tok).mkString(" "))
    }.toDF("doc_id", "text")
    val a = TextOps.manifestOf(ver(editTail = false)).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val b = TextOps.manifestOf(ver(editTail = true)).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(a.keySet == Set(0L, 1L) && b.keySet == Set(0L, 1L))
    assert(a(0L) == b(0L), "untouched prefix shard must be byte-identical")
    assert(a(1L) != b(1L), "the edited tail shard must change")
  }

  test("cdc shards: an inserted non-boundary doc rewrites exactly one shard's manifest row") {
    import spark.implicits._
    def h60(id: Long, text: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$id:$text".getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    // even doc_ids leave gaps; the insertion goes at odd id 101
    val base = (0L until 200L).map(i => (i * 2, s"doc number $i content alpha beta"))
    val insId = 101L
    val insText = Iterator.from(0).map(k => s"inserted version $k")
      .find(t => h60(insId, t) % 32L != 0L).get
    def manifest(rows: Seq[(Long, String)]) =
      TextOps.cdcManifestOf(rows.toDF("doc_id", "text")).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(4), r.getLong(5))))
        .sortBy(_._1).map(_._2).toSeq // (n_docs, tokens, hash) in shard order
    val before = manifest(base)
    val after = manifest(base :+ ((insId, insText)))
    assert(before.size > 2, s"expected several CDC shards, got ${before.size}")
    assert(after.size == before.size, "a non-boundary insertion must not split shards")
    // exactly one manifest row differs — the shard containing the insertion
    val diffs = before.zip(after).filter { case (a, b) => a != b }
    assert(diffs.size == 1, s"expected exactly one rewritten shard, got ${diffs.size}")
    val (oldRow, newRow) = diffs.head
    assert(newRow._1 == oldRow._1 + 1 && newRow._2 > oldRow._2)
  }

  test("manifest and CDC shard assignment are partition-count independent") {
    import spark.implicits._
    val rows = (0L until 300L).map(i => (i, s"some document $i with content ${i % 7}"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long].toString).toSeq
    val ref = canon(TextOps.manifestOf(rows.toDF("doc_id", "text")))
    val refCdc = canon(TextOps.cdcManifestOf(rows.toDF("doc_id", "text")))
    for (p <- Seq(1, 3, 8)) {
      val df = rows.toDF("doc_id", "text").repartition(p)
      assert(canon(TextOps.manifestOf(df)) == ref, s"manifest differs at $p partitions")
      assert(canon(TextOps.cdcManifestOf(df)) == refCdc, s"cdc shards differ at $p partitions")
    }
  }

  test("passage windows: full coverage, stride-aligned starts, tail reaches the last token") {
    val rows = TextOps.q169PassageWindows.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    val lens = graft.sources.Tables.documents(spark, sfDir)
      .selectExpr("doc_id", "CAST(size(split(text, ' ')) AS LONG) AS len")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.groupBy(_._1).foreach { case (doc, ws) =>
      val sorted = ws.sortBy(_._2)
      // dense passage ids, stride-aligned starts
      assert(sorted.map(_._2).toSeq == sorted.indices.map(_.toLong))
      sorted.foreach { case (_, k, start, n) =>
        assert(start == k * 48 && n >= 1 && n <= 64)
      }
      // the last window ends exactly at the document's last token
      val (_, _, lastStart, lastN) = sorted.last
      assert(lastStart + lastN == lens(doc), s"doc $doc tail uncovered")
      // coverage: consecutive windows leave no gap (stride < width)
      sorted.sliding(2).foreach {
        case Array((_, _, s1, n1), (_, _, s2, _)) => assert(s2 <= s1 + n1)
        case _ =>
      }
    }
  }

  test("compaction plan: groups are contiguous, meet the floor, and conserve tokens") {
    val groups = TextOps.q170CompactionPlan.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(groups.nonEmpty)
    val shardTokens = TextOps.q168CdcShards.run(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(4)).toMap
    // contiguity over the whole shard range
    assert(groups.head._3 == 0L)
    groups.sliding(2).foreach {
      case Array((_, _, _, last, _), (_, _, first, _, _)) => assert(first == last + 1)
      case _ =>
    }
    assert(groups.last._4 == shardTokens.keys.max)
    groups.foreach { case (_, nShards, first, last, tokens) =>
      assert(nShards == last - first + 1)
      assert(tokens == (first to last).map(shardTokens).sum, "group tokens must conserve")
    }
    // greedy floor: every group except possibly the last meets the budget
    groups.dropRight(1).foreach { case (g, _, _, _, tokens) =>
      assert(tokens >= 5000L, s"group $g below the compaction floor")
    }
  }

  private def writeDocs(rows: Seq[(Long, String, String)], prefix: String): String = {
    import org.apache.spark.sql.functions.{col, length, lit}
    import spark.implicits._
    val dir = tempDir(prefix).toString
    rows.toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("domain cosine: identical sources score 1.0, disjoint-vocabulary sources drop out") {
    val dir = writeDocs(Seq(
      (1L, "alpha bravo charlie alpha", "s1"),
      (2L, "alpha bravo charlie alpha", "s2"),   // exact mirror of s1
      (3L, "xray yankee zulu", "s3")),           // vocabulary disjoint from both
      "graft-domcos")
    val rows = TextOps.q157DomainCosine.run(spark, dir).collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getDouble(3)))).toMap
    // mirrors: dot = 2·2+1+1 = 6, |v|² = 6 → cosine = 6/(√6·√6), which is
    // 1.0000000000000002 in IEEE doubles — re-derive bit-exactly rather
    // than asserting the idealized 1.0
    assert(rows.keySet == Set(("s1", "s2")), s"unexpected pairs ${rows.keySet}")
    assert(rows(("s1", "s2")) == ((6L, 6.0 / (math.sqrt(6.0) * math.sqrt(6.0)))))
  }

  test("boilerplate: a planted shared header is flagged, unique docs are not") {
    // 3 docs open with the same 5-token header (3 shared 3-grams each);
    // doc 4 is entirely unique text
    val header = "terms of service apply here"
    val dir = writeDocs(Seq(
      (1L, s"$header alpha bravo", "s"),
      (2L, s"$header charlie delta", "s"),
      (3L, s"$header echo foxtrot", "s"),
      (4L, "golf hotel india juliet kilo lima", "s")),
      "graft-boiler")
    val got = TextOps.q158Boilerplate.run(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got.keySet == Set(1L, 2L, 3L), s"flagged ${got.keySet}")
    // 7 tokens → 5 grams; the 3 header grams are shared across all docs
    got.values.foreach { case (n, b, f) =>
      assert(n == 5L && b == 3L && f == 3.0 / 5.0)
    }
  }

  test("quality quantile gate: kept docs dominate dropped docs within every source") {
    val kept = TextOps.q159QualityQuantileGate.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3)))
    assert(kept.nonEmpty)
    kept.foreach { case (_, _, _, pr) => assert(pr >= 0.75 && pr <= 1.0) }
    // within each source: min kept quality >= max dropped quality
    val all = TextOps.q25QualityScore.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getAs[Double]("quality")))
    val docSource = graft.sources.Tables.documents(spark, sfDir)
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val keptIds = kept.map(_._1).toSet
    all.groupBy { case (id, _) => docSource(id) }.foreach { case (src, docs) =>
      val (k, d) = docs.partition { case (id, _) => keptIds.contains(id) }
      if (k.nonEmpty && d.nonEmpty)
        assert(k.map(_._2).min >= d.map(_._2).max,
          s"source $src: kept quality below a dropped one")
      // the quartile gate keeps roughly the top 25% (ties can widen it)
      assert(k.size <= docs.size / 2, s"source $src kept ${k.size} of ${docs.size}")
    }
  }

  test("retrieval metrics: recall@10 and MRR re-derive from independently collected legs") {
    import graft.sources.Tables
    val got = TextOps.q172RetrievalMetrics.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty)
    // re-derive ground truth and run on the driver from the raw tables
    val run = TextOps.q136Bm25.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    graft.functions.CosineSimilarity.register(spark)
    val emb = Tables.embeddings(spark, sfDir)
    val qe = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val truth = emb.select(col("vec_id").as("doc_id"), col("embedding"))
      .crossJoin(broadcast(qe)).filter(col("doc_id") =!= col("query_id"))
      .withColumn("cosine", expr("cosine_sim_native(embedding, qv)"))
      .withColumn("rn", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("cosine").desc, col("doc_id"))))
      .filter(col("rn") <= 10).select("query_id", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    got.foreach { case (q, hits, recallMicro, rrMicro) =>
      val mine = run.filter(_._1 == q).filter { case (_, d, _) => truth((q, d)) }
      assert(hits == mine.length, s"query $q: hits $hits != ${mine.length}")
      assert(recallMicro == hits * 100000L)
      val wantRr = if (mine.isEmpty) 0L else 1000000L / mine.map(_._3).min
      assert(rrMicro == wantRr, s"query $q: rr $rrMicro != $wantRr")
      assert(hits >= 0 && hits <= 10)
    }
    // every BM25 query is judged exactly once
    assert(got.map(_._1).toSeq.sorted == run.map(_._1).distinct.toSeq.sorted)
  }

  test("phrase search: occurrence counts re-derive from a driver sliding window; queries are the top-5 bigrams") {
    import graft.sources.Tables
    val got = TextOps.q175PhraseSearch.run(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    assert(got.nonEmpty)
    val texts = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq).toMap
    val bigramCounts = texts.values.toSeq
      .flatMap(ws => ws.sliding(2).filter(_.size == 2).map(_.mkString(" ")))
      .groupBy(identity).map { case (b, xs) => b -> xs.size }
    val top5 = bigramCounts.toSeq.sortBy { case (b, n) => (-n, b) }.take(5).map(_._1).toSet
    assert(got.map(_._1).toSet == top5, "emitted phrases must be the corpus top-5 bigrams")
    got.foreach { case (phrase, doc, _, nOcc) =>
      val Seq(w1, w2) = phrase.split(" ").toSeq
      val want = texts(doc).sliding(2).count(w => w.size == 2 && w(0) == w1 && w(1) == w2)
      assert(nOcc == want, s"'$phrase' in doc $doc: $nOcc != $want")
    }
    got.groupBy(_._1).foreach { case (p, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.length), s"'$p' ranks not dense")
    }
  }

  test("signal agreement: Spearman rho re-derives on the driver from the two collected signals") {
    import graft.sources.Tables
    val got = TextOps.q181SignalAgreement.run(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty)
    got.foreach { case (_, n, _, rho) =>
      assert(rho >= -1000000L && rho <= 1000000L); assert(n >= 1L)
    }
    val docs = Tables.documents(spark, sfDir)
    val qual = docs.withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), col("lang"),
        ((size(array_distinct(col("toks"))).cast("double") / size(col("toks"))) *
          (lit(1.0) - expr("size(filter(toks, x -> x = 'the' OR x = 'a'))").cast("double") /
            size(col("toks"))) *
          least(lit(1.0), size(col("toks")).cast("double") / 50.0)).as("quality"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val nll = TextOps.lmPerplexity(docs, docs.filter(col("lang") === "en"))
      .select("doc_id", "avg_nll").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    got.foreach { case (lang, n, sumD2, rho) =>
      val grp = qual.filter(_._2 == lang).filter(t => nll.contains(t._1))
      assert(n == grp.length.toLong, s"$lang: n $n != ${grp.length}")
      val r1 = grp.sortBy { case (id, _, q) => (-q, id) }.map(_._1).zipWithIndex
        .map { case (id, i) => id -> (i + 1L) }.toMap
      val r2 = grp.sortBy { case (id, _, _) => (nll(id), id) }.map(_._1).zipWithIndex
        .map { case (id, i) => id -> (i + 1L) }.toMap
      val d2 = grp.map(t => { val d = r1(t._1) - r2(t._1); d * d }).sum
      assert(sumD2 == d2, s"$lang: sum_d2 $sumD2 != $d2")
      val den = n.toDouble * (n.toDouble * n.toDouble - 1.0)
      val want = if (n < 2) 0L
        else math.floor((1.0 - 6.0 * d2.toDouble / den) * 1000000.0).toLong
      assert(rho == want, s"$lang: rho $rho != $want")
    }
  }

  test("word similarity: the top-20 pair list re-derives from a driver count-vector build") {
    import graft.sources.Tables
    val got = TextOps.q185WordSimilarity.run(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.length == 20)
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq)
    val freq = docs.flatMap(_._2).groupBy(identity).map { case (w, xs) => w -> xs.size }
    val vocab = freq.toSeq.sortBy { case (w, c) => (-c, w) }.take(100).map(_._1).toSet
    val hits = docs.map { case (id, ws) => id -> ws.filter(vocab).toSet }
    val nw = hits.flatMap(_._2).groupBy(identity).map { case (w, xs) => w -> xs.size.toLong }
    val nDocs = docs.length.toLong
    val co = hits.flatMap { case (_, s) =>
      for (a <- s.toSeq; b <- s.toSeq if a != b) yield (a, b)
    }.groupBy(identity).map { case (k, xs) => k -> xs.size.toLong }
    val lift = co.map { case ((w, c), nwc) =>
      (w, c) -> nwc * 1000L * nDocs / (nw(w) * nw(c)) }
    val byW = lift.groupBy(_._1._1).map { case (w, m) =>
      w -> m.map { case ((_, c), l) => c -> l } }
    val n2 = byW.map { case (w, v) => w -> v.values.map(l => l * l).sum }
    val words = byW.keys.toSeq.sorted
    val pairs = for {
      i <- words.indices; j <- (i + 1) until words.length
      wa = words(i); wb = words(j)
      dot = byW(wa).keySet.intersect(byW(wb).keySet).toSeq
        .map(c => byW(wa)(c) * byW(wb)(c)).sum
      if n2(wa) > 0 && n2(wb) > 0
    } yield (wa, wb, dot,
      dot.toDouble / (math.sqrt(n2(wa).toDouble) * math.sqrt(n2(wb).toDouble)))
    val want = pairs.sortBy { case (wa, wb, _, raw) => (-raw, wa, wb) }.take(20)
      .map { case (wa, wb, dot, raw) =>
        (wa, wb, dot, math.rint(raw * 1e6) / 1e6) }
    val gotCmp = got.map { case (wa, wb, dot, c) => (wa, wb, dot, c) }.toSeq
    assert(gotCmp.map(t => (t._1, t._2, t._3)) == want.map(t => (t._1, t._2, t._3)),
      s"top-20 mismatch:\n got  ${gotCmp.take(5)}\n want ${want.take(5)}")
    gotCmp.zip(want).foreach { case (g, w) =>
      assert(math.abs(g._4 - w._4) < 1e-6, s"cosine ${g._4} != ${w._4} for ${g._1}/${g._2}")
    }
  }

  test("bootstrap CI: the whole resampling procedure re-derives on the driver from md5 picks") {
    import graft.sources.Tables
    val got = TextOps.q186BootstrapCi.run(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.nonEmpty)
    def md5hex(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "source", "text").collect()
      .map { r =>
        val toks = r.getString(2).split(" ")
        (r.getLong(0), r.getString(1),
          math.floor(toks.distinct.length.toDouble * 1000000.0 / toks.length).toLong)
      }
    val bySource = docs.groupBy(_._2).map { case (src, xs) =>
      src -> xs.sortBy(_._1).take(200).map(_._3).toSeq
    }
    got.foreach { case (src, m, mean, lo, hi) =>
      val samp = bySource(src)
      assert(m == samp.length.toLong)
      assert(mean == samp.sum / samp.length)
      val rmeans = (1L to 50L).map { r =>
        val picks = (1L to m).map { k =>
          val h = java.lang.Long.parseLong(md5hex(s"boot:$r:$k:$src").take(8), 16)
          (h % m).toInt // 0-based into the rn-1 index (pick = 1 + h%m)
        }
        r -> picks.map(samp(_)).sum / m
      }
      val sorted = rmeans.sortBy { case (r, v) => (v, r) }.map(_._2)
      assert(lo == sorted(1), s"$src: ci_lo $lo != ${sorted(1)}")
      assert(hi == sorted(48), s"$src: ci_hi $hi != ${sorted(48)}")
      assert(lo <= hi)
    }
  }

  test("RM3: expansion terms re-derive from the feedback docs' postings; the expanded run moves rankings") {
    import graft.sources.Tables
    val got = TextOps.q187Rm3Expansion.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(got.nonEmpty)
    got.foreach { case (q, d, _, s) => assert(q != d); assert(s > 0.0) }
    got.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.length), s"query $q ranks not dense") }
    // re-derive the expansion terms for the lowest query id
    val base = TextOps.q136Bm25.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val q0 = base.map(_._1).min
    val prf = base.filter(t => t._1 == q0 && t._3 <= 5).map(_._2).toSet
    val texts = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq).toMap
    val qWords = texts(q0).toSet
    val fbTf = prf.toSeq.flatMap(d => texts(d)).groupBy(identity)
      .map { case (w, xs) => w -> xs.size.toLong }
      .filter { case (w, _) => !qWords(w) }
    val wantExp = fbTf.toSeq.sortBy { case (w, c) => (-c, w) }.take(3).map(_._1).toSet
    // the expanded run must retrieve at least one doc the baseline top-10
    // missed OR reorder it — compare lists
    val b0 = base.filter(_._1 == q0).sortBy(_._3).map(_._2).toSeq
    val e0 = got.filter(_._1 == q0).sortBy(_._3).map(_._2).toSeq
    assert(b0.nonEmpty && e0.nonEmpty)
    // sanity on the mined terms: each expansion term must appear in some
    // feedback doc and not in the query
    wantExp.foreach { w =>
      assert(prf.exists(d => texts(d).contains(w)), s"term $w not in feedback docs")
      assert(!qWords(w))
    }
    // across all queries the expansion must change at least one ranking
    val baseByQ = base.filter(_._3 <= 10).groupBy(_._1)
      .map { case (q, xs) => q -> xs.sortBy(_._3).map(_._2).toSeq }
    val gotByQ = got.groupBy(_._1).map { case (q, xs) => q -> xs.sortBy(_._3).map(_._2).toSeq }
    assert(gotByQ.exists { case (q, l) => baseByQ.get(q).exists(_ != l) },
      "expansion changed nothing anywhere — suspicious")
  }

  test("weak labels: agreement weights and the final vote re-derive from the emitted LF columns") {
    val got = TextOps.q189WeakLabels.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.nonEmpty)
    // majority re-derives from the votes
    got.foreach { case (id, v1, v2, v3, m, _) =>
      val s = v1 + v2 + v3
      val want = if (s > 0) 1L else if (s < 0) -1L else 0L
      assert(m == want, s"doc $id: majority $m != $want")
      assert(math.abs(v1) == 1 && math.abs(v2) == 1 && (v3 == 0L || v3 == 1L))
    }
    // weights from agreement with the majority (non-abstaining, decided docs)
    val decided = got.filter(_._5 != 0L)
    val w1 = decided.count(t => t._2 == t._5).toLong * 1000000L / decided.length
    val w2 = decided.count(t => t._3 == t._5).toLong * 1000000L / decided.length
    val d3 = decided.filter(_._4 != 0L)
    val w3 = d3.count(t => t._4 == t._5).toLong * 1000000L / d3.length
    got.foreach { case (id, v1, v2, v3, _, label) =>
      val score = v1 * w1 + v2 * w2 + v3 * w3
      val want = if (score > 0) 1L else if (score < 0) -1L else 0L
      assert(label == want, s"doc $id: label $label != $want (score $score)")
    }
    // the model must separate: both classes present
    assert(got.exists(_._6 == 1L) && got.exists(_._6 == -1L))
  }

  test("passage retrieval: passages belong to their docs, ranks dense, winning windows contain query terms") {
    import graft.sources.Tables
    val got = TextOps.q197PassageRetrieval.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3), r.getDouble(4)))
    assert(got.nonEmpty)
    got.foreach { case (q, d, pid, _, s) =>
      assert(q != d, s"query $q retrieved itself")
      assert(pid / 1000 == d, s"passage $pid does not belong to doc $d")
      assert(s > 0.0)
    }
    got.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._4).sorted.toSeq == (1 to rows.length), s"query $q ranks not dense")
    }
    // the winning window of every top hit shares >= 1 term with its query
    val texts = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq).toMap
    got.filter(_._4 == 1).foreach { case (q, d, pid, _, _) =>
      val k = (pid % 1000).toInt
      val toks = texts(d)
      val win = toks.slice(k * 48, math.min(k * 48 + 64, toks.length))
      assert(win.toSet.intersect(texts(q).toSet).nonEmpty,
        s"winning passage $pid shares no term with query $q")
    }
  }

  test("RRF sweep: k=60's metrics match q172's MRR companion run and hits stay within bounds") {
    val got = TextOps.q198RrfSweep.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.map(_._1).toSeq == Seq(10L, 60L, 100L))
    val nq = got.head._2
    got.foreach { case (k, n, sumHits, meanMicro) =>
      assert(n == nq)
      assert(sumHits >= 0 && sumHits <= 10 * nq, s"k=$k: hits $sumHits out of range")
      assert(meanMicro == sumHits * 100000L / nq)
    }
    // the k=60 fused run IS q137's: its hit count must equal judging
    // q137's emitted top-10 against the cosine truth
    val fused = TextOps.q137RrfFusion.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    graft.functions.CosineSimilarity.register(spark)
    import org.apache.spark.sql.expressions.Window
    import graft.sources.Tables
    val emb = Tables.embeddings(spark, sfDir)
    val qe = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val truth = emb.select(col("vec_id").as("doc_id"), col("embedding"))
      .crossJoin(broadcast(qe)).filter(col("doc_id") =!= col("query_id"))
      .withColumn("cosine", expr("cosine_sim_native(embedding, qv)"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("doc_id"))))
      .filter(col("rn") <= 10).select("query_id", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val wantK60 = fused.count(truth).toLong
    assert(got.find(_._1 == 60L).get._3 == wantK60,
      s"k=60 hits ${got.find(_._1 == 60L).get._3} != q137-derived $wantK60")
  }

  test("scorecard: every metric reconciles with its donor operator") {
    import graft.sources.Tables
    val got = TextOps.q200CorpusScorecard.run(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.size == 9)
    val docs = Tables.documents(spark, sfDir)
    assert(got("n_docs") == docs.count())
    assert(got("n_langs") == docs.select("lang").distinct().count())
    assert(got("n_sources") == docs.select("source").distinct().count())
    val exact = docs.groupBy(md5(col("text"))).count().filter(col("count") >= 2)
      .collect().map(_.getLong(1))
    assert(got("n_exact_dup_groups") == exact.length.toLong)
    assert(got("n_exact_dup_docs") == exact.map(_ - 1).sum)
    val lm = TextOps.q128LmPerplexity.run(spark, sfDir)
      .filter(col("high_perplexity")).count()
    assert(got("n_lm_flagged") == lm)
    val risky = TextOps.q195KAnonymity.run(spark, sfDir)
      .filter(col("risky")).count()
    assert(got("n_risky_qi_classes") == risky)
    assert(got("mean_quality_micro") > 0 && got("mean_quality_micro") <= 1000000L)
    assert(got("total_tokens") > got("n_docs"))
  }

  test("k-anonymity: equivalence classes reconcile with a driver group-by and cover the corpus") {
    import graft.sources.Tables
    val got = TextOps.q195KAnonymity.run(spark, sfDir).collect()
      .map(r => ((r.getString(0), r.getString(1), r.getLong(2)), (r.getLong(3), r.getBoolean(4))))
    assert(got.nonEmpty)
    val want = Tables.documents(spark, sfDir)
      .select("lang", "source", "n_chars").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2) / 100))
      .groupBy(identity).map { case (k, xs) => k -> xs.size.toLong }
    assert(got.length == want.size)
    got.foreach { case (k, (n, risky)) =>
      assert(want(k) == n, s"class $k: $n != ${want(k)}")
      assert(risky == (n < 5))
    }
    assert(got.map(_._2._1).sum == want.values.sum)
  }

  test("extendPostings: incremental merge equals a from-scratch build, and replayed docs are absorbed") {
    import graft.sources.Tables
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val a = docs.filter(col("doc_id") % 2 === 0)
    val b = docs.filter(col("doc_id") % 2 === 1)
    def build(d: org.apache.spark.sql.DataFrame) = {
      val toks = d.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      (toks.groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf")),
        toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl")),
        toks.distinct().groupBy(col("word")).agg(count(lit(1)).as("df")))
    }
    val (tfA, dlA, dfA) = build(a)
    val (tf1, dl1, df1) = TextOps.extendPostings(tfA, dlA, dfA, b)
    val (tfU, dlU, dfU) = build(docs)
    def norm(df: org.apache.spark.sql.DataFrame, keys: String*) =
      df.orderBy(keys.map(col): _*).collect().toSeq
    assert(norm(tf1, "doc_id", "word") == norm(tfU, "doc_id", "word"))
    assert(norm(dl1, "doc_id") == norm(dlU, "doc_id"))
    assert(norm(df1, "word") == norm(dfU, "word"))
    // replay: extending with an already-indexed batch is a no-op
    val (tf2, dl2, df2) = TextOps.extendPostings(tf1, dl1, df1, b)
    assert(norm(df2, "word") == norm(dfU, "word"), "replayed batch must be absorbed")
    assert(norm(dl2, "doc_id") == norm(dlU, "doc_id"))
    assert(norm(tf2, "doc_id", "word") == norm(tfU, "doc_id", "word"))
  }
}
