package graft

import org.apache.spark.sql.functions._

import graft.functions.{CosineSimilarity, Udfs}
import graft.ops.{Multimodal, Similarity}
import graft.sources.Tables

/** UDF / UDAF / native-Expression extension surface + multimodal plumbing. */
class FunctionsSpec extends SparkSpec {

  test("native cosine expression agrees bit-for-bit with the HOF fold") {
    CosineSimilarity.register(spark)
    val e = Tables.embeddings(spark, sfDir).limit(50)
    val a = e.select(col("vec_id").as("ida"), col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("idb"), col("embedding").as("eb"))
    val pairs = a.crossJoin(b).filter(col("ida") < col("idb")).limit(200)
    val cmp = pairs.select(
      expr("cosine_sim_native(ea, eb)").as("native"),
      (expr("aggregate(zip_with(ea, eb, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0 AS DOUBLE), (acc, x) -> acc + x)") /
        (sqrt(expr("aggregate(zip_with(ea, ea, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0 AS DOUBLE), (acc, x) -> acc + x)")) *
          sqrt(expr("aggregate(zip_with(eb, eb, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0 AS DOUBLE), (acc, x) -> acc + x)")))).as("fold"))
      .collect()
    cmp.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("native cosine expression participates in whole-stage codegen") {
    CosineSimilarity.register(spark)
    val e = Tables.embeddings(spark, sfDir)
    val q = e.select(expr("cosine_sim_native(embedding, embedding)").as("c"))
    val plan = q.queryExecution.executedPlan.toString
    // the "*(n)" prefix marks operators fused into a WholeStageCodegen stage
    assert(plan.contains("*(1) Project [cosinesimilarity"), s"expected codegen'd project in:\n$plan")
    // self-similarity is exactly 1.0 in this formulation only up to fp; check close
    q.collect().foreach(r => assert(math.abs(r.getDouble(0) - 1.0) < 1e-9))
  }

  test("registering a session function twice leaves the first registry entry in place") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val reg = spark.sessionState.functionRegistry
    def entries = Seq("cosine_sim_native", "int_l2_native", "ngrams",
        "graft_bloom_agg", "graft_might_contain")
      .map(n => reg.lookupFunctionBuilder(FunctionIdentifier(n)))
    def registerAll(): Unit = {
      CosineSimilarity.register(spark)
      graft.functions.L2Distance.register(spark)
      graft.functions.NGrams.register(spark)
      graft.functions.BloomPrune.register(spark)
    }
    registerAll()
    val first = entries
    assert(first.forall(_.isDefined))
    registerAll()
    assert(entries.zip(first).forall { case (now, was) => now.get eq was.get },
      "a second register must not replace the session's entry")
  }

  test("native integer-L2 expression equals the HOF fold and rides codegen") {
    graft.functions.L2Distance.register(spark)
    // quantized fixture vectors (negatives included), pairwise over a slice
    val q = Similarity.quantizeVectors(Tables.embeddings(spark, sfDir)).limit(40)
    val a = q.select(col("vec_id").as("ida"), col("qv").as("qa"))
    val b = q.select(col("vec_id").as("idb"), col("qv").as("qb"))
    val cmp = a.crossJoin(b).filter(col("ida") < col("idb")).limit(300)
      .select(
        expr("int_l2_native(qa, qb)").as("native"),
        expr("aggregate(zip_with(qa, qb, (x, y) -> (x - y) * (x - y)), 0L, (acc, x) -> acc + x)").as("fold"))
      .collect()
    assert(cmp.nonEmpty)
    cmp.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    // codegen: the fused loop sits inside a WholeStageCodegen project
    val plan = q.select(expr("int_l2_native(qv, qv)").as("d"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [l2distance") || plan.toLowerCase.contains("l2distance"),
      s"expected the native l2 in the plan:\n$plan")
    // and the Column face (the HOF-lambda entry point) agrees too
    val viaColumn = q.select(graft.functions.L2Distance.l2(col("qv"), col("qv")).as("d"))
      .collect().map(_.getLong(0))
    assert(viaColumn.forall(_ == 0L))
  }

  test("cosine UDF matches the native expression") {
    CosineSimilarity.register(spark)
    Udfs.registerAll(spark)
    val e = Tables.embeddings(spark, sfDir).limit(20)
    val q = e.select(
      Udfs.cosineSimUdf(col("embedding"), col("embedding")).as("u"),
      expr("cosine_sim_native(embedding, embedding)").as("n")).collect()
    q.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("weighted-mean Aggregator computes sum(v*w)/sum(w) with partial merge") {
    import spark.implicits._
    val df = Seq((2.0, 1.0), (4.0, 3.0), (10.0, 0.0)).toDF("value", "weight").repartition(3)
    val got = df.agg(Udfs.weightedMean.as("wm")).collect().head.getDouble(0)
    assert(got == (2.0 * 1.0 + 4.0 * 3.0 + 10.0 * 0.0) / 4.0)
    // SQL-registered form
    Udfs.registerAll(spark)
    df.createOrReplaceTempView("wm_in")
    val viaSql = spark.sql("SELECT weighted_mean(value, weight) FROM wm_in").collect().head.getDouble(0)
    assert(viaSql == got)
  }

  test("optimizer rule rewrites the cosine_sim UDF into the native expression") {
    Udfs.registerAll(spark)
    graft.functions.GraftExtensions.install(spark)
    val e = Tables.embeddings(spark, sfDir).limit(20)
    e.createOrReplaceTempView("emb_rule_test")
    val q = spark.sql("SELECT vec_id, cosine_sim(embedding, embedding) AS c FROM emb_rule_test")
    val plan = q.queryExecution.optimizedPlan.toString
    assert(plan.contains("cosinesimilarity"), s"UDF should be rewritten:\n$plan")
    assert(!plan.toLowerCase.contains("scalaudf"), s"no UDF should remain:\n$plan")
    q.collect().foreach(r => assert(math.abs(r.getDouble(1) - 1.0) < 1e-9))
    spark.catalog.dropTempView("emb_rule_test")
  }

  test("native expression rejects wrong input types at analysis") {
    CosineSimilarity.register(spark)
    import spark.implicits._
    val df = Seq((1, "x")).toDF("a", "b")
    val err = intercept[Exception] {
      df.select(expr("cosine_sim_native(a, b)")).collect()
    }
    assert(err.getMessage.toLowerCase.contains("array") || err.getMessage.contains("DATATYPE"))
  }

  test("multimodal features are deterministic and batch-shaped") {
    val f1 = Multimodal.extractFeatures(spark, sfDir).collect().sortBy(_.doc_id)
    val f2 = Multimodal.extractFeatures(spark, sfDir).collect().sortBy(_.doc_id)
    assert(f1.toSeq == f2.toSeq, "stub decode must be deterministic")
    f1.foreach { r =>
      assert(r.n_bytes > 0)
      assert(r.mean_byte > 0 && r.mean_byte < 255)
      assert(r.max_byte <= 255)
    }
    // n_bytes matches the metadata projection
    val meta = Multimodal.q43MultimodalMeta.run(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    f1.foreach(r => assert(meta(r.doc_id) == r.n_bytes.toLong))
  }

  private def pngBytes(w: Int, h: Int, rgb: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
    val buf = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", buf)
    buf.toByteArray
  }

  test("looksLikeImage sniffs container magic: codecs only run on real images") {
    assert(Multimodal.looksLikeImage(pngBytes(2, 2, 0)))
    assert(Multimodal.looksLikeImage(Array(0xFF, 0xD8, 0xFF, 0xE0).map(_.toByte))) // JPEG SOI
    assert(Multimodal.looksLikeImage("GIF89a".getBytes("US-ASCII")))
    assert(!Multimodal.looksLikeImage("plain text payload".getBytes("UTF-8")))
    assert(!Multimodal.looksLikeImage(Array.emptyByteArray))
    assert(!Multimodal.looksLikeImage(Array[Byte](0x89.toByte, 'P', 'N'))) // too short
  }

  test("decodeImage reads a real PNG: true dimensions and pixel statistics") {
    // uniform gray 0x808080 -> mean luminance exactly 128
    val d = Multimodal.decodeImage(pngBytes(12, 7, 0x808080)).get
    assert(d.width == 12 && d.height == 7)
    assert(d.meanLuma == 128.0f)
    // pure red 0xff0000 -> (255+0+0)/3 = 85
    assert(Multimodal.decodeImage(pngBytes(3, 3, 0xff0000)).get.meanLuma == 85.0f)
    // undecodable payloads take the fallback, not an exception
    assert(Multimodal.decodeImage("not an image".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.decodeImage(Array.emptyByteArray).isEmpty)
  }

  test("resizeImage rescales through the real codec and re-encodes PNG") {
    val resized = Multimodal.resizeImage(pngBytes(16, 16, 0x4080c0), 4, 4).get
    val d = Multimodal.decodeImage(resized).get
    assert(d.width == 4 && d.height == 4)
    // uniform input stays uniform under bilinear: (0x40+0x80+0xc0)/3 = 128
    assert(d.meanLuma == 128.0f)
    assert(Multimodal.resizeImage("junk".getBytes("UTF-8"), 4, 4).isEmpty)
  }

  test("the batched pipeline routes real images through the codec and opaque " +
    "payloads through the byte fallback") {
    val s = spark
    import s.implicits._
    val png = pngBytes(8, 8, 0x808080)
    val rows = Seq(
      Multimodal.MediaRow(1L, png, "png", 8, 8),
      Multimodal.MediaRow(2L, "plain text payload".getBytes("UTF-8"), "txt", 0, 0))
    val feats = rows.toDS().mapPartitions { it =>
      it.map { r =>
        val (mean, mx, fl) = Multimodal.decodeImage(r.payload) match {
          case Some(d) => (d.meanLuma, math.max(d.width, d.height).toFloat, r.payload.length / 255f)
          case None => Multimodal.decodeStub(r.payload)
        }
        Multimodal.MediaFeatures(r.doc_id, r.payload.length, mean, mx, fl)
      }
    }.collect().sortBy(_.doc_id)
    assert(feats(0).mean_byte == 128.0f, "PNG row must carry true pixel stats")
    assert(feats(0).max_byte == 8.0f)
    val (fallbackMean, _, _) = Multimodal.decodeStub(rows(1).payload)
    assert(feats(1).mean_byte == fallbackMean, "opaque row must carry byte stats")
  }

  test("resize stub is deterministic and bounded") {
    val payload = Array.tabulate(5000)(i => (i % 251).toByte)
    val r1 = Multimodal.resizeStub(payload)
    val r2 = Multimodal.resizeStub(payload)
    assert(r1.toSeq == r2.toSeq)
    assert(r1.length == 1024)
    assert(Multimodal.resizeStub(Array.emptyByteArray).isEmpty)
    assert(Multimodal.resizeStub(Array[Byte](1, 2, 3)).length == 3, "never upsamples")
  }

  test("frame sampling keeps every 4th frame with correct byte accounting") {
    val frames = Multimodal.sampleFrames(spark, sfDir).collect()
    assert(frames.nonEmpty)
    frames.foreach { f =>
      assert(f.frame_idx % 4 == 0)
      assert(f.frame_bytes > 0 && f.frame_bytes <= 256)
    }
    // per doc: sampled frame count derivable from payload size
    val byDoc = frames.groupBy(_.doc_id)
    val sizes = Multimodal.q43MultimodalMeta.run(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    byDoc.foreach { case (doc, fs) =>
      val nFrames = math.ceil(sizes(doc).toDouble / 256).toInt
      val expected = (0 until nFrames).count(_ % 4 == 0)
      assert(fs.length == expected)
    }
  }

  test("multimodal metadata scan prunes the payload column") {
    val q = Multimodal.q43MultimodalMeta.run(spark, sfDir)
    val scans = q.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(scans.contains("text") || scans.contains("ReadSchema"))
    // payload is derived, not read: the parquet scan must not mention a binary payload field
    assert(!scans.contains("payload"))
  }

  test("native ANN query returns identical rows to the fold-based one") {
    val a = Similarity.q38AnnBruteforce.run(spark, sfDir).collect().map(r => (r.getLong(0), r.getDouble(1)))
    val b = Similarity.q45AnnNative.run(spark, sfDir).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(a.sameElements(b))
  }

  test("spark.sql.extensions entry point registers the optimizer rule AND the asof strategy") {
    import org.apache.spark.sql.{GraftSqlShim, SparkSessionExtensions}
    val e = new SparkSessionExtensions
    new graft.functions.GraftExtensions().apply(e)
    val strategies = GraftSqlShim.builtPlannerStrategies(e, spark)
    assert(strategies.contains(graft.plans.AsofJoinStrategy),
      "a cluster submitting with --conf spark.sql.extensions=graft.functions.GraftExtensions gets the as-of operator")
    val rules = GraftSqlShim.builtOptimizerRules(e, spark)
    assert(rules.contains(graft.functions.RewriteCosineUdf))
    assert(GraftSqlShim.injectedFunctionNames(e).toSet ==
      Set("cosine_sim_native", "ngrams"))
  }

  test("property: ngrams generator equals the transform+explode composition") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    graft.functions.NGrams.register(spark)
    // texts with empty tokens (double spaces), short docs, and empties
    val genText = Gen.listOf(Gen.oneOf("ab", "cd", "ef", "", "g")).map(_.mkString(" "))
    val texts = (1 to 40).flatMap(i => genText(Gen.Parameters.default, Seed(i.toLong)))
    for (n <- Seq(1, 2, 3)) {
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      val viaGen = df.selectExpr("id", s"ngrams(text, $n) AS ngram")
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted
      val viaCompose = df
        .select(col("id"), explode(expr(
          s"CASE WHEN size(split(text, ' ')) >= $n THEN transform(sequence(0, size(split(text, ' ')) - $n), i -> concat_ws(' ', slice(split(text, ' '), i + 1, $n))) ELSE array() END")).as("ngram"))
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted
      assert(viaGen.sameElements(viaCompose), s"n=$n")
    }
  }

  /** A minimal valid 16-bit PCM mono WAV around `samples` — 44-byte
    * canonical header, hand-rolled so the test owns every byte. */
  private def wavBytes(samples: Array[Short]): Array[Byte] = {
    val dataLen = samples.length * 2
    val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1) // PCM, mono
      .putInt(16000).putInt(32000).putShort(2).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(buf.putShort)
    buf.array()
  }

  test("decodeWav round-trips a real PCM WAV and rejects non-WAV payloads") {
    val samples = Array[Short](0, 1000, -1000, 32767, -32768, 5, -5)
    assert(Multimodal.decodeWav(wavBytes(samples)).get.toSeq == samples.toSeq)
    assert(Multimodal.decodeWav("not audio at all, just text".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.decodeWav(Array.emptyByteArray).isEmpty)
    // RIFF-looking but not PCM-parseable → None, so dispatch falls back
    // to raw instead of diverging from the oracle
    assert(Multimodal.decodeWav("RIFFxxxxWAVEgarbage-no-chunks".getBytes("US-ASCII")).isEmpty)
    // a compressed (non-PCM) fmt tag is rejected even with a data chunk
    val nonPcm = wavBytes(samples)
    nonPcm(20) = 2 // wFormatTag = ADPCM
    assert(Multimodal.decodeWav(nonPcm).isEmpty)
  }

  test("audio windows compute exact integer energy and zero-crossings") {
    // one window: alternating +/-100 → every step crosses zero
    val alt = Array.fill[Short](8)(100).zipWithIndex
      .map { case (s, i) => if (i % 2 == 1) (-s).toShort else s }
    val w = Multimodal.audioWindows(7L, alt).toSeq
    assert(w == Seq(Multimodal.AudioWindow(7L, 0L, 8L, 8L * 100L * 100L, 7L)))
    // windowing splits at WindowSamples and restarts crossing counts
    val two = Array.fill[Short](Multimodal.WindowSamples + 3)(1)
    two(Multimodal.WindowSamples) = -1 // first sample of window 1: no prev
    val ws = Multimodal.audioWindows(1L, two).toSeq
    assert(ws.map(_.n_samples) == Seq(Multimodal.WindowSamples.toLong, 3L))
    assert(ws(0).zero_crossings == 0L)
    assert(ws(1).zero_crossings == 1L) // -1 → 1 inside window 1 only
  }

  test("raw s16le fallback equals the WAV decode of the same samples") {
    val samples = Array[Short](12, -34, 5678, -9012, 345)
    val raw = java.nio.ByteBuffer.allocate(samples.length * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    samples.foreach(raw.putShort)
    assert(Multimodal.rawS16le(raw.array()).toSeq == samples.toSeq)
    // odd trailing byte is dropped
    assert(Multimodal.rawS16le(raw.array() :+ 0x7f.toByte).toSeq == samples.toSeq)
    // the two decode paths agree on the same logical signal, so the
    // dispatch in extractAudioWindows cannot change the features
    assert(Multimodal.decodeWav(wavBytes(samples)).get.toSeq ==
      Multimodal.rawS16le(raw.array()).toSeq)
  }

  private def jpegBytes(w: Int, h: Int, rgb: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
    val buf = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", buf)
    buf.toByteArray
  }

  test("MJPEG splits into frames that decode through the real JPEG codec") {
    val black = jpegBytes(8, 8, 0x000000)
    val white = jpegBytes(8, 8, 0xFFFFFF)
    val gray = jpegBytes(8, 8, 0x808080)
    val mjpeg = black ++ white ++ gray
    assert(Multimodal.looksLikeMjpeg(mjpeg))
    assert(!Multimodal.looksLikeMjpeg("plain text".getBytes("UTF-8")))
    val frames = Multimodal.splitMjpeg(mjpeg)
    assert(frames.length == 3)
    assert(frames.map(_.length) == Seq(black.length, white.length, gray.length))
    // each recovered frame is a decodable JPEG with the planted luma
    // (lossy codec → tolerance)
    val lumas = frames.map(f => Multimodal.decodeImage(f).get.meanLuma)
    assert(math.abs(lumas(0) - 0f) < 8f, lumas)
    assert(math.abs(lumas(1) - 255f) < 8f, lumas)
    assert(math.abs(lumas(2) - 128f) < 8f, lumas)
    assert(Multimodal.splitMjpeg("no markers here".getBytes("UTF-8")).isEmpty)
  }

  test("frame features dispatch: real frames for MJPEG, byte chunks otherwise") {
    // 5 frames → sampling keeps indices 0 and 4
    val mjpeg = (0 until 5).flatMap(i => jpegBytes(8, 8, i * 0x3F3F3F).toSeq).toArray
    val real = Multimodal.frameFeaturesOf(3L, mjpeg).toSeq
    assert(real.map(_.frame_idx) == Seq(0, 4))
    assert(real.forall(_.doc_id == 3L))
    // real branch: frame_bytes is the encoded frame size, not FrameSize
    assert(real.forall(f => f.frame_bytes != 256 || f.frame_mean >= 0))
    val text = ("x" * 1500).getBytes("UTF-8")
    val stub = Multimodal.frameFeaturesOf(4L, text).toSeq
    // 1500 bytes → chunks of 256 → 6 chunks → keep idx 0 and 4
    assert(stub.map(_.frame_idx) == Seq(0, 4))
    assert(stub.map(_.frame_bytes) == Seq(256, 256))
    // byte-chunk branch: mean of 'x' bytes is exactly 120
    assert(stub.forall(f => math.abs(f.frame_mean - 120f) < 1e-6))
  }

  test("observed metrics report rows/nulls/sums without a second pass") {
    import graft.functions.Metrics
    val orders = graft.sources.Tables.orders(spark, sfDir)
    val (instrumented, obs) = Metrics.observed(
      orders, "orders_ingest",
      nullCountCols = Seq("o_custkey"), sumCols = Seq("o_totalprice"))
    // one action drives both the "pipeline work" and the metrics
    val n = instrumented.count()
    val m = obs.get
    assert(m("rows") == n)
    assert(m("nulls_o_custkey") == 0L)
    val expectedSum = orders.agg(org.apache.spark.sql.functions.sum("o_totalprice"))
      .collect()(0).getDouble(0)
    assert(math.abs(m("sum_o_totalprice").asInstanceOf[Double] - expectedSum) < 1e-6)
  }

  private def gradientPng(w: Int, h: Int, tweak: Boolean): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val v = (x * 255) / (w - 1) // horizontal gradient
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    if (tweak) img.setRGB(0, 0, 0x0a0a0a) // one-pixel edit
    val buf = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", buf)
    buf.toByteArray
  }

  test("phash60 drives the REAL codec: near-identical images collide, different don't") {
    val a = Multimodal.phash60(gradientPng(60, 40, tweak = false))
    val b = Multimodal.phash60(gradientPng(60, 40, tweak = true))
    val c = Multimodal.phash60(pngBytes(60, 40, 0xffffff)) // flat white
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    // the one-pixel edit survives re-encode with a tiny hamming distance
    assert(ham(a, b) <= 2, s"near-identical images must collide: ${ham(a, b)}")
    // a gradient has ~half its cells above the mean; a flat image has none
    assert(ham(a, c) >= 20, s"unrelated images must differ: ${ham(a, c)}")
    // byte-path and image-path hash DIFFERENT streams: text payloads
    // still hash deterministically through the fallback
    val t = "some plain text payload".getBytes("UTF-8")
    assert(Multimodal.phash60(t) == Multimodal.phash60(t.clone()))
  }
}
