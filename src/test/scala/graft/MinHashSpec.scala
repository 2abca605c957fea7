package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.MinHash
import graft.ops.{Dedup, Similarity}
import graft.sources.Tables

/** [[MinHash]] is the per-row form of the relational signature chain
  * (explode word-3-grams, md5-prefix shingle ids, 8 md5-slice components,
  * MIN per doc). The chain is kept here, verbatim, as the reference: the
  * kernel and every operator built on it must give the same values. */
class MinHashSpec extends SparkSpec {

  /** The explode / `conv` / MIN formulation, over (doc_id, text). Docs
    * with fewer than 3 tokens have no shingle and so no row. */
  private def reference(docs: DataFrame): DataFrame = {
    val sh = docs.withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), explode(expr(
        "CASE WHEN size(toks) >= 3 THEN transform(sequence(0, size(toks) - 3), i -> concat_ws(' ', slice(toks, i + 1, 3))) ELSE array() END")).as("g"))
      .select(col("doc_id"),
        expr("CAST(conv(substring(md5(g), 1, 15), 16, 10) AS BIGINT)").as("sh"))
      .distinct()
      .withColumn("ha", md5(concat(lit("a:"), col("sh").cast("string"))))
      .withColumn("hb", md5(concat(lit("b:"), col("sh").cast("string"))))
    val aggs = (0 until MinHash.NumHashes).map { k =>
      val (src, off) = if (k < 4) ("ha", k * 8 + 1) else ("hb", (k - 4) * 8 + 1)
      min(expr(s"CAST(conv(substring($src, $off, 8), 16, 10) AS BIGINT)")).as(s"s$k")
    }
    sh.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** The kernel over (doc_id, text), signature-less docs dropped. */
  private def kernel(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), MinHash.signature(col("text")).as("sig"))
      .filter(col("sig").isNotNull)
      .select(col("doc_id") +: (0 until MinHash.NumHashes).map(k => col(s"sig.s$k")): _*)

  private def assertSameRows(a: DataFrame, b: DataFrame): Unit = {
    val (ra, rb) = (a.collect().map(_.toString).sorted.toSeq, b.collect().map(_.toString).sorted.toSeq)
    assert(ra == rb, s"\n${ra.diff(rb).take(5)}\nvs\n${rb.diff(ra).take(5)}")
  }

  private val adversarial: Seq[(Long, String)] = Seq(
    1L -> "", 2L -> null, 3L -> "one", 4L -> "one two", 5L -> "one two three",
    6L -> " one two", 7L -> "one two ", 8L -> "one  two three", 9L -> "  ",
    10L -> "   ", 11L -> " leading and trailing ", 12L -> "a  b  c  d",
    13L -> "naïve café déjà vu über", 14L -> "日本語 の テキスト を 分割 する",
    15L -> "emoji 😀 mixed 𝄞 clef text", 16L -> "x y z x y z x y z x y z",
    17L -> "same same same same same", 18L -> "tab\tis not a separator",
    19L -> "line\nbreaks stay inside tokens", 20L -> (1 to 300).map(i => s"w${i % 7}").mkString(" "))

  private def adversarialDocs: DataFrame = {
    import spark.implicits._
    adversarial.toDF("doc_id", "text")
  }

  test("the kernel equals the explode/conv/MIN chain on every fixture document") {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    assert(reference(docs).count() > 0)
    assertSameRows(kernel(docs), reference(docs))
  }

  test("the kernel equals the chain on adversarial texts, codegen and interpreted") {
    val docs = adversarialDocs
    assertSameRows(kernel(docs), reference(docs))
    // interpreted path: the expression's own eval, row by row
    val expected = reference(docs).collect()
      .map(r => r.getLong(0) -> (1 to MinHash.NumHashes).map(r.getLong)).toMap
    adversarial.foreach { case (id, text) =>
      val v = MinHash(Literal(if (text == null) null else UTF8String.fromString(text))).eval()
      val got = Option(v).map { r =>
        val row = r.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
        (0 until MinHash.NumHashes).map(row.getLong)
      }
      assert(got == expected.get(id), s"doc $id: ${Option(text).map(_.take(40))}")
    }
    // null, "", 1-2 tokens have no shingle; "  " is three empty tokens
    assert(Seq(1L, 2L, 3L, 4L).forall(id => !expected.contains(id)))
    assert(expected.contains(9L) && expected.contains(6L) && expected.contains(7L))
  }

  test("q31 and q283 rows are unchanged") {
    val docs = Tables.documents(spark, sfDir)
    val refSig = reference(docs.select(col("doc_id"), col("text"))).cache()
    try {
      assertSameRows(Dedup.q31MinhashLsh.run(spark, sfDir),
        Dedup.candidatePairs(Dedup.bands(refSig)))
      assertSameRows(Dedup.q283MinhashAudit.run(spark, sfDir),
        Dedup.minhashAudit(Dedup.shingles(spark, sfDir), refSig))
    } finally refSig.unpersist()
  }

  test("q108's persisted bands equal the bands of the chain's signatures, as a set") {
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val persisted = Dedup.persistedCorpusState(spark, corpus).bands
    val expected = Dedup.bands(reference(corpus.select(col("doc_id"), col("text"))))
    assert(persisted.count() > 0)
    assert(persisted.exceptAll(expected).isEmpty && expected.exceptAll(persisted).isEmpty)
  }

  test("a q31 noop write runs at most 7 Spark jobs") {
    Dedup.q31MinhashLsh.run(spark, sfDir).write.format("noop").mode("overwrite").save()
    val (_, jobs) = countJobs {
      Dedup.q31MinhashLsh.run(spark, sfDir).write.format("noop").mode("overwrite").save()
    }
    assert(jobs <= 7, s"q31 ran $jobs jobs")
  }

  /** q120 as it was: assignment of a quantized copy joined back to the
    * embeddings on vec_id, probes from a separate per-centroid distance
    * frame, the query embedding in its own broadcast. */
  private def q120Joined(): DataFrame = {
    val (queryVec, numProbe) = (0L, 2)
    graft.functions.CosineSimilarity.register(spark)
    val v = Similarity.quantizeVectors(Tables.embeddings(spark, sfDir))
    val centsF = Similarity.trainedCentroids(spark, sfDir, k = 8, iters = 2)
    val assigned = Similarity.assignToCentroids(v, centsF).select(col("vec_id"), col("cid"))
    val probe = Similarity.centroidDistances(v.filter(col("vec_id") === queryVec), centsF)
      .orderBy(col("cdist"), col("cid")).limit(numProbe).select(col("cid"))
    val n = Tables.embeddings(spark, sfDir)
    val q = n.filter(col("vec_id") === queryVec).select(col("embedding").as("qe"))
    n.join(assigned, "vec_id").join(broadcast(probe), "cid")
      .filter(col("vec_id") =!= queryVec)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), expr("cosine_sim_native(embedding, qe)").as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(10)
  }

  test("q120 assigns in place: the joined formulation's rows, at most 4 Spark jobs") {
    val served = Similarity.q120AnnIvfTrained.run(spark, sfDir).collect().toSeq
    assert(served.nonEmpty)
    assert(served == q120Joined().collect().toSeq)
    val (_, jobs) = countJobs {
      Similarity.q120AnnIvfTrained.run(spark, sfDir).write.format("noop").mode("overwrite").save()
    }
    assert(jobs <= 4, s"q120 ran $jobs jobs")
  }

  test("the kernel rejects a non-string input at analysis") {
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.range(1).select(MinHash.signature(col("id"))).collect()
    }
    assert(e.getMessage.contains("minhash expects a string"), e.getMessage)
  }
}
