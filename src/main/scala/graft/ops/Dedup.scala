package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{StateStore, Tables}

/** Deduplication operators over `documents` (LLM-pipeline north star):
  * exact (hash-groupBy), MinHash+LSH candidate generation, exact n-gram
  * Jaccard verification, and SimHash signatures.
  *
  * Scale posture (100 TB):
  *   - Exact dedup never compares texts pairwise — it hash-aggregates on
  *     md5(text) (constant-width key, map-side partials).
  *   - Near-dup NEVER does an all-pairs join. A MinHash signature is one
  *     per-row native expression over the text ([[graft.functions.MinHash]]):
  *     no explode, no aggregate, no exchange beyond the fan-out. LSH
  *     banding turns "compare everything" into equi-joins on band
  *     buckets, so candidate generation shuffles on bucket keys only.
  *     Exact Jaccard runs on the (tiny) candidate set, not the corpus.
  *   - Every hash is md5-derived — the same bits in Spark and DuckDB, so
  *     every stage is oracle-checkable.
  */
object Dedup {
  import QueryDef.sql

  private val NumHashes = graft.functions.MinHash.NumHashes
  private val BandSize = 2 // 4 bands of 2 → P(candidate) = 1-(1-j²)⁴

  /** Exact content dedup via hash-groupBy: one group-by on md5(text)
    * into per-hash counts `c`, then one global aggregate over the groups
    * — the rows are their count's sum, the unique texts their number,
    * the largest group their max. No distinct-count, no second group-by
    * of the documents, no cross join. */
  val q30DedupExact: QueryDef = sql(
    "q30_dedup_exact",
    """SELECT COUNT(*) AS n_docs,
      |  COUNT(DISTINCT md5(text)) AS n_unique,
      |  COUNT(*) - COUNT(DISTINCT md5(text)) AS n_exact_dupes,
      |  MAX(cnt) AS max_group
      |FROM documents, (SELECT MAX(c) AS cnt FROM (SELECT COUNT(*) AS c FROM documents GROUP BY md5(text)))""".stripMargin) { (s, dir) =>
    val n = coalesce(sum(col("c")), lit(0L))
    Tables.fanOut(Tables.documents(s, dir))
      .groupBy(md5(col("text"))).agg(count(lit(1)).as("c"))
      .agg(n.as("n_docs"), count(lit(1)).as("n_unique"),
        (n - count(lit(1))).as("n_exact_dupes"), max(col("c")).as("max_group"))
  }

  // ---- shared shingle/signature pipeline ----

  /** Distinct word-3-gram shingles of an arbitrary (doc_id, text) frame,
    * represented as 60-bit integers (first 15 hex chars of md5 of the
    * gram text). The hash happens map-side BEFORE the distinct, so every
    * downstream movement of the shingle relation — the distinct's
    * exchange, the persisted state, the intersection equi-joins — carries
    * an 8-byte long instead of a ~30-byte string: the dominant shuffle of
    * the whole dedup chain shrinks ~4×. The DuckDB oracle computes the
    * IDENTICAL hash, so even the ~0 probability 60-bit collisions (expected
    * ~n²/2⁶¹ across the corpus vocabulary) affect both engines identically
    * — oracle parity is preserved by construction, and a collision merely
    * overcounts one shingle intersection the way production int-hashed
    * MinHash pipelines accept. */
  private def shinglesOf(docs: DataFrame): DataFrame =
    Tables.fanOut(docs)
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), explode(expr(
        // guard: docs shorter than the shingle width emit nothing (sequence() would run backwards)
        "CASE WHEN size(toks) >= 3 THEN transform(sequence(0, size(toks) - 3), i -> concat_ws(' ', slice(toks, i + 1, 3))) ELSE array() END")).as("g"))
      .select(col("doc_id"),
        expr("CAST(conv(substring(md5(g), 1, 15), 16, 10) AS BIGINT)").as("sh"))
      .distinct()

  /** Distinct word-3-gram shingles per doc. */
  private[graft] def shingles(s: SparkSession, dir: String): DataFrame =
    shinglesOf(Tables.documents(s, dir))

  private val shinglesSql =
    """sh AS (SELECT DISTINCT doc_id,
      |        CAST(('0x' || substr(md5(t.toks[i] || ' ' || t.toks[i+1] || ' ' || t.toks[i+2]), 1, 15)) AS BIGINT) AS sh
      |      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) t,
      |           LATERAL (SELECT generate_subscripts(t.toks, 1) AS i)
      |      WHERE i <= len(t.toks) - 2)""".stripMargin

  /** MinHash signature: [[NumHashes]] independent 32-bit components per
    * document, `s0..s7`, from the native [[graft.functions.MinHash]]
    * kernel — one per-row expression over the text after the fan-out:
    * no shingle explode, no per-gram strings, no aggregate and no
    * exchange. The values equal the oracle's per-doc MIN over distinct
    * shingles of the 8-hex-digit slices of md5('a:'||sh) / md5('b:'||sh).
    * A document with fewer than 3 tokens keeps its row with null
    * components; [[bands]] drops it. */
  private def signaturesOf(docs: DataFrame): DataFrame =
    Tables.fanOut(docs)
      .select(col("doc_id"), graft.functions.MinHash.signature(col("text")).as("sig"))
      .select(col("doc_id") +: (0 until NumHashes).map(k => col(s"sig.s$k")): _*)

  private val signaturesSql: String = {
    val aggs = (0 until NumHashes).map { k =>
      val (seed, off) = if (k < 4) ("a", k * 8 + 1) else ("b", (k - 4) * 8 + 1)
      s"MIN(CAST('0x' || substr(md5('$seed:' || sh), $off, 8) AS BIGINT)) AS s$k"
    }.mkString(",\n         ")
    s"""sig AS (SELECT doc_id,
       |         $aggs
       |       FROM sh GROUP BY doc_id)""".stripMargin
  }

  /** LSH bands: hash adjacent signature pairs into bucket ids. The ':'
    * separator keeps variable-width decimal renderings unambiguous
    * ((1,23) must not bucket with (12,3)). Buckets are 60-bit ints (same
    * md5-prefix representation as [[shinglesOf]], same rationale): the
    * candidate self-join shuffles on (band, bucket), and an 8-byte key
    * beats a 32-char hex string at every scale; both engines compute the
    * identical value, so parity survives even hash collisions. */
  private[graft] def bands(sig: DataFrame): DataFrame = {
    val bandCols = (0 until NumHashes / BandSize).map { b =>
      struct(lit(b).as("band"),
        expr(s"CAST(conv(substring(md5(concat_ws(':', CAST(s${b * BandSize} AS STRING), CAST(s${b * BandSize + 1} AS STRING))), 1, 15), 16, 10) AS BIGINT)")
          .as("bucket"))
    }
    // a signature-less doc explodes null: no rows. A filter on s0 instead
    // would be pushed below the fan-out's exchange and run the kernel twice.
    sig.select(col("doc_id"),
        explode(when(col("s0").isNotNull, array(bandCols: _*))).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  private val bandsSql: String = {
    val rows = (0 until NumHashes / BandSize).map { b =>
      s"SELECT doc_id, $b AS band, " +
        s"CAST(('0x' || substr(md5(CAST(s${b * BandSize} AS VARCHAR) || ':' || CAST(s${b * BandSize + 1} AS VARCHAR)), 1, 15)) AS BIGINT) AS bucket FROM sig"
    }.mkString("\n   UNION ALL ")
    s"bands AS ($rows)"
  }

  private val candSql =
    """cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |         FROM bands a JOIN bands b
      |           ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)""".stripMargin

  private def candidates(s: SparkSession, dir: String): DataFrame =
    candidatePairs(bands(signaturesOf(Tables.documents(s, dir))))

  /** Distinct (doc_a < doc_b) pairs sharing a (band, bucket). The band
    * relation feeds BOTH sides of the self-join. Without an explicit
    * materialization Spark recomputes the whole fan-out→signature→band
    * chain per side (the shuffles differ, so ReuseExchange can't kick
    * in). At 100 TB this intermediate is the thing you'd write to
    * storage between pipeline stages. */
  private[graft] def candidatePairs(bands: DataFrame): DataFrame = {
    val bb = bands.stageBoundary // (doc × band)-sized; both self-join sides
    val a = bb.select(col("doc_id").as("doc_a"), col("band"), col("bucket"))
    val b = bb.select(col("doc_id").as("doc_b"), col("band"), col("bucket"))
    a.join(b, Seq("band", "bucket")).filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
  }

  /** MinHash-LSH candidate pairs (the scale path for near-dedup). */
  val q31MinhashLsh: QueryDef = sql(
    "q31_minhash_lsh",
    s"""WITH $shinglesSql,
       |$signaturesSql,
       |$bandsSql,
       |$candSql
       |SELECT doc_a, doc_b FROM cand ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
    candidates(s, dir).orderBy(col("doc_a"), col("doc_b"))
  }

  /** SQL CTE chain ending in `vp(doc_a, doc_b, jaccard)`: the exact-
    * Jaccard-verified near-dup pairs. Shared by q32 and q85. */
  private val verifiedPairsSql =
    s"""$shinglesSql,
       |$signaturesSql,
       |$bandsSql,
       |$candSql,
       |inter AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
       |          FROM cand c
       |          JOIN sh a ON a.doc_id = c.doc_a
       |          JOIN sh b ON b.doc_id = c.doc_b AND b.sh = a.sh
       |          GROUP BY 1, 2),
       |cnts AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |vp AS (SELECT i.doc_a, i.doc_b,
       |         CAST(i.n_common AS DOUBLE) / (ca.n + cb.n - i.n_common) AS jaccard
       |       FROM inter i
       |       JOIN cnts ca ON ca.doc_id = i.doc_a
       |       JOIN cnts cb ON cb.doc_id = i.doc_b
       |       WHERE CAST(i.n_common AS DOUBLE) / (ca.n + cb.n - i.n_common) > 0.7)""".stripMargin

  /** Exact-Jaccard-verified near-dup pairs (jaccard > 0.7) over the LSH
    * candidates — intersection via shingle equi-join, union from per-doc
    * counts. Shared by q32 (pair listing) and q85 (clustering). */
  private def verifiedPairs(s: SparkSession, dir: String): DataFrame = {
    // Three consumers (both intersection sides + the per-doc counts):
    // materialize the shingle relation once — see candidates() for the
    // 100 TB rationale. Eager stage boundary, not persist (r10): the
    // consumers run as parallel stages of ONE job, which raced the lazy
    // cache (re-computing the shingle explode per stage) and re-embedded
    // the lineage under every plan reference.
    val sh = shingles(s, dir)
      .stageBoundary
    val cand = candidates(s, dir)
    val inter = cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh")), Seq("doc_b", "sh"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_common"))
    val cnts = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val jac = col("n_common").cast("double") / (col("na") + col("nb") - col("n_common"))
    inter
      .join(cnts.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(cnts.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .filter(jac > 0.7)
      .select(col("doc_a"), col("doc_b"), jac.as("jaccard"))
  }

  /** MinHash estimator-quality audit (Broder SEQUENCES'97 §3: component
    * agreement is an unbiased Bernoulli(J) estimate of Jaccard): for
    * every LSH candidate pair, the signature-agreement estimate
    * (matches/8 — the quantity the q31 bands actually threshold on)
    * against the EXACT shingle Jaccard, per pair — the q273/q278 family
    * member for the near-dup chain (audit the sketch against ground
    * truth ON the production path; σ = √(J(1−J)/8) ≈ 0.17 at k = 8, so
    * this also documents WHY verification (q32) must follow LSH rather
    * than trusting the signature). All quantities are exact integers in
    * micro; the audit rides the persisted signature/shingle relations
    * the chain already builds. */
  val q283MinhashAudit: QueryDef = sql(
    "q283_minhash_audit",
    s"""WITH $shinglesSql,
       |$signaturesSql,
       |$bandsSql,
       |$candSql,
       |m AS (SELECT c.doc_a, c.doc_b,
       |    CAST(${(0 until NumHashes).map(k => s"(CASE WHEN a.s$k = b.s$k THEN 1 ELSE 0 END)").mkString(" + ")} AS BIGINT) AS sig_matches
       |  FROM cand c JOIN sig a ON a.doc_id = c.doc_a
       |  JOIN sig b ON b.doc_id = c.doc_b),
       |inter AS (SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS n_common
       |          FROM cand c
       |          JOIN sh a ON a.doc_id = c.doc_a
       |          JOIN sh b ON b.doc_id = c.doc_b AND b.sh = a.sh
       |          GROUP BY 1, 2),
       |cnts AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY 1)
       |SELECT m.doc_a, m.doc_b, m.sig_matches,
       |  m.sig_matches * 125000 AS est_micro,
       |  COALESCE(i.n_common, 0) * 1000000
       |    // (ca.n + cb.n - COALESCE(i.n_common, 0)) AS exact_micro,
       |  ABS(m.sig_matches * 125000 - COALESCE(i.n_common, 0) * 1000000
       |    // (ca.n + cb.n - COALESCE(i.n_common, 0))) AS abs_err_micro
       |FROM m
       |LEFT JOIN inter i ON i.doc_a = m.doc_a AND i.doc_b = m.doc_b
       |JOIN cnts ca ON ca.doc_id = m.doc_a
       |JOIN cnts cb ON cb.doc_id = m.doc_b
       |ORDER BY m.doc_a, m.doc_b""".stripMargin) { (s, dir) =>
    minhashAudit(shingles(s, dir).stageBoundary,
      signaturesOf(Tables.documents(s, dir)).stageBoundary)
  }

  /** q283 over given (doc_id, sh) shingles and (doc_id, s0..s7)
    * signatures, each read several times (materialize them first). */
  private[graft] def minhashAudit(sh: DataFrame, sig: DataFrame): DataFrame = {
    val cand = candidatePairs(bands(sig))
    val matchExpr = (0 until NumHashes)
      .map(k => s"(CASE WHEN a.s$k = b.s$k THEN 1 ELSE 0 END)").mkString(" + ")
    val m = cand
      .join(sig.as("a"), col("doc_a") === col("a.doc_id"))
      .join(sig.as("b"), col("doc_b") === col("b.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        expr(s"CAST($matchExpr AS BIGINT)").as("sig_matches"))
    val inter = cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh")), Seq("doc_b", "sh"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_common"))
    val cnts = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    m.join(inter, Seq("doc_a", "doc_b"), "left")
      .join(cnts.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(cnts.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("sig_matches"),
        (col("sig_matches") * lit(125000L)).as("est_micro"),
        expr("coalesce(n_common, 0L) * 1000000L DIV (na + nb - coalesce(n_common, 0L))")
          .as("exact_micro"),
        expr("""ABS(sig_matches * 125000L - coalesce(n_common, 0L) * 1000000L
               |  DIV (na + nb - coalesce(n_common, 0L)))""".stripMargin).as("abs_err_micro"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Near-dup transitivity audit: among the verified pairs (q32's
    * jaccard > 0.7 edges), what fraction of wedges A–B–C close into a
    * triangle? Jaccard similarity is famously NOT transitive — two 0.7
    * neighbors of B can share less than 0.4 with each other — and this
    * single number is the empirical justification for q85's connected-
    * components step: closure ≪ 10⁶ means pair-level dedup decisions
    * are inconsistent without the transitive clustering pass. Wedge
    * enumeration rides the verified-pair relation (tiny by
    * construction); the corpus cost is the q31/q32 chain itself. */
  val q285TransitivityAudit: QueryDef = sql(
    "q285_transitivity_audit",
    s"""WITH $verifiedPairsSql,
       |e AS (SELECT doc_a AS a, doc_b AS b FROM vp),
       |sym AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
       |w AS (SELECT s1.v AS x, s1.u AS y, s2.v AS z
       |      FROM sym s1 JOIN sym s2 ON s2.u = s1.u AND s1.v < s2.v),
       |cl AS (SELECT w.x, w.y, w.z, CASE WHEN e2.a IS NULL THEN 0 ELSE 1 END AS closed
       |       FROM w LEFT JOIN e e2 ON e2.a = w.x AND e2.b = w.z)
       |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
       |  CAST(COUNT(*) AS BIGINT) AS n_wedges,
       |  CAST(SUM(closed) AS BIGINT) AS n_closed,
       |  CASE WHEN COUNT(*) = 0 THEN CAST(1000000 AS BIGINT)
       |       ELSE CAST(SUM(closed) AS BIGINT) * 1000000 // COUNT(*) END AS closure_micro
       |FROM cl""".stripMargin) { (s, dir) =>
    val e = verifiedPairs(s, dir).select(col("doc_a").as("a"), col("doc_b").as("b"))
      .stageBoundary // verified-pair-sized; feeds sym, wedges, closure
    val sym = e.select(col("a").as("u"), col("b").as("v"))
      .unionAll(e.select(col("b").as("u"), col("a").as("v")))
    val w = sym.select(col("u").as("y"), col("v").as("x"))
      .join(sym.select(col("u").as("y"), col("v").as("z")), Seq("y"))
      .filter(col("x") < col("z"))
    val cl = w.join(e.select(col("a").as("x"), col("b").as("z"), lit(1L).as("cc")),
        Seq("x", "z"), "left")
      .select(coalesce(col("cc"), lit(0L)).as("closed"))
    val nE = e.agg(count(lit(1)).as("n_edges"))
    cl.agg(count(lit(1)).as("n_wedges"), sum(col("closed")).as("n_closed"))
      .crossJoin(broadcast(nE))
      .select(col("n_edges"), col("n_wedges"), col("n_closed"),
        when(col("n_wedges") === 0L, lit(1000000L))
          .otherwise(expr("n_closed * 1000000L DIV n_wedges")).as("closure_micro"))
  }

  /** Sorted-neighborhood entity matching (Hernández & Stolfo SIGMOD'95,
    * the merge/purge method): sort the distinct name dictionary once and
    * compare each name only to its w = 3 successors — the THIRD blocking
    * family in the toolbox (q238 blocks by key equality, q245 by
    * deletion neighborhoods; SNM blocks by SORT ORDER, which catches
    * prefix-preserving typos equality blocking misses and costs O(n·w)
    * after one dictionary sort, never all-pairs). Survivors verify by
    * Levenshtein ≤ 4. The dictionary rank rides [[BlockRank]]'s
    * two-pass device with a 2-char ASCII prefix as the monotone block
    * key (lexicographic prefixes preserve the sort order), and the
    * w = 3 successors come from three rank equi-joins — no
    * single-partition LEAD window at any dictionary size. */
  val q306SortedNeighborhood: QueryDef = sql(
    "q306_sorted_neighborhood",
    """WITH names AS (SELECT DISTINCT p_name FROM part),
      |w AS (
      |  SELECT p_name AS a,
      |    LEAD(p_name, 1) OVER (ORDER BY p_name) AS b1,
      |    LEAD(p_name, 2) OVER (ORDER BY p_name) AS b2,
      |    LEAD(p_name, 3) OVER (ORDER BY p_name) AS b3
      |  FROM names),
      |cand AS (
      |  SELECT a, b1 AS b FROM w WHERE b1 IS NOT NULL
      |  UNION ALL SELECT a, b2 FROM w WHERE b2 IS NOT NULL
      |  UNION ALL SELECT a, b3 FROM w WHERE b3 IS NOT NULL)
      |SELECT a, b, CAST(levenshtein(a, b) AS BIGINT) AS dist
      |FROM cand
      |WHERE levenshtein(a, b) <= 4
      |ORDER BY a, b""".stripMargin) { (s, dir) =>
    // lexicographic rank via the device: the 2-char ASCII prefix is a
    // monotone coarsening of the name order (ascii('') = 0 keeps
    // 1-char names ordered before their extensions)
    val blk = expr(
      "ascii(substring(p_name, 1, 1)) * 256 + ascii(substring(p_name, 2, 1))")
    val rn = BlockRank.globalRowNumber(
        Tables.part(s, dir).select(col("p_name")).distinct(),
        blk, blkAsc = true, Seq(col("p_name").asc), "rn")
      .stageBoundary // dictionary-sized; three successor joins
    val succ = rn.select(col("p_name").as("b"), col("rn").as("rnb"))
    val cand = (1 to 3).map(k =>
        rn.join(succ, col("rnb") === col("rn") + k)
          .select(col("p_name").as("a"), col("b")))
      .reduce(_ unionAll _)
    cand.withColumn("dist", levenshtein(col("a"), col("b")).cast("long"))
      .filter(col("dist") <= 4)
      .orderBy(col("a"), col("b"))
  }

  /** b-bit minwise hashing audit (Li & König WWW'10): store only the
    * LOWEST b = 2 bits of each MinHash component — a 16× signature
    * compression — and recover Jaccard from the matched-bit rate via the
    * paper's collision correction Ĵ = (A − C)/(1 − C), C = 2^−b (the
    * chance two UNRELATED components agree on b bits). The audit runs
    * the estimator on the production LSH candidates beside q283's
    * full-width estimate and the exact Jaccard — the storage-versus-
    * variance frontier of the dedup index, measured rather than
    * asserted. Everything is exact integers in micro (the correction is
    * one integer expression: Ĵ_micro = (4·matches·125000 − 8·250000·...)
    * — reduced below); rides the persisted signature/shingle chain. */
  val q319BbitMinhash: QueryDef = sql(
    "q319_bbit_minhash",
    s"""WITH $shinglesSql,
       |$signaturesSql,
       |$bandsSql,
       |$candSql,
       |m AS (SELECT c.doc_a, c.doc_b,
       |    CAST(${(0 until NumHashes).map(k => s"(CASE WHEN a.s$k % 4 = b.s$k % 4 THEN 1 ELSE 0 END)").mkString(" + ")} AS BIGINT) AS bbit_matches,
       |    CAST(${(0 until NumHashes).map(k => s"(CASE WHEN a.s$k = b.s$k THEN 1 ELSE 0 END)").mkString(" + ")} AS BIGINT) AS full_matches
       |  FROM cand c JOIN sig a ON a.doc_id = c.doc_a
       |  JOIN sig b ON b.doc_id = c.doc_b),
       |inter AS (SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS n_common
       |          FROM cand c
       |          JOIN sh a ON a.doc_id = c.doc_a
       |          JOIN sh b ON b.doc_id = c.doc_b AND b.sh = a.sh
       |          GROUP BY 1, 2),
       |cnts AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY 1)
       |SELECT m.doc_a, m.doc_b, m.bbit_matches, m.full_matches,
       |  GREATEST(CAST(0 AS BIGINT), (m.bbit_matches * 1000000 // 8 - 250000) * 4 // 3) AS bbit_est_micro,
       |  m.full_matches * 125000 AS full_est_micro,
       |  COALESCE(i.n_common, 0) * 1000000
       |    // (ca.n + cb.n - COALESCE(i.n_common, 0)) AS exact_micro
       |FROM m
       |LEFT JOIN inter i ON i.doc_a = m.doc_a AND i.doc_b = m.doc_b
       |JOIN cnts ca ON ca.doc_id = m.doc_a
       |JOIN cnts cb ON cb.doc_id = m.doc_b
       |ORDER BY m.doc_a, m.doc_b""".stripMargin) { (s, dir) =>
    val sh = shingles(s, dir)
      .stageBoundary
    val sig = signaturesOf(Tables.documents(s, dir))
      .stageBoundary
    val cand = candidatePairs(bands(sig))
    val bbitExpr = (0 until NumHashes)
      .map(k => s"(CASE WHEN a.s$k % 4 = b.s$k % 4 THEN 1 ELSE 0 END)").mkString(" + ")
    val fullExpr = (0 until NumHashes)
      .map(k => s"(CASE WHEN a.s$k = b.s$k THEN 1 ELSE 0 END)").mkString(" + ")
    val m = cand
      .join(sig.as("a"), col("doc_a") === col("a.doc_id"))
      .join(sig.as("b"), col("doc_b") === col("b.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        expr(s"CAST($bbitExpr AS BIGINT)").as("bbit_matches"),
        expr(s"CAST($fullExpr AS BIGINT)").as("full_matches"))
    val inter = cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh")), Seq("doc_b", "sh"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_common"))
    val cnts = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    m.join(inter, Seq("doc_a", "doc_b"), "left")
      .join(cnts.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(cnts.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("bbit_matches"), col("full_matches"),
        greatest(lit(0L),
          expr("(bbit_matches * 1000000L DIV 8 - 250000L) * 4 DIV 3")).as("bbit_est_micro"),
        (col("full_matches") * lit(125000L)).as("full_est_micro"),
        expr("coalesce(n_common, 0L) * 1000000L DIV (na + nb - coalesce(n_common, 0L))")
          .as("exact_micro"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Exact 3-gram Jaccard verification over the LSH candidates only. */
  val q32NeardupVerified: QueryDef = sql(
    "q32_neardup_verified",
    s"""WITH $verifiedPairsSql
       |SELECT doc_a, doc_b, jaccard FROM vp
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
    verifiedPairs(s, dir).orderBy(col("doc_a"), col("doc_b"))
  }

  /** Dedup clustering: connected components over the verified near-dup
    * pair graph, assigning every document the minimum doc_id reachable
    * through near-dup edges as its cluster id — the transitive step that
    * turns PAIRS into a usable keep-one-per-cluster dedup decision
    * (near-dup similarity is not transitive, so A~B, B~C must collapse
    * into one cluster even when A,C are not directly similar).
    *
    * Spark side: min-label propagation to a fixpoint. Each round joins
    * edge endpoints to current labels, takes the neighborhood min, and
    * `localCheckpoint`s the result to truncate lineage (iterative joins
    * otherwise stack plans; on a cluster this would be a reliable
    * checkpoint to durable storage). Rounds are bounded by the largest
    * component's diameter — shallow for near-dup graphs. The label frame
    * holds only nodes with ≥1 edge (candidate pairs are a tiny fraction
    * of a deduplicated corpus); the corpus-wide assignment materializes
    * once at the end via a left join. At 100 TB the O(log n)-round
    * large-star/small-star contraction (Kiveris et al., SoCC'14) is the
    * drop-in upgrade; the per-round join shape is identical.
    *
    * Oracle: DuckDB recursive CTE computing min-reachable over the same
    * edges. */
  val q85DedupClusters: QueryDef = sql(
    "q85_dedup_clusters",
    s"""WITH RECURSIVE $verifiedPairsSql,
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM vp
       |          UNION ALL SELECT doc_b, doc_a FROM vp),
       |reach AS (
       |  SELECT doc_id AS node, doc_id AS r FROM documents
       |  UNION
       |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.node = e.dst),
       |clusters AS (SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node),
       |sizes AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM clusters GROUP BY 1)
       |SELECT c.doc_id, c.cluster_id, s.cluster_size
       |FROM clusters c JOIN sizes s USING (cluster_id)
       |ORDER BY c.doc_id""".stripMargin) { (s, dir) =>
    connectedComponents(
      Tables.documents(s, dir).select(col("doc_id")),
      verifiedPairs(s, dir).select(col("doc_a"), col("doc_b")))
      .orderBy(col("doc_id"))
  }

  /** Leakage-proof train/test split: assign every near-dup CONNECTED
    * COMPONENT atomically to one side, so no verified near-duplicate
    * pair can straddle the split — the constructive fix for exactly
    * the contamination q161's audit measures on the per-document md5
    * split (a doc and its near-copy drawing different md5 buckets).
    * Component id → md5 fraction → 80/20, so membership is a pure
    * function of corpus content: re-runs, re-partitions and
    * incremental rebuilds that don't touch a component keep its side.
    *
    * Scale posture: q85's component machinery (LSH-blocked pairs,
    * never all-pairs; union-find under broadcast budget, star
    * contraction above) plus ONE scan-level hash expression — the
    * split adds nothing corpus-scale to the clustering cost. */
  val q174ComponentSplit: QueryDef = sql(
    "q174_component_split",
    s"""WITH RECURSIVE $verifiedPairsSql,
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM vp
       |          UNION ALL SELECT doc_b, doc_a FROM vp),
       |reach AS (
       |  SELECT doc_id AS node, doc_id AS r FROM documents
       |  UNION
       |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.node = e.dst),
       |clusters AS (SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node)
       |SELECT doc_id, cluster_id,
       |  CASE WHEN CAST(('0x' || substr(md5('csplit:' || CAST(cluster_id AS VARCHAR)), 1, 4)) AS INT) < 52429
       |       THEN 'train' ELSE 'test' END AS split
       |FROM clusters
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    componentSplit(
      Tables.documents(s, dir).select(col("doc_id")),
      verifiedPairs(s, dir).select(col("doc_a"), col("doc_b")))
      .orderBy(col("doc_id"))
  }

  /** Containment detection (Broder 1997's *containment* coefficient,
    * distinct from the resemblance/Jaccard the q31/q32 stack ranks by):
    * c = |A∩B| / min(|A|,|B|) — catches a short document QUOTED inside
    * a long one, where Jaccard stays low because the union is dominated
    * by the long side (the duplication mode plain near-dedup
    * structurally misses; containment ≥ Jaccard always). Exact integer
    * micro-units: cont_micro = floor(|A∩B|·10⁶ / min) — hash-stable.
    *
    * The shingle space is the NON-BOILERPLATE profile (document
    * frequency ≤ 20): df>20 shingles are corpus-common boilerplate
    * (q158's material) that inflates containment without evidencing
    * copying, and df=1 shingles can never be shared — so the exact
    * intersection count over this space falls straight out of the
    * df∈[2,20] blocking self-join, with NO second intersection join
    * (the first cut paid one: candidate-pair × shingle-list re-join,
    * 20.0 s at sf0.1 vs 1.7 s for this shape — the fanout was ~all
    * loosely-similar pairs times their full shingle lists). Per-key
    * join fanout is bounded at C(20,2) = 190 pairs regardless of
    * corpus size; per-doc profile sizes join in afterwards,
    * pair-relation-sized. */
  val q177Containment: QueryDef = sql(
    "q177_containment",
    s"""WITH $shinglesSql,
       |dfreq AS (SELECT sh.sh, COUNT(*) AS df FROM sh GROUP BY 1),
       |keep AS (SELECT s.doc_id, s.sh, d.df FROM sh s JOIN dfreq d ON d.sh = s.sh
       |         WHERE d.df <= 20),
       |cnts AS (SELECT doc_id, COUNT(*) AS n FROM keep GROUP BY 1),
       |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
       |          FROM keep a JOIN keep b ON b.sh = a.sh AND a.doc_id < b.doc_id
       |          WHERE a.df >= 2
       |          GROUP BY 1, 2)
       |SELECT i.doc_a, i.doc_b, i.n_common, ca.n AS na, cb.n AS nb,
       |  CAST(i.n_common * 1000000 // LEAST(ca.n, cb.n) AS BIGINT) AS cont_micro
       |FROM inter i
       |JOIN cnts ca ON ca.doc_id = i.doc_a
       |JOIN cnts cb ON cb.doc_id = i.doc_b
       |WHERE i.n_common * 1000000 // LEAST(ca.n, cb.n) >= 800000
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
    containmentPairs(shingles(s, dir)).orderBy(col("doc_a"), col("doc_b"))
  }

  /** q177 over an arbitrary (doc_id, sh) shingle relation — exposed so
    * the asymmetric-quote property is testable on planted docs. */
  private[graft] def containmentPairs(sh0: DataFrame): DataFrame = {
    val dfreq = sh0.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val keep = sh0.join(dfreq.filter(col("df") <= 20), "sh")
      .stageBoundary
    val cnts = keep.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = keep.filter(col("df") >= 2)
      .select(col("doc_id").as("doc_a"), col("sh"))
      .join(keep.select(col("doc_id").as("doc_b"), col("sh")), "sh")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_common"))
    inter
      .join(cnts.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(cnts.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .withColumn("cont_micro", expr("n_common * 1000000L DIV LEAST(na, nb)"))
      .filter(col("cont_micro") >= 800000L)
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("na"), col("nb"),
        col("cont_micro"))
  }

  /** Cross-source duplication matrix — "which SOURCES copy from each
    * other": the verified near-dup pairs (q32) aggregated to the
    * (source_a, source_b) level with pair counts and the exact mean
    * Jaccard (floored micro-units of per-pair integer ratios? no —
    * jaccard is a per-pair double built from exact integers by the same
    * expression both engines, so the emitted mean uses the q59
    * device: round each pair's jaccard to 6 dp, cast to DECIMAL, and
    * SUM decimals — exact and aggregation-order-independent). The
    * mixture designer's view of duplication: a hot (srcX, srcY) cell
    * says one feed mirrors another — fix the INGEST, not just the
    * pairs. Diagonal cells are within-source duplication (template
    * reuse). Source pair is unordered (lexicographic normalization).
    *
    * Scale posture: rides q32's LSH-blocked pair relation (never
    * all-pairs); the rollup adds two broadcast-able doc→source joins
    * and a sources²-bounded aggregate. */
  val q183SourceOverlap: QueryDef = sql(
    "q183_source_overlap",
    s"""WITH $verifiedPairsSql,
       |src AS (SELECT doc_id, source FROM documents),
       |lab AS (SELECT LEAST(sa.source, sb.source) AS source_a,
       |               GREATEST(sa.source, sb.source) AS source_b,
       |               CAST(ROUND(vp.jaccard, 6) AS DECIMAL(18, 6)) AS j
       |        FROM vp
       |        JOIN src sa ON sa.doc_id = vp.doc_a
       |        JOIN src sb ON sb.doc_id = vp.doc_b)
       |SELECT source_a, source_b, COUNT(*) AS n_pairs,
       |  CAST(FLOOR(SUM(j) * 1000000 / COUNT(*)) AS BIGINT) AS mean_jaccard_micro
       |FROM lab
       |GROUP BY 1, 2
       |ORDER BY n_pairs DESC, source_a, source_b""".stripMargin) { (s, dir) =>
    val src = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    verifiedPairs(s, dir)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"),
        round(col("jaccard"), 6).cast("decimal(18,6)").as("j"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"),
        floor(sum(col("j")) * 1000000 / count(lit(1))).cast("long").as("mean_jaccard_micro"))
      .orderBy(col("n_pairs").desc, col("source_a"), col("source_b"))
  }

  /** Novelty / memorization-share audit (the corpus-level face of
    * Lee et al. 2022's "Deduplicating Training Data" §4 measurement —
    * how much of each document's content exists ELSEWHERE in the
    * corpus): per document, the share of its distinct 3-gram shingles
    * whose document frequency exceeds 1, as exact micro-units. Distinct
    * from pairwise dedup: a doc can be 80% non-novel without having ANY
    * single near-duplicate (mosaic plagiarism / template assembly — the
    * memorization risk q31/q32 structurally miss). dup_share 0 = fully
    * novel; 10⁶ = every shingle appears in another doc.
    *
    * Scale posture: one df aggregate over the shingle relation, one
    * shingle-keyed join back, one doc-keyed count — all
    * map-side-combined hash aggs on keys the dedup stack already
    * shuffles on. */
  val q184Novelty: QueryDef = sql(
    "q184_novelty",
    s"""WITH $shinglesSql,
       |dfreq AS (SELECT sh.sh, COUNT(*) AS df FROM sh GROUP BY 1),
       |per AS (SELECT s.doc_id, COUNT(*) AS n_shingles,
       |          CAST(SUM(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
       |        FROM sh s JOIN dfreq d ON d.sh = s.sh
       |        GROUP BY 1)
       |SELECT doc_id, n_shingles, n_dup,
       |  CAST(n_dup * 1000000 // n_shingles AS BIGINT) AS dup_share_micro
       |FROM per
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val sh = shingles(s, dir)
      .stageBoundary
    val dfreq = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    sh.join(dfreq, "sh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_share_micro", expr("n_dup * 1000000L DIV n_shingles"))
      .orderBy(col("doc_id"))
  }

  /** Canonicalization-aware exact dedup — the normalize-then-hash
    * prepass every web-corpus pipeline runs before byte-exact dedup
    * (C4/CCNet lowercase-and-collapse before comparing): canonical
    * form = lowercase, strip non-alphanumerics, collapse whitespace,
    * trim; hashing THAT catches the case/punctuation/spacing variants
    * that raw md5(text) treats as distinct documents. The fixture
    * corpus is already canonical, so the face synthesizes the
    * real-world mess deterministically (an UPPER-cased copy of every
    * doc_id % 11 = 0 doc and a double-spaced copy of every % 13 = 0
    * doc, at offset ids — the q145 versioning device) and emits every
    * member of every canonical group ≥ 2: each mangled copy lands in
    * its original's group while byte-exact dedup (q30's hash) sees
    * nothing. The regexes are deliberately class-simple
    * (`[^a-z0-9 ]`, ` +`) — the subset Java regex and RE2 agree on.
    *
    * Scale posture: identical to exact dedup — one scan-level
    * canonical-hash expression, one hash-keyed count, one group join;
    * no new shuffle shape. */
  val q194CanonicalDedup: QueryDef = sql(
    "q194_canonical_dedup",
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, upper(text) FROM documents WHERE doc_id % 11 = 0
      |  UNION ALL
      |  SELECT doc_id + 2000000, replace(text, ' ', '  ') FROM documents WHERE doc_id % 13 = 0),
      |canon AS (SELECT doc_id,
      |    md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS ch,
      |    md5(text) AS rh
      |  FROM corpus),
      |grp AS (SELECT ch, COUNT(*) AS n_docs, COUNT(DISTINCT rh) AS n_raw,
      |          MIN(doc_id) AS canon_id
      |        FROM canon GROUP BY 1 HAVING COUNT(*) >= 2)
      |SELECT c.doc_id, g.canon_id, g.n_docs, g.n_raw
      |FROM canon c JOIN grp g ON g.ch = c.ch
      |ORDER BY g.canon_id, c.doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.fanOut(Tables.documents(s, dir))
    val corpus = docs.select(col("doc_id"), col("text"))
      .unionByName(docs.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), upper(col("text")).as("text")))
      .unionByName(docs.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          regexp_replace(col("text"), " ", "  ").as("text")))
    val canon = corpus.select(col("doc_id"),
      md5(trim(regexp_replace(regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))).as("ch"),
      md5(col("text")).as("rh"))
      .stageBoundary
    val grp = canon.groupBy(col("ch"))
      .agg(count(lit(1)).as("n_docs"), countDistinct(col("rh")).as("n_raw"),
        min(col("doc_id")).as("canon_id"))
      .filter(col("n_docs") >= 2)
    canon.join(grp, "ch")
      .select(col("doc_id"), col("canon_id"), col("n_docs"), col("n_raw"))
      .orderBy(col("canon_id"), col("doc_id"))
  }

  /** Probabilistic record linkage (Fellegi & Sunter JASA'69; Newcombe
    * Science'59) — entity resolution ACROSS tables, where q194's
    * canonical dedup works within one: customer re-registrations are
    * synthesized deterministically at offset ids (the q194/q145
    * device: case-mangled names for id%3=0, last-char typos for %5=0,
    * lost segment for %4=0, a $250 balance shift for %6=0), and each
    * original–variant candidate pair is classified by the FS weight
    * sum over its field-agreement vector: pinned integer milli
    * log-odds (name ±4000/−2000, segment +800/−900, balance
    * +1500/−1200 — the log(m/u) shape: a name agreement is strong
    * evidence because u≈0 across distinct people; segment agreement
    * is weak because u≈1/5), with match ≥ 4500 > possible ≥ 1000 >
    * non-match. Candidates come from TWO blocking passes union'd —
    * (nation, lower(name)) and (nation, balance-decabucket) — the
    * multi-pass blocking FS deployments use because any single key
    * misses true pairs mangled on that key; a pair mangled on BOTH
    * keys (id % 30 = 0: typo'd name AND shifted balance) escapes the
    * candidate set entirely — the documented blocking-recall miss,
    * spec-counted exactly. Output is the 8-row agreement-pattern
    * table with TRUE-pair counts alongside (the synthetic ground
    * truth makes the m/u calibration auditable from the output).
    *
    * Scale posture: blocking keys carry data-proportional cardinality
    * (names, balance buckets) — never the 25-value nation key alone,
    * which would be a fixed-fanout quadratic at 100 TB; each pass is
    * one equi-join, the union dedups on the pair key, and the pattern
    * aggregate is 8-row map-side-combined. */
  val q238RecordLinkage: QueryDef = sql(
    "q238_record_linkage",
    """WITH a AS (SELECT c_custkey AS a_id, c_nationkey AS a_nat, c_name AS a_name,
      |             c_mktsegment AS a_seg,
      |             CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS a_cents
      |           FROM customer),
      |b AS (SELECT c_custkey + 1000000 AS b_id, c_nationkey AS b_nat,
      |        CASE WHEN c_custkey % 5 = 0 THEN concat(substr(c_name, 1, length(c_name) - 1), 'X')
      |             WHEN c_custkey % 3 = 0 THEN lower(c_name)
      |             ELSE c_name END AS b_name,
      |        CASE WHEN c_custkey % 4 = 0 THEN 'UNKNOWN' ELSE c_mktsegment END AS b_seg,
      |        CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)
      |          + CASE WHEN c_custkey % 6 = 0 THEN 25000 ELSE 0 END AS b_cents
      |      FROM customer),
      |p AS (SELECT a_id, b_id, (lower(a_name) = lower(b_name)) AS name_ag,
      |        (a_seg = b_seg) AS seg_ag, (ABS(a_cents - b_cents) <= 100) AS bal_ag,
      |        (b_id = a_id + 1000000) AS is_true
      |      FROM a JOIN b ON b_nat = a_nat AND lower(b_name) = lower(a_name)
      |      UNION
      |      SELECT a_id, b_id, (lower(a_name) = lower(b_name)) AS name_ag,
      |        (a_seg = b_seg) AS seg_ag, (ABS(a_cents - b_cents) <= 100) AS bal_ag,
      |        (b_id = a_id + 1000000) AS is_true
      |      FROM a JOIN b ON b_nat = a_nat AND a_cents // 1000 = b_cents // 1000),
      |agg AS (SELECT name_ag, seg_ag, bal_ag,
      |          CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |          CAST(SUM(CASE WHEN is_true THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
      |          CAST(CASE WHEN name_ag THEN 4000 ELSE -2000 END
      |             + CASE WHEN seg_ag THEN 800 ELSE -900 END
      |             + CASE WHEN bal_ag THEN 1500 ELSE -1200 END AS BIGINT) AS weight_milli
      |        FROM p GROUP BY 1, 2, 3)
      |SELECT name_ag, seg_ag, bal_ag, n_pairs, n_true, weight_milli,
      |  CASE WHEN weight_milli >= 4500 THEN 'match'
      |       WHEN weight_milli >= 1000 THEN 'possible'
      |       ELSE 'non_match' END AS decision
      |FROM agg
      |ORDER BY weight_milli DESC""".stripMargin) { (s, dir) =>
    val cust = Tables.customer(s, dir)
    val a = cust.select(col("c_custkey").as("a_id"), col("c_nationkey").as("a_nat"),
      col("c_name").as("a_name"), col("c_mktsegment").as("a_seg"),
      expr("CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)").as("a_cents"))
    val b = cust.select((col("c_custkey") + 1000000L).as("b_id"),
      col("c_nationkey").as("b_nat"),
      when(col("c_custkey") % 5 === 0,
          concat(expr("substr(c_name, 1, length(c_name) - 1)"), lit("X")))
        .when(col("c_custkey") % 3 === 0, lower(col("c_name")))
        .otherwise(col("c_name")).as("b_name"),
      when(col("c_custkey") % 4 === 0, lit("UNKNOWN"))
        .otherwise(col("c_mktsegment")).as("b_seg"),
      (expr("CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)") +
        when(col("c_custkey") % 6 === 0, 25000L).otherwise(0L)).as("b_cents"))
    def pass(cond: org.apache.spark.sql.Column) = a.join(b, cond)
      .select(col("a_id"), col("b_id"),
        (lower(col("a_name")) === lower(col("b_name"))).as("name_ag"),
        (col("a_seg") === col("b_seg")).as("seg_ag"),
        (abs(col("a_cents") - col("b_cents")) <= 100L).as("bal_ag"),
        (col("b_id") === col("a_id") + 1000000L).as("is_true"))
    val p = pass(col("b_nat") === col("a_nat") && lower(col("b_name")) === lower(col("a_name")))
      .union(pass(col("b_nat") === col("a_nat") &&
        expr("a_cents DIV 1000") === expr("b_cents DIV 1000")))
      .distinct()
    p.groupBy(col("name_ag"), col("seg_ag"), col("bal_ag"))
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        sum(when(col("is_true"), 1L).otherwise(0L)).as("n_true"))
      .withColumn("weight_milli",
        (when(col("name_ag"), 4000L).otherwise(-2000L) +
          when(col("seg_ag"), 800L).otherwise(-900L) +
          when(col("bal_ag"), 1500L).otherwise(-1200L)).cast("long"))
      .withColumn("decision",
        when(col("weight_milli") >= 4500L, "match")
          .when(col("weight_milli") >= 1000L, "possible")
          .otherwise("non_match"))
      .orderBy(col("weight_milli").desc)
  }

  /** [[connectedComponents]] + the component-atomic 80/20 assignment;
    * exposed for the leakage property test (q174 wires in the verified
    * near-dup pairs). */
  def componentSplit(nodes: DataFrame, pairs: DataFrame): DataFrame =
    connectedComponents(nodes, pairs)
      .withColumn("bucket", expr(
        "CAST(conv(substring(md5(concat('csplit:', CAST(cluster_id AS STRING))), 1, 4), 16, 10) AS INT)"))
      .withColumn("split", when(col("bucket") < 52429, "train").otherwise("test"))
      .select(col("doc_id"), col("cluster_id"), col("split"))

  /** Connected components over `pairs(doc_a, doc_b)`; returns one row per
    * node of `nodes(doc_id)` with its component's minimum doc_id as
    * `cluster_id` plus the component `cluster_size`. Exposed for property
    * testing (q85 wires in the verified near-dup pairs).
    *
    * Strategy, sized to the EDGE COUNT (measured at sf0.1: the
    * distributed loop's ~0.4 s/round fixed cost dominated q85 while the
    * label frame held a few hundred rows):
    *   1. Edge sets within broadcast budget (≤ [[localEdgeThreshold]],
    *      ~16 MB of longs — the same size class Spark collects for a
    *      broadcast join build) are solved by one driver-side union-find
    *      pass: exact, O(E α(E)), no per-round job overhead. Near-dup
    *      pair graphs of a DEDUPLICATED corpus are tiny relative to the
    *      corpus, so production mostly lands here too.
    *   2. Above the threshold: semi-naive min-label propagation — rounds
    *      bounded by the largest component's DIAMETER (shallow for
    *      near-dup graphs), one join + one agg per round over the labels
    *      that dropped the round before.
    *   3. If the graph defeats the round cap (a long chain of
    *      incremental edits), it does NOT silently return unconverged
    *      labels (r2 advice): it logs loudly and switches to
    *      large-star/small-star ([[connectedComponentsStar]]), whose
    *      round count is logarithmic in component SIZE regardless of
    *      diameter. */
  def connectedComponents(nodes: DataFrame, pairs0: DataFrame,
                          propagationRounds: Int = 20,
                          localEdgeThreshold: Long = 1L << 20): DataFrame = {
    val pairs = pairs0.cachedStageBoundary
    if (pairs.count() <= localEdgeThreshold)
      return finishLabels(nodes, unionFindLabels(pairs))
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst"))).cachedStageBoundary
    // semi-naive: only the labels that dropped last round are offered to
    // their neighbors — the same trajectory as re-offering every label
    // each round, since an unchanged label was already offered the round
    // it last dropped. One boundary per round: the merged labels, with
    // the number that dropped (the next delta, and the exit test)
    // observed on it, so no round runs a separate count job.
    val init = Graph.counted(edges.select(col("src").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("cluster_id")))
    val fp = Graph.iterate(Graph.Seen(init, init), propagationRounds)(_.delta.rows == 0) {
      (seen, _) =>
        val nbrMin = edges
          .join(seen.delta.df.select(col("doc_id").as("dst"), col("cluster_id").as("nl")), "dst")
          .groupBy(col("src")).agg(min(col("nl")).as("nbr_min"))
          .withColumnRenamed("src", "doc_id")
        val dropped = col("cluster_id") < col("prev")
        val (merged, nDropped) = seen.all.df.join(nbrMin, Seq("doc_id"), "left")
          .select(col("doc_id"), col("cluster_id").as("prev"),
            least(col("cluster_id"), coalesce(col("nbr_min"), col("cluster_id"))).as("cluster_id"))
          .stageBoundaryRowsWhere(dropped)
        val labels = merged.select(col("doc_id"), col("cluster_id"))
        Graph.Seen(Graph.Counted(labels, seen.all.rows),
          Graph.Counted(merged.filter(dropped).select(col("doc_id"), col("cluster_id")), nDropped))
    }
    val labels = if (fp.converged) fp.state.all.df else {
      System.err.println(s"[dedup] min-label propagation NOT converged after " +
        s"$propagationRounds rounds (component diameter exceeds cap) — " +
        "switching to large-star/small-star contraction")
      starLabels(pairs)
    }
    finishLabels(nodes, labels)
  }

  /** Large-star/small-star alternating contraction (Kiveris et al.,
    * SoCC'14, "Connected Components in MapReduce and Beyond"): converges
    * in rounds logarithmic in component size — independent of diameter,
    * unlike label propagation. Same output contract as
    * [[connectedComponents]]. */
  def connectedComponentsStar(nodes: DataFrame, pairs0: DataFrame,
                              maxRounds: Int = 60): DataFrame =
    finishLabels(nodes, starLabels(pairs0, maxRounds))

  /** Broadcast-budget path: collect the (bounded) edge list and label
    * components with one union-find pass on the driver — the same
    * size-gated collect a broadcast join build performs, exchanged for
    * zero per-round distributed jobs. */
  private def unionFindLabels(pairs: DataFrame): DataFrame = {
    val s = pairs.sparkSession
    import s.implicits._
    val edges = pairs.select(col("doc_a").cast("long"), col("doc_b").cast("long"))
      .collect().map { r =>
        // getLong on a null reads 0 — a null/non-castable id would silently
        // merge unrelated nodes into doc 0's component; fail loudly instead
        // (the distributed paths handle such ids via plain join semantics)
        require(!r.isNullAt(0) && !r.isNullAt(1),
          "connectedComponents: edge with null or non-numeric doc id")
        (r.getLong(0), r.getLong(1))
      }
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      parent.getOrElseUpdate(x, x)
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // canonical label = component minimum (find after all unions; roots
    // were always merged min-ward so find(x) IS the minimum)
    parent.keys.toSeq.map(x => (x, find(x))).toDF("doc_id", "cluster_id")
  }

  /** Extend edge-touching labels to the full node set and attach
    * component sizes — shared tail of all three strategies. */
  private def finishLabels(nodes: DataFrame, labels: DataFrame): DataFrame = {
    val full = nodes
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .cachedStageBoundary
    val sizes = full.groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
    full.join(sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
  }

  /** Large-star: every node u links its strictly-larger neighbors to the
    * minimum of its closed neighborhood. Each undirected edge is examined
    * from both endpoints but emitted from exactly one (the smaller), so
    * the output stays linear in the input. */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val mins = sym.groupBy("u").agg(min(col("v")).as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))
    sym.join(mins, "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Small-star: over larger→smaller directed edges, every node relinks
    * itself and all its smaller neighbors to its minimum neighbor —
    * halving star depth per round. */
  private def smallStar(e: DataFrame): DataFrame = {
    val mins = e.groupBy("u").agg(min(col("v")).as("m"))
    val moved = e.join(mins, "u")
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
    moved.union(mins.select(col("u"), col("m").as("v"))).distinct()
  }

  /** Runs the alternation to the star fixpoint (every node points straight
    * at its component minimum) and returns (doc_id, cluster_id) labels for
    * every edge-touching node. Throws rather than returning unconverged
    * labels — at the documented O(log n) rate, `maxRounds` failing means
    * the input is malformed, not that more rounds are needed. */
  private def starLabels(pairs: DataFrame, maxRounds: Int = 60): DataFrame = {
    // both sides are DISTINCT sets: equal counts + empty one-way diff ⇒ equal
    val fp = Graph.converge(Graph.counted(pairs
        .select(greatest(col("doc_a"), col("doc_b")).as("u"),
          least(col("doc_a"), col("doc_b")).as("v"))
        .filter(col("u") =!= col("v")).distinct()), maxRounds,
        same = (prev, next) => next.rows == prev.rows && next.df.except(prev.df).isEmpty) {
      (e, _) => smallStar(largeStar(e.df).stageBoundary)
    }
    if (!fp.converged)
      throw new IllegalStateException(
        s"large-star/small-star did not reach its fixpoint in $maxRounds rounds")
    // fixpoint is a star forest: u→root edges, plus each root labels itself
    val e = fp.state.df
    e.select(col("u").as("doc_id"), col("v").as("cluster_id"))
      .union(e.select(col("v").as("doc_id"), col("v").as("cluster_id")).distinct())
      .distinct()
  }

  /** Shared SimHash SQL: hash each DISTINCT word once against the 16 bit
    * positions (the vocabulary is tiny relative to the corpus — the
    * word-bit table is a broadcast dimension), then join token counts. */
  private def simhashSqlWhere(where: String) =
    s"""toks AS (SELECT doc_id, word, COUNT(*) AS cnt
      |           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents WHERE $where)
      |           GROUP BY 1, 2),""".stripMargin + """
      |bits AS (SELECT p FROM range(16) t(p)),
      |wb AS (SELECT word, p,
      |         ((strpos('0123456789abcdef', substr(md5(word), 1 + CAST(p // 4 AS INT), 1)) - 1)
      |          >> CAST(3 - (p % 4) AS INT)) & 1 AS bit
      |       FROM (SELECT DISTINCT word FROM toks) CROSS JOIN bits),
      |contrib AS (SELECT t.doc_id, w.p, SUM(t.cnt * (2 * w.bit - 1)) AS s
      |            FROM toks t JOIN wb w USING (word) GROUP BY 1, 2),
      |sig AS (SELECT doc_id,
      |    CAST(SUM(CASE WHEN s > 0 THEN 1 ELSE 0 END * (1 << CAST(p AS INT))) AS BIGINT) AS simhash
      |  FROM contrib GROUP BY doc_id)""".stripMargin

  private val simhashSql = simhashSqlWhere("TRUE")

  /** Every token OCCURRENCE contributes ±1 to each of the 16 bit votes,
    * so Σ_word cnt·(2·bit−1) = Σ_occurrence (2·bit−1): the per-word count
    * aggregation and the vocabulary join of the textbook formulation are
    * algebraically redundant. This computes contributions inline per
    * occurrence — explode(16 bits) straight into a map-side-partial hash
    * aggregate — giving ONE shuffle on (doc_id, p) and NO join, where the
    * vocabulary path needed a count shuffle + a distinct shuffle + a join
    * whose build side is corpus-sized for near-random token sets (the
    * forced-broadcast OOM ScaleSmoke caught in round 1). md5 runs per
    * occurrence instead of per distinct word — pure codegen'd CPU, the
    * right trade at every corpus shape. */
  private def simhashes(s: SparkSession, dir: String,
                        docFilter: String = "TRUE"): DataFrame = {
    // One wide codegen'd pass: md5 once per occurrence (hoisted — a
    // lambda body would re-hash per element), the 16 bit votes as 16
    // int columns (substr positions are compile-time constants), then a
    // single groupBy(doc_id) with 16 map-side-partial sums and a final
    // bit-packing projection. No explode, no (doc_id, p) intermediate,
    // ONE shuffle whose payload is 17 longs per document.
    val votes = Tables.fanOut(Tables.documents(s, dir).filter(expr(docFilter)))
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .select(col("doc_id"), md5(col("word")).as("h"))
      .select(col("doc_id") +: (0 until 16).map { p =>
        expr(s"2 * (shiftright(instr('0123456789abcdef', substr(h, ${1 + p / 4}, 1)) - 1, ${3 - p % 4}) & 1) - 1")
          .as(s"v$p")
      }: _*)
    votes.groupBy(col("doc_id"))
      .agg(sum(col("v0")).as("s0"), (1 until 16).map(p => sum(col(s"v$p")).as(s"s$p")): _*)
      .select(col("doc_id"), expr(
        (0 until 16).map(p => s"IF(s$p > 0, ${1L << p}L, 0L)").mkString("CAST(", " + ", " AS BIGINT)"))
        .as("simhash"))
  }

  /** 16-bit SimHash signature per document: weighted bit votes from the
    * first 4 hex nibbles of md5(token). Pure integer arithmetic — the
    * identical signature in both engines. */
  val q33Simhash: QueryDef = sql(
    "q33_simhash",
    s"""WITH $simhashSql
       |SELECT doc_id, simhash FROM sig ORDER BY doc_id""".stripMargin) { (s, dir) =>
    simhashes(s, dir).orderBy(col("doc_id"))
  }

  /** SimHash near-dup candidates: identical 16-bit signatures (bucket
    * equi-join — the degenerate hamming-distance-0 LSH). */
  val q34SimhashPairs: QueryDef = sql(
    "q34_simhash_pairs",
    s"""WITH $simhashSql
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.simhash
       |FROM sig a JOIN sig b ON a.simhash = b.simhash AND a.doc_id < b.doc_id
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
    // Same self-join shape as candidates(): materialize the signature
    // relation once instead of recomputing the tokenize→hash→vote chain
    // per side.
    val sig = simhashes(s, dir)
      .stageBoundary
    val a = sig.select(col("doc_id").as("doc_a"), col("simhash"))
    val b = sig.select(col("doc_id").as("doc_b"), col("simhash"))
    a.join(b, "simhash").filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("simhash"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** SimHash near-dup with Hamming tolerance — the production form (Manku
    * et al., WWW'07): pairs within Hamming distance ≤ 2 of the 16-bit
    * signature. Pigeonhole: split the signature into 3 parts (6/5/5
    * bits); any pair differing in ≤ 2 bits agrees exactly on ≥ 1 part, so
    * candidates come from equi-joins on (part index, part value) — never
    * all-pairs — and the exact `bit_count(xor) <= 2` filter runs on
    * candidates only. Pure integer arithmetic, identical in both
    * engines. At 100 TB each part join shuffles on a short key; the
    * candidate volume is governed by per-part bucket collisions exactly
    * like MinHash banding.
    *
    * Corpus slice: 16 bits saturate — at 50k docs the birthday effect
    * makes ~2.75M ACCIDENTAL bucket pairs (measured, SCALE.md), which is
    * the documented failure mode this query exists to demonstrate, not a
    * cost worth paying in full on every bench run. The demonstration runs
    * on the deterministic `doc_id % 5 = 0` fifth of the corpus (collision
    * pairs scale quadratically → ~25x less saturation work, same plan
    * shape, same arithmetic); q111's 60-bit signature is the production
    * form over the FULL corpus and carries the scale story. */
  val q78SimhashHamming: QueryDef = sql(
    "q78_simhash_hamming",
    s"""WITH ${simhashSqlWhere("doc_id % 5 = 0")},
       |parts AS (
       |  SELECT doc_id, simhash, 0 AS pidx, simhash & 63 AS pval FROM sig
       |  UNION ALL
       |  SELECT doc_id, simhash, 1 AS pidx, (simhash >> 6) & 31 AS pval FROM sig
       |  UNION ALL
       |  SELECT doc_id, simhash, 2 AS pidx, (simhash >> 11) & 31 AS pval FROM sig),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |                a.simhash AS sig_a, b.simhash AS sig_b
       |         FROM parts a JOIN parts b
       |           ON a.pidx = b.pidx AND a.pval = b.pval AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b,
       |  CAST(bit_count(xor(sig_a, sig_b)) AS INT) AS hamming
       |FROM cand
       |WHERE bit_count(xor(sig_a, sig_b)) <= 2
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
    val sig = simhashes(s, dir, "doc_id % 5 = 0")
      .stageBoundary
    val parts = sig.select(col("doc_id"), col("simhash"),
        explode(array(
          struct(lit(0).as("pidx"), (col("simhash") % 64).as("pval")),
          struct(lit(1).as("pidx"), expr("shiftright(simhash, 6) % 32").as("pval")),
          struct(lit(2).as("pidx"), expr("shiftright(simhash, 11) % 32").as("pval")))).as("p"))
      .select(col("doc_id"), col("simhash"), col("p.pidx").as("pidx"), col("p.pval").as("pval"))
    val a = parts.select(col("doc_id").as("doc_a"), col("simhash").as("sig_a"),
      col("pidx"), col("pval"))
    val b = parts.select(col("doc_id").as("doc_b"), col("simhash").as("sig_b"),
      col("pidx"), col("pval"))
    val ham = expr("bit_count(sig_a ^ sig_b)")
    // Hamming test BEFORE the distinct: a pair surviving any of its ≤3
    // bucket collisions survives all of them, so filter-then-distinct is
    // the same set — but the dedup shuffle now carries only true near-dup
    // pairs instead of every bucket collision (the dominant cost: 16-bit
    // signatures collide heavily, and the filter is codegen'd integer ops
    // evaluated map-side in the join stage).
    a.join(b, Seq("pidx", "pval")).filter(col("doc_a") < col("doc_b") && ham <= 2)
      .select(col("doc_a"), col("doc_b"), ham.cast("int").as("hamming")).distinct()
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Incremental dedup: a NEW BATCH (docs with doc_id % 10 = 0 stand in
    * for today's crawl) deduplicated against the EXISTING CORPUS (the
    * rest) — the production ingestion shape, distinct from self-dedup:
    * every batch doc gets a decision `exact_dup` (content hash already
    * in corpus), `near_dup` (verified Jaccard > 0.7 against a corpus
    * doc via LSH candidates), or `unique`, plus the matched corpus doc.
    *
    * Scale posture: the corpus side's signatures/bands are exactly what
    * a production pipeline PERSISTS between runs (the q93 sketch-storage
    * principle applied to dedup state) — then each ingest computes
    * signatures for the batch only and candidate generation is a
    * batch-bands × corpus-bands equi-join on bucket keys: cost scales
    * with the BATCH, not the corpus. Exact matches are one hash
    * semi-join. Nothing rescans or re-pairs the corpus against itself. */
  val q108IncrementalDedup: QueryDef = sql(
    "q108_incremental_dedup",
    s"""WITH $shinglesSql,
       |$signaturesSql,
       |$bandsSql,
       |candx AS (SELECT DISTINCT nb.doc_id AS batch_id, cb.doc_id AS corpus_id
       |          FROM (SELECT * FROM bands WHERE doc_id % 10 = 0) nb
       |          JOIN (SELECT * FROM bands WHERE doc_id % 10 <> 0) cb
       |            ON nb.band = cb.band AND nb.bucket = cb.bucket),
       |interx AS (SELECT c.batch_id, c.corpus_id, COUNT(*) AS n_common
       |           FROM candx c
       |           JOIN sh a ON a.doc_id = c.batch_id
       |           JOIN sh b ON b.doc_id = c.corpus_id AND b.sh = a.sh
       |           GROUP BY 1, 2),
       |cnts AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |nearx AS (SELECT i.batch_id, MIN(i.corpus_id) AS match_id
       |          FROM interx i
       |          JOIN cnts ca ON ca.doc_id = i.batch_id
       |          JOIN cnts cb ON cb.doc_id = i.corpus_id
       |          WHERE CAST(i.n_common AS DOUBLE) / (ca.n + cb.n - i.n_common) > 0.7
       |          GROUP BY 1),
       |exactx AS (SELECT b.doc_id AS batch_id, MIN(c.doc_id) AS match_id
       |           FROM documents b JOIN documents c
       |             ON md5(b.text) = md5(c.text)
       |            AND b.doc_id % 10 = 0 AND c.doc_id % 10 <> 0
       |           GROUP BY 1)
       |SELECT d.doc_id,
       |  CASE WHEN e.match_id IS NOT NULL THEN 'exact_dup'
       |       WHEN nr.match_id IS NOT NULL THEN 'near_dup'
       |       ELSE 'unique' END AS status,
       |  COALESCE(e.match_id, nr.match_id) AS match_id
       |FROM documents d
       |LEFT JOIN exactx e ON e.batch_id = d.doc_id
       |LEFT JOIN nearx nr ON nr.batch_id = d.doc_id
       |WHERE d.doc_id % 10 = 0
       |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val corpus = persistedCorpusState(s, docs.filter(col("doc_id") % 10 =!= 0))
    dedupeBatchAgainstCorpus(docs.filter(col("doc_id") % 10 === 0), corpus)
      .orderBy(col("doc_id"))
  }

  /** The dedup state a production pipeline PERSISTS between ingests:
    * per-doc shingles, LSH band buckets, shingle counts, and content
    * hashes of the accepted corpus. Built once, reused by every
    * subsequent batch — including across micro-batches of the streaming
    * face ([[graft.ops.StreamingOps.incrementalDedupStream]]). */
  final case class CorpusDedupState(shingles: DataFrame, bands: DataFrame,
                                    counts: DataFrame, hashes: DataFrame)

  def buildCorpusState(docs: DataFrame): CorpusDedupState = {
    val sh = shinglesOf(docs).cachedStageBoundary
    val bb = bands(signaturesOf(docs)).cachedStageBoundary
    val cnts = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n")).cachedStageBoundary
    val hs = Tables.fanOut(docs).select(col("doc_id"), md5(col("text")).as("h")).cachedStageBoundary
    CorpusDedupState(sh, bb, cnts, hs)
  }

  /** Corpus state persisted to STORAGE (parquet under the
    * [[graft.sources.StateStore]], keyed by the corpus (doc_id, text)
    * content), built at most once per corpus version and then only READ
    * by every subsequent ingest — bench run, Verify run, or micro-batch.
    * This is the literal production contract ("the state a pipeline
    * persists between runs"): in-memory cached handles die with
    * the JVM and with `catalog.clearCache()`, files don't. Each q108
    * invocation costs one state SCAN plus the batch work (the corpus
    * fingerprint is scanned once per session while the corpus files are
    * unchanged), instead of rebuilding shingles/signatures/bands/hashes
    * for 90% of the corpus every time. A corpus rewritten in place
    * changes the key, so stale state is never read. */
  def persistedCorpusState(s: SparkSession, docs: DataFrame): CorpusDedupState = {
    val Seq(sh, bb, cnts, hs) = StateStore.parquet(s, corpusStateKey(docs),
        "shingles", "bands", "counts", "hashes") {
      val st = buildCorpusState(docs)
      Seq(st.shingles, st.bands, st.counts, st.hashes)
    }
    CorpusDedupState(sh, bb, cnts, hs)
  }

  /** v4: shingles AND band buckets persist as 60-bit hashed BIGINTs. */
  private[graft] def corpusStateKey(docs: DataFrame): StateStore.StateKey =
    StateStore.key("corpus_state_v4", docs.select(col("doc_id"), col("text")))

  /** One ingest step: decide exact_dup / near_dup / unique for every doc
    * of `batch` against the persisted corpus state. Everything here
    * scales with the BATCH — batch shingles/bands are computed fresh,
    * candidate generation is a batch-bands x corpus-bands equi-join on
    * bucket keys, Jaccard verification touches candidates only, and the
    * exact check is one hash join. The corpus is never re-paired against
    * itself. */
  def dedupeBatchAgainstCorpus(batch: DataFrame, corpus: CorpusDedupState): DataFrame =
    dedupeBatchWithHandle(batch, corpus)._1

  /** Like [[dedupeBatchAgainstCorpus]] but also returns the persisted
    * batch-shingle handle so long-lived callers (the streaming ingest
    * loop) can unpersist it once the micro-batch result is consumed —
    * otherwise every trigger leaks a cached DataFrame for the life of
    * the stream. */
  private[graft] def dedupeBatchWithHandle(
      batch: DataFrame, corpus: CorpusDedupState): (DataFrame, DataFrame) = {
    // two consumers (intersection, counts) — materialize once
    val bsh = shinglesOf(batch).cachedStageBoundary
    val candx = bands(signaturesOf(batch))
      .select(col("doc_id").as("batch_id"), col("band"), col("bucket"))
      .join(corpus.bands
        .select(col("doc_id").as("corpus_id"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .select(col("batch_id"), col("corpus_id")).distinct()
    val interx = candx
      .join(bsh.select(col("doc_id").as("batch_id"), col("sh")), "batch_id")
      .join(corpus.shingles.select(col("doc_id").as("corpus_id"), col("sh")),
        Seq("corpus_id", "sh"))
      .groupBy(col("batch_id"), col("corpus_id")).agg(count(lit(1)).as("n_common"))
    val bcnts = bsh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val jac = col("n_common").cast("double") / (col("na") + col("nb") - col("n_common"))
    val nearx = interx
      .join(bcnts.select(col("doc_id").as("batch_id"), col("n").as("na")), "batch_id")
      .join(corpus.counts.select(col("doc_id").as("corpus_id"), col("n").as("nb")), "corpus_id")
      .filter(jac > 0.7)
      .groupBy(col("batch_id")).agg(min(col("corpus_id")).as("near_match"))
    val bh = batch.select(col("doc_id"), md5(col("text")).as("h"))
    val exactx = bh.select(col("doc_id").as("batch_id"), col("h"))
      .join(corpus.hashes.select(col("doc_id").as("corpus_id"), col("h")), "h")
      .groupBy(col("batch_id")).agg(min(col("corpus_id")).as("exact_match"))
    val result = bh.select(col("doc_id"))
      .join(exactx.withColumnRenamed("batch_id", "doc_id"), Seq("doc_id"), "left")
      .join(nearx.withColumnRenamed("batch_id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("exact_match").isNotNull, "exact_dup")
          .when(col("near_match").isNotNull, "near_dup")
          .otherwise("unique").as("status"),
        coalesce(col("exact_match"), col("near_match")).as("match_id"))
    (result, bsh)
  }

  /** Wide-signature SimHash — the production-width answer to the 16-bit
    * saturation documented in SCALE.md: at 50k near-random docs the
    * 16-bit signature pairs 2.75M docs by birthday collision alone
    * (q78); a 60-bit signature makes accidental bit-agreement
    * vanishingly rare, restoring linear candidate volume WITH THE SAME
    * PLAN SHAPE — per-occurrence bit votes, one wide hash aggregate,
    * pigeonhole part equi-joins (4 parts × 15 bits covers Hamming ≤ 3),
    * map-side Hamming filter before the distinct.
    *
    * 60 bits (15 md5 nibbles), not 64: bit 63 would need 1L << 63 —
    * signed-overflow territory where the engines' shift semantics
    * diverge; 60 stays comfortably in positive BIGINT range in both.
    * The tight Hamming radius targets STRONG near-dups (boilerplate
    * edits); the 1-token-in-150 planted dups are minhash/Jaccard's job
    * (q31/q32) — the two detectors are complementary, not redundant. */
  private val WideBits = 60
  private val WidePartBits = 15 // 4 parts; ≤3 differing bits leave ≥1 part identical

  /** SQL CTE chain ending in `wcand(doc_a, doc_b, hamming)`: the 60-bit
    * SimHash near-dup pairs at Hamming ≤ 3. w-prefixed names so the
    * chain composes with [[verifiedPairsSql]] (q367) without CTE
    * clashes. Shared by q111 and q367. */
  private val simhashWideSql: String = {
    def voteSql(p: Int) =
      s"2 * ((strpos('0123456789abcdef', substr(hh, ${1 + p / 4}, 1)) - 1 >> ${3 - p % 4}) & 1) - 1"
    val sumsSql = (0 until WideBits).map(p => s"SUM(${voteSql(p)}) AS s$p").mkString(",\n      ")
    val packSql = (0 until WideBits).map(p => s"CASE WHEN s$p > 0 THEN (1::BIGINT << $p) ELSE 0 END")
      .mkString(" + ")
    val partsSql = (0 until WideBits / WidePartBits).map(i =>
      s"SELECT doc_id, sim, $i AS pidx, (sim >> ${i * WidePartBits}) & ${(1 << WidePartBits) - 1} AS pval FROM wsig")
      .mkString("\n  UNION ALL ")
    s"""wh AS (SELECT doc_id, md5(word) AS hh
       |           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)),
       |wvotes AS (SELECT doc_id,
       |      $sumsSql
       |    FROM wh GROUP BY doc_id),
       |wsig AS (SELECT doc_id, CAST($packSql AS BIGINT) AS sim FROM wvotes),
       |wparts AS (
       |  $partsSql),
       |wcand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |                CAST(bit_count(xor(a.sim, b.sim)) AS INT) AS hamming
       |         FROM wparts a JOIN wparts b
       |           ON a.pidx = b.pidx AND a.pval = b.pval AND a.doc_id < b.doc_id
       |         WHERE bit_count(xor(a.sim, b.sim)) <= 3)""".stripMargin
  }

  /** 60-bit SimHash pairs at Hamming ≤ 3 — shared by q111 and q367. */
  private def simhashWidePairs(s: SparkSession, dir: String): DataFrame = {
    val Bits = WideBits
    val votes = Tables.fanOut(Tables.documents(s, dir))
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .select(col("doc_id"), md5(col("word")).as("hh"))
      .select(col("doc_id") +: (0 until Bits).map { p =>
        expr(s"2 * (shiftright(instr('0123456789abcdef', substr(hh, ${1 + p / 4}, 1)) - 1, ${3 - p % 4}) & 1) - 1")
          .as(s"v$p")
      }: _*)
    val sig = votes.groupBy(col("doc_id"))
      .agg(sum(col("v0")).as("s0"), (1 until Bits).map(p => sum(col(s"v$p")).as(s"s$p")): _*)
      .select(col("doc_id"), expr(
        (0 until Bits).map(p => s"IF(s$p > 0, ${1L << p}L, 0L)").mkString("CAST(", " + ", " AS BIGINT)"))
        .as("sim"))
      .stageBoundary
    val parts = sig.select(col("doc_id"), col("sim"),
        explode(array((0 until Bits / WidePartBits).map { i =>
          struct(lit(i).as("pidx"),
            expr(s"shiftright(sim, ${i * WidePartBits}) & ${(1 << WidePartBits) - 1}").as("pval"))
        }: _*)).as("p"))
      .select(col("doc_id"), col("sim"), col("p.pidx").as("pidx"), col("p.pval").as("pval"))
    val a = parts.select(col("doc_id").as("doc_a"), col("sim").as("sig_a"),
      col("pidx"), col("pval"))
    val b = parts.select(col("doc_id").as("doc_b"), col("sim").as("sig_b"),
      col("pidx"), col("pval"))
    val ham = expr("bit_count(sig_a ^ sig_b)")
    a.join(b, Seq("pidx", "pval")).filter(col("doc_a") < col("doc_b") && ham <= 3)
      .select(col("doc_a"), col("doc_b"), ham.cast("int").as("hamming")).distinct()
  }

  val q111SimhashWide: QueryDef =
    sql(
      "q111_simhash_wide",
      s"""WITH $simhashWideSql
         |SELECT doc_a, doc_b, hamming FROM wcand
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
      simhashWidePairs(s, dir).orderBy(col("doc_a"), col("doc_b"))
    }

  /** Capture–recapture dedup coverage — "how many near-dup pairs did we
    * MISS?" WITHOUT ground truth (Chapman's bias-corrected
    * Lincoln–Petersen estimator, the wildlife-census device applied to
    * detector overlap): two independent-ish detectors — MinHash-LSH
    * verified pairs (Jaccard > 0.7) and 60-bit SimHash at Hamming ≤ 3 —
    * each "capture" a sample of the true duplicate-pair population;
    * the overlap rate prices the population size N̂ =
    * (n_a+1)(n_b+1)/(m+1) − 1, and est_missed = N̂ − |A ∪ B| is the
    * number every dedup sign-off actually wants (q150/q339 audit
    * against PLANTED truth; this estimates coverage when no truth
    * exists — the production case). Exact integer arithmetic
    * throughout; the independence caveat (correlated detectors bias N̂
    * low) is the estimator's textbook limitation, stated not hidden.
    * Both pair relations are the persisted banded/bucketed chains —
    * nothing new at scale. */
  val q367CaptureRecapture: QueryDef = sql(
    "q367_capture_recapture",
    s"""WITH $verifiedPairsSql,
       |$simhashWideSql,
       |pa AS (SELECT doc_a, doc_b FROM vp),
       |pb AS (SELECT doc_a, doc_b FROM wcand),
       |pm AS (SELECT doc_a, doc_b FROM pa INTERSECT SELECT doc_a, doc_b FROM pb),
       |pu AS (SELECT doc_a, doc_b FROM pa UNION SELECT doc_a, doc_b FROM pb),
       |c AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM pa) AS n_a,
       |             (SELECT CAST(COUNT(*) AS BIGINT) FROM pb) AS n_b,
       |             (SELECT CAST(COUNT(*) AS BIGINT) FROM pm) AS n_both,
       |             (SELECT CAST(COUNT(*) AS BIGINT) FROM pu) AS n_union)
       |SELECT n_a, n_b, n_both, n_union,
       |  CAST((n_a + 1) * (n_b + 1) // (n_both + 1) - 1 AS BIGINT) AS est_total,
       |  CAST(GREATEST(0, (n_a + 1) * (n_b + 1) // (n_both + 1) - 1 - n_union) AS BIGINT) AS est_missed,
       |  CAST(n_union * 1000000 // GREATEST(1, (n_a + 1) * (n_b + 1) // (n_both + 1) - 1) AS BIGINT) AS coverage_micro
       |FROM c""".stripMargin) { (s, dir) =>
    // ONE pass over both detectors' pairs (r10 optimization): tag each
    // side, collapse on the pair key with map-side max-flags, and read
    // n_a / n_b / n_both / n_union out of one 1-row aggregate. Replaces
    // {two eager localCheckpoints + overlap join + union-distinct + two
    // counts}: the checkpoints serialized the two (independent) detector
    // pipelines into sequential jobs, and the overlap/union each paid
    // another pair-keyed shuffle of the same relations. Both inputs are
    // distinct pair sets by construction (vp is a post-aggregate filter,
    // wcand ends in distinct()), so sum(flag) == the old count(*) per
    // side, sum(ina·inb) == the old inner-join count, and count(*) ==
    // the old union-distinct count (guide §2.3/§2.4).
    val pa = verifiedPairs(s, dir).select(col("doc_a"), col("doc_b"),
      lit(1L).as("ina"), lit(0L).as("inb"))
    val pb = simhashWidePairs(s, dir).select(col("doc_a"), col("doc_b"),
      lit(0L).as("ina"), lit(1L).as("inb"))
    pa.unionByName(pb)
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(max(col("ina")).as("ina"), max(col("inb")).as("inb"))
      .agg(coalesce(sum(col("ina")), lit(0L)).as("n_a"),
        coalesce(sum(col("inb")), lit(0L)).as("n_b"),
        coalesce(sum(col("ina") * col("inb")), lit(0L)).as("n_both"),
        count(lit(1)).as("n_union"))
      .select(col("n_a"), col("n_b"), col("n_both"), col("n_union"),
        expr("(n_a + 1) * (n_b + 1) DIV (n_both + 1) - 1").as("est_total"),
        expr("GREATEST(0L, (n_a + 1) * (n_b + 1) DIV (n_both + 1) - 1 - n_union)").as("est_missed"),
        expr("n_union * 1000000L DIV GREATEST(1L, (n_a + 1) * (n_b + 1) DIV (n_both + 1) - 1)")
          .as("coverage_micro"))
  }

  /** Exact substring-span deduplication (the ExactSubstr variant of Lee
    * et al. 2021, arXiv:2107.06499 "Deduplicating Training Data Makes
    * Language Models Better"), at word-`n`-gram granularity: every
    * occurrence of an `n`-token span whose text also occurs at a
    * lexicographically earlier (doc_id, pos) loses its tokens; the
    * globally FIRST occurrence of each span keeps them. Unlike document
    * dedup (q30) this removes duplicated CONTENT from otherwise-distinct
    * documents — boilerplate headers, license blocks, templated
    * paragraphs — which doc- and near-dup passes cannot touch. Covered
    * token positions are the union over a doc's non-first span
    * occurrences, so overlapping duplicated spans merge naturally, and a
    * within-doc repeat keeps exactly its first copy.
    *
    * Input: (doc_id, toks array<string>). Output: one row per doc —
    * (doc_id, n_tokens, n_dropped, clean_text) with the surviving tokens
    * rejoined in order (empty string when nothing survives).
    *
    * Plan shape, 100 TB posture: spans hash to md5 map-side in the scan
    * (the q26/q31 shingle device — constant-width shuffle keys), the
    * first-occurrence reduction is ONE map-side-combined aggregate
    * `min(struct(doc_id, pos))` keyed on the span hash (an agg, not a
    * window — partial combine absorbs hyper-frequent boilerplate spans
    * that would pile onto a single window task), and only spans seen
    * more than once survive into the occurrence join, so the join's
    * build side carries duplicated spans only — at web-corpus dup rates
    * a few percent of the gram stream. Token rebuild is a doc-keyed
    * sort-free aggregate (array_sort over collected (pos, word) structs,
    * bounded by document length). Nothing is ever pairwise. */
  def spanDedup(docs: DataFrame, n: Int = 10): DataFrame = {
    val t = docs.select(col("doc_id"), col("toks"))
    val occ = t.filter(size(col("toks")) >= n)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(toks) - ${n - 1}), i -> struct(i AS pos, md5(concat_ws(' ', slice(toks, i, $n))) AS g))")).as("o"))
      .select(col("doc_id"), col("o.pos").as("pos"), col("o.g").as("g"))
    val dupFirsts = occ.groupBy(col("g"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("first"), count(lit(1)).as("c"))
      .filter(col("c") > 1)
      .select(col("g"), col("first.doc_id").as("fdoc"), col("first.pos").as("fpos"))
    val covered = occ.join(dupFirsts, "g")
      .filter(col("doc_id") =!= col("fdoc") || col("pos") =!= col("fpos"))
      .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + (n - 1))).as("tpos"))
      .distinct()
    val toks = t.select(col("doc_id"), posexplode(col("toks")).as(Seq("i", "word")))
      .select(col("doc_id"), (col("i") + 1).as("tpos"), col("word"))
    val rebuilt = toks.join(covered, Seq("doc_id", "tpos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", expr("transform(array_sort(collect_list(struct(tpos, word))), x -> x.word)")).as("clean_text"))
    t.select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  val q126SpanDedup: QueryDef = sql(
    "q126_span_dedup",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |occ AS (
      |  SELECT doc_id, i AS pos, md5(array_to_string(list_slice(toks, i, i + 9), ' ')) AS g
      |  FROM t, LATERAL (SELECT unnest(range(1, len(toks) - 8)) AS i)
      |  WHERE len(toks) >= 10),
      |ranked AS (
      |  SELECT doc_id, pos,
      |    row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
      |  FROM occ),
      |covered AS (
      |  SELECT DISTINCT doc_id, pos + j.o AS tpos
      |  FROM ranked, LATERAL (SELECT unnest(range(0, 10)) AS o) j
      |  WHERE rn > 1),
      |tok AS (
      |  SELECT doc_id, i + 1 AS tpos, toks[i + 1] AS word
      |  FROM t, LATERAL (SELECT unnest(range(0, len(toks))) AS i)),
      |reb AS (
      |  SELECT k.doc_id, COUNT(*) AS n_kept,
      |    string_agg(k.word, ' ' ORDER BY k.tpos) AS clean_text
      |  FROM (SELECT tok.* FROM tok LEFT JOIN covered c
      |          ON c.doc_id = tok.doc_id AND c.tpos = tok.tpos
      |        WHERE c.doc_id IS NULL) k
      |  GROUP BY 1)
      |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
      |  CAST(len(t.toks) - COALESCE(r.n_kept, 0) AS BIGINT) AS n_dropped,
      |  COALESCE(r.clean_text, '') AS clean_text
      |FROM t LEFT JOIN reb r USING (doc_id)
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    spanDedup(Tables.fanOut(Tables.documents(s, dir))
        .withColumn("toks", split(col("text"), " ")))
      .orderBy(col("doc_id"))
  }

  /** Dedup-quality audit — measure the LSH detector AGAINST exact
    * ground truth, as data: every pair that is a true near-dup
    * (exact 3-shingle Jaccard ≥ 0.5) or that MinHash-LSH predicted,
    * with its exact Jaccard and both verdicts. Precision/recall of the
    * production detector fall straight out; the per-pair emission makes
    * every false positive and missed pair individually auditable (the
    * quality dashboard a dedup rollout gates on).
    *
    * Ground truth is COMPLETE over the shared-shingle universe: a pair
    * with J ≥ τ > 0 shares at least one shingle, so blocking on shingle
    * equality loses nothing (the q97 value-space device). At 100 TB a
    * hot common-phrase shingle makes that universe quadratic in its
    * doc-frequency — production runs this audit on a document SAMPLE
    * (q68's deterministic md5 sampler composes directly) and/or drops
    * stop-shingles above a df cap; the fixture universe is ~1M pairs,
    * measured flat in the smoke. */
  val q150DedupEval: QueryDef = sql(
    "q150_dedup_eval",
    s"""WITH $shinglesSql,
       |$signaturesSql,
       |$bandsSql,
       |$candSql,
       |gi AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
       |       FROM sh a JOIN sh b ON b.sh = a.sh AND a.doc_id < b.doc_id
       |       GROUP BY 1, 2),
       |cnts AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |jx AS (SELECT g.doc_a, g.doc_b,
       |         CAST(g.n_common AS DOUBLE) / (ca.n + cb.n - g.n_common) AS j
       |       FROM gi g JOIN cnts ca ON ca.doc_id = g.doc_a
       |       JOIN cnts cb ON cb.doc_id = g.doc_b)
       |SELECT COALESCE(j.doc_a, c.doc_a) AS doc_a,
       |  COALESCE(j.doc_b, c.doc_b) AS doc_b,
       |  round(COALESCE(j.j, 0), 6) AS jaccard,
       |  c.doc_a IS NOT NULL AS predicted,
       |  COALESCE(j.j, 0) >= 0.5 AS truth
       |FROM jx j FULL OUTER JOIN cand c
       |  ON c.doc_a = j.doc_a AND c.doc_b = j.doc_b
       |WHERE c.doc_a IS NOT NULL OR COALESCE(j.j, 0) >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
    val sh = shingles(s, dir)
      .stageBoundary
    val cand = candidates(s, dir).withColumn("predicted", lit(true))
    val gi = sh.select(col("doc_id").as("doc_a"), col("sh"))
      .join(sh.select(col("doc_id").as("doc_b"), col("sh")), "sh")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_common"))
    val cnts = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val jx = gi
      .join(cnts.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(cnts.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .withColumn("j",
        col("n_common").cast("double") / (col("na") + col("nb") - col("n_common")))
      .select(col("doc_a"), col("doc_b"), col("j"))
    jx.join(cand, Seq("doc_a", "doc_b"), "full_outer")
      .select(col("doc_a"), col("doc_b"),
        round(coalesce(col("j"), lit(0.0)), 6).as("jaccard"),
        coalesce(col("predicted"), lit(false)).as("predicted"),
        (coalesce(col("j"), lit(0.0)) >= 0.5).as("truth"))
      .filter(col("predicted") || col("truth"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** ROUGE-style overlap audit of SimHash-identical candidate pairs
    * (Lin 2004's ROUGE-N made symmetric): per q34 pair, the CLIPPED
    * unigram and bigram overlap counts Σ min(cntₐ, cnt_b) plus the
    * unigram F1 = 2·ov1/(lenₐ+len_b) — what a dedup pipeline reports to
    * a human reviewing whether a near-dup detector's candidates are
    * genuine rewrites or hash accidents (the audit that separates "these
    * 16 bits collided" from "these documents share 94% of their words").
    * Counts are exact integers; F1 is one exactly-rounded IEEE division
    * of < 2⁵³ integers — hash-identical across engines.
    *
    * Shape: candidates come ONLY from signature-bucket equi-joins (never
    * all-pairs); each overlap is the pair relation joined twice against
    * the (doc_id, gram, cnt) count relation on (doc, gram) keys, then one
    * map-side-combined sum per pair. Zero-overlap collisions survive via
    * left joins (they are the finding). At 100 TB the gram-count relation
    * shuffles on doc_id — the same key the pair join needs. */
  val q156RougeAudit: QueryDef = sql(
    "q156_rouge_audit",
    s"""WITH $simhashSql,
       |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |          FROM sig a JOIN sig b ON a.simhash = b.simhash AND a.doc_id < b.doc_id),
       |lens AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS len FROM toks GROUP BY 1),
       |o1 AS (SELECT p.doc_a, p.doc_b, CAST(SUM(LEAST(ta.cnt, tb.cnt)) AS BIGINT) AS ov1
       |       FROM pairs p JOIN toks ta ON ta.doc_id = p.doc_a
       |                    JOIN toks tb ON tb.doc_id = p.doc_b AND tb.word = ta.word
       |       GROUP BY 1, 2),
       |big AS (SELECT doc_id, t[i] || ' ' || t[i + 1] AS bg, COUNT(*) AS cnt
       |        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |             LATERAL (SELECT generate_subscripts(t, 1) AS i)
       |        WHERE i <= len(t) - 1
       |        GROUP BY 1, 2),
       |o2 AS (SELECT p.doc_a, p.doc_b, CAST(SUM(LEAST(ba.cnt, bb.cnt)) AS BIGINT) AS ov2
       |       FROM pairs p JOIN big ba ON ba.doc_id = p.doc_a
       |                    JOIN big bb ON bb.doc_id = p.doc_b AND bb.bg = ba.bg
       |       GROUP BY 1, 2)
       |SELECT p.doc_a, p.doc_b, la.len AS len_a, lb.len AS len_b,
       |  COALESCE(o1.ov1, 0) AS ov1, COALESCE(o2.ov2, 0) AS ov2,
       |  CAST(2 * COALESCE(o1.ov1, 0) AS DOUBLE) / CAST(la.len + lb.len AS DOUBLE) AS rouge1_f
       |FROM pairs p
       |JOIN lens la ON la.doc_id = p.doc_a
       |JOIN lens lb ON lb.doc_id = p.doc_b
       |LEFT JOIN o1 ON o1.doc_a = p.doc_a AND o1.doc_b = p.doc_b
       |LEFT JOIN o2 ON o2.doc_a = p.doc_a AND o2.doc_b = p.doc_b
       |ORDER BY p.doc_a, p.doc_b""".stripMargin) { (s, dir) =>
    val sig = simhashes(s, dir).cachedStageBoundary
    val pairs = sig.select(col("doc_id").as("doc_a"), col("simhash"))
      .join(sig.select(col("doc_id").as("doc_b"), col("simhash")), "simhash")
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).cachedStageBoundary
    val docs = Tables.fanOut(Tables.documents(s, dir))
      .withColumn("t", split(col("text"), " "))
    val toks = docs.select(col("doc_id"), explode(col("t")).as("word"))
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("cnt")).cachedStageBoundary
    val lens = toks.groupBy(col("doc_id")).agg(sum(col("cnt")).as("len"))
    val bigrams = docs.select(col("doc_id"), explode(expr(
        "CASE WHEN size(t) >= 2 THEN transform(sequence(0, size(t) - 2), i -> concat(t[i], ' ', t[i + 1])) ELSE array() END")).as("bg"))
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("cnt"))
    def clippedOverlap(grams: DataFrame, gram: String, out: String): DataFrame =
      pairs
        .join(grams.select(col("doc_id").as("doc_a"), col(gram), col("cnt").as("ca")), "doc_a")
        .join(grams.select(col("doc_id").as("doc_b"), col(gram), col("cnt").as("cb")), Seq("doc_b", gram))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(sum(least(col("ca"), col("cb"))).as(out))
    pairs
      .join(lens.select(col("doc_id").as("doc_a"), col("len").as("len_a")), "doc_a")
      .join(lens.select(col("doc_id").as("doc_b"), col("len").as("len_b")), "doc_b")
      .join(clippedOverlap(toks, "word", "raw1"), Seq("doc_a", "doc_b"), "left")
      .join(clippedOverlap(bigrams, "bg", "raw2"), Seq("doc_a", "doc_b"), "left")
      .select(col("doc_a"), col("doc_b"), col("len_a"), col("len_b"),
        coalesce(col("raw1"), lit(0L)).as("ov1"),
        coalesce(col("raw2"), lit(0L)).as("ov2"),
        ((lit(2L) * coalesce(col("raw1"), lit(0L))).cast("double") /
          (col("len_a") + col("len_b")).cast("double")).as("rouge1_f"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Train/test split-leakage audit (the contamination channel exact
    * decontamination misses — Lee et al. 2022, arXiv:2107.06499 §6.2:
    * near-duplicates STRADDLING a held-out split leak training signal
    * into evaluation even when no document crosses it verbatim): every
    * verified near-dup pair (q32's exact-Jaccard > 0.7 over LSH
    * candidates) whose members land in DIFFERENT q62 splits, with both
    * split labels — the audit a data release runs before trusting its
    * eval numbers. The split is the same md5 hash-bucket assignment q62
    * ships, so the audit covers the split actually used.
    *
    * Shape: the q32 pair relation (blocked, never all-pairs) plus two
    * broadcast-sized joins against the per-doc split projection (one
    * scan, no shuffle of text). At 100 TB leaked pairs are what get
    * MOVED (reassign the lower-id doc's split) or dropped. */
  val q161SplitLeakage: QueryDef = sql(
    "q161_split_leakage",
    s"""WITH $verifiedPairsSql,
       |sp AS (SELECT doc_id,
       |         CASE WHEN bucket < 52429 THEN 'train'
       |              WHEN bucket < 58982 THEN 'val'
       |              ELSE 'test' END AS split
       |       FROM (SELECT doc_id,
       |               CAST(('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4)) AS INT) AS bucket
       |             FROM documents))
       |SELECT v.doc_a, v.doc_b, v.jaccard, sa.split AS split_a, sb.split AS split_b
       |FROM vp v
       |JOIN sp sa ON sa.doc_id = v.doc_a
       |JOIN sp sb ON sb.doc_id = v.doc_b
       |WHERE sa.split <> sb.split
       |ORDER BY v.doc_a, v.doc_b""".stripMargin) { (s, dir) =>
    val split = Tables.documents(s, dir)
      .withColumn("bucket", expr(
        "CAST(conv(substring(md5(concat('split:', CAST(doc_id AS STRING))), 1, 4), 16, 10) AS INT)"))
      .select(col("doc_id"),
        when(col("bucket") < 52429, "train")
          .when(col("bucket") < 58982, "val")
          .otherwise("test").as("split"))
    verifiedPairs(s, dir)
      .join(split.select(col("doc_id").as("doc_a"), col("split").as("split_a")), "doc_a")
      .join(split.select(col("doc_id").as("doc_b"), col("split").as("split_b")), "doc_b")
      .filter(col("split_a") =!= col("split_b"))
      .select(col("doc_a"), col("doc_b"), col("jaccard"), col("split_a"), col("split_b"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Dedup-savings accounting — the impact report a dedup rollout
    * publishes (and capacity planning consumes): per q85 near-dup
    * cluster larger than one, the documents, tokens, and bytes that
    * keep-lowest-id canonicalization removes. "We deleted 3.1% of docs
    * but 9% of bytes" is the sentence this query produces; at 100 TB it
    * is the difference between a dedup run that pays for itself in
    * storage and one that doesn't. All counts exact integers.
    *
    * Shape: the q85 component relation (edge-bounded, see
    * [[connectedComponents]]) joined once against a text-free per-doc
    * stats projection, then one cluster-keyed map-side-combined
    * aggregate — output is cluster-count-sized. */
  val q163DedupSavings: QueryDef = sql(
    "q163_dedup_savings",
    s"""WITH RECURSIVE $verifiedPairsSql,
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM vp
       |          UNION ALL SELECT doc_b, doc_a FROM vp),
       |reach AS (
       |  SELECT doc_id AS node, doc_id AS r FROM documents
       |  UNION
       |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.node = e.dst),
       |clusters AS (SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node),
       |stats AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks, n_chars
       |          FROM documents)
       |SELECT c.cluster_id, COUNT(*) AS cluster_size,
       |  CAST(COUNT(*) - 1 AS BIGINT) AS n_removed,
       |  CAST(SUM(CASE WHEN c.doc_id <> c.cluster_id THEN st.n_toks ELSE 0 END) AS BIGINT) AS tokens_removed,
       |  CAST(SUM(CASE WHEN c.doc_id <> c.cluster_id THEN st.n_chars ELSE 0 END) AS BIGINT) AS bytes_removed
       |FROM clusters c JOIN stats st ON st.doc_id = c.doc_id
       |GROUP BY c.cluster_id
       |HAVING COUNT(*) > 1
       |ORDER BY cluster_id""".stripMargin) { (s, dir) =>
    val clusters = connectedComponents(
      Tables.documents(s, dir).select(col("doc_id")),
      verifiedPairs(s, dir).select(col("doc_a"), col("doc_b")))
    val stats = Tables.documents(s, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_toks"), col("n_chars"))
    clusters.join(stats, "doc_id")
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"),
        (count(lit(1)) - 1).cast("long").as("n_removed"),
        sum(when(col("doc_id") =!= col("cluster_id"), col("n_toks")).otherwise(0L)).as("tokens_removed"),
        sum(when(col("doc_id") =!= col("cluster_id"), col("n_chars")).otherwise(0L)).as("bytes_removed"))
      .filter(col("cluster_size") > 1)
      .orderBy(col("cluster_id"))
  }

  /** Dedup-threshold sweep — q150's single-τ precision/recall audit run
    * over a GRID of Jaccard thresholds in one pass (the q198 shape: the
    * tuning constant as data; Leskovec, Rajaraman & Ullman's MMDS §3.4
    * S-curve says where LSH recall should fall, this measures it). For
    * each τ ∈ {30…80}% the LSH detector's verdict on every evaluated
    * pair becomes TP (predicted, J ≥ τ), FP (predicted, J < τ) or FN
    * (missed, J ≥ τ), with precision/recall/F1 per τ. The J ≥ τ test is
    * the EXACT integer comparison 100·n_common ≥ τ%·(n_a+n_b−n_common)
    * — no float Jaccard crosses an engine boundary — and F1 collapses
    * to the single division 2TP/(2TP+FP+FN). Ground truth is complete
    * over the shared-shingle universe (any pair with J > 0 shares a
    * shingle — q150's completeness argument), which covers every τ > 0
    * in the grid at once.
    *
    * Scale posture: identical to q150 (shingle-blocked truth join, LSH
    * candidates from banded equi-joins, df-capped/sampled in
    * production); the sweep adds a 6-row broadcast grid and one
    * 6-group aggregate on top — measuring six thresholds costs the
    * same corpus work as measuring one. */
  val q209ThresholdSweep: QueryDef = sql(
    "q209_threshold_sweep",
    s"""WITH $shinglesSql,
       |$signaturesSql,
       |$bandsSql,
       |$candSql,
       |gi AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
       |       FROM sh a JOIN sh b ON b.sh = a.sh AND a.doc_id < b.doc_id
       |       GROUP BY 1, 2),
       |cnts AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |jx AS (SELECT g.doc_a, g.doc_b, g.n_common, ca.n AS na, cb.n AS nb
       |       FROM gi g JOIN cnts ca ON ca.doc_id = g.doc_a
       |       JOIN cnts cb ON cb.doc_id = g.doc_b),
       |pairs AS (SELECT COALESCE(j.doc_a, c.doc_a) AS doc_a,
       |            COALESCE(j.doc_b, c.doc_b) AS doc_b,
       |            COALESCE(j.n_common, 0) AS n_common,
       |            COALESCE(j.na, 0) AS na, COALESCE(j.nb, 0) AS nb,
       |            c.doc_a IS NOT NULL AS predicted
       |          FROM jx j FULL OUTER JOIN cand c
       |            ON c.doc_a = j.doc_a AND c.doc_b = j.doc_b),
       |grid AS (SELECT unnest([30, 40, 50, 60, 70, 80]) AS tau_pct),
       |sw AS (SELECT g.tau_pct,
       |         CAST(SUM(CASE WHEN p.predicted AND 100 * p.n_common >= g.tau_pct * (p.na + p.nb - p.n_common) THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       |         CAST(SUM(CASE WHEN p.predicted AND 100 * p.n_common < g.tau_pct * (p.na + p.nb - p.n_common) THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       |         CAST(SUM(CASE WHEN NOT p.predicted AND 100 * p.n_common >= g.tau_pct * (p.na + p.nb - p.n_common) THEN 1 ELSE 0 END) AS BIGINT) AS fn
       |       FROM pairs p, grid g
       |       GROUP BY 1)
       |SELECT CAST(tau_pct AS BIGINT) AS tau_pct, tp, fp, fn,
       |  CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / (tp + fp) ELSE 0.0 END AS precision,
       |  CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE) / (tp + fn) ELSE 0.0 END AS recall,
       |  CASE WHEN 2 * tp + fp + fn > 0 THEN CAST(2 * tp AS DOUBLE) / (2 * tp + fp + fn) ELSE 0.0 END AS f1
       |FROM sw
       |ORDER BY tau_pct""".stripMargin) { (s, dir) =>
    val sh = shingles(s, dir)
      .stageBoundary
    val cand = candidates(s, dir).withColumn("predicted", lit(true))
    val gi = sh.select(col("doc_id").as("doc_a"), col("sh"))
      .join(sh.select(col("doc_id").as("doc_b"), col("sh")), "sh")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_common"))
    val cnts = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val jx = gi
      .join(cnts.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(cnts.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
    val pairs = jx.join(cand, Seq("doc_a", "doc_b"), "full_outer")
      .select(
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        coalesce(col("na"), lit(0L)).as("na"),
        coalesce(col("nb"), lit(0L)).as("nb"),
        coalesce(col("predicted"), lit(false)).as("predicted"))
    val grid = s.range(1).select(explode(
      expr("array(30L, 40L, 50L, 60L, 70L, 80L)")).as("tau_pct"))
    val isDup = lit(100) * col("n_common") >=
      col("tau_pct") * (col("na") + col("nb") - col("n_common"))
    pairs.crossJoin(broadcast(grid))
      .groupBy(col("tau_pct"))
      .agg(
        sum(when(col("predicted") && isDup, 1L).otherwise(0L)).as("tp"),
        sum(when(col("predicted") && !isDup, 1L).otherwise(0L)).as("fp"),
        sum(when(!col("predicted") && isDup, 1L).otherwise(0L)).as("fn"))
      .select(col("tau_pct"), col("tp"), col("fp"), col("fn"),
        when(col("tp") + col("fp") > 0,
          col("tp").cast("double") / (col("tp") + col("fp"))).otherwise(0.0).as("precision"),
        when(col("tp") + col("fn") > 0,
          col("tp").cast("double") / (col("tp") + col("fn"))).otherwise(0.0).as("recall"),
        when(lit(2) * col("tp") + col("fp") + col("fn") > 0,
          (lit(2) * col("tp")).cast("double") /
            (lit(2) * col("tp") + col("fp") + col("fn"))).otherwise(0.0).as("f1"))
      .orderBy(col("tau_pct"))
  }

  /** EXACT similarity join via prefix filtering — the PPJoin family
    * (Chaudhuri et al. ICDE'06's SSJoin primitive; Bayardo et al.
    * WWW'07 all-pairs; Xiao et al. WWW'08): every pair with shingle-set
    * Jaccard ≥ ½, with NO approximation and NO any-shared-element
    * blocking. Order the shingle universe rarest-first (df asc); a doc
    * of set size n keeps only its first ⌊n/2⌋+1 shingles as its PREFIX;
    * the theorem: two sets with J ≥ t MUST collide inside their
    * prefixes (fewer than (1−t)·n misses can't avoid them), so the
    * candidate join runs on prefix shingles only — the rare end of the
    * df spectrum, where blocking is cheapest — and exact verification
    * (3·inter ≥ nₐ+n_b, pure integers) filters survivors. Complements
    * the family: q31/q111 are approximate-recall LSH, q150's truth
    * blocks on ANY shared shingle (complete but hot-shingle-quadratic);
    * this is complete at ≤ the LSH price on the candidate side.
    *
    * Scale posture: df ranking is a vocabulary-bounded window (q215's
    * class); the prefix cut is a per-doc partitioned window; the
    * candidate join keys on rare shingles by construction (a shingle of
    * df d contributes ≤ d² candidate pairs and prefixes drop exactly
    * the high-df tail of each doc). Verification joins are candidate×
    * set-size bounded. Completeness vs the brute-force shared-shingle
    * universe is spec-proved (`CurationAuditSpec`). */
  val q234PrefixJoin: QueryDef = sql(
    "q234_prefix_join",
    s"""WITH $shinglesSql,
       |df AS (SELECT sh, COUNT(*) AS df FROM sh GROUP BY 1),
       |rk AS (SELECT sh, ROW_NUMBER() OVER (ORDER BY df, sh) AS rnk FROM df),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |pos AS (SELECT s.doc_id, s.sh,
       |          ROW_NUMBER() OVER (PARTITION BY s.doc_id ORDER BY r.rnk) AS p,
       |          z.n
       |        FROM sh s JOIN rk r ON r.sh = s.sh JOIN sz z ON z.doc_id = s.doc_id),
       |pre AS (SELECT doc_id, sh FROM pos WHERE p <= n // 2 + 1),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM pre a JOIN pre b ON b.sh = a.sh AND a.doc_id < b.doc_id),
       |inter AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS i
       |          FROM cand c JOIN sh x ON x.doc_id = c.doc_a
       |            JOIN sh y ON y.doc_id = c.doc_b AND y.sh = x.sh
       |          GROUP BY 1, 2)
       |SELECT i.doc_a, i.doc_b, CAST(i.i AS BIGINT) AS n_common,
       |  CAST(za.n + zb.n - i.i AS BIGINT) AS n_union,
       |  CAST(i.i AS DOUBLE) / (za.n + zb.n - i.i) AS jaccard
       |FROM inter i JOIN sz za ON za.doc_id = i.doc_a
       |  JOIN sz zb ON zb.doc_id = i.doc_b
       |WHERE 3 * i.i >= za.n + zb.n
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    // r11 (guide §2.3/§2.4): verification by RECORD ARRAYS, the literal
    // PPJoin formulation — each doc carries its rarest-first-sorted
    // shingle list; candidates collide on exploded prefix tokens;
    // survivors verify with one in-place array intersection. Replaces
    // the r10 shape {sh checkpoint; df+sz broadcast joins + per-doc
    // window + prefix checkpoint; cand ⋈ sh ⋈ sh + pair-keyed count}:
    // the double doc-keyed join against the full shingle relation and
    // the pair-count exchange are gone, and so is one of the two eager
    // barriers. df(sh) attaches as a window count over the token key
    // (no second pass over sh, no broadcast), and sort_array over
    // (df, sh) structs induces per doc EXACTLY the order the oracle's
    // global df-rank window does — (df, sh) is a total order because
    // sh is unique in the df relation.
    val docs = shingles(s, dir)
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("sh"))))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("sh")))).as("ts"))
      .select(col("doc_id"),
        expr("transform(ts, t -> t.sh)").as("arr"),
        size(col("ts")).cast("long").as("n"))
      .stageBoundary // doc-count-sized; prefix explode + both attach sides
    // prefix = the first ⌊n/2⌋+1 rarest tokens (two sets with J ≥ ½
    // MUST collide inside their prefixes — Xiao et al. WWW'08)
    val pre = docs.select(col("doc_id"), col("n"),
      explode(expr("slice(arr, 1, CAST(n div 2 + 1 AS INT))")).as("sh"))
    // the PPJoin length filter rides the candidate join: J >= 1/2
    // already implies n_b <= 2 n_a, so pruning it here costs nothing
    // and kills the cross-size candidate tail before verification
    val cand = pre.select(col("doc_id").as("doc_a"), col("sh"), col("n").as("na"))
      .join(pre.select(col("doc_id").as("doc_b"), col("sh"), col("n").as("nb")), "sh")
      .filter(col("doc_a") < col("doc_b") &&
        col("na") <= lit(2) * col("nb") && col("nb") <= lit(2) * col("na"))
      .select(col("doc_a"), col("doc_b")).distinct()
    // exact verification: shingle lists are per-doc DISTINCT, so
    // |array_intersect| IS the oracle's shared-shingle count
    cand
      .join(docs.select(col("doc_id").as("doc_a"),
        col("arr").as("aa"), col("n").as("na")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"),
        col("arr").as("ab"), col("n").as("nb")), "doc_b")
      .withColumn("i", size(array_intersect(col("aa"), col("ab"))).cast("long"))
      .filter(lit(3) * col("i") >= col("na") + col("nb"))
      .select(col("doc_a"), col("doc_b"), col("i").as("n_common"),
        (col("na") + col("nb") - col("i")).as("n_union"),
        (col("i").cast("double") / (col("na") + col("nb") - col("i"))).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Edit-distance-1 join by deletion neighborhoods — FastSS (Bocek et
    * al., TR 2007-11; the 1-deletion special case is Mor & Fraenkel
    * CACM'82's dictionary trick): two strings are within one edit iff
    * they collide on a deletion variant — at the SAME deleted index for
    * substitutions (delete_i(a) = delete_i(b) ⟺ a,b differ ONLY at i,
    * so the edit POSITION falls out of the join key for free), or
    * variant-against-whole for insert/delete. This replaces the
    * quadratic all-pairs levenshtein join with equi-joins whose bucket
    * width is bounded by the ALPHABET (a deletion variant pins every
    * other character — at most |Σ| strings share one), i.e. candidate
    * volume is O(n·len·|Σ|), linear in the corpus; q97's bag-distance
    * filter prunes by content, this prunes by STRUCTURE and is exact.
    * Verification keeps the levenshtein = 1 check (cheap, candidates
    * are near-certain) and pairs dedup on MIN(i) for ambiguous indel
    * runs. Output: the edit-position histogram per kind over customer
    * names — where in the key space near-collisions live (the
    * typo-locality audit an entity-resolution blocking design needs).
    * Exhaustive brute-force completeness spec on the fixture
    * (`DedupSimilaritySpec`). */
  val q245FastssJoin: QueryDef = sql(
    "q245_fastss_join",
    """WITH n AS (SELECT c_custkey AS id, c_name AS nm FROM customer),
      |del AS (SELECT id, nm, CAST(u.i AS BIGINT) AS i,
      |          substr(nm, 1, CAST(u.i AS INT) - 1) || substr(nm, CAST(u.i AS INT) + 1) AS v
      |        FROM n, UNNEST(generate_series(1, len(nm))) u(i)),
      |subc AS (SELECT LEAST(a.id, b.id) AS lo, GREATEST(a.id, b.id) AS hi,
      |           a.i, a.nm AS na, b.nm AS nb
      |         FROM del a JOIN del b ON b.v = a.v AND b.i = a.i AND a.id < b.id),
      |idc AS (SELECT LEAST(a.id, b.id) AS lo, GREATEST(a.id, b.id) AS hi,
      |          a.i, a.nm AS na, b.nm AS nb
      |        FROM del a JOIN n b ON b.nm = a.v AND b.id <> a.id),
      |cand AS (SELECT 'sub' AS kind, lo, hi, MIN(i) AS edit_pos FROM subc
      |           WHERE levenshtein(na, nb) = 1 GROUP BY 2, 3
      |         UNION ALL
      |         SELECT 'indel', lo, hi, MIN(i) FROM idc
      |           WHERE levenshtein(na, nb) = 1 GROUP BY 2, 3)
      |SELECT kind, CAST(edit_pos AS BIGINT) AS edit_pos,
      |  CAST(COUNT(*) AS BIGINT) AS n_pairs
      |FROM cand GROUP BY 1, 2
      |ORDER BY kind, edit_pos""".stripMargin) { (s, dir) =>
    val n = Tables.customer(s, dir).select(col("c_custkey").as("id"), col("c_name").as("nm"))
    val del = n.select(col("id"), col("nm"), explode(expr(
        """transform(sequence(1, length(nm)),
          |  i -> struct(CAST(i AS BIGINT) AS i,
          |    concat(substring(nm, 1, i - 1), substring(nm, i + 1, length(nm))) AS v))"""
          .stripMargin)).as("x"))
      .select(col("id"), col("nm"), col("x.i").as("i"), col("x.v").as("v"))
    val a = del.select(col("id").as("ida"), col("nm").as("na"), col("i"), col("v"))
    val b = del.select(col("id").as("idb"), col("nm").as("nb"), col("i"), col("v"))
    val subc = a.join(b, Seq("v", "i")).filter(col("ida") < col("idb"))
      .select(least(col("ida"), col("idb")).as("lo"), greatest(col("ida"), col("idb")).as("hi"),
        col("i"), col("na"), col("nb"))
    val idc = a.join(n.select(col("id").as("idb"), col("nm").as("nb")),
        col("nb") === col("v") && col("idb") =!= col("ida"))
      .select(least(col("ida"), col("idb")).as("lo"), greatest(col("ida"), col("idb")).as("hi"),
        col("i"), col("na"), col("nb"))
    // one pair-keyed shuffle for both kinds (a pair is sub xor indel —
    // the lengths differ in exactly one branch)
    subc.select(lit("sub").as("kind"), col("lo"), col("hi"), col("i"), col("na"), col("nb"))
      .unionByName(idc.select(lit("indel").as("kind"), col("lo"), col("hi"), col("i"),
        col("na"), col("nb")))
      .filter(levenshtein(col("na"), col("nb")) === 1)
      .groupBy(col("kind"), col("lo"), col("hi")).agg(min(col("i")).as("edit_pos"))
      .groupBy(col("kind"), col("edit_pos"))
      .agg(count(lit(1)).cast("long").as("n_pairs"))
      .orderBy(col("kind"), col("edit_pos"))
  }

  /** Blocking-quality audit (Christen, TKDE 2012's two numbers): every
    * blocked dedup run (q31's bands, q306's windows, q234's prefixes)
    * silently trades RECALL for CANDIDATE VOLUME, and this operator
    * prices that trade against ground truth — the q194 canonical-dup
    * corpus (originals + planted UPPER and double-space re-ingests,
    * truth = canonical-hash groups). Two schemes compete:
    * `raw_first_token` (blocks on the raw first token — cheap, but the
    * UPPER variants land in different blocks and their truth pairs are
    * LOST) and `canon_first_token` (blocks on the canonicalized first
    * token — catches everything at similar volume). Emits per scheme:
    * blocks, candidate pairs Σ n(n−1)/2, truth pairs caught, pairs
    * completeness (recall), and reduction ratio vs the N(N−1)/2
    * all-pairs baseline — PC and RR, the two standard blocking
    * metrics. Exact integers end to end.
    *
    * Scale posture: two grouped counts per scheme (block sizes, and
    * (truth-group × block) intersections) — no pair is ever
    * materialized; the audit costs two aggregates while pricing a
    * quadratic it never runs. */
  val q339BlockingQuality: QueryDef = sql(
    "q339_blocking_quality",
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, upper(text) FROM documents WHERE doc_id % 11 = 0
      |  UNION ALL
      |  SELECT doc_id + 2000000, replace(text, ' ', '  ') FROM documents WHERE doc_id % 13 = 0),
      |k AS (SELECT doc_id,
      |        md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS ch,
      |        string_split(text, ' ')[1] AS raw_tok,
      |        string_split(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')), ' ')[1] AS canon_tok
      |      FROM corpus),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM k),
      |truth AS (SELECT CAST(COALESCE(SUM(g * (g - 1) // 2), 0) AS BIGINT) AS tp
      |          FROM (SELECT COUNT(*) AS g FROM k GROUP BY ch)),
      |schemes AS (
      |  SELECT 'raw_first_token' AS scheme, doc_id, ch, raw_tok AS blk FROM k
      |  UNION ALL
      |  SELECT 'canon_first_token', doc_id, ch, canon_tok FROM k),
      |bs AS (SELECT scheme, CAST(COUNT(DISTINCT blk) AS BIGINT) AS n_blocks,
      |         CAST(SUM(c * (c - 1) // 2) AS BIGINT) AS cand
      |       FROM (SELECT scheme, blk, COUNT(*) AS c FROM schemes GROUP BY 1, 2)
      |       GROUP BY 1),
      |caught AS (SELECT scheme, CAST(COALESCE(SUM(m * (m - 1) // 2), 0) AS BIGINT) AS cp
      |           FROM (SELECT scheme, ch, blk, COUNT(*) AS m FROM schemes GROUP BY 1, 2, 3)
      |           GROUP BY 1)
      |SELECT bs.scheme, bs.n_blocks, bs.cand AS candidate_pairs,
      |  truth.tp AS truth_pairs, caught.cp AS caught_pairs,
      |  caught.cp * 1000000 // truth.tp AS pc_micro,
      |  (n.n * (n.n - 1) // 2 - bs.cand) * 1000000 // (n.n * (n.n - 1) // 2) AS rr_micro
      |FROM bs JOIN caught USING (scheme), truth, n
      |ORDER BY scheme""".stripMargin) { (s, dir) =>
    val docs = Tables.fanOut(Tables.documents(s, dir))
    val corpus = docs.select(col("doc_id"), col("text"))
      .unionByName(docs.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), upper(col("text")).as("text")))
      .unionByName(docs.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          regexp_replace(col("text"), " ", "  ").as("text")))
    val canonText = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
    val k = corpus.select(col("doc_id"), md5(canonText).as("ch"),
        element_at(split(col("text"), " "), 1).as("raw_tok"),
        element_at(split(canonText, " "), 1).as("canon_tok"))
      .stageBoundary
    val n = k.agg(count(lit(1)).as("n"))
    val truth = k.groupBy(col("ch")).agg(count(lit(1)).as("g"))
      .agg(coalesce(sum(expr("g * (g - 1) DIV 2")), lit(0L)).as("tp"))
    val schemes = k.select(lit("raw_first_token").as("scheme"), col("doc_id"),
        col("ch"), col("raw_tok").as("blk"))
      .unionByName(k.select(lit("canon_first_token").as("scheme"), col("doc_id"),
        col("ch"), col("canon_tok").as("blk")))
      .stageBoundary
    val bs = schemes.groupBy(col("scheme"), col("blk")).agg(count(lit(1)).as("c"))
      .groupBy(col("scheme"))
      .agg(countDistinct(col("blk")).as("n_blocks"),
        sum(expr("c * (c - 1) DIV 2")).as("cand"))
    val caught = schemes.groupBy(col("scheme"), col("ch"), col("blk"))
      .agg(count(lit(1)).as("m"))
      .groupBy(col("scheme"))
      .agg(coalesce(sum(expr("m * (m - 1) DIV 2")), lit(0L)).as("cp"))
    bs.join(caught, "scheme").crossJoin(broadcast(truth)).crossJoin(broadcast(n))
      .select(col("scheme"), col("n_blocks"), col("cand").as("candidate_pairs"),
        col("tp").as("truth_pairs"), col("cp").as("caught_pairs"),
        expr("cp * 1000000L DIV tp").as("pc_micro"),
        expr("(n * (n - 1) DIV 2 - cand) * 1000000L DIV (n * (n - 1) DIV 2)").as("rr_micro"))
      .orderBy(col("scheme"))
  }

  /** Cluster-fragility percolation audit (the targeted-attack reading
    * of Albert, Jeong & Barabási, Nature 2000, applied to the near-dup
    * graph): remove the 5 highest-degree documents from the verified
    * pair graph and re-run the clustering — if the giant dedup cluster
    * shatters, it was held together by HUB documents (boilerplate-heavy
    * pages that near-match everything), i.e. the transitive closure was
    * CHAINING through hubs rather than reflecting genuine duplication —
    * the over-merge failure q285 measures pairwise, diagnosed
    * structurally. Reports component structure before/after: node
    * count, components, multi-member components, giant and second
    * component sizes. A robust clustering barely moves; a fragile one
    * craters the giant. Exact integer counts; hub pick ties to the
    * smaller doc_id.
    *
    * Scale posture: the pair graph is the LSH-verified relation
    * (banded, never all-pairs); both phases reuse ONE checkpointed pair
    * set; clustering is q85's machinery (driver union-find under the
    * edge threshold, min-label/star contraction above); the top-2
    * component cut is a TakeOrdered top-k, and the only collect is two
    * rows (the documented bounded class). */
  val q379Percolation: QueryDef = sql(
    "q379_percolation",
    s"""WITH RECURSIVE $verifiedPairsSql,
       |pdeg AS (SELECT node, COUNT(*) AS d FROM (
       |    SELECT doc_a AS node FROM vp UNION ALL SELECT doc_b AS node FROM vp)
       |  GROUP BY 1),
       |hubs AS (SELECT node FROM (
       |    SELECT node, ROW_NUMBER() OVER (ORDER BY d DESC, node) AS rn FROM pdeg)
       |  WHERE rn <= 5),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM vp
       |          UNION ALL SELECT doc_b, doc_a FROM vp),
       |reach AS (
       |  SELECT doc_id AS node, doc_id AS r FROM documents
       |  UNION
       |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.node = e.dst),
       |cl1 AS (SELECT node, MIN(r) AS cid FROM reach GROUP BY 1),
       |sz1 AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n FROM cl1 GROUP BY 1),
       |docs2 AS (SELECT doc_id FROM documents
       |          WHERE doc_id NOT IN (SELECT node FROM hubs)),
       |vp2 AS (SELECT doc_a, doc_b FROM vp
       |        WHERE doc_a NOT IN (SELECT node FROM hubs)
       |          AND doc_b NOT IN (SELECT node FROM hubs)),
       |edges2 AS (SELECT doc_a AS src, doc_b AS dst FROM vp2
       |           UNION ALL SELECT doc_b, doc_a FROM vp2),
       |reach2 AS (
       |  SELECT doc_id AS node, doc_id AS r FROM docs2
       |  UNION
       |  SELECT e.src, reach2.r FROM edges2 e JOIN reach2 ON reach2.node = e.dst),
       |cl2 AS (SELECT node, MIN(r) AS cid FROM reach2 GROUP BY 1),
       |sz2 AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n FROM cl2 GROUP BY 1),
       |st AS (
       |  SELECT 'before' AS phase,
       |    (SELECT CAST(SUM(n) AS BIGINT) FROM sz1) AS n_nodes,
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM sz1) AS n_components,
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM sz1 WHERE n >= 2) AS n_multi,
       |    (SELECT n FROM sz1 ORDER BY n DESC, cid LIMIT 1) AS giant_size,
       |    COALESCE((SELECT n FROM sz1 ORDER BY n DESC, cid LIMIT 1 OFFSET 1), 0) AS second_size
       |  UNION ALL
       |  SELECT 'after',
       |    (SELECT CAST(SUM(n) AS BIGINT) FROM sz2),
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM sz2),
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM sz2 WHERE n >= 2),
       |    (SELECT n FROM sz2 ORDER BY n DESC, cid LIMIT 1),
       |    COALESCE((SELECT n FROM sz2 ORDER BY n DESC, cid LIMIT 1 OFFSET 1), 0))
       |SELECT phase, n_nodes, n_components, n_multi,
       |  CAST(giant_size AS BIGINT) AS giant_size,
       |  CAST(second_size AS BIGINT) AS second_size
       |FROM st ORDER BY phase""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    val vp = verifiedPairs(s, dir).select(col("doc_a"), col("doc_b"))
      .stageBoundary // pair-sized; degree + both phase clusterings
    val deg = vp.select(col("doc_a").as("node"))
      .unionAll(vp.select(col("doc_b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
    val hubs = deg.orderBy(col("d").desc, col("node")).limit(5)
      .select(col("node")).stageBoundary
    def phaseStats(phase: String, nodes: DataFrame, pairs: DataFrame): DataFrame = {
      val sz = connectedComponents(nodes, pairs)
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("n"))
        .stageBoundary
      val top2 = sz.orderBy(col("n").desc, col("cluster_id")).limit(2)
        .collect().map(_.getLong(1)) // two rows — the bounded collect class
      sz.agg(sum(col("n")).as("n_nodes"), count(lit(1)).as("n_components"),
          sum(when(col("n") >= 2, 1L).otherwise(0L)).as("n_multi"))
        .select(lit(phase).as("phase"), col("n_nodes"), col("n_components"),
          col("n_multi"),
          lit(top2.headOption.getOrElse(0L)).as("giant_size"),
          lit(if (top2.length > 1) top2(1) else 0L).as("second_size"))
    }
    val before = phaseStats("before", docs, vp)
    val after = phaseStats("after",
      docs.join(hubs.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left_anti"),
      vp.join(hubs.withColumnRenamed("node", "doc_a"), Seq("doc_a"), "left_anti")
        .join(hubs.withColumnRenamed("node", "doc_b"), Seq("doc_b"), "left_anti")
        .select(col("doc_a"), col("doc_b")))
    before.unionByName(after).orderBy(col("phase"))
  }

  val all: Seq[QueryDef] = Seq(
    q379Percolation,
    q339BlockingQuality, q367CaptureRecapture,
    q30DedupExact, q31MinhashLsh, q32NeardupVerified, q33Simhash, q34SimhashPairs,
    q78SimhashHamming, q85DedupClusters, q108IncrementalDedup, q111SimhashWide,
    q126SpanDedup, q150DedupEval, q156RougeAudit, q161SplitLeakage,
    q163DedupSavings, q174ComponentSplit, q177Containment, q183SourceOverlap,
    q184Novelty, q194CanonicalDedup, q209ThresholdSweep, q234PrefixJoin,
    q238RecordLinkage, q245FastssJoin, q283MinhashAudit, q285TransitivityAudit,
    q306SortedNeighborhood, q319BbitMinhash)
}
