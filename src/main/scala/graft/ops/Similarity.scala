package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.{StateStore, Tables}

/** Vector similarity over the `embeddings` table (LLM-pipeline north
  * star): array math, blocked near-duplicate detection, brute-force
  * cosine top-k, and an IVF-style bucketed ANN variant.
  *
  * Dot products are per-row sequential folds over the array
  * (`aggregate(zip_with(...))` in Spark, `list_reduce(list_transform(...))`
  * in DuckDB): float×float is exact in double and both engines fold
  * left-to-right, so every cosine is bit-identical — no shuffle-order
  * nondeterminism, and no per-element shuffle at all (the whole dot stays
  * inside one row's expression).
  *
  * The baseline pair (q38 fold / q45 native) proves the codegen'd
  * [[graft.functions.CosineSimilarity]] expression accumulates exactly
  * like the fold (shared oracle); the hot paths (q37 block pairs, q39
  * assignment pass, q52 candidate ranking) then use the native expression
  * — one fused loop inside WholeStageCodegen instead of three interpreted
  * HOF walks — while their oracles keep the fold formulation.
  *
  * Scale posture (100 TB):
  *   - Near-dup search never goes all-pairs: pairs are generated inside a
  *     blocking key (here `label`; in production a coarse-quantizer/LSH
  *     bucket), so the join shuffles on the block key only.
  *   - Brute-force top-k broadcasts the single query row and scans once;
  *     TakeOrderedAndProject keeps k rows per partition.
  *   - The IVF variant is the scale path: vectors are assigned to centroid
  *     buckets once, the query probes its nearest `nprobe` buckets and
  *     ranks only those candidates.
  */
object Similarity {
  import QueryDef.sql

  private val NumCentroids = 8
  private val NumProbe = 2
  private val QueryVec = 0L

  /** Sequential left-to-right dot product of two array<float> columns. */
  private def dot(a: String, b: String): Column = expr(
    s"aggregate(zip_with($a, $b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0 AS DOUBLE), (acc, x) -> acc + x)")

  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(range(len($a)), i -> CAST($a[i+1] AS DOUBLE) * CAST($b[i+1] AS DOUBLE)), (x, y) -> x + y)"

  /** embeddings + precomputed L2 norm (per-row fold, no shuffle). */
  private def withNorm(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .withColumn("nrm", sqrt(dot("embedding", "embedding")))

  private def withNormSql(inner: String = "embeddings"): String =
    s"""n AS (SELECT vec_id, label, embedding,
       |        SQRT(${dotSql("embedding", "embedding")}) AS nrm
       |      FROM $inner)""".stripMargin

  /** Higher-order array functions: length, L2 norm, max element, head. */
  val q36ArrayNorms: QueryDef = sql(
    "q36_array_norms",
    s"""WITH ${withNormSql()}
       |SELECT vec_id, len(embedding) AS dim, nrm AS l2_norm,
       |  CAST(list_aggregate(embedding, 'max') AS DOUBLE) AS max_val,
       |  CAST(embedding[1] AS DOUBLE) AS first_val
       |FROM n
       |ORDER BY vec_id""".stripMargin) { (s, dir) =>
    withNorm(s, dir)
      .select(col("vec_id"), size(col("embedding")).as("dim"), col("nrm").as("l2_norm"),
        array_max(col("embedding")).cast("double").as("max_val"),
        element_at(col("embedding"), 1).cast("double").as("first_val"))
      .orderBy(col("vec_id"))
  }

  /** Embedding near-duplicates: cosine above threshold within a blocking
    * label (all-pairs only inside each block). The pair cosine runs
    * through the native codegen'd [[graft.functions.CosineSimilarity]]
    * expression — one fused loop per pair inside WholeStageCodegen, which
    * accumulates exactly like the fold the oracle states (the block join
    * generates O(block²) pairs, so the per-pair arithmetic is the hot
    * loop here). */
  val q37EmbeddingNeardup: QueryDef = sql(
    "q37_embedding_neardup",
    s"""WITH ${withNormSql()}
       |SELECT vec_a, vec_b, cosine FROM (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |    ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cosine
       |  FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id)
       |WHERE cosine > 0.35
       |ORDER BY vec_a, vec_b""".stripMargin) { (s, dir) =>
    graft.functions.CosineSimilarity.register(s)
    val n = Tables.embeddings(s, dir)
    val a = n.select(col("vec_id").as("vec_a"), col("label"), col("embedding").as("ea"))
    val b = n.select(col("vec_id").as("vec_b"), col("label"), col("embedding").as("eb"))
    a.join(b, "label").filter(col("vec_a") < col("vec_b"))
      .withColumn("cosine", expr("cosine_sim_native(ea, eb)"))
      .filter(col("cosine") > 0.35)
      .select(col("vec_a"), col("vec_b"), col("cosine"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Brute-force cosine top-k against the query vector (the exact
    * baseline every ANN variant is graded against). */
  val q38AnnBruteforce: QueryDef = sql(
    "q38_ann_bruteforce",
    s"""WITH ${withNormSql()},
       |q AS (SELECT embedding AS qe, nrm AS qn FROM n WHERE vec_id = $QueryVec)
       |SELECT n.vec_id, ${dotSql("n.embedding", "q.qe")} / (n.nrm * q.qn) AS cosine
       |FROM n, q
       |WHERE n.vec_id != $QueryVec
       |ORDER BY cosine DESC, n.vec_id
       |LIMIT 10""".stripMargin) { (s, dir) =>
    val n = withNorm(s, dir)
    val q = n.filter(col("vec_id") === QueryVec)
      .select(col("embedding").as("qe"), col("nrm").as("qn"))
    n.filter(col("vec_id") =!= QueryVec)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), (dot("embedding", "qe") / (col("nrm") * col("qn"))).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(10)
  }

  /** IVF-style ANN: the first [[NumCentroids]] vectors act as a trained
    * coarse quantizer; every vector is assigned to its nearest centroid,
    * the query probes its [[NumProbe]] nearest buckets and ranks only
    * those — the 100 TB path where brute force is off the table.
    * Assignment and probing tie-break on centroid id, so Spark and DuckDB
    * agree exactly. */
  val q39AnnIvf: QueryDef = sql(
    "q39_ann_ivf",
    s"""WITH ${withNormSql()},
       |cent AS (SELECT vec_id AS cid, embedding AS ce, nrm AS cn FROM n
       |         WHERE vec_id < $NumCentroids),
       |ac AS (SELECT n.vec_id, c.cid,
       |         ${dotSql("n.embedding", "c.ce")} / (n.nrm * c.cn) AS cosine
       |       FROM n CROSS JOIN cent c),
       |assign AS (SELECT vec_id, cid FROM (
       |             SELECT vec_id, cid,
       |               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosine DESC, cid) AS rn
       |             FROM ac) WHERE rn = 1),
       |probe AS (SELECT cid FROM (
       |            SELECT cid, ROW_NUMBER() OVER (ORDER BY cosine DESC, cid) AS rn
       |            FROM ac WHERE vec_id = $QueryVec) WHERE rn <= $NumProbe),
       |q AS (SELECT embedding AS qe, nrm AS qn FROM n WHERE vec_id = $QueryVec)
       |SELECT n.vec_id, ${dotSql("n.embedding", "q.qe")} / (n.nrm * q.qn) AS cosine
       |FROM n
       |JOIN assign a ON a.vec_id = n.vec_id
       |JOIN probe p ON p.cid = a.cid, q
       |WHERE n.vec_id != $QueryVec
       |ORDER BY cosine DESC, n.vec_id
       |LIMIT 10""".stripMargin) { (s, dir) =>
    graft.functions.CosineSimilarity.register(s)
    val n = Tables.embeddings(s, dir)
    val cent = n.filter(col("vec_id") < NumCentroids)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    // assignment cosines via the native fused expression (bit-identical
    // to the oracle's fold; see q45) — the N×centroids pass is the bulk
    // of the work
    val ac = n.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("cid"), expr("cosine_sim_native(embedding, ce)").as("cosine"))
    val wAssign = Window.partitionBy(col("vec_id")).orderBy(col("cosine").desc, col("cid"))
    val assign = ac.withColumn("rn", row_number().over(wAssign))
      .filter(col("rn") === 1).select(col("vec_id"), col("cid"))
    // NumCentroids-row input: a plain top-k (TakeOrderedAndProject) — no
    // unpartitioned Window, so nothing ever funnels to a single partition
    val probe = ac.filter(col("vec_id") === QueryVec)
      .orderBy(col("cosine").desc, col("cid"))
      .limit(NumProbe).select(col("cid"))
    val q = n.filter(col("vec_id") === QueryVec).select(col("embedding").as("qe"))
    n.join(assign, "vec_id").join(broadcast(probe), "cid")
      .filter(col("vec_id") =!= QueryVec)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), expr("cosine_sim_native(embedding, qe)").as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(10)
  }

  /** Brute-force top-k through the native codegen'd
    * [[graft.functions.CosineSimilarity]] expression — one fused loop per
    * row inside WholeStageCodegen. Accumulation order matches the fold
    * formulation exactly, so it shares q38's DuckDB oracle verbatim:
    * the custom expression is itself oracle-verified. */
  val q45AnnNative: QueryDef = QueryDef(
    "q45_ann_native",
    (s, dir) => {
      graft.functions.CosineSimilarity.register(s)
      val n = Tables.embeddings(s, dir)
      val q = n.filter(col("vec_id") === QueryVec).select(col("embedding").as("qe"))
      n.filter(col("vec_id") =!= QueryVec)
        .crossJoin(broadcast(q))
        .select(col("vec_id"), expr("cosine_sim_native(embedding, qe)").as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id"))
        .limit(10)
    },
    q38AnnBruteforce.oracle)

  // ---- random-hyperplane LSH (sign-of-projection) ----
  // Hyperplane coefficients are md5-derived (nibble - 7.5 per dimension),
  // so both engines construct the identical planes from nothing but the
  // plane index — no stored model, fully oracle-checkable.

  private val NumPlanes = 8

  /** Hyperplane k's 64 coefficients, precomputed ONCE driver-side with
    * the identical md5-nibble derivation the oracle SQL states inline
    * (`instr(hex, nibble) - 8.5` over `md5("plane<k>:<chunk>")`) — the
    * coefficients are row-invariant model parameters, so evaluating the
    * md5s per row per element (64×8 digests/row) would be pure waste; the
    * hoisted literals turn bucket assignment into plain fused float math.
    * java.security MD5 and Spark/DuckDB `md5` agree byte-for-byte. */
  private def planeCoeffs(k: Int): Seq[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (1 to 64).map { j =>
      val chunk = (j - 1) / 32
      val hex = md.digest(s"plane$k:$chunk".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val nibble = hex.charAt((j - 1) % 32)
      // instr('0123456789abcdef', nibble) is 1-based → digit + 1 - 8.5
      (Character.digit(nibble, 16) + 1).toDouble - 8.5
    }
  }

  /** Signed projection of `embedding` onto pseudo-random hyperplane k:
    * the same left-to-right fold as the oracle, over literal
    * coefficients. */
  private def planeDot(k: Int): Column = {
    val coeffs = planeCoeffs(k).mkString("array(", "D, ", "D)")
    expr(
      s"""aggregate(zip_with(embedding, $coeffs, (x, c) ->
         |  CAST(x AS DOUBLE) * c),
         |CAST(0 AS DOUBLE), (a, x) -> a + x)""".stripMargin)
  }

  private def planeDotSql(k: Int): String =
    s"""list_reduce(list_transform(range(1, 65), j ->
       |  CAST(embedding[j] AS DOUBLE) *
       |  (strpos('0123456789abcdef',
       |     substr(md5('plane$k:' || CAST((j-1) // 32 AS VARCHAR)),
       |            ((j-1) % 32) + 1, 1)) - 8.5)),
       |(a, x) -> a + x)""".stripMargin

  private def bucketExpr: Column =
    (0 until NumPlanes).map(k => when(planeDot(k) > 0, 1 << k).otherwise(0): Column)
      .reduce(_ + _)

  private def bucketSql: String =
    (0 until NumPlanes).map(k =>
      s"(CASE WHEN ${planeDotSql(k)} > 0 THEN ${1 << k} ELSE 0 END)").mkString(" + ")

  /** LSH-bucketed ANN: vectors hash to one of 2^[[NumPlanes]] sign
    * buckets; the query multi-probes its own bucket plus all buckets at
    * Hamming distance 1 (bucket XOR is 0 or a power of two) and ranks
    * those candidates exactly. The alternate scale path next to IVF
    * (q39) — bucket assignment is embarrassingly parallel (no training
    * pass, no centroid join), at the cost of recall vs the quantizer. */
  val q52AnnLsh: QueryDef = {
    val powers = (0 until NumPlanes).map(1 << _)
    sql(
      "q52_ann_lsh",
      s"""WITH ${withNormSql()},
         |sig AS (SELECT vec_id, embedding, nrm, $bucketSql AS bucket FROM n),
         |q AS (SELECT embedding AS qe, nrm AS qn, bucket AS qb FROM sig WHERE vec_id = $QueryVec)
         |SELECT s.vec_id, ${dotSql("s.embedding", "q.qe")} / (s.nrm * q.qn) AS cosine
         |FROM sig s, q
         |WHERE (s.bucket = q.qb OR xor(s.bucket, q.qb) IN (${powers.mkString(", ")}))
         |  AND s.vec_id != $QueryVec
         |ORDER BY cosine DESC, s.vec_id
         |LIMIT 10""".stripMargin) { (s, dir) =>
      graft.functions.CosineSimilarity.register(s)
      val sig = Tables.embeddings(s, dir).withColumn("bucket", bucketExpr)
      val q = sig.filter(col("vec_id") === QueryVec)
        .select(col("embedding").as("qe"), col("bucket").as("qb"))
      val hamming1 = expr("bucket ^ qb").isin(powers: _*)
      sig.crossJoin(broadcast(q))
        .filter((col("bucket") === col("qb") || hamming1) && col("vec_id") =!= QueryVec)
        .select(col("vec_id"), expr("cosine_sim_native(embedding, qe)").as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id"))
        .limit(10)
    }
  }

  // ---- int8 scalar quantization (vector compression) ----
  // Per-vector min/max scale to 0..255 codes: 4× smaller vectors in
  // memory/shuffle — the compression an in-memory ANN index at 100 TB
  // depends on. floor(x + 0.5) instead of round() (floor is identical
  // IEEE in both engines; round() ties differ), LEAST guards the
  // top-of-range ulp. Codes are integral, so the double→int cast agrees
  // across engines (Spark truncates, DuckDB rounds — both identity on
  // integral doubles).

  /** Quantize: vec_id, mn, scale, codes array<int>. */
  private def quantized(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .withColumn("mn", expr("CAST(array_min(embedding) AS DOUBLE)"))
      .withColumn("mx", expr("CAST(array_max(embedding) AS DOUBLE)"))
      .withColumn("scale", (col("mx") - col("mn")) / lit(255.0))
      .withColumn("codes", expr(
        """transform(embedding, x ->
          |  CAST(LEAST(255L, FLOOR((CAST(x AS DOUBLE) - mn) / scale + 0.5D)) AS INT))""".stripMargin))
      .select(col("vec_id"), col("mn"), col("scale"), col("codes"))

  private val quantizedSql =
    """quant AS (
      |  SELECT vec_id, mn, (mx - mn) / 255 AS scale,
      |    list_transform(embedding, x ->
      |      CAST(LEAST(CAST(255 AS DOUBLE),
      |                 FLOOR((CAST(x AS DOUBLE) - mn) / ((mx - mn) / 255) + 0.5)) AS INT)) AS codes
      |  FROM (SELECT vec_id, embedding,
      |          CAST(list_aggregate(embedding, 'min') AS DOUBLE) AS mn,
      |          CAST(list_aggregate(embedding, 'max') AS DOUBLE) AS mx
      |        FROM embeddings))""".stripMargin

  /** ANN over the dequantized codes: cosine from reconstructed values
    * (mn + code·scale), top-k against the query vector. The recall-vs-q38
    * bound is pinned in AnnQualitySpec; this query hash-verifies that the
    * quantization and reconstruction arithmetic is identical in both
    * engines — the property that makes a compressed index trustworthy. */
  val q61AnnQuantized: QueryDef = sql(
    "q61_ann_quantized",
    s"""WITH $quantizedSql,
       |q AS (SELECT codes AS cq, mn AS mnq, scale AS scq FROM quant WHERE vec_id = $QueryVec)
       |SELECT v.vec_id,
       |  list_reduce(list_transform(range(len(v.codes)), i ->
       |      (v.mn + CAST(v.codes[i+1] AS DOUBLE) * v.scale) * (q.mnq + CAST(q.cq[i+1] AS DOUBLE) * q.scq)),
       |    (a, x) -> a + x)
       |  / (SQRT(list_reduce(list_transform(range(len(v.codes)), i ->
       |        (v.mn + CAST(v.codes[i+1] AS DOUBLE) * v.scale) * (v.mn + CAST(v.codes[i+1] AS DOUBLE) * v.scale)),
       |      (a, x) -> a + x))
       |     * SQRT(list_reduce(list_transform(range(len(q.cq)), i ->
       |        (q.mnq + CAST(q.cq[i+1] AS DOUBLE) * q.scq) * (q.mnq + CAST(q.cq[i+1] AS DOUBLE) * q.scq)),
       |      (a, x) -> a + x))) AS qcosine
       |FROM quant v, q
       |WHERE v.vec_id != $QueryVec
       |ORDER BY qcosine DESC, v.vec_id
       |LIMIT 10""".stripMargin) { (s, dir) =>
    val v = quantized(s, dir)
    val q = v.filter(col("vec_id") === QueryVec)
      .select(col("codes").as("cq"), col("mn").as("mnq"), col("scale").as("scq"))
    def norm2(codes: String, mn: String, sc: String) = expr(
      s"""aggregate(transform($codes, p ->
         |  ($mn + CAST(p AS DOUBLE) * $sc) * ($mn + CAST(p AS DOUBLE) * $sc)),
         |CAST(0 AS DOUBLE), (a, x) -> a + x)""".stripMargin)
    val dotq = expr(
      """aggregate(zip_with(codes, cq, (p, q) ->
        |  (mn + CAST(p AS DOUBLE) * scale) * (mnq + CAST(q AS DOUBLE) * scq)),
        |CAST(0 AS DOUBLE), (a, x) -> a + x)""".stripMargin)
    v.filter(col("vec_id") =!= QueryVec)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        (dotq / (sqrt(norm2("codes", "mn", "scale")) * sqrt(norm2("cq", "mnq", "scq"))))
          .as("qcosine"))
      .orderBy(col("qcosine").desc, col("vec_id"))
      .limit(10)
  }

  // ---- distributed k-means (Lloyd) over integer-quantized embeddings ----

  /** Embeddings quantized to BIGINT arrays (`floor(x·10⁶ + 0.5)` — the
    * q61 device): every distance, centroid sum, and floored mean below is
    * exact integer arithmetic, identical in Spark and DuckDB regardless
    * of aggregation order — what makes an ITERATIVE float algorithm
    * hash-verifiable across engines at all. */
  /** Quantize an (vec_id, embedding array<float>) frame to (vec_id, qv
    * array<bigint>) — the integer domain every k-means face works in. */
  def quantizeVectors(df: DataFrame): DataFrame =
    df.select(col("vec_id"), quantizedVector.as("qv"))

  private val quantizedVector = expr(
    "transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0D + 0.5D) AS BIGINT))")

  private def quantizedLong(s: SparkSession, dir: String): DataFrame =
    quantizeVectors(Tables.embeddings(s, dir))

  /** The embeddings scan quantized IN PLACE: every column kept, `qv`
    * added. An IVF face assigns this frame directly, so the cluster id
    * lands on the row that carries the embedding and label — no join of
    * the corpus back to an assignment derived from the same scan. */
  private def quantizedScan(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir).withColumn("qv", quantizedVector)

  /** TRAIN-ONCE / SERVE-MANY coarse-quantizer centroids
    * ([[graft.sources.StateStore]] keyed by the content of the
    * quantized embeddings plus (k, iters) — the q136 postings /
    * q127 weights device applied to the IVF index): the first ANN face
    * to run pays the Lloyd rounds and PUBLISHES the (cid, vec)
    * relation; every other face (routing, drift, hubness, silhouette,
    * hard negatives, semantic dedup, …) reads a k-row parquet. Integer
    * coordinates survive the round-trip exactly, so read-then-assign is
    * bit-identical to train-then-assign (AnnQualitySpec pins this). A
    * changed embeddings table changes the fingerprint; stale centroids
    * are never looked up. */
  private[graft] def trainedCentroids(s: SparkSession, dir: String,
                                      k: Int, iters: Int): DataFrame = {
    val v = quantizedLong(s, dir)
    StateStore.parquet(s, StateStore.key(s"ivf_v1_k${k}_i$iters", v), "centroids") {
      Seq(kmeansCentroidFrame(v, k, iters))
    }.head
  }

  /** Distributed Lloyd k-means over (vec_id, qv array<bigint>) frames:
    * `iters` rounds of assign + update, then a final assignment; returns
    * (vec_id, qv, cid, dist). Centroids live as a (cid, vec) RELATION
    * for the whole loop: assignment packs it into a single-row
    * array<struct<cid,vec>> (built distributedly, never collected) and
    * broadcast-joins that row onto the vector scan, so each round is ONE
    * scan with a fused per-row argmin (the codegen'd native L2 expression, no k×d
    * explode, no shuffle of the vectors) plus one (cid, dim)-keyed
    * map-side-combined aggregate of k·d output rows. k is bounded by
    * executor broadcast memory (~k·d longs), not plan size or driver
    * heap — the k ∝ N IVF/SemDeDup recipe stays plannable.
    * Init = the k lowest vec_ids; ties break to the lowest cid; empty
    * clusters drop (plain Lloyd). Centroid means floor via double
    * division — exact while |sum| < 2⁵³ (bounds here: ≤ 2³⁰). */
  def kmeansQuantized(vectors: DataFrame, k: Int, iters: Int): DataFrame =
    assignToCentroids(vectors, kmeansCentroidFrame(vectors, k, iters))
      .select(col("vec_id"), col("qv"), col("cid"), col("dist"))

  /** Train and return the centroids as a (cid, vec array<bigint>) frame —
    * the scale face: nothing centroid-sized ever touches the driver.
    * Each round's k·d-value result is eagerly localCheckpoint'ed (k rows;
    * at cluster scale use a reliable checkpoint dir) so round r's plan
    * does not replay rounds 1..r-1. */
  def kmeansCentroidFrame(vectors: DataFrame, k: Int, iters: Int): DataFrame = {
    val pinned = vectors.cachedStageBoundary
    def update(assigned: DataFrame): DataFrame =
      assigned.select(col("cid"), posexplode(col("qv")).as(Seq("pos", "v")))
        .groupBy(col("cid"), col("pos"))
        .agg(expr("CAST(FLOOR(CAST(SUM(v) AS DOUBLE) / COUNT(*)) AS BIGINT)").as("cv"))
        .groupBy(col("cid"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, cv))), s -> s.cv)").as("vec"))
    var cents = pinned.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("qv").as("vec"))
      .stageBoundary
    for (_ <- 1 to iters)
      cents = update(assignToCentroids(pinned, cents)).stageBoundary
    pinned.unpersist()
    cents
  }

  /** Driver-side convenience face over [[kmeansCentroidFrame]] (collects
    * k·d values — fine at coarse-quantizer k, use the frame at large k). */
  def kmeansCentroids(vectors: DataFrame, k: Int, iters: Int): Seq[(Long, Seq[Long])] =
    collectCentroids(kmeansCentroidFrame(vectors, k, iters))

  def collectCentroids(frame: DataFrame): Seq[(Long, Seq[Long])] =
    frame.select(col("cid"), col("vec")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq)
      .sortBy(_._1).toSeq

  /** Lift a driver-held centroid seq into the (cid, vec) relation the
    * assignment path consumes (compat face for small trained artifacts
    * and streaming mini-batch state). */
  def centroidRelation(s: SparkSession, cents: Seq[(Long, Seq[Long])]): DataFrame = {
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("cid", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("vec", org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, containsNull = false), nullable = false)))
    val rows = cents.map { case (cid, v) => org.apache.spark.sql.Row(cid, v) }
    s.createDataFrame(rows.asJava, schema)
  }

  /** Persist trained centroids as the index artifact (parquet,
    * (cid, vec) rows) — the piece an IVF build keeps between the
    * training job and every serving job. Integer coordinates survive
    * the round-trip exactly, so load-then-assign is bit-identical to
    * train-then-assign (spec-pinned in AnnQualitySpec). */
  def saveCentroids(s: SparkSession, cents: Seq[(Long, Seq[Long])], path: String): Unit =
    centroidRelation(s, cents).repartition(1).write.mode("overwrite").parquet(path)

  def loadCentroidFrame(s: SparkSession, path: String): DataFrame =
    Tables.parquet(s, path)

  def loadCentroids(s: SparkSession, path: String): Seq[(Long, Seq[Long])] =
    collectCentroids(loadCentroidFrame(s, path))

  /** Pack a (cid, vec) centroid relation into the single-row broadcast
    * form the argmin consumes: `cs: array<struct<cid,vec>>`, ascending
    * cid (array_sort on the struct — cid is unique, so order is total
    * and deterministic). Built with a distributed aggregate; the packed
    * row is ~k·d longs and moves executor-to-executor via broadcast. */
  private def packCentroids(cents: DataFrame): DataFrame =
    cents.agg(array_sort(collect_list(struct(col("cid"), col("vec")))).as("cs"))

  /** Nearest-centroid assignment (exact integer L2, ties to the lowest
    * cid) against a (cid, vec) centroid relation: broadcast-joins the
    * packed single-row form and runs one fused per-row argmin over the
    * codegen'd native L2 expression —
    * no plan literal, no driver collect, no shuffle of the vectors.
    * Adds `cid` and `dist`. */
  def assignToCentroids(vectors: DataFrame, cents: DataFrame): DataFrame =
    nearestCentroid(vectors.join(broadcast(packCentroids(cents))))

  /** The argmin of [[assignToCentroids]] over rows that already carry
    * the packed `cs` (and `qv`): adds `cid` and `dist`, drops `cs`. */
  private def nearestCentroid(withCs: DataFrame): DataFrame =
    withCs
      // the argmin walks a LONG array, not an array of structs: struct
      // ordering goes through the interpreted comparator per element,
      // measured ~80% slower end-to-end on the k-means smoke. cs is
      // ascending-cid, so first-minimum position = lowest tied cid.
      .withColumn("dists", transform(col("cs"), c =>
        graft.functions.L2Distance.l2(col("qv"), c.getField("vec"))))
      .withColumn("dist", array_min(col("dists")))
      .withColumn("cid", element_at(
        col("cs"), array_position(col("dists"), col("dist")).cast("int")).getField("cid"))
      .drop("cs", "dists")

  /** Seq-compat assignment face (streaming mini-batch state, tests). */
  def assignToCentroids(vectors: DataFrame, cents: Seq[(Long, Seq[Long])]): DataFrame =
    assignToCentroids(vectors, centroidRelation(vectors.sparkSession, cents))

  /** Per-(vector, centroid) exact integer squared L2 — the flat form
    * query-time probe routing reads (k rows per vector; callers pass a
    * single-vector frame). */
  def centroidDistances(vectors: DataFrame, cents: DataFrame): DataFrame =
    vectors.join(broadcast(cents.select(col("cid"), col("vec"))))
      .withColumn("cdist", graft.functions.L2Distance.l2(col("qv"), col("vec")))
      .drop("vec")

  /** Contract face: train an 8-centroid coarse quantizer (the IVF index
    * build q39 presupposes) with 2 Lloyd rounds and emit the per-cluster
    * audit — size and exact integer inertia. Hash-equality against the
    * oracle's unrolled 2-round CTE chain proves every assignment and
    * every centroid update decided identically in both engines. */
  /** q119/q120's shared oracle prefix: quantization + the unrolled
    * 2-round Lloyd chain, ending at centroid set `c2` and the final
    * per-(vec, centroid) distance relation `d3`. */
  /** Unrolled 2-round Lloyd CTE chain over a long-form (vec_id, dim, v)
    * source CTE named `src`: init c0 = the k=8 lowest vec_ids, ending at
    * centroid set c2 and the final assignment a3(vec_id, cid, dist).
    * Shared by the full-space trainings (q119/q120/q122/q125/q152) and
    * the JL-projected training (q160) — one device, two vector spaces. */
  private def lloydRoundsSql(src: String): String =
    s"""c0 AS (SELECT vec_id AS cid, dim, v FROM $src WHERE vec_id < 8),
       |d1 AS (SELECT s.vec_id, c.cid, SUM((s.v - c.v) * (s.v - c.v)) AS dist
       |       FROM $src s JOIN c0 c ON c.dim = s.dim GROUP BY 1, 2),
       |a1 AS (SELECT vec_id, cid FROM (
       |         SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |         FROM d1) WHERE rn = 1),
       |c1 AS (SELECT a.cid, s.dim, CAST(FLOOR(CAST(SUM(s.v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS v
       |       FROM $src s JOIN a1 a USING (vec_id) GROUP BY 1, 2),
       |d2 AS (SELECT s.vec_id, c.cid, SUM((s.v - c.v) * (s.v - c.v)) AS dist
       |       FROM $src s JOIN c1 c ON c.dim = s.dim GROUP BY 1, 2),
       |a2 AS (SELECT vec_id, cid FROM (
       |         SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |         FROM d2) WHERE rn = 1),
       |c2 AS (SELECT a.cid, s.dim, CAST(FLOOR(CAST(SUM(s.v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS v
       |       FROM $src s JOIN a2 a USING (vec_id) GROUP BY 1, 2),
       |d3 AS (SELECT s.vec_id, c.cid, SUM((s.v - c.v) * (s.v - c.v)) AS dist
       |       FROM $src s JOIN c2 c ON c.dim = s.dim GROUP BY 1, 2),
       |a3 AS (SELECT vec_id, cid, dist FROM (
       |         SELECT vec_id, cid, dist, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |         FROM d3) WHERE rn = 1)""".stripMargin

  private val kmeansSqlPrefix =
    s"""WITH q AS (
       |  SELECT vec_id, dim,
       |    CAST(FLOOR(CAST(embedding[dim] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS v
       |  FROM embeddings,
       |       LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS dim)),
       |${lloydRoundsSql("q")}""".stripMargin

  val q119KmeansTrain: QueryDef = sql(
    "q119_kmeans_train",
    s"""$kmeansSqlPrefix
       |SELECT CAST(cid AS INT) AS cid, COUNT(*) AS n_vecs, CAST(SUM(dist) AS BIGINT) AS inertia
       |FROM a3 GROUP BY 1 ORDER BY cid""".stripMargin) { (s, dir) =>
    assignToCentroids(quantizedLong(s, dir), trainedCentroids(s, dir, k = 8, iters = 2))
      .select(col("vec_id"), col("qv"), col("cid"), col("dist"))
      .groupBy(col("cid").cast("int").as("cid"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("dist")).as("inertia"))
      .orderBy(col("cid"))
  }

  /** The full IVF lifecycle: ANN served from the TRAINED quantizer.
    * q39 buckets by an untrained quantizer (the first k vectors); here
    * the 2-round k-means centroids from q119 partition the corpus, the
    * query routes to its [[NumProbe]] nearest trained centroids (same
    * exact integer metric as assignment, so routing and bucketing can
    * never disagree), and only those buckets are ranked by exact cosine.
    * Train-side determinism (q119) makes the SERVED result set
    * hash-verifiable too — the property that lets an index rebuild be
    * validated against a previous build at 100 TB. */
  val q120AnnIvfTrained: QueryDef = sql(
    "q120_ann_ivf_trained",
    s"""$kmeansSqlPrefix,
       |probe AS (SELECT cid FROM (
       |            SELECT cid, ROW_NUMBER() OVER (ORDER BY dist, cid) AS rn
       |            FROM d3 WHERE vec_id = $QueryVec) WHERE rn <= $NumProbe),
       |n AS (SELECT vec_id, embedding,
       |        SQRT(${dotSql("embedding", "embedding")}) AS nrm
       |      FROM embeddings),
       |qv AS (SELECT embedding AS qe, nrm AS qn FROM n WHERE vec_id = $QueryVec)
       |SELECT n.vec_id, ${dotSql("n.embedding", "qv.qe")} / (n.nrm * qv.qn) AS cosine
       |FROM n
       |JOIN a3 a ON a.vec_id = n.vec_id
       |JOIN probe p ON p.cid = a.cid, qv
       |WHERE n.vec_id != $QueryVec
       |ORDER BY cosine DESC, n.vec_id
       |LIMIT 10""".stripMargin) { (s, dir) =>
    graft.functions.CosineSimilarity.register(s)
    val e = quantizedScan(s, dir)
    // one broadcast row: the packed centroids, the query embedding, and
    // the query's top-NumProbe centroids by the same exact metric (ties
    // to the lower cid, as the assignment's argmin)
    val query = e.filter(col("vec_id") === QueryVec)
      .crossJoin(packCentroids(trainedCentroids(s, dir, k = 8, iters = 2)))
      .select(col("cs"), col("embedding").as("qe"),
        transform(slice(array_sort(transform(col("cs"), c => struct(
            graft.functions.L2Distance.l2(col("qv"), c.getField("vec")).as("d"),
            c.getField("cid").as("cid")))), 1, NumProbe),
          p => p.getField("cid")).as("probe"))
    nearestCentroid(e.filter(col("vec_id") =!= QueryVec).crossJoin(broadcast(query)))
      .filter(array_contains(col("probe"), col("cid")))
      .select(col("vec_id"), expr("cosine_sim_native(embedding, qe)").as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(10)
  }

  /** Semantic deduplication (SemDeDup, Abbas et al. 2023,
    * arXiv:2303.09540): drop documents whose embeddings near-duplicate a
    * lower-id document in the SAME k-means cluster. The trained clusters
    * (q119) are what make the quadratic tractable — pairwise cosine runs
    * only within a cluster, so pair volume is Σ|cluster|², bounded at
    * scale by growing k with the corpus (the paper's recipe), never
    * corpus². Keep-lowest-id makes the decision deterministic; cosines
    * ride the codegen'd native expression, bit-identical to the oracle's
    * fold (q45's property), so the KEPT SET itself hash-verifies.
    * Composition: q119 training → assignment → within-cluster blocked
    * pairs (q37's shape with LEARNED blocks) → anti-membership decision. */
  val q122SemanticDedup: QueryDef = sql(
    "q122_semantic_dedup",
    s"""$kmeansSqlPrefix,
       |${withNormSql()},
       |m AS (SELECT n.vec_id, a.cid, n.embedding, n.nrm
       |      FROM n JOIN a3 a USING (vec_id)),
       |pr AS (SELECT a.vec_id AS va, b.vec_id AS vb,
       |         ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cosine
       |       FROM m a JOIN m b ON a.cid = b.cid AND a.vec_id < b.vec_id),
       |dup AS (SELECT DISTINCT vb FROM pr WHERE cosine > 0.35)
       |SELECT m.vec_id, CAST(m.cid AS INT) AS cid, (d.vb IS NULL) AS kept
       |FROM m LEFT JOIN dup d ON d.vb = m.vec_id
       |ORDER BY m.vec_id""".stripMargin) { (s, dir) =>
    semanticDedup(s, dir, k = 8, iters = 2).orderBy(col("vec_id"))
  }

  /** Which twin of a near-duplicate pair survives SemDeDup. */
  sealed trait SemDedupKeep
  /** Deterministic but arbitrary: the lower vec_id wins (q122's face). */
  case object KeepLowestId extends SemDedupKeep
  /** The paper's rule (Abbas 2023 §2): keep the example CLOSEST to its
    * cluster centroid; exact integer distances make the rule total and
    * hash-able (ties fall to the lower vec_id). */
  case object KeepNearestCentroid extends SemDedupKeep

  /** q122's pipeline at arbitrary k — the contract face pins k=8/iters=2
    * for the unrolled oracle; SCALE runs grow k with the corpus (the
    * paper's recipe) so cluster size, and with it pair volume per
    * vector, stays constant: N²/k is linear in N when k ∝ N
    * (measured in SCALE.md). `keepBy` picks the survivor of each
    * near-dup pair: a vector is dropped iff a PRECEDING near-dup exists
    * in its cluster, so the cluster's first vector in precedence order
    * is always kept. */
  def semanticDedup(s: SparkSession, dir: String, k: Int, iters: Int,
                    threshold: Double = 0.35,
                    keepBy: SemDedupKeep = KeepLowestId): DataFrame = {
    graft.functions.CosineSimilarity.register(s)
    val m = assignToCentroids(quantizedScan(s, dir), trainedCentroids(s, dir, k, iters))
      .select(col("vec_id"), col("cid"), col("dist"), col("embedding"))
    val a = m.select(col("vec_id").as("va"), col("cid"),
      col("dist").as("da"), col("embedding").as("ea"))
    val b = m.select(col("vec_id").as("vb"), col("cid"),
      col("dist").as("db"), col("embedding").as("eb"))
    val precedes = keepBy match {
      case KeepLowestId => col("va") < col("vb")
      case KeepNearestCentroid =>
        col("da") < col("db") || (col("da") === col("db") && col("va") < col("vb"))
    }
    val dup = a.join(b, "cid").filter(precedes)
      .filter(expr("cosine_sim_native(ea, eb)") > threshold)
      .select(col("vb").as("vec_id")).distinct()
    m.join(dup.withColumn("hit", lit(1)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid").cast("int").as("cid"),
        col("hit").isNull.as("kept"))
  }

  /** SemDeDup with the PAPER's keep rule (closest-to-centroid survives,
    * Abbas 2023 §2) — q122's machinery with the precedence order swapped
    * to the exact integer centroid distance. The same unrolled-CTE
    * oracle proves assignment, distance, and the keep decision all
    * resolved identically in both engines. */
  val q125SemdedupCentroid: QueryDef = sql(
    "q125_semdedup_centroid",
    s"""$kmeansSqlPrefix,
       |${withNormSql()},
       |m AS (SELECT n.vec_id, a.cid, a.dist, n.embedding, n.nrm
       |      FROM n JOIN a3 a USING (vec_id)),
       |pr AS (SELECT b.vec_id AS vb,
       |         ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cosine
       |       FROM m a JOIN m b ON a.cid = b.cid
       |         AND (a.dist < b.dist OR (a.dist = b.dist AND a.vec_id < b.vec_id))),
       |dup AS (SELECT DISTINCT vb FROM pr WHERE cosine > 0.35)
       |SELECT m.vec_id, CAST(m.cid AS INT) AS cid, (d.vb IS NULL) AS kept
       |FROM m LEFT JOIN dup d ON d.vb = m.vec_id
       |ORDER BY m.vec_id""".stripMargin) { (s, dir) =>
    semanticDedup(s, dir, k = 8, iters = 2, keepBy = KeepNearestCentroid)
      .orderBy(col("vec_id"))
  }

  /** Hard-negative mining for contrastive training: for every anchor,
    * the `k` most-similar vectors carrying a DIFFERENT label — the
    * near-misses a contrastive loss learns the most from (random
    * negatives, q121's job, are mostly too easy). Exact cosine, ranked
    * per anchor with ties to the lower vec_id.
    *
    * Scale posture: the anchor set is the bounded side (a training batch
    * or a probe sample — here `vec_id % 50 = 0`) and BROADCASTS; the
    * corpus is scanned once, each row scored against all anchors
    * map-side through the codegen'd native cosine. Per-anchor top-k is
    * a window partitioned by anchor — Spark's WindowGroupLimit pushes
    * the rank filter below the shuffle, so only ~k·|anchors| rows
    * survive the exchange, never the scored corpus. At 100 TB the same
    * shape runs behind the trained IVF router (q120): probe the
    * anchor's nearest buckets instead of the full scan — the mining
    * semantics and this oracle stay identical. */
  def hardNegatives(emb: DataFrame, anchorPred: Column, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.CosineSimilarity.register(emb.sparkSession)
    val anchors = emb.filter(anchorPred)
      .select(col("vec_id").as("anchor_id"), col("label").as("alabel"),
        col("embedding").as("ae"))
    val scored = emb.select(col("vec_id"), col("label"), col("embedding"))
      .crossJoin(broadcast(anchors))
      .filter(col("label") =!= col("alabel"))
      .withColumn("cosine", expr("cosine_sim_native(embedding, ae)"))
    scored
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("anchor_id"))
          .orderBy(col("cosine").desc, col("vec_id"))))
      .filter(col("rnk") <= k)
      .select(col("anchor_id"), col("vec_id"), col("rnk"), col("cosine"))
  }

  /** Contract face of [[hardNegatives]]: every 50th vector anchors, top-5
    * different-label neighbors each. */
  val q131HardNegatives: QueryDef = sql(
    "q131_hard_negatives",
    s"""WITH ${withNormSql()},
       |anch AS (SELECT vec_id AS anchor_id, label AS alabel, embedding AS ae, nrm AS an
       |         FROM n WHERE vec_id % 50 = 0),
       |scored AS (SELECT a.anchor_id, n.vec_id,
       |             ${dotSql("n.embedding", "a.ae")} / (n.nrm * a.an) AS cosine
       |           FROM n JOIN anch a ON n.label <> a.alabel),
       |ranked AS (SELECT anchor_id, vec_id, cosine,
       |             CAST(ROW_NUMBER() OVER (PARTITION BY anchor_id
       |               ORDER BY cosine DESC, vec_id) AS INT) AS rnk
       |           FROM scored)
       |SELECT anchor_id, vec_id, rnk, cosine
       |FROM ranked WHERE rnk <= 5
       |ORDER BY anchor_id, rnk""".stripMargin) { (s, dir) =>
    hardNegatives(Tables.embeddings(s, dir), col("vec_id") % 50 === 0, 5)
      .orderBy(col("anchor_id"), col("rnk"))
  }

  /** Hard-negative mining routed through the TRAINED IVF index — the
    * 100 TB face of q131, answering the smoke's finding that the
    * brute-force contract face is quadratic when anchors grow with the
    * corpus: each anchor probes its [[NumProbe]] nearest trained
    * centroids (q120's routing, same exact integer metric as bucket
    * assignment) and ranks ONLY those buckets' different-label members.
    * Scored pairs per anchor drop from N to N·(probe/k) with the recall
    * trade every IVF serve makes; train-side determinism (q119) keeps
    * the SERVED negative set hash-verifiable end-to-end.
    *
    * Plan shape: the probe relation is anchors×NumProbe rows
    * (broadcast); candidate generation is one equi-join of the bucketed
    * corpus against it on cid; per-anchor top-k is the same
    * WindowGroupLimit-pushed window as q131. */
  val q135HardNegativesIvf: QueryDef = sql(
    "q135_hard_negatives_ivf",
    s"""$kmeansSqlPrefix,
       |${withNormSql()},
       |anch AS (SELECT vec_id AS anchor_id, label AS alabel, embedding AS ae, nrm AS an
       |         FROM n WHERE vec_id % 50 = 0),
       |probe AS (SELECT anchor_id, cid FROM (
       |         SELECT a.anchor_id, d.cid,
       |           ROW_NUMBER() OVER (PARTITION BY a.anchor_id ORDER BY d.dist, d.cid) AS rn
       |         FROM anch a JOIN d3 d ON d.vec_id = a.anchor_id) WHERE rn <= $NumProbe),
       |cand AS (SELECT p.anchor_id, m.vec_id FROM probe p JOIN a3 m ON m.cid = p.cid),
       |scored AS (SELECT c.anchor_id, c.vec_id,
       |         ${dotSql("n.embedding", "a.ae")} / (n.nrm * a.an) AS cosine
       |       FROM cand c
       |       JOIN n ON n.vec_id = c.vec_id
       |       JOIN anch a ON a.anchor_id = c.anchor_id
       |       WHERE n.label <> a.alabel AND c.vec_id <> c.anchor_id),
       |ranked AS (SELECT anchor_id, vec_id, cosine,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY anchor_id
       |           ORDER BY cosine DESC, vec_id) AS INT) AS rnk
       |       FROM scored)
       |SELECT anchor_id, vec_id, rnk, cosine
       |FROM ranked WHERE rnk <= 5
       |ORDER BY anchor_id, rnk""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    graft.functions.CosineSimilarity.register(s)
    val e = quantizedScan(s, dir)
    val centsF = trainedCentroids(s, dir, k = 8, iters = 2)
    val anchorRows = e.filter(col("vec_id") % 50 === 0)
    val anchors = anchorRows
      .select(col("vec_id").as("anchor_id"), col("label").as("alabel"),
        col("embedding").as("ae"))
    // per-anchor probe: exact distances to the trained centroids, top
    // NumProbe — anchors are the bounded side, so this whole relation
    // (anchors × NumProbe rows) broadcasts
    val probe = centroidDistances(anchorRows, centsF)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("cdist"), col("cid"))))
      .filter(col("rn") <= NumProbe)
      .select(col("vec_id").as("anchor_id"), col("cid"))
    assignToCentroids(e, centsF)
      .select(col("vec_id"), col("label"), col("embedding"), col("cid"))
      .join(broadcast(probe), "cid")
      .join(broadcast(anchors), Seq("anchor_id"))
      .filter(col("label") =!= col("alabel") && col("vec_id") =!= col("anchor_id"))
      .withColumn("cosine", expr("cosine_sim_native(embedding, ae)"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("anchor_id"))
          .orderBy(col("cosine").desc, col("vec_id"))))
      .filter(col("rnk") <= 5)
      .select(col("anchor_id"), col("vec_id"), col("rnk"), col("cosine"))
      .orderBy(col("anchor_id"), col("rnk"))
  }

  // ---- Product quantization (Jégou et al. 2011, "Product Quantization
  // for Nearest Neighbor Search", IEEE TPAMI 33(1)) ----

  private val PqM = 4        // subspaces
  private val PqSubDim = 16  // dims per subspace (fixture dim 64 / PqM)
  private val PqK = 4        // codes per subspace codebook
  private val PqIters = 2

  /** Split quantized vectors into per-subspace slices:
    * (vec_id, m, sv array<bigint>) — per-row array work, no shuffle. */
  private def pqSub(v: DataFrame): DataFrame =
    v.select(col("vec_id"), explode(expr(
        s"transform(sequence(0, ${PqM - 1}), m -> struct(m AS m, slice(qv, m * $PqSubDim + 1, $PqSubDim) AS sv))")).as("x"))
      .select(col("vec_id"), col("x.m").as("m"), col("x.sv").as("sv"))

  /** Nearest-code assignment per (vector, subspace) against an
    * (m, cid, vec) codebook relation — [[assignToCentroids]]'s broadcast
    * long-array argmin, GROUPED by subspace: the packed per-m codebooks
    * are M rows, broadcast-joined on m, so all M subspaces encode in one
    * scan of the sub-vector frame. */
  private def pqAssign(sub: DataFrame, books: DataFrame): DataFrame =
    sub.join(broadcast(books.groupBy(col("m"))
        .agg(array_sort(collect_list(struct(col("cid"), col("vec")))).as("cs"))), Seq("m"))
      .withColumn("dists", transform(col("cs"), c =>
        graft.functions.L2Distance.l2(col("sv"), c.getField("vec"))))
      .withColumn("dist", array_min(col("dists")))
      .withColumn("cid", element_at(
        col("cs"), array_position(col("dists"), col("dist")).cast("int")).getField("cid"))
      .drop("cs", "dists")

  /** Train all M sub-codebooks SIMULTANEOUSLY — one Lloyd loop whose
    * assignment scan and (m, cid, pos)-keyed update aggregate carry the
    * subspace as a key, instead of M sequential trainings: M× fewer
    * jobs per round, identical per-subspace math (same init — the k
    * lowest vec_ids' slices — same floor-mean, same tie-breaks as
    * [[kmeansCentroidFrame]]). Returns (m, cid, vec). */
  def pqTrainCodebooks(v: DataFrame, k: Int = PqK, iters: Int = PqIters): DataFrame = {
    val sub = pqSub(v).cachedStageBoundary
    def update(assigned: DataFrame): DataFrame =
      assigned.select(col("m"), col("cid"), posexplode(col("sv")).as(Seq("pos", "sv_v")))
        .groupBy(col("m"), col("cid"), col("pos"))
        .agg(expr("CAST(FLOOR(CAST(SUM(sv_v) AS DOUBLE) / COUNT(*)) AS BIGINT)").as("cv"))
        .groupBy(col("m"), col("cid"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, cv))), s -> s.cv)").as("vec"))
    var books = sub.filter(col("vec_id") < k)
      .select(col("m"), col("vec_id").as("cid"), col("sv").as("vec"))
      .stageBoundary
    for (_ <- 1 to iters)
      books = update(pqAssign(sub, books)).stageBoundary
    sub.unpersist()
    books
  }

  /** PQ-compressed ANN, the memory face of a 100 TB vector index: every
    * vector compresses to M sub-codebook codes (64 ints → 4 codes here;
    * the 16-byte-per-vector regime of the paper), and query search is
    * ASYMMETRIC DISTANCE (ADC) — the query precomputes a k×M lookup
    * table of exact sub-distances to every code, and scoring a vector is
    * M table lookups + adds, never a d-dim loop. Exact integer
    * arithmetic end-to-end, so codebooks, code assignments, the LUT,
    * and the final ranking all hash-verify against the unrolled oracle.
    *
    * Scale posture: codebooks are M·k rows (broadcast); encoding is one
    * scan (the encoded corpus is what a production index STORES — 4
    * bytes versus 512 here); the LUT is M·k rows (broadcast); scoring
    * is a broadcast join + doc-keyed sum, and top-k is TakeOrdered.
    * Recall-vs-exact is the documented PQ trade; what this query pins
    * is that compression and search are deterministic and
    * cross-engine-exact. */
  val q133PqAdc: QueryDef = {
    def roundSql(r: Int): String = {
      val prev = if (r == 1) "sc0" else s"sc${r - 1}"
      s"""sd$r AS (SELECT s.vec_id, s.m, c.cid, SUM((s.v - c.v) * (s.v - c.v)) AS dist
         |       FROM sub s JOIN $prev c ON c.m = s.m AND c.sdim = s.sdim
         |       GROUP BY 1, 2, 3),
         |sa$r AS (SELECT vec_id, m, cid FROM (
         |         SELECT vec_id, m, cid, ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dist, cid) AS rn
         |         FROM sd$r) WHERE rn = 1),
         |sc$r AS (SELECT s.m, a.cid, s.sdim,
         |         CAST(FLOOR(CAST(SUM(s.v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS v
         |       FROM sub s JOIN sa$r a ON a.vec_id = s.vec_id AND a.m = s.m
         |       GROUP BY 1, 2, 3)""".stripMargin
    }
    sql(
      "q133_pq_adc",
      s"""WITH q AS (
         |  SELECT vec_id, dim,
         |    CAST(FLOOR(CAST(embedding[dim] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS v
         |  FROM embeddings,
         |       LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS dim)),
         |sub AS (SELECT vec_id, CAST((dim - 1) // $PqSubDim AS BIGINT) AS m,
         |          (dim - 1) % $PqSubDim + 1 AS sdim, v FROM q),
         |sc0 AS (SELECT m, vec_id AS cid, sdim, v FROM sub WHERE vec_id < $PqK),
         |${roundSql(1)},
         |${roundSql(2)},
         |enc AS (SELECT vec_id, m, cid FROM (
         |         SELECT s.vec_id, s.m, c.cid,
         |           ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m ORDER BY SUM((s.v - c.v) * (s.v - c.v)), c.cid) AS rn
         |         FROM sub s JOIN sc2 c ON c.m = s.m AND c.sdim = s.sdim
         |         GROUP BY s.vec_id, s.m, c.cid) WHERE rn = 1),
         |lut AS (SELECT c.m, c.cid, SUM((s.v - c.v) * (s.v - c.v)) AS ldist
         |       FROM (SELECT m, sdim, v FROM sub WHERE vec_id = $QueryVec) s
         |       JOIN sc2 c ON c.m = s.m AND c.sdim = s.sdim
         |       GROUP BY 1, 2),
         |adc AS (SELECT e.vec_id,
         |         CAST(SUM(l.ldist) AS BIGINT) AS adc_dist,
         |         array_to_string(list(e.cid ORDER BY e.m), ' ') AS codes
         |       FROM enc e JOIN lut l ON l.m = e.m AND l.cid = e.cid
         |       GROUP BY 1)
         |SELECT vec_id, codes, adc_dist
         |FROM adc WHERE vec_id != $QueryVec
         |ORDER BY adc_dist, vec_id
         |LIMIT 10""".stripMargin) { (s, dir) =>
      val v = quantizedLong(s, dir)
      val books = pqTrainCodebooks(v)
      val sub = pqSub(v).cachedStageBoundary
      val enc = pqAssign(sub, books).select(col("vec_id"), col("m"), col("cid"))
      val lut = sub.filter(col("vec_id") === QueryVec)
        .select(col("m"), col("sv"))
        .join(broadcast(books), Seq("m"))
        .withColumn("ldist", graft.functions.L2Distance.l2(col("sv"), col("vec")))
        .select(col("m"), col("cid"), col("ldist"))
      enc.join(broadcast(lut), Seq("m", "cid"))
        .groupBy(col("vec_id"))
        .agg(sum(col("ldist")).as("adc_dist"),
          expr("array_join(transform(array_sort(collect_list(struct(m, cid))), x -> CAST(x.cid AS STRING)), ' ')").as("codes"))
        .filter(col("vec_id") =!= QueryVec)
        .select(col("vec_id"), col("codes"), col("adc_dist"))
        .orderBy(col("adc_dist"), col("vec_id"))
        .limit(10)
    }
  }

  /** Two-stage PQ search — the universal compressed-index serving shape
    * (Jégou TPAMI'11 §VII: ADC is a RECALL stage, not a ranking): the
    * q133 asymmetric-distance pass over the compressed codes keeps a
    * 50-candidate pool (M lookups + adds per corpus vector, never a
    * d-dim loop), then ONLY those candidates re-rank by exact full-
    * precision cosine — so compression decides what gets scored, never
    * the final order, and the quantization error the spec measures on
    * ADC alone is corrected where it matters. Codebooks, codes, LUT and
    * the pool are exact integers; the rerank rides the codegen'd float
    * cosine — the whole two-stage result hash-verifies. At 100 TB the
    * rescore touches 50 full vectors per query instead of N. */
  val q171PqRerank: QueryDef = {
    def roundSql(r: Int): String = {
      val prev = if (r == 1) "sc0" else s"sc${r - 1}"
      s"""sd$r AS (SELECT s.vec_id, s.m, c.cid, SUM((s.v - c.v) * (s.v - c.v)) AS dist
         |       FROM sub s JOIN $prev c ON c.m = s.m AND c.sdim = s.sdim
         |       GROUP BY 1, 2, 3),
         |sa$r AS (SELECT vec_id, m, cid FROM (
         |         SELECT vec_id, m, cid, ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dist, cid) AS rn
         |         FROM sd$r) WHERE rn = 1),
         |sc$r AS (SELECT s.m, a.cid, s.sdim,
         |         CAST(FLOOR(CAST(SUM(s.v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS v
         |       FROM sub s JOIN sa$r a ON a.vec_id = s.vec_id AND a.m = s.m
         |       GROUP BY 1, 2, 3)""".stripMargin
    }
    sql(
      "q171_pq_rerank",
      s"""WITH q AS (
         |  SELECT vec_id, dim,
         |    CAST(FLOOR(CAST(embedding[dim] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS v
         |  FROM embeddings,
         |       LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS dim)),
         |sub AS (SELECT vec_id, CAST((dim - 1) // $PqSubDim AS BIGINT) AS m,
         |          (dim - 1) % $PqSubDim + 1 AS sdim, v FROM q),
         |sc0 AS (SELECT m, vec_id AS cid, sdim, v FROM sub WHERE vec_id < $PqK),
         |${roundSql(1)},
         |${roundSql(2)},
         |enc AS (SELECT vec_id, m, cid FROM (
         |         SELECT s.vec_id, s.m, c.cid,
         |           ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m ORDER BY SUM((s.v - c.v) * (s.v - c.v)), c.cid) AS rn
         |         FROM sub s JOIN sc2 c ON c.m = s.m AND c.sdim = s.sdim
         |         GROUP BY s.vec_id, s.m, c.cid) WHERE rn = 1),
         |lut AS (SELECT c.m, c.cid, SUM((s.v - c.v) * (s.v - c.v)) AS ldist
         |       FROM (SELECT m, sdim, v FROM sub WHERE vec_id = $QueryVec) s
         |       JOIN sc2 c ON c.m = s.m AND c.sdim = s.sdim
         |       GROUP BY 1, 2),
         |adc AS (SELECT e.vec_id, CAST(SUM(l.ldist) AS BIGINT) AS adc_dist
         |       FROM enc e JOIN lut l ON l.m = e.m AND l.cid = e.cid
         |       GROUP BY 1),
         |cand AS (SELECT vec_id, adc_dist FROM adc WHERE vec_id != $QueryVec
         |         ORDER BY adc_dist, vec_id LIMIT 50),
         |${withNormSql()},
         |qv2 AS (SELECT embedding AS qe, nrm AS qn FROM n WHERE vec_id = $QueryVec)
         |SELECT n.vec_id, c.adc_dist,
         |  ${dotSql("n.embedding", "qv2.qe")} / (n.nrm * qv2.qn) AS cosine
         |FROM n JOIN cand c ON c.vec_id = n.vec_id, qv2
         |ORDER BY cosine DESC, n.vec_id
         |LIMIT 10""".stripMargin) { (s, dir) =>
      graft.functions.CosineSimilarity.register(s)
      val v = quantizedLong(s, dir)
      val books = pqTrainCodebooks(v)
      val sub = pqSub(v).cachedStageBoundary
      val enc = pqAssign(sub, books).select(col("vec_id"), col("m"), col("cid"))
      val lut = sub.filter(col("vec_id") === QueryVec)
        .select(col("m"), col("sv"))
        .join(broadcast(books), Seq("m"))
        .withColumn("ldist", graft.functions.L2Distance.l2(col("sv"), col("vec")))
        .select(col("m"), col("cid"), col("ldist"))
      val cand = enc.join(broadcast(lut), Seq("m", "cid"))
        .groupBy(col("vec_id"))
        .agg(sum(col("ldist")).as("adc_dist"))
        .filter(col("vec_id") =!= QueryVec)
        .orderBy(col("adc_dist"), col("vec_id"))
        .limit(50)
      val n = Tables.embeddings(s, dir)
      val qe = n.filter(col("vec_id") === QueryVec).select(col("embedding").as("qe"))
      n.join(broadcast(cand), "vec_id")
        .crossJoin(broadcast(qe))
        .select(col("vec_id"), col("adc_dist"),
          expr("cosine_sim_native(embedding, qe)").as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id"))
        .limit(10)
    }
  }

  /** Distributed Gram matrix Σ x·xᵀ over the quantized embeddings — the
    * second-moment primitive every embedding-index preprocessing step
    * starts from (PCA whitening, OPQ's learned rotation — Ge et al.,
    * CVPR'13): d(d+1)/2 exact integer sums computed in ONE corpus scan.
    *
    * Scale posture: the d² products explode MAP-SIDE and the
    * (i, j)-keyed hash aggregate partial-combines, so each partition
    * contributes at most d(d+1)/2 rows to the shuffle no matter how
    * many vectors it held — the accumulator shape, not the corpus
    * shape (the oracle states the same relation as a dim self-join;
    * the Spark plan never joins). Exact integers hash; at 10⁹+ vectors
    * the BIGINT accumulators approach overflow and the production
    * variant blocks the sum (per-shard Gram + decimal merge) — the
    * fixture bound is ~2⁵⁷. */
  val q138GramMatrix: QueryDef = sql(
    "q138_gram_matrix",
    """WITH q AS (
      |  SELECT vec_id, dim,
      |    CAST(FLOOR(CAST(embedding[dim] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS v
      |  FROM embeddings,
      |       LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS dim))
      |SELECT CAST(a.dim - 1 AS INT) AS i, CAST(b.dim - 1 AS INT) AS j,
      |  CAST(SUM(a.v * b.v) AS BIGINT) AS gram, COUNT(*) AS n_vecs
      |FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.dim <= b.dim
      |GROUP BY 1, 2
      |ORDER BY i, j""".stripMargin) { (s, dir) =>
    quantizedLong(s, dir)
      .select(col("qv"), posexplode(col("qv")).as(Seq("i", "vi")))
      .select(col("i"), col("vi"), posexplode(col("qv")).as(Seq("j", "vj")))
      .filter(col("i") <= col("j"))
      .groupBy(col("i"), col("j"))
      .agg(sum(col("vi") * col("vj")).as("gram"), count(lit(1)).as("n_vecs"))
      .orderBy(col("i"), col("j"))
  }

  /** Top-principal-component projection via fixed-point power iteration
    * on the q138 Gram matrix — the PCA step of embedding-index
    * preprocessing (whitening / dimensionality reduction before IVF-PQ;
    * Jégou et al. TPAMI'11 precede quantization with exactly this
    * second-moment eigenanalysis). The iteration runs entirely in
    * integer micro-units: the Gram is rescaled by a fixed 10⁹ floor,
    * each round is one integer matrix-vector product followed by an
    * integer renormalization floor(u·10⁶/max|u|), and the corpus
    * projection is an integer dot — so the whole eigen-TRAJECTORY
    * hash-verifies cross-engine (the q119/q143 device; float power
    * iteration would diverge under reordered sums). Sign and rounds
    * are pinned by the deterministic all-ones start.
    *
    * Scale posture (100 TB): the ONLY corpus-scale work is the Gram
    * build (q138's accumulator-shaped shuffle — ≤ d(d+1)/2 rows per
    * partition) and the final projection scan (broadcast d-vector, one
    * map-side fold). The iteration itself is d²-sized — executor-local
    * no matter the corpus. Rounds are a fixed constant (geometric
    * convergence; production runs ~30 with deflation for more
    * components). */
  def pcaPowerProjection(emb: DataFrame, rounds: Int): DataFrame = {
    val qv = emb.select(col("vec_id"), expr(
      "transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0D + 0.5D) AS BIGINT))").as("qv"))
    val q = qv.select(col("vec_id"), posexplode(col("qv")).as(Seq("dim", "v")))
    val upper = qv.select(col("qv"), posexplode(col("qv")).as(Seq("i", "vi")))
      .select(col("i"), col("vi"), posexplode(col("qv")).as(Seq("j", "vj")))
      .filter(col("i") <= col("j"))
      .groupBy(col("i"), col("j")).agg(sum(col("vi") * col("vj")).as("gram"))
    val full = upper.unionByName(upper.filter(col("i") =!= col("j"))
      .select(col("j").as("i"), col("i").as("j"), col("gram")))
    val g = full.select(col("i"), col("j"),
        expr("CAST(FLOOR(CAST(gram AS DOUBLE) / 1000000000.0D) AS BIGINT)").as("g"))
      .cachedStageBoundary
    var vec = g.select(col("i").as("dim")).distinct()
      .withColumn("w", lit(1000000L))
    for (_ <- 1 to rounds) {
      val u = g.join(vec, vec("dim") === g("j"))
        .groupBy(col("i")).agg(sum(col("g") * col("w")).as("u"))
      val s = u.agg(max(abs(col("u"))).as("s"))
      vec = u.crossJoin(broadcast(s)).select(col("i").as("dim"),
        expr("CAST(FLOOR(CAST(u AS DOUBLE) * 1000000.0D / s) AS BIGINT)").as("w"))
    }
    q.join(broadcast(vec), vec("dim") === q("dim"))
      .groupBy(col("vec_id")).agg(sum(col("v") * col("w")).as("proj"))
  }

  /** One unrolled power-iteration oracle round k over CTEs g/v{k-1}. */
  private def powerRoundSql(k: Int): String = {
    val prev = s"v${k - 1}"
    s"""u$k AS (SELECT g.i AS dim, CAST(SUM(g.g * v.w) AS BIGINT) AS u
       |  FROM g JOIN $prev v ON v.dim = g.j GROUP BY 1),
       |s$k AS (SELECT MAX(ABS(u)) AS s FROM u$k),
       |v$k AS (SELECT dim, CAST(FLOOR(CAST(u AS DOUBLE) * 1000000.0 / s) AS BIGINT) AS w
       |  FROM u$k, s$k)""".stripMargin
  }

  /** Contract face of [[pcaPowerProjection]]: 2 power rounds, every
    * vector's projection onto the dominant component. */
  val q146PcaPower: QueryDef = sql(
    "q146_pca_power",
    s"""WITH q AS (
       |  SELECT vec_id, dim,
       |    CAST(FLOOR(CAST(embedding[dim] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS v
       |  FROM embeddings,
       |       LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS dim)),
       |gu AS (SELECT a.dim - 1 AS i, b.dim - 1 AS j, CAST(SUM(a.v * b.v) AS BIGINT) AS gram
       |       FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.dim <= b.dim
       |       GROUP BY 1, 2),
       |gf AS (SELECT i, j, gram FROM gu
       |       UNION ALL SELECT j AS i, i AS j, gram FROM gu WHERE i <> j),
       |g AS (SELECT i, j, CAST(FLOOR(CAST(gram AS DOUBLE) / 1000000000.0) AS BIGINT) AS g
       |      FROM gf),
       |v0 AS (SELECT DISTINCT i AS dim, CAST(1000000 AS BIGINT) AS w FROM g),
       |${powerRoundSql(1)},
       |${powerRoundSql(2)}
       |SELECT q.vec_id, CAST(SUM(q.v * v.w) AS BIGINT) AS proj
       |FROM q JOIN v2 v ON v.dim = q.dim - 1
       |GROUP BY 1
       |ORDER BY vec_id""".stripMargin) { (s, dir) =>
    pcaPowerProjection(Tables.embeddings(s, dir), rounds = 2)
      .orderBy(col("vec_id"))
  }

  /** MMR diversity re-ranking (Carbonell & Goldstein, SIGIR'98) — the
    * serving-side redundancy control of a retrieval stack: from a
    * relevance-ranked candidate pool, greedily select items maximizing
    * λ·relevance − (1−λ)·max-similarity-to-already-selected, so the
    * returned k are relevant AND mutually diverse (near-duplicate
    * passages collapse to one slot). λ = 2/3 in integer form:
    * score = 2·rel − maxsim, with rel and sim both exact integer dot
    * products over the quantized domain — every greedy pick, and
    * therefore the whole selection TRAJECTORY, hash-verifies
    * cross-engine (ties: score desc, vec_id asc).
    *
    * Scale posture: the pool is top-`poolSize` by relevance (a
    * TakeOrdered over one broadcast-query scan — the only corpus-scale
    * work); everything after is pool²-sized. The greedy loop's
    * per-round argmax is the bounded ONE-row driver collect of the
    * q132 bestPair class — k rounds, k rows total. */
  def mmrRerank(emb: DataFrame, queryId: Long, poolSize: Int, k: Int): DataFrame = {
    val qv = emb.select(col("vec_id"), expr(
      "transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0D + 0.5D) AS BIGINT))").as("qv"))
    val qrow = qv.filter(col("vec_id") === queryId).select(col("qv").as("tq"))
    val rel = qv.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(qrow))
      .withColumn("rel", relDot("qv", "tq"))
      .select(col("vec_id"), col("rel"))
    mmrGreedy(qv, rel.orderBy(col("rel").desc, col("vec_id")).limit(poolSize), k)
  }

  /** Exact integer dot of two quantized array columns. */
  private def relDot(a: String, b: String): Column = aggregate(
    zip_with(col(a), col(b), (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  /** The greedy MMR selection loop over a SUPPLIED candidate pool
    * (vec_id, rel): each round picks argmax(2·rel − max-sim-to-selected),
    * ties to the lower vec_id — pool²-sized after the pool is fixed, so
    * any recall stage (rel-top-k in q147, RRF fusion in q166) can front
    * it. Returns (rank, vec_id, rel, score). */
  def mmrGreedy(qv: DataFrame, cand0: DataFrame, k: Int): DataFrame = {
    val s = qv.sparkSession
    import s.implicits._
    def idot(a: String, b: String) = relDot(a, b)
    val cand = cand0.cachedStageBoundary
    val candV = cand.join(qv, "vec_id")
    val sim = candV.select(col("vec_id").as("i"), col("qv").as("vi"))
      .crossJoin(broadcast(candV.select(col("vec_id").as("j"), col("qv").as("vj"))))
      .filter(col("i") =!= col("j"))
      .withColumn("s", idot("vi", "vj"))
      .select(col("i"), col("j"), col("s")).cachedStageBoundary
    val first = cand.orderBy(col("rel").desc, col("vec_id")).limit(1).collect()(0)
    var picks = Vector((1, first.getLong(0), first.getLong(1), 2L * first.getLong(1)))
    for (r <- 2 to k) {
      val selIds = picks.map(_._2)
      val pick = cand
        .filter(!col("vec_id").isin(selIds: _*))
        .join(sim.filter(col("j").isin(selIds: _*)), col("vec_id") === col("i"))
        .groupBy(col("vec_id"), col("rel")).agg(max(col("s")).as("ms"))
        .withColumn("score", lit(2L) * col("rel") - col("ms"))
        .orderBy(col("score").desc, col("vec_id")).limit(1)
        .collect()(0)
      picks :+= ((r, pick.getLong(0), pick.getLong(1), pick.getLong(3)))
    }
    cand.unpersist(); sim.unpersist()
    picks.toDF("rank", "vec_id", "rel", "score")
  }

  /** One unrolled greedy-MMR oracle round r over CTEs cand/sim/sel{r-1}. */
  private def mmrRoundSql(r: Int): String = {
    val prev = s"sel${r - 1}"
    s"""m$r AS (SELECT c.vec_id, c.rel, MAX(s.s) AS ms
       |  FROM cand c JOIN sim s ON s.i = c.vec_id JOIN $prev t ON s.j = t.vec_id
       |  WHERE c.vec_id NOT IN (SELECT vec_id FROM $prev)
       |  GROUP BY 1, 2),
       |p$r AS (SELECT $r AS rank, vec_id, rel, 2 * rel - ms AS score
       |  FROM m$r ORDER BY score DESC, vec_id LIMIT 1),
       |sel$r AS (SELECT * FROM $prev UNION ALL SELECT * FROM p$r)""".stripMargin
  }

  /** Contract face of [[mmrRerank]]: query vec 0, pool 20, k = 5. */
  val q147MmrRerank: QueryDef = sql(
    "q147_mmr_rerank",
    s"""WITH q AS (
       |  SELECT vec_id, dim,
       |    CAST(FLOOR(CAST(embedding[dim] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS v
       |  FROM embeddings,
       |       LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS dim)),
       |rel AS (SELECT r.vec_id, CAST(SUM(r.v * s.v) AS BIGINT) AS rel
       |        FROM q r JOIN q s ON s.dim = r.dim AND s.vec_id = $QueryVec
       |        WHERE r.vec_id <> $QueryVec GROUP BY 1),
       |cand AS (SELECT vec_id, rel FROM rel ORDER BY rel DESC, vec_id LIMIT 20),
       |sim AS (SELECT qa.vec_id AS i, qb.vec_id AS j, CAST(SUM(qa.v * qb.v) AS BIGINT) AS s
       |        FROM q qa JOIN q qb ON qb.dim = qa.dim AND qb.vec_id <> qa.vec_id
       |        JOIN cand ca ON ca.vec_id = qa.vec_id
       |        JOIN cand cb ON cb.vec_id = qb.vec_id
       |        GROUP BY 1, 2),
       |sel1 AS (SELECT 1 AS rank, vec_id, rel, 2 * rel AS score
       |         FROM cand ORDER BY rel DESC, vec_id LIMIT 1),
       |${mmrRoundSql(2)},
       |${mmrRoundSql(3)},
       |${mmrRoundSql(4)},
       |${mmrRoundSql(5)}
       |SELECT rank, vec_id, rel, score FROM sel5
       |ORDER BY rank""".stripMargin) { (s, dir) =>
    mmrRerank(Tables.embeddings(s, dir), QueryVec, poolSize = 20, k = 5)
      .orderBy(col("rank"))
  }

  /** k-NN label prediction over the quantized embeddings — the
    * classifier face of the similarity stack (weak labeling /
    * label-propagation-by-neighbors for curation: predict a held-out
    * vector's label from its k nearest training vectors). Distances are
    * the exact integer squared L2 of the q119 quantized domain, so
    * neighbor sets, vote counts, and the majority verdict all
    * hash-verify cross-engine; ties break (votes desc, label asc) and
    * neighbor ties (dist asc, vec_id asc) — fully deterministic.
    *
    * Scale posture: the contract face broadcasts the query batch and
    * brute-force-scores it (exact — the recall baseline, like q38);
    * at corpus-scale query sets the serve path routes through the
    * trained IVF exactly as q135 does for mining (same metric, same
    * bucketed candidate generation), so scored pairs drop from N to
    * N·probe/k per query. Per-query top-k is a WindowGroupLimit-pushed
    * window, never a global sort. */
  def knnClassify(emb: DataFrame, testPred: Column, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = emb.select(col("vec_id"), col("label"), expr(
      "transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0D + 0.5D) AS BIGINT))").as("qv"))
    val test = q.filter(testPred).select(
      col("vec_id").as("test_id"), col("label").as("true_label"), col("qv").as("tq"))
    val nn = q.filter(!testPred)
      .crossJoin(broadcast(test))
      .withColumn("dist", graft.functions.L2Distance.l2(col("qv"), col("tq")))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("test_id")).orderBy(col("dist"), col("vec_id"))))
      .filter(col("rnk") <= k)
    nn.groupBy(col("test_id"), col("true_label"), col("label"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("vr", row_number().over(
        Window.partitionBy(col("test_id")).orderBy(col("votes").desc, col("label"))))
      .filter(col("vr") === 1)
      .select(col("test_id"), col("true_label"), col("label").as("pred_label"),
        col("votes"), (col("label") === col("true_label")).as("correct"))
  }

  /** Contract face of [[knnClassify]]: every 10th vector held out, k=5
    * majority vote over the rest. */
  val q140KnnClassify: QueryDef = sql(
    "q140_knn_classify",
    """WITH q AS (
      |  SELECT vec_id, label, dim,
      |    CAST(FLOOR(CAST(embedding[dim] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS v
      |  FROM embeddings,
      |       LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS dim)),
      |d AS (SELECT t.vec_id AS test_id, t.label AS true_label,
      |        r.vec_id, r.label, SUM((r.v - t.v) * (r.v - t.v)) AS dist
      |      FROM q t JOIN q r ON r.dim = t.dim
      |      WHERE t.vec_id % 10 = 0 AND r.vec_id % 10 <> 0
      |      GROUP BY 1, 2, 3, 4),
      |nn AS (SELECT test_id, true_label, label,
      |         ROW_NUMBER() OVER (PARTITION BY test_id ORDER BY dist, vec_id) AS rnk
      |       FROM d),
      |v AS (SELECT test_id, true_label, label, COUNT(*) AS votes
      |      FROM nn WHERE rnk <= 5 GROUP BY 1, 2, 3),
      |w AS (SELECT test_id, true_label, label, votes,
      |        ROW_NUMBER() OVER (PARTITION BY test_id ORDER BY votes DESC, label) AS vr
      |      FROM v)
      |SELECT test_id, true_label, label AS pred_label, votes,
      |  label = true_label AS correct
      |FROM w WHERE vr = 1
      |ORDER BY test_id""".stripMargin) { (s, dir) =>
    knnClassify(Tables.embeddings(s, dir), col("vec_id") % 10 === 0, 5)
      .orderBy(col("test_id"))
  }

  /** The 100 TB face of q140, mirroring how q135 answers q131: classify
    * each held-out vector by voting ONLY among training vectors in its
    * [[NumProbe]] nearest trained-IVF buckets (q120's routing, identical
    * exact integer metric), so scored pairs per query drop from N to
    * N·(probe/k) with the standard IVF recall trade. q119's train
    * determinism keeps the SERVED verdicts hash-verifiable end-to-end —
    * routing, candidate sets, distances, votes, and ties all integer. */
  val q152KnnClassifyIvf: QueryDef = sql(
    "q152_knn_classify_ivf",
    s"""$kmeansSqlPrefix,
       |t AS (SELECT vec_id AS test_id, label AS true_label FROM embeddings
       |      WHERE vec_id % 10 = 0),
       |probe AS (SELECT test_id, cid FROM (
       |    SELECT t.test_id, d.cid,
       |      ROW_NUMBER() OVER (PARTITION BY t.test_id ORDER BY d.dist, d.cid) AS rn
       |    FROM t JOIN d3 d ON d.vec_id = t.test_id) WHERE rn <= $NumProbe),
       |cand AS (SELECT p.test_id, m.vec_id FROM probe p JOIN a3 m ON m.cid = p.cid
       |         WHERE m.vec_id % 10 <> 0),
       |dst AS (SELECT c.test_id, c.vec_id, SUM((r.v - s.v) * (r.v - s.v)) AS dist
       |        FROM cand c JOIN q r ON r.vec_id = c.vec_id
       |        JOIN q s ON s.vec_id = c.test_id AND s.dim = r.dim
       |        GROUP BY 1, 2),
       |nn AS (SELECT d.test_id, t.true_label, e.label,
       |         ROW_NUMBER() OVER (PARTITION BY d.test_id ORDER BY d.dist, d.vec_id) AS rnk
       |       FROM dst d JOIN embeddings e ON e.vec_id = d.vec_id
       |       JOIN t ON t.test_id = d.test_id),
       |v AS (SELECT test_id, true_label, label, COUNT(*) AS votes
       |      FROM nn WHERE rnk <= 5 GROUP BY 1, 2, 3),
       |w AS (SELECT test_id, true_label, label, votes,
       |        ROW_NUMBER() OVER (PARTITION BY test_id ORDER BY votes DESC, label) AS vr
       |      FROM v)
       |SELECT test_id, true_label, label AS pred_label, votes,
       |  label = true_label AS correct
       |FROM w WHERE vr = 1
       |ORDER BY test_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val e = quantizedScan(s, dir)
    val centsF = trainedCentroids(s, dir, k = 8, iters = 2)
    val test = e.filter(col("vec_id") % 10 === 0)
    val probe = centroidDistances(test, centsF)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("cdist"), col("cid"))))
      .filter(col("rn") <= NumProbe)
      .select(col("vec_id").as("test_id"), col("cid"))
    val tq = test.select(col("vec_id").as("test_id"), col("label").as("true_label"),
      col("qv").as("tq"))
    assignToCentroids(e.filter(col("vec_id") % 10 =!= 0), centsF)
      .select(col("vec_id"), col("qv"), col("label"), col("cid"))
      .join(broadcast(probe), "cid")
      .join(broadcast(tq), "test_id")
      .withColumn("dist", graft.functions.L2Distance.l2(col("qv"), col("tq")))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("test_id")).orderBy(col("dist"), col("vec_id"))))
      .filter(col("rnk") <= 5)
      .groupBy(col("test_id"), col("true_label"), col("label"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("vr", row_number().over(
        Window.partitionBy(col("test_id")).orderBy(col("votes").desc, col("label"))))
      .filter(col("vr") === 1)
      .select(col("test_id"), col("true_label"), col("label").as("pred_label"),
        col("votes"), (col("label") === col("true_label")).as("correct"))
      .orderBy(col("test_id"))
  }

  /** Johnson–Lindenstrauss projection dims: 64 → 16 (fixture embedding
    * width; q154's sign lambda is width-pinned by design — a mismatched
    * input surfaces as nulls, not silent truncation). */
  private val JlSrcDim = 64
  private val JlOutDim = 16

  /** Hex digits whose low bit is 0 — the shared ±1 coin both engines
    * read off `md5('jl-<i>-<j>')[0]`. */
  private val JlEvenHex = "('0', '2', '4', '6', '8', 'a', 'c', 'e')"

  /** The ±1 random-projection matrix as a (j, signs array<bigint>)
    * relation, entries derived from md5 parity — Achlioptas 2003
    * (database-friendly JL: ±1 entries preserve pairwise distances in
    * expectation like Gaussians do), made DETERMINISTIC so a projection
    * built on one cluster equals one built on another. Generated
    * distributedly from `range(outDim)`; never collected. */
  def jlSignMatrix(s: SparkSession, srcDim: Int, outDim: Int): DataFrame =
    s.range(outDim).select(col("id").as("j"), expr(
      s"""transform(sequence(0, ${srcDim - 1}), i ->
         |  CASE WHEN substring(md5(concat('jl-', CAST(i AS STRING), '-', CAST(id AS STRING))), 1, 1)
         |       IN $JlEvenHex THEN 1L ELSE -1L END)""".stripMargin).as("signs"))

  /** Project (vec_id, qv array<bigint>) onto the sign matrix: adds
    * `pv array<bigint>` of length outDim, each entry the exact integer
    * dot Σᵢ qv[i]·s(i,j). The packed matrix (outDim·srcDim small ints)
    * broadcasts once; projection is one scan with a fused per-row HOF —
    * the same shape as centroid assignment, no shuffle of the vectors. */
  def jlProject(vectors: DataFrame, signs: DataFrame): DataFrame =
    vectors.join(broadcast(
        signs.agg(array_sort(collect_list(struct(col("j"), col("signs")))).as("sm"))))
      .withColumn("pv", expr(
        "transform(sm, c -> aggregate(zip_with(qv, c.signs, (a, b) -> a * b), 0L, (acc, x) -> acc + x))"))
      .drop("sm")

  /** ANN in Johnson–Lindenstrauss space: quantized embeddings (q61's
    * exact-integer device) project 64 → 16 dims through the md5-derived
    * ±1 matrix, and the query's top-10 ranks by PROJECTED squared L2 —
    * every projection coordinate and every distance an exact integer, so
    * the reduced-space result set hash-verifies across engines. The scale
    * story: at 100 TB the 4× narrower vectors cut index memory and
    * per-candidate distance cost 4× (JL guarantees bounded distortion at
    * m = O(log N / ε²)); recall against full-space top-k is measured in
    * `AnnQualitySpec`, the distortion trade explicit rather than implied. */
  val q154JlAnn: QueryDef = sql(
    "q154_jl_ann",
    s"""WITH q AS (
       |  SELECT vec_id, dim - 1 AS i,
       |    CAST(FLOOR(CAST(embedding[dim] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS v
       |  FROM embeddings,
       |       LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS dim)),
       |s AS (
       |  SELECT ii.i, jj.j,
       |    CASE WHEN substring(md5('jl-' || CAST(ii.i AS VARCHAR) || '-' || CAST(jj.j AS VARCHAR)), 1, 1)
       |         IN $JlEvenHex THEN 1 ELSE -1 END AS sgn
       |  FROM (SELECT unnest(range(0, $JlSrcDim)) AS i) ii,
       |       (SELECT unnest(range(0, $JlOutDim)) AS j) jj),
       |p AS (SELECT q.vec_id, s.j, CAST(SUM(q.v * s.sgn) AS BIGINT) AS pv
       |      FROM q JOIN s ON s.i = q.i GROUP BY 1, 2),
       |qp AS (SELECT j, pv AS qv FROM p WHERE vec_id = $QueryVec)
       |SELECT p.vec_id, CAST(SUM((p.pv - qp.qv) * (p.pv - qp.qv)) AS BIGINT) AS pdist
       |FROM p JOIN qp ON qp.j = p.j
       |WHERE p.vec_id != $QueryVec
       |GROUP BY 1
       |ORDER BY pdist, vec_id
       |LIMIT 10""".stripMargin) { (s, dir) =>
    val p = jlProject(quantizedLong(s, dir), jlSignMatrix(s, JlSrcDim, JlOutDim))
      .select(col("vec_id"), col("pv"))
    val qp = p.filter(col("vec_id") === QueryVec).select(col("pv").as("qp"))
    p.filter(col("vec_id") =!= QueryVec)
      .crossJoin(broadcast(qp))
      .select(col("vec_id"),
        graft.functions.L2Distance.l2(col("pv"), col("qp")).as("pdist"))
      .orderBy(col("pdist"), col("vec_id"))
      .limit(10)
  }

  /** IVF trained IN Johnson–Lindenstrauss space — the production
    * "reduce, then index" composition (Jégou's IVF preceded by a
    * projection): the coarse quantizer trains on the 16-dim PROJECTED
    * vectors (4× cheaper per Lloyd round and per routing probe than
    * q120's full-space training), the query routes through the projected
    * centroids, and only the probed buckets rank — by EXACT full-space
    * cosine, so reduced dimensions decide the candidate set but never
    * the final scores. Projection, training, routing, and bucketing are
    * all exact integers (q154 × q119); the served set hash-verifies
    * end-to-end. At 100 TB this is the index-build shape that makes
    * k ∝ N training affordable: every assignment scan walks 16-long
    * arrays instead of 64. */
  val q160JlIvf: QueryDef = sql(
    "q160_jl_ivf",
    s"""WITH jq AS (
       |  SELECT vec_id, dim - 1 AS i,
       |    CAST(FLOOR(CAST(embedding[dim] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS fv
       |  FROM embeddings,
       |       LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS dim)),
       |sgn AS (
       |  SELECT ii.i, jj.j,
       |    CASE WHEN substring(md5('jl-' || CAST(ii.i AS VARCHAR) || '-' || CAST(jj.j AS VARCHAR)), 1, 1)
       |         IN $JlEvenHex THEN 1 ELSE -1 END AS sgn
       |  FROM (SELECT unnest(range(0, $JlSrcDim)) AS i) ii,
       |       (SELECT unnest(range(0, $JlOutDim)) AS j) jj),
       |p AS (SELECT jq.vec_id, sgn.j AS dim, CAST(SUM(jq.fv * sgn.sgn) AS BIGINT) AS v
       |      FROM jq JOIN sgn ON sgn.i = jq.i GROUP BY 1, 2),
       |${lloydRoundsSql("p")},
       |probe AS (SELECT cid FROM (
       |            SELECT cid, ROW_NUMBER() OVER (ORDER BY dist, cid) AS rn
       |            FROM d3 WHERE vec_id = $QueryVec) WHERE rn <= $NumProbe),
       |${withNormSql()},
       |qv AS (SELECT embedding AS qe, nrm AS qn FROM n WHERE vec_id = $QueryVec)
       |SELECT n.vec_id, ${dotSql("n.embedding", "qv.qe")} / (n.nrm * qv.qn) AS cosine
       |FROM n
       |JOIN a3 a ON a.vec_id = n.vec_id
       |JOIN probe pr ON pr.cid = a.cid, qv
       |WHERE n.vec_id != $QueryVec
       |ORDER BY cosine DESC, n.vec_id
       |LIMIT 10""".stripMargin) { (s, dir) =>
    graft.functions.CosineSimilarity.register(s)
    // the projection carries the embedding, so assignment lands on the
    // row that is ranked — no join back to the embeddings scan
    val p = jlProject(quantizedScan(s, dir), jlSignMatrix(s, JlSrcDim, JlOutDim))
      .select(col("vec_id"), col("embedding"), col("pv").as("qv"))
    val centsF = kmeansCentroidFrame(p.select(col("vec_id"), col("qv")),
      k = NumCentroids, iters = 2)
    val probe = centroidDistances(p.filter(col("vec_id") === QueryVec), centsF)
      .orderBy(col("cdist"), col("cid")).limit(NumProbe).select(col("cid"))
    val q = Tables.embeddings(s, dir).filter(col("vec_id") === QueryVec)
      .select(col("embedding").as("qe"))
    assignToCentroids(p, centsF).select(col("vec_id"), col("embedding"), col("cid"))
      .join(broadcast(probe), "cid")
      .filter(col("vec_id") =!= QueryVec)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), expr("cosine_sim_native(embedding, qe)").as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(10)
  }

  /** IVF index-drift monitor — the staleness signal that triggers a
    * retrain: the quantizer trains on the BASE snapshot (vec_id % 10 ≠ 9),
    * new ARRIVALS (vec_id % 10 = 9) are assigned to the FROZEN trained
    * centroids (no retrain — exactly what a serving index does between
    * rebuilds), and each bucket reports its build-time vs arrival
    * population share plus the absolute drift. A drifted distribution
    * means the coarse quantizer no longer fits the data (new modality,
    * new domain) and probe-recall degrades — the operational rule is
    * "retrain when max drift exceeds a threshold". Counts are exact
    * integers; shares and drift are exactly-rounded IEEE arithmetic on
    * < 2⁵³ integers — the whole monitor hash-verifies. Arrivals landing
    * in no bucket can't happen (assignment is total); buckets with no
    * arrivals survive via a left join (their drift IS the finding). */
  val q162IndexDrift: QueryDef = sql(
    "q162_index_drift",
    s"""WITH qa AS (
       |  SELECT vec_id, dim,
       |    CAST(FLOOR(CAST(embedding[dim] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS v
       |  FROM embeddings,
       |       LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS dim)),
       |qb AS (SELECT * FROM qa WHERE vec_id % 10 <> 9),
       |${lloydRoundsSql("qb")},
       |qn AS (SELECT * FROM qa WHERE vec_id % 10 = 9),
       |dn AS (SELECT s.vec_id, c.cid, SUM((s.v - c.v) * (s.v - c.v)) AS dist
       |       FROM qn s JOIN c2 c ON c.dim = s.dim GROUP BY 1, 2),
       |an AS (SELECT vec_id, cid FROM (
       |         SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |         FROM dn) WHERE rn = 1),
       |cb AS (SELECT cid, COUNT(*) AS n_base FROM a3 GROUP BY 1),
       |cn AS (SELECT cid, COUNT(*) AS n_new FROM an GROUP BY 1),
       |tb AS (SELECT COUNT(*) AS t FROM a3),
       |tn AS (SELECT COUNT(*) AS t FROM an)
       |SELECT CAST(cb.cid AS INT) AS cid, cb.n_base, COALESCE(cn.n_new, 0) AS n_new,
       |  CAST(cb.n_base AS DOUBLE) / tb.t AS share_base,
       |  CAST(COALESCE(cn.n_new, 0) AS DOUBLE) / tn.t AS share_new,
       |  ABS(CAST(COALESCE(cn.n_new, 0) AS DOUBLE) / tn.t - CAST(cb.n_base AS DOUBLE) / tb.t) AS drift
       |FROM cb LEFT JOIN cn ON cn.cid = cb.cid, tb, tn
       |ORDER BY cid""".stripMargin) { (s, dir) =>
    val v = quantizedLong(s, dir)
    val base = v.filter(col("vec_id") % 10 =!= 9)
    val arrivals = v.filter(col("vec_id") % 10 === 9)
    val cents = kmeansCentroidFrame(base, k = NumCentroids, iters = 2)
    val cb = assignToCentroids(base, cents)
      .groupBy(col("cid")).agg(count(lit(1)).as("n_base"))
    val cn = assignToCentroids(arrivals, cents)
      .groupBy(col("cid")).agg(count(lit(1)).as("n_new"))
    val tb = cb.agg(sum(col("n_base")).as("tb"))
    val tn = cn.agg(sum(col("n_new")).as("tn"))
    cb.join(cn, Seq("cid"), "left")
      .crossJoin(broadcast(tb)).crossJoin(broadcast(tn))
      .select(col("cid").cast("int").as("cid"), col("n_base"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        (col("n_base").cast("double") / col("tb")).as("share_base"),
        (coalesce(col("n_new"), lit(0L)).cast("double") / col("tn")).as("share_new"),
        abs(coalesce(col("n_new"), lit(0L)).cast("double") / col("tn") -
          col("n_base").cast("double") / col("tb")).as("drift"))
      .orderBy(col("cid"))
  }

  /** The SERVING capstone — the retrieval mirror of q123/q151's training
    * capstone: one query composing the whole serving stack end-to-end.
    * For query 0, the lexical leg (q136's BM25 over the EMBEDDED
    * sub-corpus — the indexed corpus IS the embedded corpus) and the
    * semantic leg (q38's exact cosine) each keep their top-20; RRF
    * (q137, k=60) fuses the rankings into a top-10 recall pool; greedy
    * MMR (q147's integer trajectory) re-ranks that pool for diversity
    * and serves the final 5. Fusion decides WHAT is in the pool from
    * ranks alone; MMR decides the ORDER from exact integer dots — so a
    * divergence in any composed stage (postings, idf, cosine fold, rank
    * tie, fused rational, greedy argmax) moves the served list and
    * breaks the single hash. Every stage reuses the library operator
    * (postings index read from persisted state, native cosine, shared
    * greedy loop), not a re-implementation. */
  val q166RagServe: QueryDef = sql(
    "q166_rag_serve",
    s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
       |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
       |dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY 1),
       |df AS (SELECT word, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
       |stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
       |qt AS (SELECT DISTINCT word FROM toks WHERE doc_id = $QueryVec),
       |bscore AS (
       |  SELECT t.doc_id,
       |    SUM(LN(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
       |        * (t.tf * 2.2) / (t.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl))) AS raw
       |  FROM qt q
       |  JOIN tf t ON t.word = q.word AND t.doc_id <> $QueryVec
       |  JOIN embeddings e ON e.vec_id = t.doc_id
       |  JOIN df d ON d.word = q.word
       |  JOIN dl l ON l.doc_id = t.doc_id, stats s
       |  GROUP BY 1),
       |brank AS (SELECT doc_id,
       |            ROW_NUMBER() OVER (ORDER BY raw DESC, doc_id) AS lex_rank
       |          FROM bscore),
       |${withNormSql()},
       |qe AS (SELECT embedding AS qvec, nrm AS qn FROM n WHERE vec_id = $QueryVec),
       |sscore AS (SELECT n.vec_id AS doc_id,
       |             ${dotSql("n.embedding", "qe.qvec")} / (n.nrm * qe.qn) AS cosine
       |           FROM n, qe WHERE n.vec_id <> $QueryVec),
       |srank AS (SELECT doc_id,
       |            ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id) AS sem_rank
       |          FROM sscore),
       |legs AS (SELECT COALESCE(b.doc_id, s.doc_id) AS doc_id, b.lex_rank, s.sem_rank
       |         FROM (SELECT * FROM brank WHERE lex_rank <= 20) b
       |         FULL OUTER JOIN (SELECT * FROM srank WHERE sem_rank <= 20) s
       |           ON s.doc_id = b.doc_id),
       |fused AS (SELECT doc_id,
       |            CAST(COALESCE(lex_rank, 0) AS INT) AS lex_rank,
       |            CAST(COALESCE(sem_rank, 0) AS INT) AS sem_rank,
       |            COALESCE(1.0 / (60 + lex_rank), 0.0) + COALESCE(1.0 / (60 + sem_rank), 0.0) AS raw
       |          FROM legs),
       |pool AS (SELECT doc_id, lex_rank, sem_rank, raw,
       |           CAST(ROW_NUMBER() OVER (ORDER BY raw DESC, doc_id) AS INT) AS rnk
       |         FROM fused QUALIFY rnk <= 10),
       |q AS (
       |  SELECT vec_id, dim,
       |    CAST(FLOOR(CAST(embedding[dim] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS v
       |  FROM embeddings,
       |       LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS dim)),
       |rel AS (SELECT r.vec_id, CAST(SUM(r.v * s.v) AS BIGINT) AS rel
       |        FROM q r JOIN q s ON s.dim = r.dim AND s.vec_id = $QueryVec
       |        JOIN pool p ON p.doc_id = r.vec_id
       |        GROUP BY 1),
       |cand AS (SELECT vec_id, rel FROM rel),
       |sim AS (SELECT qa.vec_id AS i, qb.vec_id AS j, CAST(SUM(qa.v * qb.v) AS BIGINT) AS s
       |        FROM q qa JOIN q qb ON qb.dim = qa.dim AND qb.vec_id <> qa.vec_id
       |        JOIN cand ca ON ca.vec_id = qa.vec_id
       |        JOIN cand cb ON cb.vec_id = qb.vec_id
       |        GROUP BY 1, 2),
       |sel1 AS (SELECT 1 AS rank, vec_id, rel, 2 * rel AS score
       |         FROM cand ORDER BY rel DESC, vec_id LIMIT 1),
       |${mmrRoundSql(2)},
       |${mmrRoundSql(3)},
       |${mmrRoundSql(4)},
       |${mmrRoundSql(5)}
       |SELECT s.rank, s.vec_id AS doc_id, p.lex_rank, p.sem_rank,
       |  ROUND(p.raw, 6) AS rrf, s.rel, s.score
       |FROM sel5 s JOIN pool p ON p.doc_id = s.vec_id
       |ORDER BY s.rank""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    graft.functions.CosineSimilarity.register(s)
    val emb = Tables.embeddings(s, dir)
    val embIds = emb.select(col("vec_id").as("doc_id"))
    val (tf, dl, df) = TextOps.postingsIndex(s, Tables.documents(s, dir))
    val stats = dl.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val qt = tf.filter(col("doc_id") === QueryVec).select(col("word"))
    val term = log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
      (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
    val brank = broadcast(qt).join(tf, Seq("word"))
      .filter(col("doc_id") =!= QueryVec)
      .join(embIds, Seq("doc_id"))
      .join(broadcast(df), Seq("word"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .groupBy(col("doc_id")).agg(sum(term).as("raw"))
      .withColumn("lex_rank", row_number().over(
        Window.orderBy(col("raw").desc, col("doc_id"))))
      .filter(col("lex_rank") <= 20).select(col("doc_id"), col("lex_rank"))
    val qe = emb.filter(col("vec_id") === QueryVec).select(col("embedding").as("qvec"))
    val srank = emb.select(col("vec_id").as("doc_id"), col("embedding"))
      .filter(col("doc_id") =!= QueryVec)
      .crossJoin(broadcast(qe))
      .withColumn("cosine", expr("cosine_sim_native(embedding, qvec)"))
      .withColumn("sem_rank", row_number().over(
        Window.orderBy(col("cosine").desc, col("doc_id"))))
      .filter(col("sem_rank") <= 20).select(col("doc_id"), col("sem_rank"))
    val pool = brank.join(srank, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("lex_rank"), lit(0)).cast("int").as("lex_rank"),
        coalesce(col("sem_rank"), lit(0)).cast("int").as("sem_rank"),
        (coalesce(lit(1.0) / (lit(60) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("sem_rank")), lit(0.0))).as("raw"))
      .withColumn("rnk", row_number().over(Window.orderBy(col("raw").desc, col("doc_id"))))
      .filter(col("rnk") <= 10).cachedStageBoundary
    val qv = quantizeVectors(emb)
    val qrow = qv.filter(col("vec_id") === QueryVec).select(col("qv").as("tq"))
    val rel = qv.join(pool.select(col("doc_id").as("vec_id")), "vec_id")
      .crossJoin(broadcast(qrow))
      .withColumn("rel", relDot("qv", "tq"))
      .select(col("vec_id"), col("rel"))
    val served = mmrGreedy(qv, rel, k = 5)
    val out = served.join(pool.select(col("doc_id").as("vec_id"),
        col("lex_rank"), col("sem_rank"), round(col("raw"), 6).as("rrf")), "vec_id")
      .select(col("rank"), col("vec_id").as("doc_id"), col("lex_rank"),
        col("sem_rank"), col("rrf"), col("rel"), col("score"))
      .orderBy(col("rank"))
    // pool stays pinned: the greedy loop's actions already ran, and the
    // final join re-reads it (pool-sized — 10 rows)
    out
  }

  /** Hubness audit — the high-dimensional ANN pathology diagnostic
    * (Radovanović et al., JMLR 2010: in high dimensions the
    * k-occurrence distribution skews, a few "hub" points appearing in a
    * disproportionate share of everyone's neighbor lists, degrading
    * both retrieval diversity and dedup decisions): for every vector,
    * its top-3 within-cluster neighbors by exact integer L2, then count
    * how often each vector is CITED as a neighbor; emit the top-20
    * hubs. Rides the trained coarse quantizer (q119), so neighbor lists
    * are the INDEX's lists — the audit measures the structure the
    * serving path actually probes, and the within-cluster blocking
    * keeps it N²/k, never all-pairs (the q122 scale argument; k ∝ N
    * holds it linear).
    *
    * The whole trajectory (training → assignment → pairwise L2 →
    * neighbor ranks → citation counts) is exact integers, so the hub
    * list hash-verifies against the unrolled Lloyd CTE chain. */
  val q178Hubness: QueryDef = sql(
    "q178_hubness",
    s"""$kmeansSqlPrefix,
       |m AS (SELECT q.vec_id, q.dim, q.v, a.cid FROM q JOIN a3 a USING (vec_id)),
       |pd AS (SELECT a.vec_id AS va, b.vec_id AS vb,
       |         SUM((a.v - b.v) * (a.v - b.v)) AS dist
       |       FROM m a JOIN m b ON b.cid = a.cid AND b.dim = a.dim
       |                        AND b.vec_id <> a.vec_id
       |       GROUP BY 1, 2),
       |nn AS (SELECT va, vb FROM (
       |         SELECT va, vb, ROW_NUMBER() OVER (PARTITION BY va ORDER BY dist, vb) AS rn
       |         FROM pd) WHERE rn <= 3)
       |SELECT vb AS vec_id, COUNT(*) AS n_hits
       |FROM nn GROUP BY 1
       |ORDER BY n_hits DESC, vec_id
       |LIMIT 20""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val v = quantizedLong(s, dir)
    val assigned = assignToCentroids(v, trainedCentroids(s, dir, k = 8, iters = 2))
      .select(col("vec_id"), col("qv"), col("cid")).cachedStageBoundary
    val a = assigned.select(col("vec_id").as("va"), col("qv").as("qa"), col("cid"))
    val b = assigned.select(col("vec_id").as("vb"), col("qv").as("qb"), col("cid"))
    a.join(b, "cid").filter(col("va") =!= col("vb"))
      .withColumn("dist", graft.functions.L2Distance.l2(col("qa"), col("qb")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("va")).orderBy(col("dist"), col("vb"))))
      .filter(col("rn") <= 3)
      .groupBy(col("vb").as("vec_id")).agg(count(lit(1)).as("n_hits"))
      .orderBy(col("n_hits").desc, col("vec_id"))
      .limit(20)
  }

  /** Per-dimension embedding statistics — the whitening/normalization
    * pass an embedding pipeline runs before indexing (mean-centering
    * and variance scaling change neighbor structure; skewed or dead
    * dimensions are ingest bugs): over the micro-quantized space
    * (v = floor(x·10⁶ + ½) — the exact-integer representation the
    * whole ANN family trains in), per dimension: count, floor-mean,
    * floor-variance, and the count of |v − μ| > 3σ outlier values.
    * Integer sums are exact; μ, σ and the variance derive from them by
    * IDENTICAL IEEE expressions in both engines, and every emitted
    * column is a floor/count — so the stats hash-verify.
    *
    * Scale posture: two corpus scans (stats, then outlier counts
    * against the broadcast dimension-sized stats relation), each a
    * dim-keyed map-side-combined aggregate over ≤ d keys — the
    * cheapest shuffle shape there is. At 100 TB the exact integer sums
    * would move to DECIMAL(38) partials (|Σv²| approaches 2⁶³ near
    * ~10¹⁰ vectors); the expression shape is unchanged. */
  val q179EmbeddingStats: QueryDef = sql(
    "q179_embedding_stats",
    """WITH q AS (
      |  SELECT vec_id, dim,
      |    CAST(FLOOR(CAST(embedding[dim] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS v
      |  FROM embeddings,
      |       LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS dim)),
      |st AS (SELECT dim, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS s,
      |         CAST(SUM(v * v) AS BIGINT) AS ss
      |       FROM q GROUP BY 1),
      |mv AS (SELECT dim, n, s, ss,
      |         CAST(s AS DOUBLE) / n AS mu,
      |         CAST(ss AS DOUBLE) / n - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n) AS var
      |       FROM st),
      |outl AS (SELECT q.dim, COUNT(*) AS n_outliers
      |         FROM q JOIN mv ON mv.dim = q.dim
      |         WHERE ABS(CAST(q.v AS DOUBLE) - mv.mu) > 3.0 * SQRT(mv.var)
      |         GROUP BY 1)
      |SELECT mv.dim, mv.n,
      |  CAST(FLOOR(mv.mu) AS BIGINT) AS mean_micro,
      |  CAST(FLOOR(mv.var) AS BIGINT) AS var_micro2,
      |  CAST(COALESCE(o.n_outliers, 0) AS BIGINT) AS n_outliers
      |FROM mv LEFT JOIN outl o ON o.dim = mv.dim
      |ORDER BY mv.dim""".stripMargin) { (s, dir) =>
    val q = Tables.fanOut(Tables.embeddings(s, dir))
      .select(col("vec_id"), posexplode(expr(
        "transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0D + 0.5D) AS BIGINT))"))
        .as(Seq("dim0", "v")))
      .select((col("dim0") + 1).cast("long").as("dim"), col("v"))
    val st = q.groupBy(col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"), sum(col("v") * col("v")).as("ss"))
    val mu = col("s").cast("double") / col("n")
    val mv = st.select(col("dim"), col("n"), mu.as("mu"),
      (col("ss").cast("double") / col("n") - mu * mu).as("var"))
    val outl = q.join(broadcast(mv), "dim")
      .filter(abs(col("v").cast("double") - col("mu")) > lit(3.0) * sqrt(col("var")))
      .groupBy(col("dim")).agg(count(lit(1)).as("n_outliers"))
    mv.join(outl, Seq("dim"), "left")
      .select(col("dim"), col("n"),
        floor(col("mu")).cast("long").as("mean_micro"),
        floor(col("var")).cast("long").as("var_micro2"),
        coalesce(col("n_outliers"), lit(0L)).cast("long").as("n_outliers"))
      .orderBy(col("dim"))
  }

  /** Simplified-silhouette clustering audit — the "is k right / are the
    * clusters real" check a quantizer build runs before serving from it
    * (Rousseeuw 1987's silhouette with the O(N²) neighbor means replaced
    * by centroid distances — the standard large-N variant, O(N·k)): per
    * vector, a = squared L2 to its own centroid, b = squared L2 to the
    * nearest OTHER centroid, s = (b−a)/max(a,b) ∈ [0,1] here (b ≥ a by
    * construction of the argmin assignment). Using SQUARED distances is
    * a declared variant: the sign and ordering of scores are preserved,
    * every quantity stays an exact integer, and s_micro =
    * floor((b−a)·10⁶/max) hash-verifies through the unrolled Lloyd
    * chain. Emits the per-cluster audit (size, mean/min/max silhouette)
    * — near-zero mean silhouette marks clusters that should merge
    * (retrain with smaller k), per-cluster minima near zero mark
    * boundary vectors.
    *
    * Scale posture: rides the trained quantizer; the only added work
    * over assignment is keeping the second-smallest centroid distance —
    * same broadcast-argmin scan shape, then a k-row aggregate. */
  val q180Silhouette: QueryDef = sql(
    "q180_silhouette",
    s"""$kmeansSqlPrefix,
       |r AS (SELECT vec_id, cid, dist,
       |        ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |      FROM d3),
       |ab AS (SELECT vec_id,
       |         MIN(CASE WHEN rn = 1 THEN dist END) AS a,
       |         MIN(CASE WHEN rn = 1 THEN cid END) AS cid,
       |         MIN(CASE WHEN rn = 2 THEN dist END) AS b
       |       FROM r WHERE rn <= 2 GROUP BY 1),
       |sil AS (SELECT vec_id, cid,
       |          CASE WHEN GREATEST(a, b) = 0 THEN CAST(0 AS BIGINT)
       |               ELSE CAST((b - a) * 1000000 // GREATEST(a, b) AS BIGINT) END AS s_micro
       |        FROM ab)
       |SELECT CAST(cid AS INT) AS cid, COUNT(*) AS n_vecs,
       |  CAST(FLOOR(CAST(SUM(s_micro) AS DOUBLE) / COUNT(*)) AS BIGINT) AS mean_s_micro,
       |  MIN(s_micro) AS min_s_micro, MAX(s_micro) AS max_s_micro
       |FROM sil GROUP BY 1
       |ORDER BY cid""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val v = quantizedLong(s, dir)
    val d = centroidDistances(v, trainedCentroids(s, dir, k = 8, iters = 2))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("cdist"), col("cid"))))
      .filter(col("rn") <= 2)
    d.groupBy(col("vec_id"))
      .agg(min(when(col("rn") === 1, col("cdist"))).as("a"),
        min(when(col("rn") === 1, col("cid"))).as("cid"),
        min(when(col("rn") === 2, col("cdist"))).as("b"))
      .withColumn("s_micro", expr(
        "CASE WHEN GREATEST(a, b) = 0 THEN 0L ELSE (b - a) * 1000000L DIV GREATEST(a, b) END"))
      .groupBy(col("cid").cast("int").as("cid"))
      .agg(count(lit(1)).as("n_vecs"),
        expr("CAST(FLOOR(CAST(SUM(s_micro) AS DOUBLE) / COUNT(*)) AS BIGINT)").as("mean_s_micro"),
        min(col("s_micro")).as("min_s_micro"), max(col("s_micro")).as("max_s_micro"))
      .orderBy(col("cid"))
  }

  /** Semantic decontamination — the embedding-space counterpart of
    * q116's n-gram overlap audit (the pairing modern eval hygiene
    * runs BOTH of: lexical decontamination misses paraphrases, and
    * this catches them — the reasoning behind SemDeDup-style
    * similarity screens applied to eval sets): hold out the eval
    * vectors (vec_id % 50 = 0), and flag every TRAIN vector whose
    * cosine to any eval vector within its trained cluster exceeds
    * 0.35. Rides q122's exact machinery — the trained coarse
    * quantizer blocks the pair space to N²/k (k ∝ N keeps it linear),
    * and the codegen'd native cosine makes the flag hash-verifiable
    * through the unrolled Lloyd chain.
    *
    * Scale posture: identical to q122's within-cluster pairing with
    * one side restricted to the (small) eval set — so the pair volume
    * is |eval|·cluster-size, not cluster-size². */
  val q196SemanticDecontam: QueryDef = sql(
    "q196_semantic_decontam",
    s"""$kmeansSqlPrefix,
       |${withNormSql()},
       |m AS (SELECT n.vec_id, a.cid, n.embedding, n.nrm
       |      FROM n JOIN a3 a USING (vec_id)),
       |ev AS (SELECT * FROM m WHERE vec_id % 50 = 0),
       |tr AS (SELECT * FROM m WHERE vec_id % 50 <> 0),
       |hit AS (SELECT DISTINCT t.vec_id
       |        FROM tr t JOIN ev e ON e.cid = t.cid
       |        WHERE ${dotSql("t.embedding", "e.embedding")} / (t.nrm * e.nrm) > 0.35)
       |SELECT t.vec_id, CAST(t.cid AS INT) AS cid,
       |  (h.vec_id IS NOT NULL) AS contaminated
       |FROM tr t LEFT JOIN hit h ON h.vec_id = t.vec_id
       |ORDER BY t.vec_id""".stripMargin) { (s, dir) =>
    graft.functions.CosineSimilarity.register(s)
    val m = assignToCentroids(quantizedScan(s, dir), trainedCentroids(s, dir, k = 8, iters = 2))
      .select(col("vec_id"), col("cid"), col("embedding")).cachedStageBoundary
    val ev = m.filter(col("vec_id") % 50 === 0)
      .select(col("cid"), col("embedding").as("ee"))
    val tr = m.filter(col("vec_id") % 50 =!= 0)
    val hit = tr.join(broadcast(ev), "cid")
      .filter(expr("cosine_sim_native(embedding, ee)") > 0.35)
      .select(col("vec_id")).distinct()
    tr.join(hit.withColumn("h", lit(1)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid").cast("int").as("cid"),
        col("h").isNotNull.as("contaminated"))
      .orderBy(col("vec_id"))
  }

  /** Dimension-truncation audit — "can we serve at d/4?" (the question
    * Matryoshka-style representations formalize — Kusupati et al.,
    * NeurIPS 2022: if prefix dimensions carry the ranking, a truncated
    * index is 4× cheaper at small recall cost): rank every query's
    * top-10 by exact integer inner product over the FULL 64 dims and
    * again over the FIRST 16, and report per query the overlap and
    * whether the top-1 survives. Both rankings are exact integer dot
    * products in the micro-quantized space (ties to doc_id), so the
    * whole audit hash-verifies — the decision "truncate or don't" rests
    * on reproducible numbers. (q154/q160 answer the adjacent question
    * for LEARNED projections; this audits plain prefix truncation,
    * which costs nothing to deploy.)
    *
    * Scale posture: one query-broadcast scan computing BOTH dots in the
    * same pass (the truncated sum is a conditional inside the same
    * aggregate — no second scan), two WindowGroupLimit top-10 cuts,
    * one 10-row-per-query judgment join. */
  val q199TruncationAudit: QueryDef = sql(
    "q199_truncation_audit",
    """WITH q AS (
      |  SELECT vec_id, dim,
      |    CAST(FLOOR(CAST(embedding[dim] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS v
      |  FROM embeddings,
      |       LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS dim)),
      |qq AS (SELECT vec_id, dim, v FROM q WHERE vec_id % 100 = 0),
      |dots AS (SELECT a.vec_id AS query_id, b.vec_id AS doc_id,
      |           CAST(SUM(a.v * b.v) AS BIGINT) AS dot_full,
      |           CAST(SUM(CASE WHEN a.dim <= 16 THEN a.v * b.v ELSE 0 END) AS BIGINT) AS dot_t
      |         FROM qq a JOIN q b ON b.dim = a.dim AND b.vec_id <> a.vec_id
      |         GROUP BY 1, 2),
      |rf AS (SELECT query_id, doc_id, rn FROM (
      |         SELECT query_id, doc_id,
      |           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dot_full DESC, doc_id) AS rn
      |         FROM dots) WHERE rn <= 10),
      |rt AS (SELECT query_id, doc_id, rn FROM (
      |         SELECT query_id, doc_id,
      |           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dot_t DESC, doc_id) AS rn
      |         FROM dots) WHERE rn <= 10),
      |ov AS (SELECT f.query_id, COUNT(t.doc_id) AS overlap
      |       FROM rf f LEFT JOIN rt t ON t.query_id = f.query_id AND t.doc_id = f.doc_id
      |       GROUP BY 1)
      |SELECT o.query_id, o.overlap,
      |  (f1.doc_id = t1.doc_id) AS top1_match
      |FROM ov o
      |JOIN rf f1 ON f1.query_id = o.query_id AND f1.rn = 1
      |JOIN rt t1 ON t1.query_id = o.query_id AND t1.rn = 1
      |ORDER BY o.query_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val v = quantizedLong(s, dir)
    val qv = v.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("qv").as("query_v"))
    val dots = v.select(col("vec_id").as("doc_id"), col("qv"))
      .crossJoin(broadcast(qv))
      .filter(col("doc_id") =!= col("query_id"))
      .select(col("query_id"), col("doc_id"),
        expr("aggregate(zip_with(qv, query_v, (x, y) -> x * y), 0L, (a, x) -> a + x)").as("dot_full"),
        expr("aggregate(zip_with(slice(qv, 1, 16), slice(query_v, 1, 16), (x, y) -> x * y), 0L, (a, x) -> a + x)").as("dot_t"))
      .cachedStageBoundary
    def top(dcol: String) = dots
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col(dcol).desc, col("doc_id"))))
      .filter(col("rn") <= 10).select(col("query_id"), col("doc_id"), col("rn"))
    val rf = top("dot_full")
    val rt = top("dot_t")
    val ov = rf.join(rt.withColumn("hit", lit(1)).drop("rn"),
        Seq("query_id", "doc_id"), "left")
      .groupBy(col("query_id")).agg(sum(coalesce(col("hit"), lit(0))).cast("long").as("overlap"))
    ov.join(rf.filter(col("rn") === 1).select(col("query_id"), col("doc_id").as("f1")), "query_id")
      .join(rt.filter(col("rn") === 1).select(col("query_id"), col("doc_id").as("t1")), "query_id")
      .select(col("query_id"), col("overlap"), (col("f1") === col("t1")).as("top1_match"))
      .orderBy(col("query_id"))
  }

  /** Multi-probe LSH (Lv et al., VLDB 2007): instead of probing the
    * whole Hamming-1 ring like q52 (9 buckets), probe a SHORT sequence
    * of buckets chosen by the query's own hyperplane margins — the
    * planes the query sits CLOSEST to are the ones most likely to have
    * flipped for its true neighbors, so flipping those bits first buys
    * the most recall per probed bucket. Probes here: the home bucket,
    * the three single-bit flips of the smallest |margin| planes, and
    * the two-bit flip of the two smallest — 5 buckets for ~the
    * Hamming-1 ring's recall (spec-pinned against brute force on
    * clustered data). Margins are the same deterministic fold both
    * engines compute; ties break on plane index, so the probe SET
    * hash-verifies through the result.
    *
    * Scale posture: identical to q52 (bucket equality against a
    * broadcast probe relation — candidates are the probed buckets'
    * postings, never the corpus) plus one 8-row margin ranking for the
    * query. Fewer probes = proportionally less candidate I/O; the
    * probe count, not the ring size, becomes the recall/latency dial. */
  val q191MultiprobeLsh: QueryDef = {
    sql(
      "q191_multiprobe_lsh",
      s"""WITH ${withNormSql()},
         |sig AS (SELECT vec_id, embedding, nrm, $bucketSql AS bucket FROM n),
         |q AS (SELECT embedding AS qe, nrm AS qn, bucket AS qb FROM sig
         |      WHERE vec_id = $QueryVec),
         |marg AS (${(0 until NumPlanes).map(k =>
             s"SELECT $k AS k, ABS(${planeDotSql(k).replace("embedding", "q.qe")}) AS am FROM q")
             .mkString("\n   UNION ALL ")}),
         |flips AS (SELECT k, ROW_NUMBER() OVER (ORDER BY am, k) AS rn FROM marg),
         |probes AS (
         |  SELECT qb AS b FROM q
         |  UNION
         |  SELECT xor(q.qb, CAST(pow(2, f.k) AS BIGINT)) FROM q, flips f WHERE f.rn <= 3
         |  UNION
         |  SELECT xor(q.qb, CAST(pow(2, f1.k) AS BIGINT) + CAST(pow(2, f2.k) AS BIGINT))
         |  FROM q, flips f1, flips f2 WHERE f1.rn = 1 AND f2.rn = 2)
         |SELECT s.vec_id, ${dotSql("s.embedding", "q.qe")} / (s.nrm * q.qn) AS cosine
         |FROM sig s JOIN probes p ON p.b = s.bucket, q
         |WHERE s.vec_id != $QueryVec
         |ORDER BY cosine DESC, s.vec_id
         |LIMIT 10""".stripMargin) { (s, dir) =>
      graft.functions.CosineSimilarity.register(s)
      val sig = Tables.embeddings(s, dir).withColumn("bucket", bucketExpr)
      // the query's 8 margins are one bounded driver row (the q147
      // class); the probe set derives from them deterministically
      val qRow = sig.filter(col("vec_id") === QueryVec)
        .select(Seq(col("embedding").as("qe"), col("bucket").as("qb")) ++
          (0 until NumPlanes).map(k => abs(planeDot(k)).as(s"m$k")): _*)
        .collect()(0)
      val qb = qRow.getInt(qRow.fieldIndex("qb"))
      val order = (0 until NumPlanes)
        .map(k => k -> qRow.getDouble(qRow.fieldIndex(s"m$k")))
        .sortBy { case (k, m) => (m, k) }.map(_._1)
      val probes = (Seq(qb) ++
        order.take(3).map(k => qb ^ (1 << k)) :+
        (qb ^ (1 << order(0)) ^ (1 << order(1)))).distinct
      val q = sig.filter(col("vec_id") === QueryVec).select(col("embedding").as("qe"))
      sig.filter(col("bucket").isin(probes: _*) && col("vec_id") =!= QueryVec)
        .crossJoin(broadcast(q))
        .select(col("vec_id"), expr("cosine_sim_native(embedding, qe)").as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id"))
        .limit(10)
    }
  }

  /** k-center greedy coreset selection (Gonzalez 1985's 2-approximation
    * to the k-center problem; Sener & Savarese ICLR'18 use exactly this
    * loop for data selection): start from the lowest vec_id, then k−1
    * times pick the vector FARTHEST from its nearest already-selected
    * center (exact integer squared L2, ties to the lowest vec_id). The
    * selected set maximizes coverage — the complement of q122's
    * redundancy removal: SemDeDup drops what is too close, k-center
    * KEEPS what is maximally spread (labeling budgets, eval-set
    * seeding, diverse few-shot pools). `dist_at_pick` is the coverage
    * radius before each pick — its final value bounds every vector's
    * distance to the coreset (the 2-approximation certificate), and
    * the whole descent trajectory hash-verifies against the unrolled
    * oracle rounds.
    *
    * Scale posture: the q132/q147 bounded-greedy class — one
    * corpus-scan round per pick (update running min-distance against
    * the 1-row broadcast newest center, then a TakeOrdered argmax);
    * the only driver traffic is one (vec_id, dist) row per round.
    * k is the labeling/eval budget — tens to hundreds, not corpus. */
  def kcenterGreedy(vectors: DataFrame, k: Int): DataFrame = {
    val s = vectors.sparkSession
    import s.implicits._
    val v = vectors.select(col("vec_id"), col("qv")).cachedStageBoundary
    val seed = v.orderBy(col("vec_id")).limit(1)
    var picks = Vector((0, seed.collect()(0).getLong(0), 0L))
    // running min-distance to the selected set, updated per round
    var mind = v.crossJoin(broadcast(seed.select(col("qv").as("cv"))))
      .withColumn("mind", graft.functions.L2Distance.l2(col("qv"), col("cv")))
      .select(col("vec_id"), col("qv"), col("mind"))
      .stageBoundary
    for (r <- 1 until k) {
      val far = mind.orderBy(col("mind").desc, col("vec_id")).limit(1).collect()(0)
      picks :+= ((r, far.getLong(0), far.getLong(2)))
      if (r < k - 1) {
        val c = v.filter(col("vec_id") === far.getLong(0)).select(col("qv").as("cv"))
        mind = mind.crossJoin(broadcast(c))
          .withColumn("mind", least(col("mind"),
            graft.functions.L2Distance.l2(col("qv"), col("cv"))))
          .select(col("vec_id"), col("qv"), col("mind"))
          .stageBoundary
      }
    }
    v.unpersist()
    picks.toDF("pick_rank", "vec_id", "dist_at_pick")
  }

  /** One unrolled k-center oracle round r: pick p{r} from m{r}, then
    * m{r+1} = min(m{r}, dist to p{r}). */
  private def kcenterRoundSql(r: Int): String =
    s"""p$r AS (SELECT vec_id, mind FROM m$r ORDER BY mind DESC, vec_id LIMIT 1),
       |m${r + 1} AS (SELECT m.vec_id, LEAST(m.mind, d.dist) AS mind
       |  FROM m$r m JOIN (
       |    SELECT s.vec_id, SUM((s.v - c.v) * (s.v - c.v)) AS dist
       |    FROM q s JOIN q c ON c.dim = s.dim AND c.vec_id = (SELECT vec_id FROM p$r)
       |    GROUP BY 1) d ON d.vec_id = m.vec_id)""".stripMargin

  /** Contract face of [[kcenterGreedy]]: an 8-point coreset of the
    * embedding table; the emitted (pick order, vector, coverage radius
    * at pick) trajectory is strictly non-increasing in radius. */
  val q190KcenterCoreset: QueryDef = sql(
    "q190_kcenter_coreset",
    s"""WITH q AS (
       |  SELECT vec_id, dim,
       |    CAST(FLOOR(CAST(embedding[dim] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS v
       |  FROM embeddings,
       |       LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS dim)),
       |seed AS (SELECT MIN(vec_id) AS vid FROM q),
       |m1 AS (SELECT s.vec_id, SUM((s.v - c.v) * (s.v - c.v)) AS mind
       |       FROM q s JOIN q c ON c.dim = s.dim AND c.vec_id = (SELECT vid FROM seed)
       |       GROUP BY 1),
       |${(1 to 7).map(kcenterRoundSql).mkString(",\n")}
       |SELECT CAST(0 AS BIGINT) AS pick_rank, (SELECT vid FROM seed) AS vec_id,
       |       CAST(0 AS BIGINT) AS dist_at_pick
       |${(1 to 7).map(r => s"UNION ALL SELECT $r, vec_id, CAST(mind AS BIGINT) FROM p$r").mkString("\n")}
       |ORDER BY pick_rank""".stripMargin) { (s, dir) =>
    kcenterGreedy(quantizedLong(s, dir), k = 8)
      .select(col("pick_rank").cast("long").as("pick_rank"), col("vec_id"),
        col("dist_at_pick"))
      .orderBy(col("pick_rank"))
  }

  /** IVF nprobe recall sweep — the q198/q209 tuning-constant-as-data
    * shape applied to the trained index's ONE serving knob (Jégou et al.
    * TPAMI'11 §5: recall vs. probed-list count is THE operating curve an
    * IVF deployment picks its latency/recall point from): for every
    * query (vec_id % 100 = 0) and every nprobe ∈ {1, 2, 4}, serve
    * top-10 from the q119-trained index probing that many buckets, and
    * judge against the exact-cosine truth — per (nprobe, query) the
    * candidate volume (the COST axis) and recall@10 (the QUALITY axis)
    * land in one relation. Routing and bucketing use the same exact
    * integer metric (q120's property), the sweep grid rides one
    * candidate relation (rank once per (query, nprobe) — measuring
    * three operating points costs one union of probe sets, not three
    * serves), and recall is exact integers.
    *
    * Scale posture: q120's serving shape × a 3-row broadcast grid; the
    * exact-truth leg is the eval-time full scan q172 already budgets.
    * Empty-candidate cells survive via the grid × query base relation
    * (they are findings: an nprobe too small to reach any neighbor). */
  val q214NprobeSweep: QueryDef = sql(
    "q214_nprobe_sweep",
    s"""$kmeansSqlPrefix,
       |route AS (SELECT vec_id AS query_id, cid,
       |            ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS crank
       |          FROM d3 WHERE vec_id % 100 = 0),
       |grid AS (SELECT unnest([1, 2, 4]) AS nprobe),
       |routes AS (SELECT r.query_id, r.cid, g.nprobe FROM route r, grid g
       |           WHERE r.crank <= g.nprobe),
       |n AS (SELECT vec_id, embedding,
       |        SQRT(${dotSql("embedding", "embedding")}) AS nrm
       |      FROM embeddings),
       |qe AS (SELECT vec_id AS query_id, embedding AS qv2, nrm AS qn FROM n
       |       WHERE vec_id % 100 = 0),
       |cand AS (SELECT ro.nprobe, ro.query_id, n.vec_id,
       |           ${dotSql("n.embedding", "q.qv2")} / (n.nrm * q.qn) AS cosine
       |         FROM n JOIN a3 a ON a.vec_id = n.vec_id
       |         JOIN routes ro ON ro.cid = a.cid AND n.vec_id <> ro.query_id
       |         JOIN qe q ON q.query_id = ro.query_id),
       |ncand AS (SELECT nprobe, query_id, CAST(COUNT(*) AS BIGINT) AS n_cand
       |          FROM cand GROUP BY 1, 2),
       |served AS (SELECT nprobe, query_id, vec_id FROM (
       |             SELECT nprobe, query_id, vec_id,
       |               ROW_NUMBER() OVER (PARTITION BY nprobe, query_id
       |                 ORDER BY cosine DESC, vec_id) AS rk
       |             FROM cand) WHERE rk <= 10),
       |sc AS (SELECT q.query_id, n.vec_id,
       |         ${dotSql("n.embedding", "q.qv2")} / (n.nrm * q.qn) AS cosine
       |       FROM n JOIN qe q ON n.vec_id <> q.query_id),
       |truth AS (SELECT query_id, vec_id FROM (
       |            SELECT query_id, vec_id,
       |              ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rk
       |            FROM sc) WHERE rk <= 10),
       |hits AS (SELECT s.nprobe, s.query_id, CAST(COUNT(*) AS BIGINT) AS hits
       |         FROM served s JOIN truth t
       |           ON t.query_id = s.query_id AND t.vec_id = s.vec_id
       |         GROUP BY 1, 2),
       |base AS (SELECT g.nprobe, q.query_id FROM grid g, qe q)
       |SELECT CAST(b.nprobe AS BIGINT) AS nprobe, b.query_id,
       |  CAST(COALESCE(nc.n_cand, 0) AS BIGINT) AS n_cand,
       |  CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
       |  CAST(COALESCE(h.hits, 0) * 100000 AS BIGINT) AS recall_micro
       |FROM base b
       |LEFT JOIN ncand nc ON nc.nprobe = b.nprobe AND nc.query_id = b.query_id
       |LEFT JOIN hits h ON h.nprobe = b.nprobe AND h.query_id = b.query_id
       |ORDER BY nprobe, b.query_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    graft.functions.CosineSimilarity.register(s)
    val e = quantizedScan(s, dir)
    val centsF = trainedCentroids(s, dir, k = 8, iters = 2)
    val route = centroidDistances(e.filter(col("vec_id") % 100 === 0), centsF)
      .withColumn("crank", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("cdist"), col("cid"))))
      .select(col("vec_id").as("query_id"), col("cid"), col("crank"))
    val grid = s.range(1).select(explode(expr("array(1, 2, 4)")).as("nprobe"))
    val routes = route.crossJoin(grid).filter(col("crank") <= col("nprobe"))
      .select(col("query_id"), col("cid"), col("nprobe"))
    val emb = Tables.embeddings(s, dir)
    val qe = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv2"))
    val cand = assignToCentroids(e, centsF)
      .select(col("vec_id"), col("embedding"), col("cid"))
      .join(broadcast(routes), "cid")
      .filter(col("vec_id") =!= col("query_id"))
      .join(broadcast(qe), "query_id")
      .withColumn("cosine", expr("cosine_sim_native(embedding, qv2)"))
    val nCand = cand.groupBy(col("nprobe"), col("query_id"))
      .agg(count(lit(1)).as("n_cand"))
    val served = cand.withColumn("rk", row_number().over(
        Window.partitionBy(col("nprobe"), col("query_id"))
          .orderBy(col("cosine").desc, col("vec_id"))))
      .filter(col("rk") <= 10)
      .select(col("nprobe"), col("query_id"), col("vec_id"))
    val truth = emb.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(qe))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", expr("cosine_sim_native(embedding, qv2)"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id"))))
      .filter(col("rk") <= 10)
      .select(col("query_id"), col("vec_id"))
    val hits = served.join(truth, Seq("query_id", "vec_id"))
      .groupBy(col("nprobe"), col("query_id")).agg(count(lit(1)).as("hits"))
    val base = grid.crossJoin(broadcast(qe.select(col("query_id"))))
    base.join(nCand, Seq("nprobe", "query_id"), "left")
      .join(hits, Seq("nprobe", "query_id"), "left")
      .select(col("nprobe").cast("long"), col("query_id"),
        coalesce(col("n_cand"), lit(0L)).cast("long").as("n_cand"),
        coalesce(col("hits"), lit(0L)).cast("long").as("hits"),
        (coalesce(col("hits"), lit(0L)) * 100000L).cast("long").as("recall_micro"))
      .orderBy(col("nprobe"), col("query_id"))
  }

  /** Distance-concentration audit (Beyer et al. ICDT'99 "When is nearest
    * neighbor meaningful?"): the relative contrast (d_max − d_min)/d_min
    * of pairwise distances — as dimensionality concentrates distances,
    * contrast → 0 and EVERY index (IVF, LSH, PQ — q39/q52/q133) loses
    * selectivity, so this one number says whether ANN can work on this
    * embedding space at all. Pairs are a SYSTEMATIC ring sample
    * (vec_id + stride for three strides — the q262 argument: under
    * arbitrary id assignment a stride sample is exchangeable with a
    * random one, and it costs three equi-joins, never an all-pairs
    * predicate). Distances are exact integer squared L2 on micro-
    * quantized vectors via the ordered per-row fold; the median is an
    * order-statistic pick, the contrast one exact-integer division. */
  val q303ContrastAudit: QueryDef = {
    val strides = Seq(1, 7, 49)
    val d2Spark =
      "aggregate(zip_with(aqv, bqv, (x, y) -> (x - y) * (x - y)), 0L, (acc, x) -> acc + x)"
    def d2Sql(a: String, b: String) =
      s"list_reduce(list_transform(range(len($a)), i -> ($a[i+1] - $b[i+1]) * ($a[i+1] - $b[i+1])), (x, y) -> x + y)"
    sql(
      "q303_contrast_audit",
      s"""WITH q AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS qv
         |  FROM embeddings),
         |pairs AS (${strides.map(st =>
             s"""SELECT a.vec_id AS ia, b.vec_id AS ib,
                |    ${d2Sql("a.qv", "b.qv")} AS d2
                |  FROM q a JOIN q b ON b.vec_id = a.vec_id + $st""".stripMargin)
             .mkString("\n  UNION ALL\n")}),
         |r AS (SELECT d2, ROW_NUMBER() OVER (ORDER BY d2, ia, ib) AS rn,
         |        COUNT(*) OVER () AS n FROM pairs),
         |med AS (SELECT d2 AS med_d2 FROM r WHERE rn = (n + 1) // 2),
         |agg AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |    CAST(MIN(d2) AS BIGINT) AS min_d2,
         |    CAST(MIN(CASE WHEN d2 > 0 THEN d2 END) AS BIGINT) AS min_nz_d2,
         |    CAST(MAX(d2) AS BIGINT) AS max_d2,
         |    CAST(SUM(d2) // COUNT(*) AS BIGINT) AS mean_d2,
         |    CAST(COALESCE(SUM(CASE WHEN d2 = 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_zero
         |  FROM pairs)
         |SELECT agg.n_pairs, agg.min_d2, agg.min_nz_d2, CAST(med.med_d2 AS BIGINT) AS med_d2,
         |  agg.mean_d2, agg.max_d2, agg.n_zero,
         |  (agg.max_d2 - agg.min_nz_d2) * 1000000 // agg.min_nz_d2 AS contrast_micro
         |FROM agg, med""".stripMargin) { (s, dir) =>
      val q = quantizeVectors(Tables.embeddings(s, dir))
        .stageBoundary // vector-sized; three join sides
      val pairs = strides.map { st =>
        q.select(col("vec_id").as("ia"), col("qv").as("aqv"))
          .join(q.select((col("vec_id") - st).as("ia"), col("vec_id").as("ib"),
            col("qv").as("bqv")), Seq("ia"))
          .select(col("ia"), col("ib"), expr(d2Spark).as("d2"))
      }.reduce(_ unionAll _)
        .stageBoundary // pair-sized; median AND moment consumers
      // pair-relation median via the block two-pass device (the stride
      // pair set grows with the vector count)
      val nP = pairs.agg(count(lit(1)).cast("long").as("n"))
      val med = BlockRank.globalRowNumberAdaptive(pairs.crossJoin(broadcast(nP)),
          col("d2"), asc = true, Seq(col("d2").asc, col("ia").asc, col("ib").asc), "rn")
        .filter(col("rn") === expr("(n + 1) div 2"))
        .select(col("d2").as("med_d2"))
      val agg = pairs.agg(count(lit(1)).as("n_pairs"), min(col("d2")).as("min_d2"),
        min(when(col("d2") > 0L, col("d2"))).as("min_nz_d2"),
        max(col("d2")).as("max_d2"),
        expr("CAST(SUM(d2) DIV COUNT(*) AS BIGINT)").as("mean_d2"),
        coalesce(sum(when(col("d2") === 0L, 1L).otherwise(0L)), lit(0L)).as("n_zero"))
      agg.crossJoin(broadcast(med))
        .select(col("n_pairs"), col("min_d2"), col("min_nz_d2"), col("med_d2"),
          col("mean_d2"), col("max_d2"), col("n_zero"),
          expr("(max_d2 - min_nz_d2) * 1000000L DIV min_nz_d2").as("contrast_micro"))
    }
  }

  /** Scalar-quantization recall audit: recall@10 of the q61 8-bit
    * (min/scale dequantized) cosine ranking against the exact float
    * ranking, for every 97th vector as the query — the acceptance
    * number a compressed serving index ships with (q214 prices the IVF
    * ROUTING loss; this prices the CODE loss — the two compound at
    * serving time and deserve separate dials). Both rankings break
    * ties on vec_id, overlap is an exact integer count, recall lands
    * in micro-units. Per-query work is a query-partitioned window —
    * fully parallel; the brute-force legs are the audit's POINT (they
    * are the ground truth) and run over a 1/97 query sample, so the
    * cost is (N/97)·N dot products, not N² — at production N the same
    * audit runs against the persisted IVF candidates instead of the
    * full cross product, as q214 does. */
  val q374QuantizationRecall: QueryDef = sql(
    "q374_quantization_recall",
    s"""WITH ${withNormSql()},
       |$quantizedSql,
       |dq AS (SELECT vec_id, mn, scale, codes,
       |    SQRT(list_reduce(list_transform(range(len(codes)), i ->
       |      (mn + CAST(codes[i+1] AS DOUBLE) * scale) * (mn + CAST(codes[i+1] AS DOUBLE) * scale)),
       |      (a, x) -> a + x)) AS dnrm
       |  FROM quant),
       |qs AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qn FROM n WHERE vec_id % 97 = 0),
       |ex AS (SELECT qid, vec_id FROM (
       |    SELECT qs.qid, n.vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY qs.qid
       |        ORDER BY ${dotSql("n.embedding", "qs.qe")} / (n.nrm * qs.qn) DESC, n.vec_id) AS rn
       |    FROM n JOIN qs ON n.vec_id <> qs.qid) WHERE rn <= 10),
       |qq AS (SELECT vec_id AS qid, mn AS qmn, scale AS qsc, codes AS qc, dnrm AS qdn
       |  FROM dq WHERE vec_id % 97 = 0),
       |qx AS (SELECT qid, vec_id FROM (
       |    SELECT qq.qid, v.vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY qq.qid
       |        ORDER BY list_reduce(list_transform(range(len(v.codes)), i ->
       |            (v.mn + CAST(v.codes[i+1] AS DOUBLE) * v.scale) * (qq.qmn + CAST(qq.qc[i+1] AS DOUBLE) * qq.qsc)),
       |          (a, x) -> a + x) / (v.dnrm * qq.qdn) DESC, v.vec_id) AS rn
       |    FROM dq v JOIN qq ON v.vec_id <> qq.qid) WHERE rn <= 10),
       |ov AS (SELECT ex.qid, CAST(COUNT(*) AS BIGINT) AS n_overlap
       |  FROM ex JOIN qx ON qx.qid = ex.qid AND qx.vec_id = ex.vec_id GROUP BY 1)
       |SELECT qs.qid AS query_vec, CAST(COALESCE(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
       |  CAST(COALESCE(ov.n_overlap, 0) * 100000 AS BIGINT) AS recall_micro
       |FROM qs LEFT JOIN ov ON ov.qid = qs.qid
       |ORDER BY query_vec""".stripMargin) { (s, dir) =>
    val n = withNorm(s, dir).cachedStageBoundary
    val qs = n.filter(col("vec_id") % 97 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("nrm").as("qn"))
    val byQ = Window.partitionBy(col("qid"))
    val ex = n.join(broadcast(qs), n("vec_id") =!= qs("qid"))
      .select(col("qid"), col("vec_id"),
        (dot("embedding", "qe") / (col("nrm") * col("qn"))).as("cos"))
      .withColumn("rn", row_number().over(byQ.orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rn") <= 10).select(col("qid"), col("vec_id"))
    val dqNorm = expr(
      """SQRT(aggregate(transform(codes, p ->
        |  (mn + CAST(p AS DOUBLE) * scale) * (mn + CAST(p AS DOUBLE) * scale)),
        |CAST(0 AS DOUBLE), (a, x) -> a + x))""".stripMargin)
    val dq = quantized(s, dir).withColumn("dnrm", dqNorm).cachedStageBoundary
    val qq = dq.filter(col("vec_id") % 97 === 0)
      .select(col("vec_id").as("qid"), col("mn").as("qmn"), col("scale").as("qsc"),
        col("codes").as("qc"), col("dnrm").as("qdn"))
    val dotq = expr(
      """aggregate(zip_with(codes, qc, (p, q) ->
        |  (mn + CAST(p AS DOUBLE) * scale) * (qmn + CAST(q AS DOUBLE) * qsc)),
        |CAST(0 AS DOUBLE), (a, x) -> a + x)""".stripMargin)
    val qx = dq.join(broadcast(qq), dq("vec_id") =!= qq("qid"))
      .select(col("qid"), col("vec_id"), (dotq / (col("dnrm") * col("qdn"))).as("qcos"))
      .withColumn("rn", row_number().over(byQ.orderBy(col("qcos").desc, col("vec_id"))))
      .filter(col("rn") <= 10).select(col("qid"), col("vec_id"))
    val ov = ex.join(qx, Seq("qid", "vec_id")).groupBy(col("qid"))
      .agg(count(lit(1)).as("n_overlap"))
    qs.select(col("qid")).join(ov, Seq("qid"), "left")
      .select(col("qid").as("query_vec"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)) * 100000L).as("recall_micro"))
      .orderBy(col("query_vec"))
  }

  val all: Seq[QueryDef] = Seq(
    q374QuantizationRecall,
    q303ContrastAudit,
    q36ArrayNorms, q37EmbeddingNeardup, q38AnnBruteforce, q39AnnIvf,
    q45AnnNative, q52AnnLsh, q61AnnQuantized, q119KmeansTrain,
    q120AnnIvfTrained, q122SemanticDedup, q125SemdedupCentroid,
    q131HardNegatives, q133PqAdc, q135HardNegativesIvf, q138GramMatrix,
    q140KnnClassify, q146PcaPower, q147MmrRerank, q152KnnClassifyIvf,
    q154JlAnn, q160JlIvf, q162IndexDrift, q166RagServe, q171PqRerank,
    q178Hubness, q179EmbeddingStats, q180Silhouette, q190KcenterCoreset,
    q191MultiprobeLsh, q196SemanticDecontam, q199TruncationAudit,
    q214NprobeSweep)
}
