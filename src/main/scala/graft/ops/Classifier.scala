package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{StateStore, Tables}

/** Model-based quality/domain classification — the trainable filter of a
  * pretraining curation pipeline (the GPT-3 / LLaMA "quality classifier"
  * step: score every document against a small labeled set, keep the
  * high-scoring tail). The model is a linear classifier over hashed
  * bag-of-words features (the fastText recipe) trained with the BATCH
  * perceptron rule, which keeps every quantity an exact integer:
  * weights, margins, and updates are sums of ±token-counts, so the whole
  * training trajectory — not just the served scores — hash-verifies
  * against an unrolled cross-engine oracle (the q119 k-means device
  * applied to supervised learning).
  *
  * Scale posture (100 TB): features are one explode + one
  * (doc_id, dim)-keyed map-side-combined count; each training round is
  * one broadcast join (weights are DIMS+1 rows — fixed, tiny) + one
  * doc-keyed agg + one dim-keyed agg over the persisted feature
  * relation; the per-round driver collect is DIMS+1 rows by
  * construction (bounded like the q114 hot-key probe, unlike the
  * corpus-growing k-means k that moved to a pure-relation path).
  * Serving is embarrassingly parallel: broadcast weights, one agg. */
object Classifier {
  import QueryDef.sql

  /** Hashed feature dimensionality; dim [[Dims]] itself is the bias. */
  val Dims = 32

  /** Hashed bag-of-words features of a (doc_id, text) frame:
    * (doc_id, dim, cnt) token counts per md5-hash bucket, plus a
    * constant bias feature at dim = `dims` so the learned separator
    * need not pass through the origin. The md5-prefix bucket is the
    * q62/q118 cross-engine device — both engines hash identically. */
  def hashedFeatures(docs: DataFrame, dims: Int = Dims): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
    toks.select(col("doc_id"),
        expr(s"CAST(conv(substring(md5(word), 1, 8), 16, 10) AS BIGINT) % $dims").as("dim"))
      .groupBy(col("doc_id"), col("dim")).agg(count(lit(1)).as("cnt"))
      .unionByName(docs.select(col("doc_id"), lit(dims.toLong).as("dim"), lit(1L).as("cnt")))
  }

  /** Margins w·x for every doc in `feats` under a (dim, w) weight
    * relation: one broadcast join + one doc-keyed aggregate. */
  def perceptronScore(feats: DataFrame, weights: DataFrame): DataFrame =
    feats.join(broadcast(weights), Seq("dim"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(coalesce(col("w"), lit(0L)) * col("cnt")).as("margin"))

  /** Batch-perceptron training: starting from w = 0, each round adds
    * Σ y·x over the docs the current weights misclassify
    * (y·(w·x) <= 0 — so round one updates on every doc). Deterministic
    * and exactly reproducible: no learning rate, no shuffling, no
    * floats. `labels` is (doc_id, y) with y ∈ {+1, -1}. Returns the
    * (dim, w) weight relation, every dim present. */
  def perceptronTrain(feats: DataFrame, labels: DataFrame, rounds: Int,
                      dims: Int = Dims): DataFrame =
    perceptronTrajectory(feats, labels, rounds, dims).lastOption
      .getOrElse(weightsDf(feats.sparkSession, Map.empty, dims))

  /** The training TRAJECTORY of [[perceptronTrain]]: the (dim, w)
    * relation after EACH round (index r-1 = weights after r rounds) —
    * q380's data map scores the corpus under every prefix of the run.
    * Same loop, same updates; weights stay DIMS-bounded driver maps. */
  private[graft] def perceptronTrajectory(
      feats: DataFrame, labels: DataFrame, rounds: Int,
      dims: Int = Dims): Seq[DataFrame] = {
    val s = feats.sparkSession
    var w = Map.empty[Long, Long]
    val out = Seq.newBuilder[DataFrame]
    for (_ <- 1 to rounds) {
      val mis = perceptronScore(feats, weightsDf(s, w, dims))
        .join(labels, "doc_id")
        .filter(col("y") * col("margin") <= 0)
        .select(col("doc_id"), col("y"))
      val upd = feats.join(mis, "doc_id")
        .groupBy(col("dim")).agg(sum(col("y") * col("cnt")).as("dw"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      w = (w.keySet ++ upd.keySet)
        .map(d => d -> (w.getOrElse(d, 0L) + upd.getOrElse(d, 0L))).toMap
      out += weightsDf(s, w, dims)
    }
    out.result()
  }

  private def weightsDf(s: SparkSession, w: Map[Long, Long], dims: Int): DataFrame = {
    import s.implicits._
    (0L to dims.toLong).map(d => (d, w.getOrElse(d, 0L))).toDF("dim", "w")
  }

  /** The fixture-task (y = +1 ⇔ lang = 'en') training inputs every
    * classifier face shares: fanned-out docs, hashed features, labels. */
  private def taskInputs(s: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) = {
    val docs = Tables.fanOut(Tables.documents(s, dir))
    val feats = hashedFeatures(docs)
    val labels = docs.select(col("doc_id"),
      when(col("lang") === "en", 1L).otherwise(-1L).as("y"))
    (docs, feats, labels)
  }

  /** TRAIN-ONCE / SERVE-MANY weights for the fixture task
    * ([[graft.sources.StateStore]] keyed by the content of
    * (doc_id, lang, text) — the q136 postings-index device applied to
    * model state): the first classifier-family query to run trains the
    * 3-round perceptron and PUBLISHES the (dim, w) relation; q127/q182/
    * q193/q208/q221 then read one 33-row parquet instead of each
    * re-paying three corpus passes of training (~15 redundant corpus
    * passes per pipeline run at 100 TB). A changed corpus — text OR
    * label column — changes the fingerprint, so stale weights are never
    * looked up. PerceptronSpec pins read-state ≡ retrain. */
  private[graft] def trainedTaskWeights(s: SparkSession, dir: String): DataFrame = {
    val (docs, feats, labels) = taskInputs(s, dir)
    // lang feeds the labels, so it must be inside the key
    val key = StateStore.key("perceptron_en_v1",
      docs.select(col("doc_id"), col("lang"), col("text")))
    StateStore.parquet(s, key, "weights") {
      val pinned = feats.cachedStageBoundary
      val w = perceptronTrain(pinned, labels, rounds = 3)
      pinned.unpersist() // weights are DIMS+1 driver-local rows by now
      Seq(w)
    }.head
  }

  /** Served corpus under the persisted weights: (doc_id, y, margin) —
    * the one corpus pass (featurize + broadcast-join + agg) every
    * family face starts from. Materialized EAGERLY (r10 optimization):
    * the calibration/Brier/label-noise faces reference this relation
    * 3-6 times (BlockRank's stats + offsets + rank join, plus their own
    * total aggregates), and without a truncation point each reference
    * both re-embedded the full featurize-serve lineage in the plan
    * (q208's plan reached 184 parquet scans / 4.8k lines — guide §7.3's
    * huge-plan mode) and re-ran the serving pass at execution. One
    * localCheckpoint = one serving pass, doc-count-sized state,
    * downstream plans see a LogicalRDD. */
  private def servedMargins(s: SparkSession, dir: String): DataFrame = {
    val (_, feats, labels) = taskInputs(s, dir)
    perceptronScore(feats, trainedTaskWeights(s, dir)).join(labels, "doc_id")
      .stageBoundary
  }

  /** Contract face: train 3 rounds on the whole fixture with y = +1 ⇔
    * lang = 'en' (the fastText language-ID task over hashed
    * bag-of-words), then serve the trained weights back over the
    * training set — (doc_id, y, margin, pred). Margins are exact
    * integers, so the hash pins every weight of every round: one
    * misclassification decided differently anywhere in the trajectory
    * shifts some final margin. */
  val q127Perceptron: QueryDef = sql(
    "q127_perceptron",
    s"""WITH $trainedMarginsSql
       |SELECT l.doc_id, CAST(l.y AS BIGINT) AS y, mf.margin,
       |  CAST(CASE WHEN mf.margin > 0 THEN 1 ELSE -1 END AS BIGINT) AS pred
       |FROM lab l JOIN mf USING (doc_id)
       |ORDER BY l.doc_id""".stripMargin) { (s, dir) =>
    servedMargins(s, dir)
      .select(col("doc_id"), col("y"), col("margin"),
        when(col("margin") > 0, 1L).otherwise(-1L).as("pred"))
      .orderBy(col("doc_id"))
  }

  /** Shared oracle prefix: q127's unrolled 3-round training chain ending
    * at final margins `mf` and labels `lab` (lazy: q127's val
    * initializes before this declaration in source order). */
  private[ops] lazy val trainedMarginsSql =
    """toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
      |hf AS (
      |  SELECT doc_id, CAST(('0x' || substr(md5(word), 1, 8)) AS BIGINT) % 32 AS dim,
      |         CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM toks GROUP BY 1, 2
      |  UNION ALL
      |  SELECT doc_id, 32 AS dim, 1 AS cnt FROM documents),
      |lab AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y
      |        FROM documents),
      |w1 AS (SELECT f.dim, CAST(SUM(l.y * f.cnt) AS BIGINT) AS w
      |       FROM hf f JOIN lab l USING (doc_id) GROUP BY 1),
      |m2 AS (SELECT f.doc_id, CAST(SUM(COALESCE(w1.w, 0) * f.cnt) AS BIGINT) AS margin
      |       FROM hf f LEFT JOIN w1 USING (dim) GROUP BY 1),
      |u2 AS (SELECT f.dim, CAST(SUM(l.y * f.cnt) AS BIGINT) AS dw
      |       FROM hf f JOIN lab l USING (doc_id) JOIN m2 USING (doc_id)
      |       WHERE l.y * m2.margin <= 0 GROUP BY 1),
      |w2 AS (SELECT COALESCE(w1.dim, u2.dim) AS dim,
      |              COALESCE(w1.w, 0) + COALESCE(u2.dw, 0) AS w
      |       FROM w1 FULL JOIN u2 ON w1.dim = u2.dim),
      |m3 AS (SELECT f.doc_id, CAST(SUM(COALESCE(w2.w, 0) * f.cnt) AS BIGINT) AS margin
      |       FROM hf f LEFT JOIN w2 USING (dim) GROUP BY 1),
      |u3 AS (SELECT f.dim, CAST(SUM(l.y * f.cnt) AS BIGINT) AS dw
      |       FROM hf f JOIN lab l USING (doc_id) JOIN m3 USING (doc_id)
      |       WHERE l.y * m3.margin <= 0 GROUP BY 1),
      |w3 AS (SELECT COALESCE(w2.dim, u3.dim) AS dim,
      |              COALESCE(w2.w, 0) + COALESCE(u3.dw, 0) AS w
      |       FROM w2 FULL JOIN u3 ON w2.dim = u3.dim),
      |mf AS (SELECT f.doc_id, CAST(SUM(COALESCE(w3.w, 0) * f.cnt) AS BIGINT) AS margin
      |       FROM hf f LEFT JOIN w3 USING (dim) GROUP BY 1)""".stripMargin

  /** Classifier calibration audit — the reliability diagram a quality
    * filter owner reads before picking a keep threshold (Niculescu-Mizil
    * & Caruana, ICML'05: raw margins are NOT probabilities; what matters
    * for thresholding is whether the positive rate rises monotonically
    * with the score): bucket the served corpus into margin DECILES
    * (NTILE over the exact integer margin, doc_id tie-break — a total
    * order, so bucket membership hash-verifies) and report each decile's
    * size, exact positive rate, accuracy, and floor-mean margin.
    * Completes the classifier lifecycle: q127 trains and serves, this
    * audits the served scores against truth.
    *
    * Scale posture: everything after q127's own serving pass is the
    * corpus-wide decile assignment, which rides [[BlockRank]]'s
    * two-pass exact rank (NTILE reconstructed arithmetically — no
    * single-partition sort at any corpus size) plus a 10-row
    * aggregate. */
  val q182Calibration: QueryDef = sql(
    "q182_calibration",
    s"""WITH $trainedMarginsSql,
       |served AS (SELECT l.doc_id, l.y, mf.margin,
       |             NTILE(10) OVER (ORDER BY mf.margin, l.doc_id) AS decile
       |           FROM lab l JOIN mf USING (doc_id))
       |SELECT CAST(decile AS BIGINT) AS decile, COUNT(*) AS n,
       |  CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       |  CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT) AS pos_rate_micro,
       |  CAST(SUM(CASE WHEN (margin > 0) = (y = 1) THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT) AS acc_micro,
       |  CAST(FLOOR(CAST(SUM(margin) AS DOUBLE) / COUNT(*)) AS BIGINT) AS mean_margin
       |FROM served
       |GROUP BY 1
       |ORDER BY decile""".stripMargin) { (s, dir) =>
    val served0 = servedMargins(s, dir)
    val nAll = served0.agg(count(lit(1)).cast("long").as("n_all"))
    val served = BlockRank.globalRowNumberAdaptive(
        served0.crossJoin(broadcast(nAll)), col("margin"), asc = true,
        Seq(col("margin").asc, col("doc_id").asc), "rk")
      .withColumn("decile", BlockRank.ntileFromRank("rk", "n_all", 10).cast("long"))
    served.groupBy(col("decile"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("y") === 1L, 1L).otherwise(0L)).as("n_pos"),
        expr("SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) * 1000000L DIV COUNT(*)").as("pos_rate_micro"),
        expr("SUM(CASE WHEN (margin > 0) = (y = 1) THEN 1 ELSE 0 END) * 1000000L DIV COUNT(*)").as("acc_micro"),
        expr("CAST(FLOOR(CAST(SUM(margin) AS DOUBLE) / COUNT(*)) AS BIGINT)").as("mean_margin"))
      .orderBy(col("decile"))
  }

  /** Split-conformal prediction sets (Vovk et al. 2005; Papadopoulos
    * 2002's inductive variant — the distribution-free coverage
    * guarantee that turned model scores into calibrated SETS): hold
    * out a calibration split (doc_id even), compute each calibration
    * doc's nonconformity −y·margin, take τ = the ⌈0.9·(n+1)⌉-th
    * smallest (an EXACT integer order statistic of exact integer
    * margins — rank and threshold hash-verify), and for every test doc
    * emit which labels the set {y : −y·margin ≤ τ} contains. By the
    * exchangeability argument the true label lands in the set with
    * probability ≥ 90% — the audit a filter owner runs to know how
    * often "uncertain, keep both" happens (set_size 2) versus
    * confident singletons. Completes the classifier lifecycle's
    * uncertainty face beside q182's calibration deciles.
    *
    * Scale posture: q127's serving pass + one calibration-split rank
    * ([[BlockRank]]'s two-pass device — the calibration half is
    * corpus-proportional) + a scan-level set decision against the
    * broadcast scalar τ. */
  val q193Conformal: QueryDef = sql(
    "q193_conformal",
    s"""WITH $trainedMarginsSql,
       |served AS (SELECT l.doc_id, l.y, mf.margin FROM lab l JOIN mf USING (doc_id)),
       |cal AS (SELECT doc_id, -y * margin AS score FROM served WHERE doc_id % 2 = 0),
       |n AS (SELECT COUNT(*) AS n FROM cal),
       |kth AS (SELECT score AS tau FROM (
       |          SELECT score, ROW_NUMBER() OVER (ORDER BY score, doc_id) AS rn FROM cal),
       |          n
       |        WHERE rn = (9 * (n.n + 1) + 9) // 10)
       |SELECT s.doc_id, CAST(s.y AS BIGINT) AS y, s.margin,
       |  (-s.margin <= k.tau) AS in_set_pos,
       |  (s.margin <= k.tau) AS in_set_neg,
       |  (CASE WHEN s.y = 1 THEN -s.margin ELSE s.margin END <= k.tau) AS covered,
       |  CAST((CASE WHEN -s.margin <= k.tau THEN 1 ELSE 0 END)
       |     + (CASE WHEN s.margin <= k.tau THEN 1 ELSE 0 END) AS BIGINT) AS set_size
       |FROM served s, kth k
       |WHERE s.doc_id % 2 = 1
       |ORDER BY s.doc_id""".stripMargin) { (s, dir) =>
    val served = servedMargins(s, dir).cachedStageBoundary
    val cal = served.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), (-col("y") * col("margin")).as("score"))
    val n = cal.count()
    val k = (9 * (n + 1) + 9) / 10
    // calibration-half order statistic via the block two-pass rank —
    // the calibration split is corpus-proportional, never a
    // single-partition sort
    val tau = BlockRank.globalRowNumberAdaptive(cal, col("score"), asc = true,
        Seq(col("score").asc, col("doc_id").asc), "rn")
      .filter(col("rn") === k).select(col("score").as("tau"))
    served.filter(col("doc_id") % 2 === 1)
      .crossJoin(broadcast(tau))
      .select(col("doc_id"), col("y"), col("margin"),
        (-col("margin") <= col("tau")).as("in_set_pos"),
        (col("margin") <= col("tau")).as("in_set_neg"),
        (when(col("y") === 1L, -col("margin")).otherwise(col("margin")) <= col("tau")).as("covered"),
        (when(-col("margin") <= col("tau"), 1L).otherwise(0L) +
          when(col("margin") <= col("tau"), 1L).otherwise(0L)).as("set_size"))
      .orderBy(col("doc_id"))
  }

  /** Inter-annotator agreement by Cohen's kappa (Cohen 1960, Educ.
    * Psychol. Meas. — the chance-corrected agreement statistic every
    * labeling campaign reports before its labels are trusted as
    * training data; Artstein & Poesio CL'08 survey the practice). Two
    * deterministic synthetic annotators label each doc into 3 classes:
    * A is an md5-derived class, B copies A 70 % of the time and
    * otherwise draws its own md5 class — the same device the repo's
    * samplers use, so both engines derive identical label tables.
    * κ = (p_o − p_e)/(1 − p_e) reduces over the contingency marginals
    * to (N·A − Σ_k n_aᵏ·n_bᵏ)/(N² − Σ_k n_aᵏ·n_bᵏ): numerator and
    * denominator are exact BIGINTs (N ≤ 3·10⁹ before N² needs the
    * double-of-exact-ints form), so κ is ONE exactly-rounded IEEE
    * division. Emitted per class with the shared κ so each class's
    * marginals are individually auditable.
    *
    * Scale posture: labels are scan-level expressions; the contingency
    * table is a 3-class hash aggregate; everything after is
    * 3-row arithmetic. One corpus scan, one tiny shuffle. */
  val q203AnnotatorKappa: QueryDef = sql(
    "q203_annotator_kappa",
    """WITH ann AS (
      |  SELECT doc_id,
      |    CAST(('0x' || substr(md5('ann_a:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 3 AS a,
      |    CASE WHEN CAST(('0x' || substr(md5('ann_b:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10 < 7
      |         THEN CAST(('0x' || substr(md5('ann_a:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 3
      |         ELSE CAST(('0x' || substr(md5('ann_b:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 3
      |    END AS b
      |  FROM documents),
      |ca AS (SELECT a AS label, COUNT(*) AS n_a FROM ann GROUP BY 1),
      |cb AS (SELECT b AS label, COUNT(*) AS n_b FROM ann GROUP BY 1),
      |cg AS (SELECT a AS label, COUNT(*) AS n_agree FROM ann WHERE a = b GROUP BY 1),
      |cls AS (SELECT COALESCE(ca.label, cb.label) AS label,
      |          COALESCE(ca.n_a, 0) AS n_a, COALESCE(cb.n_b, 0) AS n_b,
      |          COALESCE(cg.n_agree, 0) AS n_agree
      |        FROM ca FULL JOIN cb ON cb.label = ca.label
      |          LEFT JOIN cg ON cg.label = COALESCE(ca.label, cb.label)),
      |tot AS (SELECT CAST(SUM(n_a) AS BIGINT) AS n,
      |          CAST(SUM(n_agree) AS BIGINT) AS agree,
      |          CAST(SUM(n_a * n_b) AS BIGINT) AS pe_num
      |        FROM cls)
      |SELECT CAST(cls.label AS BIGINT) AS label,
      |  CAST(cls.n_a AS BIGINT) AS n_a, CAST(cls.n_b AS BIGINT) AS n_b,
      |  CAST(cls.n_agree AS BIGINT) AS n_agree,
      |  tot.n AS n_total,
      |  CAST(tot.n * tot.agree - tot.pe_num AS DOUBLE)
      |    / CAST(tot.n * tot.n - tot.pe_num AS DOUBLE) AS kappa
      |FROM cls, tot
      |ORDER BY label""".stripMargin) { (s, dir) =>
    val ha = expr("CAST(conv(substring(md5(concat('ann_a:', CAST(doc_id AS STRING))), 1, 8), 16, 10) AS BIGINT)")
    val hb = expr("CAST(conv(substring(md5(concat('ann_b:', CAST(doc_id AS STRING))), 1, 8), 16, 10) AS BIGINT)")
    val ann = Tables.documents(s, dir).select(col("doc_id"))
      .select((ha % 3).as("a"),
        when(hb % 10 < 7, ha % 3).otherwise(hb % 3).as("b"))
    val ca = ann.groupBy(col("a").as("label")).agg(count(lit(1)).as("n_a"))
    val cb = ann.groupBy(col("b").as("label")).agg(count(lit(1)).as("n_b"))
    val cg = ann.filter(col("a") === col("b"))
      .groupBy(col("a").as("label")).agg(count(lit(1)).as("n_agree"))
    val cls = ca.join(cb, Seq("label"), "full_outer")
      .join(cg, Seq("label"), "left")
      .select(col("label"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"),
        coalesce(col("n_agree"), lit(0L)).as("n_agree"))
    val tot = cls.agg(
      sum(col("n_a")).cast("long").as("n"),
      sum(col("n_agree")).cast("long").as("agree"),
      sum(col("n_a") * col("n_b")).cast("long").as("pe_num"))
    cls.crossJoin(broadcast(tot))
      .select(col("label").cast("long"), col("n_a"), col("n_b"), col("n_agree"),
        col("n").as("n_total"),
        ((col("n") * col("agree") - col("pe_num")).cast("double") /
          (col("n") * col("n") - col("pe_num")).cast("double")).as("kappa"))
      .orderBy(col("label"))
  }

  /** Label-noise audit (the confident-learning idea — Northcutt, Jiang
    * & Chuang, JAIR'21: examples the model contradicts WITH HIGH
    * confidence are the mislabel candidates; low-confidence
    * disagreements are just hard examples): serve q127's trained
    * margins, take the confidence bar τ = the 75th-percentile |margin|
    * over the served corpus (an EXACT integer order statistic, q193's
    * rank device), and emit every doc whose label disagrees with its
    * prediction at |margin| ≥ τ, ranked most-confident-first. This is
    * the review queue a labeling owner actually triages — bounded,
    * ordered, and reproducible — rather than a score dump.
    *
    * Scale posture: q127's serving pass; BOTH rank windows (the τ
    * order statistic over the served corpus and the review-queue rank
    * over the suspects) run through [[BlockRank]]'s two-pass device,
    * so no corpus-proportional relation ever plans a single-partition
    * WindowExec (pinned in `PlanSpec`); plus a scan-level filter
    * against the broadcast scalar τ. */
  val q208LabelNoise: QueryDef = sql(
    "q208_label_noise",
    s"""WITH $trainedMarginsSql,
       |served AS (SELECT l.doc_id, l.y, mf.margin,
       |             ABS(mf.margin) AS abs_margin
       |           FROM lab l JOIN mf USING (doc_id)),
       |n AS (SELECT COUNT(*) AS n FROM served),
       |kth AS (SELECT abs_margin AS tau FROM (
       |          SELECT abs_margin, ROW_NUMBER() OVER (ORDER BY abs_margin, doc_id) AS rn
       |          FROM served), n
       |        WHERE rn = (3 * (n.n + 1)) // 4)
       |SELECT s.doc_id, CAST(s.y AS BIGINT) AS y, s.margin, s.abs_margin,
       |  CAST(ROW_NUMBER() OVER (ORDER BY s.abs_margin DESC, s.doc_id) AS BIGINT) AS noise_rank
       |FROM served s, kth k
       |WHERE s.y * s.margin < 0 AND s.abs_margin >= k.tau
       |ORDER BY noise_rank""".stripMargin) { (s, dir) =>
    val served = servedMargins(s, dir)
      .withColumn("abs_margin", abs(col("margin")))
    val n = served.agg(count(lit(1)).as("n"))
    val kth = BlockRank.globalRowNumberAdaptive(
        served, col("abs_margin"), asc = true,
        Seq(col("abs_margin").asc, col("doc_id").asc), "rn")
      .crossJoin(broadcast(n))
      .filter(col("rn") === expr("(3 * (n + 1)) div 4"))
      .select(col("abs_margin").as("tau"))
    val suspects = served.crossJoin(broadcast(kth))
      .filter(col("y") * col("margin") < 0 && col("abs_margin") >= col("tau"))
    BlockRank.globalRowNumberAdaptive(
        suspects, col("abs_margin"), asc = false,
        Seq(col("abs_margin").desc, col("doc_id").asc), "noise_rank")
      .select(col("doc_id"), col("y"), col("margin"), col("abs_margin"), col("noise_rank"))
      .orderBy(col("noise_rank"))
  }

  /** Calibration error and Brier decomposition over the margin deciles
    * (Murphy JAM'73's REL − RES + UNC partition; Naeini et al. AAAI'15's
    * ECE; the decile forecast f_k = (2k−1)/20 asks "does the score's
    * RANK track the positive rate?" — the quantile-calibration question
    * q182's raw table leaves to the reader): per decile the forecast,
    * the exact positive rate, and their gap; plus the corpus constants
    * ECE = Σn_k·|f_k−p_k|/N, REL = Σn_k(f_k−p_k)²/N, RES =
    * Σn_k(p_k−p̄)²/N, UNC = p̄(1−p̄) and Brier = REL − RES + UNC. All
    * arithmetic is exact milli/micro floor-integers from exact counts —
    * squares of millis are micros, no floats anywhere.
    *
    * Shape: q182's serving pass + the block two-pass decile assignment
    * ([[BlockRank]], no single-partition sort) + a 10-row aggregate and
    * broadcast constants — nothing new at corpus scale. */
  val q221BrierDecomp: QueryDef = sql(
    "q221_brier_decomp",
    s"""WITH $trainedMarginsSql,
       |served AS (SELECT l.doc_id, l.y,
       |             NTILE(10) OVER (ORDER BY mf.margin, l.doc_id) AS decile
       |           FROM lab l JOIN mf USING (doc_id)),
       |d AS (SELECT decile, CAST(COUNT(*) AS BIGINT) AS n,
       |        CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       |        CAST((2 * decile - 1) * 50 AS BIGINT) AS f_milli,
       |        CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) * 1000 // COUNT(*) AS BIGINT) AS p_milli
       |      FROM served GROUP BY 1),
       |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn,
       |          CAST((SUM(n_pos) * 1000) // SUM(n) AS BIGINT) AS pbar_milli
       |        FROM d),
       |c AS (SELECT
       |        CAST(SUM(d.n * ABS(d.f_milli - d.p_milli)) // tot.nn AS BIGINT) AS ece_milli,
       |        CAST(SUM(d.n * (d.f_milli - d.p_milli) * (d.f_milli - d.p_milli)) // tot.nn AS BIGINT) AS rel_micro,
       |        CAST(SUM(d.n * (d.p_milli - tot.pbar_milli) * (d.p_milli - tot.pbar_milli)) // tot.nn AS BIGINT) AS res_micro,
       |        CAST(tot.pbar_milli * (1000 - tot.pbar_milli) // 1000 AS BIGINT) AS unc_micro
       |      FROM d, tot GROUP BY tot.nn, tot.pbar_milli)
       |SELECT CAST(d.decile AS BIGINT) AS decile, d.n, d.n_pos,
       |  d.f_milli, d.p_milli,
       |  CAST(ABS(d.f_milli - d.p_milli) AS BIGINT) AS gap_milli,
       |  c.ece_milli, c.rel_micro, c.res_micro, c.unc_micro,
       |  CAST(c.rel_micro - c.res_micro + c.unc_micro AS BIGINT) AS brier_micro
       |FROM d, c
       |ORDER BY decile""".stripMargin) { (s, dir) =>
    val served0 = servedMargins(s, dir)
    val nAll = served0.agg(count(lit(1)).cast("long").as("n_all"))
    val served = BlockRank.globalRowNumberAdaptive(
        served0.crossJoin(broadcast(nAll)), col("margin"), asc = true,
        Seq(col("margin").asc, col("doc_id").asc), "rk")
      .withColumn("decile", BlockRank.ntileFromRank("rk", "n_all", 10).cast("long"))
    val d = served.groupBy(col("decile"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("y") === 1L, 1L).otherwise(0L)).as("n_pos"))
      .select(col("decile"), col("n"), col("n_pos"),
        ((lit(2) * col("decile") - 1) * 50).cast("long").as("f_milli"),
        expr("CAST(n_pos * 1000 div n AS BIGINT)").as("p_milli"))
    val tot = d.agg(sum(col("n")).as("nn"),
      expr("CAST((SUM(n_pos) * 1000) div SUM(n) AS BIGINT)").as("pbar_milli"))
    val c = d.crossJoin(broadcast(tot))
      .agg(
        expr("CAST(SUM(n * ABS(f_milli - p_milli)) div MAX(nn) AS BIGINT)").as("ece_milli"),
        expr("CAST(SUM(n * (f_milli - p_milli) * (f_milli - p_milli)) div MAX(nn) AS BIGINT)").as("rel_micro"),
        expr("CAST(SUM(n * (p_milli - pbar_milli) * (p_milli - pbar_milli)) div MAX(nn) AS BIGINT)").as("res_micro"),
        expr("CAST(MAX(pbar_milli) * (1000 - MAX(pbar_milli)) div 1000 AS BIGINT)").as("unc_micro"))
    d.crossJoin(broadcast(c))
      .select(col("decile"), col("n"), col("n_pos"), col("f_milli"), col("p_milli"),
        abs(col("f_milli") - col("p_milli")).cast("long").as("gap_milli"),
        col("ece_milli"), col("rel_micro"), col("res_micro"), col("unc_micro"),
        (col("rel_micro") - col("res_micro") + col("unc_micro")).cast("long").as("brier_micro"))
      .orderBy(col("decile"))
  }

  /** McNemar's paired-classifier test (McNemar, Psychometrika 1947;
    * Dietterich NC'98 made it the standard "is model B actually better
    * than model A on the SAME test set" check): the trained perceptron
    * against the zero-cost heuristic baseline (predict English iff the
    * doc contains the token 'the' — the stopword rule every langid
    * bake-off opens with). Accuracy deltas mislead on paired data;
    * McNemar looks only at the DISAGREEMENT cells — b = model right
    * where baseline wrong, c = baseline right where model wrong — and
    * χ² = (|b−c|−1)²/(b+c) with continuity correction. All counts are
    * exact integers from one serving pass; χ² in micro units by integer
    * floor division, NULL when b + c = 0 (no disagreements — the test
    * is undefined, the q356 guard discipline).
    *
    * Scale posture: q127's serving pass + one scan-level baseline
    * predicate + a single 1-row aggregate. The oracle unrolls the full
    * 3-round training chain (the q208/q355 discipline), so the hash
    * pins the comparison end to end. */
  val q361McnemarTest: QueryDef = sql(
    "q361_mcnemar_test",
    s"""WITH $trainedMarginsSql,
       |base AS (SELECT doc_id,
       |           CASE WHEN list_contains(string_split(text, ' '), 'the')
       |                THEN 1 ELSE -1 END AS pred_base
       |         FROM documents),
       |served AS (SELECT l.doc_id, l.y,
       |             CASE WHEN mf.margin > 0 THEN 1 ELSE -1 END AS pred_model,
       |             b.pred_base
       |           FROM lab l JOIN mf USING (doc_id) JOIN base b USING (doc_id)),
       |cells AS (SELECT
       |    CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(CASE WHEN pred_model = y THEN 1 ELSE 0 END) AS BIGINT) AS n_model_ok,
       |    CAST(SUM(CASE WHEN pred_base = y THEN 1 ELSE 0 END) AS BIGINT) AS n_base_ok,
       |    CAST(SUM(CASE WHEN pred_model = y AND pred_base <> y THEN 1 ELSE 0 END) AS BIGINT) AS b,
       |    CAST(SUM(CASE WHEN pred_model <> y AND pred_base = y THEN 1 ELSE 0 END) AS BIGINT) AS c
       |  FROM served)
       |SELECT n, n_model_ok, n_base_ok, b, c,
       |  CASE WHEN b + c = 0 THEN NULL
       |       ELSE CAST((ABS(b - c) - 1) * (ABS(b - c) - 1) * 1000000 // (b + c) AS BIGINT)
       |  END AS chi2_micro
       |FROM cells""".stripMargin) { (s, dir) =>
    val (docs, _, _) = taskInputs(s, dir)
    val base = docs.select(col("doc_id"),
      when(array_contains(split(col("text"), " "), "the"), 1L).otherwise(-1L)
        .as("pred_base"))
    val served = servedMargins(s, dir)
      .withColumn("pred_model", when(col("margin") > 0, 1L).otherwise(-1L))
      .join(base, "doc_id")
    served.agg(
        count(lit(1)).as("n"),
        sum(when(col("pred_model") === col("y"), 1L).otherwise(0L)).as("n_model_ok"),
        sum(when(col("pred_base") === col("y"), 1L).otherwise(0L)).as("n_base_ok"),
        sum(when(col("pred_model") === col("y") && col("pred_base") =!= col("y"), 1L)
          .otherwise(0L)).as("b"),
        sum(when(col("pred_model") =!= col("y") && col("pred_base") === col("y"), 1L)
          .otherwise(0L)).as("c"))
      .select(col("n"), col("n_model_ok"), col("n_base_ok"), col("b"), col("c"),
        when(col("b") + col("c") === 0, lit(null).cast("long"))
          .otherwise(expr("(ABS(b - c) - 1) * (ABS(b - c) - 1) * 1000000L DIV (b + c)"))
          .as("chi2_micro"))
  }

  /** Isotonic (here: antitonic) regression calibration — the
    * distribution-free calibrator (Ayer et al. AMS'55 pool-adjacent-
    * violators; Zadrozny & Elkan KDD'02 for classifiers) fit WITHOUT
    * the sequential PAV walk: the closed-form minimax identity
    * fit(k) = min_{i≤k} max_{j≥k} avg(i..j) (Barlow et al. 1972, §1.2
    * — the non-increasing dual, since purchase rate FALLS with event
    * value on this corpus) turns the stack algorithm into three
    * relational steps — prefix sums on the bucket axis, an interval-
    * average relation, a triple-keyed min-of-max — every one a join/
    * aggregate over the BOUNDED bucket axis (≤ 32 rows, B³ ≈ 5 k
    * interval triples: metadata plane), so nothing sequential exists
    * at any corpus size, unlike q242's genuinely-sequential product.
    * Averages floor to micro before the min/max lattice (integer
    * comparisons, engine-identical); quantization preserves
    * monotonicity (min over growing i-sets of maxes over shrinking
    * j-sets). Output per observed bucket: raw vs fitted rate; the
    * fitted curve is what a serving layer looks up to turn a raw
    * score into a calibrated probability. Violator-pooling planted
    * case + monotone/pool-consistency spec (`CurationAuditSpec`). */
  val q248IsotonicFit: QueryDef = sql(
    "q248_isotonic_fit",
    """WITH e AS (SELECT LEAST(31, CAST(FLOOR(value / 25) AS INT)) AS b,
      |            CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      |          FROM events),
      |bk AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS pos
      |       FROM e GROUP BY 1),
      |rk AS (SELECT b, n, pos, ROW_NUMBER() OVER (ORDER BY b) AS r FROM bk),
      |ps AS (SELECT r, b, n, pos,
      |         CAST(SUM(n) OVER (ORDER BY r) AS BIGINT) AS cn,
      |         CAST(SUM(pos) OVER (ORDER BY r) AS BIGINT) AS cp
      |       FROM rk),
      |iv AS (SELECT i.r AS ri, j.r AS rj,
      |         (CAST(1000000 AS BIGINT) * (j.cp - (i.cp - i.pos)))
      |           // (j.cn - (i.cn - i.n)) AS avg_micro
      |       FROM ps i JOIN ps j ON j.r >= i.r),
      |inner_max AS (SELECT k.r AS rk2, iv.ri, MAX(iv.avg_micro) AS mx
      |              FROM ps k JOIN iv ON iv.ri <= k.r AND iv.rj >= k.r
      |              GROUP BY 1, 2),
      |fit AS (SELECT rk2 AS r, CAST(MIN(mx) AS BIGINT) AS fit_micro
      |        FROM inner_max GROUP BY 1)
      |SELECT ps.b AS bucket, ps.n, ps.pos,
      |  (CAST(1000000 AS BIGINT) * ps.pos) // ps.n AS raw_micro, fit.fit_micro
      |FROM ps JOIN fit ON fit.r = ps.r
      |ORDER BY bucket""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val bk = Tables.events(s, dir)
      .select(least(lit(31), floor(col("value") / 25).cast("int")).as("b"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
      .groupBy(col("b"))
      .agg(count(lit(1)).cast("long").as("n"), sum(col("y")).as("pos"))
    // everything below is bucket-axis-sized (≤ 32 rows): one window
    // pass, then broadcast interval/triple joins on the metadata plane
    val ps = bk.withColumn("r", row_number().over(Window.orderBy(col("b"))))
      .withColumn("cn", sum(col("n")).over(Window.orderBy(col("r"))).cast("long"))
      .withColumn("cp", sum(col("pos")).over(Window.orderBy(col("r"))).cast("long"))
    val i = ps.select(col("r").as("ri"), col("cn").as("icn"), col("cp").as("icp"),
      col("n").as("in_"), col("pos").as("ipos"))
    val j = ps.select(col("r").as("rj"), col("cn").as("jcn"), col("cp").as("jcp"))
    val iv = broadcast(i).join(broadcast(j), col("rj") >= col("ri"))
      .select(col("ri"), col("rj"),
        expr("(1000000L * (jcp - (icp - ipos))) DIV (jcn - (icn - in_))").as("avg_micro"))
    val innerMax = broadcast(ps.select(col("r").as("rk2"))).join(iv,
        col("ri") <= col("rk2") && col("rj") >= col("rk2"))
      .groupBy(col("rk2"), col("ri")).agg(max(col("avg_micro")).as("mx"))
    val fit = innerMax.groupBy(col("rk2").as("r"))
      .agg(min(col("mx")).cast("long").as("fit_micro"))
    ps.join(fit, "r")
      .select(col("b").as("bucket"), col("n"), col("pos"),
        expr("(1000000L * pos) DIV n").as("raw_micro"), col("fit_micro"))
      .orderBy(col("bucket"))
  }

  /** Offline policy evaluation by replay (Li et al. WSDM'11) — the
    * unbiased way to score a new serving policy on LOGGED interactions
    * before any live traffic: keep exactly the logged events whose
    * action matches what the candidate policy would have chosen, and
    * average their rewards. Logged triples here: each marketing touch
    * (view/click/signup) is a (segment = user_id % 4, action, reward)
    * record with reward 1 iff the same user purchases within the next
    * hour (a band semi-join, the q55 class). Two candidates against
    * the logging baseline: a constant policy (always click) and a
    * segment-greedy policy TRAINED on the first half of the corpus and
    * evaluated on the second — the temporal split that keeps the
    * estimate honest (training and evaluating on the same logs would
    * leak). Exact integers: match/reward counts, argmax by
    * micro-floored train rate with action-name tie-break, reward rate
    * in micro with a zero-match guard.
    *
    * Scale: one corpus scan + one user-keyed band join; the policy is
    * a 4-row broadcast relation; replay itself is a conditional
    * aggregate — nothing pairwise, nothing iterative. */
  val q252ReplayEval: QueryDef = sql(
    "q252_replay_eval",
    """WITH b AS (SELECT MIN(epoch_us(ts)) + (MAX(epoch_us(ts)) - MIN(epoch_us(ts))) // 2 AS m
      |           FROM events),
      |lg AS (SELECT event_id, user_id, user_id % 4 AS seg, epoch_us(ts) AS t,
      |         event_type AS act
      |       FROM events WHERE event_type IN ('view', 'click', 'signup')),
      |pur AS (SELECT user_id, epoch_us(ts) AS pt FROM events WHERE event_type = 'purchase'),
      |rw AS MATERIALIZED (SELECT lg.event_id, lg.seg, lg.t, lg.act,
      |        CASE WHEN EXISTS (SELECT 1 FROM pur WHERE pur.user_id = lg.user_id
      |          AND pur.pt > lg.t AND pur.pt <= lg.t + 3600000000) THEN 1 ELSE 0 END AS r
      |      FROM lg),
      |tr AS (SELECT seg, act, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(r) AS BIGINT) AS pos
      |       FROM rw WHERE t < (SELECT m FROM b) GROUP BY 1, 2),
      |pol AS (SELECT seg, act FROM (SELECT seg, act,
      |          ROW_NUMBER() OVER (PARTITION BY seg
      |            ORDER BY (CAST(1000000 AS BIGINT) * pos) // n DESC, act) AS rn
      |        FROM tr) WHERE rn = 1),
      |ev AS (SELECT * FROM rw WHERE t >= (SELECT m FROM b)),
      |rows_ AS (
      |  SELECT 'logging_baseline' AS policy, CAST(COUNT(*) AS BIGINT) AS n_eval,
      |    CAST(COUNT(*) AS BIGINT) AS n_matched, CAST(SUM(r) AS BIGINT) AS n_reward
      |  FROM ev
      |  UNION ALL
      |  SELECT 'always_click', CAST(COUNT(*) AS BIGINT),
      |    CAST(SUM(CASE WHEN act = 'click' THEN 1 ELSE 0 END) AS BIGINT),
      |    CAST(SUM(CASE WHEN act = 'click' THEN r ELSE 0 END) AS BIGINT)
      |  FROM ev
      |  UNION ALL
      |  SELECT 'segment_greedy', CAST(COUNT(*) AS BIGINT),
      |    CAST(SUM(CASE WHEN ev.act = pol.act THEN 1 ELSE 0 END) AS BIGINT),
      |    CAST(SUM(CASE WHEN ev.act = pol.act THEN ev.r ELSE 0 END) AS BIGINT)
      |  FROM ev JOIN pol ON pol.seg = ev.seg)
      |SELECT policy, n_eval, n_matched, n_reward,
      |  CASE WHEN n_matched = 0 THEN 0
      |       ELSE (CAST(1000000 AS BIGINT) * n_reward) // n_matched END AS reward_micro
      |FROM rows_
      |ORDER BY policy""".stripMargin) { (s, dir) =>
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val ev0 = Tables.events(s, dir)
    val bounds = ev0.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head
    val mid = bounds.getLong(0) + (bounds.getLong(1) - bounds.getLong(0)) / 2
    val lg = ev0.filter(col("event_type").isin("view", "click", "signup"))
      .select(col("event_id"), col("user_id"), pmod(col("user_id"), lit(4)).cast("long").as("seg"),
        unix_micros(col("ts")).as("t"), col("event_type").as("act"))
    val pur = ev0.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), unix_micros(col("ts")).as("pt"))
    val rw = lg.join(pur,
        col("p_user") === col("user_id") && col("pt") > col("t") &&
          col("pt") <= col("t") + lit(3600000000L), "left_semi")
      .withColumn("r", lit(1L))
      .unionByName(lg.join(pur,
        col("p_user") === col("user_id") && col("pt") > col("t") &&
          col("pt") <= col("t") + lit(3600000000L), "left_anti")
        .withColumn("r", lit(0L)))
    val tr = rw.filter(col("t") < mid).groupBy(col("seg"), col("act"))
      .agg(count(lit(1)).cast("long").as("n"), sum(col("r")).as("pos"))
    val pol = tr.withColumn("rn", row_number().over(Window.partitionBy(col("seg"))
        .orderBy(expr("(1000000L * pos) DIV n").desc, col("act"))))
      .filter(col("rn") === 1).select(col("seg"), col("act").as("pol_act"))
    val evh = rw.filter(col("t") >= mid)
    val base = evh.agg(count(lit(1)).cast("long").as("n_eval"),
      count(lit(1)).cast("long").as("n_matched"), sum(col("r")).as("n_reward"))
      .select(lit("logging_baseline").as("policy"), col("n_eval"), col("n_matched"),
        col("n_reward"))
    val click = evh.agg(count(lit(1)).cast("long").as("n_eval"),
      sum(when(col("act") === "click", 1L).otherwise(0L)).as("n_matched"),
      sum(when(col("act") === "click", col("r")).otherwise(0L)).as("n_reward"))
      .select(lit("always_click").as("policy"), col("n_eval"), col("n_matched"), col("n_reward"))
    val greedy = evh.join(broadcast(pol), "seg")
      .agg(count(lit(1)).cast("long").as("n_eval"),
        sum(when(col("act") === col("pol_act"), 1L).otherwise(0L)).as("n_matched"),
        sum(when(col("act") === col("pol_act"), col("r")).otherwise(0L)).as("n_reward"))
      .select(lit("segment_greedy").as("policy"), col("n_eval"), col("n_matched"),
        col("n_reward"))
    base.unionByName(click).unionByName(greedy)
      .withColumn("reward_micro",
        expr("CASE WHEN n_matched = 0 THEN 0L ELSE (1000000L * n_reward) DIV n_matched END"))
      .orderBy(col("policy"))
  }

  /** pass@k — the unbiased estimator from the Codex paper (Chen et al.
    * 2021 §2.1): with n attempts and c successes per problem, the
    * probability that at least one of k drawn-without-replacement
    * attempts succeeds is 1 − C(n−c,k)/C(n,k), evaluated as the stable
    * telescoping product Π_{i<k}(n−c−i)/(n−i) — THE functional-
    * correctness metric for code/reasoning evals, here over each user's
    * event history (attempts = events, successes = purchases; any
    * (problem, attempt, pass) relation slots in). A Wilson 95% score
    * interval (Wilson JASA 1927) on the raw success rate rides along —
    * the CI that behaves at c = 0 where the normal approximation
    * collapses.
    *
    * Exactness: n and c are exact counts; pass@5 is the same chained
    * IEEE product both engines (each factor one division of exact
    * integers — no binomials materialize, so nothing overflows at any
    * n); Wilson is one closed-form expression of n, c and the pinned
    * z² = 3.8416 (exact in binary? no — but the same literal, hence
    * the same double, in both engines). One user-keyed aggregate; the
    * per-row math is scan-level. Only users with n ≥ 5 qualify (the
    * estimator requires n ≥ k). */
  val q288PassAtK: QueryDef = sql(
    "q288_pass_at_k",
    """WITH a AS (
      |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END), 0) AS BIGINT) AS c
      |  FROM events GROUP BY 1 HAVING COUNT(*) >= 5)
      |SELECT user_id, n, c,
      |  CAST(c AS DOUBLE) / CAST(n AS DOUBLE) AS pass_at_1,
      |  CASE WHEN n - c < 5 THEN 1.0
      |    ELSE 1.0 - (CAST(n - c AS DOUBLE) / CAST(n AS DOUBLE))
      |      * (CAST(n - c - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE))
      |      * (CAST(n - c - 2 AS DOUBLE) / CAST(n - 2 AS DOUBLE))
      |      * (CAST(n - c - 3 AS DOUBLE) / CAST(n - 3 AS DOUBLE))
      |      * (CAST(n - c - 4 AS DOUBLE) / CAST(n - 4 AS DOUBLE)) END AS pass_at_5,
      |  (CAST(c AS DOUBLE) + 1.9208 - 1.96 * SQRT((CAST(c AS DOUBLE) * CAST(n - c AS DOUBLE))
      |     / CAST(n AS DOUBLE) + 0.9604)) / (CAST(n AS DOUBLE) + 3.8416) AS wilson_lo,
      |  (CAST(c AS DOUBLE) + 1.9208 + 1.96 * SQRT((CAST(c AS DOUBLE) * CAST(n - c AS DOUBLE))
      |     / CAST(n AS DOUBLE) + 0.9604)) / (CAST(n AS DOUBLE) + 3.8416) AS wilson_hi
      |FROM a
      |ORDER BY user_id""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(when(col("event_type") === "purchase", 1L).otherwise(0L)), lit(0L)).as("c"))
      .filter(col("n") >= 5)
      .select(col("user_id"), col("n"), col("c"),
        (col("c").cast("double") / col("n").cast("double")).as("pass_at_1"),
        when(col("n") - col("c") < 5, lit(1.0)).otherwise(expr(
          """1.0D - (CAST(n - c AS DOUBLE) / CAST(n AS DOUBLE))
            | * (CAST(n - c - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE))
            | * (CAST(n - c - 2 AS DOUBLE) / CAST(n - 2 AS DOUBLE))
            | * (CAST(n - c - 3 AS DOUBLE) / CAST(n - 3 AS DOUBLE))
            | * (CAST(n - c - 4 AS DOUBLE) / CAST(n - 4 AS DOUBLE))""".stripMargin))
          .as("pass_at_5"),
        expr("""(CAST(c AS DOUBLE) + 1.9208D - 1.96D * SQRT((CAST(c AS DOUBLE) * CAST(n - c AS DOUBLE))
               |  / CAST(n AS DOUBLE) + 0.9604D)) / (CAST(n AS DOUBLE) + 3.8416D)""".stripMargin)
          .as("wilson_lo"),
        expr("""(CAST(c AS DOUBLE) + 1.9208D + 1.96D * SQRT((CAST(c AS DOUBLE) * CAST(n - c AS DOUBLE))
               |  / CAST(n AS DOUBLE) + 0.9604D)) / (CAST(n AS DOUBLE) + 3.8416D)""".stripMargin)
          .as("wilson_hi"))
      .orderBy(col("user_id"))
  }

  /** Qini / uplift-by-decile evaluation (Radcliffe 2007; the standard
    * uplift-model scorecard): units are users, treatment is the q293
    * parity assignment, outcome is "converted" (≥ 1 purchase), and the
    * ranking score under test is raw engagement (event count — the naive
    * model a real uplift model must beat). Per score decile: treated and
    * control conversion in exact micro, their difference (the uplift
    * bar), and the cumulative Qini value q(k) = cumConvT −
    * cumConvC·(cumNT/cumNC) as one double expression of four exact
    * cumulative integers (NULL where an arm is empty — tiny fixtures\n    * leave deciles one-sided). The corpus pass is one user aggregate; deciles
    * and cumulatives run on the user relation through pinned-order
    * windows. */
  val q308QiniUplift: QueryDef = sql(
    "q308_qini_uplift",
    """WITH u AS (
      |  SELECT user_id, CAST(user_id % 2 AS BIGINT) AS treat,
      |    CAST(COUNT(*) AS BIGINT) AS score,
      |    CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS conv
      |  FROM events GROUP BY 1),
      |d AS (SELECT *, NTILE(10) OVER (ORDER BY score DESC, user_id) AS decile FROM u),
      |g AS (
      |  SELECT decile,
      |    CAST(SUM(treat) AS BIGINT) AS n_t,
      |    CAST(SUM(1 - treat) AS BIGINT) AS n_c,
      |    CAST(SUM(treat * conv) AS BIGINT) AS conv_t,
      |    CAST(SUM((1 - treat) * conv) AS BIGINT) AS conv_c
      |  FROM d GROUP BY 1),
      |c AS (
      |  SELECT decile, n_t, n_c, conv_t, conv_c,
      |    SUM(n_t) OVER w AS cnt, SUM(n_c) OVER w AS cnc,
      |    SUM(conv_t) OVER w AS cct, SUM(conv_c) OVER w AS ccc
      |  FROM g
      |  WINDOW w AS (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT CAST(decile AS BIGINT) AS decile, n_t, n_c, conv_t, conv_c,
      |  CASE WHEN n_t > 0 AND n_c > 0
      |    THEN conv_t * 1000000 // n_t - conv_c * 1000000 // n_c END AS uplift_micro,
      |  CASE WHEN cnc > 0 THEN CAST(cct AS DOUBLE)
      |    - CAST(ccc AS DOUBLE) * (CAST(cnt AS DOUBLE) / CAST(cnc AS DOUBLE)) END AS qini
      |FROM c
      |ORDER BY decile""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val u = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("score"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
      .withColumn("treat", col("user_id") % 2)
    // user-sized decile via the block two-pass device (the q253 class)
    val nU = u.agg(count(lit(1)).cast("long").as("n_u"))
    val d = BlockRank.globalRowNumberAdaptive(
        u.crossJoin(broadcast(nU)), col("score"), asc = false,
        Seq(col("score").desc, col("user_id").asc), "rk")
      .withColumn("decile", BlockRank.ntileFromRank("rk", "n_u", 10))
    val g = d.groupBy(col("decile"))
      .agg(sum(col("treat")).as("n_t"), sum(lit(1L) - col("treat")).as("n_c"),
        sum(col("treat") * col("conv")).as("conv_t"),
        sum((lit(1L) - col("treat")) * col("conv")).as("conv_c"))
    val w = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    g.withColumn("cnt", sum(col("n_t")).over(w))
      .withColumn("cnc", sum(col("n_c")).over(w))
      .withColumn("cct", sum(col("conv_t")).over(w))
      .withColumn("ccc", sum(col("conv_c")).over(w))
      .select(col("decile").cast("long").as("decile"),
        col("n_t"), col("n_c"), col("conv_t"), col("conv_c"),
        expr("""CASE WHEN n_t > 0 AND n_c > 0
               |  THEN conv_t * 1000000L DIV n_t - conv_c * 1000000L DIV n_c END"""
          .stripMargin).as("uplift_micro"),
        expr("""CASE WHEN cnc > 0 THEN CAST(cct AS DOUBLE) - CAST(ccc AS DOUBLE)
               |  * (CAST(cnt AS DOUBLE) / CAST(cnc AS DOUBLE)) END""".stripMargin).as("qini"))
      .orderBy(col("decile"))
  }

  /** One fold of the q127 trainer, unrolled for the oracle: the SAME
    * 3-round batch-perceptron chain as [[trainedMarginsSql]], but
    * trained only on docs whose md5 fold ≠ `f` and serving margins for
    * fold = `f` — every CTE suffixed `_$f` so five folds coexist in one
    * statement. */
  private def foldSql(f: Int): String = {
    val s = s"_$f"
    s"""docs$s AS (SELECT doc_id, lang, text,
       |    CAST(('0x' || substr(md5('cv:' || CAST(doc_id AS VARCHAR)), 1, 4)) AS INT) % 5 AS fold
       |  FROM documents),
       |toks$s AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |           FROM docs$s WHERE fold <> $f),
       |hf$s AS (SELECT doc_id, CAST(('0x' || substr(md5(word), 1, 8)) AS BIGINT) % 32 AS dim,
       |           CAST(COUNT(*) AS BIGINT) AS cnt
       |         FROM toks$s GROUP BY 1, 2
       |         UNION ALL
       |         SELECT doc_id, 32 AS dim, 1 AS cnt FROM docs$s WHERE fold <> $f),
       |lab$s AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y
       |          FROM docs$s WHERE fold <> $f),
       |w1$s AS (SELECT f.dim, CAST(SUM(l.y * f.cnt) AS BIGINT) AS w
       |         FROM hf$s f JOIN lab$s l USING (doc_id) GROUP BY 1),
       |m2$s AS (SELECT f.doc_id, CAST(SUM(COALESCE(w.w, 0) * f.cnt) AS BIGINT) AS margin
       |         FROM hf$s f LEFT JOIN w1$s w USING (dim) GROUP BY 1),
       |u2$s AS (SELECT f.dim, CAST(SUM(l.y * f.cnt) AS BIGINT) AS dw
       |         FROM hf$s f JOIN lab$s l USING (doc_id) JOIN m2$s m USING (doc_id)
       |         WHERE l.y * m.margin <= 0 GROUP BY 1),
       |w2$s AS (SELECT COALESCE(a.dim, b.dim) AS dim, COALESCE(a.w, 0) + COALESCE(b.dw, 0) AS w
       |         FROM w1$s a FULL JOIN u2$s b ON a.dim = b.dim),
       |m3$s AS (SELECT f.doc_id, CAST(SUM(COALESCE(w.w, 0) * f.cnt) AS BIGINT) AS margin
       |         FROM hf$s f LEFT JOIN w2$s w USING (dim) GROUP BY 1),
       |u3$s AS (SELECT f.dim, CAST(SUM(l.y * f.cnt) AS BIGINT) AS dw
       |         FROM hf$s f JOIN lab$s l USING (doc_id) JOIN m3$s m USING (doc_id)
       |         WHERE l.y * m.margin <= 0 GROUP BY 1),
       |w3$s AS (SELECT COALESCE(a.dim, b.dim) AS dim, COALESCE(a.w, 0) + COALESCE(b.dw, 0) AS w
       |         FROM w2$s a FULL JOIN u3$s b ON a.dim = b.dim),
       |etoks$s AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |            FROM docs$s WHERE fold = $f),
       |ehf$s AS (SELECT doc_id, CAST(('0x' || substr(md5(word), 1, 8)) AS BIGINT) % 32 AS dim,
       |            CAST(COUNT(*) AS BIGINT) AS cnt
       |          FROM etoks$s GROUP BY 1, 2
       |          UNION ALL
       |          SELECT doc_id, 32 AS dim, 1 AS cnt FROM docs$s WHERE fold = $f),
       |ev$s AS (SELECT f.doc_id, CAST(SUM(COALESCE(w.w, 0) * f.cnt) AS BIGINT) AS margin
       |         FROM ehf$s f LEFT JOIN w3$s w USING (dim) GROUP BY 1),
       |res$s AS (SELECT CAST($f AS BIGINT) AS fold,
       |            (SELECT CAST(COUNT(*) AS BIGINT) FROM docs$s WHERE fold <> $f) AS n_train,
       |            CAST(COUNT(*) AS BIGINT) AS n_eval,
       |            CAST(SUM(CASE WHEN (CASE WHEN d.lang = 'en' THEN 1 ELSE -1 END)
       |                     * CASE WHEN e.margin > 0 THEN 1 ELSE -1 END > 0
       |                   THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
       |          FROM ev$s e JOIN docs$s d USING (doc_id))""".stripMargin
  }

  /** Five-fold cross-validation of the q127 task — the eval PROTOCOL
    * operator (Stone '74; the train/serve split every reported
    * accuracy needs): docs fold by an md5 hash (reproducible, no
    * seed — the q62 device), each fold's model trains on the other
    * four via the SAME 3-round batch perceptron as q127 and is scored
    * on its held-out fold; per-fold accuracy plus the pooled mean
    * lands in one hash. The oracle unrolls all five trainings — five
    * complete training chains inside one statement, the heaviest
    * composition proof in the contract: one update decided differently
    * in any round of any fold moves some fold's count.
    *
    * Scale posture: 5 × the q127 training cost by construction (each
    * training pass is one map-side-combined agg + a DIMS-bounded
    * driver update, the documented bounded-collect class); fold
    * membership is a scan predicate, never a shuffle. */
  val q355CrossValidation: QueryDef = sql(
    "q355_cross_validation",
    s"""WITH ${(0 to 4).map(foldSql).mkString(",\n")},
       |allf AS (${(0 to 4).map(f => s"SELECT * FROM res_$f").mkString("\n UNION ALL ")})
       |SELECT fold, n_train, n_eval, n_correct,
       |  n_correct * 1000000 // n_eval AS acc_micro
       |FROM allf
       |UNION ALL
       |SELECT CAST(-1 AS BIGINT), CAST(SUM(n_train) AS BIGINT), CAST(SUM(n_eval) AS BIGINT),
       |  CAST(SUM(n_correct) AS BIGINT),
       |  CAST(SUM(n_correct) AS BIGINT) * 1000000 // CAST(SUM(n_eval) AS BIGINT)
       |FROM allf
       |ORDER BY fold""".stripMargin) { (s, dir) =>
    val docs = Tables.fanOut(Tables.documents(s, dir))
      .withColumn("fold",
        expr("CAST(conv(substring(md5(concat('cv:', CAST(doc_id AS STRING))), 1, 4), 16, 10) AS INT) % 5"))
      .cachedStageBoundary
    // per-fold weights persist by corpus fingerprint (the q127 device):
    // the first run pays five trainings, every later run reads five
    // 33-row parquets — train-once/serve-many, per fold
    val key = StateStore.key("cv5_v1", docs.select(col("doc_id"), col("lang"), col("text")))
    val weights = StateStore.parquet(s, key, (0 to 4).map(f => s"w$f"): _*) {
      (0 to 4).map { f =>
        val train = docs.filter(col("fold") =!= f)
        val feats = hashedFeatures(train).cachedStageBoundary
        val labels = train.select(col("doc_id"),
          when(col("lang") === "en", 1L).otherwise(-1L).as("y"))
        val w = perceptronTrain(feats, labels, rounds = 3)
        feats.unpersist()
        w
      }
    }
    // fold sizes in ONE grouped count (r10 optimization): n_train(f) =
    // total − |fold f|, so the five per-fold train.count() actions —
    // five sequential jobs over the same cached relation — collapse to
    // one 5-row aggregate read once
    val foldCounts = docs.groupBy(col("fold")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val nTotal = foldCounts.values.sum
    val folds = (0 to 4).map { f =>
      val eval = docs.filter(col("fold") === f)
      val scored = perceptronScore(hashedFeatures(eval), weights(f))
        .join(eval.select(col("doc_id"),
          when(col("lang") === "en", 1L).otherwise(-1L).as("y")), "doc_id")
      val nTrain = nTotal - foldCounts.getOrElse(f, 0L)
      scored.agg(count(lit(1)).as("n_eval"),
          sum(when(col("y") * when(col("margin") > 0, 1L).otherwise(-1L) > 0, 1L)
            .otherwise(0L)).as("n_correct"))
        .select(lit(f.toLong).as("fold"), lit(nTrain).as("n_train"),
          col("n_eval"), col("n_correct"))
    }
    val allf = folds.reduce(_ unionAll _).cachedStageBoundary
    allf.select(col("fold"), col("n_train"), col("n_eval"), col("n_correct"),
        expr("n_correct * 1000000L DIV n_eval").as("acc_micro"))
      .unionAll(allf.agg(sum(col("n_train")).as("n_train"), sum(col("n_eval")).as("n_eval"),
          sum(col("n_correct")).as("n_correct"))
        .select(lit(-1L).as("fold"), col("n_train"), col("n_eval"), col("n_correct"),
          expr("n_correct * 1000000L DIV n_eval").as("acc_micro")))
      .orderBy(col("fold"))
  }

  /** Exact ROC-AUC of the served classifier (Hanley & McNeil 1982 via
    * the Mann–Whitney identity: AUC = P(margin⁺ > margin⁻) + ½
    * P(tie)) — the threshold-free ranking number that q182's deciles
    * and q221's Brier decomposition both presuppose but neither
    * reports. Computed WITHOUT enumerating the n⁺·n⁻ pairs: group the
    * served margins into an exact (margin → pos-count, neg-count)
    * histogram, prefix-sum the negative counts in margin order, and
    * 2U = Σ_m cp(m)·(2·neg-below(m) + cn(m)) — all BIGINT, the ties
    * term exact in half-units. AUC lands in micro-units by one integer
    * divide (2U·10⁶ DIV 2n⁺n⁻; since 2U ≈ 2·n⁺·n⁻, the ×10⁶ wraps
    * BIGINT once n⁺·n⁻ ≈ 4.6·10¹² — about 2.1M×2.1M docs; past that
    * the q369 divide-before-multiply form extends the exact range,
    * documented not hidden); Gini = 2·AUC − 1 rides along.
    *
    * Scale posture: one corpus serving pass (shared persisted weights),
    * one margin-keyed aggregate, and the prefix sum rides
    * [[BlockRank.globalRunningSumAdaptive]] over the margin histogram —
    * distinct margins are data-proportional, so no single-partition
    * window here either. Final row is a one-row aggregate. */
  val q377AucEval: QueryDef = sql(
    "q377_auc_eval",
    s"""WITH $trainedMarginsSql,
       |sc AS (SELECT l.y, mf.margin FROM lab l JOIN mf USING (doc_id)),
       |hmg AS (SELECT margin,
       |    CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cp,
       |    CAST(SUM(CASE WHEN y = -1 THEN 1 ELSE 0 END) AS BIGINT) AS cn
       |  FROM sc GROUP BY 1),
       |cum AS (SELECT margin, cp, cn,
       |    CAST(COALESCE(SUM(cn) OVER (ORDER BY margin
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cneg
       |  FROM hmg),
       |u AS (SELECT CAST(SUM(cp * (2 * cneg + cn)) AS BIGINT) AS u2,
       |    CAST(SUM(cp) AS BIGINT) AS n_pos, CAST(SUM(cn) AS BIGINT) AS n_neg
       |  FROM cum)
       |SELECT n_pos, n_neg, u2 AS u_times2,
       |  CAST(u2 * 1000000 // (2 * n_pos * n_neg) AS BIGINT) AS auc_micro,
       |  CAST(u2 * 1000000 // (n_pos * n_neg) - 1000000 AS BIGINT) AS gini_micro
       |FROM u""".stripMargin) { (s, dir) =>
    val hmg = servedMargins(s, dir)
      .groupBy(col("margin"))
      .agg(sum(when(col("y") === 1, 1L).otherwise(0L)).as("cp"),
        sum(when(col("y") === -1, 1L).otherwise(0L)).as("cn"))
    val cum = BlockRank.globalRunningSumAdaptive(
      hmg, col("margin"), asc = true, Seq(col("margin")), col("cn"), out = "cnin")
    cum.withColumn("cneg", col("cnin") - col("cn"))
      .agg(sum(expr("cp * (2L * cneg + cn)")).as("u2"),
        sum(col("cp")).as("n_pos"), sum(col("cn")).as("n_neg"))
      .select(col("n_pos"), col("n_neg"), col("u2").as("u_times2"),
        expr("u2 * 1000000L DIV (2L * n_pos * n_neg)").as("auc_micro"),
        expr("u2 * 1000000L DIV (n_pos * n_neg) - 1000000L").as("gini_micro"))
  }

  /** Snapshot weights after rounds 1..3, persisted by the SAME corpus
    * fingerprint discipline as [[trainedTaskWeights]] (three 33-row
    * relations — the final one is bit-identical to the served weights;
    * the prefixes exist only for the q380 trajectory audit). */
  private def trainedTaskTrajectory(s: SparkSession, dir: String): Seq[DataFrame] = {
    val (docs, feats, labels) = taskInputs(s, dir)
    val key = StateStore.key("perceptron_traj_v1",
      docs.select(col("doc_id"), col("lang"), col("text")))
    StateStore.parquet(s, key, "w1", "w2", "w3") {
      val pinned = feats.cachedStageBoundary
      val t = perceptronTrajectory(pinned, labels, rounds = 3)
      pinned.unpersist()
      t
    }
  }

  /** Dataset cartography over the training trajectory (Swayamdipta et
    * al., EMNLP 2020 "Dataset Cartography": map examples by the
    * model's confidence and its variability ACROSS training
    * checkpoints — easy-to-learn, hard-to-learn, and ambiguous regions
    * drive different curation actions: ambiguous examples help most,
    * consistently-hard ones are label-error suspects). Here the
    * checkpoints are the three batch-perceptron round snapshots the
    * repo already trains: per document, n_correct_rounds counts the
    * rounds whose margin agrees with the label (3 = easy, 0 = hard,
    * 1–2 = the flip region) and conf_total sums the exact integer
    * y·margin trajectory. Reported as the (lang × n_correct_rounds)
    * map with doc counts and summed confidence — the grid a curation
    * review reads before deciding which stratum to relabel or
    * downweight. Oracle reuses q127's unrolled chain: m2/m3/mf ARE
    * the three checkpoints, so the map hashes the whole training run.
    *
    * Scale posture: snapshot weights persist by corpus fingerprint
    * (33-row relations); serving is three broadcast-join scoring
    * passes over the persisted feature relation + one grouped
    * aggregate — no new corpus-scale machinery. */
  val q380DataMap: QueryDef = sql(
    "q380_data_map",
    s"""WITH $trainedMarginsSql,
       |rnds AS (
       |  SELECT doc_id, margin, 1 AS r FROM m2
       |  UNION ALL SELECT doc_id, margin, 2 FROM m3
       |  UNION ALL SELECT doc_id, margin, 3 FROM mf),
       |per AS (SELECT d.doc_id, d.lang,
       |    CAST(SUM(CASE WHEN l.y * r.margin > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_correct_rounds,
       |    CAST(SUM(l.y * r.margin) AS BIGINT) AS conf_sum
       |  FROM rnds r JOIN lab l USING (doc_id) JOIN documents d ON d.doc_id = r.doc_id
       |  GROUP BY 1, 2)
       |SELECT lang, n_correct_rounds, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(conf_sum) AS BIGINT) AS conf_total
       |FROM per GROUP BY 1, 2
       |ORDER BY lang, n_correct_rounds""".stripMargin) { (s, dir) =>
    val (docs, feats0, labels) = taskInputs(s, dir)
    val feats = feats0.cachedStageBoundary
    val snaps = trainedTaskTrajectory(s, dir)
    val rnds = snaps.zipWithIndex.map { case (w, i) =>
      perceptronScore(feats, w).withColumn("r", lit(i + 1L))
    }.reduce(_ unionByName _)
    val per = rnds.join(labels, "doc_id")
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(when(col("y") * col("margin") > 0, 1L).otherwise(0L)).as("n_correct_rounds"),
        sum(col("y") * col("margin")).as("conf_sum"))
    per.groupBy(col("lang"), col("n_correct_rounds"))
      .agg(count(lit(1)).as("n_docs"), sum(col("conf_sum")).as("conf_total"))
      .orderBy(col("lang"), col("n_correct_rounds"))
  }

  /** Micro-unit Gini impurity 10⁶·(1 − (p/n)² − (q/n)²) as one integer
    * expression (overflow-safe to ~9·10¹² rows per side: every product
    * keeps one factor ≤ 10⁶). */
  private def giniSql(p: String, n: String): String =
    s"1000000L - ($p * 1000000L DIV $n) * $p DIV $n" +
      s" - (($n - $p) * 1000000L DIV $n) * ($n - $p) DIV $n"

  /** Depth-1 decision tree (CART decision stump, Breiman et al. 1984):
    * the best single threshold on document length for predicting
    * lang = 'en', by exact Gini impurity in micro-units. The
    * interpretable floor every learned quality gate gets compared
    * against (q127's perceptron is 33 dims; this is the one-number
    * rule a curation reviewer can read), and the split-finding device
    * is the point at scale: candidate thresholds come from a LENGTH
    * HISTOGRAM whose left-side counts are prefix sums — one grouped
    * aggregate + the [[BlockRank]] running-sum device + an
    * argmin-by-(impurity, threshold) top-1, never a per-threshold scan
    * and never a single-partition window. Gini terms are exact integer
    * divisions, identical in both engines; the winning row reports the
    * split, both side impurities, the unsplit baseline, and the
    * gain. */
  val q381DecisionStump: QueryDef = sql(
    "q381_decision_stump",
    s"""WITH h AS (SELECT n_chars // 50 AS b, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS p
       |  FROM documents GROUP BY 1),
       |cum AS (SELECT b,
       |    CAST(SUM(n) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS BIGINT) AS nl,
       |    CAST(SUM(p) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pl
       |  FROM h),
       |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS tn, CAST(SUM(p) AS BIGINT) AS tp FROM h),
       |cand AS (SELECT c.b, c.nl, c.pl, t.tn - c.nl AS nr, t.tp - c.pl AS pr, t.tn, t.tp
       |  FROM cum c, tot t WHERE c.nl < t.tn),
       |imp AS (SELECT b, nl, nr,
       |    ${giniSql("pl", "nl").replace("DIV", "//").replace("1000000L", "1000000")} AS impl,
       |    ${giniSql("pr", "nr").replace("DIV", "//").replace("1000000L", "1000000")} AS impr,
       |    ${giniSql("tp", "tn").replace("DIV", "//").replace("1000000L", "1000000")} AS base
       |  FROM cand),
       |w AS (SELECT b, nl, nr, impl, impr, base,
       |    (nl * impl + nr * impr) // (nl + nr) AS weighted FROM imp)
       |SELECT CAST((b + 1) * 50 AS BIGINT) AS threshold_chars,
       |  nl AS n_left, nr AS n_right,
       |  CAST(impl AS BIGINT) AS gini_left_micro, CAST(impr AS BIGINT) AS gini_right_micro,
       |  CAST(weighted AS BIGINT) AS gini_split_micro, CAST(base AS BIGINT) AS gini_base_micro,
       |  CAST(base - weighted AS BIGINT) AS gain_micro
       |FROM w ORDER BY weighted, b LIMIT 1""".stripMargin) { (s, dir) =>
    val h = Tables.documents(s, dir)
      .groupBy(expr("n_chars DIV 50").as("b"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("p"))
      .stageBoundary // length-histogram-sized; two prefix passes + totals
    val c1 = BlockRank.globalRunningSumAdaptive(
      h, col("b"), asc = true, Seq(col("b")), col("n"), out = "nl")
    val cum = BlockRank.globalRunningSumAdaptive(
      c1, col("b"), asc = true, Seq(col("b")), col("p"), out = "pl")
    val tot = h.agg(sum(col("n")).as("tn"), sum(col("p")).as("tp"))
    cum.crossJoin(broadcast(tot)).filter(col("nl") < col("tn"))
      .select(col("b"), col("nl"), col("pl"),
        (col("tn") - col("nl")).as("nr"), (col("tp") - col("pl")).as("pr"),
        col("tn"), col("tp"))
      .withColumn("impl", expr(giniSql("pl", "nl")))
      .withColumn("impr", expr(giniSql("pr", "nr")))
      .withColumn("base", expr(giniSql("tp", "tn")))
      .withColumn("weighted", expr("(nl * impl + nr * impr) DIV (nl + nr)"))
      .orderBy(col("weighted"), col("b")).limit(1)
      .select(((col("b") + 1) * 50).as("threshold_chars"),
        col("nl").as("n_left"), col("nr").as("n_right"),
        col("impl").as("gini_left_micro"), col("impr").as("gini_right_micro"),
        col("weighted").as("gini_split_micro"), col("base").as("gini_base_micro"),
        (col("base") - col("weighted")).as("gain_micro"))
  }

  /** Linearly-weighted Cohen's κ (Cohen, Psych. Bull. 1968) over the
    * q203 synthetic annotator pair, treating the 0–2 grades as ORDINAL:
    * disagreeing by two grades costs twice a one-grade slip. The
    * ordinal complement of q203's nominal κ — for quality tiers and
    * harm severities (the common LLM-annotation shape) nominal κ
    * under-rewards near-misses, and the two statistics diverging IS
    * the signal that raters disagree mostly at adjacent grades.
    *   κ_w = 1 − n·Σ w_ij O_ij / Σ w_ij R_i C_j,  w_ij = |i − j|
    * with O the observed confusion cells and R/C the marginals — all
    * exact BIGINTs from two grouped passes; κ_w is one double
    * expression of them. Output is the 3×3 confusion matrix with the
    * shared κ_w (the q203 presentation), so the hash pins every
    * cell. */
  val q384WeightedKappa: QueryDef = sql(
    "q384_weighted_kappa",
    """WITH ann AS (
      |  SELECT doc_id,
      |    CAST(('0x' || substr(md5('ann_a:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 3 AS a,
      |    CASE WHEN CAST(('0x' || substr(md5('ann_b:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10 < 7
      |         THEN CAST(('0x' || substr(md5('ann_a:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 3
      |         ELSE CAST(('0x' || substr(md5('ann_b:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 3
      |    END AS b
      |  FROM documents),
      |grades(g) AS (VALUES (0), (1), (2)),
      |cells AS (SELECT ga.g AS a, gb.g AS b FROM grades ga CROSS JOIN grades gb),
      |obs AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n_obs FROM ann GROUP BY 1, 2),
      |o AS (SELECT c.a, c.b, COALESCE(obs.n_obs, 0) AS n_obs
      |      FROM cells c LEFT JOIN obs ON obs.a = c.a AND obs.b = c.b),
      |ra AS (SELECT a, CAST(SUM(n_obs) AS BIGINT) AS n_a FROM o GROUP BY 1),
      |cb AS (SELECT b, CAST(SUM(n_obs) AS BIGINT) AS n_b FROM o GROUP BY 1),
      |tot AS (SELECT
      |    (SELECT CAST(SUM(n_obs) AS BIGINT) FROM o) AS n,
      |    (SELECT CAST(SUM(ABS(a - b) * n_obs) AS BIGINT) FROM o) AS wo,
      |    (SELECT CAST(SUM(ABS(o.a - o.b) * ra.n_a * cb.n_b) AS BIGINT)
      |       FROM o JOIN ra ON ra.a = o.a JOIN cb ON cb.b = o.b) AS we)
      |SELECT CAST(o.a AS BIGINT) AS a, CAST(o.b AS BIGINT) AS b, o.n_obs,
      |  CASE WHEN tot.we > 0
      |       THEN 1.0 - CAST(tot.n * tot.wo AS DOUBLE) / CAST(tot.we AS DOUBLE) END AS kappa_w
      |FROM o, tot
      |ORDER BY a, b""".stripMargin) { (s, dir) =>
    val ha = expr("CAST(conv(substring(md5(concat('ann_a:', CAST(doc_id AS STRING))), 1, 8), 16, 10) AS BIGINT)")
    val hb = expr("CAST(conv(substring(md5(concat('ann_b:', CAST(doc_id AS STRING))), 1, 8), 16, 10) AS BIGINT)")
    val ann = Tables.documents(s, dir).select(col("doc_id"))
      .select((ha % 3).as("a"), when(hb % 10 < 7, ha % 3).otherwise(hb % 3).as("b"))
    val grades = broadcast(s.range(3).select(col("id").as("g")))
    val cells = grades.select(col("g").as("a"))
      .crossJoin(grades.select(col("g").as("b")))
    val obs = ann.groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_obs"))
    val o = cells.join(obs, Seq("a", "b"), "left")
      .select(col("a"), col("b"), coalesce(col("n_obs"), lit(0L)).as("n_obs"))
      .stageBoundary // 9 rows; marginals + both weighted sums
    val ra = o.groupBy(col("a")).agg(sum(col("n_obs")).as("n_a"))
    val cb = o.groupBy(col("b")).agg(sum(col("n_obs")).as("n_b"))
    val tot = o.agg(sum(col("n_obs")).as("n"),
        sum(abs(col("a") - col("b")) * col("n_obs")).as("wo"))
      .crossJoin(broadcast(o.join(ra, "a").join(cb, "b")
        .agg(sum(abs(col("a") - col("b")) * col("n_a") * col("n_b")).as("we"))))
    o.crossJoin(broadcast(tot))
      .select(col("a"), col("b"), col("n_obs"),
        // constant-rater degeneracy (we = 0) goes NULL, never NaN —
        // the q356 zero-variance discipline
        when(col("we") > 0,
          lit(1.0) - (col("n") * col("wo")).cast("double") / col("we").cast("double"))
          .as("kappa_w"))
      .orderBy(col("a"), col("b"))
  }

  val all: Seq[QueryDef] = Seq(q127Perceptron, q182Calibration, q193Conformal,
    q203AnnotatorKappa, q208LabelNoise, q221BrierDecomp, q248IsotonicFit,
    q361McnemarTest, q377AucEval, q380DataMap, q381DecisionStump,
    q384WeightedKappa,
    q252ReplayEval, q288PassAtK, q308QiniUplift, q355CrossValidation)
}
