package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Temporal/reshaping operators Spark has no single built-in for:
  * as-of join (composed from a sorted window — preference order (a) of the
  * build rules: compose built-ins before writing a custom SparkPlan) and
  * pivot.
  */
object Temporal {
  import QueryDef.sql

  /** As-of join: for every purchase event, the same user's most recent
    * click at-or-before the purchase time.
    *
    * Implementation is the *sort-merge as-of* scale path: union both event
    * types, one shuffle on user_id, one ordered window pass carrying the
    * last-seen click — O(n log n), no per-purchase range-join explosion
    * (the naive `c.ts <= p.ts` join is quadratic in events-per-user; that
    * formulation is kept only in the DuckDB oracle where it's exact).
    * Tie-breaks (same-timestamp clicks) resolve to the highest event_id in
    * both formulations. */
  val q46AsofJoin: QueryDef = sql(
    "q46_asof_join",
    """WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
      |c AS (SELECT * FROM events WHERE event_type = 'click'),
      |j AS (SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
      |        c.event_id AS click_id, c.ts AS click_ts,
      |        ROW_NUMBER() OVER (PARTITION BY p.event_id
      |                           ORDER BY c.ts DESC, c.event_id DESC) AS rn
      |      FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.ts <= p.ts)
      |SELECT purchase_id, user_id, purchase_ts, click_id, click_ts
      |FROM j WHERE rn = 1
      |ORDER BY purchase_id""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
      .filter(col("event_type").isin("click", "purchase"))
    // 'click' < 'purchase' lexicographically, so a click at exactly the
    // purchase timestamp sorts first and is visible to the purchase row.
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_type"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("lc",
        last(when(col("event_type") === "click",
          struct(col("ts"), col("event_id"))), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(
        col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"),
        col("lc.event_id").as("click_id"), col("lc.ts").as("click_ts"))
      .orderBy(col("purchase_id"))
  }

  /** Pivot: events reshaped to one row per user × one count column per
    * event type. Pivot values are pinned (not inferred) so the plan is a
    * single pass and the output schema is deterministic. */
  val q47Pivot: QueryDef = sql(
    "q47_pivot",
    """SELECT user_id,
      |  COUNT(*) FILTER (WHERE event_type = 'click') AS click,
      |  COUNT(*) FILTER (WHERE event_type = 'error') AS error,
      |  COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
      |  COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
      |  COUNT(*) FILTER (WHERE event_type = 'view') AS view
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin) { (s, dir) =>
    val types = Seq("click", "error", "purchase", "signup", "view")
    val pivoted = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .pivot("event_type", types)
      .count()
    types.foldLeft(pivoted)((df, t) => df.withColumn(t, coalesce(col(t), lit(0L))))
      .orderBy(col("user_id"))
  }

  /** Interval self-join: every (purchase, click) pair of the same user
    * where the click happened in the 10 minutes before the purchase — the
    * events-on-time-window theta join. Equi on user_id (so the shuffle is
    * keyed), range condition applied inside the join; at scale this is a
    * sort-merge join with a bounded time band, and the streaming face
    * (StreamingOps.purchaseClickJoin) runs the same condition with
    * watermark-bounded state. */
  val q55IntervalJoin: QueryDef = sql(
    "q55_interval_join",
    """SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id,
      |  p.ts AS purchase_ts, c.ts AS click_ts
      |FROM events p JOIN events c
      |  ON c.user_id = p.user_id
      |  AND p.event_type = 'purchase' AND c.event_type = 'click'
      |  AND c.ts >= p.ts - INTERVAL 10 MINUTE AND c.ts < p.ts
      |ORDER BY purchase_id, click_id""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("purchase_ts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"), col("ts").as("click_ts"))
    p.join(c, col("c_user") === col("user_id") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 10 MINUTES") &&
        col("click_ts") < col("purchase_ts"))
      .select(col("purchase_id"), col("click_id"), col("user_id"),
        col("purchase_ts"), col("click_ts"))
      .orderBy(col("purchase_id"), col("click_id"))
  }

  /** The same interval join through the CUSTOM OPERATOR path
    * ([[graft.plans.IntervalJoin]] → injected strategy →
    * [[graft.plans.IntervalJoinExec]]): one sweep per co-partitioned
    * sorted partition with a ring buffer holding only the rows inside
    * the 10-minute window — O(n + matches) versus the sort-merge
    * band-filter's per-key pair scan. Shares q55's oracle verbatim, so
    * the custom physical plan is hash-verified (the q63 pattern). */
  val q81IntervalNative: QueryDef = QueryDef(
    "q81_interval_native",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("purchase_ts"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
      graft.plans.Interval.join(p, c, "user_id", "purchase_ts", "click_ts", 10L * 60 * 1000 * 1000)
        .toDF("purchase_id", "user_id", "purchase_ts", "click_id", "r_user", "click_ts")
        .select(col("purchase_id"), col("click_id"), col("user_id"),
          col("purchase_ts"), col("click_ts"))
        .orderBy(col("purchase_id"), col("click_id"))
    },
    q55IntervalJoin.oracle)

  /** The same as-of join through the CUSTOM OPERATOR path
    * ([[graft.plans.AsofJoin]] logical node → injected strategy →
    * [[graft.plans.AsofJoinExec]] streaming merge): one forward pass per
    * co-partitioned sorted partition, no union/window row inflation.
    * Shares q46's DuckDB oracle verbatim — the custom physical plan is
    * itself hash-verified, the same proof pattern as q45 for the custom
    * expression. */
  val q63AsofNative: QueryDef = QueryDef(
    "q63_asof_native",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("purchase_ts"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
      graft.plans.Asof.join(p, c, "user_id", "purchase_ts", "click_ts", Seq("click_id"))
        .toDF("purchase_id", "user_id", "purchase_ts", "click_id", "r_user", "click_ts")
        .select(col("purchase_id"), col("user_id"), col("purchase_ts"),
          col("click_id"), col("click_ts"))
        .orderBy(col("purchase_id"))
    },
    q46AsofJoin.oracle)

  /** Ordered conversion funnel: users who viewed, then clicked strictly
    * AFTER their first view, then purchased strictly after that click —
    * each step's earliest qualifying time feeds the next step's lower
    * bound. Three keyed join+min-agg stages (shuffle on user_id each,
    * never a time-range explosion); the three scalar counts combine via
    * single-row cross joins. The event-analytics staple. */
  val q95Funnel: QueryDef = sql(
    "q95_funnel",
    """WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
      |            WHERE event_type = 'view' GROUP BY 1),
      |s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
      |       JOIN s1 ON s1.user_id = e.user_id AND e.ts > s1.t1
      |       WHERE e.event_type = 'click' GROUP BY 1),
      |s3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
      |       JOIN s2 ON s2.user_id = e.user_id AND e.ts > s2.t2
      |       WHERE e.event_type = 'purchase' GROUP BY 1)
      |SELECT (SELECT COUNT(*) FROM s1) AS n_viewed,
      |       (SELECT COUNT(*) FROM s2) AS n_clicked_after,
      |       (SELECT COUNT(*) FROM s3) AS n_purchased_after""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
    def step(typ: String, prev: Option[org.apache.spark.sql.DataFrame],
        tOut: String): org.apache.spark.sql.DataFrame = {
      val base = ev.filter(col("event_type") === typ)
      val bounded = prev match {
        case Some(p) => base.join(p, base("user_id") === p("user_id") &&
            base("ts") > p(p.columns.last), "inner")
          .select(base("user_id").as("user_id"), base("ts").as("ts"))
        case None => base.select(col("user_id"), col("ts"))
      }
      bounded.groupBy(col("user_id")).agg(min(col("ts")).as(tOut))
    }
    val s1 = step("view", None, "t1")
    val s2 = step("click", Some(s1), "t2")
    val s3 = step("purchase", Some(s2), "t3")
    s1.agg(count(lit(1)).as("n_viewed"))
      .crossJoin(s2.agg(count(lit(1)).as("n_clicked_after")))
      .crossJoin(s3.agg(count(lit(1)).as("n_purchased_after")))
  }

  /** Retention cohorts: users grouped by first-active day; each later
    * active day counts toward (cohort, day_offset) — the classic
    * retention triangle. Two aggregates + one equi-join, all keyed on
    * user_id / (cohort, offset); output is bounded by days², not rows. */
  val q96RetentionCohorts: QueryDef = sql(
    "q96_retention_cohorts",
    """WITH f AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort
      |           FROM events GROUP BY 1),
      |a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)
      |SELECT f.cohort, datediff('day', f.cohort, a.day) AS day_offset,
      |  COUNT(*) AS n_users
      |FROM a JOIN f ON f.user_id = a.user_id
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
    val f = ev.groupBy(col("user_id")).agg(min(to_date(col("ts"))).as("cohort"))
    val a = ev.select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    a.join(f, "user_id")
      .groupBy(col("cohort"), datediff(col("day"), col("cohort")).as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort"), col("day_offset"))
  }

  /** Event-transition matrix: P(next event type | current type) from
    * per-user ordered sequences — the Markov-chain view of behavioral
    * data (what follows a click?). One partitioned LEAD window (per-user
    * sequences shard across the cluster; the q41/q73 ordering key
    * (ts, event_id) keeps duplicate timestamps deterministic), one pair
    * aggregate over a 5×5 key space, and a broadcast-sized per-source
    * total join. Probabilities are exact-integer ratios — identical IEEE
    * division in both engines. */
  val q109TransitionMatrix: QueryDef = sql(
    "q109_transition_matrix",
    """WITH seq AS (
      |  SELECT event_type,
      |    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      |  FROM events),
      |cnt AS (SELECT event_type, next_type, COUNT(*) AS n
      |        FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2),
      |tot AS (SELECT event_type, SUM(n) AS t FROM cnt GROUP BY 1)
      |SELECT c.event_type, c.next_type, c.n,
      |  CAST(c.n AS DOUBLE) / CAST(t.t AS DOUBLE) AS p
      |FROM cnt c JOIN tot t USING (event_type)
      |ORDER BY event_type, next_type""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val cnt = Tables.events(s, dir)
      .select(col("event_type"), lead(col("event_type"), 1).over(w).as("next_type"))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type"), col("next_type")).agg(count(lit(1)).as("n"))
    val tot = cnt.groupBy(col("event_type")).agg(sum(col("n")).as("t"))
    cnt.join(broadcast(tot), "event_type")
      .select(col("event_type"), col("next_type"), col("n"),
        (col("n").cast("double") / col("t").cast("double")).as("p"))
      .orderBy(col("event_type"), col("next_type"))
  }

  /** Half-life-decayed engagement scores — the recency weighting a
    * freshness-aware sampler or trending ranker applies (the
    * exponential-decay counter of Cormode et al. 2009, made EXACT by
    * quantizing the decay to weekly halvings): each event contributes
    * weight floor(10⁶ / 2^(age_days DIV 7)) relative to the corpus's
    * own most recent day, so the whole score is integer arithmetic — no
    * e^{-λt} floats to diverge — and a re-run over the same data is
    * bit-identical. Emits the top-20 users by decayed engagement with
    * their raw counts alongside: the two rankings DISAGREE exactly
    * where recency matters, which is the point.
    *
    * Scale posture: one scan, one user-keyed map-side-combined agg,
    * TakeOrdered top-k; the reference day is a 1-row broadcast. */
  val q192DecayScores: QueryDef = QueryDef.sql(
    "q192_decay_scores",
    """WITH ref AS (SELECT MAX(CAST(ts AS DATE)) AS rd FROM events),
      |w AS (SELECT user_id,
      |        CAST(1000000 // CAST(pow(2, LEAST(date_diff('day', CAST(ts AS DATE), ref.rd) // 7, 20)) AS BIGINT) AS BIGINT) AS wt
      |      FROM events, ref)
      |SELECT user_id, COUNT(*) AS n_events,
      |  CAST(SUM(wt) AS BIGINT) AS decayed_micro
      |FROM w
      |GROUP BY 1
      |ORDER BY decayed_micro DESC, user_id
      |LIMIT 20""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
    val ref = ev.agg(max(col("ts").cast("date")).as("rd"))
    ev.crossJoin(broadcast(ref))
      // the exponent clamps at 20 (weight already 0 there): past ~63
      // weeks an unclamped pow(2, ...) exceeds 2⁶³, where DuckDB's cast
      // errors and Spark's saturates — the engines would diverge
      .withColumn("wt", expr(
        "CAST(1000000L DIV CAST(pow(2, LEAST(datediff(rd, CAST(ts AS DATE)) DIV 7, 20)) AS BIGINT) AS BIGINT)"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("wt")).as("decayed_micro"))
      .orderBy(col("decayed_micro").desc, col("user_id"))
      .limit(20)
  }

  /** Change-point scan over daily event volume (the single-split scan
    * statistic behind binary segmentation — Scott & Knott 1974; Page
    * 1954's CUSUM is its sequential cousin, whose recursive max does
    * not window-decompose, while this scan form does): for each day d,
    * G(d) = |cum(d)·D − T·d| — the cross-multiplied gap between the
    * prefix mean rate and the overall rate, EXACT integers, no
    * division until nothing depends on it. The argmax day is where a
    * pipeline's event volume most likely shifted (deploy, outage,
    * ingestion change) — the first question a monitoring dashboard
    * answers. Peak days are flagged in-row (ties flag together,
    * deterministically).
    *
    * Shape: one corpus-scale daily aggregate; every window after it
    * rides the CALENDAR axis (bounded — days, not rows), the q96
    * posture. */
  val q226ChangePoint: QueryDef = QueryDef.sql(
    "q226_change_point",
    """WITH d AS (SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
      |           FROM events GROUP BY 1),
      |x AS (SELECT day, n, ROW_NUMBER() OVER (ORDER BY day) AS idx,
      |        CAST(SUM(n) OVER (ORDER BY day) AS BIGINT) AS cum FROM d),
      |t AS (SELECT CAST(SUM(n) AS BIGINT) AS total, CAST(COUNT(*) AS BIGINT) AS days FROM d),
      |g AS (SELECT x.day, x.n, x.idx, x.cum,
      |        ABS(x.cum * t.days - t.total * x.idx) AS g_num FROM x, t),
      |mx AS (SELECT MAX(g_num) AS gm FROM g)
      |SELECT g.day, CAST(g.idx AS BIGINT) AS idx, g.n AS n_events,
      |  g.cum AS cum_events, CAST(g.g_num AS BIGINT) AS g_num,
      |  (g.g_num = mx.gm) AS is_peak
      |FROM g, mx
      |ORDER BY g.day""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val d = Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("n"))
    val x = d
      .withColumn("idx", row_number().over(Window.orderBy(col("day"))))
      .withColumn("cum", sum(col("n")).over(Window.orderBy(col("day"))).cast("long"))
    val t = d.agg(sum(col("n")).cast("long").as("total"),
      count(lit(1)).cast("long").as("days"))
    val g = x.crossJoin(broadcast(t))
      .withColumn("g_num", abs(col("cum") * col("days") - col("total") * col("idx")))
    val mx = g.agg(max(col("g_num")).as("gm"))
    g.crossJoin(broadcast(mx))
      .select(col("day"), col("idx").cast("long"), col("n").as("n_events"),
        col("cum").as("cum_events"), col("g_num").cast("long"),
        (col("g_num") === col("gm")).as("is_peak"))
      .orderBy(col("day"))
  }

  /** Multi-touch attribution — the marketing-analytics closure of the
    * q95 funnel: every purchase's value is credited back to the touch
    * events (view/click/signup) that preceded it within a 7-day
    * lookback, under the three standard models AT ONCE — first-touch
    * (min by (ts, event_id)), last-touch (max), and linear (equal
    * split). Money is exact cents; the linear share is per-touch
    * integer division v DIV n (truncating, identical in both engines),
    * so linear_cents ≤ first/last totals by the declared remainder
    * convention. Purchases with no in-window touch land in an
    * 'unattributed' channel carrying full value under every model —
    * first/last column totals therefore conserve the corpus purchase
    * volume exactly (spec-pinned).
    *
    * Shape: the attribution join is USER-keyed with a time-band
    * predicate — the q55 interval-join class: both sides shuffle on
    * user_id once, per-purchase fanout is bounded by one user's 7-day
    * touch activity, and every window after it partitions by purchase.
    * The final channel aggregate is k-row. At 100 TB: salt hot users
    * (q114's device) if one user's stream is pathological; everything
    * else is map-side-combined. */
  val q236Attribution: QueryDef = QueryDef.sql(
    "q236_attribution",
    """WITH p AS (SELECT event_id AS p_id, user_id, ts AS p_ts,
      |             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v_cents
      |           FROM events WHERE event_type = 'purchase'),
      |t AS (SELECT event_id AS t_id, user_id, ts AS t_ts, event_type AS channel
      |      FROM events WHERE event_type IN ('view', 'click', 'signup')),
      |j AS (SELECT p.p_id, p.v_cents, t.t_id, t.t_ts, t.channel
      |      FROM p LEFT JOIN t ON p.user_id = t.user_id
      |        AND t.t_ts < p.p_ts AND t.t_ts >= p.p_ts - INTERVAL 7 DAY),
      |w AS (SELECT p_id, v_cents, channel,
      |        COUNT(t_id) OVER (PARTITION BY p_id) AS n,
      |        ROW_NUMBER() OVER (PARTITION BY p_id ORDER BY t_ts, t_id) AS rn_a,
      |        ROW_NUMBER() OVER (PARTITION BY p_id ORDER BY t_ts DESC, t_id DESC) AS rn_d
      |      FROM j)
      |SELECT COALESCE(channel, 'unattributed') AS channel,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CASE WHEN rn_a = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_first,
      |  CAST(SUM(CASE WHEN rn_d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_last,
      |  CAST(SUM(CASE WHEN rn_a = 1 THEN v_cents ELSE 0 END) AS BIGINT) AS first_cents,
      |  CAST(SUM(CASE WHEN rn_d = 1 THEN v_cents ELSE 0 END) AS BIGINT) AS last_cents,
      |  CAST(SUM(v_cents // GREATEST(n, 1)) AS BIGINT) AS linear_cents
      |FROM w
      |GROUP BY 1
      |ORDER BY channel""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, dir)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"),
        expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").as("v_cents"))
    val t = ev.filter(col("event_type").isin("view", "click", "signup"))
      .select(col("event_id").as("t_id"), col("user_id").as("t_user"),
        col("ts").as("t_ts"), col("event_type").as("channel"))
    val j = p.join(t,
      col("p_user") === col("t_user") &&
        col("t_ts") < col("p_ts") &&
        col("t_ts") >= col("p_ts") - expr("INTERVAL 7 DAYS"),
      "left")
    val byP = Window.partitionBy(col("p_id"))
    val w = j.select(col("p_id"), col("v_cents"), col("channel"),
        count(col("t_id")).over(byP).as("n"),
        row_number().over(byP.orderBy(col("t_ts").asc, col("t_id").asc)).as("rn_a"),
        row_number().over(byP.orderBy(col("t_ts").desc, col("t_id").desc)).as("rn_d"))
    w.groupBy(coalesce(col("channel"), lit("unattributed")).as("channel"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("rn_a") === 1, 1L).otherwise(0L)).as("n_first"),
        sum(when(col("rn_d") === 1, 1L).otherwise(0L)).as("n_last"),
        sum(when(col("rn_a") === 1, col("v_cents")).otherwise(0L)).as("first_cents"),
        sum(when(col("rn_d") === 1, col("v_cents")).otherwise(0L)).as("last_cents"),
        sum(expr("v_cents DIV GREATEST(n, 1L)")).as("linear_cents"))
      .orderBy(col("channel"))
  }

  /** Peak session concurrency by sweep line — the capacity-planning
    * gauge (max simultaneous sessions = the number the autoscaler and
    * the license both care about), computed as the classic
    * boundary-count device: sessionize each user's events by the
    * 30-minute-gap islands rule (new session ⟺ gap > 30 min — the
    * LAG/cumulative-flag formulation), emit +1 at each session start
    * and −1 at each end, and the running sum of deltas in (t, start-
    * before-end) order IS the live-session count at every instant
    * (closed intervals: a session touching t counts at t; same-user
    * sessions can never touch by the gap rule). Per day: the peak
    * count and the first instant achieving it. The global running sum
    * is BLOCK-PARTITIONED by calendar day exactly like q204/q226 —
    * within-day window + day-offset prefix on the bounded calendar
    * axis — and the DuckDB oracle computes the same sum with one
    * GLOBAL window, so the driver hash proves the decomposition
    * (sessions spanning midnight carry through the day offset).
    * Exact integers: epoch-microsecond boundaries, ±1 deltas.
    *
    * Shape: sessionization = user-partitioned windows; the sweep =
    * one day-partitioned window + a day-count-sized offset relation;
    * emission is calendar-sized. */
  /** Gap-rule sessionization shared by q241/q242: events become
    * per-user sessions under the 30-minute-island rule (new session ⟺
    * gap > 30 min), emitted as (user_id, sid, st, en) with epoch-micro
    * bounds. One user-keyed shuffle + two ordered window passes. */
  private[ops] def gapSessions(e: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
    val f = e.withColumn("prev", lag(col("t"), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev").isNull || col("t") - col("prev") > 1800000000L, 1L).otherwise(0L))
    f.withColumn("sid",
        sum(col("is_new")).over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("long"))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("t")).as("st"), max(col("t")).as("en"))
  }

  val q241PeakConcurrency: QueryDef = QueryDef.sql(
    "q241_peak_concurrency",
    """WITH e AS (SELECT user_id, event_id, ts, epoch_us(ts) AS t FROM events),
      |f AS (SELECT user_id, event_id, t,
      |        CASE WHEN LAG(t) OVER (PARTITION BY user_id ORDER BY t, event_id) IS NULL
      |               OR t - LAG(t) OVER (PARTITION BY user_id ORDER BY t, event_id) > 1800000000
      |             THEN 1 ELSE 0 END AS is_new
      |      FROM e),
      |s AS (SELECT user_id, t,
      |        CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY t, event_id
      |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
      |      FROM f),
      |sess AS (SELECT user_id, sid, MIN(t) AS st, MAX(t) AS en
      |         FROM s GROUP BY 1, 2),
      |bnd AS (SELECT user_id, sid, st AS t, CAST(1 AS BIGINT) AS delta FROM sess
      |        UNION ALL
      |        SELECT user_id, sid, en, CAST(-1 AS BIGINT) FROM sess),
      |conc AS (SELECT CAST(make_timestamp(t) AS DATE) AS day, t,
      |           CAST(SUM(delta) OVER (ORDER BY t, delta DESC, user_id, sid) AS BIGINT) AS c
      |         FROM bnd),
      |pk AS (SELECT day, t, c, MAX(c) OVER (PARTITION BY day) AS mx FROM conc)
      |SELECT day, CAST(COUNT(*) AS BIGINT) AS n_boundaries,
      |  CAST(MAX(c) AS BIGINT) AS peak_conc,
      |  CAST(MIN(CASE WHEN c = mx THEN t END) AS BIGINT) AS peak_at_micro
      |FROM pk
      |GROUP BY 1
      |ORDER BY day""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("t"))
    val sess = gapSessions(e)
    val bnd = sess.select(col("user_id"), col("sid"), col("st").as("t"), lit(1L).as("delta"))
      .unionByName(sess.select(col("user_id"), col("sid"), col("en").as("t"), lit(-1L).as("delta")))
      .withColumn("day", to_date(timestamp_micros(col("t"))))
    // block-partitioned sweep: within-day running sum + day offsets on
    // the bounded calendar axis (the q204/q226 device; the oracle's
    // single global window proves the decomposition)
    val within = bnd.withColumn("wc",
      sum(col("delta")).over(Window.partitionBy(col("day"))
        .orderBy(col("t"), col("delta").desc, col("user_id"), col("sid"))).cast("long"))
    val offs = bnd.groupBy(col("day")).agg(sum(col("delta")).as("dt"))
      .withColumn("off",
        (sum(col("dt")).over(Window.orderBy(col("day"))) - col("dt")).cast("long"))
      .select(col("day"), col("off"))
    val conc = within.join(broadcast(offs), Seq("day"))
      .withColumn("c", col("wc") + col("off"))
    conc.withColumn("mx", max(col("c")).over(Window.partitionBy(col("day"))))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_boundaries"),
        max(col("c")).cast("long").as("peak_conc"),
        min(when(col("c") === col("mx"), col("t"))).cast("long").as("peak_at_micro"))
      .orderBy(col("day"))
  }

  /** Kaplan–Meier survival over session durations (Kaplan & Meier,
    * JASA'58) — the duration analytics every engagement dashboard
    * eventually needs done RIGHT, i.e. with censoring: a session still
    * cut off by the end of the observation window (its last event lands
    * within one gap length, 30 min, of the corpus max — it may still be
    * open) must not count as "ended at that length" or short-biased
    * estimates follow; KM keeps it in the risk sets it survived through
    * and drops it from death counts. Sessions come from the q241
    * gap-rule sessionizer ([[gapSessions]] — shared code, the two
    * operators can never disagree on what a session is); durations land
    * on the bounded whole-minute axis.
    *
    * Exactness device: the survival curve is a cumulative PRODUCT,
    * which floats would make order- and engine-dependent. Instead S is
    * carried in integer micro-units through the deterministic
    * recurrence s_i = (s_{i−1} · (n_i − d_i)) DIV n_i with s_0 = 10^6 —
    * truncating integer division agrees between Spark `DIV` and
    * DuckDB `//` (both truncate toward zero), so the driver hash is
    * exact. The recurrence is inherently sequential, but its input is
    * the DEATH-STEP table on the bounded minute axis (≤ max session
    * length in minutes, 58 rows at sf0.1) — the bounded-collect class
    * of q170's compaction walk; the oracle walks the same recurrence
    * as a linear RECURSIVE CTE. Everything corpus-sized (sessionize,
    * duration histogram, cumulative risk sets) is distributed.
    *
    * Output: one row per death time — at-risk count, deaths, sessions
    * censored at exactly that duration (informational; they stay in
    * n_risk per the KM convention), survival in micro. */
  val q242KaplanMeier: QueryDef = QueryDef.sql(
    "q242_kaplan_meier",
    """WITH RECURSIVE e AS (SELECT user_id, event_id, epoch_us(ts) AS t FROM events),
      |mx AS (SELECT MAX(t) AS m FROM e),
      |f AS (SELECT user_id, event_id, t,
      |        CASE WHEN LAG(t) OVER (PARTITION BY user_id ORDER BY t, event_id) IS NULL
      |               OR t - LAG(t) OVER (PARTITION BY user_id ORDER BY t, event_id) > 1800000000
      |             THEN 1 ELSE 0 END AS is_new
      |      FROM e),
      |s AS (SELECT user_id, t,
      |        CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY t, event_id
      |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
      |      FROM f),
      |sess AS (SELECT user_id, sid, MIN(t) AS st, MAX(t) AS en
      |         FROM s GROUP BY 1, 2),
      |lab AS (SELECT (en - st) // 60000000 AS dur_min,
      |          CASE WHEN en > (SELECT m FROM mx) - 1800000000 THEN 0 ELSE 1 END AS ev
      |        FROM sess),
      |hist AS (SELECT dur_min AS t, CAST(SUM(ev) AS BIGINT) AS d,
      |           CAST(COUNT(*) - SUM(ev) AS BIGINT) AS c_at
      |         FROM lab GROUP BY 1),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lab),
      |cum AS (SELECT t, d, c_at,
      |          CAST((SELECT n FROM tot) - COALESCE(SUM(d + c_at) OVER (ORDER BY t
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
      |        FROM hist),
      |steps AS (SELECT ROW_NUMBER() OVER (ORDER BY t) AS rn, t, d, c_at, n_risk
      |          FROM cum WHERE d > 0),
      |walk(rn, t, n_risk, d, c_at, sv) AS (
      |  SELECT rn, t, n_risk, d, c_at,
      |    (CAST(1000000 AS BIGINT) * (n_risk - d)) // n_risk
      |  FROM steps WHERE rn = 1
      |  UNION ALL
      |  SELECT st.rn, st.t, st.n_risk, st.d, st.c_at,
      |    (w.sv * (st.n_risk - st.d)) // st.n_risk
      |  FROM steps st JOIN walk w ON st.rn = w.rn + 1)
      |SELECT CAST(t AS BIGINT) AS dur_min, n_risk, d AS n_churn,
      |  c_at AS n_censored_at, CAST(sv AS BIGINT) AS surv_micro
      |FROM walk
      |ORDER BY dur_min""".stripMargin) { (s, dir) =>
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("t"))
    val sess = gapSessions(e)
    val mx = e.agg(max(col("t"))).head.getLong(0)
    val lab = sess.select(
      expr("(en - st) div 60000000").as("dur_min"),
      when(col("en") > lit(mx - 1800000000L), 0L).otherwise(1L).as("ev"))
    val hist = lab.groupBy(col("dur_min").as("t"))
      .agg(sum(col("ev")).as("d"), (count(lit(1)) - sum(col("ev"))).as("c_at"))
    val total = lab.count()
    // risk set via one window over the BOUNDED minute axis (≤ max
    // session minutes rows), then the death-step table — tiny by
    // construction — walks the integer recurrence driver-side
    // (bounded-collect class, see scaladoc)
    val cum = hist.withColumn("n_risk",
      (lit(total) - coalesce(sum(col("d") + col("c_at"))
        .over(Window.orderBy(col("t")).rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .cast("long"))
    val steps = cum.filter(col("d") > 0).orderBy(col("t"))
      .select(col("t"), col("n_risk"), col("d"), col("c_at"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    var sv = 1000000L
    val out = steps.map { case (t, n, d, c) =>
      sv = sv * (n - d) / n
      (t, n, d, c, sv)
    }
    out.toSeq.toDF("dur_min", "n_risk", "n_churn", "n_censored_at", "surv_micro")
      .orderBy(col("dur_min"))
  }

  /** Shapley-value attribution — the game-theoretic closure of q236's
    * rule-based models (Shapley 1953; Zhao et al. 2018 for marketing):
    * each purchase's credit split by the unique axioms-satisfying
    * division over its 7-day touch-channel COALITION, v(S) = purchases
    * (and cents) whose touch set is non-empty and ⊆ S. With the 3-bit
    * channel universe the whole game is METADATA: touch patterns are 8
    * counters aggregated corpus-side (the q236 band join + one bit-OR
    * agg per purchase), and φ_c = Σ_{S∌c} w(|S|)·(v(S∪c)−v(S)) runs on
    * an 8×3 relation. Exactness: 3! = 6, so φ is emitted in SIXTHS —
    * exact integers, no factorial-weight floats; efficiency
    * (Σφ = v(full), in sixths: Σ = 6·attributed) is spec-asserted and
    * the unattributed row carries 6× its totals so the whole output
    * column-sums to 6× corpus purchase volume. Bit tricks shared by
    * both engines: pattern = SUM(DISTINCT power-of-two channel codes),
    * subset test (pat & S) = pat, popcount by shift-and-add.
    * Planted-journey spec with hand-walked sixths
    * (`CurationAuditSpec`). */
  val q249ShapleyAttribution: QueryDef = QueryDef.sql(
    "q249_shapley_attribution",
    """WITH p AS (SELECT event_id AS p_id, user_id, ts AS p_ts,
      |             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v_cents
      |           FROM events WHERE event_type = 'purchase'),
      |t AS (SELECT event_id AS t_id, user_id, ts AS t_ts, event_type AS channel
      |      FROM events WHERE event_type IN ('view', 'click', 'signup')),
      |j AS (SELECT p.p_id, p.v_cents, t.channel
      |      FROM p LEFT JOIN t ON p.user_id = t.user_id
      |        AND t.t_ts < p.p_ts AND t.t_ts >= p.p_ts - INTERVAL 7 DAY),
      |pt AS (SELECT p_id, MAX(v_cents) AS v_cents,
      |         CAST(SUM(DISTINCT CASE channel WHEN 'view' THEN 1 WHEN 'click' THEN 2
      |           WHEN 'signup' THEN 4 ELSE 0 END) AS BIGINT) AS pat
      |       FROM j GROUP BY 1),
      |cnts AS (SELECT pat, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(v_cents) AS BIGINT) AS cents
      |         FROM pt GROUP BY 1),
      |v AS (SELECT ss.s,
      |        CAST(COALESCE(SUM(CASE WHEN c.pat <> 0 AND (c.pat & ss.s) = c.pat
      |          THEN c.n END), 0) AS BIGINT) AS vn,
      |        CAST(COALESCE(SUM(CASE WHEN c.pat <> 0 AND (c.pat & ss.s) = c.pat
      |          THEN c.cents END), 0) AS BIGINT) AS vc
      |      FROM generate_series(0, 7) ss(s) CROSS JOIN cnts c GROUP BY 1),
      |ch AS (SELECT * FROM (VALUES (1, 'view'), (2, 'click'), (4, 'signup')) x(bit, name)),
      |phi AS (SELECT ch.name AS channel,
      |          CAST(SUM((CASE (v0.s & 1) + ((v0.s >> 1) & 1) + ((v0.s >> 2) & 1)
      |              WHEN 0 THEN 2 WHEN 1 THEN 1 ELSE 2 END) * (v1.vn - v0.vn)) AS BIGINT)
      |            AS credit_count_x6,
      |          CAST(SUM((CASE (v0.s & 1) + ((v0.s >> 1) & 1) + ((v0.s >> 2) & 1)
      |              WHEN 0 THEN 2 WHEN 1 THEN 1 ELSE 2 END) * (v1.vc - v0.vc)) AS BIGINT)
      |            AS credit_cents_x6
      |        FROM ch JOIN v v0 ON (v0.s & ch.bit) = 0
      |          JOIN v v1 ON v1.s = (v0.s | ch.bit)
      |        GROUP BY 1)
      |SELECT channel, credit_count_x6, credit_cents_x6 FROM phi
      |UNION ALL
      |SELECT 'unattributed', 6 * n, 6 * cents FROM cnts WHERE pat = 0
      |ORDER BY channel""".stripMargin) { (s, dir) =>
    import s.implicits._
    val ev = Tables.events(s, dir)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"), col("ts").as("p_ts"),
        expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").as("v_cents"))
    val t = ev.filter(col("event_type").isin("view", "click", "signup"))
      .select(col("user_id").as("t_user"), col("ts").as("t_ts"), col("event_type").as("channel"))
    val pt = p.join(t,
        col("p_user") === col("t_user") && col("t_ts") < col("p_ts") &&
          col("t_ts") >= col("p_ts") - expr("INTERVAL 7 DAYS"), "left")
      .groupBy(col("p_id"))
      .agg(max(col("v_cents")).as("v_cents"),
        coalesce(sum_distinct(expr(
          "CASE channel WHEN 'view' THEN 1L WHEN 'click' THEN 2L WHEN 'signup' THEN 4L ELSE 0L END")),
          lit(0L)).as("pat"))
    val cnts = pt.groupBy(col("pat"))
      .agg(count(lit(1)).cast("long").as("n"), sum(col("v_cents")).as("cents"))
    // everything below is the 8-subset metadata plane
    val v = s.range(0, 8).select(col("id").as("ss")).crossJoin(broadcast(cnts))
      .groupBy(col("ss"))
      .agg(coalesce(sum(when(col("pat") =!= 0 && (col("pat").bitwiseAND(col("ss")) === col("pat")),
          col("n"))), lit(0L)).as("vn"),
        coalesce(sum(when(col("pat") =!= 0 && (col("pat").bitwiseAND(col("ss")) === col("pat")),
          col("cents"))), lit(0L)).as("vc"))
    val ch = Seq((1L, "view"), (2L, "click"), (4L, "signup")).toDF("bit", "channel")
    val v0 = v.select(col("ss").as("s0"), col("vn").as("vn0"), col("vc").as("vc0"))
    val v1 = v.select(col("ss").as("s1"), col("vn").as("vn1"), col("vc").as("vc1"))
    val w = expr("CASE (s0 & 1) + ((s0 >> 1) & 1) + ((s0 >> 2) & 1) " +
      "WHEN 0 THEN 2L WHEN 1 THEN 1L ELSE 2L END")
    val phi = broadcast(ch)
      .join(v0, col("s0").bitwiseAND(col("bit")) === 0)
      .join(v1, col("s1") === col("s0").bitwiseOR(col("bit")))
      .groupBy(col("channel"))
      .agg(sum(w * (col("vn1") - col("vn0"))).cast("long").as("credit_count_x6"),
        sum(w * (col("vc1") - col("vc0"))).cast("long").as("credit_cents_x6"))
    phi.unionByName(cnts.filter(col("pat") === 0)
        .select(lit("unattributed").as("channel"),
          (lit(6L) * col("n")).as("credit_count_x6"),
          (lit(6L) * col("cents")).as("credit_cents_x6")))
      .orderBy(col("channel"))
  }

  /** One chain's unrolled 8-round absorption walk for the q251 oracle:
    * transient mass recurrence + per-round conversion absorption, with
    * every product floored to micro BEFORE the sum (order-free exact
    * integers). `x` is the removed channel ('' for the full chain). */
  private def mkChainSql(tag: String, x: String): String = {
    val tx = s"""tx_$tag AS MATERIALIZED (SELECT src, dst, p_micro FROM p
                |  WHERE src <> '$x' AND dst <> '$x'),
                |r0_$tag AS (SELECT 'start' AS state, CAST(1000000 AS BIGINT) AS mass)""".stripMargin
    val rounds = (1 to 8).map { k =>
      s"""r${k}_$tag AS MATERIALIZED (SELECT t.dst AS state,
         |    CAST(SUM((r.mass * t.p_micro) // 1000000) AS BIGINT) AS mass
         |  FROM r${k - 1}_$tag r JOIN tx_$tag t ON t.src = r.state
         |  WHERE t.dst IN ('view', 'click', 'signup') GROUP BY 1),
         |a${k}_$tag AS MATERIALIZED (SELECT CAST(COALESCE(SUM((r.mass * t.p_micro) // 1000000), 0) AS BIGINT) AS m
         |  FROM r${k - 1}_$tag r JOIN tx_$tag t ON t.src = r.state AND t.dst = 'conv')""".stripMargin
    }.mkString(",\n")
    val convSum = (1 to 8).map(k => s"(SELECT m FROM a${k}_$tag)").mkString(" + ")
    s"$tx,\n$rounds,\nconv_$tag AS (SELECT CAST($convSum AS BIGINT) AS conv)"
  }

  /** Markov-chain (removal-effect) attribution — the third leg of the
    * attribution suite (q236 rule-based, q249 Shapley, this one
    * path-based; Anderl et al. 2016): user journeys become a first-order
    * chain over {start, view, click, signup} with absorbing conversion
    * (each purchase closes a journey and the stream restarts; 'error'
    * events are non-marketing and excluded), and each channel's credit
    * is its REMOVAL EFFECT — how much absorbed conversion mass vanishes
    * when the channel's states are deleted, i.e. the paths that NEEDED
    * it, which rule models can't see (a middle-of-path channel earns
    * nothing from first/last-touch).
    *
    * Exactness + scale: transition COUNTS are the only corpus-sized
    * work (one user-keyed window pass — the q109 class); probabilities
    * floor to micro, and the 4 chains × 8-round bounded-horizon
    * absorption walks run on the COLLECTED ≤ 20-row matrix (metadata
    * plane, the q170 bounded-collect class) with every mass·p product
    * floored before summing, so the walk is order-free exact and the
    * oracle unrolls the identical recurrence as generated CTEs
    * ([[mkChainSql]]). Removal can only shed paths, so drops are
    * structurally ≥ 0 even under flooring (spec-asserted); converted
    * cents split ∝ drops with a zero-sum guard. */
  val q251MarkovRemoval: QueryDef = QueryDef.sql(
    "q251_markov_removal", {
      val base =
        """WITH e2 AS (SELECT user_id, epoch_us(ts) AS t, event_id,
          |    CASE event_type WHEN 'purchase' THEN 'conv' ELSE event_type END AS st
          |  FROM events WHERE event_type IN ('view', 'click', 'signup', 'purchase')),
          |ord AS (SELECT user_id, st, t, event_id,
          |    CAST(COALESCE(SUM(CASE WHEN st = 'conv' THEN 1 ELSE 0 END)
          |      OVER (PARTITION BY user_id ORDER BY t, event_id
          |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS jid
          |  FROM e2),
          |seq AS (SELECT user_id, jid, st,
          |    ROW_NUMBER() OVER (PARTITION BY user_id, jid ORDER BY t, event_id) AS rn,
          |    LEAD(st) OVER (PARTITION BY user_id, jid ORDER BY t, event_id) AS nxt
          |  FROM ord),
          |tr AS (SELECT 'start' AS src, st AS dst FROM seq WHERE rn = 1
          |       UNION ALL
          |       SELECT st, COALESCE(nxt, 'null') FROM seq WHERE st <> 'conv'),
          |cnt AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n FROM tr GROUP BY 1, 2),
          |tot AS (SELECT src, CAST(SUM(n) AS BIGINT) AS tn FROM cnt GROUP BY 1),
          |p AS MATERIALIZED (SELECT cnt.src, cnt.dst,
          |        (CAST(1000000 AS BIGINT) * cnt.n) // tot.tn AS p_micro
          |      FROM cnt JOIN tot ON tot.src = cnt.src)""".stripMargin
      val chains = Seq(("full", ""), ("v", "view"), ("c", "click"), ("s", "signup"))
        .map { case (tag, x) => mkChainSql(tag, x) }.mkString(",\n")
      base + ",\n" + chains + ",\n" +
        """tc AS (SELECT CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
          |       FROM events WHERE event_type = 'purchase'),
          |drops AS (
          |  SELECT 'view' AS channel, (SELECT conv FROM conv_full) AS full_conv,
          |    (SELECT conv FROM conv_v) AS removed_conv
          |  UNION ALL SELECT 'click', (SELECT conv FROM conv_full), (SELECT conv FROM conv_c)
          |  UNION ALL SELECT 'signup', (SELECT conv FROM conv_full), (SELECT conv FROM conv_s)),
          |sd AS (SELECT CAST(SUM(full_conv - removed_conv) AS BIGINT) AS v FROM drops)
          |SELECT channel, full_conv AS full_conv_micro, removed_conv AS removed_conv_micro,
          |  full_conv - removed_conv AS drop_micro,
          |  CASE WHEN (SELECT v FROM sd) = 0 THEN 0
          |       ELSE ((SELECT cents FROM tc) * (full_conv - removed_conv)) // (SELECT v FROM sd)
          |  END AS credit_cents
          |FROM drops
          |ORDER BY channel""".stripMargin
    }) { (s, dir) =>
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val e2 = Tables.events(s, dir)
      .filter(col("event_type").isin("view", "click", "signup", "purchase"))
      .select(col("user_id"), unix_micros(col("ts")).as("t"), col("event_id"),
        when(col("event_type") === "purchase", "conv").otherwise(col("event_type")).as("st"))
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
    val ord = e2.withColumn("jid",
      coalesce(sum(when(col("st") === "conv", 1L).otherwise(0L))
        .over(byUser.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val byJourney = Window.partitionBy(col("user_id"), col("jid")).orderBy(col("t"), col("event_id"))
    val seq = ord.withColumn("rn", row_number().over(byJourney))
      .withColumn("nxt", lead(col("st"), 1).over(byJourney))
    val tr = seq.filter(col("rn") === 1).select(lit("start").as("src"), col("st").as("dst"))
      .unionByName(seq.filter(col("st") =!= "conv")
        .select(col("st").as("src"), coalesce(col("nxt"), lit("null")).as("dst")))
    val cnt = tr.groupBy(col("src"), col("dst")).agg(count(lit(1)).cast("long").as("n"))
    val pRows = cnt.withColumn("tn", sum(col("n")).over(Window.partitionBy(col("src"))))
      .select(col("src"), col("dst"), expr("(1000000L * n) DIV tn").as("p_micro"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // ≤ 20-row matrix: the 4 chains' 8-round walks are metadata-plane
    // (bounded-collect class — see scaladoc)
    val transients = Set("view", "click", "signup")
    def absorbed(removed: String): Long = {
      val tx = pRows.filter { case (a, b, _) => a != removed && b != removed }
        .sortBy { case (a, b, _) => (a, b) }
      var mass = Map("start" -> 1000000L)
      var conv = 0L
      for (_ <- 1 to 8) {
        val out = tx.flatMap { case (src, dst, p) =>
          mass.get(src).map(m => (dst, m * p / 1000000L))
        }
        conv += out.filter(_._1 == "conv").map(_._2).sum
        mass = out.filter(t => transients(t._1)).groupBy(_._1)
          .map { case (k, v) => k -> v.map(_._2).sum }
      }
      conv
    }
    val full = absorbed("")
    val cents = Tables.events(s, dir).filter(col("event_type") === "purchase")
      .agg(sum(expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)"))).head.getLong(0)
    val rows = Seq("view", "click", "signup").map(ch => (ch, full, absorbed(ch)))
    val sd = rows.map { case (_, f, r) => f - r }.sum
    rows.map { case (ch, f, r) =>
      (ch, f, r, f - r, if (sd == 0) 0L else cents * (f - r) / sd)
    }.toDF("channel", "full_conv_micro", "removed_conv_micro", "drop_micro", "credit_cents")
      .orderBy(col("channel"))
  }

  /** Haar-wavelet compression of the daily event-volume series — the
    * multi-resolution sketch (Haar 1910; Matias/Vitter/Wang SIGMOD'98
    * wavelet synopses) a monitoring store keeps instead of raw
    * per-day counters: the 32-slot padded calendar decomposes into one
    * root sum + 31 difference coefficients, the top-8 by magnitude are
    * kept (burst days live in few large coefficients; the smooth bulk
    * compresses away), and each day reconstructs from ≤ 6 kept terms.
    * EXACT in integers end-to-end: the unnormalized transform is all
    * sums/differences, and reconstruction is emitted in 32nds —
    * x·32 = root ± Σ D_ℓ·(32≫ℓ) — so keeping ALL coefficients
    * reconstructs with error exactly 0 (spec-proved identity), and the
    * top-8 error is an exact integer, not a float estimate. No
    * recursion anywhere: each level is one bucket aggregate
    * (approx = Σ, detail = Σ(+even/−odd)), five levels on the bounded
    * calendar axis; the only corpus-sized work is the day-count scan.
    * Planted single-burst case (one detail chain reconstructs the
    * spike exactly) spec-pinned (`CurationAuditSpec`). */
  val q259HaarCompress: QueryDef = QueryDef.sql(
    "q259_haar_compress",
    """WITH d0 AS (SELECT CAST(date_diff('day', (SELECT MIN(CAST(ts AS DATE)) FROM events),
      |      CAST(ts AS DATE)) AS BIGINT) AS day,
      |      CAST(COUNT(*) AS BIGINT) AS n
      |    FROM events GROUP BY 1),
      |days AS (SELECT CAST(t.i AS BIGINT) AS day, COALESCE(d0.n, 0) AS n
      |         FROM generate_series(0, 31) t(i) LEFT JOIN d0 ON d0.day = t.i),
      |s0 AS (SELECT day AS b, n AS v FROM days),
      |s1 AS (SELECT b // 2 AS b, CAST(SUM(v) AS BIGINT) AS v FROM s0 GROUP BY 1),
      |s2 AS (SELECT b // 2 AS b, CAST(SUM(v) AS BIGINT) AS v FROM s1 GROUP BY 1),
      |s3 AS (SELECT b // 2 AS b, CAST(SUM(v) AS BIGINT) AS v FROM s2 GROUP BY 1),
      |s4 AS (SELECT b // 2 AS b, CAST(SUM(v) AS BIGINT) AS v FROM s3 GROUP BY 1),
      |s5 AS (SELECT b // 2 AS b, CAST(SUM(v) AS BIGINT) AS v FROM s4 GROUP BY 1),
      |det AS (
      |  SELECT 1 AS lvl, a.b // 2 AS b, a.v - o.v AS d
      |  FROM s0 a JOIN s0 o ON o.b = a.b + 1 AND a.b % 2 = 0
      |  UNION ALL SELECT 2, a.b // 2, a.v - o.v
      |  FROM s1 a JOIN s1 o ON o.b = a.b + 1 AND a.b % 2 = 0
      |  UNION ALL SELECT 3, a.b // 2, a.v - o.v
      |  FROM s2 a JOIN s2 o ON o.b = a.b + 1 AND a.b % 2 = 0
      |  UNION ALL SELECT 4, a.b // 2, a.v - o.v
      |  FROM s3 a JOIN s3 o ON o.b = a.b + 1 AND a.b % 2 = 0
      |  UNION ALL SELECT 5, a.b // 2, a.v - o.v
      |  FROM s4 a JOIN s4 o ON o.b = a.b + 1 AND a.b % 2 = 0),
      |kept AS (SELECT lvl, b, d FROM (SELECT *,
      |    ROW_NUMBER() OVER (ORDER BY ABS(d) DESC, lvl, b) AS rn FROM det)
      |  WHERE rn <= 8),
      |recon AS (SELECT days.day, days.n,
      |    (SELECT v FROM s5 WHERE b = 0)
      |    + CAST(COALESCE(SUM((CASE WHEN (days.day // (1 << (k.lvl - 1))) % 2 = 0
      |          THEN 1 ELSE -1 END) * k.d * (32 // (1 << k.lvl))), 0) AS BIGINT) AS r32
      |  FROM days LEFT JOIN kept k ON days.day // (1 << k.lvl) = k.b
      |  GROUP BY 1, 2)
      |SELECT day, n AS actual, r32 AS recon_x32, ABS(32 * n - r32) AS err_x32
      |FROM recon
      |ORDER BY day""".stripMargin) { (s, dir) =>
    val d0 = Tables.events(s, dir)
      .select(col("ts").cast("date").as("d"))
    val mn = d0.agg(min(col("d")).as("mn"))
    val byDay = d0.crossJoin(broadcast(mn))
      .select(datediff(col("d"), col("mn")).cast("long").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).cast("long").as("n"))
    val days = s.range(0, 32).select(col("id").as("day"))
      .join(byDay, Seq("day"), "left")
      .select(col("day"), coalesce(col("n"), lit(0L)).as("n"))
    // five bucket aggregates on the bounded 32-slot axis: approx = Σ,
    // detail = Σ(+even/−odd) — the whole transform, no recursion
    var approx = days.select(col("day").as("b"), col("n").as("v"))
    val details = (1 to 5).map { lvl =>
      val lvlUp = approx.groupBy(expr("b div 2").as("b"))
        .agg(sum(col("v")).as("v"),
          sum(when(pmod(col("b"), lit(2)) === 0, col("v")).otherwise(-col("v"))).as("d"))
      val det = lvlUp.select(lit(lvl.toLong).as("lvl"), col("b"), col("d"))
      approx = lvlUp.select(col("b"), col("v"))
      det
    }.reduce(_ unionByName _)
    val root = approx.select(col("v").as("root"))
    val kept = details.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(abs(col("d")).desc, col("lvl"), col("b"))))
      .filter(col("rn") <= 8).select(col("lvl"), col("b").as("kb"), col("d"))
    days.crossJoin(broadcast(root))
      .join(broadcast(kept), expr("day div shiftleft(1L, CAST(lvl AS INT))") === col("kb"), "left")
      .groupBy(col("day"), col("n"), col("root"))
      .agg(coalesce(sum(
        expr("""(CASE WHEN (day div shiftleft(1L, CAST(lvl AS INT) - 1)) % 2 = 0
               | THEN 1L ELSE -1L END) * d * (32 div shiftleft(1L, CAST(lvl AS INT)))"""
          .stripMargin)), lit(0L)).as("adj"))
      .select(col("day"), col("n").as("actual"),
        (col("root") + col("adj")).as("recon_x32"),
        abs(lit(32L) * col("n") - (col("root") + col("adj"))).as("err_x32"))
      .orderBy(col("day"))
  }

  /** Interval-union coverage (uptime / SLA accounting): each event opens a
    * VARIABLE-LENGTH activity interval [ts, ts + 60s + floor(value·60)s);
    * per user, overlapping intervals merge into islands and the covered
    * time is the union length. Variable durations make this a true
    * interval-union problem — an early long interval can swallow several
    * later ones, so "gap to the PREVIOUS event" (session semantics, q41)
    * is wrong here; the island test must compare against the RUNNING MAX
    * end. Touching intervals ([a,b) then [b,c)) merge.
    *
    * One user-keyed shuffle, then two ordered window passes per user
    * (running max end → island ids) and two aggregations — O(n log n)
    * per user, never the quadratic pairwise-overlap join. All arithmetic
    * is exact BIGINT microseconds (`unix_micros`/`epoch_us`); the only
    * double op is floor(value·60), the same IEEE expression both engines.
    * Hot users at 100 TB salt via the q114 device. */
  /** Per-user merged interval islands of a (user_id, event_id, s, e)
    * relation: overlapping-or-touching [s, e) intervals collapse into
    * islands via the running-max-end test. Returns one row per island:
    * (user_id, island, start_us, end_us, covered, n). Shared by the q264
    * batch face and the streaming equivalence proof. */
  def intervalIslands(iv: DataFrame): DataFrame = {
    val byStart = Window.partitionBy(col("user_id")).orderBy(col("s"), col("event_id"))
    val marked = iv
      .withColumn("pmax",
        max(col("e")).over(byStart.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_island",
        when(col("pmax") >= col("s"), lit(0L)).otherwise(lit(1L)))
    // the island-id running sum MUST visit rows in the same total order
    // the new_island flags were computed under — (s, event_id), which is
    // unique per user hence deterministic. Ordering by (s, e) here once
    // let a tied-start pair with inverted e-order pick up the previous
    // island's id across a genuine gap (and silently disagreed with
    // intervalUnionStream's (s, event_id) sort).
    marked.withColumn("island",
        sum(col("new_island")).over(
          Window.partitionBy(col("user_id")).orderBy(col("s"), col("event_id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("island"))
      .agg(min(col("s")).as("start_us"), max(col("e")).as("end_us"),
        (max(col("e")) - min(col("s"))).as("covered"), count(lit(1)).as("n"))
  }

  /** The q264/streaming-face interval projection of the events table. */
  private[graft] def eventIntervals(events: DataFrame): DataFrame = events.select(
    col("user_id"), col("event_id"),
    unix_micros(col("ts")).as("s"),
    (unix_micros(col("ts")) +
      (expr("CAST(FLOOR(value * 60) AS BIGINT)") + lit(60L)) * lit(1000000L)).as("e"))

  val q264IntervalUnion: QueryDef = sql(
    "q264_interval_union",
    """WITH iv AS (
      |  SELECT user_id, event_id,
      |    epoch_us(ts) AS s,
      |    epoch_us(ts) + (CAST(FLOOR(value * 60) AS BIGINT) + 60) * 1000000 AS e
      |  FROM events),
      |marked AS (
      |  SELECT user_id, event_id, s, e,
      |    CASE WHEN MAX(e) OVER (PARTITION BY user_id ORDER BY s, event_id
      |                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |              >= s THEN 0 ELSE 1 END AS new_island
      |  FROM iv),
      |isl AS (
      |  SELECT user_id, s, e,
      |    SUM(new_island) OVER (PARTITION BY user_id ORDER BY s, event_id
      |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      |  FROM marked),
      |spans AS (
      |  SELECT user_id, island, MAX(e) - MIN(s) AS covered, COUNT(*) AS n
      |  FROM isl GROUP BY 1, 2)
      |SELECT user_id,
      |  CAST(SUM(n) AS BIGINT) AS n_events,
      |  CAST(COUNT(*) AS BIGINT) AS n_islands,
      |  CAST(SUM(covered) AS BIGINT) AS covered_us
      |FROM spans
      |GROUP BY 1
      |ORDER BY user_id""".stripMargin) { (s, dir) =>
    intervalIslands(eventIntervals(Tables.events(s, dir)))
      .groupBy(col("user_id"))
      .agg(sum(col("n")).as("n_events"), count(lit(1)).as("n_islands"),
        sum(col("covered")).as("covered_us"))
      .orderBy(col("user_id"))
  }

  /** Theil–Sen robust trend (Theil 1950; Sen JASA 1968) of the daily event
    * volume: slope = median of all pairwise day-to-day slopes, intercept =
    * median residual at that slope — the 29.3%-breakdown trend estimator
    * that one bad telemetry day cannot bend (OLS, q244's device, moves
    * with every outlier).
    *
    * Scale split: the corpus-sized stage is the daily count aggregate
    * (map-side combined, one shuffle on day); the pairwise stage runs on
    * the DAY relation — O(days²) pairs where days is bounded (30 here,
    * ~3.6 k at a decade of retention → ~6.6 M pairs, still dimension-
    * sized). Medians select order statistics through one ordered window
    * over that bounded relation; the single-partition window is over
    * day-pairs, never events. Determinism: slopes are one double division
    * of exact BIGINTs; the even-count median averages the two middle
    * values ((n+1) DIV 2 and n DIV 2 + 1 collapse to the same row when n
    * is odd) — identical IEEE ops both engines. */
  val q265TheilSen: QueryDef = sql(
    "q265_theil_sen",
    """WITH daily AS (
      |  SELECT CAST(epoch_us(date_trunc('day', ts)) // 86400000000 AS BIGINT) AS day_idx,
      |    CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM events GROUP BY 1),
      |base AS (SELECT MIN(day_idx) AS d0 FROM daily),
      |d AS (SELECT day_idx - d0 AS x, cnt FROM daily, base),
      |sl AS (SELECT (CAST(b.cnt AS DOUBLE) - CAST(a.cnt AS DOUBLE)) / CAST(b.x - a.x AS DOUBLE) AS slope
      |       FROM d a JOIN d b ON b.x > a.x),
      |r AS (SELECT slope, ROW_NUMBER() OVER (ORDER BY slope) AS rn,
      |        COUNT(*) OVER () AS n FROM sl),
      |med AS (SELECT AVG(slope) AS slope FROM r WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1),
      |res AS (SELECT CAST(d.cnt AS DOUBLE) - med.slope * CAST(d.x AS DOUBLE) AS resid
      |        FROM d, med),
      |r2 AS (SELECT resid, ROW_NUMBER() OVER (ORDER BY resid) AS rn,
      |         COUNT(*) OVER () AS n FROM res),
      |icept AS (SELECT AVG(resid) AS intercept FROM r2 WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1)
      |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM d) AS n_days,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM sl) AS n_pairs,
      |  med.slope AS slope_per_day, icept.intercept AS intercept
      |FROM med, icept""".stripMargin) { (s, dir) =>
    val daily = Tables.events(s, dir)
      // integer DIV, never `/`: epoch micros (~1.7e18) exceed double's
      // 2^53 integer range, so a double division here would lose days
      .groupBy(expr("unix_micros(date_trunc('day', ts)) div 86400000000L").as("day_idx"))
      .agg(count(lit(1)).as("cnt"))
    val d0 = daily.agg(min(col("day_idx")).as("d0"))
    val d = daily.crossJoin(broadcast(d0))
      .select((col("day_idx") - col("d0")).as("x"), col("cnt"))
      .stageBoundary // day-sized; cuts the corpus agg out of both median plans
    val sl = d.as("a").join(d.as("b"), col("b.x") > col("a.x"))
      .select(((col("b.cnt").cast("double") - col("a.cnt").cast("double"))
        / (col("b.x") - col("a.x")).cast("double")).as("slope"))
    def medianOf(vals: DataFrame, c: String): DataFrame = {
      val w = Window.orderBy(col(c))
      vals.withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(
          Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .filter(col("rn") === expr("(n + 1) div 2") ||
          col("rn") === expr("n div 2 + 1"))
        .agg(avg(col(c)).as(c))
    }
    val med = medianOf(sl, "slope")
    val res = d.crossJoin(broadcast(med))
      .select((col("cnt").cast("double") - col("slope") * col("x").cast("double")).as("resid"))
    val icept = medianOf(res, "resid").withColumnRenamed("resid", "intercept")
    val nDays = d.agg(count(lit(1)).as("n_days"))
    val nPairs = sl.agg(count(lit(1)).as("n_pairs"))
    nDays.crossJoin(nPairs).crossJoin(med.withColumnRenamed("slope", "slope_per_day"))
      .crossJoin(icept)
  }

  /** Gap-constrained sequential-pattern mining (the 3-event episode cut of
    * GSP/PrefixSpan, Srikant & Agrawal EDBT'96): every run of THREE
    * consecutive same-user events with ≤ 30 min between neighbors, ranked
    * by distinct-user support — "which 3-step journeys actually recur"
    * (q109's transition matrix sees only pairs; funnels (q95) test ONE
    * pinned sequence — this MINES the frequent ones).
    *
    * One user-keyed shuffle + two LEADs per event; candidate rows are
    * occurrences (corpus-bounded, no blowup) and the pattern space is
    * |event_types|³ — the aggregate output is dimension-sized. Exact
    * integer micros for the gap test; support = exact count distinct. */
  val q269EpisodeMining: QueryDef = sql(
    "q269_episode_mining",
    """WITH seqd AS (
      |  SELECT user_id, event_type AS e1, epoch_us(ts) AS t1,
      |    LEAD(event_type) OVER w AS e2, LEAD(epoch_us(ts)) OVER w AS t2,
      |    LEAD(event_type, 2) OVER w AS e3, LEAD(epoch_us(ts), 2) OVER w AS t3
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |ep AS (
      |  SELECT user_id, e1, e2, e3 FROM seqd
      |  WHERE e3 IS NOT NULL AND t2 - t1 <= 1800000000 AND t3 - t2 <= 1800000000)
      |SELECT e1, e2, e3,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS support,
      |  CAST(COUNT(*) AS BIGINT) AS occurrences
      |FROM ep GROUP BY 1, 2, 3
      |ORDER BY support DESC, occurrences DESC, e1, e2, e3
      |LIMIT 50""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val seqd = Tables.events(s, dir).select(
      col("user_id"), col("event_type").as("e1"), unix_micros(col("ts")).as("t1"),
      lead(col("event_type"), 1).over(w).as("e2"),
      lead(unix_micros(col("ts")), 1).over(w).as("t2"),
      lead(col("event_type"), 2).over(w).as("e3"),
      lead(unix_micros(col("ts")), 2).over(w).as("t3"))
    seqd.filter(col("e3").isNotNull &&
        col("t2") - col("t1") <= 1800000000L && col("t3") - col("t2") <= 1800000000L)
      .groupBy(col("e1"), col("e2"), col("e3"))
      .agg(countDistinct(col("user_id")).as("support"),
        count(lit(1)).as("occurrences"))
      .orderBy(col("support").desc, col("occurrences").desc,
        col("e1"), col("e2"), col("e3"))
      .limit(50)
  }

  /** Sample autocorrelation function of the daily event volume at lags
    * 1–7 (Box & Jenkins 1970, the r_k estimator with the full-sum
    * denominator): the seasonality probe — a weekly cycle surfaces as a
    * lag-7 spike, a trend as slow decay (feeding q265's trend fit and
    * q226's change-point scan with WHICH structure to remove).
    *
    * Exactness device: r_k's numerator Σ(y_t−ȳ)(y_{t+k}−ȳ) is rational in
    * ȳ — multiplying through by n² makes every term (n·y_t − S)(n·y_{t+k}
    * − S) an exact BIGINT, so both engines reduce r_k to ONE double
    * division of identical integers. The corpus-scale stage is the daily
    * aggregate; lag joins run on the day relation (bounded, q265's
    * argument). Calendar gaps break pairs naturally (join on x+k). */
  val q270Autocorrelation: QueryDef = sql(
    "q270_autocorrelation",
    """WITH daily AS (
      |  SELECT CAST(epoch_us(date_trunc('day', ts)) // 86400000000 AS BIGINT) AS x,
      |    CAST(COUNT(*) AS BIGINT) AS y
      |  FROM events GROUP BY 1),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS sy FROM daily),
      |dev AS (SELECT x, tot.n * y - tot.sy AS d FROM daily, tot),
      |den AS (SELECT CAST(SUM(d * d) AS BIGINT) AS den FROM dev),
      |lags(lag) AS (VALUES (1), (2), (3), (4), (5), (6), (7)),
      |num AS (
      |  SELECT l.lag, CAST(COUNT(*) AS BIGINT) AS n_terms,
      |    CAST(SUM(a.d * b.d) AS BIGINT) AS num
      |  FROM lags l JOIN dev a ON TRUE JOIN dev b ON b.x = a.x + l.lag
      |  GROUP BY 1)
      |SELECT num.lag, num.n_terms,
      |  CAST(num.num AS DOUBLE) / CAST(den.den AS DOUBLE) AS acf
      |FROM num, den
      |ORDER BY num.lag""".stripMargin) { (s, dir) =>
    import s.implicits._
    val daily = Tables.events(s, dir)
      .groupBy(expr("unix_micros(date_trunc('day', ts)) div 86400000000L").as("x"))
      .agg(count(lit(1)).as("y"))
    val tot = daily.agg(count(lit(1)).as("n"), sum(col("y")).as("sy"))
    val dev = daily.crossJoin(broadcast(tot))
      .select(col("x"), (col("n") * col("y") - col("sy")).as("d"))
      .stageBoundary // day-sized; both lag sides read one materialized frame
    val den = dev.agg(sum(col("d") * col("d")).as("den"))
    val lags = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L).toDF("lag")
    val num = broadcast(lags).crossJoin(dev.select(col("x").as("ax"), col("d").as("ad")))
      .join(dev.select(col("x").as("bx"), col("d").as("bd")),
        col("bx") === col("ax") + col("lag"))
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("n_terms"), sum(col("ad") * col("bd")).as("num"))
    num.crossJoin(broadcast(den))
      .select(col("lag"), col("n_terms"),
        (col("num").cast("double") / col("den").cast("double")).as("acf"))
      .orderBy(col("lag"))
  }

  /** Exponential smoothing of the daily event series with α = 1/2 — the
    * DYADIC-EXACT formulation: s_t = (y_t + s_{t−1})/2 unrolls to v_t =
    * v_{t−1} + 2^{t−2}·y_t with s_t = v_t / 2^{t−1}, so the whole
    * trajectory is ONE weighted prefix sum in exact BIGINTs and every
    * smoothed value is a dyadic rational that DOUBLE represents exactly —
    * no recurrence, no recursion, no cross-engine float drift (the q119
    * unrolled-trajectory device transplanted to EWMA). The one-step-ahead
    * forecast is s_{t−1} and its residual y_t − s_{t−1} is exact too.
    *
    * The shifted weights 2^{t−2} grow with the series index, so the
    * series is HARD-BOUNDED to its trailing 40 days (both faces filter
    * `day_idx > max − 40` and renumber t from the cut): exponents stay
    * ≤ 38, so v_t is exact BIGINT for daily counts up to 2²⁴, and the
    * EWMA restarts at the cut — the standard warm-up-window semantics,
    * and the dropped weights are ≤ 2⁻³⁹ of the leading term. Without the
    * bound, t ≥ 66 made Spark's shiftleft wrap (shift mod 64) while
    * DuckDB's << does not — silent garbage AND cross-engine divergence
    * on any series past ~40 days. Day indexes densify through ROW_NUMBER
    * so calendar gaps don't inflate exponents. */
  val q271DyadicSmoothing: QueryDef = sql(
    "q271_dyadic_smoothing",
    """WITH daily AS (
      |  SELECT CAST(epoch_us(date_trunc('day', ts)) // 86400000000 AS BIGINT) AS day_idx,
      |    CAST(COUNT(*) AS BIGINT) AS y
      |  FROM events GROUP BY 1),
      |mx AS (SELECT MAX(day_idx) AS m FROM daily),
      |seq AS (SELECT day_idx, y,
      |    CAST(ROW_NUMBER() OVER (ORDER BY day_idx) AS BIGINT) AS t
      |  FROM daily, mx WHERE day_idx > mx.m - 40),
      |pre AS (
      |  SELECT day_idx, y, t,
      |    CAST(SUM(CASE WHEN t = 1 THEN y ELSE y * (CAST(1 AS BIGINT) << CAST(t - 2 AS INTEGER)) END)
      |      OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS v
      |  FROM seq)
      |SELECT day_idx, y,
      |  CAST(v AS DOUBLE) / CAST(CAST(1 AS BIGINT) << CAST(t - 1 AS INTEGER) AS DOUBLE) AS smooth,
      |  CASE WHEN t = 1 THEN NULL
      |    ELSE CAST(LAG(v) OVER (ORDER BY t) AS DOUBLE)
      |         / CAST(CAST(1 AS BIGINT) << CAST(t - 2 AS INTEGER) AS DOUBLE) END AS forecast,
      |  CASE WHEN t = 1 THEN NULL
      |    ELSE CAST(y AS DOUBLE)
      |         - CAST(LAG(v) OVER (ORDER BY t) AS DOUBLE)
      |           / CAST(CAST(1 AS BIGINT) << CAST(t - 2 AS INTEGER) AS DOUBLE) END AS residual
      |FROM pre
      |ORDER BY day_idx""".stripMargin) { (s, dir) =>
    val daily = Tables.events(s, dir)
      .groupBy(expr("unix_micros(date_trunc('day', ts)) div 86400000000L").as("day_idx"))
      .agg(count(lit(1)).as("y"))
    val mx = daily.agg(max(col("day_idx")).as("m"))
    val byT = Window.orderBy(col("t"))
    val pre = daily.crossJoin(broadcast(mx))
      .filter(col("day_idx") > col("m") - 40)
      .drop("m")
      .withColumn("t", row_number().over(Window.orderBy(col("day_idx"))).cast("long"))
      .withColumn("v", sum(
        when(col("t") === 1L, col("y"))
          .otherwise(col("y") * expr("shiftleft(1L, CAST(t - 2 AS INT))")))
        .over(byT.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    pre.select(col("day_idx"), col("y"),
        (col("v").cast("double")
          / expr("shiftleft(1L, CAST(t - 1 AS INT))").cast("double")).as("smooth"),
        when(col("t") === 1L, lit(null).cast("double"))
          .otherwise(lag(col("v"), 1).over(byT).cast("double")
            / expr("shiftleft(1L, CAST(t - 2 AS INT))").cast("double")).as("forecast"),
        when(col("t") === 1L, lit(null).cast("double"))
          .otherwise(col("y").cast("double")
            - lag(col("v"), 1).over(byT).cast("double")
              / expr("shiftleft(1L, CAST(t - 2 AS INT))").cast("double")).as("residual"))
      .orderBy(col("day_idx"))
  }

  /** Classical additive seasonal decomposition of the daily event volume
    * (the moving-average method, Kendall & Stuart; STL's ancestor):
    * trend = centered 7-day moving average, seasonal = per-day-of-week
    * mean of the detrended series, remainder = what neither explains —
    * q270's ACF detects the weekly cycle, this one EXTRACTS it.
    *
    * Exactness: 7·trend and 7·detrended are exact BIGINT window sums, the
    * seasonal index is an exact integer pair (Σ detrended×7, count), and
    * the three emitted doubles are single identical expressions of those
    * integers. Interior days only (a full 7-day window must exist AND be
    * calendar-contiguous — the max−min=6 guard, so calendar gaps exclude
    * their neighborhood instead of silently averaging over a hole).
    * Seasonal indexes are the raw per-dow means (uncentered — the grand
    * mean stays in the trend reading). Day relation is bounded (q265's
    * argument); the corpus pass is the daily aggregate. */
  val q275SeasonalDecompose: QueryDef = sql(
    "q275_seasonal_decompose",
    """WITH daily AS (
      |  SELECT CAST(epoch_us(date_trunc('day', ts)) // 86400000000 AS BIGINT) AS day_idx,
      |    CAST(COUNT(*) AS BIGINT) AS y
      |  FROM events GROUP BY 1),
      |tr AS (
      |  SELECT day_idx, y,
      |    SUM(y) OVER w AS t7, COUNT(*) OVER w AS c7,
      |    MAX(day_idx) OVER w - MIN(day_idx) OVER w AS span
      |  FROM daily
      |  WINDOW w AS (ORDER BY day_idx ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      |interior AS (
      |  SELECT day_idx, y, t7, 7 * y - t7 AS d7, day_idx % 7 AS dow
      |  FROM tr WHERE c7 = 7 AND span = 6),
      |seas AS (
      |  SELECT dow, CAST(SUM(d7) AS BIGINT) AS snum, CAST(COUNT(*) AS BIGINT) AS sden
      |  FROM interior GROUP BY 1)
      |SELECT i.day_idx, i.y,
      |  CAST(i.t7 AS DOUBLE) / 7.0 AS trend,
      |  CAST(s.snum AS DOUBLE) / (7.0 * CAST(s.sden AS DOUBLE)) AS seasonal,
      |  CAST(i.y AS DOUBLE) - CAST(i.t7 AS DOUBLE) / 7.0
      |    - CAST(s.snum AS DOUBLE) / (7.0 * CAST(s.sden AS DOUBLE)) AS remainder
      |FROM interior i JOIN seas s ON s.dow = i.dow
      |ORDER BY i.day_idx""".stripMargin) { (s, dir) =>
    val daily = Tables.events(s, dir)
      .groupBy(expr("unix_micros(date_trunc('day', ts)) div 86400000000L").as("day_idx"))
      .agg(count(lit(1)).as("y"))
    val w = Window.orderBy(col("day_idx")).rowsBetween(-3, 3)
    val interior = daily
      .withColumn("t7", sum(col("y")).over(w))
      .withColumn("c7", count(lit(1)).over(w))
      .withColumn("span", max(col("day_idx")).over(w) - min(col("day_idx")).over(w))
      .filter(col("c7") === 7 && col("span") === 6)
      .select(col("day_idx"), col("y"), col("t7"),
        (lit(7L) * col("y") - col("t7")).as("d7"),
        (col("day_idx") % 7).as("dow"))
      .stageBoundary // day-sized; feeds the seasonal agg AND the join
    val seas = interior.groupBy(col("dow"))
      .agg(sum(col("d7")).as("snum"), count(lit(1)).as("sden"))
    interior.join(broadcast(seas), Seq("dow"))
      .select(col("day_idx"), col("y"),
        (col("t7").cast("double") / 7.0).as("trend"),
        (col("snum").cast("double") / (lit(7.0) * col("sden").cast("double"))).as("seasonal"),
        (col("y").cast("double") - col("t7").cast("double") / 7.0
          - col("snum").cast("double") / (lit(7.0) * col("sden").cast("double"))).as("remainder"))
      .orderBy(col("day_idx"))
  }

  /** Inter-arrival burstiness per user (Goh & Barabási EPL 2008): the
    * coefficient B = (σ−μ)/(σ+μ) of a user's gap distribution — B≈−1
    * periodic heartbeat, B≈0 Poisson, B→1 bursty sessions. The event-time
    * twin of q224's word burstiness, and the statistic that says whether
    * per-user streaming state will see steady drips or bursts.
    *
    * One user-keyed shuffle; gaps via one LEAD; moments (n, Σg, Σg²) are
    * exact BIGINTs in SECONDS (micros would square past 2⁶³; second
    * granularity keeps Σg² exact to ~10⁶ events/user), and σ, μ, B are
    * one identical double expression both engines (population σ, per the
    * paper). Users with < 3 events (< 2 gaps) have no spread and are
    * excluded. */
  val q280Burstiness: QueryDef = sql(
    "q280_burstiness",
    """WITH g AS (
      |  SELECT user_id,
      |    (LEAD(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |     - epoch_us(ts)) // 1000000 AS gap_s
      |  FROM events),
      |m AS (
      |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_gaps,
      |    CAST(SUM(gap_s) AS BIGINT) AS sg, CAST(SUM(gap_s * gap_s) AS BIGINT) AS sg2
      |  FROM g WHERE gap_s IS NOT NULL GROUP BY 1 HAVING COUNT(*) >= 2)
      |SELECT user_id, n_gaps,
      |  CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE) AS mean_gap_s,
      |  (SQRT((CAST(n_gaps AS DOUBLE) * CAST(sg2 AS DOUBLE) - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)))
      |     / CAST(n_gaps AS DOUBLE) - CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE))
      |  / (SQRT((CAST(n_gaps AS DOUBLE) * CAST(sg2 AS DOUBLE) - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)))
      |     / CAST(n_gaps AS DOUBLE) + CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE)) AS burstiness
      |FROM m
      |ORDER BY user_id""".stripMargin) { (s, dir) =>
    val byTs = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val g = Tables.events(s, dir)
      .select(col("user_id"),
        expr("unix_micros(ts)").as("t"),
        lead(expr("unix_micros(ts)"), 1).over(byTs).as("tn"))
      .filter(col("tn").isNotNull)
      .select(col("user_id"), expr("(tn - t) div 1000000L").as("gap_s"))
    g.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_gaps"), sum(col("gap_s")).as("sg"),
        sum(col("gap_s") * col("gap_s")).as("sg2"))
      .filter(col("n_gaps") >= 2)
      .select(col("user_id"), col("n_gaps"),
        (col("sg").cast("double") / col("n_gaps").cast("double")).as("mean_gap_s"),
        expr("""(SQRT((CAST(n_gaps AS DOUBLE) * CAST(sg2 AS DOUBLE) - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)))
               |   / CAST(n_gaps AS DOUBLE) - CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE))
               |/ (SQRT((CAST(n_gaps AS DOUBLE) * CAST(sg2 AS DOUBLE) - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)))
               |   / CAST(n_gaps AS DOUBLE) + CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE))"""
          .stripMargin).as("burstiness"))
      .orderBy(col("user_id"))
  }

  /** Watermark-lateness audit — the measurement every
    * `withWatermark(delay)` in the streaming module should be SIZED
    * from, instead of guessed: an event's lateness is how far its
    * event time lags the per-feed high-water mark among EARLIER
    * arrivals — max(ts) over the preceding-rows frame minus own ts,
    * floored at 0. The fixture's ingest sequence (event_id) is
    * perfectly time-ordered — zero natural disorder — so disorder is
    * PLANTED deterministically (the q327/q335 device): every %7 event
    * arrives 20 sequence slots late, and the audit must price exactly
    * that planted stragglerhood (PipelineOpsSpec pins that only the
    * delayed class can be late). Emits per feed: event/late counts,
    * the late rate, the worst lateness, and the exact p99 (ceil-rank
    * order-statistic pick, q60's device) — p99 is the number the
    * watermark delay is set to, and max − p99 is the mass that delay
    * would drop.
    *
    * Scale posture: one feed-partitioned window pass (running max and
    * the rank share one sort), one feed-keyed aggregate + rank-pick
    * join. Exact integers end to end. */
  val q341WatermarkLateness: QueryDef = sql(
    "q341_watermark_lateness",
    """WITH ev AS (SELECT event_type, event_id,
      |        event_id + CASE WHEN event_id % 7 = 0 THEN 20 ELSE 0 END AS arrival,
      |        epoch_us(ts) AS us
      |      FROM events),
      |l AS (SELECT event_type, event_id,
      |        GREATEST(COALESCE(MAX(us) OVER (PARTITION BY event_type ORDER BY arrival, event_id
      |                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - us, 0), 0) AS late_us
      |      FROM ev),
      |r AS (SELECT event_type, late_us,
      |        ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY late_us, event_id) AS rk,
      |        COUNT(*) OVER (PARTITION BY event_type) AS n
      |      FROM l),
      |agg AS (SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_events,
      |          CAST(SUM(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
      |          CAST(MAX(late_us) AS BIGINT) AS max_late_us
      |        FROM r GROUP BY 1),
      |p99 AS (SELECT event_type, CAST(late_us AS BIGINT) AS p99_late_us
      |        FROM r WHERE rk = (n * 99 + 99) // 100)
      |SELECT a.event_type, a.n_events, a.n_late,
      |  a.n_late * 1000000 // a.n_events AS late_micro,
      |  a.max_late_us, p99.p99_late_us
      |FROM agg a JOIN p99 USING (event_type)
      |ORDER BY event_type""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir).select(col("event_type"), col("event_id"),
      (col("event_id") + when(col("event_id") % 7 === 0, 20L).otherwise(0L)).as("arrival"),
      expr("unix_micros(ts)").as("us"))
    val byArrival = Window.partitionBy(col("event_type"))
      .orderBy(col("arrival"), col("event_id"))
    val l = ev.withColumn("late_us",
      greatest(coalesce(
        max(col("us")).over(byArrival.rowsBetween(Window.unboundedPreceding, -1)) - col("us"),
        lit(0L)), lit(0L)))
    val r = l
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("event_type")).orderBy(col("late_us"), col("event_id"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
      .cachedStageBoundary
    val agg = r.groupBy(col("event_type"))
      .agg(max(col("n")).as("n_events"),
        sum(when(col("late_us") > 0, 1L).otherwise(0L)).as("n_late"),
        max(col("late_us")).as("max_late_us"))
    val p99 = r.filter(col("rk") === expr("(n * 99 + 99) DIV 100"))
      .select(col("event_type"), col("late_us").as("p99_late_us"))
    agg.join(p99, "event_type")
      .select(col("event_type"), col("n_events"), col("n_late"),
        expr("n_late * 1000000L DIV n_events").as("late_micro"),
        col("max_late_us"), col("p99_late_us"))
      .orderBy(col("event_type"))
  }

  /** Forecast backtest by MASE (Hyndman & Koehler IJF 2006 — the scale-
    * free forecast error that made "is this model better than naive?"
    * a number): per feed, hold out the LAST 10 days, forecast each
    * held-out day with the weekly seasonal naive pinned to the
    * TRAINING ORIGIN — ŷ_t = y at the last same-weekday at or before
    * the cutoff (lag 7 for the first 7 test days, lag 14 for the last
    * 3), so no held-out value ever feeds a forecast — and
    * score against the in-sample one-step naive as the denominator —
    * MASE < 1e6 micro means the seasonal model beats persistence and
    * the feed has real weekly structure worth a model; > 1e6 means
    * "ship the naive". The day axis is the CALENDAR grid (missing days
    * are genuine zeroes — a rank axis would silently stitch gaps and
    * fake the seasonality). All exact integers: MASE in micro-units is
    * (Σ_test |e| · n_train) · 10⁶ // (n_test · Σ_train |Δ|), the q143
    * integer-trajectory discipline applied to forecasting.
    *
    * Scale: one scan → (feed, day) counts; the grid is feeds ×
    * span-days (broadcast-sized); everything after is grid-sized. */
  val q354ForecastBacktest: QueryDef = sql(
    "q354_forecast_backtest",
    """WITH daily AS (
      |  SELECT event_type, CAST(epoch_us(date_trunc('day', ts)) // 86400000000 AS BIGINT) AS d,
      |    CAST(COUNT(*) AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2),
      |span AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM daily),
      |grid AS (SELECT et.event_type, gs.d
      |         FROM (SELECT DISTINCT event_type FROM daily) et,
      |              (SELECT unnest(range((SELECT lo FROM span), (SELECT hi FROM span) + 1)) AS d) gs),
      |g AS (SELECT grid.event_type, grid.d - span.lo + 1 AS t,
      |        COALESCE(daily.y, 0) AS y,
      |        span.hi - span.lo + 1 AS nt
      |      FROM grid
      |      LEFT JOIN daily ON daily.event_type = grid.event_type AND daily.d = grid.d,
      |      span),
      |te AS (SELECT a.event_type, CAST(COUNT(*) AS BIGINT) AS n_test,
      |         CAST(SUM(ABS(a.y - f.y)) AS BIGINT) AS sae
      |       FROM g a JOIN g f ON f.event_type = a.event_type
      |         AND f.t = a.t - (CASE WHEN a.t - 7 <= a.nt - 10 THEN 7 ELSE 14 END)
      |       WHERE a.t > a.nt - 10
      |       GROUP BY 1),
      |tr AS (SELECT a.event_type, CAST(COUNT(*) AS BIGINT) AS n_train,
      |         CAST(SUM(ABS(a.y - p.y)) AS BIGINT) AS sad
      |       FROM g a JOIN g p ON p.event_type = a.event_type AND p.t = a.t - 1
      |       WHERE a.t <= a.nt - 10
      |       GROUP BY 1)
      |SELECT te.event_type, tr.n_train, te.n_test, te.sae, tr.sad,
      |  CASE WHEN tr.sad = 0 THEN NULL
      |       ELSE te.sae * tr.n_train * 1000000 // (te.n_test * tr.sad) END AS mase_micro
      |FROM te JOIN tr USING (event_type)
      |ORDER BY event_type""".stripMargin) { (s, dir) =>
    import s.implicits._
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"),
        expr("unix_micros(date_trunc('day', ts)) div 86400000000L").as("d"))
      .agg(count(lit(1)).as("y")).cachedStageBoundary
    val span = daily.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
      .collect()(0)
    val (lo, hi) = (span.getLong(0), span.getLong(1))
    // calendar-bounded day axis, but generated distributed (spark.range),
    // not driver-materialized
    val grid = daily.select(col("event_type")).distinct()
      .crossJoin(broadcast(s.range(lo, hi + 1).toDF("d")))
    val g = grid.join(daily, Seq("event_type", "d"), "left")
      .select(col("event_type"), (col("d") - lo + 1).as("t"),
        coalesce(col("y"), lit(0L)).as("y"), lit(hi - lo + 1).as("nt")).cachedStageBoundary
    def lagJoin(k: Int) = g.select(col("event_type"), col("t"), col("y"), col("nt"))
      .join(g.select(col("event_type"), (col("t") + k).as("t"), col("y").as("py")),
        Seq("event_type", "t"))
    // fixed-origin seasonal naive: a test day forecasts from the last
    // same-weekday AT OR BEFORE the training cutoff (lag 7 for test days
    // 1-7, lag 14 for 8-10) — never from inside the holdout
    val tst = g.filter(col("t") > col("nt") - 10)
      .withColumn("pt",
        col("t") - when(col("t") - 7 <= col("nt") - 10, 7L).otherwise(14L))
    val te = tst
      .join(g.select(col("event_type").as("fet"), col("t").as("ft"), col("y").as("py")),
        col("fet") === col("event_type") && col("ft") === col("pt"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_test"), sum(abs(col("y") - col("py"))).as("sae"))
    val tr = lagJoin(1).filter(col("t") <= col("nt") - 10)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_train"), sum(abs(col("y") - col("py"))).as("sad"))
    te.join(tr, "event_type")
      .select(col("event_type"), col("n_train"), col("n_test"), col("sae"), col("sad"),
        when(col("sad") === 0, lit(null).cast("long"))
          .otherwise(expr("sae * n_train * 1000000L DIV (n_test * sad)")).as("mase_micro"))
      .orderBy(col("event_type"))
  }

  /** Wald–Wolfowitz runs test (Ann. Math. Stat. 1940) on the SIGN
    * sequence of day-over-day volume deltas per feed — the
    * independence check that decides whether q354's backtest residuals
    * (or any daily KPI) carry momentum a forecaster should model: too
    * FEW runs means positive autocorrelation (trends), too many means
    * oscillation. Ties (zero deltas) drop, per the classical test.
    * Exact integer inputs (n⁺, n⁻, R on the calendar grid — the q354
    * device, so silent days are real zeroes); the expected-run count
    * and variance are the textbook closed forms over those integers,
    * one identical IEEE expression each, ROUND 6 emit.
    *
    * Scale: one scan → grid-sized day deltas; everything after is
    * feed-keyed and alphabet-sized. */
  val q356RunsTest: QueryDef = sql(
    "q356_runs_test",
    """WITH daily AS (
      |  SELECT event_type, CAST(epoch_us(date_trunc('day', ts)) // 86400000000 AS BIGINT) AS d,
      |    CAST(COUNT(*) AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2),
      |span AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM daily),
      |grid AS (SELECT et.event_type, gs.d
      |         FROM (SELECT DISTINCT event_type FROM daily) et,
      |              (SELECT unnest(range((SELECT lo FROM span), (SELECT hi FROM span) + 1)) AS d) gs),
      |g AS (SELECT grid.event_type, grid.d, COALESCE(daily.y, 0) AS y
      |      FROM grid LEFT JOIN daily ON daily.event_type = grid.event_type AND daily.d = grid.d),
      |sg AS (SELECT event_type, d,
      |         CASE WHEN y > LAG(y) OVER (PARTITION BY event_type ORDER BY d) THEN 1
      |              WHEN y < LAG(y) OVER (PARTITION BY event_type ORDER BY d) THEN -1 END AS sgn
      |       FROM g),
      |nz AS (SELECT event_type, d, sgn,
      |         LAG(sgn) OVER (PARTITION BY event_type ORDER BY d) AS prev
      |       FROM sg WHERE sgn IS NOT NULL),
      |st AS (SELECT event_type,
      |         CAST(SUM(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
      |         CAST(SUM(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
      |         CAST(SUM(CASE WHEN prev IS NULL OR sgn <> prev THEN 1 ELSE 0 END) AS BIGINT) AS runs
      |       FROM nz GROUP BY 1)
      |SELECT event_type, n_pos, n_neg, runs,
      |  ROUND(1.0 + 2.0 * n_pos * n_neg / (n_pos + n_neg), 6) AS expected_runs,
      |  CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
      |       ELSE ROUND((runs - (1.0 + 2.0 * n_pos * n_neg / (n_pos + n_neg)))
      |    / SQRT(2.0 * n_pos * n_neg * (2.0 * n_pos * n_neg - n_pos - n_neg)
      |           / ((n_pos + n_neg) * (n_pos + n_neg) * (n_pos + n_neg - 1.0))), 6) END AS z
      |FROM st
      |ORDER BY event_type""".stripMargin) { (s, dir) =>
    import s.implicits._
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"),
        expr("unix_micros(date_trunc('day', ts)) div 86400000000L").as("d"))
      .agg(count(lit(1)).as("y")).cachedStageBoundary
    val span = daily.agg(min(col("d")).as("lo"), max(col("d")).as("hi")).collect()(0)
    val (lo, hi) = (span.getLong(0), span.getLong(1))
    val grid = daily.select(col("event_type")).distinct()
      .crossJoin(broadcast(s.range(lo, hi + 1).toDF("d")))
    val g = grid.join(daily, Seq("event_type", "d"), "left")
      .select(col("event_type"), col("d"), coalesce(col("y"), lit(0L)).as("y"))
    val byD = Window.partitionBy(col("event_type")).orderBy(col("d"))
    val sg = g.withColumn("sgn",
        when(col("y") > lag(col("y"), 1).over(byD), 1)
          .when(col("y") < lag(col("y"), 1).over(byD), -1))
      .filter(col("sgn").isNotNull)
    val nz = sg.withColumn("prev", lag(col("sgn"), 1).over(byD))
    val st = nz.groupBy(col("event_type"))
      .agg(sum(when(col("sgn") === 1, 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("sgn") === -1, 1L).otherwise(0L)).as("n_neg"),
        sum(when(col("prev").isNull || col("sgn") =!= col("prev"), 1L).otherwise(0L))
          .as("runs"))
    val e = lit(1.0) + lit(2.0) * col("n_pos") * col("n_neg") / (col("n_pos") + col("n_neg"))
    val v = lit(2.0) * col("n_pos") * col("n_neg") *
      (lit(2.0) * col("n_pos") * col("n_neg") - col("n_pos") - col("n_neg")) /
      ((col("n_pos") + col("n_neg")) * (col("n_pos") + col("n_neg")) *
        (col("n_pos") + col("n_neg") - lit(1.0)))
    // a monotone feed (n_pos = 0 or n_neg = 0) has zero variance — the
    // test is undefined there, so z is NULL, never NaN/Infinity
    st.select(col("event_type"), col("n_pos"), col("n_neg"), col("runs"),
        round(e, 6).as("expected_runs"),
        when(col("n_pos") === 0 || col("n_neg") === 0, lit(null).cast("double"))
          .otherwise(round((col("runs") - e) / sqrt(v), 6)).as("z"))
      .orderBy(col("event_type"))
  }

  /** Daily revenue recognition by interval proration — the accounting
    * rewrite every subscription/fulfillment warehouse runs (ASC 606's
    * ratable recognition, relationally): a line's revenue spreads over
    * its service interval, one exact cent-slice per covered day, and
    * the day axis aggregates what was EARNED that day rather than what
    * was booked. The interval is planted deterministically (the
    * fixture carries no receipt date): span = 1 + (orderkey·7 +
    * linenumber) mod 30 days from the ship day. Allocation is exact
    * largest-remainder (the q267 discipline): base = cents DIV span
    * per day, the first (cents mod span) days get one extra cent —
    * so Σ(day slices) ≡ cents per line, making total recognized
    * revenue conserve exactly (spec-pinned).
    *
    * Scale posture: one scan; the explode fans each row out ≤ 30× (the
    * span bound — a constant, not data-growth); the day aggregate is
    * calendar-bounded. No windows, no driver state. */
  val q365RevenueProration: QueryDef = sql(
    "q365_revenue_proration",
    """WITH li AS (
      |  SELECT CAST(epoch_us(date_trunc('day', l_shipdate)) // 86400000000 AS BIGINT) AS d0,
      |    CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS cents,
      |    1 + (l_orderkey * 7 + l_linenumber) % 30 AS span
      |  FROM lineitem),
      |slices AS (
      |  SELECT li.d0 + u.i AS d,
      |    cents // span + CASE WHEN u.i < cents % span THEN 1 ELSE 0 END AS slice
      |  FROM li, LATERAL (SELECT UNNEST(range(0, span)) AS i) u)
      |SELECT d, CAST(COUNT(*) AS BIGINT) AS n_slices,
      |  CAST(SUM(slice) AS BIGINT) AS recognized_cents
      |FROM slices
      |GROUP BY 1
      |ORDER BY d""".stripMargin) { (s, dir) =>
    val li = Tables.lineitem(s, dir).select(
      expr("unix_micros(date_trunc('day', l_shipdate)) div 86400000000L").as("d0"),
      expr("CAST(FLOOR(l_extendedprice * 100) AS BIGINT)").as("cents"),
      expr("1L + (l_orderkey * 7L + l_linenumber) % 30L").as("span"))
    li.select(col("d0"), col("cents"), col("span"),
        explode(expr("sequence(0L, span - 1)")).as("i"))
      .select((col("d0") + col("i")).as("d"),
        (expr("cents DIV span") +
          when(col("i") < col("cents") % col("span"), 1L).otherwise(0L)).as("slice"))
      .groupBy(col("d"))
      .agg(count(lit(1)).as("n_slices"), sum(col("slice")).as("recognized_cents"))
      .orderBy(col("d"))
  }

  /** Friedman's blocked rank ANOVA (Friedman JASA 1937) — "do the feeds
    * differ once the day is controlled for?": within every day (the
    * BLOCK), the k event types are ranked by volume, so a global surge
    * that lifts every feed equally cancels out — the repeated-measures
    * complement to q360's Kruskal–Wallis (independent groups) exactly
    * as paired-vs-unpaired t-tests relate. The (day × type) grid takes
    * genuine zeroes for silent cells (the q354 calendar discipline);
    * within-day ranks tie-break on event_type (deterministic — the
    * q360 deviation from classical mid-ranks, identical in both
    * engines; per-day windows are k-row, never corpus-sized). Rank
    * sums are exact BIGINTs and Σ R² over k groups stays exact, so
    * χ²_F = 12·ΣR²/(n·k·(k+1)) − 3·n·(k+1) is ONE identical IEEE
    * expression over exact integers — no rounding needed. */
  val q366FriedmanTest: QueryDef = sql(
    "q366_friedman_test",
    """WITH daily AS (
      |  SELECT event_type, CAST(epoch_us(date_trunc('day', ts)) // 86400000000 AS BIGINT) AS d,
      |    CAST(COUNT(*) AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2),
      |grid AS (SELECT et.event_type, ds.d
      |         FROM (SELECT DISTINCT event_type FROM daily) et,
      |              (SELECT DISTINCT d FROM daily) ds),
      |g AS (SELECT grid.event_type, grid.d, COALESCE(daily.y, 0) AS y
      |      FROM grid LEFT JOIN daily
      |        ON daily.event_type = grid.event_type AND daily.d = grid.d),
      |rk AS (SELECT event_type, d,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY d ORDER BY y, event_type) AS BIGINT) AS r
      |       FROM g),
      |rs AS (SELECT event_type, CAST(SUM(r) AS BIGINT) AS rank_sum,
      |         CAST(COUNT(*) AS BIGINT) AS n_days
      |       FROM rk GROUP BY 1),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(MAX(n_days) AS BIGINT) AS n,
      |          CAST(SUM(rank_sum * rank_sum) AS BIGINT) AS s2
      |        FROM rs)
      |SELECT rs.event_type, rs.rank_sum, rs.n_days,
      |  12.0 * CAST(tot.s2 AS DOUBLE)
      |    / (CAST(tot.n AS DOUBLE) * CAST(tot.k AS DOUBLE) * (CAST(tot.k AS DOUBLE) + 1.0))
      |    - 3.0 * CAST(tot.n AS DOUBLE) * (CAST(tot.k AS DOUBLE) + 1.0) AS chi2_f
      |FROM rs, tot
      |ORDER BY rs.event_type""".stripMargin) { (s, dir) =>
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"),
        expr("unix_micros(date_trunc('day', ts)) div 86400000000L").as("d"))
      .agg(count(lit(1)).as("y")).cachedStageBoundary
    val grid = daily.select(col("event_type")).distinct()
      .crossJoin(broadcast(daily.select(col("d")).distinct()))
    val g = grid.join(daily, Seq("event_type", "d"), "left")
      .select(col("event_type"), col("d"), coalesce(col("y"), lit(0L)).as("y"))
    val rk = g.withColumn("r", row_number().over(
      Window.partitionBy(col("d")).orderBy(col("y"), col("event_type"))).cast("long"))
    val rs = rk.groupBy(col("event_type"))
      .agg(sum(col("r")).as("rank_sum"), count(lit(1)).as("n_days"))
    val tot = rs.agg(count(lit(1)).as("k"), max(col("n_days")).as("n"),
      sum(col("rank_sum") * col("rank_sum")).as("s2"))
    rs.crossJoin(broadcast(tot))
      .select(col("event_type"), col("rank_sum"), col("n_days"),
        (lit(12.0) * col("s2").cast("double")
          / (col("n").cast("double") * col("k").cast("double")
            * (col("k").cast("double") + lit(1.0)))
          - lit(3.0) * col("n").cast("double") * (col("k").cast("double") + lit(1.0)))
          .as("chi2_f"))
      .orderBy(col("event_type"))
  }

  val all: Seq[QueryDef] = Seq(
    q382QuantileRegression, q383SloBurn, q391OlsTrend, q392EventMixDrift,
    q365RevenueProration, q366FriedmanTest,
    q341WatermarkLateness, q346EntropyRate, q354ForecastBacktest, q356RunsTest,
    q46AsofJoin, q47Pivot, q55IntervalJoin, q63AsofNative, q81IntervalNative,
    q95Funnel, q96RetentionCohorts, q109TransitionMatrix, q192DecayScores,
    q226ChangePoint, q236Attribution, q241PeakConcurrency, q242KaplanMeier,
    q249ShapleyAttribution, q251MarkovRemoval, q259HaarCompress,
    q264IntervalUnion, q265TheilSen, q269EpisodeMining, q270Autocorrelation,
    q271DyadicSmoothing, q275SeasonalDecompose, q280Burstiness,
    q284MarkovStationary, q291ActivityStreaks, q292ActiveUsers,
    q296KendallTau, q297CrossCorrelation, q300LatencyHistogram,
    q301EntryExit, q307FreshnessAudit, q310PvmBridge, q314ResidualAnomaly,
    q320HistogramQuantiles, q321DispersionAudit, q322GrowthAccounting)

  /** Growth accounting (the Social-Capital/a16z DAU decomposition):
    * every active user-day is exactly one of NEW (first day ever),
    * RETAINED (also active yesterday) or RESURRECTED (seen before, not
    * yesterday), and yesterday's actives who vanished are CHURNED —
    * DAU(d) = new + retained + resurrected and churned(d) = DAU(d−1) −
    * retained(d), both conservation laws spec-pinned. q292 counts
    * actives; this explains their MOVEMENT, which is the number that
    * says whether growth is acquisition or leaky-bucket refill. One
    * (user, day) dedup, a per-user min, one day−1 self-join — all exact
    * counts. */
  lazy val q322GrowthAccounting: QueryDef = sql(
    "q322_growth_accounting",
    """WITH ud AS (
      |  SELECT DISTINCT user_id,
      |    CAST(epoch_us(date_trunc('day', ts)) // 86400000000 AS BIGINT) AS d
      |  FROM events),
      |fd AS (SELECT user_id, MIN(d) AS first_d FROM ud GROUP BY 1),
      |st AS (
      |  SELECT a.user_id, a.d,
      |    CASE WHEN a.d = fd.first_d THEN 'new'
      |         WHEN y.user_id IS NOT NULL THEN 'retained'
      |         ELSE 'resurrected' END AS status
      |  FROM ud a
      |  JOIN fd ON fd.user_id = a.user_id
      |  LEFT JOIN ud y ON y.user_id = a.user_id AND y.d = a.d - 1),
      |agg AS (
      |  SELECT d,
      |    CAST(SUM(CASE WHEN status = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
      |    CAST(SUM(CASE WHEN status = 'retained' THEN 1 ELSE 0 END) AS BIGINT) AS retained,
      |    CAST(SUM(CASE WHEN status = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT) AS resurrected
      |  FROM st GROUP BY 1),
      |ch AS (
      |  SELECT y.d + 1 AS d, CAST(COUNT(*) AS BIGINT) AS churned
      |  FROM ud y LEFT JOIN ud t ON t.user_id = y.user_id AND t.d = y.d + 1
      |  WHERE t.user_id IS NULL GROUP BY 1)
      |SELECT agg.d AS day_idx, agg.new_users, agg.retained, agg.resurrected,
      |  CAST(COALESCE(ch.churned, 0) AS BIGINT) AS churned,
      |  agg.new_users + agg.retained + agg.resurrected AS dau
      |FROM agg LEFT JOIN ch ON ch.d = agg.d
      |ORDER BY day_idx""".stripMargin) { (s, dir) =>
    val ud = Tables.events(s, dir)
      .select(col("user_id"),
        expr("unix_micros(date_trunc('day', ts)) div 86400000000L").as("d"))
      .distinct()
      .stageBoundary // (user, day)-sized; four consumers
    val fd = ud.groupBy(col("user_id")).agg(min(col("d")).as("first_d"))
    val st = ud
      .join(fd, Seq("user_id"))
      .join(ud.select(col("user_id"), (col("d") + 1L).as("d"), lit(1L).as("yday")),
        Seq("user_id", "d"), "left")
      .select(col("d"),
        when(col("d") === col("first_d"), "new")
          .when(col("yday").isNotNull, "retained")
          .otherwise("resurrected").as("status"))
    val agg = st.groupBy(col("d"))
      .agg(sum(when(col("status") === "new", 1L).otherwise(0L)).as("new_users"),
        sum(when(col("status") === "retained", 1L).otherwise(0L)).as("retained"),
        sum(when(col("status") === "resurrected", 1L).otherwise(0L)).as("resurrected"))
    val ch = ud.select(col("user_id"), col("d"))
      .join(ud.select(col("user_id"), (col("d") - 1L).as("d"), lit(1L).as("tmrw")),
        Seq("user_id", "d"), "left")
      .filter(col("tmrw").isNull)
      .groupBy((col("d") + 1L).as("d")).agg(count(lit(1)).as("churned"))
    agg.join(ch, Seq("d"), "left")
      .select(col("d").as("day_idx"), col("new_users"), col("retained"),
        col("resurrected"), coalesce(col("churned"), lit(0L)).as("churned"),
        (col("new_users") + col("retained") + col("resurrected")).as("dau"))
      .orderBy(col("day_idx"))
  }

  /** Poisson overdispersion audit (the Fisher index of dispersion, var/
    * mean over hourly counts, per feed): a Poisson arrival process has
    * ID = 1; ID ≫ 1 means the feed arrives in BURSTS — which decides
    * whether per-feed streaming state sees steady drips or spikes, and
    * whether a rate alert needs a burst allowance. The feed-level twin
    * of q280's per-user burstiness. Hours with zero events count as
    * zero observations (the hour GRID comes from the corpus span, not
    * from observed hours — omitting empty hours biases ID down
    * exactly when it matters); moments are exact BIGINTs over the
    * bounded hour×feed grid, ID one double expression. */
  lazy val q321DispersionAudit: QueryDef = sql(
    "q321_dispersion_audit",
    """WITH hc AS (
      |  SELECT event_type, CAST(epoch_us(date_trunc('hour', ts)) // 3600000000 AS BIGINT) AS h,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |span AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM hc),
      |m AS (
      |  SELECT event_type,
      |    CAST(MAX(span.h1) - MIN(span.h0) + 1 AS BIGINT) AS n_hours,
      |    CAST(SUM(c) AS BIGINT) AS s1, CAST(SUM(c * c) AS BIGINT) AS s2
      |  FROM hc, span GROUP BY 1)
      |SELECT event_type, n_hours, s1 AS n_events,
      |  CAST(s1 AS DOUBLE) / CAST(n_hours AS DOUBLE) AS mean_per_hour,
      |  (CAST(n_hours AS DOUBLE) * CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
      |    / (CAST(n_hours - 1 AS DOUBLE) * CAST(s1 AS DOUBLE)) AS dispersion,
      |  (CAST(n_hours AS DOUBLE) * CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
      |    / (CAST(n_hours - 1 AS DOUBLE) * CAST(s1 AS DOUBLE)) > 2.0 AS bursty
      |FROM m
      |ORDER BY event_type""".stripMargin) { (s, dir) =>
    val hc = Tables.events(s, dir)
      .groupBy(col("event_type"),
        expr("unix_micros(date_trunc('hour', ts)) div 3600000000L").as("h"))
      .agg(count(lit(1)).as("c"))
      .stageBoundary // hour-grid-sized; span AND moments
    val span = hc.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
    // zero hours contribute 0 to both sums, so only the COUNT needs the
    // grid — n_hours from the corpus span, sums from observed hours
    val m = hc.crossJoin(broadcast(span))
      .groupBy(col("event_type"))
      .agg((max(col("h1")) - min(col("h0")) + 1L).as("n_hours"),
        sum(col("c")).as("s1"), sum(col("c") * col("c")).as("s2"))
    m.select(col("event_type"), col("n_hours"), col("s1").as("n_events"),
        (col("s1").cast("double") / col("n_hours").cast("double")).as("mean_per_hour"),
        expr("""(CAST(n_hours AS DOUBLE) * CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
               |  / (CAST(n_hours - 1 AS DOUBLE) * CAST(s1 AS DOUBLE))""".stripMargin)
          .as("dispersion"),
        expr("""(CAST(n_hours AS DOUBLE) * CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
               |  / (CAST(n_hours - 1 AS DOUBLE) * CAST(s1 AS DOUBLE)) > 2.0D""".stripMargin)
          .as("bursty"))
      .orderBy(col("event_type"))
  }

  /** Histogram-estimated quantiles vs exact (the Prometheus
    * `histogram_quantile` trade made measurable): a log₂ histogram
    * (q300's structure) answers p50/p90/p99 from bucket boundaries —
    * O(#buckets) state instead of the full distribution — and this
    * audit reports the estimate (conservative upper bucket bound 2^(k+1)
    * − 1) beside the EXACT order statistic from the same gaps, with the
    * over-read in exact micro. The answer every SLO dashboard quotes is
    * the estimate; this query prices its bias. All integers: bucket
    * bounds are shifts, exact quantiles are rank picks at ⌈q·n⌉ over
    * the user-partitioned gap relation, never a distributional
    * assumption. */
  lazy val q320HistogramQuantiles: QueryDef = sql(
    "q320_histogram_quantiles",
    """WITH g AS (
      |  SELECT LEAD(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |         - epoch_us(ts) AS raw_gap
      |  FROM events),
      |gv AS (SELECT GREATEST(1, raw_gap) AS gap_us FROM g WHERE raw_gap IS NOT NULL),
      |r AS (SELECT gap_us, ROW_NUMBER() OVER (ORDER BY gap_us) AS rn,
      |        COUNT(*) OVER () AS n FROM gv),
      |q(tag, qm) AS (VALUES ('p50', 500000), ('p90', 900000), ('p99', 990000)),
      |exact AS (
      |  SELECT q.tag, q.qm, CAST(MIN(r.gap_us) AS BIGINT) AS exact_us
      |  FROM q JOIN r ON r.rn = CAST((q.qm * r.n + 999999) // 1000000 AS BIGINT)
      |  GROUP BY 1, 2),
      |h AS (SELECT CAST(LENGTH(bin(gap_us)) - 1 AS BIGINT) AS bucket,
      |        CAST(COUNT(*) AS BIGINT) AS c FROM gv GROUP BY 1),
      |hc AS (SELECT bucket, SUM(c) OVER (ORDER BY bucket
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |         SUM(c) OVER () AS n FROM h),
      |est AS (
      |  SELECT q.tag, CAST(MIN((CAST(1 AS BIGINT) << CAST(hc.bucket + 1 AS INTEGER)) - 1) AS BIGINT) AS est_us
      |  FROM q JOIN hc ON hc.cum * 1000000 >= q.qm * hc.n
      |  GROUP BY 1)
      |SELECT e.tag AS quantile, e.exact_us, est.est_us,
      |  (est.est_us - e.exact_us) * 1000000 // e.exact_us AS over_read_micro
      |FROM exact e JOIN est ON est.tag = e.tag
      |ORDER BY quantile""".stripMargin) { (s, dir) =>
    import s.implicits._
    val byTs = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gv = Tables.events(s, dir)
      .select((lead(expr("unix_micros(ts)"), 1).over(byTs)
        - expr("unix_micros(ts)")).as("raw_gap"))
      .filter(col("raw_gap").isNotNull)
      .select(greatest(lit(1L), col("raw_gap")).as("gap_us"))
      .stageBoundary // gap-sized; exact ranks AND the histogram
    // gap-relation order statistics via the block two-pass device (the
    // gap relation is corpus-proportional; ties need no tiebreak — only
    // the VALUE at each rank is read)
    val nG = gv.agg(count(lit(1)).cast("long").as("n"))
    val r = BlockRank.globalRowNumberAdaptive(gv.crossJoin(broadcast(nG)),
      col("gap_us"), asc = true, Seq(col("gap_us").asc), "rn")
    val q = Seq(("p50", 500000L), ("p90", 900000L), ("p99", 990000L)).toDF("tag", "qm")
    val exact = broadcast(q).join(r,
        col("rn") === expr("(qm * n + 999999L) DIV 1000000L"))
      .groupBy(col("tag"), col("qm")).agg(min(col("gap_us")).as("exact_us"))
    val h = gv.select(expr("CAST(LENGTH(bin(gap_us)) - 1 AS BIGINT)").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("c"))
    val hc = h
      .withColumn("cum", sum(col("c")).over(Window.orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum(col("c")).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    val est = broadcast(q).join(hc, col("cum") * 1000000L >= col("qm") * col("n"))
      .groupBy(col("tag"))
      .agg(min(expr("shiftleft(1L, CAST(bucket + 1 AS INT)) - 1L")).as("est_us"))
    exact.join(est, Seq("tag"))
      .select(col("tag").as("quantile"), col("exact_us"), col("est_us"),
        expr("(est_us - exact_us) * 1000000L DIV exact_us").as("over_read_micro"))
      .orderBy(col("quantile"))
  }

  /** Decomposition-residual anomaly flags — the monitoring loop q275
    * feeds: after trend and weekly seasonality are explained away, a day
    * is anomalous when its remainder sits more than 3 robust sigmas
    * (1.4826·MAD) from the median remainder. Flagging on the RESIDUAL is
    * the difference between "Sunday is always low" (not an alert) and
    * "this Sunday is low FOR A SUNDAY" (an alert) — raw z-scores (q103)
    * can't tell them apart. Medians/MAD go through the q265
    * order-statistic device on the bounded day relation; every emitted
    * double is the same expression of the same inputs in both engines,
    * so the flags agree bit-for-bit. */
  lazy val q314ResidualAnomaly: QueryDef = sql(
    "q314_residual_anomaly",
    """WITH daily AS (
      |  SELECT CAST(epoch_us(date_trunc('day', ts)) // 86400000000 AS BIGINT) AS day_idx,
      |    CAST(COUNT(*) AS BIGINT) AS y
      |  FROM events GROUP BY 1),
      |tr AS (
      |  SELECT day_idx, y, SUM(y) OVER w AS t7, COUNT(*) OVER w AS c7,
      |    MAX(day_idx) OVER w - MIN(day_idx) OVER w AS span
      |  FROM daily
      |  WINDOW w AS (ORDER BY day_idx ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      |interior AS (
      |  SELECT day_idx, y, t7, 7 * y - t7 AS d7, day_idx % 7 AS dow
      |  FROM tr WHERE c7 = 7 AND span = 6),
      |seas AS (
      |  SELECT dow, CAST(SUM(d7) AS BIGINT) AS snum, CAST(COUNT(*) AS BIGINT) AS sden
      |  FROM interior GROUP BY 1),
      |rem AS (
      |  SELECT i.day_idx, i.y,
      |    CAST(i.y AS DOUBLE) - CAST(i.t7 AS DOUBLE) / 7.0
      |      - CAST(s.snum AS DOUBLE) / (7.0 * CAST(s.sden AS DOUBLE)) AS r
      |  FROM interior i JOIN seas s ON s.dow = i.dow),
      |m1 AS (SELECT AVG(r) AS med FROM (
      |    SELECT r, ROW_NUMBER() OVER (ORDER BY r) AS rn, COUNT(*) OVER () AS n FROM rem)
      |  WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1),
      |ad AS (SELECT rem.day_idx, rem.y, rem.r, ABS(rem.r - m1.med) AS a FROM rem, m1),
      |m2 AS (SELECT AVG(a) AS mad FROM (
      |    SELECT a, ROW_NUMBER() OVER (ORDER BY a) AS rn, COUNT(*) OVER () AS n FROM ad)
      |  WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1)
      |SELECT ad.day_idx, ad.y, ad.r AS remainder,
      |  ad.a > 3.0 * 1.4826 * m2.mad AS is_anomaly
      |FROM ad, m2
      |ORDER BY ad.day_idx""".stripMargin) { (s, dir) =>
    val daily = Tables.events(s, dir)
      .groupBy(expr("unix_micros(date_trunc('day', ts)) div 86400000000L").as("day_idx"))
      .agg(count(lit(1)).as("y"))
    val w = Window.orderBy(col("day_idx")).rowsBetween(-3, 3)
    val interior = daily
      .withColumn("t7", sum(col("y")).over(w))
      .withColumn("c7", count(lit(1)).over(w))
      .withColumn("span", max(col("day_idx")).over(w) - min(col("day_idx")).over(w))
      .filter(col("c7") === 7 && col("span") === 6)
      .select(col("day_idx"), col("y"), col("t7"),
        (lit(7L) * col("y") - col("t7")).as("d7"), (col("day_idx") % 7).as("dow"))
      .stageBoundary
    val seas = interior.groupBy(col("dow"))
      .agg(sum(col("d7")).as("snum"), count(lit(1)).as("sden"))
    val rem = interior.join(broadcast(seas), Seq("dow"))
      .select(col("day_idx"), col("y"),
        (col("y").cast("double") - col("t7").cast("double") / 7.0
          - col("snum").cast("double") / (lit(7.0) * col("sden").cast("double"))).as("r"))
      .stageBoundary // day-sized; median, MAD, and the flag pass
    def medianOf(vals: DataFrame, c: String, out: String): DataFrame =
      vals.withColumn("rn", row_number().over(Window.orderBy(col(c))))
        .withColumn("n", count(lit(1)).over(
          Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .filter(col("rn") === expr("(n + 1) div 2") || col("rn") === expr("n div 2 + 1"))
        .agg(avg(col(c)).as(out))
    val m1 = medianOf(rem.select(col("r")), "r", "med")
    val ad = rem.crossJoin(broadcast(m1))
      .select(col("day_idx"), col("y"), col("r"), abs(col("r") - col("med")).as("a"))
      .stageBoundary
    val m2 = medianOf(ad.select(col("a")), "a", "mad")
    ad.crossJoin(broadcast(m2))
      .select(col("day_idx"), col("y"), col("r").as("remainder"),
        (col("a") > lit(3.0) * lit(1.4826) * col("mad")).as("is_anomaly"))
      .orderBy(col("day_idx"))
  }

  /** Price–volume–mix bridge (the FP&A revenue waterfall): why did each
    * event type's revenue move between the last day and a week before?
    * ΔR decomposes exactly as Δn·v₀ (volume at old value) + n₀·Δv
    * (value at old volume) + Δn·Δv (the joint term) — the identity
    * every margin-bridge slide is built on. Day totals are exact
    * BIGINT cents; ΔR is emitted exact, the three effects as identical
    * double expressions of the same integers (the identity holds in
    * the reals; the spec checks it to double precision). Empty arms
    * (a type absent on either day) emit NULL effects, not division
    * errors. One pass + a self-join on the two pinned days. */
  lazy val q310PvmBridge: QueryDef = sql(
    "q310_pvm_bridge",
    """WITH daily AS (
      |  SELECT event_type,
      |    CAST(epoch_us(date_trunc('day', ts)) // 86400000000 AS BIGINT) AS d,
      |    CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS s
      |  FROM events GROUP BY 1, 2),
      |mx AS (SELECT CAST(MAX(d) AS BIGINT) AS dl FROM daily),
      |cur AS (SELECT event_type, n AS n1, s AS s1 FROM daily, mx WHERE d = mx.dl),
      |base AS (SELECT event_type, n AS n0, s AS s0 FROM daily, mx WHERE d = mx.dl - 7)
      |SELECT c.event_type, b.n0, c.n1, b.s0, c.s1,
      |  c.s1 - b.s0 AS delta_cents,
      |  CAST(c.n1 - b.n0 AS DOUBLE) * (CAST(b.s0 AS DOUBLE) / CAST(b.n0 AS DOUBLE)) AS volume_effect,
      |  CAST(b.n0 AS DOUBLE) * (CAST(c.s1 AS DOUBLE) / CAST(c.n1 AS DOUBLE)
      |    - CAST(b.s0 AS DOUBLE) / CAST(b.n0 AS DOUBLE)) AS value_effect,
      |  CAST(c.n1 - b.n0 AS DOUBLE) * (CAST(c.s1 AS DOUBLE) / CAST(c.n1 AS DOUBLE)
      |    - CAST(b.s0 AS DOUBLE) / CAST(b.n0 AS DOUBLE)) AS joint_effect
      |FROM cur c JOIN base b ON b.event_type = c.event_type
      |ORDER BY c.event_type""".stripMargin) { (s, dir) =>
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"),
        expr("unix_micros(date_trunc('day', ts)) div 86400000000L").as("d"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(FLOOR(value * 100) AS BIGINT)")).as("s"))
      .stageBoundary // (type × day)-sized; three consumers
    val mx = daily.agg(max(col("d")).as("dl"))
    val cur = daily.crossJoin(broadcast(mx)).filter(col("d") === col("dl"))
      .select(col("event_type"), col("n").as("n1"), col("s").as("s1"))
    val base = daily.crossJoin(broadcast(mx)).filter(col("d") === col("dl") - 7)
      .select(col("event_type"), col("n").as("n0"), col("s").as("s0"))
    cur.join(base, Seq("event_type"))
      .select(col("event_type"), col("n0"), col("n1"), col("s0"), col("s1"),
        (col("s1") - col("s0")).as("delta_cents"),
        expr("""CAST(n1 - n0 AS DOUBLE) * (CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE))""")
          .as("volume_effect"),
        expr("""CAST(n0 AS DOUBLE) * (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
               |  - CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE))""".stripMargin).as("value_effect"),
        expr("""CAST(n1 - n0 AS DOUBLE) * (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
               |  - CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE))""".stripMargin).as("joint_effect"))
      .orderBy(col("event_type"))
  }

  /** Feed-freshness audit: per event feed (type), how far its newest
    * record lags the corpus high-water mark — the ingestion-SLO monitor
    * ("the error feed stopped 3 hours ago" page). Lag is measured
    * against the CORPUS max, not wall clock, so the audit is
    * deterministic and replayable; exact integer micros throughout.
    * One map-side-combined pass + a broadcast of the one-row high-water
    * mark. */
  lazy val q307FreshnessAudit: QueryDef = sql(
    "q307_freshness_audit",
    """WITH f AS (
      |  SELECT event_type,
      |    CAST(MAX(epoch_us(ts)) AS BIGINT) AS last_us,
      |    CAST(COUNT(*) AS BIGINT) AS n_events,
      |    CAST(COUNT(DISTINCT CAST(epoch_us(date_trunc('day', ts)) // 86400000000 AS BIGINT)) AS BIGINT) AS active_days
      |  FROM events GROUP BY 1),
      |hw AS (SELECT CAST(MAX(last_us) AS BIGINT) AS hwm FROM f)
      |SELECT f.event_type, f.n_events, f.active_days, f.last_us,
      |  hw.hwm - f.last_us AS lag_us
      |FROM f, hw
      |ORDER BY f.event_type""".stripMargin) { (s, dir) =>
    val f = Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(max(expr("unix_micros(ts)")).as("last_us"),
        count(lit(1)).as("n_events"),
        countDistinct(expr("unix_micros(date_trunc('day', ts)) div 86400000000L"))
          .as("active_days"))
    val hw = f.agg(max(col("last_us")).as("hwm"))
    f.crossJoin(broadcast(hw))
      .select(col("event_type"), col("n_events"), col("active_days"),
        col("last_us"), (col("hwm") - col("last_us")).as("lag_us"))
      .orderBy(col("event_type"))
  }

  /** Session entry/exit profile — where journeys start, where they die
    * (the web-analytics flow matrix; q41 counts sessions, q95 tests one
    * pinned funnel, THIS profiles all observed (first, last) pairs with
    * their bounce share). Sessions are 30-minute-gap islands per user
    * (the batch gaps-and-islands twin of q41's session_window face);
    * entry/exit resolve by (ts, event_id), so ties are deterministic.
    * One user-keyed shuffle; the profile is |event_types|² rows. */
  lazy val q301EntryExit: QueryDef = sql(
    "q301_entry_exit",
    """WITH m AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS t,
      |    CASE WHEN epoch_us(ts) - LAG(epoch_us(ts))
      |        OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
      |      OR LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |      THEN 1 ELSE 0 END AS brk
      |  FROM events),
      |sess AS (
      |  SELECT user_id, event_id, event_type, t,
      |    SUM(brk) OVER (PARTITION BY user_id ORDER BY t, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM m),
      |prof AS (
      |  SELECT user_id, sid,
      |    FIRST(event_type ORDER BY t, event_id) AS entry_type,
      |    LAST(event_type ORDER BY t, event_id) AS exit_type,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM sess GROUP BY 1, 2)
      |SELECT entry_type, exit_type,
      |  CAST(COUNT(*) AS BIGINT) AS n_sessions,
      |  CAST(COALESCE(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_bounces,
      |  CAST(SUM(n) AS BIGINT) AS total_events
      |FROM prof
      |GROUP BY 1, 2
      |ORDER BY entry_type, exit_type""".stripMargin) { (s, dir) =>
    val byT = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
    val m = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("unix_micros(ts)").as("t"))
      .withColumn("prev", lag(col("t"), 1).over(byT))
      .withColumn("brk",
        when(col("prev").isNull || col("t") - col("prev") > 1800000000L, 1L).otherwise(0L))
    val sess = m.withColumn("sid",
      sum(col("brk")).over(Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val ordered = Window.partitionBy(col("user_id"), col("sid"))
      .orderBy(col("t"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val prof = sess
      .withColumn("entry_type", first(col("event_type")).over(ordered))
      .withColumn("exit_type", last(col("event_type")).over(ordered))
      .groupBy(col("user_id"), col("sid"), col("entry_type"), col("exit_type"))
      .agg(count(lit(1)).as("n"))
    prof.groupBy(col("entry_type"), col("exit_type"))
      .agg(count(lit(1)).as("n_sessions"),
        coalesce(sum(when(col("n") === 1L, 1L).otherwise(0L)), lit(0L)).as("n_bounces"),
        sum(col("n")).as("total_events"))
      .orderBy(col("entry_type"), col("exit_type"))
  }

  /** Log₂-bucketed latency histogram (the HdrHistogram / Prometheus-
    * exponential-buckets shape) of same-user inter-event gaps: bucket k
    * holds gaps in [2^k, 2^(k+1)) microseconds, covering nine decades in
    * ~40 buckets — the layout every latency dashboard uses because tail
    * behavior needs resolution proportional to magnitude. floor(log₂)
    * is computed EXACTLY as length(bin(x)) − 1 (binary digit count —
    * no libm, no 1-ulp boundary flips at powers of two where log2's
    * rounding differs across engines). One LEAD + one dimension-sized
    * aggregate; cumulative share in exact micro. */
  lazy val q300LatencyHistogram: QueryDef = sql(
    "q300_latency_histogram",
    """WITH g AS (
      |  SELECT LEAD(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |         - epoch_us(ts) AS raw_gap
      |  FROM events),
      |b AS (
      |  SELECT CAST(LENGTH(bin(GREATEST(1, raw_gap))) - 1 AS BIGINT) AS bucket
      |  FROM g WHERE raw_gap IS NOT NULL),
      |h AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n FROM b GROUP BY 1),
      |t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM h)
      |SELECT h.bucket,
      |  CAST(1 AS BIGINT) << CAST(h.bucket AS INTEGER) AS lo_us,
      |  h.n,
      |  CAST(SUM(h.n) OVER (ORDER BY h.bucket
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000000 // t.total AS BIGINT) AS cum_micro
      |FROM h, t
      |ORDER BY h.bucket""".stripMargin) { (s, dir) =>
    val byTs = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val g = Tables.events(s, dir)
      .select((lead(expr("unix_micros(ts)"), 1).over(byTs)
        - expr("unix_micros(ts)")).as("raw_gap"))
      .filter(col("raw_gap").isNotNull) // BEFORE the clamp: greatest() skips
      // NULLs in both engines, so clamping first would phantom-count the
      // last event of every user as a 1-microsecond gap
    val h = g.select(expr("CAST(LENGTH(bin(GREATEST(1L, raw_gap))) - 1 AS BIGINT)").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
    val t = h.agg(sum(col("n")).as("total"))
    h.crossJoin(broadcast(t))
      .select(col("bucket"),
        expr("shiftleft(1L, CAST(bucket AS INT))").as("lo_us"), col("n"),
        expr("""CAST(SUM(n) OVER (ORDER BY bucket
               |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000000L DIV total AS BIGINT)"""
          .stripMargin).as("cum_micro"))
      .orderBy(col("bucket"))
  }

  /** The two daily series every ops question correlates: click volume x
    * and purchase revenue cents y, per day — one pass over events (the
    * orders table lives in a different calendar era from events, so a
    * cross-table day join would be vacuous). Day-sized; shared by q296
    * and q297. */
  private def dailyXY(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(expr("unix_micros(date_trunc('day', ts)) div 86400000000L").as("d"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
        sum(when(col("event_type") === "purchase",
          expr("CAST(FLOOR(value * 100) AS BIGINT)")).otherwise(0L)).as("y"))
      .stageBoundary // day-sized; both pair sides

  // def, not val: `all` (declared above) forces the lazy query vals at
  // object init, before a later-declared val would be assigned
  private def dailyXYSql =
    """xy AS (
      |  SELECT CAST(epoch_us(date_trunc('day', ts)) // 86400000000 AS BIGINT) AS d,
      |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS x,
      |    CAST(SUM(CASE WHEN event_type = 'purchase'
      |      THEN CAST(FLOOR(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS y
      |  FROM events GROUP BY 1)""".stripMargin

  /** Kendall's τ-b (Kendall Biometrika 1938; the tie-corrected τ-b form)
    * between daily click volume and daily purchase revenue: the rank
    * correlation built from pairwise CONCORDANCE, robust to any
    * monotone transform of either series and exact in integers — C, D,
    * and the tie terms are counts over day pairs; τ-b is one double
    * expression of them (q181's Spearman ranks VALUES; Kendall counts
    * pair ORDERINGS — they disagree precisely under heavy ties, so both
    * belong in the toolbox). O(days²) pairs on the bounded day relation
    * (q265's argument); the corpus passes are the two daily
    * aggregates. */
  lazy val q296KendallTau: QueryDef = sql(
    "q296_kendall_tau",
    s"""WITH $dailyXYSql,
       |pr AS (
       |  SELECT CASE WHEN (b.x - a.x) * (b.y - a.y) > 0 THEN 1 ELSE 0 END AS con,
       |    CASE WHEN (b.x - a.x) * (b.y - a.y) < 0 THEN 1 ELSE 0 END AS dis,
       |    CASE WHEN b.x = a.x THEN 1 ELSE 0 END AS tx,
       |    CASE WHEN b.y = a.y THEN 1 ELSE 0 END AS ty
       |  FROM xy a JOIN xy b ON b.d > a.d),
       |agg AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n0, CAST(SUM(con) AS BIGINT) AS c,
       |    CAST(SUM(dis) AS BIGINT) AS dd, CAST(SUM(tx) AS BIGINT) AS n1,
       |    CAST(SUM(ty) AS BIGINT) AS n2
       |  FROM pr)
       |SELECT n0 AS n_pairs, c AS concordant, dd AS discordant, n1 AS ties_x, n2 AS ties_y,
       |  CAST(c - dd AS DOUBLE)
       |    / SQRT(CAST(n0 - n1 AS DOUBLE) * CAST(n0 - n2 AS DOUBLE)) AS tau_b
       |FROM agg""".stripMargin) { (s, dir) =>
    val xy = dailyXY(s, dir)
    val pr = xy.as("a").join(xy.as("b"), col("b.d") > col("a.d"))
      .select(
        when((col("b.x") - col("a.x")) * (col("b.y") - col("a.y")) > 0, 1L).otherwise(0L).as("con"),
        when((col("b.x") - col("a.x")) * (col("b.y") - col("a.y")) < 0, 1L).otherwise(0L).as("dis"),
        when(col("b.x") === col("a.x"), 1L).otherwise(0L).as("tx"),
        when(col("b.y") === col("a.y"), 1L).otherwise(0L).as("ty"))
    pr.agg(count(lit(1)).as("n0"), sum(col("con")).as("c"), sum(col("dis")).as("dd"),
        sum(col("tx")).as("n1"), sum(col("ty")).as("n2"))
      .select(col("n0").as("n_pairs"), col("c").as("concordant"),
        col("dd").as("discordant"), col("n1").as("ties_x"), col("n2").as("ties_y"),
        expr("""CAST(c - dd AS DOUBLE)
               |  / SQRT(CAST(n0 - n1 AS DOUBLE) * CAST(n0 - n2 AS DOUBLE))""".stripMargin)
          .as("tau_b"))
  }

  /** Lead–lag cross-correlation (the CCF companion of q270's ACF):
    * r_k between daily click volume and daily purchase revenue at lags
    * −7…+7 — "does activity LEAD revenue, and by how many days?" The
    * peak lag is the operational answer (positive k: x leads y).
    * Same exactness device as q270 — n-scaled integer deviations with
    * every SUM over BIGINTs (a double-sum numerator would be
    * aggregation-order-dependent and break cross-engine parity) —
    * except revenue deviations are floored to 10⁴-cent units first:
    * cent deviations square past 2⁶³, scaled ones stay exact to ~10³
    * days × 10⁹/day. r_k is one double expression of four exact
    * integers. Lag joins on the bounded day relation. */
  lazy val q297CrossCorrelation: QueryDef = sql(
    "q297_cross_correlation",
    s"""WITH $dailyXYSql,
       |sc AS (SELECT d, x, y // 10000 AS y FROM xy),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
       |               CAST(SUM(y) AS BIGINT) AS sy FROM sc),
       |dev AS (SELECT d, tot.n * x - tot.sx AS dx, tot.n * y - tot.sy AS dy FROM sc, tot),
       |den AS (SELECT CAST(SUM(dx * dx) AS BIGINT) AS denx,
       |               CAST(SUM(dy * dy) AS BIGINT) AS deny FROM dev),
       |lags(lag) AS (VALUES (-7), (-6), (-5), (-4), (-3), (-2), (-1), (0),
       |                     (1), (2), (3), (4), (5), (6), (7)),
       |num AS (
       |  SELECT l.lag, CAST(COUNT(*) AS BIGINT) AS n_terms,
       |    CAST(SUM(a.dx * b.dy) AS BIGINT) AS num
       |  FROM lags l JOIN dev a ON TRUE JOIN dev b ON b.d = a.d + l.lag
       |  GROUP BY 1)
       |SELECT CAST(num.lag AS BIGINT) AS lag, num.n_terms,
       |  CAST(num.num AS DOUBLE) / (SQRT(CAST(den.denx AS DOUBLE)) * SQRT(CAST(den.deny AS DOUBLE))) AS ccf
       |FROM num, den
       |ORDER BY lag""".stripMargin) { (s, dir) =>
    import s.implicits._
    val sc = dailyXY(s, dir).select(col("d"), col("x"), expr("y DIV 10000L").as("y"))
    val tot = sc.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"))
    val dev = sc.crossJoin(broadcast(tot))
      .select(col("d"), (col("n") * col("x") - col("sx")).as("dx"),
        (col("n") * col("y") - col("sy")).as("dy"))
      .stageBoundary
    val den = dev.agg(sum(col("dx") * col("dx")).as("denx"),
      sum(col("dy") * col("dy")).as("deny"))
    val lags = (-7L to 7L).toDF("lag")
    val num = broadcast(lags)
      .crossJoin(dev.select(col("d").as("ad"), col("dx").as("adx")))
      .join(dev.select(col("d").as("bd"), col("dy").as("bdy")),
        col("bd") === col("ad") + col("lag"))
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("n_terms"), sum(col("adx") * col("bdy")).as("num"))
    num.crossJoin(broadcast(den))
      .select(col("lag"), col("n_terms"),
        (col("num").cast("double")
          / (sqrt(col("denx").cast("double")) * sqrt(col("deny").cast("double")))).as("ccf"))
      .orderBy(col("lag"))
  }

  /** Per-day event-mix χ² drift (Pearson 1900 goodness-of-fit against
    * the corpus-global mix): does TODAY's click/view/purchase/signup/
    * error composition match the feed's overall proportions? The
    * categorical-mix stability face of the drift shelf — q338's PSI
    * compares two fixed populations at source grain, q383 watches one
    * binary rate; this walks the day axis against the pooled mix with
    * df = 4 and flags days past the α = 0.05 critical value 9.488.
    * The 5 per-type counts pivot to COLUMNS via conditional aggregates,
    * so each day's χ² is ONE fixed-order double expression of exact
    * BIGINTs — no order-dependent double summation — in the
    * scale-free form Σ_t (c_t·N − n·C_t)² / (n·C_t·N). Day-zero
    * degeneracy (n = 0 never occurs: a day row exists only with
    * events) and a zero global class would divide by zero — guarded to
    * NULL. One grouped events pass + a one-row broadcast. */
  lazy val q392EventMixDrift: QueryDef = sql(
    "q392_event_mix_drift",
    s"""WITH ev AS (
       |  SELECT CAST(epoch_us(date_trunc('day', ts)) // 86400000000 AS BIGINT) AS d,
       |    event_type FROM events),
       |pd AS (SELECT d,
       |    CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
       |    CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS c2,
       |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS c3,
       |    CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS c4,
       |    CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS c5
       |  FROM ev GROUP BY 1),
       |g AS (SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(c1) AS BIGINT) AS g1,
       |    CAST(SUM(c2) AS BIGINT) AS g2, CAST(SUM(c3) AS BIGINT) AS g3,
       |    CAST(SUM(c4) AS BIGINT) AS g4, CAST(SUM(c5) AS BIGINT) AS g5 FROM pd),
       |x AS (SELECT pd.d, pd.n,
       |    CASE WHEN g.g1 > 0 AND g.g2 > 0 AND g.g3 > 0 AND g.g4 > 0 AND g.g5 > 0 THEN
       |      (CAST(pd.c1 AS DOUBLE) * g.nn - CAST(pd.n AS DOUBLE) * g.g1)
       |        * (CAST(pd.c1 AS DOUBLE) * g.nn - CAST(pd.n AS DOUBLE) * g.g1)
       |        / (CAST(pd.n AS DOUBLE) * g.g1 * g.nn)
       |      + (CAST(pd.c2 AS DOUBLE) * g.nn - CAST(pd.n AS DOUBLE) * g.g2)
       |        * (CAST(pd.c2 AS DOUBLE) * g.nn - CAST(pd.n AS DOUBLE) * g.g2)
       |        / (CAST(pd.n AS DOUBLE) * g.g2 * g.nn)
       |      + (CAST(pd.c3 AS DOUBLE) * g.nn - CAST(pd.n AS DOUBLE) * g.g3)
       |        * (CAST(pd.c3 AS DOUBLE) * g.nn - CAST(pd.n AS DOUBLE) * g.g3)
       |        / (CAST(pd.n AS DOUBLE) * g.g3 * g.nn)
       |      + (CAST(pd.c4 AS DOUBLE) * g.nn - CAST(pd.n AS DOUBLE) * g.g4)
       |        * (CAST(pd.c4 AS DOUBLE) * g.nn - CAST(pd.n AS DOUBLE) * g.g4)
       |        / (CAST(pd.n AS DOUBLE) * g.g4 * g.nn)
       |      + (CAST(pd.c5 AS DOUBLE) * g.nn - CAST(pd.n AS DOUBLE) * g.g5)
       |        * (CAST(pd.c5 AS DOUBLE) * g.nn - CAST(pd.n AS DOUBLE) * g.g5)
       |        / (CAST(pd.n AS DOUBLE) * g.g5 * g.nn)
       |    END AS chi2
       |  FROM pd, g)
       |SELECT d AS day_idx, n AS n_events, chi2,
       |  CAST(CASE WHEN chi2 >= 9.488 THEN 1 ELSE 0 END AS BIGINT) AS drifted
       |FROM x ORDER BY day_idx""".stripMargin) { (s, dir) =>
    def cnt(t: String, name: String): org.apache.spark.sql.Column =
      sum(when(col("event_type") === t, 1L).otherwise(0L)).as(name)
    val pd = Tables.events(s, dir)
      .select(expr("unix_micros(date_trunc('day', ts)) div 86400000000L").as("d"),
        col("event_type"))
      .groupBy(col("d"))
      .agg(count(lit(1)).as("n"), cnt("click", "c1"), cnt("view", "c2"),
        cnt("purchase", "c3"), cnt("signup", "c4"), cnt("error", "c5"))
      .stageBoundary // day-sized; totals + the per-day pass
    val g = pd.agg(sum(col("n")).as("nn"), sum(col("c1")).as("g1"),
      sum(col("c2")).as("g2"), sum(col("c3")).as("g3"),
      sum(col("c4")).as("g4"), sum(col("c5")).as("g5"))
    def term(c: String, gc: String): String =
      s"""(CAST($c AS DOUBLE) * nn - CAST(n AS DOUBLE) * $gc)
         |  * (CAST($c AS DOUBLE) * nn - CAST(n AS DOUBLE) * $gc)
         |  / (CAST(n AS DOUBLE) * $gc * nn)""".stripMargin
    pd.crossJoin(broadcast(g))
      .select(col("d").as("day_idx"), col("n").as("n_events"),
        expr(s"""CASE WHEN g1 > 0 AND g2 > 0 AND g3 > 0 AND g4 > 0 AND g5 > 0 THEN
                |${term("c1", "g1")} + ${term("c2", "g2")} + ${term("c3", "g3")}
                |  + ${term("c4", "g4")} + ${term("c5", "g5")}
                |END""".stripMargin).as("chi2"))
      .select(col("day_idx"), col("n_events"), col("chi2"),
        expr("CAST(CASE WHEN chi2 >= 9.488D THEN 1 ELSE 0 END AS BIGINT)").as("drifted"))
      .orderBy(col("day_idx"))
  }

  /** Ordinary least squares on the daily revenue trend (Legendre 1805 /
    * Gauss; the closed-form moment solution): slope, intercept, R², the
    * classical slope standard error and its t — completing the
    * trend-line shelf: q265's Theil–Sen is the median (breakdown-robust)
    * line, q382's pinball fit is the τ=0.9 (tail) line, OLS is the
    * mean line whose SE/t the other two deliberately don't claim.
    * Every moment (n, Σt, Σy, Σt², Σty, Σy²) is an exact BIGINT from
    * one day-relation aggregate; every statistic is a single double
    * expression of them — no per-row residual pass, no
    * aggregation-order-dependent double sums (SSE comes from the
    * moment identity SSE = Syy − Sty²/Stt). Degenerate-span guard
    * (n < 3 or zero t-variance) goes NULL. Day indices re-base to 0 so
    * t-moments stay small. BIGINT envelope: Σty holds to ~10³ days ×
    * 10¹²-cent days, but the BINDING term is Σy² — the per-row square
    * y·y wraps once a single day exceeds ~3.03e9 cents (~$30M/day),
    * and the sum tightens that by another factor n. Past that, switch
    * the y unit for the syy moment only (deci- or deca-cents: a 10²
    * unit buys 10⁴ of y² headroom and the R²/SE/t ratios are
    * unit-invariant); the fixture's daily revenue tops out ~5 decades
    * under the per-row bound. */
  lazy val q391OlsTrend: QueryDef = sql(
    "q391_ols_trend",
    s"""WITH $dailyXYSql,
       |d0 AS (SELECT MIN(d) AS d0 FROM xy),
       |sc AS (SELECT xy.d - d0.d0 AS t, xy.y AS yv FROM xy, d0),
       |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(t) AS BIGINT) AS st,
       |    CAST(SUM(yv) AS BIGINT) AS sy, CAST(SUM(t * t) AS BIGINT) AS stt,
       |    CAST(SUM(t * yv) AS BIGINT) AS sty, CAST(SUM(yv * yv) AS BIGINT) AS syy
       |  FROM sc),
       |k AS (SELECT n, st, sy,
       |    CAST(n AS DOUBLE) * stt - CAST(st AS DOUBLE) * st AS sxx,
       |    CAST(n AS DOUBLE) * sty - CAST(st AS DOUBLE) * sy AS sxy,
       |    CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy AS syy_c
       |  FROM m)
       |SELECT n AS n_days,
       |  CASE WHEN n >= 3 AND sxx > 0 THEN sxy / sxx END AS slope_cents_per_day,
       |  CASE WHEN n >= 3 AND sxx > 0
       |    THEN (CAST(sy AS DOUBLE) - (sxy / sxx) * st) / n END AS intercept_cents,
       |  CASE WHEN n >= 3 AND sxx > 0 AND syy_c > 0
       |    THEN sxy * sxy / (sxx * syy_c) END AS r2,
       |  CASE WHEN n >= 3 AND sxx > 0
       |    THEN SQRT(((syy_c - sxy * sxy / sxx) / (n - 2)) * n / sxx) END AS se_slope,
       |  CASE WHEN n >= 3 AND sxx > 0 AND syy_c - sxy * sxy / sxx > 0
       |    THEN (sxy / sxx) / SQRT(((syy_c - sxy * sxy / sxx) / (n - 2)) * n / sxx) END AS t_slope
       |FROM k""".stripMargin) { (s, dir) =>
    val xy = dailyXY(s, dir)
    val d0 = xy.agg(min(col("d")).as("d0"))
    val sc = xy.crossJoin(broadcast(d0))
      .select((col("d") - col("d0")).as("t"), col("y").as("yv"))
    val m = sc.agg(count(lit(1)).as("n"), sum(col("t")).as("st"),
      sum(col("yv")).as("sy"), sum(col("t") * col("t")).as("stt"),
      sum(col("t") * col("yv")).as("sty"), sum(col("yv") * col("yv")).as("syy"))
    m.select(col("n"), col("st"), col("sy"),
        expr("CAST(n AS DOUBLE) * stt - CAST(st AS DOUBLE) * st").as("sxx"),
        expr("CAST(n AS DOUBLE) * sty - CAST(st AS DOUBLE) * sy").as("sxy"),
        expr("CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy").as("syy_c"))
      .select(col("n").as("n_days"),
        expr("CASE WHEN n >= 3 AND sxx > 0 THEN sxy / sxx END").as("slope_cents_per_day"),
        expr("""CASE WHEN n >= 3 AND sxx > 0
               |  THEN (CAST(sy AS DOUBLE) - (sxy / sxx) * st) / n END""".stripMargin)
          .as("intercept_cents"),
        expr("CASE WHEN n >= 3 AND sxx > 0 AND syy_c > 0 THEN sxy * sxy / (sxx * syy_c) END")
          .as("r2"),
        expr("""CASE WHEN n >= 3 AND sxx > 0
               |  THEN SQRT(((syy_c - sxy * sxy / sxx) / (n - 2)) * n / sxx) END""".stripMargin)
          .as("se_slope"),
        expr("""CASE WHEN n >= 3 AND sxx > 0 AND syy_c - sxy * sxy / sxx > 0
               |  THEN (sxy / sxx) / SQRT(((syy_c - sxy * sxy / sxx) / (n - 2)) * n / sxx) END"""
          .stripMargin).as("t_slope"))
  }

  /** Multiwindow SLO burn-rate alerting (the Google SRE workbook
    * device, ch. 5: page only when BOTH a fast and a slow window burn
    * the error budget — the fast window catches onset, the slow one
    * suppresses blips): against a 99% success SLO over the events
    * feed, burn rate = (error fraction) / (1 − SLO) per trailing 1 h
    * and 6 h windows on the hour axis, paging when burn₁ₕ ≥ 14.4 AND
    * burn₆ₕ ≥ 6 (the workbook's fast-burn pair). Empty hours count as
    * zero-traffic rows (the axis is generated, not observed — a gap
    * in events must not silently shrink the 6 h denominator). Burn
    * rates are exact micro-unit integers (err·10⁸ DIV total — safe to
    * ~9·10¹⁰ errors/hour); the trailing sums ride ROWS-frame windows
    * over the CALENDAR-BOUNDED hour axis (the documented bounded-axis
    * class — hours, not corpus rows). One grouped pass over events +
    * one axis join. */
  lazy val q383SloBurn: QueryDef = sql(
    "q383_slo_burn",
    """WITH ev AS (SELECT CAST(epoch_us(date_trunc('hour', ts)) // 3600000000 AS BIGINT) AS h,
      |    CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_err FROM events),
      |hb AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS n_total,
      |    CAST(SUM(is_err) AS BIGINT) AS n_err FROM ev GROUP BY 1),
      |mx AS (SELECT MIN(h) AS lo, MAX(h) AS hi FROM hb),
      |axis AS (SELECT lo + t.i AS h FROM mx, LATERAL (SELECT unnest(range(0, hi - lo + 1)) AS i) t),
      |f AS (SELECT a.h, COALESCE(hb.n_total, 0) AS n_total,
      |    COALESCE(hb.n_err, 0) AS n_err FROM axis a LEFT JOIN hb USING (h)),
      |w AS (SELECT h, n_total, n_err,
      |    SUM(n_total) OVER w6 AS t6, SUM(n_err) OVER w6 AS e6
      |  FROM f WINDOW w6 AS (ORDER BY h ROWS BETWEEN 5 PRECEDING AND CURRENT ROW))
      |SELECT h AS hour_idx, n_total, n_err,
      |  CAST(n_err * 100000000 // GREATEST(1, n_total) AS BIGINT) AS burn1_micro,
      |  CAST(e6 * 100000000 // GREATEST(1, t6) AS BIGINT) AS burn6_micro,
      |  CAST(CASE WHEN n_err * 100000000 // GREATEST(1, n_total) >= 14400000
      |         AND e6 * 100000000 // GREATEST(1, t6) >= 6000000
      |        THEN 1 ELSE 0 END AS BIGINT) AS page
      |FROM w ORDER BY hour_idx""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val hb = Tables.events(s, dir)
      .groupBy(expr("unix_micros(date_trunc('hour', ts)) div 3600000000L").as("h"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_err"))
      .stageBoundary // hour-axis-sized; bounds + fill read it
    val b = hb.agg(min(col("h")).as("lo"), max(col("h")).as("hi")).head()
    val axis = s.range(b.getLong(0), b.getLong(1) + 1).toDF("h")
    val f = axis.join(hb, Seq("h"), "left")
      .select(col("h"), coalesce(col("n_total"), lit(0L)).as("n_total"),
        coalesce(col("n_err"), lit(0L)).as("n_err"))
    val w6 = Window.orderBy(col("h")).rowsBetween(-5, 0)
    f.withColumn("t6", sum(col("n_total")).over(w6))
      .withColumn("e6", sum(col("n_err")).over(w6))
      .select(col("h").as("hour_idx"), col("n_total"), col("n_err"),
        expr("n_err * 100000000L DIV GREATEST(1L, n_total)").as("burn1_micro"),
        expr("e6 * 100000000L DIV GREATEST(1L, t6)").as("burn6_micro"),
        expr("""CAST(CASE WHEN n_err * 100000000L DIV GREATEST(1L, n_total) >= 14400000
               |       AND e6 * 100000000L DIV GREATEST(1L, t6) >= 6000000
               |      THEN 1 ELSE 0 END AS BIGINT)""".stripMargin).as("page"))
      .orderBy(col("hour_idx"))
  }

  /** Quantile regression by exact grid search (Koenker & Bassett,
    * Econometrica 1978): the τ = 0.9 revenue trend line — "what slope
    * does the TOP of the daily-revenue distribution follow?" — fit by
    * minimizing pinball loss over a fixed slope grid, with the
    * intercept per slope the EXACT τ-order-statistic of the residuals
    * (for a fixed slope the τ-quantile minimizes pinball — the
    * textbook property, so the search is exact over the grid, not a
    * descent). The P90 companion of q265's Theil–Sen median line: OLS
    * and the median line both miss a fattening upper tail; capacity
    * planning reads the 0.9 line. Pinball in deci-units (9·u⁺ + 1·u⁻)
    * keeps every quantity BIGINT; ranks tie-break on day. The day
    * relation is calendar-bounded, so the 21-slope × days expansion
    * and its per-slope windows are bounded work at any corpus size —
    * the corpus-scale step is the one daily aggregate (the q296
    * argument). */
  lazy val q382QuantileRegression: QueryDef = sql(
    "q382_quantile_regression",
    s"""WITH $dailyXYSql,
       |d0 AS (SELECT MIN(d) AS d0 FROM xy),
       |sc AS (SELECT xy.d - d0.d0 AS t, xy.y AS yv FROM xy, d0),
       |g(b) AS (VALUES ${(-10 to 10).map(i => s"(${i * 50})").mkString(", ")}),
       |r AS (SELECT g.b, sc.t, sc.yv - g.b * sc.t AS res FROM sc CROSS JOIN g),
       |cnt AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS n FROM r GROUP BY 1),
       |qr AS (SELECT b, res AS qv FROM (
       |    SELECT r.b, r.res, c.n,
       |      ROW_NUMBER() OVER (PARTITION BY r.b ORDER BY r.res, r.t) AS rn
       |    FROM r JOIN cnt c USING (b)) WHERE rn = (9 * n + 9) // 10),
       |loss AS (SELECT r.b, q.qv,
       |    CAST(SUM(CASE WHEN r.res >= q.qv THEN 9 * (r.res - q.qv)
       |                  ELSE q.qv - r.res END) AS BIGINT) AS pinball_deci
       |  FROM r JOIN qr q USING (b) GROUP BY 1, 2)
       |SELECT CAST(b AS BIGINT) AS slope_cents_per_day, qv AS intercept_cents,
       |  pinball_deci
       |FROM loss ORDER BY pinball_deci, b LIMIT 1""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val xy = dailyXY(s, dir)
    val d0 = xy.agg(min(col("d")).as("d0"))
    val sc = xy.crossJoin(broadcast(d0))
      .select((col("d") - col("d0")).as("t"), col("y").as("yv"))
      .stageBoundary // day-sized; residual grid reads it 21×
    val grid = broadcast(s.range(1).select(
      explode(array((-10 to 10).map(i => lit(i * 50L)): _*)).as("b")))
    val r = sc.crossJoin(grid)
      .select(col("b"), col("t"), (col("yv") - col("b") * col("t")).as("res"))
      .stageBoundary // (21 slopes × days)-sized; quantile + loss
    val cnt = r.groupBy(col("b")).agg(count(lit(1)).as("n"))
    val qr = r.join(cnt, "b")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("b")).orderBy(col("res"), col("t"))))
      .filter(col("rn") === expr("(9 * n + 9) DIV 10"))
      .select(col("b"), col("res").as("qv"))
    r.join(qr, "b")
      .groupBy(col("b"), col("qv"))
      .agg(sum(when(col("res") >= col("qv"), (col("res") - col("qv")) * 9L)
        .otherwise(col("qv") - col("res"))).as("pinball_deci"))
      .orderBy(col("pinball_deci"), col("b")).limit(1)
      .select(col("b").as("slope_cents_per_day"), col("qv").as("intercept_cents"),
        col("pinball_deci"))
  }

  /** Longest consecutive-day activity streak per user — gaps-and-islands
    * on the day axis (the engagement metric every product dashboard
    * ships): distinct active days, grouped into runs by the classic
    * day_idx − ROW_NUMBER constant-difference device (runs of
    * consecutive integers share the difference), then a per-user max.
    * One user-keyed shuffle over the (user, day)-distinct relation —
    * already corpus-reduced — and exact integers throughout. */
  lazy val q291ActivityStreaks: QueryDef = sql(
    "q291_activity_streaks",
    """WITH ud AS (
      |  SELECT DISTINCT user_id,
      |    CAST(epoch_us(date_trunc('day', ts)) // 86400000000 AS BIGINT) AS d
      |  FROM events),
      |runs AS (
      |  SELECT user_id, d,
      |    d - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS grp
      |  FROM ud),
      |st AS (
      |  SELECT user_id, grp, CAST(COUNT(*) AS BIGINT) AS len,
      |    CAST(MIN(d) AS BIGINT) AS start_d
      |  FROM runs GROUP BY 1, 2)
      |SELECT user_id,
      |  CAST(SUM(len) AS BIGINT) AS active_days,
      |  CAST(COUNT(*) AS BIGINT) AS n_streaks,
      |  CAST(MAX(len) AS BIGINT) AS longest_streak,
      |  CAST(MIN(CASE WHEN len = (SELECT MAX(len) FROM st s2 WHERE s2.user_id = st.user_id)
      |           THEN start_d END) AS BIGINT) AS longest_start_day
      |FROM st
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin) { (s, dir) =>
    val ud = Tables.events(s, dir)
      .select(col("user_id"),
        expr("unix_micros(date_trunc('day', ts)) div 86400000000L").as("d"))
      .distinct()
    val runs = ud.withColumn("grp",
      col("d") - row_number().over(
        Window.partitionBy(col("user_id")).orderBy(col("d"))))
    val st = runs.groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("len"), min(col("d")).as("start_d"))
    // per-user argmax via one more window instead of the oracle's
    // correlated subquery (same answer, one pass)
    val mx = st.withColumn("mlen",
      max(col("len")).over(Window.partitionBy(col("user_id"))))
    mx.groupBy(col("user_id"))
      .agg(sum(col("len")).as("active_days"), count(lit(1)).as("n_streaks"),
        max(col("len")).as("longest_streak"),
        min(when(col("len") === col("mlen"), col("start_d"))).as("longest_start_day"))
      .orderBy(col("user_id"))
  }

  /** Rolling active-user counts — DAU, trailing-7-day WAU, trailing-28-
    * day MAU and the DAU/WAU stickiness ratio (the growth-team
    * scorecard). Exact sliding-window DISTINCT does not fold into a
    * window function (distinct isn't subtractable), so the rolling
    * counts come from a bounded range join of the DAY relation against
    * the (user, day)-distinct relation — fan-out ≤ 28 rows per active
    * (user, day), a constant, and both inputs are already corpus-
    * reduced (the corpus pass is the dedup to (user, day)). At 10⁹
    * users this is the standard pre-aggregated-activity layout. */
  lazy val q292ActiveUsers: QueryDef = sql(
    "q292_active_users",
    """WITH ud AS (
      |  SELECT DISTINCT user_id,
      |    CAST(epoch_us(date_trunc('day', ts)) // 86400000000 AS BIGINT) AS d
      |  FROM events),
      |days AS (SELECT DISTINCT d FROM ud),
      |dau AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY 1),
      |wau AS (SELECT days.d, CAST(COUNT(DISTINCT ud.user_id) AS BIGINT) AS wau
      |        FROM days JOIN ud ON ud.d BETWEEN days.d - 6 AND days.d GROUP BY 1),
      |mau AS (SELECT days.d, CAST(COUNT(DISTINCT ud.user_id) AS BIGINT) AS mau
      |        FROM days JOIN ud ON ud.d BETWEEN days.d - 27 AND days.d GROUP BY 1)
      |SELECT dau.d AS day_idx, dau.dau, wau.wau, mau.mau,
      |  CAST(dau.dau AS DOUBLE) / CAST(wau.wau AS DOUBLE) AS stickiness
      |FROM dau JOIN wau ON wau.d = dau.d JOIN mau ON mau.d = dau.d
      |ORDER BY day_idx""".stripMargin) { (s, dir) =>
    val ud = Tables.events(s, dir)
      .select(col("user_id"),
        expr("unix_micros(date_trunc('day', ts)) div 86400000000L").as("d"))
      .distinct()
      .stageBoundary // (user, day)-sized; four consumers below
    val days = ud.select(col("d")).distinct()
    val dau = ud.groupBy(col("d")).agg(count(lit(1)).as("dau"))
    def trailing(win: Int, name: String): DataFrame =
      days.select(col("d").as("dd"))
        .join(ud, col("d").between(col("dd") - (win - 1), col("dd")))
        .groupBy(col("dd").as("d")).agg(countDistinct(col("user_id")).as(name))
    dau.join(trailing(7, "wau"), Seq("d")).join(trailing(28, "mau"), Seq("d"))
      .select(col("d").as("day_idx"), col("dau"), col("wau"), col("mau"),
        (col("dau").cast("double") / col("wau").cast("double")).as("stickiness"))
      .orderBy(col("day_idx"))
  }

  /** One unrolled stationary-power-iteration round r over CTEs p/v{r-1}:
    * v_j ← Σ_i floor(v_i · p_ij / 10⁶), exact integers. */
  private def statRoundSql(r: Int): String = {
    val prev = s"v${r - 1}"
    s"""v$r AS (SELECT p.nxt AS event_type,
       |    CAST(SUM((v.m * p.p_micro) // 1000000) AS BIGINT) AS m
       |  FROM $prev v JOIN p ON p.cur = v.event_type GROUP BY 1)""".stripMargin
  }

  /** Stationary distribution of the q109 event-transition chain: 4 exact
    * fixed-point power-iteration rounds over the per-type transition
    * probabilities (micro-units, row-normalized by integer division) from
    * the uniform start — "where does a user's session settle" (q109 gives
    * the one-step kernel, q251 removal effects; this is the long-run
    * occupancy that prices each state). The whole trajectory is exact
    * integers (the q143 device on a 5×5 matrix), so one transition count
    * diverging anywhere reshuffles the vector. Matrix and vector are
    * alphabet-sized; the single corpus pass is the LEAD that counts
    * transitions. Flooring leaks ≤ |alphabet| micro per round by design
    * (mass conservation is the spec's bound, not renormalized away). */
  lazy val q284MarkovStationary: QueryDef = sql(
    "q284_markov_stationary",
    s"""WITH tr AS (
       |  SELECT event_type AS cur,
       |    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
       |  FROM events),
       |cnt AS (SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS n FROM tr
       |        WHERE nxt IS NOT NULL GROUP BY 1, 2),
       |tot AS (SELECT cur, CAST(SUM(n) AS BIGINT) AS t FROM cnt GROUP BY 1),
       |p AS (SELECT cnt.cur, cnt.nxt, (cnt.n * 1000000) // tot.t AS p_micro
       |      FROM cnt JOIN tot ON tot.cur = cnt.cur),
       |v0 AS (SELECT cur AS event_type, CAST(200000 AS BIGINT) AS m FROM tot),
       |${statRoundSql(1)},
       |${statRoundSql(2)},
       |${statRoundSql(3)},
       |${statRoundSql(4)}
       |SELECT event_type, m AS stationary_micro FROM v4
       |ORDER BY event_type""".stripMargin) { (s, dir) =>
    val byTs = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val tr = Tables.events(s, dir)
      .select(col("event_type").as("cur"),
        lead(col("event_type"), 1).over(byTs).as("nxt"))
      .filter(col("nxt").isNotNull)
    val cnt = tr.groupBy(col("cur"), col("nxt")).agg(count(lit(1)).as("n"))
    val tot = cnt.groupBy(col("cur")).agg(sum(col("n")).as("t"))
    val p = cnt.join(tot, Seq("cur"))
      .select(col("cur"), col("nxt"), expr("(n * 1000000L) DIV t").as("p_micro"))
      .stageBoundary // alphabet-squared-sized; read every round
    var v = tot.select(col("cur").as("event_type"), lit(200000L).as("m"))
    for (_ <- 1 to 4) {
      v = p.join(broadcast(v), p("cur") === v("event_type"))
        .groupBy(col("nxt").as("event_type"))
        .agg(sum(expr("(m * p_micro) DIV 1000000L")).as("m"))
    }
    v.select(col("event_type"), col("m").as("stationary_micro"))
      .orderBy(col("event_type"))
  }

  /** Entropy rate of the event-transition chain (Shannon 1948 §7 /
    * Cover & Thomas ch. 4): H = Σ_i π_i · H_i with
    * H_i = −Σ_j p_ij ln p_ij — how PREDICTABLE a user's next action is
    * from the current one, the single number that says whether the q109
    * kernel is worth exploiting (H near ln(alphabet) = navigation is
    * noise; near 0 = deterministic funnels). Composes two proven
    * relations: the q109/q284 transition counts (exact integer rationals
    * n/t) and q284's exact-integer stationary vector — per state it
    * emits π (micro), the out-alphabet size, H_i, and the π-weighted
    * contribution; the q298 composition discipline, so a drift anywhere
    * upstream reshuffles this hash too.
    *
    * Float discipline: each H_i is a ≤ alphabet-sized sum of identical
    * IEEE terms from exact integers, ROUND 6 (q136's device). Scale:
    * the one corpus pass is the transition LEAD; everything after is
    * alphabet-sized. */
  lazy val q346EntropyRate: QueryDef = sql(
    "q346_entropy_rate",
    s"""WITH tr AS (
       |  SELECT event_type AS cur,
       |    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
       |  FROM events),
       |cnt AS (SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS n FROM tr
       |        WHERE nxt IS NOT NULL GROUP BY 1, 2),
       |tot AS (SELECT cur, CAST(SUM(n) AS BIGINT) AS t FROM cnt GROUP BY 1),
       |p AS (SELECT cnt.cur, cnt.nxt, (cnt.n * 1000000) // tot.t AS p_micro
       |      FROM cnt JOIN tot ON tot.cur = cnt.cur),
       |v0 AS (SELECT cur AS event_type, CAST(200000 AS BIGINT) AS m FROM tot),
       |${statRoundSql(1)},
       |${statRoundSql(2)},
       |${statRoundSql(3)},
       |${statRoundSql(4)},
       |h AS (SELECT cnt.cur AS event_type,
       |        CAST(COUNT(*) AS BIGINT) AS out_degree,
       |        -SUM((CAST(cnt.n AS DOUBLE) / tot.t) * LN(CAST(cnt.n AS DOUBLE) / tot.t)) AS hi
       |      FROM cnt JOIN tot ON tot.cur = cnt.cur
       |      GROUP BY 1)
       |SELECT h.event_type, v4.m AS pi_micro, h.out_degree,
       |  ROUND(h.hi, 6) AS h_state,
       |  ROUND((CAST(v4.m AS DOUBLE) / 1000000.0) * h.hi, 6) AS contrib
       |FROM h JOIN v4 ON v4.event_type = h.event_type
       |ORDER BY h.event_type""".stripMargin) { (s, dir) =>
    val byTs = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val tr = Tables.events(s, dir)
      .select(col("event_type").as("cur"),
        lead(col("event_type"), 1).over(byTs).as("nxt"))
      .filter(col("nxt").isNotNull)
    val cnt = tr.groupBy(col("cur"), col("nxt")).agg(count(lit(1)).as("n"))
      .stageBoundary // alphabet-squared; feeds p, rounds, and h
    val tot = cnt.groupBy(col("cur")).agg(sum(col("n")).as("t"))
    val p = cnt.join(tot, Seq("cur"))
      .select(col("cur"), col("nxt"), expr("(n * 1000000L) DIV t").as("p_micro"))
      .stageBoundary
    var v = tot.select(col("cur").as("event_type"), lit(200000L).as("m"))
    for (_ <- 1 to 4) {
      v = p.join(broadcast(v), p("cur") === v("event_type"))
        .groupBy(col("nxt").as("event_type"))
        .agg(sum(expr("(m * p_micro) DIV 1000000L")).as("m"))
    }
    val h = cnt.join(tot, Seq("cur"))
      .groupBy(col("cur").as("event_type"))
      .agg(count(lit(1)).as("out_degree"),
        (-sum((col("n").cast("double") / col("t")) *
          log(col("n").cast("double") / col("t")))).as("hi"))
    h.join(v, "event_type")
      .select(col("event_type"), col("m").as("pi_micro"), col("out_degree"),
        round(col("hi"), 6).as("h_state"),
        round((col("m").cast("double") / lit(1000000.0)) * col("hi"), 6).as("contrib"))
      .orderBy(col("event_type"))
  }
}
