package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.sources.{StateStore, Tables}

/** Declarative data-contract checking — the Deequ / Great-Expectations
  * shape (Schelter et al. VLDB'18 "Automating large-scale data quality
  * verification"): a table ships with a suite of EXPECTATIONS (not-null,
  * unique key, accepted values, numeric range, regex shape) and the engine
  * evaluates the whole suite as a scan-bounded report of
  * (constraint, violations, n_rows, passed) rows — the admission gate a
  * 100 TB ingest runs BEFORE data reaches the curation pipeline (q227
  * audits referential integrity BETWEEN tables; this audits each table
  * against its own declared contract).
  *
  * Evaluation cost is the scale contract: every row-wise expectation
  * compiles to one conditional-sum aggregate and the whole row-wise suite
  * runs in ONE map-side-combined pass over the table regardless of suite
  * size; each `Unique` key adds one exact group-count pass (Σ(cnt−1) over
  * its key — the same answer as count(*) minus distinct-count, including
  * NULL keys, without countDistinct's null-dropping surprise). Nothing
  * collects; the report relation is suite-sized.
  */
object Contracts {
  import QueryDef.sql

  /** One declared expectation over a table's column(s). */
  sealed trait Expectation

  /** `col` must never be NULL. */
  final case class NotNull(col: String) extends Expectation

  /** `col` must be one of `values` (NULL violates). */
  final case class AcceptedValues(col: String, values: Seq[String]) extends Expectation

  /** `col` must lie in the closed range [lo, hi] (NULL violates). */
  final case class InRange(col: String, lo: Double, hi: Double) extends Expectation

  /** `col` must FULLY match `regex` (NULL violates) — the pattern is
    * implicitly anchored, Spark's partial-match `rlike` notwithstanding. */
  final case class MatchesRegex(col: String, regex: String) extends Expectation

  /** The column tuple must be a unique key: violations = surplus rows
    * beyond one per distinct tuple. */
  final case class Unique(cols: Seq[String]) extends Expectation

  private def label(table: String, e: Expectation): String = e match {
    case NotNull(c)           => s"$table.$c.not_null"
    case AcceptedValues(c, v) => s"$table.$c.accepted_values{${v.mkString(",")}}"
    case InRange(c, lo, hi)   => s"$table.$c.range[$lo,$hi]"
    case MatchesRegex(c, _)   => s"$table.$c.regex"
    case Unique(cs)           => s"$table.(${cs.mkString(",")}).unique"
  }

  private def violation(e: Expectation): Column = e match {
    case NotNull(c)           => col(c).isNull
    case AcceptedValues(c, v) => col(c).isNull || !col(c).isin(v: _*)
    case InRange(c, lo, hi)   => col(c).isNull || col(c) < lo || col(c) > hi
    case MatchesRegex(c, re)  => col(c).isNull || !col(c).rlike(s"^(?:$re)$$")
    case Unique(_)            => lit(false) // handled by its own pass
  }

  /** Evaluate `suite` against `df`; returns one
    * (expectation, violations, n_rows, passed) row per expectation. */
  def check(df: DataFrame, table: String, suite: Seq[Expectation]): DataFrame = {
    val rowWise = suite.filter(!_.isInstanceOf[Unique])
    val uniques = suite.collect { case u: Unique => u }
    // one pass: every row-wise expectation as a conditional sum, aliased
    // positionally (labels carry dots/brackets; they travel as literals)
    val aggs = rowWise.zipWithIndex.map { case (e, i) =>
      sum(when(violation(e), 1L).otherwise(0L)).as(s"v$i")
    } :+ count(lit(1)).as("nr")
    val one = df.agg(aggs.head, aggs.tail: _*)
    val kvs = rowWise.zipWithIndex.map { case (e, i) =>
      struct(lit(label(table, e)).as("expectation"), col(s"v$i").as("violations"))
    }
    val rowReport = one
      .select(explode(array(kvs: _*)).as("kv"), col("nr"))
      .select(col("kv.expectation").as("expectation"),
        col("kv.violations").as("violations"), col("nr").as("n_rows"))
    val uniqueReports = uniques.map { u =>
      df.groupBy(u.cols.map(col): _*).agg(count(lit(1)).as("cnt"))
        .agg(coalesce(sum(col("cnt") - 1L), lit(0L)).as("violations"),
          coalesce(sum(col("cnt")), lit(0L)).as("n_rows"))
        .select(lit(label(table, u)).as("expectation"), col("violations"),
          col("n_rows"))
    }
    uniqueReports.foldLeft(rowReport)(_ unionAll _)
      .withColumn("passed", col("violations") === 0L)
  }

  /** Contract face: the orders and lineitem tables against their declared
    * contracts — 9 expectations in 2 row-wise passes + 2 key passes. The
    * lineitem (l_orderkey, l_linenumber) key is DECLARED unique and the
    * fixture genuinely violates it (q227's finding re-expressed as a
    * contract): the suite must report that failure, proving the gate
    * actually gates. */
  val q272DataContracts: QueryDef = sql(
    "q272_data_contracts",
    """WITH r AS (
      |  SELECT 'orders.o_orderkey.not_null' AS expectation,
      |    CAST(COALESCE(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS violations,
      |    CAST(COUNT(*) AS BIGINT) AS n_rows FROM orders
      |  UNION ALL
      |  SELECT 'orders.o_orderstatus.accepted_values{O,F,P}',
      |    CAST(COALESCE(SUM(CASE WHEN o_orderstatus IS NULL
      |      OR o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END), 0) AS BIGINT),
      |    CAST(COUNT(*) AS BIGINT) FROM orders
      |  UNION ALL
      |  SELECT 'orders.o_totalprice.range[0.01,1.0E9]',
      |    CAST(COALESCE(SUM(CASE WHEN o_totalprice IS NULL
      |      OR o_totalprice < 0.01 OR o_totalprice > 1000000000.0 THEN 1 ELSE 0 END), 0) AS BIGINT),
      |    CAST(COUNT(*) AS BIGINT) FROM orders
      |  UNION ALL
      |  SELECT 'orders.o_orderpriority.regex',
      |    CAST(COALESCE(SUM(CASE WHEN o_orderpriority IS NULL
      |      OR NOT regexp_full_match(o_orderpriority, '[1-5]-[A-Z ]+') THEN 1 ELSE 0 END), 0) AS BIGINT),
      |    CAST(COUNT(*) AS BIGINT) FROM orders
      |  UNION ALL
      |  SELECT 'orders.(o_orderkey).unique',
      |    CAST(COALESCE((SELECT SUM(cnt - 1) FROM
      |      (SELECT COUNT(*) AS cnt FROM orders GROUP BY o_orderkey)), 0) AS BIGINT),
      |    CAST(COUNT(*) AS BIGINT) FROM orders
      |  UNION ALL
      |  SELECT 'lineitem.l_quantity.range[1.0,50.0]',
      |    CAST(COALESCE(SUM(CASE WHEN l_quantity IS NULL
      |      OR l_quantity < 1.0 OR l_quantity > 50.0 THEN 1 ELSE 0 END), 0) AS BIGINT),
      |    CAST(COUNT(*) AS BIGINT) FROM lineitem
      |  UNION ALL
      |  SELECT 'lineitem.l_returnflag.accepted_values{A,N,R}',
      |    CAST(COALESCE(SUM(CASE WHEN l_returnflag IS NULL
      |      OR l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END), 0) AS BIGINT),
      |    CAST(COUNT(*) AS BIGINT) FROM lineitem
      |  UNION ALL
      |  SELECT 'lineitem.l_shipdate.not_null',
      |    CAST(COALESCE(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT),
      |    CAST(COUNT(*) AS BIGINT) FROM lineitem
      |  UNION ALL
      |  SELECT 'lineitem.(l_orderkey,l_linenumber).unique',
      |    CAST(COALESCE((SELECT SUM(cnt - 1) FROM
      |      (SELECT COUNT(*) AS cnt FROM lineitem GROUP BY l_orderkey, l_linenumber)), 0) AS BIGINT),
      |    CAST(COUNT(*) AS BIGINT) FROM lineitem)
      |SELECT expectation, violations, n_rows, violations = 0 AS passed
      |FROM r
      |ORDER BY expectation""".stripMargin) { (s, dir) =>
    val orders = check(Tables.orders(s, dir), "orders", Seq(
      NotNull("o_orderkey"),
      AcceptedValues("o_orderstatus", Seq("O", "F", "P")),
      InRange("o_totalprice", 0.01, 1.0e9),
      MatchesRegex("o_orderpriority", "[1-5]-[A-Z ]+"),
      Unique(Seq("o_orderkey"))))
    val li = check(Tables.lineitem(s, dir), "lineitem", Seq(
      InRange("l_quantity", 1.0, 50.0),
      AcceptedValues("l_returnflag", Seq("A", "N", "R")),
      NotNull("l_shipdate"),
      Unique(Seq("l_orderkey", "l_linenumber"))))
    orders.unionAll(li).orderBy(col("expectation"))
  }

  /** The data-ops scorecard capstone: five audit families — declared
    * contracts (q272), Benford anomaly mass (q266), revenue concentration
    * (q268), Markov flooring leak (q284), KMV estimator error (q278) —
    * reduced to one (audit, value) row each and ONE hash, the morning
    * dashboard a data-platform team actually pages on (the q200/q123
    * capstone device applied to the observability suite: composition is
    * proven by the gate, not claimed). Every value is an exact BIGINT
    * (doubles floor through identical expressions), and the ORACLE is
    * assembled from the member queries' own oracle SQL as subqueries —
    * the scorecard can only pass if every member face still matches its
    * member oracle INSIDE a composition. */
  val q298OpsScorecard: QueryDef = {
    def sub(q: QueryDef): String = q.oracle.get
    sql(
      "q298_ops_scorecard",
      s"""SELECT 'benford_max_chi2_micro' AS audit,
         |  (SELECT CAST(FLOOR(MAX(chi2_term) * 1000000.0) AS BIGINT)
         |   FROM (${sub(Analytics.q266BenfordAudit)})) AS value
         |UNION ALL
         |SELECT 'contracts_failed',
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM (${sub(q272DataContracts)}) WHERE NOT passed)
         |UNION ALL
         |SELECT 'gini_micro',
         |  (SELECT CAST(FLOOR(MAX(gini) * 1000000.0) AS BIGINT)
         |   FROM (${sub(Analytics.q268GiniLorenz)}))
         |UNION ALL
         |SELECT 'kmv_err_micro',
         |  (SELECT CAST(FLOOR(ABS(kmv_estimate - CAST(exact_n AS DOUBLE)) * 1000000.0
         |       / CAST(exact_n AS DOUBLE)) AS BIGINT)
         |   FROM (${sub(Layout.q278KmvSketch)}) WHERE key_space = 'lineitem_parts')
         |UNION ALL
         |SELECT 'stationary_leak_micro',
         |  (SELECT 1000000 - CAST(SUM(stationary_micro) AS BIGINT)
         |   FROM (${sub(Temporal.q284MarkovStationary)}))
         |ORDER BY audit""".stripMargin) { (s, dir) =>
      def row(name: String, v: DataFrame): DataFrame =
        v.select(lit(name).as("audit"), col("v").as("value"))
      val contracts = row("contracts_failed",
        q272DataContracts.run(s, dir).filter(!col("passed"))
          .agg(count(lit(1)).as("v")))
      val benford = row("benford_max_chi2_micro",
        Analytics.q266BenfordAudit.run(s, dir)
          .agg(max(expr("CAST(FLOOR(chi2_term * 1000000.0D) AS BIGINT)")).as("v")))
      val gini = row("gini_micro",
        Analytics.q268GiniLorenz.run(s, dir)
          .agg(max(expr("CAST(FLOOR(gini * 1000000.0D) AS BIGINT)")).as("v")))
      val kmv = row("kmv_err_micro",
        Layout.q278KmvSketch.run(s, dir)
          .filter(col("key_space") === "lineitem_parts")
          .select(expr("""CAST(FLOOR(ABS(kmv_estimate - CAST(exact_n AS DOUBLE)) * 1000000.0D
                         |  / CAST(exact_n AS DOUBLE)) AS BIGINT)""".stripMargin).as("v")))
      val leak = row("stationary_leak_micro",
        Temporal.q284MarkovStationary.run(s, dir)
          .agg((lit(1000000L) - sum(col("stationary_micro"))).as("v")))
      benford.unionAll(contracts).unionAll(gini).unionAll(kmv).unionAll(leak)
        .orderBy(col("audit"))
    }
  }

  /** Luhn checksum audit (Luhn, US patent 2,950,048 — the mod-10 check
    * behind every card PAN and many account-number schemes): synthesize
    * 16-digit account numbers with a computed check digit from customer
    * keys (deterministic — the q286 generator device), then verify the
    * full Luhn invariant over (a) the minted numbers and (b) a copy with
    * one digit bumped. Valid mints must pass at exactly 10⁶ micro and
    * the corrupted copy at exactly 0 — Luhn detects EVERY single-digit
    * substitution by construction, and the audit proves the checker
    * would catch the classic fat-finger in a PII/redaction pipeline
    * (q72's account-number patterns get their validity check here).
    * Pure scan-level digit folds; exact integers end to end. */
  // Luhn digit folds, shared by q313 (validity audit) and q335 (PII
  // scan): digit i (1-based, left to right) of a 16-char PAN is doubled
  // when i is odd (positions 16,14,… from the right)
  private def luhnSumSql(s: String): String =
      s"""list_reduce(list_transform(range(1, 17), i ->
         |  CASE WHEN i % 2 = 1
         |    THEN CASE WHEN 2 * CAST(substr($s, i, 1) AS BIGINT) > 9
         |      THEN 2 * CAST(substr($s, i, 1) AS BIGINT) - 9
         |      ELSE 2 * CAST(substr($s, i, 1) AS BIGINT) END
         |    ELSE CAST(substr($s, i, 1) AS BIGINT) END), (x, y) -> x + y)""".stripMargin
  private def luhnSumSpark(s: String): String =
      s"""aggregate(transform(sequence(1, 16), i ->
         |  CASE WHEN i % 2 = 1
         |    THEN CASE WHEN 2L * CAST(substring($s, i, 1) AS BIGINT) > 9L
         |      THEN 2L * CAST(substring($s, i, 1) AS BIGINT) - 9L
         |      ELSE 2L * CAST(substring($s, i, 1) AS BIGINT) END
         |    ELSE CAST(substring($s, i, 1) AS BIGINT) END), 0L, (x, y) -> x + y)""".stripMargin
  // payload digit i of the 15-char body sits at PAN position i, so the
  // same parity rule applies; the check digit (position 16) is even —
  // never doubled — hence check = (10 - sum mod 10) mod 10
  private def paySumSql(s: String): String =
      s"""list_reduce(list_transform(range(1, 16), i ->
         |  CASE WHEN i % 2 = 1
         |    THEN CASE WHEN 2 * CAST(substr($s, i, 1) AS BIGINT) > 9
         |      THEN 2 * CAST(substr($s, i, 1) AS BIGINT) - 9
         |      ELSE 2 * CAST(substr($s, i, 1) AS BIGINT) END
         |    ELSE CAST(substr($s, i, 1) AS BIGINT) END), (x, y) -> x + y)""".stripMargin
  private def paySumSpark(s: String): String =
      s"""aggregate(transform(sequence(1, 15), i ->
         |  CASE WHEN i % 2 = 1
         |    THEN CASE WHEN 2L * CAST(substring($s, i, 1) AS BIGINT) > 9L
         |      THEN 2L * CAST(substring($s, i, 1) AS BIGINT) - 9L
         |      ELSE 2L * CAST(substring($s, i, 1) AS BIGINT) END
         |    ELSE CAST(substring($s, i, 1) AS BIGINT) END), 0L, (x, y) -> x + y)""".stripMargin

  val q313LuhnAudit: QueryDef = {
    sql(
      "q313_luhn_audit",
      s"""WITH body AS (
         |  SELECT lpad(CAST((c_custkey * 7919 + 12345) % 1000000000000000 AS VARCHAR), 15, '0') AS b
         |  FROM customer),
         |pan AS (
         |  SELECT b || CAST((10 - (${paySumSql("b")}) % 10) % 10 AS VARCHAR) AS p
         |  FROM body),
         |variants AS (
         |  SELECT 'minted' AS variant, p FROM pan
         |  UNION ALL
         |  SELECT 'corrupted',
         |    substr(p, 1, 2) || CAST((CAST(substr(p, 3, 1) AS BIGINT) + 1) % 10 AS VARCHAR)
         |      || substr(p, 4) AS p
         |  FROM pan)
         |SELECT variant, CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(COALESCE(SUM(CASE WHEN (${luhnSumSql("p")}) % 10 = 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_valid,
         |  CAST(COALESCE(SUM(CASE WHEN (${luhnSumSql("p")}) % 10 = 0 THEN 1 ELSE 0 END), 0) AS BIGINT)
         |    * 1000000 // COUNT(*) AS valid_micro
         |FROM variants
         |GROUP BY 1
         |ORDER BY variant""".stripMargin) { (s, dir) =>
      val body = Tables.customer(s, dir).select(expr(
        "lpad(CAST((c_custkey * 7919L + 12345L) % 1000000000000000L AS STRING), 15, '0')").as("b"))
      val pan = body.select(expr(
        s"concat(b, CAST((10L - (${paySumSpark("b")}) % 10L) % 10L AS STRING))").as("p"))
        .stageBoundary // customer-sized; both variants read it
      val both = pan.select(lit("minted").as("variant"), col("p"))
        .unionAll(pan.select(lit("corrupted").as("variant"), expr(
          "concat(substring(p, 1, 2), CAST((CAST(substring(p, 3, 1) AS BIGINT) + 1L) % 10L AS STRING), substring(p, 4))")
          .as("p")))
      both.groupBy(col("variant"))
        .agg(count(lit(1)).as("n"),
          coalesce(sum(when(expr(s"(${luhnSumSpark("p")}) % 10L") === 0L, 1L)
            .otherwise(0L)), lit(0L)).as("n_valid"))
        .select(col("variant"), col("n"), col("n_valid"),
          expr("n_valid * 1000000L DIV n").as("valid_micro"))
        .orderBy(col("variant"))
    }
  }

  /** PII exposure scan — the compliance sweep a corpus release runs
    * BEFORE q72's redaction rewrites anything: per source, how many
    * documents expose an email, a phone number, or a 16-digit account
    * number, and — the detector-quality split — how many of those
    * number runs actually Luhn-verify (a random 16-digit run is a
    * phone-book artifact 90% of the time; a VALID one is a card). Four
    * defect classes are planted deterministically (the q327 device):
    * emails on %11, phones on %29, Luhn-VALID PANs on %37 (minted with
    * the q313 check digit), and Luhn-INVALID 16-digit runs on %41 (the
    * minted PAN with one digit bumped — q313's corruption), so the scan
    * must separate digit-shaped noise from verifying card numbers, not
    * just regex-match.
    *
    * Scale posture: one scan — regex flags and the Luhn fold are all
    * scan-level projections — and one source-sized aggregate. */
  val q335PiiScan: QueryDef = sql(
    "q335_pii_scan",
    s"""WITH pan AS (
       |  SELECT doc_id,
       |    lpad(CAST((doc_id * 7919 + 12345) % 1000000000000000 AS VARCHAR), 15, '0') AS b
       |  FROM documents),
       |panx AS (SELECT doc_id,
       |    b || CAST((10 - (${paySumSql("b")}) % 10) % 10 AS VARCHAR) AS p
       |  FROM pan),
       |aug AS (
       |  SELECT d.doc_id, d.source, d.text
       |    || CASE WHEN d.doc_id % 11 = 0
       |         THEN ' mail user' || CAST(d.doc_id AS VARCHAR) || '@corp.example now' ELSE '' END
       |    || CASE WHEN d.doc_id % 29 = 0
       |         THEN ' call +1-555-' || lpad(CAST(d.doc_id % 10000 AS VARCHAR), 4, '0') || ' now' ELSE '' END
       |    || CASE WHEN d.doc_id % 37 = 0 THEN ' pan ' || px.p || ' end' ELSE '' END
       |    || CASE WHEN d.doc_id % 41 = 0
       |         THEN ' ref ' || substr(px.p, 1, 2)
       |           || CAST((CAST(substr(px.p, 3, 1) AS BIGINT) + 1) % 10 AS VARCHAR)
       |           || substr(px.p, 4) || ' end' ELSE '' END AS text
       |  FROM documents d JOIN panx px USING (doc_id)),
       |flags AS (
       |  SELECT source,
       |    CASE WHEN regexp_matches(text, '[a-z0-9._]+@[a-z.]+[a-z]') THEN 1 ELSE 0 END AS f_email,
       |    CASE WHEN regexp_matches(text, '\\+1-[0-9]{3}-[0-9]{4}') THEN 1 ELSE 0 END AS f_phone,
       |    CASE WHEN len(cands) > 0 THEN 1 ELSE 0 END AS f_pan,
       |    COALESCE(list_max(list_transform(cands, c ->
       |      CASE WHEN (${luhnSumSql("c")}) % 10 = 0 THEN 1 ELSE 0 END)), 0) AS f_valid
       |  FROM (SELECT source, text, regexp_extract_all(text, '[0-9]{16}') AS cands FROM aug))
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(f_email) AS BIGINT) AS n_email,
       |  CAST(SUM(f_phone) AS BIGINT) AS n_phone,
       |  CAST(SUM(f_pan) AS BIGINT) AS n_pan_shaped,
       |  CAST(SUM(f_valid) AS BIGINT) AS n_pan_valid,
       |  CAST(SUM(CASE WHEN f_email + f_phone + f_pan > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_exposed,
       |  CAST(SUM(CASE WHEN f_email + f_phone + f_pan > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    * 1000000 // COUNT(*) AS exposed_micro
       |FROM flags GROUP BY source
       |ORDER BY source""".stripMargin) { (s, dir) =>
    val panx = Tables.documents(s, dir).select(col("doc_id"), expr(
        "lpad(CAST((doc_id * 7919L + 12345L) % 1000000000000000L AS STRING), 15, '0')").as("b"))
      .select(col("doc_id"),
        expr(s"concat(b, CAST((10L - (${paySumSpark("b")}) % 10L) % 10L AS STRING))").as("p"))
    val aug = Tables.fanOut(Tables.documents(s, dir)).join(panx, "doc_id")
      .select(col("source"), concat(col("text"),
        when(col("doc_id") % 11 === 0,
          concat(lit(" mail user"), col("doc_id").cast("string"), lit("@corp.example now")))
          .otherwise(""),
        when(col("doc_id") % 29 === 0,
          concat(lit(" call +1-555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
            lit(" now"))).otherwise(""),
        when(col("doc_id") % 37 === 0, concat(lit(" pan "), col("p"), lit(" end")))
          .otherwise(""),
        when(col("doc_id") % 41 === 0, concat(lit(" ref "),
          expr("concat(substring(p, 1, 2), CAST((CAST(substring(p, 3, 1) AS BIGINT) + 1L) % 10L AS STRING), substring(p, 4))"),
          lit(" end"))).otherwise("")).as("text"))
    // per-candidate classification (not first-match-only): EVERY 16-digit
    // run is extracted and a doc is valid-flagged if ANY of them Luhn-
    // verifies — a doc in both planted classes, or organic digit runs in
    // a grown fixture, can no longer shadow a real card number
    val flags = aug
      .withColumn("cands", expr("regexp_extract_all(text, '[0-9]{16}', 0)"))
      .select(col("source"),
        when(col("text").rlike("[a-z0-9._]+@[a-z.]+[a-z]"), 1).otherwise(0).as("f_email"),
        when(col("text").rlike("\\+1-[0-9]{3}-[0-9]{4}"), 1).otherwise(0).as("f_phone"),
        when(size(col("cands")) > 0, 1).otherwise(0).as("f_pan"),
        expr(s"CASE WHEN exists(cands, c -> (${luhnSumSpark("c")}) % 10L = 0L) " +
          "THEN 1 ELSE 0 END").as("f_valid"))
    flags.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("f_email")).as("n_email"),
        sum(col("f_phone")).as("n_phone"),
        sum(col("f_pan")).as("n_pan_shaped"),
        sum(col("f_valid")).as("n_pan_valid"),
        sum(when(col("f_email") + col("f_phone") + col("f_pan") > 0, 1).otherwise(0))
          .as("n_exposed"))
      .select(col("source"), col("n_docs"), col("n_email"), col("n_phone"),
        col("n_pan_shaped"), col("n_pan_valid"), col("n_exposed"),
        expr("n_exposed * 1000000L DIV n_docs").as("exposed_micro"))
      .orderBy(col("source"))
  }

  /** The STORAGE-PLAN scorecard capstone — the q298 device applied to
    * round 6's physical-design audit suite: postings compressibility
    * (q328), shuffle-slot skew (q329), the value of join statistics
    * (q336, naive vs histogram error), Bloom FPR (q337), the
    * correlated-zone-map clustering gap at the median cutoff (q343),
    * and how many columns escape plain encoding (q345) — one BIGINT
    * per audit, ONE hash, and the oracle assembled from the member
    * queries' own oracle SQL as subqueries, so the scorecard passes
    * only if every member still matches its oracle INSIDE the
    * composition. This is the sheet a storage-engineering review
    * actually opens with.
    *
    * Serve-many: the composed 6-row sheet persists via
    * [[graft.sources.StateStore]] keyed by the content of the four
    * input tables (one fingerprint scan per table per session), so only the FIRST
    * run per corpus version pays the six member audits; every later run
    * reads six rows. A changed corpus changes the fingerprint and the
    * stale sheet is simply never looked up (the q127/q132 train-once
    * discipline applied to an audit artifact). */
  val q352StorageScorecard: QueryDef = {
    def sub(q: QueryDef): String = q.oracle.get
    sql(
      "q352_storage_scorecard",
      s"""SELECT 'bloom_fpr_micro' AS audit,
         |  (SELECT fpr_micro FROM (${sub(Layout.q337BloomFpr)})) AS value
         |UNION ALL
         |SELECT 'encoded_columns',
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM (${sub(Layout.q345EncodingAdvisor)})
         |   WHERE encoding <> 'plain')
         |UNION ALL
         |SELECT 'join_stats_value_micro',
         |  (SELECT MAX(CASE WHEN estimator = 'naive_uniform' THEN err_micro ELSE 0 END)
         |        - MAX(CASE WHEN estimator = 'hash_histogram_32' THEN err_micro ELSE 0 END)
         |   FROM (${sub(Layout.q336JoinEstimate)}))
         |UNION ALL
         |SELECT 'postings_compressed_micro',
         |  (SELECT CAST(SUM(varint_bytes) * 1000000 // SUM(raw_bytes) AS BIGINT)
         |   FROM (${sub(Layout.q328PostingsVarint)}))
         |UNION ALL
         |SELECT 'skew_max_over_avg_micro',
         |  (SELECT CAST(MAX(n_rows) * 1000000 // (SUM(n_rows) // 32) AS BIGINT)
         |   FROM (${sub(Layout.q329PartitionSkew)}))
         |UNION ALL
         |SELECT 'zonemap_clustering_gap_micro',
         |  (SELECT CAST(SUM(CASE WHEN layout = 'shipdate_clustered' THEN skip_micro ELSE 0 END)
         |        - SUM(CASE WHEN layout = 'hash_scattered' THEN skip_micro ELSE 0 END) AS BIGINT)
         |   FROM (${sub(Layout.q343CorrelatedZonemap)}) WHERE cut_k = 3)
         |ORDER BY audit""".stripMargin) { (s, dir) =>
      def row(name: String, v: DataFrame): DataFrame =
        v.select(lit(name).as("audit"), col("v").as("value"))
      val bloom = row("bloom_fpr_micro",
        Layout.q337BloomFpr.run(s, dir).agg(max(col("fpr_micro")).as("v")))
      val enc = row("encoded_columns",
        Layout.q345EncodingAdvisor.run(s, dir).filter(col("encoding") =!= "plain")
          .agg(count(lit(1)).as("v")))
      val joinv = row("join_stats_value_micro",
        Layout.q336JoinEstimate.run(s, dir)
          .agg((max(when(col("estimator") === "naive_uniform", col("err_micro")).otherwise(0L))
            - max(when(col("estimator") === "hash_histogram_32", col("err_micro")).otherwise(0L)))
            .as("v")))
      val post = row("postings_compressed_micro",
        Layout.q328PostingsVarint.run(s, dir)
          .agg(expr("CAST(SUM(varint_bytes) * 1000000L DIV SUM(raw_bytes) AS BIGINT)").as("v")))
      val skew = row("skew_max_over_avg_micro",
        Layout.q329PartitionSkew.run(s, dir)
          .agg(expr("CAST(MAX(n_rows) * 1000000L DIV (SUM(n_rows) DIV 32) AS BIGINT)").as("v")))
      val zone = row("zonemap_clustering_gap_micro",
        Layout.q343CorrelatedZonemap.run(s, dir).filter(col("cut_k") === 3)
          .agg((sum(when(col("layout") === "shipdate_clustered", col("skip_micro")).otherwise(0L))
            - sum(when(col("layout") === "hash_scattered", col("skip_micro")).otherwise(0L)))
            .as("v")))
      val key = StateStore.key("scorecard_v1", Tables.lineitem(s, dir), Tables.orders(s, dir),
        Tables.customer(s, dir), Tables.documents(s, dir))
      val Seq(sheet) = StateStore.parquet(s, key, "scorecard") {
        Seq(bloom.unionAll(enc).unionAll(joinv).unionAll(post).unionAll(skew).unionAll(zone))
      }
      sheet.orderBy(col("audit"))
    }
  }

  val all: Seq[QueryDef] = Seq(q272DataContracts, q298OpsScorecard, q313LuhnAudit,
    q335PiiScan, q352StorageScorecard)
}
