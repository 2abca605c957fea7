package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Decimals._
import graft.sources.{StateStore, Tables}

/** Physical-layout operators — the two storage-side levers a 100 TB
  * deployment lives on, each proved as a first-class contract entry:
  *
  *   - **Bucketing** (q112): both fact tables pre-hashed into the same
  *     bucket count on the join key, so the fact-fact join reads
  *     co-located buckets and plans with ZERO shuffle exchanges — the
  *     repeated-join shuffle amortized to one layout write (PlanSpec pins
  *     the exchange-free join subtree).
  *   - **Partition pruning** (q113): data laid out as `lang=<v>/`
  *     hive-style partitions; a predicate on the partition column prunes
  *     directories at PLANNING time — the scan never opens non-matching
  *     files (PlanSpec pins PartitionFilters + the pruned in-memory
  *     partition count).
  *
  * Both queries' RESULTS are layout-independent, so the DuckDB oracles
  * state the same relation over the original un-bucketed/un-partitioned
  * parquet — the hash match proves layout changes answers not at all
  * while the plan specs prove it changes the EXECUTION the way 100 TB
  * needs. Layout writes happen once per content version of their input
  * and are reused — exactly the production amortization story.
  */
object Layout {
  import QueryDef.sql

  /** Write lineitem+orders bucketed and sorted on the join key (once per
    * session × content of each projection: the table names carry its
    * [[graft.sources.StateStore]] key) and hand back readers over the
    * bucketed tables. The bucket count tracks the session's shuffle
    * parallelism (so on a 1000-executor cluster the layout write fans
    * out with the cluster instead of funnelling into a fixed-8
    * bottleneck); what the
    * exchange-free join needs is only that BOTH tables share whatever
    * count was written — PlanSpec pins the no-Exchange subtree without
    * assuming a number. */
  def bucketedPair(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val buckets = s.sessionState.conf.numShufflePartitions
    def write(family: String, df: DataFrame, key: String): String = {
      val name = StateStore.key(family, df).name
      if (!s.catalog.tableExists(name)) {
        // a previous JVM's in-memory catalog is gone but its warehouse
        // directory survives — clear the stale location or saveAsTable
        // refuses with LOCATION_ALREADY_EXISTS
        val loc = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir") + s"/$name")
        val fs = loc.getFileSystem(s.sessionState.newHadoopConf())
        if (fs.exists(loc)) fs.delete(loc, true)
        df.write.mode("overwrite").bucketBy(buckets, key).sortBy(key).saveAsTable(name)
      }
      name
    }
    val li = write("li_bucketed", Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")), "l_orderkey")
    val o = write("o_bucketed", Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderpriority")), "o_orderkey")
    (s.table(li), s.table(o))
  }

  /** The exchange-free join subtree over the bucketed pair — exposed so
    * PlanSpec can assert `Exchange` never appears in it. */
  def bucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val (li, o) = bucketedPair(s, dir)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
  }

  /** Fact-fact revenue rollup over the bucketed layout: the join itself
    * shuffles nothing (both sides arrive hash-distributed on the key);
    * the only exchange in the whole plan is the final tiny-cardinality
    * aggregation. */
  val q112BucketedJoin: QueryDef = sql(
    "q112_bucketed_join",
    """SELECT o.o_orderpriority,
      |  COUNT(*) AS n_lines,
      |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |GROUP BY 1
      |ORDER BY 1""".stripMargin) { (s, dir) =>
    bucketedJoin(s, dir)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"),
        dsum(money(col("l_extendedprice")) * (lit(1).cast("decimal(3,2)") - rate(col("l_discount"))))
          .as("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  /** Write documents hive-partitioned by `lang` (once per content
    * version, through the [[graft.sources.StateStore]]) and return the
    * directory. */
  def partitionedDocsDir(s: SparkSession, dir: String): String = {
    val docs = Tables.documents(s, dir)
    StateStore.dir(StateStore.key("docs_by_lang_v1", docs)) { tmp =>
      docs.write.partitionBy("lang").parquet(tmp.getPath)
    }.getPath
  }

  /** Per-source profile of one language, scanned off the lang-partitioned
    * layout: the `lang = 'en'` predicate is a PartitionFilter — pruning
    * happens against directory names during planning, and files of other
    * languages are never opened (at 100 TB: the difference between
    * scanning one partition and scanning the corpus). Oracle runs on the
    * original unpartitioned parquet — identical answers. */
  val q113PartitionPruning: QueryDef = sql(
    "q113_partition_pruning",
    """SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents
      |WHERE lang = 'en'
      |GROUP BY 1
      |ORDER BY 1""".stripMargin) { (s, dir) =>
    Tables.parquet(s, partitionedDocsDir(s, dir))
      .filter(col("lang") === "en")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("source"))
  }

  // Declared-hot keys memoized per lineitem content: production hot-key
  // lists are configuration refreshed out-of-band (a tenant registry, a
  // daily frequency sweep), not an exact corpus count re-run inside
  // every query — so the probe is paid once per content and reused, same
  // amortization contract as the layout writes above. The key is the
  // scan's `Tables.signature` (path, length and mtime of every file), so
  // a fixture rewritten in place is probed again, and no session is held.
  private val hotKeyCache = scala.collection.concurrent.TrieMap.empty[String, Seq[Any]]

  /** q114's declared-hot keys: the 5 orderkeys with the most lines in
    * `li`, memoized by its content signature; probed on every call when
    * `li` has no file listing to sign. */
  private[graft] def declaredHotKeys(li: DataFrame): Seq[Any] = {
    def probe = li.groupBy(col("l_orderkey")).count()
      .orderBy(col("count").desc, col("l_orderkey"))
      .limit(5).collect().map(_.get(0)).toSeq
    Tables.signature(li.sparkSession, li.queryExecution.analyzed)
      .fold(probe)(sig => hotKeyCache.getOrElseUpdate(sig, probe))
  }

  /** Salted skew-join in the contract: the fact join runs through
    * [[graft.functions.SkewJoin.saltedJoin]] with the top-5 orderkeys
    * DECLARED hot (an exact frequency probe — the production pattern for
    * known-hot tenant/default keys). Only those keys' probe rows are
    * salted (hash of a secondary column) and only their build rows
    * replicated; every cold key flows through at the fixed salt 0 with
    * no replication, so the extra shuffle volume is proportional to the
    * skew, not to the build side. The oracle is the PLAIN join: hash
    * equality proves salting changes partitioning and nothing else
    * (SkewJoinSpec pins the (key, salt) shuffle, the no-cold-replication
    * invariant, sampling-based detection, and the AQE runtime skew-split
    * alternative). */
  val q114SaltedJoin: QueryDef = sql(
    "q114_salted_join",
    """SELECT o.o_orderpriority, COUNT(*) AS n_lines,
      |  CAST(SUM(CAST(l.l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |GROUP BY 1
      |ORDER BY 1""".stripMargin) { (s, dir) =>
    val li = Tables.lineitem(s, dir)
    graft.functions.SkewJoin.saltedJoin(
        li,
        Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderpriority")),
        "l_orderkey", "o_orderkey",
        saltSource = col("l_linenumber"), saltFactor = 8,
        hotKeys = Some(declaredHotKeys(li)))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"), dsum(qty(col("l_quantity"))).as("sum_qty"))
      .orderBy(col("o_orderpriority"))
  }

  /** Bloom-pruned semi-join in the contract: lineitem rows are filtered
    * by a Bloom filter of the urgent-order keys INSIDE the scan stage
    * (codegen'd `might_contain` predicate) before the exact left-semi
    * join — at 100 TB the fact-side exchange carries only rows that can
    * match, shrunk by the join selectivity, for a filter costing
    * ~1.2 MB/million keys. The oracle is the PLAIN `IN` semi-join: hash
    * equality proves Bloom false positives never reach the answer (the
    * exact join removes them) — pruning changes shuffle volume and
    * nothing else. See [[graft.functions.BloomPrune]]; BloomPruneSpec
    * pins the probe-inside-scan plan shape and false-positive safety. */
  val q115BloomSemiJoin: QueryDef = sql(
    "q115_bloom_semi_join",
    """SELECT l.l_linestatus, COUNT(*) AS n_lines,
      |  CAST(SUM(CAST(l.l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem l
      |WHERE l.l_orderkey IN
      |  (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
      |GROUP BY 1
      |ORDER BY 1""".stripMargin) { (s, dir) =>
    val urgent = Tables.orders(s, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    graft.functions.BloomPrune.bloomSemiJoin(
        Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_linestatus"), col("l_quantity")),
        urgent, "l_orderkey", "o_orderkey",
        expectedItems = 1L << 20, fpp = 0.01)
      .groupBy(col("l_linestatus"))
      .agg(count(lit(1)).as("n_lines"), dsum(qty(col("l_quantity"))).as("sum_qty"))
      .orderBy(col("l_linestatus"))
  }

  /** Shared profile chain (q229/q230): the fact table unpivoted to
    * (col_name, val-as-string) in ONE scan, then per-column NDV, null
    * count and mode frequency. Values are grouping keys only — they
    * never reach the output, so cross-engine string rendering cannot
    * matter as long as the cast is injective on observed values (it is:
    * both engines render round-trip-faithful shortest forms). Ends at
    * CTE `p(col_name, n_rows, ndv, n_nulls, top1, top1_share_micro)`. */
  private val profiledCols = Seq(
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "l_quantity", "l_returnflag", "l_linestatus", "l_shipdate")
  private val profileSql: String = {
    val longRel = profiledCols.map(c =>
      s"SELECT '$c' AS col_name, CAST($c AS VARCHAR) AS val FROM lineitem")
      .mkString("\n      UNION ALL ")
    s"""lng AS ($longRel),
       |nr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM lineitem),
       |vc AS (SELECT col_name, val, COUNT(*) AS cnt FROM lng
       |       WHERE val IS NOT NULL GROUP BY 1, 2),
       |agg AS (SELECT col_name, CAST(COUNT(*) AS BIGINT) AS ndv,
       |          CAST(MAX(cnt) AS BIGINT) AS top1
       |        FROM vc GROUP BY 1),
       |nl AS (SELECT col_name, CAST(SUM(CASE WHEN val IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls
       |       FROM lng GROUP BY 1),
       |p AS (SELECT a.col_name, nr.n_rows, a.ndv, nl.n_nulls, a.top1,
       |        CAST((a.top1 * 1000000) // nr.n_rows AS BIGINT) AS top1_share_micro
       |      FROM agg a JOIN nl USING (col_name), nr)""".stripMargin
  }

  /** The Spark face of [[profileSql]]: one column-pruned value aggregate
    * per column, unioned — on columnar storage this reads exactly the
    * same bytes as a single unpivoted scan (each pass prunes to its one
    * column) without materializing an 8× row blowup of cast strings;
    * the oracle keeps the unpivot formulation, proving the two
    * decompositions equal. Native values group; nothing engine-rendered
    * exists anywhere. */
  private def columnProfile(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val nr = li.agg(count(lit(1)).cast("long").as("n_rows"))
    val per = profiledCols.map { c =>
      li.groupBy(col(c).as("v")).agg(count(lit(1)).as("cnt"))
        .agg(
          sum(when(col("v").isNotNull, 1L).otherwise(0L)).cast("long").as("ndv"),
          coalesce(sum(when(col("v").isNull, col("cnt"))), lit(0L)).cast("long").as("n_nulls"),
          max(when(col("v").isNotNull, col("cnt"))).cast("long").as("top1"))
        .select(lit(c).as("col_name"), col("ndv"), col("n_nulls"), col("top1"))
    }
    per.reduce(_ unionAll _).crossJoin(broadcast(nr))
      .select(col("col_name"), col("n_rows"), col("ndv"), col("n_nulls"), col("top1"),
        expr("CAST((top1 * 1000000) div n_rows AS BIGINT)").as("top1_share_micro"))
  }

  /** Column-statistics profiler — what `ANALYZE TABLE` collects, as a
    * query (Selinger et al. SIGMOD'79 made these the optimizer's diet;
    * a lakehouse reruns exactly this to refresh CBO stats): per fact
    * column the exact NDV, null count, mode frequency and mode share.
    * The engine runs one COLUMN-PRUNED value aggregate per column —
    * on columnar storage that reads the same bytes as one unpivoted
    * scan, without an 8× cast-string row blowup — while the oracle
    * states the unpivot form, proving the decompositions equal. All
    * exact integers; native values group, nothing engine-rendered
    * reaches the output.
    *
    * Shape: per column one pruned scan → value hash aggregate
    * (map-side combined) → 1-row fold; unioned. */
  val q229ColumnProfile: QueryDef = sql(
    "q229_column_profile",
    s"""WITH $profileSql
       |SELECT col_name, n_rows, ndv, n_nulls, top1, top1_share_micro
       |FROM p
       |ORDER BY col_name""".stripMargin) { (s, dir) =>
    columnProfile(s, dir).orderBy(col("col_name"))
  }

  /** Physical-design advisor — the q112/q113 layout decisions made FROM
    * the q229 statistics instead of by hand (the rule set every
    * warehouse design guide states: partition on a moderate-cardinality
    * low-skew column so directories prune without exploding; bucket on
    * the lowest-skew high-cardinality key so co-located joins balance,
    * never the column already chosen for partitioning — one column
    * cannot serve both layout roles;
    * size bucket count to a row target, rounded to a power of two):
    * per column its profile plus partition/bucket candidacy flags and
    * the single deterministic pick of each (ties break alphabetically),
    * with the power-of-two bucket count for a 10⁶-row target as data.
    * Every rule is an exact integer comparison over q229's relation —
    * the advisor is auditable because its entire input is in the
    * output.
    *
    * Shape: q229's chain + k-row rule arithmetic. */
  val q230LayoutAdvisor: QueryDef = sql(
    "q230_layout_advisor",
    s"""WITH $profileSql,
       |flags AS (SELECT p.*,
       |            (ndv >= 2 AND ndv <= 10000 AND top1_share_micro <= 500000) AS part_cand,
       |            (ndv * 10 >= n_rows AND top1_share_micro <= 10000) AS buck_cand
       |          FROM p),
       |pp AS (SELECT (SELECT col_name FROM flags WHERE part_cand
       |               ORDER BY ndv DESC, col_name LIMIT 1) AS part_pick),
       |pick AS (SELECT pp.part_pick,
       |           (SELECT col_name FROM flags, pp x
       |            WHERE buck_cand AND col_name IS DISTINCT FROM x.part_pick
       |            ORDER BY top1_share_micro, ndv DESC, col_name LIMIT 1) AS buck_pick
       |         FROM pp),
       |nb AS (SELECT CAST(POWER(2, CEIL(LN(GREATEST(CAST(n_rows AS DOUBLE) / 1000000.0, 1.0)) / LN(2.0))) AS BIGINT) AS n_buckets
       |       FROM nr)
       |SELECT f.col_name, f.n_rows, f.ndv, f.n_nulls, f.top1_share_micro,
       |  f.part_cand, f.buck_cand,
       |  COALESCE(f.col_name = pick.part_pick, FALSE) AS partition_pick,
       |  COALESCE(f.col_name = pick.buck_pick, FALSE) AS bucket_pick,
       |  nb.n_buckets
       |FROM flags f, pick, nb
       |ORDER BY f.col_name""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val p = columnProfile(s, dir)
    // column-count-sized and referenced by THREE consumers (part pick,
    // bucket pick, final projection), each of which otherwise re-embeds
    // and re-executes the whole per-column profile union (the plan read
    // 90 parquet scans / 2.2k lines) — materialize the profile once (r10)
    val flags = p
      .withColumn("part_cand",
        col("ndv") >= 2 && col("ndv") <= 10000 && col("top1_share_micro") <= 500000)
      .withColumn("buck_cand",
        col("ndv") * 10 >= col("n_rows") && col("top1_share_micro") <= 10000)
      .stageBoundary
    // picks as struct-min aggregates: ALWAYS one row (null pick when no
    // candidate), so the final cross-joins can never wipe the output
    val partPick = flags.agg(min(when(col("part_cand"),
        struct((-col("ndv")).as("o1"), col("col_name").as("c")))).as("ps"))
      .select(col("ps.c").as("part_pick"))
    // the partition pick is excluded from bucket candidacy — one column
    // cannot serve both layout roles
    val buckPick = flags.crossJoin(broadcast(partPick))
      .agg(min(when(col("buck_cand") && !(col("col_name") <=> col("part_pick")),
        struct(col("top1_share_micro").as("o1"), (-col("ndv")).as("o2"),
          col("col_name").as("c")))).as("bs"))
      .select(col("bs.c").as("buck_pick"))
    val nb = p.select(col("n_rows")).limit(1)
      .select(expr("CAST(POWER(2, CEIL(LN(GREATEST(CAST(n_rows AS DOUBLE) / 1000000.0, 1.0)) / LN(2.0))) AS BIGINT)").as("n_buckets"))
    flags.crossJoin(broadcast(partPick)).crossJoin(broadcast(buckPick))
      .crossJoin(broadcast(nb))
      .select(col("col_name"), col("n_rows"), col("ndv"), col("n_nulls"),
        col("top1_share_micro"), col("part_cand"), col("buck_cand"),
        coalesce(col("col_name") === col("part_pick"), lit(false)).as("partition_pick"),
        coalesce(col("col_name") === col("buck_pick"), lit(false)).as("bucket_pick"),
        col("n_buckets"))
      .orderBy(col("col_name"))
  }

  /** One join pair's estimation-audit CTE chain (shared by both q246
    * pairs): per-key counts, the exact actual Σ cR(k)·cS(k) — computed
    * by AGGREGATION, the join itself is never materialized — the
    * System-R uniform estimate |R|·|S| / max(ndv), and the 64-bucket
    * histogram refinement Σ_b cR_b·cS_b / max(ndv_b). */
  private def cardAuditSql(pair: String, rsel: String, ssel: String): String =
    s"""${pair}_rk AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS c FROM ($rsel) GROUP BY 1),
       |${pair}_sk AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS c FROM ($ssel) GROUP BY 1),
       |${pair}_act AS (SELECT CAST(SUM(a.c * b.c) AS BIGINT) AS actual
       |  FROM ${pair}_rk a JOIN ${pair}_sk b USING (k)),
       |${pair}_sysr AS (SELECT
       |    ((SELECT CAST(SUM(c) AS BIGINT) FROM ${pair}_rk)
       |     * (SELECT CAST(SUM(c) AS BIGINT) FROM ${pair}_sk))
       |    // GREATEST((SELECT CAST(COUNT(*) AS BIGINT) FROM ${pair}_rk),
       |               (SELECT CAST(COUNT(*) AS BIGINT) FROM ${pair}_sk)) AS est),
       |${pair}_rb AS (SELECT k % 64 AS b, CAST(SUM(c) AS BIGINT) AS cb,
       |    CAST(COUNT(*) AS BIGINT) AS db FROM ${pair}_rk GROUP BY 1),
       |${pair}_sb AS (SELECT k % 64 AS b, CAST(SUM(c) AS BIGINT) AS cb,
       |    CAST(COUNT(*) AS BIGINT) AS db FROM ${pair}_sk GROUP BY 1),
       |${pair}_hist AS (SELECT CAST(SUM((a.cb * b.cb) // GREATEST(a.db, b.db)) AS BIGINT) AS est
       |  FROM ${pair}_rb a JOIN ${pair}_sb b USING (b)),
       |${pair}_rows AS (
       |  SELECT '$pair' AS join_key, 'actual' AS estimator, actual AS est, actual
       |  FROM ${pair}_act
       |  UNION ALL SELECT '$pair', 'histogram64', est, (SELECT actual FROM ${pair}_act)
       |  FROM ${pair}_hist
       |  UNION ALL SELECT '$pair', 'system_r', est, (SELECT actual FROM ${pair}_act)
       |  FROM ${pair}_sysr)""".stripMargin

  /** Join-cardinality estimation audit — the optimizer-statistics
    * validation loop (Selinger SIGMOD'79's uniform formula vs the
    * bucketed-histogram refinement every modern CBO carries, vs TRUTH):
    * for two join pairs — the many-to-many (l_partkey: all lineitems ⋈
    * returned lineitems) and the PK-FK (l_orderkey ⋈ o_orderkey) — emit
    * the System-R estimate |R|·|S|/max(ndv), the 64-bucket histogram
    * estimate Σ_b cR_b·cS_b/max(ndv_b), and the exact actual, with
    * error in micro. The audit's scale trick: ACTUAL is computed from
    * per-key count aggregates (Σ cR·cS), so the join output — the thing
    * whose size is being estimated precisely because materializing it
    * is expensive — is never built; everything is key-sized after the
    * first aggregate. This is the measurement a layout advisor (q230)
    * or join-order search trusts its statistics with; histogram-vs-
    * uniform divergence flags the skewed keys q114 salts. Exact
    * integers throughout (counts, truncating DIV, micro error). */
  val q246CardinalityAudit: QueryDef = sql(
    "q246_cardinality_audit",
    s"""WITH ${cardAuditSql("li_part_returns",
         "SELECT l_partkey AS k FROM lineitem",
         "SELECT l_partkey AS k FROM lineitem WHERE l_returnflag = 'R'")},
       |${cardAuditSql("li_orders",
         "SELECT l_orderkey AS k FROM lineitem",
         "SELECT o_orderkey AS k FROM orders")}
       |SELECT join_key, estimator, est, actual,
       |  (CAST(1000000 AS BIGINT) * ABS(est - actual)) // actual AS err_micro
       |FROM (SELECT * FROM li_part_returns_rows UNION ALL SELECT * FROM li_orders_rows)
       |ORDER BY join_key, estimator""".stripMargin) { (s, dir) =>
    def audit(pair: String, r: DataFrame, s2: DataFrame): DataFrame = {
      val rk = r.groupBy(col("k")).agg(count(lit(1)).cast("long").as("rc"))
      val sk = s2.groupBy(col("k")).agg(count(lit(1)).cast("long").as("sc"))
      val act = rk.join(sk, "k").agg(sum(col("rc") * col("sc")).cast("long").as("actual"))
      val sysr = rk.agg(sum(col("rc")).as("nr"), count(lit(1)).cast("long").as("dr"))
        .crossJoin(sk.agg(sum(col("sc")).as("ns"), count(lit(1)).cast("long").as("ds")))
        .select(expr("(nr * ns) DIV greatest(dr, ds)").as("est"))
      def bucketed(kc: DataFrame, c: String) = kc
        .groupBy(pmod(col("k"), lit(64)).as("b"))
        .agg(sum(col(c)).as("cb"), count(lit(1)).cast("long").as("db"))
      val hist = bucketed(rk, "rc").withColumnsRenamed(Map("cb" -> "rcb", "db" -> "rdb"))
        .join(bucketed(sk, "sc").withColumnsRenamed(Map("cb" -> "scb", "db" -> "sdb")), "b")
        .agg(sum(expr("(rcb * scb) DIV greatest(rdb, sdb)")).cast("long").as("est"))
      act.select(lit(pair).as("join_key"), lit("actual").as("estimator"),
          col("actual").as("est"), col("actual"))
        .unionByName(hist.crossJoin(act)
          .select(lit(pair).as("join_key"), lit("histogram64").as("estimator"),
            col("est"), col("actual")))
        .unionByName(sysr.crossJoin(act)
          .select(lit(pair).as("join_key"), lit("system_r").as("estimator"),
            col("est"), col("actual")))
    }
    val li = Tables.lineitem(s, dir)
    audit("li_part_returns",
        li.select(col("l_partkey").as("k")),
        li.filter(col("l_returnflag") === "R").select(col("l_partkey").as("k")))
      .unionByName(audit("li_orders",
        li.select(col("l_orderkey").as("k")),
        Tables.orders(s, dir).select(col("o_orderkey").as("k"))))
      .withColumn("err_micro", expr("(1000000L * abs(est - actual)) DIV actual"))
      .orderBy(col("join_key"), col("estimator"))
  }

  /** Bloom zone maps — per-shard Bloom filters as SKIPPING METADATA
    * (ORC bloom indexes, Parquet column bloom filters, Impala/Kudu
    * zone maps; Bloom CACM'70), the membership complement of q232's
    * min/max bounds (bands skip RANGES, blooms skip POINT probes the
    * bands can't): orders sharded into 200-row blocks, each block
    * publishing a 1008-bit / 2-hash Bloom over its distinct custkeys
    * as 16 BIGINT words (63 usable bits per word — the sign bit stays
    * clear so neither engine's shift overflows), built with one
    * BIT_OR aggregate per (shard, word). A probe reads its two hash
    * words per shard and ANDs the bit tests; the audit joins verdicts
    * against TRUTH: false positives are counted (the design's FP rate
    * made visible), misses are structurally impossible and
    * spec-asserted zero. Output per probe key: shards skipped /
    * scanned / fp, rows the scan avoided. At 100 TB the bloom
    * relation is shards×16 rows of metadata built in the same pass
    * that writes the shard; every probe then costs 2·shards word
    * lookups, never a data scan. q115 uses Spark's runtime bloom
    * inside ONE query; this one PERSISTS the filter as a relation the
    * way a table format does. */
  /** The q250 probe-hash expansion: each key fans out to its two Bloom
    * bit positions on the 1008-bit axis. */
  private[ops] def bloomHashed(df: DataFrame): DataFrame = df.select(col("*"), explode(array(
      expr("CAST(conv(substring(md5(concat('bz0:', CAST(k AS STRING))), 1, 8), 16, 10) AS BIGINT) % 1008"),
      expr("CAST(conv(substring(md5(concat('bz1:', CAST(k AS STRING))), 1, 8), 16, 10) AS BIGINT) % 1008")))
      .as("h"))

  /** The q250 Bloom-words relation over an orders slice in (shard, k)
    * form: one BIT_OR aggregate per (shard, word). Shared verbatim by
    * the batch audit and the streaming maintenance face
    * ([[StreamingOps.bloomZoneMapStream]]) — and mergeable by BIT_OR
    * again, which is IDEMPOTENT, so the stream needs no ingested-file
    * log (contrast [[Analytics.mvMerge]], whose +/min/max merge is
    * not). */
  private[graft] def bloomWords(slice: DataFrame): DataFrame =
    bloomHashed(slice.distinct())
      .groupBy(col("shard"), expr("h div 63").as("w"))
      .agg(expr("bit_or(shiftleft(1L, CAST(h % 63 AS INT)))").as("bm"))

  val q250BloomZoneMap: QueryDef = sql(
    "q250_bloom_zonemap",
    """WITH o AS (SELECT o_orderkey // 200 AS shard, o_custkey AS k FROM orders),
      |ks AS (SELECT DISTINCT shard, k FROM o),
      |bits AS (SELECT shard, k,
      |    CAST(('0x' || substr(md5('bz0:' || CAST(k AS VARCHAR)), 1, 8)) AS BIGINT) % 1008 AS h
      |  FROM ks
      |  UNION ALL
      |  SELECT shard, k,
      |    CAST(('0x' || substr(md5('bz1:' || CAST(k AS VARCHAR)), 1, 8)) AS BIGINT) % 1008
      |  FROM ks),
      |words AS (SELECT shard, h // 63 AS w, BIT_OR(CAST(1 AS BIGINT) << CAST(h % 63 AS INT)) AS bm
      |          FROM bits GROUP BY 1, 2),
      |probes AS (SELECT DISTINCT k FROM ks WHERE k % 97 = 0),
      |ph AS (SELECT k,
      |    CAST(('0x' || substr(md5('bz0:' || CAST(k AS VARCHAR)), 1, 8)) AS BIGINT) % 1008 AS h
      |  FROM probes
      |  UNION ALL
      |  SELECT k,
      |    CAST(('0x' || substr(md5('bz1:' || CAST(k AS VARCHAR)), 1, 8)) AS BIGINT) % 1008
      |  FROM probes),
      |shards AS (SELECT DISTINCT shard FROM o),
      |tests AS (SELECT ph.k, sh.shard,
      |    MIN(COALESCE((w.bm >> CAST(ph.h % 63 AS INT)) & 1, 0)) AS hit
      |  FROM ph CROSS JOIN shards sh
      |  LEFT JOIN words w ON w.shard = sh.shard AND w.w = ph.h // 63
      |  GROUP BY 1, 2),
      |truth AS (SELECT k, shard, 1 AS present FROM ks),
      |audit AS (SELECT t.k, t.shard, t.hit, COALESCE(tr.present, 0) AS present
      |          FROM tests t LEFT JOIN truth tr ON tr.k = t.k AND tr.shard = t.shard),
      |rows_per AS (SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_rows FROM o GROUP BY 1)
      |SELECT a.k AS probe_key,
      |  CAST(COUNT(*) AS BIGINT) AS n_shards,
      |  CAST(SUM(CASE WHEN a.hit = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_skipped,
      |  CAST(SUM(CASE WHEN a.hit = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_scanned,
      |  CAST(SUM(CASE WHEN a.hit = 1 AND a.present = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_fp,
      |  CAST(SUM(CASE WHEN a.hit = 0 AND a.present = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_miss,
      |  CAST(SUM(CASE WHEN a.hit = 0 THEN r.n_rows ELSE 0 END) AS BIGINT) AS rows_avoided
      |FROM audit a JOIN rows_per r ON r.shard = a.shard
      |GROUP BY 1
      |ORDER BY probe_key""".stripMargin) { (s, dir) =>
    val o = Tables.orders(s, dir)
      .select(expr("o_orderkey div 200").as("shard"), col("o_custkey").as("k"))
    val ks = o.distinct()
    val words = bloomWords(o)
    val probes = ks.filter(col("k") % 97 === 0).select(col("k")).distinct()
    val ph = bloomHashed(probes)
    // a shard owning NEITHER of a probe's hash words has those bits
    // clear by construction — the probe×shard grid with a left join
    // keeps such shards as definite skips instead of dropping them
    val shards = o.select(col("shard")).distinct()
    val tests = ph.crossJoin(broadcast(shards.withColumnRenamed("shard", "gshard")))
      .join(words, col("shard") === col("gshard") && col("w") === expr("h div 63"), "left")
      .groupBy(col("k"), col("gshard").as("shard"))
      .agg(min(coalesce(expr("(bm >> CAST(h % 63 AS INT)) & 1"), lit(0L))).as("hit"))
    val truth = ks.withColumn("present", lit(1))
    val audit = tests.join(truth.withColumnsRenamed(Map("k" -> "tk", "shard" -> "tshard")),
        col("tk") === col("k") && col("tshard") === col("shard"), "left")
      .select(col("k"), col("shard"), col("hit"), coalesce(col("present"), lit(0)).as("present"))
    val rowsPer = o.groupBy(col("shard")).agg(count(lit(1)).cast("long").as("n_rows"))
    audit.join(broadcast(rowsPer), "shard")
      .groupBy(col("k").as("probe_key"))
      .agg(count(lit(1)).cast("long").as("n_shards"),
        sum(when(col("hit") === 0, 1L).otherwise(0L)).as("n_skipped"),
        sum(when(col("hit") === 1, 1L).otherwise(0L)).as("n_scanned"),
        sum(when(col("hit") === 1 && col("present") === 0, 1L).otherwise(0L)).as("n_fp"),
        sum(when(col("hit") === 0 && col("present") === 1, 1L).otherwise(0L)).as("n_miss"),
        sum(when(col("hit") === 0, col("n_rows")).otherwise(0L)).as("rows_avoided"))
      .orderBy(col("probe_key"))
  }

  /** Space-filling-curve locality audit — MEASURING what q89's Z-order
    * key only asserts (Morton 1966; Orenstein SIGMOD'84; the clustering
    * analysis in Moon TKDE'01): lineitem rows land on a 64×64
    * (partkey, suppkey) cell grid, and three physical sort orders —
    * row-major, Z-order (bit-interleaved), and an md5 control — are
    * scored on the two numbers a layout decision needs: total L1
    * travel between consecutive cells (write/compression locality) and
    * pages touched (16-cell pages) by a WIDE (full x, one y) and a
    * TALL (one x, full y) range query. The measured lesson: row-major
    * is optimal on its fast axis and worst-case on the slow one;
    * Z-order pays a constant factor on both but never collapses;
    * random loses everywhere. All on the bounded 4 096-cell axis
    * (metadata plane after one distinct) — exact integers, bit ops
    * engine-shared. Hand-checked 4×4 planted grid spec
    * (`CurationAuditSpec`). */
  val q258CurveLocality: QueryDef = sql(
    "q258_curve_locality",
    """WITH cells AS (SELECT DISTINCT l_partkey % 64 AS x, l_suppkey % 64 AS y FROM lineitem),
      |keyed AS (SELECT x, y,
      |    y * 64 + x AS k_row,
      |    (((x >> 0) & 1) << 0) | (((y >> 0) & 1) << 1) | (((x >> 1) & 1) << 2) | (((y >> 1) & 1) << 3) | (((x >> 2) & 1) << 4) | (((y >> 2) & 1) << 5) | (((x >> 3) & 1) << 6) | (((y >> 3) & 1) << 7) | (((x >> 4) & 1) << 8) | (((y >> 4) & 1) << 9) | (((x >> 5) & 1) << 10) | (((y >> 5) & 1) << 11)
      |      AS k_z,
      |    CAST(('0x' || substr(md5(CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR)), 1, 12)) AS BIGINT)
      |      AS k_rnd
      |  FROM cells),
      |ranked AS (SELECT x, y,
      |    ROW_NUMBER() OVER (ORDER BY k_row) AS r_row,
      |    ROW_NUMBER() OVER (ORDER BY k_z) AS r_z,
      |    ROW_NUMBER() OVER (ORDER BY k_rnd, x, y) AS r_rnd
      |  FROM keyed),
      |longf AS (SELECT 'row_major' AS ordering, r_row AS r, x, y FROM ranked
      |          UNION ALL SELECT 'z_order', r_z, x, y FROM ranked
      |          UNION ALL SELECT 'md5_random', r_rnd, x, y FROM ranked),
      |deltas AS (SELECT ordering,
      |    ABS(x - LAG(x) OVER (PARTITION BY ordering ORDER BY r)) AS dx,
      |    ABS(y - LAG(y) OVER (PARTITION BY ordering ORDER BY r)) AS dy
      |  FROM longf),
      |travel AS (SELECT ordering, 'l1_travel' AS metric,
      |    CAST(SUM(dx + dy) AS BIGINT) AS value
      |  FROM deltas GROUP BY 1),
      |wide AS (SELECT ordering, 'wide_query_pages' AS metric,
      |    CAST(COUNT(DISTINCT (r - 1) // 16) AS BIGINT) AS value
      |  FROM longf WHERE y = 5 GROUP BY 1),
      |tall AS (SELECT ordering, 'tall_query_pages' AS metric,
      |    CAST(COUNT(DISTINCT (r - 1) // 16) AS BIGINT) AS value
      |  FROM longf WHERE x = 5 GROUP BY 1)
      |SELECT metric, ordering, value FROM travel
      |UNION ALL SELECT metric, ordering, value FROM wide
      |UNION ALL SELECT metric, ordering, value FROM tall
      |ORDER BY metric, ordering""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val cells = Tables.lineitem(s, dir)
      .select(pmod(col("l_partkey"), lit(64)).cast("long").as("x"),
        pmod(col("l_suppkey"), lit(64)).cast("long").as("y"))
      .distinct()
    val interleave = (0 to 5).map(b =>
      s"(((x >> $b) & 1) << ${2 * b}) | (((y >> $b) & 1) << ${2 * b + 1})").mkString(" | ")
    // everything below is the bounded 4096-cell metadata plane
    val keyed = cells
      .withColumn("k_row", expr("y * 64 + x"))
      .withColumn("k_z", expr(interleave))
      .withColumn("k_rnd", expr(
        "CAST(conv(substring(md5(concat(CAST(x AS STRING), ':', CAST(y AS STRING))), 1, 12), 16, 10) AS BIGINT)"))
    val ranked = keyed
      .withColumn("r_row", row_number().over(Window.orderBy(col("k_row"))))
      .withColumn("r_z", row_number().over(Window.orderBy(col("k_z"))))
      .withColumn("r_rnd", row_number().over(Window.orderBy(col("k_rnd"), col("x"), col("y"))))
    val longf = ranked.select(lit("row_major").as("ordering"), col("r_row").as("r"), col("x"), col("y"))
      .unionByName(ranked.select(lit("z_order").as("ordering"), col("r_z").as("r"), col("x"), col("y")))
      .unionByName(ranked.select(lit("md5_random").as("ordering"), col("r_rnd").as("r"), col("x"), col("y")))
    val byOrd = Window.partitionBy(col("ordering")).orderBy(col("r"))
    val travel = longf
      .withColumn("dx", abs(col("x") - lag(col("x"), 1).over(byOrd)))
      .withColumn("dy", abs(col("y") - lag(col("y"), 1).over(byOrd)))
      .groupBy(col("ordering"))
      .agg(sum(col("dx") + col("dy")).cast("long").as("value"))
      .select(lit("l1_travel").as("metric"), col("ordering"), col("value"))
    def pages(pred: org.apache.spark.sql.Column, name: String) = longf.filter(pred)
      .select(col("ordering"), expr("(r - 1) div 16").as("pg")).distinct()
      .groupBy(col("ordering")).agg(count(lit(1)).cast("long").as("value"))
      .select(lit(name).as("metric"), col("ordering"), col("value"))
    travel
      .unionByName(pages(col("y") === 5, "wide_query_pages"))
      .unionByName(pages(col("x") === 5, "tall_query_pages"))
      .orderBy(col("metric"), col("ordering"))
  }

  /** Shard-rebalance audit: modulo vs rendezvous hashing — the
    * cluster-growth lesson measured (Thaler & Ravishankar HRW, ToN'98;
    * Karger STOC'97): when the 8-node customer-shard ring gains a 9th
    * node, `key % N` remaps almost everything (≈ 8/9 of keys change
    * owner — every cache warm, every co-located file wrong), while
    * rendezvous hashing (owner = argmax over nodes of md5(node:key))
    * moves EXACTLY the keys the new node wins (≈ 1/9) and nothing
    * else — the minimal-disruption property is structural: a key's
    * argmax changes only if the new node beats the old winner. The
    * audit emits, per strategy, keys moved and the max node load
    * before/after (rendezvous also stays balanced). Exact integers:
    * md5 scores with node-name tie-break, counts, micro fractions.
    * One scan to distinct keys, then a keys × 9-node broadcast
    * expansion — at 100 TB the key relation is the only shuffle.
    * Structural-minimality spec: the rendezvous moved set EQUALS the
    * new node's ownership set (`CurationAuditSpec`). */
  val q260RebalanceAudit: QueryDef = sql(
    "q260_rebalance_audit",
    """WITH k AS (SELECT DISTINCT c_custkey AS key FROM customer),
      |nodes AS (SELECT 'n' || CAST(t.i AS VARCHAR) AS node, CAST(t.i AS BIGINT) AS i
      |          FROM generate_series(0, 8) t(i)),
      |scores AS (SELECT k.key, n.node, n.i,
      |    CAST(('0x' || substr(md5(n.node || ':' || CAST(k.key AS VARCHAR)), 1, 15)) AS BIGINT)
      |      AS h
      |  FROM k CROSS JOIN nodes n),
      |hrw_before AS (SELECT key, node FROM (SELECT key, node,
      |    ROW_NUMBER() OVER (PARTITION BY key ORDER BY h DESC, node) AS rn
      |  FROM scores WHERE i < 8) WHERE rn = 1),
      |hrw_after AS (SELECT key, node FROM (SELECT key, node,
      |    ROW_NUMBER() OVER (PARTITION BY key ORDER BY h DESC, node) AS rn
      |  FROM scores) WHERE rn = 1),
      |mod_owners AS (SELECT key, 'n' || CAST(key % 8 AS VARCHAR) AS before_node,
      |    'n' || CAST(key % 9 AS VARCHAR) AS after_node FROM k),
      |hrw_owners AS (SELECT b.key, b.node AS before_node, a.node AS after_node
      |  FROM hrw_before b JOIN hrw_after a ON a.key = b.key),
      |audit AS (
      |  SELECT 'mod_n' AS strategy, CAST(COUNT(*) AS BIGINT) AS n_keys,
      |    CAST(SUM(CASE WHEN before_node <> after_node THEN 1 ELSE 0 END) AS BIGINT) AS n_moved,
      |    (SELECT CAST(MAX(c) AS BIGINT) FROM (SELECT COUNT(*) AS c FROM mod_owners GROUP BY before_node)) AS max_before,
      |    (SELECT CAST(MAX(c) AS BIGINT) FROM (SELECT COUNT(*) AS c FROM mod_owners GROUP BY after_node)) AS max_after
      |  FROM mod_owners
      |  UNION ALL
      |  SELECT 'rendezvous', CAST(COUNT(*) AS BIGINT),
      |    CAST(SUM(CASE WHEN before_node <> after_node THEN 1 ELSE 0 END) AS BIGINT),
      |    (SELECT CAST(MAX(c) AS BIGINT) FROM (SELECT COUNT(*) AS c FROM hrw_owners GROUP BY before_node)),
      |    (SELECT CAST(MAX(c) AS BIGINT) FROM (SELECT COUNT(*) AS c FROM hrw_owners GROUP BY after_node))
      |  FROM hrw_owners)
      |SELECT strategy, n_keys, n_moved,
      |  (CAST(1000000 AS BIGINT) * n_moved) // n_keys AS moved_micro,
      |  max_before, max_after
      |FROM audit
      |ORDER BY strategy""".stripMargin) { (s, dir) =>
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val k = Tables.customer(s, dir).select(col("c_custkey").as("key")).distinct()
    val nodes = (0 to 8).map(i => (s"n$i", i.toLong)).toDF("node", "i")
    val scores = k.crossJoin(broadcast(nodes))
      .withColumn("h", expr(
        "CAST(conv(substring(md5(concat(node, ':', CAST(key AS STRING))), 1, 15), 16, 10) AS BIGINT)"))
    def hrw(df: DataFrame): DataFrame = df
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("key")).orderBy(col("h").desc, col("node"))))
      .filter(col("rn") === 1).select(col("key"), col("node"))
    val hrwOwners = hrw(scores.filter(col("i") < 8)).withColumnRenamed("node", "before_node")
      .join(hrw(scores).withColumnRenamed("node", "after_node"), "key")
    val modOwners = k.select(col("key"),
      concat(lit("n"), pmod(col("key"), lit(8)).cast("string")).as("before_node"),
      concat(lit("n"), pmod(col("key"), lit(9)).cast("string")).as("after_node"))
    def audit(owners: DataFrame, name: String): DataFrame = {
      val maxB = owners.groupBy(col("before_node")).count()
        .agg(max(col("count"))).head.getLong(0)
      val maxA = owners.groupBy(col("after_node")).count()
        .agg(max(col("count"))).head.getLong(0)
      owners.agg(count(lit(1)).cast("long").as("n_keys"),
          sum(when(col("before_node") =!= col("after_node"), 1L).otherwise(0L)).as("n_moved"))
        .select(lit(name).as("strategy"), col("n_keys"), col("n_moved"),
          expr("(1000000L * n_moved) DIV n_keys").as("moved_micro"),
          lit(maxB).as("max_before"), lit(maxA).as("max_after"))
    }
    audit(modOwners, "mod_n").unionByName(audit(hrwOwners, "rendezvous"))
      .orderBy(col("strategy"))
  }

  /** Count–Min sketch audit (Cormode & Muthukrishnan J.Alg 2005): the
    * d×w counter array over event user-ids, served back against exact
    * counts for the top-20 heaviest users — the OTHER point-query sketch
    * beside q102's Misra-Gries (MG answers "who is heavy" within an
    * additive envelope; CM answers "how heavy is THIS key" for any key,
    * overestimate-only, and merges by cell-wise addition, so per-shard
    * sketches fold into a corpus sketch with no re-scan — the shape a
    * 1000-executor frequency service ships to its driver).
    *
    * Determinism: row hashes are md5-derived buckets (the q62 device —
    * no engine RNG, both engines derive identical cells), so the sketch
    * and every estimate are exact integers the oracle reproduces cell
    * for cell. Build cost: one map-side-combined pass producing ≤ d·w
    * cells; estimates join the key's d cells against the broadcast
    * sketch. The overestimate-only guarantee (est ≥ exact always) is
    * pinned per row in the output. */
  val q273CountMinAudit: QueryDef = sql(
    "q273_count_min_audit",
    """WITH rows_i(i) AS (VALUES (0), (1), (2), (3)),
      |h AS (
      |  SELECT user_id, i,
      |    CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)), 1, 4)) AS INT) % 256 AS bucket
      |  FROM events, rows_i),
      |sk AS (SELECT i, bucket, CAST(COUNT(*) AS BIGINT) AS c FROM h GROUP BY 1, 2),
      |exact AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_n
      |          FROM events GROUP BY 1),
      |keys AS (
      |  SELECT e.user_id, e.exact_n, i.i,
      |    CAST(('0x' || substr(md5(CAST(i.i AS VARCHAR) || ':' || CAST(e.user_id AS VARCHAR)), 1, 4)) AS INT) % 256 AS bucket
      |  FROM exact e, rows_i i),
      |est AS (
      |  SELECT k.user_id, k.exact_n, CAST(MIN(sk.c) AS BIGINT) AS cm_est
      |  FROM keys k JOIN sk ON sk.i = k.i AND sk.bucket = k.bucket
      |  GROUP BY 1, 2)
      |SELECT user_id, exact_n, cm_est, cm_est - exact_n AS overestimate
      |FROM est
      |ORDER BY exact_n DESC, user_id
      |LIMIT 20""".stripMargin) { (s, dir) =>
    val rowsI = explode(array((0 to 3).map(i => lit(i)): _*)).as("i")
    // same md5-derived cell both at build and at probe time
    val bucketC = pmod(
      expr("CAST(conv(substring(md5(concat(CAST(i AS STRING), ':', CAST(user_id AS STRING))), 1, 4), 16, 10) AS INT)"),
      lit(256)).as("bucket")
    val ev = Tables.events(s, dir).select(col("user_id"))
    val h = ev.select(col("user_id"), rowsI).select(col("user_id"), col("i"), bucketC)
    val sk = h.groupBy(col("i"), col("bucket")).agg(count(lit(1)).as("c"))
    val exact = ev.groupBy(col("user_id")).agg(count(lit(1)).as("exact_n"))
    val keys = exact.select(col("user_id"), col("exact_n"), rowsI)
      .select(col("user_id"), col("exact_n"), col("i"), bucketC)
    keys.join(broadcast(sk), Seq("i", "bucket"))
      .groupBy(col("user_id"), col("exact_n"))
      .agg(min(col("c")).as("cm_est"))
      .select(col("user_id"), col("exact_n"), col("cm_est"),
        (col("cm_est") - col("exact_n")).as("overestimate"))
      .orderBy(col("exact_n").desc, col("user_id"))
      .limit(20)
  }

  /** KMV distinct-count sketch audit (Bar-Yossef et al. RANDOM 2002;
    * Beyer et al. SIGMOD 2007's unbiased (k−1)/R_k estimator): keep the
    * k SMALLEST md5 values of a key column; the k-th smallest, read as a
    * fraction of the hash space, estimates the distinct count. The
    * oracle-exact counterpoint to q48/q93's opaque HLL: md5-derived
    * hashes (the q62/q273 device) make the synopsis itself — not just
    * its estimate — reproducible cell for cell in both engines. KMV
    * merges by union + re-top-k, so per-shard sketches fold up a
    * 1000-executor tree exactly like CM cells fold by addition.
    *
    * Audited on two key spaces (event users, lineitem parts); estimates
    * are one double division of exact integers; exact counts ride the
    * same scan. The top-k is TakeOrderedAndProject-sized (k = 64), never
    * a global sort. */
  /** Distinct md5 key hashes of `keyExpr` — the KMV input relation
    * (shared by the q278 batch face and the streaming min-fold face). */
  def kmvHashes(df: DataFrame, keyExpr: String): DataFrame =
    df.select(expr(
      s"CAST(conv(substring(md5(concat('kmv:', CAST($keyExpr AS STRING))), 1, 15), 16, 10) AS BIGINT)")
      .as("h")).distinct()

  val q278KmvSketch: QueryDef = sql(
    "q278_kmv_sketch",
    """WITH uh AS (
      |  SELECT DISTINCT CAST(('0x' || substr(md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
      |  FROM events),
      |ph AS (
      |  SELECT DISTINCT CAST(('0x' || substr(md5('kmv:' || CAST(l_partkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
      |  FROM lineitem),
      |uk AS (SELECT MAX(h) AS rk, CAST(COUNT(*) AS BIGINT) AS kk
      |       FROM (SELECT h FROM uh ORDER BY h LIMIT 64)),
      |pk AS (SELECT MAX(h) AS rk, CAST(COUNT(*) AS BIGINT) AS kk
      |       FROM (SELECT h FROM ph ORDER BY h LIMIT 64)),
      |ex AS (
      |  SELECT 'event_users' AS key_space,
      |    (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events) AS exact_n,
      |    uk.rk, uk.kk FROM uk
      |  UNION ALL
      |  SELECT 'lineitem_parts',
      |    (SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) FROM lineitem),
      |    pk.rk, pk.kk FROM pk)
      |SELECT key_space, exact_n, kk AS k_kept, rk AS kth_min_hash,
      |  CASE WHEN kk < 64 THEN CAST(exact_n AS DOUBLE)
      |       ELSE (CAST(kk AS DOUBLE) - 1.0) * 1152921504606846976.0 / CAST(rk AS DOUBLE) END AS kmv_estimate
      |FROM ex
      |ORDER BY key_space""".stripMargin) { (s, dir) =>
    def kmv(df: DataFrame, keyExpr: String, name: String, exact: Column): DataFrame = {
      val h = kmvHashes(df, keyExpr)
      val topk = h.orderBy(col("h")).limit(64)
        .agg(max(col("h")).as("rk"), count(lit(1)).as("kk"))
      val ex = df.agg(exact.as("exact_n"))
      topk.crossJoin(broadcast(ex))
        .select(lit(name).as("key_space"), col("exact_n"), col("kk").as("k_kept"),
          col("rk").as("kth_min_hash"),
          when(col("kk") < 64, col("exact_n").cast("double"))
            .otherwise((col("kk").cast("double") - 1.0) * lit(1152921504606846976.0)
              / col("rk").cast("double")).as("kmv_estimate"))
    }
    val ev = Tables.events(s, dir)
    val li = Tables.lineitem(s, dir)
    kmv(ev, "user_id", "event_users", countDistinct(col("user_id")).cast("long"))
      .unionAll(kmv(li, "l_partkey", "lineitem_parts",
        countDistinct(col("l_partkey")).cast("long")))
      .orderBy(col("key_space"))
  }

  /** Deterministic synthetic-data generator audit: 100 k rows conjured
    * from NOTHING but a row-id range and md5 (no input I/O, no RNG seed
    * state — row content is a pure function of the id), aggregated to a
    * per-category fingerprint. This is the scale-testing workhorse: a
    * 1000-executor cluster can materialize a 100 TB synthetic corpus by
    * fanning `spark.range` across executors with ZERO storage reads, and
    * any two runs — any engine — produce bit-identical content (the
    * bit_xor row fingerprint proves full-content equality here against
    * DuckDB's range()). The same device already drives ScaleSmoke;
    * this face makes the generator itself a verified library operator.
    *
    * spark.range is the only distributed-by-construction source: it
    * splits [0, n) across partitions with no shuffle, no skew, and
    * every derived column stays inside whole-stage codegen. */
  val q286SyntheticGen: QueryDef = sql(
    "q286_synthetic_gen",
    """WITH g AS (
      |  SELECT t.range AS id,
      |    CAST(('0x' || substr(md5('cat:' || CAST(t.range AS VARCHAR)), 1, 4)) AS INT) % 16 AS category,
      |    CAST(('0x' || substr(md5('val:' || CAST(t.range AS VARCHAR)), 1, 8)) AS BIGINT) % 100000 AS value,
      |    CAST(('0x' || substr(md5('fp:' || CAST(t.range AS VARCHAR)), 1, 15)) AS BIGINT) AS fp
      |  FROM range(100000) t)
      |SELECT category, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(value) AS BIGINT) AS sum_value,
      |  CAST(MIN(value) AS BIGINT) AS min_value,
      |  CAST(MAX(value) AS BIGINT) AS max_value,
      |  bit_xor(fp) AS content_fp
      |FROM g GROUP BY 1
      |ORDER BY category""".stripMargin) { (s, _) =>
    s.range(100000)
      .select(col("id"),
        pmod(expr("CAST(conv(substring(md5(concat('cat:', CAST(id AS STRING))), 1, 4), 16, 10) AS INT)"),
          lit(16)).as("category"),
        pmod(expr("CAST(conv(substring(md5(concat('val:', CAST(id AS STRING))), 1, 8), 16, 10) AS BIGINT)"),
          lit(100000L)).as("value"),
        expr("CAST(conv(substring(md5(concat('fp:', CAST(id AS STRING))), 1, 15), 16, 10) AS BIGINT)").as("fp"))
      .groupBy(col("category"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"),
        min(col("value")).as("min_value"), max(col("value")).as("max_value"),
        expr("bit_xor(fp)").as("content_fp"))
      .orderBy(col("category"))
  }

  /** NDV-from-sample audit: the estimators an ANALYZE that cannot
    * afford a full scan actually uses, scored against ground truth.
    * A deterministic 10% ROW sample (md5 on the row key — the q62
    * device, so the "random" sample is reproducible cross-engine)
    * yields d distinct keys and f1/f2 sample-frequency counts; the
    * audit reports GEE (Charikar et al. PODS 2000: d + (√(N/n)−1)·f1 —
    * the estimator with the matching √(N/n) lower-bound guarantee) and
    * sample-Chao (q289's estimator applied to the sample) beside the
    * exact NDV from the same scan. q229 profiles with exact passes;
    * this is the 100 TB path where profiling must sample, and the
    * error columns say what that costs. One pass; sample aggregates
    * are map-side combined. */
  val q294NdvEstimate: QueryDef = sql(
    "q294_ndv_estimate",
    """WITH li AS (
      |  SELECT l_partkey AS k,
      |    CAST(('0x' || substr(md5('smp:' || CAST(l_orderkey AS VARCHAR) || ':' ||
      |      CAST(l_linenumber AS VARCHAR) || ':' || CAST(l_partkey AS VARCHAR)), 1, 4)) AS INT) AS b
      |  FROM lineitem),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      |               CAST(COUNT(DISTINCT k) AS BIGINT) AS exact_ndv FROM li),
      |smp AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS c FROM li WHERE b < 6554 GROUP BY 1),
      |sagg AS (SELECT CAST(COUNT(*) AS BIGINT) AS d,
      |    CAST(COALESCE(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS f1,
      |    CAST(COALESCE(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END), 0) AS BIGINT) AS f2,
      |    CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_sample
      |  FROM smp)
      |SELECT tot.n_rows, tot.exact_ndv, sagg.n_sample, sagg.d, sagg.f1, sagg.f2,
      |  CAST(sagg.d AS DOUBLE)
      |    + (SQRT(CAST(tot.n_rows AS DOUBLE) / CAST(sagg.n_sample AS DOUBLE)) - 1.0)
      |      * CAST(sagg.f1 AS DOUBLE) AS gee,
      |  CAST(sagg.d AS DOUBLE) + CAST(sagg.f1 AS DOUBLE) * CAST(sagg.f1 - 1 AS DOUBLE)
      |    / (2.0 * CAST(sagg.f2 + 1 AS DOUBLE)) AS chao
      |FROM tot, sagg""".stripMargin) { (s, dir) =>
    val li = Tables.lineitem(s, dir).select(col("l_partkey").as("k"),
      expr("""CAST(conv(substring(md5(concat('smp:', CAST(l_orderkey AS STRING), ':',
             |  CAST(l_linenumber AS STRING), ':', CAST(l_partkey AS STRING))), 1, 4), 16, 10) AS INT)"""
        .stripMargin).as("b"))
    val tot = li.agg(count(lit(1)).as("n_rows"),
      countDistinct(col("k")).cast("long").as("exact_ndv"))
    val sagg = li.filter(col("b") < 6554)
      .groupBy(col("k")).agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("d"),
        coalesce(sum(when(col("c") === 1L, 1L).otherwise(0L)), lit(0L)).as("f1"),
        coalesce(sum(when(col("c") === 2L, 1L).otherwise(0L)), lit(0L)).as("f2"),
        coalesce(sum(col("c")), lit(0L)).as("n_sample"))
    tot.crossJoin(broadcast(sagg))
      .select(col("n_rows"), col("exact_ndv"), col("n_sample"), col("d"),
        col("f1"), col("f2"),
        expr("""CAST(d AS DOUBLE)
               | + (SQRT(CAST(n_rows AS DOUBLE) / CAST(n_sample AS DOUBLE)) - 1.0D)
               |   * CAST(f1 AS DOUBLE)""".stripMargin).as("gee"),
        expr("""CAST(d AS DOUBLE) + CAST(f1 AS DOUBLE) * CAST(f1 - 1 AS DOUBLE)
               |  / (2.0D * CAST(f2 + 1 AS DOUBLE))""".stripMargin).as("chao"))
  }

  /** Joinability discovery (the Aurum/data-catalog primitive — Fernandez
    * et al. ICDE'18): measure CONTAINMENT |A∩B|/|A| between candidate
    * key-column pairs across tables, from the data alone. The reference
    * lints DECLARED metadata (q227 checks declared FK edges hold); this
    * is the discovery half — which undeclared column pairs COULD be FK
    * edges (containment ≈ 1) and which plausible-looking ones are noise
    * (the planted events.user_id ⊄ customer key pair scores what it
    * scores, not 10⁶). Eight pinned pairs, each one distinct-distinct
    * semi-join on already-deduplicated key sets; exact counts,
    * containment in exact micro. */
  val q304Joinability: QueryDef = {
    val pairs = Seq(
      ("lineitem.l_orderkey", "orders.o_orderkey", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      ("lineitem.l_partkey", "part.p_partkey", "lineitem", "l_partkey", "part", "p_partkey"),
      ("lineitem.l_suppkey", "supplier.s_suppkey", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
      ("orders.o_custkey", "customer.c_custkey", "orders", "o_custkey", "customer", "c_custkey"),
      ("events.user_id", "customer.c_custkey", "events", "user_id", "customer", "c_custkey"),
      ("nation.n_regionkey", "region.r_regionkey", "nation", "n_regionkey", "region", "r_regionkey"),
      ("customer.c_nationkey", "nation.n_nationkey", "customer", "c_nationkey", "nation", "n_nationkey"),
      ("part.p_partkey", "lineitem.l_partkey", "part", "p_partkey", "lineitem", "l_partkey"))
    def subSql(p: (String, String, String, String, String, String)): String = {
      val (na, nb, ta, ca, tb, cb) = p
      s"""SELECT '$na' AS col_a, '$nb' AS col_b,
         |  (SELECT CAST(COUNT(DISTINCT $ca) AS BIGINT) FROM $ta) AS ndv_a,
         |  (SELECT CAST(COUNT(DISTINCT $cb) AS BIGINT) FROM $tb) AS ndv_b,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM
         |     (SELECT DISTINCT $ca AS k FROM $ta) a
         |     JOIN (SELECT DISTINCT $cb AS k FROM $tb) b ON b.k = a.k) AS n_common,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM
         |     (SELECT DISTINCT $ca AS k FROM $ta) a
         |     JOIN (SELECT DISTINCT $cb AS k FROM $tb) b ON b.k = a.k) * 1000000
         |   // (SELECT COUNT(DISTINCT $ca) FROM $ta) AS containment_micro""".stripMargin
    }
    sql(
      "q304_joinability",
      pairs.map(subSql).mkString("", "\nUNION ALL\n", "\nORDER BY col_a, col_b")) { (s, dir) =>
      def table(n: String): DataFrame = n match {
        case "lineitem" => Tables.lineitem(s, dir)
        case "orders"   => Tables.orders(s, dir)
        case "part"     => Tables.part(s, dir)
        case "supplier" => Tables.supplier(s, dir)
        case "customer" => Tables.customer(s, dir)
        case "events"   => Tables.events(s, dir)
        case "nation"   => Tables.nation(s, dir)
        case "region"   => Tables.region(s, dir)
      }
      // ONE pass per pair (r10 optimization): tag each side's raw keys,
      // one map-side-combined groupBy(k) collapses duplicates and marks
      // membership, one 1-row aggregate reads ndv_a/ndv_b/n_common out
      // of the flags. Replaces per-pair {distinct + eager localCheckpoint
      // + semi-join + three aggregates}: the 8 eager checkpoints
      // serialized the pairs into 8 sequential jobs, and the semi-join
      // was a second shuffle of the key sets. Now the 8 branches are one
      // lazy union — a single job, branches scheduled in parallel — and
      // each pair costs exactly one shuffle of tagged keys (guide §2.3
      // "aggregate before you shuffle", §2.4 "remove shuffles outright").
      // Semantics pinned to the old form: ndv counts a NULL key group
      // (distinct() kept a null row; the fixture keys have none), while
      // n_common excludes NULL (join equality never matched it).
      pairs.map { case (na, nb, ta, ca, tb, cb) =>
        val a = table(ta).select(col(ca).cast("long").as("k"),
          lit(1L).as("ina"), lit(0L).as("inb"))
        val b = table(tb).select(col(cb).cast("long").as("k"),
          lit(0L).as("ina"), lit(1L).as("inb"))
        a.unionAll(b)
          .groupBy(col("k"))
          .agg(max(col("ina")).as("ina"), max(col("inb")).as("inb"))
          .agg(coalesce(sum(col("ina")), lit(0L)).as("ndv_a"),
            coalesce(sum(col("inb")), lit(0L)).as("ndv_b"),
            coalesce(sum(when(col("k").isNotNull,
              col("ina") * col("inb")).otherwise(0L)), lit(0L)).as("n_common"))
          .select(lit(na).as("col_a"), lit(nb).as("col_b"),
            col("ndv_a"), col("ndv_b"), col("n_common"),
            expr("n_common * 1000000L DIV ndv_a").as("containment_micro"))
      }.reduce(_ unionAll _).orderBy(col("col_a"), col("col_b"))
    }
  }

  /** Functional-dependency discovery (TANE's question — Huhtala et al.
    * Comput. J. 1999 — answered for a pinned candidate set): does X → Y
    * hold in the DATA? Violations = |distinct(X, Y)| − |distinct X|
    * (zero iff every X value maps to one Y). The second data-driven
    * catalog primitive beside q304: candidates include the fixture's
    * planted defect — (l_orderkey, l_linenumber) → l_partkey fails
    * because the composite PK itself is violated (q227's finding
    * rediscovered from pure data profiling). Each candidate is two
    * map-side-combined distinct aggregates over one scan. */
  val q305FdDiscovery: QueryDef = {
    val cands = Seq(
      ("orders: o_orderkey -> o_custkey", "orders", Seq("o_orderkey"), "o_custkey"),
      ("orders: o_custkey -> o_orderpriority", "orders", Seq("o_custkey"), "o_orderpriority"),
      ("customer: c_custkey -> c_nationkey", "customer", Seq("c_custkey"), "c_nationkey"),
      ("events: event_id -> user_id", "events", Seq("event_id"), "user_id"),
      ("events: user_id -> event_type", "events", Seq("user_id"), "event_type"),
      ("lineitem: (l_orderkey,l_linenumber) -> l_partkey", "lineitem",
        Seq("l_orderkey", "l_linenumber"), "l_partkey"))
    def subSql(c: (String, String, Seq[String], String)): String = {
      val (name, t, lhs, rhs) = c
      val l = lhs.mkString(", ")
      s"""SELECT '$name' AS fd,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM (SELECT DISTINCT $l FROM $t)) AS lhs_ndv,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM (SELECT DISTINCT $l, $rhs FROM $t)) AS pair_ndv,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM (SELECT DISTINCT $l, $rhs FROM $t))
         |    - (SELECT COUNT(*) FROM (SELECT DISTINCT $l FROM $t)) AS violations,
         |  (SELECT COUNT(*) FROM (SELECT DISTINCT $l, $rhs FROM $t))
         |    = (SELECT COUNT(*) FROM (SELECT DISTINCT $l FROM $t)) AS holds""".stripMargin
    }
    sql(
      "q305_fd_discovery",
      cands.map(subSql).mkString("", "\nUNION ALL\n", "\nORDER BY fd")) { (s, dir) =>
      def table(n: String): DataFrame = n match {
        case "orders"   => Tables.orders(s, dir)
        case "customer" => Tables.customer(s, dir)
        case "events"   => Tables.events(s, dir)
        case "lineitem" => Tables.lineitem(s, dir)
      }
      cands.map { case (name, t, lhs, rhs) =>
        val tb = table(t)
        val l = tb.select(lhs.map(col): _*).distinct().agg(count(lit(1)).as("lhs_ndv"))
        val p = tb.select((lhs :+ rhs).map(col): _*).distinct().agg(count(lit(1)).as("pair_ndv"))
        l.crossJoin(p).select(lit(name).as("fd"), col("lhs_ndv"), col("pair_ndv"),
          (col("pair_ndv") - col("lhs_ndv")).as("violations"),
          (col("pair_ndv") === col("lhs_ndv")).as("holds"))
      }.reduce(_ unionAll _).orderBy(col("fd"))
    }
  }

  /** Bitmap-index conjunction audit (the Model 204 / FastBit structure;
    * O'Neil 1987): low-cardinality columns index as one BITMAP per
    * value — rows become bit positions packed 32 to a word (bit 63 of a signed
    * BIGINT is engine-hostile territory: DuckDB rejects 1 << 63 as signed
    * overflow where Spark silently wraps — 32-bit packing keeps every
    * shift portable), built with
    * ONE BIT_OR aggregate — and a multi-predicate COUNT becomes popcount
    * of the ANDed words, never a row scan. The audit builds real
    * bitmaps for l_returnflag and l_linestatus, answers every
    * flag∧status count from the INDEX alone, and pins it against the
    * exact group-by from the rows — the fifth index structure in the
    * family (Bloom q115/q250, zone maps q232, KMV q278, CM q273), and
    * the only one here that is EXACT by construction. Identical
    * duplicate rows may permute positions under the row-numbering
    * tie-break, but permuting positions of identical rows fixes every
    * bitmap, so the index is deterministic anyway. */
  val q318BitmapIndex: QueryDef = sql(
    "q318_bitmap_index",
    """WITH pos AS (
      |  SELECT l_returnflag AS f, l_linestatus AS st,
      |    ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey) - 1 AS p
      |  FROM lineitem),
      |fb AS (SELECT f, p // 32 AS w, bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INTEGER)) AS bm
      |       FROM pos GROUP BY 1, 2),
      |sb AS (SELECT st, p // 32 AS w, bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INTEGER)) AS bm
      |       FROM pos GROUP BY 1, 2),
      |viaidx AS (
      |  SELECT fb.f, sb.st, CAST(SUM(bit_count(fb.bm & sb.bm)) AS BIGINT) AS n_bitmap
      |  FROM fb JOIN sb ON sb.w = fb.w
      |  GROUP BY 1, 2),
      |exact AS (SELECT f, st, CAST(COUNT(*) AS BIGINT) AS n_exact
      |          FROM pos GROUP BY 1, 2)
      |SELECT e.f AS l_returnflag, e.st AS l_linestatus, e.n_exact,
      |  COALESCE(v.n_bitmap, 0) AS n_bitmap,
      |  e.n_exact = COALESCE(v.n_bitmap, 0) AS index_exact
      |FROM exact e LEFT JOIN viaidx v ON v.f = e.f AND v.st = e.st
      |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
    // corpus-sized row positions via the block two-pass device (the
    // bitmap build is exactly where a production indexer would
    // single-partition-sort the whole fact table otherwise)
    val pos = BlockRank.globalRowNumberAdaptive(
        Tables.lineitem(s, dir)
          .select(col("l_returnflag").as("f"), col("l_linestatus").as("st"),
            col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey")),
        col("l_orderkey"), asc = true,
        Seq(col("l_orderkey").asc, col("l_linenumber").asc,
          col("l_partkey").asc, col("l_suppkey").asc), "rn1")
      .select(col("f"), col("st"), (col("rn1") - 1).as("p"))
      .stageBoundary // positioned rows; both bitmap builds + exact
    def bitmaps(c: String): DataFrame = pos
      .groupBy(col(c), expr("p DIV 32").as("w"))
      .agg(expr("bit_or(shiftleft(1L, CAST(p % 32 AS INT)))").as("bm"))
    val fb = bitmaps("f").select(col("f"), col("w"), col("bm").as("fbm"))
    val sb = bitmaps("st").select(col("st"), col("w"), col("bm").as("sbm"))
    val viaidx = fb.join(sb, Seq("w"))
      .groupBy(col("f"), col("st"))
      .agg(sum(expr("bit_count(fbm & sbm)")).cast("long").as("n_bitmap"))
    val exact = pos.groupBy(col("f"), col("st")).agg(count(lit(1)).as("n_exact"))
    exact.join(viaidx, Seq("f", "st"), "left")
      .select(col("f").as("l_returnflag"), col("st").as("l_linestatus"),
        col("n_exact"), coalesce(col("n_bitmap"), lit(0L)).as("n_bitmap"),
        (col("n_exact") === coalesce(col("n_bitmap"), lit(0L))).as("index_exact"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** Inverted-index posting-list compression audit (delta gaps +
    * LEB128 varints — the Lucene/PForDelta storage model's sizing
    * question): for every term, sort its posting doc_ids, delta-encode
    * to gaps, and charge each gap its varint byte cost (1 byte per
    * 7 bits); report per df-CLASS (power-of-two document-frequency
    * bucket) how many bytes the store pays raw (8 B/posting) vs
    * varint-compressed. The audit quantifies the inverse-frequency
    * law every index build banks on: frequent terms have SMALL gaps
    * (dense postings) and compress hardest, so compressed index size
    * grows far slower than the corpus — the number a 100 TB index
    * capacity plan starts from.
    *
    * Exactness: gaps and byte costs are pure integer CASE ladders; the
    * df class is len(bin(df)) − 1 = floor(log2 df) WITHOUT floats (an
    * LN-ratio floor would diverge between engines at exact powers of
    * two). Scale posture: one distinct over (word, doc_id), one
    * word-partitioned window for the gaps (map-side after the
    * partition), and a log-many-row final aggregate — no join at all. */
  val q328PostingsVarint: QueryDef = sql(
    "q328_postings_varint",
    """WITH raw AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
      |toks AS (SELECT DISTINCT doc_id, word FROM raw),
      |g AS (SELECT word,
      |        COALESCE(doc_id - LAG(doc_id) OVER (PARTITION BY word ORDER BY doc_id),
      |                 doc_id + 1) AS gap
      |      FROM toks),
      |df AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS df FROM toks GROUP BY 1),
      |b AS (SELECT g.word, df.df,
      |        CASE WHEN gap < 128 THEN 1 WHEN gap < 16384 THEN 2
      |             WHEN gap < 2097152 THEN 3 WHEN gap < 268435456 THEN 4
      |             ELSE 5 END AS vbytes
      |      FROM g JOIN df USING (word)),
      |cls AS (SELECT CAST(len(bin(df)) - 1 AS BIGINT) AS df_class, word, df, vbytes FROM b)
      |SELECT df_class,
      |  CAST(COUNT(DISTINCT word) AS BIGINT) AS n_terms,
      |  CAST(COUNT(*) AS BIGINT) AS n_postings,
      |  CAST(COUNT(*) * 8 AS BIGINT) AS raw_bytes,
      |  CAST(SUM(vbytes) AS BIGINT) AS varint_bytes,
      |  CAST(SUM(vbytes) AS DOUBLE) / (COUNT(*) * 8) AS compressed_frac
      |FROM cls GROUP BY 1
      |ORDER BY df_class""".stripMargin) { (s, dir) =>
    val toks = Tables.fanOut(Tables.documents(s, dir))
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .distinct()
    val g = toks.withColumn("gap", coalesce(
      col("doc_id") - lag(col("doc_id"), 1).over(
        Window.partitionBy(col("word")).orderBy(col("doc_id"))),
      col("doc_id") + 1))
    val withDf = g.withColumn("df", count(lit(1)).over(Window.partitionBy(col("word"))))
      .withColumn("vbytes",
        when(col("gap") < 128, 1).when(col("gap") < 16384, 2)
          .when(col("gap") < 2097152, 3).when(col("gap") < 268435456, 4)
          .otherwise(5))
    withDf
      .withColumn("df_class", (length(bin(col("df"))) - 1).cast("long"))
      .groupBy(col("df_class"))
      .agg(countDistinct(col("word")).as("n_terms"),
        count(lit(1)).as("n_postings"),
        (count(lit(1)) * 8).as("raw_bytes"),
        sum(col("vbytes")).as("varint_bytes"),
        (sum(col("vbytes")).cast("double") / (count(lit(1)) * 8)).as("compressed_frac"))
      .orderBy(col("df_class"))
  }

  /** Hash-partition skew planner — the pre-flight a 100 TB shuffle
    * SHOULD run before picking `spark.sql.shuffle.partitions` or a
    * salting factor: simulate partitioning the lineitem fact by
    * l_orderkey into P = 32 slots under a DOCUMENTED multiplicative
    * hash (Knuth 2654435761 mod 2³² — spelled out so both engines and
    * any future reader compute the identical assignment; the audit is
    * about the DISTRIBUTION SHAPE, which any decent mixer shares), and
    * report per slot: rows, distinct keys, and the largest single-key
    * row count. The planner's two decisions read straight off the
    * result: max(rows)/avg(rows) says whether AQE skew splitting will
    * trigger, and max_key_rows says whether salting is needed AT ALL
    * (a slot can be hot because one key is hot — salting helps — or
    * because many medium keys collided — repartitioning helps; the two
    * fixes differ, so the audit must separate them).
    *
    * All-integer arithmetic with a HARD overflow guard: keys reduce
    * mod 3×10⁹ before the multiply, so the product stays < 8×10¹⁸ <
    * 2⁶³ for ANY key — without the guard, a key above ~3.47×10⁹
    * (TPC-H SF ≳ 600) makes DuckDB raise an overflow error while
    * Spark silently wraps negative: the audit pitched as the 100 TB
    * pre-flight would fail precisely at large scale. The reduction is
    * the identity for every key below 3×10⁹, so small-scale results
    * are unchanged.
    * Scale posture: one map-side projection + one (slot, key) agg +
    * one slot agg — the same two-level shape as a real shuffle write. */
  val q329PartitionSkew: QueryDef = sql(
    "q329_partition_skew",
    """WITH h AS (
      |  SELECT l_orderkey AS k,
      |    (((l_orderkey % 3000000000) * 2654435761) % 4294967296) % 32 AS slot
      |  FROM lineitem),
      |pk AS (SELECT slot, k, CAST(COUNT(*) AS BIGINT) AS key_rows
      |       FROM h GROUP BY 1, 2)
      |SELECT CAST(slot AS BIGINT) AS slot,
      |  CAST(SUM(key_rows) AS BIGINT) AS n_rows,
      |  CAST(COUNT(*) AS BIGINT) AS n_keys,
      |  CAST(MAX(key_rows) AS BIGINT) AS max_key_rows
      |FROM pk GROUP BY 1
      |ORDER BY slot""".stripMargin) { (s, dir) =>
    val h = Tables.lineitem(s, dir).select(
      col("l_orderkey").as("k"),
      ((((col("l_orderkey") % 3000000000L) * 2654435761L) % 4294967296L) % 32).as("slot"))
    h.groupBy(col("slot"), col("k")).agg(count(lit(1)).as("key_rows"))
      .groupBy(col("slot").cast("long").as("slot"))
      .agg(sum(col("key_rows")).as("n_rows"),
        count(lit(1)).as("n_keys"),
        max(col("key_rows")).as("max_key_rows"))
      .orderBy(col("slot"))
  }

  /** Join-cardinality estimation audit — the cost-based-optimizer step
    * that decides whether a self-join (= a dedup/blocking candidate
    * pass, q30/q85's cost driver) is affordable BEFORE running it: the
    * true pair volume of the orders self-join on o_custkey is
    * Σ_k c(k)², and the audit prices the two standard estimators
    * against it — the NAIVE uniform model |R|²/ndv (what a CBO uses
    * with only table stats) and the 32-bucket HASH-HISTOGRAM refinement
    * Σ_b c_b²/ndv_b (uniform only within a bucket — what it uses with
    * column histograms). Skew is exactly what the naive model misses,
    * so the histogram error is the value-of-statistics number a 100 TB
    * planner deployment justifies itself with.
    *
    * All-integer arithmetic (counts, integer divisions, micro-unit
    * errors); the bucket hash is the q329 documented multiplicative
    * mixer. Scale: two grouped counts and a 3-row emit. */
  val q336JoinEstimate: QueryDef = sql(
    "q336_join_estimate",
    """WITH c AS (SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS c FROM orders GROUP BY 1),
      |ex AS (SELECT CAST(SUM(c * c) AS BIGINT) AS v FROM c),
      |st AS (SELECT CAST(SUM(c) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS ndv FROM c),
      |hb AS (SELECT (((k % 3000000000) * 2654435761) % 4294967296) % 32 AS b, c FROM c),
      |hs AS (SELECT b, CAST(SUM(c) AS BIGINT) AS cb, CAST(COUNT(*) AS BIGINT) AS ndvb
      |       FROM hb GROUP BY 1),
      |est AS (
      |  SELECT 'naive_uniform' AS estimator, CAST(st.n * st.n // st.ndv AS BIGINT) AS estimate
      |  FROM st
      |  UNION ALL
      |  SELECT 'hash_histogram_32', CAST(SUM(cb * cb // ndvb) AS BIGINT) FROM hs
      |  UNION ALL
      |  SELECT 'exact', v FROM ex)
      |SELECT e.estimator, e.estimate, ex.v AS exact_pairs,
      |  ABS(e.estimate - ex.v) * 1000000 // ex.v AS err_micro
      |FROM est e, ex
      |ORDER BY estimator""".stripMargin) { (s, dir) =>
    val c = Tables.orders(s, dir).groupBy(col("o_custkey").as("k"))
      .agg(count(lit(1)).as("c")).cachedStageBoundary
    val ex = c.agg(sum(col("c") * col("c")).as("v"))
    val st = c.agg(sum(col("c")).as("n"), count(lit(1)).as("ndv"))
    val hs = c.select(((((col("k") % 3000000000L) * 2654435761L) % 4294967296L) % 32).as("b"), col("c"))
      .groupBy(col("b")).agg(sum(col("c")).as("cb"), count(lit(1)).as("ndvb"))
    val est = st.select(lit("naive_uniform").as("estimator"),
        expr("n * n DIV ndv").as("estimate"))
      .unionByName(hs.agg(sum(expr("cb * cb DIV ndvb")).as("estimate"))
        .select(lit("hash_histogram_32").as("estimator"), col("estimate")))
      .unionByName(ex.select(lit("exact").as("estimator"), col("v").as("estimate")))
    est.crossJoin(broadcast(ex))
      .select(col("estimator"), col("estimate"), col("v").as("exact_pairs"),
        expr("ABS(estimate - v) * 1000000L DIV v").as("err_micro"))
      .orderBy(col("estimator"))
  }

  /** Bloom-filter false-positive-rate audit — the synopsis-eval face
    * beside q273 (count-min) and q278 (KMV): build an m = 4096-bit,
    * k = 2-hash Bloom filter over the EVEN customer keys, probe it with
    * the ODD keys (guaranteed non-members), and measure the achieved
    * FPR against the textbook (1 − e^{−kn/m})^k. The measured number is
    * exact integers (a probe is a false positive iff BOTH its bit
    * positions are set — two semi-joins against the bit relation); the
    * theoretical reference is one identical closed-form expression.
    * This is the audit that sizes every Bloom deployment in the repo
    * (q115's semi-join, q250's zone maps, q151's decontamination):
    * bits-per-key budgets come FROM this curve.
    *
    * Scale posture: the bit relation is min(m, 2n) rows — filter-sized,
    * broadcast into both probe semi-joins; one scan each side. */
  val q337BloomFpr: QueryDef = sql(
    "q337_bloom_fpr",
    """WITH mem AS (SELECT c_custkey AS key FROM customer WHERE c_custkey % 2 = 0),
      |probe AS (SELECT c_custkey AS key FROM customer WHERE c_custkey % 2 = 1),
      |bits AS (
      |  SELECT DISTINCT CAST(('0x' || substr(md5('b1:' || CAST(key AS VARCHAR)), 1, 8)) AS BIGINT) % 4096 AS pos FROM mem
      |  UNION
      |  SELECT DISTINCT CAST(('0x' || substr(md5('b2:' || CAST(key AS VARCHAR)), 1, 8)) AS BIGINT) % 4096 AS pos FROM mem),
      |ph AS (SELECT key,
      |         CAST(('0x' || substr(md5('b1:' || CAST(key AS VARCHAR)), 1, 8)) AS BIGINT) % 4096 AS p1,
      |         CAST(('0x' || substr(md5('b2:' || CAST(key AS VARCHAR)), 1, 8)) AS BIGINT) % 4096 AS p2
      |       FROM probe),
      |fp AS (SELECT ph.key FROM ph
      |       JOIN bits b1 ON b1.pos = ph.p1
      |       JOIN bits b2 ON b2.pos = ph.p2),
      |st AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM mem) AS n_members,
      |              (SELECT CAST(COUNT(*) AS BIGINT) FROM bits) AS n_bits_set,
      |              (SELECT CAST(COUNT(*) AS BIGINT) FROM probe) AS n_probes,
      |              (SELECT CAST(COUNT(*) AS BIGINT) FROM fp) AS n_false_pos)
      |SELECT n_members, n_bits_set, n_probes, n_false_pos,
      |  n_false_pos * 1000000 // n_probes AS fpr_micro,
      |  ROUND(POW(1.0 - EXP(-(2.0 * n_members) / 4096.0), 2), 6) AS fpr_theory
      |FROM st""".stripMargin) { (s, dir) =>
    def pos(tag: String) =
      expr(s"CAST(conv(substring(md5(concat('$tag:', CAST(key AS STRING))), 1, 8), 16, 10) AS BIGINT) % 4096")
    val cust = Tables.customer(s, dir).select(col("c_custkey").as("key"))
    val mem = cust.filter(col("key") % 2 === 0)
    val probe = cust.filter(col("key") % 2 === 1)
    val bits = mem.select(pos("b1").as("pos"))
      .union(mem.select(pos("b2").as("pos"))).distinct().cachedStageBoundary
    val ph = probe.select(col("key"), pos("b1").as("p1"), pos("b2").as("p2"))
    val fp = ph
      .join(broadcast(bits.select(col("pos").as("p1"))), Seq("p1"))
      .join(broadcast(bits.select(col("pos").as("p2"))), Seq("p2"))
    val st = mem.agg(count(lit(1)).as("n_members"))
      .crossJoin(bits.agg(count(lit(1)).as("n_bits_set")))
      .crossJoin(probe.agg(count(lit(1)).as("n_probes")))
      .crossJoin(fp.agg(count(lit(1)).as("n_false_pos")))
    st.select(col("n_members"), col("n_bits_set"), col("n_probes"), col("n_false_pos"),
      expr("n_false_pos * 1000000L DIV n_probes").as("fpr_micro"),
      round(pow(lit(1.0) - exp((lit(-2.0) * col("n_members")) / lit(4096.0)), 2), 6)
        .as("fpr_theory"))
  }

  /** Correlated zone-map transfer audit — the question behind every
    * "should we ALSO z-order on column B?" layout debate: data laid out
    * by column A (l_shipdate) carries implicit zone-map power for any
    * column CORRELATED with A — here a receipt date SYNTHESIZED as
    * shipdate + a deterministic 0..29-day lag (the q327/q341 planted
    * device: the fixture's own date columns are mutually uncorrelated,
    * measured corr 0.03, so the transfer effect must be planted to be
    * auditable),
    * and none for an uncorrelated one. The audit builds 1000-row shards
    * under two layouts (shipdate-sorted vs multiplicative-hash-scattered
    * — the q329 mixer as the null layout), records per-shard
    * min/max(receiptdate) — exactly what a parquet footer stores — and
    * prices five receiptdate cutoff predicates: a shard is skippable
    * for `receiptdate <= c` iff its MIN exceeds c. The clustered layout
    * should skip nearly (1 − selectivity) of shards; the hash layout
    * should skip ~none — the measured gap IS the value of clustering
    * for the correlated column, the number that decides whether B needs
    * its own sort key at 100 TB.
    *
    * Exact integers (day arithmetic via datediff, shard mins/maxes,
    * micro-unit fractions). Scale posture: one window rank per layout
    * (the physical sort a writer pays anyway), shard-count-sized
    * min/max relation, 5-row cutoff grid broadcast. */
  val q343CorrelatedZonemap: QueryDef = sql(
    "q343_correlated_zonemap",
    """WITH d AS (SELECT l_orderkey AS k, l_linenumber AS ln,
      |    epoch_us(l_shipdate) // 86400000000 AS ship_d,
      |    epoch_us(l_shipdate) // 86400000000 + l_orderkey % 30 AS rcpt_d
      |  FROM lineitem),
      |lay AS (
      |  SELECT 'shipdate_clustered' AS layout, rcpt_d,
      |    (ROW_NUMBER() OVER (ORDER BY ship_d, rcpt_d, k, ln) - 1) // 1000 AS shard
      |  FROM d
      |  UNION ALL
      |  SELECT 'hash_scattered', rcpt_d,
      |    (ROW_NUMBER() OVER (ORDER BY ((k % 3000000000) * 2654435761) % 4294967296, rcpt_d, k, ln) - 1) // 1000 AS shard
      |  FROM d),
      |sh AS (SELECT layout, shard, MIN(rcpt_d) AS mn, MAX(rcpt_d) AS mx,
      |         CAST(COUNT(*) AS BIGINT) AS n
      |       FROM lay GROUP BY 1, 2),
      |bounds AS (SELECT MIN(rcpt_d) AS lo, MAX(rcpt_d) AS hi FROM d),
      |cuts AS (SELECT i AS cut_k, b.lo + i * (b.hi - b.lo) // 6 AS cut
      |         FROM (SELECT unnest(range(1, 6)) AS i), bounds b),
      |ev AS (SELECT sh.layout, c.cut_k, c.cut,
      |         CASE WHEN sh.mn > c.cut THEN 1 ELSE 0 END AS skippable,
      |         CASE WHEN sh.mn > c.cut THEN sh.n ELSE 0 END AS rows_skipped,
      |         sh.n
      |       FROM sh CROSS JOIN cuts c),
      |sel AS (SELECT cuts.cut_k, CAST(SUM(CASE WHEN d.rcpt_d <= cuts.cut THEN 1 ELSE 0 END) AS BIGINT) AS n_match
      |        FROM d CROSS JOIN cuts GROUP BY 1)
      |SELECT ev.layout, CAST(ev.cut_k AS BIGINT) AS cut_k,
      |  CAST(COUNT(*) AS BIGINT) AS n_shards,
      |  CAST(SUM(ev.skippable) AS BIGINT) AS n_skippable,
      |  CAST(SUM(ev.skippable) AS BIGINT) * 1000000 // COUNT(*) AS skip_micro,
      |  CAST(SUM(ev.rows_skipped) AS BIGINT) AS rows_skipped,
      |  CAST(MAX(sel.n_match) AS BIGINT) * 1000000 // CAST(SUM(ev.n) AS BIGINT) AS sel_micro
      |FROM ev JOIN sel ON sel.cut_k = ev.cut_k
      |GROUP BY 1, 2
      |ORDER BY layout, cut_k""".stripMargin) { (s, dir) =>
    import s.implicits._
    // r11: d feeds FOUR parallel branches of one job (two layout ranks,
    // bounds, sel) — an eager boundary, or the branches race the lazy
    // persist and recompute the scan per stage (the r10 lesson)
    val d = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("k"), col("l_linenumber").as("ln"),
        expr("unix_micros(CAST(l_shipdate AS TIMESTAMP)) div 86400000000L").as("ship_d"),
        expr("unix_micros(CAST(l_shipdate AS TIMESTAMP)) div 86400000000L + l_orderkey % 30")
          .as("rcpt_d"))
      .stageBoundary
    // r11 (guide §2.2/§2.5; the q345 lesson): both layouts' shard ranks
    // were unpartitioned ROW_NUMBER() windows — ONE task sorting the
    // whole relation, twice (Spark's own WindowExec warning; 5–7 s of
    // the query at sf0.1, and a serializer at 100 TB). The block
    // two-pass device computes the bit-identical rank fully parallel:
    // ship days are the natural bounded block key for the clustered
    // layout; the 32-bit mixer value blocks adaptively for the
    // scattered one. The oracle keeps the plain window form, proving
    // equality.
    val clustered = BlockRank.globalRowNumber(d, col("ship_d"), blkAsc = true,
        Seq(col("ship_d").asc, col("rcpt_d").asc, col("k").asc, col("ln").asc), "rn")
      .select(lit("shipdate_clustered").as("layout"), col("rcpt_d"),
        expr("(rn - 1) DIV 1000").as("shard"))
    val scattered = BlockRank.globalRowNumberAdaptive(
        d.withColumn("hv", expr("((k % 3000000000L) * 2654435761L) % 4294967296L")),
        col("hv"), asc = true,
        Seq(col("hv").asc, col("rcpt_d").asc, col("k").asc, col("ln").asc), "rn")
      .select(lit("hash_scattered").as("layout"), col("rcpt_d"),
        expr("(rn - 1) DIV 1000").as("shard"))
    val lay = clustered.unionByName(scattered)
    val sh = lay.groupBy(col("layout"), col("shard"))
      .agg(min(col("rcpt_d")).as("mn"), max(col("rcpt_d")).as("mx"),
        count(lit(1)).as("n"))
    val bounds = d.agg(min(col("rcpt_d")).as("lo"), max(col("rcpt_d")).as("hi"))
    val cuts = broadcast((1L to 5L).toDF("cut_k").crossJoin(broadcast(bounds))
      .select(col("cut_k"), expr("lo + cut_k * (hi - lo) DIV 6").as("cut")))
    val ev = sh.crossJoin(cuts)
      .select(col("layout"), col("cut_k"), col("cut"),
        when(col("mn") > col("cut"), 1L).otherwise(0L).as("skippable"),
        when(col("mn") > col("cut"), col("n")).otherwise(0L).as("rows_skipped"),
        col("n"))
    val sel = d.crossJoin(cuts)
      .groupBy(col("cut_k"))
      .agg(sum(when(col("rcpt_d") <= col("cut"), 1L).otherwise(0L)).as("n_match"))
    ev.join(sel, "cut_k")
      .groupBy(col("layout"), col("cut_k"))
      .agg(count(lit(1)).as("n_shards"),
        sum(col("skippable")).as("n_skippable"),
        expr("CAST(SUM(skippable) * 1000000L DIV COUNT(*) AS BIGINT)").as("skip_micro"),
        sum(col("rows_skipped")).as("rows_skipped"),
        expr("CAST(MAX(n_match) * 1000000L DIV SUM(n) AS BIGINT)").as("sel_micro"))
      .orderBy(col("layout"), col("cut_k"))
  }

  /** Column-encoding advisor — the PAGE-level companion to q230's
    * table-level partition/bucket advisor and q328's posting costs: a
    * parquet/ORC writer picks dictionary, run-length, or delta encoding
    * per column from exactly three statistics, all computed here in one
    * pass under the file's write order (row order is the whole game for
    * RLE/delta, so it is pinned explicitly to the insert order
    * (l_orderkey, l_linenumber), computed as the CLOSED-FORM surrogate
    * l_orderkey·8 + l_linenumber (l_linenumber ≤ 7), with duplicate
    * (orderkey, linenumber) rows — the fixture genuinely has them, the
    * q272 finding — tie-broken BY VALUE so the walked sequence is
    * total and engine-independent. Runs are counted within 8192-wide
    * ord shards — the page granularity an encoder actually works at,
    * and the property that makes the whole audit embarrassingly
    * parallel: a single-partition global ROW_NUMBER cost 5–7 s at
    * sf0.1 and would serialize a 100 TB audit entirely; per-shard
    * windows shuffle-partition instead): run count (RLE pays when avg run > 4), distinct count
    * (dictionary pays when ndv ≤ 1% of rows), and the non-decreasing
    * fraction of numeric deltas (delta pays when ≥ 99% sorted). The
    * rule ladder is the standard writer heuristic spelled out as exact
    * integer comparisons, so the advisor is auditable: its entire input
    * ships in its output.
    *
    * Scale posture: one unpivot scan (6× projection, map-side), one
    * column-partitioned LAG window, one 6-row aggregate. The global
    * write-order window is the sort a writer pays anyway. */
  val q345EncodingAdvisor: QueryDef = {
    val numCols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
    val strCols = Seq("l_returnflag", "l_linestatus")
    val unionSql = (numCols.map(c =>
        s"SELECT '$c' AS col_name, ord, CAST($c AS VARCHAR) AS v, CAST($c AS BIGINT) AS nv FROM base") ++
      strCols.map(c =>
        s"SELECT '$c', ord, $c, CAST(NULL AS BIGINT) FROM base")).mkString("\n      |  UNION ALL ")
    sql(
      "q345_encoding_advisor",
      s"""WITH base AS (
       |  SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_returnflag, l_linestatus,
       |    l_orderkey * 8 + l_linenumber AS ord
       |  FROM lineitem),
       |long AS (
       |  $unionSql),
       |r AS (SELECT col_name, v, nv,
       |        LAG(v) OVER (PARTITION BY col_name, ord // 8192 ORDER BY ord, v) AS pv,
       |        LAG(nv) OVER (PARTITION BY col_name, ord // 8192 ORDER BY ord, v) AS pnv
       |      FROM long),
       |st AS (SELECT col_name, CAST(COUNT(*) AS BIGINT) AS n,
       |        CAST(COUNT(DISTINCT v) AS BIGINT) AS ndv,
       |        CAST(SUM(CASE WHEN pv IS NULL OR v <> pv THEN 1 ELSE 0 END) AS BIGINT) AS n_runs,
       |        CAST(SUM(CASE WHEN pnv IS NOT NULL AND nv >= pnv THEN 1 ELSE 0 END) AS BIGINT) AS n_nondec,
       |        CAST(SUM(CASE WHEN pnv IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs
       |      FROM r GROUP BY 1)
       |SELECT col_name, n, ndv, n_runs,
       |  n * 1000000 // n_runs AS avg_run_micro,
       |  CASE WHEN n_pairs > 0 THEN n_nondec * 1000000 // n_pairs ELSE 0 END AS mono_micro,
       |  CASE WHEN n * 1000000 // n_runs > 4000000 THEN 'rle'
       |       WHEN ndv * 100 <= n THEN 'dict'
       |       WHEN n_pairs > 0 AND n_nondec * 1000000 // n_pairs >= 990000 THEN 'delta'
       |       ELSE 'plain' END AS encoding
       |FROM st
       |ORDER BY col_name""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      // r11: base feeds 6 unpivot projections — parallel branches of
      // ONE job racing a lazy persist into per-branch recomputation
      // (the r10 multi-consumer lesson); an eager boundary runs the
      // scan once
      val base = Tables.lineitem(s, dir)
        .select((numCols ++ strCols).map(col) :+
          (col("l_orderkey") * 8 + col("l_linenumber")).as("ord"): _*)
        .stageBoundary
      val long = (numCols.map(c => base.select(lit(c).as("col_name"), col("ord"),
          col(c).cast("string").as("v"), col(c).cast("long").as("nv"))) ++
        strCols.map(c => base.select(lit(c).as("col_name"), col("ord"),
          col(c).as("v"), lit(null).cast("long").as("nv"))))
        .reduce(_ unionByName _)
      // the fixture's (l_orderkey, l_linenumber) genuinely duplicates
      // (the q272 contract violation), so the surrogate ord has ties —
      // break them BY VALUE so the walked sequence is total and
      // engine-independent (equal values are interchangeable for runs).
      // Partitioning by the 8192-wide ord range makes the walk
      // PER-SHARD — the page granularity an encoder works at — so no
      // single-partition global sort ever runs
      val byOrd = Window.partitionBy(col("col_name"), expr("ord DIV 8192"))
        .orderBy(col("ord"), col("v"))
      val r = long
        .withColumn("pv", lag(col("v"), 1).over(byOrd))
        .withColumn("pnv", lag(col("nv"), 1).over(byOrd))
      r.groupBy(col("col_name"))
        .agg(count(lit(1)).as("n"), countDistinct(col("v")).as("ndv"),
          sum(when(col("pv").isNull || col("v") =!= col("pv"), 1L).otherwise(0L)).as("n_runs"),
          sum(when(col("pnv").isNotNull && col("nv") >= col("pnv"), 1L).otherwise(0L))
            .as("n_nondec"),
          sum(when(col("pnv").isNotNull, 1L).otherwise(0L)).as("n_pairs"))
        .select(col("col_name"), col("n"), col("ndv"), col("n_runs"),
          expr("n * 1000000L DIV n_runs").as("avg_run_micro"),
          expr("CASE WHEN n_pairs > 0 THEN n_nondec * 1000000L DIV n_pairs ELSE 0L END")
            .as("mono_micro"),
          expr("""CASE WHEN n * 1000000L DIV n_runs > 4000000L THEN 'rle'
                 |  WHEN ndv * 100L <= n THEN 'dict'
                 |  WHEN n_pairs > 0 AND n_nondec * 1000000L DIV n_pairs >= 990000L THEN 'delta'
                 |  ELSE 'plain' END""".stripMargin).as("encoding"))
        .orderBy(col("col_name"))
    }
  }

  /** KMV set algebra — audience-overlap estimation from mergeable
    * sketches (Beyer et al. SIGMOD'07 §4: the union sketch is the
    * bottom-k of the merged bottom-k's, and Jaccard is estimated by the
    * fraction of union-sketch members present in BOTH input sets):
    * |A∪B| from the union sketch's k-th minimum, |A∩B| = Ĵ · |A∪B|̂.
    * A = customers who placed a '1-URGENT' order, B = '2-HIGH' — two
    * overlapping audiences whose intersection no single-set sketch can
    * answer; this is the sketch-ALGEBRA face beside q278's single-set
    * estimate, and the reason KMV (not HLL-without-intersection) is
    * the synopsis this engine standardizes on. Exact counterparts ride
    * the same scan; estimates are one closed-form expression over
    * exact integers; membership tests are k-row broadcast semi-joins.
    * Degenerate small-k cases fall back to exact (the q278 rule),
    * which the fixture exercises at sf0.001. */
  val q350KmvSetAlgebra: QueryDef = sql(
    "q350_kmv_set_algebra",
    """WITH a AS (SELECT DISTINCT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT'),
      |b AS (SELECT DISTINCT o_custkey AS k FROM orders WHERE o_orderpriority = '2-HIGH'),
      |ha AS (SELECT DISTINCT CAST(('0x' || substr(md5('kmv:' || CAST(k AS VARCHAR)), 1, 15)) AS BIGINT) AS h FROM a),
      |hb AS (SELECT DISTINCT CAST(('0x' || substr(md5('kmv:' || CAST(k AS VARCHAR)), 1, 15)) AS BIGINT) AS h FROM b),
      |hu AS (SELECT h FROM (SELECT h FROM ha UNION SELECT h FROM hb) ORDER BY h LIMIT 64),
      |uk AS (SELECT MAX(h) AS rk, CAST(COUNT(*) AS BIGINT) AS kk FROM hu),
      |mboth AS (SELECT CAST(COUNT(*) AS BIGINT) AS nb FROM hu
      |         WHERE h IN (SELECT h FROM ha) AND h IN (SELECT h FROM hb)),
      |exact AS (SELECT
      |    (SELECT CAST(COUNT(*) AS BIGINT) FROM (SELECT k FROM a UNION SELECT k FROM b)) AS ex_union,
      |    (SELECT CAST(COUNT(*) AS BIGINT) FROM a JOIN b USING (k)) AS ex_inter),
      |est AS (SELECT
      |    CASE WHEN uk.kk < 64 THEN CAST(uk.kk AS DOUBLE)
      |         ELSE (CAST(uk.kk AS DOUBLE) - 1.0) * 1152921504606846976.0 / CAST(uk.rk AS DOUBLE)
      |    END AS u_est,
      |    mboth.nb, uk.kk
      |  FROM uk, mboth)
      |SELECT e.kk AS k_kept, e.nb AS n_both_in_sketch,
      |  ROUND(e.u_est, 3) AS union_est, x.ex_union,
      |  ROUND(e.u_est * e.nb / e.kk, 3) AS inter_est, x.ex_inter,
      |  CAST(FLOOR(ABS(e.u_est - x.ex_union) * 1000000.0 / x.ex_union) AS BIGINT) AS union_err_micro
      |FROM est e, exact x""".stripMargin) { (s, dir) =>
    val o = Tables.orders(s, dir)
    def aud(p: String) = o.filter(col("o_orderpriority") === p)
      .select(col("o_custkey").as("k")).distinct()
    val a = aud("1-URGENT").cachedStageBoundary
    val b = aud("2-HIGH").cachedStageBoundary
    val ha = kmvHashes(a, "k").cachedStageBoundary
    val hb = kmvHashes(b, "k").cachedStageBoundary
    val hu = ha.union(hb).distinct().orderBy(col("h")).limit(64).cachedStageBoundary
    val uk = hu.agg(max(col("h")).as("rk"), count(lit(1)).as("kk"))
    val both = hu.join(broadcast(ha), "h").join(broadcast(hb), "h")
      .agg(count(lit(1)).as("nb"))
    val exact = a.union(b).distinct().agg(count(lit(1)).as("ex_union"))
      .crossJoin(a.join(b, "k").agg(count(lit(1)).as("ex_inter")))
    uk.crossJoin(broadcast(both)).crossJoin(broadcast(exact))
      .select(col("kk").as("k_kept"), col("nb").as("n_both_in_sketch"),
        when(col("kk") < 64, col("kk").cast("double"))
          .otherwise((col("kk").cast("double") - 1.0) * lit(1152921504606846976.0)
            / col("rk").cast("double")).as("u_est"),
        col("ex_union"), col("nb"), col("kk").as("kk2"), col("ex_inter"))
      .select(col("k_kept"), col("n_both_in_sketch"),
        round(col("u_est"), 3).as("union_est"), col("ex_union"),
        round(col("u_est") * col("nb") / col("kk2"), 3).as("inter_est"), col("ex_inter"),
        expr("CAST(FLOOR(ABS(u_est - ex_union) * 1000000.0D / ex_union) AS BIGINT)")
          .as("union_err_micro"))
  }

  /** Hash-width collision audit — the meta-audit behind every md5
    * prefix in this repo (the q62 splits, q151's mix rates, q278's KMV
    * keys, q339's blocks all truncate md5 to k hex chars): for
    * k ∈ {4, 6, 8, 12} hex digits, count the ACTUAL colliding doc_id
    * pairs at that width against the birthday expectation
    * n(n−1)/2 ÷ 16^k. The table answers "how wide must a fingerprint
    * be before collisions stop mattering at my scale" with measured
    * data next to theory — at k = 4 (65 536 slots) the fixture already
    * collides heavily (which is WHY q62 uses it for bucketing, where
    * collisions are the point, and q278 uses 15 chars for identity,
    * where they are not).
    *
    * Exact integers: colliding pairs via Σ c·(c−1)/2 over prefix
    * groups — one grouped count per width, never a pair join. */
  val q357HashWidthAudit: QueryDef = sql(
    "q357_hash_width_audit",
    """WITH h AS (SELECT md5('hw:' || CAST(doc_id AS VARCHAR)) AS m FROM documents),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM h),
      |w AS (SELECT k FROM (SELECT unnest([4, 6, 8, 12]) AS k)),
      |grp AS (SELECT w.k, substr(h.m, 1, w.k) AS pfx, CAST(COUNT(*) AS BIGINT) AS c
      |        FROM h CROSS JOIN w GROUP BY 1, 2),
      |coll AS (SELECT k, CAST(SUM(c * (c - 1) // 2) AS BIGINT) AS pairs,
      |           CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS colliding_keys
      |         FROM grp GROUP BY 1)
      |SELECT CAST(coll.k AS BIGINT) AS width_hex, n.n AS n_keys, coll.pairs AS collisions,
      |  coll.colliding_keys,
      |  ROUND(CAST(n.n AS DOUBLE) * (n.n - 1) / 2.0 / POW(16.0, coll.k), 6) AS expected
      |FROM coll, n
      |ORDER BY width_hex""".stripMargin) { (s, dir) =>
    import s.implicits._
    val h = Tables.documents(s, dir)
      .select(md5(concat(lit("hw:"), col("doc_id").cast("string"))).as("m")).cachedStageBoundary
    val n = h.agg(count(lit(1)).as("n"))
    val w = broadcast(Seq(4, 6, 8, 12).toDF("k"))
    val grp = h.crossJoin(w)
      .groupBy(col("k"), expr("substring(m, 1, k)").as("pfx"))
      .agg(count(lit(1)).as("c"))
    grp.groupBy(col("k"))
      .agg(sum(expr("c * (c - 1) DIV 2")).as("pairs"),
        sum(when(col("c") > 1, col("c")).otherwise(0L)).as("colliding_keys"))
      .crossJoin(broadcast(n))
      .select(col("k").cast("long").as("width_hex"), col("n").as("n_keys"),
        col("pairs").as("collisions"), col("colliding_keys"),
        round(col("n").cast("double") * (col("n") - 1) / lit(2.0) / pow(lit(16.0), col("k")), 6)
          .as("expected"))
      .orderBy(col("width_hex"))
  }

  /** 2-D zone-map file skipping under Z-ORDER vs single-column layout —
    * the measurement behind every Delta/Iceberg `OPTIMIZE ZORDER BY`
    * decision (q89 computes Morton keys, q258 scores abstract curve
    * locality on a metadata grid, q343 proves 1-D clustering; this one
    * closes the loop: how many FILES of the actual fact relation does a
    * 2-D rectangle predicate touch under each layout). Lineitem rows
    * get 10-bit (partkey, suppkey) coordinates; two layouts carve the
    * SAME total order device into 64 equal files — interleaved-bit
    * Morton order vs partkey-major order — via [[BlockRank]]'s exact
    * rank + arithmetic NTILE (the file-assignment sort is
    * corpus-proportional: at 10⁹ rows a plain NTILE is the
    * single-partition killer, and file carving is exactly where it
    * would happen in production). Per (layout, file): min/max zone
    * maps on both coordinates; per planted rectangle query: a file is
    * READ iff both ranges overlap the rectangle. rows_matched rides
    * along as the layout-independent sanity anchor. Exact integers
    * end to end. */
  val q362ZorderSkipping: QueryDef = {
    def morton(zx: String, zy: String, shift: (String, Int, Int) => String): String =
      (0 until 10).map(i =>
        s"${shift(zx, i, 2 * i)} + ${shift(zy, i, 2 * i + 1)}").mkString(" + ")
    val sparkZ = morton("zx", "zy",
      (c, i, o) => s"shiftleft(shiftright($c, $i) & 1, $o)")
    val duckZ = morton("zx", "zy",
      (c, i, o) => s"((($c >> $i) & 1) << $o)")
    // four planted rectangles: two tight cells, one corner, one wide band
    val rects = Seq((1L, 0L, 127L, 0L, 127L), (2L, 512L, 639L, 512L, 639L),
      (3L, 0L, 63L, 896L, 1023L), (4L, 256L, 511L, 0L, 1023L))
    val duckRects = rects.map { case (q, x0, x1, y0, y1) =>
      s"($q, $x0, $x1, $y0, $y1)" }.mkString(", ")
    sql(
      "q362_zorder_skipping",
      s"""WITH b AS (SELECT l_partkey & 1023 AS zx, l_suppkey & 1023 AS zy,
         |             l_orderkey, l_linenumber
         |           FROM lineitem),
         |k AS (SELECT zx, zy, CAST($duckZ AS BIGINT) AS zkey, l_orderkey, l_linenumber FROM b),
         |f AS (SELECT 'z_order' AS layout, zx, zy,
         |        NTILE(64) OVER (ORDER BY zkey, l_orderkey, l_linenumber) AS file_id
         |      FROM k
         |      UNION ALL
         |      SELECT 'partkey_major', zx, zy,
         |        NTILE(64) OVER (ORDER BY zx, zy, l_orderkey, l_linenumber) AS file_id
         |      FROM k),
         |zm AS (SELECT layout, file_id,
         |         MIN(zx) AS min_x, MAX(zx) AS max_x,
         |         MIN(zy) AS min_y, MAX(zy) AS max_y
         |       FROM f GROUP BY 1, 2),
         |q AS (SELECT * FROM (VALUES $duckRects) v(query_id, x0, x1, y0, y1)),
         |touched AS (SELECT zm.layout, q.query_id,
         |              CAST(COUNT(*) AS BIGINT) AS files_read
         |            FROM zm JOIN q
         |              ON zm.max_x >= q.x0 AND zm.min_x <= q.x1
         |             AND zm.max_y >= q.y0 AND zm.min_y <= q.y1
         |            GROUP BY 1, 2),
         |m AS (SELECT q.query_id, CAST(COUNT(*) AS BIGINT) AS rows_matched
         |      FROM k JOIN q ON k.zx BETWEEN q.x0 AND q.x1
         |                   AND k.zy BETWEEN q.y0 AND q.y1
         |      GROUP BY 1)
         |SELECT t.layout, CAST(t.query_id AS BIGINT) AS query_id, t.files_read,
         |  CAST(64 AS BIGINT) AS n_files,
         |  CAST((64 - t.files_read) * 1000000 // 64 AS BIGINT) AS skip_micro,
         |  COALESCE(m.rows_matched, 0) AS rows_matched
         |FROM touched t LEFT JOIN m ON m.query_id = t.query_id
         |ORDER BY layout, query_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val k = Tables.lineitem(s, dir).select(
          (col("l_partkey").bitwiseAND(1023)).as("zx"),
          (col("l_suppkey").bitwiseAND(1023)).as("zy"),
          col("l_orderkey"), col("l_linenumber"))
        .withColumn("zkey", expr(sparkZ).cast("long"))
      val n = k.agg(count(lit(1)).cast("long").as("n_all"))
      // eager localCheckpoint (r10): kk feeds both layout carves (each
      // referencing it 3× through BlockRank) plus the row-match leg —
      // as a persist the consuming job's parallel stages raced the cache
      // and the plan re-embedded the scan per reference
      val kk = k.crossJoin(broadcast(n))
        .stageBoundary
      def carve(layout: String, key: Column, inner: Seq[Column]): DataFrame =
        BlockRank.globalRowNumberAdaptive(kk, key, asc = true, inner, "rk")
          .withColumn("file_id", BlockRank.ntileFromRank("rk", "n_all", 64))
          .select(lit(layout).as("layout"), col("zx"), col("zy"), col("file_id"))
      val f = carve("z_order", col("zkey"),
          Seq(col("zkey").asc, col("l_orderkey").asc, col("l_linenumber").asc))
        .unionByName(carve("partkey_major", col("zx"),
          Seq(col("zx").asc, col("zy").asc, col("l_orderkey").asc, col("l_linenumber").asc)))
      val zm = f.groupBy(col("layout"), col("file_id"))
        .agg(min(col("zx")).as("min_x"), max(col("zx")).as("max_x"),
          min(col("zy")).as("min_y"), max(col("zy")).as("max_y"))
      val q = rects.toDF("query_id", "x0", "x1", "y0", "y1")
      val touched = zm.join(broadcast(q),
          col("max_x") >= col("x0") && col("min_x") <= col("x1") &&
            col("max_y") >= col("y0") && col("min_y") <= col("y1"))
        .groupBy(col("layout"), col("query_id"))
        .agg(count(lit(1)).as("files_read"))
      val m = kk.join(broadcast(q),
          col("zx") >= col("x0") && col("zx") <= col("x1") &&
            col("zy") >= col("y0") && col("zy") <= col("y1"))
        .groupBy(col("query_id")).agg(count(lit(1)).as("rows_matched"))
      touched.join(m, Seq("query_id"), "left")
        .select(col("layout"), col("query_id"), col("files_read"),
          lit(64L).as("n_files"),
          expr("(64 - files_read) * 1000000L DIV 64").as("skip_micro"),
          coalesce(col("rows_matched"), lit(0L)).as("rows_matched"))
        .orderBy(col("layout"), col("query_id"))
    }
  }

  /** Multi-join cardinality estimation — the error-COMPOUNDING audit
    * (Leis et al. VLDB'15, "How Good Are Query Optimizers, Really?":
    * single-join estimates are tolerable, but errors multiply through a
    * join chain and the plan picked at step 3 is built on step 2's
    * error). The System-R uniformity estimator |R⋈S| = |R|·|S| /
    * max(ndv_R, ndv_S) runs through the filtered chain customer(acctbal
    * > 5000) ⋈ orders(status F) ⋈ lineitem(qty ≥ 30); each step emits
    * the CHAINED estimate (built on the previous estimate — what a
    * bottom-up optimizer actually has), the ANCHORED estimate (same
    * formula fed the previous step's TRUE cardinality — isolating the
    * per-step formula error from inherited error), and the actual.
    * All exact integers (products < 2⁶³ to ~10⁹-row legs; lift to
    * DECIMAL(38,0) past that — the q268 discipline). Complements q246
    * (estimator zoo, single join) and q336 (naive vs histogram, single
    * join): this is the PLAN-DEPTH axis. */
  val q363JoinChainEstimate: QueryDef = sql(
    "q363_join_chain_estimate",
    """WITH cp AS (SELECT c_custkey AS ck FROM customer WHERE c_acctbal > 5000),
      |op AS (SELECT o_custkey AS ck, o_orderkey AS ok FROM orders WHERE o_orderstatus = 'F'),
      |lp AS (SELECT l_orderkey AS ok FROM lineitem WHERE l_quantity >= 30),
      |sc AS (SELECT CAST(COUNT(*) AS BIGINT) AS nc, CAST(COUNT(DISTINCT ck) AS BIGINT) AS dc FROM cp),
      |so AS (SELECT CAST(COUNT(*) AS BIGINT) AS no, CAST(COUNT(DISTINCT ck) AS BIGINT) AS dock,
      |              CAST(COUNT(DISTINCT ok) AS BIGINT) AS dook FROM op),
      |sl AS (SELECT CAST(COUNT(*) AS BIGINT) AS nl, CAST(COUNT(DISTINCT ok) AS BIGINT) AS dl FROM lp),
      |a1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS actual1 FROM cp JOIN op USING (ck)),
      |a2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS actual2
      |       FROM (SELECT op.ok FROM cp JOIN op USING (ck)) j JOIN lp USING (ok)),
      |e AS (SELECT
      |        sc.nc * so.no // GREATEST(sc.dc, so.dock) AS est1,
      |        (sc.nc * so.no // GREATEST(sc.dc, so.dock)) * sl.nl
      |          // GREATEST(so.dook, sl.dl) AS est2_chained,
      |        a1.actual1 * sl.nl // GREATEST(so.dook, sl.dl) AS est2_anchored,
      |        a1.actual1, a2.actual2
      |      FROM sc, so, sl, a1, a2)
      |SELECT 1 AS step, CAST(est1 AS BIGINT) AS est_chained,
      |  CAST(est1 AS BIGINT) AS est_anchored, actual1 AS actual,
      |  CAST(ABS(est1 - actual1) * 1000000 // actual1 AS BIGINT) AS err_chained_micro,
      |  CAST(ABS(est1 - actual1) * 1000000 // actual1 AS BIGINT) AS err_anchored_micro
      |FROM e
      |UNION ALL
      |SELECT 2, CAST(est2_chained AS BIGINT), CAST(est2_anchored AS BIGINT), actual2,
      |  CAST(ABS(est2_chained - actual2) * 1000000 // actual2 AS BIGINT),
      |  CAST(ABS(est2_anchored - actual2) * 1000000 // actual2 AS BIGINT)
      |FROM e
      |ORDER BY step""".stripMargin) { (s, dir) =>
    val cp = Tables.customer(s, dir).filter(col("c_acctbal") > 5000)
      .select(col("c_custkey").as("ck"))
    val op = Tables.orders(s, dir).filter(col("o_orderstatus") === "F")
      .select(col("o_custkey").as("ck"), col("o_orderkey").as("ok"))
    val lp = Tables.lineitem(s, dir).filter(col("l_quantity") >= 30)
      .select(col("l_orderkey").as("ok"))
    val sc = cp.agg(count(lit(1)).as("nc"), countDistinct(col("ck")).as("dc"))
    val so = op.agg(count(lit(1)).as("no"), countDistinct(col("ck")).as("dock"),
      countDistinct(col("ok")).as("dook"))
    val sl = lp.agg(count(lit(1)).as("nl"), countDistinct(col("ok")).as("dl"))
    val j1 = cp.join(op, "ck")
    val a1 = j1.agg(count(lit(1)).as("actual1"))
    val a2 = j1.select(col("ok")).join(lp, "ok").agg(count(lit(1)).as("actual2"))
    val e = sc.crossJoin(broadcast(so)).crossJoin(broadcast(sl))
      .crossJoin(broadcast(a1)).crossJoin(broadcast(a2))
      .select(
        expr("nc * no DIV GREATEST(dc, dock)").as("est1"),
        expr("(nc * no DIV GREATEST(dc, dock)) * nl DIV GREATEST(dook, dl)").as("est2_chained"),
        expr("actual1 * nl DIV GREATEST(dook, dl)").as("est2_anchored"),
        col("actual1"), col("actual2"))
    e.select(lit(1L).as("step"), col("est1").as("est_chained"),
        col("est1").as("est_anchored"), col("actual1").as("actual"),
        expr("ABS(est1 - actual1) * 1000000L DIV actual1").as("err_chained_micro"),
        expr("ABS(est1 - actual1) * 1000000L DIV actual1").as("err_anchored_micro"))
      .unionByName(e.select(lit(2L).as("step"), col("est2_chained").as("est_chained"),
        col("est2_anchored").as("est_anchored"), col("actual2").as("actual"),
        expr("ABS(est2_chained - actual2) * 1000000L DIV actual2").as("err_chained_micro"),
        expr("ABS(est2_anchored - actual2) * 1000000L DIV actual2").as("err_anchored_micro")))
      .orderBy(col("step"))
  }

  /** Sort-key selection by exact best-case RLE runs — the
    * `OPTIMIZE … SORT BY` 1-D cousin of q362's z-order audit (q230
    * picks partition/bucket columns from NDV/skew, q345 picks
    * encodings at the CURRENT write order; this asks which LEADING
    * sort column makes every other column most compressible). The
    * device is an identity, not a simulation: with lead c and
    * secondary d, the run count of d in the sorted file is EXACTLY
    * `count(distinct (c, d))` — equal (c, d) rows are adjacent, and
    * every group boundary starts a new run — so the advisor needs no
    * window and no sort at all, just pair-distinct counts (best case
    * for d; a writer that sorts by c alone does no worse on c and no
    * better on d). Per-lead TOTAL rows make the recommendation
    * one ORDER BY away. All exact integers; one exploded scan feeding
    * a map-side-combined distinct at any scale. */
  val q368SortKeyAdvisor: QueryDef = {
    val cols = Seq(
      "ship_day" -> ("CAST(epoch_us(date_trunc('day', l_shipdate)) // 86400000000 AS BIGINT)",
        "unix_micros(date_trunc('day', l_shipdate)) div 86400000000L"),
      "partkey" -> ("l_partkey", "l_partkey"),
      "suppkey" -> ("l_suppkey", "l_suppkey"),
      "returnflag" -> ("l_returnflag", "l_returnflag"),
      "linestatus" -> ("l_linestatus", "l_linestatus"),
      "quantity" -> ("CAST(l_quantity AS BIGINT)", "CAST(l_quantity AS BIGINT)"))
    val leads = Seq("ship_day", "partkey", "returnflag")
    val duckLegs = (for (l <- leads; (p, (pd, _)) <- cols) yield
      s"""SELECT '$l' AS lead_col, '$p' AS payload_col, CAST(COUNT(*) AS BIGINT) AS n_runs
         |FROM (SELECT DISTINCT ${cols.toMap.apply(l)._1} AS lv, $pd AS pv FROM lineitem)"""
        .stripMargin).mkString("\nUNION ALL\n")
    sql(
      "q368_sort_key_advisor",
      s"""WITH runs AS (
         |$duckLegs),
         |nr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM lineitem),
         |tot AS (SELECT lead_col, 'TOTAL' AS payload_col,
         |          CAST(SUM(n_runs) AS BIGINT) AS n_runs
         |        FROM runs GROUP BY 1),
         |unioned AS (SELECT * FROM runs UNION ALL SELECT * FROM tot)
         |SELECT u.lead_col, u.payload_col, u.n_runs, nr.n_rows,
         |  CAST(u.n_runs * 1000000
         |    // (nr.n_rows * CASE WHEN u.payload_col = 'TOTAL' THEN ${cols.size} ELSE 1 END)
         |    AS BIGINT) AS runs_micro
         |FROM unioned u, nr
         |ORDER BY lead_col, payload_col""".stripMargin) { (s, dir) =>
      // r11: base feeds 18 leg projections + the row count — all
      // PARALLEL branches of the one eager job below, which raced the
      // lazy persist and recomputed the scan per branch (the r10
      // multi-consumer lesson); an eager boundary materializes it once
      val base = Tables.lineitem(s, dir).select(
        cols.map { case (n, (_, sp)) => expr(sp).as(n) }: _*)
        .stageBoundary
      val legs = for (l <- leads; (p, _) <- cols) yield
        base.select(lit(l).as("lead_col"), lit(p).as("payload_col"),
          col(l).cast("string").as("lv"), col(p).cast("string").as("pv"))
      val runs = legs.reduce(_ unionAll _).distinct()
        .groupBy(col("lead_col"), col("payload_col"))
        .agg(count(lit(1)).as("n_runs"))
        .stageBoundary // 18 rows; feeds the per-lead totals too
      val tot = runs.groupBy(col("lead_col"))
        .agg(sum(col("n_runs")).as("n_runs"))
        .select(col("lead_col"), lit("TOTAL").as("payload_col"), col("n_runs"))
      val nr = base.agg(count(lit(1)).as("n_rows"))
      runs.unionByName(tot).crossJoin(broadcast(nr))
        .select(col("lead_col"), col("payload_col"), col("n_runs"), col("n_rows"),
          expr(s"n_runs * 1000000L DIV (n_rows * " +
            s"CASE WHEN payload_col = 'TOTAL' THEN ${cols.size} ELSE 1 END)")
            .as("runs_micro"))
        .orderBy(col("lead_col"), col("payload_col"))
    }
  }

  val all: Seq[QueryDef] = Seq(
    q362ZorderSkipping, q363JoinChainEstimate, q368SortKeyAdvisor,
    q328PostingsVarint, q329PartitionSkew, q336JoinEstimate, q337BloomFpr,
    q343CorrelatedZonemap, q345EncodingAdvisor, q350KmvSetAlgebra, q357HashWidthAudit,
    q112BucketedJoin, q113PartitionPruning, q114SaltedJoin, q115BloomSemiJoin,
    q229ColumnProfile, q230LayoutAdvisor, q246CardinalityAudit, q250BloomZoneMap,
    q258CurveLocality, q260RebalanceAudit, q273CountMinAudit, q278KmvSketch,
    q286SyntheticGen, q294NdvEstimate, q304Joinability, q305FdDiscovery,
    q318BitmapIndex)
}
