package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.{StateStore, Tables}

/** Iterative graph analytics over relational edge sets — PageRank (Page
  * et al. 1999) as the representative fixed-round random-walk operator.
  * Link-graph scores are a first-class curation signal for web-scale
  * training corpora (OPT/CCNet-style crawls rank hosts by centrality;
  * "page quality by link authority" predates model-based filters), and
  * the same join-agg round template serves personalized PageRank and
  * label propagation.
  *
  * Every quantity is FIXED-POINT INTEGER: ranks are micro-units
  * (10⁶ = 1.0), per-edge contributions floor-divide by degree, and the
  * damping blend floors 0.85·incoming — so the whole trajectory is an
  * exact integer sequence, identical in Spark and DuckDB regardless of
  * aggregation order (the q119/q132 unrolled-trajectory device applied
  * to graph iteration; floats would diverge across engines under
  * reordered sums).
  *
  * Scale posture (100 TB): the edge relation is built ONCE (one
  * self-join shuffle keyed on the common attribute + a distinct) and
  * persisted partitioned by src; each round is one src-keyed broadcast-
  * or-shuffle join of the node-sized rank relation against the pinned
  * edges + one dst-keyed map-side-combined sum — the rank relation
  * (nodes, not edges) is all that moves between rounds. Rounds are a
  * fixed small constant (PageRank converges geometrically; production
  * runs 10–20). Dangling mass: the co-purchase graph is symmetric by
  * construction so every node has out-degree ≥ 1; a directed-graph
  * variant would add the standard dangling-sum redistribution term.
  */
object Graph {
  import QueryDef.sql

  /** Micro-unit scale: rank 1.0 ≡ 1,000,000. */
  val RankScale = 1000000L

  /** Broadcast budget (ROWS) for the node-sized relations the round
    * loops join against the pinned edges each round (rank / label /
    * frontier / degree). These relations are DATA-PROPORTIONAL — they
    * grow with the graph — so the repo's own scale rule ("only
    * force-broadcast constant-size dimensions") forbids an
    * unconditional hint: at a billion-node graph a forced broadcast is
    * the simhash-vocabulary OOM class. Under the budget the hint keeps
    * the per-round join shuffle-free; above it the walkers fall back to
    * a plain key-partitioned join against an edge relation
    * CO-PARTITIONED ONCE on the join key ([[EdgePin]]), so each round
    * still shuffles only the node-sized side. The default is DERIVED,
    * not a constant: `spark.sql.autoBroadcastJoinThreshold` ÷
    * [[NodeRowBytes]], so the ONE conf every Spark operator already
    * obeys governs the walkers' ceiling too — raising the threshold for
    * a big-memory cluster raises the walker budget with it (10 MB
    * default → ~218k rows; threshold -1 = hint-only mode falls back to
    * the reasoned 4M-row ≈ 96 MB constant). Conf-settable override so
    * PlanSpec pins BOTH plans and ScaleSmoke can force the large-graph
    * path; ScaleSmoke prints the derived crossover next to the node
    * count each smoke run. */
  private[graft] def broadcastNodeBudget(s: SparkSession): Long =
    s.conf.getOption("spark.graft.graph.broadcastNodeBudget")
      .map(_.toLong).getOrElse {
        val thr = s.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760") match {
          case v if v.forall(c => c.isDigit || c == '-') => v.toLong
          case v => org.apache.spark.network.util.JavaUtils.byteStringAsBytes(v)
        }
        if (thr > 0) thr / NodeRowBytes else 4000000L
      }

  /** Estimated broadcast bytes per node-relation row: an (id: long,
    * value: long) UnsafeRow is 8 B null-bits + 2×8 B fields, and the
    * broadcast hash relation roughly doubles it (key array + pointers)
    * → 48 B. Deliberately conservative: overestimating row width
    * under-sizes the budget, and the fallback is a working shuffle
    * plan, never an OOM. */
  private[graft] val NodeRowBytes = 48L

  /** Hint `df` for broadcast only while its known row count is within
    * [[broadcastNodeBudget]]; otherwise return it unhinted and let the
    * join shuffle (one-sided when the other side is co-partitioned). */
  private[graft] def gateBroadcast(df: DataFrame, rows: Long): DataFrame =
    if (rows <= broadcastNodeBudget(df.sparkSession)) broadcast(df) else df

  /** An edge relation pinned for a round loop, with the join keys its
    * rounds may need — the ONE place that decides broadcast vs
    * co-partitioned edges. [[on]] returns the edges a round joins its
    * node-sized relation against: the cached edges while that relation
    * fits the broadcast budget (no job), otherwise the edges
    * hash-partitioned on `key`, built ONCE on the first over-budget
    * round (a count forces the partitioned cache before any round reads
    * it), so every later round reuses the edge partitioning and
    * shuffles only the node-sized side. A key keeps its copy once built;
    * the unpartitioned relation is freed only after every key has one. */
  private[graft] final class EdgePin(raw: DataFrame, keys: String*) {
    private val budget = broadcastNodeBudget(raw.sparkSession)
    private val copies = scala.collection.mutable.Map.empty[String, DataFrame]

    /** Whether a node relation of `rows` rows fits the broadcast budget. */
    def fits(rows: Long): Boolean = rows <= budget

    def on(key: String, rows: Long): DataFrame = {
      require(keys.contains(key), s"edge pin has no key $key")
      copies.getOrElse(key, if (fits(rows)) raw else {
        val p = raw.repartition(col(key)).cachedStageBoundary
        p.count()
        copies(key) = p
        if (keys.forall(copies.contains)) raw.unpersist()
        p
      })
    }

    /** Free the partitioned copies (a loop that re-pins per outer round). */
    def release(): Unit = copies.values.foreach(_.unpersist())
  }

  /** Pin an edge relation for a walker: persist it, derive the src-keyed
    * degree relation and the node count, and pin the edges on `key`
    * against that node count ([[EdgePin]]). */
  private[graft] def pinEdges(edges: DataFrame, key: String = "src"):
      (DataFrame, DataFrame, Long) = {
    val raw = edges.cachedStageBoundary
    val deg = raw.groupBy(col("src")).agg(count(lit(1)).as("d")).cachedStageBoundary
    val n = deg.count() // also materializes both persists before round 1
    (new EdgePin(raw, key).on(key, n), deg, n)
  }

  /** A relation materialized at a stage boundary, with the row count
    * observed on that boundary. */
  private[graft] final case class Counted(df: DataFrame, rows: Long)

  private[graft] def counted(df: DataFrame): Counted = {
    val (out, rows) = df.stageBoundaryRows
    Counted(out, rows)
  }

  /** THE driver finish: the rows of a boundary whose observed count fits
    * [[broadcastNodeBudget]] — the size class a broadcast join build
    * already collects to the driver — and [[DriverFinishRows]], so the
    * caller finishes there with no per-round job; `None` above either,
    * where the caller runs its distributed plan on the same boundary.
    * Per-job scheduling cost, not data, dominates a round loop over a few
    * thousand rows (McSherry et al., "Scalability! But at what COST?",
    * HotOS 2015). */
  private[graft] def driverRows(c: Counted): Option[Array[Row]] =
    if (c.rows <= math.min(broadcastNodeBudget(c.df.sparkSession), DriverFinishRows))
      Some(c.df.collect())
    else None

  /** The driver finish's row ceiling, whatever the broadcast budget: the
    * finishers expand each collected row into boxed values, tuples and a
    * per-round hash map, far more than a broadcast relation's 48 B a row,
    * so `autoBroadcastJoinThreshold=-1` (budget 4M rows) must not raise
    * what the driver holds. 2^20 edges is the edge count the driver
    * union-find was sized and measured at (SCALE.md). */
  private[graft] val DriverFinishRows = 1L << 20

  /** Where a capped loop stopped: its last state, and whether its exit
    * test held there (false: the cap cut it off). */
  private[graft] final case class Fixpoint[S](state: S, converged: Boolean) {
    /** The state; raises `msg` when the cap cut the loop off. */
    def orRaise(msg: => String): S = { require(converged, msg); state }
  }

  /** THE round driver of every convergent loop: run `round` (numbered
    * from 1) until `done` holds or `cap` rounds have run. `done` must
    * read only counts the rounds already observed, so the exit test
    * runs no job. [[converge]] and [[seminaive]] are its two shapes. */
  private[graft] def iterate[S](init: S, cap: Int)(done: S => Boolean)
                               (round: (S, Int) => S): Fixpoint[S] = {
    var s = init
    var r = 0
    while (!done(s) && r < cap) {
      r += 1
      s = round(s, r)
    }
    Fixpoint(s, done(s))
  }

  /** A loop that replaces one relation each round: the round's output is
    * materialized and counted at its boundary, and the loop stops when
    * it is empty or `same(prev, next)` holds. The default test fits the
    * loops that only ever shrink their relation (a subset with an equal
    * count is the same set). */
  private[graft] def converge(init: Counted, cap: Int,
                              same: (Counted, Counted) => Boolean = _.rows == _.rows)
                             (round: (Counted, Int) => DataFrame): Fixpoint[Counted] = {
    var settled = init.rows == 0
    iterate(init, cap)(_ => settled) { (prev, r) =>
      val next = counted(round(prev, r))
      settled = next.rows == 0 || same(prev, next)
      next
    }
  }

  /** State of a semi-naive loop: everything seen so far and the last
    * round's delta, each with its exact row count. */
  private[graft] final case class Seen(all: Counted, delta: Counted)

  /** The semi-naive (Datalog delta rule) shape of [[iterate]]: each round
    * turns the state into a delta — with no `keys`, rows NEW to `all`
    * (the round anti-joins them itself, where its plan wants it); with
    * `keys`, replacements for the rows of `all` with those keys. The
    * delta is materialized and counted at its boundary, `check`ed, and
    * folded into `all`: an anti-join on `keys` plus a union, and the
    * exact running count (new rows add, replacements do not). An empty
    * delta is the fixpoint and is not folded. The union after the cap
    * round has one consumer, the caller's action, so it gets no barrier
    * (r10); every earlier one is re-read next round and does. */
  private[graft] def seminaive(init: Counted, cap: Int, keys: Seq[String] = Nil,
                               check: (Seen, Counted) => Unit = (_, _) => ())
                              (round: (Seen, Int) => DataFrame): Fixpoint[Seen] =
    iterate(Seen(init, init), cap)(_.delta.rows == 0) { (s, r) =>
      val delta = counted(round(s, r))
      check(s, delta)
      if (delta.rows == 0) Seen(s.all, delta)
      else {
        val kept = if (keys.isEmpty) s.all.df
          else s.all.df.join(delta.df.select(keys.map(col): _*), keys, "left_anti")
        val all = kept.unionByName(delta.df)
        Seen(Counted(if (r < cap) all.stageBoundary else all,
          if (keys.isEmpty) s.all.rows + delta.rows else s.all.rows), delta)
      }
    }

  /** One-hop co-occurrence edges of `df`: distinct (src, dst) pairs of
    * `idCol` values sharing a `groupCol` value, src ≠ dst. Symmetric by
    * construction. */
  def coOccurrenceEdges(df: DataFrame, groupCol: String, idCol: String): DataFrame = {
    val a = df.select(col(groupCol).as("g"), col(idCol).as("src")).distinct()
    val b = df.select(col(groupCol).as("g"), col(idCol).as("dst")).distinct()
    a.join(b, Seq("g")).filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst")).distinct()
  }

  /** The co-purchase edge relation materialized ONCE per corpus version
    * ([[graft.sources.StateStore]], keyed by the content of the
    * (orderkey, partkey) projection — the q136 postings-index
    * device): the link graph a production pipeline builds at ingest and
    * EVERY graph query reads. PageRank and label propagation each used
    * to pay the self-join + distinct; now the first run publishes the
    * edge set and later runs (and later QUERIES — q143 and q153 share
    * it) cost one parquet scan. A changed lineitem changes the
    * key, so stale edges are never looked up. */
  private[graft] def copurchaseEdges(s: SparkSession, dir: String): DataFrame = {
    val li = copurchaseInput(s, dir)
    // fan the state read out to engine parallelism: a compact edge file
    // scans as 1-2 partitions, and the planner's size estimate for it
    // (compressed bytes) once made a round join BROADCAST the edge side
    // — 3 rounds × a multi-million-entry hash build (measured 2× on
    // q153). The explicit node-side broadcasts below make the join
    // direction structural, and the fan-out restores map parallelism.
    Tables.fanOut(StateStore.parquet(s, StateStore.key("copurchase_v1", li), "edges") {
      Seq(coOccurrenceEdges(li, "l_orderkey", "l_partkey"))
    }.head)
  }

  /** The (orderkey, partkey) projection every co-purchase state derives
    * from, and so is keyed by. */
  private def copurchaseInput(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_partkey"))

  /** The co-purchase adjacency index — (src, dst, rn) with rn the
    * dst-ordered neighbor rank, plus the (src, d) degree relation —
    * persisted ONCE per corpus version (r8 verdict item: the q370
    * DeepWalk and q394 node2vec state builds each re-derived the
    * windowed index and the degrees from the edge set on a cold
    * start). Keyed by the same lineitem projection as the edges, so
    * stale adjacency is never looked up; both walk corpora read it,
    * and a cold corpus build pays the src-partitioned window exactly
    * once per corpus version. (The generic [[pinEdges]] walkers keep
    * computing their own degree relation: it is one cheap aggregation
    * over the already-persisted edge set, their pin key varies by
    * caller, and several run over non-co-purchase graphs.) */
  private def persistedAdjacency(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val key = StateStore.key("adjx_v1", copurchaseInput(s, dir))
    val Seq(adjx, deg) = StateStore.parquet(s, key, "adjx", "deg") {
      val e = copurchaseEdges(s, dir)
      Seq(
        e.withColumn("rn", expr("row_number() OVER (PARTITION BY src ORDER BY dst)")),
        e.groupBy(col("src")).agg(count(lit(1)).as("d")))
    }
    // fanned out on read for the same size-estimate reason as the
    // persisted edges above
    (Tables.fanOut(adjx), Tables.fanOut(deg))
  }

  /** ONE fixed-point random-walk round (q143 uniform, q188
    * personalized, and the q302 convergence audit share it): join the
    * node-sized (src, c=floor(rank/deg)) contribution relation into the
    * pinned edges — gated broadcast under the budget, co-partitioned
    * shuffle above it — one dst-keyed map-side-combined sum, and the
    * damping blend rank' = tele(part) + floor(0.85·Σ c) against the
    * (part, tele) relation. A damping or flooring fix lands in exactly
    * one place for every walker. */
  private def walkRound(e: DataFrame, deg: DataFrame, seeded: DataFrame,
                        rank: DataFrame, nNodes: Long): DataFrame = {
    val contrib = e
      .join(gateBroadcast(rank
        .join(deg, rank("part") === deg("src"))
        .withColumn("c", expr("CAST(FLOOR(CAST(rank AS DOUBLE) / d) AS BIGINT)"))
        .select(col("src"), col("c")), nNodes), Seq("src"))
      .groupBy(col("dst")).agg(sum(col("c")).as("inc"))
    seeded
      .join(contrib, col("part") === contrib("dst"), "left")
      .select(col("part"),
        (col("tele") + expr(
          "CAST(FLOOR(0.85D * CAST(COALESCE(inc, CAST(0 AS BIGINT)) AS DOUBLE)) AS BIGINT)")).as("rank"))
  }

  private def walkRounds(e: DataFrame, deg: DataFrame, seeded: DataFrame,
                         init: DataFrame, rounds: Int, nNodes: Long): DataFrame = {
    var rank = init
    for (_ <- 1 to rounds) rank = walkRound(e, deg, seeded, rank, nNodes)
    rank.join(deg, rank("part") === deg("src"))
      .select(col("part"), col("rank"), col("d").as("degree"))
  }

  /** `rounds` fixed-point PageRank iterations over a (src, dst) edge
    * relation; returns (part, rank, degree) for every node. Damping
    * 0.85 in micro-units: rank' = 150000 + floor(0.85 · Σ floor(rank/deg)).
    * This IS [[walkRounds]] with the uniform teleport vector. */
  def pagerank(edges: DataFrame, rounds: Int): DataFrame = {
    val (e, deg, n) = pinEdges(edges)
    val seeded = deg.select(col("src").as("part"), lit(150000L).as("tele"))
    val init = deg.select(col("src").as("part"), lit(RankScale).as("rank"))
    walkRounds(e, deg, seeded, init, rounds, n)
  }

  /** `rounds` synchronous label-propagation iterations (Raghavan et al.
    * 2007, Phys. Rev. E 76) over a symmetric (src, dst) edge relation:
    * every node starts labeled with its own id; each round it adopts the
    * label MOST FREQUENT among its neighbors, ties to the LOWEST label —
    * a fully deterministic variant of the usually-randomized sweep (the
    * same determinism device as the fixed-point PageRank above: at 100 TB
    * a rebuilt community assignment must be comparable to the previous
    * build, which random tie-breaks and asynchronous sweeps forbid).
    * Returns (node, label).
    *
    * Per round: one src-keyed join of the node-sized label relation
    * against the pinned edges, one (node, label)-keyed map-side-combined
    * count, and one node-keyed deterministic argmax folded into the SAME
    * aggregate via max(struct(cnt, -label)) — no window, no second
    * shuffle over the count relation. Only the node-sized label relation
    * moves between rounds. */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    // the per-round join keys the edges on dst, so that's the pin key;
    // the node set falls out of the already-aggregated degree relation
    val (e, deg, n) = pinEdges(edges, key = "dst")
    var lab = deg.select(col("src").as("node"), col("src").as("label"))
    for (_ <- 1 to rounds) {
      // the label relation is node-sized and data-proportional: hinted
      // only under the budget, else a plain join against the
      // dst-partitioned edges (one-sided node-relation shuffle/round)
      lab = e.join(gateBroadcast(lab, n), e("dst") === lab("node"))
        .groupBy(col("src"), col("label")).agg(count(lit(1)).as("cnt"))
        // argmax(cnt) with lowest-label ties: max over (cnt, -label)
        .groupBy(col("src"))
        .agg(max(struct(col("cnt"), (-col("label")).as("nl"))).as("m"))
        .select(col("src").as("node"), (-col("m.nl")).as("label"))
    }
    lab
  }

  /** One unrolled oracle LPA round k over CTEs e/l{k-1}. */
  private def lpaRoundSql(k: Int): String = {
    val prev = s"l${k - 1}"
    s"""n$k AS (SELECT e.src, l.label, COUNT(*) AS cnt
       |  FROM e JOIN $prev l ON l.node = e.dst GROUP BY 1, 2),
       |l$k AS (SELECT src AS node, label FROM (
       |    SELECT src, label, ROW_NUMBER() OVER (PARTITION BY src ORDER BY cnt DESC, label) AS rn
       |    FROM n$k) WHERE rn = 1)""".stripMargin
  }

  /** The q153 LPA labels persisted under the co-purchase key
    * ([[graft.sources.StateStore]] — the trained-state discipline
    * applied to the community assignment): q153 and q373 both READ the
    * label relation; the first to run pays the 3 propagation rounds
    * once per corpus version. A changed lineitem changes the
    * key, so stale labels are never looked up. */
  private[graft] def persistedLpaLabels(s: SparkSession, dir: String): DataFrame = {
    StateStore.parquet(s, StateStore.key("lpa_v1_r3", copurchaseInput(s, dir)), "labels") {
      Seq(labelPropagation(copurchaseEdges(s, dir), rounds = 3))
    }.head
  }

  /** Contract face of [[labelPropagation]]: 3 deterministic rounds over
    * the co-purchase part graph, communities summarized as (community,
    * n_members) — the domain-clustering signal a curation pipeline feeds
    * into mixture design (communities of co-bought parts ≈ topical
    * clusters of co-linked documents). The summary hashes the full
    * trajectory: one node adopting a different label in any round moves
    * a membership count. Top 100 by size, community id tie-break. */
  val q153LabelProp: QueryDef = sql(
    "q153_label_prop",
    s"""WITH e AS (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM lineitem a JOIN lineitem b
       |    ON b.l_orderkey = a.l_orderkey AND b.l_partkey <> a.l_partkey),
       |l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
       |${lpaRoundSql(1)},
       |${lpaRoundSql(2)},
       |${lpaRoundSql(3)}
       |SELECT label AS community, COUNT(*) AS n_members, MIN(node) AS min_node
       |FROM l3
       |GROUP BY 1
       |ORDER BY n_members DESC, community
       |LIMIT 100""".stripMargin) { (s, dir) =>
    persistedLpaLabels(s, dir)
      .groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("n_members"), min(col("node")).as("min_node"))
      .orderBy(col("n_members").desc, col("community"))
      .limit(100)
  }

  /** One unrolled oracle round k over CTEs e/deg/r{k-1}. */
  private def roundSql(k: Int): String = walkRoundSql(k, "r0", "150000")

  /** Contract face of [[pagerank]]: 3 rounds over the co-purchase part
    * graph (parts sharing an order), top 100 by authority. The final
    * ranks hash the whole trajectory — any round's floor-divide
    * diverging anywhere reshuffles the leaderboard. */
  val q143Pagerank: QueryDef = sql(
    "q143_pagerank",
    s"""WITH e AS (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM lineitem a JOIN lineitem b
       |    ON b.l_orderkey = a.l_orderkey AND b.l_partkey <> a.l_partkey),
       |deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY 1),
       |r0 AS (SELECT src AS part, CAST($RankScale AS BIGINT) AS rank FROM deg),
       |${roundSql(1)},
       |${roundSql(2)},
       |${roundSql(3)}
       |SELECT r.part, r.rank, deg.d AS degree
       |FROM r3 r JOIN deg ON deg.src = r.part
       |ORDER BY r.rank DESC, r.part
       |LIMIT 100""".stripMargin) { (s, dir) =>
    pagerank(copurchaseEdges(s, dir), rounds = 3)
      .orderBy(col("rank").desc, col("part"))
      .limit(100)
  }

  /** Bradley–Terry strength fitting (Bradley & Terry 1952; the MM
    * iteration of Hunter 2004, Ann. Statist. 32 §1) over head-to-head
    * match outcomes — the model behind Elo-style data-source ranking
    * and RLHF preference aggregation (pairwise human judgments →
    * per-policy strengths). `matches` is one row per decided match
    * (w_src beat l_src); the fit runs `rounds` MM updates
    *   p_i ← W_i / Σ_j n_ij/(p_i + p_j)
    * in FIXED-POINT INTEGERS (strengths in micro-units, every division
    * a floor — the q143 trajectory device, so the whole iteration is
    * an exact integer sequence either engine reproduces regardless of
    * aggregation order). One virtual win per direction of every
    * observed pairing keeps W_i > 0 and the comparison graph's
    * denominators positive (the standard connectivity regularizer).
    *
    * Scale posture: everything here is dimension-sized — sources², not
    * corpus. The caller pays the corpus pass that produces `matches`;
    * the fit itself is `rounds` broadcast joins of the source-sized
    * strength relation against the pair relation. Returns
    * (src, strength, wins, games). */
  def bradleyTerry(matches: DataFrame, rounds: Int): DataFrame = {
    // the match relation and everything derived from it are
    // dimension-sized (|cells|·sources² at most) — eager localCheckpoints
    // cut the corpus-scale producer (the caller's champion window) out of
    // every round's plan AND out of the per-round broadcast builds, which
    // otherwise each replay it (measured 6.7 s → ~1.5 s on the q173 face;
    // at cluster scale these become reliable checkpoints)
    val m = matches.select(col("w_src"), col("l_src")).stageBoundary
    val pairsU = m.select(least(col("w_src"), col("l_src")).as("a"),
        greatest(col("w_src"), col("l_src")).as("b")).distinct()
    val dirs = pairsU.union(pairsU.select(col("b"), col("a")))
      .toDF("a", "b")
    val wObs = m.groupBy(col("w_src").as("a"), col("l_src").as("b"))
      .agg(count(lit(1)).as("wo"))
    val w = dirs.join(wObs, Seq("a", "b"), "left")
      .select(col("a"), col("b"), (coalesce(col("wo"), lit(0L)) + lit(1L)).as("w"))
      .stageBoundary
    val n = w.as("w1").join(w.as("w2"),
        col("w1.a") === col("w2.b") && col("w1.b") === col("w2.a"))
      .select(col("w1.a").as("a"), col("w1.b").as("b"),
        (col("w1.w") + col("w2.w")).as("n"))
      .stageBoundary
    val (wi, nSrc) = w.groupBy(col("a").as("src")).agg(sum(col("w")).as("wins"))
      .stageBoundaryRows
    val gi = n.groupBy(col("a").as("src")).agg(sum(col("n")).as("games"))
    var p = wi.select(col("src"), lit(RankScale).as("p"))
    for (_ <- 1 to rounds) {
      // the strength relation is source-sized — usually dimension-like,
      // but gate it anyway (same budget discipline as the walkers)
      val d = n
        .join(gateBroadcast(p.select(col("src").as("a"), col("p").as("pa")), nSrc), Seq("a"))
        .join(gateBroadcast(p.select(col("src").as("b"), col("p").as("pb")), nSrc), Seq("b"))
        .withColumn("term", expr("(n * 1000000000000L) DIV (pa + pb)"))
        .groupBy(col("a").as("src")).agg(sum(col("term")).as("d"))
      p = wi.join(d, Seq("src"))
        .select(col("src"), expr("(wins * 1000000000000L) DIV d").as("p"))
    }
    p.join(wi, Seq("src")).join(gi, Seq("src"))
      .select(col("src"), col("p").as("strength"), col("wins"), col("games"))
  }

  /** The head-to-head match relation behind q173: within every
    * (lang, doc_id%16 bucket) cell, each source fields its champion
    * document (highest q142 lexical-diversity score, doc_id
    * tie-break), and every champion pair with distinct scores decides
    * one match. The champion window is the single corpus-scale stage
    * (one (lang,bucket,source)-keyed shuffle, WindowGroupLimit-pushed
    * rank-1 cut); match rows are |cells|·sources² — dimension-sized. */
  private def sourceMatches(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val champ = Tables.fanOut(Tables.documents(s, dir))
      .withColumn("toks", split(col("text"), " "))
      .withColumn("score", expr(
        "CAST(FLOOR(CAST(size(array_distinct(toks)) AS DOUBLE) * 1000000.0D / size(toks)) AS BIGINT)"))
      .withColumn("bucket", col("doc_id") % 16)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("lang"), col("bucket"), col("source"))
          .orderBy(col("score").desc, col("doc_id"))))
      .filter(col("rn") === 1)
      .select(col("lang"), col("bucket"), col("source"), col("score"))
    champ.as("c1").join(champ.as("c2"),
        col("c1.lang") === col("c2.lang") && col("c1.bucket") === col("c2.bucket") &&
          col("c1.source") < col("c2.source") && col("c1.score") =!= col("c2.score"))
      .select(
        when(col("c1.score") > col("c2.score"), col("c1.source"))
          .otherwise(col("c2.source")).as("w_src"),
        when(col("c1.score") > col("c2.score"), col("c2.source"))
          .otherwise(col("c1.source")).as("l_src"))
  }

  /** `rounds` fixed-point PERSONALIZED PageRank iterations (Haveliwala
    * 2002, topic-sensitive PageRank; the crawl-frontier / related-item
    * scorer): identical to [[pagerank]] except the teleport mass lands
    * on the SEED SET only — rank' = teleport(v) + floor(0.85·Σ
    * floor(rank/deg)), teleport(v) = floor(0.15·10⁶·|V|/|S|) for seeds
    * and 0 otherwise (total teleport mass preserved vs the uniform
    * variant, so scores stay comparable across seed choices). Same
    * exact-integer trajectory device; same per-round join shape; seeds
    * are a broadcast-sized relation. */
  def personalizedPagerank(edges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame = {
    val (e, deg, nV) = pinEdges(edges)
    val nodes = deg.select(col("src").as("part"))
    // count only IN-GRAPH seeds, so the mass-preservation claim holds
    // even when a caller passes ids with no edges (off-graph seeds are
    // ignored, not silently deducted from the teleport budget)
    val inGraph = seeds.distinct().select(col("seed").as("part"))
      .join(nodes, Seq("part"), "left_semi").cachedStageBoundary
    val nS = inGraph.count()
    require(nS > 0, "personalizedPagerank needs at least one seed present in the graph")
    val tele = (150000L * nV) / nS
    // the seed relation is caller-sized, not graph-sized, but gate it on
    // its own count anyway — a caller may personalize on half the graph
    val seeded = nodes.join(gateBroadcast(inGraph.withColumn("t", lit(tele)), nS),
        Seq("part"), "left")
      .select(col("part"), coalesce(col("t"), lit(0L)).as("tele")).cachedStageBoundary
    walkRounds(e, deg, seeded, seeded.select(col("part"), col("tele").as("rank")), rounds, nV)
  }

  /** One unrolled oracle walk round k, parameterized on the node CTE
    * and the teleport expression — the SQL twin of [[walkRounds]],
    * shared by the uniform (q143) and personalized (q188) oracles. */
  private def walkRoundSql(k: Int, nodesCte: String, teleExpr: String): String = {
    val prev = s"r${k - 1}"
    s"""c$k AS (SELECT e.dst, CAST(FLOOR(CAST(r.rank AS DOUBLE) / deg.d) AS BIGINT) AS c
       |  FROM $prev r JOIN deg ON deg.src = r.part JOIN e ON e.src = r.part),
       |s$k AS (SELECT dst, CAST(SUM(c) AS BIGINT) AS inc FROM c$k GROUP BY 1),
       |r$k AS (SELECT n.part,
       |    $teleExpr + CAST(FLOOR(0.85 * CAST(COALESCE(s.inc, 0) AS DOUBLE)) AS BIGINT) AS rank
       |  FROM $nodesCte n LEFT JOIN s$k s ON s.dst = n.part)""".stripMargin
  }

  /** One unrolled oracle PPR round k over CTEs e/deg/sd/r{k-1}. */
  private def pprRoundSql(k: Int): String = walkRoundSql(k, "sd", "n.tele")

  /** Contract face of [[personalizedPagerank]]: seeds = the 10 lowest
    * part keys of the co-purchase graph, 3 rounds, top 100 by
    * seed-relative authority — "parts related to this catalog slice by
    * co-purchase structure", the related-items query a recommender
    * derives from the same link graph a crawler ranks. */
  val q188PersonalizedPagerank: QueryDef = sql(
    "q188_personalized_pagerank",
    s"""WITH e AS (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM lineitem a JOIN lineitem b
       |    ON b.l_orderkey = a.l_orderkey AND b.l_partkey <> a.l_partkey),
       |deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY 1),
       |seeds AS (SELECT src AS seed FROM deg ORDER BY src LIMIT 10),
       |stat AS (SELECT (SELECT COUNT(*) FROM deg) AS nv, (SELECT COUNT(*) FROM seeds) AS ns),
       |sd AS (SELECT deg.src AS part,
       |         CASE WHEN s.seed IS NOT NULL
       |              THEN CAST((150000 * stat.nv) // stat.ns AS BIGINT)
       |              ELSE CAST(0 AS BIGINT) END AS tele
       |       FROM deg LEFT JOIN seeds s ON s.seed = deg.src, stat),
       |r0 AS (SELECT part, tele AS rank FROM sd),
       |${pprRoundSql(1)},
       |${pprRoundSql(2)},
       |${pprRoundSql(3)}
       |SELECT r.part, r.rank, deg.d AS degree
       |FROM r3 r JOIN deg ON deg.src = r.part
       |WHERE r.rank > 0
       |ORDER BY r.rank DESC, r.part
       |LIMIT 100""".stripMargin) { (s, dir) =>
    val edges = copurchaseEdges(s, dir)
    val seeds = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .orderBy(col("src")).limit(10).select(col("src").as("seed"))
    personalizedPagerank(edges, seeds, rounds = 3)
      .filter(col("rank") > 0)
      .orderBy(col("rank").desc, col("part"))
      .limit(100)
  }

  /** One unrolled oracle Bradley–Terry MM round k over CTEs n/wi/p{k-1}. */
  private def btRoundSql(k: Int): String = {
    val prev = s"p${k - 1}"
    s"""d$k AS (SELECT n.a AS src, SUM((n.n * 1000000000000) // (pa.p + pb.p)) AS d
       |  FROM n JOIN $prev pa ON pa.src = n.a JOIN $prev pb ON pb.src = n.b
       |  GROUP BY 1),
       |p$k AS (SELECT w.src, (w.wins * 1000000000000) // d.d AS p
       |  FROM wi w JOIN d$k d ON d.src = w.src)""".stripMargin
  }

  /** Contract face of [[bradleyTerry]]: 3 MM rounds over the per-cell
    * champion matches between fixture sources — "which SOURCE produces
    * the best documents", fitted from pairwise outcomes instead of
    * pooled means (the aggregation RLHF uses for preference data). The
    * strengths hash the whole trajectory. */
  val q173BradleyTerry: QueryDef = sql(
    "q173_bradley_terry",
    s"""WITH sc AS (
       |  SELECT lang, doc_id % 16 AS bucket, source, doc_id,
       |    CAST(FLOOR(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
       |      * 1000000.0 / len(string_split(text, ' '))) AS BIGINT) AS score
       |  FROM documents),
       |champ AS (SELECT lang, bucket, source, score FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY lang, bucket, source
       |      ORDER BY score DESC, doc_id) AS rn FROM sc) WHERE rn = 1),
       |m AS (SELECT
       |    CASE WHEN c1.score > c2.score THEN c1.source ELSE c2.source END AS w_src,
       |    CASE WHEN c1.score > c2.score THEN c2.source ELSE c1.source END AS l_src
       |  FROM champ c1 JOIN champ c2
       |    ON c2.lang = c1.lang AND c2.bucket = c1.bucket
       |   AND c1.source < c2.source AND c1.score <> c2.score),
       |pu AS (SELECT DISTINCT LEAST(w_src, l_src) AS a, GREATEST(w_src, l_src) AS b FROM m),
       |dirs AS (SELECT a, b FROM pu UNION ALL SELECT b, a FROM pu),
       |wob AS (SELECT w_src AS a, l_src AS b, COUNT(*) AS wo FROM m GROUP BY 1, 2),
       |w AS (SELECT d.a, d.b, CAST(COALESCE(wob.wo, 0) + 1 AS BIGINT) AS w
       |      FROM dirs d LEFT JOIN wob ON wob.a = d.a AND wob.b = d.b),
       |n AS (SELECT w1.a, w1.b, w1.w + w2.w AS n
       |      FROM w w1 JOIN w w2 ON w2.a = w1.b AND w2.b = w1.a),
       |wi AS (SELECT a AS src, CAST(SUM(w) AS BIGINT) AS wins FROM w GROUP BY 1),
       |gi AS (SELECT a AS src, CAST(SUM(n) AS BIGINT) AS games FROM n GROUP BY 1),
       |p0 AS (SELECT src, CAST($RankScale AS BIGINT) AS p FROM wi),
       |${btRoundSql(1)},
       |${btRoundSql(2)},
       |${btRoundSql(3)}
       |SELECT p3.src AS source, CAST(p3.p AS BIGINT) AS strength, wi.wins, gi.games
       |FROM p3 JOIN wi ON wi.src = p3.src JOIN gi ON gi.src = p3.src
       |ORDER BY strength DESC, source""".stripMargin) { (s, dir) =>
    bradleyTerry(sourceMatches(s, dir), rounds = 3)
      .withColumnRenamed("src", "source")
      .orderBy(col("strength").desc, col("source"))
  }

  /** Triangle counting + local clustering coefficients on the FREQUENT
    * co-purchase graph — the community-structure probe (a part whose
    * neighbors also co-sell with each other anchors a bundle; one that
    * merely co-occurs widely is a commodity). Edges are part pairs
    * sharing ≥ 2 distinct orders: the support filter is the scale
    * device — the raw co-occurrence graph grows with the corpus (1.2 M
    * pairs at sf0.1) while the support-≥2 graph is the stable frequent
    * core (3.6 k edges; random pairs don't repeat), so the cubic-risk
    * stage runs on a relation the support aggregate already reduced.
    *
    * Counting is the degree-ORIENTED node-iterator (Schank & Wagner
    * SEA'05; Suri & Vassilvitskii WWW'11 in its join form): orient
    * each edge low→high by (degree, id), wedge-join out-edges on the
    * middle node, close with a third join — every triangle counted
    * exactly once at its lowest-degree vertex, and wedge fan-out is
    * bounded by ORIENTED out-degree (O(√m) for any graph), never raw
    * hub degree. Exact integers: counts, and cc = 2·Δ(v)·10⁶ DIV
    * (d(v)·(d(v)−1)) in micro. Per-node rows for deg ≥ 2 nodes;
    * Σ n_tri = 3·Δ and a hand-built planted graph spec-pinned
    * (`GraphSpec`). */
  val q243Triangles: QueryDef = sql(
    "q243_triangles",
    """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |pairs AS (SELECT x.pk AS a, y.pk AS b FROM li x JOIN li y
      |            ON x.ok = y.ok AND x.pk < y.pk),
      |e AS (SELECT a, b FROM pairs GROUP BY a, b HAVING COUNT(*) >= 2),
      |deg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS d
      |        FROM (SELECT a AS v FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
      |o AS (SELECT
      |    CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b) THEN e.a ELSE e.b END AS u,
      |    CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b) THEN e.b ELSE e.a END AS v
      |  FROM e JOIN deg da ON e.a = da.v JOIN deg db ON e.b = db.v),
      |w AS (SELECT e1.u AS x, e1.v AS y, e2.v AS z
      |      FROM o e1 JOIN o e2 ON e2.u = e1.v),
      |t AS (SELECT w.x, w.y, w.z FROM w JOIN o e3 ON e3.u = w.x AND e3.v = w.z),
      |pn AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS tri
      |       FROM (SELECT x AS node FROM t UNION ALL SELECT y FROM t
      |             UNION ALL SELECT z FROM t) GROUP BY 1)
      |SELECT deg.v AS part, deg.d AS degree,
      |  CAST(COALESCE(pn.tri, 0) AS BIGINT) AS n_tri,
      |  (CAST(2000000 AS BIGINT) * COALESCE(pn.tri, 0)) // (deg.d * (deg.d - 1)) AS cc_micro
      |FROM deg LEFT JOIN pn ON pn.node = deg.v
      |WHERE deg.d >= 2
      |ORDER BY part""".stripMargin) { (s, dir) =>
    // pair generation rides q101's basket device: one orderkey shuffle +
    // C(basket,2) array expansion, never a corpus self-join
    val pairs = Analytics.pairsOf(Analytics.baskets(s, dir))
      .select(col("part_a").as("a"), col("part_b").as("b"))
    val e = pairs.groupBy(col("a"), col("b")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select(col("a"), col("b"))
    val (deg, nd) = e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).cast("long").as("d"))
      .stageBoundaryRows // core-node-sized; feeds both orient legs + final
    // degree relation is frequent-core-node-sized but still
    // data-proportional — gate the hint like the walkers above
    val lowFirst = col("da") < col("db") || (col("da") === col("db") && col("a") < col("b"))
    val o = e
      .join(gateBroadcast(deg.select(col("v").as("av"), col("d").as("da")), nd), col("a") === col("av"))
      .join(gateBroadcast(deg.select(col("v").as("bv"), col("d").as("db")), nd), col("b") === col("bv"))
      .select(when(lowFirst, col("a")).otherwise(col("b")).as("u"),
        when(lowFirst, col("b")).otherwise(col("a")).as("v"))
      // r11: o feeds THREE join legs (both wedge sides + the closing
      // edge) — un-materialized, each leg re-ran the whole basket →
      // pair → support-agg → orient chain as a parallel branch of one
      // job (the r10 multi-consumer lesson). Frequent-core-edge-sized.
      .stageBoundary
    val w = o.select(col("u").as("x"), col("v").as("y"))
      .join(o.select(col("u").as("y"), col("v").as("z")), Seq("y"))
    val t = w.join(o.select(col("u").as("x"), col("v").as("z")), Seq("x", "z"))
    val pn = t.select(col("x").as("node"))
      .unionAll(t.select(col("y").as("node")))
      .unionAll(t.select(col("z").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).cast("long").as("tri"))
    deg.filter(col("d") >= 2)
      .join(pn, col("v") === col("node"), "left")
      .select(col("v").as("part"), col("d").as("degree"),
        coalesce(col("tri"), lit(0L)).as("n_tri"),
        expr("(CAST(2000000 AS BIGINT) * coalesce(tri, 0L)) DIV (d * (d - 1))").as("cc_micro"))
      .orderBy(col("part"))
  }

  /** Multi-source BFS: exact minimum hop distance from a seed set, bounded
    * at `maxHops` — an upper bound on the rounds, since the search stops
    * early once a round discovers no new node (the k-hop neighborhood query — crawl-frontier depth,
    * "parts within 3 co-purchase hops of this catalog slice", blast-radius
    * analysis on a dependency graph). Unweighted shortest paths need no
    * priority queue: level-synchronous expansion IS Dijkstra here.
    *
    * Scale posture: each round expands ONLY the newly-discovered frontier
    * (a node enters exactly one frontier, so every edge is relaxed at most
    * once per endpoint discovery — total work O(m) across all rounds, not
    * O(m·rounds) as the naive expand-everything-known formulation pays; the
    * oracle keeps that full-union form, proving the two equal). The
    * accumulated distance relation is node-sized and eagerly
    * localCheckpoint-ed per round so round r's anti-join reads a
    * materialized frame, not an r-deep plan. The frontier join is gated
    * PER ROUND on the frontier's known size (observed on the frontier's
    * own boundary, so the count costs no job): a BFS frontier
    * starts seed-sized and can grow to graph-sized in two hops, so a
    * static hint is wrong in both directions — the first over-budget
    * round co-partitions the edges once ([[EdgePin]]) and later rounds
    * shuffle only the frontier. */
  def bfsDistances(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    val pin = new EdgePin(edges.cachedStageBoundary, "src")
    seminaive(counted(seeds.distinct().select(col("seed").as("node"), lit(0L).as("hops"))),
        maxHops) { (seen, h) =>
      val frontier = seen.delta
      val matched = pin.on("src", frontier.rows)
        .join(gateBroadcast(frontier.df.select(col("node").as("src")), frontier.rows), Seq("src"))
        .select(col("dst").as("node"))
      // r11 (guide §2.3 prune before the exchange): while the seen set
      // fits the broadcast budget, anti-join it BELOW the distinct — in
      // late rounds most matched endpoints are already discovered, and
      // dropping them map-side shrinks the distinct's shuffle to the
      // genuinely-new tail. Above the budget the anti-join would itself
      // shuffle the (larger) pre-distinct relation, so the order flips
      // back — both orders are exactly equal (the anti predicate is a
      // per-row filter on `node`, so dedup-then-filter ≡ filter-then-
      // dedup).
      (if (pin.fits(seen.all.rows))
          matched.join(gateBroadcast(seen.all.df.select(col("node")), seen.all.rows),
            Seq("node"), "left_anti").distinct()
        else
          matched.distinct().join(seen.all.df, Seq("node"), "left_anti"))
        .select(col("node"), lit(h.toLong).as("hops"))
    }.state.all.df
  }

  /** One unrolled oracle BFS round k over CTEs e/d{k-1}: the full-union
    * min-distance form (expand everything known, take MIN) — same fixpoint
    * as the frontier expansion, kept naive on purpose as the equality
    * proof. */
  private def bfsRoundSql(k: Int): String = {
    val prev = s"d${k - 1}"
    // MATERIALIZED: d_{k-1} is referenced twice per round (union + expand);
    // inlined CTEs would re-evaluate the edge chain 2^rounds times
    s"""d$k AS MATERIALIZED (SELECT node, MIN(dist) AS dist FROM (
       |    SELECT node, dist FROM $prev
       |    UNION ALL
       |    SELECT e.dst AS node, p.dist + 1 AS dist
       |    FROM $prev p JOIN e ON e.src = p.node) GROUP BY 1)""".stripMargin
  }

  /** Contract face of [[bfsDistances]]: hop distance from the 10 lowest
    * part keys (q188's seed slice) over the co-purchase graph, 4 hops.
    * Every (node, hops) pair is in the result, so one node discovered a
    * round early or late anywhere changes the hash. */
  val q263BfsHops: QueryDef = sql(
    "q263_bfs_hops",
    s"""WITH e AS (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM lineitem a JOIN lineitem b
       |    ON b.l_orderkey = a.l_orderkey AND b.l_partkey <> a.l_partkey),
       |deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY 1),
       |seeds AS (SELECT src AS node FROM deg ORDER BY src LIMIT 10),
       |d0 AS (SELECT node, 0 AS dist FROM seeds),
       |${bfsRoundSql(1)},
       |${bfsRoundSql(2)},
       |${bfsRoundSql(3)},
       |${bfsRoundSql(4)}
       |SELECT node AS part, CAST(dist AS BIGINT) AS hops
       |FROM d4
       |ORDER BY part""".stripMargin) { (s, dir) =>
    val edges = copurchaseEdges(s, dir)
    val seeds = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .orderBy(col("src")).limit(10).select(col("src").as("seed"))
    bfsDistances(edges, seeds, maxHops = 4)
      .select(col("node").as("part"), col("hops"))
      .orderBy(col("part"))
  }

  /** Local-bridge detection (Granovetter AJS 1973 "weak ties"; Easley &
    * Kleinberg ch. 3): an edge whose endpoints share NO common neighbor —
    * removing it lengthens its endpoints' connection to ≥ 3 hops, so
    * local bridges are the inter-community conduits (where the q153
    * communities touch) and the first edges a graph-partitioner may cut.
    * Runs on the same support-≥2 frequent core as q243: the support
    * filter bounds the wedge stage before any quadratic risk.
    *
    * One wedge semi-join decides everything: edge (a,b) is a local
    * bridge iff no x with a–x and b–x — a LEFT ANTI join of the edge
    * relation against the wedge closure, the exact complement of q243's
    * triangle-close inner join (shared cost shape, opposite selection).
    * Exact; endpoint degrees attached for the weak-tie reading. */
  /** Local bridges of an undirected unique-pair edge relation (a < b):
    * the edges whose endpoints share no common neighbor, with endpoint
    * degrees attached. See the q274 face doc for the algorithm shape. */
  def localBridges(edges: DataFrame): DataFrame = {
    val e = edges.select(col("a"), col("b")).stageBoundary
    val sym = e.select(col("a").as("u"), col("b").as("v"))
      .unionAll(e.select(col("b").as("u"), col("a").as("v")))
    val (deg, nd) = sym.groupBy(col("u").as("node")).agg(count(lit(1)).cast("long").as("d"))
      .stageBoundaryRows // node-sized; feeds both endpoint joins
    // wedge closure keyed on the shared neighbor; the anti join keeps
    // exactly the edges q243's triangle join would drop
    val closed = e
      .join(sym.select(col("u").as("a"), col("v").as("x")), Seq("a"))
      .join(sym.select(col("u").as("b"), col("v").as("x")), Seq("b", "x"))
      .select(col("a"), col("b")).distinct()
    e.join(closed, Seq("a", "b"), "left_anti")
      .join(gateBroadcast(deg.select(col("node").as("a"), col("d").as("deg_a")), nd), Seq("a"))
      .join(gateBroadcast(deg.select(col("node").as("b"), col("d").as("deg_b")), nd), Seq("b"))
      .select(col("a"), col("b"), col("deg_a"), col("deg_b"))
  }

  val q274LocalBridges: QueryDef = sql(
    "q274_local_bridges",
    """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |pairs AS (SELECT x.pk AS a, y.pk AS b FROM li x JOIN li y
      |            ON x.ok = y.ok AND x.pk < y.pk),
      |e AS (SELECT a, b FROM pairs GROUP BY a, b HAVING COUNT(*) >= 2),
      |sym AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
      |deg AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY 1),
      |closed AS (SELECT DISTINCT e.a, e.b
      |           FROM e JOIN sym na ON na.u = e.a JOIN sym nb ON nb.u = e.b
      |           WHERE na.v = nb.v)
      |SELECT e.a, e.b, da.d AS deg_a, db.d AS deg_b
      |FROM e
      |LEFT JOIN closed c ON c.a = e.a AND c.b = e.b
      |JOIN deg da ON da.node = e.a
      |JOIN deg db ON db.node = e.b
      |WHERE c.a IS NULL
      |ORDER BY e.a, e.b""".stripMargin) { (s, dir) =>
    val pairs = Analytics.pairsOf(Analytics.baskets(s, dir))
      .select(col("part_a").as("a"), col("part_b").as("b"))
    val e = pairs.groupBy(col("a"), col("b")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select(col("a"), col("b"))
    localBridges(e).orderBy(col("a"), col("b"))
  }

  /** TextRank keyword extraction (Mihalcea & Tarau EMNLP 2004): the
    * fixed-point PageRank walker ([[pagerank]] — node type is generic,
    * so word STRINGS walk unchanged) over the word-adjacency graph of
    * the English corpus slice — keywords are words central to the
    * corpus's own co-occurrence structure, no training, no frequency
    * cutoffs (TF-IDF q99 ranks by rarity; TextRank ranks by graph
    * centrality — the two disagree exactly where it's interesting).
    * Candidate words are lowercase-alphabetic, length ≥ 4 (the paper's
    * syntactic filter, made deterministic); edges are distinct adjacent
    * pairs, symmetric. Same exact-integer trajectory, same per-round
    * cost shape, same oracle CTEs as q143.
    *
    * Scale posture: the corpus pass is the bigram explode (one scan);
    * the graph is vocabulary-sized, the walk rounds move only the
    * node-sized rank relation. */
  val q279Textrank: QueryDef = sql(
    "q279_textrank",
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE lang = 'en'),
       |adj AS (
       |  SELECT w[i] AS wa, w[i + 1] AS wb
       |  FROM toks, UNNEST(range(1, len(w))) AS t(i)),
       |fil AS (
       |  SELECT wa, wb FROM adj
       |  WHERE regexp_full_match(wa, '[a-z]{4,}') AND regexp_full_match(wb, '[a-z]{4,}')
       |    AND wa <> wb),
       |e AS (SELECT DISTINCT wa AS src, wb AS dst FROM fil
       |      UNION SELECT DISTINCT wb, wa FROM fil),
       |deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY 1),
       |r0 AS (SELECT src AS part, CAST($RankScale AS BIGINT) AS rank FROM deg),
       |${roundSql(1)},
       |${roundSql(2)},
       |${roundSql(3)}
       |SELECT r.part AS word, r.rank, deg.d AS degree
       |FROM r3 r JOIN deg ON deg.src = r.part
       |ORDER BY r.rank DESC, word
       |LIMIT 50""".stripMargin) { (s, dir) =>
    val word = "^[a-z]{4,}$"
    val adj = Tables.fanOut(Tables.documents(s, dir))
      .filter(col("lang") === "en")
      .withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) >= 2) // sequence(0, -1) would count DOWN
      .select(explode(expr(
        "transform(sequence(0, size(w) - 2), i -> named_struct('wa', w[i], 'wb', w[i + 1]))")).as("p"))
      .select(col("p.wa").as("wa"), col("p.wb").as("wb"))
      .filter(col("wa").rlike(word) && col("wb").rlike(word) && col("wa") =!= col("wb"))
    // symmetrize with ONE explode instead of a two-branch union (r10):
    // the union re-ran the whole bigram explode + regex filter per
    // branch (the corpus pass, twice) — emitting both orientations from
    // one pass yields the identical distinct edge set
    val e = adj.select(explode(array(
        struct(col("wa").as("src"), col("wb").as("dst")),
        struct(col("wb").as("src"), col("wa").as("dst")))).as("x"))
      .select(col("x.src").as("src"), col("x.dst").as("dst"))
      .distinct()
    pagerank(e, rounds = 3)
      .select(col("part").as("word"), col("rank"), col("degree"))
      .orderBy(col("rank").desc, col("word"))
      .limit(50)
  }

  /** DIRECTED fixed-point PageRank with the standard DANGLING-MASS
    * redistribution term (Page et al. 1999 §2.1.1; the crawl-graph
    * reality the symmetric co-purchase walkers never face): on a
    * directed edge relation some nodes have NO out-edges, and without
    * redistribution their rank mass simply vanishes each round —
    * ranks leak toward the teleport floor and the totals stop being
    * comparable across graphs. Here every round sums the dangling
    * nodes' rank D and hands each node floor(D/|V|) alongside its
    * in-edge contributions:
    *   rank' = 150000 + floor(0.85 · (Σ_in floor(rank/outdeg) + D DIV |V|))
    * — still an exact integer trajectory (the q143 device): D is an
    * exact BIGINT sum, the share an integer division, and the damping
    * blend the same single floored double expression both engines.
    *
    * Scale posture: node set = src ∪ dst built once; per round one
    * gated node-relation join into the pinned (and, over budget,
    * src-co-partitioned) edges, one dst-keyed map-side-combined sum,
    * and a ONE-ROW dangling aggregate that rides a broadcast — the
    * redistribution adds no corpus-scale stage. Returns
    * (part, rank, out_degree) with out_degree = 0 for dangling nodes. */
  def pagerankDirected(edges: DataFrame, rounds: Int): DataFrame = {
    val raw = edges.cachedStageBoundary
    val deg = raw.groupBy(col("src")).agg(count(lit(1)).as("d")).cachedStageBoundary
    val (nodes, nV) = raw.select(col("src").as("part"))
      .unionAll(raw.select(col("dst").as("part")))
      .distinct()
      .stageBoundaryRows // node-sized; seeds init AND every round's blend
    val e = new EdgePin(raw, "src").on("src", nV)
    var rank = nodes.withColumn("rank", lit(RankScale))
    for (_ <- 1 to rounds) {
      val withDeg = rank.join(deg, rank("part") === deg("src"), "left")
        .select(col("part"), col("rank"), col("d"))
      val contrib = e
        .join(gateBroadcast(withDeg.filter(col("d").isNotNull)
          .withColumn("c", expr("CAST(FLOOR(CAST(rank AS DOUBLE) / d) AS BIGINT)"))
          .select(col("part").as("src"), col("c")), nV), Seq("src"))
        .groupBy(col("dst")).agg(sum(col("c")).as("inc"))
      val dang = withDeg.filter(col("d").isNull)
        .agg(coalesce(sum(col("rank")), lit(0L)).as("dm"))
      rank = nodes
        .join(contrib, col("part") === contrib("dst"), "left")
        .crossJoin(broadcast(dang))
        .select(col("part"),
          (lit(150000L) + expr(
            s"CAST(FLOOR(0.85D * CAST(COALESCE(inc, CAST(0 AS BIGINT)) + dm DIV ${nV}L AS DOUBLE)) AS BIGINT)")).as("rank"))
    }
    rank.join(deg, rank("part") === deg("src"), "left")
      .select(col("part"), col("rank"), coalesce(col("d"), lit(0L)).as("out_degree"))
  }

  /** One unrolled oracle directed round k over CTEs e/deg/nodes/st. */
  private def dirRoundSql(k: Int): String = {
    val prev = s"r${k - 1}"
    s"""c$k AS (SELECT e.dst, CAST(FLOOR(CAST(r.rank AS DOUBLE) / deg.d) AS BIGINT) AS c
       |  FROM $prev r JOIN deg ON deg.src = r.part JOIN e ON e.src = r.part),
       |s$k AS (SELECT dst, CAST(SUM(c) AS BIGINT) AS inc FROM c$k GROUP BY 1),
       |dg$k AS (SELECT CAST(COALESCE(SUM(r.rank), 0) AS BIGINT) AS dm
       |  FROM $prev r LEFT JOIN deg ON deg.src = r.part WHERE deg.src IS NULL),
       |r$k AS (SELECT n.part,
       |    150000 + CAST(FLOOR(0.85 * CAST(COALESCE(s.inc, 0) + dg$k.dm // st.nv AS DOUBLE)) AS BIGINT) AS rank
       |  FROM nodes n LEFT JOIN s$k s ON s.dst = n.part, dg$k, st)""".stripMargin
  }

  /** Contract face of [[pagerankDirected]]: 3 rounds over the DIRECTED
    * word-adjacency graph of the English corpus slice (q279's bigrams
    * kept one-way, so words that only ever END a bigram are genuine
    * dangling nodes), top 100 by rank. The ranks hash the dangling sum
    * of every round — dropping or mis-flooring the redistribution
    * anywhere reshuffles the leaderboard. */
  val q325DirectedPagerank: QueryDef = sql(
    "q325_directed_pagerank",
    s"""WITH $wordEdgesSql,
       |deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY 1),
       |nodes AS (SELECT src AS part FROM e UNION SELECT dst FROM e),
       |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS nv FROM nodes),
       |r0 AS (SELECT part, CAST($RankScale AS BIGINT) AS rank FROM nodes),
       |${dirRoundSql(1)},
       |${dirRoundSql(2)},
       |${dirRoundSql(3)}
       |SELECT r.part AS word, r.rank,
       |  CAST(COALESCE(deg.d, 0) AS BIGINT) AS out_degree
       |FROM r3 r LEFT JOIN deg ON deg.src = r.part
       |ORDER BY r.rank DESC, word
       |LIMIT 100""".stripMargin) { (s, dir) =>
    pagerankDirected(wordDirectedEdges(s, dir), rounds = 3)
      .select(col("part").as("word"), col("rank"), col("out_degree"))
      .orderBy(col("rank").desc, col("word"))
      .limit(100)
  }

  /** Degree assortativity (Newman PRL 2002): the Pearson correlation of
    * endpoint degrees over the directed edge list of the frequent
    * co-purchase core — positive r means hubs sell with hubs (rich-club
    * catalogs), negative means hubs anchor stars of commodities, and
    * that sign decides whether q114-style hot-key salting hits a few
    * super-nodes or a whole connected tier. All six moments are exact
    * BIGINT sums over the support-≥2 core (degrees ≤ core size, no
    * overflow); r is one double expression of them, identical both
    * engines. */
  /** Degree-assortativity moments of an undirected unique-pair edge
    * relation (a < b): one row (n_directed_edges, sum_xy, r). See the
    * q281 face doc. */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    val e = edges.select(col("a"), col("b"))
    val sym = e.select(col("a").as("u"), col("b").as("v"))
      .unionAll(e.select(col("b").as("u"), col("a").as("v")))
      .stageBoundary // core-sized; feeds deg AND the moment join
    val (deg, nd) = sym.groupBy(col("u").as("node")).agg(count(lit(1)).cast("long").as("d"))
      .stageBoundaryRows // node-sized; feeds both moment-join legs
    val ed = sym
      .join(gateBroadcast(deg.select(col("node").as("u"), col("d").as("x")), nd), Seq("u"))
      .join(gateBroadcast(deg.select(col("node").as("v"), col("d").as("y")), nd), Seq("v"))
    ed.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("n").as("n_directed_edges"), col("sxy").as("sum_xy"),
        expr("""(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               | / SQRT((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               |      * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"""
          .stripMargin).as("r"))
  }

  val q281Assortativity: QueryDef = sql(
    "q281_assortativity",
    """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |pairs AS (SELECT x.pk AS a, y.pk AS b FROM li x JOIN li y
      |            ON x.ok = y.ok AND x.pk < y.pk),
      |e AS (SELECT a, b FROM pairs GROUP BY a, b HAVING COUNT(*) >= 2),
      |sym AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
      |deg AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY 1),
      |ed AS (SELECT du.d AS x, dv.d AS y FROM sym
      |       JOIN deg du ON du.node = sym.u JOIN deg dv ON dv.node = sym.v),
      |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |        CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
      |        CAST(SUM(x * y) AS BIGINT) AS sxy,
      |        CAST(SUM(x * x) AS BIGINT) AS sxx,
      |        CAST(SUM(y * y) AS BIGINT) AS syy
      |      FROM ed)
      |SELECT n AS n_directed_edges, sxy AS sum_xy,
      |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |  / SQRT((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |       * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS r
      |FROM m""".stripMargin) { (s, dir) =>
    val pairs = Analytics.pairsOf(Analytics.baskets(s, dir))
      .select(col("part_a").as("a"), col("part_b").as("b"))
    val e = pairs.groupBy(col("a"), col("b")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select(col("a"), col("b"))
    degreeAssortativity(e)
  }

  /** At most `rounds` synchronous peel rounds toward the k-core (Seidman
    * Social Networks 1983; the Batagelj–Zaveršnik peel expressed as
    * whole-relation rounds): repeatedly delete every node with degree < k
    * and every edge touching one. Returns the surviving edge relation.
    * `rounds` is an upper bound, not a fixed count: the loop stops at the
    * fixpoint, as soon as a round leaves the edge count unchanged or the
    * edge set is empty. Each round's output is a subset of its input, so
    * an unchanged count means an unchanged set, and the peel is
    * IDEMPOTENT there (extra rounds change nothing) — the result equals
    * the fixed-budget peel's, which RobustStatsSpec pins. The counts come
    * from the boundaries themselves ([[converge]]), so the exit test
    * adds no job. Per round: one degree aggregate + two semi-joins,
    * only the shrinking edge relation moves. This is the distributed
    * loop at any size; [[kcore]] is the size-gated entry point. */
  def kcoreEdges(edges: DataFrame, k: Int, rounds: Int): DataFrame =
    peel(counted(edges.select(col("a"), col("b"))), k, rounds)

  private def peel(e0: Counted, k: Int, rounds: Int): DataFrame =
    converge(e0, rounds) { (e, _) =>
      val keep = endpointDegrees(e.df).filter(col("d") >= k).select(col("v"))
      e.df.join(keep.select(col("v").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("v").as("b")), Seq("b"), "left_semi")
        .select(col("a"), col("b"))
    }.state.df

  /** (v, d): each endpoint of `e(a, b)` with its multiset degree. */
  private def endpointDegrees(e: DataFrame): DataFrame =
    e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))

  /** The k-core's members, each with its within-core degree: `(v,
    * core_degree)` ordered by `v`, after the [[kcoreEdges]] peel. The
    * edge relation is counted once at its boundary; when it fits the
    * driver finish ([[driverRows]]) and its key type
    * [[groupsByValue]], the peel and the degree tally run
    * on the driver — the same rounds, fixpoint exit and round cap — and
    * return a local frame already in order (a Spark sort over a local
    * relation would cost 3 jobs). Otherwise [[kcoreEdges]]'
    * distributed loop runs on that same boundary. Both paths keep the
    * relational semantics and the same schema: an edge's null endpoint
    * counts toward nothing and matches no semi-join, so the edge adds to
    * its other endpoint's degree in the round and then drops; duplicate
    * edges count in the multiset degree. */
  def kcore(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    val e0 = counted(edges.select(col("a"), col("b")))
    def tally(e: DataFrame) = endpointDegrees(e).withColumnRenamed("d", "core_degree")
    val schema = tally(e0.df).schema
    val vType = schema("v").dataType
    val onDriver = if (!groupsByValue(vType)) None
      else driverRows(Counted(e0.df.select(col("a").cast(vType), col("b").cast(vType)), e0.rows))
    onDriver match {
      case Some(rows) => e0.df.sparkSession.createDataFrame(
        java.util.Arrays.asList(peelOnDriver(rows, k, rounds, vType): _*), schema)
      case None => tally(peel(e0, k, rounds)).orderBy(col("v"))
    }
  }

  /** Whether Catalyst values of `t` group by their JVM equality exactly
    * as Spark groups and joins them. Not so for binary (arrays compare by
    * reference), float and double (Spark folds -0.0 into 0.0), collated
    * strings or complex types; those keys take the distributed path. */
  private def groupsByValue(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType | BooleanType | DateType |
         TimestampType | TimestampNTZType | StringType | _: DecimalType => true
    case _ => false
  }

  /** [[peel]] and the degree tally over collected edges, in Spark's
    * semantics for a key type that [[groupsByValue]]: keys compare as
    * Catalyst values (Spark's grouping equality and sort order), a null
    * endpoint is a degree group of its own but survives no round, and
    * the rows come out ordered by `v`, nulls first. */
  private def peelOnDriver(rows: Array[Row], k: Int, rounds: Int, vType: DataType): Seq[Row] = {
    val in = CatalystTypeConverters.createToCatalystConverter(vType)
    val out = CatalystTypeConverters.createToScalaConverter(vType)
    def degrees(e: Seq[(Any, Any)]) = e.flatMap { case (a, b) => Seq(a, b) }
      .groupMapReduce(identity)(_ => 1L)(_ + _)
    var settled = rows.isEmpty
    val core = iterate(rows.toSeq.map(r => (in(r.get(0)), in(r.get(1)))), rounds)(_ => settled) {
      (e, _) =>
        val d = degrees(e)
        def live(v: Any) = v != null && d(v) >= k
        val next = e.filter { case (a, b) => live(a) && live(b) }
        settled = next.isEmpty || next.size == e.size
        next
    }.state
    val byV = PhysicalDataType.ordering(vType)
    degrees(core).toSeq
      .sortWith { case ((x, _), (y, _)) => if (x == null) y != null else y != null && byV.lt(x, y) }
      .map { case (v, d) => Row(out(v), d) }
  }

  /** One unrolled oracle peel round r over CTEs e{r-1} at threshold k. */
  private def kcoreRoundSql(r: Int, k: Int): String = {
    val prev = s"e${r - 1}"
    // MATERIALIZED: each round references its predecessor three times
    // (two degree legs + the edge filter); DuckDB inlines plain CTEs, so
    // an un-materialized 4-round unroll re-evaluates the base pair
    // self-join 3^4 times and spills unboundedly at sf0.1
    s"""d$r AS MATERIALIZED (SELECT v, COUNT(*) AS d FROM (
       |    SELECT a AS v FROM $prev UNION ALL SELECT b FROM $prev) GROUP BY 1),
       |k$r AS MATERIALIZED (SELECT v FROM d$r WHERE d >= $k),
       |e$r AS MATERIALIZED (SELECT e.a, e.b FROM $prev e
       |        JOIN k$r x ON x.v = e.a JOIN k$r y ON y.v = e.b)""".stripMargin
  }

  /** Contract face of [[kcore]]: the 3-core of the frequent
    * co-purchase graph after 4 peel rounds — the "stable bundle nucleus"
    * (every surviving part co-sells with ≥ 3 other survivors; the
    * clustering-coefficient view is q243, the cohesion view is this).
    * Emits each core member with its within-core degree. */
  val q282KCore: QueryDef = sql(
    "q282_kcore",
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |pairs AS (SELECT x.pk AS a, y.pk AS b FROM li x JOIN li y
       |            ON x.ok = y.ok AND x.pk < y.pk),
       |e0 AS MATERIALIZED (SELECT a, b FROM pairs GROUP BY a, b HAVING COUNT(*) >= 2),
       |${kcoreRoundSql(1, 3)},
       |${kcoreRoundSql(2, 3)},
       |${kcoreRoundSql(3, 3)},
       |${kcoreRoundSql(4, 3)}
       |SELECT v AS part, CAST(d AS BIGINT) AS core_degree FROM (
       |  SELECT v, COUNT(*) AS d FROM (
       |    SELECT a AS v FROM e4 UNION ALL SELECT b FROM e4) GROUP BY 1)
       |ORDER BY part""".stripMargin) { (s, dir) =>
    val pairs = Analytics.pairsOf(Analytics.baskets(s, dir))
      .select(col("part_a").as("a"), col("part_b").as("b"))
    val e0 = pairs.groupBy(col("a"), col("b")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select(col("a"), col("b"))
    kcore(e0, k = 3, rounds = 4).select(col("v").as("part"), col("core_degree"))
  }

  /** Walker convergence audit: the L1 and max rank movement of each
    * PageRank round on the co-purchase graph — the numeric-analysis
    * companion to q143 that answers "how many rounds does THIS graph
    * need" with data instead of folklore (the damping factor bounds the
    * contraction at 0.85 per round; the audit shows the measured ratio,
    * which is what a production round budget should be set from).
    * Rank trajectories are the same exact micro integers as q143, so
    * every delta is an exact BIGINT; rounds share the one persisted
    * edge relation and only node-sized rank frames join per round. */
  val q302WalkerConvergence: QueryDef = sql(
    "q302_walker_convergence",
    s"""WITH e AS (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM lineitem a JOIN lineitem b
       |    ON b.l_orderkey = a.l_orderkey AND b.l_partkey <> a.l_partkey),
       |deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY 1),
       |r0 AS (SELECT src AS part, CAST($RankScale AS BIGINT) AS rank FROM deg),
       |${roundSql(1)},
       |${roundSql(2)},
       |${roundSql(3)},
       |d1 AS (SELECT 1 AS round, CAST(SUM(ABS(r1.rank - r0.rank)) AS BIGINT) AS l1,
       |         CAST(MAX(ABS(r1.rank - r0.rank)) AS BIGINT) AS linf
       |       FROM r1 JOIN r0 ON r0.part = r1.part),
       |d2 AS (SELECT 2, CAST(SUM(ABS(r2.rank - r1.rank)) AS BIGINT),
       |         CAST(MAX(ABS(r2.rank - r1.rank)) AS BIGINT)
       |       FROM r2 JOIN r1 ON r1.part = r2.part),
       |d3 AS (SELECT 3, CAST(SUM(ABS(r3.rank - r2.rank)) AS BIGINT),
       |         CAST(MAX(ABS(r3.rank - r2.rank)) AS BIGINT)
       |       FROM r3 JOIN r2 ON r2.part = r3.part)
       |SELECT CAST(round AS BIGINT) AS round, l1 AS l1_delta, linf AS max_delta
       |FROM (SELECT * FROM d1 UNION ALL SELECT * FROM d2 UNION ALL SELECT * FROM d3)
       |ORDER BY round""".stripMargin) { (s, dir) =>
    import s.implicits._
    // one shared edge/degree pass; ranks for rounds 0..3 captured via
    // the SAME gated round body as q143/q188 ([[walkRound]])
    val (e, deg, n) = pinEdges(copurchaseEdges(s, dir))
    val seeded = deg.select(col("src").as("part"), lit(150000L).as("tele"))
    var rank = deg.select(col("src").as("part"), lit(RankScale).as("rank"))
    val rounds = scala.collection.mutable.ArrayBuffer(rank)
    for (_ <- 1 to 3) {
      rank = walkRound(e, deg, seeded, rank, n)
        .stageBoundary // node-sized; referenced by TWO deltas
      rounds += rank
    }
    val deltas = (1 to 3).map { k =>
      val prev = rounds(k - 1).select(col("part"), col("rank").as("pr"))
      rounds(k).join(prev, Seq("part"))
        .agg(sum(abs(col("rank") - col("pr"))).as("l1"),
          max(abs(col("rank") - col("pr"))).as("linf"))
        .select(lit(k.toLong).as("round"), col("l1").as("l1_delta"),
          col("linf").as("max_delta"))
    }
    deltas.reduce(_ unionAll _).orderBy(col("round"))
  }

  /** Hierarchy rollup via POINTER DOUBLING (the PRAM pointer-jumping
    * trick; Valiant's list-ranking lineage): subtree revenue for every
    * node of the part hierarchy parent(k) = k ÷ 4. A sequential BOM
    * explosion walks the tree depth-first; the distributed form builds
    * the ancestor closure in ⌈log₂ depth⌉ self-join rounds — R_{i+1} =
    * R_i ∪ R_i∘R_i doubles the covered distance: r1 covers distance 1,
    * each later round doubles, so FIVE rounds (r1 + four doublings)
    * reach depth 16 (part keys to 4¹⁶ ≈ 4.3·10⁹ — beyond any SF's key
    * space; SF1's 200 000 keys need depth 9, which four doublings'
    * depth-8 cover silently truncated) where the naive one-level-per-
    * round iteration would need 16 — 5 vs 16 shuffle barriers at
    * 100 TB. Closure size is Σ depth(n) ≈ n·log₄ n rows.
    * Exact cents; each node's rollup = own revenue + descendants'. */
  val q312HierarchyRollup: QueryDef = {
    def dblSql(i: Int): String = {
      val prev = s"r${i - 1}"
      // MATERIALIZED: each doubling references its predecessor three times
      s"""r$i AS MATERIALIZED (SELECT DISTINCT * FROM (
         |    SELECT c, p FROM $prev
         |    UNION ALL
         |    SELECT a.c, b.p FROM $prev a JOIN $prev b ON b.c = a.p))""".stripMargin
    }
    sql(
      "q312_hierarchy_rollup",
      s"""WITH rev AS (
         |  SELECT l_partkey AS node,
         |    CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
         |  FROM lineitem GROUP BY 1),
         |v AS (
         |  SELECT p.p_partkey AS node, CAST(COALESCE(rev.cents, 0) AS BIGINT) AS cents
         |  FROM part p LEFT JOIN rev ON rev.node = p.p_partkey),
         |r1 AS (SELECT node AS c, node // 4 AS p FROM v WHERE node // 4 <> node),
         |${dblSql(2)},
         |${dblSql(3)},
         |${dblSql(4)},
         |${dblSql(5)},
         |sub AS (
         |  SELECT r5.p AS node, CAST(COUNT(*) AS BIGINT) AS n_desc,
         |    CAST(SUM(v.cents) AS BIGINT) AS desc_cents
         |  FROM r5 JOIN v ON v.node = r5.c
         |  GROUP BY 1)
         |SELECT sub.node, sub.n_desc,
         |  CAST(COALESCE(v.cents, 0) + sub.desc_cents AS BIGINT) AS subtree_cents
         |FROM sub LEFT JOIN v ON v.node = sub.node
         |ORDER BY sub.node""".stripMargin) { (s, dir) =>
      val rev = Tables.lineitem(s, dir)
        .groupBy(col("l_partkey").as("node"))
        .agg(sum(expr("CAST(FLOOR(l_extendedprice * 100) AS BIGINT)")).as("cents"))
      // nodes come from the DENSE part table: an unsold intermediate part
      // must still relay its subtree upward, so the closure cannot be
      // seeded from observed lineitem keys alone
      val v = Tables.part(s, dir).select(col("p_partkey").as("node"))
        .join(rev, Seq("node"), "left")
        .select(col("node"), coalesce(col("cents"), lit(0L)).as("cents"))
        .stageBoundary // node-sized; closure seed AND both rollup sides
      var r = v.select(col("node").as("c"), expr("node DIV 4").as("p"))
        .filter(col("c") =!= col("p"))
      for (_ <- 2 to 5) {
        r = r.unionAll(
            r.select(col("c"), col("p").as("m"))
              .join(r.select(col("c").as("m"), col("p")), Seq("m"))
              .select(col("c"), col("p")))
          .distinct()
          .stageBoundary // closure-sized; both sides of the next round
          // (kept on the LAST doubling too: an r10 A/B of dropping it
          // measured 1.67 → 2.28 s — the known-size LogicalRDD buys the
          // rollup join a better plan than the barrier costs)
      }
      val sub = r.join(v.select(col("node").as("c"), col("cents")), Seq("c"))
        .groupBy(col("p").as("node"))
        .agg(count(lit(1)).as("n_desc"), sum(col("cents")).as("desc_cents"))
      sub.join(v.select(col("node"), col("cents")), Seq("node"), "left")
        .select(col("node"), col("n_desc"),
          (coalesce(col("cents"), lit(0L)) + col("desc_cents")).as("subtree_cents"))
        .orderBy(col("node"))
    }
  }

  /** PER-SEED BFS ([[bfsDistances]] generalized from min-over-the-set
    * to per-seed distances): state and frontier are (seed, node) keyed,
    * so memory is |seeds| × reach — the standard sampled-centrality
    * budget. Same round mechanics: the semi-naive driver
    * ([[seminaive]]: frontier-only expansion, per-round
    * localCheckpoint, the empty-frontier exit before `maxHops`) and the
    * gated frontier broadcast against the edge pin ([[EdgePin]]). */
  private[graft] def bfsPerSeed(edges: DataFrame, seeds: DataFrame,
                                maxHops: Int): DataFrame = {
    val pin = new EdgePin(edges.cachedStageBoundary, "src")
    seminaive(counted(seeds.distinct()
        .select(col("seed"), col("seed").as("node"), lit(0L).as("hops"))), maxHops) { (seen, h) =>
      // NOTE (r11 A/B): the bfsDistances prune-below-the-distinct device
      // was tried here too and measured WORSE (5.14 → 5.63 s at sf0.1,
      // corroborated) — the per-seed anti side is (seed, node)-keyed and
      // ~|seeds|× larger, so the per-round broadcast build of the
      // growing accumulated relation costs more than the distinct
      // shuffle it saves. Kept in the min-over-set BFS only.
      val frontier = seen.delta
      pin.on("src", frontier.rows)
        .join(gateBroadcast(frontier.df.select(col("seed"), col("node").as("src")),
          frontier.rows), Seq("src"))
        .select(col("seed"), col("dst").as("node")).distinct()
        .join(seen.all.df, Seq("seed", "node"), "left_anti")
        .select(col("seed"), col("node"), lit(h.toLong).as("hops"))
    }.state.all.df
  }

  /** One unrolled per-seed oracle BFS round k over CTEs e/h{k−1}. */
  private def seedRoundSql(k: Int): String = {
    val prev = s"h${k - 1}"
    s"""h$k AS MATERIALIZED (SELECT seed, node, MIN(dist) AS dist FROM (
       |    SELECT seed, node, dist FROM $prev
       |    UNION ALL
       |    SELECT p.seed, e.dst AS node, p.dist + 1 AS dist
       |    FROM $prev p JOIN e ON e.src = p.node) GROUP BY 1, 2)""".stripMargin
  }

  /** Harmonic centrality (Boldi & Vigna, Internet Math. 2014 —
    * "Axioms for centrality" names it the one that behaves on
    * disconnected graphs) of the q263 seed slice over the co-purchase
    * graph: H(u) = Σ_{v≠u} 1/d(u,v), truncated at 4 hops, in exact
    * micro-units (Σ 1000000 DIV d — integer division, documented; the
    * q143 exact-trajectory discipline). Unreachable nodes contribute 0
    * naturally — the property that makes harmonic the production
    * choice over closeness, whose 1/Σd blows up per component.
    *
    * Scale posture: sampled-seed centrality is the standard 100 TB
    * shape (per-seed BFS state = |seeds| × reach, here 10 × n at
    * worst); all-nodes exact centrality is quadratic and is exactly
    * what this operator exists to avoid. Frontier joins are gated like
    * every walker. */
  val q340HarmonicCentrality: QueryDef = sql(
    "q340_harmonic_centrality",
    s"""WITH e AS (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM lineitem a JOIN lineitem b
       |    ON b.l_orderkey = a.l_orderkey AND b.l_partkey <> a.l_partkey),
       |deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY 1),
       |seeds AS (SELECT src AS seed FROM deg ORDER BY src LIMIT 10),
       |h0 AS (SELECT seed, seed AS node, 0 AS dist FROM seeds),
       |${seedRoundSql(1)},
       |${seedRoundSql(2)},
       |${seedRoundSql(3)},
       |${seedRoundSql(4)}
       |SELECT seed, CAST(COUNT(*) AS BIGINT) AS n_reached,
       |  CAST(SUM(1000000 // dist) AS BIGINT) AS harmonic_micro
       |FROM h4 WHERE dist > 0
       |GROUP BY 1
       |ORDER BY seed""".stripMargin) { (s, dir) =>
    val edges = copurchaseEdges(s, dir)
    val seeds = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .orderBy(col("src")).limit(10).select(col("src").as("seed"))
    bfsPerSeed(edges, seeds, maxHops = 4)
      .filter(col("hops") > 0)
      .groupBy(col("seed"))
      .agg(count(lit(1)).as("n_reached"),
        sum(expr("1000000L DIV hops")).as("harmonic_micro"))
      .orderBy(col("seed"))
  }

  /** Distributed cycle detection by doubling reachability — the
    * integrity check a hierarchy ingest runs BEFORE q312's rollup
    * (pointer doubling on a cyclic parent graph never converges; a
    * sequential DFS would find the cycle but takes depth-many steps):
    * build the closure R ← R ∪ R∘R and report every node with a
    * self-path (x, x). The fixture hierarchy parent(k) = k÷4 is a
    * forest — acyclic by construction — so cycles are PLANTED
    * deterministically (the q341 device): every part key k ≥ 16 with
    * k % 97 == 0 gains a back edge k÷16 → k, closing the 3-cycle
    * {k, k÷4, k÷16}. The audit must find EXACTLY the planted cycle
    * members: a missed back edge, an extra closure row, or a doubling
    * that overshoots all change the set.
    *
    * Two doublings cover path length 4 > the planted cycle length 3;
    * closure size stays Σ min(depth, 4) — bounded rows per node, NOT
    * the full ancestor closure, because detection only needs paths as
    * long as the longest cycle it guards against (documented bound:
    * cycles longer than 4 need another round). Exact integers. */
  val q347CycleDetection: QueryDef = sql(
    "q347_cycle_detection",
    """WITH keys AS (SELECT DISTINCT p_partkey AS k FROM part),
      |fwd AS (SELECT k AS src, k // 4 AS dst FROM keys WHERE k >= 1),
      |back AS (SELECT k // 16 AS src, k AS dst FROM keys WHERE k >= 16 AND k % 97 = 0),
      |e AS (SELECT src, dst FROM fwd UNION SELECT src, dst FROM back),
      |r1 AS (SELECT src, dst FROM e),
      |r2 AS MATERIALIZED (
      |  SELECT src, dst FROM r1
      |  UNION
      |  SELECT a.src, b.dst FROM r1 a JOIN r1 b ON b.src = a.dst),
      |r3 AS MATERIALIZED (
      |  SELECT src, dst FROM r2
      |  UNION
      |  SELECT a.src, b.dst FROM r2 a JOIN r2 b ON b.src = a.dst)
      |SELECT src AS node FROM r3 WHERE src = dst
      |ORDER BY node""".stripMargin) { (s, dir) =>
    val keys = Tables.part(s, dir).select(col("p_partkey").as("k")).distinct()
      .stageBoundary // key-sized; feeds both edge relations
    val fwd = keys.filter(col("k") >= 1)
      .select(col("k").as("src"), expr("k DIV 4").as("dst"))
    val back = keys.filter(col("k") >= 16 && col("k") % 97 === 0)
      .select(expr("k DIV 16").as("src"), col("k").as("dst"))
    var r = fwd.unionByName(back).distinct().stageBoundary
    for (_ <- 1 to 2) {
      r = r.unionByName(
          r.select(col("src"), col("dst").as("m"))
            .join(r.select(col("src").as("m"), col("dst")), Seq("m"))
            .select(col("src"), col("dst")))
        .distinct()
        .stageBoundary // referenced twice next round (union + both join sides)
    }
    r.filter(col("src") === col("dst")).select(col("src").as("node"))
      .orderBy(col("node"))
  }

  /** Convergence-variant cycle detection — certifies cycles of ANY
    * length (vs q347's documented ≤ 4 bound) WITHOUT materializing a
    * reachability closure: a node is on a cycle iff its strongly
    * connected component is nontrivial (or it carries a self-loop), so
    * this is one projection of [[sccCyclic]] — O(V) label state per
    * round instead of the closure's O(pairs) (the round-7 verdict's
    * scale finding: the closure reached 5.6M pairs over 20k nodes on
    * the dense fixture and is ~quadratic-prone on social-shaped
    * graphs). The pair-materializing [[transitiveClosureFixpoint]]
    * remains available for metadata-scale reachability questions,
    * behind its own pair budget. */
  def cycleDetectFixpoint(edges: DataFrame): DataFrame =
    sccCyclic(edges).select(col("node")).distinct().orderBy(col("node"))

  /** The full reachability closure to fixpoint by SEMI-NAIVE evaluation
    * (the Datalog delta rule: only last round's NEW pairs extend by one
    * edge; known pairs never rejoin). Returns the (src, dst) pair set.
    *
    * SCALE GATE: the closure's STATE is pair-proportional — ~quadratic
    * in nodes on dense graphs — so this is a METADATA-SCALE device
    * (FK/workflow graphs, catalogs), not a corpus-scale one. The
    * accumulated pair count is checked every round against `pairBudget`
    * (default 20M pairs ≈ the measured 5.6M-pair dense fixture with 3–4×
    * headroom) and RAISES
    * on breach, naming [[sccCyclic]] — which answers the cycle /
    * condensation questions with O(V) state — as the scale path.
    *
    * Why not doubling (R ← R ∪ R∘R, log₂(diameter) rounds)? Doubling's
    * self-join materializes Σ_m indeg(m)·outdeg(m) intermediate rows —
    * on a DENSE closure (the planted-cycle hierarchy reaches 5.6M pairs
    * over 20k nodes at sf0.1, where a root-loop makes most nodes reach
    * most ancestors) that is billions of rows and the first doubling
    * draft timed out exactly there. Semi-naive pays diameter-many
    * rounds (≈ 25 here; each a Δ ⋈ E with per-node fan-out ≤ the out-
    * degree) but every round is linear in the NEW pairs — the same
    * trade Datalog engines settled on. The edge relation rides the
    * walker broadcast budget ([[gateBroadcast]]): hinted under it,
    * co-partitioned shuffle join above it. Convergence = empty delta;
    * `maxRounds` is a runaway backstop that raises rather than
    * silently under-reporting. */
  def transitiveClosureFixpoint(edges: DataFrame, maxRounds: Int = 100,
      pairBudget: Long = 20000000L): DataFrame = {
    val e0 = counted(edges.select(col("src"), col("dst")).distinct())
    val e = gateBroadcast(e0.df.select(col("src").as("m"), col("dst")), e0.rows)
    // the budget check fires BEFORE the delta is folded into the closure
    // (ADVICE r8), and since r10 it counts the anti-joined DELTA —
    // disjoint from the closure by construction, so the two counts sum
    // to the EXACT post-union pair count (ADVICE r9: the previous bound
    // over-counted by the extension's overlap with known pairs, so a
    // dense late round rediscovering known pairs could abort a closure
    // whose true final size fits the budget). The materialized breach
    // footprint stays bounded: one checkpointed extension set plus its
    // anti-join subset, never the over-budget union.
    def withinBudget(seen: Seen, delta: Counted): Unit =
      require(seen.all.rows + delta.rows <= pairBudget,
        s"transitive closure would exceed the $pairBudget-pair state budget " +
          s"(${seen.all.rows} pairs + ${delta.rows} new) — pair-proportional state does not " +
          "scale on dense graphs; for cycle membership / SCC condensation use sccCyclic " +
          "(O(V) label state)")
    seminaive(e0, maxRounds, check = withinBudget) { (seen, _) =>
      val ext = seen.delta.df.select(col("src"), col("dst").as("m"))
        .join(e, Seq("m"))
        .select(col("src"), col("dst")).distinct().stageBoundary
      ext.join(seen.all.df, Seq("src", "dst"), "left_anti")
    }.orRaise(s"closure did not fixpoint within $maxRounds rounds").all.df
  }

  /** Strongly connected components by forward–backward reachability
    * COLORING (Fleischer, Hendrickson & Pınar 2000; the multi-pivot
    * distributed form of Hong et al. / Park et al. ICDE 2016; Orzan's
    * coloring step): per outer round (1) TRIM the subgraph to its
    * in-AND-out core — a node with no incoming or no outgoing edge is
    * a trivial SCC and can never cycle; (2) propagate forward the MAX
    * reaching node id to fixpoint (semi-naive: only changed colors
    * rejoin), partitioning the core into color classes; (3) from each
    * class root r (color(r) = r), sweep BACKWARD restricted to color-r
    * nodes — the reached set is EXACTLY SCC(r) (any v→…→r path with
    * color(v) = r stays inside color r: an intermediate w has r→w, so
    * color(w) ≥ r, and color(w) = c > r would imply c→w→r hence
    * color(r) ≥ c, contradiction); (4) emit the nontrivial reached
    * classes, peel ALL reached nodes, repeat on the remainder. State
    * per round is one (node, color) relation — O(V), never pairs —
    * which is the whole point vs [[transitiveClosureFixpoint]]: the
    * dense q358 fixture's closure is 5.6M pairs over 20k nodes and
    * ~quadratic-prone at social-graph scale, while these labels stay
    * node-linear at any density. Outer rounds = depth of the SCC
    * condensation chain (each round removes every color class's root
    * SCC); `maxOuter`/`maxInner` are runaway backstops that RAISE
    * rather than under-report.
    *
    * Returns (node, scc_id = min member) for every node ON A CYCLE —
    * members of nontrivial SCCs plus self-loop nodes. Acyclic nodes
    * are trivially singleton SCCs and are omitted (join back against
    * the node set if the total map is needed); this keeps the output
    * O(cyclic nodes) and is exactly the q358/q364 contract.
    *
    * Scale posture: trim and sweep joins put the NODE-sized relation
    * (core set, color delta, backward frontier) on the build side via
    * [[gateBroadcast]]; over budget the edge pin ([[EdgePin]], one per
    * outer round) co-partitions the subgraph on each join key (src for
    * the forward color join, dst for the backward sweep), so every
    * inner round shuffles only the shrinking label relation. */
  def sccCyclic(edges: DataFrame, maxOuter: Int = 64, maxInner: Int = 300): DataFrame = {
    val eAll = edges.select(col("src"), col("dst")).distinct().cachedStageBoundary
    val selfLoops = eAll.filter(col("src") === col("dst"))
      .select(col("src").as("node")).distinct().stageBoundary
    val sub0 = counted(eAll.filter(col("src") =!= col("dst")))
    val emptyOut = sub0.df.limit(0)
      .select(col("src").as("node"), col("dst").as("scc_id"))
    eAll.unpersist()
    // (1) trim to the in-and-out core, to fixpoint
    def trim(sub: Counted): Counted = converge(sub, Int.MaxValue) { (t, _) =>
      val srcs = t.df.select(col("src").as("v")).distinct()
      val dsts = t.df.select(col("dst").as("v")).distinct()
      val (core, nCore) = srcs.join(dsts, Seq("v")).stageBoundaryRows
      t.df
        .join(gateBroadcast(core.select(col("v").as("src")), nCore), Seq("src"), "left_semi")
        .join(gateBroadcast(core.select(col("v").as("dst")), nCore), Seq("dst"), "left_semi")
        .select(col("src"), col("dst"))
    }.state
    val out = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    iterate(trim(sub0), maxOuter)(_.rows == 0) { (sub, _) =>
      val nodes = counted(sub.df.select(col("src").as("v"))
        .union(sub.df.select(col("dst").as("v"))).distinct())
      val pin = new EdgePin(sub.df, "src", "dst")
      val eFwd = pin.on("src", nodes.rows)
      val eBwd = pin.on("dst", nodes.rows)
      // (2) forward max-color propagation, semi-naive. The colors fold
      // each delta in by ANTI JOIN + UNION, not a left-outer merge:
      // outer/inner joins multiply Catalyst's sizeInBytes estimate, and a
      // recurrence whose stats multiply by its own prior stats compounds
      // into a 3^k-digit BigInt tower that the driver then grinds through
      // inside every checkpoint's stats capture (measured: the 10x smoke
      // leg pinned one core for >20 min in BigInteger.multiply before
      // this rewrite; anti joins carry the LEFT side's stats, so bits
      // grow linearly instead)
      val colors = seminaive(
          Counted(nodes.df.select(col("v"), col("v").as("c")).stageBoundary, nodes.rows),
          maxInner, keys = Seq("v")) { (seen, _) =>
        eFwd
          .join(gateBroadcast(seen.delta.df.select(col("v").as("src"), col("c").as("cs")),
            seen.delta.rows), Seq("src"))
          .groupBy(col("dst")).agg(max(col("cs")).as("cand"))
          .select(col("dst").as("v"), col("cand"))
          .join(seen.all.df, Seq("v"))
          .filter(col("cand") > col("c"))
          .select(col("v"), col("cand").as("c"))
      }.orRaise(s"color propagation exceeded $maxInner rounds").all.df
      // (3) backward sweep from the roots, restricted to each root's
      // color; every delta is disjoint from the reached set (anti join)
      // and holds one row per node, so its running count is exact
      val reached = seminaive(counted(colors.filter(col("c") === col("v"))), maxInner) {
          (seen, _) =>
        eBwd
          .join(gateBroadcast(seen.delta.df.select(col("v").as("dst"), col("c")),
            seen.delta.rows), Seq("dst"))
          .select(col("src").as("v"), col("c")).distinct()
          .join(colors.select(col("v"), col("c").as("vc")), Seq("v"))
          .filter(col("c") === col("vc"))
          .select(col("v"), col("c"))
          .join(seen.all.df, Seq("v"), "left_anti")
      }.orRaise(s"backward sweep exceeded $maxInner rounds").all
      // (4) emit nontrivial classes, peel everything reached
      val comps = reached.df.groupBy(col("c"))
        .agg(count(lit(1)).as("n"), min(col("v")).as("scc_id"))
      out += reached.df
        .join(comps.filter(col("n") > 1).select(col("c"), col("scc_id")), Seq("c"))
        .select(col("v").as("node"), col("scc_id")).stageBoundary
      val rest = counted(sub.df
        .join(gateBroadcast(reached.df.select(col("v").as("src")), reached.rows),
          Seq("src"), "left_anti")
        .join(gateBroadcast(reached.df.select(col("v").as("dst")), reached.rows),
          Seq("dst"), "left_anti")
        .select(col("src"), col("dst")))
      pin.release()
      trim(rest)
    }.orRaise(s"SCC coloring did not converge within $maxOuter outer rounds")
    val nontrivial = if (out.isEmpty) emptyOut else out.reduce(_ unionByName _)
    val selfOnly = selfLoops
      .join(nontrivial.select(col("node")), Seq("node"), "left_anti")
      .select(col("node"), col("node").as("scc_id"))
    nontrivial.unionByName(selfOnly)
  }

  /** The fixpoint detector as a contract face: q347's hierarchy with a
    * SECOND planted cycle class the bounded face provably misses —
    * every key k ≥ 1024 with k % 101 == 0 gains a back edge k÷1024 → k,
    * closing the 6-cycle {k, k÷4, k÷16, k÷64, k÷256, k÷1024} (five fwd
    * hops + the back edge; q347's two doublings cover path length 4 <
    * 6, and `GraphSpec` pins that miss on a planted graph). The oracle
    * computes the EXACT closure as a recursive set-semantics CTE (any
    * bounded unrolling eventually under-reaches — a 5-round bound
    * missed a length->32 mutual path at sf0.1); the Spark face rides
    * [[sccCyclic]] — cycle membership is plan-independent set
    * semantics, so the O(V)-state coloring and the oracle's O(pairs)
    * closure name the same nodes (the closure is fine for DuckDB at
    * oracle fixture scale; only the ENGINE side must carry the
    * 100×-safe plan). 3-cycles (% 97) exist at every SF; 6-cycles
    * appear from sf0.01 (keys ≥ 1024). */
  /** The q358/q364 fixture graph: the part hierarchy with both planted
    * back-edge classes (3-cycles on % 97, 6-cycles on % 101 above key
    * 1024). */
  private def fixpointAuditEdges(s: SparkSession, dir: String): DataFrame = {
    val keys = Tables.part(s, dir).select(col("p_partkey").as("k")).distinct()
      .stageBoundary // key-sized; feeds all three edge relations
    val fwd = keys.filter(col("k") >= 1)
      .select(col("k").as("src"), expr("k DIV 4").as("dst"))
    val back3 = keys.filter(col("k") >= 16 && col("k") % 97 === 0)
      .select(expr("k DIV 16").as("src"), col("k").as("dst"))
    val back6 = keys.filter(col("k") >= 1024 && col("k") % 101 === 0)
      .select(expr("k DIV 1024").as("src"), col("k").as("dst"))
    fwd.unionByName(back3).unionByName(back6)
  }

  /** Shared oracle prefix for q358/q364 (use as `WITH RECURSIVE $…`):
    * edges + the EXACT reachability closure as a recursive CTE — the
    * set-semantics recursion fixpoints at the true closure, matching
    * the Spark side's convergence loop at any path length (an unrolled
    * doubling bound of 32 missed a long mutual path between two planted
    * cycle classes at sf0.1 — the first draft's lesson). */
  private val closureRecSql =
    """keys AS (SELECT DISTINCT p_partkey AS k FROM part),
      |fwd AS (SELECT k AS src, k // 4 AS dst FROM keys WHERE k >= 1),
      |back3 AS (SELECT k // 16 AS src, k AS dst FROM keys WHERE k >= 16 AND k % 97 = 0),
      |back6 AS (SELECT k // 1024 AS src, k AS dst FROM keys WHERE k >= 1024 AND k % 101 = 0),
      |e AS (SELECT src, dst FROM fwd UNION SELECT src, dst FROM back3
      |      UNION SELECT src, dst FROM back6),
      |cl AS (
      |  SELECT src, dst FROM e
      |  UNION
      |  SELECT c.src, e.dst FROM cl c JOIN e ON e.src = c.dst)""".stripMargin

  /** The q358/q364 SCC labels, computed ONCE per corpus version and
    * persisted ([[graft.sources.StateStore]] keyed by the part keys
    * — the trained-state discipline applied to a graph
    * artifact): both faces and every bench rerun read the (node,
    * scc_id) relation — O(cyclic nodes), NOT the O(pairs) closure the
    * round-7 draft persisted (5.6M pairs over 20k nodes on this dense
    * fixture; the labels are ~200 rows at the same SF). */
  private def auditScc(s: SparkSession, dir: String): DataFrame = {
    val key = StateStore.key("scc_v1", Tables.part(s, dir).select(col("p_partkey")))
    StateStore.parquet(s, key, "scc") {
      Seq(sccCyclic(fixpointAuditEdges(s, dir)))
    }.head
  }

  val q358CycleFixpoint: QueryDef = sql(
    "q358_cycle_fixpoint",
    s"""WITH RECURSIVE $closureRecSql
       |SELECT DISTINCT src AS node FROM cl WHERE src = dst
       |ORDER BY node""".stripMargin) { (s, dir) =>
    auditScc(s, dir).select(col("node")).distinct().orderBy(col("node"))
  }

  /** Strongly connected components — the condensation step after q358
    * says "cycles exist": WHICH nodes cycle together (one merged supply
    * loop or many independent ones?) is what the remediation ticket
    * needs. The ORACLE derives components from the recursive closure
    * (mutual pair = (x,y) and (y,x) both reachable; component id = MIN
    * mutual partner, x mutual with itself via its self-path — only
    * cyclic nodes appear, since an acyclic node has no mutual pair);
    * the ENGINE face reads the same partition from [[sccCyclic]]'s
    * forward–backward coloring, whose scc_id = min member matches the
    * MIN-mutual-partner id exactly and whose state is O(V) labels
    * instead of the closure's O(pairs) — the round-7 verdict's scale
    * fix. Membership is pinned by a bit_xor node fingerprint per
    * component, not just the count. */
  val q364StronglyConnected: QueryDef = sql(
    "q364_strongly_connected",
    s"""WITH RECURSIVE $closureRecSql,
       |mut AS (SELECT a.src AS node, a.dst AS partner
       |        FROM cl a JOIN cl b ON b.src = a.dst AND b.dst = a.src),
       |comp AS (SELECT node, MIN(partner) AS scc_id FROM mut GROUP BY 1)
       |SELECT scc_id, CAST(COUNT(*) AS BIGINT) AS n_members,
       |  bit_xor(CAST(('0x' || substr(md5(CAST(node AS VARCHAR)), 1, 15)) AS BIGINT)) AS member_fp
       |FROM comp
       |GROUP BY 1
       |ORDER BY scc_id""".stripMargin) { (s, dir) =>
    auditScc(s, dir)
      .groupBy(col("scc_id"))
      .agg(count(lit(1)).as("n_members"),
        expr("bit_xor(CAST(conv(substring(md5(CAST(node AS STRING)), 1, 15), 16, 10) AS BIGINT))")
          .as("member_fp"))
      .orderBy(col("scc_id"))
  }

  /** Link prediction by Adamic–Adar (Adamic & Adar, Social Networks
    * 2003): for NON-adjacent pairs of the support-≥2 co-purchase core
    * sharing at least one neighbor, AA(a,b) = Σ_{x ∈ Γa∩Γb} 1/ln(deg x)
    * — common neighbors weighted by how SELECTIVE they are (a hub that
    * co-sells with everything certifies nothing; a degree-2 part
    * certifies a lot). The top predictions are the assortment gaps a
    * recommender fills — the inverse question of q274 (which existing
    * edges are bridges) on the same wedge machinery as q243 (the
    * triangle closure's complement, grouped instead of dropped).
    *
    * Wedge centers are common neighbors, hence deg ≥ 2 and
    * ln(deg) > 0 always. Float discipline: each pair's sum is a few
    * identical IEEE terms (q136's device), ROUND 6, rank on raw with
    * (a, b) tie-break. Scale: the support filter bounds the wedge
    * fan-out BEFORE enumeration (the q243 argument), degrees ride a
    * gated broadcast, and the top-20 cut is WindowGroupLimit-shaped. */
  val q349LinkPrediction: QueryDef = sql(
    "q349_link_prediction",
    """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |pairs AS (SELECT x.pk AS a, y.pk AS b FROM li x JOIN li y
      |          ON y.ok = x.ok AND y.pk > x.pk),
      |e AS (SELECT a, b FROM pairs GROUP BY a, b HAVING COUNT(*) >= 2),
      |sym AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
      |deg AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY 1),
      |wedge AS (SELECT na.v AS a, nb.v AS b, na.u AS x
      |          FROM sym na JOIN sym nb ON nb.u = na.u AND nb.v > na.v),
      |cand AS (SELECT w.a, w.b, w.x FROM wedge w
      |         LEFT JOIN e ON e.a = w.a AND e.b = w.b
      |         WHERE e.a IS NULL),
      |aa AS (SELECT c.a, c.b, CAST(COUNT(*) AS BIGINT) AS n_common,
      |         SUM(1.0 / LN(CAST(deg.d AS DOUBLE))) AS raw
      |       FROM cand c JOIN deg ON deg.node = c.x
      |       GROUP BY 1, 2)
      |SELECT a, b, n_common, ROUND(raw, 6) AS adamic_adar
      |FROM aa
      |ORDER BY ROUND(raw, 6) DESC, a, b
      |LIMIT 20""".stripMargin) { (s, dir) =>
    val pairs = Analytics.pairsOf(Analytics.baskets(s, dir))
      .select(col("part_a").as("a"), col("part_b").as("b"))
    val e = pairs.groupBy(col("a"), col("b")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select(col("a"), col("b"))
      .stageBoundary // core-sized; feeds sym, deg, and the anti join
    val sym = e.select(col("a").as("u"), col("b").as("v"))
      .unionAll(e.select(col("b").as("u"), col("a").as("v")))
    val (deg, nd) = sym.groupBy(col("u").as("node")).agg(count(lit(1)).as("d"))
      .stageBoundaryRows
    val wedge = sym.select(col("u").as("x"), col("v").as("a"))
      .join(sym.select(col("u").as("x"), col("v").as("b")), Seq("x"))
      .filter(col("b") > col("a"))
    val cand = wedge.join(e, Seq("a", "b"), "left_anti")
    cand.join(gateBroadcast(deg.select(col("node").as("x"), col("d")), nd), Seq("x"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_common"),
        sum(lit(1.0) / log(col("d").cast("double"))).as("raw"))
      // cut the top-20 on the ROUNDED score (the q348 discipline):
      // same-degree-multiset pairs tie exactly and a raw-float cut
      // would pick the 20th pair engine-dependently
      .select(col("a"), col("b"), col("n_common"), round(col("raw"), 6).as("adamic_adar"))
      .orderBy(col("adamic_adar").desc, col("a"), col("b"))
      .limit(20)
  }

  /** The q325/q369 DIRECTED word-adjacency edge relation: one-way
    * bigrams of the English corpus slice, both words ≥ 4 lowercase
    * letters. Shared so the two centrality faces rank the SAME graph. */
  private def wordDirectedEdges(s: SparkSession, dir: String): DataFrame = {
    val word = "^[a-z]{4,}$"
    Tables.fanOut(Tables.documents(s, dir))
      .filter(col("lang") === "en")
      .withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(w) - 2), i -> named_struct('wa', w[i], 'wb', w[i + 1]))")).as("p"))
      .select(col("p.wa").as("wa"), col("p.wb").as("wb"))
      .filter(col("wa").rlike(word) && col("wb").rlike(word) && col("wa") =!= col("wb"))
      .select(col("wa").as("src"), col("wb").as("dst")).distinct()
  }

  /** Oracle CTE prefix ending in `e(src, dst)` — the SQL twin of
    * [[wordDirectedEdges]] (kept verbatim from q325's oracle). `def`,
    * not `val`: q325 (declared above) reads it at object init. */
  private def wordEdgesSql =
    """toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE lang = 'en'),
      |adj AS (
      |  SELECT w[i] AS wa, w[i + 1] AS wb
      |  FROM toks, UNNEST(range(1, len(w))) AS t(i)),
      |fil AS (
      |  SELECT wa, wb FROM adj
      |  WHERE regexp_full_match(wa, '[a-z]{4,}') AND regexp_full_match(wb, '[a-z]{4,}')
      |    AND wa <> wb),
      |e AS (SELECT DISTINCT wa AS src, wb AS dst FROM fil)""".stripMargin

  /** Overflow-free fixed-point power-iteration normalizer, shared by the
    * HITS half-steps: `x DIV max(1, mx DIV 10⁶)` rescales a raw score
    * vector so its maximum lands near [[RankScale]] WITHOUT the
    * `x * 10⁶ DIV mx` multiply — the multiply form overflows BIGINT the
    * moment a raw score passes ~9.2·10¹² (max in-degree ~10⁷ at full
    * crawl scale), while the divide form never widens its operands.
    * Exact-integer and engine-order-independent either way; the divide
    * rounding is simply part of the pinned trajectory spec. */
  private def normSqlExpr(x: String, mx: String): String =
    s"$x DIV GREATEST(1L, $mx DIV ${RankScale}L)"

  /** HITS hubs and authorities (Kleinberg JACM 1999) over the directed
    * word-adjacency graph — the OTHER classic link-centrality axis:
    * PageRank scores a page by who points at it transitively; HITS
    * splits the signal into AUTHORITIES (pointed at by good hubs) and
    * HUBS (pointing at good authorities), the decomposition that
    * separates "reference pages" from "directory pages" in a crawl
    * curation pass. Two full mutual-reinforcement iterations:
    *   a_k = Σ_in h_{k-1}   (then rescale)
    *   h_k = Σ_out a_k      (then rescale)
    * with h₀ = 10⁶ — so a₁ starts as pure in-degree and the second
    * round is where hub quality first differentiates authorities. Every
    * quantity is an exact BIGINT (sums of scaled integers, scalar max,
    * integer divide — see [[normSqlExpr]]), so the trajectory is
    * engine-order-independent and the oracle unrolls it verbatim.
    *
    * Scale posture (100 TB crawl graph): the edge relation is persisted
    * once and, over the broadcast budget, co-partitioned on src; each
    * half-step is one gated node-relation join into the pinned edges +
    * one map-side-combined sum + a ONE-ROW max that rides a broadcast —
    * the authority step joins on src and the hub step on dst, so the
    * over-budget path pins one copy per key (two edge-sized
    * materializations, once, not per round). Rounds are a fixed small
    * constant. The rescale bounds every score at ~2·10⁶, so round
    * sums stay ≤ 2·10⁶ · max-degree — no overflow at any realistic
    * degree. */
  def hits(edges: DataFrame, rounds: Int): DataFrame = {
    val raw = edges.cachedStageBoundary
    // one read of the cached edges, not one per union leg
    val (nodes, nV) = raw.select(explode(array(col("src"), col("dst"))).as("part"))
      .distinct()
      .stageBoundaryRows // node-sized; seeds both score vectors
    val pin = new EdgePin(raw, "src", "dst")
    val eDst = pin.on("dst", nV)
    val eSrc = pin.on("src", nV)
    var hub = nodes.withColumn("h", lit(RankScale))
    var auth = nodes.withColumn("a", lit(0L))
    for (_ <- 1 to rounds) {
      val aRaw = eSrc
        .join(gateBroadcast(hub.select(col("part").as("src"), col("h")), nV), Seq("src"))
        .groupBy(col("dst")).agg(sum(col("h")).as("a_raw"))
      val aMax = aRaw.agg(greatest(max(col("a_raw")), lit(1L)).as("amx"))
      // checkpoint each node-sized half-step: the broadcast max and the
      // next half-step otherwise both re-derive the whole prior lineage
      auth = nodes.join(aRaw, col("part") === aRaw("dst"), "left")
        .crossJoin(broadcast(aMax))
        .select(col("part"),
          expr(normSqlExpr("COALESCE(a_raw, 0L)", "amx")).as("a"))
        .stageBoundary
      val hRaw = eDst
        .join(gateBroadcast(auth.select(col("part").as("dst"), col("a")), nV), Seq("dst"))
        .groupBy(col("src")).agg(sum(col("a")).as("h_raw"))
      val hMax = hRaw.agg(greatest(max(col("h_raw")), lit(1L)).as("hmx"))
      hub = nodes.join(hRaw, col("part") === hRaw("src"), "left")
        .crossJoin(broadcast(hMax))
        .select(col("part"),
          expr(normSqlExpr("COALESCE(h_raw, 0L)", "hmx")).as("h"))
        .stageBoundary
    }
    nodes.join(auth, Seq("part")).join(hub, Seq("part"))
  }

  /** One unrolled oracle HITS round k over CTEs e/nodes/h{k-1}. */
  private def hitsRoundSql(k: Int): String = {
    val prev = s"h${k - 1}"
    s"""ar$k AS (SELECT e.dst, CAST(SUM(h.h) AS BIGINT) AS a_raw
       |  FROM $prev h JOIN e ON e.src = h.part GROUP BY 1),
       |am$k AS (SELECT GREATEST(MAX(a_raw), 1) AS amx FROM ar$k),
       |a$k AS (SELECT n.part,
       |    CAST(COALESCE(ar.a_raw, 0) // GREATEST(1, am$k.amx // $RankScale) AS BIGINT) AS a
       |  FROM nodes n LEFT JOIN ar$k ar ON ar.dst = n.part, am$k),
       |hr$k AS (SELECT e.src, CAST(SUM(a.a) AS BIGINT) AS h_raw
       |  FROM a$k a JOIN e ON e.dst = a.part GROUP BY 1),
       |hm$k AS (SELECT GREATEST(MAX(h_raw), 1) AS hmx FROM hr$k),
       |h$k AS (SELECT n.part,
       |    CAST(COALESCE(hr.h_raw, 0) // GREATEST(1, hm$k.hmx // $RankScale) AS BIGINT) AS h
       |  FROM nodes n LEFT JOIN hr$k hr ON hr.src = n.part, hm$k)""".stripMargin
  }

  /** Contract face of [[hits]]: 2 mutual-reinforcement rounds over the
    * q325 directed word graph, top 100 by authority. The scores hash
    * both rescale divisions of every round — a diverged max or floor
    * anywhere reshuffles the leaderboard. */
  val q369Hits: QueryDef = sql(
    "q369_hits",
    s"""WITH $wordEdgesSql,
       |nodes AS (SELECT src AS part FROM e UNION SELECT dst FROM e),
       |h0 AS (SELECT part, CAST($RankScale AS BIGINT) AS h FROM nodes),
       |${hitsRoundSql(1)},
       |${hitsRoundSql(2)}
       |SELECT n.part AS word, a2.a AS authority, h2.h AS hub
       |FROM nodes n JOIN a2 ON a2.part = n.part JOIN h2 ON h2.part = n.part
       |ORDER BY authority DESC, word
       |LIMIT 100""".stripMargin) { (s, dir) =>
    hits(wordDirectedEdges(s, dir), rounds = 2)
      .select(col("part").as("word"), col("a").as("authority"), col("h").as("hub"))
      .orderBy(col("authority").desc, col("word"))
      .limit(100)
  }

  /** Deterministic random-walk corpus generation (the DeepWalk/node2vec
    * ingest stage — Perozzi et al. KDD 2014; Grover & Leskovec KDD 2016):
    * the walk sequences that become "sentences" for a graph-embedding
    * trainer. Production twist: the successor at each step is chosen by
    * a HASH of (seed, node, step) mod out-degree instead of an RNG —
    * the walk corpus is bit-reproducible across reruns, engines, and
    * partitionings (the property an audit trail needs; a stochastic
    * walker re-samples a different corpus every run and no oracle can
    * pin it). Distribution-wise the mixed md5 bits are uniform over the
    * neighbor index, so walk statistics match the uniform random walk.
    *
    * Plan shape: the adjacency is indexed ONCE by a src-partitioned
    * window (parallel; the window shuffle leaves it hash-partitioned on
    * src, which every step join then reuses), and the walk relation —
    * seed-sized, 1/101 of nodes — takes `steps` sequential joins into
    * it, gated broadcast under the node budget and a plain
    * co-partitioned join above it. Nothing edge-scale ever re-shuffles.
    * Returns (seed, step, node) for steps 0..`steps`. `adjDeg`
    * optionally supplies a precomputed (adjacency index, degree)
    * pair — the persisted co-purchase triple — so a corpus build skips
    * re-deriving both (bit-identical either way: the index is a pure
    * function of the edge set). */
  def walkCorpus(edges: DataFrame, steps: Int, seedMod: Int,
                 adjDeg: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    val e = edges.cachedStageBoundary
    val adjIdx = adjDeg.map(_._1).getOrElse(
        e.withColumn("rn", expr("row_number() OVER (PARTITION BY src ORDER BY dst)")))
      .cachedStageBoundary
    adjIdx.count() // materialize once: every step's broadcast build reads it
    val deg = adjDeg.map(_._2).getOrElse(
      e.groupBy(col("src")).agg(count(lit(1)).as("d")))
    val (w0, nSeeds) = deg.filter(col("src") % seedMod === 0)
      .select(col("src").as("seed"), col("src").as("node"))
      .stageBoundaryRows // seed-sized; every step extends it
    var cur = w0
    val frames = scala.collection.mutable.ArrayBuffer(
      w0.withColumn("step", lit(0)))
    for (t <- 1 to steps) {
      val withIdx = cur
        .join(deg, cur("node") === deg("src")).drop("src")
        .withColumn("pick", expr(
          s"""1 + CAST(conv(substring(md5(concat(CAST(seed AS STRING), ':',
             |CAST(node AS STRING), ':', '$t')), 1, 15), 16, 10) AS BIGINT) % d"""
            .stripMargin.replace("\n", " ")))
        .select(col("seed"), col("node").as("cursrc"), col("pick"))
      // checkpoint each step: without it every later frame re-derives
      // the whole prior chain INSIDE its broadcast build (measured 2×
      // slower than the 4 eager checkpoint jobs at sf0.1)
      cur = adjIdx
        .join(gateBroadcast(withIdx, nSeeds),
          adjIdx("src") === col("cursrc") && adjIdx("rn") === col("pick"))
        .select(col("seed"), col("dst").as("node"))
        .stageBoundary
      frames += cur.withColumn("step", lit(t))
    }
    frames.reduce(_ unionByName _)
  }

  /** One unrolled oracle walk step t over CTEs adjx/deg/w{t-1}. */
  private def walkStepSql(t: Int): String =
    s"""w$t AS (SELECT w.seed, a.dst AS node
       |  FROM w${t - 1} w
       |  JOIN deg g ON g.src = w.node
       |  JOIN adjx a ON a.src = w.node
       |   AND a.rn = 1 + CAST(('0x' || substr(md5(CAST(w.seed AS VARCHAR) || ':' ||
       |         CAST(w.node AS VARCHAR) || ':$t'), 1, 15)) AS BIGINT) % g.d)""".stripMargin

  /** Shared oracle prefix for q370/q393: the co-purchase edges, the
    * windowed adjacency index, and the full 4-step walk corpus as a
    * `walks` CTE. MATERIALIZED where referenced more than once — q393's
    * skip-gram self-join reads `walks` twice, and inlined CTEs re-open
    * the parquet per reference (the fd-limit lesson). */
  private val walkOracleSql =
    s"""e AS MATERIALIZED (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM lineitem a JOIN lineitem b
       |    ON b.l_orderkey = a.l_orderkey AND b.l_partkey <> a.l_partkey),
       |adjx AS MATERIALIZED (SELECT src, dst,
       |    ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) AS rn FROM e),
       |deg AS MATERIALIZED (SELECT src, COUNT(*) AS d FROM e GROUP BY 1),
       |w0 AS (SELECT src AS seed, src AS node FROM deg WHERE src % 101 = 0),
       |${walkStepSql(1)},
       |${walkStepSql(2)},
       |${walkStepSql(3)},
       |${walkStepSql(4)},
       |walks AS MATERIALIZED (
       |  SELECT seed, 0 AS step, node FROM w0
       |  UNION ALL SELECT seed, 1, node FROM w1
       |  UNION ALL SELECT seed, 2, node FROM w2
       |  UNION ALL SELECT seed, 3, node FROM w3
       |  UNION ALL SELECT seed, 4, node FROM w4)""".stripMargin

  /** The q370 walk corpus, generated ONCE per corpus version and
    * persisted (StateStore keyed by the lineitem content — the
    * trained-state discipline): q370 serves it and q393's skip-gram
    * features consume it, so the ingest chain structure→walks→features
    * pays the walk build once. Deterministic hash picks make the
    * persisted corpus equal to a fresh rebuild bit for bit. */
  private def persistedWalkCorpus(s: SparkSession, dir: String): DataFrame = {
    StateStore.parquet(s, StateStore.key("walks_v1", copurchaseInput(s, dir)), "walks") {
      Seq(walkCorpus(copurchaseEdges(s, dir), steps = 4, seedMod = 101,
        adjDeg = Some(persistedAdjacency(s, dir))))
    }.head
  }

  /** Contract face of [[walkCorpus]]: 4-step walks from every 101st
    * part over the co-purchase graph. The node sequence hashes every
    * step's md5-mod-degree pick against the windowed adjacency index —
    * a diverged neighbor ordering or hash anywhere derails the walk. */
  val q370WalkCorpus: QueryDef = sql(
    "q370_walk_corpus",
    s"""WITH $walkOracleSql
       |SELECT seed, step, node FROM walks
       |ORDER BY seed, step""".stripMargin) { (s, dir) =>
    persistedWalkCorpus(s, dir).orderBy(col("seed"), col("step"))
  }

  /** Skip-gram co-occurrence counts + shifted-PPMI association over the
    * persisted q370 walk corpus (Levy & Goldberg, NIPS 2014: SGNS with
    * k negatives factorizes the PMI − log k matrix, so the EXACT
    * pair-count algebra below is the oracle-able core of a DeepWalk
    * embedding — the piece that is integer math, unlike SGNS itself).
    * Window-2 skip-gram pairs within each walk "sentence"; n(a,b),
    * marginals, and the association ratio P(a,b)/(P(a)P(b)) =
    * n(ab)·N/(n(a)·n(b)) in micro-units, plus the k=5 shifted-PPMI
    * sign (ratio > k ⇔ PMI > log k — the log never needs computing,
    * which is also what keeps both engines exact: no cross-engine
    * transcendentals). Top 100 by (association, pair).
    *
    * Overflow: the ratio is (10⁶·n(ab) DIV n(a)) · N DIV n(b) — the
    * first factor is ≤ 10⁶ exactly because n(ab) ≤ n(a), so the
    * product stays in BIGINT while N < 9.2·10¹² pair tokens (a
    * 100 TB-scale walk corpus; past that drop the micro scale a
    * decade). The divide-before-multiply order costs ≤ 1 micro of
    * truncation, identically in both engines.
    *
    * Scale posture: pairs are |corpus|·2w rows (window-bounded, never
    * node²); counts are observed-pair-sparse; marginals derive from
    * the pair counts (no second corpus pass); the only broadcast is
    * the 1-row total. Completes the q370 chain: structure → walks →
    * embedding features. */
  /** Shared oracle CTEs for q393/q395: the window-2 skip-gram pairs of
    * the walk corpus and their (w, c) counts. */
  private val skipgramOracleSql =
    """pairs AS MATERIALIZED (
      |  SELECT a.node AS w, b.node AS c
      |  FROM walks a JOIN walks b
      |    ON b.seed = a.seed AND b.step <> a.step
      |   AND b.step BETWEEN a.step - 2 AND a.step + 2),
      |pc AS MATERIALIZED (
      |  SELECT w, c, CAST(COUNT(*) AS BIGINT) AS n_ab FROM pairs GROUP BY 1, 2)""".stripMargin

  val q393WalkPpmi: QueryDef = sql(
    "q393_walk_ppmi",
    s"""WITH $walkOracleSql,
       |$skipgramOracleSql,
       |wm AS (SELECT w, CAST(SUM(n_ab) AS BIGINT) AS n_w FROM pc GROUP BY 1),
       |cm AS (SELECT c, CAST(SUM(n_ab) AS BIGINT) AS n_c FROM pc GROUP BY 1),
       |tot AS (SELECT CAST(SUM(n_ab) AS BIGINT) AS n FROM pc)
       |SELECT pc.w, pc.c, pc.n_ab, wm.n_w, cm.n_c,
       |  CAST((1000000 * pc.n_ab // wm.n_w) * tot.n // cm.n_c AS BIGINT) AS assoc_micro,
       |  CAST(CASE WHEN (1000000 * pc.n_ab // wm.n_w) * tot.n // cm.n_c > 5000000
       |       THEN 1 ELSE 0 END AS BIGINT) AS sppmi_pos
       |FROM pc JOIN wm USING (w) JOIN cm USING (c), tot
       |ORDER BY assoc_micro DESC, w, c
       |LIMIT 100""".stripMargin) { (s, dir) =>
    walkPpmi(persistedWalkCorpus(s, dir), window = 2, shiftK = 5)
      .orderBy(col("assoc_micro").desc, col("w"), col("c"))
      .limit(100)
  }

  /** Window-w skip-gram (w → context) pair counts over a (seed, step,
    * node) walk corpus — the shared first stage of [[walkPpmi]] and the
    * q395 context similarity. Checkpointed: every consumer reads it
    * several times (marginals, norms, self-joins). */
  def skipgramCounts(corpus: DataFrame, window: Int): DataFrame = {
    val a = corpus.select(col("seed"), col("step").as("sa"), col("node").as("w"))
    val b = corpus.select(col("seed"), col("step").as("sb"), col("node").as("c"))
    a.join(b, Seq("seed"))
      .filter(col("sb") =!= col("sa") &&
        col("sb").between(col("sa") - window, col("sa") + window))
      .groupBy(col("w"), col("c")).agg(count(lit(1)).as("n_ab"))
      .stageBoundary
  }

  /** The q393 algebra over any (seed, step, node) walk corpus: window-w
    * skip-gram pair counts, marginals, micro-unit association ratio,
    * and the shift-k PPMI sign. Exposed for the hand-computed spec. */
  def walkPpmi(corpus: DataFrame, window: Int, shiftK: Int): DataFrame = {
    val pc = skipgramCounts(corpus, window)
    val wm = pc.groupBy(col("w")).agg(sum(col("n_ab")).as("n_w"))
    val cm = pc.groupBy(col("c")).agg(sum(col("n_ab")).as("n_c"))
    val tot = pc.agg(sum(col("n_ab")).as("n"))
    pc.join(wm, Seq("w")).join(cm, Seq("c")).crossJoin(broadcast(tot))
      .select(col("w"), col("c"), col("n_ab"), col("n_w"), col("n_c"),
        expr("(1000000L * n_ab DIV n_w) * n DIV n_c").as("assoc_micro"))
      .withColumn("sppmi_pos",
        when(col("assoc_micro") > lit(shiftK * 1000000L), 1L).otherwise(0L))
  }

  /** node2vec BIASED walk corpus (Grover & Leskovec, KDD 2016) — the
    * p/q second-order walk that q370's uniform DeepWalk walker lacks:
    * the step distribution depends on the PREVIOUS node, weighting a
    * candidate 1/p when it returns to it, 1 when it stays in its
    * neighborhood (distance 1 — triadic closure), 1/q when it leaves
    * (distance 2). Integer weights 1/4/2 realize p=4, q=2
    * (backtracking discouraged, mild exploration). The pick is the
    * same deterministic md5 device as [[walkCorpus]] ('n2v:' prefix so
    * the corpora decouple), drawn from the CUMULATIVE weight line of
    * the candidate set — bit-reproducible across engines and
    * partitionings, distributionally the weighted sample.
    *
    * Plan shape per step: one adjacency scan with the seed-sized walk
    * relation on the build side (gated broadcast), one edge scan
    * semi-joined down to the (prev, dst) pairs the step actually
    * probes (the distance-1 test — never a full edge join), then
    * degree-bounded per-walk windows for the cumulative pick. Nothing
    * edge-scale re-shuffles; candidate relations are seeds × degree.
    * Returns (seed, step, node), step 0..`steps` (step 1 uniform — no
    * previous node yet). */
  def node2vecWalks(edges: DataFrame, steps: Int, seedMod: Int,
                    adjDeg: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    val e = edges.select(col("src"), col("dst")).distinct().cachedStageBoundary
    val adjIdx = adjDeg.map(_._1).getOrElse(
        e.withColumn("rn", expr("row_number() OVER (PARTITION BY src ORDER BY dst)")))
      .cachedStageBoundary
    adjIdx.count()
    val deg = adjDeg.map(_._2).getOrElse(
      e.groupBy(col("src")).agg(count(lit(1)).as("d")))
    val (w0, nSeeds) = deg.filter(col("src") % seedMod === 0)
      .select(col("src").as("seed"), col("src").as("node"))
      .stageBoundaryRows
    val s1 = adjIdx.join(
        gateBroadcast(w0.join(deg, w0("node") === deg("src")).drop("src")
          .withColumn("pick", expr(
            "1 + CAST(conv(substring(md5(concat('n2v:', CAST(seed AS STRING), ':', " +
              "CAST(node AS STRING), ':1')), 1, 15), 16, 10) AS BIGINT) % d"))
          .select(col("seed"), col("node").as("cursrc"), col("pick")), nSeeds),
        adjIdx("src") === col("cursrc") && adjIdx("rn") === col("pick"))
      .select(col("seed"), col("cursrc").as("prev"), col("dst").as("node"))
      .stageBoundary
    var cur = s1
    val frames = scala.collection.mutable.ArrayBuffer(
      w0.select(col("seed"), col("node"), lit(0).as("step")),
      s1.select(col("seed"), col("node")).withColumn("step", lit(1)))
    for (t <- 2 to steps) {
      val (cand, candN) = e.join(
          gateBroadcast(cur.select(col("seed"), col("prev"), col("node").as("src")), nSeeds),
          Seq("src"))
        .select(col("seed"), col("prev"), col("src").as("node"), col("dst"))
        .stageBoundaryRows // read by the near-set probe and the pick
      // distance-1 test: reduce the EDGE relation to the probed
      // (prev, dst) pairs with a broadcast semi-join — the preserved
      // side of the outer join below then stays candidate-sized on
      // both sides (broadcasting the small preserved side of an outer
      // join directly is not a Spark build-side option)
      val near = e.select(col("src").as("prev"), col("dst"))
        .join(gateBroadcast(cand.select(col("prev"), col("dst")).distinct(), candN),
          Seq("prev", "dst"), "left_semi")
        .withColumn("isnear", lit(1L))
      val staged = cand
        .join(gateBroadcast(near, candN), Seq("prev", "dst"), "left")
        .withColumn("wgt", when(col("dst") === col("prev"), 1L)
          .when(col("isnear").isNotNull, 4L).otherwise(2L))
        .withColumn("cw",
          expr("SUM(wgt) OVER (PARTITION BY seed ORDER BY dst ROWS UNBOUNDED PRECEDING)"))
        .withColumn("tw", expr("SUM(wgt) OVER (PARTITION BY seed)"))
        .withColumn("r", expr(
          s"CAST(conv(substring(md5(concat('n2v:', CAST(seed AS STRING), ':', " +
            s"CAST(node AS STRING), ':$t')), 1, 15), 16, 10) AS BIGINT) % tw"))
      cur = staged
        .filter(col("r") >= col("cw") - col("wgt") && col("r") < col("cw"))
        .select(col("seed"), col("node").as("prev"), col("dst").as("node"))
        .stageBoundary
      frames += cur.select(col("seed"), col("node")).withColumn("step", lit(t))
    }
    frames.reduce(_ unionByName _)
  }

  /** One unrolled oracle node2vec step t over CTEs e/b{t-1}. Every CTE
    * MATERIALIZED (multi-round unroll, the fd-limit rule). */
  private def n2vStepSql(t: Int): String =
    s"""c$t AS MATERIALIZED (
       |  SELECT w.seed, w.prev, w.node, e.dst,
       |    CASE WHEN e.dst = w.prev THEN 1
       |         WHEN e2.src IS NOT NULL THEN 4 ELSE 2 END AS wgt
       |  FROM b${t - 1} w
       |  JOIN e ON e.src = w.node
       |  LEFT JOIN e e2 ON e2.src = w.prev AND e2.dst = e.dst),
       |s$t AS MATERIALIZED (
       |  SELECT seed, prev, node, dst, wgt,
       |    SUM(wgt) OVER (PARTITION BY seed ORDER BY dst ROWS UNBOUNDED PRECEDING) AS cw,
       |    SUM(wgt) OVER (PARTITION BY seed) AS tw
       |  FROM c$t),
       |b$t AS MATERIALIZED (
       |  SELECT seed, node AS prev, dst AS node FROM s$t
       |  WHERE CAST(('0x' || substr(md5('n2v:' || CAST(seed AS VARCHAR) || ':' ||
       |          CAST(node AS VARCHAR) || ':$t'), 1, 15)) AS BIGINT) % tw
       |        BETWEEN cw - wgt AND cw - 1)""".stripMargin

  /** Contract face of [[node2vecWalks]]: 3-step p=4/q=2 biased walks
    * from every 101st part over the co-purchase graph, persisted per
    * lineitem fingerprint like the q370 corpus (deterministic picks
    * make the persisted corpus equal a fresh rebuild bit for bit; the
    * 3-step build pays 2 edge scans per biased step — once per corpus
    * version, not per read). The sequence hashes every step's weighted
    * cumulative pick — a diverged weight, near-set, neighbor order, or
    * hash anywhere derails the walk. */
  val q394Node2vecWalks: QueryDef = sql(
    "q394_node2vec_walks",
    s"""WITH e AS MATERIALIZED (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM lineitem a JOIN lineitem b
       |    ON b.l_orderkey = a.l_orderkey AND b.l_partkey <> a.l_partkey),
       |adjx AS MATERIALIZED (SELECT src, dst,
       |    ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) AS rn FROM e),
       |deg AS MATERIALIZED (SELECT src, COUNT(*) AS d FROM e GROUP BY 1),
       |w0 AS MATERIALIZED (SELECT src AS seed, src AS node FROM deg WHERE src % 101 = 0),
       |b1 AS MATERIALIZED (SELECT w.seed, w.node AS prev, a.dst AS node
       |  FROM w0 w JOIN deg g ON g.src = w.node
       |  JOIN adjx a ON a.src = w.node
       |   AND a.rn = 1 + CAST(('0x' || substr(md5('n2v:' || CAST(w.seed AS VARCHAR) || ':' ||
       |         CAST(w.node AS VARCHAR) || ':1'), 1, 15)) AS BIGINT) % g.d),
       |${n2vStepSql(2)},
       |${n2vStepSql(3)}
       |SELECT seed, 0 AS step, node FROM w0
       |UNION ALL SELECT seed, 1, node FROM b1
       |UNION ALL SELECT seed, 2, node FROM b2
       |UNION ALL SELECT seed, 3, node FROM b3
       |ORDER BY seed, step""".stripMargin) { (s, dir) =>
    StateStore.parquet(s, StateStore.key("n2vwalks_v1", copurchaseInput(s, dir)), "walks") {
      Seq(node2vecWalks(copurchaseEdges(s, dir), steps = 3, seedMod = 101,
        adjDeg = Some(persistedAdjacency(s, dir))))
    }.head.orderBy(col("seed"), col("step"))
  }

  /** Distributional node similarity over the walk-context space
    * (second-order similarity, Schütze CL 1998; the Levy–Goldberg
    * feature space q393 exposes): two parts are similar when they
    * occur in the SAME walk contexts even if they never co-occur — the
    * complement of q349's Adamic–Adar (shared DIRECT neighbors) and
    * the exact, oracle-able audit face of what a trained DeepWalk
    * embedding's nearest-neighbor query would retrieve. Count-vector
    * cosine over the window-2 skip-gram counts of the persisted q370
    * corpus; hub contexts (fan-out > 64 distinct center nodes) are
    * dropped first — a context shared with everything certifies
    * nothing (the q349 selectivity rationale), AND the cap bounds the
    * context self-join at Σ fan² ≤ 64·Σ fan (bucketed, never node²;
    * the same df-cap device as PPJoin's prefix filter). dot and both
    * norms are exact BIGINTs (exact while per-pair counts stay ≤
    * ~3·10⁹ — the n² square's BIGINT bound); the cosine is ONE final
    * double expression — IEEE-754 specifies sqrt correctly rounded, so
    * both engines agree bit for bit — rounded to 6 places BEFORE
    * ranking, (a, b) tie-broken. Top 100 pairs. */
  val q395WalkContextSim: QueryDef = sql(
    "q395_walk_context_sim",
    s"""WITH $walkOracleSql,
       |$skipgramOracleSql,
       |fan AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS nf FROM pc GROUP BY 1),
       |kept AS MATERIALIZED (
       |  SELECT pc.w, pc.c, pc.n_ab FROM pc JOIN fan USING (c) WHERE fan.nf <= 64),
       |nrm AS MATERIALIZED (
       |  SELECT w, CAST(SUM(n_ab * n_ab) AS BIGINT) AS n2 FROM kept GROUP BY 1),
       |dots AS (
       |  SELECT x.w AS a, y.w AS b, CAST(SUM(x.n_ab * y.n_ab) AS BIGINT) AS dot
       |  FROM kept x JOIN kept y ON y.c = x.c AND y.w > x.w
       |  GROUP BY 1, 2)
       |SELECT d.a, d.b, d.dot, na.n2 AS na2, nb.n2 AS nb2,
       |  ROUND(CAST(d.dot AS DOUBLE) /
       |        SQRT(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)), 6) AS cos_r6
       |FROM dots d JOIN nrm na ON na.w = d.a JOIN nrm nb ON nb.w = d.b
       |ORDER BY cos_r6 DESC, a, b
       |LIMIT 100""".stripMargin) { (s, dir) =>
    walkContextSim(skipgramCounts(persistedWalkCorpus(s, dir), window = 2), maxFan = 64)
      .orderBy(col("cos_r6").desc, col("a"), col("b"))
      .limit(100)
  }

  /** The q395 algebra over any (w, c, n_ab) count relation. Exposed
    * for the hand-computed spec. */
  def walkContextSim(pc: DataFrame, maxFan: Int): DataFrame = {
    val fan = pc.groupBy(col("c")).agg(count(lit(1)).as("nf"))
    val kept = pc
      .join(fan.filter(col("nf") <= maxFan).select(col("c")), Seq("c"))
      .stageBoundary // feeds the norms and both self-join sides
    val nrm = kept.groupBy(col("w")).agg(sum(col("n_ab") * col("n_ab")).as("n2"))
      .stageBoundary // joined on both the a and b sides
    val dots = kept.select(col("c"), col("w").as("a"), col("n_ab").as("na"))
      .join(kept.select(col("c"), col("w").as("b"), col("n_ab").as("nb")), Seq("c"))
      .filter(col("b") > col("a"))
      .groupBy(col("a"), col("b")).agg(sum(col("na") * col("nb")).as("dot"))
    dots.join(nrm.select(col("w").as("a"), col("n2").as("na2")), Seq("a"))
      .join(nrm.select(col("w").as("b"), col("n2").as("nb2")), Seq("b"))
      .select(col("a"), col("b"), col("dot"), col("na2"), col("nb2"),
        round(col("dot").cast("double") /
          sqrt(col("na2").cast("double") * col("nb2").cast("double")), 6).as("cos_r6"))
  }

  /** Walk-corpus coverage audit: per step t, how much of what a t-step
    * walker COULD reach (the exact BFS frontier of the seed set — the
    * q263/q302 discipline) the persisted q370 corpus actually visited.
    * This PRICES the walk budget: DeepWalk-style trainers sample a
    * corpus whose node coverage, not its raw size, bounds embedding
    * quality (Perozzi et al. KDD 2014 §4.1 observe coverage saturates
    * with walks-per-node — this is the measurement that says WHERE it
    * saturates on THIS graph, so the 1/101 seed budget is a dial set
    * from data, and at 100 TB the decision "more seeds vs longer
    * walks" is made from a 5-row audit instead of a re-trained
    * embedding). Exact integer algebra end to end: min walk step per
    * node (one grouped pass over the corpus), min BFS distance per
    * node (4 frontier-sized anti-join rounds over the pinned edges —
    * the frontier only ever shuffles node-sized relations), then ONE
    * conditional aggregation over the 5-row step grid. coverage_micro
    * = visited·10⁶ DIV frontier (walk nodes at step t are within
    * distance t of their seed, so visited ⊆ frontier and the ratio is
    * a true fraction); an empty frontier reports NULL, never a
    * division error. */
  val q396WalkCoverage: QueryDef = sql(
    "q396_walk_coverage",
    s"""WITH $walkOracleSql,
       |f0 AS MATERIALIZED (SELECT src AS node FROM deg WHERE src % 101 = 0),
       |x1 AS MATERIALIZED (SELECT DISTINCT e.dst AS node FROM e JOIN f0 ON e.src = f0.node),
       |x2 AS MATERIALIZED (SELECT DISTINCT e.dst AS node FROM e JOIN x1 ON e.src = x1.node),
       |x3 AS MATERIALIZED (SELECT DISTINCT e.dst AS node FROM e JOIN x2 ON e.src = x2.node),
       |x4 AS MATERIALIZED (SELECT DISTINCT e.dst AS node FROM e JOIN x3 ON e.src = x3.node),
       |reach AS (SELECT node, 0 AS d FROM f0
       |  UNION ALL SELECT node, 1 FROM x1 UNION ALL SELECT node, 2 FROM x2
       |  UNION ALL SELECT node, 3 FROM x3 UNION ALL SELECT node, 4 FROM x4),
       |dist AS MATERIALIZED (SELECT node, MIN(d) AS d FROM reach GROUP BY 1),
       |vis AS MATERIALIZED (SELECT node, MIN(step) AS s FROM walks GROUP BY 1),
       |j AS MATERIALIZED (
       |  SELECT di.node, di.d, v.s FROM dist di LEFT JOIN vis v ON v.node = di.node),
       |looks(k) AS (VALUES (0), (1), (2), (3), (4))
       |SELECT CAST(k AS BIGINT) AS step,
       |  CAST(SUM(CASE WHEN j.d <= k THEN 1 ELSE 0 END) AS BIGINT) AS frontier_n,
       |  CAST(SUM(CASE WHEN j.s IS NOT NULL AND j.s <= k THEN 1 ELSE 0 END) AS BIGINT) AS visited_n,
       |  CAST(CASE WHEN SUM(CASE WHEN j.d <= k THEN 1 ELSE 0 END) = 0 THEN NULL
       |       ELSE SUM(CASE WHEN j.s IS NOT NULL AND j.s <= k THEN 1 ELSE 0 END) * 1000000
       |            // SUM(CASE WHEN j.d <= k THEN 1 ELSE 0 END) END AS BIGINT) AS coverage_micro
       |FROM looks LEFT JOIN j ON TRUE GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val (e, deg, n) = pinEdges(copurchaseEdges(s, dir))
    val seeds = deg.filter(col("src") % 101 === 0).select(col("src").as("node"))
    walkCoverage(e, seeds, persistedWalkCorpus(s, dir), maxStep = 4, nNodes = n)
      .orderBy(col("step"))
  }

  /** The q396 algebra over a pinned edge relation, a seed set, and a
    * (seed, step, node) corpus. Exposed for the hand-computed spec.
    * `nNodes` gates the frontier broadcasts (the [[pinEdges]] caller
    * already knows it — the frontier is bounded by the node set). */
  def walkCoverage(e: DataFrame, seeds: DataFrame, corpus: DataFrame,
                   maxStep: Int, nNodes: Long): DataFrame = {
    val s = seeds.sparkSession
    var seen = seeds.withColumn("d", lit(0)).stageBoundary
    var frontier = seeds
    for (t <- 1 to maxStep) {
      // frontier-sized expansion, anti-joined against everything seen —
      // min-distance falls out structurally (a node joins `seen` the
      // first round it appears, which IS its BFS distance).
      // NOTE (r11 A/B): the bfsDistances prune-below-the-distinct was
      // tried here and measured worse (4.95 → 5.32 s at sf0.1) — the
      // walk corpus's reach saturates by round 2, so the anti side is
      // near-graph-sized while the distinct's output is tiny either
      // way; reverted, the last-hop barrier skip below kept.
      val grown = e
        .join(gateBroadcast(frontier.select(col("node").as("src")), nNodes), Seq("src"))
        .select(col("dst").as("node")).distinct()
        .join(seen, Seq("node"), "left_anti")
        .withColumn("d", lit(t))
      // r11 (the r10 bfsDistances last-hop rule): on the FINAL round
      // next has ONE consumer (the seen union feeding the aggregate)
      // and seen is never anti-joined again — both barriers were pure
      // extra materialization copies; skip them.
      val next = if (t < maxStep) grown.stageBoundary // feeds seen AND next frontier
                 else grown
      // seen IS re-materialized per intermediate round even though each
      // level frame is already materialized: the next round's anti-join
      // otherwise re-reads the whole union per task (measured ~1.5-2x
      // slower without this at sf0.1, cold-JVM min-of-4 12.1 vs 7.8 s —
      // the q370 "fewer jobs" inversion again)
      seen = if (t < maxStep) seen.unionByName(next).stageBoundary
             else seen.unionByName(next)
      frontier = next.select(col("node"))
    }
    val vis = corpus.groupBy(col("node")).agg(min(col("step")).as("s"))
    val looks = s.range(0, maxStep + 1).select(col("id").as("k"))
    val agg = seen.join(vis, Seq("node"), "left")
      .crossJoin(broadcast(looks))
      .groupBy(col("k"))
      .agg(sum(when(col("d") <= col("k"), 1L).otherwise(0L)).as("fn"),
        sum(when(col("s").isNotNull && col("s") <= col("k"), 1L).otherwise(0L)).as("vn"))
    // the step grid drives the output (left join), so a seedless audit
    // still reports every step as (0, 0, NULL) instead of vanishing
    looks.join(agg, Seq("k"), "left")
      .select(col("k").as("step"),
        coalesce(col("fn"), lit(0L)).as("frontier_n"),
        coalesce(col("vn"), lit(0L)).as("visited_n"),
        when(coalesce(col("fn"), lit(0L)) === 0L, lit(null).cast("long"))
          .otherwise(expr("vn * 1000000L DIV fn")).as("coverage_micro"))
  }

  /** Newman modularity audit of the q153 label-propagation communities
    * (Newman & Girvan PRE 2004): Q_c = within_c/E − (d_c/E)² per
    * community over the symmetric co-purchase edge list (E counts
    * directed edges = 2m, so both terms are the standard fractions).
    * This is the ACCEPTANCE TEST for the clustering q153 ships — LPA
    * can degenerate into one giant community or shatter into
    * singletons, and downstream consumers (domain mixtures, q141 caps)
    * deserve a number that says whether the partition beats the
    * degree-random baseline before they trust it. Micro-unit integer
    * spec: within·10⁶ DIV E and (d_c·10⁶ DIV E)² DIV 10⁶ — exact,
    * engine-order-independent, and overflow-safe to E ≈ 9·10¹²
    * directed edges (the d_c·10⁶ term; past that the scale constant
    * drops a decade, documented not hidden).
    *
    * Plan shape: labels are node-sized and join the pinned edges twice
    * (gated broadcast / co-partition, the walker discipline); the rest
    * is label-keyed aggregates + a one-row edge count on a broadcast.
    * Top 20 communities by size. */
  val q373Modularity: QueryDef = sql(
    "q373_modularity",
    s"""WITH e AS (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM lineitem a JOIN lineitem b
       |    ON b.l_orderkey = a.l_orderkey AND b.l_partkey <> a.l_partkey),
       |l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
       |${lpaRoundSql(1)},
       |${lpaRoundSql(2)},
       |${lpaRoundSql(3)},
       |lab AS (SELECT node, label FROM l3),
       |wi AS (SELECT a.label AS community, CAST(COUNT(*) AS BIGINT) AS within_edges
       |       FROM e JOIN lab a ON a.node = e.src
       |              JOIN lab b ON b.node = e.dst AND b.label = a.label
       |       GROUP BY 1),
       |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY 1),
       |dc AS (SELECT l.label AS community, CAST(SUM(deg.d) AS BIGINT) AS degree_sum,
       |              CAST(COUNT(*) AS BIGINT) AS n_members
       |       FROM deg JOIN lab l ON l.node = deg.src GROUP BY 1),
       |te AS (SELECT CAST(COUNT(*) AS BIGINT) AS ec FROM e)
       |SELECT dc.community, dc.n_members,
       |  CAST(COALESCE(wi.within_edges, 0) AS BIGINT) AS within_edges, dc.degree_sum,
       |  CAST(COALESCE(wi.within_edges, 0) * 1000000 // te.ec
       |    - (dc.degree_sum * 1000000 // te.ec) * (dc.degree_sum * 1000000 // te.ec) // 1000000
       |    AS BIGINT) AS q_micro
       |FROM dc LEFT JOIN wi ON wi.community = dc.community, te
       |ORDER BY dc.n_members DESC, dc.community
       |LIMIT 20""".stripMargin) { (s, dir) =>
    val e = copurchaseEdges(s, dir).cachedStageBoundary
    modularityOf(e, persistedLpaLabels(s, dir))
      .orderBy(col("n_members").desc, col("community"))
      .limit(20)
  }

  /** Per-community modularity terms of a (node, label) partition over a
    * symmetric (src, dst) edge relation — the q373 core, factored for
    * the hand-computed spec. Returns (community, n_members,
    * within_edges, degree_sum, q_micro), unordered. */
  private[graft] def modularityOf(e: DataFrame, labels: DataFrame): DataFrame = {
    val (lab, nL) = labels.stageBoundaryRows // node-sized; joins edges twice + degree once
    e.count() // materialize the caller's persist before the 2 consumers below
    val wi = e
      .join(gateBroadcast(lab.select(col("node").as("src"), col("label").as("la")), nL), Seq("src"))
      .join(gateBroadcast(lab.select(col("node").as("dst"), col("label").as("lb")), nL), Seq("dst"))
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("community")).agg(count(lit(1)).as("within_edges"))
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .stageBoundary // node-sized; feeds dc AND the edge total
    val dc = deg
      .join(gateBroadcast(lab.select(col("node").as("src"), col("label")), nL), Seq("src"))
      .groupBy(col("label").as("community"))
      .agg(sum(col("d")).as("degree_sum"), count(lit(1)).as("n_members"))
    // E = Σ out-degree — no third edge scan
    val te = deg.agg(sum(col("d")).as("ec"))
    dc.join(wi, Seq("community"), "left").crossJoin(broadcast(te))
      .select(col("community"), col("n_members"),
        coalesce(col("within_edges"), lit(0L)).as("within_edges"), col("degree_sum"),
        expr("""COALESCE(within_edges, 0L) * 1000000L DIV ec
               |  - (degree_sum * 1000000L DIV ec) * (degree_sum * 1000000L DIV ec) DIV 1000000L"""
          .stripMargin).as("q_micro"))
  }

  /** Sampled-seed betweenness centrality (Brandes, J. Math. Sociol.
    * 2001; the k-seed sampling of Brandes & Pich 2007) over the
    * co-purchase graph, truncated at 3 hops: forward BFS per seed
    * accumulates exact shortest-path COUNTS σ level by level (a node's
    * σ is the sum over its shortest-path predecessors — level k → k+1
    * edges only, which IS the Brandes DAG), then the dependency
    * accumulation walks back δ(v) = Σ_w (σ_v/σ_w)(1 + δ(w)) in
    * micro-units: σ_v·(10⁶ + δ_w) DIV σ_w per DAG edge, summed as
    * exact BIGINTs. The bridge-node complement of the q340 axis:
    * harmonic says who is CLOSE to everything, betweenness says who
    * sits ON the paths — the node whose removal severs co-purchase
    * routes. Same honesty note as q340: 10 seeds, depth 3 — a SAMPLE
    * of the exact statistic (all-pairs Brandes is O(V·E) and web-scale
    * runs always sample seeds); deeper dependencies are dropped, not
    * approximated. σ·(10⁶+δ) stays in BIGINT to ~10¹²-path fan-outs;
    * the denser regime wants the scale constant dropped a decade
    * (documented, as in q352's mixer guard).
    *
    * Plan shape: per-level frontier joins against the pinned edges
    * (gated broadcast / co-partition — the walker discipline), state
    * |seeds|×reach, never all-nodes; the backward pass is two more
    * gated joins. Every aggregate is map-side combinable. */
  val q378Betweenness: QueryDef = sql(
    "q378_betweenness",
    s"""WITH e AS (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM lineitem a JOIN lineitem b
       |    ON b.l_orderkey = a.l_orderkey AND b.l_partkey <> a.l_partkey),
       |deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY 1),
       |seeds AS (SELECT src AS seed FROM deg ORDER BY src LIMIT 10),
       |b0 AS (SELECT seed, seed AS node, CAST(1 AS BIGINT) AS sig FROM seeds),
       |b1 AS MATERIALIZED (
       |  SELECT p.seed, e.dst AS node, CAST(SUM(p.sig) AS BIGINT) AS sig
       |  FROM b0 p JOIN e ON e.src = p.node
       |  WHERE e.dst <> p.seed
       |  GROUP BY 1, 2),
       |b2 AS MATERIALIZED (
       |  SELECT c.seed, c.node, CAST(SUM(c.sig) AS BIGINT) AS sig FROM (
       |      SELECT p.seed, e.dst AS node, p.sig
       |      FROM b1 p JOIN e ON e.src = p.node) c
       |  WHERE NOT EXISTS (SELECT 1 FROM b0 x WHERE x.seed = c.seed AND x.node = c.node)
       |    AND NOT EXISTS (SELECT 1 FROM b1 x WHERE x.seed = c.seed AND x.node = c.node)
       |  GROUP BY 1, 2),
       |b3 AS MATERIALIZED (
       |  SELECT c.seed, c.node, CAST(SUM(c.sig) AS BIGINT) AS sig FROM (
       |      SELECT p.seed, e.dst AS node, p.sig
       |      FROM b2 p JOIN e ON e.src = p.node) c
       |  WHERE NOT EXISTS (SELECT 1 FROM b0 x WHERE x.seed = c.seed AND x.node = c.node)
       |    AND NOT EXISTS (SELECT 1 FROM b1 x WHERE x.seed = c.seed AND x.node = c.node)
       |    AND NOT EXISTS (SELECT 1 FROM b2 x WHERE x.seed = c.seed AND x.node = c.node)
       |  GROUP BY 1, 2),
       |d2 AS MATERIALIZED (
       |  SELECT v.seed, v.node, CAST(SUM(v.sig * 1000000 // w.sig) AS BIGINT) AS delta
       |  FROM b2 v JOIN e ON e.src = v.node
       |  JOIN b3 w ON w.seed = v.seed AND w.node = e.dst
       |  GROUP BY 1, 2),
       |d1 AS (
       |  SELECT v.seed, v.node,
       |    CAST(SUM(v.sig * (1000000 + COALESCE(d.delta, 0)) // w.sig) AS BIGINT) AS delta
       |  FROM b1 v JOIN e ON e.src = v.node
       |  JOIN b2 w ON w.seed = v.seed AND w.node = e.dst
       |  LEFT JOIN d2 d ON d.seed = w.seed AND d.node = w.node
       |  GROUP BY 1, 2),
       |al AS (SELECT seed, node, delta FROM d1
       |       UNION ALL SELECT seed, node, delta FROM d2)
       |SELECT node, CAST(SUM(delta) AS BIGINT) AS betweenness_micro,
       |  CAST(COUNT(*) AS BIGINT) AS n_contribs
       |FROM al GROUP BY 1
       |ORDER BY betweenness_micro DESC, node
       |LIMIT 50""".stripMargin) { (s, dir) =>
    val edges = copurchaseEdges(s, dir).cachedStageBoundary
    val seeds = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .orderBy(col("src")).limit(10).select(col("src").as("seed"))
    betweennessSampled(edges, seeds)
      .orderBy(col("betweenness_micro").desc, col("node"))
      .limit(50)
  }

  /** The q378 core — depth-3 truncated Brandes over the given seed set,
    * factored for the hand-computed spec. Returns (node,
    * betweenness_micro, n_contribs), unordered. */
  private[graft] def betweennessSampled(edges: DataFrame, seeds: DataFrame): DataFrame = {
    val (b0, n0) = seeds.select(col("seed"), col("seed").as("node"), lit(1L).as("sig"))
      .stageBoundaryRows
    // One edge expansion per level, SHARED by the forward σ aggregation
    // and the backward δ join (the naive form expanded edges×frontier
    // five times; the fused form three times, the two widest reused
    // from cache — measured ~30% at sf0.1). Frontiers grow to
    // |seeds|×reach, so past the broadcast budget the edge pin
    // ([[EdgePin]]) co-partitions the edges on src ONCE and every later
    // expansion shuffles only the frontier side.
    val pin = new EdgePin(edges, "src")
    def expandFrom(lower: DataFrame, rows: Long): DataFrame =
      pin.on("src", rows).join(gateBroadcast(lower.select(col("seed"), col("node").as("src"),
          col("node").as("vnode"), col("sig").as("vsig")), rows), Seq("src"))
        .select(col("seed"), col("vnode"), col("vsig"), col("dst").as("node"))
    def levelOf(ex: DataFrame, excl: Seq[DataFrame]): (DataFrame, Long) = {
      val cand = ex.groupBy(col("seed"), col("node")).agg(sum(col("vsig")).as("sig"))
      // one fused anti-join against the UNION of visited levels, not one
      // join stage per level (measured ~2× on the widest level at sf0.1)
      val seen = excl.map(_.select(col("seed"), col("node"))).reduce(_ unionAll _)
      cand.join(seen, Seq("seed", "node"), "left_anti").stageBoundaryRows
    }
    val ex1 = expandFrom(b0, n0)
    val (b1, n1) = levelOf(ex1, Seq(b0))
    val ex2 = expandFrom(b1, n1).cachedStageBoundary // forward b2 + backward d1
    val (b2, n2) = levelOf(ex2, Seq(b0, b1))
    val ex3 = expandFrom(b2, n2).cachedStageBoundary // forward b3 + backward d2
    val (b3, _) = levelOf(ex3, Seq(b0, b1, b2))
    def deltaDown(ex: DataFrame, upper: DataFrame, upperDelta: Option[DataFrame],
                  checkpoint: Boolean): DataFrame = {
      val up = upperDelta match {
        case Some(d) => upper.join(d, Seq("seed", "node"), "left")
          .select(col("seed"), col("node"), col("sig").as("wsig"),
            coalesce(col("delta"), lit(0L)).as("wd"))
        case None => upper.select(col("seed"), col("node"),
          col("sig").as("wsig"), lit(0L).as("wd"))
      }
      val d = ex.join(up, Seq("seed", "node"))
        .select(col("seed"), col("vnode").as("node"),
          expr("vsig * (1000000L + wd) DIV wsig").as("term"))
        .groupBy(col("seed"), col("node")).agg(sum(col("term")).as("delta"))
      // d2 feeds two consumers (d1's left join + the final union) and
      // must materialize; d1 feeds ONLY the final aggregate — an eager
      // checkpoint there was one extra barrier job over pair-sized data
      // for nothing (r10: fold it into the final action)
      if (checkpoint) d.stageBoundary else d
    }
    val d2 = deltaDown(ex3, b3, None, checkpoint = true)
    val d1 = deltaDown(ex2, b2, Some(d2), checkpoint = false)
    // ex3 has served both consumers (b3 + d2, the latter just
    // checkpointed); ex2 must STAY persisted — the now-lazy d1 reads it
    // inside the caller's final action (the per-query cache clear
    // releases it, same lifetime as the level persists)
    ex3.unpersist()
    d1.unionAll(d2).groupBy(col("node"))
      .agg(sum(col("delta")).as("betweenness_micro"), count(lit(1)).as("n_contribs"))
  }

  /** Deterministic maximal independent set by hash priorities (the
    * derandomized Luby 1986 round: a node joins when its priority
    * beats every ACTIVE neighbor's, then it and its neighbors retire)
    * — the conflict-free parallel scheduling primitive: an MIS over
    * the co-purchase conflict graph is a maximal batch of parts whose
    * updates touch no common order context and can run concurrently.
    * Priorities are md5 integers of the node id (the q370 device), so
    * every round — and therefore the WHOLE set — is a pure function of
    * the graph: reruns, re-partitions, and both engines agree bit for
    * bit. Per round: one neighbor-min join against the pinned edges
    * (gated broadcast, min over (priority, node) structs so even a
    * hash collision breaks deterministically), one retire anti-join.
    * Active-set size drops geometrically (measured: 20000 → 12 active
    * in 7 rounds at sf0.1).
    *
    * PRECONDITION: `edges` must be SYMMETRIC (every (a,b) paired with
    * (b,a)) — the round-1 join-free shortcut and the src-only active
    * seeding read only the src→dst direction and would silently skip
    * one-directional neighbors. Asserted by an order-sensitive xxhash
    * fingerprint (XOR of h(src,dst) vs XOR of h(dst,src) — one
    * map-side pass, no join; equal iff symmetric up to a 2⁻⁶⁴
    * collision). Not reaching the empty fixpoint within `maxRounds`
    * RAISES rather than returning a partial set, and the q386 face
    * passes [[MisUnrollRounds]] — the same constant the oracle unrolls
    * — so a fixture ever needing more rounds fails loudly on the
    * ENGINE side before the oracle could silently under-cover (the
    * safe direction of the q358 unrolled-closure lesson; Luby rounds
    * grow ~O(log n), so the constant's margin over the measured 7
    * covers a ~32× fixture). Returns (node, round_joined). */
  def misByHash(edges: DataFrame, maxRounds: Int = 40): DataFrame = {
    val raw = edges.cachedStageBoundary
    // fingerprint DISTINCT edges: the XOR cancels any even-multiplicity
    // row, so a duplicated one-directional edge would otherwise slip the
    // guard and then be silently skipped by the src-only seeding (ADVICE
    // r8); the guarded callers pass distinct relations, so the distinct
    // here is one extra no-op aggregation, not a semantic change
    val symFp = raw.select(col("src"), col("dst")).distinct().agg(
      expr("bit_xor(xxhash64(src, dst))").as("f"),
      expr("bit_xor(xxhash64(dst, src))").as("b")).head()
    require(symFp.isNullAt(0) || symFp.getLong(0) == symFp.getLong(1),
      "misByHash requires a symmetric edge relation (fingerprint mismatch)")
    val act0 = counted(raw.select(col("src").as("v")).distinct()
      .withColumn("p", expr(
        "CAST(conv(substring(md5(concat('mis:', CAST(v AS STRING))), 1, 15), 16, 10) AS BIGINT)")))
    val out = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    // LIVE edge relation (r10 optimization): before each later round,
    // restrict the edges to pairs whose BOTH endpoints are still active.
    // A retired node never influences another round (Luby competition is
    // among active neighbors only), yet the previous form probed the
    // FULL persisted edge set twice per round (neighbor-min + retire)
    // while the active set shrank geometrically — at sf0.1 that was
    // 7 rounds × 2 × 1.2 M edge rows for a competition that involves a
    // few thousand live edges after round 2. Live edges also make every
    // round's neighbor-min JOIN-FREE (the round-1 shortcut generalized):
    // each dst in the live relation is active by construction, and its
    // priority is a pure function of the id, so it computes map-side in
    // the live-edge scan. The retire expansion and the next live set are
    // gated broadcast joins of round-sized relations into the shrinking
    // live edges; above the broadcast budget they degrade to shuffles of
    // a relation that is itself shrinking at the Luby rate (expected
    // half the EDGES per round), so total over-budget shuffle volume is
    // a constant factor of one edge pass — vs one static co-partition
    // but O(rounds) full-edge probes before.
    var live = raw
    val dstPrio = expr(
      "CAST(conv(substring(md5(concat('mis:', CAST(dst AS STRING))), 1, 15), 16, 10) AS BIGINT)")
    val last = converge(act0, maxRounds, same = (_, _) => false) { (act, round) =>
      // both-endpoints-active restriction; the checkpoint bounds lineage
      // and materializes the shrink, so a round scans the live edges,
      // not a semi-join chain as deep as the rounds before it
      if (round > 1)
        live = live
          .join(gateBroadcast(act.df.select(col("v").as("src")), act.rows), Seq("src"), "left_semi")
          .join(gateBroadcast(act.df.select(col("v").as("dst")), act.rows), Seq("dst"), "left_semi")
          .stageBoundary
      // join-free neighbor minimum: every edge in `live` has an active
      // dst, and the priority computes map-side from the id
      val nbrMin = live.select(col("src"), dstPrio.as("np"), col("dst").as("nv"))
        .groupBy(col("src")).agg(min(struct(col("np"), col("nv"))).as("m"))
      val mis = act.df
        .join(nbrMin.withColumnRenamed("src", "v"), Seq("v"), "left")
        .filter(col("m").isNull || col("p") < col("m.np") ||
          (col("p") === col("m.np") && col("v") < col("m.nv")))
        .select(col("v"), col("p"))
        .stageBoundary // round-sized; feeds output, retire, next act
      out += mis.select(col("v").as("node"), lit(round.toLong).as("round_joined"))
      val rm = mis.select(col("v"))
        .unionAll(live.join(gateBroadcast(mis.select(col("v").as("src")), act.rows), Seq("src"))
          .select(col("dst").as("v")))
        .distinct()
      act.df.join(rm, Seq("v"), "left_anti")
    }
    last.orRaise(s"MIS did not reach the empty fixpoint within $maxRounds rounds " +
      s"(${last.state.rows} still active)")
    if (out.isEmpty) // edgeless input: no rounds ran
      act0.df.select(col("v").as("node"), lit(0L).as("round_joined")).limit(0)
    else out.reduce(_ unionByName _)
  }

  /** The q386 oracle's unroll depth AND the engine bound its face runs
    * under — one constant so they can never drift. Measured fixpoint
    * is 7 rounds at sf0.1; Luby round count grows ~O(log n), so 12
    * covers a ~32× fixture before the engine's require fires (loudly,
    * before the oracle could under-cover). */
  private[graft] val MisUnrollRounds = 12

  /** One unrolled oracle MIS round k over CTEs e/a{k-1}. Every CTE is
    * MATERIALIZED: inlined, the 8 rounds' NOT EXISTS legs re-open the
    * lineitem parquet once per reference and blow the fd limit. */
  private def misRoundSql(k: Int): String = {
    val prev = s"a${k - 1}"
    s"""m$k AS MATERIALIZED (SELECT a.v, a.p FROM $prev a
       |  WHERE NOT EXISTS (SELECT 1 FROM e JOIN $prev b ON b.v = e.dst
       |    WHERE e.src = a.v AND (b.p < a.p OR (b.p = a.p AND b.v < a.v)))),
       |rm$k AS MATERIALIZED (SELECT v FROM m$k
       |         UNION SELECT e.dst FROM e JOIN m$k m ON m.v = e.src),
       |a$k AS MATERIALIZED (SELECT a.v, a.p FROM $prev a
       |  WHERE NOT EXISTS (SELECT 1 FROM rm$k r WHERE r.v = a.v))""".stripMargin
  }

  /** Contract face of [[misByHash]] over the co-purchase graph. The
    * membership (and each member's join round) hashes every round's
    * neighbor-min comparisons — one diverged priority or retire
    * anywhere reshapes the set. */
  val q386MaximalIndependentSet: QueryDef = sql(
    "q386_maximal_independent_set",
    s"""WITH e AS MATERIALIZED (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM lineitem a JOIN lineitem b
       |    ON b.l_orderkey = a.l_orderkey AND b.l_partkey <> a.l_partkey),
       |a0 AS MATERIALIZED (SELECT DISTINCT src AS v,
       |    CAST(('0x' || substr(md5('mis:' || CAST(src AS VARCHAR)), 1, 15)) AS BIGINT) AS p
       |  FROM e),
       |${(1 to MisUnrollRounds).map(misRoundSql).mkString(",\n")},
       |mis AS (${(1 to MisUnrollRounds).map(k => s"SELECT v, $k AS r FROM m$k").mkString("\n  UNION ALL ")})
       |SELECT v AS node, CAST(r AS BIGINT) AS round_joined
       |FROM mis ORDER BY node""".stripMargin) { (s, dir) =>
    misByHash(copurchaseEdges(s, dir), maxRounds = MisUnrollRounds).orderBy(col("node"))
  }

  /** 1-dimensional Weisfeiler–Leman color refinement (Weisfeiler &
    * Leman 1968; the WL-subtree kernel of Shervashidze et al., JMLR
    * 2011): every node's color starts as its degree and each round
    * re-hashes (own color | sorted neighbor-color multiset) — after k
    * rounds two nodes share a color only if their depth-k neighborhood
    * trees are isomorphic. The STRUCTURAL-ROLE signature: q153 groups
    * nodes that are near each other, WL groups nodes that look alike
    * (leaf parts, bridge parts, hub cores), which is the feature
    * graph-dedup and graph-classification pipelines hash. Colors are
    * 60-bit md5 integers of a canonical serialization (numeric-sorted
    * neighbor colors, comma-joined), so both engines refine
    * identically. Two rounds; the color histogram hashes the whole
    * refinement.
    *
    * Scale posture: per round one gated node-color join into the
    * pinned edges + a node-keyed sorted-list aggregate (per-node state
    * bounded by degree); the histogram is a map-side-combined count.
    * Like any WL implementation the multiset serialization is
    * degree-bounded per node — skewed hubs carry long lists, the
    * documented cost of the exact kernel (hash-of-sorted-hashes is
    * what graph-ML libraries ship). */
  def wlColors(edges: DataFrame, rounds: Int): DataFrame = {
    // the per-round edge join keys on dst (neighbor colors), so the
    // edges pin on dst
    val (e, deg, n) = pinEdges(edges, key = "dst")
    var color = deg.select(col("src").as("v"), col("d").cast("long").as("c"))
      .stageBoundary
    for (_ <- 1 to rounds) {
      color = e
        .join(gateBroadcast(color.select(col("v").as("dst"), col("c").as("nc")), n), Seq("dst"))
        .groupBy(col("src"))
        .agg(expr("concat_ws(',', transform(array_sort(collect_list(nc)), x -> CAST(x AS STRING)))").as("s"))
        .join(gateBroadcast(color.select(col("v").as("src"), col("c")), n), Seq("src"))
        .select(col("src").as("v"), expr(
          "CAST(conv(substring(md5(concat(CAST(c AS STRING), '|', s)), 1, 15), 16, 10) AS BIGINT)").as("c"))
        .stageBoundary
    }
    color
  }

  /** One unrolled oracle WL round k over CTEs e/w{k-1}. */
  private def wlRoundSql(k: Int): String = {
    val prev = s"w${k - 1}"
    s"""w$k AS MATERIALIZED (
       |  SELECT n.v, CAST(('0x' || substr(md5(CAST(n.c AS VARCHAR) || '|' || n.s), 1, 15)) AS BIGINT) AS c
       |  FROM (SELECT p.v, p.c, array_to_string(list_sort(list(b.c)), ',') AS s
       |        FROM $prev p JOIN e ON e.src = p.v JOIN $prev b ON b.v = e.dst
       |        GROUP BY p.v, p.c) n)""".stripMargin
  }

  /** Contract face of [[wlColors]]: 2 refinement rounds over the
    * co-purchase graph, top-100 color classes by size. */
  val q387WlRefinement: QueryDef = sql(
    "q387_wl_refinement",
    s"""WITH e AS MATERIALIZED (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM lineitem a JOIN lineitem b
       |    ON b.l_orderkey = a.l_orderkey AND b.l_partkey <> a.l_partkey),
       |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY 1),
       |w0 AS MATERIALIZED (SELECT src AS v, d AS c FROM deg),
       |${wlRoundSql(1)},
       |${wlRoundSql(2)}
       |SELECT c AS wl_color, CAST(COUNT(*) AS BIGINT) AS n_nodes
       |FROM w2 GROUP BY 1
       |ORDER BY n_nodes DESC, wl_color
       |LIMIT 100""".stripMargin) { (s, dir) =>
    wlColors(copurchaseEdges(s, dir), rounds = 2)
      .groupBy(col("c").as("wl_color")).agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("n_nodes").desc, col("wl_color"))
      .limit(100)
  }

  val all: Seq[QueryDef] = Seq(q143Pagerank, q153LabelProp, q173BradleyTerry,
    q188PersonalizedPagerank, q243Triangles, q263BfsHops, q274LocalBridges,
    q279Textrank, q281Assortativity, q282KCore, q302WalkerConvergence,
    q312HierarchyRollup, q325DirectedPagerank, q340HarmonicCentrality,
    q347CycleDetection, q349LinkPrediction, q358CycleFixpoint,
    q364StronglyConnected, q369Hits, q370WalkCorpus, q373Modularity,
    q378Betweenness, q386MaximalIndependentSet, q387WlRefinement,
    q393WalkPpmi, q394Node2vecWalks, q395WalkContextSim, q396WalkCoverage)
}
