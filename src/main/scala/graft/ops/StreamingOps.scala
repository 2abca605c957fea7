package graft.ops

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.functions.Decimals._
import graft.sources.{StateStore, Tables}

/** Streaming operators over `events` (SURVEY.md §2.2 streaming rows).
  *
  * Two faces per operator:
  *   - a **batch** query registered in the driver contract with a DuckDB
  *     oracle (tumbling windows → date_trunc buckets; session windows →
  *     gaps-and-islands; stateful dedup → keep-first-by-time), and
  *   - a **streaming** builder on an unbounded DataFrame (`readStream`),
  *     exercised by StreamingSpec via file-source replay + memory sink,
  *     asserting stream == batch on the same data (self-oracle) plus
  *     watermark late-drop behavior.
  *
  * One device per job on the streaming side:
  *   - **Source.** [[fileSource]] is the one file source: staged parquet
  *     files, one per trigger. [[eventsStream]] and
  *     [[tumblingCountsStream]] read it directly.
  *   - **Loop.** [[eachFile]] is the one micro-batch loop: every
  *     `foreachBatch` face runs its per-trigger body through it, on the
  *     batch re-based onto a fresh plan.
  *   - **Republished state.** State a face rewrites every trigger is a
  *     [[StateStore.publishNext]] snapshot (a version is never written
  *     twice; the latest two are kept), read back through
  *     [[StateStore.latest]]: the six folds (MV, join-MV, Bloom, KMV,
  *     top-k, freshness), the log-tail and postings snapshots, and the
  *     packing offset.
  *   - **Append-only logs.** [[corpusBuildStream]], [[admissionCapStream]]
  *     and [[driftStream]] append each trigger's new rows to one parquet
  *     log, so per-trigger cost stays proportional to the new rows; they
  *     share only the empty-log initializer.
  *
  * Scale posture: all streaming state is keyed (window × type, user
  * session, dedup key) so it partitions across executors; watermarks bound
  * state size; `maxFilesPerTrigger` paces replay.
  */
object StreamingOps {

  import QueryDef.sql

  /** Tumbling 1-minute windows × event type (batch face). */
  val q40EventsTumbling: QueryDef = sql(
    "q40_events_tumbling",
    """SELECT CAST(DATE_TRUNC('minute', ts) AS TIMESTAMP) AS minute_start, event_type,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .groupBy(date_trunc("minute", col("ts")).as("minute_start"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(money(col("value"))).as("sum_value"))
      .orderBy(col("minute_start"), col("event_type"))
  }

  /** Per-user session windows with a 5-minute gap (batch face of
    * `session_window`); the oracle derives identical sessions via
    * gaps-and-islands (new session when the gap ≥ 5 minutes). */
  val q41SessionWindows: QueryDef = sql(
    "q41_session_windows",
    """WITH lagd AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN LAG(ts) OVER w IS NULL
      |           OR ts - LAG(ts) OVER w >= INTERVAL 5 MINUTE THEN 1 ELSE 0 END AS new_s
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sess AS (
      |  SELECT user_id, ts,
      |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM lagd)
      |SELECT user_id, MIN(ts) AS session_start,
      |  MAX(ts) + INTERVAL 5 MINUTE AS session_end,
      |  COUNT(*) AS n_events
      |FROM sess GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n_events"))
      .orderBy(col("user_id"), col("session_start"))
  }

  /** Keep-first-by-time dedup on (user_id, event_type) — the
    * deterministic batch face of streaming dedup. */
  val q42StreamDedup: QueryDef = sql(
    "q42_stream_dedup",
    """SELECT user_id, event_type, ts AS first_ts, event_id AS first_event
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
      |                                   ORDER BY ts, event_id) AS rn
      |      FROM events)
      |WHERE rn = 1
      |ORDER BY user_id, event_type""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("ts").as("first_ts"),
        col("event_id").as("first_event"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** Sliding 5-minute windows advancing by 1 minute (batch face): each
    * event lands in 5 overlapping windows. The oracle replicates each row
    * against offsets 0..4 — the same window-assignment arithmetic Spark's
    * `window(ts, dur, slide)` performs. */
  val q49EventsSliding: QueryDef = sql(
    "q49_events_sliding",
    """SELECT CAST(date_trunc('minute', ts) - (k * INTERVAL 1 MINUTE) AS TIMESTAMP) AS win_start,
      |  event_type, COUNT(*) AS n
      |FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3, 4]) AS k)
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "5 minutes", "1 minute"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("event_type"), col("n"))
      .orderBy(col("win_start"), col("event_type"))
  }

  /** Stream-static enrichment join (batch face): events keyed by user_id
    * pick up the customer's market segment, then aggregate per segment ×
    * minute. In the streaming face the static side is re-read per
    * micro-batch and broadcast — no state is kept for it, so dimension
    * size never grows streaming state. Events whose user has no customer
    * row are kept (left join) under segment 'UNKNOWN'. */
  val q70StreamStatic: QueryDef = sql(
    "q70_stream_static",
    """SELECT COALESCE(c.c_mktsegment, 'UNKNOWN') AS segment,
      |  CAST(DATE_TRUNC('minute', e.ts) AS TIMESTAMP) AS minute_start,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(e.value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      |FROM events e
      |LEFT JOIN customer c ON e.user_id = c.c_custkey
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    enrichedSegmentCounts(Tables.events(s, dir), Tables.customer(s, dir))
      .orderBy(col("segment"), col("minute_start"))
  }

  val all: Seq[QueryDef] = Seq(
    q40EventsTumbling, q41SessionWindows, q42StreamDedup, q49EventsSliding,
    q70StreamStatic)

  // ---- streaming faces (unbounded DataFrames) ----

  private val DocsSchema =
    StructType.fromDDL("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
  private val OrdersSchema = StructType.fromDDL("o_orderkey LONG, o_custkey LONG, " +
    "o_orderstatus STRING, o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING")
  private val KeysSchema = StructType.fromDDL("o_orderkey LONG, o_custkey LONG")
  private val VectorsSchema = StructType.fromDDL("vec_id LONG, embedding ARRAY<FLOAT>")

  /** The one file source of the streaming faces: the parquet files staged
    * in `stagedDir`, read as a stream of one file per trigger. */
  private def fileSource(s: SparkSession, stagedDir: String, schema: StructType): DataFrame =
    s.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(stagedDir)

  /** The one micro-batch loop: [[fileSource]] under
    * `Trigger.AvailableNow`, `body` called once per staged file with the
    * trigger id and the batch. The batch is re-based: the sink-provided
    * frame carries fixed attribute ids that the analyzer can't
    * deduplicate through self-joins (aggregates of the batch joined back
    * to the batch). With `fileCol`, `input_file_name()` is captured under
    * that name BEFORE re-basing: it resolves against the file scan, not
    * against a re-created frame. */
  private def eachFile(s: SparkSession, stagedDir: String, schema: StructType,
      fileCol: Option[String] = None)(body: (Long, DataFrame) => Unit): StreamingQuery =
    fileSource(s, stagedDir, schema).writeStream
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val named = fileCol.fold(batch)(c => batch.withColumn(c, input_file_name()))
        body(id, s.createDataFrame(named.rdd, named.schema))
      }
      .start()

  /** An empty frame with the columns of `ddl`: a state before its first
    * trigger. */
  private def emptyFrame(s: SparkSession, ddl: String): DataFrame =
    s.createDataFrame(java.util.Collections.emptyList[Row](), StructType.fromDDL(ddl))

  /** Creates the append-only log at `dir`, empty under `ddl`, ONLY when
    * none exists — a restart against accumulated state must EXTEND it
    * (that is the persisted-state contract), not silently reset it. */
  private def initLog(s: SparkSession, dir: String, ddl: String): Unit =
    if (!new File(dir, "_SUCCESS").exists())
      emptyFrame(s, ddl).write.mode("overwrite").parquet(dir)

  /** One trigger's fold into a one-part snapshot state: `merge` of the
    * latest snapshot under `stateDir` (empty under `ddl` before the
    * first) publishes as the next snapshot, returned read back. */
  private def republish(s: SparkSession, stateDir: String, ddl: String)(
      merge: DataFrame => DataFrame): DataFrame = {
    val root = new File(stateDir)
    val state = StateStore.latest(root).fold(emptyFrame(s, ddl))(v => s.read.parquet(v.getPath))
    val published = StateStore.publishNext(root)(tmp => merge(state).write.parquet(tmp.getPath))
    s.read.parquet(published.getPath)
  }

  /** File-source replay of an events parquet fixture: the file is staged
    * into a directory and read as a stream (one file per trigger). The
    * stream schema is inferred from the already-staged files (one footer
    * read — a stream source needs an explicit schema), so the source
    * tracks whichever `ts` layout the fixture generation shipped; the
    * column is then normalized exactly like the batch loader. */
  def eventsStream(s: SparkSession, stagedDir: String): DataFrame =
    Tables.normalizeEventsTs(fileSource(s, stagedDir,
      Tables.withNanosAsLong(s)(s.read.parquet(stagedDir).schema)))

  /** Tumbling-window counts with a watermark: rows later than 10 minutes
    * behind the max event time are dropped from state. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 minute"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(money(col("value"))).as("sum_value"))
      .select(col("window.start").as("minute_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Sliding-window counts over the stream (5-minute windows, 1-minute
    * slide) — the streaming face of q49. */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes", "1 minute"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("event_type"), col("n"))

  /** Session windows (5-minute gap) per user over the stream. */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n_events"))

  /** Stateful dedup bounded by the watermark. */
  def dedupWithinWatermark(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("user_id", "event_type")

  /** Stream-stream inner join: purchases joined to the same user's clicks
    * from the previous 10 minutes. Watermarks bound both sides' state —
    * Spark retains clicks only as long as a matching purchase could still
    * arrive. The batch face is Temporal.q55IntervalJoin. */
  def purchaseClickJoin(purchases: DataFrame, clicks: DataFrame): DataFrame = {
    val p = purchases.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "20 minutes")
    val c = clicks.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "20 minutes")
    p.join(c, col("c_user") === col("p_user") &&
      col("click_ts") >= col("purchase_ts") - expr("INTERVAL 10 MINUTES") &&
      col("click_ts") < col("purchase_ts"))
      .select(col("purchase_id"), col("click_id"), col("p_user").as("user_id"),
        col("purchase_ts"), col("click_ts"))
  }

  /** Stream-stream LEFT OUTER join over the same bounded window as
    * [[purchaseClickJoin]]: matched pairs emit as soon as both sides
    * arrive; purchases with NO qualifying click emit with null click
    * columns only once the watermark proves no match can still arrive
    * (state eviction is what makes outer semantics well-defined on
    * unbounded inputs — the row is held exactly until `click_ts <
    * purchase_ts` becomes impossible under the 20-minute watermark). */
  def purchaseClickLeftJoin(purchases: DataFrame, clicks: DataFrame): DataFrame = {
    val p = purchases.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "20 minutes")
    val c = clicks.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "20 minutes")
    p.join(c, col("c_user") === col("p_user") &&
      col("click_ts") >= col("purchase_ts") - expr("INTERVAL 10 MINUTES") &&
      col("click_ts") < col("purchase_ts"), "left_outer")
      .select(col("purchase_id"), col("click_id"), col("p_user").as("user_id"),
        col("purchase_ts"), col("click_ts"))
  }

  /** Stream-stream FULL OUTER interval join — completing the join-type
    * matrix with [[purchaseClickJoin]] (inner) and
    * [[purchaseClickLeftJoin]] (left): purchases with no qualifying
    * click AND clicks that preceded no purchase both surface as
    * null-padded rows once the watermark proves no match can still
    * arrive. Same watermarks, same time constraint; state on both sides
    * is bounded identically — the outer rows are emitted at eviction
    * time, which is why outer stream joins need the watermark at all. */
  def purchaseClickFullJoin(purchases: DataFrame, clicks: DataFrame): DataFrame = {
    val p = purchases.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "20 minutes")
    val c = clicks.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "20 minutes")
    p.join(c, col("c_user") === col("p_user") &&
      col("click_ts") >= col("purchase_ts") - expr("INTERVAL 10 MINUTES") &&
      col("click_ts") < col("purchase_ts"), "full_outer")
      .select(col("purchase_id"), col("click_id"),
        coalesce(col("p_user"), col("c_user")).as("user_id"),
        col("purchase_ts"), col("click_ts"))
  }

  /** Shared core of q70's batch and streaming faces: left-join the static
    * customer dimension onto events, aggregate per (segment, minute).
    * Works on bounded and unbounded `events` alike — on a stream, Spark
    * re-plans the static side each micro-batch and broadcasts it. */
  def enrichedSegmentCounts(events: DataFrame, customers: DataFrame): DataFrame =
    events
      .join(customers.select(col("c_custkey"), col("c_mktsegment")),
        col("user_id") === col("c_custkey"), "left")
      .groupBy(
        coalesce(col("c_mktsegment"), lit("UNKNOWN")).as("segment"),
        date_trunc("minute", col("ts")).as("minute_start"))
      .agg(count(lit(1)).as("n_events"), dsum(money(col("value"))).as("sum_value"))

  /** Streaming face of q70: watermarked stream-static join + windowed agg.
    * The dimension is NOT streamed and holds no state; only the windowed
    * aggregation keeps (segment × window) rows, bounded by the watermark. */
  def streamStaticSegmentCounts(events: DataFrame, customers: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .join(customers.select(col("c_custkey"), col("c_mktsegment")),
        col("user_id") === col("c_custkey"), "left")
      .groupBy(
        window(col("ts"), "1 minute"),
        coalesce(col("c_mktsegment"), lit("UNKNOWN")).as("segment"))
      .agg(count(lit(1)).as("n_events"), dsum(money(col("value"))).as("sum_value"))
      .select(col("segment"), col("window.start").as("minute_start"),
        col("n_events"), col("sum_value"))

  /** Custom state with selective emission: flatMapGroupsWithState emits a
    * row only when a user's value sets a new high-watermark (append mode —
    * zero rows for batches that don't move the max). */
  def highWatermarkEvents(s: SparkSession, events: DataFrame): DataFrame = {
    import s.implicits._
    val typed = events.select(col("user_id"), col("value")).as[(Long, Double)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[Double, (Long, Double)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[Double]) =>
          var mx = state.getOption.getOrElse(Double.MinValue)
          val out = rows.flatMap { r =>
            if (r._2 > mx) { mx = r._2; Some((uid, r._2)) } else None
          }.toList
          state.update(mx)
          out.iterator
      }
      .toDF("user_id", "new_max")
  }

  /** Spark 4 arbitrary-state API: per-user running count + max via
    * `transformWithState` with typed [[org.apache.spark.sql.streaming.ValueState]]
    * columns — the successor to mapGroupsWithState (TTL-capable state,
    * timers, initial-state seeding) and RocksDB-backed by requirement,
    * so per-key state lives off-heap with incremental checkpoints: the
    * production shape for billions of keys. Semantically mirrors
    * [[runningUserStats]]; StreamingSpec asserts both converge to the
    * batch counts. */
  private class RunningStatsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Double), (Long, Long, Double)] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode, TimerValues, ValueState}
    @transient private var nState: ValueState[Long] = _
    @transient private var mxState: ValueState[Double] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      nState = getHandle.getValueState[Long]("n", Encoders.scalaLong, TTLConfig.NONE)
      mxState = getHandle.getValueState[Double]("mx", Encoders.scalaDouble, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[(Long, Double)],
        timers: TimerValues): Iterator[(Long, Long, Double)] = {
      var n = if (nState.exists()) nState.get() else 0L
      var mx = if (mxState.exists()) mxState.get() else Double.MinValue
      rows.foreach { r => n += 1; if (r._2 > mx) mx = r._2 }
      nState.update(n)
      mxState.update(mx)
      Iterator.single((key, n, mx))
    }
  }

  /** Streaming face using the transformWithState processor above. */
  def runningUserStatsTws(s: SparkSession, events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.TimeMode
    import s.implicits._
    val typed = events.select(col("user_id"), col("value")).as[(Long, Double)]
    typed.groupByKey(_._1)
      .transformWithState(new RunningStatsProcessor, TimeMode.None(), OutputMode.Update())
      .toDF("user_id", "n_events", "max_value")
  }

  /** Streaming face of q109 (transition matrix): per-user state holds
    * the LAST event type; each arriving event emits one
    * (event_type, next_type) transition — `flatMapGroupsWithState` in
    * append mode, state is one string per user (bounded by the user
    * population, the same key space as every other per-user state op
    * here). Within a micro-batch, rows sort by the batch ordering key
    * (ts, event_id) so emitted transitions match the batch LEAD window
    * exactly; across batches the file-replay source preserves time
    * order (same single-source caveat as the session-window face).
    * StreamingSpec proves the emitted transition multiset equals q109's
    * counts on the same data. */
  def transitionStream(s: SparkSession, events: DataFrame): DataFrame = {
    import s.implicits._
    val typed = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .as[(Long, java.sql.Timestamp, Long, String)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[String, (String, String)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (_, rows, state: GroupState[String]) =>
          val sorted = rows.toSeq.sortBy(r => (r._2.getTime, r._2.getNanos, r._3))
          var prev = state.getOption
          val out = Seq.newBuilder[(String, String)]
          sorted.foreach { r =>
            prev.foreach(p => out += ((p, r._4)))
            prev = Some(r._4)
          }
          prev.foreach(state.update)
          out.result().iterator
      }
      .toDF("event_type", "next_type")
  }

  /** Streaming face of q264 (interval-union coverage): per-user stateful
    * interval merge. State is one OPEN island (start, runningMaxEnd, n)
    * per user; an incoming interval extends it while s ≤ maxEnd, and
    * when an interval starts PAST the running max end the old island can
    * never grow again, so it is emitted CLOSED and the new interval
    * opens the next island — an uptime monitor's exact semantics (the
    * still-open island is not final and stays in state; the batch face
    * sees it, the stream hasn't finished it yet, and StreamingSpec
    * asserts stream ≡ batch minus each user's chronologically-last
    * island).
    *
    * Rows within a micro-batch sort by (s, event_id); ACROSS batches the
    * merge is only correct when a user's events arrive in nondecreasing
    * start order — the same staged-file time-order precondition
    * [[corpusBuildStream]] documents (a production feed partitioned by
    * event time satisfies it; late data belongs in the batch face).
    * State is user-keyed (partitions across executors) and O(1) per
    * user. */
  def intervalUnionStream(s: SparkSession, events: DataFrame): DataFrame = {
    import s.implicits._
    val iv = Temporal.eventIntervals(events)
      .as[(Long, Long, Long, Long)]
    iv.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long), (Long, Long, Long, Long, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[(Long, Long, Long)]) =>
          val sorted = rows.toSeq.sortBy(r => (r._3, r._2))
          var cur = state.getOption // (start, runningMaxEnd, n)
          val out = Seq.newBuilder[(Long, Long, Long, Long, Long)]
          sorted.foreach { case (_, _, st, en) =>
            cur = cur match {
              case Some((cs, ce, n)) if st <= ce =>
                Some((cs, math.max(ce, en), n + 1))
              case Some((cs, ce, n)) =>
                out += ((uid, cs, ce, ce - cs, n))
                Some((st, en, 1L))
              case None => Some((st, en, 1L))
            }
          }
          cur.foreach(state.update)
          out.result().iterator
      }
      .toDF("user_id", "island_start", "island_end", "covered_us", "n_events")
  }

  /** Streaming face of q108 (incremental dedup): NEW document files
    * arrive as a file-source stream; each micro-batch is decided against
    * the PERSISTED corpus state via `foreachBatch` — the corpus
    * shingles/bands/counts/hashes are built ONCE outside the stream and
    * reused by every trigger, so per-trigger cost scales with that
    * trigger's file, exactly the production ingest loop. Decisions are
    * per-doc and independent (batch docs never dedupe against each
    * other, matching q108's batch semantics), so any file split of the
    * same docs yields the same decision multiset — StreamingSpec asserts
    * equality with the batch face. */
  def incrementalDedupStream(s: SparkSession, stagedDir: String,
      corpus: Dedup.CorpusDedupState)(
      onBatch: (Long, DataFrame) => Unit): StreamingQuery =
    eachFile(s, stagedDir, DocsSchema) { (id, b) =>
      // unpersist the per-trigger shingle cache once the consumer is
      // done — a long-lived stream must not accumulate cached blocks
      val (decisions, bsh) = Dedup.dedupeBatchWithHandle(b, corpus)
      try onBatch(id, decisions) finally bsh.unpersist()
    }

  /** Streaming face of the corpus-build capstone (q123) — the actual
    * 100 TB ingest loop: document files arrive staged IN doc_id ORDER
    * with strictly increasing MODIFICATION TIMES (Spark's file source
    * orders triggers by mtime with unspecified tie order, so equal
    * mtimes would make which duplicate survives nondeterministic —
    * stagers on coarse-mtime filesystems must set times explicitly);
    * each trigger runs the SAME per-doc gate prefix as the batch build
    * ([[TextOps.curationGates]], shared code so the faces can't drift),
    * exact-dedups against the accumulated text-hash state (first-seen
    * under ordered arrival ≡ the batch's keep-lowest-id), and
    * decontaminates against the FIXED eval set via the verified
    * [[TextOps.decontaminate]] operator (the trigger's grams are pruned
    * by the PERSISTED eval-gram bloom — built once per eval-set version,
    * read from disk every trigger). Accepted rows flow to
    * `onBatch`; their hashes append to `stateDir` (an append-only
    * parquet log — the state a pipeline persists between runs). The
    * mixture rebalance (q118) is
    * inherently corpus-global — rates depend on FINAL per-source
    * survivor counts — so it stays a batch post-pass over the
    * accumulated survivors; StreamingSpec proves stream survivors +
    * post-pass ≡ q123's batch output row-for-row.
    *
    * Per-trigger cost: one scan of the trigger's file (gates are
    * scan-level), one anti-join against the hash state, one pruned pass
    * over the (small, fixed) eval set — never a pass over the
    * accumulated corpus text. The hash state is the only thing that
    * grows, at 32 bytes/doc. */
  def corpusBuildStream(s: SparkSession, stagedDir: String,
      evalDocs: DataFrame, stateDir: String)(
      onBatch: (Long, DataFrame) => Unit): StreamingQuery = {
    initLog(s, stateDir, "h STRING")
    // the eval set is fixed for the stream's lifetime: key it once,
    // reuse the persisted reference-gram Bloom across every trigger
    val bloomKey = StateStore.key("evalbloom_v1", evalDocs)
    eachFile(s, stagedDir, DocsSchema) { (id, b) =>
      val gated = TextOps.curationGates(b)
      val w = Window.partitionBy(col("h")).orderBy(col("doc_id"))
      val ded = gated.withColumn("h", md5(col("text")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn")
        .join(s.read.parquet(stateDir), Seq("h"), "left_anti").cachedStageBoundary
      try {
        val (ov, gramsHandle) = TextOps.decontaminateWithHandle(
          ded.select(col("doc_id"), col("text")), evalDocs, 5, 0.5,
          bloomState = Some(bloomKey))
        try {
          val accepted = ded.join(
            ov.filter(!col("contaminated")).select(col("doc_id")), "doc_id")
            .select(col("doc_id"), col("lang"), col("source"),
              size(col("toks")).cast("long").as("n_tokens"))
          onBatch(id, accepted)
        } finally gramsHandle.unpersist()
        // append LAST: ded's lineage anti-joins the state it reads, so
        // every in-trigger action must see the pre-append snapshot —
        // even if the persisted handle is dropped and ded recomputes
        ded.select(col("h")).write.mode("append").parquet(stateDir)
      } finally ded.unpersist()
    }
  }

  /** Streaming face of q235's incremental MV maintenance — the refresh
    * loop a warehouse runs: each trigger partial-aggregates ONLY the
    * newly-arrived order files ([[Analytics.mvState]]) and merges into
    * the persisted MV ([[Analytics.mvMerge]] — literally the batch
    * operator's code, so stream and batch can never drift), then
    * publishes state + ingested-file log together as ONE snapshot
    * ([[fileLoggedStream]]): a merge is NOT idempotent per row, so the
    * file log must commit in the same atomic unit as the state it is
    * folded into — the two can never tear apart across a crash, and a
    * restarted (uncheckpointed) stream that replays staged files
    * anti-joins them out of the fresh set and re-emits the same MV
    * without double-counting. `onBatch` sees [[Analytics.mvEmit]] of
    * the post-merge state, read back from the written snapshot.
    *
    * Per-trigger cost: one scan of the trigger's files + a merge of
    * two STATE-sized relations — history is never re-scanned, which
    * is the entire point of the MV algebra at 100 TB. */
  def mvMaintainStream(s: SparkSession, stagedDir: String, stateDir: String)(
      onBatch: (Long, DataFrame) => Unit): StreamingQuery =
    fileLoggedStream(s, stagedDir, stateDir,
      "mv_month DATE, o_orderpriority STRING, n BIGINT, rev BIGINT, mn BIGINT, mx BIGINT")(
      (state, fresh) => Analytics.mvMerge(state, Analytics.mvState(fresh)),
      Analytics.mvEmit)(onBatch)

  /** Event-time tumbling DAY counts under a REAL watermark — the face
    * that closes the loop on q341's lateness audit: q341 measures the
    * disorder and says what `withWatermark(delay)` must be; this stream
    * runs that policy for real, and StreamingSpec proves BOTH
    * directions of the claim — a delay ≥ the measured max lateness
    * reproduces the batch tumbling counts exactly, and an undersized
    * delay drops late rows, and ONLY rows of the straggler class.
    * Engine facts the spec encodes: the late-row filter lags one batch
    * (the first late batch after a high-water file is still fully
    * aggregated — the watermark it sees was committed before that
    * file), and rows are dropped by WINDOW expiry (window.end vs
    * watermark), not by raw timestamp. Update-mode memory sink, latest
    * row per window = the window's final count (append mode would
    * never emit windows still open at AvailableNow termination — the
    * classic watermark-test trap). */
  def tumblingCountsStream(s: SparkSession, stagedDir: String, delay: String,
      sinkName: String): StreamingQuery =
    fileSource(s, stagedDir, s.read.parquet(stagedDir).schema)
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), "1 day"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("win_start"), col("n_events"))
      .writeStream
      .trigger(Trigger.AvailableNow())
      .outputMode("update")
      .format("memory")
      .queryName(sinkName)
      .start()

  /** Streaming face of q332's JOIN-view maintenance — the stream-static
    * delta rule: orders arrive as staged files, the customer dimension
    * is static, and each trigger folds ΔO ⋈ C into the persisted view
    * state ([[Analytics.joinMvState]]/[[Analytics.joinMvMerge]] —
    * literally the batch operator's code, the q235 discipline). The
    * merge is NOT idempotent (sums add, fingerprints XOR — a replayed
    * file would cancel its own keys back OUT of the fingerprint), so
    * the ingested-file log publishes in the same atomic snapshot as
    * the state (the [[mvMaintainStream]] protocol): a replaying
    * restart anti-joins staged files out of the fresh set and re-emits
    * the same view.
    *
    * Per-trigger cost: Δ-scan ⋈ broadcast dimension + a merge of two
    * GRAIN-sized states — the full fact is never re-joined, which is
    * the delta rule's 100 TB point. `onBatch` sees the emitted view. */
  def joinMvMaintainStream(s: SparkSession, stagedDir: String, cust: DataFrame,
      stateDir: String)(
      onBatch: (Long, DataFrame) => Unit): StreamingQuery = {
    val dim = broadcast(cust.select(col("c_custkey"), col("c_nationkey")))
    fileLoggedStream(s, stagedDir, stateDir,
      "c_nationkey INT, o_orderpriority STRING, n BIGINT, sc BIGINT, fp BIGINT")(
      (state, fresh) => Analytics.joinMvMerge(state,
        Analytics.joinMvState(Analytics.joinMvOrders(fresh), dim)),
      Analytics.joinMvEmit)(onBatch)
  }

  /** The file-logged fold of the two MV faces: each trigger's order
    * file, tagged `src_file`, is anti-joined against the ingested-file
    * log; the fresh rows are `merge`d into the state, and the merged
    * state (part `mv`, empty under `stateDdl` before the first trigger)
    * and the grown file log (part `files`) publish as ONE snapshot.
    * Triggers that bring nothing new publish nothing (no version
    * churn). `onBatch` sees `emit` of the current state. */
  private def fileLoggedStream(s: SparkSession, stagedDir: String, stateDir: String,
      stateDdl: String)(merge: (DataFrame, DataFrame) => DataFrame,
      emit: DataFrame => DataFrame)(onBatch: (Long, DataFrame) => Unit): StreamingQuery = {
    val root = new File(stateDir)
    eachFile(s, stagedDir, OrdersSchema, fileCol = Some("src_file")) { (id, b) =>
      val arrived = b.cachedStageBoundary
      try {
        val last = StateStore.latest(root)
        val state = last.fold(emptyFrame(s, stateDdl))(v => s.read.parquet(s"$v/mv"))
        val seen = last.fold(emptyFrame(s, "src_file STRING"))(v => s.read.parquet(s"$v/files"))
        val fresh = arrived.join(seen, Seq("src_file"), "left_anti")
        val current = if (fresh.isEmpty) state else {
          val published = StateStore.publishNext(root) { tmp =>
            merge(state, fresh.drop("src_file")).write.parquet(s"$tmp/mv")
            seen.select(col("src_file"))
              .union(fresh.select(col("src_file")).distinct())
              .distinct()
              .write.parquet(s"$tmp/files")
          }
          s.read.parquet(s"$published/mv")
        }
        onBatch(id, emit(current))
      } finally arrived.unpersist()
    }
  }

  /** Streaming face of q250's Bloom zone maps — skipping metadata
    * maintained in the SAME pass that ingests the shard, the way a
    * table format keeps its column indexes current: each trigger
    * builds [[Layout.bloomWords]] over only the arriving order files
    * and BIT_ORs them into the persisted words relation, published as
    * a snapshot ([[republish]]). The contrast with
    * [[mvMaintainStream]] is the point: BIT_OR is IDEMPOTENT, so a
    * replayed file folds to a no-op and NO ingested-file log is
    * needed — merge algebra decides durability protocol. Bits are
    * only ever ADDED, matching the audit's no-false-negative
    * guarantee under any replay/ordering. `onBatch` sees the
    * post-merge words relation. */
  def bloomZoneMapStream(s: SparkSession, stagedDir: String, stateDir: String)(
      onBatch: (Long, DataFrame) => Unit): StreamingQuery =
    eachFile(s, stagedDir, KeysSchema) { (id, b) =>
      val arrived = b.select(expr("o_orderkey div 200").as("shard"), col("o_custkey").as("k"))
      // idempotent merge: same-key words BIT_OR together, so a replayed
      // file changes nothing and arrival order never matters
      onBatch(id, republish(s, stateDir, "shard BIGINT, w BIGINT, bm BIGINT") { state =>
        state.unionByName(Layout.bloomWords(arrived))
          .groupBy(col("shard"), col("w"))
          .agg(expr("bit_or(bm)").as("bm"))
      })
    }

  /** Streaming face of q278 (KMV distinct sketch): per trigger, hash the
    * arriving keys, union with the persisted k smallest, keep the k
    * smallest again, publish a snapshot. KMV state is a
    * MIN-SEMILATTICE exactly like q250's Bloom BIT_OR: the fold is
    * idempotent and commutative, so a replayed file is a no-op and
    * arrival order never matters — no file log, no offset, no
    * checkpoint needed for correctness (the q250 argument, on the
    * second synopsis family). `onBatch` sees the post-merge sketch. */
  def kmvStream(s: SparkSession, stagedDir: String, stateDir: String, k: Int = 64)(
      onBatch: (Long, DataFrame) => Unit): StreamingQuery =
    eachFile(s, stagedDir, KeysSchema) { (id, b) =>
      val arrived = Layout.kmvHashes(b, "o_custkey")
      // idempotent min-fold: union + distinct + re-top-k
      onBatch(id, republish(s, stateDir, "h BIGINT") { state =>
        state.unionByName(arrived).distinct().orderBy(col("h")).limit(k)
      })
    }

  /** Streaming face of q102 (heavy hitters): per arriving FILE, an
    * exact-counts-then-compress Misra–Gries summary — top k words by
    * count minus the (k+1)-th largest count (the COMPRESS step of
    * mergeable summaries, Agarwal et al. PODS'12: a k-counter summary
    * whose undercount is ≤ N_file/(k+1)) — folded into persisted state
    * keyed PER SOURCE FILE, exactly like the freshness counts: a
    * replayed file re-derives byte-identical (fname, word, est) rows
    * and the set-union merge (group by (fname, word), MAX over equal
    * est) is idempotent, so at-least-once delivery never double-counts
    * a file. The SERVED sketch re-compresses the summed per-file
    * estimates to k counters; total undercount is bounded by
    * Σ_f N_f/(k+1) + N/(k+1) ≤ 2N/(k+1), so every word with true count
    * above that bound is guaranteed present (StreamingSpec pins the
    * guarantee against exact batch counts AND replay-idempotence).
    * State size is files × k — manifest-sized, never vocabulary-sized.
    * At 100 TB this is the standing "what's trending in the ingest"
    * board: one bounded summary per arriving shard, one bounded merge
    * to serve. */
  def topkStream(s: SparkSession, stagedDir: String, stateDir: String, k: Int = 64)(
      onBatch: (Long, DataFrame) => Unit): StreamingQuery = {
    // compress exact (grp-keyed) counts to a k-counter MG summary:
    // est = cnt - cnt_(k+1), keep positive — per group `grp`
    def compress(counts: DataFrame, grp: Seq[String]): DataFrame = {
      val w = Window.partitionBy(grp.map(col): _*).orderBy(col("cnt").desc, col("word"))
      counts
        .withColumn("rk", row_number().over(w))
        .withColumn("off", coalesce(
          max(when(col("rk") === k + 1, col("cnt"))).over(Window.partitionBy(grp.map(col): _*)),
          lit(0L)))
        .filter(col("rk") <= k && col("cnt") > col("off"))
        .select(grp.map(col) :+ col("word") :+ (col("cnt") - col("off")).as("est"): _*)
    }
    eachFile(s, stagedDir, DocsSchema, fileCol = Some("fname")) { (id, b) =>
      val counts = b
        .select(col("fname"), explode(split(col("text"), " ")).as("word"))
        .groupBy(col("fname"), col("word")).agg(count(lit(1)).as("cnt"))
      val arrived = compress(counts, Seq("fname"))
      // set union: a replayed file contributes identical rows
      val state = republish(s, stateDir, "fname STRING, word STRING, est BIGINT") { state =>
        state.unionByName(arrived)
          .groupBy(col("fname"), col("word")).agg(max(col("est")).as("est"))
      }
      // serve: sum the per-file summaries, re-compress to k counters
      val summed = state
        .groupBy(col("word")).agg(sum(col("est")).as("cnt"))
        .withColumn("tag", lit(1))
      onBatch(id, compress(summed, Seq("tag"))
        .select(col("word"), col("est"))
        .orderBy(col("est").desc, col("word")))
    }
  }

  /** Streaming face of q307 (feed freshness): per trigger, fold the
    * arriving per-feed max event times into the persisted high-water
    * marks by MAX — the third semilattice face (Bloom BIT_OR q250, KMV
    * min-fold q278, freshness MAX-fold): idempotent and commutative, so
    * a replayed file is a no-op and arrival order never matters.
    *
    * The event COUNTS are not a semilattice under a naive SUM — a
    * replayed file would double-count — so the persisted state is keyed
    * PER SOURCE FILE: (fname, event_type, last_us, n_events), where a
    * replayed file contributes byte-identical rows and the merge
    * (group by (fname, event_type), fold each stat by MAX over equal
    * values) is a set union — idempotent again. The marks relation
    * `onBatch` sees is derived from that state (MAX of marks, SUM of
    * the per-file deduped counts), so BOTH the marks and the counts are
    * exact under at-least-once file delivery with no separate log: the
    * file identity IS the log, carried inside the state. State size is
    * files × feeds — manifest-sized, not row-sized — and compactable by
    * the same snapshot versioning. */
  def freshnessStream(s: SparkSession, stagedDir: String, stateDir: String)(
      onBatch: (Long, DataFrame) => Unit): StreamingQuery =
    eachFile(s, stagedDir, s.read.parquet(stagedDir).schema, fileCol = Some("fname")) { (id, b) =>
      val arrived = Tables.normalizeEventsTs(b)
        .groupBy(col("fname"), col("event_type"))
        .agg(max(expr("unix_micros(ts)")).as("last_us"),
          count(lit(1)).as("n_events"))
      val state = republish(s, stateDir,
          "fname STRING, event_type STRING, last_us BIGINT, n_events BIGINT") { state =>
        // schema gate: a pre-file-keyed snapshot (event_type,
        // last_us, n_events — no fname) CANNOT be upgraded exactly:
        // its counts are un-attributed to files, so any replayed
        // file would double-count against them. Reject the restart
        // cleanly with the remedy instead of dying inside
        // unionByName with a missing-column AnalysisException.
        require(state.columns.contains("fname"),
          s"freshness state under $stateDir predates the file-keyed " +
            "schema (no fname column) and cannot be migrated exactly; " +
            "delete the state dir and re-run — the stream rebuilds it " +
            "from the staged files")
        // set-union merge: a replayed file re-derives the SAME
        // (fname, event_type) rows, so MAX over equal values = no-op
        state.unionByName(arrived)
          .groupBy(col("fname"), col("event_type"))
          .agg(max(col("last_us")).as("last_us"), max(col("n_events")).as("n_events"))
      }
      // the served marks: per-file state rolled up — counts now sum
      // over DEDUPED files, exact under replay
      onBatch(id, state
        .groupBy(col("event_type"))
        .agg(max(col("last_us")).as("last_us"), sum(col("n_events")).as("n_events")))
    }

  /** Streaming face of q130's sequence packing — the ingest loop that
    * packs ARRIVING documents into the SAME global token layout the
    * batch operator computes: the corpus-wide token offset persists
    * between triggers (one long, published as a one-file snapshot
    * through [[StateStore.publishNext]] — no Spark job), so each trigger
    * lays its docs out continuing
    * exactly where the previous one stopped, windows straddle trigger
    * boundaries the way they straddle doc boundaries, and a restart
    * resumes from the last COMMITTED offset (state publishes only after
    * `onBatch` returns — the q108 append-last discipline).
    *
    * StreamingSpec proves the concatenation of all trigger outputs
    * equals [[TextOps.packSequences]] over the same docs in one batch,
    * row-for-row — the stream ≡ batch contract, which holds because the
    * layout is a pure function of (arrival order ≡ doc_id order, token
    * counts) and the persisted offset carries the only cross-trigger
    * dependency. */
  def packingStream(s: SparkSession, stagedDir: String, stateDir: String,
      contextLen: Int = 128)(
      onBatch: (Long, DataFrame) => Unit): StreamingQuery = {
    val root = new File(stateDir)
    eachFile(s, stagedDir, DocsSchema) { (id, batch) =>
      val b = batch.cachedStageBoundary
      try {
        val base = StateStore.latest(root).fold(0L)(v =>
          new String(java.nio.file.Files.readAllBytes(new File(v, "offset").toPath)).trim.toLong)
        onBatch(id, TextOps.packSequences(
          b.select(col("doc_id"), col("text")), contextLen, baseOffset = base))
        val consumed = b.agg(coalesce(
            sum(size(split(col("text"), " ")) + 1), lit(0)).cast("long"))
          .head().getLong(0)
        StateStore.publishNext(root) { tmp =>
          tmp.mkdirs()
          java.nio.file.Files.write(new File(tmp, "offset").toPath, (base + consumed).toString.getBytes)
        }
      } finally b.unpersist()
    }
  }

  /** Streaming face of the per-domain cap (q141) — ingest-time
    * admission control: a domain's quota is consumed in ARRIVAL order.
    * The batch face ranks by keep-preference (longest-first) across the
    * whole corpus; at ingest time future documents are unknown, so the
    * streaming semantics is first-come-first-admitted — the production
    * crawl-frontier shape (cap a host the moment its quota fills, drop
    * the rest of its crawl on arrival instead of storing it). Files
    * must arrive staged in doc_id order with distinct mtimes (the
    * [[corpusBuildStream]] precondition); under that ordering stream
    * admission ≡ the batch rank-by-arrival cap, which StreamingSpec
    * proves row-for-row, including across a restart.
    *
    * State is the appended (domain, doc_id) admission log behind the
    * q108 append-LAST discipline (state publishes only after `onBatch`
    * returns, so a crashed trigger re-admits rather than leaks quota);
    * the per-trigger cost is one dimension-sized count of the log plus
    * one scan of the trigger's file — never a pass over the corpus. */
  def admissionCapStream(s: SparkSession, stagedDir: String, stateDir: String,
      cap: Int)(
      onBatch: (Long, DataFrame) => Unit): StreamingQuery = {
    initLog(s, stateDir, "domain STRING, doc_id BIGINT")
    eachFile(s, stagedDir, DocsSchema) { (id, b) =>
      val log = s.read.parquet(stateDir)
      val used = log.groupBy(col("domain")).agg(count(lit(1)).as("used"))
      // anti-join the log first: an uncheckpointed RESTART replays
      // already-processed files, and replayed admitted docs must
      // neither re-emit nor re-consume quota (idempotence under
      // replay — the same content-keyed discipline that makes the
      // dedup stream's restart self-healing)
      val admitted = b.join(log.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .withColumn("domain", col("source"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("domain")).orderBy(col("doc_id"))))
        .join(broadcast(used), Seq("domain"), "left")
        .filter(coalesce(col("used"), lit(0L)) + col("rk") <= cap)
        .select(col("domain"), col("doc_id")).cachedStageBoundary
      try {
        onBatch(id, admitted)
        // append LAST: the admission decision anti-depends on the
        // pre-append state snapshot (same discipline as q108)
        admitted.write.mode("append").parquet(stateDir)
      } finally admitted.unpersist()
    }
  }

  /** q162's ingest-time face: an IVF serving index watching its arrival
    * distribution BETWEEN rebuilds. Arrivals stream in; each trigger
    * assigns the micro-batch to the FROZEN centroid relation (no
    * retrain — the q120 serving posture), appends (vec_id, cid) to a
    * persisted assignment log (append LAST, the q108 discipline: the
    * emit anti-depends on the pre-append snapshot), and reports the
    * accumulated per-bucket arrival counts — the numbers q162's drift
    * compares against build-time shares. Replay idempotence: an
    * uncheckpointed restart re-processes staged files, and already-
    * logged vec_ids anti-join out, so counts never double. The log IS
    * the incremental index extension (the rows a bucket-probing ANN
    * serves from), so the monitor rides the maintenance write for free. */
  def driftStream(s: SparkSession, stagedDir: String, stateDir: String,
      cents: Seq[(Long, Seq[Long])])(
      onBatch: (Long, Seq[(Long, Long)]) => Unit): StreamingQuery = {
    initLog(s, stateDir, "vec_id BIGINT, cid BIGINT")
    eachFile(s, stagedDir, VectorsSchema) { (id, b) =>
      val log = s.read.parquet(stateDir)
      val fresh = b.join(log.select(col("vec_id")), Seq("vec_id"), "left_anti")
      val assigned = Similarity.assignToCentroids(
          Similarity.quantizeVectors(fresh), cents)
        .select(col("vec_id"), col("cid")).cachedStageBoundary
      try {
        val counts = log.select(col("cid")).union(assigned.select(col("cid")))
          .groupBy(col("cid")).agg(count(lit(1)).as("n"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1).toSeq
        onBatch(id, counts)
        assigned.write.mode("append").parquet(stateDir)
      } finally assigned.unpersist()
    }
  }

  /** Streaming face of q176's commit-log replay: tail the action log
    * (files of (version, shard_id, action, file_hash) rows landing in
    * `stagedDir`) and maintain the LIVE SNAPSHOT incrementally — per
    * trigger, merge arriving actions into the latest-action-per-shard
    * state by last-version-wins and publish it as the next snapshot
    * ([[republish]]; the state is the
    * metadata-plane checkpoint a Delta-style reader keeps so
    * steady-state cost is the log TAIL, exactly what q176's docstring
    * promises). The merge is
    * IDEMPOTENT — max version wins, so re-delivered or replayed action
    * files are absorbed without an anti-join dedup log, and a restart
    * over the full staged history converges to the identical snapshot
    * (spec-proved equal to the batch [[TextOps.timeTravel]] replay).
    * `onBatch` receives the live (shard_id, file_hash) set after each
    * publish. */
  def logTailStream(s: SparkSession, stagedDir: String, stateDir: String)(
      onBatch: (Long, Seq[(Long, Long)]) => Unit): StreamingQuery =
    eachFile(s, stagedDir, StructType.fromDDL(
        "version LONG, shard_id LONG, action STRING, file_hash LONG")) { (id, b) =>
      val snapshot = republish(s, stateDir,
          "shard_id BIGINT, version BIGINT, action STRING, file_hash BIGINT") { state =>
        state
          .unionByName(b.select(col("shard_id"), col("version"), col("action"), col("file_hash")))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("shard_id"))
              .orderBy(col("version").desc, col("action"), col("file_hash"))))
          .filter(col("rn") === 1).drop("rn")
      }
      // the snapshot is shard-count-sized (metadata plane)
      onBatch(id, snapshot.filter(col("action") === "put")
        .select(col("shard_id"), col("file_hash")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1).toSeq)
    }

  /** Streaming postings-index maintenance — the ingest loop a lexical
    * retriever runs continuously: document files land in `stagedDir`;
    * per trigger, [[TextOps.extendPostings]] merges the fresh docs into
    * the persisted (tf, dl, df) index under `stateDir`, published as the
    * next snapshot (parts `tf`, `dl`, `df`) through
    * [[StateStore.publishNext]]. Replayed files anti-join
    * out against the indexed doc_ids, so restarts never double-count a
    * term (spec-proved: streamed index ≡ one batch build over all
    * arrivals, bit-exact, including after a full restart replay).
    * `onBatch` receives (n_docs_indexed, vocab_size) per trigger, counted
    * off the published snapshot. */
  def postingsStream(s: SparkSession, stagedDir: String, stateDir: String)(
      onBatch: (Long, Long, Long) => Unit): StreamingQuery = {
    val root = new File(stateDir)
    eachFile(s, stagedDir, StructType.fromDDL("doc_id LONG, text STRING")) { (id, b) =>
      val last = StateStore.latest(root)
      def part(p: String, ddl: String) = last.fold(emptyFrame(s, ddl))(v => s.read.parquet(s"$v/$p"))
      val (tf, dl, df, toks) = TextOps.extendPostingsWithHandle(
        part("tf", "doc_id BIGINT, word STRING, tf BIGINT"), part("dl", "doc_id BIGINT, dl BIGINT"),
        part("df", "word STRING, df BIGINT"), b)
      try {
        val published = StateStore.publishNext(root) { tmp =>
          tf.write.parquet(s"$tmp/tf")
          dl.write.parquet(s"$tmp/dl")
          df.write.parquet(s"$tmp/df")
        }
        onBatch(id, s.read.parquet(s"$published/dl").count(),
          s.read.parquet(s"$published/df").count())
      } finally toks.unpersist()
    }
  }

  /** Streaming mini-batch k-means (Sculley, WWW'10 §3): vector files
    * arrive as a file-source stream; each micro-batch assigns to the
    * CURRENT centroids (one distributed scan through
    * [[Similarity.assignToCentroids]] — the same fused HOF argmin as the
    * batch trainer) and centroids then move by exact integer running
    * sums: state is (cid, n, Σvec) longs, centroid = floor(Σ/n). The
    * online counterpart of q119 — how a served IVF index (q120) absorbs
    * corpus growth without retraining from scratch. Integer state makes
    * the stream bit-deterministic: StreamingSpec replays the same batch
    * sequence with a driver-side reference and requires EXACT state
    * equality after every trigger. The state (k·d longs) is held in
    * memory for the stream's lifetime; a stream that must survive a
    * restart would publish it each trigger as a one-file snapshot
    * through [[StateStore.publishNext]], as [[packingStream]] does its
    * offset. Per-trigger cost is one scan of the trigger's file plus a
    * k·d-row aggregate. */
  def kmeansStream(s: SparkSession, stagedDir: String,
      init: Seq[(Long, Seq[Long])])(
      onBatch: (Long, DataFrame, Seq[(Long, Long, Seq[Long])]) => Unit): StreamingQuery = {
    // (cid, n, sums): each init centroid is a 1-vector cluster
    @volatile var state: Seq[(Long, Long, Seq[Long])] =
      init.map { case (cid, v) => (cid, 1L, v) }
    eachFile(s, stagedDir, VectorsSchema) { (id, batch) =>
      val cents = state.map { case (cid, n, sums) =>
        cid -> sums.map(x => math.floor(x.toDouble / n).toLong) }
      val upd = Similarity.assignToCentroids(Similarity.quantizeVectors(batch), cents)
        .select(col("cid"), posexplode(col("qv")).as(Seq("pos", "v")))
        .groupBy(col("cid"), col("pos"))
        .agg(sum(col("v")).as("sv"), count(lit(1)).as("c"))
        .collect()
        .groupBy(_.getLong(0))
      state = state.map { case (cid, n, sums) =>
        upd.get(cid) match {
          case Some(rows) =>
            val dn = rows.head.getLong(3)
            val svByPos = rows.map(r => r.getInt(1) -> r.getLong(2)).toMap
            (cid, n + dn, sums.indices.map(i => sums(i) + svByPos(i)))
          case None => (cid, n, sums)
        }
      }
      onBatch(id, batch, state)
    }
  }

  /** Custom state: running per-user event count + max value via
    * mapGroupsWithState (update mode). */
  def runningUserStats(s: SparkSession, events: DataFrame): DataFrame = {
    import s.implicits._
    case class E(user_id: Long, value: Double)
    val typed = events.select(col("user_id"), col("value")).as[(Long, Double)]
    typed.groupByKey(_._1)
      .mapGroupsWithState[(Long, Double), (Long, Long, Double)](GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[(Long, Double)]) =>
          val (prevN, prevMax) = state.getOption.getOrElse((0L, Double.MinValue))
          var n = prevN
          var mx = prevMax
          rows.foreach { r => n += 1; if (r._2 > mx) mx = r._2 }
          state.update((n, mx))
          (uid, n, mx)
      }
      .toDF("user_id", "n_events", "max_value")
  }
}
