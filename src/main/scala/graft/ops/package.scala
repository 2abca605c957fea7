package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Shared devices for every operator registry in `graft.ops`. */
package object ops {

  /** Conf key selecting how [[StageBoundaryOps.stageBoundary]]
    * materializes a multi-consumer intermediate. Values:
    *
    *   - `local` (default): eager `localCheckpoint` — one computation,
    *     lineage truncated, blocks held UNREPLICATED on executors. The
    *     right call in `local[n]` (driver == executor, nothing to lose)
    *     and the cheapest barrier, but on a real cluster an executor
    *     loss fails the query instead of recomputing.
    *   - `reliable`: eager `Dataset.checkpoint` to the reliable
    *     checkpoint directory ([[StageBoundaryDirKey]], set lazily) —
    *     the cluster-mode posture: the boundary survives executor loss
    *     and dynamic-allocation shrink, at the price of a filesystem
    *     write. This is the local stand-in for what a production
    *     pipeline does at these exact points: write the stage to
    *     storage.
    *   - `none`: no materialization — lineage flows through (for plan
    *     audits of the un-truncated shape; consumers may recompute).
    */
  val StageBoundaryModeKey = "spark.graft.stageBoundary"

  /** Reliable-mode checkpoint directory (only read when
    * [[StageBoundaryModeKey]] is `reliable` and no checkpoint dir is
    * set on the context yet). */
  val StageBoundaryDirKey = "spark.graft.stageBoundaryDir"

  /** Registry of every RDD a stage boundary has pinned: the block-manager
    * blocks of `local` mode and the checkpoint files of `reliable` mode.
    * `spark.catalog.clearCache()` frees Dataset persists (every
    * [[StageBoundaryOps.cachedStageBoundary]]) but NOT
    * localCheckpoint blocks — those wait for the ContextCleaner to GC the
    * unreferenced RDD objects, which over a 396-query sweep on a large
    * driver heap can lag far behind (ADVICE r10) — and reliable
    * checkpoint files outlive the RDD unless the cleaner is configured
    * to remove them. [[releaseStageBoundaries]] drains the registry,
    * unpersists explicitly, deletes the checkpoint files and then clears
    * the cache, so one call frees every pin the device made. The RDD
    * references are WEAK so an un-drained registry (tests, ad-hoc
    * sessions) never blocks the GC path that used to be the only
    * release; the checkpoint file path is held strongly so a collected
    * RDD still gets its files deleted.
    *
    * Sequential-use contract: the registry is process-global, not scoped
    * to a query. A drain releases EVERY pin registered since the
    * previous drain, whichever query made it, so a caller may only drain
    * when no query that could still read a pin is running — the
    * harnesses drain between queries, one query at a time. Concurrent
    * queries in one JVM must not call [[releaseStageBoundaries]] while
    * another is in flight. */
  private final case class Pinned(
      rdd: java.lang.ref.WeakReference[org.apache.spark.rdd.RDD[_]],
      checkpointFile: Option[String],
      hadoopConf: org.apache.hadoop.conf.Configuration)

  private val boundaryRdds = new java.util.concurrent.ConcurrentLinkedQueue[Pinned]()

  /** Unpersisting a locally-checkpointed RDD is deliberate here (the
    * query's action has consumed it), but each call logs a WARN
    * ("lineage has been truncated…") — ~160 boundaries × 396 queries of
    * pure noise. Quiet exactly the logger that emits it, once: the
    * message is written by `RDD.unpersist`, but Spark names a logger
    * after the runtime class, and a Dataset checkpoint's RDD is a
    * `MapPartitionsRDD`. */
  private lazy val quietRddLogger: Unit =
    try org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD", org.apache.logging.log4j.Level.ERROR)
    catch { case _: Throwable => () }

  /** Unpersist every stage-boundary block, and delete every reliable
    * checkpoint directory, registered since the last drain, then clear
    * the cache of every cached frame (harness calls this between
    * queries, OUTSIDE any timed region; see the sequential-use contract
    * on the registry). Blocks are dropped non-blocking; a pinned
    * DataFrame must not be re-read after its query's action completes. */
  def releaseStageBoundaries(): Unit = {
    quietRddLogger
    var pin = boundaryRdds.poll()
    while (pin != null) {
      val rdd = pin.rdd.get()
      if (rdd != null) {
        try rdd.unpersist(blocking = false)
        catch { case _: Throwable => () }
      }
      pin.checkpointFile.foreach { f =>
        try {
          val path = new org.apache.hadoop.fs.Path(f)
          path.getFileSystem(pin.hadoopConf).delete(path, true)
        } catch { case _: Throwable => () }
      }
      pin = boundaryRdds.poll()
    }
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.catalog.clearCache())
  }

  private def register(out: DataFrame): DataFrame = {
    out.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        boundaryRdds.add(Pinned(new java.lang.ref.WeakReference(lr.rdd),
          lr.rdd.getCheckpointFile, out.sparkSession.sparkContext.hadoopConfiguration))
      case _ => ()
    }
    out
  }

  /** The engine-wide stage-boundary materializer (r11: one pluggable
    * device instead of ~160 inlined `localCheckpoint(true)` calls).
    * Semantics under the default conf are byte-identical to
    * `localCheckpoint(true)`: the DataFrame is computed EAGERLY, once,
    * and every downstream plan reference reads the materialized blocks
    * (a `LogicalRDD`) instead of re-embedding — and racing, when
    * consumers are parallel stages of one job — the full lineage. */
  implicit final class StageBoundaryOps(private val df: DataFrame) extends AnyVal {
    def stageBoundary: DataFrame = {
      val spark = df.sparkSession
      spark.conf.get(StageBoundaryModeKey, "local") match {
        case "reliable" =>
          val sc = spark.sparkContext
          if (sc.getCheckpointDir.isEmpty)
            sc.setCheckpointDir(spark.conf.get(
              StageBoundaryDirKey,
              new java.io.File(
                System.getProperty("java.io.tmpdir"), "graft-stage-boundaries").getPath))
          register(df.checkpoint(true))
        case "none" => df
        case _ => register(df.localCheckpoint(true))
      }
    }

    /** The lazy local boundary: marks the frame for a local checkpoint
      * on its first computation (no job now, in every mode) and
      * registers it, so [[releaseStageBoundaries]] frees its blocks like
      * an eager boundary's. */
    def lazyStageBoundary: DataFrame = register(df.localCheckpoint(false))

    /** The lazy cached boundary: `persist(MEMORY_AND_DISK)`, the one
      * storage level the engine caches at. No job now; lineage is kept,
      * so the frame plans as an `InMemoryRelation` and a lost block
      * recomputes. [[releaseStageBoundaries]] uncaches it; a caller may
      * still `unpersist()` early (a streaming trigger's `finally`). */
    def cachedStageBoundary: DataFrame = df.persist(StorageLevel.MEMORY_AND_DISK)

    /** [[stageBoundary]] plus the boundary's row count, without a second
      * job: a `Dataset.observe` rides the boundary's own eager action and
      * reports the rows that flowed into it. In `none` mode no action
      * runs (the observation would never fire and `Observation.get`
      * would block), so the count falls back to `count()`. */
    def stageBoundaryRows: (DataFrame, Long) =
      stageBoundaryRowsWhere(org.apache.spark.sql.functions.lit(true))

    /** [[stageBoundaryRows]] counting only the rows where `where` holds. */
    def stageBoundaryRowsWhere(where: Column): (DataFrame, Long) =
      if (df.sparkSession.conf.get(StageBoundaryModeKey, "local") == "none")
        (df, df.filter(where).count())
      else {
        val obs = org.apache.spark.sql.Observation()
        val out = df.observe(obs, org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.when(where, 1)).as("rows")).stageBoundary
        (out, obs.get("rows").asInstanceOf[Long])
      }
  }
}
