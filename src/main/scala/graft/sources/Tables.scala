package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
  PartitioningAwareFileIndex}
import org.apache.spark.sql.types.StructType

/** Parquet-backed table loaders for the driver fixtures
  * (`/root/testdata/sf*`, see TESTDATA.md / FIXTURES.md §B).
  *
  * All reads go through [[parquet]] (a `spark.read.parquet` with a
  * content-keyed schema memo) so Catalyst handles column
  * pruning and predicate pushdown into the scan — at 100 TB these tables
  * would be partitioned/bucketed parquet on distributed storage and the
  * same code holds; nothing here assumes a local filesystem beyond the
  * path string.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** A memoized schema, valid while its signature still matches. */
  private final case class SchemaMemo(signature: String, schema: StructType)

  private val schemaMemo = new java.util.concurrent.ConcurrentHashMap[String, SchemaMemo]()

  /** The one parquet read path for fixture tables and build-once state.
    *
    * `spark.read.parquet` infers the schema from the file footers with a
    * Spark job on every call; repeated reads of an unchanged path ask the
    * same question again. This memoizes the inferred schema per path and
    * reads with `.schema(memo)` afterwards, which runs no job. The memo is
    * keyed by content, never by path alone: its signature hashes every
    * file's (path, length, mtime) as listed by Spark's own file index for
    * this read (no second listing), plus the session's parquet-related
    * confs (`nanosAsLong` changes what a footer infers to). On a signature
    * mismatch — the path was rewritten, or the confs differ — the schema
    * is inferred again and the entry replaced. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val confs = spark.conf.getAll.toSeq
      .filter { case (k, _) => k.contains("parquet") || k.startsWith("spark.sql.sources.partition") }
      .sorted
    Option(schemaMemo.get(path))
      .map(memo => memo -> spark.read.schema(memo.schema).parquet(path))
      .collect { case (memo, df) if signature(df, confs).contains(memo.signature) => df }
      .getOrElse {
        val df = spark.read.parquet(path)
        signature(df, confs).foreach(sig => schemaMemo.put(path, SchemaMemo(sig, df.schema)))
        df
      }
  }

  /** SHA-256 over the scan's file listing and the confs; None when the
    * read is not backed by a listing file index (never memoized then). */
  private def signature(df: DataFrame, confs: Seq[(String, String)]): Option[String] =
    df.queryExecution.analyzed.collectFirst {
      case LogicalRelation(h: HadoopFsRelation, _, _, _, _) => h.location
    }.collect { case idx: PartitioningAwareFileIndex =>
      val files = idx.allFiles()
        .map(f => s"${f.getPath}\t${f.getLen}\t${f.getModificationTime}").sorted
      val md = java.security.MessageDigest.getInstance("SHA-256")
      (files ++ confs.map { case (k, v) => s"$k=$v" }).foreach { line =>
        md.update(line.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        md.update('\n'.toByte)
      }
      md.digest().map(b => f"$b%02x").mkString
    }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")

  /** `events.ts` has shipped as parquet TIMESTAMP(NANOS) in some fixture
    * generations and TIMESTAMP(MICROS, isAdjustedToUTC=false) in others,
    * so the loader adapts to what the footer declares rather than pinning
    * one generation's layout. Nanos would be rejected by Spark 4 outright
    * (PARQUET_TYPE_ILLEGAL), so their schema is inferred as LONG
    * ([[withNanosAsLong]]). Either way the column lands as a session-tz
    * TIMESTAMP at microsecond precision — DuckDB reads both layouts as the
    * same naive micros, and the harness pins the session zone to UTC, so
    * oracle values agree. */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeEventsTs(withNanosAsLong(s)(load(s, d, "events")))

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** Runs a footer read (`infer`) with `nanosAsLong` set, then restores
    * the session's previous setting. Only schema inference needs the
    * conf: a frame whose schema says `ts long` reads TIMESTAMP(NANOS) as
    * LONG without it, so reading a table changes no session setting. */
  private[graft] def withNanosAsLong[A](s: SparkSession)(infer: => A): A = {
    val prev = s.conf.getAll.get(NanosAsLong)
    s.conf.set(NanosAsLong, "true")
    try infer
    finally prev.fold(s.conf.unset(NanosAsLong))(s.conf.set(NanosAsLong, _))
  }

  /** Normalizes an events frame's `ts` to TimestampType: nanos-as-LONG
    * gets the integer-div shim (`div`, NOT `/` — epoch nanos exceed double
    * precision and float division would round the microsecond up on ~half
    * the rows); native timestamp columns (NTZ or not) just cast, which is
    * the identity under the UTC session zone the harness sets. */
  def normalizeEventsTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => df
      case _ => df.withColumn("ts", col("ts").cast(TimestampType))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Round-robin fan-out to engine parallelism, applied at the head of
    * map-HEAVY pipelines (shingling, hashing, regex, array folds, edit
    * distance) — and ONLY when the source arrives under-split.
    *
    * Why it exists: Spark parallelizes a parquet scan by row group, and a
    * source written as few large row groups (the fixtures are exactly one)
    * yields a 1-partition scan — every pre-shuffle map operator then runs
    * on a single core no matter how many the cluster has (measured 10× on
    * q97: 12 s → 1.2 s). On production multi-row-group files the guard
    * makes this a no-op; when it does fire, the cost is one shuffle of
    * the slim input rows, repaid by parallelizing the expensive map work.
    *
    * Where NOT to use it (each measured at sf0.1): plain projections,
    * filters and sampling (the shuffle is pure overhead); small
    * dimension-like tables where per-row work is a bounded fold
    * (embeddings: 2k rows × 128-dim dot products finish before the
    * shuffle would); and value-collecting aggregates (exact percentile —
    * the aggregation state is the whole column regardless of input
    * partitioning, so fanning moves bytes without cutting the critical
    * path). Applied at: document text pipelines (tokenize / shingle /
    * md5 / regex per character) and the q97 pair-enumeration join. */
  def fanOut(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }
}
