package graft

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one harness every main runs through: one session builder, one
  * query-run step, one query-name resolver. */
object Harness {
  type Query = (SparkSession, String) => DataFrame

  /** Executor width: `SPARK_GRAFT_CPUS` when set, else the box's cores. */
  def cores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(Runtime.getRuntime.availableProcessors)

  /** The only `SparkSession` builder. `local[cores]` unless a master is
    * already configured (`spark-submit --master` sets `spark.master`);
    * shuffle partitions = `cores`, UTC session zone (the oracle parity
    * the fixtures' timestamps rely on), no UI, WARN logging. */
  def session(cores: Int = Harness.cores): SparkSession = {
    val b = SparkSession.builder()
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    if (!sys.props.contains("spark.master")) b.master(s"local[$cores]")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Writes every row and column of a result and keeps none: Catalyst
    * cannot prune expression-heavy projections away, as it can under a
    * `count()` terminal, so a timing covers the real work. */
  val noop: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()

  /** One run of `query` under job group `name`: the elapsed seconds of
    * building it, applying `sink` and clearing the cache, or None when
    * it threw — a failed run has no timing; its message goes to
    * `failed`. Caches are cleared inside the timed region, so a query's
    * persisted intermediates never outlive it and a re-run repeats its
    * I/O; stage-boundary blocks, which `clearCache` does not free, are
    * released after it, outside the timed region. */
  def run(spark: SparkSession, name: String, query: Query, sfDir: String,
      failed: mutable.Map[String, String])(sink: DataFrame => Unit): Option[Double] = {
    val sc = spark.sparkContext
    sc.setJobGroup(name, name)
    val t0 = System.nanoTime()
    val ok =
      try { sink(query(spark, sfDir)); true }
      catch { case e: Throwable =>
        failed(name) = String.valueOf(e.getMessage)
        false
      }
    spark.catalog.clearCache()
    val dt = (System.nanoTime() - t0) / 1e9
    sc.clearJobGroup()
    graft.ops.releaseStageBoundaries()
    if (ok) Some(dt) else None
  }

  /** The only query-name resolver. Each token (comma-separated tokens
    * are split) selects the name equal to it, or else every name that
    * starts with `token + "_"`: `q31` is `q31_minhash_lsh`, never
    * `q310`–`q319`. A token that selects nothing throws, before any
    * Spark work. No tokens selects all of `names`; selected names keep
    * the order of `tokens`, then of `names`. */
  def select(tokens: Seq[String], names: Seq[String]): Seq[String] = {
    val toks = tokens.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    if (toks.isEmpty) names
    else toks.flatMap { t =>
      if (names.contains(t)) Seq(t)
      else names.filter(_.startsWith(t + "_")) match {
        case Seq() => throw new IllegalArgumentException(s"no query matches $t")
        case some => some
      }
    }.distinct
  }
}
