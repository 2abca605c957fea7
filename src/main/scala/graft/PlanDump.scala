package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Dev utility: write `explain("formatted")` for named contract queries
  * (or every query when none are named) to one file per query —
  * `runMain graft.PlanDump <outDir> [suffix] [q52 q74 ...]`.
  * The optimization rounds commit these as plans/rN/<query>_before.txt /
  * _after.txt so plan-shape claims (Exchange count, join strategy,
  * PushedFilters) are checkable without running Spark. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("plans/r10")
    val suffix = if (args.length > 1) args(1) else "before"
    val names = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    // Name resolution (ADVICE r10): exact match, else UNIQUE prefix —
    // `q31` must never silently pick q319_bbit_minhash over
    // q31_minhash_lsh (Map order is unspecified), and an ambiguous or
    // unknown token fails BEFORE the session does any work, because the
    // committed before/after plan evidence depends on dumping the
    // intended query.
    def resolve(t: String): String = {
      val keys = SparkEntry.queries.keys.toSeq.sorted
      if (keys.contains(t)) t
      else keys.filter(_.startsWith(t)) match {
        case Seq(one) => one
        case Seq() => sys.error(s"[plandump] no such query: $t")
        case many => many.filter(_.startsWith(t + "_")) match {
          case Seq(one) => one
          case _ => sys.error(
            s"[plandump] ambiguous token $t: ${many.mkString(", ")}")
        }
      }
    }
    val selected =
      if (names.nonEmpty) names.map(resolve)
      else SparkEntry.queries.keys.toSeq.sorted
    for (name <- selected) {
      SparkEntry.queries.get(name) match {
        case Some(fn) =>
          try {
            val plan = fn(spark, sfDir).queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), plan)
            println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
          } catch { case e: Throwable =>
            System.err.println(s"[plandump] $name failed: ${e.getMessage}")
          } finally { spark.catalog.clearCache(); graft.ops.releaseStageBoundaries() }
        case None => System.err.println(s"[plandump] no such query: $name")
      }
    }
    spark.stop()
  }
}
