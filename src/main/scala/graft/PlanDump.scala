package graft
import java.nio.file.{Files, Paths}

/** Dev utility: write `explain("formatted")` for named contract queries
  * (or every query when none are named) to one file per query —
  * `runMain graft.PlanDump <outDir> [suffix] [q52 q74 ...]`.
  * The optimization rounds commit these as plans/rN/<query>_before.txt /
  * _after.txt so plan-shape claims (Exchange count, join strategy,
  * PushedFilters) are checkable without running Spark. Names resolve by
  * [[Harness.select]], before the session starts: the committed plan
  * evidence depends on dumping the intended query. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("plans/r10")
    val suffix = if (args.length > 1) args(1) else "before"
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val queries = SparkEntry.queries
    val names = Harness.select(args.drop(2).toSeq, queries.keys.toSeq.sorted)
    val spark = Harness.session()
    Files.createDirectories(Paths.get(outDir))
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    for (name <- names)
      Harness.run(spark, name, queries(name), sfDir, failed) { df =>
        val plan = df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), plan)
        println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
      }
    failed.foreach { case (name, msg) => System.err.println(s"[plandump] $name failed: $msg") }
    spark.stop()
  }
}
