package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.catalog.Catalog
import graft.report.Report
import graft.rules.Rules

/** Minimal JSON writing for the raw result file `run.py` reads. */
object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(vs: Iterable[String]): String = vs.mkString("[", ",", "]")
}

/** One execution of one op inside a pass. */
final case class OpRun(name: String, error: Option[String], buildS: Double, execS: Double,
    releaseS: Double, driverS: Double, c: Counters) {
  def toJson: String = Json.obj(
    "name" -> Json.str(name), "error" -> error.map(Json.str).getOrElse("null"),
    "build_s" -> Json.num(buildS), "exec_s" -> Json.num(execS),
    "release_s" -> Json.num(releaseS), "driver_s" -> Json.num(driverS),
    "jobs" -> c.jobs.toString, "stages" -> c.stages.toString, "tasks" -> c.tasks.toString,
    "task_s" -> Json.num(c.taskS), "cpu_s" -> Json.num(c.cpuS), "gc_s" -> Json.num(c.gcS),
    "sched_s" -> Json.num(c.schedS), "plan_s" -> Json.num(c.planS),
    "shuffle_write_b" -> Json.num(c.shuffleWriteB), "shuffle_read_b" -> Json.num(c.shuffleReadB),
    "spill_b" -> Json.num(c.spillB), "scan_b" -> Json.num(c.scanB),
    "scan_rows" -> c.scanRows.toString, "blocks" -> c.blocks.toString,
    "block_b" -> Json.num(c.blockB))
}

/** The benchmark's JVM side. One process runs one workload: build the
  * session, set up (cold state builds or the schema-lint database,
  * repeated), check every op's output once untimed, then run timed passes
  * over the ops, one op at a time, until the time is up. Raw figures go to
  * `--out` as JSON; `run.py` turns them into metrics.
  *
  * Arguments (all `--key value`): workload, seed, seconds, trace (0|1),
  * fixtures, work, out, cores, ops, state-ops, setup-reps, tables,
  * warmup-passes, min-passes, record-dir, inject.
  */
object Harness {
  type Op = (SparkSession, String) => DataFrame

  /** Ops the self-test injects: one that throws, one with a wrong answer. */
  private val selfTestOps: Map[String, Op] = Map(
    "selftest_throw" -> ((_, _) => throw new IllegalStateException("injected failure")),
    "selftest_wrong" -> ((s, _) => s.range(0, 11).toDF("id")))

  def main(argv: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def list(k: String) = args.get(k).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val fixtures = args("fixtures")
    val work = Paths.get(args("work")).toAbsolutePath
    val cores = args("cores").toInt
    val setupReps = args("setup-reps").toInt
    val minPasses = args("min-passes").toInt
    val warmupPasses = args("warmup-passes").toInt
    val recordDir = args.get("record-dir")

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    note("session up")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val sc = spark.sparkContext

    val tracer = new Tracer
    val registry: Map[String, Op] = graft.SparkEntry.queries ++ selfTestOps
    val ops = list("ops") ++ list("inject")
    ops.foreach(o => require(registry.contains(o), s"unknown op $o"))
    val tables = SchemaGen.generate(seed, args.getOrElse("tables", "0").toInt)
    val lint = tables.nonEmpty

    // ---- set-up, repeated: cold persisted-state builds in a fresh tmpdir,
    // and the schema-lint database ----
    val setupRuns = mutable.ArrayBuffer.empty[Seq[(String, Double)]]
    var dbUrl = ""
    for (r <- 0 until setupReps) {
      val stateDir = work.resolve(s"state-$r")
      Files.createDirectories(stateDir)
      System.setProperty("java.io.tmpdir", stateDir.toString)
      def timed(name: String)(body: => Unit): (String, Double) = {
        val s0 = System.nanoTime()
        body
        val dt = (System.nanoTime() - s0) / 1e9
        note(f"setup $r $name $dt%.3f s")
        name -> dt
      }
      val states = list("state-ops").map(name => timed(name) {
        noop(registry(name)(spark, fixtures))
        spark.catalog.clearCache()
        graft.ops.releaseStageBoundaries()
      })
      val db = if (!lint) Nil else {
        if (dbUrl.nonEmpty) SchemaGen.drop(dbUrl)
        dbUrl = s"jdbc:derby:memory:lint$r;create=true"
        Seq(timed("derby_schema")(SchemaGen.load(dbUrl, tables)))
      }
      setupRuns += states ++ db
      if (r > 0) deleteTree(work.resolve(s"state-${r - 1}"))
    }
    val stateDir = Paths.get(System.getProperty("java.io.tmpdir"))

    // ---- output check: one untimed pass that digests every result ----
    val exportsDir = work.resolve("exports")
    val digests = mutable.LinkedHashMap.empty[String, String]
    for (name <- ops) {
      val d = try {
        val df = registry(name)(spark, fixtures)
        recordDir.foreach(dir => df.write.mode("overwrite").parquet(s"$dir/$name"))
        Digest.of(df).toJson
      } catch { case e: Throwable => Json.obj("error" -> Json.str(String.valueOf(e.getMessage))) }
      digests(name) = d
      note(s"checked $name")
      spark.catalog.clearCache()
      graft.ops.releaseStageBoundaries()
    }
    recordDir.foreach { dir =>
      val oracles = graft.SparkEntry.oracleSql.filter { case (k, _) => ops.contains(k) }
      Files.writeString(Paths.get(dir, "oracle_sql.json"),
        Json.obj(oracles.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }: _*))
    }
    val lintCheck = mutable.LinkedHashMap.empty[String, String]
    if (lint) {
      val expected = SchemaGen.expectedIssues(tables)
      val refl = Catalog.fromReflection(spark, dbUrl, Some("APP"), Some(SchemaGen.Driver))
      val jdbc = jdbcCatalog(spark, dbUrl)
      val issuesDf = Rules.all(refl).cache()
      val issues = issuesDf.collect().map(r => (0 until 5).map(r.getString)).toSeq
      val csv = Report.writeCsv(issuesDf, exportsDir.toString, "lintdb")
      val csvText = Files.readString(Paths.get(csv))
      lintCheck ++= Seq(
        "columns" -> refl.columns.count().toString,
        "columns_expected" -> tables.map(_.cols.size).sum.toString,
        "columns_jdbc" -> jdbc.columns.count().toString,
        "issues" -> issues.size.toString,
        "issues_expected" -> expected.size.toString,
        "issues_jdbc" -> Rules.all(jdbc).count().toString,
        "issues_match" -> (issues == expected).toString,
        "csv_match" -> (csvText == SchemaGen.expectedCsv(expected)).toString,
        "csv_bytes" -> Files.size(Paths.get(csv)).toString)
      spark.catalog.clearCache()
      note("checked schema lint")
    }

    // ---- timed passes ----
    val rng = new scala.util.Random(seed)
    /** One pass over every op in a seeded order; returns its JSON record. */
    def runPass(p: Int, traced: Boolean): String = {
      if (trace) {
        org.apache.spark.PerfbenchAccess.drainListenerBus(sc)
        tracer.enabled = traced
      }
      val passId = tracer.newId()
      val runs = mutable.ArrayBuffer.empty[OpRun]
      val w0 = System.nanoTime()
      def timeOp(name: String, layer: String, build: => DataFrame, exec: DataFrame => Unit,
          release: Boolean): Unit = {
        val opId = tracer.newId()
        val c = new Counters
        tracer.current = c
        val startMs = System.nanoTime() / 1e6 + Tracer.epochOffsetMs
        var err: Option[String] = None
        var b, e, rel = 0.0
        def phase(ph: String, lyr: String)(body: => Unit): Double = {
          val id = tracer.newId()
          sc.setJobGroup(s"span-$id", s"$workload/$name/$ph", interruptOnCancel = false)
          val s0 = System.nanoTime()
          if (traced) tracer.span(ph, lyr, opId, id)(body) else body
          (System.nanoTime() - s0) / 1e9
        }
        def body(): Unit = {
          var df: DataFrame = null
          try {
            b = phase("build", layer) { df = build }
            e = phase("exec", layer) { exec(df) }
          } catch { case t: Throwable => err = Some(s"${t.getClass.getSimpleName}: ${t.getMessage}") }
          if (release) rel = phase("release", "ops") {
            spark.catalog.clearCache()
            graft.ops.releaseStageBoundaries()
          }
          sc.clearJobGroup()
        }
        if (traced) tracer.span(name, "harness", passId, opId)(body()) else body()
        var driverS = 0.0
        if (traced) {
          org.apache.spark.PerfbenchAccess.drainListenerBus(sc)
          val endMs = startMs + (b + e) * 1e3
          tracer.synchronized {
            val jobs = Tracer.unionLength(c.jobIntervals.toSeq.map { case (a, z) =>
              (math.max(a, startMs), math.min(z, endMs)) })
            driverS = math.max(0.0, b + e - jobs / 1e3)
          }
          tracer.current = new Counters
        }
        runs += OpRun(name, err, b, e, rel, driverS, c)
        note(f"pass $p $name build $b%.3f exec $e%.3f release $rel%.3f${err.fold("")(" " + _)}")
      }
      // the four schema-lint calls, in the reference's order
      def lintCalls(): Unit = {
        var refl, viaJdbc: Catalog = null
        var issues: DataFrame = null
        timeOp("catalog.reflect", "catalog",
          { refl = Catalog.fromReflection(spark, dbUrl, Some("APP"), Some(SchemaGen.Driver)); null },
          _ => (), release = false)
        timeOp("catalog.jdbc", "catalog", { viaJdbc = jdbcCatalog(spark, dbUrl); null },
          _ => Seq(viaJdbc.columns, viaJdbc.indexCols, viaJdbc.fkCols).foreach(noop),
          release = false)
        timeOp("rules.eval", "rules", { issues = Rules.all(refl).cache(); issues }, noop,
          release = false)
        timeOp("report.write", "report", null,
          _ => Report.writeCsv(issues, exportsDir.toString, "lintdb"), release = true)
      }
      val units: Seq[() => Unit] = ops.map(name => () =>
        timeOp(name, "ops", registry(name)(spark, fixtures), noop, release = true)) ++
        (if (lint) Seq(() => lintCalls()) else Nil)
      def body(): Unit = rng.shuffle(units).foreach(_())
      if (traced) tracer.span(s"pass-$p", "harness", 0, passId)(body()) else body()
      if (traced) {
        org.apache.spark.PerfbenchAccess.drainListenerBus(sc)
        tracer.enabled = false
      }
      val wall = (System.nanoTime() - w0) / 1e9
      Json.obj("traced" -> traced.toString, "wall_s" -> Json.num(wall),
        "ops" -> Json.arr(runs.map(_.toJson)))
    }
    if (trace) {
      sc.addSparkListener(tracer)
      spark.listenerManager.register(tracer)
    }
    // untimed warm-up after the output check: the first passes of a fresh
    // JVM still run slow while the JIT catches up
    for (w <- 1 to warmupPasses) runPass(-w, traced = false)
    val passes = mutable.ArrayBuffer.empty[String]
    val tPasses = System.nanoTime()
    def elapsed = (System.nanoTime() - tPasses) / 1e9
    var p = 0
    // A traced run alternates untraced and traced passes, starting and
    // ending untraced, so each traced pass can be set against the two
    // untraced passes around it in the same window.
    while (p < minPasses * (if (trace) 2 else 1) || elapsed < seconds || (trace && p % 2 == 0)) {
      passes += runPass(p, traced = trace && p % 2 == 1)
      p += 1
    }
    if (trace) {
      sc.removeSparkListener(tracer)
      spark.listenerManager.unregister(tracer)
      tracer.writeJson(work.resolve("trace.json"))
    }

    val (stateBytes, stateFiles) = stateSize(stateDir)
    val out = Json.obj(
      "workload" -> Json.str(workload),
      "main_ms" -> mainMs.toString,
      "session_s" -> Json.num(sessionS),
      "setup_runs" -> Json.arr(setupRuns.map(parts =>
        Json.obj(parts.map { case (k, v) => k -> Json.num(v) }: _*))),
      "digests" -> Json.obj(digests.toSeq: _*),
      "lint_check" -> Json.obj(lintCheck.toSeq: _*),
      "passes" -> Json.arr(passes),
      "self_s" -> Json.obj(tracer.selfTimeByLayer().toSeq.sorted.map { case (k, v) =>
        k -> Json.num(v) }: _*),
      "state_bytes" -> stateBytes.toString,
      "state_files" -> stateFiles.toString,
      "peak_rss_mb" -> Json.num(peakRssMb()),
      "cores" -> cores.toString)
    Files.writeString(Paths.get(args("out")), out + "\n")
    if (lint) SchemaGen.drop(dbUrl)
    note("result written")
    spark.stop()
    note("stopped")
  }

  /** Progress line for the JVM log. */
  private val t0Ms = System.currentTimeMillis()
  private def note(msg: String): Unit =
    System.err.println(f"[harness] ${(System.currentTimeMillis() - t0Ms) / 1e3}%.1f $msg")

  private val noop: DataFrame => Unit = df => df.write.format("noop").mode("overwrite").save()

  private def jdbcCatalog(spark: SparkSession, url: String): Catalog =
    Catalog.fromJdbcQueries(spark, url.replace(";create=true", ""),
      "SELECT * FROM META.COLS", "SELECT * FROM META.IDX", "SELECT * FROM META.FK",
      Some(SchemaGen.Driver))

  private def peakRssMb(): Double =
    try {
      val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
        .map(_.toString).find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Throwable => Double.NaN }

  /** Bytes and files of the engine's persisted state under `root`: its
    * `graft_*` / `graft-*` entries (the tmpdir also receives native
    * libraries Spark unpacks, which are not state). */
  private def stateSize(root: Path): (Long, Long) = {
    val files = Option(root.toFile.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("graft"))
      .flatMap { f =>
        val s = Files.walk(f.toPath)
        try s.iterator().asScala.filter(Files.isRegularFile(_)).toVector finally s.close()
      }
    (files.map(Files.size).sum, files.length.toLong)
  }

  private def deleteTree(root: Path): Unit =
    if (Files.exists(root)) org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
}
