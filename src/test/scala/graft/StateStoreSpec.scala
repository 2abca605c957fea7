package graft

import java.io.File
import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Layout, Similarity, StageBoundaryOps, TextOps, releaseStageBoundaries}
import graft.sources.{StateStore, Tables}

/** The content-keyed state store: what the key sees, the commit step's
  * guarantees, that no state-backed query answers from stale state, and
  * that no other code builds a state path or a rename of its own. */
class StateStoreSpec extends SparkSpec {
  import spark.implicits._

  private def base: DataFrame =
    spark.range(0, 200).select(col("id"), (col("id") % 7).as("k"), col("id").cast("string").as("s"))

  /** A family no earlier run has used, so the key's state starts absent. */
  private def freshFamily(name: String): String =
    s"test_${name}_${java.util.UUID.randomUUID().toString.replace("-", "")}"

  test("key: adding a duplicated pair of rows changes the key") {
    val pair = Seq((1000L, 3L, "x"), (1000L, 3L, "x")).toDF("id", "k", "s")
    assert(StateStore.key("t", base).hash != StateStore.key("t", base.unionByName(pair)).hash,
      "a pair of equal rows must move the fingerprint (an XOR fold cancels it)")
  }

  test("key: repartitioning or reordering the same rows keeps the key") {
    val k = StateStore.key("t", base).hash
    assert(StateStore.key("t", base.repartition(5)).hash == k)
    assert(StateStore.key("t", base.orderBy(col("id").desc)).hash == k)
    assert(StateStore.key("t", base.coalesce(1)).hash == k)
  }

  test("key: a changed row, or another column, changes the key") {
    val k = StateStore.key("t", base).hash
    val changed = base.withColumn("s", when(col("id") === 17, lit("seventeen")).otherwise(col("s")))
    assert(StateStore.key("t", changed).hash != k)
    assert(StateStore.key("t", base.drop("s")).hash != k)
  }

  test("key: two families with equal inputs get different dirs") {
    val a = StateStore.key("fam_a", base)
    val b = StateStore.key("fam_b", base)
    assert(a.dir != b.dir)
    assert(a.dir.getName.startsWith("graft_fam_a_") && b.dir.getName.startsWith("graft_fam_b_"))
    assert(a.dir.getParentFile == new File(System.getProperty("java.io.tmpdir")))
  }

  /** A fresh parquet copy of `df` in its own temp dir: a path no earlier
    * key has fingerprinted. */
  private def freshParquet(df: DataFrame): String = {
    val path = new File(tempDir("graft-memo").toFile, "t.parquet").getPath
    df.write.parquet(path)
    path
  }

  test("memo: a second key over an unchanged file-backed input runs no job") {
    val path = freshParquet(base)
    def input = Tables.parquet(spark, path).select(col("id"), col("s"))
    val (first, coldJobs) = countJobs(StateStore.key("t", input))
    val (second, warmJobs) = countJobs(StateStore.key("t", input))
    assert(coldJobs >= 1, "the first key scans its input")
    assert(warmJobs == 0, s"an unchanged input is fingerprinted once: $warmJobs jobs")
    assert(second.hash == first.hash)
    assert(first.hash == StateStore.key("t", base.select(col("id"), col("s"))).hash,
      "the memoized fingerprint is the scanned one")
    FileUtils.deleteDirectory(new File(path).getParentFile)
  }

  test("memo: two builds of q120's quantized input share one fingerprint, lambdas and all") {
    val dir = tempDir("graft-memo").toFile
    FileUtils.copyFile(new File(sfDir, "embeddings.parquet"), new File(dir, "embeddings.parquet"))
    def input = Similarity.quantizeVectors(Tables.embeddings(spark, dir.getPath))
    val (first, coldJobs) = countJobs(StateStore.key("ivf", input))
    val (second, warmJobs) = countJobs(StateStore.key("ivf", input))
    assert(coldJobs >= 1 && warmJobs == 0, s"cold $coldJobs, warm $warmJobs jobs")
    assert(second.hash == first.hash)
    FileUtils.deleteDirectory(dir)
  }

  test("memo: a file rewritten in place is scanned again and changes the key") {
    val path = freshParquet(base)
    val before = StateStore.key("t", Tables.parquet(spark, path))
    FileUtils.deleteDirectory(new File(path))
    base.withColumn("s", when(col("id") === 17, lit("seventeen")).otherwise(col("s")))
      .write.parquet(path)
    val (after, jobs) = countJobs(StateStore.key("t", Tables.parquet(spark, path)))
    assert(jobs >= 1, "a changed listing invalidates the memo")
    assert(after.hash != before.hash)
    FileUtils.deleteDirectory(new File(path).getParentFile)
  }

  test("memo: inputs without a file listing, or not deterministic, are scanned on every call") {
    val path = freshParquet(base)
    val file = Tables.parquet(spark, path)
    val inputs = Seq(
      "range" -> (() => spark.range(0, 50).toDF()),
      "boundary" -> (() => file.stageBoundary),
      "cached" -> (() => file.cachedStageBoundary),
      "rand" -> (() => file.withColumn("r", rand(7))))
    inputs.foreach { case (name, input) =>
      val frame = input()
      val jobs = (1 to 2).map(_ => countJobs(StateStore.key("t", frame))._2)
      assert(jobs.forall(_ >= 1), s"$name: every call must scan, jobs per call $jobs")
    }
    releaseStageBoundaries()
    FileUtils.deleteDirectory(new File(path).getParentFile)
  }

  test("memo: a moved java.io.tmpdir still yields a cold dir") {
    val path = freshParquet(base)
    val warm = StateStore.key("t", Tables.parquet(spark, path))
    val tmpdir = System.getProperty("java.io.tmpdir")
    val moved = tempDir("graft-moved").toFile
    System.setProperty("java.io.tmpdir", moved.getPath)
    val (cold, jobs) = try countJobs(StateStore.key("t", Tables.parquet(spark, path)))
      finally System.setProperty("java.io.tmpdir", tmpdir)
    assert(jobs == 0, "the fingerprint is memoized")
    assert(cold.hash == warm.hash)
    assert(cold.dir.getParentFile == moved && !cold.dir.exists(), "the dir follows the tmpdir")
    FileUtils.deleteDirectory(moved)
    FileUtils.deleteDirectory(new File(path).getParentFile)
  }

  test("a half-state at the published path is moved aside and rebuilt, never read") {
    val key = StateStore.key(freshFamily("half"), base)
    new File(key.dir, "rows").mkdirs()
    Files.writeString(new File(key.dir, "rows/junk").toPath, "half-written")
    var builds = 0
    val Seq(rows) = StateStore.parquet(spark, key, "rows") { builds += 1; Seq(base) }
    assert(builds == 1)
    assert(rows.count() == 200L)
    assert(!new File(key.dir, "rows/junk").exists(), "the half-state must be gone")
    val strays = key.dir.getParentFile.listFiles()
      .filter(f => f.getName.startsWith(key.dir.getName + ".")).toSeq
    assert(strays.isEmpty, s"no tmp or stale dir may be left: $strays")
  }

  test("a crashed writer leaves nothing at the published path") {
    val key = StateStore.key(freshFamily("crash"), base)
    intercept[IllegalStateException] {
      StateStore.dir(key) { tmp =>
        base.write.parquet(tmp.getPath)
        throw new IllegalStateException("writer died")
      }
    }
    assert(!key.dir.exists())
    var builds = 0
    StateStore.dir(key) { tmp => builds += 1; base.write.parquet(tmp.getPath) }
    StateStore.dir(key) { tmp => builds += 1; base.write.parquet(tmp.getPath) }
    assert(builds == 1, "once published, the state is built no more")
  }

  /** Runs `body` on a fresh snapshot root, deleted afterwards. */
  private def withRoot(body: File => Unit): Unit = {
    val root = tempDir("graft-snapshot").toFile
    try body(root) finally FileUtils.deleteDirectory(root)
  }

  private def writeRange(n: Long)(tmp: File): Unit = spark.range(n).write.parquet(tmp.getPath)

  private def rowsIn(v: File): Long = spark.read.parquet(v.getPath).count()

  private def names(root: File): Seq[String] = root.listFiles().map(_.getName).toSeq.sorted

  test("snapshot: a writer that throws mid-write leaves the previous version latest and readable") {
    withRoot { root =>
      val v0 = StateStore.publishNext(root)(writeRange(3))
      intercept[IllegalStateException] {
        StateStore.publishNext(root) { tmp =>
          spark.range(5).write.parquet(tmp.getPath)
          throw new IllegalStateException("writer died")
        }
      }
      assert(StateStore.latest(root).contains(v0))
      assert(rowsIn(v0) == 3L)
      assert(names(root) == Seq("v_0"), "no tmp dir may be left")
    }
  }

  test("snapshot: the first writer of a version wins") {
    withRoot { root =>
      StateStore.publishNext(root)(writeRange(3))
      // both writers see v_0 as latest; the racer publishes v_1 while
      // this writer is still writing it
      val v1 = StateStore.publishNext(root) { tmp =>
        val racer = new Thread(() => StateStore.publishNext(root)(writeRange(5)))
        racer.start()
        racer.join()
        writeRange(7)(tmp)
      }
      assert(v1.getName == "v_1")
      assert(rowsIn(v1) == 5L, "an existing version wins")
      assert(names(root) == Seq("v_0", "v_1"))
    }
  }

  test("snapshot: after 5 publishes only the latest 2 versions remain") {
    withRoot { root =>
      (1L to 5L).foreach(n => StateStore.publishNext(root)(writeRange(n)))
      assert(names(root) == Seq("v_3", "v_4"))
      assert(StateStore.latest(root).map(rowsIn).contains(5L))
      assert(rowsIn(new File(root, "v_3")) == 4L, "the previous version stays readable")
    }
  }

  test("snapshot: a version Spark wrote in place, with only its _SUCCESS, counts") {
    withRoot { root =>
      spark.range(2).write.parquet(new File(root, "v_0").getPath)
      assert(StateStore.latest(root).map(_.getName).contains("v_0"))
      assert(StateStore.publishNext(root)(writeRange(4)).getName == "v_1")
      assert(StateStore.latest(root).map(rowsIn).contains(4L))
    }
  }

  test("q114's hot-key memo is keyed by lineitem content, not by session or path") {
    val work = tempDir("graft-hotkeys").toFile
    try {
      FileUtils.copyFile(new File(sfDir, "lineitem.parquet"), new File(work, "lineitem.parquet"))
      def probe(li: DataFrame): Seq[Any] = li.groupBy(col("l_orderkey")).count()
        .orderBy(col("count").desc, col("l_orderkey")).limit(5).collect().map(_.get(0)).toSeq
      val li = Tables.lineitem(spark, work.getPath)
      val hot = Layout.declaredHotKeys(li)
      assert(hot == probe(li))
      assert(countJobs(Layout.declaredHotKeys(li))._2 == 0, "an unchanged input is served from the memo")
      // rewrite the copy in place without its hot keys: the memo must not
      // serve the old list at the same path
      rewrite(work, "lineitem")(_.filter(!col("l_orderkey").isin(hot: _*)))
      val rewritten = Tables.lineitem(spark, work.getPath)
      val again = Layout.declaredHotKeys(rewritten)
      assert(again == probe(rewritten), "a rewritten fixture is probed again")
      assert(again.intersect(hot).isEmpty)
    } finally FileUtils.deleteDirectory(work)
    val memoTypes = Layout.getClass.getDeclaredFields.toSeq
      .map(_.getGenericType.getTypeName).filter(_.contains("TrieMap"))
    assert(memoTypes.nonEmpty && memoTypes.forall(!_.contains("SparkSession")),
      s"the memo must not hold a session: $memoTypes")
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** Rewrites `table` under `dir` at the same path through `change`. */
  private def rewrite(dir: File, table: String)(change: DataFrame => DataFrame): Unit = {
    val path = new File(dir, s"$table.parquet")
    val next = new File(dir, s"$table.next")
    change(spark.read.parquet(path.getPath)).coalesce(1).write.parquet(next.getPath)
    FileUtils.forceDelete(path)
    Files.move(next.toPath, path.toPath)
  }

  test("no stale state: a fixture rewritten in place changes every state-backed answer") {
    val queries = Seq(Dedup.q108IncrementalDedup, Layout.q112BucketedJoin,
      Layout.q113PartitionPruning, TextOps.q136Bm25)
    val work = tempDir("graft-stale").toFile
    val fixture = new File(work, "sf")
    FileUtils.copyDirectory(new File(sfDir), fixture)
    try {
      val before = queries.map(q => rows(q.run(spark, fixture.getPath)))

      // one changed row per table: a lineitem price, and one English
      // corpus doc that becomes a copy of a q108 batch doc q108 called
      // unique, with a longer n_chars
      rewrite(fixture, "lineitem") { li =>
        val first = li.orderBy(col("l_orderkey"), col("l_linenumber"))
          .select(col("l_orderkey"), col("l_linenumber")).head()
        val t = li.schema("l_extendedprice").dataType
        li.withColumn("l_extendedprice",
          when(col("l_orderkey") === lit(first.get(0)) && col("l_linenumber") === lit(first.get(1)),
            (col("l_extendedprice") + 1000).cast(t)).otherwise(col("l_extendedprice")))
      }
      val unique = Dedup.q108IncrementalDedup.run(spark, fixture.getPath)
        .filter(col("status") === "unique").agg(min(col("doc_id"))).head().getLong(0)
      rewrite(fixture, "documents") { docs =>
        val text = docs.filter(col("doc_id") === unique).select(col("text")).head().getString(0)
        val victim = docs.filter(col("lang") === "en" && col("doc_id") % 10 =!= 0)
          .agg(min(col("doc_id"))).head().get(0)
        val t = docs.schema("n_chars").dataType
        docs.withColumn("text", when(col("doc_id") === lit(victim), lit(text)).otherwise(col("text")))
          .withColumn("n_chars", when(col("doc_id") === lit(victim), (col("n_chars") + 1000).cast(t))
            .otherwise(col("n_chars")))
      }
      val rerun = queries.map(q => rows(q.run(spark, fixture.getPath)))

      // cold: a copy at another path, with an empty state root
      val copy = new File(work, "copy")
      FileUtils.copyDirectory(fixture, copy)
      val tmpdir = System.getProperty("java.io.tmpdir")
      val coldRoot = Files.createDirectory(new File(work, "state").toPath).toString
      System.setProperty("java.io.tmpdir", coldRoot)
      val cold = try queries.map(q => rows(q.run(spark, copy.getPath)))
        finally System.setProperty("java.io.tmpdir", tmpdir)

      queries.indices.foreach { i =>
        val name = queries(i).name
        assert(cold(i) != before(i), s"$name: the rewrite must change the answer")
        assert(rerun(i) == cold(i), s"$name: the re-run served stale state")
      }
    } finally FileUtils.deleteDirectory(work)
  }

  /** How often `word` appears in each `src/main` file that mentions it,
    * by path under `src/main/scala`. */
  private def occurrences(word: String): Map[String, Int] = {
    val main = new File("src/main/scala")
    assert(main.isDirectory, s"run from the project root: ${main.getAbsolutePath}")
    FileUtils.listFiles(main, Array("scala"), true).toArray(Array.empty[File]).toSeq
      .flatMap { f =>
        val text = new String(Files.readAllBytes(f.toPath), java.nio.charset.StandardCharsets.UTF_8)
        val n = text.split(java.util.regex.Pattern.quote(word), -1).length - 1
        Option.when(n > 0)(main.toPath.relativize(f.toPath).toString -> n)
      }.toMap
  }

  /** `src/main` files that mention a word outside the files allowed it. */
  private def offenders(allowed: Map[String, Set[String]]): Seq[String] =
    allowed.toSeq.flatMap { case (word, ok) =>
      occurrences(word).keys.filterNot(ok).map(rel => s"$rel: $word")
    }

  test("one device per job: no state path or rename outside the state store") {
    val found = offenders(Map(
      "java.io.tmpdir" -> Set("graft/sources/StateStore.scala", "graft/ops/package.scala"),
      "renameTo" -> Set("graft/sources/StateStore.scala")))
    assert(found.isEmpty, s"state paths and renames belong to StateStore: $found")
  }

  test("one device per job: one input fingerprint, one file-listing signature") {
    val found = offenders(Map(
      "sum(xxhash64(" -> Set("graft/sources/StateStore.scala"),
      "allFiles(" -> Set("graft/sources/Tables.scala"),
      "getModificationTime" -> Set("graft/sources/Tables.scala")))
    assert(found.isEmpty, s"fingerprints belong to StateStore, listing signatures to Tables: $found")
  }

  test("one device per job: one micro-batch loop, one snapshot protocol") {
    val streaming = "graft/ops/StreamingOps.scala"
    assert(occurrences(".foreachBatch") == Map(streaming -> 1),
      "every foreachBatch face runs through StreamingOps.eachFile")
    assert(occurrences("\"maxFilesPerTrigger\"") == Map(streaming -> 1),
      "the file-source options are set once, in StreamingOps.fileSource")
    // Bench's one move publishes its own timing artifact, not state
    val found = offenders(Map(
      "Files.move" -> Set("graft/Bench.scala"),
      "ATOMIC_MOVE" -> Set("graft/Bench.scala"),
      "replace =" -> Set.empty[String]))
    assert(found.isEmpty, s"republished state goes through StateStore.publishNext: $found")
  }
}
