package graft

import java.io.File
import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Layout, TextOps}
import graft.sources.StateStore

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

  test("a republish replaces the previous version; a snapshot keeps its first writer") {
    val root = Files.createTempDirectory("graft-commit").toFile
    val target = new File(root, "state")
    def write(n: Long)(tmp: File): Unit = spark.range(n).write.parquet(tmp.getPath)
    assert(StateStore.commit(target, replace = true)(write(3)))
    assert(StateStore.commit(target, replace = true)(write(5)))
    assert(spark.read.parquet(target.getPath).count() == 5L)
    assert(!StateStore.commit(target, replace = false)(write(7)), "an existing snapshot wins")
    assert(spark.read.parquet(target.getPath).count() == 5L)
    assert(root.listFiles().map(_.getName).toSeq == Seq("state"))
    FileUtils.deleteDirectory(root)
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
    val work = Files.createTempDirectory("graft-stale").toFile
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

  test("one device per job: no state path or rename outside the state store") {
    val main = new File("src/main/scala")
    assert(main.isDirectory, s"run from the project root: ${main.getAbsolutePath}")
    val allowed = Map(
      "java.io.tmpdir" -> Set("graft/sources/StateStore.scala", "graft/ops/package.scala"),
      "renameTo" -> Set("graft/sources/StateStore.scala"))
    val offenders = FileUtils.listFiles(main, Array("scala"), true).toArray(Array.empty[File]).toSeq
      .flatMap { f =>
        val rel = main.toPath.relativize(f.toPath).toString
        val text = new String(Files.readAllBytes(f.toPath), java.nio.charset.StandardCharsets.UTF_8)
        allowed.collect { case (word, ok) if text.contains(word) && !ok(rel) => s"$rel: $word" }
      }
    assert(offenders.isEmpty, s"state paths and renames belong to StateStore: $offenders")
  }
}
