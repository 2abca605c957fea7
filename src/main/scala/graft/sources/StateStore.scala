package graft.sources

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}

/** The one home of persisted state: build-once artifacts (postings,
  * centroids, trained weights, graph state, Bloom filters, layouts) and
  * the streaming snapshots. It owns four decisions no caller makes:
  *
  *   - **Key.** A [[StateKey]] combines the family string (name,
  *     version and parameters) with a content fingerprint of the frames
  *     the state is derived from. Only [[key]] makes one, so keyed state
  *     can never be looked up by a path: a fixture rewritten in place
  *     changes the key, and stale state is simply never read.
  *   - **Path.** State lives at `<java.io.tmpdir>/graft_<family>_<hash>`.
  *     The tmpdir is read on every [[key]] call, so a harness that moves
  *     it between set-ups gets cold builds.
  *   - **Commit step.** The private `commit`: the writer fills a private
  *     tmp dir, stamps it complete, and renames it into place. Readers
  *     see either no state or complete state; a crashed writer leaves
  *     nothing at the published path; of two racing writers one wins the
  *     rename and the other discards its tmp dir; a half-state is moved
  *     aside by rename, never deleted in place (a racing reader could see
  *     it mid-delete). Every write goes through it: keyed state through
  *     [[dir]], [[parquet]] and [[bytes]], streaming state through
  *     [[publishNext]].
  *   - **Snapshots.** State a stream republishes every trigger is a
  *     sequence of `v_N` dirs under its root: [[latest]] finds the newest
  *     complete one and [[publishNext]] commits `v_(N+1)` next to it.
  *     A published version is never written again, so a writer that dies
  *     mid-write leaves the previous version latest and readable, and a
  *     reader never sees a version change under it. After each publish
  *     only the latest two versions are kept; older ones are moved aside,
  *     then deleted.
  */
object StateStore {

  /** The identity of one keyed state: only [[key]] makes one. */
  final class StateKey private[StateStore] (family: String, val hash: String, val dir: File) {
    /** `<family>_<hash>`: the state dir's name without its `graft_`
      * prefix; also a valid catalog table name. */
    def name: String = s"${family}_$hash"
  }

  /** Stamped into a tmp dir last, before the rename: a dir without it is
    * a half-state. Spark's parquet reader skips `_`-prefixed files. */
  private val Marker = "_COMMITTED"

  private val TwoTo64 = java.math.BigInteger.ONE.shiftLeft(64)

  /** A memoized input fingerprint (`<rows>:<hash sum, hex>`), valid
    * while its signature still matches. */
  private final case class FingerprintMemo(signature: String, fingerprint: String)

  /** Keyed by the input's canonicalized plan (expression ids
    * normalized, so two separate builds of the same frame share one
    * entry). JVM-wide, like the schema memo: an entry is content-keyed,
    * so which session made it does not matter. */
  private val fingerprintMemo =
    new java.util.concurrent.ConcurrentHashMap[LogicalPlan, FingerprintMemo]()

  /** The key of `family`'s state derived from `inputs`. Each input's
    * fingerprint is its row count plus the exact sum of `xxhash64` over
    * all its columns, reduced mod 2^64: a multiset hash, so it ignores
    * row order and partitioning but not duplicates (an XOR fold cancels
    * a duplicated pair; a sum does not). The sum runs as DECIMAL(38,0),
    * which no partial aggregate can overflow under ANSI mode.
    *
    * A fingerprint is memoized under the input's canonicalized plan and
    * [[Tables.signature]] (the path, length and mtime of every file the
    * plan scans, plus the parquet confs), so a warm state read does not
    * scan its whole input again to find its key. It is re-scanned when
    * the signature no longer matches (a file was rewritten, added or
    * removed, or a conf changed) and on every call for an input that is
    * not deterministic or has a leaf other than a listed file relation
    * (a `LocalRelation`, a `Range`, a boundary, a cached frame). The
    * inputs that need a scan are fingerprinted in one query. Only the
    * fingerprint is memoized: the key's dir follows `java.io.tmpdir` on
    * every call. */
  def key(family: String, inputs: DataFrame*): StateKey = {
    require(family.matches("[A-Za-z0-9_]+"), s"state family must be an identifier: $family")
    require(inputs.nonEmpty, "a state key needs at least one input frame")
    // (canonical plan, signature) of each input the memo may serve;
    // cached sub-plans are substituted now, not when the frame was planned
    val memoKeys = inputs.map { df =>
      val qe = df.queryExecution
      val plan = new QueryExecution(qe.sparkSession, qe.analyzed).withCachedData
      Option.when(plan.deterministic)(plan)
        .flatMap(p => Tables.signature(qe.sparkSession, p).map(p.canonicalized -> _))
    }
    val memo = memoKeys.map(_.flatMap { case (plan, sig) =>
      Option(fingerprintMemo.get(plan)).filter(_.signature == sig).map(_.fingerprint)
    })
    val missing = inputs.indices.filter(memo(_).isEmpty)
    val scanned = if (missing.isEmpty) Map.empty[Int, String] else {
      val row = missing.map { i =>
        val cols = inputs(i).columns.map(c => col(s"`${c.replace("`", "``")}`"))
        inputs(i).agg(count(lit(1)).as(s"n$i"),
          sum(xxhash64(cols.toIndexedSeq: _*).cast("decimal(38,0)")).as(s"h$i"))
      }.reduce(_ crossJoin _).head()
      missing.zipWithIndex.map { case (i, j) =>
        val h = Option(row.getDecimal(2 * j + 1))
          .map(_.toBigInteger.mod(TwoTo64)).getOrElse(java.math.BigInteger.ZERO)
        val fp = s"${row.getLong(2 * j)}:${h.toString(16)}"
        memoKeys(i).foreach { case (plan, sig) => fingerprintMemo.put(plan, FingerprintMemo(sig, fp)) }
        i -> fp
      }.toMap
    }
    val material = (family +: inputs.indices.map(i => memo(i).getOrElse(scanned(i)))).mkString("\n")
    val hash = java.security.MessageDigest.getInstance("SHA-256")
      .digest(material.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(8).map(b => f"$b%02x").mkString
    new StateKey(family, hash,
      new File(System.getProperty("java.io.tmpdir"), s"graft_${family}_$hash"))
  }

  private def complete(dir: File): Boolean = new File(dir, Marker).exists()

  /** Build-once state under `key`: if it is not published yet, `write`
    * fills a tmp dir (a path that does not exist yet) which the commit
    * step publishes, first writer wins. Returns the published dir. */
  def dir(key: StateKey)(write: File => Unit): File = {
    if (!complete(key.dir)) commit(key.dir)(write)
    key.dir
  }

  /** Build-once parquet state: the named part frames under `key`, built
    * and published first if absent (`build` runs at most once per
    * published key). The built frames are unpersisted once written —
    * every caller reads the state back from storage. */
  def parquet(s: SparkSession, key: StateKey, parts: String*)(
      build: => Seq[DataFrame]): Seq[DataFrame] = {
    dir(key) { tmp =>
      val dfs = build
      require(dfs.length == parts.length,
        s"state build produced ${dfs.length} frames for ${parts.length} parts")
      parts.zip(dfs).foreach { case (p, df) => df.write.parquet(new File(tmp, p).getPath) }
      dfs.foreach(_.unpersist())
    }
    parts.map(p => Tables.parquet(s, new File(key.dir, p).getPath))
  }

  /** Build-once bytes under `key` (a serialized Bloom filter). A null
    * build is returned but never published, so the next call builds
    * again. */
  def bytes(key: StateKey)(build: => Array[Byte]): Array[Byte] = {
    val file = new File(key.dir, "state.bin")
    if (complete(key.dir)) java.nio.file.Files.readAllBytes(file.toPath)
    else {
      val b = build
      if (b != null) commit(key.dir) { tmp =>
        tmp.mkdirs()
        java.nio.file.Files.write(new File(tmp, file.getName).toPath, b)
      }
      b
    }
  }

  /** The newest complete `v_N` snapshot under `root`, if any. A version
    * is complete once the commit step has stamped it; a version Spark
    * wrote in place (no stamp) counts once its `_SUCCESS` exists. */
  def latest(root: File): Option[File] = versions(root).filter(published).lastOption

  /** Publishes the snapshot after [[latest]] under `root`: `write` fills
    * a tmp dir (a path that does not exist yet) that the commit step
    * publishes as `v_(N+1)`, first writer wins. Then every version older
    * than the latest two is moved aside and deleted, so a reader of the
    * previous version can still finish. Returns the published dir. */
  def publishNext(root: File)(write: File => Unit): File = {
    val next = new File(root, s"v_${latest(root).fold(0L)(versionOf(_) + 1L)}")
    commit(next)(write)
    val all = versions(root)
    val oldestKept = all.filter(published).takeRight(2).headOption.fold(0L)(versionOf)
    all.filter(versionOf(_) < oldestKept).foreach(discard)
    next
  }

  /** The `v_N` dirs under `root`, oldest first. */
  private def versions(root: File): Seq[File] =
    Option(root.listFiles()).getOrElse(Array.empty[File]).toSeq
      .filter(f => f.isDirectory && f.getName.matches("v_\\d+"))
      .sortBy(versionOf)

  private def published(version: File): Boolean =
    complete(version) || new File(version, "_SUCCESS").exists()

  private def versionOf(dir: File): Long = dir.getName.stripPrefix("v_").toLong

  /** This writer's tag: process and thread, so two writers never share a
    * tmp or stale dir. */
  private def tag: String = s"${ProcessHandle.current().pid()}-${Thread.currentThread().getId}"

  /** Moves `dir` aside by rename, then deletes it: a racing reader never
    * sees a half-deleted dir at a published path. */
  private def discard(dir: File): Unit = {
    val stale = new File(s"${dir.getAbsolutePath}.stale-$tag")
    if (dir.renameTo(stale)) org.apache.commons.io.FileUtils.deleteDirectory(stale)
  }

  /** The one commit step. `write` fills a writer-private tmp dir next to
    * `target`; the dir is stamped complete and renamed to `target`. A
    * complete `target` wins and this writer's tmp dir is discarded; a
    * half-state at `target` is moved aside first. */
  private def commit(target: File)(write: File => Unit): Unit = {
    val parent = target.getAbsoluteFile.getParentFile
    parent.mkdirs()
    val tmp = new File(parent, s"${target.getName}.tmp-$tag")
    org.apache.commons.io.FileUtils.deleteQuietly(tmp) // a crashed earlier write of this thread
    try {
      write(tmp)
      tmp.mkdirs()
      new File(tmp, Marker).createNewFile()
    } catch { case e: Throwable =>
      org.apache.commons.io.FileUtils.deleteQuietly(tmp)
      throw e
    }
    if (target.exists() && !complete(target)) discard(target)
    if (!tmp.renameTo(target)) org.apache.commons.io.FileUtils.deleteDirectory(tmp) // lost the race
  }
}
