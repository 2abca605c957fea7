package graft.sources

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}

/** The one home of persisted state: build-once artifacts (postings,
  * centroids, trained weights, graph state, Bloom filters, layouts) and
  * the streaming snapshots. It owns three decisions no caller makes:
  *
  *   - **Key.** A [[StateKey]] combines the family string (name,
  *     version and parameters) with a content fingerprint of the frames
  *     the state is derived from. Only [[key]] makes one, so keyed state
  *     can never be looked up by a path: a fixture rewritten in place
  *     changes the key, and stale state is simply never read.
  *   - **Path.** State lives at `<java.io.tmpdir>/graft_<family>_<hash>`.
  *     The tmpdir is read on every [[key]] call, so a harness that moves
  *     it between set-ups gets cold builds.
  *   - **Commit step.** [[commit]]: the writer fills a private tmp dir,
  *     stamps it complete, and renames it into place. Readers see either
  *     no state or complete state; a crashed writer leaves nothing at the
  *     published path; of two racing writers one wins the rename and the
  *     other discards its tmp dir; a half-state is moved aside by rename,
  *     never deleted in place (a racing reader could see it mid-delete).
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
    * fills a tmp dir (a path that does not exist yet) which [[commit]]
    * publishes, first writer wins. Returns the published dir. */
  def dir(key: StateKey)(write: File => Unit): File = {
    if (!complete(key.dir)) commit(key.dir, replace = false)(write)
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
      if (b != null) commit(key.dir, replace = false) { tmp =>
        tmp.mkdirs()
        java.nio.file.Files.write(new File(tmp, file.getName).toPath, b)
      }
      b
    }
  }

  /** The one commit step. `write` fills a writer-private tmp dir next to
    * `target`; the dir is stamped complete and renamed to `target`.
    * With `replace` (a state republished every cycle), a previous
    * `target` is moved aside first; without it, a complete `target`
    * wins and this writer's tmp dir is discarded. A half-state at
    * `target` is always moved aside. Returns whether this writer
    * published. */
  def commit(target: File, replace: Boolean)(write: File => Unit): Boolean = {
    val parent = target.getAbsoluteFile.getParentFile
    parent.mkdirs()
    val tag = s"${ProcessHandle.current().pid()}-${Thread.currentThread().getId}"
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
    if (target.exists() && (replace || !complete(target))) {
      val stale = new File(parent, s"${target.getName}.stale-$tag")
      if (target.renameTo(stale)) org.apache.commons.io.FileUtils.deleteDirectory(stale)
    }
    val won = tmp.renameTo(target)
    if (!won) org.apache.commons.io.FileUtils.deleteDirectory(tmp) // lost the race
    won
  }
}
