package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Generic build-once / read-every-run parquet state behind the repo's
  * write-tmp + atomic-rename commit protocol (the same shape as
  * `Dedup.persistedCorpusState` and `BloomPrune.persistedFilter`):
  * readers only ever see absent or fully-published state, a crashed
  * writer leaves nothing at the published path, and of two concurrent
  * writers one wins the rename while the other discards its tmp dir.
  *
  * Callers key `stateDir` by a CONTENT fingerprint of the inputs
  * (`TextOps.evalSetFingerprint` is the standard device) whenever stale
  * state would change answers — content-keying means stale state is
  * simply never looked up.
  */
object ParquetState {

  /** Returns the named part frames at `stateDir`, building and publishing
    * them first if absent. `build` is evaluated at most once per
    * published state version. */
  def getOrBuild(s: SparkSession, stateDir: String, parts: Seq[String])(
      build: => Seq[DataFrame]): Seq[DataFrame] = {
    val root = new java.io.File(stateDir)
    def complete = new java.io.File(root, s"${parts.last}/_SUCCESS").exists()
    if (!complete) {
      val tmp = new java.io.File(root.getParentFile,
        s"${root.getName}.tmp-${ProcessHandle.current().pid()}-${Thread.currentThread().getId}")
      val dfs = build
      require(dfs.length == parts.length,
        s"state build produced ${dfs.length} frames for ${parts.length} parts")
      parts.zip(dfs).foreach { case (p, df) =>
        df.write.mode("overwrite").parquet(s"${tmp.getPath}/$p") }
      // a stale half-state blocks the rename: move it aside atomically,
      // never delete in place (a racing reader could see partial state)
      if (root.exists() && !complete) {
        val stale = new java.io.File(root.getParentFile,
          s"${root.getName}.stale-${ProcessHandle.current().pid()}-${Thread.currentThread().getId}")
        if (root.renameTo(stale))
          org.apache.commons.io.FileUtils.deleteDirectory(stale)
      }
      if (!tmp.renameTo(root))
        org.apache.commons.io.FileUtils.deleteDirectory(tmp) // lost the race
    }
    parts.map(p => Tables.parquet(s, s"$stateDir/$p"))
  }

  /** The bare commit protocol for callers that REPUBLISH state every
    * cycle (the streaming maintenance loops) rather than build-once:
    * `write` receives the private tmp dir; on return the tmp renames
    * over `root` atomically, moving any previous version aside first
    * (rename-to-tombstone, never in-place delete — a racing reader
    * could otherwise see partial state mid-delete). */
  def publishAtomically(root: java.io.File)(write: java.io.File => Unit): Unit = {
    val tmp = new java.io.File(root.getParentFile,
      s"${root.getName}.tmp-${ProcessHandle.current().pid()}-${Thread.currentThread().getId}")
    write(tmp)
    if (root.exists()) {
      val stale = new java.io.File(root.getParentFile,
        s"${root.getName}.stale-${ProcessHandle.current().pid()}-${Thread.currentThread().getId}")
      if (root.renameTo(stale))
        org.apache.commons.io.FileUtils.deleteDirectory(stale)
    }
    if (!tmp.renameTo(root))
      org.apache.commons.io.FileUtils.deleteDirectory(tmp)
  }
}
