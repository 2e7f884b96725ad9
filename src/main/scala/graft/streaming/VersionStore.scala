package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode}
import scala.util.control.NonFatal

/** Shared commit machinery for the `v=<batchId>` immutable-version scheme
  * used by [[StreamingJobs.applyCdcBatch]] / `applyFingerprintBatch` /
  * `applyCalibrationBatch` (and vacuumed by
  * [[StreamingJobs.vacuumVersions]]).
  *
  * The single-writer scheme was already replay-idempotent (derive from the
  * latest version BELOW your batch id, overwrite your own dir); what it
  * could not survive was TWO CONCURRENT WRITERS racing version
  * directories — writer A derives from v=4, writer B commits v=6 (also
  * from v=4), A then commits v=5 and the store's newest lineage silently
  * loses A's changes. This object closes that hole with optimistic
  * concurrency, the lightweight form of what a transactional table format
  * does with its commit log:
  *
  *  1. the EXPENSIVE work (the full version payload write) happens
  *     unlocked, into a `_staging_v<id>_<nonce>` dir unique per attempt —
  *     underscore-prefixed so no reader or `listVersions` ever sees it;
  *  2. a short critical section under an atomically-created lock file
  *     re-reads the version listing and verifies the latest version
  *     (excluding the writer's own id — crash replay of batch N may find
  *     its own torn v=N) still equals the base the payload was derived
  *     from; any foreign version that appeared since ⇒ LOUD
  *     `ConcurrentModificationException`, staging deleted, nothing
  *     committed — never a silent lost update;
  *  3. publish is a same-filesystem ATOMIC_MOVE of the staging dir onto
  *     `v=<batchId>` — readers see the old listing or the new one, never
  *     a half-written version.
  *
  * Every committer also drops a `_graft_version_store` marker at the
  * store root; `vacuumVersions` refuses to recursively delete under a
  * directory that carries neither the marker nor at least one
  * well-formed parquet version dir — so a path typo (or a hostile
  * `GRAFT VACUUM VERSIONS` argument) cannot destroy a directory that
  * merely happens to contain `v=N` children. ConcurrentWriterSpec pins
  * the two-writer interleavings; VacuumSpec/UpsertSpec pin that the
  * single-writer and replay behavior is unchanged.
  */
object VersionStore {
  /** Dropped at the store root by every committer; vacuum's safety check. */
  val MarkerName = "_graft_version_store"
  private val LockName = "_graft_commit.lock"
  private val StagingPrefix = "_staging_v"
  private val LockTimeoutNanos = 30L * 1000 * 1000 * 1000

  /** Version ids present in the store, unsorted. A missing/non-directory
    * target is an empty store; a LISTING FAILURE on an existing directory
    * is an error — returning empty there would make the next committer
    * re-derive from nothing and overwrite the table (the transient-I/O
    * lost-update the round-9 review flagged). */
  def listVersions(targetDir: String): Seq[Long] = {
    val d = new java.io.File(targetDir)
    if (!d.isDirectory) Seq.empty
    else {
      val files = d.listFiles
      if (files == null)
        throw new java.io.IOException(
          s"version store '$targetDir': directory exists but cannot be listed " +
            "(transient I/O error?) — refusing to treat it as empty")
      files.toSeq.filter(_.isDirectory).map(_.getName).collect {
        case n if n.length > 2 && n.startsWith("v=") && n.drop(2).forall(_.isDigit) =>
          n.stripPrefix("v=").toLong
      }
    }
  }

  /** The replay-idempotent base rule: latest version strictly below the id. */
  def latestBelow(targetDir: String, batchId: Long): Option[Long] =
    listVersions(targetDir).filter(_ < batchId).sorted.lastOption

  /** Atomic-create lock file with bounded wait. The lock only guards the
    * cheap recheck+rename critical section, so contention windows are
    * milliseconds; a 30 s timeout means a crashed holder (the file leaks
    * if the JVM dies inside the section) surfaces as a descriptive error
    * naming the stale file, not a hang. */
  private[streaming] def withLock[A](targetDir: String)(body: => A): A = {
    val lock = java.nio.file.Paths.get(targetDir, LockName)
    val deadline = System.nanoTime() + LockTimeoutNanos
    var held = false
    while (!held) {
      try { java.nio.file.Files.createFile(lock); held = true }
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          if (System.nanoTime() > deadline)
            throw new java.util.ConcurrentModificationException(
              s"version store '$targetDir': commit lock '$lock' held for >30s — " +
                "another writer is stuck, or a crashed writer left a stale lock " +
                "(delete the file if no writer is alive)")
          Thread.sleep(20)
      }
    }
    try body finally java.nio.file.Files.deleteIfExists(lock)
  }

  /** Recursive delete with the walk stream CLOSED (java.nio Files.walk
    * holds directory handles until closed; repeated vacuums leaked them). */
  private[streaming] def deleteRecursively(path: String): Unit = {
    val root = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(root)) {
      val stream = java.nio.file.Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        stream.iterator().asScala.toSeq
          .sortBy(-_.getNameCount) // children before parents
          .foreach(java.nio.file.Files.deleteIfExists(_))
      } finally stream.close()
    }
  }

  /** True when the directory carries the committer marker or at least one
    * well-formed version dir with parquet contents — the "is this really
    * a graft version store" gate vacuum runs before deleting anything. */
  private[streaming] def looksLikeStore(targetDir: String): Boolean = {
    val d = new java.io.File(targetDir)
    if (new java.io.File(d, MarkerName).isFile) true
    else listVersions(targetDir).exists { v =>
      val files = new java.io.File(d, s"v=$v").listFiles
      files != null && files.exists(f =>
        f.getName.endsWith(".parquet") || f.getName == "_SUCCESS")
    }
  }

  /** Optimistic-concurrency version commit (steps 1–3 in the class doc).
    *
    * @param observedBase the version the payload was DERIVED from (the
    *        `latestBelow` read at the start of the batch); the commit
    *        aborts if any other version has appeared since.
    * @param beforeCommitCheck test seam: runs inside the lock just before
    *        the recheck, where ConcurrentWriterSpec interleaves a rival
    *        writer's full commit to prove detection. */
  def commitVersion(merged: DataFrame, targetDir: String, batchId: Long,
                    observedBase: Option[Long],
                    beforeCommitCheck: () => Unit = () => ()): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(targetDir))
    try java.nio.file.Files.createFile(
      java.nio.file.Paths.get(targetDir, MarkerName))
    catch { case _: java.nio.file.FileAlreadyExistsException => () }
    val staging =
      s"$targetDir/$StagingPrefix${batchId}_${java.lang.Long.toHexString(System.nanoTime())}"
    merged.write.mode(SaveMode.Overwrite).parquet(staging)
    try {
      withLock(targetDir) {
        beforeCommitCheck()
        val latestForeign =
          listVersions(targetDir).filter(_ != batchId).sorted.lastOption
        if (latestForeign != observedBase)
          throw new java.util.ConcurrentModificationException(
            s"version store '$targetDir': batch $batchId derived from base " +
              s"${observedBase.fold("<empty>")(v => s"v=$v")} but the latest " +
              s"version is now ${latestForeign.fold("<empty>")(v => s"v=$v")} — " +
              "a concurrent writer committed since this batch read its base; " +
              "aborting WITHOUT publishing (re-derive from the new latest and retry)")
        deleteRecursively(s"$targetDir/v=$batchId") // own torn replay attempt
        val src = java.nio.file.Paths.get(staging)
        val dst = java.nio.file.Paths.get(s"$targetDir/v=$batchId")
        try java.nio.file.Files.move(src, dst,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        catch { case _: java.nio.file.AtomicMoveNotSupportedException =>
          java.nio.file.Files.move(src, dst)
        }
      }
    } catch { case t: Throwable =>
      try deleteRecursively(staging) catch { case NonFatal(_) => () }
      throw t
    }
  }
}
