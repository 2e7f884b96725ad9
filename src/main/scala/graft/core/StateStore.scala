package graft.core

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.charset.StandardCharsets

/** Tiny key→scalar state store mirroring the reference's S3 text-file state
  * (`last_successful_job_time` / `api_limit`, `CommCareAPIHandler.py:75-121`):
  * one value per file, read-or-None on cold start, written atomically
  * (temp + rename) and only on success — which is exactly the reference's
  * at-least-once contract (`:261-262`: watermark advances only after the
  * whole table pull succeeds; a crash re-extracts the window).
  *
  * At scale this is driver-side-only metadata (a few bytes per table per
  * run) — never a data-plane bottleneck; the data path itself stays
  * distributed.
  */
final class StateStore(root: String) {
  Files.createDirectories(Paths.get(root))

  private def path(key: String): Path = Paths.get(root, s"$key.txt")

  /** `NoSuchKey ⇒ None` — the reference's cold-start skip
    * (`CommCareAPIHandler.py:264-272`). */
  def get(key: String): Option[String] =
    if (Files.exists(path(key)))
      Some(new String(Files.readAllBytes(path(key)), StandardCharsets.UTF_8).trim)
    else None

  /** Atomic: write temp file, rename over target. A reader never observes a
    * torn value; a crash mid-write leaves the previous watermark intact. */
  def put(key: String, value: String): Unit = {
    val tmp = Paths.get(root, s".$key.tmp")
    Files.write(tmp, value.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, path(key), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  def getLong(key: String): Option[Long] = get(key).map(_.toLong)
  def putLong(key: String, v: Long): Unit = put(key, v.toString)
}

/** The reference's adaptive API-limit calculator (`util.py:43-85`),
  * re-expressed as pure functions: probe a batch's serialized size, scale the
  * record limit toward a target file size with a 0.5 grace factor, cap at
  * 10 000. The columnar twin is Q20's `new_limit` expression.
  */
object ApiLimitCalculator {
  // Decimal MB, matching util.py:58-67's bytes/1_000_000 arithmetic and its
  // 16 MB cap — NOT MiB (16·1024·1024 would run limits ~4.9% hot and erode
  // the 0.5 grace headroom the formula budgets for).
  val MaxFileSizeBytes: Long = 16_000_000L // Snowflake cap, util.py:51-52
  val GraceFactor: Double = 0.5                  // util.py:53-55
  val MaxLimit: Int = 10000                      // util.py:56-57

  /** `new = min(int(cap/observed * cur * 0.5), 10000)` (util.py:75-85). */
  def newLimit(currentLimit: Int, observedBytes: Long): Int = {
    val sizeRatio = MaxFileSizeBytes.toDouble / observedBytes.toDouble
    math.min((sizeRatio * currentLimit * GraceFactor).toInt, MaxLimit)
  }

  /** Spark-side output sizing: rows-per-file for
    * `spark.sql.files.maxRecordsPerFile` from a sampled average row size. */
  def recordsPerFile(avgRowBytes: Double): Long =
    math.max(1L, (MaxFileSizeBytes * GraceFactor / avgRowBytes).toLong)

  /** Streaming state-partition width for an input of `rows` rows: ~25 k
    * rows per HDFS-backed state store, floored at 4, capped at the session
    * width. 32 stores for 39 k window rows spent more in per-store
    * load/snapshot/commit file I/O than in aggregation (PLANS.md §Round-4
    * phase table: Σ commitTimeMs drops ~40× at width 4). ONE definition —
    * Bench sizes its stream slice with it. */
  def streamStateWidth(rows: Long, maxWidth: Long): Long =
    math.max(4L, math.min(maxWidth, rows / 25_000L))
}
