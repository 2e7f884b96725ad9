package graft.ingest

import java.sql.Timestamp
import java.time.Instant
import org.apache.spark.sql.{Column, DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{ApiLimitCalculator, StateStore, Tables}

/** The reference's pull path (R1,R4,R5,R6,R8 — `CommCareAPIHandler.py:
  * 207-262`) as an incremental Spark batch job: landed JSON envelopes →
  * exploded rows → hour-partitioned bronze parquet, with a watermark state
  * file advanced only on success (at-least-once) and dedup-on-read making
  * re-runs idempotent (the property the reference needs but never tests —
  * its `>=` keyset restart duplicates boundary rows by design, `:239`).
  *
  * Scale posture: the landed-JSON scan, explode, and partitioned write are
  * all narrow per-partition work; the only shuffle is the optional
  * repartition by the output partition columns (keeps one writer task per
  * hour-partition, avoiding the many-small-files failure mode at 1000
  * executors). Filter on `indexed_on` prunes bronze hour directories on
  * re-read.
  */
object Ingest {

  /** Dual-format timestamp parse (SURVEY §1.2; `CommCareAPIHandler.py:
    * 235-238`): microsecond ISO-8601 with `Z`, falling back to the same
    * without `Z`. Naive values are implicitly UTC (session TZ is pinned). */
  def parseIndexedOn(c: Column): Column =
    // try_to_timestamp: Spark 4 runs ANSI mode, where a format mismatch in
    // to_timestamp throws instead of yielding null — the fallback needs the
    // try_ variant.
    coalesce(
      try_to_timestamp(c, lit("yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'")),
      try_to_timestamp(c, lit("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")))

  /** Parse landed envelope JSON (`{"meta": {...}, "objects": [...]}`,
    * `CommCareAPIHandler.py:225-234`) into one row per object, carrying the
    * envelope's meta alongside. `spark.read.json` infers the open payload
    * schema; the stable columns are typed explicitly. */
  def readEnvelopes(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)
      .select(explode(col("objects")).as("obj"), col("meta"))
      .select(
        col("obj.*"),
        col("meta.limit").cast("int").as("_page_limit"),
        col("meta.total_count").cast("long").as("_total_count"))

  /** Envelope read with a DEAD-LETTER lane: line-delimited envelopes parsed
    * against the explicit schema via `from_json` (null ⇒ malformed); good
    * rows explode as in `readEnvelopes`, bad lines return as-is for
    * quarantine. The reference crashes the whole batch on one malformed
    * response body — quarantining isolates the poison row, keeps the batch,
    * and preserves the evidence. `from_json` instead of PERMISSIVE-mode
    * `_corrupt_record` because filtering on the corrupt column alone is a
    * documented Spark caveat (requires caching the raw scan); a null struct
    * has no such restriction. Both lanes are narrow per-partition work. */
  def readEnvelopesQuarantine(spark: SparkSession, path: String): (DataFrame, DataFrame) = {
    val envSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "meta STRUCT<limit: INT, next: STRING, total_count: BIGINT>, " +
        "objects ARRAY<STRUCT<id: BIGINT, indexed_on: STRING, payload: STRING>>")
    val parsed = spark.read.text(path)
      .select(col("value"), from_json(col("value"), envSchema).as("env"))
    val bad = parsed
      .filter(col("env").isNull || col("env.objects").isNull)
      .select(col("value").as("raw_line"))
    val good = parsed.filter(col("env.objects").isNotNull)
      .select(explode(col("env.objects")).as("obj"), col("env.meta").as("meta"))
      .select(
        col("obj.*"),
        col("meta.limit").cast("int").as("_page_limit"),
        col("meta.total_count").cast("long").as("_total_count"))
    (good, bad)
  }

  /** Bronze write: time-partitioned by event time (R8 layout,
    * `CommCareAPIHandler.py:71-73`), append-mode, 16 MB-target file sizing
    * via maxRecordsPerFile (R7). Empty batches write nothing (native).
    * `granularity`: "hour" reproduces the reference's layout; "day" is the
    * right-sized choice when per-hour volume is small — partition
    * granularity should track data density, not copy a layout into a regime
    * where each directory holds a few hundred rows of pure per-file
    * overhead. */
  def writeBronze(df: DataFrame, outDir: String, tsCol: String = "indexed_on",
                  avgRowBytes: Double = 512.0, granularity: String = "hour"): Unit = {
    val base = df
      .withColumn("year", year(col(tsCol)))
      .withColumn("month", month(col(tsCol)))
      .withColumn("day", dayofmonth(col(tsCol)))
    val (partitioned, partCols) = granularity match {
      case "day" => (base, Seq("year", "month", "day"))
      case _     => (base.withColumn("hour", hour(col(tsCol))),
        Seq("year", "month", "day", "hour"))
    }
    // One shuffle keyed on the output partitions: each output dir is written
    // by one task (no small-files explosion). AQE sizes the write: it
    // coalesces small batches down to a few tasks and splits skewed ones.
    partitioned.repartition(partCols.map(col): _*)
      .write
      .mode(SaveMode.Append)
      .option("maxRecordsPerFile", ApiLimitCalculator.recordsPerFile(avgRowBytes))
      .partitionBy(partCols: _*)
      .parquet(outDir)
  }

  /** Bronze read with exact-dedup on the natural key: makes at-least-once
    * landing idempotent (overlapping extract windows collapse, Q6 shape). */
  def readBronzeDeduped(spark: SparkSession, bronzeDir: String, key: String): DataFrame =
    spark.read.parquet(bronzeDir).dropDuplicates(Seq(key))

  final case class CompactionReport(partitions: Int, filesBefore: Int, filesAfter: Int)

  /** Bronze COMPACTION — the operational counterpart of R8's append-only
    * partitioned sink: every incremental run appends its own files, so a
    * partition accretes one small file per run and at 100 TB millions of
    * KB-scale files dominate list/open cost. Partitions holding ≥
    * `minFiles` part-files are rewritten size-targeted (the same
    * `recordsPerFile` policy the writer uses) in ONE distributed job —
    * partition values ride the directory layout via `basePath`, the
    * rewrite shuffles once on the partition columns (one task per
    * oversized partition), and each leaf's files are then swapped in
    * place. Steady-state partitions below the threshold are never churned.
    *
    * Durability: news move in FIRST, olds are deleted after — a crash
    * mid-swap leaves a duplicate window, never a loss window, and
    * [[readBronzeDeduped]] already tolerates duplicates by design
    * (at-least-once + dedup-on-read). A leaf that gained files between the
    * planning snapshot and the swap (a concurrent append) is skipped
    * entirely — compacting it would double the newly-appended rows.
    * Staging lives in a sibling of `bronzeDir` (same filesystem: moves are
    * renames, not copies) and is removed in a finally. The swap is still
    * not transactional ACROSS leaves — a table format (Delta/Iceberg)
    * makes it a metadata commit and is the production choice when readers
    * are concurrent. Rows are preserved bit-for-bit (spec-checked).
    */
  def compactBronze(spark: SparkSession, bronzeDir: String, minFiles: Int = 4,
                    avgRowBytes: Double = 512.0): CompactionReport = {
    import scala.jdk.CollectionConverters._
    import java.nio.file.{Files, Path, Paths}
    val root = Paths.get(bronzeDir)
    if (!Files.isDirectory(root)) return CompactionReport(0, 0, 0)
    def partsOf(d: Path): Seq[Path] = {
      val s = Files.list(d)
      try s.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        n.startsWith("part-") && n.endsWith(".parquet")
      }.toSeq
      finally s.close()
    }
    val walk = Files.walk(root)
    val leaves =
      try walk.iterator().asScala.filter(Files.isDirectory(_))
        .map(d => d -> partsOf(d)).filter(_._2.size >= minFiles).toSeq
      finally walk.close()
    if (leaves.isEmpty) return CompactionReport(0, 0, 0)
    val partCols = root.relativize(leaves.head._1).toString.split("/")
      .filter(_.contains("=")).map(_.split("=")(0)).toSeq
    // sibling staging: same filesystem as the data, so the swap's moves are
    // metadata renames (a /tmp staging would copy every byte cross-device)
    val staging = Files.createTempDirectory(root.getParent, ".graft_compact_")
    try {
      spark.read.option("basePath", bronzeDir)
        .parquet(leaves.map(_._1.toString): _*)
        // range partitioning gives the one-leaf-per-task shape; a plain
        // hash repartition would birthday-collide distinct leaves into
        // shared tasks and leave others empty
        .repartitionByRange(leaves.size, partCols.map(col): _*)
        .write.mode(SaveMode.Overwrite)
        .option("maxRecordsPerFile", ApiLimitCalculator.recordsPerFile(avgRowBytes))
        .partitionBy(partCols: _*)
        .parquet(staging.toString)
      var done = 0; var before = 0; var after = 0
      leaves.foreach { case (leaf, olds) =>
        val stagedLeaf = staging.resolve(root.relativize(leaf))
        require(Files.isDirectory(stagedLeaf),
          s"compaction staging missed partition ${root.relativize(leaf)}")
        if (partsOf(leaf).toSet != olds.toSet) {
          // concurrent append since planning: the staged rewrite may not
          // cover (or may double) the new file's rows — leave this leaf for
          // the next compaction pass
          System.err.println(s"[compact] skipping ${root.relativize(leaf)}: " +
            "files changed since planning (concurrent append)")
        } else {
          val news = partsOf(stagedLeaf)
          // news FIRST (unique job-UUID names — no collision with olds),
          // olds after: a crash between the two loops duplicates, never
          // loses; local-FS checksum shadows travel/die with their files
          news.foreach { f =>
            Files.move(f, leaf.resolve(f.getFileName))
            val crc = f.getParent.resolve("." + f.getFileName.toString + ".crc")
            if (Files.exists(crc)) Files.move(crc, leaf.resolve(crc.getFileName))
          }
          olds.foreach { f =>
            Files.delete(f)
            val crc = f.getParent.resolve("." + f.getFileName.toString + ".crc")
            Files.deleteIfExists(crc)
          }
          done += 1; before += olds.size; after += news.size
        }
      }
      CompactionReport(done, before, after)
    } finally {
      val w = Files.walk(staging)
      try w.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.deleteIfExists(_))
      finally w.close()
    }
  }

  /** Streaming form of the Q30 slice: watch the landing directory as a
    * file stream, explode envelopes, write hour-partitioned bronze with a
    * checkpoint. The checkpoint IS the watermark state (R5) — restart
    * resumes from the last committed file offsets, giving exactly-once file
    * tracking where the batch path is at-least-once + dedup. Returns the
    * started query; callers own its lifecycle. */
  def streamingRun(spark: SparkSession, landedJsonPath: String, bronzeDir: String,
                   checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    // file streams need an explicit schema: stable envelope core, open
    // payload carried as JSON text (SURVEY §1.4)
    val envSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "meta STRUCT<limit: INT, next: STRING, total_count: BIGINT>, " +
        "objects ARRAY<STRUCT<id: BIGINT, indexed_on: STRING, payload: STRING>>")
    spark.readStream.schema(envSchema).json(landedJsonPath)
      .select(explode(col("objects")).as("obj"))
      .select(col("obj.*"))
      .withColumn("indexed_on", parseIndexedOn(col("indexed_on")))
      .withColumn("year", year(col("indexed_on")))
      .withColumn("month", month(col("indexed_on")))
      .withColumn("day", dayofmonth(col("indexed_on")))
      .withColumn("hour", hour(col("indexed_on")))
      .writeStream
      .format("parquet")
      .option("path", bronzeDir)
      .option("checkpointLocation", checkpointDir)
      .partitionBy("year", "month", "day", "hour")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /** The landing step both pull paths end in (R4, R5, R8;
    * `CommCareAPIHandler.py:239-262`). The window's lower bound is a custom
    * range's start, inclusive (a backfill is a fresh window), or else the
    * stored watermark read as UTC, exclusive (a resume past rows already
    * landed); a cold start has none. `dedupKey` collapses duplicate keys
    * after the window filter, so the range still reaches the source. The
    * window lands in ONE write job, whose `observe` also yields the row
    * count (`rows`) and the `metrics`; only after that write succeeds does
    * the watermark move to `upper`, and never for a custom-range backfill
    * (the reference guards `_save_run_time` behind `not custom_range`).
    * Returns the observed values by name. */
  private def landWindow(src: DataFrame, bronzeDir: String, state: StateStore,
                         stateKey: String, upper: Instant,
                         customRange: Option[(Instant, Instant)],
                         dedupKey: Option[String] = None,
                         metrics: Seq[Column] = Nil): Map[String, Any] = {
    val ts = col("indexed_on")
    val hi = ts <= lit(Timestamp.from(upper))
    val inWindow = customRange match {
      case Some((start, _)) => ts >= lit(Timestamp.from(start)) && hi
      case None => state.get(stateKey).map(Tables.utcInstant) match {
        case Some(lo) => ts > lit(Timestamp.from(lo)) && hi
        case None     => hi
      }
    }
    val windowed = src.filter(inWindow)
    val window = dedupKey.fold(windowed)(windowed.dropDuplicates(_))
    val observed = Observation()
    writeBronze(window.observe(observed, count(lit(1)).as("rows"), metrics: _*), bronzeDir)
    val landed = observed.get
    if (customRange.isEmpty)
      state.put(stateKey, upper.toString.replace("Z", "").replace("T", " "))
    landed
  }

  /** The reference's PRIMARY path composed end-to-end (R1→R4→R5→R6→R7→R8):
    * pull a watermark-bounded window from a paginated REST API via the
    * graft-rest DSv2 source (range pushdown + keyset pagination +
    * `slices`-way parallel extraction), land hour-partitioned bronze,
    * advance the watermark only on success ([[landWindow]]). `upperBound`
    * plays the role of the reference's `event_time` (minus lag when
    * `useLag`). Returns rows landed.
    *
    * R7 calibration cycle (`CommCareAPIHandler.py:96-156`): when
    * `calibrateKey` is set, the run's page size comes from the PERSISTED
    * limit at that state key (the `limit` param only seeds the cold start),
    * and after a successful pull the observed serialized density recalibrates
    * the limit (`ApiLimitCalculator.newLimit` ≡ util.py:75-85) and persists
    * it for the next run — probe → persist → reuse, end-to-end.
    *
    * CUSTOM-RANGE mode (`CommCareAPIHandler.py:158-162,261-262`;
    * `lambda_function.py:46-54`): when `customRange` is set, exactly that
    * `[start, end]` window is extracted, the late-data lag is forced OFF
    * (a historical re-extract has no in-flight writes to dodge), and the
    * watermark state is NOT advanced — a backfill must never move the
    * incremental frontier. `calibrateKey` recalibration is also skipped:
    * the probe cycle belongs to the steady-state incremental loop.
    *
    * `tableOptions` carries per-table wire params
    * (`RestEnvelopeSource.tableOptions`: `form`'s include_archived,
    * `action_times`' UTC_start_time family).
    *
    * The REST source is scanned once, inside the landing write: no cache,
    * no count pass, so the API sees one pass of requests per run. */
  def restPullRun(spark: SparkSession, apiUrl: String, bronzeDir: String,
                  state: StateStore, upperBound: Instant,
                  stateKey: String = "last_successful_job_time",
                  limit: Int = 1000, slices: Int = 4, useLag: Boolean = false,
                  calibrateKey: Option[String] = None,
                  authToken: Option[String] = None,
                  tableOptions: Map[String, String] = Map.empty,
                  customRange: Option[(Instant, Instant)] = None)
  : Long = {
    val upper = customRange match {
      case Some((_, end)) => end // custom range forces use_lag off
      case None => if (useLag) upperBound.minusSeconds(300) else upperBound
    }
    val effLimit = calibrateKey.flatMap(state.getLong).map(_.toInt).getOrElse(limit)
    val reader = spark.read.format("graft-rest")
      .option("url", apiUrl).option("limit", effLimit).option("slices", slices)
    tableOptions.foreach { case (k, v) => reader.option(k, v) }
    authToken.foreach(reader.option("auth_token", _))
    val landed = landWindow(reader.load(), bronzeDir, state, stateKey, upper, customRange,
      // R2's >=-restart duplicates boundary rows by design — collapse here
      dedupKey = Some("id"),
      metrics = Seq(avg(length(col("payload"))).as("payload_len")))
    val n = landed("rows").asInstanceOf[Long]
    if (n > 0 && customRange.isEmpty) calibrateKey.foreach { k =>
      // R7 probe: observed bytes of one effLimit-row page at this pull's
      // serialized density. Same formula the reference applies to the probe
      // response's Content-Length.
      val avgRowBytes = landed("payload_len").asInstanceOf[Double]
      val observed = math.max(1L, (avgRowBytes * effLimit).toLong)
      state.putLong(k, ApiLimitCalculator.newLimit(effLimit, observed).toLong)
    }
    n
  }

  /** One incremental run (the Q30 slice): filter the landed data to
    * `(watermark, upper]`, land to bronze, advance the watermark state only
    * on success ([[landWindow]]). `upper` defaults to max(indexed_on) −
    * 5-minute lag (R6). Returns rows written.
    *
    * CUSTOM-RANGE mode (`CommCareAPIHandler.py:158-162,261-262`;
    * `lambda_function.py:46-54`): `customRange = Some((start, end))`
    * extracts exactly `[start, end]` (inclusive start — a backfill window,
    * not a watermark resume), forces the lag off, and leaves the watermark
    * state file byte-identical — the incremental frontier never moves on a
    * re-extract. */
  def incrementalRun(spark: SparkSession, landedJsonPath: String, bronzeDir: String,
                     state: StateStore, stateKey: String = "last_successful_job_time",
                     useLag: Boolean = false,
                     quarantineDir: Option[String] = None,
                     customRange: Option[(Instant, Instant)] = None)
  : Long = {
    val source = quarantineDir match {
      case Some(qd) =>
        // dead-letter lane: malformed lines land in the quarantine dir (raw
        // text preserved), good rows continue. Two contracts to know:
        // (1) this mode fixes `payload` to its raw JSON text (explicit
        // schema), while the default mode infers a struct — pick ONE mode
        // per bronze dataset or the parquet schemas conflict; (2) the
        // evidence lane is at-least-once like the data lane — a
        // failed-and-retried run re-appends its poison lines (dedup by line
        // content on read; raw lines carry no key for dedup-on-write).
        val (good, bad) = readEnvelopesQuarantine(spark, landedJsonPath)
        bad.write.mode(SaveMode.Append).text(qd)
        good
      case None => readEnvelopes(spark, landedJsonPath)
    }
    // ONE scan of the landing zone for the whole run: the max-ts agg and the
    // bronze write both read this cached frame. Uncached, each action
    // re-reads and re-parses the landed JSON — at a 100 TB landing zone JSON
    // parsing is the dominant cost, so the scan count is the job's cost model.
    val parsed = source
      .withColumn("indexed_on", parseIndexedOn(col("indexed_on")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // Driver-side single-value agg (not a data collect): the batch's high
      // water mark. Empty landing zone ⇒ nothing to do, watermark unchanged.
      val upper = customRange match {
        case Some((_, end)) => end // custom range: fixed bound, lag forced off
        case None =>
          val maxTs = parsed.agg(max(col("indexed_on"))).head().getTimestamp(0)
          if (maxTs == null) return 0L
          if (useLag) maxTs.toInstant.minusSeconds(300) else maxTs.toInstant
      }
      landWindow(parsed, bronzeDir, state, stateKey, upper, customRange)("rows")
        .asInstanceOf[Long]
    } finally parsed.unpersist()
  }
}
