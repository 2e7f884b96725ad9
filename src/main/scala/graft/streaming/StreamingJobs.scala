package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming surface (SURVEY.md §2B Q27–Q29): the reference's hand-rolled
  * micro-batch loop (`CommCareAPIHandler.py:217-258` — watermark lower
  * bound, 5-minute indexing lag, `>=`-restart duplicate tolerance) becomes
  * Structured Streaming: event-time watermarks, windowed aggregation, and
  * stateful dedup. Builders take a (possibly streaming) events DataFrame so
  * tests drive them from MemoryStream and production from readStream.
  *
  * Scale: stateful operators shuffle on their grouping keys and keep
  * per-key state in the state store (RocksDB on a real cluster); watermarks
  * bound state size — exactly the knobs the reference approximates with its
  * `use_lag` 5-minute subtraction (`:65-69`).
  */
object StreamingJobs {

  /** Q27: events per 1-minute tumbling window, 5-minute watermark.
    * Append-mode emits a window only once its watermark passes — the
    * streaming analogue of the reference's settled-window extraction. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "5 minutes")
      .groupBy(window(col("ts"), "1 minute"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"), col("n"))

  /** Q43c twin: hourly OHLC bars on the live stream — the SAME aggregate
    * expressions as the batch lane (Analytics.q43Ohlc), so a backfilled
    * bar and a live bar can never disagree. Append-mode: a bar emits once
    * the watermark passes its hour. Requires an `event_id`-bearing events
    * frame (the ordinal is (ts, event_id), identical to batch). */
  def hourlyOhlc(events: DataFrame): DataFrame = {
    // ONE shared aggregate definition with the batch lane (custom
    // argmin2/argmax2 — see Analytics.ohlcAggs for why not min_by)
    val aggs = graft.queries.Analytics.ohlcAggs
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("event_type"), col("window.start").as("h"),
        col("open"), col("high"), col("low"), col("close"), col("n"))
  }

  /** Q28a: 5-minute windows sliding every minute. */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "5 minutes")
      .groupBy(window(col("ts"), "5 minutes", "1 minute"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"), col("n"))

  /** Q28b: per-user session windows with a 30-minute gap. */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "5 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"), col("n"))

  /** Q29: stateful dedup on event_id within the watermark — the streaming
    * form of the reference's boundary-row duplicate problem (R2): re-sent
    * rows inside the watermark horizon collapse; late rows past it drop. */
  def dedupWithinWatermark(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "5 minutes")
      .dropDuplicatesWithinWatermark(Seq("event_id"))

  /** Q29b: stream-stream INTERVAL join — the attribution shape (match each
    * action to the views that preceded it within 10 minutes, per user).
    * Both sides carry watermarks and the join condition bounds event time in
    * both directions, so the state store provably expires rows: view-side
    * state is held only until `view.ts + 10 min` passes the action-side
    * watermark. Without the time bound the state would grow forever — this
    * is the streaming twin of the batch as-of join (Q10). Shuffles both
    * streams on user_id once; inner join, append mode. */
  def intervalJoin(views: DataFrame, actions: DataFrame): DataFrame = {
    val v = views.withWatermark("ts", "5 minutes")
      .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
        col("ts").as("v_ts"))
    val a = actions.withWatermark("ts", "5 minutes")
      .select(col("event_id").as("action_id"), col("user_id").as("a_user"),
        col("ts").as("a_ts"))
    v.join(a, expr(
      "v_user = a_user AND a_ts >= v_ts AND a_ts <= v_ts + INTERVAL 10 MINUTES"))
      .select(col("v_user").as("user_id"), col("view_id"), col("action_id"),
        col("v_ts"), col("a_ts"))
  }

  /** Q29b': stream-stream LEFT OUTER interval join — attribution that must
    * also report the UNMATCHED views (the conversion-rate denominator). The
    * same watermark + two-sided time bound as [[intervalJoin]] makes state
    * expiry provable, which is exactly what licenses the outer side: a view
    * emits its null-action row only once the action-side watermark passes
    * `v_ts + 10 min` — at that point no future action can ever match it, so
    * the "unmatched" verdict is final, not racy. Inner matches emit as they
    * join; nothing is dropped. */
  def intervalJoinOuter(views: DataFrame, actions: DataFrame): DataFrame = {
    val v = views.withWatermark("ts", "5 minutes")
      .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
        col("ts").as("v_ts"))
    val a = actions.withWatermark("ts", "5 minutes")
      .select(col("event_id").as("action_id"), col("user_id").as("a_user"),
        col("ts").as("a_ts"))
    v.join(a, expr(
      "v_user = a_user AND a_ts >= v_ts AND a_ts <= v_ts + INTERVAL 10 MINUTES"),
      "left_outer")
      .select(col("v_user").as("user_id"), col("view_id"), col("action_id"),
        col("v_ts"), col("a_ts"))
  }

  /** Q29d: stream-STATIC enrichment join — the dimension-lookup shape
    * (enrich each arriving event with its customer segment). Unlike the
    * stream-stream interval join there is NO state store: each micro-batch
    * plans a fresh broadcast hash join against the static side, so the
    * static table may be any size Spark can broadcast (or, unhinted, any
    * size at all via shuffle — but then the stream shuffles per batch;
    * broadcast is the scale shape for dims). Left join: an event with no
    * dimension row survives with segment 'UNKNOWN' — enrichment must never
    * drop facts. Refresh caveat (measured — StaticRefreshSpec): the
    * static side's EXECUTION reruns per batch, but a parquet frame's
    * file listing is resolved when the frame is BUILT, so an overwrite
    * that replaces the files behind a pre-built dim frame fails the next
    * batch (FAILED_READ_FILE.FILE_NOT_EXIST), it does not refresh. A
    * dim that changes mid-stream must be re-read inside foreachBatch —
    * fresh listing, fresh broadcast, every batch (the spec pins that
    * recipe picking up a between-batches overwrite). */
  def enrichStatic(events: DataFrame, dims: DataFrame): DataFrame =
    events.join(
        broadcast(dims.select(col("c_custkey"), col("c_mktsegment"))),
        col("user_id") === col("c_custkey"), "left")
      .select(col("event_id"), col("ts"), col("user_id"), col("value"),
        coalesce(col("c_mktsegment"), lit("UNKNOWN")).as("segment"))

  /** Q31b: foreachBatch BULK sink — the production counterpart of the
    * per-record REST push (PushJob): each micro-batch lands as one
    * deterministic batch-addressed directory (`batch_id=N`), written with
    * overwrite semantics, so a batch REPLAYED after a crash-and-restart
    * (Structured Streaming's at-least-once foreachBatch contract: the same
    * batchId may be delivered twice) overwrites its own previous attempt
    * instead of duplicating it — batchId-keyed idempotence, the same trick
    * a MERGE/upsert sink uses with a transactional store. Readers dedupe
    * nothing: the directory layout IS the exactly-once projection. */
  def foreachBatchSink(events: DataFrame, outDir: String)
  : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream.foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
      batch.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$outDir/batch_id=$batchId")
      ()
    }

  /** Custom per-key state via flatMapGroupsWithState (the escape hatch when
    * built-in windows can't express the state machine): per-user lifetime
    * counters — events seen, distinct bursts (gap > 10 min starts a new
    * burst), last event time — emitted on every update. State lives in the
    * state store per user key (shuffled on user_id; RocksDB-backed on a
    * real cluster), exactly the shape the reference fakes with its S3
    * scalar state files but per-key and fault-tolerant. */
  final case class UserState(nEvents: Long, nBursts: Long, lastTsMicros: Long)
  final case class UserUpdate(user_id: Long, n_events: Long, n_bursts: Long)

  def userBurstCounts(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.Encoders
    val typed = events.select("user_id", "ts").map { r =>
      (r.getLong(0), r.getTimestamp(1).getTime * 1000L)
    }(Encoders.product[(Long, Long)])
    typed
      .groupByKey(_._1)(Encoders.scalaLong)
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (user: Long, rows: Iterator[(Long, Long)], state: GroupState[UserState]) => {
          val prev = state.getOption.getOrElse(UserState(0L, 0L, Long.MinValue))
          // order within the micro-batch for deterministic burst counting
          val sorted = rows.map(_._2).toSeq.sorted
          var s = prev
          sorted.foreach { ts =>
            val newBurst = s.lastTsMicros == Long.MinValue ||
              ts - s.lastTsMicros > 10L * 60 * 1000000
            s = UserState(s.nEvents + 1, s.nBursts + (if (newBurst) 1 else 0), ts)
          }
          state.update(s)
          Iterator(UserUpdate(user, s.nEvents, s.nBursts))
        })(Encoders.product[UserState], Encoders.product[UserUpdate])
      .toDF()
  }

  /** Q29c: STREAMING near-dup detection over a documents stream — the
    * online form of the q24_lsh_pairs batch candidate generator, for
    * dedup-at-ingest (skip a doc before it ever lands). Each arriving
    * doc's MinHash band keys (identical arithmetic to the batch lane —
    * `Similarity.bandKeysOf` is the ONE definition) probe per-band-key
    * state; a doc sharing ANY band with an earlier doc emits a hit naming
    * the band and the key's first holder. Hits are candidates (same
    * contract as the batch lane: banding over-generates; a downstream
    * verifier confirms) — a doc with no hit is a guaranteed non-dup at
    * banding granularity.
    *
    * Scale shape: the stream shuffles once on band_key; state is ONE long
    * per distinct band key, RocksDB-backed on a real cluster. State is
    * corpus-lifetime BY DESIGN (dedup horizon = forever); bounding it is a
    * policy choice — swap NoTimeout for ProcessingTimeTimeout to expire
    * keys and narrow the horizon. Within one micro-batch, docs are
    * processed in doc_id order so re-runs are deterministic. */
  final case class BandState(firstDoc: Long)
  final case class NearDupHit(doc_id: Long, band_id: Int, dup_of: Long)

  def streamingNearDup(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.Encoders
    val bands = graft.queries.Similarity
      .bandKeysOf(graft.queries.Similarity.shingledFrame(docs))
      .select(col("band_key"), col("doc_id"), col("band_id"))
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2)))(
        Encoders.product[(String, Long, Int)])
    bands
      // state key = (band_id, band_key), matching the batch lane's pairing
      // key exactly — band_key alone would conflate same-key-different-band
      // coincidences the batch lane never pairs
      .groupByKey(r => (r._3, r._1))(Encoders.product[(Int, String)])
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (_: (Int, String), rows: Iterator[(String, Long, Int)],
         state: GroupState[BandState]) => {
          val sorted = rows.toSeq.sortBy(_._2)
          var first = state.getOption.map(_.firstDoc)
          val hits = Seq.newBuilder[NearDupHit]
          sorted.foreach { case (_, doc, bandId) =>
            first match {
              case None          => first = Some(doc)
              case Some(f) if f != doc => hits += NearDupHit(doc, bandId, f)
              case _             => () // same doc re-delivered: no self-hit
            }
          }
          first.foreach(f => state.update(BandState(f)))
          hits.result().iterator
        })(Encoders.product[BandState], Encoders.product[NearDupHit])
      .toDF()
  }

  /** Q45b: STREAMING MERGE — a CDC change stream applied to a keyed
    * parquet target through the SAME applyChanges operator as the batch
    * q45_upsert lane (one merge definition; live apply cannot drift from
    * backfill). Each micro-batch commits a NEW immutable version
    * directory `v=<batchId>` derived from the latest version BELOW its
    * own id: a batch replayed after crash-and-restart (foreachBatch's
    * at-least-once contract) re-reads the same base and overwrites its
    * own version — idempotent by construction, and a partial write from
    * the crashed attempt is simply overwritten, never read as base.
    * Retained versions double as time travel (the q36_asof_snapshot
    * story at the storage layer); [[vacuumVersions]] is the matching
    * retention operator (keep-last floor of 2 so the replay base always
    * survives); a transactional table format's MERGE subsumes the scheme
    * when one is available. Scale shape: identical to batch q45 — one shuffle per side
    * on the key, the change batch broadcastable when small. */
  def applyCdcBatch(batch: DataFrame, targetDir: String, batchId: Long): Unit =
    applyCdcBatchGuarded(batch, targetDir, batchId)

  /** [[applyCdcBatch]] with the [[VersionStore.commitVersion]] test seam
    * exposed — ConcurrentWriterSpec interleaves a rival writer inside the
    * commit critical section to prove conflict detection. */
  def applyCdcBatchGuarded(batch: DataFrame, targetDir: String, batchId: Long,
                           beforeCommitCheck: () => Unit = () => ()): Unit = {
    val spark = batch.sparkSession
    val base = VersionStore.latestBelow(targetDir, batchId)
    val target = base match {
      case Some(v) => spark.read.parquet(s"$targetDir/v=$v")
      case None =>
        import org.apache.spark.sql.types._
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("o_orderkey", LongType),
            StructField("price", DoubleType), StructField("status", StringType))))
    }
    VersionStore.commitVersion(
      graft.queries.Relational3.applyChanges(target, batch),
      targetDir, batchId, base, beforeCommitCheck)
  }

  def listVersions(targetDir: String): Seq[Long] =
    VersionStore.listVersions(targetDir)

  /** Q51 twin: LIVE incident detection. The batch lane
    * (Analytics.incidentWindows) derives its threshold from the full
    * corpus — a two-pass read no stream can do — so the live form takes
    * the threshold as input (computed from history, the alerting
    * convention) and chains TWO stateful stages in one query:
    *   1. hourly tumbling counts, watermarked — a hot hour emits once the
    *      watermark passes it;
    *   2. session_window over the emitted hot hours with a 61-minute gap —
    *      adjacent hot hours chain into one incident, any cold hour
    *      breaks the chain (61 > 60 so exact adjacency chains, a full
    *      missing hour does not).
    * Emits one row per CLOSED incident: the ±30 min margined window
    * (identical arithmetic to the batch islands) + hot-hour count.
    * Chained stateful operators need the stage-1 `window` column kept as
    * the stage-2 event-time (Spark's multiple-stateful-operator support,
    * 3.5+); IncidentStreamSpec pins streamed ≡ batch islands at the same
    * threshold. */
  def incidentDetect(events: DataFrame, threshold: Long): DataFrame =
    events
      .withWatermark("ts", "5 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > threshold)
      // Spark refuses a GLOBAL session aggregation in streaming, and a
      // literal key is folded away by RemoveLiteralFromGroupExpressions
      // (probed — the check fires again). pmod(n, 1) is constant 0 but
      // NOT foldable, so it survives as a real grouping key. Single-key
      // state is fine HERE by construction: stage 2's input is hot HOURS
      // (time-bounded — ~720 rows/month at any event volume), not events.
      .groupBy(pmod(col("n"), lit(1L)).as("g"),
        session_window(col("window"), "61 minutes"))
      .agg(count(lit(1)).as("n_hot_hours"))
      .select(
        // Chained-session event-time fact (measured, spec-pinned): a row
        // produced by the upstream window aggregation carries event time
        // `window.end - 1 microsecond`, so session bounds sit 1 h - 1 µs
        // after the hot hour STARTS the batch arithmetic uses. Rebuild
        // the batch islands' ±30 min margined window exactly:
        //   w_start = first_hot_start - 30 min = session.start - 90 min + 1 µs
        //   w_end   = last_hot_start + 90 min  = session.end - 31 min + 1 µs
        (col("session_window.start") - expr("INTERVAL 90 MINUTES")
          + expr("INTERVAL 1 MICROSECOND")).as("w_start"),
        (col("session_window.end") - expr("INTERVAL 31 MINUTES")
          + expr("INTERVAL 1 MICROSECOND")).as("w_end"),
        col("n_hot_hours"))

  /** Retention for the `v=` version scheme — the vacuum the cdcApply
    * scaladoc promises. Keeps the newest `keepLast` versions, deletes the
    * rest, returns the deleted ids (ascending).
    *
    * `keepLast >= 2` is a CORRECTNESS floor, not a convenience default:
    * foreachBatch's at-least-once contract replays at most the LATEST
    * batch after a crash, and applyCdcBatch re-derives that batch from
    * the newest version BELOW its id — so the latest version's base must
    * survive vacuum or a replay would rebuild from empty and lose the
    * table. (keepLast = 1 would be safe only after the checkpoint commits
    * the last batch, a race this API refuses to encode.) Vacuum itself is
    * crash-tolerant: deletion is oldest-first and a torn run leaves only
    * extra versions, never a missing base — re-running finishes the job.
    *
    * Safety gates (the `GRAFT VACUUM VERSIONS` SQL verb hands any client
    * this recursive delete, so the trust model lives HERE, not in the
    * parser): the target must actually look like a graft version store —
    * carry the committer's `_graft_version_store` marker, or (hand-built
    * legacy stores) hold at least one well-formed `v=N` dir with parquet
    * contents — otherwise the call refuses loudly; a directory with
    * coincidental `v=N` children is never silently destroyed. Deletion
    * runs under the store's commit lock so a vacuum cannot interleave
    * with a writer's recheck+publish. */
  def vacuumVersions(targetDir: String, keepLast: Int): Seq[Long] = {
    require(keepLast >= 2,
      s"keepLast must be >= 2 (latest version + its replay base), got $keepLast")
    if (!new java.io.File(targetDir).isDirectory) return Seq.empty
    val versions = VersionStore.listVersions(targetDir)
    if (versions.isEmpty) return Seq.empty
    if (!VersionStore.looksLikeStore(targetDir))
      throw new IllegalStateException(
        s"vacuumVersions: '$targetDir' does not look like a graft version store " +
          s"(no ${VersionStore.MarkerName} marker and no v=N dir with parquet " +
          "contents) — refusing to delete anything under it")
    VersionStore.withLock(targetDir) {
      val doomed = versions.sorted.dropRight(keepLast)
      doomed.foreach(v => VersionStore.deleteRecursively(s"$targetDir/v=$v"))
      doomed
    }
  }

  def cdcApply(changes: DataFrame, targetDir: String)
  : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    changes.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        applyCdcBatch(batch.toDF(), targetDir, batchId)
    }

  /** Q58b: LIVE snapshot-fingerprint maintenance. The q58 Merkle-bucket
    * fingerprint is a per-bucket commutative monoid — count (+), bit_xor
    * (⊕), 31-bit sum (+) — the law DatasetHashSpec proves as
    * fp(base ∪ δ) = fp(base) ⊕ fp(δ). So an append stream keeps the
    * fingerprint current by folding each micro-batch's 256-row delta into
    * the maintained bucket table: NO base re-scan, ever — the property
    * that makes a 100 TB snapshot's fingerprint maintainable at ingest
    * cost. Crash-safety mirrors [[applyCdcBatch]]'s versioned scheme:
    * each batch derives from the latest version BELOW its id and
    * overwrites its own `v=<batchId>` dir, so foreachBatch's
    * at-least-once replay is idempotent and partial writes are never
    * read as base. `keyHashExpr` is the row-content hash (the q58 h60
    * shape), evaluated batch-side. */
  def applyFingerprintBatch(batch: DataFrame, keyHashExpr: String,
                            targetDir: String, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val delta = batch.select(expr(keyHashExpr).as("rh"))
      .groupBy(expr("rh % 256").as("bucket"))
      .agg(count(lit(1)).as("n"), expr("bit_xor(rh)").as("x"),
        sum(expr("rh % 2147483648")).as("s"))
    val base = VersionStore.latestBelow(targetDir, batchId)
    val merged = base match {
      case Some(v) =>
        spark.read.parquet(s"$targetDir/v=$v").alias("b")
          .join(delta.alias("d"), Seq("bucket"), "full_outer")
          .select(col("bucket"),
            (coalesce(col("b.n"), lit(0L)) + coalesce(col("d.n"), lit(0L))).as("n"),
            coalesce(col("b.x"), lit(0L))
              .bitwiseXOR(coalesce(col("d.x"), lit(0L))).as("x"),
            (coalesce(col("b.s"), lit(0L)) + coalesce(col("d.s"), lit(0L))).as("s"))
      case None => delta
    }
    VersionStore.commitVersion(merged, targetDir, batchId, base)
  }

  def fingerprintMaintain(rows: DataFrame, keyHashExpr: String, targetDir: String)
  : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    rows.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        applyFingerprintBatch(batch.toDF(), keyHashExpr, targetDir, batchId)
    }

  /** Q68b: LIVE calibration-bin maintenance. The q68 reliability table's
    * per-bin statistics (n, pos, sum_y) are a commutative monoid under +,
    * so an event stream keeps model calibration current by folding each
    * micro-batch's bin delta — computed by the SAME shared reduction the
    * batch lane uses (Evaluation.calibrationDelta; one definition, the
    * fingerprint discipline) — into the maintained table. No base re-scan:
    * a 100 TB scoring log's reliability diagram updates at ingest cost.
    * Crash-safety mirrors [[applyFingerprintBatch]]'s versioned scheme
    * (derive from latest version BELOW the batch id, overwrite own
    * `v=<batchId>` dir ⇒ at-least-once replay is idempotent). The derived
    * rate_bp/mean_cents columns are NOT stored — they are not mergeable;
    * [[calibrationRead]] re-derives them from the maintained sums. */
  def applyCalibrationBatch(batch: DataFrame, targetDir: String,
                            batchId: Long): Unit = {
    val spark = batch.sparkSession
    val delta = graft.queries.Evaluation.calibrationDelta(batch)
    val base = VersionStore.latestBelow(targetDir, batchId)
    val merged = base match {
      case Some(v) =>
        spark.read.parquet(s"$targetDir/v=$v").alias("b")
          .join(delta.alias("d"), Seq("bin"), "full_outer")
          .select(col("bin"),
            (coalesce(col("b.n"), lit(0L)) + coalesce(col("d.n"), lit(0L))).as("n"),
            (coalesce(col("b.pos"), lit(0L)) + coalesce(col("d.pos"), lit(0L))).as("pos"),
            (coalesce(col("b.sum_y"), lit(0L)) + coalesce(col("d.sum_y"), lit(0L))).as("sum_y"))
      case None => delta
    }
    VersionStore.commitVersion(merged, targetDir, batchId, base)
  }

  def calibrationMaintain(rows: DataFrame, targetDir: String)
  : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    rows.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        applyCalibrationBatch(batch.toDF(), targetDir, batchId)
    }

  /** Latest maintained calibration table with q68's derived columns. */
  def calibrationRead(spark: org.apache.spark.sql.SparkSession,
                      targetDir: String): DataFrame = {
    val v = listVersions(targetDir).max
    graft.queries.Evaluation.calibrationDerive(
      spark.read.parquet(s"$targetDir/v=$v"))
  }
}
