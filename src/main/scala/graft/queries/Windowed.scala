package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Exact, Lane}
import graft.core.Tables

/** Batch twins of the streaming window queries (SURVEY §2B Q27/Q28):
  * `window()` and `session_window()` evaluate identically in batch mode, so
  * the window-assignment machinery gets full DuckDB-oracle coverage here
  * while the streaming specs (graft.streaming, t1) cover watermarks, state,
  * and output modes.
  *
  * Scale: tumbling/sliding windows are narrow projections + one hash-shuffle
  * agg on (window); session windows shuffle on user_id then sort within —
  * the same plan Structured Streaming uses per micro-batch.
  */
object Windowed {
  // --- Q27 batch: 1-minute tumbling counts --------------------------------
  def q27Tumbling(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 minute"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"), col("n"))
      .orderBy(col("w_start"))

  val q27TumblingSql: String =
    """SELECT time_bucket(INTERVAL '1 minute', ts) AS w_start,
      |       time_bucket(INTERVAL '1 minute', ts) + INTERVAL '1 minute' AS w_end,
      |       CAST(count(*) AS BIGINT) AS n
      |FROM events GROUP BY 1, 2 ORDER BY 1""".stripMargin

  // --- Q28a batch: 5-minute windows sliding by 1 minute -------------------
  // Each event belongs to 5 windows; the oracle enumerates them explicitly.
  def q28Sliding(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "5 minutes", "1 minute"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"), col("n"))
      .orderBy(col("w_start"))

  val q28SlidingSql: String =
    """SELECT w_start, w_start + INTERVAL '5 minutes' AS w_end, CAST(count(*) AS BIGINT) AS n
      |FROM (
      |  SELECT time_bucket(INTERVAL '1 minute', ts) - k * INTERVAL '1 minute' AS w_start
      |  FROM events CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS k))
      |GROUP BY w_start ORDER BY w_start""".stripMargin

  // --- Q28b batch: per-user 30-minute-gap session windows ------------------
  // Oracle is the classic gaps-and-islands rewrite; Spark's session_window
  // end = last event + gap, so s_end matches max(ts) + 30 minutes.
  def q28Session(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"), col("n"))
      .orderBy(col("user_id"), col("s_start"))

  val q28SessionSql: String =
    """SELECT user_id, min(ts) AS s_start, max(ts) + INTERVAL '30 minutes' AS s_end,
      |       CAST(count(*) AS BIGINT) AS n
      |FROM (
      |  SELECT user_id, ts,
      |         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
      |                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
      |  FROM (
      |    SELECT user_id, ts,
      |           CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
      |                     <= INTERVAL '30 minutes' THEN 0 ELSE 1 END AS new_sess
      |    FROM events))
      |GROUP BY user_id, sess_id ORDER BY user_id, s_start""".stripMargin

  // --- Q29b batch: interval-join attribution -------------------------------
  // Batch twin of StreamingJobs.intervalJoin: each click attributed to the
  // views that preceded it within 10 minutes, per user. Plans as an equi-
  // join on user_id with the time bounds as post-join range predicates —
  // shuffle both sides on user_id once, the same state-partitioning the
  // streaming form uses.
  def q29IntervalBatch(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val v = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"), col("ts").as("v_ts"))
    val a = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("a_user"),
        col("ts").as("a_ts"))
    v.join(a, col("user_id") === col("a_user") && col("a_ts") >= col("v_ts") &&
        col("a_ts") <= col("v_ts") + expr("INTERVAL 10 MINUTES"))
      .select(col("user_id"), col("view_id"), col("click_id"), col("v_ts"), col("a_ts"))
      .orderBy(col("view_id"), col("click_id"))
  }

  val q29IntervalBatchSql: String =
    """SELECT v.user_id, v.event_id AS view_id, a.event_id AS click_id,
      |       v.ts AS v_ts, a.ts AS a_ts
      |FROM events v JOIN events a ON v.user_id = a.user_id
      |WHERE v.event_type = 'view' AND a.event_type = 'click'
      |  AND a.ts >= v.ts AND a.ts <= v.ts + INTERVAL '10 minutes'
      |ORDER BY view_id, click_id""".stripMargin

  // --- Q29b' batch: LEFT OUTER interval attribution ------------------------
  // Batch twin of StreamingJobs.intervalJoinOuter: every view keeps a row —
  // matched ones per qualifying click, unmatched ones once with null click
  // columns (the conversion-rate denominator the inner twin can't provide).
  // Null ordering pinned explicitly: Spark defaults nulls FIRST ascending,
  // DuckDB nulls LAST — an unpinned ORDER BY would hash-mismatch on
  // identical data.
  def q29IntervalOuter(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val v = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"), col("ts").as("v_ts"))
    val a = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("a_user"),
        col("ts").as("a_ts"))
    v.join(a, col("user_id") === col("a_user") && col("a_ts") >= col("v_ts") &&
        col("a_ts") <= col("v_ts") + expr("INTERVAL 10 MINUTES"), "left")
      .select(col("user_id"), col("view_id"), col("click_id"), col("v_ts"), col("a_ts"))
      .orderBy(col("view_id"), col("click_id").asc_nulls_first)
  }

  val q29IntervalOuterSql: String =
    """SELECT v.user_id, v.event_id AS view_id, a.event_id AS click_id,
      |       v.ts AS v_ts, a.ts AS a_ts
      |FROM (SELECT * FROM events WHERE event_type = 'view') v
      |LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') a
      |  ON v.user_id = a.user_id
      | AND a.ts >= v.ts AND a.ts <= v.ts + INTERVAL '10 minutes'
      |ORDER BY view_id, click_id NULLS FIRST""".stripMargin

  // --- Q34: conversion FUNNEL — view → click → purchase --------------------
  // Per user: first view, then earliest click at-or-after it, then earliest
  // purchase at-or-after that click; report survivors per stage.
  //
  // r13 bounded rewrite (VERDICT r12 "what's wrong" #1): the r12 fold
  // collected per-user click/purchase timestamp LISTS — an unbounded
  // per-key array buffer; at 100 TB one bot-grade user with 10⁷ events is
  // a straggling, OOM-able agg buffer. Now a LINEAR single-consumer chain
  // of associative conditional-MIN stages (constant per-key state at any
  // scale): each stage LEFT-joins the one-row-per-user previous frame to
  // the next event type and re-aggregates min(when(ts >= prev, ts)),
  // THREADING the earlier stage timestamps through the group key — so no
  // frame is ever consumed twice, nothing recomputes, and no barrier is
  // needed at all (the r13 barrier A/B measured both localCheckpoint and
  // persist costing MORE than they save on this lane; PLANS §Round-13).
  // The three events scans in the plan are the three event types — the
  // semantic floor, same as q91's three pushed-filter scans (adjudicated
  // in ScanAuditSpec's allowlist). No window, no array collection
  // anywhere; RouteConformanceSpec asserts the whole (barrier-free,
  // fully visible) plan stays collect_list-free.
  def q34Funnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("v_ts"))
    val c = v.join(
        ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts").as("c_raw")),
        Seq("user_id"), "left")
      .groupBy(col("user_id"), col("v_ts"))
      .agg(min(when(col("c_raw") >= col("v_ts"), col("c_raw"))).as("c_ts"))
    val p = c.join(
        ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts").as("p_raw")),
        Seq("user_id"), "left")
      .groupBy(col("user_id"), col("v_ts"), col("c_ts"))
      .agg(min(when(col("p_raw") >= col("c_ts"), col("p_raw"))).as("p_ts"))
    // c_ts is null unless a click followed the first view, p_ts null
    // unless a purchase followed that click — stage survivors are the
    // non-null counts, one global agg
    p.agg(count(col("v_ts")).as("nv"), count(col("c_ts")).as("nc"),
        count(col("p_ts")).as("np"))
      .select(expr(
        "stack(3, '1_view', nv, '2_click', nc, '3_purchase', np) AS (stage, n_users)"))
      .orderBy(col("stage"))
  }

  val q34FunnelSql: String =
    """WITH v AS (SELECT user_id, min(ts) AS v_ts FROM events
      |           WHERE event_type = 'view' GROUP BY user_id),
      |fc AS (SELECT v.user_id, min(e.ts) AS c_ts
      |       FROM v JOIN events e ON e.user_id = v.user_id
      |       WHERE e.event_type = 'click' AND e.ts >= v.v_ts GROUP BY v.user_id),
      |fp AS (SELECT fc.user_id, min(e.ts) AS p_ts
      |       FROM fc JOIN events e ON e.user_id = fc.user_id
      |       WHERE e.event_type = 'purchase' AND e.ts >= fc.c_ts GROUP BY fc.user_id)
      |SELECT '1_view' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM v
      |UNION ALL
      |SELECT '2_click', CAST(count(*) AS BIGINT) FROM fc
      |UNION ALL
      |SELECT '3_purchase', CAST(count(*) AS BIGINT) FROM fp
      |ORDER BY stage""".stripMargin

  // --- Q29d batch twin: stream-static enrichment --------------------------
  // Runs the SAME builder the stream uses (StreamingJobs.enrichStatic —
  // stream-static joins are identical plans per micro-batch), then
  // aggregates per segment so the oracle pins the join's row-preservation
  // (left join, no dropped facts) and the broadcast lookup values.
  def q29EnrichBatch(spark: SparkSession, dir: String): DataFrame = {
    val D = org.apache.spark.sql.types.DecimalType(18, 4)
    graft.streaming.StreamingJobs
      .enrichStatic(Tables.events(spark, dir), Tables.customer(spark, dir))
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("value").cast(D)).cast("double").as("total_value"))
      .orderBy(col("segment"))
  }

  val q29EnrichBatchSql: String =
    """SELECT coalesce(c_mktsegment, 'UNKNOWN') AS segment,
      |       CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
      |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
      |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --- Q41: state-store INTROSPECTION — read a checkpoint back as a table --
  // Runs the Q27 tumbling-count stream to completion (AvailableNow) against
  // the dir's events file, then reads the aggregation's STATE back through
  // Spark's `statestore` data source and oracle-checks it. What remains in
  // state after the finalize batch is exactly the set of non-empty windows
  // the watermark has not yet closed — w_end > max(ts) - 5 min (append-mode
  // eviction emits a window once watermark >= w_end) — so the oracle
  // recomputes that set relationally from the same events. This is the ops
  // surface a 100 TB streaming deployment leans on: inspect/debug/audit
  // per-key state offline, validate state after a provider migration (the
  // RocksDB spec proves the jobs run on either provider), size state before
  // a backfill. The read itself is a normal DSv2 batch scan partitioned by
  // the store's shuffle partitions — it scales like any other source and
  // never touches the running query's store instances.
  def q41StateRead(spark: SparkSession, dir: String): DataFrame = {
    // per-(sf dir, process) checkpoint slot — same lifetime reasoning as the
    // q38 interchange slots. A second call in the same process finds every
    // input file already committed in the checkpoint, so the stream
    // finalizes without reprocessing and the state is simply re-read.
    val ckpt = s"${System.getProperty("java.io.tmpdir")}/graft_state_" +
      s"${java.lang.Integer.toHexString(dir.hashCode)}_p${ProcessHandle.current.pid}"
    // The oracle's invariant (state holds EXACTLY the windows with
    // w_end > max(ts) - delay) depends on the final no-data micro-batch
    // running eviction after AvailableNow drains the files. That batch only
    // happens while this conf is true (its default) — pin it so an
    // environment override can't silently leave closed windows in state.
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    val rawSchema = spark.read.parquet(s"$dir/events.parquet").schema
    // file streams want a directory to list: the sf fixture keeps events as
    // a single FILE inside dir (stream dir, glob to the file), while widened
    // rehearsal corpora (ScaleSmoke) write events.parquet as a DIRECTORY of
    // part files (stream that directory itself)
    val raw =
      if (new java.io.File(s"$dir/events.parquet").isDirectory)
        spark.readStream.schema(rawSchema).parquet(s"$dir/events.parquet")
      else
        spark.readStream.schema(rawSchema)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
    val src = graft.core.Tables.normalizeEventTs(raw)
    val q = graft.streaming.StreamingJobs.tumblingCounts(src)
      .writeStream.format("noop").option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.format("statestore").load(ckpt)
      .select(col("key.window.start").as("w_start"),
        col("key.window.end").as("w_end"),
        col("value.count").as("n"))
      .orderBy(col("w_start"))
  }

  val q41StateReadSql: String =
    """SELECT * FROM (
      |  SELECT time_bucket(INTERVAL '1 minute', ts) AS w_start,
      |         time_bucket(INTERVAL '1 minute', ts) + INTERVAL '1 minute' AS w_end,
      |         CAST(count(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2)
      |WHERE w_end > (SELECT max(ts) - INTERVAL '5 minutes' FROM events)
      |ORDER BY w_start""".stripMargin

  val lanes: Seq[Lane] = Seq(
    Lane("q41_state_read", q41StateRead, Exact(q41StateReadSql)),
    Lane("q29_enrich_batch", q29EnrichBatch, Exact(q29EnrichBatchSql)),
    Lane("q34_funnel", q34Funnel, Exact(q34FunnelSql)),
    Lane("q27_tumbling_batch", q27Tumbling, Exact(q27TumblingSql)),
    Lane("q28_sliding_batch", q28Sliding, Exact(q28SlidingSql)),
    Lane("q28_session_batch", q28Session, Exact(q28SessionSql)),
    Lane("q29_interval_batch", q29IntervalBatch, Exact(q29IntervalBatchSql)),
    Lane("q29_interval_outer", q29IntervalOuter, Exact(q29IntervalOuterSql)),
  )

  val defs = lanes.map(l => l.name -> l.build).toMap
}
