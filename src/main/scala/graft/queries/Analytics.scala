package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Exact, Lane, RowsOnly}
import graft.core.Tables

/** Distribution analytics over the events stream: quantile fences and
  * histograms — the profiling pass that precedes outlier filtering in a
  * data pipeline.
  *
  * Determinism notes: quantiles use Spark's exact interpolated `percentile`
  * (≡ DuckDB `quantile_cont`, bit-exact — the proven q20 lane); histogram
  * bucketing uses an explicit floor expression instead of `width_bucket`
  * (absent in DuckDB) — identical arithmetic on both engines.
  */
object Analytics {

  // --- Q34b: IQR-fence outlier counts per event type -----------------------
  // Tukey fences: [q1 − 1.5·IQR, q3 + 1.5·IQR]. Two passes: a grouped
  // exact-percentile agg (one tiny row per type) broadcast back onto the
  // stream, then a grouped count. At 100 TB the fence table is still 5 rows
  // — the events are never re-shuffled for the join. Exact percentile sorts
  // within each group; the at-scale variant swaps in approx_percentile
  // (same plan shape, sketch-mergeable) when 1e12-row groups make exact
  // sorting unreasonable.
  def q34Outliers(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val fences = ev.groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.25)").as("q1"),
        expr("percentile(value, 0.75)").as("q3"))
      .withColumn("lo", col("q1") - (col("q3") - col("q1")) * 1.5)
      .withColumn("hi", col("q3") + (col("q3") - col("q1")) * 1.5)
    ev.join(broadcast(fences), Seq("event_type"))
      .groupBy(col("event_type"), col("q1"), col("q3"), col("lo"), col("hi"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") < col("lo") || col("value") > col("hi"), 1L)
          .otherwise(0L)).as("n_outliers"))
      .withColumn("outlier_share",
        col("n_outliers").cast("double") / col("n").cast("double"))
      .select(col("event_type"), col("q1"), col("q3"), col("lo"), col("hi"),
        col("n"), col("n_outliers"), col("outlier_share"))
      .orderBy(col("event_type"))
  }

  val q34OutliersSql: String =
    """WITH f AS (
      |  SELECT event_type, quantile_cont(value, 0.25) AS q1,
      |         quantile_cont(value, 0.75) AS q3
      |  FROM events GROUP BY event_type),
      |fx AS (SELECT event_type, q1, q3,
      |              q1 - (q3 - q1) * 1.5 AS lo, q3 + (q3 - q1) * 1.5 AS hi FROM f)
      |SELECT e.event_type, fx.q1, fx.q3, fx.lo, fx.hi,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(CASE WHEN e.value < fx.lo OR e.value > fx.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
      |       CAST(sum(CASE WHEN e.value < fx.lo OR e.value > fx.hi THEN 1 ELSE 0 END) AS DOUBLE)
      |         / CAST(count(*) AS DOUBLE) AS outlier_share
      |FROM events e JOIN fx USING (event_type)
      |GROUP BY e.event_type, fx.q1, fx.q3, fx.lo, fx.hi
      |ORDER BY e.event_type""".stripMargin

  // --- Q34c: 20-bucket histogram of `value` per event type -----------------
  // Global [min, max] from one tiny agg broadcast back; bucket =
  // clamp(floor((v − lo) / (hi − lo) · 20), 0, 19) — floor is IEEE-pinned
  // (round() is not, cross-engine). One narrow pass + one hash agg.
  def q34Histogram(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val bounds = ev.agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
    // hi = lo (degenerate distribution) would make the division throw under
    // ANSI; every value then belongs in bucket 0 on both engines
    ev.crossJoin(broadcast(bounds))
      .withColumn("bucket",
        when(col("hi") === col("lo"), lit(0L)).otherwise(
          least(greatest(floor((col("value") - col("lo")) / (col("hi") - col("lo")) * 20)
            .cast("long"), lit(0L)), lit(19L))))
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("event_type"), col("bucket"))
  }

  val q34HistogramSql: String =
    """WITH b AS (SELECT min(value) AS lo, max(value) AS hi FROM events)
      |SELECT event_type,
      |       CASE WHEN hi = lo THEN CAST(0 AS BIGINT)
      |            ELSE least(greatest(CAST(floor((value - lo) / (hi - lo) * 20) AS BIGINT), 0), 19)
      |       END AS bucket,
      |       CAST(count(*) AS BIGINT) AS n
      |FROM events CROSS JOIN b
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --- Q34d: weekly retention cohorts --------------------------------------
  // cohort = ISO week of a user's first event; a cell (cohort, offset) counts
  // users from that cohort active `offset` weeks later. Both engines
  // truncate weeks to ISO Monday, and because both sides are week-truncated
  // the day difference is an exact multiple of 7 — the /7 stays
  // integer-valued, so no floor/round cross-engine hazard. Shapes: one
  // distinct (user, week) projection, a min-agg, a user_id join, a count
  // agg — user_id partitioning reused across all of them.
  def q34Retention(spark: SparkSession, dir: String): DataFrame = {
    val uw = Tables.events(spark, dir)
      .select(col("user_id"), date_trunc("week", col("ts")).as("w"))
      .distinct()
    val cohort = uw.groupBy(col("user_id")).agg(min(col("w")).as("cohort_week"))
    uw.join(cohort, "user_id")
      .withColumn("week_offset",
        (datediff(col("w"), col("cohort_week")) / 7).cast("long"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  val q34RetentionSql: String =
    """WITH uw AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM events),
      |c AS (SELECT user_id, min(w) AS cohort_week FROM uw GROUP BY user_id)
      |SELECT c.cohort_week,
      |       CAST(date_diff('day', c.cohort_week, uw.w) / 7 AS BIGINT) AS week_offset,
      |       CAST(count(*) AS BIGINT) AS n_users
      |FROM uw JOIN c USING (user_id)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --- Q34e: event-transition mining (Markov counts) -----------------------
  // Per user, events ordered by (ts, event_id); each adjacent pair is a
  // from→to transition; global counts + shares. One shuffle on user_id for
  // the lead() window, one hash agg on the 25-cell transition matrix, a
  // broadcast single-row total for the share. The tie-break on event_id
  // makes the sequence (hence the matrix) deterministic on both engines.
  def q34Transitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val trans = Tables.events(spark, dir)
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val total = trans.agg(sum(col("n")).as("total_n"))
    trans.crossJoin(broadcast(total))
      .select(col("from_type"), col("to_type"), col("n"),
        (col("n").cast("double") / col("total_n").cast("double")).as("share"))
      .orderBy(col("from_type"), col("to_type"))
  }

  val q34TransitionsSql: String =
    """WITH t AS (
      |  SELECT event_type AS from_type,
      |         lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
      |  FROM events),
      |g AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
      |      FROM t WHERE to_type IS NOT NULL GROUP BY 1, 2),
      |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total_n FROM g)
      |SELECT from_type, to_type, n,
      |       CAST(n AS DOUBLE) / CAST(total_n AS DOUBLE) AS share
      |FROM g CROSS JOIN tot ORDER BY from_type, to_type""".stripMargin

  // --- Q34f: inter-arrival gap profile per event type ----------------------
  // Per type: median and p95 of the gap (seconds) between consecutive
  // events of that type, plus rate (events/hour over the observed span).
  // lag() per (event_type) ordered by (ts, event_id) — deterministic; gaps
  // in whole microseconds, so the exact interpolated percentile interpolates
  // between integers (bit-exact cross-engine, the q20 lane).
  def q34Gaps(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("gap_us",
        (unix_micros(col("ts")) - unix_micros(col("prev_ts"))))
      .groupBy(col("event_type"))
      .agg(
        count(col("gap_us")).as("n_gaps"),
        expr("percentile(gap_us, 0.5)").as("p50_gap_us"),
        expr("percentile(gap_us, 0.95)").as("p95_gap_us"),
        // nullif: a single-event (or single-instant) type has span 0 —
        // ANSI mode would throw DIVIDE_BY_ZERO; null matches DuckDB
        expr("CAST(count(gap_us) AS DOUBLE) * 3.6e9 / CAST(nullif(" +
          "max(unix_micros(ts)) - min(unix_micros(ts)), 0L) AS DOUBLE)")
          .as("events_per_hour"))
      .orderBy(col("event_type"))
  }

  val q34GapsSql: String =
    """WITH g AS (
      |  SELECT event_type, ts,
      |         epoch_us(ts) - epoch_us(lag(ts, 1) OVER (PARTITION BY event_type
      |                                                  ORDER BY ts, event_id)) AS gap_us
      |  FROM events)
      |SELECT event_type,
      |       CAST(count(gap_us) AS BIGINT) AS n_gaps,
      |       quantile_cont(gap_us, 0.5) AS p50_gap_us,
      |       quantile_cont(gap_us, 0.95) AS p95_gap_us,
      |       CAST(count(gap_us) AS DOUBLE) * 3.6e9
      |         / CAST(nullif(max(epoch_us(ts)) - min(epoch_us(ts)), 0) AS DOUBLE) AS events_per_hour
      |FROM g GROUP BY event_type ORDER BY event_type""".stripMargin

  // --- Q36: SCD2 validity intervals ----------------------------------------
  // The warehouse history-build downstream of the reference's extracts:
  // each user's event sequence becomes versioned rows with
  // [valid_from, valid_to) intervals — valid_to = next event's ts, open
  // (NULL) for the current row. Deterministic ordering tie-break on
  // event_id. Scale shape: ONE shuffle on user_id; version, valid_to and
  // is_current all ride the same Window partitioning (single WindowExec —
  // the classic SCD2 build shuffles each event exactly once at any scale).
  /** The SCD2 interval frame (no output ordering) — shared by q36_scd2 and
    * the q36_asof_snapshot time-travel probe. */
  private def scd2Frame(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("valid_to", lead(col("ts"), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
      .select(col("user_id"), col("version"), col("event_id"),
        col("ts").as("valid_from"), col("valid_to"), col("event_type"),
        col("value"), col("is_current"))
  }

  def q36Scd2(spark: SparkSession, dir: String): DataFrame =
    scd2Frame(spark, dir).orderBy(col("user_id"), col("version"))

  // --- Q36c: AS-OF snapshot (time travel) ----------------------------------
  // Reconstruct per-key state as of T from the SCD2 intervals: the row
  // whose [valid_from, valid_to) contains T. The ORACLE takes the other
  // road — latest event per user restricted to ts <= T on the RAW table —
  // so the hash-equality is a cross-derivation proof that interval
  // reconstruction ≡ direct as-of semantics (including the version number:
  // the interval row's version equals the restricted per-user row count).
  // Scale: the interval filter is a narrow scan over the SCD2 frame; at
  // 100 TB a time-travel read serves from the (partitioned) SCD2 table
  // WITHOUT touching the raw history — exactly why warehouses keep SCD2.
  def q36AsofSnapshot(spark: SparkSession, dir: String): DataFrame = {
    val t = lit("2024-01-16 00:00:00").cast("timestamp")
    scd2Frame(spark, dir)
      .filter(col("valid_from") <= t &&
        (col("valid_to").isNull || col("valid_to") > t))
      .select(col("user_id"), col("version"), col("event_id"),
        col("valid_from"), col("event_type"), col("value"))
      .orderBy(col("user_id"))
  }

  val q36AsofSnapshotSql: String =
    """WITH e AS (SELECT * FROM events
      |           WHERE ts <= TIMESTAMP '2024-01-16 00:00:00'),
      |r AS (SELECT user_id, event_id, ts, event_type, value,
      |             row_number() OVER (PARTITION BY user_id
      |                                ORDER BY ts DESC, event_id DESC) AS rn,
      |             CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS version
      |      FROM e)
      |SELECT user_id, version, event_id, ts AS valid_from, event_type, value
      |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin

  val q36Scd2Sql: String =
    """SELECT user_id, version, event_id, valid_from, valid_to, event_type,
      |       value, is_current FROM (
      |  SELECT user_id, event_id, ts AS valid_from, event_type, value,
      |         CAST(row_number() OVER w AS BIGINT) AS version,
      |         lead(ts) OVER w AS valid_to,
      |         lead(ts) OVER w IS NULL AS is_current
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |ORDER BY user_id, version""".stripMargin

  // --- Q43: time-series GAP-FILL / resampling ------------------------------
  // The missing-interval staple: hourly activity per event type over each
  // type's observed span, with silent hours materialized as ZERO rows and a
  // running cumulative — the shape monitoring, rate-limiting and trend
  // models consume (a time series with holes is not a time series). Three
  // steps, all scale-bounded: (1) hash-agg to (type, hour) counts — the
  // only pass over the events, one shuffle; (2) per-type min/max hour →
  // `sequence()` explode builds the dense grid, whose size is types ×
  // hours — a function of TIME SPAN, never of event volume, so the grid
  // join stays trivial at 100 TB; (3) left join + zero-fill + one window
  // cumsum over the small grid. A per-USER gap-fill swaps the grouping key
  // and range-partitions the window by (user, time) — same plan family,
  // stated here because the per-key grid then grows with keys.
  def q43Gapfill(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val hourly = ev
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"))
    // span derived FROM the hourly agg (min/max of its hours ≡ truncated
    // min/max ts) — matches the oracle's derivation, and Catalyst's
    // RemoveRedundantAggregates then collapses agg-over-agg into a direct
    // per-type min/max over the pruned (ts, type) scan: the span branch
    // never shuffles on (type, h) at all (plan-checked, PLANS.md r8)
    val grid = hourly.groupBy(col("event_type"))
      .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      .select(col("event_type"),
        explode(expr("sequence(h0, h1, interval 1 hour)")).as("h"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
    grid.join(hourly, Seq("event_type", "h"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .withColumn("cum", sum(col("n")).over(w))
      .select(col("event_type"), col("h"), col("n"), col("cum"))
      .orderBy(col("event_type"), col("h"))
  }

  val q43GapfillSql: String =
    """WITH hourly AS (
      |  SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS h,
      |         count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |spans AS (SELECT event_type, min(h) AS h0, max(h) AS h1
      |          FROM hourly GROUP BY 1),
      |grid AS (SELECT event_type,
      |                unnest(generate_series(h0, h1, INTERVAL '1 hour')) AS h
      |         FROM spans)
      |SELECT g.event_type, g.h, CAST(coalesce(n, 0) AS BIGINT) AS n,
      |       CAST(sum(coalesce(n, 0)) OVER (PARTITION BY g.event_type
      |                                      ORDER BY g.h) AS BIGINT) AS cum
      |FROM grid g LEFT JOIN hourly USING (event_type, h)
      |ORDER BY 1, 2""".stripMargin

  // --- Q43b: forward fill (LOCF) over the gap-filled grid ------------------
  // The other resampling staple: a VALUE column carried across silent
  // hours — last observation carried forward, the sensor/finance default.
  // Per (type, hour) the observed value is the hour's LAST event's value
  // (max_by on the deterministic (ts, event_id) order); silent hours then
  // inherit it via `last(_, ignoreNulls)` over the time-ordered window —
  // same frame the cumsum rides, so the fill costs no extra shuffle.
  // Hours before a type's first observation stay NULL (nothing to carry).
  // DuckDB's IGNORE NULLS last_value is the exact relational twin.
  def q43Locf(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val hourly = ev
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(expr("max_by(value, struct(ts, event_id))").as("hv"))
    // span from the hourly agg — same collapse reasoning as q43Gapfill
    val grid = hourly.groupBy(col("event_type"))
      .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      .select(col("event_type"),
        explode(expr("sequence(h0, h1, interval 1 hour)")).as("h"))
    // ROWS frame pinned explicitly: the DuckDB oracle says ROWS UNBOUNDED
    // PRECEDING, and Spark's default frame for last() is RANGE — they agree
    // only because grid hours are unique per partition (sequence() built
    // them), so make the parity explicit instead of structural.
    val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(hourly, Seq("event_type", "h"), "left")
      .withColumn("filled", last(col("hv"), ignoreNulls = true).over(w))
      .withColumn("is_observed", col("hv").isNotNull)
      .select(col("event_type"), col("h"), col("filled"), col("is_observed"))
      .orderBy(col("event_type"), col("h"))
  }

  val q43LocfSql: String =
    """WITH hourly AS (
      |  SELECT event_type, h, value AS hv FROM (
      |    SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS h, value,
      |           row_number() OVER (PARTITION BY event_type,
      |                                           time_bucket(INTERVAL '1 hour', ts)
      |                              ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM events) WHERE rn = 1),
      |spans AS (SELECT event_type, min(h) AS h0, max(h) AS h1
      |          FROM hourly GROUP BY 1),
      |grid AS (SELECT event_type,
      |                unnest(generate_series(h0, h1, INTERVAL '1 hour')) AS h
      |         FROM spans)
      |SELECT g.event_type, g.h,
      |       last_value(hv IGNORE NULLS) OVER (PARTITION BY g.event_type
      |         ORDER BY g.h ROWS UNBOUNDED PRECEDING) AS filled,
      |       hv IS NOT NULL AS is_observed
      |FROM grid g LEFT JOIN hourly USING (event_type, h)
      |ORDER BY 1, 2""".stripMargin

  // --- Q43d: exponential smoothing (EWMA) over the gap-filled grid ---------
  // The trend-model staple: y_i = α·x_i + (1−α)·y_{i−1} (y_1 = x_1) per
  // event type over the zero-filled hourly counts. EWMA is an inherently
  // SEQUENTIAL per-series recurrence, and this lane takes the honest
  // 100 TB position: run it on the DOWNSAMPLED grid — whose length is a
  // function of the TIME SPAN, never of event volume (the q43_gapfill
  // argument) — with parallelism ACROSS series. One events shuffle builds
  // the hourly agg; the recurrence itself runs inside an `aggregate`
  // higher-order fold over each series' sort_array'd (hour, n) structs —
  // per-key memory = grid length, time-bounded. (A volume-bound sequence
  // would need the two-level affine-scan decomposition — each segment
  // reduces to y ↦ A·y + B and carries compose — but composing the affine
  // maps REASSOCIATES the float ops, so that variant trades bit-for-bit
  // sequential equality for parallel depth; this lane keeps the exact
  // sequential chain, which is what lets a recursive-CTE oracle replay it
  // bit-identically.) α = 0.25: exactly representable in binary, so both
  // engines fold the literal identical chain 0.25·x + 0.75·y — hash-exact
  // with no rounding shim.
  def q43Ewma(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val hourly = ev
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"))
    val grid = hourly.groupBy(col("event_type"))
      .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      .select(col("event_type"),
        explode(expr("sequence(h0, h1, interval 1 hour)")).as("h"))
    val series = grid.join(hourly, Seq("event_type", "h"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .groupBy(col("event_type"))
      .agg(sort_array(collect_list(struct(col("h"), col("n")))).as("vs"))
    series
      .withColumn("ys", expr(
        """aggregate(vs, CAST(array() AS ARRAY<DOUBLE>),
          |  (acc, v) -> IF(size(acc) = 0,
          |    array(CAST(v.n AS DOUBLE)),
          |    concat(acc, array(0.25D * CAST(v.n AS DOUBLE)
          |                      + 0.75D * element_at(acc, -1)))))""".stripMargin))
      .select(col("event_type"), explode(arrays_zip(col("vs"), col("ys"))).as("z"))
      .select(col("event_type"), col("z.vs.h").as("h"),
        col("z.vs.n").as("n"), col("z.ys").as("ewma"))
      .orderBy(col("event_type"), col("h"))
  }

  /** Oracle: the recursive CTE replays the identical sequential chain —
    * rn joins advance one grid row per recursion step. */
  val q43EwmaSql: String =
    """WITH RECURSIVE hourly AS (
      |  SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS h, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |spans AS (SELECT event_type, min(h) AS h0, max(h) AS h1 FROM hourly GROUP BY 1),
      |grid0 AS (SELECT event_type,
      |                 unnest(generate_series(h0, h1, INTERVAL '1 hour')) AS h
      |          FROM spans),
      |grid AS (
      |  SELECT g.event_type, g.h, CAST(coalesce(n, 0) AS BIGINT) AS n,
      |         row_number() OVER (PARTITION BY g.event_type ORDER BY g.h) AS rn
      |  FROM grid0 g LEFT JOIN hourly USING (event_type, h)),
      |r AS (
      |  SELECT event_type, h, n, rn, CAST(n AS DOUBLE) AS ewma
      |  FROM grid WHERE rn = 1
      |  UNION ALL
      |  SELECT g.event_type, g.h, g.n, g.rn, 0.25 * CAST(g.n AS DOUBLE) + 0.75 * r.ewma
      |  FROM grid g JOIN r ON g.event_type = r.event_type AND g.rn = r.rn + 1)
      |SELECT event_type, h, n, ewma FROM r ORDER BY 1, 2""".stripMargin

  // --- Q34g: BATCH sessionization via session_window -----------------------
  // The batch twin of the streaming session job (StreamingJobs.scala:42):
  // the SAME built-in `session_window` operator, so batch backfill and the
  // live stream share one session definition — re-sessionizing history never
  // drifts from what the stream computed. Gap = 4 h (the events table's
  // inter-arrival p25–p75 straddles it, so sessions genuinely merge: ~6.9 k
  // sessions / 10 k events at sf0.01, max 7 events). Semantics pinned by
  // probe: windows ARE merged when the next event lands exactly one gap
  // after the previous (merge on `start <= end`), so the oracle breaks on
  // STRICTLY-greater gaps. Duration is integer epoch-micros end − start —
  // no float, no date_diff boundary-counting hazard.
  // Scale: one shuffle on user_id; per-key in-memory sort inside the
  // session agg — no window function, no second shuffle. At 100 TB this is
  // the canonical "sessionize a day of clickstream" shape; key count =
  // users, so AQE handles the power-user skew (bounded by events/user/day).
  def q34Sessionize(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    ev.groupBy(col("user_id"), session_window(col("ts"), "4 hours").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("sw.start").as("s_start"), col("sw.end").as("s_end"),
        col("n_events"),
        (unix_micros(col("sw.end")) - unix_micros(col("sw.start"))).as("dur_us"))
      .orderBy(col("user_id"), col("s_start"))
  }

  val q34SessionizeSql: String =
    """WITH x AS (
      |  SELECT user_id, ts, event_id,
      |         CASE WHEN lag(ts) OVER w IS NULL
      |                OR ts - lag(ts) OVER w > INTERVAL '4 hours'
      |              THEN 1 ELSE 0 END AS brk
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (SELECT user_id, ts,
      |             sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                            ROWS UNBOUNDED PRECEDING) AS sid
      |      FROM x)
      |SELECT user_id, min(ts) AS s_start,
      |       max(ts) + INTERVAL '4 hours' AS s_end,
      |       CAST(count(*) AS BIGINT) AS n_events,
      |       epoch_us(max(ts) + INTERVAL '4 hours') - epoch_us(min(ts)) AS dur_us
      |FROM s GROUP BY user_id, sid ORDER BY user_id, s_start""".stripMargin

  // --- Q43c: hourly OHLC bars (time-series downsampling) -------------------
  // Open/high/low/close per (event_type, hour): the financial-bar staple of
  // time-series resampling. ONE aggregation, NOT two row_number windows +
  // self-joins (no window shuffle, partial-aggregates map-side). Open and
  // close come from the custom `argmin2`/`argmax2` aggregate
  // (functions.ArgExtremum): Spark's own min_by(v, struct(ts, event_id))
  // is the same semantics, but the struct ordering column is immutable in
  // the agg buffer and demotes the WHOLE aggregate to SortAggregate
  // (plan-checked; a packed-string ordinal demotes identically — varlen
  // buffers are immutable too, the same trap q37_profile dodges).
  // ArgExtremum buffers four primitives, so the plan stays HashAggregate
  // end to end (plan-asserted in ArgExtremumSpec). The (epoch-micros,
  // event_id) ordinal is unique, so ties cannot exist; values are PICKED,
  // never summed — bit-exact vs the row_number-CTE oracle (DuckDB's
  // arg_min lacks a composite tie-break). At 100 TB: (type, hour) keys
  // grow with time not volume; per-key state is six scalars — the agg
  // never spills.
  private[graft] def ohlcAggs: Seq[org.apache.spark.sql.Column] = Seq(
    expr("argmin2(unix_micros(ts), event_id, value)").as("open"),
    max(col("value")).as("high"),
    min(col("value")).as("low"),
    expr("argmax2(unix_micros(ts), event_id, value)").as("close"),
    count(lit(1)).as("n"))

  def q43Ohlc(spark: SparkSession, dir: String): DataFrame = {
    val aggs = ohlcAggs
    Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(aggs.head, aggs.tail: _*)
      .orderBy(col("event_type"), col("h"))
  }

  val q43OhlcSql: String =
    """WITH b AS (
      |  SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS h,
      |         ts, event_id, value
      |  FROM events),
      |o AS (SELECT event_type, h, value AS open FROM (
      |        SELECT *, row_number() OVER (PARTITION BY event_type, h
      |                                     ORDER BY ts, event_id) AS rn FROM b)
      |      WHERE rn = 1),
      |c AS (SELECT event_type, h, value AS close FROM (
      |        SELECT *, row_number() OVER (PARTITION BY event_type, h
      |                                     ORDER BY ts DESC, event_id DESC) AS rn FROM b)
      |      WHERE rn = 1),
      |a AS (SELECT event_type, h, max(value) AS high, min(value) AS low,
      |             CAST(count(*) AS BIGINT) AS n
      |      FROM b GROUP BY 1, 2)
      |SELECT a.event_type, a.h, o.open, a.high, a.low, c.close, a.n
      |FROM a JOIN o USING (event_type, h) JOIN c USING (event_type, h)
      |ORDER BY a.event_type, a.h""".stripMargin

  // --- Q48: incremental aggregate maintenance (partial-agg merge) ----------
  // The materialized-view staple: a daily rollup is kept as MERGEABLE
  // partial aggregates (n, Σv, min, max — every one a commutative monoid),
  // and each refresh folds only the NEW time slice in, never rescanning
  // history. The lane realizes one refresh cycle: `state` = partials over
  // events before the cutoff, `delta` = partials over the tail slice, and
  // the published view = merge(state ∪ delta) finalized (avg derived at
  // read time from Σv/n — never stored, so it stays mergeable). Both
  // branches read through `Tables.eventsRanged`, so each bound reaches the
  // parquet scan (PushedFilters): at 100 TB the delta pass touches only
  // the new day's partitions — refresh cost scales with the DELTA plus the
  // aggregate's cardinality, not with history. Σv is an exact
  // DECIMAL(12,4) sum (the q44 pattern): partial sums are associative and
  // bit-exact under ANY slice topology, which is what licenses the oracle
  // to recompute from scratch — merge(partials over any split) ≡ full
  // aggregate, the identity IncrAggSpec property-tests over adversarial
  // splits (including re-slicing the delta into per-day micro-batches).
  // min/max of double are PICKED, never summed. The avg division is the
  // identical expression tree in both engines.
  private val incrCutoff = "2024-01-25 00:00:00"

  /** Per-(type, day) mergeable partial state — the stored MV rows. */
  // `day` is date_trunc (timestamp), not a DATE cast: the repo convention
  // (q34_retention, q43_ohlc) — DuckDB's DATE lands as datetime64 in the
  // driver's pandas frame and would dtype-mismatch a true date column.
  private[graft] def dailyPartials(ev: DataFrame): DataFrame =
    ev.groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(value AS DECIMAL(12,4))")).as("sv"),
        min(col("value")).as("mn"), max(col("value")).as("mx"))

  /** Fold any collection of partial states down to one row per key —
    * the refresh operator. Associative/commutative by construction. */
  private[graft] def mergePartials(parts: DataFrame): DataFrame =
    parts.groupBy(col("event_type"), col("day"))
      .agg(sum(col("n")).as("n"), sum(col("sv")).as("sv"),
        min(col("mn")).as("mn"), max(col("mx")).as("mx"))

  /** Finalize partials into the published view (shared by lane and spec). */
  private[graft] def finalizeView(parts: DataFrame): DataFrame =
    parts
      .select(col("event_type"), col("day"),
        col("n").cast("long").as("n"),
        col("sv").cast("double").as("sum_v"),
        (col("sv").cast("double") / col("n").cast("double")).as("avg_v"),
        col("mn").as("min_v"), col("mx").as("max_v"))
      .orderBy(col("event_type"), col("day"))

  def q48IncrAgg(spark: SparkSession, dir: String): DataFrame = {
    val (lo, hi) = ("2000-01-01 00:00:00", "2100-01-01 00:00:00")
    val state = dailyPartials(Tables.eventsRanged(spark, dir, lo, incrCutoff))
    val delta = dailyPartials(Tables.eventsRanged(spark, dir, incrCutoff, hi))
    finalizeView(mergePartials(state.unionByName(delta)))
  }

  // --- Q51: KEYLESS range join via graft.core.RangeJoin — the inequality
  // join Spark would plan as BroadcastNestedLoopJoin (quadratic, broadcast-
  // bound) rewritten as bin-explode + shuffled equi-join + residual filter.
  // Scenario: incident attribution. Hot hours (count > 1.25× the overall
  // hourly mean — data-derived, sf-invariant) merge into variable-length
  // incident islands (gaps-and-islands), extended ±30 min for ramp-up /
  // cooldown — the margin makes membership genuinely range-based, NOT
  // derivable from the hourly rollup. Every event (no key!) is then
  // attributed to the incident window containing it and each incident
  // reports its traffic. Margins never overlap (islands are ≥ 1 cold hour
  // apart, half-open bounds), so attribution is unique. All arithmetic is
  // exact int64 micros (unix_micros, not float epoch seconds); the global
  // island window orders ≤ #hours rows — the TIME-bounded dimension
  // (q43_gapfill argument), not a volume-bound one.
  /** The q51 incident-window builder (start_us, end_us), shared with the
    * q53 overlap lane so the two range-join lanes attribute against the
    * SAME windows. */
  private[queries] def incidentWindows(spark: SparkSession, dir: String): DataFrame = {
    // barriers (r12 ScanAudit): hourly feeds the threshold agg AND the
    // filter (2 events scans unbarriered), and both range-join lanes use
    // the returned windows frame twice (horizon + the join itself) — both
    // frames are hour-grain tiny at any SF
    val hourly = Tables.events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    // scalar threshold as a broadcast one-row frame (repo convention);
    // division spelled sum/count in DOUBLE so DuckDB replays it bit-exact
    val thr = hourly.agg(
      (lit(1.25) * (sum(col("n")).cast("double") / count(lit(1)).cast("double")))
        .as("thr"))
    hourly.crossJoin(broadcast(thr))
      .filter(col("n") > col("thr"))
      .withColumn("grp",
        (unix_micros(col("hr")) / lit(3600000000L)).cast("long")
          - row_number().over(Window.orderBy(col("hr"))))
      .groupBy(col("grp"))
      .agg(min(col("hr")).as("island_start"), max(col("hr")).as("island_end_hr"))
      .select(
        (unix_micros(col("island_start")) - lit(1800000000L)).as("start_us"),
        (unix_micros(col("island_end_hr")) + lit(3600000000L) + lit(1800000000L))
          .as("end_us"))
      .localCheckpoint(true)
  }

  def q51RangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val islands = incidentWindows(spark, dir)
    val points = ev.select(
      unix_micros(col("ts")).as("pt_us"), col("user_id"), col("value"))
    graft.core.RangeJoin
      .pointInInterval(points, "pt_us", islands, "start_us", "end_us",
        binWidth = 3600000000L)
      .groupBy(col("start_us"), col("end_us"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(expr("CAST(value AS DECIMAL(12,4))")).cast("double").as("sum_v"))
      .select(
        timestamp_micros(col("start_us")).as("w_start"),
        timestamp_micros(col("end_us")).as("w_end"),
        col("n_events"), col("n_users"), col("sum_v"))
      .orderBy(col("w_start"))
  }

  /** Oracle = the same derivation with the range join spelled as the raw
    * inequality join DuckDB executes natively (IEJoin). */
  /** The DuckDB twin of [[incidentWindows]] as a CTE chain ending in
    * `isl(ws, we)` — shared by the q51 and q53 oracles (one definition,
    * no drift between the two range-join lanes). */
  private[queries] val islandsDuck: String =
    """hourly AS (
      |  SELECT date_trunc('hour', ts) AS hr, count(*) AS n FROM events GROUP BY 1),
      |thr AS (
      |  SELECT 1.25 * (CAST(sum(n) AS DOUBLE) / CAST(count(*) AS DOUBLE)) AS t
      |  FROM hourly),
      |hot AS (
      |  SELECT hr, epoch_us(hr) // 3600000000 - row_number() OVER (ORDER BY hr) AS grp
      |  FROM hourly, thr WHERE n > t),
      |isl AS (
      |  SELECT min(hr) - INTERVAL 30 MINUTE AS ws,
      |         max(hr) + INTERVAL 90 MINUTE AS we
      |  FROM hot GROUP BY grp)""".stripMargin

  val q51RangeJoinSql: String =
    s"""WITH $islandsDuck
      |SELECT isl.ws AS w_start, isl.we AS w_end,
      |       count(*) AS n_events,
      |       count(DISTINCT e.user_id) AS n_users,
      |       CAST(sum(CAST(e.value AS DECIMAL(12,4))) AS DOUBLE) AS sum_v
      |FROM events e JOIN isl ON e.ts >= isl.ws AND e.ts < isl.we
      |GROUP BY 1, 2 ORDER BY 1""".stripMargin

  // --- Q53: interval-OVERLAP range join (RangeJoin.intervalOverlap) — the
  // two-sided form of q51: which SCD2 user-state versions (q36's validity
  // intervals) were LIVE at any point during each incident window. Both
  // sides are interval sets with no equi key; the ownership-bin trick
  // (join only in the bin of greatest(starts)) keeps every overlapping
  // pair exactly once with no dedup. Open-ended current versions
  // (valid_to IS NULL) are CLAMPED to the windows' horizon before binning
  // (the operator's documented requirement — an open end would explode to
  // every bin); clamping to max(window end) provably never changes an
  // overlap verdict against those windows. ---------------------------------
  def q53OverlapJoin(spark: SparkSession, dir: String): DataFrame = {
    val windows = incidentWindows(spark, dir)
    val horizon = windows.agg(max(col("end_us")).as("h"))
    val validity = scd2Frame(spark, dir)
      .select(col("user_id"), col("version"),
        unix_micros(col("valid_from")).as("v_from"), col("valid_to"))
      .crossJoin(broadcast(horizon))
      .select(col("user_id"), col("version"), col("v_from"),
        least(coalesce(unix_micros(col("valid_to")), col("h")), col("h")).as("v_to"))
    graft.core.RangeJoin
      .intervalOverlap(validity, "v_from", "v_to",
        windows, "start_us", "end_us", binWidth = 3600000000L)
      .groupBy(col("start_us"), col("end_us"))
      .agg(count(lit(1)).as("n_versions"),
        countDistinct(col("user_id")).as("n_users"))
      .select(
        timestamp_micros(col("start_us")).as("w_start"),
        timestamp_micros(col("end_us")).as("w_end"),
        col("n_versions"), col("n_users"))
      .orderBy(col("w_start"))
  }

  /** Oracle: the same windows (shared islandsDuck CTE) overlap-joined
    * against the same SCD2 validity intervals via DuckDB's native
    * inequality join, with the identical horizon clamp. */
  val q53OverlapJoinSql: String =
    s"""WITH $islandsDuck,
      |scd AS (
      |  SELECT user_id, ts AS valid_from, lead(ts) OVER w AS valid_to
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |horizon AS (SELECT max(we) AS h FROM isl),
      |iv AS (
      |  SELECT user_id, valid_from,
      |         least(coalesce(valid_to, h), h) AS valid_to2
      |  FROM scd, horizon)
      |SELECT isl.ws AS w_start, isl.we AS w_end,
      |       CAST(count(*) AS BIGINT) AS n_versions,
      |       CAST(count(DISTINCT iv.user_id) AS BIGINT) AS n_users
      |FROM iv JOIN isl
      |  ON iv.valid_from < isl.we AND isl.ws < iv.valid_to2
      |     AND iv.valid_from < iv.valid_to2
      |GROUP BY 1, 2 ORDER BY 1""".stripMargin

  /** Oracle = the from-scratch recompute the incremental path must equal. */
  val q48IncrAggSql: String =
    """SELECT event_type, date_trunc('day', ts) AS day,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS sum_v,
      |       CAST(sum(CAST(value AS DECIMAL(12,4))) AS DOUBLE)
      |         / CAST(count(*) AS DOUBLE) AS avg_v,
      |       min(value) AS min_v, max(value) AS max_v
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --- Q63: grouped OLS trend via exact integer sufficient statistics ------
  // "Is this metric drifting, per segment?" — the per-group least-squares
  // trend a monitoring pipeline fits over billions of rows. The distributed
  // op IS the sufficient-statistics aggregation: one map-side-combining
  // groupBy computing {n, Σx, Σy, Σx², Σxy, Σy²} as exact BIGINTs (x =
  // epoch-hour index, y = integer cents — both engines round identically on
  // non-negative values), then slope/intercept/R² are derived per GROUP
  // (5 rows) from those integers with a fixed IEEE op order, so the doubles
  // are bit-identical in Spark and DuckDB — the q43_ewma discipline:
  // doubles may be COMPUTED, but only through a deterministic chain from
  // exact integers. Raw epoch-hour sums would push n·Σx² past int64, so
  // each group is REBASED to its min hour ALGEBRAICALLY after the agg
  // (Σ(x−x₀) = Σx − n·x₀ etc.) — still one scan, no second pass, and the
  // rebased magnitudes stay far inside int64 at sf0.1. At 1000× the same
  // lane swaps the six sums to DECIMAL(38,0) (the q44_stats power-sum
  // discipline) with an identical plan shape. Built-in regr_slope exists
  // in both engines but sums DOUBLES — partition-order-dependent, never
  // hash-exact; the integer route is the determinism-correct rewrite.
  def q63Regression(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("event_type"),
      expr("unix_micros(date_trunc('hour', ts)) div 3600000000").as("h"),
      expr("CAST(round(value * 100) AS BIGINT)").as("y"))
    val sums = ev.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"), min(col("h")).as("h0"),
      sum(col("h")).as("sh"), sum(col("y")).as("sy"),
      sum(col("h") * col("h")).as("shh"),
      sum(col("h") * col("y")).as("shy"),
      sum(col("y") * col("y")).as("syy"))
    val reb = sums.select(col("event_type"), col("n"),
      (col("sh") - col("n") * col("h0")).as("sx"), col("sy"),
      (col("shh") - lit(2L) * col("h0") * col("sh")
        + col("n") * col("h0") * col("h0")).as("sxx"),
      (col("shy") - col("h0") * col("sy")).as("sxy"), col("syy"))
    // Derived products in DECIMAL(38,0): the SUM columns stay inside int64
    // through 128× (bounds in the header note) but n·Σxy-style PRODUCTS
    // cross 2⁶³ already at 128× (ANSI overflow, caught by the 128×
    // rehearsal) — exact decimal arithmetic, then ONE cast to double;
    // DuckDB mirrors with HUGEINT (both casts round-to-nearest).
    val D = org.apache.spark.sql.types.DecimalType(38, 0)
    def d(c: org.apache.spark.sql.Column) = c.cast(D)
    val num = (d(col("n")) * d(col("sxy")) - d(col("sx")) * d(col("sy"))).cast("double")
    val den = (d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))).cast("double")
    val m   = (d(col("n")) * d(col("syy")) - d(col("sy")) * d(col("sy"))).cast("double")
    reb.select(col("event_type"), col("n"), col("sx"), col("sy"),
        col("sxx"), col("sxy"), col("syy"),
        (num / den).as("slope_cph"),
        ((col("sy").cast("double") - (num / den) * col("sx").cast("double"))
          / col("n").cast("double")).as("icept_c"),
        ((num * num) / (den * m)).as("r2"))
      .orderBy(col("event_type"))
  }

  val q63RegressionSql: String =
    """WITH p AS (
      |  SELECT event_type,
      |         epoch_us(date_trunc('hour', ts)) // 3600000000 AS h,
      |         CAST(round(value * 100) AS BIGINT) AS y
      |  FROM events),
      |s AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n, min(h) AS h0,
      |         CAST(sum(h) AS BIGINT) AS sh, CAST(sum(y) AS BIGINT) AS sy,
      |         CAST(sum(h*h) AS BIGINT) AS shh,
      |         CAST(sum(h*y) AS BIGINT) AS shy,
      |         CAST(sum(y*y) AS BIGINT) AS syy
      |  FROM p GROUP BY 1),
      |r AS (
      |  SELECT event_type, n, sh - n*h0 AS sx, sy,
      |         shh - 2*h0*sh + n*h0*h0 AS sxx,
      |         shy - h0*sy AS sxy, syy
      |  FROM s)
      |SELECT event_type, n, sx, sy, sxx, sxy, syy,
      |  CAST(CAST(n AS HUGEINT)*sxy - CAST(sx AS HUGEINT)*sy AS DOUBLE)
      |    / CAST(CAST(n AS HUGEINT)*sxx - CAST(sx AS HUGEINT)*sx AS DOUBLE)
      |    AS slope_cph,
      |  (CAST(sy AS DOUBLE)
      |     - (CAST(CAST(n AS HUGEINT)*sxy - CAST(sx AS HUGEINT)*sy AS DOUBLE)
      |        / CAST(CAST(n AS HUGEINT)*sxx - CAST(sx AS HUGEINT)*sx AS DOUBLE))
      |       * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS icept_c,
      |  (CAST(CAST(n AS HUGEINT)*sxy - CAST(sx AS HUGEINT)*sy AS DOUBLE)
      |     * CAST(CAST(n AS HUGEINT)*sxy - CAST(sx AS HUGEINT)*sy AS DOUBLE))
      |    / (CAST(CAST(n AS HUGEINT)*sxx - CAST(sx AS HUGEINT)*sx AS DOUBLE)
      |       * CAST(CAST(n AS HUGEINT)*syy - CAST(sy AS HUGEINT)*sy AS DOUBLE))
      |    AS r2
      |FROM r ORDER BY event_type""".stripMargin

  // --- Q64: lag-k autocorrelation of the hourly series ----------------------
  // The seasonality probe behind q43_ewma's smoothing and q34_gaps' alerts:
  // Pearson correlation of the hourly-total series with itself at lag 1
  // (persistence) and lag 24 (daily cycle). Series values are integer cents
  // (hourly SUMS, not means — sums stay in ℤ so every sufficient statistic
  // is an exact BIGINT); pairs are formed by an equi-join on h+lag, which
  // pairs ONLY truly consecutive (or 24-apart) hours — gap hours simply
  // produce no pair, the same explicit-grid discipline as q43_gapfill, and
  // identical semantics in the oracle by construction rather than by
  // accident. The lag dimension is a 2-row broadcast; the join keys on
  // (event_type, h) so it shuffles the 720-row-per-type hourly frame, not
  // events. ac is derived from the integer sums with one fixed IEEE chain
  // (sqrt is correctly rounded in both engines) — bit-identical, hash-exact.
  // At 100 TB the hourly pre-agg IS the reduction: events never join events.
  def q64Autocorr(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .groupBy(col("event_type"),
        expr("unix_micros(date_trunc('hour', ts)) div 3600000000").as("h"))
      .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("y"))
    val lags = spark.range(1)
      .select(explode(array(lit(1L), lit(24L))).as("lag"))
    val pairs = hourly.as("t0").join(broadcast(lags))
      .join(hourly.as("t1"),
        col("t0.event_type") === col("t1.event_type") &&
          col("t1.h") === col("t0.h") + col("lag"))
      .select(col("t0.event_type").as("event_type"), col("lag"),
        col("t0.y").as("y0"), col("t1.y").as("y1"))
    val s = pairs.groupBy(col("event_type"), col("lag")).agg(
      count(lit(1)).as("n"),
      sum(col("y0")).as("s1"), sum(col("y1")).as("s2"),
      sum(col("y0") * col("y0")).as("s11"),
      sum(col("y1") * col("y1")).as("s22"),
      sum(col("y0") * col("y1")).as("s12"))
    // products in DECIMAL(38,0) — same 128×-overflow fix as q63 (hourly
    // totals scale with volume, so n·Σy² crosses 2⁶³ long before the
    // emitted sums do); one cast to double at the end, HUGEINT in DuckDB
    val D = org.apache.spark.sql.types.DecimalType(38, 0)
    def d(c: org.apache.spark.sql.Column) = c.cast(D)
    val num = (d(col("n")) * d(col("s12")) - d(col("s1")) * d(col("s2"))).cast("double")
    val d1 = (d(col("n")) * d(col("s11")) - d(col("s1")) * d(col("s1"))).cast("double")
    val d2 = (d(col("n")) * d(col("s22")) - d(col("s2")) * d(col("s2"))).cast("double")
    s.select(col("event_type"), col("lag"), col("n"),
        col("s1"), col("s2"), col("s11"), col("s22"), col("s12"),
        // zero-variance guard (the q89 find): ANSI raises DIVIDE_BY_ZERO
        // for DOUBLE division too — a constant series must null, not die
        when(d1 === 0.0 || d2 === 0.0, lit(null))
          .otherwise(num / sqrt(d1 * d2)).as("ac"))
      .orderBy(col("event_type"), col("lag"))
  }

  val q64AutocorrSql: String =
    """WITH hourly AS (
      |  SELECT event_type,
      |         epoch_us(date_trunc('hour', ts)) // 3600000000 AS h,
      |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2),
      |l AS (SELECT CAST(unnest([1, 24]) AS BIGINT) AS lag),
      |pr AS (
      |  SELECT t0.event_type, l.lag, t0.y AS y0, t1.y AS y1
      |  FROM hourly t0 CROSS JOIN l
      |  JOIN hourly t1
      |    ON t1.event_type = t0.event_type AND t1.h = t0.h + l.lag),
      |s AS (
      |  SELECT event_type, lag, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(y0) AS BIGINT) AS s1, CAST(sum(y1) AS BIGINT) AS s2,
      |         CAST(sum(y0*y0) AS BIGINT) AS s11,
      |         CAST(sum(y1*y1) AS BIGINT) AS s22,
      |         CAST(sum(y0*y1) AS BIGINT) AS s12
      |  FROM pr GROUP BY 1, 2)
      |SELECT event_type, lag, n, s1, s2, s11, s22, s12,
      |  CASE WHEN CAST(n AS HUGEINT)*s11 - CAST(s1 AS HUGEINT)*s1 = 0
      |         OR CAST(n AS HUGEINT)*s22 - CAST(s2 AS HUGEINT)*s2 = 0
      |       THEN NULL
      |       ELSE CAST(CAST(n AS HUGEINT)*s12 - CAST(s1 AS HUGEINT)*s2 AS DOUBLE)
      |         / sqrt(CAST(CAST(n AS HUGEINT)*s11 - CAST(s1 AS HUGEINT)*s1 AS DOUBLE)
      |                * CAST(CAST(n AS HUGEINT)*s22 - CAST(s2 AS HUGEINT)*s2 AS DOUBLE))
      |  END AS ac
      |FROM s ORDER BY event_type, lag""".stripMargin

  // --- Q69: exact rolling 7-day distinct users (DAU/WAU) --------------------
  // The engagement staple: per day, how many DISTINCT users were active in
  // the trailing 7-day window. COUNT(DISTINCT) over a SLIDING window has no
  // direct windowed form (distinct is not subtractable), and the textbook
  // per-window self-join re-scans events 7×. The scale shape here: collapse
  // events to the USER-DAY grain first (one combining distinct — 10¹²
  // events → ≤ users×days rows), then each user-day row contributes itself
  // to the 7 windows it falls in (a bounded explode — ×7, on the REDUCED
  // grain), and one distinct+count per window finishes it. Windows ending
  // past the observed range are cut by a one-row max-date broadcast (house
  // scalar pattern). All counts integral — hash-exact. The approximate
  // cousin at 10× window widths is HLL-merge over daily sketches
  // (q13_hll_merge proves the union law); this lane is the exact anchor
  // such a swap is audited against.
  def q69RollingWau(spark: SparkSession, dir: String): DataFrame = {
    val ud = Tables.events(spark, dir)
      .select(to_date(col("ts")).as("d"), col("user_id"))
      .distinct()
      // barrier (r12 ScanAudit): ud feeds mx, the window expansion AND the
      // dau agg — 3 events scans unbarriered; the user-day grain is the
      // lane's working set either way
      .localCheckpoint(true)
    val mx = ud.agg(max(col("d")).as("mx"))
    val wau = ud
      .select(explode(expr("sequence(d, date_add(d, 6))")).as("w"),
        col("user_id"))
      .distinct() // (w, user) grain — a plain count per w IS the distinct count
      .groupBy(col("w")).agg(count(lit(1)).as("wau"))
    val dau = ud.groupBy(col("d").as("w"))
      .agg(count(lit(1)).as("dau"))
    wau.join(dau, Seq("w"), "left")
      .crossJoin(broadcast(mx))
      .filter(col("w") <= col("mx"))
      // date → timestamp for dtype parity with the oracle (the q19/q36
      // discipline: pandas reads DuckDB DATE as datetime64)
      .select(col("w").cast("timestamp").as("w"),
        coalesce(col("dau"), lit(0L)).as("dau"), col("wau"))
      .orderBy(col("w"))
  }

  val q69RollingWauSql: String =
    """WITH ud AS (
      |  SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
      |mx AS (SELECT max(d) AS mx FROM ud),
      |ex AS (
      |  SELECT CAST(unnest(generate_series(CAST(d AS TIMESTAMP),
      |           CAST(d AS TIMESTAMP) + INTERVAL 6 DAY,
      |           INTERVAL 1 DAY)) AS DATE) AS w,
      |         user_id
      |  FROM ud),
      |wau AS (SELECT w, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
      |        FROM ex GROUP BY 1),
      |dau AS (SELECT d AS w, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
      |        FROM ud GROUP BY 1)
      |SELECT CAST(wau.w AS TIMESTAMP) AS w, COALESCE(dau.dau, 0) AS dau,
      |       wau.wau
      |FROM wau LEFT JOIN dau USING (w) CROSS JOIN mx
      |WHERE wau.w <= mx.mx
      |ORDER BY w""".stripMargin

  // --- Q70: forecast backtest (persistence vs seasonal-naive MAE) -----------
  // The model-free forecasting audit every metrics pipeline runs before
  // buying a forecaster: how well do "next hour = this hour" (lag 1) and
  // "next hour = same hour yesterday" (lag 24) predict the hourly series?
  // Shares q64's grain and pairing discipline (hourly integer-cent totals;
  // pairs by equi-join on h+lag so gap hours simply drop; 2-row lag
  // broadcast) but measures absolute error, not correlation. MAE stays
  // integral: Σ|y−ŷ| is a BIGINT sum, the DIV by n is non-negative (the
  // signed bias is emitted as a RAW sum — keeping quotients non-negative
  // also sidesteps any rounding-mode doubt; measured r11: Spark `div` AND
  // DuckDB `//` BOTH truncate toward zero, (-7)//2 = -3 on both engines,
  // so negative-quotient lanes like q86's dq_bp are parity-safe too —
  // ModularityNoveltySpec pins a negative-quotient fixture).
  // If mae@24 < mae@1 the series has exploitable daily structure — the
  // decision this lane exists to make, cheaply, at any scale.
  def q70Backtest(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .groupBy(col("event_type"),
        expr("unix_micros(date_trunc('hour', ts)) div 3600000000").as("h"))
      .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("y"))
    val lags = spark.range(1)
      .select(explode(array(lit(1L), lit(24L))).as("lag"))
    hourly.as("t0").join(broadcast(lags))
      .join(hourly.as("t1"),
        col("t0.event_type") === col("t1.event_type") &&
          col("t1.h") === col("t0.h") + col("lag"))
      .select(col("t0.event_type").as("event_type"), col("lag"),
        col("t0.y").as("yhat"), col("t1.y").as("y"))
      .groupBy(col("event_type"), col("lag"))
      .agg(count(lit(1)).as("n"),
        sum(abs(col("y") - col("yhat"))).as("sum_abs_err"),
        sum(col("y") - col("yhat")).as("sum_err"))
      .select(col("event_type"), col("lag"), col("n"), col("sum_abs_err"),
        expr("sum_abs_err div n").as("mae_cents"), col("sum_err"))
      .orderBy(col("event_type"), col("lag"))
  }

  val q70BacktestSql: String =
    """WITH hourly AS (
      |  SELECT event_type,
      |         epoch_us(date_trunc('hour', ts)) // 3600000000 AS h,
      |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2),
      |l AS (SELECT CAST(unnest([1, 24]) AS BIGINT) AS lag),
      |pr AS (
      |  SELECT t0.event_type, l.lag, t0.y AS yhat, t1.y AS y
      |  FROM hourly t0 CROSS JOIN l
      |  JOIN hourly t1
      |    ON t1.event_type = t0.event_type AND t1.h = t0.h + l.lag)
      |SELECT event_type, lag, CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(abs(y - yhat)) AS BIGINT) AS sum_abs_err,
      |       CAST(sum(abs(y - yhat)) AS BIGINT) // CAST(count(*) AS BIGINT)
      |         AS mae_cents,
      |       CAST(sum(y - yhat) AS BIGINT) AS sum_err
      |FROM pr GROUP BY 1, 2
      |ORDER BY event_type, lag""".stripMargin

  // --- Q71: rolling WAU by HLL sketch-union (the promised approx cousin) ----
  // q69's exact form explodes the user-day grain ×W; at 90-day windows on
  // 10⁹ users even the reduced grain hurts. The sketch form: ONE HLL
  // sketch per day (a few KB, built by one combining agg), each window
  // UNIONS its W daily sketches — the union law q13_hll_merge proves is
  // exactly what licenses assembling any window from per-day sketches
  // without touching user-level data again. Audit built in: the lane joins
  // the exact q69 count and emits the signed error in basis points, so a
  // 100 TB deployment reads its own accuracy off the lane output.
  // WauHllSpec pins the error bound and day-slice independence.
  def q71WauHll(spark: SparkSession, dir: String): DataFrame = {
    val ud = Tables.events(spark, dir)
      .select(to_date(col("ts")).as("d"), col("user_id"))
    val daily = ud.groupBy(col("d"))
      .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
      // barrier (r12 ScanAudit): daily feeds mx AND the window union —
      // one sketch row per day, pennies to hold, a full events scan to
      // recompute
      .localCheckpoint(true)
    val mx = daily.agg(max(col("d")).as("mx"))
    val est = daily
      .select(explode(expr("sequence(d, date_add(d, 6))")).as("w"), col("sk"))
      .groupBy(col("w"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("wau_est"))
    est.join(q69RollingWau(spark, dir).select(
        col("w").cast("date").as("w"), col("wau")), Seq("w"))
      .crossJoin(broadcast(mx))
      .filter(col("w") <= col("mx"))
      .select(col("w").cast("timestamp").as("w"), col("wau"),
        col("wau_est"),
        expr("(wau_est - wau) * 10000 div wau").as("err_bp"))
      .orderBy(col("w"))
  }

  // --- Q77: median absolute deviation (robust scale per segment) -----------
  // The robust twin of q44's moment statistics: MAD = median(|y − median|)
  // shrugs off the outliers that corrupt stddev (50% breakdown point vs
  // 0%). Two grouped EXACT percentile aggs (the q20-proven
  // percentile ≡ quantile_cont bit parity) with the 5-row median frame
  // joined back broadcast-style (q34_outliers' fence shape) — the event
  // stream shuffles twice on event_type and never anything else.
  // Deviations are |BIGINT − double| doubles, but each is a pure per-row
  // function of exact inputs and the percentile over them is a sort-based
  // pick — bit-identical cross-engine, no double is ever summed.
  def q77Mad(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("event_type"),
      expr("CAST(round(value * 100) AS BIGINT)").as("y"))
    // r13 (barrier A/B): med used to be barriered because it fed the
    // deviation pass AND the final output; THREADING med/n through the
    // deviation agg's group key (exact doubles group exactly — each is a
    // bit-exact percentile pick) gives med a single consumer, so nothing
    // recomputes, no barrier is paid, and events is scanned exactly twice
    // (the semantic floor: a median-of-deviations-from-the-median is
    // irreducibly two-pass).
    val med = ev.groupBy(col("event_type"))
      .agg(expr("percentile(y, 0.5D)").as("med"),
        count(lit(1)).as("n"))
    ev.join(broadcast(med), Seq("event_type"))
      .select(col("event_type"), col("med"), col("n"),
        abs(col("y") - col("med")).as("d"))
      .groupBy(col("event_type"), col("med"), col("n"))
      .agg(expr("percentile(d, 0.5D)").as("mad"))
      .select(col("event_type"), col("n"), col("med"), col("mad"))
      .orderBy(col("event_type"))
  }

  val q77MadSql: String =
    """WITH e AS (
      |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS y
      |  FROM events),
      |m AS (
      |  SELECT event_type, quantile_cont(y, 0.5) AS med,
      |         CAST(count(*) AS BIGINT) AS n
      |  FROM e GROUP BY 1),
      |d AS (
      |  SELECT e.event_type, quantile_cont(abs(e.y - m.med), 0.5) AS mad
      |  FROM e JOIN m USING (event_type) GROUP BY 1)
      |SELECT event_type, n, med, mad
      |FROM m JOIN d USING (event_type)
      |ORDER BY event_type""".stripMargin

  // --- Q78: CUSUM change detection over the hourly series -------------------
  // The sequential drift alarm q66's batch test cannot give you: CUSUM
  // accumulates evidence S_t = max(0, S_{t−1} + y_t − target − slack) and
  // alarms when S_t crosses h — detecting small persistent shifts far
  // sooner than any fixed-window test. ENTIRELY in BIGINT (target = mean
  // hourly cents by integer DIV, slack = 5% of target, h = 5·slack), so
  // the sequential fold — per type, over the sorted hourly array, the
  // q43_ewma ordered-fold discipline with a STRUCT accumulator — is exact,
  // and the DuckDB oracle replays it as a recursive CTE in the same
  // integer arithmetic. Per-type series length is bounded by the time
  // domain, not row count (the q65 window argument); events reduce
  // map-side to hourly totals first.
  def q78Cusum(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .groupBy(col("event_type"),
        expr("unix_micros(date_trunc('hour', ts)) div 3600000000").as("h"))
      .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("y"))
    val tgt = hourly.groupBy(col("event_type"))
      .agg(expr("sum(y) div count(*)").as("target"))
      .withColumn("slack", expr("target div 20"))
      .withColumn("hh", expr("5 * (target div 20)"))
    hourly.join(broadcast(tgt), Seq("event_type"))
      .groupBy(col("event_type"), col("target"), col("slack"), col("hh"))
      .agg(sort_array(collect_list(struct(col("h"), col("y")))).as("vs"))
      .select(col("event_type"), col("target"), col("slack"),
        explode(expr(
          """aggregate(vs,
            |  CAST(array() AS ARRAY<STRUCT<h: BIGINT, s: BIGINT>>),
            |  (acc, v) -> concat(acc, array(named_struct(
            |    'h', v.h,
            |    's', greatest(0L, IF(size(acc) = 0, 0L,
            |           element_at(acc, -1).s) + v.y - target - slack)))))"""
            .stripMargin)).as("z"),
        col("hh"))
      .select(col("event_type"), col("z.h").as("h"), col("z.s").as("s"),
        (col("z.s") > col("hh")).as("alarm"))
      .orderBy(col("event_type"), col("h"))
  }

  val q78CusumSql: String =
    """WITH RECURSIVE hourly AS (
      |  SELECT event_type,
      |         epoch_us(date_trunc('hour', ts)) // 3600000000 AS h,
      |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2),
      |t AS (
      |  SELECT event_type,
      |         CAST(sum(y) AS BIGINT) // CAST(count(*) AS BIGINT) AS target
      |  FROM hourly GROUP BY 1),
      |g AS (
      |  SELECT hourly.event_type, h, y, target, target // 20 AS slack,
      |         5 * (target // 20) AS hh,
      |         row_number() OVER (PARTITION BY hourly.event_type
      |                            ORDER BY h) AS rn
      |  FROM hourly JOIN t USING (event_type)),
      |r AS (
      |  SELECT event_type, h, y, target, slack, hh, rn,
      |         CAST(greatest(0, y - target - slack) AS BIGINT) AS s
      |  FROM g WHERE rn = 1
      |  UNION ALL
      |  SELECT g.event_type, g.h, g.y, g.target, g.slack, g.hh, g.rn,
      |         CAST(greatest(0, r.s + g.y - g.target - g.slack) AS BIGINT)
      |  FROM g JOIN r ON g.event_type = r.event_type AND g.rn = r.rn + 1)
      |SELECT event_type, h, s, s > hh AS alarm
      |FROM r ORDER BY event_type, h""".stripMargin

  // --- Q89: lead-lag CROSS-correlation (view → purchase) --------------------
  // q64's autocorrelation answers "does a series predict itself"; this lane
  // answers the marketing question "do VIEWS at hour t predict PURCHASES at
  // hour t+k" — the cross-series Pearson at lags 0..6 h. Same scale shape
  // as q64: events collapse to hourly counts FIRST (one combining groupBy;
  // pairs are |hours|·|lags|, a function of time span, never of volume),
  // the shift is an integer epoch-hour equi-join against a 7-row broadcast
  // lag spine, moments are exact BIGINT sums with DECIMAL(38,0)/HUGEINT
  // products (q63 overflow discipline), and the only double is the final
  // fixed num/√(d1·d2) chain. Hash-exact.
  def q89LeadLag(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .filter(col("event_type").isin("view", "purchase"))
      .groupBy(col("event_type"),
        expr("unix_micros(date_trunc('hour', ts)) div 3600000000").as("h"))
      .agg(count(lit(1)).as("n"))
    val v = hourly.filter(col("event_type") === "view")
      .select(col("h"), col("n").as("y0"))
    val p = hourly.filter(col("event_type") === "purchase")
      .select(col("h").as("hp"), col("n").as("y1"))
    val lags = spark.range(7).select(col("id").as("lag"))
    val pairs = v.join(broadcast(lags))
      .join(p, col("hp") === col("h") + col("lag"))
    val s = pairs.groupBy(col("lag")).agg(
      count(lit(1)).as("n"),
      sum(col("y0")).as("s1"), sum(col("y1")).as("s2"),
      sum(col("y0") * col("y0")).as("s11"),
      sum(col("y1") * col("y1")).as("s22"),
      sum(col("y0") * col("y1")).as("s12"))
    val D = org.apache.spark.sql.types.DecimalType(38, 0)
    def d(c: org.apache.spark.sql.Column) = c.cast(D)
    val num = (d(col("n")) * d(col("s12")) - d(col("s1")) * d(col("s2"))).cast("double")
    val d1 = (d(col("n")) * d(col("s11")) - d(col("s1")) * d(col("s1"))).cast("double")
    val d2 = (d(col("n")) * d(col("s22")) - d(col("s2")) * d(col("s2"))).cast("double")
    s.select(col("lag"), col("n"), col("s1"), col("s2"),
        col("s11"), col("s22"), col("s12"),
        // zero-variance guard: ANSI raises DIVIDE_BY_ZERO for DOUBLE
        // division too, so a constant series (or a single-pair lag) must
        // branch to null, not divide — mirrored in the oracle
        when(d1 === 0.0 || d2 === 0.0, lit(null))
          .otherwise(num / sqrt(d1 * d2)).as("xc"))
      .orderBy(col("lag"))
  }

  val q89LeadLagSql: String =
    """WITH hourly AS (
      |  SELECT event_type,
      |         epoch_us(date_trunc('hour', ts)) // 3600000000 AS h,
      |         CAST(count(*) AS BIGINT) AS n
      |  FROM events WHERE event_type IN ('view', 'purchase')
      |  GROUP BY 1, 2),
      |v AS (SELECT h, n AS y0 FROM hourly WHERE event_type = 'view'),
      |p AS (SELECT h AS hp, n AS y1 FROM hourly WHERE event_type = 'purchase'),
      |l AS (SELECT CAST(unnest(generate_series(0, 6)) AS BIGINT) AS lag),
      |pr AS (SELECT l.lag, v.y0, p.y1
      |       FROM v CROSS JOIN l JOIN p ON p.hp = v.h + l.lag),
      |s AS (
      |  SELECT lag, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(y0) AS BIGINT) AS s1, CAST(sum(y1) AS BIGINT) AS s2,
      |         CAST(sum(y0*y0) AS BIGINT) AS s11,
      |         CAST(sum(y1*y1) AS BIGINT) AS s22,
      |         CAST(sum(y0*y1) AS BIGINT) AS s12
      |  FROM pr GROUP BY 1)
      |SELECT lag, n, s1, s2, s11, s22, s12,
      |       CASE WHEN CAST(n AS HUGEINT)*s11 - CAST(s1 AS HUGEINT)*s1 = 0
      |              OR CAST(n AS HUGEINT)*s22 - CAST(s2 AS HUGEINT)*s2 = 0
      |            THEN NULL
      |            ELSE CAST(CAST(n AS HUGEINT)*s12 - CAST(s1 AS HUGEINT)*s2 AS DOUBLE)
      |              / sqrt(CAST(CAST(n AS HUGEINT)*s11 - CAST(s1 AS HUGEINT)*s1 AS DOUBLE)
      |                     * CAST(CAST(n AS HUGEINT)*s22 - CAST(s2 AS HUGEINT)*s2 AS DOUBLE))
      |       END AS xc
      |FROM s ORDER BY lag""".stripMargin

  // --- Q91: ordered FUNNEL conversion (view → click → purchase) -------------
  // The behavioral-analytics staple with the ORDER constraint done right:
  // a user converts at stage k only via an event strictly AFTER their
  // stage-(k−1) time — min(ts)-of-filtered-events chained through three
  // combining groupBys + two user-keyed equi-joins (each join input is one
  // row per user, shuffle on user_id, AQE-splittable). No per-user window
  // or array collection: the sequential constraint is expressed as
  // t2 = min(click ts > t1), t3 = min(purchase ts > t2) — associative
  // min-aggregation at any scale. Output is per-cohort funnel counts with
  // integer-bp conversion (q59 DIV discipline; a cohort with zero viewers
  // nulls rather than divides). Hash-exact.
  def q91Funnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
    // r12 ScanAudit: the t1→t2→t3 chain plus the closing four-way join
    // re-derived each stage's subtree (7 events scans per execution).
    // Folded: ONE scan produces every user AND their first view (the old
    // separate distinct + t1 frames — a conditional min; users with no
    // view get null t1, exactly the old left-join shape), and the tiny
    // per-user stage frames are barriered so each later consumer re-reads
    // instead of re-computing. Three pushed-filter scans total (all
    // users+views, clicks, purchases); the associative min-agg/no-arrays
    // scale posture is unchanged.
    val users = ev.groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "view", col("ts"))).as("t1"))
      .localCheckpoint(true)
    val t1 = users.filter(col("t1").isNotNull).select(col("user_id"), col("t1"))
    val t2 = ev.filter(col("event_type") === "click")
      .join(t1, Seq("user_id"))
      .filter(col("ts") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
      .localCheckpoint(true)
    val t3 = ev.filter(col("event_type") === "purchase")
      .join(t2, Seq("user_id"))
      .filter(col("ts") > col("t2"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    users
      .join(t2, Seq("user_id"), "left")
      .join(t3, Seq("user_id"), "left")
      .groupBy((col("user_id") % 4).as("cohort"))
      .agg(count(lit(1)).as("n_users"),
        count(col("t1")).as("n_view"),
        count(col("t2")).as("n_click"),
        count(col("t3")).as("n_purchase"))
      .select(col("cohort"), col("n_users"), col("n_view"), col("n_click"),
        col("n_purchase"),
        when(col("n_view") === 0L, lit(null))
          .otherwise(expr("n_purchase * 10000 div n_view")).as("conv_bp"))
      .orderBy(col("cohort"))
  }

  val q91FunnelSql: String =
    """WITH t1 AS (
      |  SELECT user_id, min(ts) AS t1 FROM events
      |  WHERE event_type = 'view' GROUP BY 1),
      |t2 AS (
      |  SELECT e.user_id, min(e.ts) AS t2
      |  FROM events e JOIN t1 ON e.user_id = t1.user_id
      |  WHERE e.event_type = 'click' AND e.ts > t1.t1 GROUP BY 1),
      |t3 AS (
      |  SELECT e.user_id, min(e.ts) AS t3
      |  FROM events e JOIN t2 ON e.user_id = t2.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts > t2.t2 GROUP BY 1),
      |u AS (SELECT DISTINCT user_id FROM events)
      |SELECT u.user_id % 4 AS cohort, CAST(count(*) AS BIGINT) AS n_users,
      |       CAST(count(t1.t1) AS BIGINT) AS n_view,
      |       CAST(count(t2.t2) AS BIGINT) AS n_click,
      |       CAST(count(t3.t3) AS BIGINT) AS n_purchase,
      |       CASE WHEN count(t1.t1) = 0 THEN NULL
      |            ELSE CAST(count(t3.t3) AS BIGINT) * 10000
      |                 // CAST(count(t1.t1) AS BIGINT) END AS conv_bp
      |FROM u LEFT JOIN t1 ON u.user_id = t1.user_id
      |       LEFT JOIN t2 ON u.user_id = t2.user_id
      |       LEFT JOIN t3 ON u.user_id = t3.user_id
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --- Q79: seasonal percentile envelope (hour-of-day anomaly gate) ---------
  // The seasonality-aware anomaly test the flat fences of q34_outliers
  // cannot express: 3 AM traffic that would be normal at 3 PM IS the
  // anomaly. Per (type, hour-of-day), the P10/P90 envelope of the hourly
  // totals ACROSS DAYS (exact percentile — q20 parity; 120 envelope rows
  // at any scale), broadcast back onto the hourly series to flag hours
  // outside their OWN hour-of-day band. Emits the envelope with per-slot
  // breach counts: integers + picked percentile doubles, never a summed
  // double — hash-exact. Events reduce map-side to hourly totals first;
  // the envelope frame is domain-bounded (types × 24).
  def q79SeasonalEnvelope(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .groupBy(col("event_type"),
        expr("unix_micros(date_trunc('hour', ts)) div 3600000000").as("h"))
      .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("y"))
      .withColumn("hod", expr("h % 24"))
    val env = hourly.groupBy(col("event_type"), col("hod"))
      .agg(count(lit(1)).as("n_days"),
        expr("percentile(y, 0.1D)").as("p10"),
        expr("percentile(y, 0.9D)").as("p90"))
    hourly.join(broadcast(env), Seq("event_type", "hod"))
      .groupBy(col("event_type"), col("hod"), col("n_days"),
        col("p10"), col("p90"))
      .agg(sum(when(col("y") < col("p10"), 1L).otherwise(0L)).as("n_low"),
        sum(when(col("y") > col("p90"), 1L).otherwise(0L)).as("n_high"))
      .select(col("event_type"), col("hod"), col("n_days"), col("p10"),
        col("p90"), col("n_low"), col("n_high"))
      .orderBy(col("event_type"), col("hod"))
  }

  val q79SeasonalEnvelopeSql: String =
    """WITH hourly AS (
      |  SELECT event_type,
      |         epoch_us(date_trunc('hour', ts)) // 3600000000 AS h,
      |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2),
      |hh AS (SELECT event_type, h, y, h % 24 AS hod FROM hourly),
      |env AS (
      |  SELECT event_type, hod, CAST(count(*) AS BIGINT) AS n_days,
      |         quantile_cont(y, 0.1) AS p10, quantile_cont(y, 0.9) AS p90
      |  FROM hh GROUP BY 1, 2)
      |SELECT hh.event_type, hh.hod, n_days, p10, p90,
      |       CAST(sum(CASE WHEN y < p10 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_low,
      |       CAST(sum(CASE WHEN y > p90 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_high
      |FROM hh JOIN env ON hh.event_type = env.event_type
      |                AND hh.hod = env.hod
      |GROUP BY 1, 2, 3, 4, 5
      |ORDER BY hh.event_type, hh.hod""".stripMargin

  // --- Q80: period-over-period rank movers (the "what changed" report) ------
  // Week-over-week sales-rank shifts per part — the BI staple that turns
  // two period aggregates into a ranked movers list. Per (part, ISO week):
  // order count; rank within week by (count DESC, part) — the ordinal
  // tie-break that makes ranks deterministic; adjacent weeks pair up and
  // emit rank deltas. Integer throughout, hash-exact. Scale:
  // the per-week aggregate collapses lineitem to ≤ parts×weeks rows
  // before any window; the rank windows partition BY WEEK, so each
  // window's row count is the part catalog, not the fact table.
  def q80RankMovers(spark: SparkSession, dir: String): DataFrame = {
    // wk = Monday-aligned SEQUENTIAL epoch-week index ((days+3) div 7 —
    // 1970-01-01 is a Thursday), so wk+1 is the true next week across
    // year boundaries, where (year, weekofyear) encodings break
    val weekly = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey").as("part"),
        expr("CAST((datediff(l_shipdate, DATE '1970-01-01') + 3) div 7 AS BIGINT)")
          .as("wk"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("wk"))
      .orderBy(col("n").desc, col("part"))
    val ranked = weekly.withColumn("rk", row_number().over(w).cast("long"))
    // adjacent-week pairing via lead() over the part's week series, NOT a
    // ranked⋈ranked self-join: Catalyst does not share the subtree across
    // self-join branches, so the join form re-ran the lineitem scan, the
    // weekly aggregate AND the rank window twice (the q34_funnel recompute
    // class, r12). lead() needs one extra exchange (partition by part —
    // per-part series are tiny: ≤ weeks rows), after which the next week
    // WITH SALES is the join's b-row exactly when it is wk+1 — the same
    // consecutive-week pairs, one pass. Measured: 2.74 → ~1.3 s noop.
    val byPart = Window.partitionBy(col("part")).orderBy(col("wk"))
    ranked
      .withColumn("wk_next", lead(col("wk"), 1).over(byPart))
      .withColumn("n_next", lead(col("n"), 1).over(byPart))
      .withColumn("rk_next", lead(col("rk"), 1).over(byPart))
      .filter(col("wk_next") === col("wk") + 1L)
      .select(col("part"), col("wk"),
        col("n").as("n_prev"), col("n_next"),
        col("rk").as("rk_prev"), col("rk_next"),
        (col("rk") - col("rk_next")).as("rank_gain"))
      .filter(abs(col("rank_gain")) >= 10L)
      .orderBy(col("wk"), col("rank_gain").desc, col("part"))
  }

  val q80RankMoversSql: String =
    """WITH weekly AS (
      |  SELECT l_partkey AS part,
      |         CAST((datediff('day', DATE '1970-01-01', l_shipdate) + 3) // 7
      |           AS BIGINT) AS wk,
      |         CAST(count(*) AS BIGINT) AS n
      |  FROM lineitem GROUP BY 1, 2),
      |r AS (
      |  SELECT part, wk, n,
      |         CAST(row_number() OVER (PARTITION BY wk
      |                ORDER BY n DESC, part) AS BIGINT) AS rk
      |  FROM weekly)
      |SELECT a.part, a.wk, a.n AS n_prev, b.n AS n_next,
      |       a.rk AS rk_prev, b.rk AS rk_next, a.rk - b.rk AS rank_gain
      |FROM r a JOIN r b ON b.part = a.part AND b.wk = a.wk + 1
      |WHERE abs(a.rk - b.rk) >= 10
      |ORDER BY a.wk, rank_gain DESC, a.part""".stripMargin

  val lanes: Seq[Lane] = Seq(
    Lane("q89_lead_lag", q89LeadLag, Exact(q89LeadLagSql)),
    Lane("q91_funnel", q91Funnel, Exact(q91FunnelSql)),
    Lane("q79_seasonal_env", q79SeasonalEnvelope, Exact(q79SeasonalEnvelopeSql)),
    Lane("q80_rank_movers", q80RankMovers, Exact(q80RankMoversSql)),
    Lane("q77_mad", q77Mad, Exact(q77MadSql)),
    Lane("q78_cusum", q78Cusum, Exact(q78CusumSql)),
    Lane("q71_wau_hll", q71WauHll, RowsOnly(
      "HLL sketch-union estimate, and DuckDB's approximate sketches " +
      "differ; WauHllSpec pins the error bound")),
    Lane("q70_backtest", q70Backtest, Exact(q70BacktestSql)),
    Lane("q69_rolling_wau", q69RollingWau, Exact(q69RollingWauSql)),
    Lane("q63_regression", q63Regression, Exact(q63RegressionSql)),
    Lane("q64_autocorr", q64Autocorr, Exact(q64AutocorrSql)),
    Lane("q48_incr_agg", q48IncrAgg, Exact(q48IncrAggSql)),
    Lane("q51_range_join", q51RangeJoin, Exact(q51RangeJoinSql)),
    Lane("q53_overlap_join", q53OverlapJoin, Exact(q53OverlapJoinSql)),
    Lane("q43_ewma", q43Ewma, Exact(q43EwmaSql)),
    Lane("q34_sessionize", q34Sessionize, Exact(q34SessionizeSql)),
    Lane("q43_ohlc", q43Ohlc, Exact(q43OhlcSql)),
    Lane("q36_asof_snapshot", q36AsofSnapshot, Exact(q36AsofSnapshotSql)),
    Lane("q43_gapfill", q43Gapfill, Exact(q43GapfillSql)),
    Lane("q43_locf", q43Locf, Exact(q43LocfSql)),
    Lane("q36_scd2", q36Scd2, Exact(q36Scd2Sql)),
    Lane("q34_gaps", q34Gaps, Exact(q34GapsSql)),
    Lane("q34_outliers", q34Outliers, Exact(q34OutliersSql)),
    Lane("q34_histogram", q34Histogram, Exact(q34HistogramSql)),
    Lane("q34_retention", q34Retention, Exact(q34RetentionSql)),
    Lane("q34_transitions", q34Transitions, Exact(q34TransitionsSql)),
  )

  val defs = lanes.map(l => l.name -> l.build).toMap
}
