package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import graft.{Exact, Lane, RowsOnly}
import graft.core.Tables

/** Relational query surface Q1–Q22 of `SURVEY.md` §2B — the layer the
  * reference delegates to its warehouse (the reference itself only moves
  * JSON page batches, `CommCareAPIHandler.py:207-262`; every transformation
  * lives downstream). Each query is a declarative DataFrame build so
  * Catalyst owns pushdown/pruning/join-strategy; the paired DuckDB oracle
  * SQL is the correctness contract (driver hashes both at sf0.01).
  *
  * Determinism rules shared with the oracles:
  *  - every query ends in a total-order ORDER BY;
  *  - double aggregation goes through DECIMAL(18,4) (exact, associative)
  *    and is cast back to double only at the end;
  *  - no `round()` on doubles (Spark = BigDecimal HALF_UP on the exact
  *    binary value, DuckDB = libm multiply-round — they disagree);
  *    `floor/ceil/sqrt/abs` are IEEE-deterministic and allowed;
  *  - DuckDB casts double→int by *rounding*; always `floor()` first;
  *  - DuckDB `log` is log10 — oracle uses `ln`;
  *  - Spark `length/size` return int (oracle casts to match), counts/sums
  *    of ints are cast to BIGINT on both sides.
  */
object Relational {
  private val D = DecimalType(18, 4)
  private def ts(s: String): Column = lit(s).cast("timestamp")

  // --- Q1: incremental window scan+filter+project (R1+R4 shape) ---------
  // The range predicate is expressed BOTH on the RAW file column in its
  // own storage type (Tables.eventsRanged — the only form that reaches
  // PushedFilters and prunes row groups, the shape that matters at 100 TB)
  // and on the derived `ts` (semantic restatement above the projection).
  def q01(spark: SparkSession, dir: String): DataFrame =
    Tables.eventsRanged(spark, dir, "2024-01-10 00:00:00", "2024-01-20 00:00:00")
      .filter(col("ts") >= ts("2024-01-10 00:00:00") && col("ts") < ts("2024-01-20 00:00:00"))
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type").as("etype"), col("value"))
      .orderBy(col("ts"), col("event_id"))

  val q01Sql: String =
    """SELECT event_id, ts, user_id, event_type AS etype, value
      |FROM events
      |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
      |ORDER BY ts, event_id""".stripMargin

  // --- Q2: keyset pagination (R2/R3) ------------------------------------
  // Composite-key cursor page: strictly-after (ts, event_id) boundary,
  // page size 100. The reference restarts at `>=` and accepts duplicates
  // (`CommCareAPIHandler.py:239`); the engine pages with a strict composite
  // key instead — no duplicates, still a single ordered scan + limit
  // (TakeOrderedAndProject, no global sort materialization).
  def q02(spark: SparkSession, dir: String): DataFrame = {
    val t0 = ts("2024-01-15 00:00:00")
    Tables.events(spark, dir)
      .filter(col("ts") > t0 || (col("ts") === t0 && col("event_id") > lit(4999L)))
      .orderBy(col("ts"), col("event_id"))
      .limit(100)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
  }

  val q02Sql: String =
    """SELECT event_id, ts, user_id, event_type, value FROM events
      |WHERE ts > TIMESTAMP '2024-01-15 00:00:00'
      |   OR (ts = TIMESTAMP '2024-01-15 00:00:00' AND event_id > 4999)
      |ORDER BY ts, event_id LIMIT 100""".stripMargin

  // --- Q3: hour-partition layout audit (R8 shape) ------------------------
  def q03(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(year(col("ts")).as("y"), month(col("ts")).as("m"),
        dayofmonth(col("ts")).as("d"), hour(col("ts")).as("h"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("y"), col("m"), col("d"), col("h"))

  val q03Sql: String =
    """SELECT CAST(date_part('year', ts) AS INT) AS y, CAST(date_part('month', ts) AS INT) AS m,
      |       CAST(date_part('day', ts) AS INT) AS d, CAST(date_part('hour', ts) AS INT) AS h,
      |       CAST(count(*) AS BIGINT) AS n
      |FROM events GROUP BY 1,2,3,4 ORDER BY 1,2,3,4""".stripMargin

  // --- Q4: adaptive batch sizing (R7, util.py:43-85 shape) ---------------
  // Assign rows to size-capped output buckets via a running byte total —
  // the columnar re-expression of the reference's 16 MB Snowflake cap.
  // Cap scaled to 4 KiB so sf0.01 produces many buckets.
  def q04(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy(col("event_id")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .withColumn("bytes", (length(col("props")) + length(col("event_type")) + lit(50)).cast("long"))
      .withColumn("cum_bytes", sum(col("bytes")).over(w))
      .select(col("event_id"), col("bytes"),
        floor(col("cum_bytes") / lit(4096.0)).cast("long").as("bucket"))
      .orderBy(col("event_id"))
  }

  /** Scale twin of q04 — distributed prefix sum. The naive form runs ONE
    * task (a global-order window); this one computes in-bucket running sums
    * in parallel (shuffle on `event_id div 1000` buckets), then adds each
    * bucket's prefix offset from a tiny bucket-totals table (bucket-level
    * metadata — rows = n_buckets, not n_rows, so its global window is
    * driver-scale). Bucket ranges partition the event_id order, so the
    * result is IDENTICAL to the sequential running sum — same oracle. */
  def q04Scalable(spark: SparkSession, dir: String): DataFrame = {
    val wIn = Window.partitionBy(col("bucket_id")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val base = Tables.events(spark, dir)
      .withColumn("bytes", (length(col("props")) + length(col("event_type")) + lit(50)).cast("long"))
      .withColumn("bucket_id", expr("event_id div 1000"))
    val inBucket = base.withColumn("in_sum", sum(col("bytes")).over(wIn))
    val wOff = Window.orderBy(col("bucket_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = base.groupBy(col("bucket_id"))
      .agg(sum(col("bytes")).as("bucket_total"))
      .withColumn("offset", coalesce(sum(col("bucket_total")).over(wOff), lit(0L)))
      .select(col("bucket_id"), col("offset"))
    inBucket.join(broadcast(offsets), "bucket_id")
      .withColumn("cum_bytes", col("offset") + col("in_sum"))
      .select(col("event_id"), col("bytes"),
        floor(col("cum_bytes") / lit(4096.0)).cast("long").as("bucket"))
      .orderBy(col("event_id"))
  }

  val q04Sql: String =
    """SELECT event_id, bytes,
      |       CAST(floor(cum_bytes / 4096.0) AS BIGINT) AS bucket
      |FROM (
      |  SELECT event_id,
      |         CAST(length(props) + length(event_type) + 50 AS BIGINT) AS bytes,
      |         sum(CAST(length(props) + length(event_type) + 50 AS BIGINT))
      |           OVER (ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_bytes
      |  FROM events)
      |ORDER BY event_id""".stripMargin

  // --- Q5: dedup latest-per-key (pairs with R2's >= restart dups) --------
  def q05(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .orderBy(col("user_id"))
  }

  val q05Sql: String =
    """SELECT user_id, event_id, ts, value FROM (
      |  SELECT user_id, event_id, ts, value,
      |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin

  // --- Q6: exact duplicate removal over overlapping extracts (R2 dedup) --
  def q06(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val a = e.filter(col("ts") >= ts("2024-01-05 00:00:00") && col("ts") < ts("2024-01-15 00:00:00"))
    val b = e.filter(col("ts") >= ts("2024-01-10 00:00:00") && col("ts") < ts("2024-01-20 00:00:00"))
    a.unionAll(b)
      .dropDuplicates(Seq("event_id"))
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .orderBy(col("event_id"))
  }

  val q06Sql: String =
    """SELECT event_id, ts, user_id, event_type, value FROM (
      |  SELECT DISTINCT event_id, ts, user_id, event_type, value FROM (
      |    SELECT * FROM events WHERE ts >= TIMESTAMP '2024-01-05 00:00:00' AND ts < TIMESTAMP '2024-01-15 00:00:00'
      |    UNION ALL
      |    SELECT * FROM events WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'))
      |ORDER BY event_id""".stripMargin

  // --- Q7: 3-way equi join (SMJ at scale; shuffle on the join keys) ------
  def q07(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).filter(col("l_quantity") > 45)
    val o  = Tables.orders(spark, dir).filter(col("o_orderstatus") === "F")
    val c  = Tables.customer(spark, dir)
    // NB (l_orderkey, l_linenumber) is NOT unique in the synthetic data;
    // (…, l_partkey, l_suppkey) is — required for a total order.
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
        col("c_name"), col("o_totalprice"), col("l_quantity"), col("l_extendedprice"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
  }

  val q07Sql: String =
    """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, c_name, o_totalprice, l_quantity, l_extendedprice
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE l_quantity > 45 AND o_orderstatus = 'F'
      |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin

  // --- Q8: broadcast dim join (nation/region are tiny → BHJ, no shuffle
  // of the fact side beyond the final agg) -------------------------------
  def q08(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_cust"),
        sum(col("c_acctbal").cast(D)).cast("double").as("total_bal"))
      .orderBy(col("r_name"), col("n_name"))
  }

  val q08Sql: String =
    """SELECT r_name, n_name, CAST(count(*) AS BIGINT) AS n_cust,
      |       CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_bal
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin

  // --- Q9: semi / anti joins ---------------------------------------------
  def q09Semi(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir), col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))

  val q09SemiSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin

  def q09Anti(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir), col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))

  val q09AntiSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin

  // --- Q10: as-of join (latest lineitem shipped within 60 days of order) -
  // Equi key (orderkey) + range predicate keeps this a plain SMJ + window
  // pick — no nested-loop blowup at 100 TB.
  def q10(spark: SparkSession, dir: String): DataFrame = {
    val o  = Tables.orders(spark, dir)
    val li = Tables.lineitem(spark, dir)
    val w = Window.partitionBy(col("o_orderkey")).orderBy(
      col("l_shipdate").desc, col("l_linenumber").desc, col("l_partkey").desc, col("l_suppkey").desc)
    o.join(li, col("l_orderkey") === col("o_orderkey") &&
        col("l_shipdate") <= col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_orderkey"), col("o_orderdate"), col("l_linenumber"), col("l_shipdate"))
      .orderBy(col("o_orderkey"))
  }

  val q10Sql: String =
    """SELECT o_orderkey, o_orderdate, l_linenumber, l_shipdate FROM (
      |  SELECT o_orderkey, o_orderdate, l_linenumber, l_shipdate,
      |         row_number() OVER (PARTITION BY o_orderkey
      |           ORDER BY l_shipdate DESC, l_linenumber DESC, l_partkey DESC, l_suppkey DESC) AS rn
      |  FROM orders JOIN lineitem
      |    ON l_orderkey = o_orderkey AND l_shipdate <= o_orderdate + INTERVAL 60 DAY)
      |WHERE rn = 1 ORDER BY o_orderkey""".stripMargin

  // --- Q11: hash aggregation, TPC-H Q1 shape (partial+final HashAggregate;
  // DECIMAL lane for exactness, double only at the edge) -------------------
  def q11(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= ts("1998-09-01 00:00:00"))
      .withColumn("disc_price", (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast(D))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast(D)).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast(D)).cast("double").as("sum_base_price"),
        sum(col("disc_price")).cast("double").as("sum_disc_price"),
        (sum(col("l_quantity").cast(D)).cast("double") / count(lit(1)).cast("double")).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  val q11Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
      |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_qty,
      |  CAST(count(*) AS BIGINT) AS count_order
      |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
      |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin

  // --- Q12: exact count distinct per month --------------------------------
  def q12(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(date_trunc("month", col("o_orderdate")).as("mon"))
      .agg(countDistinct(col("o_custkey")).as("n_cust"))
      .orderBy(col("mon"))

  val q12Sql: String =
    """SELECT date_trunc('month', o_orderdate) AS mon,
      |       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  // --- Q13: HLL approx distinct ------------------------------------------
  def q13(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(approx_count_distinct(col("user_id")).as("approx_users"))
      .orderBy(col("day"))

  // --- Q13b: HLL sketch-merge proof --------------------------------------
  // The property the q37 100 TB swap-in (approx_count_distinct replacing
  // COUNT DISTINCT) actually relies on: HLL sketches are LOSSLESSLY
  // mergeable, so per-partition sketches unioned equal one global sketch —
  // which is why the estimate is shard-topology-independent and a
  // distributed profile can build sketches map-side and union them without
  // error accumulation. Made explicit with Spark 4's Datasketches surface:
  // slice the corpus by an arbitrary key (pmod(event_id) — a user's events
  // deliberately SCATTER across slices, so the union must dedupe real
  // cross-slice overlap), hll_sketch_agg per slice, hll_union_agg the
  // binary sketches, estimate — next to the direct one-pass estimate and
  // the exact count. merge_lossless (est_merged = est_direct) is the
  // mergeability proof; rel_err the standard-error bound check (default
  // lgK=12 → ~1.6% σ). HllMergeSpec asserts both, plus slice-count
  // invariance (3-way ≡ 8-way union).
  private[graft] def q13HllMergeSliced(spark: SparkSession, dir: String,
                                       slices: Int): DataFrame = {
    val ev = Tables.events(spark, dir)
      .withColumn("slice", pmod(col("event_id"), lit(slices)))
    val merged = ev.groupBy(col("slice"))
      .agg(expr("hll_sketch_agg(user_id)").as("sk"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est_merged"))
    val direct = ev.agg(
      expr("hll_sketch_estimate(hll_sketch_agg(user_id))").as("est_direct"),
      countDistinct(col("user_id")).as("exact"))
    // two one-row frames — broadcast EXPLICITLY: without the hint the
    // cross rides auto-broadcast, and a no-broadcast conf (the at-scale
    // preview / a 100 TB deployment with thresholds tuned down) silently
    // degrades it to CartesianProduct (r9 join-shape audit). The hint pins
    // the bounded side by construction, independent of any threshold.
    merged.crossJoin(broadcast(direct))
      .select(col("est_merged"), col("est_direct"), col("exact"),
        (abs(col("est_merged") - col("exact")).cast("double") /
          col("exact").cast("double")).as("rel_err"),
        (col("est_merged") === col("est_direct")).as("merge_lossless"))
  }

  def q13HllMerge(spark: SparkSession, dir: String): DataFrame =
    q13HllMergeSliced(spark, dir, 8)

  // --- Q14: rollup with grouping indicators --------------------------------
  def q14(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_cust"),
        sum(col("c_acctbal").cast(D)).cast("double").as("total_bal"),
        grouping(col("r_name")).cast("int").as("g_r"),
        grouping(col("n_name")).cast("int").as("g_n"))
      .select(coalesce(col("r_name"), lit("ALL")).as("region_name"),
        coalesce(col("n_name"), lit("ALL")).as("nation_name"),
        col("g_r"), col("g_n"), col("n_cust"), col("total_bal"))
      .orderBy(col("region_name"), col("nation_name"))
  }

  val q14Sql: String =
    """SELECT coalesce(r_name, 'ALL') AS region_name, coalesce(n_name, 'ALL') AS nation_name,
      |       CAST(grouping(r_name) AS INT) AS g_r, CAST(grouping(n_name) AS INT) AS g_n,
      |       CAST(count(*) AS BIGINT) AS n_cust,
      |       CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_bal
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP(r_name, n_name) ORDER BY region_name, nation_name""".stripMargin

  // --- Q15a: top-k per group (rank) ---------------------------------------
  def q15Rank(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, dir)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("rn"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  val q15RankSql: String =
    """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin

  // --- Q50: q15_rank_topk's result through the CUSTOM PHYSICAL OPERATOR —
  // the injectPlannerStrategy leg (graft.plans.TopKPerKey): bounded-heap
  // partial → hash exchange → bounded-heap final, no full per-key sort and
  // at most k rows per key per partition on the wire (the window-rank twin
  // shuffles and sorts EVERY row). Same deterministic row set (o_orderkey
  // tiebreak), so one DuckDB oracle covers both plans. ---------------------
  def q50TopkPhys(spark: SparkSession, dir: String): DataFrame =
    graft.plans.GraftPlans.topKPerKey(
        Tables.orders(spark, dir)
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice")),
        keys = Seq("o_custkey"),
        orderBy = Seq(("o_totalprice", false), ("o_orderkey", true)),
        k = 3)
      .orderBy(col("o_custkey"), col("o_totalprice").desc, col("o_orderkey"))

  val q50TopkPhysSql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders) WHERE rn <= 3
      |ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin

  // --- Q15b: running sum per group (DECIMAL lane: windowed double sums are
  // segment-tree-reassociated in some engines; decimal is associative) -----
  def q15Running(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, dir)
      .withColumn("running_spend", sum(col("o_totalprice").cast(D)).over(w).cast("double"))
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("running_spend"))
      .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
  }

  val q15RunningSql: String =
    """SELECT o_custkey, o_orderkey, o_orderdate,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)))
      |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
      |FROM orders ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin

  // --- Q15c: lag/lead day-over-day ----------------------------------------
  def q15LagLead(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
      .agg(sum(col("o_totalprice").cast(D)).cast("double").as("rev"))
    val w = Window.orderBy(col("day"))
    daily
      .withColumn("prev_rev", lag(col("rev"), 1).over(w))
      .withColumn("next_rev", lead(col("rev"), 1).over(w))
      .select(col("day"), col("rev"), col("prev_rev"), col("next_rev"))
      .orderBy(col("day"))
  }

  val q15LagLeadSql: String =
    """SELECT day, rev, lag(rev, 1) OVER (ORDER BY day) AS prev_rev,
      |       lead(rev, 1) OVER (ORDER BY day) AS next_rev FROM (
      |  SELECT date_trunc('day', o_orderdate) AS day,
      |         CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS rev
      |  FROM orders GROUP BY 1) ORDER BY day""".stripMargin

  // --- Q16: global top-k (TakeOrderedAndProject — no full sort at scale) --
  def q16(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey"))
      .limit(100)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
        col("l_extendedprice"))

  val q16Sql: String =
    """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice FROM lineitem
      |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber, l_partkey, l_suppkey LIMIT 100""".stripMargin

  // --- Q17: set ops over two extract windows ------------------------------
  def q17(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val a = e.filter(col("ts") >= ts("2024-01-05 00:00:00") && col("ts") < ts("2024-01-15 00:00:00"))
      .select(col("event_id"))
    val b = e.filter(col("ts") >= ts("2024-01-10 00:00:00") && col("ts") < ts("2024-01-20 00:00:00"))
      .select(col("event_id"))
    a.intersect(b).withColumn("tag", lit("both"))
      .unionAll(a.except(b).withColumn("tag", lit("only_a")))
      .unionAll(b.except(a).withColumn("tag", lit("only_b")))
      .select(col("tag"), col("event_id"))
      .orderBy(col("tag"), col("event_id"))
  }

  val q17Sql: String =
    """WITH a AS (SELECT event_id FROM events WHERE ts >= TIMESTAMP '2024-01-05 00:00:00' AND ts < TIMESTAMP '2024-01-15 00:00:00'),
      |     b AS (SELECT event_id FROM events WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00')
      |SELECT 'both' AS tag, event_id FROM (SELECT event_id FROM a INTERSECT SELECT event_id FROM b)
      |UNION ALL
      |SELECT 'only_a' AS tag, event_id FROM (SELECT event_id FROM a EXCEPT SELECT event_id FROM b)
      |UNION ALL
      |SELECT 'only_b' AS tag, event_id FROM (SELECT event_id FROM b EXCEPT SELECT event_id FROM a)
      |ORDER BY tag, event_id""".stripMargin

  // --- Q18: string functions (incl. the R12 `staging-` prefix strip,
  // `lambda_function.py:28-31`, as regexp_replace) --------------------------
  def q18(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select(
        col("p_partkey"),
        lower(col("p_name")).as("lo"),
        upper(col("p_brand")).as("up"),
        trim(concat(lit("  "), col("p_name"), lit("  "))).as("trimmed"),
        substring(col("p_name"), 1, 10).as("sub10"),
        concat(col("p_brand"), lit("#"), col("p_type")).as("cat"),
        regexp_replace(col("p_type"), " ", "_").as("rep"),
        length(col("p_name")).as("name_len"),
        col("p_name").like("%a%").as("has_a"),
        regexp_extract(col("p_name"), "([a-z]+)", 1).as("first_word"),
        regexp_replace(col("p_name"), "^staging-", "").as("destaged"),
        split(col("p_type"), " ").getItem(0).as("type_head"))
      .orderBy(col("p_partkey"))

  val q18Sql: String =
    """SELECT p_partkey, lower(p_name) AS lo, upper(p_brand) AS up,
      |  trim('  ' || p_name || '  ') AS trimmed, substring(p_name, 1, 10) AS sub10,
      |  p_brand || '#' || p_type AS cat, regexp_replace(p_type, ' ', '_', 'g') AS rep,
      |  CAST(length(p_name) AS INT) AS name_len, p_name LIKE '%a%' AS has_a,
      |  regexp_extract(p_name, '([a-z]+)', 1) AS first_word,
      |  regexp_replace(p_name, '^staging-', '') AS destaged,
      |  string_split(p_type, ' ')[1] AS type_head
      |FROM part ORDER BY p_partkey""".stripMargin

  // --- Q19: date/time functions (dual-format parse per §1.2, R6 lag) ------
  def q19(spark: SparkSession, dir: String): DataFrame = {
    val fmtZ = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"
    Tables.events(spark, dir)
      .withColumn("iso_z", date_format(col("ts"), fmtZ))
      .withColumn("iso_naive", date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"))
      .select(
        col("event_id"),
        col("iso_z"),
        // dual-format parse: Z variant first, naive fallback (CommCareAPIHandler.py:235-238)
        coalesce(to_timestamp(col("iso_z"), fmtZ),
          to_timestamp(col("iso_naive"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")).as("ts_rt"),
        date_trunc("hour", col("ts")).as("ts_hour"),
        unix_timestamp(col("ts")).as("epoch_s"),
        datediff(col("ts"), ts("2024-01-01 00:00:00")).as("days_since"),
        (col("ts") - expr("INTERVAL 5 MINUTES")).as("ts_lagged"))
      .orderBy(col("event_id"))
  }

  val q19Sql: String =
    """SELECT event_id,
      |  strftime(ts, '%Y-%m-%dT%H:%M:%S.%f') || 'Z' AS iso_z,
      |  ts AS ts_rt,
      |  date_trunc('hour', ts) AS ts_hour,
      |  CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
      |  CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS INT) AS days_since,
      |  ts - INTERVAL 5 MINUTE AS ts_lagged
      |FROM events ORDER BY event_id""".stripMargin

  // --- Q20: math functions + the limit-calibration formula (util.py:75-85:
  // new_limit = min(int(16/size_mb * limit * 0.5), 10000)) ------------------
  def q20(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .withColumn("size_mb", col("l_extendedprice") / lit(1000.0))
      .select(
        col("l_orderkey"), col("l_linenumber"),
        floor(col("l_extendedprice")).as("fl"),
        ceil(col("l_extendedprice")).as("ce"),
        abs(col("l_discount") - lit(0.05)).as("ab"),
        (col("l_quantity") * col("l_quantity")).as("sq"),
        sqrt(col("l_extendedprice")).as("sqr"),
        least(floor(lit(16.0) / col("size_mb") * lit(1000.0) * lit(0.5)), lit(10000L)).as("new_limit"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  val q20Sql: String =
    """SELECT l_orderkey, l_linenumber,
      |  CAST(floor(l_extendedprice) AS BIGINT) AS fl,
      |  CAST(ceil(l_extendedprice) AS BIGINT) AS ce,
      |  abs(l_discount - 0.05) AS ab,
      |  l_quantity * l_quantity AS sq,
      |  sqrt(l_extendedprice) AS sqr,
      |  least(CAST(floor(16.0 / (l_extendedprice / 1000.0) * 1000.0 * 0.5) AS BIGINT), 10000) AS new_limit
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin

  // --- Q21: JSON functions over events.props (R1 envelope parity) ---------
  def q21(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"),
        from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
          .getField("k").as("k2"),
        concat(lit("{\"event_id\":"), col("event_id"),
          lit(",\"event_type\":\""), col("event_type"), lit("\"}")).as("envelope"))
      .orderBy(col("event_id"))

  val q21Sql: String =
    """SELECT event_id,
      |  CAST(props->>'k' AS BIGINT) AS k,
      |  CAST(props->>'k' AS BIGINT) AS k2,
      |  '{"event_id":' || event_id || ',"event_type":"' || event_type || '"}' AS envelope
      |FROM events ORDER BY event_id""".stripMargin

  // --- Q22: array functions over tokenized documents -----------------------
  def q22(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("toks", split(col("text"), " "))
      .select(
        col("doc_id"),
        size(col("toks")).as("n_toks"),
        size(array_distinct(col("toks"))).as("n_uniq"),
        element_at(col("toks"), 1).as("first_tok"),
        element_at(col("toks"), -1).as("last_tok"),
        array_contains(col("toks"), "data").as("has_data"),
        array_join(slice(sort_array(array_distinct(col("toks"))), 1, 5), ",").as("first5_sorted"))
      .orderBy(col("doc_id"))

  val q22Sql: String =
    """SELECT doc_id,
      |  CAST(len(toks) AS INT) AS n_toks,
      |  CAST(len(list_distinct(toks)) AS INT) AS n_uniq,
      |  toks[1] AS first_tok, toks[-1] AS last_tok,
      |  list_contains(toks, 'data') AS has_data,
      |  array_to_string(list_sort(list_distinct(toks))[1:5], ',') AS first5_sorted
      |FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
      |ORDER BY doc_id""".stripMargin

  val lanes: Seq[Lane] = Seq(
    Lane("q01_scan_filter_project", q01, Exact(q01Sql)),
    Lane("q02_keyset_page", q02, Exact(q02Sql)),
    Lane("q03_partition_audit", q03, Exact(q03Sql)),
    Lane("q04_batch_sizing", q04, Exact(q04Sql)),
    Lane("q04_sizing_scalable", q04Scalable, Exact(q04Sql)),
    Lane("q05_dedup_latest", q05, Exact(q05Sql)),
    Lane("q06_dedup_exact", q06, Exact(q06Sql)),
    Lane("q07_join_3way", q07, Exact(q07Sql)),
    Lane("q08_broadcast_join", q08, Exact(q08Sql)),
    Lane("q09_semi_join", q09Semi, Exact(q09SemiSql)),
    Lane("q09_anti_join", q09Anti, Exact(q09AntiSql)),
    Lane("q10_asof_join", q10, Exact(q10Sql)),
    Lane("q11_hash_agg", q11, Exact(q11Sql)),
    Lane("q12_count_distinct", q12, Exact(q12Sql)),
    Lane("q13_approx_distinct", q13, RowsOnly(
      "HLL estimate (approx_count_distinct); DuckDB's approximate count " +
      "uses a different sketch, so no exact oracle exists")),
    Lane("q13_hll_merge", q13HllMerge, RowsOnly(
      "HLL sketch estimates have no SQL oracle; HllMergeSpec pins merge " +
      "losslessness and the error bound")),
    Lane("q14_rollup", q14, Exact(q14Sql)),
    Lane("q15_rank_topk", q15Rank, Exact(q15RankSql)),
    Lane("q15_running_sum", q15Running, Exact(q15RunningSql)),
    Lane("q15_lag_lead", q15LagLead, Exact(q15LagLeadSql)),
    Lane("q16_global_topk", q16, Exact(q16Sql)),
    Lane("q50_topk_phys", q50TopkPhys, Exact(q50TopkPhysSql)),
    Lane("q17_set_ops", q17, Exact(q17Sql)),
    Lane("q18_string_funcs", q18, Exact(q18Sql)),
    Lane("q19_datetime_funcs", q19, Exact(q19Sql)),
    Lane("q20_math_funcs", q20, Exact(q20Sql)),
    Lane("q21_json_funcs", q21, Exact(q21Sql)),
    Lane("q22_array_funcs", q22, Exact(q22Sql)),
  )

  val defs = lanes.map(l => l.name -> l.build).toMap
}
