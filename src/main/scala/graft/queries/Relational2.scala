package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import graft.{Exact, Lane}
import graft.core.Tables

/** Second-tier relational surface: pivot, ranking distributions, extended
  * string/date functions, exact percentiles, map functions — the long tail
  * a user of the reference's warehouse would expect to keep working.
  * Same determinism rules as `Relational` (total-order sorts, DECIMAL
  * aggregation lane, engine-portable formulas).
  */
object Relational2 {
  private val D = DecimalType(18, 4)

  // --- Q14b: pivot (conditional aggregation under the hood) ----------------
  // Spark's .pivot plans the same conditional-agg HashAggregate the oracle
  // spells out — one shuffle, no row explosion.
  def q14Pivot(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(sum(col("o_totalprice").cast(D)).cast("double"))
      .na.fill(0.0, Seq("F", "O", "P"))
      .select(col("o_orderpriority"), col("F").as("f_total"),
        col("O").as("o_total"), col("P").as("p_total"))
      .orderBy(col("o_orderpriority"))

  val q14PivotSql: String =
    """SELECT o_orderpriority,
      |  coalesce(CAST(sum(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS DOUBLE), 0.0) AS f_total,
      |  coalesce(CAST(sum(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS DOUBLE), 0.0) AS o_total,
      |  coalesce(CAST(sum(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS DOUBLE), 0.0) AS p_total
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // --- Q15d: ranking distributions (ntile / percent_rank / cume_dist /
  // rank / dense_rank / nth_value with explicit full frame) -----------------
  def q15RankDist(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_totalprice"), col("o_orderkey"))
    val wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(spark, dir)
      .filter(col("o_custkey") <= 100)
      .select(
        col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"),
        rank().over(w).cast("long").as("rk"),
        dense_rank().over(w).cast("long").as("drk"),
        first(col("o_totalprice")).over(wf).as("cheapest"),
        last(col("o_totalprice")).over(wf).as("priciest"),
        nth_value(col("o_totalprice"), 2).over(wf).as("second_cheapest"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  val q15RankDistSql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice,
      |  ntile(4) OVER w AS quartile,
      |  percent_rank() OVER w AS pr,
      |  cume_dist() OVER w AS cd,
      |  CAST(rank() OVER w AS BIGINT) AS rk,
      |  CAST(dense_rank() OVER w AS BIGINT) AS drk,
      |  first_value(o_totalprice) OVER wf AS cheapest,
      |  last_value(o_totalprice) OVER wf AS priciest,
      |  nth_value(o_totalprice, 2) OVER wf AS second_cheapest
      |FROM orders WHERE o_custkey <= 100
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey),
      |       wf AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  // --- Q18b: extended string functions -------------------------------------
  // initcap / translate have no DuckDB builtin — the oracle emulates them
  // exactly (list rebuild / chained replace), which also documents their
  // semantics.
  def q18String2(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select(
        col("p_partkey"),
        lpad(col("p_brand"), 12, "0").as("lp"),
        rpad(col("p_brand"), 12, ".").as("rp"),
        reverse(col("p_name")).as("rev"),
        repeat(col("p_brand"), 2).as("rep"),
        substring(col("p_name"), 1, 5).as("l5"),
        col("p_name").substr(length(col("p_name")) - 4, lit(5)).as("r5"),
        instr(col("p_name"), "a").cast("long").as("pos_a"),
        translate(col("p_type"), "ae", "43").as("leet"),
        initcap(col("p_name")).as("ic"))
      .orderBy(col("p_partkey"))

  val q18String2Sql: String =
    """SELECT p_partkey,
      |  lpad(p_brand, 12, '0') AS lp,
      |  rpad(p_brand, 12, '.') AS rp,
      |  reverse(p_name) AS rev,
      |  repeat(p_brand, 2) AS rep,
      |  substring(p_name, 1, 5) AS l5,
      |  substring(p_name, length(p_name) - 4, 5) AS r5,
      |  CAST(strpos(p_name, 'a') AS BIGINT) AS pos_a,
      |  replace(replace(p_type, 'a', '4'), 'e', '3') AS leet,
      |  array_to_string(list_transform(string_split(p_name, ' '),
      |    w -> CASE WHEN length(w) = 0 THEN w ELSE upper(w[1]) || lower(w[2:]) END), ' ') AS ic
      |FROM part ORDER BY p_partkey""".stripMargin

  // --- Q19b: extended date functions ---------------------------------------
  // dayofweek: Spark is 1=Sunday..7=Saturday, DuckDB 0=Sunday..6 — oracle
  // adds 1. Date-typed outputs are cast to TIMESTAMP on both sides: the
  // compare layer reads Spark DATE as python dates but DuckDB DATE as
  // datetime64, which would never be equal.
  def q19Date2(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(
        col("o_orderkey"),
        add_months(col("o_orderdate"), 1).cast("timestamp").as("plus_month"),
        last_day(col("o_orderdate")).cast("timestamp").as("eom"),
        weekofyear(col("o_orderdate")).cast("int").as("woy"),
        dayofweek(col("o_orderdate")).cast("int").as("dow"),
        quarter(col("o_orderdate")).cast("int").as("qtr"),
        dayofyear(col("o_orderdate")).cast("int").as("doy"),
        date_add(col("o_orderdate").cast("date"), 30).cast("timestamp").as("plus30"),
        date_trunc("week", col("o_orderdate")).as("wk"))
      .orderBy(col("o_orderkey"))

  val q19Date2Sql: String =
    """SELECT o_orderkey,
      |  CAST(CAST(o_orderdate + INTERVAL 1 MONTH AS DATE) AS TIMESTAMP) AS plus_month,
      |  CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS eom,
      |  CAST(weekofyear(CAST(o_orderdate AS DATE)) AS INT) AS woy,
      |  CAST(dayofweek(CAST(o_orderdate AS DATE)) + 1 AS INT) AS dow,
      |  CAST(quarter(CAST(o_orderdate AS DATE)) AS INT) AS qtr,
      |  CAST(dayofyear(CAST(o_orderdate AS DATE)) AS INT) AS doy,
      |  CAST(CAST(o_orderdate AS DATE) + 30 AS TIMESTAMP) AS plus30,
      |  date_trunc('week', o_orderdate) AS wk
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // --- Q20b: exact interpolated percentiles per group ----------------------
  // Exact grouped percentiles by DISTRIBUTED RANK-SELECT, not the built-in
  // `percentile(...)`: Spark's exact percentile is an ObjectHashAggregate
  // that materializes every group's value→count map in executor memory and
  // sorts it at eval — per-group distinct values are unbounded, so at
  // 100 TB a wide-domain column OOMs the aggregate (and at sf0.1 it
  // measured 4.5 s full-materialization vs ~1 s for this plan). Rank-select
  // instead: (1) value-frequency agg (map-side combining, well-spread
  // shuffle), (2) running count over each group's sorted distinct values →
  // each row covers sorted-multiset index range (cum−cnt, cum], (3) an
  // 18-row broadcast of the needed bracket indexes picks the two values
  // around each percentile position, (4) linear interpolation replicated
  // BIT-EXACTLY from Percentile.getPercentile (same (hi−pos)·xl +
  // (pos−lo)·xh double arithmetic, same pos = p·(n−1)), so the oracle is
  // unchanged. Everything after the frequency table touches only distinct
  // (group, value) rows — no per-group in-memory map anywhere.
  /** Rank-select core, factored for the lane and its hand-frame spec:
    * exact p25/p50/p75 + min/max per `grp` over `value` (double), one row
    * per group, columns (grp, p25, p50, p75, mn, mx). */
  private[graft] def rankSelectPercentiles(df: DataFrame, grp: String,
                                           value: String): DataFrame = {
    // ONE WindowExec computes everything the selection needs: the 1-based
    // sorted rank (row_number) AND the group count/extrema (full frame)
    // share the same (partition, order) spec, so Spark evaluates all four
    // in a single sort pass whose buffer SPILLS (ExternalAppendOnly array)
    // instead of OOMing. Two slower formulations measured on the way at
    // sf0.1: a broadcast-bracket join back onto the ranked rows re-derived
    // the upstream subtree (3.2 s), and a (group, value)→count pre-agg to
    // shrink the sort input cost more in hash-agg than it saved in sort on
    // this near-distinct column (1.7 s vs 1.3 s) — for columns with heavy
    // duplication the pre-agg variant wins and is the 100 TB fallback when
    // group count is tiny (it bounds the per-group sort at distinct-value
    // count; both variants were proven value-equal in PercTimingSpec's
    // precursor before this one was adopted).
    val wOrd = Window.partitionBy(col(grp)).orderBy(col(value))
    val wAll = wOrd.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val enriched = df.select(col(grp), col(value)).select(
      col(grp), col(value),
      row_number().over(wOrd).as("rn"),
      count(lit(1)).over(wAll).as("n"),
      min(col(value)).over(wAll).as("mn"),
      max(col(value)).over(wAll).as("mx"))
    enriched
      .select(col(grp), col(value), col("rn"), col("mn"), col("mx"),
        explode(array(lit(0.25), lit(0.5), lit(0.75))).as("p"), col("n"))
      .withColumn("pos", col("p") * (col("n") - 1).cast("double"))
      .withColumn("lo", floor(col("pos")))
      .withColumn("hi", ceil(col("pos")))
      .filter(col("rn") === col("lo") + 1 || col("rn") === col("hi") + 1)
      .groupBy(col(grp), col("p"), col("pos"), col("lo"), col("hi"),
        col("mn"), col("mx"))
      .agg(min(when(col("rn") === col("lo") + 1, col(value))).as("xl"),
        min(when(col("rn") === col("hi") + 1, col(value))).as("xh"))
      .withColumn("v", when(col("hi") === col("lo"), col("xl"))
        .otherwise((col("hi").cast("double") - col("pos")) * col("xl") +
          (col("pos") - col("lo").cast("double")) * col("xh")))
      .groupBy(col(grp))
      .agg(min(when(col("p") === 0.25, col("v"))).as("p25"),
        min(when(col("p") === 0.5, col("v"))).as("p50"),
        min(when(col("p") === 0.75, col("v"))).as("p75"),
        min(col("mn")).as("mn"), min(col("mx")).as("mx"))
      .select(col(grp), col("p25"), col("p50"), col("p75"),
        col("mn"), col("mx"))
      .orderBy(col(grp))
  }

  def q20Percentile(spark: SparkSession, dir: String): DataFrame =
    rankSelectPercentiles(Tables.lineitem(spark, dir),
      "l_returnflag", "l_extendedprice")

  val q20PercentileSql: String =
    """SELECT l_returnflag,
      |  CAST(quantile_cont(l_extendedprice, 0.25) AS DOUBLE) AS p25,
      |  CAST(quantile_cont(l_extendedprice, 0.5) AS DOUBLE) AS p50,
      |  CAST(quantile_cont(l_extendedprice, 0.75) AS DOUBLE) AS p75,
      |  min(l_extendedprice) AS mn, max(l_extendedprice) AS mx
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // --- Q22b: map functions -------------------------------------------------
  // DuckDB map extraction yields a single-element list — the oracle
  // unwraps with [1]; Spark element_at is scalar directly.
  def q22MapFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(
        col("event_id"),
        map_from_arrays(
          array(lit("type"), lit("uid")),
          array(col("event_type"), col("user_id").cast("string"))).as("m"))
      .select(
        col("event_id"),
        element_at(col("m"), "type").as("m_type"),
        element_at(col("m"), "uid").as("m_uid"),
        size(col("m")).cast("int").as("m_size"),
        array_join(map_keys(col("m")), ",").as("keys_joined"))
      .orderBy(col("event_id"))

  val q22MapFuncsSql: String =
    """SELECT event_id,
      |  m['type'][1] AS m_type,
      |  m['uid'][1] AS m_uid,
      |  CAST(cardinality(m) AS INT) AS m_size,
      |  array_to_string(map_keys(m), ',') AS keys_joined
      |FROM (SELECT event_id,
      |        map(['type','uid'], [event_type, CAST(user_id AS VARCHAR)]) AS m
      |      FROM events)
      |ORDER BY event_id""".stripMargin

  // --- Q21b: VariantType lane — Spark 4's native open-JSON storage --------
  // parse_json → VARIANT binary encoding → typed variant_get extraction:
  // the engine-internal form of the reference's opaque payloads
  // (SURVEY §1.4 "promoted on demand"). Faster than repeated string
  // re-parsing (one parse, many typed reads); extracted values must equal
  // the string-path oracle exactly.
  def q21Variant(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("v", parse_json(col("props")))
      .select(
        col("event_id"),
        expr("variant_get(v, '$.k', 'bigint')").as("k"),
        expr("CAST(variant_get(v, '$.k', 'double') AS DOUBLE)").as("k_dbl"),
        // missing path ⇒ SQL NULL (is_variant_null would test a JSON null
        // VALUE, a different thing)
        expr("variant_get(v, '$.missing') IS NULL").as("missing_is_null"))
      .orderBy(col("event_id"))

  val q21VariantSql: String =
    """SELECT event_id,
      |  CAST(props->>'k' AS BIGINT) AS k,
      |  CAST(props->>'k' AS DOUBLE) AS k_dbl,
      |  (json_extract(props, '$.missing') IS NULL) AS missing_is_null
      |FROM events ORDER BY event_id""".stripMargin

  // --- Q20c: null semantics ------------------------------------------------
  // The fixtures are NULL-free, so NULLs are manufactured with nullif and
  // exercised through the full conditional family. NULL-safe equality
  // (<=>) is Spark syntax; the oracle uses IS NOT DISTINCT FROM.
  def q20NullFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .withColumn("maybe", nullif(col("l_quantity"), lit(25.0)))
      .select(
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
        col("maybe"),
        coalesce(col("maybe"), lit(-1.0)).as("co"),
        col("maybe").isNull.as("is_n"),
        expr("nvl(maybe, 0.0)").as("nv"),
        expr("CASE WHEN maybe IS NULL THEN 'gone' ELSE 'here' END").as("tag"),
        (col("maybe") <=> col("l_quantity")).as("nse"),
        // isnan(NULL) diverges (Spark false, DuckDB NULL) — route NULLs to
        // a real NaN literal so isnan sees only non-null doubles
        expr("isnan(CASE WHEN maybe IS NULL THEN CAST('NaN' AS DOUBLE) ELSE maybe END)").as("nan_tag"),
        greatest(col("maybe"), lit(0.0)).as("gr"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"))

  val q20NullFuncsSql: String =
    """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, maybe,
      |  coalesce(maybe, -1.0) AS co,
      |  maybe IS NULL AS is_n,
      |  coalesce(maybe, 0.0) AS nv,
      |  CASE WHEN maybe IS NULL THEN 'gone' ELSE 'here' END AS tag,
      |  maybe IS NOT DISTINCT FROM l_quantity AS nse,
      |  isnan(CASE WHEN maybe IS NULL THEN 'NaN'::DOUBLE ELSE maybe END) AS nan_tag,
      |  greatest(maybe, 0.0) AS gr
      |FROM (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity,
      |             nullif(l_quantity, 25.0) AS maybe FROM lineitem)
      |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin

  // --- Q22c: positional explode (Generator with ordinality) ----------------
  def q22PosExplode(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("doc_id") < 50)
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("col").as("tok"))
      .orderBy(col("doc_id"), col("pos"))

  val q22PosExplodeSql: String =
    """SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, toks[i] AS tok
      |FROM (SELECT doc_id, string_split(text,' ') AS toks FROM documents WHERE doc_id < 50),
      |     LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i)
      |ORDER BY doc_id, pos""".stripMargin

  // --- Q17b: multiset set ops (EXCEPT ALL / INTERSECT ALL) -----------------
  // Duplicates manufactured by unioning overlapping windows; bag semantics
  // must match row-for-row.
  def q17MultisetOps(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).select(col("event_id"))
    val a = e.filter(col("event_id") < 200).unionAll(e.filter(col("event_id") < 100))
    val b = e.filter(col("event_id") >= 50 && col("event_id") < 150)
    a.exceptAll(b).withColumn("tag", lit("except_all"))
      .unionAll(a.intersectAll(b).withColumn("tag", lit("intersect_all")))
      .select(col("tag"), col("event_id"))
      .orderBy(col("tag"), col("event_id"))
  }

  val q17MultisetOpsSql: String =
    """WITH a AS (SELECT event_id FROM events WHERE event_id < 200
      |           UNION ALL SELECT event_id FROM events WHERE event_id < 100),
      |     b AS (SELECT event_id FROM events WHERE event_id >= 50 AND event_id < 150)
      |SELECT 'except_all' AS tag, event_id FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
      |UNION ALL
      |SELECT 'intersect_all' AS tag, event_id FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
      |ORDER BY tag, event_id""".stripMargin

  // --- Q09c: correlated scalar subquery (Catalyst decorrelation) -----------
  // Written as SQL so RewriteCorrelatedScalarSubquery does the work —
  // plans as a left outer aggregate join, not a per-row loop.
  def q09ScalarSubquery(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("customer_v")
    Tables.orders(spark, dir).createOrReplaceTempView("orders_v")
    spark.sql(
      """SELECT c_custkey, c_name,
        |  (SELECT CAST(max(o_totalprice) AS DOUBLE) FROM orders_v
        |   WHERE o_custkey = c_custkey) AS max_order
        |FROM customer_v WHERE c_custkey <= 500 ORDER BY c_custkey""".stripMargin)
  }

  val q09ScalarSubquerySql: String =
    """SELECT c_custkey, c_name,
      |  (SELECT CAST(max(o_totalprice) AS DOUBLE) FROM orders
      |   WHERE o_custkey = c_custkey) AS max_order
      |FROM customer WHERE c_custkey <= 500 ORDER BY c_custkey""".stripMargin

  // --- Q20d: ANSI-mode safety family (try_*) -------------------------------
  // Spark 4 runs ANSI (errors on overflow/div-zero/bad cast); the try_*
  // family is the NULL-on-failure escape hatch. Oracle equivalents:
  // try_divide(a,b) ≡ a / nullif(b,0); try_cast exists in both.
  def q20TryFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
        expr("try_divide(l_extendedprice, l_quantity - l_quantity)").as("div0"),
        expr("try_divide(l_extendedprice, l_quantity)").as("divn"),
        expr("try_cast(l_returnflag AS INT)").as("bad_cast"),
        expr("try_cast(CAST(l_linenumber AS STRING) AS INT)").as("good_cast"),
        expr("try_add(l_orderkey, 1L)").as("add1"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"))

  val q20TryFuncsSql: String =
    """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
      |  l_extendedprice / nullif(l_quantity - l_quantity, 0.0) AS div0,
      |  l_extendedprice / l_quantity AS divn,
      |  TRY_CAST(l_returnflag AS INT) AS bad_cast,
      |  TRY_CAST(CAST(l_linenumber AS VARCHAR) AS INT) AS good_cast,
      |  l_orderkey + 1 AS add1
      |FROM lineitem ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin

  // --- Q15e: time-range window frame (RANGE BETWEEN INTERVAL) --------------
  // 7-day trailing revenue per order date — the value-based frame, distinct
  // from row-count frames. DECIMAL lane for the windowed sum.
  def q15RangeFrame(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("orders_v")
    spark.sql(
      """SELECT day, rev,
        |  CAST(sum(CAST(rev AS DECIMAL(18,4))) OVER (
        |    ORDER BY day RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW
        |  ) AS DOUBLE) AS rev_7d
        |FROM (SELECT date_trunc('day', o_orderdate) AS day,
        |             CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS rev
        |      FROM orders_v GROUP BY 1)
        |ORDER BY day""".stripMargin)
  }

  val q15RangeFrameSql: String =
    """SELECT day, rev,
      |  CAST(sum(CAST(rev AS DECIMAL(18,4))) OVER (
      |    ORDER BY day RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW
      |  ) AS DOUBLE) AS rev_7d
      |FROM (SELECT date_trunc('day', o_orderdate) AS day,
      |             CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS rev
      |      FROM orders GROUP BY 1)
      |ORDER BY day""".stripMargin

  // --- Q14c: CUBE with grouping_id -----------------------------------------
  def q14Cube(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(D)).cast("double").as("total"),
        grouping_id().cast("long").as("gid"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("gid"), col("n"), col("total"))
      .orderBy(col("gid"), col("status"), col("priority"))

  val q14CubeSql: String =
    """SELECT coalesce(o_orderstatus, 'ALL') AS status,
      |       coalesce(o_orderpriority, 'ALL') AS priority,
      |       CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT) AS gid,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
      |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
      |ORDER BY gid, status, priority""".stripMargin

  // --- Q16b: explicit NULL ordering ----------------------------------------
  // Engine DEFAULTS differ (Spark: NULLS FIRST asc; DuckDB: NULLS LAST) —
  // checked queries over nullable sort keys must always say which.
  def q16NullOrdering(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .withColumn("maybe", nullif(col("l_quantity"), lit(25.0)))
      .filter(col("l_orderkey") <= 1000)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("maybe"))
      .orderBy(col("maybe").desc_nulls_last, col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey"))

  val q16NullOrderingSql: String =
    """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
      |       nullif(l_quantity, 25.0) AS maybe
      |FROM lineitem WHERE l_orderkey <= 1000
      |ORDER BY maybe DESC NULLS LAST, l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin

  // --- Q11b: aggregate long tail — bitwise, boolean, ordered list, arg-min -
  // collect_list order is partition-dependent: sort_array makes it
  // deterministic; min_by/max_by use a UNIQUE ordering key (ties would be
  // engine-arbitrary).
  def q11AggMisc(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderstatus"))
      .agg(
        expr("bit_and(o_orderkey)").as("band"),
        expr("bit_or(o_orderkey)").as("bor"),
        expr("bit_xor(o_orderkey)").as("bxor"),
        expr("every(o_totalprice > 0)").as("all_pos"),
        expr("any(o_totalprice > 500000)").as("any_big"),
        sort_array(collect_list(col("o_orderpriority"))).as("prios_sorted"),
        expr("min_by(o_orderdate, o_orderkey)").as("first_key_date"),
        expr("max_by(o_orderdate, o_orderkey)").as("last_key_date"))
      // Serialized (not ARRAY): the driver's oracle canonicalizes rows with a
      // pandas sort, which cannot hash array cells — scalar columns only.
      .withColumn("prios_sorted", array_join(slice(col("prios_sorted"), 1, 5), ","))
      .orderBy(col("o_orderstatus"))

  val q11AggMiscSql: String =
    """SELECT o_orderstatus,
      |  bit_and(o_orderkey) AS band, bit_or(o_orderkey) AS bor, bit_xor(o_orderkey) AS bxor,
      |  bool_and(o_totalprice > 0) AS all_pos,
      |  bool_or(o_totalprice > 500000) AS any_big,
      |  array_to_string((list(o_orderpriority ORDER BY o_orderpriority))[1:5], ',') AS prios_sorted,
      |  arg_min(o_orderdate, o_orderkey) AS first_key_date,
      |  arg_max(o_orderdate, o_orderkey) AS last_key_date
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // --- Q18c: encoding / distance functions ---------------------------------
  // hex casing differs (Spark upper, DuckDB lower) → normalized with lower();
  // levenshtein on short columns only (O(n·m) per pair).
  def q18EncodeFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select(
        col("p_partkey"),
        levenshtein(col("p_brand"), col("p_type")).cast("int").as("lev"),
        format_string("%05d", col("p_size")).as("padded"),
        lower(hex(col("p_brand").cast("binary"))).as("hx"),
        base64(col("p_brand").cast("binary")).as("b64"),
        ascii(col("p_name")).cast("int").as("first_code"),
        expr("chr(65 + CAST(p_partkey % 26 AS INT))").as("letter"))
      .orderBy(col("p_partkey"))

  val q18EncodeFuncsSql: String =
    """SELECT p_partkey,
      |  CAST(levenshtein(p_brand, p_type) AS INT) AS lev,
      |  printf('%05d', p_size) AS padded,
      |  lower(hex(p_brand)) AS hx,
      |  base64(CAST(p_brand AS BLOB)) AS b64,
      |  CAST(ascii(p_name) AS INT) AS first_code,
      |  chr(65 + CAST(p_partkey % 26 AS INT)) AS letter
      |FROM part ORDER BY p_partkey""".stripMargin

  // --- Q44: statistical aggregates — corr/covar/stddev, oracle-exactly -----
  // Native corr()/covar_samp()/stddev_samp() are one-pass co-moment
  // aggregates whose float result depends on partition merge ORDER — they
  // can never be hash-exact across engines (or even across two Spark runs
  // with different splits). The checkable formulation: exact DECIMAL power
  // sums (n, Σx, Σy, Σx², Σy², Σxy — partition-order-free by exactness),
  // then ONE double expression per statistic with an identical tree on
  // both engines (IEEE ops are deterministic; only reassociation isn't —
  // same discipline as the q20 lane). StatsAggSpec closes the loop by
  // pinning Spark's native aggregates to these values within 1e-9
  // relative — so the native operators are covered AND the lane is exact.
  // Scale: one hash-shuffle agg, map-side partials; decimal sums widen to
  // (38,8) — no overflow headroom issues below ~1e14 rows per group.
  def q44Stats(spark: SparkSession, dir: String): DataFrame = {
    // DECIMAL(12,4), not the usual (18,4): Spark's (12,4)x(12,4) product is
    // DECIMAL(25,8), exact. DuckDB multiplies decimals in the operands'
    // COMMON STORAGE width — int64 for anything <= 18 digits — and
    // overflows on price^2 regardless of declared result precision, so the
    // oracle widens ONE factor to DECIMAL(24,8) (int128 storage). The
    // engine-side asymmetry is harmless: both products are exact, and
    // exact decimals cast to identical doubles.
    val lq = "CAST(l_quantity AS DECIMAL(12,4))"
    val lp = "CAST(l_extendedprice AS DECIMAL(12,4))"
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        sum(expr(lq)).as("sx"), sum(expr(lp)).as("sy"),
        sum(expr(s"$lq * $lq")).as("sxx"),
        sum(expr(s"$lp * $lp")).as("syy"),
        sum(expr(s"$lq * $lp")).as("sxy"))
      .selectExpr(Seq("l_returnflag", "CAST(n AS BIGINT) AS n") ++ statExprs: _*)
      .orderBy(col("l_returnflag"))
  }

  /** The shared double formulas — one string per statistic, spliced into
    * BOTH the Spark projection and the DuckDB oracle so the expression
    * trees cannot drift. */
  private val statFormulas: Seq[(String, String)] = {
    val n = "CAST(n AS DOUBLE)"
    val (sx, sy, sxx, syy, sxy) = ("CAST(sx AS DOUBLE)", "CAST(sy AS DOUBLE)",
      "CAST(sxx AS DOUBLE)", "CAST(syy AS DOUBLE)", "CAST(sxy AS DOUBLE)")
    // Each statistic is floor-rounded to 9 decimals ON BOTH ENGINES: the
    // a*b - c*d shapes differ by one ULP across engines (fused-multiply-add
    // contraction is compiler territory, not IEEE's), and floor(x*1e9+0.5)
    // is the repo's IEEE-pinned rounding (round() diverges cross-engine —
    // see q25_quantize). Magnitudes here keep x*1e9 far below 2^53.
    def r9(f: String) = s"floor(($f) * 1.0e9 + 0.5) / 1.0e9"
    Seq(
      "var_qty"   -> r9(s"($n * $sxx - $sx * $sx) / ($n * ($n - 1.0))"),
      "std_qty"   -> r9(s"sqrt(($n * $sxx - $sx * $sx) / ($n * ($n - 1.0)))"),
      "covar_qp"  -> r9(s"($n * $sxy - $sx * $sy) / ($n * ($n - 1.0))"),
      "corr_qp"   -> r9(s"($n * $sxy - $sx * $sy) / " +
        s"sqrt(($n * $sxx - $sx * $sx) * ($n * $syy - $sy * $sy))"))
  }

  private val statExprs: Seq[String] =
    statFormulas.map { case (name, f) => s"$f AS $name" }

  val q44StatsSql: String = {
    val stats = statFormulas.map { case (name, f) => s"  $f AS $name" }
      .mkString(",\n")
    s"""WITH s AS (
       |  SELECT l_returnflag, count(*) AS n,
       |    sum(CAST(l_quantity AS DECIMAL(12,4))) AS sx,
       |    sum(CAST(l_extendedprice AS DECIMAL(12,4))) AS sy,
       |    sum(CAST(l_quantity AS DECIMAL(24,8)) * CAST(l_quantity AS DECIMAL(12,4))) AS sxx,
       |    sum(CAST(l_extendedprice AS DECIMAL(24,8)) * CAST(l_extendedprice AS DECIMAL(12,4))) AS syy,
       |    sum(CAST(l_quantity AS DECIMAL(24,8)) * CAST(l_extendedprice AS DECIMAL(12,4))) AS sxy
       |  FROM lineitem GROUP BY 1)
       |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
       |$stats
       |FROM s ORDER BY l_returnflag""".stripMargin
  }

  val lanes: Seq[Lane] = Seq(
    Lane("q44_stats", q44Stats, Exact(q44StatsSql)),
    Lane("q18_encode_funcs", q18EncodeFuncs, Exact(q18EncodeFuncsSql)),
    Lane("q14_cube", q14Cube, Exact(q14CubeSql)),
    Lane("q16_null_ordering", q16NullOrdering, Exact(q16NullOrderingSql)),
    Lane("q11_agg_misc", q11AggMisc, Exact(q11AggMiscSql)),
    Lane("q09_scalar_subquery", q09ScalarSubquery, Exact(q09ScalarSubquerySql)),
    Lane("q20_try_funcs", q20TryFuncs, Exact(q20TryFuncsSql)),
    Lane("q15_range_frame", q15RangeFrame, Exact(q15RangeFrameSql)),
    Lane("q22_pos_explode", q22PosExplode, Exact(q22PosExplodeSql)),
    Lane("q17_multiset_ops", q17MultisetOps, Exact(q17MultisetOpsSql)),
    Lane("q20_null_funcs", q20NullFuncs, Exact(q20NullFuncsSql)),
    Lane("q21_variant", q21Variant, Exact(q21VariantSql)),
    Lane("q14_pivot", q14Pivot, Exact(q14PivotSql)),
    Lane("q15_rank_dist", q15RankDist, Exact(q15RankDistSql)),
    Lane("q18_string2", q18String2, Exact(q18String2Sql)),
    Lane("q19_date2", q19Date2, Exact(q19Date2Sql)),
    Lane("q20_percentile", q20Percentile, Exact(q20PercentileSql)),
    Lane("q22_map_funcs", q22MapFuncs, Exact(q22MapFuncsSql)),
  )

  val defs = lanes.map(l => l.name -> l.build).toMap
}
