package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Exact, Lane}
import graft.core.Tables

/** Model/segment EVALUATION statistics at warehouse scale: exact AUC by the
  * Mann-Whitney pair-counting identity and a chi-square homogeneity drift
  * test — the two numbers a training pipeline watches between dataset
  * versions ("did the score get better?", "did the distribution move?").
  *
  * Determinism discipline (the q59/q63 house rules): every aggregate is an
  * exact integer; doubles appear only at the very end of a fixed IEEE
  * chain, or not at all (chi-square contributions are integer basis points
  * with documented DIV truncation).
  */
object Evaluation {

  // --- Q65: exact grouped AUC (Mann-Whitney with ties) ----------------------
  // AUC of `value` as a ranking score for "is this a purchase", per user
  // cohort (user_id % 8). The scale move: AUC needs a GLOBAL rank pass in
  // its textbook form — O(n log n) sort of 10¹² rows — but the pair-count
  // identity U = #[score⁺ > score⁻] + ½·#[score⁺ = score⁻] only needs the
  // BY-SCORE contingency table: one combining groupBy collapses the event
  // stream to ≤ |score domain| rows per cohort (scores are integer cents,
  // so the domain — not the row count — bounds the table), then a window
  // cumsum over each cohort's score axis and one weighted sum finish it.
  // 2·U stays integral (u2 = Σ pₛ·(2·cumNegBelow + negₛ)), so the ONLY
  // double is the final u2 / (2·n⁺·n⁻) division — bit-identical in both
  // engines. The window partitions by cohort and orders by the bounded
  // score axis: its per-partition row count is domain-bounded at ANY data
  // scale, which is what makes a window (single task per cohort) safe here.
  def q65Auc(spark: SparkSession, dir: String): DataFrame = {
    val byScore = Tables.events(spark, dir)
      .select((col("user_id") % 8).as("cohort"),
        expr("CAST(round(value * 100) AS BIGINT)").as("y"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
      .groupBy(col("cohort"), col("y"))
      .agg(sum(col("pos")).as("p"), sum(lit(1L) - col("pos")).as("q"))
    val w = Window.partitionBy(col("cohort")).orderBy(col("y"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val s = byScore
      .withColumn("cumq", coalesce(sum(col("q")).over(w), lit(0L)))
      .groupBy(col("cohort"))
      .agg(sum(col("p")).as("n_pos"), sum(col("q")).as("n_neg"),
        sum(col("p") * (lit(2L) * col("cumq") + col("q"))).as("u2"),
        sum(col("p") * col("q")).as("tie_pairs"))
    s.select(col("cohort"), col("n_pos"), col("n_neg"), col("u2"),
        col("tie_pairs"),
        (col("u2").cast("double")
          / (lit(2L) * col("n_pos") * col("n_neg")).cast("double")).as("auc"))
      .orderBy(col("cohort"))
  }

  val q65AucSql: String =
    """WITH b AS (
      |  SELECT user_id % 8 AS cohort,
      |         CAST(round(value * 100) AS BIGINT) AS y,
      |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
      |  FROM events),
      |t AS (
      |  SELECT cohort, y, CAST(sum(pos) AS BIGINT) AS p,
      |         CAST(sum(1 - pos) AS BIGINT) AS q
      |  FROM b GROUP BY 1, 2),
      |c AS (
      |  SELECT cohort, y, p, q,
      |         COALESCE(CAST(sum(q) OVER (PARTITION BY cohort ORDER BY y
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
      |           0) AS cumq
      |  FROM t),
      |s AS (
      |  SELECT cohort, CAST(sum(p) AS BIGINT) AS n_pos,
      |         CAST(sum(q) AS BIGINT) AS n_neg,
      |         CAST(sum(p * (2 * cumq + q)) AS BIGINT) AS u2,
      |         CAST(sum(p * q) AS BIGINT) AS tie_pairs
      |  FROM c GROUP BY 1)
      |SELECT cohort, n_pos, n_neg, u2, tie_pairs,
      |       CAST(u2 AS DOUBLE) / CAST(2 * n_pos * n_neg AS DOUBLE) AS auc
      |FROM s ORDER BY cohort""".stripMargin

  // --- Q66: chi-square drift (event-type × week homogeneity) ---------------
  // "Did the event mix move across the month?" — the contingency-table
  // homogeneity test between time slices, the canonical distribution-drift
  // gate between dataset versions. One combining groupBy builds the
  // (type, week) cell counts; margins come from two tiny re-aggregations of
  // the CELL table (≤ types × weeks rows — never a second pass over
  // events), joined back broadcast-style. Per-cell contribution
  // (O·N − R·C)² / (N·R·C) is emitted in INTEGER BASIS POINTS with pinned
  // two-step DIV truncation ((dnum DIV (R·C)) ·10⁴ DIV N — the q59
  // integer-basis-point discipline; (O·N − R·C)² ≤ ~10¹⁸ stays in int64 at
  // sf0.1, the 1000× variant lifts dnum to DECIMAL(38,0) with the same
  // shape) — no double is ever summed, so the statistic is hash-exact and
  // the total is a plain integer sum of the per-cell rows.
  def q66ChisqDrift(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(spark, dir)
      .groupBy(col("event_type"),
        expr("CAST(weekofyear(ts) AS BIGINT)").as("week"))
      .agg(count(lit(1)).as("o"))
      // barrier (r12 ScanAudit): WITHOUT it the "never a second pass over
      // events" claim above was comment/code drift — cells feeds the two
      // margin aggs, the grand total AND the join, and Catalyst shares no
      // subtrees across them, so events was scanned 4×. The materialized
      // frame is ≤ types × weeks rows.
      .localCheckpoint(true)
    val rowTot = cells.groupBy(col("event_type")).agg(sum(col("o")).as("r"))
    val colTot = cells.groupBy(col("week")).agg(sum(col("o")).as("c"))
    val n = cells.agg(sum(col("o")).as("n"))
    val joined = cells.join(rowTot, Seq("event_type"))
      .join(colTot, Seq("week"))
      .crossJoin(broadcast(n))
    // dnum² in DECIMAL(38,0): O·N−R·C fits int64 but its square crosses
    // 2⁶³ already at 128× volume (128× rehearsal finding — ANSI overflow);
    // the quotient re-enters int64 (≤ ~10¹³), div semantics unchanged
    joined
      .withColumn("dnum",
        (col("o") * col("n") - col("r") * col("c"))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0)))
      .select(col("event_type"), col("week"), col("o"), col("r"),
        col("c"), col("n"),
        expr("CAST((dnum * dnum) div (r * c) AS BIGINT) * 10000 div n")
          .as("contrib_bp"))
      .orderBy(col("event_type"), col("week"))
  }

  val q66ChisqDriftSql: String =
    """WITH cells AS (
      |  SELECT event_type, CAST(weekofyear(ts) AS BIGINT) AS week,
      |         CAST(count(*) AS BIGINT) AS o
      |  FROM events GROUP BY 1, 2),
      |rt AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS r
      |       FROM cells GROUP BY 1),
      |ct AS (SELECT week, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY 1),
      |nt AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells)
      |SELECT cells.event_type, cells.week, o, r, c, n,
      |       CAST((CAST(o*n - r*c AS HUGEINT) * CAST(o*n - r*c AS HUGEINT))
      |            // (r*c) AS BIGINT) * 10000 // n AS contrib_bp
      |FROM cells JOIN rt USING (event_type) JOIN ct USING (week) CROSS JOIN nt
      |ORDER BY cells.event_type, cells.week""".stripMargin

  // --- Q68: calibration bins (the reliability diagram at scale) ------------
  // The third leg of the eval trio (ranking = q65, drift = q66,
  // calibration = here): bucket the score axis, compare each bucket's
  // observed positive rate to its mean score. One combining groupBy over
  // fixed-width integer bins — 10¹² rows collapse to ≤ |domain|/width
  // rows, ECE/reliability curves derive from the lane's rows without
  // another pass. Everything integral: rate and mean score are emitted in
  // basis points via DIV (the q59/q66 discipline) — no doubles at all, so
  // the lane is hash-exact by construction and the bin table is safely
  // mergeable across data slices (integer sums).
  /** ONE bin-grain reduction shared by the batch lane and the streaming
    * maintenance (StreamingJobs.calibrationMaintain) — the fingerprint
    * discipline: the live table can only stay equal to the batch lane if
    * both fold through the same definition. Output columns are the
    * integer-mergeable sufficient statistics (n, pos, sum_y per bin). */
  private[graft] def calibrationDelta(events: DataFrame): DataFrame =
    events
      .select(expr("CAST(round(value * 100) AS BIGINT)").as("y"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
      .groupBy(expr("y div 2000").as("bin")) // 2 000 cents per bin
      .agg(count(lit(1)).as("n"), sum(col("pos")).as("pos"),
        sum(col("y")).as("sum_y"))

  /** Derived reliability columns from the mergeable bin statistics. */
  private[graft] def calibrationDerive(bins: DataFrame): DataFrame =
    bins.select(col("bin"), col("n"), col("pos"),
        expr("pos * 10000 div n").as("rate_bp"),
        expr("sum_y div n").as("mean_cents"))
      .orderBy(col("bin"))

  def q68Calibration(spark: SparkSession, dir: String): DataFrame =
    calibrationDerive(calibrationDelta(Tables.events(spark, dir))
      .select(col("bin"), col("n"), col("pos"), col("sum_y")))

  val q68CalibrationSql: String =
    """WITH b AS (
      |  SELECT CAST(round(value * 100) AS BIGINT) AS y,
      |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
      |  FROM events),
      |g AS (
      |  SELECT y // 2000 AS bin, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(pos) AS BIGINT) AS pos,
      |         CAST(sum(y) AS BIGINT) AS sum_y
      |  FROM b GROUP BY 1)
      |SELECT bin, n, pos, pos * 10000 // n AS rate_bp,
      |       sum_y // n AS mean_cents
      |FROM g ORDER BY bin""".stripMargin

  // --- Q72: Benford first-digit screen (fraud/corruption DQ test) ----------
  // The forensic-accounting classic as a warehouse DQ lane: the observed
  // first-significant-digit distribution of a positive measure against
  // Benford's log₁₀(1+1/d) expectation. The expected shares are COMPILE-
  // TIME integer basis points (3010…458, summing to exactly 10⁴) — no
  // transcendental is ever evaluated at runtime, so there is no libm
  // parity question (the q59 finding). First digit via string head — the
  // one definition both engines share exactly. One combining groupBy (9
  // result rows at any scale); deviation emitted as signed bp DIFFERENCE
  // (no division of negatives). The synthetic uniform-ish values here
  // rightly FAIL Benford — the lane is the screen, not a claim about the
  // data; DQ consumers alert on |dev_bp|.
  private val BenfordBp = Seq(3010L, 1761L, 1249L, 969L, 792L, 669L, 580L,
    512L, 458L)

  def q72Benford(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val exp = BenfordBp.zipWithIndex
      .map { case (bp, i) => (i + 1L, bp) }
      .toDF("digit", "exp_bp")
    val obs = Tables.events(spark, dir)
      .select(expr("CAST(round(value * 100) AS BIGINT)").as("y"))
      .filter(col("y") > 0L)
      .groupBy(expr("CAST(substring(CAST(y AS STRING), 1, 1) AS BIGINT)")
        .as("digit"))
      .agg(count(lit(1)).as("n"))
    val tot = obs.agg(sum(col("n")).as("tot"))
    obs.join(broadcast(exp), Seq("digit"), "right")
      .crossJoin(broadcast(tot))
      .select(col("digit"), coalesce(col("n"), lit(0L)).as("n"),
        expr("coalesce(n, 0) * 10000 div tot").as("obs_bp"), col("exp_bp"),
        (expr("coalesce(n, 0) * 10000 div tot") - col("exp_bp")).as("dev_bp"))
      .orderBy(col("digit"))
  }

  val q72BenfordSql: String =
    """WITH exp AS (
      |  SELECT * FROM (VALUES (1, 3010), (2, 1761), (3, 1249), (4, 969),
      |    (5, 792), (6, 669), (7, 580), (8, 512), (9, 458))
      |    AS t(digit, exp_bp)),
      |o AS (
      |  SELECT CAST(substring(CAST(CAST(round(value * 100) AS BIGINT)
      |           AS VARCHAR), 1, 1) AS BIGINT) AS digit,
      |         CAST(count(*) AS BIGINT) AS n
      |  FROM events WHERE CAST(round(value * 100) AS BIGINT) > 0
      |  GROUP BY 1),
      |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM o)
      |SELECT CAST(exp.digit AS BIGINT) AS digit,
      |       COALESCE(o.n, 0) AS n,
      |       COALESCE(o.n, 0) * 10000 // tot AS obs_bp,
      |       CAST(exp.exp_bp AS BIGINT) AS exp_bp,
      |       COALESCE(o.n, 0) * 10000 // tot - exp.exp_bp AS dev_bp
      |FROM exp LEFT JOIN o ON exp.digit = o.digit CROSS JOIN t
      |ORDER BY digit""".stripMargin

  // --- Q84: exact two-sample Kolmogorov–Smirnov drift ----------------------
  // The distribution-level complement of q66's cell-level chi-square: the
  // KS statistic D = sup|F_A − F_B| between even- and odd-week event values,
  // per event_type. Textbook KS sorts both samples — O(n log n) global sort
  // at 10¹² rows — but D only needs the BY-VALUE contingency table (q65's
  // move): one combining groupBy collapses the stream to ≤ |cents domain|
  // rows per type, a domain-bounded window builds both inclusive CDFs at
  // once, and D falls out of one max. Exactness: F_A−F_B is compared as the
  // INTEGER cross-product |cumA·nB − cumB·nA| (DECIMAL(38,0): cum·n crosses
  // 2⁶³ near 10¹⁰ rows/sample); the only doubles are the final reported d.
  // d_bp is the q59 integer-DIV discipline (nullif: a type seen in one
  // parity only has n_a·n_b = 0 — null, not ANSI DIVIDE_BY_ZERO).
  def q84KsDrift(spark: SparkSession, dir: String): DataFrame = {
    val D = org.apache.spark.sql.types.DecimalType(38, 0)
    val cells = Tables.events(spark, dir)
      .select(col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("y"),
        when(expr("CAST(weekofyear(ts) AS BIGINT)") % 2 === 0, 1L)
          .otherwise(0L).as("in_a"))
      .groupBy(col("event_type"), col("y"))
      .agg(sum(col("in_a")).as("a"), sum(lit(1L) - col("in_a")).as("b"))
    val cdf = Window.partitionBy(col("event_type")).orderBy(col("y"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy(col("event_type"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cells
      .withColumn("cum_a", sum(col("a")).over(cdf))
      .withColumn("cum_b", sum(col("b")).over(cdf))
      .withColumn("n_a", sum(col("a")).over(tot))
      .withColumn("n_b", sum(col("b")).over(tot))
      .withColumn("diff",
        abs(col("cum_a").cast(D) * col("n_b").cast(D)
          - col("cum_b").cast(D) * col("n_a").cast(D)))
      .groupBy(col("event_type"))
      .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        max(col("diff")).as("dnum"))
      .select(col("event_type"), col("n_a"), col("n_b"),
        // CASE, not nullif: ANSI decimal div raises DIVIDE_BY_ZERO eagerly
        // on the un-branched form; both engines return null for a type seen
        // in one parity only
        when(col("n_a") === 0L || col("n_b") === 0L, lit(null))
          .otherwise(expr("CAST(dnum * 10000 div (CAST(n_a AS DECIMAL(38,0)) " +
            "* CAST(n_b AS DECIMAL(38,0))) AS BIGINT)")).as("d_bp"),
        when(col("n_a") === 0L || col("n_b") === 0L, lit(null))
          .otherwise(col("dnum").cast("double")
            / (col("n_a").cast("double") * col("n_b").cast("double"))).as("d"))
      .orderBy(col("event_type"))
  }

  val q84KsDriftSql: String =
    """WITH cells AS (
      |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS y,
      |         CAST(sum(CASE WHEN CAST(weekofyear(ts) AS BIGINT) % 2 = 0
      |                       THEN 1 ELSE 0 END) AS BIGINT) AS a,
      |         CAST(sum(CASE WHEN CAST(weekofyear(ts) AS BIGINT) % 2 = 0
      |                       THEN 0 ELSE 1 END) AS BIGINT) AS b
      |  FROM events GROUP BY 1, 2),
      |c AS (
      |  SELECT event_type,
      |         CAST(sum(a) OVER w AS BIGINT) AS cum_a,
      |         CAST(sum(b) OVER w AS BIGINT) AS cum_b,
      |         CAST(sum(a) OVER t AS BIGINT) AS n_a,
      |         CAST(sum(b) OVER t AS BIGINT) AS n_b
      |  FROM cells
      |  WINDOW w AS (PARTITION BY event_type ORDER BY y
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |         t AS (PARTITION BY event_type ROWS BETWEEN UNBOUNDED
      |               PRECEDING AND UNBOUNDED FOLLOWING)),
      |s AS (
      |  SELECT event_type, max(n_a) AS n_a, max(n_b) AS n_b,
      |         max(abs(CAST(cum_a AS HUGEINT) * n_b
      |                 - CAST(cum_b AS HUGEINT) * n_a)) AS dnum
      |  FROM c GROUP BY 1)
      |SELECT event_type, n_a, n_b,
      |       CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
      |            ELSE CAST(dnum * 10000 // (CAST(n_a AS HUGEINT) * n_b)
      |                      AS BIGINT) END AS d_bp,
      |       CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
      |            ELSE CAST(dnum AS DOUBLE)
      |              / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) END AS d
      |FROM s ORDER BY event_type""".stripMargin

  // --- Q85: Spearman rank correlation (tie-aware, domain-bounded ranks) ----
  // Rank correlation between per-user activity (event count) and spend
  // (total cents), per cohort — "do heavy users spend more?" without q63's
  // linearity assumption. The scale hazard is the RANK: a per-cohort
  // row_number window is one task over n/4 users. Instead ranks come from
  // the VALUE-DOMAIN contingency (q65/q84's move): the average rank of a
  // tie group at value v is cum_below(v) + (m_v+1)/2, so a domain-bounded
  // window over the ≤ |domain| distinct values yields every user's DOUBLED
  // average rank (2r — integral, no .5s) and two hash joins fan it back to
  // users. Pearson moments over (2rx, 2ry) in DECIMAL(38,0) (rank products
  // sum to ~8n³ — past 2⁶³ near 10⁶ users/cohort); the doubles are the
  // final fixed chain num/(√d1·√d2) — IEEE sqrt is correctly rounded, so
  // both engines agree bitwise. nullif guards the constant-vector cohort.
  def q85Spearman(spark: SparkSession, dir: String): DataFrame = {
    val D = org.apache.spark.sql.types.DecimalType(38, 0)
    def d(c: org.apache.spark.sql.Column) = c.cast(D)
    val users = Tables.events(spark, dir)
      .groupBy((col("user_id") % 4).as("cohort"), col("user_id"))
      .agg(count(lit(1)).as("cnt"),
        sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
      // barrier (r12 ScanAudit): users feeds both rank frames AND the
      // closing joins — 3 events scans unbarriered; one row per user here
      .localCheckpoint(true)
    def rank2(metric: String) = {
      val grp = users.groupBy(col("cohort"), col(metric)).agg(count(lit(1)).as("m"))
      val below = Window.partitionBy(col("cohort")).orderBy(col(metric))
        .rowsBetween(Window.unboundedPreceding, -1)
      grp.select(col("cohort"), col(metric),
        (lit(2L) * coalesce(sum(col("m")).over(below), lit(0L))
          + col("m") + lit(1L)).as(s"r2_$metric"))
    }
    val ranked = users
      .join(rank2("cnt"), Seq("cohort", "cnt"))
      .join(rank2("cents"), Seq("cohort", "cents"))
    val s = ranked.groupBy(col("cohort")).agg(
      count(lit(1)).as("n"),
      sum(col("r2_cnt")).as("sx"), sum(col("r2_cents")).as("sy"),
      sum(d(col("r2_cnt")) * d(col("r2_cnt"))).as("sxx"),
      sum(d(col("r2_cents")) * d(col("r2_cents"))).as("syy"),
      sum(d(col("r2_cnt")) * d(col("r2_cents"))).as("sxy"))
    s.select(col("cohort"), col("n"), col("sxy").cast("long").as("sxy"),
        ((d(col("n")) * col("sxy") - d(col("sx")) * d(col("sy"))).cast("double")
          / (sqrt(expr("CAST(nullif(CAST(n AS DECIMAL(38,0)) * sxx " +
              "- CAST(sx AS DECIMAL(38,0)) * CAST(sx AS DECIMAL(38,0)), 0) " +
              "AS DOUBLE)"))
            * sqrt(expr("CAST(nullif(CAST(n AS DECIMAL(38,0)) * syy " +
              "- CAST(sy AS DECIMAL(38,0)) * CAST(sy AS DECIMAL(38,0)), 0) " +
              "AS DOUBLE)")))).as("rho"))
      .orderBy(col("cohort"))
  }

  val q85SpearmanSql: String =
    """WITH u AS (
      |  SELECT user_id % 4 AS cohort, user_id,
      |         CAST(count(*) AS BIGINT) AS cnt,
      |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      |  FROM events GROUP BY 1, 2),
      |rx AS (
      |  SELECT cohort, cnt,
      |         2 * COALESCE(CAST(sum(m) OVER (PARTITION BY cohort ORDER BY cnt
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
      |             0) + m + 1 AS r2_cnt
      |  FROM (SELECT cohort, cnt, CAST(count(*) AS BIGINT) AS m
      |        FROM u GROUP BY 1, 2)),
      |ry AS (
      |  SELECT cohort, cents,
      |         2 * COALESCE(CAST(sum(m) OVER (PARTITION BY cohort ORDER BY cents
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
      |             0) + m + 1 AS r2_cents
      |  FROM (SELECT cohort, cents, CAST(count(*) AS BIGINT) AS m
      |        FROM u GROUP BY 1, 2)),
      |r AS (
      |  SELECT u.cohort, r2_cnt, r2_cents
      |  FROM u JOIN rx ON u.cohort = rx.cohort AND u.cnt = rx.cnt
      |         JOIN ry ON u.cohort = ry.cohort AND u.cents = ry.cents),
      |s AS (
      |  SELECT cohort, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(r2_cnt) AS HUGEINT) AS sx,
      |         CAST(sum(r2_cents) AS HUGEINT) AS sy,
      |         CAST(sum(CAST(r2_cnt AS HUGEINT) * r2_cnt) AS HUGEINT) AS sxx,
      |         CAST(sum(CAST(r2_cents AS HUGEINT) * r2_cents) AS HUGEINT) AS syy,
      |         CAST(sum(CAST(r2_cnt AS HUGEINT) * r2_cents) AS HUGEINT) AS sxy
      |  FROM r GROUP BY 1)
      |SELECT cohort, n, CAST(sxy AS BIGINT) AS sxy,
      |       CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE)
      |         / (sqrt(CAST(nullif(CAST(n AS HUGEINT) * sxx - sx * sx, 0)
      |                      AS DOUBLE))
      |            * sqrt(CAST(nullif(CAST(n AS HUGEINT) * syy - sy * sy, 0)
      |                        AS DOUBLE))) AS rho
      |FROM s ORDER BY cohort""".stripMargin

  val lanes: Seq[Lane] = Seq(
    Lane("q65_auc", q65Auc, Exact(q65AucSql)),
    Lane("q66_chisq_drift", q66ChisqDrift, Exact(q66ChisqDriftSql)),
    Lane("q68_calibration", q68Calibration, Exact(q68CalibrationSql)),
    Lane("q72_benford", q72Benford, Exact(q72BenfordSql)),
    Lane("q84_ks_drift", q84KsDrift, Exact(q84KsDriftSql)),
    Lane("q85_spearman", q85Spearman, Exact(q85SpearmanSql)),
  )

  val defs = lanes.map(l => l.name -> l.build).toMap
}
