package graft

import org.apache.spark.sql.functions._
import graft.queries.Analytics

/** q63 grouped OLS + q64 autocorrelation: closed-form fixtures where the
  * statistics are exactly representable (perfect line → slope/intercept/R²
  * exact; balanced alternating series → ac = −1; period-24 series →
  * lag-24 ac = 1), plus the rebasing-algebra identity against a driver-side
  * BigInt replica — the invariant that licenses computing rebased sums
  * from raw epoch-hour sums in one scan.
  */
class TrendSpec extends SparkSpec {
  import spark.implicits._

  // hour-aligned base (seconds), as in GapfillPropertySpec
  private val Base = 1699999200L

  /** Write an events fixture: one row per (type, hourOffset, value). */
  private def fixture(rows: Seq[(String, Int, Double)]): String = {
    val dir = tempDir("graft_trend").toString
    rows.zipWithIndex.map { case ((t, h, v), i) =>
      (i.toLong, (Base + h * 3600L + 11L) * 1000000000L, 1L, t, v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("q63: a perfect line recovers slope, intercept, and R² = 1 exactly") {
    // y cents = 250 + 3·h over 48 hours
    val dir = fixture((0 until 48).map(h => ("a", h, (250 + 3 * h) / 100.0)))
    val r = Analytics.q63Regression(spark, dir)
      .select($"slope_cph", $"icept_c", $"r2").head()
    assert(r.getDouble(0) === 3.0)
    assert(r.getDouble(1) === 250.0)
    assert(r.getDouble(2) === 1.0)
  }

  test("q63: rebased sums equal a direct driver-side BigInt computation") {
    val rnd = new scala.util.Random(13)
    val pts = (0 until 40).map(h => (h, 100 + rnd.nextInt(900)))
    val dir = fixture(pts.map { case (h, c) => ("a", h, c / 100.0) })
    val row = Analytics.q63Regression(spark, dir)
      .select($"n", $"sx", $"sy", $"sxx", $"sxy", $"syy").head()
    // replica on REBASED x directly (x = h − min h = h here), exact BigInt
    val xs = pts.map(_._1.toLong); val ys = pts.map(_._2.toLong)
    assert(row.getLong(0) === pts.size.toLong)
    assert(row.getLong(1) === xs.sum)
    assert(row.getLong(2) === ys.sum)
    assert(row.getLong(3) === xs.map(x => x * x).sum)
    assert(row.getLong(4) === xs.zip(ys).map { case (x, y) => x * y }.sum)
    assert(row.getLong(5) === ys.map(y => y * y).sum)
  }

  test("q64: balanced alternating series has lag-1 ac = −1 exactly") {
    // 49 hours alternating 1.00 / 3.00 → 48 lag-1 pairs, 24 each direction
    val dir = fixture((0 until 49).map(h => ("a", h, if (h % 2 == 0) 1.0 else 3.0)))
    val by = Analytics.q64Autocorr(spark, dir)
      .collect().map(r => r.getLong(1) -> r).toMap
    assert(by(1L).getAs[Double]("ac") === -1.0)
    assert(by(1L).getAs[Long]("n") === 48L)
  }

  test("q64: period-24 series has lag-24 ac = 1 exactly") {
    // 72 hours, y(h) = 1.00 + 0.50·(h mod 24) → lag-24 pairs are identical
    val dir = fixture((0 until 72).map(h => ("a", h, 1.0 + 0.5 * (h % 24))))
    val by = Analytics.q64Autocorr(spark, dir)
      .collect().map(r => r.getLong(1) -> r).toMap
    assert(by(24L).getAs[Double]("ac") === 1.0)
    assert(by(24L).getAs[Long]("n") === 48L)
  }

  test("q69: rolling 7-day distinct users matches the hand-computed windows") {
    // day offsets (hours = d*24): u1 on day 0; u2 on days 0 and 9; u3 on day 2
    val rows = Seq(("a", 0, 1L), ("a", 0, 2L), ("a", 2 * 24, 3L),
      ("a", 9 * 24, 2L)).map { case (t, h, u) => (t, h, u, 1.0) }
    val dir = {
      val d = tempDir("graft_wau").toString
      rows.zipWithIndex.map { case ((t, h, u, v), i) =>
        (i.toLong, (Base + h * 3600L + 11L) * 1000000000L, u, t, v, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$d/events.parquet")
      d
    }
    val out = graft.queries.Analytics.q69RollingWau(spark, dir)
      .collect().map(r => (r.getTimestamp(0).toLocalDateTime.getDayOfMonth,
        r.getLong(1), r.getLong(2)))
    // Base = 2023-11-14; windows run Nov 14 .. Nov 23 (max observed day)
    val byDay = out.map(t => t._1 -> ((t._2, t._3))).toMap
    assert(out.length === 10)
    assert(byDay(14) === ((2L, 2L))) // u1,u2 active; window {u1,u2}
    assert(byDay(16) === ((1L, 3L))) // u3 active; window {u1,u2,u3}
    assert(byDay(20) === ((0L, 3L))) // idle day; [14,20] still {u1,u2,u3}
    assert(byDay(21) === ((0L, 1L))) // day-14 activity aged out; {u3}
    assert(byDay(23) === ((1L, 1L))) // u2 returns; [17,23] = {u2}
  }

  test("q70: seasonal-naive beats persistence exactly on a period-24 series") {
    // 72 hours: 1.00 at the top of each day, 2.00 otherwise
    val dir = fixture((0 until 72).map(h =>
      ("a", h, if (h % 24 == 0) 1.0 else 2.0)))
    val by = graft.queries.Analytics.q70Backtest(spark, dir)
      .collect().map(r => r.getLong(1) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // lag 24: every pair identical → zero error over 48 pairs
    assert(by(24L) === ((48L, 0L, 0L, 0L)))
    // lag 1: five 100-cent jumps over 71 pairs; telescoped bias = +100
    assert(by(1L) === ((71L, 500L, 500L / 71L, 100L)))
  }

  test("q77: MAD ignores the outlier that corrupts the spread") {
    // cents {100,200,300,400,10000}: median 300, deviations' median 100
    val dir = fixture(Seq(1.0, 2.0, 3.0, 4.0, 100.0).zipWithIndex
      .map { case (v, h) => ("a", h, v) })
    val r = graft.queries.Analytics.q77Mad(spark, dir).head()
    assert(r.getAs[Double]("med") === 300.0)
    assert(r.getAs[Double]("mad") === 100.0)
  }

  test("q78: an on-target series never accumulates; a step shift alarms") {
    // 48 hours at 2.00, then 24 hours at 4.00 → target = 266 cents,
    // slack 13, h = 65; replica the integer fold exactly
    val vals = Seq.fill(48)(200L) ++ Seq.fill(24)(400L)
    val dir = fixture(vals.zipWithIndex.map { case (c, h) => ("a", h, c / 100.0) })
    val out = graft.queries.Analytics.q78Cusum(spark, dir)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getBoolean(3)))
    val target = vals.sum / vals.size; val slack = target / 20; val hh = 5 * slack
    var s = 0L
    val expect = vals.map { y =>
      s = math.max(0L, s + y - target - slack); (s, s > hh) }
    assert(out.map(t => (t._2, t._3)).toSeq === expect)
    // the flat prefix never alarms; the shifted tail does
    assert(!out.take(48).exists(_._3))
    assert(out.drop(50).forall(_._3))
  }

  test("q79: a flat series has a degenerate envelope; a spike breaches it") {
    // 5 days × 2 slots: constant 2.00, one 10.00 spike at day 2, slot 0
    val rows = for (d <- 0 until 5; slot <- Seq(0, 1)) yield
      ("a", d * 24 + slot, if (d == 2 && slot == 0) 10.0 else 2.0)
    val out = graft.queries.Analytics.q79SeasonalEnvelope(spark, fixture(rows))
      .collect().map(r => r.getLong(1) -> r).toMap
    def hod(slot: Int) = (Base / 3600 + slot) % 24 // fixture hour-of-day
    val flat = out(hod(1))
    assert(flat.getAs[Double]("p10") === 200.0 &&
      flat.getAs[Double]("p90") === 200.0)
    assert(flat.getAs[Long]("n_low") === 0L && flat.getAs[Long]("n_high") === 0L)
    val spiked = out(hod(0))
    assert(spiked.getAs[Long]("n_high") === 1L) // the spike exceeds its p90
    assert(spiked.getAs[Long]("n_low") === 0L)
  }

  test("q80: a full rank reversal keeps exactly the ±(n−1) movers") {
    // 12 parts; week 1 counts 13−i, week 2 reversed → only parts 1 and 12
    // move ≥ 10 ranks (gains −11 / +11)
    val mon1 = java.time.LocalDate.of(1970, 1, 5) // Monday, epoch-week 1
    val rows = (for (i <- 1 to 12; c <- 1 to (13 - i)) yield
      (i.toLong, java.sql.Date.valueOf(mon1))) ++
      (for (i <- 1 to 12; c <- 1 to i) yield
        (i.toLong, java.sql.Date.valueOf(mon1.plusDays(7))))
    val dir = tempDir("graft_movers").toString
    rows.toDF("l_partkey", "l_shipdate")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = graft.queries.Analytics.q80RankMovers(spark, dir).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(6))).toSet
      === Set((1L, -11L), (12L, 11L)))
    out.foreach(r => assert(r.getLong(1) === 1L)) // epoch-week index of week 1
  }

  test("q64: a missing hour produces no pair (explicit-gap semantics)") {
    val full = (0 until 30).map(h => ("a", h, 2.0 + (h % 3)))
    val holed = full.filterNot(_._2 == 15)
    val n = Analytics.q64Autocorr(spark, fixture(holed))
      .filter($"lag" === 1L).select($"n").head().getLong(0)
    // 28 present-consecutive pairs minus the two that straddle hour 15
    assert(n === 27L)
  }
}
