package graft

import graft.queries.Evaluation

/** q84 exact two-sample KS + q85 tie-aware Spearman: closed-form fixtures
  * (identical / disjoint samples; perfect monotone / inverted / constant
  * metrics) and driver-side brute-force replicas of both statistics —
  * including the integer cross-product form of D and the doubled-average-
  * rank form of ρ the lanes ride.
  */
class DriftRankSpec extends SparkSpec {
  import spark.implicits._

  // 2023-11-14 (ISO week 46, EVEN → sample A) and +7d (week 47, ODD → B).
  private val WeekA = 1699999200L
  private val WeekB = WeekA + 7L * 86400L

  /** events fixture: (userId, eventType, value, inSampleA). */
  private def fixture(rows: Seq[(Long, String, Double, Boolean)]): String = {
    val dir = tempDir("graft_driftrank").toString
    rows.zipWithIndex.map { case ((u, et, v, inA), i) =>
      (i.toLong, ((if (inA) WeekA else WeekB) + i * 60L) * 1000000000L,
        u, et, v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private def ks(rows: Seq[(Long, String, Double, Boolean)])
  : Map[String, (Long, Long, Any, Any)] =
    Evaluation.q84KsDrift(spark, fixture(rows)).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) null else r.getLong(3),
          if (r.isNullAt(4)) null else r.getDouble(4)))).toMap

  test("q84: identical samples give D = 0") {
    val vals = Seq(1.0, 2.0, 2.0, 5.0, 9.0)
    val rows = vals.map(v => (0L, "view", v, true)) ++
      vals.map(v => (0L, "view", v, false))
    val (na, nb, bp, d) = ks(rows)("view")
    assert(na === 5L && nb === 5L && bp === 0L && d === 0.0)
  }

  test("q84: disjoint supports give D = 1 (10000 bp)") {
    val rows = (0 until 6).map(_ => (0L, "view", 1.0, true)) ++
      (0 until 4).map(_ => (0L, "view", 9.0, false))
    val (na, nb, bp, d) = ks(rows)("view")
    assert(na === 6L && nb === 4L && bp === 10000L && d === 1.0)
  }

  test("q84: a single-parity type reports null D, not a divide error") {
    val rows = (0 until 3).map(_ => (0L, "purchase", 2.0, true))
    val (na, nb, bp, d) = ks(rows)("purchase")
    assert(na === 3L && nb === 0L && bp === null && d === null)
  }

  test("q84: matches the brute-force statistic on seeded random samples") {
    val rnd = new scala.util.Random(84)
    val rows = (0 until 200).map(_ =>
      (0L, "click", (rnd.nextInt(25) + 1) / 10.0, rnd.nextBoolean()))
    val (na, nb, bp, d) = ks(rows)("click")
    val a = rows.filter(_._4).map(r => math.round(r._3 * 100)).sorted
    val b = rows.filterNot(_._4).map(r => math.round(r._3 * 100)).sorted
    val ys = (a ++ b).distinct.sorted
    val dnum = ys.map(y =>
      math.abs(a.count(_ <= y).toLong * b.size - b.count(_ <= y).toLong * a.size)).max
    assert(na === a.size.toLong && nb === b.size.toLong)
    assert(bp === dnum * 10000L / (a.size.toLong * b.size))
    assert(d === dnum.toDouble / (a.size.toLong * b.size).toDouble)
  }

  /** q85 fixture: per (user, cnt, cents) — user gets `cnt` events that sum
    * to `cents` (cnt−1 zero-value events + one carrying the full amount;
    * value*100 rounds back exactly for integer cents). All in week A. */
  private def users(rows: Seq[(Long, Int, Long)]): String =
    fixture(rows.flatMap { case (u, cnt, cents) =>
      Seq.fill(cnt - 1)((u, "view", 0.0, true)) :+
        ((u, "view", cents / 100.0, true))
    })

  private def rho(rows: Seq[(Long, Int, Long)]): Map[Long, Any] =
    Evaluation.q85Spearman(spark, users(rows)).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) null else r.getDouble(3))).toMap

  test("q85: perfect monotone association gives rho = 1, inverted −1") {
    val mono = (1 to 8).map(i => (4L * i, i, 100L * i))   // all cohort 0
    assert(rho(mono)(0L) === 1.0)
    val inv = (1 to 8).map(i => (4L * i, i, 100L * (9 - i)))
    assert(rho(inv)(0L) === -1.0)
  }

  test("q85: a constant metric yields null rho, not a divide error") {
    val const = (1 to 6).map(i => (4L * i, 3, 100L * i))  // cnt constant
    assert(rho(const)(0L) === null)
  }

  test("q85: matches the brute-force tie-aware Spearman on seeded data") {
    val rnd = new scala.util.Random(85)
    val rows = (1 to 60).map(i =>
      (4L * i, rnd.nextInt(5) + 1, 100L * (rnd.nextInt(7) + 1)))
    val got = rho(rows)(0L).asInstanceOf[Double]

    // doubled average ranks (integral), then Pearson over BigInt moments
    def r2(xs: Seq[Long]): Map[Long, Long] = {
      val sorted = xs.sorted
      xs.distinct.map { v =>
        val below = sorted.count(_ < v).toLong
        val m = sorted.count(_ == v).toLong
        v -> (2L * below + m + 1L)
      }.toMap
    }
    val rx = r2(rows.map(_._2.toLong))
    val ry = r2(rows.map(_._3))
    val pairs = rows.map(r => (rx(r._2.toLong), ry(r._3)))
    val n = BigInt(pairs.size)
    val sx = pairs.map(p => BigInt(p._1)).sum
    val sy = pairs.map(p => BigInt(p._2)).sum
    val sxx = pairs.map(p => BigInt(p._1) * p._1).sum
    val syy = pairs.map(p => BigInt(p._2) * p._2).sum
    val sxy = pairs.map(p => BigInt(p._1) * p._2).sum
    val want = (n * sxy - sx * sy).toDouble /
      (math.sqrt((n * sxx - sx * sx).toDouble) *
        math.sqrt((n * syy - sy * sy).toDouble))
    assert(got === want)
  }
}
