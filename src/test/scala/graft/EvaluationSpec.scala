package graft

import graft.queries.Evaluation

/** q65 exact AUC + q66 chi-square drift: closed-form fixtures (perfect /
  * inverted / coin-flip separation; zero-drift uniformity) and a brute-force
  * pair-count replica — the identity 2U = Σp(2·cumq+q) the lane rides.
  */
class EvaluationSpec extends SparkSpec {
  import spark.implicits._

  private val Base = 1699999200L

  /** events fixture: (userId, value, isPurchase) rows, one per element. */
  private def fixture(rows: Seq[(Long, Double, Boolean)]): String = {
    val dir = tempDir("graft_eval").toString
    rows.zipWithIndex.map { case ((u, v, pos), i) =>
      (i.toLong, (Base + i * 60L) * 1000000000L, u,
        if (pos) "purchase" else "view", v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private def aucOf(rows: Seq[(Long, Double, Boolean)]): Map[Long, Double] =
    Evaluation.q65Auc(spark, fixture(rows))
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("auc")).toMap

  test("q65: perfect separation gives AUC 1, inversion gives 0, ties give 0.5") {
    val perfect = (0 until 20).map(i => (0L, if (i < 10) 9.0 else 1.0, i < 10))
    assert(aucOf(perfect)(0L) === 1.0)
    val inverted = perfect.map { case (u, v, p) => (u, v, !p) }
    assert(aucOf(inverted)(0L) === 0.0)
    val allTies = (0 until 20).map(i => (0L, 5.0, i < 10))
    assert(aucOf(allTies)(0L) === 0.5)
  }

  test("q65: u2 matches the brute-force pair count on a seeded random cohort") {
    val rnd = new scala.util.Random(31)
    val rows = (0 until 120).map(_ =>
      (3L, (rnd.nextInt(20) + 1) / 10.0, rnd.nextBoolean()))
    val got = Evaluation.q65Auc(spark, fixture(rows)).head()
    val pos = rows.filter(_._3).map(r => math.round(r._2 * 100))
    val neg = rows.filterNot(_._3).map(r => math.round(r._2 * 100))
    val u2 = (for (p <- pos; q <- neg) yield
      if (p > q) 2L else if (p == q) 1L else 0L).sum
    assert(got.getAs[Long]("u2") === u2)
    assert(got.getAs[Long]("n_pos") === pos.size.toLong)
    assert(got.getAs[Long]("n_neg") === neg.size.toLong)
    assert(got.getAs[Double]("auc") ===
      u2.toDouble / (2L * pos.size * neg.size).toDouble)
  }

  test("q65: cohorts are independent (per-group AUC, not global)") {
    val rows = (0 until 20).map(i => (0L, if (i < 10) 9.0 else 1.0, i < 10)) ++
      (0 until 20).map(i => (1L, if (i < 10) 9.0 else 1.0, i >= 10))
    val by = aucOf(rows)
    assert(by(0L) === 1.0 && by(1L) === 0.0)
  }

  test("q66: a homogeneous table has zero drift in every cell") {
    // identical per-week mix → O·N = R·C exactly in every cell
    val rows = for {
      w <- 0 until 3; t <- Seq(true, false); i <- 0 until (if (t) 4 else 8)
    } yield (w.toLong * 100 + i, 1.0, t)
    // spread weeks: reuse fixture but override ts spacing to 7-day steps
    val dir = tempDir("graft_eval").toString
    rows.zipWithIndex.map { case ((u, v, pos), i) =>
      val week = u / 100
      (i.toLong, (Base + week * 7 * 86400L + (i % 100) * 60L) * 1000000000L,
        u, if (pos) "purchase" else "view", v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Evaluation.q66ChisqDrift(spark, dir).collect()
    assert(out.length === 6) // 2 types × 3 weeks
    out.foreach(r => assert(r.getAs[Long]("contrib_bp") === 0L))
  }

  test("q68: bin boundaries, rates, and mean scores are integer-exact") {
    // bin 0: 20.00 (2000c = bin 1!) — use 19.99 → 1999c bin 0; bin 1: 20.01
    val rows = Seq.fill(3)((0L, 19.99, true)) ++ Seq.fill(5)((0L, 19.99, false)) ++
      Seq.fill(7)((0L, 20.01, true)) ++ Seq.fill(1)((0L, 20.01, false))
    val out = Evaluation.q68Calibration(spark, fixture(rows))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out(0L) === ((8L, 3L, 3750L, 1999L))) // 3/8 = 37.50%
    assert(out(1L) === ((8L, 7L, 8750L, 2001L)))
  }

  test("q68: exact bin-edge cents land in the upper bin (floor division)") {
    val rows = Seq((0L, 20.00, true), (0L, 39.99, false))
    val out = Evaluation.q68Calibration(spark, fixture(rows)).collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L))
    assert(out.head.getLong(1) === 2L)
  }

  test("q72: a Benford-proportioned fixture has zero deviation in every digit") {
    // 10 000 values whose first cent-digits follow 3010/1761/…/458 exactly
    val shares = Seq(3010, 1761, 1249, 969, 792, 669, 580, 512, 458)
    val rows = shares.zipWithIndex.flatMap { case (cnt, i) =>
      (0 until cnt).map(_ => (0L, (i + 1) * 1.0, false)) // (i+1)·100 cents
    }
    val out = graft.queries.Evaluation.q72Benford(spark, fixture(rows)).collect()
    assert(out.length === 9)
    out.foreach(r => assert(r.getLong(4) === 0L,
      s"digit ${r.getLong(0)}: dev ${r.getLong(4)}"))
  }

  test("q72: a uniform-digit fixture deviates by the known closed form") {
    val rows = (1 to 9).flatMap(d => (0 until 1000).map(_ => (0L, d * 1.0, false)))
    val out = graft.queries.Evaluation.q72Benford(spark, fixture(rows))
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(out(1L) === 1111L - 3010L)
    assert(out(9L) === 1111L - 458L)
  }

  test("q66: a shifted week produces positive drift contributions") {
    val rows = (
      (0 until 10).map(i => (i.toLong, 1.0, true)) ++      // week 0: 10/2
      (0 until 2).map(i => (100L + i, 1.0, false)) ++
      (0 until 2).map(i => (200L + i, 1.0, true)) ++       // week 1: 2/10
      (0 until 10).map(i => (300L + i, 1.0, false)))
    val dir = tempDir("graft_eval").toString
    rows.zipWithIndex.map { case ((u, v, pos), i) =>
      val week = u / 200
      (i.toLong, (Base + week * 7 * 86400L + i * 60L) * 1000000000L,
        u, if (pos) "purchase" else "view", v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Evaluation.q66ChisqDrift(spark, dir).collect()
    assert(out.forall(_.getAs[Long]("n") === 24L))
    assert(out.count(_.getAs[Long]("contrib_bp") > 0L) === 4)
  }
}
