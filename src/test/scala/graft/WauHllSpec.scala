package graft

import graft.queries.Analytics

/** q71 sketch-union rolling WAU: exactness in the sparse regime, bounded
  * relative error in the dense (estimating) regime against the exact q69
  * anchor, and run-to-run determinism of the sketch path.
  */
class WauHllSpec extends SparkSpec {
  import spark.implicits._

  private val Base = 1699999200L

  /** days → distinct-user ranges (users overlap across days by design). */
  private def fixture(days: Seq[(Int, Range)]): String = {
    val dir = tempDir("graft_wauhll").toString
    days.flatMap { case (day, users) =>
      users.map(u => (day.toLong * 1000000 + u,
        (Base + day * 86400L + (u % 3600)) * 1000000000L,
        u.toLong, "view", 1.0, "{}"))
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("sparse regime: sketch WAU is exact (err_bp = 0)") {
    val dir = fixture(Seq(0 -> (0 until 200), 1 -> (100 until 300)))
    val out = Analytics.q71WauHll(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach(r => assert(r.getLong(3) === 0L,
      s"sparse sketches must be exact, got ${r.getLong(3)} bp"))
  }

  test("dense regime: union estimate stays within 5% of the exact anchor") {
    // 60k distinct users over 3 days with heavy overlap — well past the
    // lgK=14 sparse→dense transition, so the estimator is genuinely
    // approximating and the union law is doing real work
    val dir = fixture(Seq(
      0 -> (0 until 40000), 1 -> (20000 until 55000), 2 -> (10000 until 60000)))
    val out = Analytics.q71WauHll(spark, dir).collect()
    assert(out.length === 3)
    out.foreach { r =>
      assert(math.abs(r.getLong(3)) < 500L,
        s"window ${r.get(0)}: err ${r.getLong(3)} bp exceeds 5%")
      assert(r.getLong(2) > 0L)
    }
    // the widest window must cover (approximately) all 60k users
    val last = out.last
    assert(math.abs(last.getLong(2) - 60000L) < 3000L)
  }

  test("the sketch path is deterministic run to run") {
    val dir = fixture(Seq(0 -> (0 until 30000), 1 -> (15000 until 45000)))
    val a = Analytics.q71WauHll(spark, dir).collect().map(_.toSeq).toSeq
    val b = Analytics.q71WauHll(spark, dir).collect().map(_.toSeq).toSeq
    assert(a === b)
  }
}
