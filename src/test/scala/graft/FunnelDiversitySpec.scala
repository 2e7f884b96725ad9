package graft

import graft.queries.{Analytics, TextOps}

/** q89 lead-lag cross-correlation, q90 Simpson diversity, q91 ordered
  * funnel: closed-form fixtures (a pure 2-hour shift ⇒ r = 1 at lag 2;
  * uniform corpus ⇒ effective vocabulary = V; out-of-order stage events
  * must NOT convert) and exact hand counts.
  */
class FunnelDiversitySpec extends SparkSpec {
  import spark.implicits._

  private val Hour = 3600L
  private val Base = 1699999200L // 2023-11-14T22:00Z, on the hour

  /** events fixture: (userId, eventType, offsetSeconds). */
  private def events(rows: Seq[(Long, String, Long)]): String = {
    val dir = tempDir("graft_funnel").toString
    rows.zipWithIndex.map { case ((u, et, off), i) =>
      (i.toLong, (Base + off) * 1000000000L, u, et, 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("q89: a pure 2-hour shift gives cross-correlation exactly 1 at lag 2") {
    // view counts per hour h0..h3: 1,2,3,4; purchases identical but 2h later
    val views = (0 until 4).flatMap(h =>
      (0 to h).map(k => (0L, "view", h * Hour + k)))
    val purchases = (0 until 4).flatMap(h =>
      (0 to h).map(k => (0L, "purchase", (h + 2) * Hour + k)))
    val got = Analytics.q89LeadLag(spark, events(views ++ purchases))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), if (r.isNullAt(7)) null else r.getDouble(7))).toMap
    assert(got(2L) === ((4L, 1.0))) // all four hours align, identical series
  }

  test("q89: moments match a hand count on a misaligned pair") {
    // views at h0..h2 counts 1,2,3; purchases at h1,h2 counts 5,1 →
    // lag 0 pairs: (2,5),(3,1); lag 1 pairs: (1,5),(2,1)
    val rows =
      Seq.fill(1)((0L, "view", 0L * Hour)) ++
        Seq.fill(2)((0L, "view", 1L * Hour)) ++
        Seq.fill(3)((0L, "view", 2L * Hour)) ++
        Seq.fill(5)((0L, "purchase", 1L * Hour)) ++
        Seq.fill(1)((0L, "purchase", 2L * Hour))
    val got = Analytics.q89LeadLag(spark, events(rows)).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(6)))).toMap
    assert(got(0L) === ((2L, 5L, 6L, 13L))) // n, Σy0, Σy1, Σy0y1
    assert(got(1L) === ((2L, 3L, 6L, 7L)))
  }

  /** documents fixture for q90. */
  private def docs(rows: Seq[(Long, String, String)]): String = {
    val dir = tempDir("graft_simpson").toString
    rows.toDF("doc_id", "lang", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def simpson(rows: Seq[(Long, String, String)])
  : Map[String, (Long, Long, Long, Long)] =
    TextOps.q90Simpson(spark, docs(rows)).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap

  test("q90: uniform corpus has effective vocabulary = V, single-type = 1") {
    val uni = simpson(Seq((0L, "en", "a b c d a b c d")))("en")
    assert(uni === ((8L, 4L, 2500L, 4L))) // Σc²=16, 16·10⁴/64, 64/16
    val one = simpson(Seq((1L, "fr", "x x x")))("fr")
    assert(one === ((3L, 1L, 10000L, 1L)))
  }

  test("q90: skewed counts follow the exact integer formula") {
    val got = simpson(Seq((0L, "en", "a a b b"), (1L, "en", "a a")))("en")
    // counts: a=4, b=2 → N=6, Σc²=20 → bp = 200000/36 = 5555, eff = 36/20 = 1
    assert(got === ((6L, 2L, 5555L, 1L)))
  }

  test("q91: the order constraint is enforced, stage by stage") {
    val rows = Seq(
      // user 0: view → click → purchase, in order: converts fully
      (0L, "view", 0L), (0L, "click", 10L), (0L, "purchase", 20L),
      // user 4: click BEFORE first view — click must not count; a later
      // purchase (after the never-reached click stage) must not either
      (4L, "click", 0L), (4L, "view", 10L), (4L, "purchase", 20L),
      // user 8: view → purchase but no click: funnel stops at stage 1
      (8L, "view", 0L), (8L, "purchase", 10L),
      // user 12: no view at all (error only): counted as a user, stage 0
      (12L, "error", 0L))
    val got = Analytics.q91Funnel(spark, events(rows)).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), if (r.isNullAt(5)) null else r.getLong(5)))).toMap
    assert(got(0L) === ((4L, 3L, 1L, 1L, 3333L)))
  }

  test("q91: simultaneous timestamps do not convert (strictly-after rule)") {
    val rows = Seq((0L, "view", 0L), (0L, "click", 0L), (0L, "purchase", 5L))
    val got = Analytics.q91Funnel(spark, events(rows)).head()
    assert(got.getLong(2) === 1L && got.getLong(3) === 0L && got.getLong(4) === 0L)
  }
}
