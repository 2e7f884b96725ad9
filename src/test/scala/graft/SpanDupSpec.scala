package graft

import graft.queries.Similarity

/** q26_span_dup: substring-span exact dedup — short-doc guard, exact
  * shared-span counting, and the viral-span hot route. */
class SpanDupSpec extends SparkSpec {
  import spark.implicits._

  private def toks(prefix: String, n: Int): String =
    (0 until n).map(i => s"$prefix$i").mkString(" ")

  private lazy val dir: String = {
    val d = tempDir("graft_span").toString
    val common55 = toks("c", 55) // 55 shared tokens → 6 shared 50-spans
    val docs =
      Seq(
        // identical 60-token pair: 11 distinct spans each, all shared
        (1L, toks("w", 60), "en", "s0", 60L),
        (2L, toks("w", 60), "en", "s0", 60L),
        // short doc: 10 tokens < SpanK — must not crash, must pair with nothing
        (3L, toks("x", 10), "en", "s0", 10L),
        // 60 unique tokens: long enough to span but shares nothing
        (4L, toks("z", 60), "en", "s0", 60L)) ++
      // viral block: 8 docs share a 55-token prefix (6 viral spans) with
      // unique 5-token tails — spans crossing the tail differ per doc
      (10L until 18L).map(i =>
        (i, s"$common55 ${toks(s"t$i-", 5)}", "en", "s1", 60L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    d
  }

  private def rows(hotCap: Int): Seq[(Long, Long, Long)] =
    Similarity.q26SpanDupCapped(spark, dir, hotCap).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  test("identical docs share all spans; short and unique docs pair with nothing") {
    val out = rows(hotCap = 1000)
    assert(out.contains((1L, 2L, 11L))) // 60 − 50 + 1 distinct spans
    assert(!out.exists(p => p._1 == 3L || p._2 == 3L)) // short-doc guard
    assert(!out.exists(p => p._1 == 4L || p._2 == 4L)) // nothing shared
    // viral block: every pair of the 8 docs shares exactly the 6 prefix spans
    val block = out.filter(p => p._1 >= 10L && p._2 < 18L && p._1 != 1L)
    assert(block.size === 8 * 7 / 2)
    assert(block.forall(_._3 === 6L))
  }

  test("viral span routes through the salted join unchanged") {
    assert(rows(hotCap = 2) === rows(hotCap = 1000))
  }

  test("corpus of only short docs yields an empty frame, not a crash") {
    val d = tempDir("graft_span_short").toString
    Seq((1L, toks("a", 5), "en", "s", 5L), (2L, toks("a", 49), "en", "s", 49L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    assert(Similarity.q26SpanDup(spark, d).count() === 0L)
  }
}
