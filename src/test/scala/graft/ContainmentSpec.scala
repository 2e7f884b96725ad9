package graft

import graft.queries.Similarity

/** q92 asymmetric containment: exact-dup fixtures (guaranteed banding —
  * identical shingle sets collide in every band), the padded-superset case
  * jaccard misses, a disjoint negative, and the row invariants.
  */
class ContainmentSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: Seq[(Long, String, String)]): String = {
    val dir = tempDir("graft_contain").toString
    rows.toDF("doc_id", "lang", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private val baseText = (1 to 30).map(i => s"tok$i").mkString(" ")

  test("exact duplicates band in every band and contain at exactly 10000 bp") {
    val dir = docs(Seq((1L, "en", baseText), (2L, "en", baseText),
      (9L, "en", (100 to 140).map(i => s"zzz$i").mkString(" "))))
    val rows = Similarity.defs("q92_containment")(spark, dir).collect()
    val pair = rows.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(pair.isDefined)
    assert(pair.get.getLong(2) === 28L) // 30 tokens → 28 distinct shingles
    assert(pair.get.getLong(3) === 28L)
    assert(pair.get.getLong(4) === 10000L)
    // the disjoint doc shares no shingles with anything: never emitted
    assert(!rows.exists(r => r.getLong(0) == 9L || r.getLong(1) == 9L))
  }

  test("a padded superset scores full containment where jaccard dilutes") {
    // doc 2 = doc 1 plus 5 appended tokens: shares all 28 base shingles,
    // owns 33 → containment of the smaller side = 28/28 = 100% while
    // jaccard is only 28/33 ≈ 0.85; with 28/33 shared shingles the
    // probability that all 12 bands miss is ~1e-5 and the md5 minhash is
    // deterministic, so the banding outcome is fixed for this fixture
    val padded = baseText + " " + (31 to 35).map(i => s"pad$i").mkString(" ")
    val dir = docs(Seq((1L, "en", baseText), (2L, "en", padded)))
    val rows = Similarity.defs("q92_containment")(spark, dir).collect()
    val pair = rows.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(pair.isDefined)
    assert(pair.get.getLong(2) === 28L && pair.get.getLong(3) === 28L)
    assert(pair.get.getLong(4) === 10000L)
  }

  test("every emitted row satisfies the integer threshold and bp identity") {
    val rows = Similarity.defs("q92_containment")(spark, sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (small, inter, bp) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(10L * inter >= 7L * small)
      assert(bp === inter * 10000L / small)
      assert(inter <= small && small >= 1L)
      assert(r.getLong(0) < r.getLong(1)) // oriented exactly once
    }
  }
}
