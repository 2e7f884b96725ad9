package graft

import graft.queries.Similarity

/** Adversarial skew fixture for q24_jaccard_pairs: one VIRAL shingle shared
  * by every doc (the boilerplate-header shape that makes in-place posting
  * expansion a single-task straggler at scale). With `hotCap` forced below
  * the viral frequency, the viral posting must route through the salted
  * SkewJoin path — and produce bit-identical results to the pure in-place
  * expansion, including pairs whose intersection count spans BOTH branches
  * (some shared shingles rare, the viral one hot). */
class SkewJaccardSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dir: String = {
    val d = tempDir("graft_viral").toString
    val viral = "shared boilerplate header" // one 3-gram in every doc
    val docs =
      // 6 mutually-dissimilar docs: only the viral shingle in common
      (0 until 6).map(i =>
        (i.toLong, s"$viral unique$i filler$i tail$i", "en", "src0", 40L)) ++
      // one true near-dup pair: identical text incl. the viral header
      Seq(
        (6L, s"$viral alpha beta gamma delta epsilon", "en", "src1", 45L),
        (7L, s"$viral alpha beta gamma delta epsilon", "en", "src1", 45L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    d
  }

  test("viral shingle routes through SkewJoin and matches the in-place result") {
    def collectPairs(hotCap: Int) =
      Similarity.q24JaccardPairsCapped(spark, dir, hotCap).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3))).toSeq
    val inPlaceOnly = collectPairs(hotCap = 1000) // viral freq 8 ≤ cap: old path
    val skewRouted  = collectPairs(hotCap = 2)    // viral freq 8 > cap: salted join
    assert(inPlaceOnly === skewRouted)
    // the fixture really exercises what it claims: the identical pair
    // qualifies, the mutually-dissimilar docs do not
    assert(skewRouted.map(p => (p._1, p._2)) === Seq((6L, 7L)))
    assert(skewRouted.head._4 === 1.0)
  }

  test("NULL-keyed viral bucket still routes through the salted path") {
    // lang is part of the posting key (lang, s); a NULL lang group counts
    // as hot like any other but USING-style anti/semi joins would match it
    // null-unsafely — the null-safe <=> routing must keep the two paths
    // bit-identical AND actually divert the viral posting.
    val d = tempDir("graft_viral_null").toString
    val viral = "shared boilerplate header"
    val docs =
      (0 until 6).map(i =>
        (i.toLong, s"$viral unique$i filler$i tail$i", null: String, "src0", 40L)) ++
      Seq(
        (6L, s"$viral alpha beta gamma delta epsilon", null: String, "src1", 45L),
        (7L, s"$viral alpha beta gamma delta epsilon", null: String, "src1", 45L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    def collectPairs(hotCap: Int) =
      Similarity.q24JaccardPairsCapped(spark, d, hotCap).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSeq
    val inPlace = collectPairs(hotCap = 1000)
    val routed  = collectPairs(hotCap = 2)
    assert(inPlace === routed)
    assert(routed.map(p => (p._1, p._2)) === Seq((6L, 7L)))
  }

  test("production cap leaves the standard corpus untouched (ShortInputSpec twin)") {
    // sanity on the real entry: same answer as an uncapped run on this corpus
    val prod = Similarity.q24JaccardPairs(spark, dir).collect().toSeq
    val uncapped = Similarity.q24JaccardPairsCapped(spark, dir, Int.MaxValue).collect().toSeq
    assert(prod === uncapped)
  }
}
