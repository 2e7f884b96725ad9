package graft

import graft.queries.Similarity

/** Adversarial viral-bucket fixtures for the banded candidate lanes
  * (q24_lsh_pairs, q24_simhash_pairs): a block of identical docs puts every
  * one of them into the SAME band bucket — the all-identical-boilerplate
  * shape that made bucket-local collect_list a single-task buffer at scale.
  * With `hotCap` forced below the bucket size the bucket must route through
  * splitHotBuckets' salted-join path and produce bit-identical pairs to the
  * pure in-place expansion, including pairs that mix branches (the two
  * mostly-similar docs land in cold buckets on some bands). */
class SkewBucketSpec extends SparkSpec {
  import spark.implicits._

  private val Viral = 12 // identical docs — every band bucket holds all 12

  private lazy val dir: String = {
    val d = tempDir("graft_viral_bucket").toString
    val boiler = "terms of service apply to all content in this collection"
    val docs =
      // viral block: 12 byte-identical docs
      (0 until Viral).map(i =>
        (i.toLong, boiler, "en", "src0", boiler.length.toLong)) ++
      // a mostly-similar pair: shares most shingles with the block, so SOME
      // bands match the viral bucket and some do not — pairs must be found
      // across the hot/cold branch boundary
      Seq(
        (100L, s"$boiler plus one extra tail", "en", "src1", 60L),
        (101L, s"$boiler plus one extra tail", "en", "src1", 60L),
        // unrelated doc: must pair with nothing
        (200L, "completely unrelated text about gardening and soil", "en", "src2", 50L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    d
  }

  private def pairs(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  test("q24_lsh_pairs: viral band bucket routes through the salted join unchanged") {
    val inPlace = pairs(Similarity.q24LshPairsCapped(spark, dir, hotCap = 1000))
    val routed  = pairs(Similarity.q24LshPairsCapped(spark, dir, hotCap = 3))
    assert(inPlace === routed)
    // the fixture exercises what it claims: the viral block is all-pairs
    // (12 choose 2 = 66) plus the similar pair; the unrelated doc is absent
    assert(routed.size >= Viral * (Viral - 1) / 2 + 1)
    assert(!routed.exists(r => r.contains(200L)))
  }

  test("q24_simhash_pairs: viral band bucket routes through the salted join unchanged") {
    val inPlace = pairs(Similarity.q24SimhashPairsCapped(spark, dir, hotCap = 1000))
    val routed  = pairs(Similarity.q24SimhashPairsCapped(spark, dir, hotCap = 3))
    assert(inPlace === routed)
    assert(routed.size >= Viral * (Viral - 1) / 2)
    assert(!routed.exists(r => r.contains(200L)))
  }

  test("q24_lsh_est: viral band bucket routes through the salted join unchanged") {
    val inPlace = pairs(Similarity.q24LshEstCapped(spark, dir, hotCap = 1000))
    val routed  = pairs(Similarity.q24LshEstCapped(spark, dir, hotCap = 3))
    assert(inPlace === routed)
    // the audit lane reads every banded candidate: the viral block's 66
    // all-pairs plus the similar pair, unrelated doc absent
    assert(routed.size >= Viral * (Viral - 1) / 2 + 1)
    assert(!routed.exists(r => r.contains(200L)))
  }

  test("production caps leave the fixture corpus answers unchanged") {
    assert(pairs(Similarity.q24LshPairs(spark, dir)) ===
      pairs(Similarity.q24LshPairsCapped(spark, dir, Int.MaxValue)))
    assert(pairs(Similarity.q24SimhashPairs(spark, dir)) ===
      pairs(Similarity.q24SimhashPairsCapped(spark, dir, Int.MaxValue)))
    assert(pairs(Similarity.q24LshEst(spark, dir)) ===
      pairs(Similarity.q24LshEstCapped(spark, dir, Int.MaxValue)))
  }
}
