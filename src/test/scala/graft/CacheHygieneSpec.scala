package graft

import graft.queries.Similarity

/** Session-lifetime cache hygiene (r10 verdict task 6): query lanes
  * persist() shared frames whose lifetime is the returned DataFrame's, so
  * a long-lived session invoking many lanes strands storage memory until
  * GC + the async ContextCleaner catch up. [[GraftSession.releaseCaches]]
  * is the documented, synchronous remedy — this spec pins that (1) the
  * debt is real (blocks ARE left behind after lanes are consumed), (2) one
  * release call returns the block store to exactly zero, and (3) lanes
  * re-run correctly afterwards (caches are a performance artifact, not a
  * correctness dependency).
  */
class CacheHygieneSpec extends SparkSpec {

  // cache-heavy dedup/similarity lanes — each persists at least one frame
  private val lanes = Seq(
    "q24_lsh_pairs", "q92_containment", "q93_containment_full", "q24_lsh_est")

  test("N dedup lanes in one session: blocks accumulate, one releaseCaches returns storage to zero") {
    GraftSession.releaseCaches(spark) // clean slate (other specs share the session)
    assert(spark.sparkContext.getRDDStorageInfo.isEmpty)

    val counts = lanes.map { name =>
      name -> Similarity.defs(name)(spark, sf001).count()
    }.toMap
    counts.foreach { case (n, c) => assert(c >= 0, s"$n failed") }

    // (1) the documented debt: consumed lanes left cached blocks behind —
    // this is WHY the API exists. If this ever turns empty, the lanes
    // stopped persisting and the hygiene story should be re-examined.
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "expected persisted frames after cache-heavy lanes — lane caching changed?")
    assert(spark.sparkContext.getRDDStorageInfo.nonEmpty,
      "expected materialized cache blocks after consuming the lanes")

    // (2) one synchronous release drains the block store COMPLETELY — no
    // reliance on GC timing or the async ContextCleaner.
    val released = GraftSession.releaseCaches(spark)
    assert(released > 0, "releaseCaches should have had something to release")
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "persistent-RDD registry must be empty after release")
    assert(spark.sparkContext.getRDDStorageInfo.isEmpty,
      "block store must hold ZERO cached blocks after blocking release")

    // (3) lanes re-run identically after the purge (caches re-populate)
    val again = Similarity.defs(lanes.head)(spark, sf001).count()
    assert(again == counts(lanes.head), "result changed after cache release")
    // and the session can be drained again — idempotent cycle
    GraftSession.releaseCaches(spark)
    assert(spark.sparkContext.getRDDStorageInfo.isEmpty)
  }

  test("releaseCaches drains a many-block cached frame without racing its own cache clear") {
    // Two removals of one RDD running at once (an async clearCache and a
    // blocking unpersist) can collide on a block inside the BlockManager
    // and fail with "Block rdd_N_M does not exist". Many blocks per RDD,
    // released many times, make that collision likely if it can happen.
    (1 to 50).foreach { _ =>
      val df = spark.range(0, 20000, 1, 64).selectExpr("id", "id * 2 AS twice").persist()
      assert(df.count() == 20000)
      assert(GraftSession.releaseCaches(spark) >= 1)
      assert(spark.sparkContext.getRDDStorageInfo.isEmpty)
    }
  }

  test("releaseCaches on an idle session is a safe no-op") {
    GraftSession.releaseCaches(spark)
    val n = GraftSession.releaseCaches(spark)
    assert(n == 0)
    assert(spark.sparkContext.getRDDStorageInfo.isEmpty)
  }
}
