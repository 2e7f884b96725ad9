package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** [[Bench.noopPass]] is the one definition of how a lane is timed (Bench,
  * NoopTime and JobProbe all call it): a pass returns its time or
  * the lane's non-fatal failure, releases every cache the lane persisted
  * either way, and never swallows an interrupt. */
class NoopPassSpec extends SparkSpec {

  /** A lane that persists and materializes a frame before it returns — the
    * shape of the dedup lanes, whose caches outlive the returned frame. */
  private def persistingLane(fail: Option[Exception]): (SparkSession, String) => DataFrame =
    (s, _) => {
      val cached = s.range(1000).selectExpr("id", "id * 2 AS twice").persist()
      cached.count()
      fail.foreach(e => throw e)
      cached.join(cached.withColumnRenamed("twice", "again"), "id")
    }

  test("a lane that persists a frame returns a time and leaves no persisted RDD") {
    GraftSession.releaseCaches(spark) // other specs share the session
    val pass = Bench.noopPass(spark, persistingLane(None), sf001)
    assert(pass.isSuccess, pass)
    assert(pass.get > 0)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(spark.sparkContext.getRDDStorageInfo.isEmpty)
  }

  test("a non-fatal lane failure comes back as a failure, caches released") {
    GraftSession.releaseCaches(spark)
    val boom = new IllegalStateException("lane failed")
    val pass = Bench.noopPass(spark, persistingLane(Some(boom)), sf001)
    assert(pass.failed.toOption.contains(boom))
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("an InterruptedException from the lane propagates") {
    val stop = new InterruptedException("stop")
    val thrown = intercept[InterruptedException] {
      Bench.noopPass(spark, (_, _) => throw stop, sf001)
    }
    assert(thrown eq stop)
  }
}
