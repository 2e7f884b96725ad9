package graft

import org.apache.spark.sql.functions._
import graft.streaming.StreamingJobs

/** StreamingJobs.vacuumVersions — retention over the CDC `v=` version
  * scheme. Pins: (1) keep-last semantics + returned ids; (2) retained
  * versions read back byte-identically (time travel survives vacuum);
  * (3) THE invariant vacuum must not break: replaying the LATEST batch
  * after vacuum (foreachBatch's at-least-once window) still re-derives
  * from its surviving base and rewrites an identical state; (4) the
  * keepLast floor and missing-dir behavior. */
class VacuumSpec extends SparkSpec {
  import spark.implicits._

  private val b0 = (1L to 10L).map(k => Chg(k, "insert", k * 1.0, "A", in_chg = true))
  private val b1 = Seq(
    Chg(2L, "update", 20.0, "B", in_chg = true),
    Chg(3L, "delete", 0.0, "A", in_chg = true))
  private val b2 = Seq(Chg(11L, "insert", 11.0, "A", in_chg = true))
  private val b3 = Seq(Chg(4L, "update", 44.0, "C", in_chg = true))

  private def seed(): String = {
    val dir = tempDir("graft_vac").toString
    Seq(b0, b1, b2, b3).zipWithIndex.foreach { case (b, i) =>
      StreamingJobs.applyCdcBatch(b.toDF(), dir, i.toLong)
    }
    dir
  }

  private def state(dir: String, v: Long) =
    spark.read.parquet(s"$dir/v=$v")
      .select(col("o_orderkey"), col("price"), col("status"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
      .sorted.toSeq

  test("keeps the newest keepLast versions, deletes and returns the rest") {
    val dir = seed()
    val before = state(dir, 3L)
    val deleted = StreamingJobs.vacuumVersions(dir, keepLast = 2)
    assert(deleted == Seq(0L, 1L))
    assert(StreamingJobs.listVersions(dir).sorted == Seq(2L, 3L))
    assert(state(dir, 3L) == before, "retained version must be untouched")
    assert(state(dir, 2L).nonEmpty)
    // idempotent: nothing left to delete
    assert(StreamingJobs.vacuumVersions(dir, keepLast = 2).isEmpty)
  }

  test("replaying the latest batch after vacuum rewrites an identical state") {
    val dir = seed()
    val before = state(dir, 3L)
    StreamingJobs.vacuumVersions(dir, keepLast = 2)
    // crash-and-restart replay of the newest batch: base (v=2) survived
    StreamingJobs.applyCdcBatch(b3.toDF(), dir, 3L)
    assert(state(dir, 3L) == before, "replay after vacuum diverged")
  }

  test("keepLast floor and missing-dir behavior") {
    intercept[IllegalArgumentException] {
      StreamingJobs.vacuumVersions("/tmp/does-not-matter", keepLast = 1)
    }
    assert(StreamingJobs.vacuumVersions(
      s"/tmp/graft_vac_missing_${System.nanoTime()}", keepLast = 2).isEmpty)
  }
}
