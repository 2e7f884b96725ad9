package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.StreamingJobs

/** Live fingerprint maintenance (StreamingJobs.fingerprintMaintain): the
  * streamed fold of per-batch delta fingerprints must land exactly on the
  * batch fingerprint of the full data — the monoid law driven end-to-end
  * through foreachBatch — and batch replay must be idempotent.
  */
final case class FpRow(id: Long)

class FingerprintStreamSpec extends SparkSpec {
  import spark.implicits._

  private val h = graft.queries.TextOps.h60("CAST(id AS STRING)")

  private def batchFp(ids: Seq[Long]) =
    ids.toDF("id").select(expr(h).as("rh"))
      .groupBy(expr("rh % 256").as("bucket"))
      .agg(count(lit(1)).as("n"), expr("bit_xor(rh)").as("x"),
        sum(expr("rh % 2147483648")).as("s"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap

  test("streamed maintenance lands on the batch fingerprint; replay idempotent") {
    implicit val sc = spark.sqlContext
    val dir = tempDir("graft_fp").toString
    val ckpt = tempDir("graft_fp_ck").toString
    val src = MemoryStream[FpRow]
    val q = StreamingJobs.fingerprintMaintain(src.toDF(), h, dir)
      .option("checkpointLocation", ckpt).start()
    val batches = Seq((1L to 120L), (121L to 200L), (201L to 333L))
    try {
      for (b <- batches) { src.addData(b.map(FpRow): _*); q.processAllAvailable() }
    } finally q.stop()
    val versions = StreamingJobs.listVersions(dir).sorted
    assert(versions === Seq(0L, 1L, 2L))
    def read(v: Long) = spark.read.parquet(s"$dir/v=$v")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(read(2L) === batchFp(1L to 333L))
    assert(read(1L) === batchFp(1L to 200L))

    // at-least-once replay: re-applying batch 2 overwrites v=2 identically
    StreamingJobs.applyFingerprintBatch((201L to 333L).toDF("id"), h, dir, 2L)
    assert(read(2L) === batchFp(1L to 333L))
  }
}
