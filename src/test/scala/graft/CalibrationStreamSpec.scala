package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.StreamingJobs

/** Live calibration-bin maintenance (StreamingJobs.calibrationMaintain):
  * the streamed fold of per-batch bin deltas must land exactly on the
  * batch reduction of the full prefix at every version (monoid law through
  * foreachBatch, one shared bin definition), and replay must be idempotent.
  */
final case class ScoreRow(event_type: String, value: Double)

class CalibrationStreamSpec extends SparkSpec {
  import spark.implicits._

  private def batchBins(rows: Seq[ScoreRow]): Map[Long, (Long, Long, Long)] =
    graft.queries.Evaluation.calibrationDelta(rows.toDF())
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap

  private def mkRows(seed: Int, n: Int): Seq[ScoreRow] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)(ScoreRow(
      if (rnd.nextInt(4) == 0) "purchase" else "view",
      rnd.nextInt(9000) / 100.0))
  }

  test("streamed bins land on the batch reduction at every version; replay idempotent") {
    implicit val sc = spark.sqlContext
    val dir = tempDir("graft_cal").toString
    val ckpt = tempDir("graft_cal_ck").toString
    val src = MemoryStream[ScoreRow]
    val q = StreamingJobs.calibrationMaintain(src.toDF(), dir)
      .option("checkpointLocation", ckpt).start()
    val batches = Seq(mkRows(1, 150), mkRows(2, 90), mkRows(3, 210))
    try {
      for (b <- batches) { src.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    assert(StreamingJobs.listVersions(dir).sorted === Seq(0L, 1L, 2L))
    def read(v: Long) = spark.read.parquet(s"$dir/v=$v")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(read(0L) === batchBins(batches(0)))
    assert(read(1L) === batchBins(batches(0) ++ batches(1)))
    assert(read(2L) === batchBins(batches.flatten))

    // at-least-once replay: re-applying batch 2 overwrites v=2 identically
    StreamingJobs.applyCalibrationBatch(batches(2).toDF(), dir, 2L)
    assert(read(2L) === batchBins(batches.flatten))

    // reader derives q68's columns from the maintained sums
    val derived = StreamingJobs.calibrationRead(spark, dir).collect()
    val bins = batchBins(batches.flatten)
    assert(derived.length === bins.size)
    derived.foreach { r =>
      val (n, pos, sumY) = bins(r.getLong(0))
      assert(r.getLong(1) === n)
      assert(r.getLong(3) === pos * 10000L / n)
      assert(r.getLong(4) === sumY / n)
    }
  }
}
