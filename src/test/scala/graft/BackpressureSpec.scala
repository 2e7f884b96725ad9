package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Paced-ingest backpressure rehearsal (round-9): the 100 TB cutover story
  * has state seeding (Q42b) and offline state migration spec'd; this is
  * the third leg — a BOUNDED-trigger file stream draining a backlog in
  * steady micro-batches instead of one unbounded gulp. maxFilesPerTrigger
  * is the file-source pacing knob (maxBytesPerTrigger is its size-based
  * twin); AvailableNow honors it while still terminating, which is exactly
  * the controlled-backfill configuration: bounded batch memory, steady
  * state-store commits, monotone watermark — under a deliberately SLOW
  * sink, proving pacing comes from the source option, not sink luck. */
class BackpressureSpec extends SparkSpec {

  test("bounded triggers drain a file backlog in steady batches with a monotone watermark") {
    val src = tempDir("graft_bp_src").toString
    val ckpt = tempDir("graft_bp_ckpt").toString
    // backlog: the sf0.001 events split into 12 files
    val ev = graft.core.Tables.events(spark, sf001)
    ev.repartition(12).write.mode("overwrite").parquet(src)
    val nFiles = new java.io.File(src).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(nFiles === 12)

    val schema = spark.read.parquet(src).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "3") // pacing: ≤ 3 files per micro-batch
      .parquet(src)
    val counted = graft.streaming.StreamingJobs.tumblingCounts(stream)
    val q = counted.writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.count() // consume every partition (state commits require it)
        Thread.sleep(150) // slow sink: pacing must come from the source
      }
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val progress = q.recentProgress.toSeq
    val dataBatches = progress.filter(_.numInputRows > 0)
    // 12 files at ≤3 per trigger: at least 4 data batches, none oversized
    assert(dataBatches.length >= 4,
      s"expected ≥4 paced batches, got ${dataBatches.map(_.numInputRows).mkString(",")}")
    val total = ev.count()
    val maxBatch = dataBatches.map(_.numInputRows).max
    assert(dataBatches.map(_.numInputRows).sum === total)
    // steady sizes: no batch exceeds its 3/12 file share by more than the
    // file-size skew a 12-way hash split can carry (~2x)
    assert(maxBatch <= (total / 4) * 2,
      s"oversized batch $maxBatch of $total total — pacing not applied")

    // watermark advances monotonically across batches (never regresses)
    val wms = progress.flatMap(p => Option(p.eventTime.get("watermark")))
      .map(java.time.Instant.parse(_).toEpochMilli)
      .filter(_ > 0)
    assert(wms.nonEmpty)
    assert(wms.zip(wms.tail).forall { case (a, b) => b >= a },
      s"watermark regressed: ${wms.mkString(",")}")
    // and ends past the backlog's max event time minus the 5-minute delay
    val maxTs = ev.agg(max(unix_millis(col("ts")))).head().getLong(0)
    assert(wms.last >= maxTs - 5 * 60 * 1000,
      s"final watermark ${wms.last} never reached ${maxTs - 300000}")
  }
}
