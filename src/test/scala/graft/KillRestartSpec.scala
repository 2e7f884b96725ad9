package graft

import java.util.concurrent.atomic.AtomicBoolean
import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import graft.streaming.StreamingJobs

/** Streaming END-TO-END kill-restart property (round-10; the batch ingest
  * has its kill-between-pages twin in IngestSpec). The at-least-once +
  * idempotent-sink composition was previously ARGUED (StreamUpsertSpec
  * replays a batch through the applier by hand); here it is crash-tested
  * against a real running query: a fault injected inside foreachBatch
  * AFTER the sink write but BEFORE Spark commits the micro-batch — the
  * worst-ordered crash, the sink effect is live but the offset log says
  * the batch never ran — kills the query; a restart from the same
  * checkpoint must re-deliver the batch, overwrite its own effect, and
  * finish with output identical to a never-interrupted twin.
  *
  * Two sink/state shapes:
  *   1. stateless CDC apply into the versioned store (`v=<batchId>` dirs);
  *   2. a STATEFUL watermarked tumbling aggregation upstream of the
  *      batch-addressed parquet sink — the restart also has to restore the
  *      window/watermark state store to the last committed version and
  *      replay deterministically.
  * File source + maxFilesPerTrigger=1 pins the file→micro-batch mapping so
  * the interrupted and uninterrupted runs see identical batch boundaries.
  */
class KillRestartSpec extends SparkSpec {
  import spark.implicits._

  private def writeChangeFiles(srcDir: String): Unit = {
    val b0 = (1L to 10L).map(k => Chg(k, "insert", k * 1.0, "A", in_chg = true))
    val b1 = Seq(
      Chg(2L, "update", 20.0, "B", in_chg = true),
      Chg(4L, "update", 40.0, "B", in_chg = true),
      Chg(3L, "delete", 0.0, "A", in_chg = true))
    val b2 = Seq(
      Chg(2L, "update", 200.0, "C", in_chg = true),
      Chg(11L, "insert", 11.0, "A", in_chg = true))
    // one parquet FILE per intended micro-batch, named in delivery order
    Seq(b0, b1, b2).zipWithIndex.foreach { case (b, i) =>
      b.toDF().coalesce(1).write.mode(SaveMode.Overwrite)
        .parquet(s"$srcDir/stage_$i")
      val part = new java.io.File(s"$srcDir/stage_$i").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$srcDir/b$i.parquet"))
    }
  }

  private def changeStream(srcDir: String): DataFrame = {
    val schema = spark.read.parquet(s"$srcDir/b0.parquet").schema
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "b*.parquet")
      .parquet(srcDir)
  }

  private def runCdc(srcDir: String, tgt: String, ckpt: String,
                     crashAfterBatch: Option[AtomicBoolean]): Unit = {
    val q = changeStream(srcDir).writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
        StreamingJobs.applyCdcBatch(batch.toDF(), tgt, batchId)
        // fault AFTER the sink effect, BEFORE Spark commits the batch: on
        // restart the offset log re-delivers this same batch
        crashAfterBatch.foreach { flag =>
          if (batchId == 1L && flag.compareAndSet(true, false))
            throw new RuntimeException("injected crash after sink write")
        }
        ()
      }
      .option("checkpointLocation", ckpt).start()
    try q.processAllAvailable()
    catch { case _: StreamingQueryException => () } // the injected kill
    finally q.stop()
  }

  test("foreachBatch CDC: crash after sink write, restart from checkpoint ≡ uninterrupted run") {
    val root = tempDir("graft_kr_cdc").toString
    writeChangeFiles(s"$root/src")

    // interrupted run: dies inside batch 1 (after v=1 is already written)
    val crash = new AtomicBoolean(true)
    runCdc(s"$root/src", s"$root/tgt", s"$root/ckpt", Some(crash))
    assert(!crash.get(), "the injected crash must have fired")
    // the sink effect of the uncommitted batch is live — the exact torn state
    assert(StreamingJobs.listVersions(s"$root/tgt").sorted == Seq(0L, 1L))

    // restart from the SAME checkpoint: batch 1 re-delivered (idempotent
    // overwrite), batch 2 processed, stream drained
    runCdc(s"$root/src", s"$root/tgt", s"$root/ckpt", None)

    // uninterrupted twin on fresh dirs
    runCdc(s"$root/src", s"$root/tgt2", s"$root/ckpt2", None)

    val got = StreamingJobs.listVersions(s"$root/tgt").sorted
    val want = StreamingJobs.listVersions(s"$root/tgt2").sorted
    assert(got == want && got == Seq(0L, 1L, 2L), s"versions $got vs $want")
    val a = spark.read.parquet(s"$root/tgt/v=${got.last}")
      .select($"o_orderkey", $"price", $"status").collect().toSet
    val b = spark.read.parquet(s"$root/tgt2/v=${want.last}")
      .select($"o_orderkey", $"price", $"status").collect().toSet
    assert(a == b, "restarted run diverged from the uninterrupted twin")
    // and the semantics are the StreamUpsertSpec ones (not just self-equal)
    val m = a.map(r => r.getLong(0) -> ((r.getDouble(1), r.getString(2)))).toMap
    assert(!m.contains(3L) && m(2L) == ((200.0, "C")) && m.size == 10)
  }

  private def writeEventFiles(srcDir: String): Unit = {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val f0 = Seq((1L, ts("2024-01-01 00:00:10"), 1L), (2L, ts("2024-01-01 00:00:50"), 1L),
      (3L, ts("2024-01-01 00:01:20"), 2L))
    val f1 = Seq((4L, ts("2024-01-01 00:10:00"), 2L)) // advances the watermark
    val f2 = Seq((5L, ts("2024-01-01 00:30:00"), 3L)) // closes the 00:10 window
    Seq(f0, f1, f2).zipWithIndex.foreach { case (b, i) =>
      b.toDF("event_id", "ts", "user_id").coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(s"$srcDir/stage_$i")
      val part = new java.io.File(s"$srcDir/stage_$i").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$srcDir/b$i.parquet"))
    }
  }

  private def runWindowed(srcDir: String, out: String, ckpt: String,
                          crashAfterBatch: Option[AtomicBoolean]): Unit = {
    val schema = spark.read.parquet(s"$srcDir/b0.parquet").schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "b*.parquet")
      .parquet(srcDir)
    val q = StreamingJobs.tumblingCounts(src).writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
        // batch-addressed idempotent sink (foreachBatchSink's layout)
        batch.write.mode(SaveMode.Overwrite).parquet(s"$out/batch_id=$batchId")
        crashAfterBatch.foreach { flag =>
          if (batchId == 1L && flag.compareAndSet(true, false))
            throw new RuntimeException("injected crash after sink write")
        }
        ()
      }
      .outputMode("update")
      .option("checkpointLocation", ckpt).start()
    try q.processAllAvailable()
    catch { case _: StreamingQueryException => () }
    finally q.stop()
  }

  private def settled(out: String): Set[(String, Long)] =
    spark.read.option("basePath", out).parquet(out)
      .groupBy($"w_start") // latest state per window across batch dirs
      .agg(max(struct($"batch_id", $"n")).as("s"))
      .select($"w_start".cast("string"), $"s.n")
      .as[(String, Long)].collect().toSet

  test("stateful window agg: crash mid-stream, restart restores state store ≡ uninterrupted run") {
    val root = tempDir("graft_kr_win").toString
    writeEventFiles(s"$root/src")

    val crash = new AtomicBoolean(true)
    runWindowed(s"$root/src", s"$root/out", s"$root/ckpt", Some(crash))
    assert(!crash.get(), "the injected crash must have fired")
    runWindowed(s"$root/src", s"$root/out", s"$root/ckpt", None)

    runWindowed(s"$root/src", s"$root/out2", s"$root/ckpt2", None)

    val a = settled(s"$root/out")
    val b = settled(s"$root/out2")
    assert(a == b, s"restarted $a vs uninterrupted $b")
    // pin the content: both 1-minute windows counted, restored state intact
    val m = a.toMap
    assert(m("2024-01-01 00:00:00") == 2L && m("2024-01-01 00:01:00") == 1L)
  }
}
