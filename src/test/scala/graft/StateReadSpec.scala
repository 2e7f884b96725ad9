package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.functions._
import graft.streaming.StreamingJobs

/** statestore-reader semantics (Q41): after watermark eviction, the
  * checkpoint's aggregation state holds EXACTLY the unclosed windows — the
  * invariant q41_state_read's oracle (w_end > max(ts) - delay) relies on.
  * The fixture picks the eviction boundary by hand: closed windows must be
  * GONE from the store, open ones present with their up-to-date counts.
  */
class StateReadSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)
  case class Ev(event_id: Long, ts: Timestamp, user_id: Long)

  test("Q41: statestore read returns exactly the unclosed windows, with live counts") {
    implicit val sc = spark.sqlContext
    val ckpt = tempDir("graft_state_spec").toString
    val src = MemoryStream[Ev]
    val q = StreamingJobs.tumblingCounts(src.toDF())
      .writeStream.format("memory").queryName("q41_spec_out")
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append).start()
    try {
      // two windows land in state; watermark (max - 5 min) closes neither
      src.addData(
        Ev(1, ts("2024-01-01 00:00:10"), 1),
        Ev(2, ts("2024-01-01 00:00:50"), 1),
        Ev(3, ts("2024-01-01 00:01:20"), 2))
      q.processAllAvailable()
      // advance the watermark to 00:05:20: the 00:00 and 00:01 windows
      // close (w_end <= watermark) — emitted downstream AND evicted from
      // the store; the 00:10 window opens
      src.addData(Ev(4, ts("2024-01-01 00:10:20"), 2))
      q.processAllAvailable()
      // same open window again: state must show the UPDATED count
      src.addData(Ev(5, ts("2024-01-01 00:10:30"), 1))
      q.processAllAvailable()
    } finally q.stop()
    // offline read of the stopped query's checkpoint — the ops shape
    val st = spark.read.format("statestore").load(ckpt)
      .select(col("key.window.start").cast("string").as("ws"),
        col("value.count").as("n"))
      .as[(String, Long)].collect().toMap
    assert(st === Map("2024-01-01 00:10:00" -> 2L),
      s"state should hold only the unclosed window, got $st")
  }

  test("Q41: the reader generalizes to the dedup operator's key-only state") {
    implicit val sc = spark.sqlContext
    val ckpt = tempDir("graft_state_spec_dd").toString
    val src = MemoryStream[Ev]
    val q = StreamingJobs.dedupWithinWatermark(src.toDF())
      .writeStream.format("memory").queryName("q41_dd_out")
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append).start()
    try {
      src.addData(
        Ev(7, ts("2024-01-01 00:00:10"), 1),
        Ev(7, ts("2024-01-01 00:00:12"), 1),  // in-batch re-send collapses
        Ev(8, ts("2024-01-01 00:00:20"), 2))
      q.processAllAvailable()
      src.addData(Ev(9, ts("2024-01-01 00:00:30"), 1))
      q.processAllAvailable()
    } finally q.stop()
    // discovery first: an ops investigation of a FOREIGN checkpoint starts
    // at the state-metadata source, which names the operators and stores
    // before any state is read
    val meta = spark.read.format("state-metadata").load(ckpt)
      .select(col("operatorName")).as[String].collect().toSet
    assert(meta === Set("dedupeWithinWatermark"), s"got $meta")
    // dropDuplicatesWithinWatermark keeps one state row per key seen inside
    // the watermark horizon: the dedup ledger an ops investigation reads
    // ("which ids does the stream currently consider seen?")
    val seen = spark.read.format("statestore").load(ckpt)
      .select(col("key.event_id")).as[Long].collect().toSet
    assert(seen === Set(7L, 8L, 9L),
      s"dedup state should hold each seen id once, got $seen")
  }
}
