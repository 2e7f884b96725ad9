package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.functions._
import graft.streaming.StatefulProcessors

/** Offline state MIGRATION through public APIs only: read a stopped
  * query's transformWithState state with the `statestore` source, then
  * seed a brand-new query (fresh checkpoint) with it via the
  * initial-state processor. This is the rescale/upgrade path a 100 TB
  * streaming deployment actually needs — state partition width is frozen
  * at a checkpoint's first batch, so changing width (or surviving a
  * checkpoint-format break) means carrying state to a NEW checkpoint, not
  * editing the old one. Reader → seed closes that loop without any
  * private API.
  */
class StateMigrationSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)
  case class Ev(event_id: Long, ts: Timestamp, user_id: Long)

  private val Provider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  test("TWS state reads back offline and seeds a new checkpoint, totals continuing") {
    implicit val sc = spark.sqlContext
    withConfs("spark.sql.streaming.stateStore.providerClass" -> Provider) {
      // generation 1: accumulate counts, then stop
      val ckpt1 = tempDir("graft_mig_gen1").toString
      val src1 = MemoryStream[Ev]
      val q1 = StatefulProcessors.runningCounts(src1.toDF())
        .writeStream.format("memory").queryName("mig_gen1")
        .option("checkpointLocation", ckpt1)
        .outputMode(OutputMode.Update).start()
      try {
        src1.addData(
          Ev(1, ts("2024-01-01 00:00:10"), 1),
          Ev(2, ts("2024-01-01 00:00:20"), 1),
          Ev(3, ts("2024-01-01 00:00:30"), 2))
        q1.processAllAvailable()
      } finally q1.stop()

      // offline: read gen-1's ValueState ("n") as a table
      val carried = spark.read.format("statestore")
        .option("stateVarName", "n")
        .load(ckpt1)
        .select(col("key.value").as("user_id"), col("value.value").as("n_events"))
      val carriedMap = carried.as[(Long, Long)].collect().toMap
      assert(carriedMap === Map(1L -> 2L, 2L -> 1L), s"got $carriedMap")

      // generation 2: NEW checkpoint, seeded with gen-1's state
      val ckpt2 = tempDir("graft_mig_gen2").toString
      val src2 = MemoryStream[Ev]
      val q2 = StatefulProcessors.runningCountsSeeded(src2.toDF(), carried.toDF())
        .writeStream.format("memory").queryName("mig_gen2")
        .option("checkpointLocation", ckpt2)
        .outputMode(OutputMode.Update).start()
      try {
        src2.addData(
          Ev(4, ts("2024-01-01 00:01:10"), 1),  // 2 carried + 1
          Ev(5, ts("2024-01-01 00:01:20"), 3))  // brand-new key
        q2.processAllAvailable()
      } finally q2.stop()
      val out = spark.table("mig_gen2").as[(Long, Long)].collect().toMap
      assert(out === Map(1L -> 3L, 3L -> 1L),
        s"carried totals must continue across checkpoints, got $out")
    }
  }
}
