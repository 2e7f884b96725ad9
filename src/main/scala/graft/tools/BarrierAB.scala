package graft.tools

/** Barrier-tax A/B (r12 VERDICT task 3): for each named lane, time the
  * full lane pass ([[graft.Bench.noopPass]]: construction + noop-sink
  * materialization) under each barrier mechanism —
  * localCheckpoint(true) vs persist() vs none — by flipping
  * the `graft.barrier.mode` override that every `Barrier.bounded` call
  * site honors. 4 reps per (lane, mode); rep0 discarded (codegen), median
  * of the rest reported. Lanes that never call Barrier.bounded time the
  * same under every mode — a free noise floor for the comparison.
  *
  * Usage: SPARK_GRAFT_SF_DIR=… runMain graft.tools.BarrierAB <lane>…
  */
object BarrierAB {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.build()
    spark.sparkContext.setLogLevel("ERROR")
    val anchor = graft.core.Calibration.measure(reps = 3, warmups = 1)
    println(f"[barrierab] anchor_s=$anchor%.3f sf=$sfDir")
    val modes = Seq("checkpoint", "persist", "none")
    // try/finally around the whole mode loop (r13 ADVICE): a lane throwing
    // mid-A/B used to leave the global override set, silently skewing every
    // subsequent lane's timings and any later work in the same JVM
    try {
      args.foreach { lane =>
        val row = modes.map { mode =>
          sys.props("graft.barrier.mode") = mode
          val times = (0 until 4).map(_ =>
            graft.Bench.noopPass(spark, graft.SparkEntry.queries(lane), sfDir).get)
          // median of the 3 warm reps
          val warm = times.drop(1).sorted.apply(1)
          f"$mode=$warm%.3f"
        }
        println(s"[barrierab] $lane ${row.mkString(" ")}")
      }
    } finally sys.props.remove("graft.barrier.mode")
    spark.stop()
  }
}
