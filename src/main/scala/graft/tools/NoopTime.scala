package graft.tools

/** Dev-only lane timer for the GATED bench metric: the full-materialization
  * noop sink (guide §1.4), cold + N warm passes per named lane, same
  * inter-pass hygiene as Bench (blocking cache drop + GC) so a pass never
  * reads a predecessor's cache. It is the repo's one lane timer: timing
  * collect()/count() instead lets Catalyst prune columns the action does
  * not need, which is NOT what BASELINE.md gates. Usage:
  *   SPARK_GRAFT_SF_DIR=… runMain graft.tools.NoopTime <lane>…
  */
object NoopTime {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warms = sys.env.getOrElse("SPARK_GRAFT_WARM_PASSES", "2").toInt
    sys.env.get("SPARK_GRAFT_HOTKEY_GATE")
      .foreach(v => sys.props("graft.hotkey.gate.bytes") = v)
    val spark = graft.GraftSession.build()
    spark.sparkContext.setLogLevel("ERROR")
    require(args.nonEmpty, "pass lane names")
    def hygiene(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
    }
    args.foreach { name =>
      val fn = graft.SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown lane $name"))
      for (pass <- 0 to warms) {
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val label = if (pass == 0) "cold" else s"warm$pass"
        println(f"[nooptime] $name $label ${(System.nanoTime() - t0) / 1e9}%.2f s")
        hygiene()
      }
    }
    spark.stop()
  }
}
