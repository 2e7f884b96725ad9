package graft.tools

/** Dev-only lane timer for the GATED bench metric: cold + N warm passes per
  * named lane, each through [[graft.Bench.noopPass]] — the same pass Bench
  * gates, with the same cache release between passes. Usage:
  *   SPARK_GRAFT_SF_DIR=… runMain graft.tools.NoopTime <lane>…
  */
object NoopTime {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warms = sys.env.getOrElse("SPARK_GRAFT_WARM_PASSES", "2").toInt
    val spark = graft.GraftSession.build()
    spark.sparkContext.setLogLevel("ERROR")
    require(args.nonEmpty, "pass lane names")
    args.foreach { name =>
      val fn = graft.SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown lane $name"))
      for (pass <- 0 to warms) {
        val label = if (pass == 0) "cold" else s"warm$pass"
        val dt = graft.Bench.noopPass(spark, fn, sfDir).get
        println(f"[nooptime] $name $label $dt%.2f s")
      }
    }
    spark.stop()
  }
}
