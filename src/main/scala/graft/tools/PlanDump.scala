package graft.tools

/** Dev-only plan dumper: print the FINAL adaptive executed plan of named
  * SparkEntry lanes (collect() first — under AQE, executedPlan is not
  * finalized by mere resolution; the JoinShapes lesson), with operator
  * lines only (joins/exchanges/scans/aggregates) unless SPARK_GRAFT_FULL=1.
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.tools.PlanDump q24_jaccard_sample
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val full = sys.env.get("SPARK_GRAFT_FULL").contains("1")
    val spark = graft.GraftSession.build()
    spark.sparkContext.setLogLevel("ERROR")
    require(args.nonEmpty, "pass lane names")
    args.foreach { name =>
      val fn = graft.SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown lane $name"))
      val df = fn(spark, sfDir)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      println(s"=== $name ===")
      if (full) println(plan)
      else plan.split("\n").filter(l =>
        l.contains("Join") || l.contains("Exchange") || l.contains("Scan") ||
          l.contains("Aggregate") || l.contains("Window") || l.contains("Sort") ||
          l.contains("InMemory")).foreach(println)
      graft.GraftSession.releaseCaches(spark)
    }
    spark.stop()
  }
}
