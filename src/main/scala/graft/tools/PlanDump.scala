package graft.tools

import scala.util.control.NonFatal

/** Dev-only plan dumper: for each named SparkEntry lane (every lane, sorted
  * by name, when none is named) run `collect()` — under AQE the executed
  * plan is final only after an action — then print the final adaptive plan
  * with `explain("formatted")` and one parse-friendly join-shape line:
  *   [joinshapes] <lane> BHJ=n SMJ=n SHJ=n BNLJ=n CART=n ok=true|false
  * Run once normally and once with SPARK_GRAFT_NO_BROADCAST=1 (broadcast
  * thresholds off, the at-scale preview where no "small" side fits) and
  * diff the `[joinshapes]` lines. Explicit one-row broadcast() crosses
  * legitimately stay BroadcastNestedLoopJoin under the flag (hints ignore
  * the threshold); the question is which lanes' AUTO broadcasts degrade,
  * and to what.
  * Usage: SPARK_GRAFT_SF_DIR=… runMain graft.tools.PlanDump [lane…]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val lanes =
      if (args.isEmpty) graft.SparkEntry.queries.toSeq.sortBy(_._1)
      else args.toSeq.map(n => n -> graft.SparkEntry.queries.getOrElse(n,
        sys.error(s"unknown lane $n")))
    val spark = graft.GraftSession.build()
    spark.sparkContext.setLogLevel("ERROR")
    lanes.foreach { case (name, fn) =>
      println(s"=== $name ===")
      val line =
        try {
          val df = fn(spark, sfDir)
          df.collect() // finalize the adaptive plan
          df.explain("formatted")
          val plan = df.queryExecution.executedPlan.toString
          def n(op: String) = op.r.findAllMatchIn(plan).size
          s"$name BHJ=${n("BroadcastHashJoin")} SMJ=${n("SortMergeJoin")} " +
            s"SHJ=${n("ShuffledHashJoin")} BNLJ=${n("BroadcastNestedLoopJoin")} " +
            s"CART=${n("CartesianProduct")} ok=true"
        } catch {
          case NonFatal(e) =>
            s"$name FAILED: ${String.valueOf(e.getMessage).take(120)} ok=false"
        }
      println(s"[joinshapes] $line")
      try graft.GraftSession.releaseCaches(spark)
      catch { case NonFatal(_) => () }
    }
    spark.stop()
  }
}
