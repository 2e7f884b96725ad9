package graft.tools

import scala.util.control.NonFatal

/** No-broadcast join-shape audit (round-9): executes EVERY SparkEntry lane
  * and classifies the join operators in its FINAL adaptive plan — run once
  * normally and once with SPARK_GRAFT_NO_BROADCAST=1 (auto-broadcast
  * thresholds off, the at-scale preview where no "small" side fits) and
  * diff the two listings. Output: one parse-friendly line per lane,
  *   [joinshapes] <lane> BHJ=n SMJ=n SHJ=n BNLJ=n CART=n ok=true|false
  * Plans are read AFTER collect() (executedPlan is not finalized by
  * count() under AQE — measured repo pathology). Explicit one-row
  * broadcast() crosses legitimately stay BroadcastNestedLoopJoin under
  * the flag (hints ignore the threshold; the build side is one row by
  * construction) — the audit's question is which lanes' AUTO broadcasts
  * degrade, and to what. */
object JoinShapes {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.GraftSession.builder(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val only: Set[String] = args.toSet
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (only.isEmpty || only.contains(name)) {
        val line =
          try {
            val df = fn(spark, sfDir)
            df.collect() // finalize the adaptive plan
            val plan = df.queryExecution.executedPlan.toString
            def n(op: String) = op.r.findAllMatchIn(plan).size
            s"$name BHJ=${n("BroadcastHashJoin")} SMJ=${n("SortMergeJoin")} " +
              s"SHJ=${n("ShuffledHashJoin")} BNLJ=${n("BroadcastNestedLoopJoin")} " +
              s"CART=${n("CartesianProduct")} ok=true"
          } catch {
            case NonFatal(e) => s"$name FAILED: ${e.getMessage.take(120)} ok=false"
          }
        println(s"[joinshapes] $line")
        try graft.GraftSession.releaseCaches(spark)
        catch { case NonFatal(_) => () }
      }
    }
    spark.stop()
  }
}
