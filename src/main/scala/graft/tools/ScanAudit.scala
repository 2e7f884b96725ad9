package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.LogicalRelation
import scala.util.control.NonFatal

/** Recompute-class audit (r12; gated by ScanAuditSpec since r13): the
  * q34_funnel/q80/q86 defects all had one signature — a derived frame
  * consumed by several plan branches, which Catalyst does not share, so the
  * OPTIMIZED plan carries the same table scan N times. `audit` walks every
  * SparkEntry lane's optimized logical plan and reports lanes whose plan
  * scans one table ≥ `threshold` times, most-duplicated first.
  *
  * A flagged lane is a CANDIDATE, not a defect: pair lanes legitimately
  * read a table through two join branches, and scans are cheap when column-
  * pruned. The q86 bar is scanning an EXPENSIVE derivation's inputs 3-4×.
  * Barriered lanes (localCheckpoint) show LogicalRDD leaves, not their
  * upstream scans — the fix pattern makes a lane drop out of this report,
  * which is exactly the property the audit wants to see.
  *
  * NOT free to run (r12 ADVICE — the old "analysis only" framing was
  * stale): barriered lanes call localCheckpoint(true) at DataFrame-
  * CONSTRUCTION time, so building each lane's plan eagerly EXECUTES its
  * barriered subtrees against `sfDir`. Point the audit only at tiny SF
  * dirs (sf0.001 default; ScanAuditSpec uses the same), never sf0.1+.
  *
  * Usage: runMain graft.tools.ScanAudit [threshold]
  */
object ScanAudit {

  /** One audited lane: name, the worst per-table scan count in its
    * optimized plan, and the tables at/above the threshold. */
  final case class Finding(lane: String, maxScans: Int, tables: String)

  /** Audit every SparkEntry lane at `sfDir`; returns lanes whose optimized
    * plan scans some table ≥ `threshold` times. Failures go to stderr and
    * `onError` (the spec treats a lane that cannot even build as a failure
    * rather than silently passing it). */
  def audit(spark: SparkSession, sfDir: String, threshold: Int,
      onError: (String, Throwable) => Unit = (n, e) =>
        System.err.println(s"[scanaudit] $n failed: ${e.getMessage}")): Seq[Finding] =
    graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val row = try {
        val plan = fn(spark, sfDir).queryExecution.optimizedPlan
        val scans = plan.collect {
          case r: LogicalRelation => r.relation match {
            case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              h.location.rootPaths.map(_.getName).mkString(",")
            case other => other.getClass.getSimpleName
          }
        }
        val byTable = scans.groupBy(identity).view.mapValues(_.size).toMap
        val worst = if (byTable.isEmpty) 0 else byTable.values.max
        if (worst >= threshold)
          Some(Finding(name, worst,
            byTable.filter(_._2 >= threshold).keys.mkString(", ")))
        else None
      } catch {
        case NonFatal(e) => onError(name, e); None
      }
      // lanes persist()/checkpoint shared frames at build time — drop them
      // so one lane's cache never changes another lane's plan shape
      graft.GraftSession.releaseCaches(spark)
      row
    }.sortBy(-_.maxScans)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val threshold = if (args.nonEmpty) args(0).toInt else 3
    val spark = graft.GraftSession.build()
    spark.sparkContext.setLogLevel("ERROR")
    val report = audit(spark, sfDir, threshold)
    report.foreach { f =>
      println(f"[scanaudit] ${f.lane}%-28s max_scans=${f.maxScans}  (${f.tables})")
    }
    println(s"[scanaudit] ${report.size} lanes at threshold >= $threshold " +
      s"(of ${graft.SparkEntry.queries.size})")
    spark.stop()
  }
}
