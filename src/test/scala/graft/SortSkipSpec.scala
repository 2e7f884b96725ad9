package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.queries.Relational3

/** q39_sort_skip's layout claim, proven from the parquet FOOTERS: after
  * the range-clustered sorted rewrite, row-group [min,max] stats on
  * user_id are tight and disjoint, so the lane's range probe can match
  * only a sliver of the row groups — while the identical data written
  * hash-scattered has every row group spanning the whole key domain and
  * the same pushed filter prunes nothing. The footer read is the same
  * evaluation the scan's stats-based skipping performs, so this is the
  * pruning decision itself, not a proxy.
  */
class SortSkipSpec extends SparkSpec {
  private val sf01 = "/root/testdata/sf0.01"

  /** (min,max) of user_id per row group across all files of a layout. */
  private def rowGroupRanges(dir: String): Seq[(Long, Long)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    new java.io.File(dir).listFiles
      .filter(f => f.getName.endsWith(".parquet")).toSeq
      .flatMap { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getFooter.getBlocks.asScala.toSeq.map { b =>
          val c = b.getColumns.asScala
            .find(_.getPath.toDotString == "user_id")
            .getOrElse(fail(s"no user_id column chunk in ${f.getName}"))
          val st = c.getStatistics
          (st.genericGetMin.asInstanceOf[java.lang.Long].longValue,
            st.genericGetMax.asInstanceOf[java.lang.Long].longValue)
        }
        finally r.close()
      }
  }

  private def matching(ranges: Seq[(Long, Long)], lo: Long, hi: Long): Int =
    ranges.count { case (mn, mx) => mx >= lo && mn < hi }

  test("sorted rewrite prunes the range probe at footer level; unsorted cannot") {
    val sortedDir = Relational3.sortedSlot(spark, sf01)
    val sorted = rowGroupRanges(sortedDir)
    assert(sorted.size >= 8, s"expected >=8 clusters, got ${sorted.size}")

    val unsortedDir = tempDir("graft_unsorted").toString
    graft.core.Tables.events(spark, sf01)
      .repartition(8) // hash-scatter: every file sees the whole domain
      .write.mode("overwrite").parquet(unsortedDir)
    val unsorted = rowGroupRanges(unsortedDir)
    assert(unsorted.size >= 8)

    // the lane's probe [10, 14): sorted clusters are disjoint slices of
    // 0..149, so at most 2 can straddle the probe; scattered row groups
    // all span ~the full domain and every one matches
    assert(matching(sorted, 10, 14) <= 2,
      s"sorted layout should isolate the probe, ranges: $sorted")
    assert(matching(unsorted, 10, 14) === unsorted.size,
      s"unsorted layout unexpectedly prunable, ranges: $unsorted")

    // tightness: sorted clusters must be genuinely disjoint (no overlap
    // beyond shared boundary values), or "sorted" silently regressed
    val byLo = sorted.sortBy(_._1)
    byLo.sliding(2).foreach {
      case Seq((_, aHi), (bLo, _)) => assert(aHi <= bLo,
        s"overlapping sorted clusters: $byLo")
      case _ => ()
    }
  }

  test("the probe filter is pushed into the sorted scan") {
    val sortedDir = Relational3.sortedSlot(spark, sf01)
    val plan = spark.read.parquet(sortedDir)
      .filter(col("user_id") >= 10 && col("user_id") < 14)
      .queryExecution.executedPlan
    val scans = plan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    val pushed = scans.head.metadata("PushedFilters")
    assert(pushed.contains("GreaterThanOrEqual(user_id,10)") &&
      pushed.contains("LessThan(user_id,14)"),
      s"probe not pushed: $pushed")
  }
}
