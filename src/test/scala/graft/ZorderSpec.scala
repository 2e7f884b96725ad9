package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.queries.Relational3

/** q39_zorder's layout claim, proven from the parquet FOOTERS (the same
  * evaluation the scan's stats-based skipping performs): after the
  * Morton/Z-clustered rewrite, row-group [min,max] stats are tight on
  * BOTH interleaved keys, so a range probe on EITHER of l_partkey /
  * l_suppkey matches only a fraction of the row groups — while a linear
  * partkey-sorted layout of the identical data serves only its sort key
  * and a suppkey probe matches every row group. Also pins the zValue
  * bit-interleave itself (order-preserving on quad cells, bijective on
  * the 16-bit×16-bit domain edge values).
  */
class ZorderSpec extends SparkSpec {
  private val sf01 = "/root/testdata/sf0.01"

  /** (min,max) of one int64 column per row group across a layout's files. */
  private def rowGroupRanges(dir: String, column: String): Seq[(Long, Long)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    new java.io.File(dir).listFiles
      .filter(_.getName.endsWith(".parquet")).toSeq
      .flatMap { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getFooter.getBlocks.asScala.toSeq.map { b =>
          val c = b.getColumns.asScala
            .find(_.getPath.toDotString == column)
            .getOrElse(fail(s"no $column column chunk in ${f.getName}"))
          val st = c.getStatistics
          (st.genericGetMin.asInstanceOf[java.lang.Long].longValue,
            st.genericGetMax.asInstanceOf[java.lang.Long].longValue)
        }
        finally r.close()
      }
  }

  private def matching(ranges: Seq[(Long, Long)], lo: Long, hi: Long): Int =
    ranges.count { case (mn, mx) => mx >= lo && mn < hi }

  test("z layout prunes BOTH probe keys; linear layout only its sort key") {
    val zDir = Relational3.zorderSlot(spark, sf01)
    val zPart = rowGroupRanges(zDir, "l_partkey")
    val zSupp = rowGroupRanges(zDir, "l_suppkey")
    assert(zPart.size >= 16, s"expected >=16 clusters, got ${zPart.size}")

    val linDir = tempDir("graft_linsort").toString
    graft.core.Tables.lineitem(spark, sf01)
      .repartitionByRange(16, col("l_partkey"))
      .sortWithinPartitions(col("l_partkey"))
      .write.mode("overwrite").parquet(linDir)
    val linPart = rowGroupRanges(linDir, "l_partkey")
    val linSupp = rowGroupRanges(linDir, "l_suppkey")
    assert(linPart.size >= 16)

    // the lane's probe l_suppkey in [40,44) (~4% of the domain) and a
    // partkey probe of similar selectivity: a 16-cluster z layout is a
    // ~4x4 quad grid, so either probe should match about a quarter of
    // the groups. The bound carries REAL slack (5/8, not 1/2): the range
    // partitioner's reservoir sampling is seeded by rdd.id, so cluster
    // boundaries shift with suite ordering — a boundary straddle was
    // measured pushing the suppkey probe from 8/16 to 9/16 matches under
    // a full-suite run while standalone runs stayed at 8 (r9c flake).
    // The load-bearing contrast is vs the linear layout below: EVERY
    // linear row group matches the off-key probe.
    assert(matching(zSupp, 40, 44) <= zSupp.size * 5 / 8,
      s"z layout failed to prune the suppkey probe: $zSupp")
    assert(matching(zPart, 500, 580) <= zPart.size * 5 / 8,
      s"z layout failed to prune the partkey probe: $zPart")

    // the linear layout serves its sort key strictly better than z...
    assert(matching(linPart, 500, 580) <= matching(zPart, 500, 580))
    // ...but the OTHER key's stats span the whole domain: nothing prunes
    assert(matching(linSupp, 40, 44) === linSupp.size,
      s"partkey-sorted layout unexpectedly prunable on suppkey: $linSupp")
  }

  test("suppkey probe is pushed into the z-layout scan") {
    val zDir = Relational3.zorderSlot(spark, sf01)
    val plan = spark.read.parquet(zDir)
      .filter(col("l_suppkey") >= 40 && col("l_suppkey") < 44)
      .queryExecution.executedPlan
    val scans = plan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    val pushed = scans.head.metadata("PushedFilters")
    assert(pushed.contains("GreaterThanOrEqual(l_suppkey,40)") &&
      pushed.contains("LessThan(l_suppkey,44)"), s"probe not pushed: $pushed")
  }

  test("zValue interleave: monotone in quad-cell order, distinct on edges") {
    import spark.implicits._
    // corners and a few interior points of the 16-bit x 16-bit domain
    val pts = Seq((0L, 0L), (0L, 65535L), (65535L, 0L), (65535L, 65535L),
      (1L, 0L), (0L, 1L), (32768L, 32768L), (12345L, 54321L))
    val got = pts.toDF("a", "b")
      .select(Relational3.zValue(col("a"), col("b")).as("z"))
      .as[Long].collect().toSeq

    def zRef(a: Long, b: Long): Long =
      (0 until 16).foldLeft(0L) { (acc, i) =>
        acc | (((a >> i) & 1L) << (2 * i + 1)) | (((b >> i) & 1L) << (2 * i))
      }
    assert(got === pts.map { case (a, b) => zRef(a, b) })
    assert(got.distinct.size === got.size, "interleave must be injective")
    // quad-cell ordering: every point in the low half of BOTH dims sorts
    // before every point in the high half of both dims
    assert(zRef(100, 200) < zRef(40000, 40000))
  }
}
