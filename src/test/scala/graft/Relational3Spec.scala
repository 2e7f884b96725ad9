package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.queries.Relational3

/** Controlled-fixture semantics for the round-4 relational lanes — the
  * paths the clean TPC-H-ish fixture cannot exercise: real NULLs in the
  * profile, one-side-only days in the outer join, and every diff verdict
  * including the unchanged-drop. */
class Relational3Spec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("profile counts real NULLs and distincts; min/max skip NULLs") {
    val d = tempDir("graft_r3prof").toString
    Seq(
      (1L, Option(10L), Option("A"), Option(5.0), Option(ts("2024-01-02 00:00:00")), Option("HI")),
      (2L, None,        Option("B"), None,        Option(ts("2024-01-01 00:00:00")), None),
      (3L, Option(10L), None,        Option(7.5), None,                              Option("LO")))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.parquet(s"$d/orders.parquet")
    val rows = Relational3.q37Profile(spark, d).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getString(3), r.getString(4))))
      .toMap
    assert(rows("o_custkey") === ((1L, 1L, "10", "10")))   // 1 null, 1 distinct
    assert(rows("o_orderstatus") === ((1L, 2L, "A", "B")))
    assert(rows("o_totalprice") === ((1L, 2L, "5.0", "7.5")))
    assert(rows("o_orderkey") === ((0L, 3L, "1", "3")))
    assert(rows("o_orderdate")._1 === 1L)                  // min/max skip the null
    assert(rows("o_orderdate")._3 === "2024-01-01 00:00:00")
  }

  test("outer join keeps one-side-only days; both_sides flags correctly") {
    val d = tempDir("graft_r3outer").toString
    Seq((1L, 1L, "O", 1.0, ts("2024-01-01 00:00:00"), "P1"),
        (2L, 1L, "O", 1.0, ts("2024-01-02 00:00:00"), "P1"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.parquet(s"$d/orders.parquet")
    Seq((1L, 1L, 1L, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", ts("2024-01-02 00:00:00")),
        (2L, 1L, 1L, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", ts("2024-01-03 00:00:00")))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
        "l_shipdate")
      .write.parquet(s"$d/lineitem.parquet")
    val rows = Relational3.q07OuterJoin(spark, d).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(rows === Map(
      "2024-01-01" -> ((1L, 0L, false)),  // orders only
      "2024-01-02" -> ((1L, 1L, true)),   // both
      "2024-01-03" -> ((0L, 1L, false)))) // shipments only
  }

  test("diff emits every verdict and drops unchanged keys") {
    val d = tempDir("graft_r3diff").toString
    // snapshot membership: old = %7 != 0, new = %5 != 0, update if %3 == 0
    //  6 -> both, %3==0     -> update
    //  7 -> new only (%7=0) -> insert
    // 10 -> old only (%5=0) -> delete
    //  8, 11 -> both, price unchanged -> dropped
    Seq(6L, 7L, 8L, 10L, 11L)
      .map(k => (k, k, "O", 100.0, ts("2024-01-01 00:00:00"), "P1"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.parquet(s"$d/orders.parquet")
    val rows = Relational3.q36Diff(spark, d).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows === Map(6L -> "update", 7L -> "insert", 10L -> "delete"))
  }
}
