package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class DigestSinkSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.session.timeZone", "UTC").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def digestOf(rows: Seq[(Long, Double, String)]): DigestSink.Digest = {
    import spark.implicits._
    rows.toDF("id", "x", "s").repartition(3)
      .write.format(classOf[DigestSink].getName).mode("overwrite").option("key", "t").save()
    DigestSink.take("t").get
  }

  // The same literal is pinned in perfbench/tests/test_perfbench.py for
  // oracle.py's canonical text: both sides of the lane check agree on it.
  test("canonical row text: name order, integral floats as integers, bit-exact floats") {
    val schema = StructType(Seq(StructField("z_date", DateType), StructField("b_dbl", DoubleType),
      StructField("a_long", LongType), StructField("c_str", StringType),
      StructField("d_null", StringType), StructField("e_ts", TimestampType),
      StructField("f_int_dbl", DoubleType)))
    val row = InternalRow(1, 2.5, 1L, UTF8String.fromString("hé"), null, 1000000L, 3.0)
    val sb = new java.lang.StringBuilder
    DigestSink.canonRow(sb, row, schema, DigestSink.nameOrder(schema))
    assert(sb.toString == "i1|d4004000000000000|s2:hé|N|t1000000|i3|t86400000000")
  }

  test("the digest ignores row order and partitioning") {
    val rows = (1 to 50).map(i => (i.toLong, i / 7.0, s"r$i"))
    val a = digestOf(rows)
    val b = digestOf(rows.reverse)
    assert(a == b)
    assert(a.rows == 50)
  }

  test("a wrong value or a lost row changes the digest") {
    val rows = (1 to 50).map(i => (i.toLong, i / 7.0, s"r$i"))
    val good = digestOf(rows)
    assert(digestOf(rows.updated(10, (11L, 11 / 7.0 + 1e-12, "r11"))).sum != good.sum)
    assert(digestOf(rows.tail) != good)
  }
}
