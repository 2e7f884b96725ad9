package graft

import org.apache.spark.sql.functions._

/** Unit spec for the custom codegen'd DotF expression: codegen and
  * interpreted paths agree with the higher-order-function formulation
  * bit-for-bit. */
class DotFSpec extends SparkSpec {
  import spark.implicits._

  test("dotf equals the aggregate/zip_with fold bit-exactly (float arrays)") {
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
      (Array(0.1f, -0.2f, 0.3f), Array(-0.4f, 0.5f, -0.6f)))
      .toDF("a", "b")
    val out = df.select(
      call_function("dotf", $"a", $"b").as("fast"),
      expr("aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (s, v) -> s + v)").as("ref"))
      .as[(Double, Double)].collect()
    out.foreach { case (fast, ref) =>
      assert(java.lang.Double.doubleToLongBits(fast) === java.lang.Double.doubleToLongBits(ref))
    }
  }

  test("dotf handles mixed float/double arrays and null propagation") {
    val df = Seq((Array(1.0f, 2.0f), Array(0.5, 0.25))).toDF("f", "d")
    assert(df.select(call_function("dotf", $"f", $"d")).as[Double].head === 1.0)
    val n = df.select(call_function("dotf", lit(null).cast("array<float>"), $"d").isNull)
      .as[Boolean].head
    assert(n)
  }

  test("dotf rejects non-numeric-array inputs") {
    val df = Seq((Array("x"), Array(1.0))).toDF("s", "d")
    val e = intercept[Exception] {
      df.select(call_function("dotf", $"s", $"d")).collect()
    }
    assert(e.getMessage.toLowerCase.contains("dotf") ||
      e.getMessage.toLowerCase.contains("data type mismatch"))
  }
}
