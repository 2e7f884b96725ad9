package graft

import org.apache.spark.sql.functions._
import graft.queries.TextOps.h60

/** hash60_arr must equal the transform/md5-hex SQL formulation it
  * replaces, element for element — raw and mod-reduced forms, nulls,
  * unicode, empty strings. */
class Hash60ArrSpec extends SparkSpec {
  import spark.implicits._

  test("raw and mod forms equal the SQL transform on adversarial strings") {
    val rows: Seq[Seq[String]] = Seq(
      Seq("a", "", "the quick", "ünïcødé ⚡", "的是在", "x" * 500),
      Seq(),
      Seq("dup", "dup", "DUP"))
    val df = rows.toDF("arr").repartition(2)
    val out = df.select(
        expr("hash60_arr(arr)").as("raw"),
        expr(s"transform(arr, s -> ${h60("s")})").as("raw_ref"),
        expr("hash60_arr(arr, 1000000007L)").as("m"),
        expr(s"transform(arr, s -> ${h60("s")} % 1000000007L)").as("m_ref"))
      .as[(Seq[Long], Seq[Long], Seq[Long], Seq[Long])].collect()
    out.foreach { case (raw, rawRef, m, mRef) =>
      assert(raw === rawRef)
      assert(m === mRef)
    }
  }

  test("null array yields null; null elements stay null (md5(NULL) parity)") {
    val df = Seq(Tuple1(Option.empty[Seq[String]])).toDF("arr")
    assert(df.select(expr("hash60_arr(arr)")).head().isNullAt(0))
    val withNullElem = spark.sql(
      "SELECT hash60_arr(array('a', CAST(NULL AS STRING))) AS h, " +
        s"transform(array('a', CAST(NULL AS STRING)), s -> ${h60("s")}) AS ref")
    val r = withNullElem.head()
    assert(r.getSeq[Any](0) === r.getSeq[Any](1)) // (hash, null) both sides
  }

  test("wrong arity / bad modulus raise clear errors") {
    val e = intercept[Exception](spark.sql("SELECT hash60_arr(array('a'), 0)").collect())
    assert(e.getMessage.contains("hash60_arr"))
  }
}
