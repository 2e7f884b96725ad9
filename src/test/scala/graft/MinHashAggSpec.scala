package graft

import org.apache.spark.sql.functions._
import graft.functions.MinHashFamily

/** The two imperative sketch aggregates and the columnar plain-min
  * formulation must agree bit-for-bit — q24_lang_sketch's oracle recomputes
  * the sketch as K plain min() aggregates, and the per-doc merge path
  * (minhash_sketch_merge) is only sound if min-of-partial-minima equals the
  * global minima. */
class MinHashAggSpec extends SparkSpec {
  import spark.implicits._
  import MinHashFamily.{A, B, K, P}

  private lazy val hashed = {
    // 3 groups, ragged sizes, duplicate values across groups
    Seq(
      ("g1", 17L), ("g1", 423L), ("g1", 999999999L), ("g1", 423L),
      ("g2", 5L),
      ("g3", 888L), ("g3", 17L))
      .toDF("g", "hv")
  }

  private val sigExpr = (0 until K)
    .map(i => s"min((${A(i)}L * hv + ${B(i)}L) % ${P}L)")
    .mkString("array(", ", ", ")")

  test("minhash_sketch equals the K-plain-min columnar formulation") {
    val fast = hashed.groupBy($"g").agg(expr("minhash_sketch(hv)").as("s"))
      .orderBy($"g").as[(String, Seq[Long])].collect()
    val ref = hashed.groupBy($"g").agg(expr(sigExpr).as("s"))
      .orderBy($"g").as[(String, Seq[Long])].collect()
    assert(fast === ref)
  }

  test("minhash_sketch_merge over per-row partials equals minhash_sketch over values") {
    // per-row partial = the row's own K-vector (a 1-element "doc")
    val perRow = hashed.withColumn("sig", expr(
      (0 until K).map(i => s"(${A(i)}L * hv + ${B(i)}L) % ${P}L")
        .mkString("array(", ", ", ")")))
    val merged = perRow.groupBy($"g").agg(expr("minhash_sketch_merge(sig)").as("s"))
      .orderBy($"g").as[(String, Seq[Long])].collect()
    val direct = hashed.groupBy($"g").agg(expr("minhash_sketch(hv)").as("s"))
      .orderBy($"g").as[(String, Seq[Long])].collect()
    assert(merged === direct)
  }

  test("minhash_sketch_merge rejects wrong-length partials") {
    val bad = Seq(("g1", Seq(1L, 2L))).toDF("g", "sig")
    val e = intercept[Exception] {
      bad.groupBy($"g").agg(expr("minhash_sketch_merge(sig)")).collect()
    }
    assert(e.getMessage.contains("12") || e.getCause != null)
  }
}
