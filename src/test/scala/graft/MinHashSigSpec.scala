package graft

import org.apache.spark.sql.functions._
import org.scalatest.prop.TableDrivenPropertyChecks

/** The codegen'd minhash12 Expression must be bit-identical to the SQL
  * reference formulation (12 × array_min(transform(...))) — the band keys,
  * the sketch aggregates, and the DuckDB oracle all assume ONE hash
  * family. Runs both the codegen and interpreted paths. */
class MinHashSigSpec extends SparkSpec {
  import spark.implicits._

  private val ref = graft.queries.Similarity.sigSpark

  test("minhash12 equals the 12-array_min reference formulation (incl. codegen)") {
    // ragged arrays incl. single-element, duplicates, values near p
    val rows = Seq(
      Seq(17L), Seq(0L, 999999999L, 1000000006L), Seq(423L, 423L, 423L),
      (1L to 200L).map(i => (i * 1234567L) % 1000000007L).toSeq)
    // repartition: a bare Project over LocalRelation is constant-folded by
    // ConvertToLocalRelation (driver-side interpreted projection) — the
    // Exchange forces a real executor stage so doGenCode actually runs
    val df = rows.toDF("hs").repartition(2)
    val out = df.select(expr("minhash12(hs)").as("fast"), expr(ref).as("slow"))
      .as[(Seq[Long], Seq[Long])].collect()
    out.foreach { case (fast, slow) => assert(fast === slow) }
    // and through the interpreted path (eval without codegen)
    withInterpretedOnly {
      val out2 = df.select(expr("minhash12(hs)").as("fast"), expr(ref).as("slow"))
        .as[(Seq[Long], Seq[Long])].collect()
      out2.foreach { case (fast, slow) => assert(fast === slow) }
    }
  }

  test("empty input yields the identity signature; null propagates") {
    val m = Seq(Seq.empty[Long]).toDF("hs")
      .select(expr("minhash12(hs)")).as[Seq[Long]].head()
    assert(m === Seq.fill(12)(Long.MaxValue))
    val n = Seq(Tuple1(null: Seq[Long])).toDF("hs")
      .select(expr("minhash12(hs)").isNull).as[Boolean].head()
    assert(n)
  }

  test("null elements are skipped — array_min's null semantics") {
    val (withNull, without) =
      Seq((Seq[java.lang.Long](5L, null), Seq[java.lang.Long](5L)))
        .toDF("a", "b").repartition(1)
        .select(expr("minhash12(a)").as("x"), expr("minhash12(b)").as("y"))
        .as[(Seq[Long], Seq[Long])].head()
    assert(withNull === without)
  }

  test("minhash12 rejects non-long arrays") {
    val e = intercept[Exception] {
      Seq(Seq("x")).toDF("hs").select(expr("minhash12(hs)")).collect()
    }
    assert(e.getMessage.toLowerCase.contains("minhash12") ||
      e.getMessage.contains("array<bigint>"))
  }
}
