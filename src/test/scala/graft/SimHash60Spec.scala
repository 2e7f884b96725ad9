package graft

import org.apache.spark.sql.functions._

/** The codegen'd simhash60 Expression must be bit-identical to the
  * 60-sum-column aggregation formulation it replaced — four lanes
  * (simhash_pairs, dedup_survivors, cc_clusters, quality_survivors) and
  * their DuckDB oracles assume ONE simhash definition. */
class SimHash60Spec extends SparkSpec {
  import spark.implicits._

  test("simhash60 equals the aggregation formulation on the sf0.001 corpus") {
    val agg = graft.queries.Similarity.simhashesAgg(spark, sf001)
      .as[(Long, Long)].collect().toMap
    // the parquet scan is a real executor stage, so this exercises the
    // doGenCode path (unlike a LocalRelation, which constant-folds);
    // TextOps.h60 is the ONE hash definition — no inline copy
    val fast = graft.core.Tables.documents(spark, sf001)
      .withColumn("th", expr(
        s"transform(split(text, ' '), t -> ${graft.queries.TextOps.h60("t")})"))
      .select($"doc_id", expr("simhash60(th)").as("s"))
      .as[(Long, Long)].collect().toMap
    assert(fast.size === agg.size)
    agg.foreach { case (id, s) => assert(fast(id) === s, s"doc $id") }
  }

  test("interpreted path agrees with codegen; empty array -> 0; null propagates") {
    val rows = Seq(Seq(1L, 2L, 3L), Seq((1L << 59) | 1L), Seq.empty[Long])
    def run(): Seq[Long] =
      // repartition: force an executor stage (see MinHashSigSpec note)
      rows.toDF("th").repartition(2)
        .select($"th", expr("simhash60(th)").as("s"))
        .orderBy($"th").select($"s").as[Long].collect().toSeq
    val viaCodegen = run()
    withInterpretedOnly { assert(run() === viaCodegen) }
    // ordered by th: empty array sorts FIRST (shortest/least) -> index 0
    assert(viaCodegen.head === 0L)
    val n = Seq(Tuple1(null: Seq[Long])).toDF("th")
      .select(expr("simhash60(th)").isNull).as[Boolean].head()
    assert(n)
  }

  test("null elements are skipped, not voted as zero") {
    val withNull = Seq((Seq[java.lang.Long](5L, null), Seq[java.lang.Long](5L)))
      .toDF("a", "b").repartition(1)
      .select(expr("simhash60(a)").as("x"), expr("simhash60(b)").as("y"))
      .as[(Long, Long)].head()
    assert(withNull._1 === withNull._2)
  }
}
