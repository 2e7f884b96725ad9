package graft

import graft.queries.Similarity

/** Audit harness for the production (order-free avg) IVF quantizer — the
  * lane is rows-only in the driver's oracle gate BY DESIGN (float summation
  * order is partition-nondeterministic), so its correctness evidence lives
  * here instead: component-wise ε-equality with the oracle-replayable
  * exact-mean quantizer at equal K, and recall@10 tolerance at sf0.1. */
class IvfScaleSpec extends SparkSpec {

  test("at-scale centroids ε-match the exact-mean quantizer at equal K") {
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.01")
    def asMap(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Double]] =
      df.collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toMap
    val exact = asMap(Similarity.ivfCentroids(e).select("cid", "cvec"))
    val scale = asMap(Similarity.ivfCentroidsAtScale(e, Similarity.IvfK))
    assert(scale.keySet === exact.keySet)
    // same seeds, same argmax assignment, mathematically the same mean —
    // only float summation ORDER differs, so per-component error is
    // rounding-level, far below any assignment-flipping magnitude
    scale.foreach { case (cid, v) =>
      val w = exact(cid)
      assert(v.length === w.length)
      v.zip(w).foreach { case (a, b) => assert(math.abs(a - b) <= 1e-9,
        s"cid=$cid component diverged: $a vs $b") }
    }
  }

  test("K scales as √n, floored at IvfK and capped for broadcast") {
    assert(Similarity.kForCorpus(100L) === Similarity.IvfK) // √100 < floor
    assert(Similarity.kForCorpus(10_000L) === 100)
    assert(Similarity.kForCorpus(1_000_000L) === 1000)
    assert(Similarity.kForCorpus(100_000_000_000L) === 4096) // 100 TB corpus: capped
  }

  test("q25_ivf_scale strands no cached RDDs (r8 fix held without persist)") {
    // drain caches persisted by OTHER lanes in this shared session (e.g.
    // the exact-mean quantizer's documented lazy persist) so the assertion
    // isolates what THIS lane leaves behind
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    Similarity.q25IvfScale(spark, "/root/testdata/sf0.01").count()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"stranded: ${spark.sparkContext.getPersistentRDDs.keys.toSeq}")
  }

  test("nearest_centroid matches the cosine-argmax window formulation") {
    import org.apache.spark.sql.functions._
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.01")
    val cents: Seq[(Long, Seq[Double])] =
      Similarity.ivfCentroids(e).select("cid", "cvec").collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
    // reference: broadcast crossJoin + row_number window (cos desc, cid asc)
    import spark.implicits._
    val centsDf = cents.toDF("cid", "cvec")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("cos_c").desc, col("cid"))
    val viaWindow = e.crossJoin(broadcast(centsDf))
      .withColumn("cos_c",
        call_function("dotf", col("embedding"), col("cvec")) /
          (sqrt(call_function("dotf", col("embedding"), col("embedding"))) *
            sqrt(call_function("dotf", col("cvec"), col("cvec")))))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("vec_id"), col("cid"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def exprAssign(): Map[Long, Long] = e.select(col("vec_id"),
        graft.functions.NearestCentroid.nearestOf(col("embedding"), cents).as("cid"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exprAssign() === viaWindow)
    // codegen/interpreted parity (the eval path serves interpreted plans)
    withInterpretedOnly { assert(exprAssign() === viaWindow) }
  }

  test("vec_avg equals the per-dimension declarative mean") {
    import org.apache.spark.sql.functions._
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.01")
      .withColumn("g", (col("vec_id") % 7).cast("long"))
    val viaAgg = e.groupBy("g")
      .agg(call_function("vec_avg", col("embedding")).as("m"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toMap
    val dims = viaAgg.head._2.length
    val viaAvg = e.groupBy("g")
      .agg(array((0 until dims).map(j =>
        avg(col("embedding").getItem(j).cast("double"))): _*).as("m"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toMap
    assert(viaAgg.keySet === viaAvg.keySet)
    viaAgg.foreach { case (g, v) =>
      v.zip(viaAvg(g)).foreach { case (a, b) =>
        assert(math.abs(a - b) <= 1e-9, s"g=$g diverged: $a vs $b") }
    }
  }

  test("q25_ivf_scale recall@10 at sf0.1 is within tolerance of the exact-mean IVF lane") {
    val dir = "/root/testdata/sf0.1"
    val rScale = Similarity.q25IvfScale(spark, dir)
      .select("recall").head().getDouble(0)
    val rExact = Similarity.q25IvfRecall(spark, dir)
      .select("recall").head().getDouble(0)
    // recall@10 is a multiple of 0.1; the two quantizers probe the same
    // 1/4 fraction of their centroid sets, so their recall should agree
    // within a couple of neighbours on this corpus
    assert(math.abs(rScale - rExact) <= 0.3,
      s"recall diverged: at-scale $rScale vs exact-mean $rExact")
    assert(rScale >= 0.5, s"at-scale recall collapsed: $rScale")
  }
}
