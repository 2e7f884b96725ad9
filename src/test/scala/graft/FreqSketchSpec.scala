package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** functions.FreqSketch's Misra-Gries guarantees, proven across merge
  * topologies (different partition counts force different partial-merge
  * trees through the Agarwal-et-al. merge rule):
  *  - est(x) ≤ true(x) for every summarized item;
  *  - true(x) − est(x) ≤ ⌊n/(k+1)⌋ (the error is an integer, so the real
  *    bound tightens to its floor);
  *  - every item with true(x) > n/(k+1) appears in the summary;
  *  - with k ≥ |vocabulary| the sketch IS the exact counts, regardless of
  *    partitioning (no eviction can ever fire — pure merge addition).
  */
class FreqSketchSpec extends SparkSpec {

  /** Deterministic zipf-ish stream: item i appears ~N/i times. */
  private def stream(nDistinct: Int, scale: Int): Seq[String] =
    (1 to nDistinct).flatMap(i => Seq.fill(scale / i)(s"item$i"))
      .sortBy(_.hashCode) // fixed but shuffled arrival order

  private def sketchOf(items: Seq[String], k: Int, parts: Int): Map[String, Long] = {
    import spark.implicits._
    items.toDF("tok").repartition(parts)
      .agg(expr(s"freq_sketch(tok, $k)").as("sk"))
      .select(explode(col("sk")).as("e"))
      .select(col("e.item"), col("e.est")).as[(String, Long)]
      .collect().toMap
  }

  test("exact when k covers the vocabulary, under every topology") {
    val items = stream(10, 300)
    val exact = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
    Seq(1, 3, 7, 32).foreach { parts =>
      assert(sketchOf(items, 16, parts) === exact, s"parts=$parts")
    }
  }

  test("MG bounds hold across merge topologies when eviction fires") {
    val items = stream(50, 2000)
    val n = items.size.toLong
    val k = 8
    val exact = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val bound = n / (k + 1) // floor — error is integral
    Seq(1, 4, 13, 32).foreach { parts =>
      val sk = sketchOf(items, k, parts)
      assert(sk.nonEmpty && sk.size <= k, s"parts=$parts: size ${sk.size}")
      sk.foreach { case (item, est) =>
        assert(est <= exact(item), s"parts=$parts: $item overestimated")
        assert(exact(item) - est <= bound,
          s"parts=$parts: $item error ${exact(item) - est} > $bound")
      }
      exact.foreach { case (item, t) =>
        if (t > bound) assert(sk.contains(item),
          s"parts=$parts: guaranteed heavy hitter $item missing (true $t > $bound)")
      }
    }
  }

  test("output is deterministically ordered given the summary") {
    import spark.implicits._
    val rows = stream(20, 500).toDF("tok").coalesce(1)
      .agg(expr("freq_sketch(tok, 6)").as("sk"))
      .select(explode(col("sk")).as("e")).select("e.item", "e.est")
      .collect().toSeq.map { case Row(i: String, e: Long) => (i, e) }
    assert(rows === rows.sortBy { case (i, e) => (-e, i) })
  }

  test("q46 lane: every audited row satisfies its own bound verdicts") {
    val out = graft.queries.TextOps
      .q46HeavyHitters(spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Boolean]("under_ok"), s"underestimate violated: $r")
      assert(r.getAs[Boolean]("band_ok"), s"error band violated: $r")
    }
  }
}
