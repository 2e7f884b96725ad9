package graft

import graft.queries.Entity

/** q67 item-item co-occurrence similarity: hand-graph closed form (weights,
  * cosine values, tie-break order), duplicate-row idempotence, and the
  * top-k cap through the custom physical operator.
  */
class CooccurSimSpec extends SparkSpec {
  import spark.implicits._

  private def fixture(baskets: Seq[Seq[Long]]): String = {
    val dir = tempDir("graft_cooccur").toString
    baskets.zipWithIndex.flatMap { case (parts, ok) =>
      parts.map(p => (ok.toLong, p))
    }.toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    dir
  }

  test("hand graph: weights, cosine values, and tie-break order are exact") {
    // baskets: {A,B,C}, {A,B}, {A,D}  (A=1 B=2 C=3 D=4)
    val dir = fixture(Seq(Seq(1L, 2L, 3L), Seq(1L, 2L), Seq(1L, 4L)))
    val rows = Entity.q67CooccurSim(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val aRows = rows.filter(_._1 == 1L)
    // A's neighbors ranked: B sim=2/√6, then C and D tie at 1/√3 → C first
    assert(aRows.map(_._2).toSeq === Seq(2L, 3L, 4L))
    assert(aRows(0)._3 === 2L && aRows(0)._4 === 2.0 / math.sqrt(6.0))
    assert(aRows(1)._4 === 1.0 / math.sqrt(3.0))
    assert(aRows(1)._4 === aRows(2)._4)
    // symmetric direction exists with the same weight
    val bRows = rows.filter(_._1 == 2L)
    assert(bRows.head._2 === 1L && bRows.head._3 === 2L)
  }

  test("duplicate lineitem rows do not inflate co-occurrence weights") {
    val base = Seq(Seq(1L, 2L), Seq(1L, 2L, 2L, 1L)) // dup parts in basket 2
    val rows = Entity.q67CooccurSim(spark, fixture(base)).collect()
    rows.foreach(r => assert(r.getLong(2) === 2L)) // w(A,B) = 2 orders, not 3+
    assert(rows.forall(r => r.getDouble(3) === 1.0)) // identical incidence
  }

  test("q83: power-of-two degree buckets are exact (⌊log₂ d⌋ by bin length)") {
    // hub 0 touches 9 leaves (deg 9 → bucket 3); leaves deg 1 → bucket 0;
    // separate pair {100,101} adds two more deg-1 nodes
    val baskets = (1L to 9L).map(leaf => Seq(0L, leaf)) :+ Seq(100L, 101L)
    val out = graft.queries.Entity.q83DegreeDist(spark, fixture(baskets))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out.keySet === Set(0L, 3L))
    assert(out(0L) === ((11L, 1L, 1L, 11L))) // 9 leaves + the pair
    assert(out(3L) === ((1L, 9L, 9L, 9L)))   // the hub
  }

  test("q74: a star graph is perfectly disassortative (r = −1 exactly)") {
    // closed form: every edge pairs degree n with degree 1 →
    // num = −n²(n−1)², den = n²(n−1)² → r = −1
    val star = (1L to 8L).map(leaf => Seq(0L, leaf))
    val r = graft.queries.Entity.q74Assortativity(spark, fixture(star))
      .head().getAs[Double]("r")
    assert(r === -1.0)
  }

  test("q74: seeded random graphs match a driver-side integer replica") {
    for (seed <- Seq(11, 23)) {
      val rnd = new scala.util.Random(seed)
      val baskets = Seq.fill(60)(Seq(rnd.nextInt(14).toLong, rnd.nextInt(14).toLong))
        .filter(b => b(0) != b(1))
      val row = graft.queries.Entity.q74Assortativity(spark, fixture(baskets)).head()
      // replica over the deduped undirected edge list
      val es = baskets.map(b => (b.min, b.max)).distinct
      val deg = (es.map(_._1) ++ es.map(_._2)).groupBy(identity)
        .map { case (n, xs) => n -> xs.size.toLong }
      val pairs = es.flatMap { case (u, v) => Seq((deg(u), deg(v)), (deg(v), deg(u))) }
      val n = pairs.size.toLong
      val sx = pairs.map(_._1).sum
      val sxx = pairs.map(p => p._1 * p._1).sum
      val sxy = pairs.map(p => p._1 * p._2).sum
      assert((row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
        === ((n, sx, sxx, sxy)), s"seed $seed sums diverged")
      val expR = (BigInt(n) * sxy - BigInt(sx) * sx).toDouble /
        (BigInt(n) * sxx - BigInt(sx) * sx).toDouble
      assert(row.getAs[Double]("r") === expR, s"seed $seed r diverged")
    }
  }

  test("top-k caps each part's neighbor list at 3") {
    // hub part 1 co-occurs with 6 others at distinct strengths
    val baskets = (2L to 7L).flatMap(p =>
      Seq.fill(p.toInt - 1)(Seq(1L, p))) // w(1,p) = p-1
    val got = Entity.q67CooccurSim(spark, fixture(baskets)).collect()
      .filter(_.getLong(0) == 1L)
    assert(got.length === 3)
    // strongest co-purchase counts win: w = 6, 5, 4
    assert(got.map(_.getLong(2)).toSeq === Seq(6L, 5L, 4L))
  }
}
