package graft

import org.apache.spark.sql.functions._
import graft.core.KMeans

/** core.KMeans' Lloyd-loop laws:
  *  - the augmented-dimension assignment IS brute-force Euclidean argmin
  *    with smallest-id tie-break (pinned against a Scala reference);
  *  - SSE is non-increasing across iterations (Lloyd's theorem; floats
  *    get a 1e-9 relative tolerance);
  *  - well-separated planted clusters are recovered exactly — same
  *    partition regardless of input partitioning (assignment is per-row
  *    and the planted gaps dwarf any ULP wobble in the means);
  *  - the q25_kmeans lane's audit rows carry those laws visibly.
  */
class KMeansSpec extends SparkSpec {

  private def vecsDF(rows: Seq[(Long, Array[Float])]) = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
  }

  /** Deterministic pseudo-random floats from (id, dim). */
  private def noise(id: Long, d: Int): Float =
    (((id * 1103515245L + d * 12345L) % 1000L).toFloat / 1000f - 0.5f) * 0.1f

  private def planted(nPerCluster: Int, dims: Int): Seq[(Long, Array[Float], Int)] = {
    val centers = Seq(
      Array.fill(dims)(0f), Array.fill(dims)(10f), Array.fill(dims)(-10f))
    for {
      (c, ci) <- centers.zipWithIndex
      j <- 0 until nPerCluster
    } yield {
      val id = ci * 1000L + j
      (id, c.zipWithIndex.map { case (v, d) => v + noise(id, d) }, ci)
    }
  }

  test("euclidAssign equals brute-force argmin with smallest-id tie-break") {
    import spark.implicits._
    val cents = IndexedSeq(
      Array(0.0, 0.0), Array(3.0, 4.0), Array(-3.0, 4.0), Array(0.0, 5.0))
    val pts = Seq(
      (1L, Array(0.1f, 0.2f)), (2L, Array(2.9f, 4.2f)), (3L, Array(-2.0f, 3.0f)),
      (4L, Array(0.0f, 4.5f)), (5L, Array(0.0f, 2.5f)), // equidistant (0,0)/(0,5): id 0 wins
      (6L, Array(100f, -7f)), (7L, Array(0f, 0f)))
    val got = vecsDF(pts)
      .withColumn("cid", KMeans.euclidAssign(col("embedding"), cents))
      .select("vec_id", "cid").as[(Long, Long)].collect().toMap
    def brute(x: Array[Float]): Long =
      cents.zipWithIndex.map { case (c, i) =>
        (c.zip(x.map(_.toDouble)).map { case (a, b) => (a - b) * (a - b) }.sum, i)
      }.minBy { case (d, i) => (d, i) }._2.toLong
    pts.foreach { case (id, x) =>
      assert(got(id) === brute(x), s"vec $id")
    }
    assert(got(5L) === 0L, "equidistant point must take the smaller centroid id")
  }

  test("SSE is non-increasing across Lloyd iterations (sf0.01 embeddings)") {
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.01")
    val res = KMeans.refine(e, "vec_id", "embedding", k = 16, iters = 5)
    assert(res.history.size === 5)
    res.history.sliding(2).foreach {
      case Seq(a, b) =>
        assert(b.sse <= a.sse * (1 + 1e-9),
          s"SSE rose: iter ${a.iter} ${a.sse} -> iter ${b.iter} ${b.sse}")
      case _ => ()
    }
    assert(res.history.last.sse < res.history.head.sse,
      "five rounds should actually improve the seeds")
  }

  test("planted clusters recovered exactly, under every partitioning") {
    import spark.implicits._
    val pts = planted(40, 8)
    Seq(1, 5, 17).foreach { parts =>
      val df = vecsDF(pts.map(p => (p._1, p._2))).repartition(parts)
      val res = KMeans.refine(df, "vec_id", "embedding", k = 3, iters = 3)
      val got = df.withColumn("cid", res.assign(col("embedding")))
        .select("vec_id", "cid").as[(Long, Long)].collect().toMap
      // recovered partition ≡ planted partition (up to cluster relabeling)
      val byPlanted = pts.groupBy(_._3).values.map(_.map(p => got(p._1)).toSet)
      assert(byPlanted.forall(_.size == 1), s"parts=$parts: planted cluster split")
      assert(byPlanted.flatten.toSet.size === 3, s"parts=$parts: clusters merged")
    }
  }

  test("q25_kmeans lane: audit rows carry monotone SSE and real improvement") {
    val out = graft.queries.Similarity
      .q25Kmeans(spark, "/root/testdata/sf0.01").collect()
    assert(out.length === 4)
    val sses = out.map(_.getAs[Double]("sse"))
    sses.sliding(2).foreach {
      case Array(a, b) => assert(b <= a * (1 + 1e-9))
      case _ => ()
    }
    assert(out.last.getAs[Double]("improvement_vs_seed") > 0.0,
      s"training bought nothing: ${out.last}")
  }

  test("refineSubspaces equals per-subspace refine (the PQ-trainer identity)") {
    // 24-dim vectors, m = 3 subspaces of 8 dims: the joint one-job-per-
    // iteration trainer must land on the same codebooks as three separate
    // refine() loops over slice(embedding, j*8+1, 8). Equality is within
    // 1e-9 per component, not bitwise: the two plans aggregate the same
    // groups but may order vec_avg's float partial sums differently.
    val rows = (0L until 120L).map { id =>
      (id, Array.tabulate(24)(d => noise(id * 7 + 1, d) * 50f))
    }
    val df = vecsDF(rows)
    val joint = KMeans.refineSubspaces(df, "vec_id", "embedding",
      m = 3, dim = 8, k = 4, iters = 2)
    val separate = (0 until 3).map { j =>
      KMeans.refine(
        df.withColumn("sub", expr(s"slice(embedding, ${j * 8 + 1}, 8)")),
        "vec_id", "sub", k = 4, iters = 2).centroids
    }
    for (j <- 0 until 3; c <- 0 until 4; d <- 0 until 8)
      assert(math.abs(joint(j)(c)(d) - separate(j)(c)(d)) <= 1e-9,
        s"subspace $j centroid $c dim $d: ${joint(j)(c)(d)} vs ${separate(j)(c)(d)}")
  }
}
