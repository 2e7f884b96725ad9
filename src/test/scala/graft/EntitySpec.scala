package graft

import graft.queries.Entity

/** q47_linkage / q47_kanon / q15_ntile_bins semantics, proven against
  * driver-side recomputation on sf0.001 (small enough to brute-force).
  */
class EntitySpec extends SparkSpec {

  /** Classic DP edit distance — the definition both engines implement. */
  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("q47_linkage equals brute-force same-block pairs under lev<=3") {
    val got = Entity.q47Linkage(spark, sf001).collect()
      .map(r => (r.getAs[String]("name_a"), r.getAs[String]("name_b"),
        r.getAs[Int]("dist"))).toSet
    val names = graft.core.Tables.part(spark, sf001)
      .select("p_name").distinct().collect().map(_.getString(0))
    val expect = (for {
      a <- names; b <- names
      if a < b && a.split(" ").last == b.split(" ").last
      d = lev(a, b) if d <= 3
    } yield (a, b, d)).toSet
    assert(got === expect)
    // every emitted distance really is the DP edit distance (Spark's
    // levenshtein ≡ the classic definition — the oracle-parity hinge)
    got.foreach { case (a, b, d) => assert(d === lev(a, b)) }
  }

  test("q47_kanon: every released row covers >= k individuals; nothing lost") {
    val k = 10
    val out = Entity.q47Kanon(spark, sf001).collect()
    val total = graft.core.Tables.customer(spark, sf001).count()
    assert(out.map(_.getAs[Long]("n_rows")).sum === total)
    out.foreach { r =>
      val isCatchAll = r.getAs[String]("nation") == "*"
      if (!isCatchAll) assert(r.getAs[Long]("n_rows") >= k)
      // the catch-all aggregates groups that were each < k
      else assert(r.getAs[Long]("n_groups") >= 1)
    }
    // at most one catch-all row
    assert(out.count(_.getAs[String]("nation") == "*") <= 1)
  }

  test("q47_ldiversity: released groups are l-diverse; nothing lost") {
    val l = 3
    val out = Entity.q47Ldiversity(spark, sf001).collect()
    val total = graft.core.Tables.customer(spark, sf001).count()
    assert(out.map(_.getAs[Long]("n_rows")).sum === total)
    out.foreach { r =>
      if (r.getAs[String]("nation") != "*")
        assert(r.getAs[Long]("min_bands") >= l,
          s"released group ${r.getAs[String]("nation")} under-diverse")
      else assert(r.getAs[Long]("min_bands") < l)
    }
    assert(out.count(_.getAs[String]("nation") == "*") <= 1)
  }

  test("q81: hand baskets produce exactly the supported, confident rules") {
    import spark.implicits._
    // {A,B}×3 + {A,C}: only the A–B pair clears support ≥ 3
    val dir = tempDir("graft_rules").toString
    val rows = Seq((0L, 1L), (0L, 2L), (1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L),
      (3L, 1L), (3L, 3L))
    rows.toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = Entity.q81AprioriRules(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(5), r.getLong(6)))).toMap
    assert(out.keySet === Set((1L, 2L), (2L, 1L)))
    assert(out((1L, 2L)) === ((3L, 7500L, 10000L))) // conf 75%, lift 1.0
    assert(out((2L, 1L)) === ((3L, 10000L, 10000L))) // conf 100%
  }

  test("q82: equal balances give Gini 0; total concentration gives (n−1)/n") {
    import spark.implicits._
    def giniOf(bals: Seq[Double]): Double = {
      val dir = tempDir("graft_gini").toString
      bals.zipWithIndex.map { case (b, i) => (i.toLong, "SEG", b) }
        .toDF("c_custkey", "c_mktsegment", "c_acctbal")
        .write.mode("overwrite").parquet(s"$dir/customer.parquet")
      Entity.q82Gini(spark, dir).head().getAs[Double]("gini")
    }
    assert(giniOf(Seq.fill(10)(25.0)) === 0.0)
    assert(giniOf(Seq.fill(9)(0.0) :+ 1000.0) === 0.9) // (n−1)/n, n = 10
  }

  test("q15_ntile_bins: quartiles balanced within 1 and covering") {
    val out = Entity.q15NtileBins(spark, sf001).collect()
    val total = graft.core.Tables.orders(spark, sf001).count()
    assert(out.map(_.getAs[Long]("n")).sum === total)
    out.groupBy(_.getAs[String]("o_orderpriority")).foreach { case (_, bins) =>
      assert(bins.map(_.getAs[Int]("bin")).sorted.toSeq === Seq(1, 2, 3, 4))
      val sizes = bins.map(_.getAs[Long]("n"))
      assert(sizes.max - sizes.min <= 1, s"unbalanced: ${sizes.toSeq}")
      // bins are ordered ranges: lo/hi monotone across bins
      val byBin = bins.sortBy(_.getAs[Int]("bin"))
      byBin.sliding(2).foreach {
        // ties split across adjacent bins at worst ⇒ a.hi == b.lo; never >
        case Array(a, b) =>
          assert(a.getAs[Double]("hi") <= b.getAs[Double]("lo"))
        case _ => ()
      }
    }
  }
}
