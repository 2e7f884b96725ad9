package graft

import graft.queries.{Entity, TextOps}

/** q86 graph modularity + q87 n-gram novelty: closed-form fixtures (one
  * community ⇒ Q = 0; two clean communities ⇒ ΔQ = ¼ each; identical /
  * fully-novel candidate halves) and a brute-force modularity replica on a
  * seeded random basket corpus.
  */
class ModularityNoveltySpec extends SparkSpec {
  import spark.implicits._

  /** lineitem+part fixture from baskets (orderkey → parts) and a brand map. */
  private def graph(baskets: Seq[(Long, Seq[Long])],
                    brands: Map[Long, String]): String = {
    val dir = tempDir("graft_modularity").toString
    baskets.flatMap { case (ok, pks) => pks.map(pk => (ok, pk)) }
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    brands.toSeq.toDF("p_partkey", "p_brand")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    dir
  }

  private def mod(baskets: Seq[(Long, Seq[Long])], brands: Map[Long, String])
  : Map[String, (Long, Long, Long, Long, Double)] =
    Entity.q86Modularity(spark, graph(baskets, brands)).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))).toMap

  test("q86: a single community has modularity exactly 0") {
    val m = mod(Seq((1L, Seq(1L, 2L, 3L))),
      Map(1L -> "B1", 2L -> "B1", 3L -> "B1"))
    val (in, deg, mm, bp, dq) = m("B1")
    assert(in === 3L && deg === 6L && mm === 3L && bp === 0L && dq === 0.0)
  }

  test("q86: two clean communities contribute 1/4 each (2500 bp)") {
    val m = mod(Seq((1L, Seq(1L, 2L, 3L)), (2L, Seq(4L, 5L, 6L))),
      Map(1L -> "B1", 2L -> "B1", 3L -> "B1",
        4L -> "B2", 5L -> "B2", 6L -> "B2"))
    Seq("B1", "B2").foreach { c =>
      val (in, deg, mm, bp, dq) = m(c)
      assert(in === 3L && deg === 6L && mm === 6L && bp === 2500L && dq === 0.25)
    }
  }

  test("q86: cross-heavy communities take NEGATIVE dq_bp with a non-exact " +
    "quotient — truncation-toward-zero parity pinned (r10 ADVICE)") {
    // triangle 1–2–3 with 1 alone in B1: m = 3; B1 deg 2, in_c 0 ⇒
    // (0 − 4)·10⁴ div 36 = −40000 div 36 = −1111 when truncating toward
    // zero (flooring would give −1112 — the divergence the old docs
    // wrongly claimed; measured: DuckDB `//` truncates, (-7)//2 = -3).
    val m = mod(Seq((1L, Seq(1L, 2L)), (2L, Seq(1L, 3L)), (3L, Seq(2L, 3L))),
      Map(1L -> "B1", 2L -> "B2", 3L -> "B2"))
    val (inB1, degB1, mB1, bpB1, dqB1) = m("B1")
    assert(inB1 === 0L && degB1 === 2L && mB1 === 3L)
    assert(bpB1 === -1111L) // NOT −1112: truncation, matching DuckDB
    assert(dqB1 < 0.0)
    // B2: deg 4, in_c 1 ⇒ (12 − 16)·10⁴ div 36 = −1111 as well
    val (inB2, degB2, _, bpB2, dqB2) = m("B2")
    assert(inB2 === 1L && degB2 === 4L && bpB2 === -1111L && dqB2 < 0.0)
  }

  test("q86: matches the brute-force Newman sum on a seeded basket corpus") {
    val rnd = new scala.util.Random(86)
    val baskets = (1L to 30L).map(ok =>
      ok -> Seq.fill(rnd.nextInt(4) + 2)(rnd.nextInt(12) + 1L).distinct)
    val brands = (1L to 12L).map(pk => pk -> s"B${pk % 3}").toMap
    val got = mod(baskets, brands)

    val edges = baskets.flatMap { case (_, pks) =>
      for (a <- pks; b <- pks if a < b) yield (a, b)
    }.distinct
    val m = edges.size.toLong
    val deg = edges.flatMap(e => Seq(e._1, e._2))
      .groupBy(brands).map { case (c, ns) => c -> ns.size.toLong }
    val inC = edges.filter(e => brands(e._1) == brands(e._2))
      .groupBy(e => brands(e._1)).map { case (c, es) => c -> es.size.toLong }
    deg.keys.foreach { c =>
      val (in, d, mm, bp, dq) = got(c)
      assert(mm === m && d === deg(c) && in === inC.getOrElse(c, 0L))
      val wantBp = (BigInt(4) * m * in - BigInt(d) * d) * 10000 / (BigInt(4) * m * m)
      assert(bp === wantBp.toLong)
      val wantDq = in.toDouble / m.toDouble -
        (d.toDouble / (2L * m).toDouble) * (d.toDouble / (2L * m).toDouble)
      assert(dq === wantDq)
    }
  }

  /** documents fixture: (docId, lang, text) — even ids = reference half. */
  private def docs(rows: Seq[(Long, String, String)]): String = {
    val dir = tempDir("graft_novelty").toString
    rows.toDF("doc_id", "lang", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def novelty(rows: Seq[(Long, String, String)])
  : Map[String, (Long, Long, Long)] =
    TextOps.q87NgramNovelty(spark, docs(rows)).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap

  test("q87: a candidate identical to the reference has novelty 0") {
    val t = "the quick brown fox jumps"
    val m = novelty(Seq((0L, "en", t), (1L, "en", t)))
    assert(m("en") === ((3L, 0L, 0L)))  // 5 tokens → 3 trigrams, none new
  }

  test("q87: a fully disjoint candidate has novelty 10000 bp") {
    val m = novelty(Seq((0L, "en", "aa bb cc dd"),
      (1L, "en", "xx yy zz ww")))
    assert(m("en") === ((2L, 2L, 10000L)))
  }

  test("q87: mixed overlap counts exactly; langs are independent") {
    // candidate trigrams: "a b c", "b c d" (from "a b c d") — "a b c" is in
    // the reference ("z a b c" yields "z a b", "a b c"), "b c d" is not.
    val m = novelty(Seq((0L, "en", "z a b c"), (1L, "en", "a b c d"),
      (2L, "fr", "un deux trois"), (3L, "fr", "un deux trois")))
    assert(m("en") === ((2L, 1L, 5000L)))
    assert(m("fr") === ((1L, 0L, 0L)))
  }

  test("q87: docs shorter than 3 tokens contribute nothing (no crash)") {
    val m = novelty(Seq((0L, "en", "a b"), (1L, "en", "x"),
      (3L, "en", "p q r")))
    assert(m("en") === ((1L, 1L, 10000L)))
  }
}
