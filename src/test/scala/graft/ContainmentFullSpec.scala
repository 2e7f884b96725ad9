package graft

import graft.queries.Similarity

/** q93 full-recall containment (smaller-side prefix filtering): the
  * size-ratio ≥ 10 quote fixture q92's jaccard-tuned banding provably
  * misses and q93 catches BY CONSTRUCTION (the r10 verdict task-2 gap),
  * recall-superset of q92 on real corpora, prefix-length arithmetic, and
  * the per-row integer invariants.
  */
class ContainmentFullSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: Seq[(Long, String, String)]): String = {
    val dir = tempDir("graft_containfull").toString
    rows.toDF("doc_id", "lang", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private val quote = (1 to 30).map(i => s"tok$i").mkString(" ")

  test("a 28-shingle quote inside a ~330-token doc (ratio ≥ 10): q92 misses, q93 catches") {
    // doc 2 embeds doc 1 verbatim then pads ×10: all 28 quote shingles
    // appear in the big doc, containment = 10000 bp, but jaccard ≈
    // 28/328 ≈ 0.085 — the per-band collision probability of the
    // 3-row minhash bands is ~0.085³ ≈ 6e-4, and with the md5-derived
    // deterministic family THIS fixture's signatures disagree in all 4
    // bands (asserted below, not assumed) — exactly the recall decay
    // q92's own scope note concedes. q93's guarantee needs no luck: at
    // τ = 0.7 the quote's 9-shingle prefix must intersect any doc
    // containing ≥ 20 of its 28 shingles.
    val big = quote + " " + (1 to 300).map(i => s"pad$i").mkString(" ")
    val dir = docs(Seq((1L, "en", quote), (2L, "en", big)))

    val q92 = Similarity.defs("q92_containment")(spark, dir).collect()
    assert(q92.isEmpty,
      s"fixture invalidated — q92's banding found ${q92.length} pair(s); " +
        "re-tune the pad vocabulary so the bands miss")

    val q93 = Similarity.defs("q93_containment_full")(spark, dir).collect()
    assert(q93.length === 1)
    val r = q93.head
    assert(r.getLong(0) === 1L && r.getLong(1) === 2L) // (doc_small, doc_large)
    assert(r.getLong(2) === 28L)    // small_sz: 30 tokens → 28 shingles
    assert(r.getLong(3) === 28L)    // inter_sz: quote fully contained
    assert(r.getLong(4) === 10000L) // cont_bp
  }

  test("q93 recall is a superset of q92 on the real corpus (same bp per pair)") {
    def asMap(rows: Array[org.apache.spark.sql.Row]): Map[(Long, Long), Long] =
      rows.map { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        (math.min(a, b), math.max(a, b)) -> r.getLong(4)
      }.toMap
    val q92 = asMap(Similarity.defs("q92_containment")(spark, sf001).collect())
    val q93 = asMap(Similarity.defs("q93_containment_full")(spark, sf001).collect())
    assert(q92.nonEmpty)
    q92.foreach { case (pair, bp) =>
      assert(q93.contains(pair), s"q93 missing q92 pair $pair — recall regression")
      assert(q93(pair) === bp, s"bp mismatch on $pair")
    }
  }

  test("partial containment below/above the threshold cuts exactly at 7/10") {
    // doc 1: 12 tokens → 10 shingles. doc 2 embeds the first 9 tokens of
    // doc 1 (7 shared shingles of 10 — 7/10 ≥ 7/10 passes, exactly at the
    // boundary) plus padding; doc 3 embeds the first 8 (6/10 — fails).
    val small = (1 to 12).map(i => s"w$i").mkString(" ")
    val in9 = (1 to 9).map(i => s"w$i").mkString(" ")
    val in8 = (1 to 8).map(i => s"w$i").mkString(" ")
    val padB = (1 to 60).map(i => s"pb$i").mkString(" ")
    val padC = (1 to 60).map(i => s"pc$i").mkString(" ")
    val dir = docs(Seq((1L, "en", small),
      (2L, "en", in9 + " " + padB), (3L, "en", in8 + " " + padC)))
    val rows = Similarity.defs("q93_containment_full")(spark, dir).collect()
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"boundary 7/10 pair missing from $pairs")
    assert(!pairs.contains((1L, 3L)), "6/10 must not pass the 0.7 threshold")
    val r12 = rows.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L).get
    assert(r12.getLong(2) === 10L && r12.getLong(3) === 7L)
    assert(r12.getLong(4) === 7000L)
  }

  test("exact-twin collapse (r11 128× fix): duplicate docs expand to all member pairs") {
    // Two groups, each duplicated: quote {1, 4} and quote-in-big {2, 3}.
    // The collapse must emit (a) same-set pairs as total containments and
    // (b) every cross member pair with the GROUP verdict — including
    // (4, 2): orientation is by SIZE (doc_small = the smaller DOC), so a
    // higher id lands in doc_small when its doc is the contained one,
    // exactly as the pre-collapse formulation designated.
    val big = quote + " " + (1 to 300).map(i => s"pad$i").mkString(" ")
    val dir = docs(Seq((1L, "en", quote), (2L, "en", big),
      (3L, "en", big), (4L, "en", quote)))
    val rows = Similarity.defs("q93_containment_full")(spark, dir).collect()
    val got = rows.map(r => (r.getLong(0), r.getLong(1)) ->
      (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val bigN = 328L // 330 tokens → 328 shingles
    assert(got === Map(
      (1L, 4L) -> ((28L, 28L, 10000L)), // same-set: total containment
      (2L, 3L) -> ((bigN, bigN, 10000L)),
      (1L, 2L) -> ((28L, 28L, 10000L)), // cross pairs inherit the group verdict
      (1L, 3L) -> ((28L, 28L, 10000L)),
      (4L, 2L) -> ((28L, 28L, 10000L)),
      (4L, 3L) -> ((28L, 28L, 10000L))))
    assert(rows.length === 6) // no duplicate emissions across branches
  }

  test("r16 candidate machinery is lossless vs an exhaustive cross-join twin") {
    // Pins the whole r16 candidate pipeline — twin collapse, hash-domain
    // postings off the precomputed shh, df-ordered prefix, the POSITIONAL
    // filter, and the two-stage verify — against a brute-force formulation
    // with none of it: every doc pair, one exact string-set intersect, the
    // same integer emission. A sliding-window fixture over a tiny shared
    // vocabulary puts many pairs near the 0.7 boundary so the prefix and
    // positional pruning are genuinely active (dozens of true pairs, many
    // near-misses), and wrap-around windows create high-df shingles so the
    // df order is non-trivial.
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(7)
    val vocab = (1 to 40).map(i => s"v$i")
    val dir = docs((1L to 60L).map { id =>
      val len = 8 + rnd.nextInt(30)
      val start = rnd.nextInt(vocab.size)
      val toks = (0 until len).map(k => vocab((start + k) % vocab.size))
      (id, "en", toks.mkString(" "))
    })
    val got = Similarity.defs("q93_containment_full")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    val d = Similarity.docsWithShingles(spark, dir)
    val ex = d.select(col("doc_id").as("ida"), col("sh").as("sha"))
      .crossJoin(d.select(col("doc_id").as("idb"), col("sh").as("shb")))
      .filter(col("ida") < col("idb"))
      .withColumn("na", size(col("sha"))).withColumn("nb", size(col("shb")))
      .withColumn("isz", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("small", least(col("na"), col("nb")))
      .filter(lit(10) * col("isz") >= lit(7) * col("small"))
      .select(
        when(col("na") < col("nb"), col("ida"))
          .when(col("nb") < col("na"), col("idb"))
          .otherwise(least(col("ida"), col("idb"))).as("doc_small"),
        when(col("na") < col("nb"), col("idb"))
          .when(col("nb") < col("na"), col("ida"))
          .otherwise(greatest(col("ida"), col("idb"))).as("doc_large"),
        col("small").cast("long"), col("isz").cast("long"),
        expr("CAST(isz AS BIGINT) * 10000 div small"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(ex.nonEmpty && ex.size > 20, s"fixture too sparse: ${ex.size} pairs")
    assert(got === ex)
  }

  test("every emitted row satisfies the integer threshold, bp identity and size orientation") {
    val d = Similarity.defs("q93_containment_full")(spark, sf001)
    val rows = d.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (small, inter, bp) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(10L * inter >= 7L * small)
      assert(bp === inter * 10000L / small)
      assert(inter <= small && small >= 1L)
    }
  }
}
