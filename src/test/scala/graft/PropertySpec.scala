package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => PropTest}
import graft.core.ApiLimitCalculator

/** ScalaCheck properties (SURVEY §5d): invariants the reference needs but
  * never tests. Raw scalacheck runner (the scalatest bridge artifact isn't
  * in the offline cache). */
class PropertySpec extends AnyFunSuite with TempDirs {

  private def check(prop: Prop, n: Int = 100): Unit = {
    val res = PropTest.check(PropTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, res.status.toString)
  }

  test("limit calculator: result ≤ 10000 and projected size ≤ target·(1+ε)") {
    check(Prop.forAll(Gen.choose(1, 10000), Gen.choose(1024L, 64L * 1024 * 1024)) {
      (limit: Int, observed: Long) =>
        val next = ApiLimitCalculator.newLimit(limit, observed)
        val projected = observed.toDouble * next / limit
        next <= ApiLimitCalculator.MaxLimit && next >= 0 &&
          (projected <= ApiLimitCalculator.MaxFileSizeBytes *
            ApiLimitCalculator.GraceFactor * 1.001 ||
            next == ApiLimitCalculator.MaxLimit)
    })
  }

  test("simhash60 / minhash12: expressions equal their reference formulations on random inputs") {
    val spark = SparkSpec.session
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val sigRef = graft.queries.Similarity.sigSpark
    check(Prop.forAll(Gen.nonEmptyListOf(Gen.choose(0L, graft.functions.MinHashFamily.P - 1))) {
      (hs: List[Long]) =>
        // one row, forced through an executor stage (LocalRelation folds)
        val df = Seq(hs).toDF("hs").repartition(1)
        val (fast, slow) = df.select(expr("minhash12(hs)").as("f"), expr(sigRef).as("s"))
          .as[(Seq[Long], Seq[Long])].head()
        val mh = fast == slow
        // simhash60 vs a Scala-side majority-vote oracle
        val sh = df.select(expr("simhash60(hs)")).as[Long].head()
        val votes = Array.fill(60)(0)
        hs.foreach(h => (0 until 60).foreach(b =>
          votes(b) += (if (((h >> b) & 1L) == 1L) 1 else -1)))
        val want = (0 until 60).foldLeft(0L)((s, b) =>
          if (votes(b) > 0) s | (1L << b) else s)
        mh && sh == want
    }, n = 20)
  }

  test("tokenize_pos: substr/reconstruction laws hold on random space-ridden strings") {
    val spark = SparkSpec.session
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // strings biased toward spaces (runs of separators are the edge case)
    val genText = Gen.listOf(Gen.frequency(
      3 -> Gen.const(' '), 5 -> Gen.alphaNumChar, 1 -> Gen.const('π')))
      .map(_.mkString)
    check(Prop.forAll(genText) { (s: String) =>
      val df = Seq(s).toDF("text").repartition(1)
        .select(col("text"), expr("tokenize_pos(text)").as(Seq("pos", "start_char", "tok")))
      val substrOk = df.filter(
        expr("substr(text, start_char + 1, length(tok)) != tok")).count() == 0L
      val rebuilt = df.orderBy(col("pos")).select(col("tok")).as[String].collect().toSeq
      substrOk && rebuilt == s.split(" ", -1).toSeq
    }, n = 30)
  }

  test("deflate_len: positive, deterministic, and never larger than raw + overhead") {
    val spark = SparkSpec.session
    import spark.implicits._
    import org.apache.spark.sql.functions._
    check(Prop.forAll(Gen.asciiPrintableStr) { (s: String) =>
      val n = Seq(s).toDF("t").repartition(1)
        .select(expr("deflate_len(t)")).as[Int].head()
      val again = graft.functions.DeflateLen.compressedLength(
        s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // raw deflate worst case: ~5 bytes per 16 KiB block + payload
      n > 0 && n == again && n <= s.getBytes("UTF-8").length + 11
    }, n = 30)
  }

  test("pack arithmetic: offsets in [0, cap), pack_id consistent with the prefix sum") {
    val spark = SparkSpec.session
    import spark.implicits._
    import org.apache.spark.sql.functions._
    check(Prop.forAll(Gen.listOfN(25, Gen.choose(1, 120))) { (sizes: List[Int]) =>
      val d = tempDir("graft_packprop").toString
      sizes.zipWithIndex.map { case (n, i) =>
        (i.toLong, (0 until n).map(j => s"t$j").mkString(" "), "en", "s0", 1L)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(s"$d/documents.parquet")
      val rows = graft.queries.Sampling.q35Pack(spark, d)
        .select($"doc_id", $"n_toks", $"pack_id", $"pack_offset", $"spans_boundary")
        .as[(Long, Long, Long, Long, Boolean)].collect().sortBy(_._1)
      val cap = 512L
      var cum = 0L
      rows.forall { case (_, n, packId, off, spans) =>
        val start = cum; cum += n
        packId == start / cap &&
          off == start % cap &&
          off >= 0 && off < cap &&
          spans == ((cum - 1) / cap > packId)
      }
    }, n = 15)
  }

  test("dedup idempotence: dropDuplicates over overlapping extracts is a fixpoint") {
    val spark = SparkSpec.session
    import spark.implicits._
    check(Prop.forAll(Gen.listOfN(40, Gen.choose(0L, 19L)), Gen.choose(1, 4)) {
      (ids: List[Long], reps: Int) =>
        // overlapping extracts re-send rows (R2 >=-restart): union of `reps`
        // copies must collapse to the distinct key set, and re-applying
        // dedup must change nothing (fixpoint)
        val base = ids.map(i => (i, s"payload-$i")).toDF("id", "v")
        val overlapped = (1 to reps).map(_ => base).reduce(_ unionAll _)
        val once = overlapped.dropDuplicates(Seq("id"))
        once.count() == ids.distinct.size &&
          once.dropDuplicates(Seq("id")).count() == once.count() &&
          once.select($"id").except(base.select($"id")).count() == 0
    }, n = 20)
  }

  test("pps sampling: Σ mult = k per source and replica-exact on random corpora") {
    val spark = SparkSpec.session
    import spark.implicits._
    val K = 50L
    val docGen = Gen.nonEmptyListOf(for {
      src <- Gen.oneOf("s1", "s2", "s3")
      n <- Gen.choose(1, 40)
    } yield (src, n))
    check(Prop.forAll(docGen) { specs =>
      val docs = specs.zipWithIndex.map { case ((src, n), i) =>
        (src, i.toLong, Seq.fill(n)("w").mkString(" "))
      }
      val got = graft.queries.Sampling.ppsSampleFrom(
          docs.toDF("source", "doc_id", "text"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))
      // replica of the lattice arithmetic
      val expected = docs.map { case (s, id, t) => (s, id, t.split(" ").length.toLong) }
        .groupBy(_._1).toSeq.flatMap { case (src, rows) =>
          val ordered = rows.sortBy(_._2); val w = ordered.map(_._3).sum
          var cum = 0L
          ordered.flatMap { case (_, id, n) =>
            val a = cum; val b = cum + n; cum = b
            val lo = (2 * K * a + w - 1) / w; val hi = (2 * K * b - 1) / w
            val m = math.max(0L, (hi + 1) / 2 - lo / 2)
            if (m >= 1) Some((src, id, n, a, m)) else None
          }
        }
      val sums = got.groupBy(_._1).view.mapValues(_.map(_._5).sum)
      got.toSet == expected.toSet && sums.values.forall(_ == K)
    }, n = 15)
  }

  test("pagerank: distributed result equals the integer replica on random graphs") {
    val spark = SparkSpec.session
    import spark.implicits._
    val edgeGen = Gen.nonEmptyListOf(for {
      a <- Gen.choose(0, 5); b <- Gen.choose(0, 5) if a != b
      w <- Gen.choose(1L, 5L)
    } yield (s"n$a", s"n$b", w))
    check(Prop.forAll(edgeGen) { half =>
      // bidirectional (no dangling nodes), duplicate edges summed first so
      // the replica and the engine see the identical multigraph-as-graph
      val edges = (half ++ half.map { case (a, b, w) => (b, a, w) })
        .groupBy(e => (e._1, e._2)).map { case ((a, b), es) => (a, b, es.map(_._3).sum) }
        .toSeq
      val got = graft.core.PageRank.run(edges.toDF("src", "dst", "w"), 5, 1000000L)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // driver replica (same recurrence as PageRankSpec.replica)
      val teleport = (15L * 1000000L) / 100L
      val outw = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
      val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
      var ranks = nodes.map(_ -> 1000000L).toMap
      for (_ <- 1 to 5) {
        val contrib = edges.map { case (s, d, w) => d -> w * (ranks(s) / outw(s)) }
          .groupBy(_._1).map { case (d, cs) => d -> cs.map(_._2).sum }
        ranks = nodes.map(n => n -> (teleport + (85L * contrib.getOrElse(n, 0L)) / 100L)).toMap
      }
      got == ranks
    }, n = 10)
  }
}
