package graft

import org.apache.spark.sql.functions._
import graft.queries.TextOps.h60

/** span_hashes must equal the naive per-window double-Horner formulation
  * (the DuckDB oracle's shape) — same per-token md5-60bit base hash, same
  * fold order, same 61-bit combination — and be safe on short inputs. */
class SpanHashesSpec extends SparkSpec {
  import spark.implicits._
  import graft.functions.SpanHashes.{B1, B2, P1, P2}

  // IF-guarded: the naive nest crashes on sub-k docs (sequence descends
  // through 0 → slice(toks, 0, …) throws) — the exact short-row class
  // span_hashes handles internally by returning an empty array.
  private def naive(k: Int): String =
    s"""IF(size(toks) >= $k, transform(sequence(1, size(toks) - ${k - 1}),
       |  i -> aggregate(transform(slice(toks, i, $k), t -> ${h60("t")} % $P1),
       |         0L, (a, h) -> (a * $B1 + h) % $P1) * 2147483648L
       |     + aggregate(transform(slice(toks, i, $k), t -> ${h60("t")} % $P2),
       |         0L, (a, h) -> (a * $B2 + h) % $P2)), array())""".stripMargin

  test("rolling hashes equal the naive window folds on ragged random docs") {
    val rng = new scala.util.Random(17)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "x", "longertokenvalue", "7", "")
    val rows = (0 until 40).map { _ =>
      val n = rng.nextInt(30)
      (0 until n).map(_ => vocab(rng.nextInt(vocab.size)))
    }
    val k = 7
    val df = rows.toDF("toks").repartition(3)
    val out = df.select(expr(s"span_hashes(toks, $k)").as("fast"),
        expr(naive(k)).as("slow"), size(col("toks")).as("n"))
      .as[(Seq[Long], Seq[Long], Int)].collect()
    out.foreach { case (fast, slow, n) =>
      if (n < k) assert(fast.isEmpty)
      else assert(fast === slow)
    }
  }

  test("k = 1 degenerates to the per-token combined hash; k > n is empty") {
    val df = Seq(Seq("a", "b", "a")).toDF("toks")
    val one = df.select(expr("span_hashes(toks, 1)").as("h")).as[Seq[Long]].head()
    assert(one.length === 3)
    assert(one(0) === one(2)) // same token → same window hash
    assert(one(0) !== one(1))
    assert(df.select(expr("span_hashes(toks, 4)").as("h")).as[Seq[Long]].head().isEmpty)
  }

  test("identical windows at different positions collide; shifted windows do not") {
    val df = Seq(Seq("p", "q", "r", "p", "q", "r")).toDF("toks")
    val hs = df.select(expr("span_hashes(toks, 3)").as("h")).as[Seq[Long]].head()
    assert(hs.length === 4)
    assert(hs(0) === hs(3)) // (p,q,r) twice
    assert(hs(0) !== hs(1)) // (q,r,p) differs — order-sensitive
  }
}
