package graft

import org.apache.spark.sql.functions._
import graft.functions.DeflateLen

/** Semantics of the deflate compressibility signal: the ratio must
  * actually separate boilerplate from prose, the Expression must agree
  * between codegen and interpreted paths, and repeated evaluation must be
  * deterministic (thread-local Deflater reset per row). */
class DeflateLenSpec extends SparkSpec {
  import spark.implicits._

  test("repetitive text compresses far harder than high-entropy text") {
    val rep = ("lorem ipsum " * 200).trim                 // boilerplate
    val rng = new scala.util.Random(42)
    val noisy = (0 until 400).map(_ => rng.nextPrintableChar()).mkString
    val out = Seq(("rep", rep), ("noise", noisy)).toDF("k", "text")
      .repartition(2) // executor stage => codegen path, not constant folding
      .select($"k", (octet_length($"text").cast("double") /
        expr("deflate_len(text)").cast("double")).as("ratio"))
      .as[(String, Double)].collect().toMap
    assert(out("rep") > 10.0, s"boilerplate ratio ${out("rep")}")
    assert(out("noise") < 2.0, s"high-entropy ratio ${out("noise")}")
  }

  test("interpreted path agrees with codegen; binary input; null propagates; deterministic") {
    val rows = Seq("", "a", "abab" * 50, "The quick brown fox. " * 7)
    def run(): Seq[Int] =
      rows.toDF("t").repartition(2)
        .select($"t", expr("deflate_len(t)").as("n"))
        .orderBy($"t").select($"n").as[Int].collect().toSeq
    val viaCodegen = run()
    withInterpretedOnly { assert(run() === viaCodegen) }
    assert(run() === viaCodegen) // rerun: Deflater reset leaves no state behind
    // string and its utf-8 bytes deflate identically
    val s = "päällekkäisyys " * 9
    val both = Seq(Tuple1(s)).toDF("t").repartition(2)
      .select(expr("deflate_len(t)").as("a"),
        expr("deflate_len(encode(t, 'UTF-8'))").as("b"))
      .as[(Int, Int)].head()
    assert(both._1 === both._2)
    val n = Seq(Tuple1(null: String)).toDF("t")
      .select(expr("deflate_len(t)").isNull).as[Boolean].head()
    assert(n)
    // direct helper sanity: empty input still emits the 2-byte empty block
    assert(DeflateLen.compressedLength(Array.emptyByteArray) > 0)
  }
}
