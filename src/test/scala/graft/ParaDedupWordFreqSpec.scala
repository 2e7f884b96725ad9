package graft

import graft.queries.TextOps

/** q26_para_dedup (C4-style duplicated-chunk removal + doc rebuild) and
  * q23_wordfreq (corpus word-frequency quality score) on hand-computable
  * fixtures. */
class ParaDedupWordFreqSpec extends SparkSpec {
  import spark.implicits._

  private def toks(prefix: String, n: Int): String =
    (0 until n).map(i => s"$prefix$i").mkString(" ")

  private lazy val dedupDir: String = {
    val d = tempDir("graft_para").toString
    val A = toks("a", 20); val B = toks("b", 20)
    val C = toks("c", 20); val E = toks("e", 20)
    Seq(
      (1L, s"$A $B", "en", "s", 40L),   // first occurrence of A and B
      (2L, s"$A $C", "en", "s", 40L),   // A duplicated → only C survives
      (3L, B, "en", "s", 20L),          // fully duplicated → empty rebuild
      (4L, s"$E $E", "en", "s", 40L),   // within-doc repeat → one E kept
      (5L, toks("z", 7), "en", "s", 7L) // short tail chunk, unique → kept
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    d
  }

  test("para_dedup keeps only global first occurrences and rebuilds docs") {
    val A = toks("a", 20); val B = toks("b", 20)
    val C = toks("c", 20); val E = toks("e", 20)
    val out = TextOps.q26ParaDedup(spark, dedupDir).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) === ((s"$A $B", 2L, 0L)))
    assert(out(2L) === ((C, 2L, 1L)))
    assert(out(3L) === (("", 1L, 1L)))          // keeper lives in doc 1
    assert(out(4L) === ((E, 2L, 1L)))           // within-doc second copy removed
    assert(out(5L) === ((toks("z", 7), 1L, 0L)))
  }

  test("para_dedup rebuild preserves chunk order for multi-chunk survivors") {
    val d = tempDir("graft_para_ord").toString
    val text = (0 until 100).map(i => s"w$i").mkString(" ") // 5 unique chunks
    Seq((9L, text, "en", "s", 100L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    val r = TextOps.q26ParaDedup(spark, d).collect().head
    assert(r.getString(1) === text) // nothing removed, order intact
    assert(r.getLong(2) === 5L && r.getLong(3) === 0L)
  }

  test("wordfreq matches the hand computation and its global invariants") {
    val d = tempDir("graft_wf").toString
    Seq(
      (1L, "a a b", "en", "s", 5L),
      (2L, "b c", "en", "s", 3L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    // N = 5; counts: a=2, b=2, c=1
    val out = TextOps.q23WordFreq(spark, d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) === ((3L, 6L, 6.0 / 15.0)))  // 2·2 + 1·2
    assert(out(2L) === ((2L, 3L, 3.0 / 10.0)))  // 1·2 + 1·1
    assert(out.values.map(_._1).sum === 5L)     // Σ n_toks = N
    assert(out.values.forall(v => v._3 > 0.0 && v._3 <= 1.0))
  }
}
