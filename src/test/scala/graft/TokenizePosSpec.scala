package graft

import org.apache.spark.sql.functions._

/** Laws of the `tokenize_pos` Generator (`functions.TokenizePos`):
  * reconstruction (collecting toks = split(text, ' ')), the substr law
  * (every token is readable back out of the original text at its
  * start_char), and split-convention edge cases (empty text, consecutive
  * spaces, null, non-BMP code points). */
class TokenizePosSpec extends SparkSpec {
  import spark.implicits._

  test("substr law and reconstruction hold on the real corpus") {
    val docs = graft.core.Tables.documents(spark, sf001)
    val toks = docs
      .select($"doc_id", $"text", expr("tokenize_pos(text)").as(Seq("pos", "start_char", "tok")))
    // substr(text, start_char+1, len(tok)) must equal tok for EVERY row
    val broken = toks.filter(
      expr("substr(text, start_char + 1, length(tok)) != tok")).count()
    assert(broken === 0L)
    // collect_list(tok) ordered by pos reconstructs split(text, ' ')
    val mismatch = toks
      .groupBy($"doc_id", $"text")
      .agg(expr("transform(array_sort(collect_list(struct(pos, tok))), s -> s.tok)").as("rebuilt"))
      .filter(expr("rebuilt != split(text, ' ')")).count()
    assert(mismatch === 0L)
  }

  test("edge cases follow the split(text, ' ') convention") {
    def rows(s: String) =
      Seq(Tuple1(s)).toDF("text").repartition(2)
        .select(expr("tokenize_pos(text)").as(Seq("pos", "start_char", "tok")))
        .orderBy($"pos")
        .as[(Int, Int, String)].collect().toSeq
    // empty text = one empty token (split('', ' ') = [''])
    assert(rows("") === Seq((0, 0, "")))
    // consecutive spaces create empty tokens that still advance offsets
    assert(rows("a  b") === Seq((0, 0, "a"), (1, 2, ""), (2, 3, "b")))
    // offsets count code points: 𝄞 is one code point (two UTF-16 units)
    assert(rows("𝄞 x") === Seq((0, 0, "𝄞"), (1, 2, "x")))
    // null text emits no rows (inner generate)
    val n = Seq(Tuple1(null: String)).toDF("text")
      .select(expr("tokenize_pos(text)").as(Seq("pos", "start_char", "tok")))
      .count()
    assert(n === 0L)
  }
}
