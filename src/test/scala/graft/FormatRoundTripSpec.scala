package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Adversarial content through each interchange codec's EXACT option set
  * (the q38 lanes'): entities, quotes, unicode, empty-vs-null, and text
  * that literally equals the CSV sentinels. Each format asserts the
  * fidelity it actually provides — and pins the documented losses so a
  * silent behavior change (e.g. a Spark upgrade altering sentinel
  * handling) fails loudly instead of invisibly.
  */
class FormatRoundTripSpec extends SparkSpec {
  import spark.implicits._

  // (doc_id, text): the text column carries the adversarial payloads
  private val fixture: Seq[(Long, String)] = Seq(
    1L -> "plain text",
    2L -> "",                                  // empty — distinct from null
    3L -> null,                                // genuine null
    4L -> "comma, \"double\" and 'single' quotes",
    5L -> "xml entities & < > &amp; </doc>",
    6L -> "unicode 你好 café ✓",
    7L -> "\\N",                               // literally the null sentinel
    8L -> "\\E")                               // literally the empty sentinel

  private def df: DataFrame = fixture.toDF("doc_id", "text")

  private def collect(d: DataFrame): Map[Long, Option[String]] =
    d.collect().map { case Row(id: Long, t) =>
      id -> Option(t).map(_.asInstanceOf[String]) }.toMap

  private val original = fixture.map { case (k, v) => k -> Option(v) }.toMap

  test("JSONL round trip is lossless for every payload") {
    val out = tempDir("graft_rt_json").toString
    df.write.mode("overwrite").json(out)
    val back = collect(spark.read.schema(df.schema).json(out))
    assert(back === original)
  }

  test("Avro round trip is lossless for every payload") {
    val out = tempDir("graft_rt_avro").toString
    val fmt = "org.apache.spark.sql.avro.AvroFileFormat"
    df.write.mode("overwrite").format(fmt).save(out)
    val back = collect(spark.read.schema(df.schema).format(fmt).load(out))
    assert(back === original)
  }

  test("XML round trip with the lane's options is lossless for every payload") {
    val out = tempDir("graft_rt_xml").toString
    df.write.mode("overwrite").option("rowTag", "doc").format("xml").save(out)
    val back = collect(spark.read.schema(df.schema)
      .option("rowTag", "doc").option("ignoreSurroundingSpaces", "false")
      .format("xml").load(out))
    assert(back === original)
  }

  test("CSV with pinned null sentinel keeps empty and null distinct; sentinel-literal text is the documented loss") {
    val out = tempDir("graft_rt_csv").toString
    df.write.mode("overwrite").option("nullValue", "\\N").csv(out)
    val back = collect(spark.read.schema(df.schema)
      .option("nullValue", "\\N").csv(out))
    // everything except the null-sentinel-literal row is exact — INCLUDING
    // the empty string: Spark's default emptyValue pair is symmetric (the
    // writer emits "", the reader maps quoted-empty back to empty string),
    // so null (-> \N) and empty (-> "") stay distinct. Note a custom
    // emptyValue would NOT round-trip: the read option maps quoted-empty
    // fields TO the given value, it does not reverse the write sentinel —
    // verified here once with both sides pinned to \E, which came back as
    // the literal text "\E".
    for (id <- Seq(1L, 2L, 3L, 4L, 5L, 6L, 8L))
      assert(back(id) === original(id), s"doc $id")
    // text that literally equals the null sentinel CANNOT survive a
    // sentinel encoding — it collides with the sentinel's meaning on read.
    // This is inherent to CSV (no second escaping layer), which is exactly
    // why the q38 lanes gate content with a hash sum and why JSONL/Avro are
    // the recommended interchange formats. Pin the collision so a behavior
    // change surfaces here:
    assert(back(7L) === None, "\\N-literal text reads back as null")
  }
}
