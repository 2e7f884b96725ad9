package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Malformed-record handling on the JSONL interchange path — the
  * ingestion reality q38_jsonl's clean fixture never exercises: a 100 TB
  * corpus drop ALWAYS carries truncated lines, stray logs, and schema
  * drift. Spark's three parser modes are the contract:
  *  - PERMISSIVE (default): bad lines land whole in the declared
  *    `_corrupt_record` column, good fields parse, missing fields null —
  *    the quarantine shape (count them, route them, never lose them);
  *  - DROPMALFORMED: bad lines silently vanish (the mode to AVOID in a
  *    pipeline that must account for every input byte);
  *  - FAILFAST: the batch dies on the first bad line (the mode for
  *    contracts where corruption means upstream breakage).
  * One caveat pinned here because it bites: with only the corrupt column
  * selected, Spark short-circuits parsing, so corrupt-row COUNTS must
  * project a data column too (or cache first).
  */
class JsonQuarantineSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("_corrupt_record", StringType)))

  private def fixture: String = {
    val dir = tempDir("graft_badjsonl")
    val lines = Seq(
      """{"doc_id": 1, "text": "alpha"}""",
      """{"doc_id": 2, "text": "beta""",              // truncated mid-string
      """{"doc_id": 3, "text": "gamma"}""",
      """not json at all""",                          // stray log line
      """{"doc_id": "not-a-number", "text": "delta"}""", // type drift
      """{"doc_id": 6, "text": "zeta"}""")
    java.nio.file.Files.write(dir.resolve("part-0.jsonl"),
      lines.mkString("\n").getBytes("UTF-8"))
    dir.toString
  }

  test("PERMISSIVE quarantines bad lines in _corrupt_record, keeps every input row") {
    val df = spark.read.schema(schema).json(fixture)
      .select(col("doc_id"), col("text"), col("_corrupt_record")).cache()
    try {
      assert(df.count() == 6, "every input line must surface as a row")
      val bad = df.filter(col("_corrupt_record").isNotNull)
        .select(col("_corrupt_record")).as[String].collect()
      assert(bad.length == 3, s"expected 3 quarantined, got ${bad.toSeq}")
      assert(bad.exists(_.contains("not json at all")))
      assert(bad.exists(_.contains("not-a-number")))
      val good = df.filter(col("_corrupt_record").isNull)
        .select(col("doc_id")).as[Long].collect().sorted
      assert(good.toSeq == Seq(1L, 3L, 6L))
    } finally df.unpersist()
  }

  test("DROPMALFORMED: count() disagrees with the materialized rows (measured)") {
    // The sharpest reason the pipeline never uses DROPMALFORMED: it is
    // inconsistent with ITSELF. count() prunes every column, so the parser
    // only checks line STRUCTURE — the type-drift line ({"doc_id":
    // "not-a-number", ...}) is structurally valid JSON and counts. But
    // materializing the fields makes the conversion failure a malformed
    // record, and the same frame yields one row fewer. A frame whose count
    // does not match its rows cannot back an accounting pipeline.
    val src = spark.read.schema(StructType(schema.fields.take(2)))
      .option("mode", "DROPMALFORMED").json(fixture)
    assert(src.count() == 4, "structure-only count keeps the type-drift line")
    val rows = src.select(col("doc_id"), col("text")).collect()
    assert(rows.length == 3, s"full parse drops it, got ${rows.toSeq}")
    assert(rows.map(_.getString(1)).toSet == Set("alpha", "gamma", "zeta"))
  }

  test("FAILFAST dies on the first malformed line") {
    val e = intercept[org.apache.spark.SparkException] {
      spark.read.schema(StructType(schema.fields.take(2)))
        .option("mode", "FAILFAST").json(fixture).count()
    }
    // Spark 4.1 wraps the parse failure in FAILED_READ_FILE; the malformed
    // signal lives in the cause chain (MALFORMED_RECORD_IN_PARSING or the
    // raw Jackson EOF), so assert over the flattened chain.
    val chain = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => t.getClass.getName + ": " + String.valueOf(t.getMessage))
      .mkString("\n")
    assert(chain.contains("FAILED_READ_FILE") || chain.contains("MALFORMED_RECORD_IN_PARSING"))
    assert(chain.toLowerCase.contains("malformed") ||
      chain.contains("JsonEOFException") || chain.contains("end-of-input"),
      s"no malformed-parse signal in cause chain:\n$chain")
  }
}
