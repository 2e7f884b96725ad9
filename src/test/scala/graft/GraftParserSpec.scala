package graft

import org.apache.spark.sql.functions._
import graft.streaming.StreamingJobs

/** The injectParser leg end-to-end: `GRAFT VACUUM VERSIONS '<dir>' KEEP n`
  * through plain `spark.sql`. Pins: (1) the command parses, runs the
  * vacuum, and returns the deleted versions; (2) retained versions remain
  * readable; (3) the operator's keepLast floor surfaces as the SQL error;
  * (4) everything else — stock SQL and stock parse errors — delegates
  * verbatim to the session parser. */
class GraftParserSpec extends SparkSpec {
  import spark.implicits._

  private def seed(): String = {
    val dir = tempDir("graft_sqlvac").toString
    (0 to 3).foreach { i =>
      val b = Seq(Chg(i.toLong + 1, "insert", i * 1.0, "A", in_chg = true))
      StreamingJobs.applyCdcBatch(b.toDF(), dir, i.toLong)
    }
    dir
  }

  test("GRAFT VACUUM VERSIONS runs through spark.sql and reports deletions") {
    val dir = seed()
    val deleted = spark.sql(s"GRAFT VACUUM VERSIONS '$dir' KEEP 2")
      .select(col("deleted_version")).as[Long].collect().sorted.toSeq
    assert(deleted == Seq(0L, 1L))
    assert(StreamingJobs.listVersions(dir).sorted == Seq(2L, 3L))
    assert(spark.read.parquet(s"$dir/v=3").count() > 0)
    // case-insensitive, trailing semicolon, idempotent re-run
    assert(spark.sql(s"graft vacuum versions '$dir' keep 2;").count() == 0)
  }

  test("the keepLast floor surfaces as the SQL error") {
    val dir = seed()
    val e = intercept[IllegalArgumentException] {
      spark.sql(s"GRAFT VACUUM VERSIONS '$dir' KEEP 1").collect()
    }
    assert(e.getMessage.contains("keepLast"))
  }

  test("GRAFT DATASET HASH returns the q58 fingerprint through spark.sql") {
    val viaSql = spark.sql(s"GRAFT DATASET HASH '$sf001'")
      .collect().map(_.toSeq).toSet
    val direct = graft.queries.Relational3.q58DatasetHash(spark, sf001)
      .collect().map(_.toSeq).toSet
    assert(viaSql === direct)
    assert(viaSql.nonEmpty)
  }

  test("GRAFT CHECK runs the q49 expectation suite through spark.sql") {
    val viaSql = spark.sql(s"GRAFT CHECK '$sf001'")
      .collect().map(_.toSeq).toSet
    val direct = graft.queries.Entity.q49Dq(spark, sf001)
      .collect().map(_.toSeq).toSet
    assert(viaSql === direct)
    assert(viaSql.nonEmpty)
    // the suite's pass/fail verdicts ride through SQL unchanged
    // (q49 includes deliberately-failing probes, so both sides must
    // agree on the failures, not be failure-free)
    assert(spark.sql(s"GRAFT CHECK '$sf001'").filter("NOT passed").count()
      === graft.queries.Entity.q49Dq(spark, sf001).filter("NOT passed").count())
  }

  test("everything else delegates verbatim to the stock parser") {
    assert(spark.sql("SELECT 1 + 1 AS two").head().getInt(0) == 2)
    intercept[org.apache.spark.sql.catalyst.parser.ParseException] {
      spark.sql("SELEKT 1")
    }
  }

  test("a malformed GRAFT statement fails with the grammar, not a delegate error") {
    val e = intercept[IllegalArgumentException] {
      spark.sql("GRAFT VACUUM nonsense")
    }
    assert(e.getMessage.contains("GRAFT VACUUM VERSIONS"))
    assert(e.getMessage.contains("malformed GRAFT statement"))
  }

  test("VACUUM refuses a directory that is not a graft version store") {
    // coincidental v=N children with non-parquet contents and no marker:
    // the round-9 review's "silently destroyed" scenario must now refuse
    val dir = tempDir("graft_notstore").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/v=1"))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/v=2"))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/v=3"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/v=1/precious.txt"),
      "not yours".getBytes("UTF-8"))
    val e = intercept[IllegalStateException] {
      spark.sql(s"GRAFT VACUUM VERSIONS '$dir' KEEP 2").collect()
    }
    assert(e.getMessage.contains("does not look like a graft version store"))
    assert(new java.io.File(s"$dir/v=1/precious.txt").isFile,
      "refusal must leave the directory untouched")
  }
}
