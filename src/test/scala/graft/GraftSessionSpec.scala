package graft

import org.apache.spark.sql.functions._

/** The SQL-first entry point: after openSql a user drives the engine with
  * nothing but spark.sql — tables as views (events through its
  * nanos→micros normalization) and the whole custom-function surface,
  * which the session's GraftExtensions injected. */
class GraftSessionSpec extends SparkSpec {
  import spark.implicits._

  test("openSql registers every table view and the custom functions") {
    GraftSession.openSql(spark, sf001)
    // relational view
    assert(spark.sql("SELECT count(*) FROM lineitem").as[Long].head() > 0)
    // events view carries the normalized TIMESTAMP (not raw nanos longs)
    assert(spark.sql("SELECT ts FROM events LIMIT 1").schema.head.dataType ===
      org.apache.spark.sql.types.TimestampType)
    // custom scalar expression via pure SQL
    assert(spark.sql(
      "SELECT dotf(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d")
      .as[Double].head() === 11.0)
    // custom aggregate via pure SQL over a registered view
    val sk = spark.sql(
      """SELECT lang, minhash_sketch(CAST(conv(substr(md5(text),1,15),16,10) AS BIGINT) % 1000000007L) AS s
        |FROM documents GROUP BY lang""".stripMargin)
    assert(sk.count() > 0)
    // round-4 custom surface: generator, deflate, bloom pair — all pure SQL
    assert(spark.sql("SELECT tok FROM (SELECT tokenize_pos('a b') AS (p, s, tok))")
      .as[String].collect().toSeq === Seq("a", "b"))
    assert(spark.sql("SELECT deflate_len('aaaaaaaa')").as[Int].head() > 0)
    val hits = spark.sql(
      """SELECT count(*) FROM documents
        |WHERE bloom_contains(
        |  (SELECT bloom_agg(xxhash64(lang), 100L, 800L) FROM documents),
        |  xxhash64(lang))""".stripMargin).as[Long].head()
    assert(hits > 0)
  }

  test("a full query is expressible in raw SQL and matches the DataFrame lane") {
    GraftSession.openSql(spark, sf001)
    val viaSql = spark.sql(
      """SELECT l_returnflag, CAST(sum(l_quantity) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
      .as[(String, Double)].collect().toSeq
    val viaDf = graft.core.Tables.lineitem(spark, sf001)
      .groupBy($"l_returnflag").agg(sum($"l_quantity").cast("double").as("s"))
      .orderBy($"l_returnflag").as[(String, Double)].collect().toSeq
    assert(viaSql === viaDf)
  }

  test("drainListenerBus returns only after every posted event was delivered") {
    val seen = new java.util.concurrent.atomic.AtomicInteger
    val slow = new org.apache.spark.scheduler.SparkListener {
      override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        Thread.sleep(200)
        seen.incrementAndGet()
      }
    }
    spark.sparkContext.addSparkListener(slow)
    try {
      spark.range(10).count()
      GraftSession.drainListenerBus(spark)
      assert(seen.get() >= 1)
    } finally spark.sparkContext.removeSparkListener(slow)
  }
}
