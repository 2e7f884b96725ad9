package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.SkewJoin
import graft.ingest.Ingest

/** Specs for the scale utilities: salted skew join, streaming ingest,
  * extensions-based function injection (the only way graft's functions
  * reach a session: every session must carry GraftExtensions). */
class ScaleToolsSpec extends SparkSpec {
  import spark.implicits._

  test("salted join: identical rows to the plain join, salt spread over buckets") {
    // skewed left: key 1 holds 90% of rows
    val left = ((1 to 900).map(i => (1L, i.toLong)) ++ (1 to 100).map(i => (2L, i.toLong)))
      .toDF("k", "v")
    val right = Seq((1L, "hot"), (2L, "cold")).toDF("k", "name")
    val plain = left.join(right, Seq("k")).select($"k", $"v", $"name")
    val salted = SkewJoin.saltedInnerJoin(left, right, "k", buckets = 8,
      saltBy = Seq("v")).select($"k", $"v", $"name")
    assert(salted.count() === plain.count())
    assert(salted.except(plain).count() === 0)
    assert(plain.except(salted).count() === 0)
    // the hot key's rows actually use multiple salt buckets
    val nSalts = left.filter($"k" === 1L)
      .select(pmod(hash($"v"), lit(8)).as("s")).distinct().count()
    assert(nSalts > 1)
  }

  test("streaming ingest: file stream → hour-partitioned bronze, checkpoint resumes") {
    val land = tempDir("s_land").toString
    val bronze = tempDir("s_bronze").toString + "/b"
    val ckpt = tempDir("s_ckpt").toString
    def envelope(name: String, ids: Seq[Int]): Unit = {
      val objs = ids.map(i =>
        s"""{"id": $i, "indexed_on": "2024-05-01T0$i:00:00.000000Z", "payload": "p$i"}""")
      Files.write(java.nio.file.Paths.get(land, name),
        s"""{"meta": {"limit": 10, "next": null, "total_count": ${ids.size}}, "objects": [${objs.mkString(",")}]}"""
          .getBytes("UTF-8"))
    }
    envelope("page1.json", Seq(1, 2))
    val q1 = Ingest.streamingRun(spark, land, bronze, ckpt)
    q1.awaitTermination() // AvailableNow: drains and stops
    assert(spark.read.parquet(bronze).count() === 2)

    // new file lands; restart from checkpoint picks up ONLY the new file
    envelope("page2.json", Seq(3))
    val q2 = Ingest.streamingRun(spark, land, bronze, ckpt)
    q2.awaitTermination()
    val rows = spark.read.parquet(bronze)
    assert(rows.count() === 3) // no reprocessing of page1
    assert(rows.select($"hour").as[Int].collect().sorted.toSeq === Seq(1, 2, 3))
  }

  /** Run `body` on a NEW SparkSession (reusing the SparkContext) built by
    * `configure`, then restore the shared one. getOrCreate returns any
    * existing session and ignores withExtensions, so the active/default
    * refs are cleared first. */
  private def withFreshSession[A](configure: SparkSession.Builder => SparkSession.Builder)
                                 (body: SparkSession => A): A = {
    val prev = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try body(configure(SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")).getOrCreate())
    finally {
      SparkSession.setActiveSession(prev)
      SparkSession.setDefaultSession(prev)
    }
  }

  test("GraftExtensions injects dotf into a fresh session (spark.sql path)") {
    withFreshSession(_.withExtensions(new graft.functions.GraftExtensions)) { s2 =>
      // GraftExtensions is the only registration path: every entry of the
      // function table resolves, to the expression class it declares
      graft.functions.GraftFunctions.all.foreach { case (name, cls, _) =>
        val info = s2.sessionState.functionRegistry.lookupFunction(
          org.apache.spark.sql.catalyst.FunctionIdentifier(name))
        assert(info.map(_.getClassName) === Some(cls.getName), name)
      }
      val v = s2.sql("SELECT dotf(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
        .collect()(0).getDouble(0)
      assert(v === 11.0)
    }
  }

  test("openSql on a session without GraftExtensions fails naming the fix") {
    withFreshSession(identity) { plain =>
      val e = intercept[IllegalArgumentException](GraftSession.openSql(plain, sf001))
      assert(e.getMessage.contains(
        "--conf spark.sql.extensions=graft.functions.GraftExtensions"))
      assert(e.getMessage.contains("withExtensions"))
    }
  }
}
