package graft

import org.apache.spark.sql.functions._

/** collect_capped(e, cap): exact per-key counts, complete payload lists
  * below the cap, hard truncation above it — across real shuffles (the
  * serde + merge paths, not just single-partition update). */
class CollectCappedSpec extends SparkSpec {
  import spark.implicits._

  test("under-cap groups: f equals count, ds equals collect_list as a multiset") {
    val rng = new scala.util.Random(23)
    val rows = (0 until 2000).map(_ => (s"k${rng.nextInt(50)}", rng.nextLong() % 1000))
    val df = rows.toDF("k", "v").repartition(13) // force partials + merges
      .select(col("k"), struct(col("v").as("doc_id")).as("e"))
    val out = df.groupBy("k").agg(expr("collect_capped(e, 256)").as("g"),
        count(lit(1)).as("n"), collect_list(col("e")).as("ref"))
      .select(col("k"), col("g.f"), col("n"),
        expr("array_sort(transform(g.ds, x -> x.doc_id))").as("got"),
        expr("array_sort(transform(ref, x -> x.doc_id))").as("want"))
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(1) === r.getLong(2)) // f == exact count
      assert(r.getSeq[Long](3) === r.getSeq[Long](4)) // ds == collect_list
    }
  }

  test("over-cap groups: f stays exact while ds truncates at cap+1") {
    val df = (0 until 1000).map(i => ("hot", i.toLong))
      .toDF("k", "v").repartition(7)
      .select(col("k"), struct(col("v").as("doc_id")).as("e"))
    val r = df.groupBy("k").agg(expr("collect_capped(e, 10)").as("g"))
      .select(col("g.f"), size(col("g.ds"))).head()
    assert(r.getLong(0) === 1000L) // exact, unaffected by truncation
    assert(r.getInt(1) === 11)     // cap + 1, never more
  }

  test("null payloads count toward f but are not collected") {
    val df = Seq(("k", Some(1L)), ("k", None), ("k", Some(2L)))
      .toDF("k", "v")
      .select(col("k"),
        when(col("v").isNotNull, struct(col("v").as("doc_id"))).as("e"))
    val r = df.groupBy("k").agg(expr("collect_capped(e, 5)").as("g"))
      .select(col("g.f"), size(col("g.ds"))).head()
    assert(r.getLong(0) === 3L)
    assert(r.getInt(1) === 2)
  }

  test("cap must be a positive integer literal") {
    val df = Seq(("k", 1L)).toDF("k", "v")
      .select(col("k"), struct(col("v").as("doc_id")).as("e"))
    val e = intercept[Exception] {
      df.groupBy("k").agg(expr("collect_capped(e, 0)").as("g")).collect()
    }
    assert(e.getMessage.toLowerCase.contains("cap"))
  }
}
