package graft

import org.apache.spark.sql.functions._

/** pair_expand must generate exactly the pairs of the SQL
  * flatten/transform/filter/slice nest it replaced — same prune
  * arithmetic, same canonical id ordering, same multiset. */
class PairExpandSpec extends SparkSpec {
  import spark.implicits._

  private val sqlForm =
    """flatten(transform(ds, (x, i) ->
      |  transform(
      |    filter(slice(ds, i + 2, size(ds)),
      |           y -> CAST(least(x.n, y.n) AS DOUBLE) >= 0.3D * greatest(x.n, y.n)),
      |    y -> struct(
      |      least(x.doc_id, y.doc_id) AS doc_a,
      |      greatest(x.doc_id, y.doc_id) AS doc_b,
      |      x.n + y.n AS n_sum))))""".stripMargin

  test("pair_expand equals the SQL expansion on ragged random posting lists") {
    val rng = new scala.util.Random(7)
    // lists of 0..12 postings; sizes spread so the prune fires both ways;
    // unsorted ids so canonicalization is exercised
    val rows = (0 until 30).map { _ =>
      val k = rng.nextInt(13)
      (0 until k).map(_ => (rng.nextLong().abs % 1000, 1 + rng.nextInt(200))).toSeq
    }
    val df = rows.toDF("raw").repartition(2)
      .withColumn("ds", expr("transform(raw, r -> struct(r._1 AS doc_id, r._2 AS n))"))
    val out = df.select(
        expr("pair_expand(ds, 0.3D)").as("fast"), expr(sqlForm).as("slow"))
      .as[(Seq[(Long, Long, Int)], Seq[(Long, Long, Int)])].collect()
    out.foreach { case (fast, slow) => assert(fast === slow) }
  }

  test("threshold 0 keeps every pair; threshold 1 keeps only equal sizes") {
    val df = Seq(Seq((1L, 10), (2L, 5), (3L, 10))).toDF("raw")
      .withColumn("ds", expr("transform(raw, r -> struct(r._1 AS doc_id, r._2 AS n))"))
    val all = df.select(expr("pair_expand(ds, 0.0D)").as("p"))
      .as[Seq[(Long, Long, Int)]].head()
    assert(all.size === 3)
    val strict = df.select(expr("pair_expand(ds, 1.0D)").as("p"))
      .as[Seq[(Long, Long, Int)]].head()
    assert(strict === Seq((1L, 3L, 20)))
  }

  // -- pair_expand_ids: the no-prune sibling on the banded-bucket lanes ----

  private val idsSqlForm =
    """flatten(transform(ds, (x, i) ->
      |  transform(slice(ds, i + 2, size(ds)), y -> struct(
      |    least(x.doc_id, y.doc_id) AS doc_a,
      |    greatest(x.doc_id, y.doc_id) AS doc_b))))""".stripMargin

  private val hamSqlForm =
    """flatten(transform(ds, (x, i) ->
      |  transform(slice(ds, i + 2, size(ds)), y -> struct(
      |    least(x.doc_id, y.doc_id) AS doc_a,
      |    greatest(x.doc_id, y.doc_id) AS doc_b,
      |    CAST(bit_count(x.simhash ^ y.simhash) AS INT) AS hamming))))""".stripMargin

  test("pair_expand_ids (id-only) equals the SQL expansion on ragged lists") {
    val rng = new scala.util.Random(11)
    val rows = (0 until 30).map { _ =>
      val k = rng.nextInt(13)
      (0 until k).map(_ => Tuple1(rng.nextLong().abs % 1000)).toSeq
    }
    val df = rows.toDF("raw").repartition(2)
      .withColumn("ds", expr("transform(raw, r -> struct(r._1 AS doc_id))"))
    val out = df.select(
        expr("pair_expand_ids(ds)").as("fast"), expr(idsSqlForm).as("slow"))
      .as[(Seq[(Long, Long)], Seq[(Long, Long)])].collect()
    out.foreach { case (fast, slow) => assert(fast === slow) }
  }

  test("pair_expand_ids (simhash payload) equals the SQL hamming expansion") {
    val rng = new scala.util.Random(13)
    val rows = (0 until 30).map { _ =>
      val k = rng.nextInt(13)
      (0 until k).map(_ => (rng.nextLong().abs % 1000, rng.nextLong())).toSeq
    }
    val df = rows.toDF("raw").repartition(2)
      .withColumn("ds", expr("transform(raw, r -> struct(r._1 AS doc_id, r._2 AS simhash))"))
    val out = df.select(
        expr("pair_expand_ids(ds)").as("fast"), expr(hamSqlForm).as("slow"))
      .as[(Seq[(Long, Long, Int)], Seq[(Long, Long, Int)])].collect()
    out.foreach { case (fast, slow) => assert(fast === slow) }
  }

  test("bloom_agg / bloom_contains reject wrong arity with a clear error") {
    val e1 = intercept[Exception] {
      spark.sql("SELECT bloom_agg()").collect()
    }
    assert(e1.getMessage.contains("bloom_agg") || e1.getMessage.contains("arguments"))
    val e2 = intercept[Exception] {
      spark.sql("SELECT bloom_contains(NULL)").collect()
    }
    assert(e2.getMessage.contains("bloom_contains") || e2.getMessage.contains("arguments"))
  }
}
