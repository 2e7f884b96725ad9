package graft

import org.apache.spark.sql.functions._

/** functions.ArgExtremum (`argmin2`/`argmax2`): the four-primitive-buffer
  * argmin that keeps HashAggregate where min_by(v, struct(...)) demotes to
  * SortAggregate.
  *
  * Claims: (1) ≡ min_by/max_by over the struct ordinal on random data;
  * (2) partition-topology independent (associative+commutative merge);
  * (3) null rows are not candidates, all-null group → null;
  * (4) interpreted ≡ codegen'd;
  * (5) the plan really is HashAggregate (the reason the expression exists).
  */
class ArgExtremumSpec extends SparkSpec {
  import spark.implicits._

  private def randDf(seed: Int, rows: Int, keys: Int) = {
    val rnd = new scala.util.Random(seed)
    (1 to rows).map { i =>
      (rnd.nextInt(keys).toLong,
        rnd.nextInt(50).toLong,  // deliberately colliding k1
        i.toLong,                // unique tiebreak
        math.floor(rnd.nextDouble() * 1e6) / 100)
    }.toDF("g", "k1", "k2", "v")
  }

  test("argmin2/argmax2 equal min_by/max_by over the struct ordinal") {
    val df = randDf(7, 5000, 37)
    val got = df.groupBy($"g")
      .agg(expr("argmin2(k1, k2, v)").as("lo"), expr("argmax2(k1, k2, v)").as("hi"))
    val want = df.groupBy($"g")
      .agg(min_by($"v", struct($"k1", $"k2")).as("lo"),
        max_by($"v", struct($"k1", $"k2")).as("hi"))
    val g = got.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).sortBy(_._1)
    val w = want.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).sortBy(_._1)
    assert(g.toSeq === w.toSeq)
  }

  test("merge is partition-topology independent") {
    val df = randDf(11, 4000, 13)
    val ref = df.coalesce(1).groupBy($"g")
      .agg(expr("argmin2(k1, k2, v)").as("lo"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    for (parts <- Seq(2, 7, 32)) {
      val got = df.repartition(parts, $"k2") // scatter groups across partials
        .groupBy($"g").agg(expr("argmin2(k1, k2, v)").as("lo"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
      assert(got === ref, s"diverged at $parts partitions")
    }
  }

  test("null ordinals/values are not candidates; all-null group is null") {
    val df = Seq[(Long, Option[Long], Option[Long], Option[Double])](
      (1L, Some(5L), Some(1L), Some(10.0)),
      (1L, Some(1L), Some(1L), None),       // best ordinal but null value → skip
      (1L, None, Some(0L), Some(99.0)),     // null ordinal → skip
      (2L, None, None, None))
      .toDF("g", "k1", "k2", "v")
    val out = df.groupBy($"g")
      .agg(expr("argmin2(k1, k2, v)").as("lo"))
      .collect().map(r => (r.getLong(0), Option(r.get(1)))).toMap
    assert(out(1L) === Some(10.0))
    assert(out(2L) === None)
  }

  test("interpreted equals codegen") {
    val df = randDf(13, 2000, 11).persist()
    try {
      val fast = df.groupBy($"g").agg(expr("argmin2(k1, k2, v)").as("lo"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
      val slow = withInterpretedOnly {
        df.groupBy($"g").agg(expr("argmin2(k1, k2, v)").as("lo"))
          .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
      }
      assert(fast === slow)
    } finally df.unpersist(blocking = true)
  }

  test("plan stays HashAggregate; the min_by struct twin demotes to SortAggregate") {
    val df = randDf(17, 100, 5)
    def physical(q: org.apache.spark.sql.DataFrame): String =
      q.queryExecution.executedPlan.toString
    val custom = physical(df.groupBy($"g").agg(expr("argmin2(k1, k2, v)").as("lo")))
    assert(custom.contains("HashAggregate") && !custom.contains("SortAggregate"),
      s"argmin2 should hash-aggregate:\n$custom")
    val structOrd = physical(df.groupBy($"g")
      .agg(min_by($"v", struct($"k1", $"k2")).as("lo")))
    assert(structOrd.contains("SortAggregate"),
      "min_by over struct no longer demotes — revisit whether ArgExtremum is still needed")
  }
}
