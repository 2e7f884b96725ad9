package graft

import org.apache.spark.sql.functions._
import graft.queries.{Analytics, Sampling, Similarity}

/** Semantics of the round-3 curation lanes on controlled fixtures:
  * mixture-target resampling (q33_resample), token-budget sequence packing
  * (q35_pack), quality-aware dedup survivors (q26_quality_survivors), and
  * SCD2 interval building (q36_scd2). */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  private def docText(n: Int, tag: String): String =
    (0 until n).map(i => s"$tag${i % 7}").mkString(" ")

  test("resample: dominant source downsampled, minority sources kept whole") {
    val d = tempDir("graft_resample").toString
    // srcBig: 50 docs x 100 toks = 5000; srcA/srcB: 5 docs x 20 toks = 100
    val docs =
      (0 until 50).map(i => (i.toLong, docText(100, "w"), "en", "srcBig", 100L)) ++
      (0 until 5).map(i => (100L + i, docText(20, "x"), "en", "srcA", 20L)) ++
      (0 until 5).map(i => (200L + i, docText(20, "y"), "en", "srcB", 20L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    val out = Sampling.q33Resample(spark, d)
      .select($"source", $"rate", $"kept_docs", $"n_docs")
      .as[(String, Double, Long, Long)].collect().map(r => r._1 -> r).toMap
    // equal-share target = 5200/3 ≈ 1733 tokens per source
    assert(out("srcA")._2 === 1.0); assert(out("srcA")._3 === 5L)
    assert(out("srcB")._2 === 1.0); assert(out("srcB")._3 === 5L)
    assert(out("srcBig")._2 < 0.5) // 1733/5000 ≈ 0.347
    assert(out("srcBig")._3 < out("srcBig")._4) // actually dropped docs
    // determinism: a second run keeps the identical doc set
    val again = Sampling.q33Resample(spark, d)
      .select($"source", $"kept_docs").as[(String, Long)].collect().toMap
    assert(again("srcBig") === out("srcBig")._3)
  }

  test("pack: offsets and boundary flags follow the prefix-sum layout") {
    val d = tempDir("graft_pack").toString
    // one source, doc sizes 300/300/300: second doc spans the 512 boundary
    val docs = Seq(
      (0L, docText(300, "a"), "en", "s0", 1L),
      (1L, docText(300, "b"), "en", "s0", 1L),
      (2L, docText(300, "c"), "en", "s0", 1L),
      // second source resets the layout
      (10L, docText(600, "d"), "en", "s1", 1L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    val out = Sampling.q35Pack(spark, d)
      .select($"doc_id", $"pack_id", $"pack_offset", $"spans_boundary")
      .as[(Long, Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(out(0L) === ((0L, 0L, 0L, false)))    // [0, 300)
    assert(out(1L) === ((1L, 0L, 300L, true)))   // [300, 600) spans 512
    assert(out(2L) === ((2L, 1L, 88L, false)))   // [600, 900) inside pack 1
    assert(out(10L) === ((10L, 0L, 0L, true)))   // fresh layout per source
  }

  test("quality survivors: the higher-quality near-dup wins; ties break by id") {
    val d = tempDir("graft_qsurv").toString
    val base = docText(120, "t")
    val richer = base + " extraA extraB extraC extraD extraE extraF"
    val docs = Seq(
      (0L, base, "en", "s0", 1L),          // tie pair: 0 keeps, 1 evicted
      (1L, base, "en", "s0", 1L),
      (5L, richer, "en", "s0", 1L),        // richer beats base on quality
      (9L, docText(80, "zz"), "en", "s0", 1L)) // unrelated: survives
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    // fixture sanity: the near-dup detector must actually pair 5 with 0/1
    val pairs = Similarity.q24SimhashPairs(spark, d)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((0L, 5L)), s"fixture drift: simhash pairs = $pairs")
    val out = Similarity.q26QualitySurvivors(spark, d)
      .select($"doc_id", $"keep", $"evicted_by")
      .as[(Long, Boolean, Option[Long])].collect().map(r => r._1 -> r).toMap
    assert(out(5L)._2 === true)             // highest quality in the clique
    assert(out(0L) === ((0L, false, Some(5L))))
    assert(out(1L) === ((1L, false, Some(0L)))) // beaten by both; min id = 0
    assert(out(9L)._2 === true)
  }

  test("filter verdict: each rule fires on its crafted doc, priority order holds") {
    val d = tempDir("graft_fverdict").toString
    val stopless = (0 until 40).map(i => s"uniq$i").mkString(" ") // no stopwords
    // pure low_ttr: 18 (low, high) pairs over 3 stopword-lows x 6 highs —
    // 36 tokens, 9 distinct (ttr 0.25 < 0.33), every trigram window carries
    // a unique (low, high) pair so dup3 = 0, stop_ratio 0.5
    val lowTtr = (0 until 3).flatMap(a => (0 until 6).flatMap(b =>
      Seq(Seq("the", "a", "of")(a), s"h$b"))).mkString(" ")
    val docs = Seq(
      (0L, "the a of and tiny", "en", "s", 1L),                    // too_short (n=5)
      // 39 tokens (>= 25), trigram 'x x x' repeated heavily -> repetitive
      (1L, ("x " * 30).trim + " the a of and " + (0 until 5).map(i => s"u$i").mkString(" "), "en", "s", 1L),
      // 40 tokens of 8 distinct words incl stopwords: repetitive AND low_ttr
      // both true -> the chain must pick repetitive (priority order)
      (2L, (0 until 40).map(i => Seq("the","a","of","and","w1","w2","w3","w4")(i % 8)).mkString(" "), "en", "s", 1L),
      (3L, stopless, "en", "s", 1L),                               // low_stopword
      // healthy: 40 distinct-ish tokens with stopwords sprinkled
      (4L, (0 until 40).map(i => if (i % 6 == 0) "the" else s"tok$i").mkString(" "), "en", "s", 1L),
      (5L, lowTtr, "en", "s", 1L))                                 // low_ttr alone
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    val out = graft.queries.TextOps.q23FilterVerdict(spark, d)
      .select($"doc_id", $"keep", $"reason", $"ttr", $"dup3")
      .as[(Long, Boolean, Option[String], Double, Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    assert(out(0L)._3 === Some("too_short"))
    assert(out(1L)._3 === Some("repetitive"))
    assert(out(2L)._3 === Some("repetitive")) // priority over its low ttr
    assert(out(3L)._3 === Some("low_stopword"))
    assert(out(4L)._2 === true)
    assert(out(4L)._3 === None)
    // fixture preconditions stay loud: doc 5 fails ONLY the ttr rule
    assert(out(5L)._4 < 0.33 && out(5L)._5.exists(_ <= 0.10))
    assert(out(5L)._3 === Some("low_ttr"))
  }

  test("scd2: intervals chain per user and exactly one current row each") {
    val d = tempDir("graft_scd2").toString
    // nanos longs, micro-aligned (the testdata convention)
    def ns(s: Long): Long = s * 1000000000L
    Seq(
      (1L, ns(100), 7L, "view", 1.0, "{}"),
      (2L, ns(200), 7L, "click", 2.0, "{}"),
      (3L, ns(300), 7L, "purchase", 3.0, "{}"),
      (4L, ns(500), 8L, "view", 4.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$d/events.parquet")
    val rows = Analytics.q36Scd2(spark, d)
      .select($"user_id", $"version", $"valid_from", $"valid_to", $"is_current")
      .collect()
    assert(rows.length === 4)
    val u7 = rows.filter(_.getLong(0) == 7L).sortBy(_.getLong(1))
    // each valid_to equals the next version's valid_from
    (0 until 2).foreach { i =>
      assert(u7(i).getTimestamp(3) === u7(i + 1).getTimestamp(2))
    }
    assert(rows.count(_.getBoolean(4)) === 2) // one open row per user
    assert(u7.last.isNullAt(3) && u7.last.getBoolean(4))
  }

  test("decontam bloom route: bit-identical to the exact lane, FPs verified away") {
    // Real corpus (sf0.001): the bloom-prefilter plan must return the exact
    // lane's answer row-for-row — bloom false positives may only add
    // candidates, never rows, because the exact verify drops them.
    val dir = "/root/testdata/sf0.001"
    val exact = Sampling.q33Decontam(spark, dir).collect().toSeq
    val bloom = Sampling.q33DecontamBloom(spark, dir).collect().toSeq
    assert(bloom === exact)
    // the comparison is only meaningful if contamination actually exists
    assert(exact.count(_.getBoolean(4)) > 0)
  }

  test("decontam bloom route: synthetic contamination caught, clean docs untouched") {
    val d = tempDir("graft_bloomdc").toString
    // hash buckets are data-dependent; generate enough docs that train
    // (bucket<80) and test (bucket>=90) are both non-empty, with one
    // shared 5-gram planted across every doc of one tag
    val planted = "alpha bravo charlie delta echo"
    val docs = (0 until 80).map { i =>
      val body =
        if (i % 2 == 0) s"$planted ${docText(10, s"u$i")}" // plantable
        else docText(15, s"v$i")                           // unique tokens
      (i.toLong, body, "en", "s0", body.length.toLong)
    }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    val exact = Sampling.q33Decontam(spark, d).collect().toSeq
    val bloom = Sampling.q33DecontamBloom(spark, d).collect().toSeq
    assert(bloom === exact)
    // every even test doc shares the planted span with even train docs
    val contaminatedIds = bloom.filter(_.getBoolean(4)).map(_.getLong(0)).toSet
    val evenTestIds = bloom.map(_.getLong(0)).filter(_ % 2 == 0).toSet
    assert(contaminatedIds === evenTestIds)
  }
}
