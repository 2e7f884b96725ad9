package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.StreamingJobs

/** t1 streaming smoke (SURVEY §2B Q27–Q29): drive the streaming builders
  * from MemoryStream micro-batches, assert window contents, watermark-based
  * emission, and stateful dedup. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  case class Ev(event_id: Long, ts: Timestamp, user_id: Long)
  case class EvV(event_id: Long, ts: Timestamp, user_id: Long, value: Double)

  test("Q29d: stream-static enrichment joins every micro-batch, keeps unmatched facts") {
    implicit val sc = spark.sqlContext
    val src = MemoryStream[EvV]
    val dims = Seq((1L, "BUILDING"), (2L, "MACHINERY"))
      .toDF("c_custkey", "c_mktsegment")
    val q = StreamingJobs.enrichStatic(src.toDF(), dims)
      .writeStream.format("memory").queryName("q29d_out")
      .outputMode(OutputMode.Append).start()
    try {
      src.addData(
        EvV(1, ts("2024-01-01 00:00:10"), 1, 10.0),
        EvV(2, ts("2024-01-01 00:00:20"), 2, 5.0),
        EvV(3, ts("2024-01-01 00:00:30"), 99, 1.0)) // no dim row
      q.processAllAvailable()
      val rows = spark.table("q29d_out")
        .select($"event_id", $"segment").as[(Long, String)].collect().toMap
      assert(rows === Map(1L -> "BUILDING", 2L -> "MACHINERY", 3L -> "UNKNOWN"))
      // a later micro-batch joins identically — no state store involved
      src.addData(EvV(4, ts("2024-01-01 00:01:00"), 1, 2.0))
      q.processAllAvailable()
      val again = spark.table("q29d_out")
        .select($"event_id", $"segment").as[(Long, String)].collect().toMap
      assert(again(4L) === "BUILDING" && again.size === 4)
    } finally q.stop()
  }

  test("Q27: tumbling 1-minute counts emit settled windows in append mode") {
    implicit val sc = spark.sqlContext
    val src = MemoryStream[Ev]
    val q = StreamingJobs.tumblingCounts(src.toDF())
      .writeStream.format("memory").queryName("q27_out")
      .outputMode(OutputMode.Append).start()
    try {
      src.addData(
        Ev(1, ts("2024-01-01 00:00:10"), 1),
        Ev(2, ts("2024-01-01 00:00:50"), 1),
        Ev(3, ts("2024-01-01 00:01:20"), 2))
      q.processAllAvailable()
      // watermark = max(ts) - 5min = before both windows: nothing emitted yet
      assert(spark.table("q27_out").count() === 0)
      // advance event time past the first windows' watermark
      src.addData(Ev(4, ts("2024-01-01 00:10:00"), 2))
      q.processAllAvailable()
      src.addData(Ev(5, ts("2024-01-01 00:20:00"), 2))
      q.processAllAvailable()
      val rows = spark.table("q27_out")
        .select($"w_start".cast("string"), $"n").as[(String, Long)].collect().toMap
      assert(rows("2024-01-01 00:00:00") === 2)
      assert(rows("2024-01-01 00:01:00") === 1)
    } finally q.stop()
  }

  test("Q28: session windows merge events within the 30-minute gap") {
    implicit val sc = spark.sqlContext
    val src = MemoryStream[Ev]
    val q = StreamingJobs.sessionCounts(src.toDF())
      .writeStream.format("memory").queryName("q28_out")
      .outputMode(OutputMode.Append).start()
    try {
      src.addData(
        Ev(1, ts("2024-01-01 00:00:00"), 7),
        Ev(2, ts("2024-01-01 00:10:00"), 7),  // same session (gap 10m)
        Ev(3, ts("2024-01-01 01:30:00"), 7))  // new session (gap 80m)
      q.processAllAvailable()
      src.addData(Ev(4, ts("2024-01-01 06:00:00"), 8)) // advance watermark
      q.processAllAvailable()
      val rows = spark.table("q28_out")
        .select($"user_id", $"s_start".cast("string"), $"s_end".cast("string"), $"n")
        .as[(Long, String, String, Long)].collect().filter(_._1 == 7L).sortBy(_._2)
      assert(rows.length === 2)
      assert(rows(0) === ((7L, "2024-01-01 00:00:00", "2024-01-01 00:40:00", 2L)))
      assert(rows(1) === ((7L, "2024-01-01 01:30:00", "2024-01-01 02:00:00", 1L)))
    } finally q.stop()
  }

  test("custom state: flatMapGroupsWithState burst counters accumulate across micro-batches") {
    implicit val sc = spark.sqlContext
    val src = MemoryStream[Ev]
    val q = StreamingJobs.userBurstCounts(src.toDF())
      .writeStream.format("memory").queryName("bursts_out")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: two events 5 min apart (one burst)
      src.addData(Ev(1, ts("2024-01-01 00:00:00"), 42), Ev(2, ts("2024-01-01 00:05:00"), 42))
      q.processAllAvailable()
      // batch 2: 3 hours later (new burst) — state must survive batches
      src.addData(Ev(3, ts("2024-01-01 03:00:00"), 42))
      q.processAllAvailable()
      val rows = spark.table("bursts_out")
        .select($"user_id", $"n_events", $"n_bursts")
        .as[(Long, Long, Long)].collect().filter(_._1 == 42L).sortBy(_._2)
      assert(rows.last === ((42L, 3L, 2L))) // 3 events, 2 bursts
    } finally q.stop()
  }

  test("Q29b: stream-stream interval join matches actions to preceding views") {
    implicit val sc = spark.sqlContext
    val views = MemoryStream[Ev]
    val actions = MemoryStream[Ev]
    val q = StreamingJobs.intervalJoin(views.toDF(), actions.toDF())
      .writeStream.format("memory").queryName("q29b_out")
      .outputMode(OutputMode.Append).start()
    try {
      views.addData(
        Ev(100, ts("2024-01-01 00:00:00"), 1),  // matched by action 200
        Ev(101, ts("2024-01-01 00:30:00"), 1),  // too late for action 200
        Ev(102, ts("2024-01-01 00:01:00"), 2))  // other user: no match
      actions.addData(
        Ev(200, ts("2024-01-01 00:05:00"), 1),  // 5 min after view 100 ✓
        Ev(201, ts("2024-01-01 00:50:00"), 1))  // >10 min after any view ✗
      q.processAllAvailable()
      val rows = spark.table("q29b_out")
        .select($"view_id", $"action_id").as[(Long, Long)].collect().toSet
      assert(rows === Set((100L, 200L)))
    } finally q.stop()
  }

  test("Q29: dropDuplicatesWithinWatermark collapses re-sent boundary rows") {
    implicit val sc = spark.sqlContext
    val src = MemoryStream[Ev]
    val q = StreamingJobs.dedupWithinWatermark(src.toDF())
      .writeStream.format("memory").queryName("q29_out")
      .outputMode(OutputMode.Append).start()
    try {
      // the reference's >=-restart re-sends the boundary row (R2): same
      // event_id arrives twice across micro-batches
      src.addData(Ev(10, ts("2024-01-01 00:00:00"), 1), Ev(11, ts("2024-01-01 00:00:30"), 1))
      q.processAllAvailable()
      src.addData(Ev(10, ts("2024-01-01 00:00:00"), 1), Ev(12, ts("2024-01-01 00:01:00"), 2))
      q.processAllAvailable()
      val ids = spark.table("q29_out").select($"event_id").as[Long].collect().sorted
      assert(ids.toSeq === Seq(10L, 11L, 12L))
    } finally q.stop()
  }

  case class Doc(doc_id: Long, text: String)

  test("Q29c: streaming near-dup flags a later duplicate against the first holder") {
    implicit val sc = spark.sqlContext
    val src = MemoryStream[Doc]
    val q = StreamingJobs.streamingNearDup(src.toDF())
      .writeStream.format("memory").queryName("q29c_out")
      .outputMode(OutputMode.Append).start()
    try {
      val a = "the quick brown fox jumps over the lazy dog again and again"
      val b = "completely different content with no shared shingles at all here"
      src.addData(Doc(1, a), Doc(2, b))
      q.processAllAvailable()
      // first holders: no hits yet
      assert(spark.table("q29c_out").count() === 0)
      // an exact duplicate of doc 1 arrives in a LATER micro-batch; its
      // identical signature collides on every band, each naming doc 1
      src.addData(Doc(7, a))
      q.processAllAvailable()
      val hits = spark.table("q29c_out")
        .select($"doc_id", $"dup_of").as[(Long, Long)].collect()
      assert(hits.nonEmpty && hits.forall(_ == ((7L, 1L))))
      // a short doc (< 3 tokens) produces no bands and no state — and a
      // fresh unique doc stays hit-less (a mostly-overlapping suffix
      // extension of b would legitimately collide: that IS a near-dup)
      src.addData(Doc(8, "too short"), Doc(9, "entirely fresh words that overlap nothing from before in any shingle"))
      q.processAllAvailable()
      val all = spark.table("q29c_out").select($"doc_id").as[Long].collect().toSet
      assert(all === Set(7L))
    } finally q.stop()
  }

  test("Q29c: within one micro-batch the smallest doc_id becomes the holder") {
    implicit val sc = spark.sqlContext
    val src = MemoryStream[Doc]
    val q = StreamingJobs.streamingNearDup(src.toDF())
      .writeStream.format("memory").queryName("q29c_batch_out")
      .outputMode(OutputMode.Append).start()
    try {
      val t = "one shared text body repeated across three concurrent documents"
      src.addData(Doc(30, t), Doc(10, t), Doc(20, t))
      q.processAllAvailable()
      val hits = spark.table("q29c_batch_out")
        .select($"doc_id", $"dup_of").as[(Long, Long)].collect().toSet.toSeq.sorted
      // deterministic: 10 holds every band; 20 and 30 are flagged against it
      assert(hits.map(_._2).forall(_ == 10L))
      assert(hits.map(_._1).toSet === Set(20L, 30L))
    } finally q.stop()
  }

  test("Q31b: foreachBatch sink is idempotent under batch replay") {
    implicit val sc = spark.sqlContext
    val out = tempDir("graft_febatch").toString
    val src = MemoryStream[Ev]
    val ckpt = tempDir("graft_febatch_ck").toString
    def run(): Unit = {
      val q = StreamingJobs.foreachBatchSink(src.toDF(), out)
        .option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    src.addData(Ev(1, ts("2024-01-01 00:00:10"), 1), Ev(2, ts("2024-01-01 00:00:20"), 2))
    run()
    val first = spark.read.parquet(out).select($"event_id").as[Long].collect().sorted
    assert(first.toSeq === Seq(1L, 2L))
    // REPLAY the same batch id against the same sink (the at-least-once
    // delivery a crash-and-restart produces): the batch-addressed overwrite
    // must leave the landed data identical, not doubled
    // stage a copy OUTSIDE the sink dir: Spark refuses to overwrite a path
    // it is reading from, and partition discovery must not see the staging
    val stage = tempDir("graft_febatch_replay").toString
    spark.read.parquet(s"$out/batch_id=0")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(stage)
    // re-deliver batch 0's rows through the sink's own write shape
    spark.read.parquet(stage)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$out/batch_id=0")
    val after = spark.read.parquet(out).select($"event_id").as[Long].collect().sorted
    assert(after.toSeq === Seq(1L, 2L))
    // a NEW batch lands additively under its own id
    src.addData(Ev(3, ts("2024-01-01 00:00:30"), 3))
    run()
    val all = spark.read.parquet(out).select($"event_id").as[Long].collect().sorted
    assert(all.toSeq === Seq(1L, 2L, 3L))
  }

  test("Q29b': left-outer interval join emits the unmatched view only after its state expires") {
    implicit val sc = spark.sqlContext
    val views = MemoryStream[Ev]
    val actions = MemoryStream[Ev]
    val q = StreamingJobs.intervalJoinOuter(views.toDF(), actions.toDF())
      .writeStream.format("memory").queryName("q29bo_out")
      .outputMode(OutputMode.Append).start()
    try {
      // view 1 never gets an action; view 3 matches action 60 inside 10 min
      views.addData(Ev(1, ts("2024-01-01 00:00:10"), 1),
        Ev(3, ts("2024-01-01 00:00:20"), 3))
      actions.addData(Ev(60, ts("2024-01-01 00:05:00"), 3))
      q.processAllAvailable()
      val matched = spark.table("q29bo_out")
        .filter($"action_id".isNotNull).select($"view_id", $"action_id")
        .as[(Long, Long)].collect().toSet
      assert(matched === Set((3L, 60L)))
      // the unmatched verdict must NOT have been emitted yet — a future
      // action could still match until the watermark passes v_ts + 10 min
      assert(spark.table("q29bo_out").filter($"action_id".isNull).count() === 0)
      // advance both watermarks far past every view's expiry horizon
      views.addData(Ev(4, ts("2024-01-01 01:00:00"), 9))
      actions.addData(Ev(61, ts("2024-01-01 01:00:00"), 9))
      q.processAllAvailable()
      actions.addData(Ev(62, ts("2024-01-01 01:00:01"), 9))
      q.processAllAvailable()
      val unmatched = spark.table("q29bo_out")
        .filter($"action_id".isNull).select($"view_id").as[Long].collect().toSet
      assert(unmatched.contains(1L), "expired unmatched view must emit a null-action row")
      // and the matched view must not ALSO emit a spurious null row
      assert(!unmatched.contains(3L))
    } finally q.stop()
  }

  test("Q29c twin: doc_id-ordered streaming arrival reproduces q29_neardup_batch exactly") {
    implicit val sc = spark.sqlContext
    val dir = tempDir("graft_neardup_twin").toString
    val t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val t2 = "alpha beta gamma delta epsilon zeta eta theta iota lambda" // near-dup of t1
    val t3 = "totally different words about completely other topics entirely here now"
    Seq((1L, t1, "en", "s", 10L), (2L, t3, "en", "s", 10L),
        (5L, t1, "en", "s", 10L), // exact dup of doc 1 — collides on every band
        (9L, t2, "en", "s", 10L)) // near dup — collides on some bands
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val batchHits = graft.queries.Similarity.q29NeardupBatch(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(batchHits.nonEmpty && batchHits.forall(_._3 == 1L))
    // same corpus delivered in doc_id order across TWO micro-batches: the
    // oracle-checked batch lane and the stateful streaming detector must
    // agree hit-for-hit (doc_id, band_id, dup_of)
    val src = MemoryStream[Doc]
    val q = StreamingJobs.streamingNearDup(src.toDF())
      .writeStream.format("memory").queryName("q29c_twin_out")
      .outputMode(OutputMode.Append).start()
    try {
      src.addData(Doc(1, t1), Doc(2, t3))
      q.processAllAvailable()
      src.addData(Doc(5, t1), Doc(9, t2))
      q.processAllAvailable()
      val streamHits = spark.table("q29c_twin_out")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(streamHits === batchHits)
    } finally q.stop()
  }
}
