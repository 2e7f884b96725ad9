package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.core.{ApiLimitCalculator, StateStore}
import graft.ingest.Ingest

/** t1 e2e for the Q30 slice: envelope JSON → bronze parquet (hour
  * partitions) → watermark advance → idempotent re-run. */
class IngestSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = tempDir("graft").toString

  private def writeEnvelope(dir: String, name: String, objs: Seq[String]): Unit = {
    val body =
      s"""{"meta": {"limit": 1000, "next": null, "total_count": ${objs.size}},
         | "objects": [${objs.mkString(",")}]}""".stripMargin.replace("\n", "")
    Files.write(java.nio.file.Paths.get(dir, name), body.getBytes("UTF-8"))
  }

  private def obj(id: Long, indexedOn: String): String =
    s"""{"id": $id, "indexed_on": "$indexedOn", "payload": {"k": $id}}"""

  test("dual-format indexed_on parse (Z and naive)") {
    val df = Seq("2024-01-01T10:00:00.123456Z", "2024-01-01T10:00:00.123456")
      .toDF("raw").select(Ingest.parseIndexedOn($"raw").as("ts"))
    val vals = df.select($"ts".cast("string")).as[String].collect()
    assert(vals.toSet === Set("2024-01-01 10:00:00.123456"))
  }

  test("Q30 e2e: land → bronze hour partitions → watermark → idempotent re-run") {
    val land = tmp(); val bronze = tmp() + "/bronze"; val stateDir = tmp()
    val state = new StateStore(stateDir)

    writeEnvelope(land, "page1.json", Seq(
      obj(1, "2024-01-01T10:05:00.000000Z"),
      obj(2, "2024-01-01T10:45:00.000000Z"),
      obj(3, "2024-01-01T11:05:00.000000Z")))

    val n1 = Ingest.incrementalRun(spark, land, bronze, state)
    assert(n1 === 3)
    // hour-partitioned layout (R8)
    val parts = new java.io.File(s"$bronze/year=2024/month=1/day=1").list().sorted
    assert(parts.toSeq === Seq("hour=10", "hour=11"))
    // watermark advanced to max(indexed_on)
    assert(state.get("last_successful_job_time").get.startsWith("2024-01-01 11:05:00"))

    // second run: overlapping extract re-sends object 3 (the reference's
    // >=-restart, R2) plus a new object
    writeEnvelope(land, "page2.json", Seq(
      obj(3, "2024-01-01T11:05:00.000000Z"),
      obj(4, "2024-01-01T11:30:00.000000Z")))
    val n2 = Ingest.incrementalRun(spark, land, bronze, state)
    assert(n2 === 1) // only the new row is past the watermark

    // idempotence: dedup-on-read is a fixpoint over at-least-once landing
    val deduped = Ingest.readBronzeDeduped(spark, bronze, "id")
    assert(deduped.count() === 4)
    assert(deduped.select(sum($"payload.k")).as[Long].head === 10L)
  }

  test("dead-letter lane: malformed envelope lines quarantine, batch survives") {
    val land = tmp()
    writeEnvelope(land, "good.json", Seq(
      obj(1, "2024-03-01T00:00:00.000000Z"), obj(2, "2024-03-01T00:01:00.000000Z")))
    Files.write(java.nio.file.Paths.get(land, "poison.json"),
      "{this is not json at all]".getBytes("UTF-8"))
    Files.write(java.nio.file.Paths.get(land, "wrong_shape.json"),
      """{"meta": {"limit": 1}, "noobjects": true}""".getBytes("UTF-8"))
    val (good, bad) = Ingest.readEnvelopesQuarantine(spark, land)
    assert(good.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    // the poison line AND the schema-shape miss both land in quarantine,
    // raw text preserved as evidence
    val badLines = bad.as[String].collect()
    assert(badLines.length == 2)
    assert(badLines.exists(_.contains("not json")))
    assert(badLines.exists(_.contains("noobjects")))

    // e2e: incrementalRun with the quarantine lane lands the good rows in
    // bronze and the poison lines in the quarantine dir
    val bronze = tmp(); val quarantine = tmp(); val stateDir = tmp()
    val n = Ingest.incrementalRun(spark, land, bronze,
      new graft.core.StateStore(stateDir), quarantineDir = Some(quarantine))
    assert(n == 2)
    assert(spark.read.parquet(bronze).count() == 2)
    assert(spark.read.text(quarantine).count() == 2)
  }

  test("custom-range run: backfill window lands, watermark file untouched, " +
    "incremental behavior unchanged after it (CommCareAPIHandler.py:158-162,261-262)") {
    val land = tmp(); val bronze = tmp() + "/bronze"; val stateDir = tmp()
    val state = new StateStore(stateDir)
    writeEnvelope(land, "p.json", Seq(
      obj(1, "2024-05-01T10:00:00.000000Z"),
      obj(2, "2024-05-01T11:00:00.000000Z"),
      obj(3, "2024-05-01T12:00:00.000000Z"),
      obj(4, "2024-05-01T13:00:00.000000Z")))
    // steady-state run establishes the watermark
    assert(Ingest.incrementalRun(spark, land, bronze, state) === 4)
    assert(state.get("last_successful_job_time").get.startsWith("2024-05-01 13:00:00"))
    val stateFile = java.nio.file.Files.list(java.nio.file.Paths.get(stateDir))
      .iterator().next()
    val bytesBefore = java.nio.file.Files.readAllBytes(stateFile).toSeq

    // custom-range backfill re-extracts [11:00, 12:00] INCLUSIVE of its own
    // start (a fresh window, not a `>`-resume), with useLag forced off
    val n = Ingest.incrementalRun(spark, land, bronze + "2", state, useLag = true,
      customRange = Some((
        java.time.Instant.parse("2024-05-01T11:00:00Z"),
        java.time.Instant.parse("2024-05-01T12:00:00Z"))))
    assert(n === 2)
    // the watermark file is byte-identical — the backfill moved nothing
    assert(java.nio.file.Files.readAllBytes(stateFile).toSeq === bytesBefore)

    // the incremental loop after the backfill behaves as if it never ran
    writeEnvelope(land, "p2.json", Seq(obj(5, "2024-05-01T14:00:00.000000Z")))
    assert(Ingest.incrementalRun(spark, land, bronze, state) === 1)
    assert(state.get("last_successful_job_time").get.startsWith("2024-05-01 14:00:00"))
  }

  test("cold start reads full range (NoSuchKey ⇒ skip semantics)") {
    val land = tmp(); val bronze = tmp() + "/bronze"
    val state = new StateStore(tmp())
    assert(state.get("last_successful_job_time").isEmpty)
    writeEnvelope(land, "p.json", Seq(obj(9, "2024-02-01T00:00:00.000000Z")))
    assert(Ingest.incrementalRun(spark, land, bronze, state) === 1)
  }

  test("StateStore atomic put/get round-trip") {
    val s = new StateStore(tmp())
    s.put("k", "v1"); assert(s.get("k") === Some("v1"))
    s.put("k", "v2"); assert(s.get("k") === Some("v2"))
    s.putLong("n", 42L); assert(s.getLong("n") === Some(42L))
  }

  test("ApiLimitCalculator mirrors util.py:75-85") {
    // observed 16 decimal MB at limit 1000 → 16/16 * 1000 * 0.5 = 500
    // (util.py:58-67 converts bytes with /1_000_000, not /2^20)
    assert(ApiLimitCalculator.newLimit(1000, 16_000_000L) === 500)
    // tiny batch → capped at 10000
    assert(ApiLimitCalculator.newLimit(1000, 1024) === 10000)
    assert(ApiLimitCalculator.recordsPerFile(512.0) === (16_000_000L / 2 / 512))
  }

  test("compactBronze merges accreted small files, preserves rows, skips steady partitions") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val bronze = tempDir("graft_compact_t").toString + "/b"
    // 5 append runs → every touched partition accretes ≥5 part-files
    (0 until 5).foreach { run =>
      val df = (0 until 200).map { i =>
        (run * 1000L + i, java.sql.Timestamp.valueOf(f"2024-01-01 ${i % 2}%02d:00:00"), s"v$run-$i")
      }.toDF("event_id", "ts", "payload")
      Ingest.writeBronze(df, bronze, tsCol = "ts")
    }
    def partFiles: Seq[java.nio.file.Path] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(bronze)).iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("part-") &&
          p.getFileName.toString.endsWith(".parquet")).toSeq
    }
    val before = spark.read.parquet(bronze)
      .select($"event_id", $"payload").as[(Long, String)].collect().toSet
    val nBefore = partFiles.size
    assert(nBefore >= 10) // 2 hour-partitions × 5 runs

    val report = Ingest.compactBronze(spark, bronze, minFiles = 4)
    assert(report.partitions === 2)
    assert(report.filesBefore === nBefore)
    assert(report.filesAfter < nBefore)
    assert(partFiles.size === report.filesAfter)
    // rows bit-identical through the rewrite, partition pruning intact
    val after = spark.read.parquet(bronze)
      .select($"event_id", $"payload").as[(Long, String)].collect().toSet
    assert(after === before)
    assert(spark.read.parquet(bronze).filter($"hour" === 1).count() === before.size / 2)

    // steady state: nothing left over the threshold — second pass no-ops
    assert(Ingest.compactBronze(spark, bronze, minFiles = 4) ===
      Ingest.CompactionReport(0, 0, 0))
  }
}
