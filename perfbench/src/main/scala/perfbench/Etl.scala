package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.cli.Main.{restPull, runPull, runPushAll, parseConf}

/** The `etl_sync` workload: the reference's product as scheduled sync
  * cycles, one closed loop (the next cycle starts when the previous ends).
  *
  * Each cycle pulls every table through `cli.Main.runPull` with
  * `restPull(upper)`, runs the `StreamingJobs.tumblingCounts` rollup over
  * the newly landed `case` rows with an AvailableNow trigger (checkpoint kept
  * across cycles), and pushes the cycle's staged documents through
  * `cli.Main.runPushAll` (one POST and one PATCH specifier). Cycle 0 is the
  * untimed warm-up; cycles 1..K are timed.
  */
object Etl {
  /** Timed cycles per measured second (at least 2): a cycle takes about 5 s
    * on a 4-core machine, and a run's set-up (with its untimed cycle) about
    * 23 s more. */
  val CyclesPerSecond = 0.2

  def run(spark: SparkSession, trace: Trace, seed: Long, seconds: Double, work: String,
          cpus: Int, result: java.util.Map[String, Any]): Unit = {
    val timed = math.max(2, math.round(seconds * CyclesPerSecond).toInt)
    val gen = new EtlGen(seed, timed + 1)
    val mock = new MockApi(gen, cpus)
    try {
      val landing = s"$work/landing"
      (0 to timed).foreach(c => stage(gen, c, s"$landing/c$c"))
      val conf = parseConf(
        s"""{"operation_type": "cc_to_s3", "domain": "bench", "url_base": "${mock.base}/a",
           | "bronze_dir": "$work/bronze", "state_dir": "$work/state",
           | "landing_dir": "$landing", "endpoint": "${mock.base}/push",
           | "tables": [${EtlGen.TableShapes.map { case (t, s) =>
          s"""{"name": "$t", "uses_indexed_on": true, "limit": ${s.limit}}""" }.mkString(", ")}],
           | "specifiers": [${EtlGen.Specifiers.map { case (n, m) =>
          s"""{"name": "$n", "method": "$m"}""" }.mkString(", ")}]}""".stripMargin)

      val cycles = new java.util.ArrayList[java.util.Map[String, Any]]()
      var streamErrors = 0
      def cycle(c: Int): Unit = {
        val rec = new java.util.LinkedHashMap[String, Any]()
        rec.put("cycle", c)
        val cycleConf = conf.copy(landingDir = s"$landing/c$c")
        val spanId = trace.spans.size
        val t0 = System.nanoTime()
        trace.span(s"cycle$c", "cycle", owner = s"cycle$c") {
          val pulled = trace.span("runPull", "cli")(runPull(spark, conf, restPull(EtlGen.upper(c))))
          val t1 = System.nanoTime()
          try trace.span("trigger", "streaming")(rollup(spark, work))
          catch { case NonFatal(e) => streamErrors += 1; rec.put("stream_error", e.getMessage) }
          val t2 = System.nanoTime()
          val pushed0 = mock.pushed.values.map(_.size).sum
          trace.span("runPushAll", "cli")(runPushAll(spark, cycleConf))
          val t3 = System.nanoTime()
          rec.put("pull_s", (t1 - t0) / 1e9)
          rec.put("stream_s", (t2 - t1) / 1e9)
          rec.put("push_s", (t3 - t2) / 1e9)
          rec.put("wall_s", (t3 - t0) / 1e9)
          rec.put("pulled_rows", pulled.values.sum)
          rec.put("stream_rows", pulled.getOrElse("case", 0L))
          rec.put("push_acks", mock.pushed.values.map(_.size).sum - pushed0)
        }
        trace.drain(spanId)
        cycles.add(rec)
      }
      val w0 = System.nanoTime()
      trace.span("warmup", "session")(cycle(0))
      result.put("warmup_s", (System.nanoTime() - w0) / 1e9)
      val files0 = bronzeFiles(s"$work/bronze")
      val counts0 = mock.counts
      result.put("first_op_ms", System.currentTimeMillis())
      trace.span("etl_sync", "workload", owner = "etl_sync")((1 to timed).foreach(cycle))
      val counts1 = mock.counts
      val newFiles = bronzeFiles(s"$work/bronze").filterNot(f => files0.contains(f._1))
      result.put("cycles", cycles.asScala.filter(_.get("cycle") != 0).asJava)
      result.put("ingest", Map(
        "files" -> newFiles.size, "bytes" -> newFiles.map(_._2).sum,
        "max_file_bytes" -> (if (newFiles.isEmpty) 0L else newFiles.map(_._2).max)))
      // counters of the timed cycles only
      val delta = counts1.map { case (k, m) => k -> m.map { case (f, v) => f -> (v - counts0(k)(f)) } }
      result.put("sources", delta - "push")
      result.put("push", delta("push"))
      val checks = check(spark, gen, mock, work, timed)
      result.put("checks", checks)
      val attempted = mock.counters.values.map(_.requests.get).sum + mock.pushRequests.get + timed + 1
      val failed = mock.counters.values.map(_.non2xx.get).sum + mock.pushNon2xx.get + streamErrors +
        checks.map(_("mismatches").asInstanceOf[Long]).sum
      result.put("attempted", attempted)
      result.put("failed", math.min(attempted, failed))
    } finally mock.stop()
  }

  val BronzeSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("indexed_on", TimestampType),
    StructField("payload", StringType), StructField("year", IntegerType),
    StructField("month", IntegerType), StructField("day", IntegerType),
    StructField("hour", IntegerType)))

  /** One AvailableNow trigger of the `case` rollup; the checkpoint and the
    * rollup output persist across cycles. */
  def rollup(spark: SparkSession, work: String): Unit = {
    val events = spark.readStream.schema(BronzeSchema).parquet(s"$work/bronze/case")
      .select(col("indexed_on").as("ts"))
    graft.streaming.StreamingJobs.tumblingCounts(events).writeStream
      .format("parquet").outputMode("append")
      .option("checkpointLocation", s"$work/rollup-checkpoint")
      .trigger(Trigger.AvailableNow())
      .start(s"$work/rollup")
      .awaitTermination()
  }

  /** Stages cycle `c`'s push documents as JSON-lines files, one per hour
    * of the cycle's window: push parallelism follows the landing files.
    *
    * The reference lands push input hour-partitioned in directories
    * (`<specifier>/YYYY/MM/DD/HH/`), but `cli.Main.runPush` reads
    * `<landing>/<specifier>` without descending into subdirectories and
    * fails on that layout (UNABLE_TO_INFER_SCHEMA). The hour therefore
    * lives in the file name (`<specifier>/YYYY-MM-DDTHH.json`) until the
    * engine reads the nested layout. */
  def stage(gen: EtlGen, c: Int, dir: String): Unit =
    gen.pushDocs(c).foreach { case (spec, docs) =>
      val d = Paths.get(dir, spec)
      Files.createDirectories(d)
      docs.groupBy { case (_, ts) => ts / 3600000000L }.foreach { case (hour, hs) =>
        val t = java.time.LocalDateTime.ofEpochSecond(hour * 3600, 0, java.time.ZoneOffset.UTC)
        Files.writeString(d.resolve(f"${t.getYear}%04d-${t.getMonthValue}%02d-" +
          f"${t.getDayOfMonth}%02dT${t.getHour}%02d.json"), hs.sortBy(_._1).map { case (id, ts) =>
          s"""{"id": $id, "cycle": $c, "visited_on": "${EtlGen.fmt(ts, withZ = true)}"}"""
        }.mkString("", "\n", "\n"))
      }
    }

  private def bronzeFiles(dir: String): Map[String, Long] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(p => p.getFileName.toString.endsWith(".parquet"))
        .map(p => p.toString -> Files.size(p)).toMap
      finally s.close()
    }
  }

  /** Exact accounting of the run; each entry counts its mismatched items. */
  def check(spark: SparkSession, gen: EtlGen, mock: MockApi, work: String,
            timed: Int): Seq[Map[String, Any]] = {
    val last = EtlGen.upper(timed)
    val lastMicros = EtlGen.windowStart(timed + 1)
    def entry(name: String, mismatches: Long, detail: String) =
      Map[String, Any]("check" -> name, "mismatches" -> mismatches, "detail" -> detail)
    def setCheck(name: String, got: Seq[Long], want: Seq[Long]): Map[String, Any] = {
      val g = got.toSet
      val w = want.toSet
      val dups = got.size - g.size
      entry(name, (g -- w).size + (w -- g).size + dups,
        s"got ${got.size} (${g.size} distinct), want ${w.size}; missing ${(w -- g).size}, extra ${(g -- w).size}")
    }
    val state = new graft.core.StateStore(s"$work/state")
    val wm = last.toString.replace("Z", "").replace("T", " ")
    val perTable = EtlGen.TableShapes.flatMap { case (t, _) =>
      val got = spark.read.parquet(s"$work/bronze/$t").select("id").distinct()
        .collect().map(_.getLong(0)).toSeq
      val want = gen.served(t, includeArchived = true).filter(_.ts <= lastMicros).map(_.id)
      val mark = state.get(s"$t.last_successful_job_time")
      Seq(setCheck(s"bronze_ids.$t", got, want),
        entry(s"watermark.$t", if (mark.contains(wm)) 0 else 1, s"got $mark, want $wm"))
    }
    val rollup = {
      val got = spark.read.parquet(s"$work/rollup").collect()
        .map(r => (r.getTimestamp(0).toInstant, r.getLong(2))).toMap
      val want = gen.tables("case").groupBy(r => r.ts / 60000000L).map { case (m, rs) =>
        java.time.Instant.ofEpochSecond(m * 60) -> rs.size.toLong }
      // every window closed before the last trigger's watermark is emitted
      val closed = EtlGen.windowStart(timed) - 5 * 60000000L
      val mustHave = want.filter { case (w, _) => w.getEpochSecond * 1000000L + 60000000L <= closed }
      val wrong = got.count { case (w, n) => !want.get(w).contains(n) }
      val missing = mustHave.keys.count(w => !got.contains(w))
      entry("rollup_counts", wrong + missing,
        s"${got.size} windows emitted, $wrong with a wrong count, $missing closed windows missing")
    }
    val pushes = EtlGen.Specifiers.map { case (spec, method) =>
      setCheck(s"pushed_ids.$spec", mock.pushed(method).asScala.toSeq,
        (0 to timed).flatMap(c => gen.pushDocs(c)(spec).map(_._1)))
    }
    perTable ++ Seq(rollup) ++ pushes
  }
}
