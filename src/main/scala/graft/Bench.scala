package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.Try
import scala.util.control.NonFatal

/** Per-round benchmark main, and the one definition of how a lane is timed
  * ([[Bench.noopPass]]). Times every SparkEntry lane twice through the
  * noop sink — cold, then warm; the warm pass is the gated `queries` dict
  * and `value` (BASELINE.md excludes first-invocation codegen/JIT cost) —
  * plus the Q30 ingest, Q27 stream and R10 push slices, and prints a full
  * and a compact JSON line for the driver.
  */
object Bench {

  /** One timed lane pass: build the lane and write every column to the
    * `noop` sink. Timing `count()` instead lets Catalyst prune the columns
    * the count does not need, which benches a hollowed plan (measured round
    * 9: q52 0.53 s counted vs ~20 s materialized). Returns the elapsed
    * seconds, or the lane's non-fatal failure; fatal errors and interrupts
    * propagate. Outside the timed region, every cached block is released
    * ([[GraftSession.releaseCaches]]) and a GC is requested, so the next
    * pass starts against an empty block store and never reads this pass's
    * cache — across 100+ lanes that debris inflated later lanes ~2×
    * (rounds 3 and 4). A failed release fails the pass. */
  def noopPass(spark: SparkSession, lane: (SparkSession, String) => DataFrame,
      sfDir: String): Try[Double] = {
    val t0 = System.nanoTime()
    val pass = Try {
      lane(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val released = Try { GraftSession.releaseCaches(spark); System.gc() }
    pass.flatMap(dt => released.map(_ => dt))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Calibration anchor FIRST (r11 VERDICT task 2), before any Spark
    // work can contend for cores: a fixed single-threaded CPU workload
    // whose time is a pure clock proxy — two rounds' anchor_s divide into
    // the container clock ratio, making round-over-round deltas readable
    // across differently-clocked boxes (see core/Calibration.scala).
    val anchorS = graft.core.Calibration.measure()
    // Multi-core anchor (r13 task 2): min(8, cores) concurrent passes of
    // the same kernel — separates "slower clock" from "fewer effective
    // cores" (host oversubscription), the class of uniform untouched-lane
    // elevation r13 could only explain in prose.
    val anchorMt = graft.core.Calibration.measureMt()
    // I/O anchor (r12): durable-write MB/s of the bench filesystem — the
    // diagnostic for host-noise windows that fail the fsync-bound bars
    // while anchor_s stays near-baseline (see Calibration.measureIo).
    val anchorIo = graft.core.Calibration.measureIo()
    System.err.println(f"[bench] anchor_s=$anchorS%.3f anchor_mt_s=$anchorMt%.3f" +
      f" (threads=${graft.core.Calibration.mtThreads}) anchor_io_mbps=$anchorIo%.0f")
    val spark = GraftSession.builder(cpus)
      // Dynamic-partition writes sort each task's rows by partition key
      // first; with bounded concurrent writers the sort is skipped — the
      // post-repartition tasks hold few distinct partitions each.
      .config("spark.sql.maxConcurrentOutputFileWriters", "64")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Warmup: exercise scan, shuffle-agg, join, window and codegen paths so
    // timed queries measure steady-state, not JVM/JIT/codegen first-touch.
    // Guarded: a broken environment should still emit the JSON report with
    // its per-query failures, not die before the first line.
    try {
      graft.core.Tables.lineitem(spark, sfDir)
        .groupBy(col("l_returnflag")).count().count()
      graft.queries.Relational.q11(spark, sfDir).count()
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] warmup failed: ${e.getMessage}")
    }

    // Q30 ingest slice: events parquet → normalize → partitioned write.
    // Measured BEFORE the query loop: 70+ queries leave shuffle files and
    // heap debris that contaminate a later write-path measurement (measured
    // 142 k vs 202-233 k rows/s for the identical write). Day granularity:
    // at sf0.1 the fixture has ~139 rows/hour, so hourly dirs would measure
    // per-file overhead, not throughput (see Ingest.writeBronze).
    // r10 harness fix (VERDICT r9 item 1): the old single-write-per-rep
    // design timed a ~0.5 s job per rep, so fixed-cost jitter (commit
    // renames, GC debt across reps, scheduler noise) read as monotone
    // throughput decay — the official r9 median was really "rep 3 of a
    // decaying series" (97k→17.7k under contention). Measured fix
    // (7 reps): GC barrier before each rep + 3 consecutive
    // writes per timed region + FULL-size warmup ×2 converges reps to
    // 188–216 k rows/s with max/min 1.14. /tmp here is real disk (vda),
    // not tmpfs, and the per-rep deletes were already in place — the decay
    // was measurement, not the write path.
    val ingestOut = java.nio.file.Files.createTempDirectory("graft_bench_ingest").toString
    def rmTree(p: String): Unit =
      try {
        import scala.jdk.CollectionConverters._
        val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(p))
        try walk.sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(java.nio.file.Files.delete)
        finally walk.close() // walk holds directory handles until closed
      } catch { case NonFatal(_) => () }
    val ingestWrites = 3 // consecutive writes per timed rep (amortizes fixed cost)
    val (nRows, ingestRps, ingestRepsRps) = try {
      val ev = graft.core.Tables.events(spark, sfDir)
      val n = ev.count()
      // Warm the write path at FULL size, twice: a 1000-row warmup leaves
      // the full-width task/commit path cold (measured: 2 slow leading reps
      // after a tiny warmup). BASELINE.md targets steady state.
      (0 until 2).foreach { w =>
        graft.ingest.Ingest.writeBronze(ev, s"$ingestOut/warmup$w", tsCol = "ts",
          granularity = "day")
        rmTree(s"$ingestOut/warmup$w")
      }
      // Median of 7 reps, each rep = ingestWrites consecutive full writes
      // in one timed region. Before each rep: GC barrier + a settle action
      // — System.gc() QUEUES ContextCleaner work (shuffle-file removal)
      // that otherwise executes asynchronously INSIDE the next timed
      // region; a throwaway job between the GC and t0 absorbs it.
      val repTimes = (0 until 7).map { i =>
        System.gc()
        spark.range(1000).count() // settle: drain async cleaner outside timing
        val t0 = System.nanoTime()
        (0 until ingestWrites).foreach { w =>
          graft.ingest.Ingest.writeBronze(ev, s"$ingestOut/bronze${i}_$w",
            tsCol = "ts", granularity = "day")
        }
        val dt = (System.nanoTime() - t0) / 1e9
        // delete the rep's output OUTSIDE the timed region
        (0 until ingestWrites).foreach(w => rmTree(s"$ingestOut/bronze${i}_$w"))
        dt
      }
      // headline = median (over a sorted COPY); the per-rep array is
      // reported in TEMPORAL order — r1–r9 reported the sorted times mapped
      // to rows/s, i.e. an always-monotone-descending rate array that the
      // round-9 review read as systematic per-rep decay. It was the sort.
      val rowsPerRep = n.toDouble * ingestWrites
      (n, rowsPerRep / repTimes.sorted.apply(3), repTimes.map(rowsPerRep / _))
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] ingest slice failed: ${e.getMessage}")
      (0L, -1.0, Seq.empty[Double])
    }

    // Streaming throughput: events parquet driven through the Q27 tumbling
    // aggregation as a file stream (AvailableNow), rows/s wall-clock.
    // Runs BEFORE the query loop for the same reason the ingest slice does
    // (r10 VERDICT item 8 applied to the stream metric): 193 lanes of
    // shuffle files, cache debris and GC debt contaminated the end-of-run
    // placement ~2× (official r10: 35.5 k vs 64–85 k across the five
    // uncontended band runs). Same harness discipline as the ingest reps
    // (r10 item 1): GC barrier + settle action before each timed pass so
    // the async ContextCleaner drains OUTSIDE the timed region, per-pass
    // checkpoint dirs deleted, warm = median of 5 with the TEMPORAL rep
    // array reported (never sorted) so run-to-run spread is visible.
    // Measured twice+5: pass 1 (cold — stream-engine class-load + codegen
    // first-touch), then 5 warm passes (fresh checkpoint, same files,
    // warmed JVM). Warm median is the steady-state number a long-lived
    // query would see. State-partition width scaled to the input: 32
    // state stores for ~39 k window rows
    // spent more time in per-partition load/commit than in the
    // aggregation (measured: 51 k rows/s warm at 32 partitions vs 79 k at
    // 4–8; phase table in PLANS.md §Round-4). ~25 k input rows per state
    // partition, floor 4, cap cpus — a 100 TB stream saturates the cap, a
    // bench-sized one stops paying fixed per-store costs. Fresh
    // checkpoints per pass, so the width is free to differ between runs.
    val streamWidth =
      graft.core.ApiLimitCalculator.streamStateWidth(nRows, cpus.toLong).toString
    def streamPass(): Double = {
      System.gc()
      spark.range(1000).count() // settle: drain async cleaner outside timing
      val ckpt = java.nio.file.Files.createTempDirectory("graft_bench_stream").toString
      spark.conf.set("spark.sql.shuffle.partitions", streamWidth)
      // raw file schema (nanos long or timestamp[us]), converted in-stream
      // exactly as Tables.events does for batch
      val rawSchema = spark.read.parquet(s"$sfDir/events.parquet").schema
      // file streams want a directory: stream the sf dir filtered to the
      // events file
      val src = graft.core.Tables.normalizeEventTs(
        spark.readStream.schema(rawSchema)
          .option("pathGlobFilter", "events.parquet")
          .parquet(sfDir))
      val t1 = System.nanoTime()
      val q = graft.streaming.StreamingJobs.tumblingCounts(src)
        .writeStream.format("noop").option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val rps = nRows / ((System.nanoTime() - t1) / 1e9)
      rmTree(ckpt) // outside the timed region; dirs stranded until exit pre-r11
      rps
    }
    val (streamRps, streamWarmRps, streamRepsRps) = try {
      val cold = streamPass()
      // warm = median of 5 (was 3 pre-r11): single warm passes swing ±25%
      // (73–97 k measured on identical code) from checkpoint-dir FS and GC
      // noise — same reasoning as the ingest median-of-7. The rep array is
      // kept TEMPORAL for the report; only a sorted COPY picks the median.
      val reps = (0 until 5).map(_ => streamPass())
      (cold, reps.sorted.apply(2), reps)
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] stream slice failed: ${e.getMessage}")
      (-1.0, -1.0, Seq.empty[Double])
    } finally spark.conf.set("spark.sql.shuffle.partitions", cpus) // restore the session width, not a hardcoded 32

    // Push slice (r11 VERDICT task 7): the R10/R11 reverse-ETL path had t1
    // correctness specs but no throughput evidence. Drives PushJob.push —
    // the real foreachPartition + pooled-HttpClient path — against a local
    // mock endpoint (PushSpec's double, loopback), so the number measures
    // the ENGINE side (row serialization, partition fan-out, per-request
    // client overhead, budget accounting), not a network. The mock gets a
    // cpus-wide executor: HttpServer's default is a single dispatch thread,
    // which would serialize the 32 pushing partitions and measure the mock.
    val (pushRps, pushRepsRps) = try {
      val es = java.util.concurrent.Executors.newFixedThreadPool(cpus.toInt)
      val server = com.sun.net.httpserver.HttpServer.create(
        new java.net.InetSocketAddress(0), 0)
      server.createContext("/api", (ex: com.sun.net.httpserver.HttpExchange) => {
        // drain the request body — unread bytes break keep-alive reuse and
        // the measurement would include per-request reconnect handshakes
        val in = ex.getRequestBody
        val buf = new Array[Byte](8192)
        while (in.read(buf) != -1) {}
        ex.sendResponseHeaders(200, -1)
        ex.close()
      })
      server.setExecutor(es)
      server.start()
      try {
        val url = s"http://localhost:${server.getAddress.getPort}/api"
        val pushRows = 20000L
        // fixed-shape ~100 B documents, pre-materialized so the timed
        // region is the push alone (the cache read is not the object here)
        val docs = spark.range(pushRows).selectExpr(
            "concat('{\"id\": ', id, ', \"payload\": \"', repeat('x', 64), '\"}') AS doc")
          .repartition(cpus.toInt).persist()
        docs.count()
        graft.push.PushJob.push(docs, "doc", url) // warmup: client pools, codegen
        val reps = (0 until 3).map { _ =>
          System.gc()
          spark.range(1000).count() // settle (same discipline as the slices above)
          val t0 = System.nanoTime()
          graft.push.PushJob.push(docs, "doc", url)
          pushRows / ((System.nanoTime() - t0) / 1e9)
        }
        docs.unpersist(blocking = true)
        (reps.sorted.apply(1), reps)
      } finally { server.stop(0); es.shutdownNow() }
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] push slice failed: ${e.getMessage}")
      (-1.0, Seq.empty[Double])
    }

    // Scaling-probe legibility (r15 VERDICT task 2): at bench SFs most
    // lanes are floor-bound (fixed per-lane scheduling/AQE cost), so a
    // c8-vs-c32 wall-clock ratio near 1 cannot distinguish "serial lane"
    // from "floor-bound at this SF" and trips the driver's
    // suspect_cpus_ignored heuristic on an honest harness. The artifact now
    // carries the evidence to tell them apart: the session's cpu/
    // parallelism echo plus, per lane, Σ task-time / noop-wall (a lane
    // using one core reads ~1; a 32-wide CPU-bound lane reads ≫ 1). Two
    // snapshots bracket each gated warm pass; events are drained
    // (GraftSession.drainListenerBus) before each snapshot so a pass cannot
    // bleed into the next.
    val taskTimeMs = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (t.taskMetrics != null)
            taskTimeMs.addAndGet(t.taskMetrics.executorRunTime)
      })
    // TWO noop passes per lane, the second gated: the cold pass pays the
    // lane's OWN codegen + plan compilation (the generic warmup above
    // cannot pre-compile 190+ distinct plans), one-time cost a long-lived
    // deployment never re-pays — BASELINE.md targets are steady-state. The
    // cold pass rides along in queries_cold. A lane with either pass failed
    // has no valid steady-state measurement: it is reported in `failed` and
    // left out of every per-lane dict, `value` and the bar statistics.
    final case class LaneRun(name: String, cold: Double, warm: Double, taskSec: Double)
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    val lanes = SparkEntry.queries.toSeq.sortBy(_._1)
    val ok = lanes.flatMap { case (name, fn) =>
      def logFailure(pass: String)(e: Throwable): Unit = {
        failed += name
        System.err.println(s"[bench] $name $pass FAILED: ${e.getMessage}")
      }
      val cold = noopPass(spark, fn, sfDir)
      cold.failed.foreach(logFailure("cold"))
      GraftSession.drainListenerBus(spark)
      val taskMs0 = taskTimeMs.get()
      val warm = noopPass(spark, fn, sfDir)
      warm.failed.foreach(logFailure("warm"))
      GraftSession.drainListenerBus(spark)
      val taskSec = (taskTimeMs.get() - taskMs0) / 1e3
      for (c <- cold.toOption; w <- warm.toOption) yield LaneRun(name, c, w, taskSec)
    }
    def dict(v: LaneRun => Double): String =
      ok.map(r => "\"" + r.name + "\":" + v(r)).mkString("{", ",", "}")
    val noopTotal = ok.map(_.warm).sum
    // Anchor-normalized round-over-round deltas (r12 VERDICT task 4): the
    // previous round's BENCH artifact + the anchors make "faster or just a
    // faster box?" mechanical — see core/PrevBench.scala for conventions.
    // The prev artifact is loaded ONCE and shared with the per-bar verdicts.
    val prevBench = try graft.core.PrevBench.load(sfDir)
    catch { case NonFatal(e) =>
      System.err.println(s"[bench] prev load failed: ${e.getMessage}"); None
    }
    val vsPrev = try graft.core.PrevBench.report(anchorS, anchorIo, noopTotal,
      ingestRps, streamWarmRps, pushRps, ok.map(r => r.name -> r.warm).toMap,
      prevBench, anchorMt)
    catch { case NonFatal(e) =>
      System.err.println(s"[bench] vs_prev failed: ${e.getMessage}"); "null"
    }
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Per-bar verdicts with normalized twins (r13 VERDICT task 5): raw
    // pass/fail against the BASELINE.md bars plus the anchor-normalized
    // vs-prev ratio and a divergence flag — a bar passed on disk weather
    // (or failed on it) is readable from the artifact alone.
    val (noopMean, noopP50, noopP95, noopMax) = {
      val s = ok.map(_.warm).sorted
      def pctl(p: Double): Double =
        if (s.isEmpty) -1.0 else s(math.min(s.size - 1, (p * s.size).toInt))
      (if (s.isEmpty) -1.0 else s.sum / s.size, pctl(0.5), pctl(0.95), pctl(1.0))
    }
    val barsJson = try graft.core.PrevBench.barsReport(anchorS, anchorIo,
      noopMean, noopP95, ingestRps, streamWarmRps, pushRps, prevBench)
    catch { case NonFatal(e) =>
      System.err.println(s"[bench] bars failed: ${e.getMessage}"); "null"
    }
    // Key order is deliberate: the cold dict FIRST, the gated dict
    // (`queries`, what BASELINE.md targets compare against) LAST among the
    // dicts — a tail window of this (long) line, which is what a
    // BENCH_r*.json reader usually sees, then shows the gated numbers.
    // Σ task-time per lane during the gated warm pass (r15 VERDICT task 2:
    // the scaling probe's per-lane parallelism evidence). Ratio to the wall
    // is computed reader-side; raw seconds keep the artifact unit-honest.
    val json = s"""{"metric":"total_noop","value":$noopTotal,"unit":"sec","gated_dict":"queries(noop)",""" +
      s""""cpus":$cpus,"default_parallelism":${spark.sparkContext.defaultParallelism},""" +
      s""""queries_task_sec":${dict(r => math.rint(r.taskSec * 100) / 100)},""" +
      s""""queries_cold":${dict(_.cold)},""" +
      s""""ingest_rows_per_sec":$ingestRps,"ingest_rows":$nRows,""" +
      s""""ingest_reps_rows_per_sec":${ingestRepsRps.mkString("[", ",", "]")},""" +
      s""""stream_rows_per_sec":$streamRps,"stream_warm_rows_per_sec":$streamWarmRps,""" +
      s""""stream_reps_rows_per_sec":${streamRepsRps.mkString("[", ",", "]")},""" +
      s""""push_rows_per_sec":$pushRps,""" +
      s""""push_reps_rows_per_sec":${pushRepsRps.mkString("[", ",", "]")},""" +
      s""""anchor_s":$anchorS,"anchor_mt_s":$anchorMt,""" +
      s""""anchor_mt_threads":${graft.core.Calibration.mtThreads},""" +
      s""""anchor_io_mbps":$anchorIo,""" +
      s""""vs_prev_normalized":$vsPrev,"bars":$barsJson,""" +
      s""""failed":$failedJson,""" +
      s""""queries":${dict(_.warm)},"sf":"$sfDir"}"""
    // Durable copy: the driver's stdout scrape lost the line start in round 1
    // ("parsed": null) — a file survives any log truncation.
    try java.nio.file.Files.write(java.nio.file.Paths.get("bench_result.json"),
      (json + "\n").getBytes("UTF-8"))
    catch { case NonFatal(e) => System.err.println(s"[bench] file write failed: ${e.getMessage}") }
    println(json)
    Console.out.flush()
    // Compact summary line: the driver keeps only the LAST ~2 KB of stdout,
    // and the full line above (120+ lanes, ~3.5 KB) outgrew that window —
    // BENCH_r06/r07 both came back "parsed": null with the line start cut
    // off mid-dict. The process's FINAL line is a strict summary that always
    // fits: headline metric, warm distribution stats, throughput slices,
    // failures, and the slowest lanes; the complete per-lane dicts live in
    // the full line above and in bench_result.json.
    def r3(v: Double) = math.rint(v * 1000) / 1000
    val slowest = ok.sortBy(-_.warm)
    val top15 = slowest.take(15)
      .map(r => "\"" + r.name + "\":" + r3(r.warm)).mkString("{", ",", "}")
    val ingestSpread =
      if (ingestRepsRps.isEmpty || ingestRepsRps.min <= 0) -1.0
      else r3(ingestRepsRps.max / ingestRepsRps.min)
    val streamSpread =
      if (streamRepsRps.isEmpty || streamRepsRps.min <= 0) -1.0
      else r3(streamRepsRps.max / streamRepsRps.min)
    // Per-lane parallelism (Σ task-time / noop wall) for the 10 slowest
    // lanes — enough to adjudicate a c8-vs-c32 scaling comparison from the
    // compact line alone (~1 ⇒ floor-bound or serial; ≫ 1 ⇒ the cores were
    // used; compare against the run's own `cpus` echo). One decimal keeps
    // the line inside the driver's stdout tail window.
    val parTop = slowest.take(10).map { r =>
      val par = if (r.warm > 0) r.taskSec / r.warm else 0.0
      "\"" + r.name + "\":" + math.rint(par * 10) / 10
    }.mkString("{", ",", "}")
    val compact = s"""{"metric":"total_noop","value":${r3(noopTotal)},"unit":"sec",""" +
      s""""cpus":$cpus,"default_parallelism":${spark.sparkContext.defaultParallelism},""" +
      s""""par":$parTop,""" +
      s""""n_queries":${lanes.size},"noop_mean":${r3(noopMean)},""" +
      s""""noop_p50":${r3(noopP50)},"noop_p95":${r3(noopP95)},"noop_max":${r3(noopMax)},""" +
      s""""ingest_rows_per_sec":${math.rint(ingestRps)},"ingest_rep_spread":$ingestSpread,""" +
      s""""stream_rows_per_sec":${math.rint(streamRps)},""" +
      s""""stream_warm_rows_per_sec":${math.rint(streamWarmRps)},""" +
      s""""stream_rep_spread":$streamSpread,""" +
      s""""push_rows_per_sec":${math.rint(pushRps)},""" +
      s""""anchor_s":${r3(anchorS)},"anchor_mt_s":${r3(anchorMt)},""" +
      s""""anchor_io_mbps":${r3(anchorIo)},""" +
      s""""vs_prev_normalized":$vsPrev,"bars":$barsJson,""" +
      s""""failed":$failedJson,""" +
      s""""queries":$top15,""" +
      s""""queries_note":"15 slowest noop lanes; full dicts in bench_result.json","sf":"$sfDir"}"""
    spark.stop()
    // Print again AFTER spark.stop so the bare JSON lines are the process's
    // very last stdout lines — a tail scrape always catches the compact line
    // complete, and catches as much of the full line as its window allows.
    println(json)
    println(compact)
    Console.out.flush()
  }
}
