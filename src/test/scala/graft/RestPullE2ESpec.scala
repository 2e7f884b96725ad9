package graft

import java.net.InetSocketAddress
import java.util.concurrent.atomic.AtomicInteger
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.core.StateStore
import graft.ingest.Ingest

/** End-to-end of the reference's primary path: paginated REST API →
  * graft-rest DSv2 (range pushdown, keyset pages, parallel slices) →
  * hour-partitioned bronze → watermark advance → incremental second run.
  * The whole R1→R8 chain under one test. */
class RestPullE2ESpec extends SparkSpec {
  import spark.implicits._

  // 30 rows: 2024-06-01T00:00Z + i hours (spans 30 hour-partitions over 2 days)
  private val N = 30
  private def tsStr(i: Int): String =
    f"2024-06-${1 + i / 24}%02dT${i % 24}%02d:00:00.000000Z"
  private def tsMicros(i: Int): Long =
    graft.sources.RestEnvelopeSource.parseTsMicros(tsStr(i))

  private def serve(requests: AtomicInteger = new AtomicInteger(0))(f: String => Unit): Unit = {
    val server = HttpServer.create(new InetSocketAddress(0), 0)
    server.createContext("/api", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        requests.incrementAndGet()
        val q = Option(ex.getRequestURI.getQuery).getOrElse("")
        val params = q.split("&").filter(_.contains("=")).map { kv =>
          val Array(k, v) = kv.split("=", 2); k -> java.net.URLDecoder.decode(v, "UTF-8")
        }.toMap
        val limit = params.getOrElse("limit", "1000").toInt
        val start = params.get("indexed_on_start").map(graft.sources.RestEnvelopeSource.parseTsMicros)
        val end = params.get("indexed_on_end").map(graft.sources.RestEnvelopeSource.parseTsMicros)
        val matching = (0 until N)
          .filter(i => start.forall(tsMicros(i) >= _) && end.forall(tsMicros(i) < _))
        val page = matching.take(limit)
        val objs = page.map(i => s"""{"id": $i, "indexed_on": "${tsStr(i)}", "x": $i}""")
        val body = s"""{"meta": {"limit": $limit, "next": null, "total_count": ${matching.size}},
                      | "objects": [${objs.mkString(",")}]}""".stripMargin
        val bytes = body.getBytes("UTF-8")
        ex.sendResponseHeaders(200, bytes.length)
        ex.getResponseBody.write(bytes); ex.close()
      }
    })
    server.start()
    try f(s"http://localhost:${server.getAddress.getPort}/api")
    finally server.stop(0)
  }

  /** Paginated mock with an injectable mid-run server cut: pages of `limit`
    * rows (keyset-ordered, inclusive `indexed_on_start` — boundary rows
    * duplicate by design), and every data request past `cutAfterPages`
    * returns 503 until `healed` flips. */
  private def serveFlaky(cutAfterPages: Int)(
      f: (String, java.util.concurrent.atomic.AtomicBoolean) => Unit): Unit = {
    val healed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val served = new AtomicInteger(0)
    val server = HttpServer.create(new InetSocketAddress(0), 0)
    server.createContext("/api", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        if (!healed.get() && served.incrementAndGet() > cutAfterPages) {
          ex.sendResponseHeaders(503, -1); ex.close(); return
        }
        val q = Option(ex.getRequestURI.getQuery).getOrElse("")
        val params = q.split("&").filter(_.contains("=")).map { kv =>
          val Array(k, v) = kv.split("=", 2); k -> java.net.URLDecoder.decode(v, "UTF-8")
        }.toMap
        val limit = params.getOrElse("limit", "1000").toInt
        val start = params.get("indexed_on_start").map(graft.sources.RestEnvelopeSource.parseTsMicros)
        val end = params.get("indexed_on_end").map(graft.sources.RestEnvelopeSource.parseTsMicros)
        val matching = (0 until N)
          .filter(i => start.forall(tsMicros(i) >= _) && end.forall(tsMicros(i) < _))
        val page = matching.take(limit)
        val next = if (matching.size > limit) "\"more\"" else "null"
        val objs = page.map(i => s"""{"id": $i, "indexed_on": "${tsStr(i)}", "x": $i}""")
        val body = s"""{"meta": {"limit": $limit, "next": $next, "total_count": ${matching.size}},
                      | "objects": [${objs.mkString(",")}]}""".stripMargin
        val bytes = body.getBytes("UTF-8")
        ex.sendResponseHeaders(200, bytes.length)
        ex.getResponseBody.write(bytes); ex.close()
      }
    })
    server.start()
    try f(s"http://localhost:${server.getAddress.getPort}/api", healed)
    finally server.stop(0)
  }

  test("crash between pages: watermark frozen, healed re-run converges to the uninterrupted result") {
    // cutAfterPages = 3: run 1 (hours 0..9, limit 7) takes pages #1-#2; the
    // incremental run 2 (hours 10..19) gets page #3 and is CUT between its
    // pages 1 and 2 — the kill-between-pages shape of the at-least-once
    // contract (reference semantics CommCareAPIHandler.py:261-262: the
    // watermark advances only after a fully successful run).
    serveFlaky(cutAfterPages = 3) { (url, healed) =>
      val root = tempDir("rcrash").toString
      val bronze = s"$root/b"
      val state = new StateStore(s"$root/s")
      val n1 = Ingest.restPullRun(spark, url, bronze, state,
        java.time.Instant.parse("2024-06-01T09:00:00Z"), limit = 7, slices = 1)
      assert(n1 === 10) // hours 0..9
      val wm1 = state.get("last_successful_job_time").get
      assert(wm1.startsWith("2024-06-01 09:00:00"))

      // run 2 dies mid-pagination: the partition reader's APIError must
      // surface (never be swallowed), the watermark must NOT advance, and
      // bronze must hold exactly run 1's rows — no partial landing.
      val ex = intercept[Exception] {
        Ingest.restPullRun(spark, url, bronze, state,
          java.time.Instant.parse("2024-06-01T19:00:00Z"), limit = 7, slices = 1)
      }
      val chain = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain.exists(c => Option(c.getMessage).exists(_.contains("APIError"))))
      assert(state.get("last_successful_job_time").get === wm1)
      assert(spark.read.parquet(bronze).select($"id").distinct().count() === 10)

      // server heals; the SAME incremental run re-extracts its full window
      healed.set(true)
      val n2 = Ingest.restPullRun(spark, url, bronze, state,
        java.time.Instant.parse("2024-06-01T19:00:00Z"), limit = 7, slices = 1)
      assert(n2 === 10) // hours 10..19, full window — nothing lost to the crash
      assert(state.get("last_successful_job_time").get.startsWith("2024-06-01 19:00:00"))
      val crashed = Ingest.readBronzeDeduped(spark, bronze, "id")
        .select($"id", org.apache.spark.sql.functions
          .get_json_object($"payload", "$.x").cast("long").as("x"))
        .as[(Long, Long)].collect().sorted.toSeq

      // uninterrupted twin: identical two-run sequence, no cut — the
      // deduped bronze contents must be EQUAL, proving at-least-once +
      // dedup ≡ exactly-once for the consumer
      val bronze2 = s"$root/b2"
      val state2 = new StateStore(s"$root/s2")
      Ingest.restPullRun(spark, url, bronze2, state2,
        java.time.Instant.parse("2024-06-01T09:00:00Z"), limit = 7, slices = 1)
      Ingest.restPullRun(spark, url, bronze2, state2,
        java.time.Instant.parse("2024-06-01T19:00:00Z"), limit = 7, slices = 1)
      val clean = Ingest.readBronzeDeduped(spark, bronze2, "id")
        .select($"id", org.apache.spark.sql.functions
          .get_json_object($"payload", "$.x").cast("long").as("x"))
        .as[(Long, Long)].collect().sorted.toSeq
      assert(crashed === clean)
      assert(crashed.map(_._1) === (0L until 20L))
    }
  }

  test("parallel-slice crash: one dead slice fails the whole run, nothing lands, re-run converges") {
    // The distributed-extraction form of the kill-between-pages property:
    // 3 slices pull concurrently, the server dies after 2 page responses —
    // whichever slices got through, the FAILED slice must fail the job
    // (Spark all-or-nothing task semantics), the watermark must not move,
    // and no partial bronze may land. The healed re-run then equals an
    // uninterrupted single pull of the window.
    serveFlaky(cutAfterPages = 2) { (url, healed) =>
      val root = tempDir("rcrashp").toString
      val state = new StateStore(s"$root/s")
      // custom range (both bounds pushed) → the scan plans 3 concurrent
      // slice partitions — the distributed-extraction shape under test
      val range = Some((java.time.Instant.parse("2024-06-01T00:00:00Z"),
        java.time.Instant.parse("2024-06-02T05:00:00Z")))
      intercept[Exception] {
        Ingest.restPullRun(spark, url, s"$root/b", state,
          java.time.Instant.parse("2024-06-02T06:00:00Z"), limit = 4, slices = 3,
          customRange = range)
      }
      assert(state.get("last_successful_job_time").isEmpty) // no state mutation on failure
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$root/b")))
      healed.set(true)
      val n = Ingest.restPullRun(spark, url, s"$root/b", state,
        java.time.Instant.parse("2024-06-02T06:00:00Z"), limit = 4, slices = 3,
        customRange = range)
      assert(n === 30) // the full fixture window, nothing lost
      assert(state.get("last_successful_job_time").isEmpty) // backfills never advance
      assert(Ingest.readBronzeDeduped(spark, s"$root/b", "id")
        .select($"id").as[Long].collect().sorted.toSeq === (0L until 30L))
    }
  }

  test("REST → bronze → watermark → incremental re-pull (R1-R8 chain)") {
    serve() { url =>
      val bronze = tempDir("rb").toString + "/b"
      val state = new StateStore(tempDir("rs").toString)

      // run 1: cold start, upper bound = hour 19 inclusive
      val n1 = Ingest.restPullRun(spark, url, bronze, state,
        java.time.Instant.parse("2024-06-01T19:00:00Z"), limit = 7, slices = 3)
      assert(n1 === 20) // hours 0..19
      assert(state.get("last_successful_job_time").get.startsWith("2024-06-01 19:00:00"))
      val hours1 = spark.read.parquet(bronze)
        .select($"hour").distinct().as[Int].collect().sorted
      assert(hours1.toSeq === (0 to 19))

      // run 2: watermark advances — only hours 20..29 pulled
      val n2 = Ingest.restPullRun(spark, url, bronze, state,
        java.time.Instant.parse("2024-06-02T06:00:00Z"), limit = 7, slices = 3)
      assert(n2 === 10)
      val all = Ingest.readBronzeDeduped(spark, bronze, "id")
      assert(all.count() === 30)
      assert(all.select(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.get_json_object($"payload", "$.x").cast("long")))
        .as[Long].head === (0 until N).sum)
    }
  }

  private def parquetFiles(dir: String): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) Nil
    else {
      val walk = java.nio.file.Files.walk(root)
      try walk.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
      finally walk.close()
    }
  }

  test("one landing pass: a pull runs 3 Spark jobs, caches nothing, pages the API once") {
    val requests = new AtomicInteger(0)
    serve(requests) { url =>
      val root = tempDir("rone").toString
      val state = new StateStore(s"$root/s")
      val jobs = new AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      GraftSession.releaseCaches(spark)
      GraftSession.drainListenerBus(spark)
      spark.sparkContext.addSparkListener(listener)
      val n =
        try {
          val landed = Ingest.restPullRun(spark, url, s"$root/b", state,
            java.time.Instant.parse("2024-06-01T19:00:00Z"), limit = 7, slices = 3)
          GraftSession.drainListenerBus(spark)
          landed
        } finally spark.sparkContext.removeSparkListener(listener)
      assert(n === 20)
      // the dedup shuffle, the write's shuffle and the write itself; the
      // cached window with its separate count pass took 6 here
      assert(jobs.get() === 3)
      assert(spark.sparkContext.getPersistentRDDs.isEmpty)
      // the same 4 pages the cached single scan fetched: the window is
      // still read from the API exactly once
      assert(requests.get() === 4)
    }
  }

  test("an empty window lands no parquet file and still advances the watermark") {
    serve() { url =>
      val root = tempDir("rempty").toString
      val state = new StateStore(s"$root/s")
      state.put("last_successful_job_time", "2024-06-02 05:00:00") // the last fixture row
      val n = Ingest.restPullRun(spark, url, s"$root/b", state,
        java.time.Instant.parse("2024-06-02T06:00:00Z"), limit = 7, slices = 3)
      assert(n === 0)
      assert(parquetFiles(s"$root/b").isEmpty)
      assert(state.get("last_successful_job_time").get === "2024-06-02 06:00:00")
    }
  }

  /** Runs `body` with the JVM default zone off UTC, as on a host whose
    * driver was started without `-Duser.timezone=UTC`. */
  private def inNewYork(body: => Unit): Unit = {
    val saved = java.util.TimeZone.getDefault
    java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("America/New_York"))
    try body
    finally java.util.TimeZone.setDefault(saved)
  }

  test("off a UTC JVM zone, the resume starts right after the stored watermark") {
    inNewYork {
      serve() { url =>
        val bronze = tempDir("rtz").toString + "/b"
        val state = new StateStore(tempDir("rtzs").toString)
        val n1 = Ingest.restPullRun(spark, url, bronze, state,
          java.time.Instant.parse("2024-06-01T19:00:00Z"), limit = 7, slices = 3)
        assert(n1 === 20)
        assert(state.get("last_successful_job_time").get === "2024-06-01 19:00:00")
        // read in the JVM zone, the watermark would be 23:00Z and hours
        // 20..23 would never land
        val n2 = Ingest.restPullRun(spark, url, bronze, state,
          java.time.Instant.parse("2024-06-02T06:00:00Z"), limit = 7, slices = 3)
        assert(n2 === 10)
        assert(Ingest.readBronzeDeduped(spark, bronze, "id").select($"id").as[Long]
          .collect().sorted.toSeq === (0L until 30L))
      }
    }
  }

  test("off a UTC JVM zone, nanosOf still reads its literal as UTC") {
    inNewYork {
      assert(graft.core.Tables.nanosOf("2024-01-10 00:00:00") ===
        java.time.Instant.parse("2024-01-10T00:00:00Z").getEpochSecond * 1000000000L)
    }
  }
}
