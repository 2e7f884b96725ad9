package graft

import java.net.InetSocketAddress
import java.util.concurrent.ConcurrentLinkedQueue
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.functions._
import graft.core.StateStore
import graft.ingest.Ingest
import graft.sources.RestEnvelopeSource

/** Round-3 REST-source coverage: per-table wire-param shapes
  * (`CommCareAPIHandler.py:180-200`), the meta.next fallback when a keyset
  * restart cannot advance (`:231`), custom-range pulls that never move the
  * watermark (`:158-162,261-262`), and the cross-table request budget
  * (`:217-224`). */
class RestRound3Spec extends SparkSpec {
  import spark.implicits._

  /** Recording server: every request URI is captured; rows carry BOTH
    * `indexed_on` and `UTC_start_time` so any index_field works. One page
    * ends the scan (fewer rows than any test's limit, meta.next null). */
  private def recordingServe(n: Int = 5)(f: (String, ConcurrentLinkedQueue[String]) => Unit): Unit = {
    val uris = new ConcurrentLinkedQueue[String]()
    val server = HttpServer.create(new InetSocketAddress(0), 0)
    server.createContext("/api", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        uris.add(ex.getRequestURI.toString)
        val rows = (0 until n).map { i =>
          val ts = f"2024-01-01T00:$i%02d:00.000000Z"
          s"""{"id": $i, "indexed_on": "$ts", "UTC_start_time": "$ts"}"""
        }
        val body =
          s"""{"meta": {"limit": 100, "next": null, "total_count": $n},
             | "objects": [${rows.mkString(",")}]}""".stripMargin
        val bytes = body.getBytes("UTF-8")
        ex.sendResponseHeaders(200, bytes.length)
        ex.getResponseBody.write(bytes)
        ex.close()
      }
    })
    server.start()
    try f(s"http://localhost:${server.getAddress.getPort}/api", uris)
    finally server.stop(0)
  }

  private def pull(url: String, table: String): Long = {
    val reader = spark.read.format("graft-rest")
      .option("url", url).option("limit", "100")
    RestEnvelopeSource.tableOptions(table).foreach { case (k, v) => reader.option(k, v) }
    reader.load()
      .filter($"indexed_on" >= lit("2024-01-01 00:00:00").cast("timestamp") &&
        $"indexed_on" < lit("2024-01-01 00:10:00").cast("timestamp"))
      .count()
  }

  test("case shape: indexed_on param family + order_by (CommCareAPIHandler.py:180-185)") {
    recordingServe() { (url, uris) =>
      assert(pull(url, "case") === 5)
      val u = uris.peek()
      assert(u.contains("order_by=indexed_on"))
      assert(u.contains("indexed_on_start="))
      assert(u.contains("indexed_on_end="))
      assert(!u.contains("include_archived"))
    }
  }

  test("form shape: include_archived=true rides every request (:186-188)") {
    recordingServe() { (url, uris) =>
      assert(pull(url, "form") === 5)
      val u = uris.peek()
      assert(u.contains("include_archived=true"))
      assert(u.contains("order_by=indexed_on"))
      assert(u.contains("indexed_on_start="))
    }
  }

  test("action_times shape: UTC_start_time family, NO order_by (:193-199)") {
    recordingServe() { (url, uris) =>
      assert(pull(url, "action_times") === 5)
      val u = uris.peek()
      assert(u.contains("UTC_start_time_start="))
      assert(u.contains("UTC_start_time_end="))
      assert(!u.contains("order_by="))
      assert(!u.contains("indexed_on_start="))
    }
  }

  /** Server for the shared-timestamp regime: N rows ALL at one indexed_on,
    * paged by `offset`; meta.next carries the server's own continuation URL
    * (absolute, offset-based) — the thing the reference follows at
    * CommCareAPIHandler.py:231. `withNext=false` degrades it to an
    * envelope-less server that can only repeat the first page. */
  private def hotTimestampServe(n: Int, pageSize: Int, withNext: Boolean)
                               (f: (String, ConcurrentLinkedQueue[String]) => Unit): Unit = {
    val uris = new ConcurrentLinkedQueue[String]()
    val server = HttpServer.create(new InetSocketAddress(0), 0)
    def base: String = s"http://localhost:${server.getAddress.getPort}/api"
    server.createContext("/api", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        uris.add(ex.getRequestURI.toString)
        val q = Option(ex.getRequestURI.getQuery).getOrElse("")
        val offset = q.split("&").collectFirst {
          case kv if kv.startsWith("offset=") => kv.drop(7).toInt
        }.getOrElse(0)
        val page = (offset until math.min(n, offset + pageSize)).map { i =>
          s"""{"id": $i, "indexed_on": "2024-06-01T12:00:00.000000Z"}"""
        }
        val next =
          if (withNext && offset + pageSize < n)
            s""""$base?offset=${offset + pageSize}&limit=$pageSize""""
          else "null"
        val body =
          s"""{"meta": {"limit": $pageSize, "next": $next, "total_count": $n},
             | "objects": [${page.mkString(",")}]}""".stripMargin
        val bytes = body.getBytes("UTF-8")
        ex.sendResponseHeaders(200, bytes.length)
        ex.getResponseBody.write(bytes)
        ex.close()
      }
    })
    server.start()
    try f(base, uris)
    finally server.stop(0)
  }

  test("stuck keyset falls back to the server's meta.next continuation " +
    "(every row shares one indexed_on; CommCareAPIHandler.py:231)") {
    hotTimestampServe(n = 25, pageSize = 10, withNext = true) { (url, _) =>
      val ids = spark.read.format("graft-rest")
        .option("url", url).option("limit", "10").load()
        .dropDuplicates(Seq("id")).select($"id").as[Long].collect().sorted
      // the >= keyset restart can never advance past the shared timestamp;
      // progress comes from following meta.next — all 25 rows arrive
      assert(ids.toSeq === (0L until 25L))
    }
  }

  test("stuck keyset with NO meta.next fails loudly, message in observed-page terms") {
    hotTimestampServe(n = 25, pageSize = 10, withNext = false) { (url, _) =>
      val e = intercept[Exception] {
        spark.read.format("graft-rest")
          .option("url", url).option("limit", "10").load().count()
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      val all = msgs(e).mkString("\n")
      assert(all.contains("keyset pagination stuck"))
      assert(all.contains("page of 10 rows")) // observed size, not the requested limit
      assert(all.contains("no meta.next continuation"))
    }
  }

  test("custom-range restPullRun extracts the window but never advances the " +
    "watermark (CommCareAPIHandler.py:158-162,261-262)") {
    recordingServe(n = 8) { (url, uris) =>
      val bronze = tempDir("graft_cr").toString + "/b"
      val stateDir = tempDir("graft_cr_s").toString
      val state = new StateStore(stateDir)
      state.put("last_successful_job_time", "2024-01-01 00:03:00")

      val n = Ingest.restPullRun(spark, url, bronze, state,
        upperBound = java.time.Instant.parse("2024-01-01T00:07:00Z"),
        useLag = true, // custom range must force the lag off
        customRange = Some((
          java.time.Instant.parse("2024-01-01T00:01:00Z"),
          java.time.Instant.parse("2024-01-01T00:05:00Z"))))
      // inclusive [start, end]: minutes 1,2,3,4,5 — a backfill window, not a
      // watermark resume (which would exclude its own lower bound)
      assert(n === 5)
      // the wire window is the custom range, not the watermark (slice 0's
      // request starts at the range start; slice order is nondeterministic)
      assert(uris.toArray(Array.empty[String])
        .exists(_.contains("indexed_on_start=2024-01-01T00:01:00")))
      // watermark state byte-identical after the backfill
      assert(state.get("last_successful_job_time") === Some("2024-01-01 00:03:00"))

      // and the steady-state incremental loop is undisturbed: next normal run
      // resumes strictly after the untouched watermark
      val n2 = Ingest.restPullRun(spark, url, bronze, state,
        upperBound = java.time.Instant.parse("2024-01-01T00:07:00Z"))
      assert(n2 === 4) // minutes 4,5,6,7 (> 00:03, <= 00:07)
      assert(state.get("last_successful_job_time") === Some("2024-01-01 00:07:00"))
    }
  }

  test("cross-table request budget: the run aborts before the table that " +
    "would overspend (CommCareAPIHandler.py:217-224)") {
    // keyset pagination over 25 distinct-timestamp rows at limit 10 costs 3
    // requests per table; cap 3 ⇒ table 1 spends the whole budget and the
    // run must abort BEFORE table 2 issues a single request
    val uris = new ConcurrentLinkedQueue[String]()
    val server = HttpServer.create(new InetSocketAddress(0), 0)
    server.createContext("/api", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        uris.add(ex.getRequestURI.toString)
        val q = Option(ex.getRequestURI.getQuery).getOrElse("")
        val params = q.split("&").filter(_.contains("=")).map { kv =>
          val Array(k, v) = kv.split("=", 2); k -> java.net.URLDecoder.decode(v, "UTF-8")
        }.toMap
        val limit = params.getOrElse("limit", "1000").toInt
        val start = params.get("indexed_on_start").map(RestEnvelopeSource.parseTsMicros)
        def tsOf(i: Int): Long =
          RestEnvelopeSource.parseTsMicros(f"2024-01-01T00:$i%02d:00.000000Z")
        val page = (0 until 25).filter(i => start.forall(tsOf(i) >= _)).take(limit)
        val body =
          s"""{"meta": {"limit": $limit, "next": null, "total_count": 25},
             | "objects": [${page.map(i =>
                 s"""{"id": $i, "indexed_on": "${f"2024-01-01T00:$i%02d:00.000000Z"}"}""").mkString(",")}]}""".stripMargin
        val bytes = body.getBytes("UTF-8")
        ex.sendResponseHeaders(200, bytes.length)
        ex.getResponseBody.write(bytes)
        ex.close()
      }
    })
    server.start()
    try {
      val url = s"http://localhost:${server.getAddress.getPort}/api"
      val conf = graft.cli.Main.parseConf(
        s"""{"operation_type": "cc_to_s3", "domain": "d", "url_base": "x",
           | "landing_dir": "/tmp/none", "bronze_dir": "/tmp/none",
           | "state_dir": "/tmp/none", "endpoint": "", "max_total_requests": 3,
           | "tables": [{"name": "t1", "uses_indexed_on": true, "limit": 10},
           |            {"name": "t2", "uses_indexed_on": true, "limit": 10}]}""".stripMargin)
      assert(conf.maxTotalRequests === Some(3))
      val tablesPulled = new ConcurrentLinkedQueue[String]()
      val e = intercept[IllegalStateException] {
        graft.cli.Main.runPull(spark, conf, (s, c, t) => {
          tablesPulled.add(t.name)
          s.read.format("graft-rest")
            .option("url", url).option("limit", t.limit)
            .option("budget_key", c.budgetKey.get)
            .load().dropDuplicates(Seq("id")).count()
        })
      }
      assert(e.getMessage.contains("cross-table request budget"))
      assert(e.getMessage.contains("before table t2"))
      // table 1 ran (3 requests), table 2 never started a request
      assert(tablesPulled.toArray.toSeq === Seq("t1"))
      assert(uris.size === 3)
    } finally server.stop(0)
  }

  /** Server for the UNORDERED regime (`action_times` sends no order_by, so
    * the server pages in its own storage order): timestamps are NOT
    * monotone across pages — page 1 ends at a LATER timestamp than rows on
    * page 2. Progress must come from meta.next; a keyset restart from page
    * 1's last timestamp would silently exclude those earlier rows. */
  private def unorderedServe(f: (String, ConcurrentLinkedQueue[String]) => Unit): Unit = {
    val uris = new ConcurrentLinkedQueue[String]()
    val server = HttpServer.create(new InetSocketAddress(0), 0)
    def base: String = s"http://localhost:${server.getAddress.getPort}/api"
    // storage order: minute 9, 1, 7, 2, 5 — pageSize 2
    val order = Seq(9, 1, 7, 2, 5)
    server.createContext("/api", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        uris.add(ex.getRequestURI.toString)
        val q = Option(ex.getRequestURI.getQuery).getOrElse("")
        val offset = q.split("&").collectFirst {
          case kv if kv.startsWith("offset=") => kv.drop(7).toInt
        }.getOrElse(0)
        val page = order.slice(offset, offset + 2).map { m =>
          val ts = f"2024-01-01T00:$m%02d:00.000000Z"
          s"""{"id": $m, "indexed_on": "$ts", "UTC_start_time": "$ts"}"""
        }
        val next =
          if (offset + 2 < order.size) s""""$base?offset=${offset + 2}"""" else "null"
        val body =
          s"""{"meta": {"limit": 2, "next": $next, "total_count": ${order.size}},
             | "objects": [${page.mkString(",")}]}""".stripMargin
        val bytes = body.getBytes("UTF-8")
        ex.sendResponseHeaders(200, bytes.length)
        ex.getResponseBody.write(bytes)
        ex.close()
      }
    })
    server.start()
    try f(base, uris)
    finally server.stop(0)
  }

  test("action_times (no order_by): pagination follows meta.next, never a " +
    "keyset restart — unordered pages lose no rows (CommCareAPIHandler.py:231)") {
    unorderedServe { (url, uris) =>
      val reader = spark.read.format("graft-rest")
        .option("url", url).option("limit", "2")
      RestEnvelopeSource.tableOptions("action_times").foreach {
        case (k, v) => reader.option(k, v)
      }
      val ids = reader.load().select($"id").as[Long].collect().sorted
      // minute-1 and minute-2 rows sort BEFORE page 1's last timestamp
      // (minute 9 is first in storage order): a keyset restart would have
      // dropped them; meta.next delivers all five exactly once
      assert(ids.toSeq === Seq(1L, 2L, 5L, 7L, 9L))
      // and no restart-window params were invented mid-scan: every follow-up
      // request is the server's own offset continuation
      assert(uris.toArray(Array.empty[String]).count(_.contains("offset=")) === 2)
    }
  }

  test("action_times: a FULL page with no meta.next fails loudly (silent " +
    "truncation is never allowed on the unordered path)") {
    // recordingServe sends n rows with meta.next=null; limit == n makes the
    // page full — possibly-more-rows with no sound continuation
    recordingServe(n = 4) { (url, _) =>
      val reader = spark.read.format("graft-rest")
        .option("url", url).option("limit", "4")
      RestEnvelopeSource.tableOptions("action_times").foreach {
        case (k, v) => reader.option(k, v)
      }
      val e = intercept[Exception] { reader.load().count() }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).mkString("\n").contains("unordered pagination cannot continue"))
    }
  }
}
