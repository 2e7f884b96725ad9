package graft

import java.net.InetSocketAddress
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.concurrent.TrieMap
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.core.StateStore
import graft.ingest.Ingest

/** Round-2 contract tests for the pull path: envelope `meta.next`
  * continuation under server-capped pages (CommCareAPIHandler.py:231),
  * loud failure on a stuck keyset restart, the `Authorization: ApiKey`
  * header (:41-42), and the R7 probe → persist → reuse calibration cycle
  * (:96-156). */
class RestRound2Spec extends SparkSpec {
  import spark.implicits._

  private def tsStr(i: Int): String = f"2024-03-01T${i / 60}%02d:${i % 60}%02d:00.000000Z"
  private def tsMicros(i: Int): Long =
    graft.sources.RestEnvelopeSource.parseTsMicros(tsStr(i))

  /** Mock envelope API over `rows` (index → (indexed_on, json)). Honors
    * indexed_on_start/end; caps pages at `serverCap` regardless of the
    * requested limit; sets meta.next iff more matching rows remain.
    * Records every request's limit param and Authorization header. */
  private def serve(n: Int, serverCap: Int = Int.MaxValue,
                    sameTs: Boolean = false)
                   (f: (String, TrieMap[Int, (Int, String)]) => Unit): Unit = {
    val seen = TrieMap[Int, (Int, String)]() // req# -> (limit, auth header)
    val counter = new AtomicInteger(0)
    val server = HttpServer.create(new InetSocketAddress(0), 0)
    server.createContext("/api", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val q = Option(ex.getRequestURI.getQuery).getOrElse("")
        val params = q.split("&").filter(_.contains("=")).map { kv =>
          val Array(k, v) = kv.split("=", 2); k -> java.net.URLDecoder.decode(v, "UTF-8")
        }.toMap
        val limit = params.getOrElse("limit", "1000").toInt
        seen.put(counter.getAndIncrement(),
          (limit, Option(ex.getRequestHeaders.getFirst("Authorization")).getOrElse("")))
        val start = params.get("indexed_on_start").map(graft.sources.RestEnvelopeSource.parseTsMicros)
        val end = params.get("indexed_on_end").map(graft.sources.RestEnvelopeSource.parseTsMicros)
        def ts(i: Int): Long = if (sameTs) tsMicros(0) else tsMicros(i)
        def tss(i: Int): String = if (sameTs) tsStr(0) else tsStr(i)
        val matching = (0 until n)
          .filter(i => start.forall(ts(i) >= _) && end.forall(ts(i) < _))
        val page = matching.take(math.min(limit, serverCap))
        val next = if (matching.size > page.size) "\"next-page\"" else "null"
        val objs = page.map(i => s"""{"id": $i, "indexed_on": "${tss(i)}", "x": $i}""")
        val body = s"""{"meta": {"limit": $limit, "next": $next, "total_count": ${matching.size}},
                      | "objects": [${objs.mkString(",")}]}""".stripMargin
        val bytes = body.getBytes("UTF-8")
        ex.sendResponseHeaders(200, bytes.length)
        ex.getResponseBody.write(bytes); ex.close()
      }
    })
    server.start()
    try f(s"http://localhost:${server.getAddress.getPort}/api", seen)
    finally server.stop(0)
  }

  test("meta.next drives keyset continuation when the server caps pages " +
    "below the requested limit (CommCareAPIHandler.py:231)") {
    // 23 rows, server cap 5, requested limit 10: every page is 'short' —
    // continuation must follow meta.next, not objs.size >= limit, or the
    // read silently stops after page 1 with 5 of 23 rows.
    serve(23, serverCap = 5) { (url, _) =>
      val ids = spark.read.format("graft-rest")
        .option("url", url).option("limit", "10").load()
        .dropDuplicates(Seq("id")).select($"id").as[Long].collect().sorted
      assert(ids.toSeq === (0L until 23L))
    }
  }

  test("stuck keyset restart (full page, one indexed_on) fails loudly " +
    "instead of silently skipping rows") {
    // limit == row count so the server's single full page carries NO
    // meta.next: with a continuation present the reader now follows it
    // instead (the round-3 fallback, covered by RestRound3Spec) — the loud
    // failure is reserved for servers that offer no way forward
    serve(12, sameTs = true) { (url, _) =>
      val e = intercept[Exception] {
        spark.read.format("graft-rest")
          .option("url", url).option("limit", "12").load().count()
      }
      def msgs(t: Throwable): List[String] =
        if (t == null) Nil else Option(t.getMessage).toList ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("keyset pagination stuck")))
    }
  }

  test("pull sends Authorization: ApiKey on every request (py:41-42)") {
    serve(8) { (url, seen) =>
      spark.read.format("graft-rest")
        .option("url", url).option("limit", "3")
        .option("auth_token", "user@example:s3cret").load().count()
      assert(seen.nonEmpty)
      assert(seen.values.forall(_._2 == "ApiKey user@example:s3cret"))
    }
  }

  test("R7 cycle: probe batch calibrates api_limit, persisted limit drives " +
    "the NEXT run's page size (py:96-156)") {
    serve(40) { (url, seen) =>
      val bronze = tempDir("r7b").toString + "/b"
      val state = new StateStore(tempDir("r7s").toString)
      val key = "case.api_limit"

      // run 1: cold start — seed limit 7 is used, then recalibrated from the
      // observed payload density and persisted
      val n1 = Ingest.restPullRun(spark, url, bronze, state,
        java.time.Instant.parse("2024-03-01T00:20:00Z"),
        limit = 7, slices = 1, calibrateKey = Some(key))
      assert(n1 === 21) // minutes 0..20 inclusive
      assert(seen.values.forall(_._1 == 7))
      // ~46-byte payloads at limit 7 → a few hundred observed bytes →
      // formula caps at MaxLimit (util.py:56-57)
      val persisted = state.getLong(key)
      assert(persisted === Some(10000L))

      // run 2: the persisted limit — not the seed param — is the page size
      seen.clear()
      val n2 = Ingest.restPullRun(spark, url, bronze, state,
        java.time.Instant.parse("2024-03-01T00:40:00Z"),
        limit = 7, slices = 1, calibrateKey = Some(key))
      assert(n2 === 19) // minutes 21..39
      assert(seen.nonEmpty)
      assert(seen.values.forall(_._1 == 10000))
    }
  }
}
