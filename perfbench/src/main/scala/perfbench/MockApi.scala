package perfbench

import java.net.{InetSocketAddress, URLDecoder}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, ExecutorService}
import java.util.concurrent.atomic.AtomicLong

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Loopback mock of the CommCare API, serving an [[EtlGen]]'s data.
  *
  * `GET /<domain>/api/<table>` pages like CommCare:
  *  - `case` and `form` require `order_by=indexed_on`, filter on
  *    `indexed_on_start` (inclusive) and `indexed_on_end` (exclusive), and
  *    return the first `limit` rows in index order, so a keyset restart with
  *    `>=` refetches the rows of the last page's final timestamp;
  *  - `form` returns archived rows only with `include_archived=true`;
  *  - `action_times` filters on `UTC_start_time_start/end`, rejects
  *    `order_by`, returns rows in a seeded unsorted order, and continues
  *    through `meta.next` (a full URL with an `offset`).
  * Every full page carries a `meta.next`.
  *
  * `POST|PATCH /push` acknowledges a JSON document with 200 and records its
  * `id` under the method.
  */
final class MockApi(gen: EtlGen, threads: Int) {
  import MockApi._

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  private val pool: ExecutorService = Executors.newFixedThreadPool(threads)
  private val mapper = new ObjectMapper()

  val counters: Map[String, Counter] = EtlGen.TableShapes.map(_._1 -> new Counter).toMap
  val pushed: Map[String, ConcurrentLinkedQueue[Long]] =
    EtlGen.Specifiers.map(_._2 -> new ConcurrentLinkedQueue[Long]()).toMap
  val pushRequests = new AtomicLong
  val pushNon2xx = new AtomicLong

  /** Served rows per (table, archived flag), in serving order. */
  private val ordered: Map[(String, Boolean), IndexedSeq[EtlGen.Rec]] =
    (for ((t, _) <- EtlGen.TableShapes; arch <- Seq(false, true)) yield {
      val rows = gen.served(t, arch).toIndexedSeq
      (t, arch) -> (if (t == "action_times") new scala.util.Random(gen.seed).shuffle(rows)
                    else rows.sortBy(r => (r.ts, r.id)))
    }).toMap

  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) =>
    try {
      val path = ex.getRequestURI.getPath
      val table = path.split("/api/").drop(1).headOption.map(_.stripSuffix("/"))
      if (path == "/push") push(ex)
      else table.flatMap(t => counters.get(t).map(t -> _)) match {
        case Some((t, c)) => page(ex, t, c)
        case None => reply(ex, 404, "{}")
      }
    } catch {
      case e: Exception => reply(ex, 500, s"""{"error": "${e.getClass.getSimpleName}"}""")
    })
  server.start()

  /** Counter snapshot: per table, and `push`. */
  def counts: Map[String, Map[String, Long]] =
    counters.map { case (t, c) => t -> Map("requests" -> c.requests.get, "rows" -> c.rows.get,
      "bytes" -> c.bytes.get, "non2xx" -> c.non2xx.get) } +
      ("push" -> Map("requests" -> pushRequests.get, "non2xx" -> pushNon2xx.get))

  def port: Int = server.getAddress.getPort
  def base: String = s"http://127.0.0.1:$port"

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(30, java.util.concurrent.TimeUnit.SECONDS)
  }

  private def page(ex: HttpExchange, table: String, c: Counter): Unit = {
    val q = params(ex.getRequestURI.getRawQuery)
    c.requests.incrementAndGet()
    val unordered = table == "action_times"
    val field = if (unordered) "UTC_start_time" else "indexed_on"
    if (unordered == q.contains("order_by") || (!unordered && !q.get("order_by").contains("indexed_on"))) {
      c.non2xx.incrementAndGet()
      reply(ex, 400, """{"error": "bad order_by"}""")
      return
    }
    val start = q.get(s"${field}_start").map(graft.sources.RestEnvelopeSource.parseTsMicros)
    val end = q.get(s"${field}_end").map(graft.sources.RestEnvelopeSource.parseTsMicros)
    val limit = q.getOrElse("limit", "1000").toInt
    val offset = q.getOrElse("offset", "0").toInt
    val rows = ordered((table, q.get("include_archived").contains("true")))
      .filter(r => start.forall(r.ts >= _) && end.forall(r.ts < _))
    val pageRows = rows.slice(offset, offset + limit)
    val next =
      if (pageRows.size < limit) "null"
      else {
        val rest = q.removed("offset").map { case (k, v) => s"$k=${java.net.URLEncoder.encode(v, "UTF-8")}" }
        "\"" + s"$base${ex.getRequestURI.getPath}?${(rest.toSeq.sorted :+ s"offset=${offset + limit}").mkString("&")}" + "\""
      }
    val sb = new StringBuilder
    sb.append(s"""{"meta": {"limit": $limit, "next": $next, "total_count": ${rows.size}}, "objects": [""")
    pageRows.zipWithIndex.foreach { case (r, i) =>
      if (i > 0) sb.append(',')
      sb.append(s"""{"id": ${r.id}, "$field": "${EtlGen.fmt(r.ts, withZ = r.id % 2 == 0)}", """)
      sb.append(s""""archived": ${r.archived}, "note": "${"x" * r.payloadLen}"}""")
    }
    sb.append("]}")
    c.rows.addAndGet(pageRows.size)
    c.bytes.addAndGet(reply(ex, 200, sb.toString))
  }

  private def push(ex: HttpExchange): Unit = {
    pushRequests.incrementAndGet()
    val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
    val id = mapper.readTree(body).path("id")
    pushed.get(ex.getRequestMethod) match {
      case Some(q) if id.canConvertToLong => q.add(id.asLong()); reply(ex, 200, "")
      case _ => pushNon2xx.incrementAndGet(); reply(ex, 400, "")
    }
  }

  private def reply(ex: HttpExchange, code: Int, body: String): Long = {
    val bytes = body.getBytes("UTF-8")
    ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length)
    if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
    ex.close()
    bytes.length
  }
}

object MockApi {
  final class Counter {
    val requests, rows, bytes, non2xx = new AtomicLong
  }

  def params(raw: String): Map[String, String] =
    Option(raw).getOrElse("").split("&").filter(_.contains("=")).map { kv =>
      val Array(k, v) = kv.split("=", 2)
      k -> URLDecoder.decode(v, "UTF-8")
    }.toMap
}
