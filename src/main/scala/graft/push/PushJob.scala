package graft.push

import org.apache.spark.sql.DataFrame
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

/** Reverse-ETL push path (SURVEY.md §2A R9–R11; `CommCareAPIHandler.py:
  * 279-326`): read landed JSON, POST/PATCH each document to an HTTP
  * endpoint with a per-table method, tolerating up to `maxFailures`
  * failed requests per partition before aborting (the reference's 3-strike
  * `APIErrorMax`, `:23-24,44-55`).
  *
  * Spark-native shape: `foreachPartition` — one connection-ish context per
  * partition, rows streamed through it; no driver collect. Task retries
  * (spark.task.maxFailures) give at-least-once delivery, matching the
  * reference's Lambda-retry semantics; receivers must be idempotent (same
  * as the reference's API).
  */
object PushJob {
  class ApiError(msg: String) extends RuntimeException(msg)

  // One client per executor JVM (object init) — pooled connections across
  // rows; HttpURLConnection would both re-handshake per row and reject
  // non-standard methods like PATCH (the reference's data_type['method']
  // is free-form, CommCareAPIHandler.py:321). Bounded connect time: a
  // hung endpoint must count toward the failure budget, not pin the
  // executor task (and every Spark task retry) forever.
  @transient private lazy val client: HttpClient = HttpClient.newBuilder()
    .connectTimeout(java.time.Duration.ofSeconds(30))
    .build()

  /** Per-request wall-clock bound; HttpTimeoutException extends IOException
    * so a slow response takes the same failed-send path as a refused one. */
  private val RequestTimeout = java.time.Duration.ofSeconds(60)

  /** Send one JSON document; returns true on 2xx
    * (`util.py:13-27` process_response). */
  private[push] def send(endpoint: String, method: String, body: String,
                         authToken: Option[String] = None): Boolean = {
    val b = HttpRequest.newBuilder(URI.create(endpoint))
      .method(method, HttpRequest.BodyPublishers.ofString(body))
      .header("Content-Type", "application/json")
      .timeout(RequestTimeout)
    // Reference sends `Authorization: ApiKey <token>` on every push
    // request (CommCareAPIHandler.py:300; token lookup util.py:35-37).
    authToken.foreach(t => b.header("Authorization", s"ApiKey $t"))
    val code = client.send(b.build(), HttpResponse.BodyHandlers.discarding()).statusCode()
    code >= 200 && code < 300
  }

  /** Push every row's `jsonCol` to `endpoint`. Per-partition failure budget:
    * more than `maxFailures` non-2xx responses ⇒ ApiError fails the task
    * (Spark retries it; at-least-once).
    *
    * `logIdField`: when set, each record logs that field of its document
    * before the send — the reference's per-record `form_id` line on
    * `case`-type pushes (`CommCareAPIHandler.py:303-304`), the hook for
    * reconciling a push run against its source documents. */
  def push(df: DataFrame, jsonCol: String, endpoint: String,
           method: String = "POST", maxFailures: Int = 3,
           authToken: Option[String] = None,
           logIdField: Option[String] = None): Unit = {
    val rows = df.select(jsonCol)
    rows.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
      val mapper = logIdField.map(_ => new com.fasterxml.jackson.databind.ObjectMapper())
      var failures = 0
      it.foreach { row =>
        val body = row.getString(0)
        for (f <- logIdField; m <- mapper) {
          val v = try m.readTree(body).path(f).asText("") catch { case _: Exception => "" }
          System.err.println(s"[push] $f=$v")
        }
        val ok =
          try send(endpoint, method, body, authToken)
          catch { case _: java.io.IOException => false } // incl. HttpTimeoutException
        if (!ok) {
          failures += 1
          if (failures > maxFailures)
            throw new ApiError(s"aborting partition after $failures failed requests")
        }
      }
    }
  }
}
