package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

class MockApiSpec extends AnyFunSuite {
  private val gen = new EtlGen(11, 2)
  private val mapper = new ObjectMapper()

  private def withMock(f: MockApi => Unit): Unit = {
    val m = new MockApi(gen, 2)
    try f(m) finally m.stop()
  }

  private def get(url: String): (Int, JsonNode) = {
    val c = new java.net.URL(url).openConnection().asInstanceOf[java.net.HttpURLConnection]
    try {
      val code = c.getResponseCode
      (code, if (code == 200) mapper.readTree(c.getInputStream) else null)
    } finally c.disconnect()
  }

  private def ids(page: JsonNode): Seq[Long] = page.get("objects").elements().asScala.map(_.get("id").asLong).toSeq
  private def ts(micros: Long) = EtlGen.fmt(micros, withZ = true)
  private val lo = EtlGen.windowStart(0)
  private val hi = EtlGen.windowStart(2)

  test("keyset pages restart at the last timestamp with >=, refetching its rows") {
    withMock { m =>
      val base = s"${m.base}/a/d/api/case?order_by=indexed_on&limit=50&indexed_on_end=${ts(hi)}"
      val (_, p1) = get(s"$base&indexed_on_start=${ts(lo)}")
      val rows = gen.served("case", includeArchived = false).sortBy(r => (r.ts, r.id))
      assert(ids(p1) == rows.take(50).map(_.id))
      assert(!p1.get("meta").get("next").isNull)
      val last = rows(49).ts
      val (_, p2) = get(s"$base&indexed_on_start=${ts(last)}")
      val again = rows.take(50).filter(_.ts == last).map(_.id)
      assert(ids(p2).take(again.size) == again)
    }
  }

  test("keyset tables require order_by; action_times rejects it") {
    withMock { m =>
      assert(get(s"${m.base}/a/d/api/case?limit=5")._1 == 400)
      assert(get(s"${m.base}/a/d/api/action_times?limit=5&order_by=indexed_on")._1 == 400)
    }
  }

  test("action_times pages by UTC_start_time, unsorted, continued by meta.next") {
    withMock { m =>
      var url = s"${m.base}/a/d/api/action_times?limit=100&UTC_start_time_start=${ts(lo)}" +
        s"&UTC_start_time_end=${ts(hi)}"
      val seen = Seq.newBuilder[Long]
      var pages = 0
      while (url != null) {
        val (code, p) = get(url)
        assert(code == 200)
        seen ++= ids(p)
        pages += 1
        val next = p.get("meta").get("next")
        url = if (next.isNull) null else next.asText()
      }
      val got = seen.result()
      val want = gen.served("action_times", includeArchived = false).filter(r => r.ts >= lo && r.ts < hi)
      assert(got.sorted == want.map(_.id).sorted)
      assert(pages > 1)
      assert(got != got.sorted, "rows came back in id order")
    }
  }

  test("form returns archived rows only with include_archived=true") {
    withMock { m =>
      val base = s"${m.base}/a/d/api/form?order_by=indexed_on&limit=100000"
      val archived = gen.tables("form").filter(_.archived).map(_.id).toSet
      assert(archived.nonEmpty)
      assert(ids(get(base)._2).toSet.intersect(archived).isEmpty)
      assert(archived.subsetOf(ids(get(s"$base&include_archived=true")._2).toSet))
    }
  }

  test("push records the document id under its method") {
    withMock { m =>
      val client = java.net.http.HttpClient.newHttpClient()
      def send(method: String, body: String) = client.send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(s"${m.base}/push"))
          .method(method, java.net.http.HttpRequest.BodyPublishers.ofString(body)).build(),
        java.net.http.HttpResponse.BodyHandlers.discarding()).statusCode()
      assert(send("POST", """{"id": 5}""") == 200)
      assert(send("PATCH", """{"id": 6}""") == 200)
      assert(send("PUT", """{"id": 7}""") == 400)
      assert(m.pushed("POST").asScala.toSeq == Seq(5L))
      assert(m.pushed("PATCH").asScala.toSeq == Seq(6L))
      assert(m.pushNon2xx.get == 1)
    }
  }
}
