package graft

import graft.cli.Main

/** Unit/e2e spec for the R12 dispatch layer. */
class CliSpec extends SparkSpec {

  private val confJson =
    """{"operation_type": "cc_to_s3", "domain": "staging-acme", "is_staging": true,
      | "tables": [{"name": "case", "uses_indexed_on": true, "limit": 500},
      |            {"name": "form", "uses_indexed_on": false}],
      | "url_base": "http://api.example", "landing_dir": "/tmp/l",
      | "bronze_dir": "/tmp/b", "state_dir": "/tmp/s", "endpoint": "", "test_mode": true}""".stripMargin

  test("config parse + staging URL rewrite (lambda_function.py:28-31)") {
    val c = Main.parseConf(confJson)
    assert(c.operationType === "cc_to_s3")
    assert(c.tables.map(_.name) === Seq("case", "form"))
    assert(c.tables.head.limit === 500)
    assert(Main.effectiveDomain(c.domain, c.isStaging) === "acme")
    assert(Main.effectiveDomain("prod-acme", isStaging = false) === "prod-acme")
    assert(Main.apiUrl(c, c.tables.head) === "http://api.example/acme/api/case")
  }

  test("specifiers + auth_token parse; test_mode suffixes the type dir " +
    "(CommCareAPIHandler.py:71-73, lambda_function.py:69-81)") {
    val pushJson =
      """{"operation_type": "s3_to_cc", "domain": "acme", "endpoint": "http://e",
        | "landing_dir": "/tmp/l", "auth_token": "global:tok",
        | "specifiers": [{"name": "alpha", "method": "PATCH", "auth_token": "a:tok"},
        |                {"name": "beta"}],
        | "test_mode": true}""".stripMargin
    val c = Main.parseConf(pushJson)
    assert(c.specifiers === Seq(
      Main.SpecifierConf("alpha", "PATCH", Some("a:tok")),
      Main.SpecifierConf("beta", "POST", None)))
    assert(c.authToken === Some("global:tok"))
    assert(Main.typeDir(c, "case") === "case-test")
    assert(Main.typeDir(c.copy(testMode = false), "case") === "case")
  }

  test("runPushAll loops every specifier with its own method and token " +
    "(lambda_function.py:69-81)") {
    import java.net.InetSocketAddress
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    // landing dirs: one JSON doc per specifier
    val landing = tempDir("cli_push").toString
    Seq("alpha", "beta").foreach { s =>
      val d = java.nio.file.Paths.get(landing, s)
      java.nio.file.Files.createDirectories(d)
      java.nio.file.Files.write(d.resolve("doc.json"),
        s"""{"spec": "$s"}""".getBytes("UTF-8"))
    }
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val server = HttpServer.create(new InetSocketAddress(0), 0)
    server.createContext("/api", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        seen.add((ex.getRequestMethod,
          Option(ex.getRequestHeaders.getFirst("Authorization")).getOrElse("")))
        ex.sendResponseHeaders(200, -1); ex.close()
      }
    })
    server.start()
    try {
      val conf = Main.parseConf(
        s"""{"operation_type": "s3_to_cc", "landing_dir": "$landing",
           | "endpoint": "http://localhost:${server.getAddress.getPort}/api",
           | "auth_token": "global:tok",
           | "specifiers": [{"name": "alpha", "method": "PATCH", "auth_token": "a:tok"},
           |                {"name": "beta"}]}""".stripMargin)
      val pushed = Main.runPushAll(spark, conf)
      assert(pushed === Seq("alpha", "beta"))
      val got = seen.toArray(Array.empty[(String, String)]).toSet
      // alpha: its own method+token; beta: defaults + global token fallback
      assert(got === Set(("PATCH", "ApiKey a:tok"), ("POST", "ApiKey global:tok")))
    } finally server.stop(0)
  }

  test("CLI-named specifier pushes with its CONFIGURED method and token, " +
    "same as runPushAll would (lambda_function.py:69-81)") {
    import java.net.InetSocketAddress
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val landing = tempDir("cli_named").toString
    val d = java.nio.file.Paths.get(landing, "alpha")
    java.nio.file.Files.createDirectories(d)
    java.nio.file.Files.write(d.resolve("doc.json"),
      """{"spec": "alpha"}""".getBytes("UTF-8"))
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val server = HttpServer.create(new InetSocketAddress(0), 0)
    server.createContext("/api", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        seen.add((ex.getRequestMethod,
          Option(ex.getRequestHeaders.getFirst("Authorization")).getOrElse("")))
        ex.sendResponseHeaders(200, -1); ex.close()
      }
    })
    server.start()
    try {
      val conf = Main.parseConf(
        s"""{"operation_type": "s3_to_cc", "landing_dir": "$landing",
           | "endpoint": "http://localhost:${server.getAddress.getPort}/api",
           | "auth_token": "global:tok",
           | "specifiers": [{"name": "alpha", "method": "PATCH", "auth_token": "a:tok"}]}""".stripMargin)
      Main.dispatch(spark, conf, specifierArg = Some("alpha"))
      val got = seen.toArray(Array.empty[(String, String)]).toSet
      assert(got === Set(("PATCH", "ApiKey a:tok")))
    } finally server.stop(0)
  }

  test("runPush reads the reference's hour-partitioned landing layout " +
    "({specifier}/YYYY/MM/DD/HH/, CommCareAPIHandler.py:275-277)") {
    import java.net.InetSocketAddress
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val landing = tempDir("cli_nested").toString
    val hours = Seq("2024/03/01/22", "2024/03/01/23", "2024/03/02/00")
    val staged = hours.zipWithIndex.flatMap { case (h, hi) =>
      val d = java.nio.file.Paths.get(landing, "alpha", h)
      java.nio.file.Files.createDirectories(d)
      val ids = (0 until 4).map(i => s"doc-$hi-$i")
      java.nio.file.Files.write(d.resolve("part-0.json"),
        ids.map(id => s"""{"id": "$id", "hour": "$h"}""").mkString("\n").getBytes("UTF-8"))
      ids
    }
    val bodies = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val server = HttpServer.create(new InetSocketAddress(0), 0)
    server.createContext("/api", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        bodies.add(new String(ex.getRequestBody.readAllBytes(), "UTF-8"))
        ex.sendResponseHeaders(200, -1); ex.close()
      }
    })
    server.start()
    try {
      val conf = Main.parseConf(
        s"""{"operation_type": "s3_to_cc", "landing_dir": "$landing",
           | "endpoint": "http://localhost:${server.getAddress.getPort}/api",
           | "specifiers": [{"name": "alpha"}]}""".stripMargin)
      assert(Main.runPushAll(spark, conf) === Seq("alpha"))
      val idRe = "\"id\":\"([^\"]+)\"".r
      val pushed = bodies.toArray(Array.empty[String]).toSeq
        .map(b => idRe.findFirstMatchIn(b).get.group(1))
      // every staged doc exactly once: no hour dir skipped, none re-read
      assert(pushed.sorted === staged.sorted)
    } finally server.stop(0)
  }

  test("R12 multi-table loop tolerates 3 failures, aborts on the 4th") {
    val c = Main.parseConf(confJson).copy(tables =
      (1 to 5).map(i => Main.TableConf(s"t$i", usesIndexedOn = true, 100)),
      stateDir = tempDir("cli").toString)
    // every table fails
    val e = intercept[IllegalStateException] {
      Main.runPull(spark, c, (_, _, _) => throw new RuntimeException("boom"))
    }
    assert(e.getMessage.contains("budget exceeded"))

    // 3 failures among successes: run completes, failed tables absent
    var n = 0
    val res = Main.runPull(spark, c, (_, _, t) => {
      n += 1
      if (n <= 3) throw new RuntimeException("flaky") else 7L
    })
    assert(res === Map("t4" -> 7L, "t5" -> 7L))
  }

  test("explicit null max_total_requests means NO budget, not a zero budget") {
    val c = Main.parseConf(
      """{"operation_type": "cc_to_s3", "max_total_requests": null,
        | "tables": [{"name": "t1"}]}""".stripMargin)
    assert(c.maxTotalRequests === None)
    // and the run proceeds instead of aborting at '0 of 0'
    assert(Main.runPull(spark, c, (_, _, _) => 3L) === Map("t1" -> 3L))
  }

  test("present-but-empty auth_token fails the parse (broken secret injection)") {
    // job-level: empty string and explicit null both mean the operator
    // intended a token and the injection failed — never run anonymous
    Seq("\"\"", "null").foreach { v =>
      val e = intercept[IllegalArgumentException] {
        Main.parseConf(s"""{"operation_type": "cc_to_s3", "auth_token": $v}""")
      }
      assert(e.getMessage.contains("auth_token"))
      assert(e.getMessage.contains("secret injection"))
    }
    // specifier-level: same contract, names the specifier
    val e2 = intercept[IllegalArgumentException] {
      Main.parseConf(
        """{"operation_type": "s3_to_cc",
          | "specifiers": [{"name": "alpha", "auth_token": ""}]}""".stripMargin)
    }
    assert(e2.getMessage.contains("alpha"))
    // absent key stays legitimately anonymous
    assert(Main.parseConf("""{"operation_type": "cc_to_s3"}""").authToken === None)
  }

  test("typo'd push specifier fails loudly instead of pushing with defaults") {
    val conf = Main.parseConf(
      """{"operation_type": "s3_to_cc", "landing_dir": "/tmp/none",
        | "endpoint": "http://localhost:9/api",
        | "specifiers": [{"name": "alpha", "method": "PATCH", "auth_token": "a:tok"}]}""".stripMargin)
    val e = intercept[IllegalArgumentException] {
      Main.dispatch(spark, conf, specifierArg = Some("alhpa"))
    }
    assert(e.getMessage.contains("unknown specifier 'alhpa'"))
    assert(e.getMessage.contains("alpha"))
  }
}
