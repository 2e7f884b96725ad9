package graft

import org.scalatest.funsuite.AnyFunSuite

/** Anchor-normalized cross-round bench deltas (core/PrevBench.scala — r12
  * VERDICT task 4): the parser must read the DRIVER's wrapper layout
  * (pretty JSON, `tail` fragment of the full line + `parsed` compact line),
  * and the report must apply the documented conventions — time-like /
  * clock, CPU-rate × clock, fsync-rate / io — so BENCH_r{N}.json carries a
  * mechanical replacement for prose clock claims.
  */
class PrevBenchSpec extends AnyFunSuite with TempDirs {

  // a minimal driver-wrapper shape: tail carries the end of the FULL line
  // (per-lane noop dict), parsed carries the compact line
  private val wrapper =
    """{
      |  "n": 12,
      |  "rc": 0,
      |  "tail": "06,\"q62_triangles\":4.0,\"q67_cooccur_sim\":2.0,\"queries\":{\"q62_triangles\":4.0,\"q93_containment_full\":5.0},\"sf\":\"/x\"}",
      |  "parsed": {"metric":"total_noop","value":200.0,
      |    "ingest_rows_per_sec":200000.0,"stream_warm_rows_per_sec":70000.0,
      |    "push_rows_per_sec":20000.0,
      |    "anchor_s":0.8,"anchor_io_mbps":300.0,
      |    "queries":{"q93_containment_full":5.0,"q34_funnel":0.4}}
      |}""".stripMargin

  private def prevFile(): java.io.File = {
    val f = java.nio.file.Files.createTempFile(tempDir("prevbench"), "prevbench", ".json")
    java.nio.file.Files.write(f, wrapper.getBytes("UTF-8"))
    f.toFile
  }

  test("parses the driver wrapper: anchors, headline metrics, lane dicts") {
    val p = graft.core.PrevBench.load(prevFile()).get
    assert(p.anchorS === 0.8 && p.anchorIo === 300.0 && p.totalNoop === 200.0)
    assert(p.ingest === 200000.0 && p.streamWarm === 70000.0 && p.push === 20000.0)
    // lanes from BOTH the tail's queries dict and the compact line's
    assert(p.lanes("q62_triangles") === 4.0)
    assert(p.lanes("q93_containment_full") === 5.0)
    assert(p.lanes("q34_funnel") === 0.4)
  }

  test("report applies the normalization conventions") {
    val prev = graft.core.PrevBench.load(prevFile())
    // this round's box: 2x slower clock (anchor 1.6 vs 0.8), same disk
    val rpt = graft.core.PrevBench.report(
      anchorNow = 1.6, anchorIoNow = 300.0,
      totalNoopNow = 400.0,        // raw 2x slower == parity on a 2x-slower clock
      ingestNow = 200000.0,        // same raw fsync rate, same disk -> 1.0
      streamWarmNow = 35000.0,     // raw half -> 0.5 (io-normalized)
      pushNow = 10000.0,           // raw half, but clock 2x slower -> 1.0
      noopNow = Map("q62_triangles" -> 4.0,   // raw parity on 2x clock -> 0.5
        "q93_containment_full" -> 20.0),      // raw 4x on 2x clock -> 2.0
      prev = prev)
    def f(k: String): Double =
      ("\"" + k + "\":(-?[0-9.]+)").r.findFirstMatchIn(rpt).get.group(1).toDouble
    assert(f("clock_ratio") === 2.0)
    assert(f("io_ratio") === 1.0)
    assert(f("total_noop") === 1.0)
    assert(f("ingest") === 1.0)
    assert(f("stream_warm") === 0.5)
    assert(f("push") === 1.0)
    assert(f("q62_triangles") === 0.5)
    assert(f("q93_containment_full") === 2.0)
    // the biggest mover sorts first
    assert(rpt.indexOf("q93_containment_full") < rpt.indexOf("q62_triangles")
      || math.abs(math.log(2.0)) === math.abs(math.log(0.5)))
  }

  test("no previous artifact -> null, never a bench failure") {
    assert(graft.core.PrevBench.report(1.0, 300.0, 100.0, 1.0, 1.0, 1.0,
      Map.empty[String, Double], prev = None) === "null")
  }

  test("mt anchor: absent in prev -> no mt fields; present -> mt_ratio + twin") {
    val old = graft.core.PrevBench.load(prevFile())
    val noMt = graft.core.PrevBench.report(0.8, 300.0, 200.0, 200000.0,
      70000.0, 20000.0, Map.empty[String, Double], old, anchorMtNow = 1.0)
    assert(!noMt.contains("mt_ratio") && !noMt.contains("total_noop_vs_mt"),
      s"mt fields leaked without a prev mt anchor: $noMt")
    val withMt = wrapper.replace("\"anchor_s\":0.8,",
      "\"anchor_s\":0.8,\"anchor_mt_s\":1.0,")
    val f2 = java.nio.file.Files.createTempFile(tempDir("prevbench"), "prevbench_mt", ".json")
    java.nio.file.Files.write(f2, withMt.getBytes("UTF-8"))
    val p2 = graft.core.PrevBench.load(f2.toFile)
    assert(p2.get.anchorMt === Some(1.0))
    // same clock (0.8), mt 2x slower (fewer effective cores), total 2x:
    // total_noop reads 2.0 (clock can't explain it), total_noop_vs_mt 1.0
    // (the mt anchor fully attributes it)
    val rpt = graft.core.PrevBench.report(0.8, 300.0, 400.0, 200000.0,
      70000.0, 20000.0, Map.empty[String, Double], p2, anchorMtNow = 2.0)
    def f(k: String): Double =
      ("\"" + k + "\":(-?[0-9.]+)").r.findFirstMatchIn(rpt).get.group(1).toDouble
    assert(f("mt_ratio") === 2.0)
    assert(f("total_noop") === 2.0)
    assert(f("total_noop_vs_mt") === 1.0)
  }

  test("movers: a zero prev lane time never emits Infinity (r13 ADVICE)") {
    val withZero = wrapper.replace("\"q34_funnel\":0.4", "\"q34_funnel\":0")
    val f2 = java.nio.file.Files.createTempFile(tempDir("prevbench"), "prevbench_zero", ".json")
    java.nio.file.Files.write(f2, withZero.getBytes("UTF-8"))
    val rpt = graft.core.PrevBench.report(0.8, 300.0, 200.0, 200000.0,
      70000.0, 20000.0, Map("q34_funnel" -> 3.0),
      graft.core.PrevBench.load(f2.toFile))
    assert(!rpt.contains("Infinity") && !rpt.contains("NaN"),
      s"invalid JSON number leaked: $rpt")
  }

  test("bars: raw verdicts + normalized twins + divergence flags") {
    val prev = graft.core.PrevBench.load(prevFile())
    // disk 2x faster than prev (io_ratio 2): ingest raw-passes at the same
    // raw rate but is HALF as fast normalized -> raw_pass_norm_regress;
    // stream raw-fails but normalized-parity on a slow disk... exercise the
    // opposite flag with io_ratio 0.5 in a second call
    val bars = graft.core.PrevBench.barsReport(0.8, 600.0,
      noopMean = 1.0, noopP95 = 2.0,
      ingestNow = 200000.0, streamWarmNow = 70000.0, pushNow = 20000.0,
      prev = prev)
    def obj(name: String): String =
      ("\"" + name + "\":\\{[^}]*\\}").r.findFirstIn(bars).getOrElse("")
    assert(obj("ingest").contains("\"raw_pass\":true"))
    assert(obj("ingest").contains("\"vs_prev_norm\":0.5"))
    assert(obj("ingest").contains("raw_pass_norm_regress"))
    assert(obj("push").contains("\"raw_pass\":true"))
    assert(!obj("push").contains("flag"), s"push flagged at parity: $bars")
    // slow-disk window: stream fails raw at half rate, but io_ratio 0.25
    // makes it normalized-BETTER -> raw_fail_norm_ok
    val bars2 = graft.core.PrevBench.barsReport(0.8, 75.0,
      noopMean = 1.0, noopP95 = 2.0,
      ingestNow = 200000.0, streamWarmNow = 30000.0, pushNow = 20000.0,
      prev = prev)
    def obj2(name: String): String =
      ("\"" + name + "\":\\{[^}]*\\}").r.findFirstIn(bars2).getOrElse("")
    assert(obj2("stream_warm").contains("\"raw_pass\":false"))
    assert(obj2("stream_warm").contains("raw_fail_norm_ok"))
  }

  test("locate skips this round's own wrapped artifact (r13 ADVICE)") {
    val dir = tempDir("prevbench_loc")
    def put(name: String, text: String): Unit =
      java.nio.file.Files.write(dir.resolve(name), text.getBytes("UTF-8"))
    put("BENCH_r12.json", wrapper.replace("\"anchor_s\":0.8", "\"anchor_s\":0.71"))
    put("BENCH_r13.json", wrapper) // anchor_s 0.8 — "this round's" artifact
    // bench_result.json left by this round's earlier run, same anchor_s
    put("bench_result.json", """{"metric":"total_noop","anchor_s":0.8}""")
    val picked = graft.core.PrevBench.locate("/x", dir.toFile)
    assert(picked.map(_.getName) === Some("BENCH_r12.json"),
      s"picked ${picked.map(_.getName)} — self-comparison not excluded")
    // without a bench_result.json fingerprint the highest number wins
    java.nio.file.Files.delete(dir.resolve("bench_result.json"))
    assert(graft.core.PrevBench.locate("/x", dir.toFile).map(_.getName)
      === Some("BENCH_r13.json"))
  }

  test("locate fingerprint tolerates the wrapper's 3-decimal rounding (r14 ADVICE)") {
    // the REAL artifact shape: the wrapper stores the compact line's rounded
    // anchor (0.917) while bench_result.json holds the full-precision double
    // — exact Double equality never matched these, silently defeating the
    // exclusion; the rounded compare must
    val dir = tempDir("prevbench_round")
    def put(name: String, text: String): Unit =
      java.nio.file.Files.write(dir.resolve(name), text.getBytes("UTF-8"))
    put("BENCH_r12.json", wrapper.replace("\"anchor_s\":0.8", "\"anchor_s\":0.71"))
    put("BENCH_r13.json", wrapper
      .replace("\"anchor_s\":0.8", "\"anchor_s\":0.917")
      .replace("\"value\":200.0", "\"value\":251.077"))
    put("bench_result.json",
      """{"metric":"total_noop","value":251.07655261900007,"anchor_s":0.916610167}""")
    assert(graft.core.PrevBench.locate("/x", dir.toFile).map(_.getName)
      === Some("BENCH_r12.json"),
      "rounded-wrapper fingerprint did not exclude the round's own artifact")
    // anchor collision alone must NOT exclude when the totals disagree —
    // a genuinely different round that happens to share a rounded anchor
    put("bench_result.json",
      """{"metric":"total_noop","value":199.1,"anchor_s":0.917001}""")
    assert(graft.core.PrevBench.locate("/x", dir.toFile).map(_.getName)
      === Some("BENCH_r13.json"),
      "anchor coincidence excluded a legitimate prev despite total mismatch")
  }

  test("locate ignores a bench_result.json older than the round-close markers (r14 ADVICE)") {
    // next-round first run: bench_result.json still holds the PREVIOUS
    // round's numbers (it persists across the close), and the judge wrote
    // VERDICT.md after the wrap — the stale fingerprint must not exclude
    // the legitimate newest wrapper
    val dir = tempDir("prevbench_stale")
    def put(name: String, text: String): java.io.File = {
      val p = dir.resolve(name)
      java.nio.file.Files.write(p, text.getBytes("UTF-8"))
      p.toFile
    }
    put("BENCH_r12.json", wrapper.replace("\"anchor_s\":0.8", "\"anchor_s\":0.71"))
    put("BENCH_r13.json", wrapper)
    val br = put("bench_result.json", """{"metric":"total_noop","anchor_s":0.8}""")
    val verdict = put("VERDICT.md", "# VERDICT — judge ran after the wrap")
    val now = System.currentTimeMillis()
    assert(br.setLastModified(now - 3600 * 1000L))  // last round's bench run
    assert(verdict.setLastModified(now - 60 * 1000L)) // judge closed the round
    assert(graft.core.PrevBench.locate("/x", dir.toFile).map(_.getName)
      === Some("BENCH_r13.json"),
      "stale bench_result.json excluded the legitimate previous-round artifact")
    // and a FRESH bench_result.json (intra-round re-run, written after the
    // close markers) keeps the exclusion live
    assert(br.setLastModified(now))
    assert(graft.core.PrevBench.locate("/x", dir.toFile).map(_.getName)
      === Some("BENCH_r12.json"))
  }

  // the real BENCH_r16.json layout: the wrapper's `tail` (the end of the
  // full line) holds the `bars` block, whose per-bar `value` fields come
  // before the compact line's total in `parsed`
  private val r16Layout =
    """{
      |  "n": 16,
      |  "rc": 0,
      |  "cpus": 32,
      |  "sf": 0.1,
      |  "tail": "\"noop_mean\":1.151,\"noop_p95\":1.848,\"anchor_s\":0.798,\"anchor_io_mbps\":199.705,\"bars\":{\"noop_mean\":{\"value\":1.151,\"bar\":5.0,\"raw_pass\":true},\"noop_p95\":{\"value\":1.848,\"bar\":10.0,\"raw_pass\":true}},\"queries\":{\"q49_dq\":1.848},\"sf\":\"/data/sf0.1\"}",
      |  "parsed": {
      |    "metric": "total_noop",
      |    "value": 223.327,
      |    "noop_mean": 1.151,
      |    "anchor_s": 0.798,
      |    "anchor_io_mbps": 199.705,
      |    "bars": {"noop_mean": {"value": 1.151, "bar": 5.0, "raw_pass": true}},
      |    "queries": {"q49_dq": 1.848},
      |    "sf": "/data/sf0.1"
      |  }
      |}""".stripMargin

  test("load reads the total from parsed, not from the tail's bars block") {
    val f = java.nio.file.Files.createTempFile(tempDir("prevbench"), "prevbench_r16", ".json")
    java.nio.file.Files.write(f, r16Layout.getBytes("UTF-8"))
    val p = graft.core.PrevBench.load(f.toFile).get
    assert(p.totalNoop === 223.327)
    assert(p.anchorS === 0.798 && p.noopMean === Some(1.151))
  }

  test("locate only compares artifacts measured at this run's scale factor") {
    val dir = tempDir("prevbench_sf")
    def put(name: String, text: String): Unit =
      java.nio.file.Files.write(dir.resolve(name), text.getBytes("UTF-8"))
    put("BENCH_r15.json", r16Layout.replace("\"sf\": 0.1", "\"sf\": 0.01")
      .replace("sf0.1", "sf0.01"))
    put("BENCH_r16.json", r16Layout)
    def pick(sfDir: String) =
      graft.core.PrevBench.locate(sfDir, dir.toFile).map(_.getName)
    assert(pick("/data/sf0.01") === Some("BENCH_r15.json"))
    assert(pick("/data/sf0.1/") === Some("BENCH_r16.json"))
    assert(pick("/data/sf1") === None, "an artifact at another scale was picked")
  }
}
