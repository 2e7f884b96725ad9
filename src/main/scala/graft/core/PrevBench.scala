package graft.core

import scala.util.control.NonFatal

/** Anchor-normalized round-over-round bench deltas (r12 VERDICT task 4).
  *
  * Rounds land on differently-clocked containers; r11→r12's "~2.5× slower
  * clock" normalization was a retrodiction no artifact could check. The
  * anchors (Calibration.measure/measureIo) ride every BENCH artifact since
  * r12, so Bench itself can now emit the normalized comparison — making
  * cross-round claims mechanical instead of prose.
  *
  * Input: the previous round's BENCH_r{N}.json — the DRIVER's wrapper
  * (pretty JSON with `tail` = last ~2 KB of the full line and `parsed` =
  * the compact line). Parsing is deliberately regex-tolerant: the fields
  * are flat name:number pairs in both layouts, and a missing field simply
  * drops out of the report rather than failing the bench.
  *
  * Conventions (all ratios: 1.0 = parity):
  *   - clock_ratio  = anchor_s_now / anchor_s_prev   (>1 = this box slower)
  *   - io_ratio     = anchor_io_now / anchor_io_prev (>1 = this disk faster)
  *   - time-like metrics divide by clock_ratio:   (t_now/t_prev)/clock
  *   - CPU-rate metrics multiply by clock_ratio:  (r_now/r_prev)*clock
  *   - fsync-bound rates divide by io_ratio:      (r_now/r_prev)/io
  * so every reported value reads "vs last round, same hardware".
  */
object PrevBench {

  final case class Prev(path: String, anchorS: Double, anchorIo: Double,
    totalNoop: Double, ingest: Double, streamWarm: Double, push: Double,
    lanes: Map[String, Double],
    // r13 VERDICT task 2: the multi-core anchor rides artifacts from r14 on;
    // None for older rounds (the mt_ratio field then simply drops out)
    anchorMt: Option[Double] = None,
    // from the compact line; used by the per-bar normalized verdicts
    noopMean: Option[Double] = None,
    noopP95: Option[Double] = None)

  // the wrapper's `tail` field holds a fragment of the full line as a JSON
  // STRING, so quotes inside it arrive escaped (\") — every pattern below
  // tolerates an optional backslash before each quote
  private def num(text: String, field: String): Option[Double] = {
    val m = ("\\\\?\"" + field + "\\\\?\"\\s*:\\s*(-?[0-9][0-9.eE+-]*)").r
      .findFirstMatchIn(text)
    m.flatMap(g => scala.util.Try(g.group(1).toDouble).toOption)
  }

  /** The total `value`. In a wrapped artifact it is read from `parsed`:
    * the `tail` fragment before it holds other `value` fields (the `bars`
    * block's), so the first match in the whole text is not the total. */
  private def totalOf(text: String): Option[Double] = {
    val parsed = "\"parsed\"\\s*:\\s*\\{".r.findFirstMatchIn(text)
    num(parsed.fold(text)(m => text.substring(m.start)), "value")
  }

  /** The scale factor an artifact was measured at: its first `sf` field,
    * either the wrapper's number (`"sf": 0.1`) or the line's data dir
    * (`"sf":"/data/sf0.1"`). */
  private def scale(text: String): Option[Double] =
    "\\\\?\"sf\\\\?\"\\s*:\\s*\\\\?\"?([^\",}\\\\]*)".r.findAllMatchIn(text)
      .flatMap(m => scaleOf(m.group(1))).nextOption()

  /** `0.1` or `/data/sf0.1` → 0.1. */
  private def scaleOf(sf: String): Option[Double] =
    "(?:^|sf)([0-9]+(?:\\.[0-9]+)?)$".r.findFirstMatchIn(sf.trim.stripSuffix("/"))
      .flatMap(m => scala.util.Try(m.group(1).toDouble).toOption)

  /** Lane times from a region that follows a `"queries":{` opener. */
  private def laneTimes(region: String): Map[String, Double] =
    "\\\\?\"(q[0-9][0-9a-z_]+)\\\\?\"\\s*:\\s*(-?[0-9][0-9.eE+-]*)".r
      .findAllMatchIn(region)
      .flatMap(m => scala.util.Try(m.group(1) -> m.group(2).toDouble).toOption)
      .toMap

  /** Locate the previous BENCH artifact: explicit env wins, else the
    * highest-numbered BENCH_r*.json in the working directory that was
    * measured at this run's scale factor (`sfDir`) and is NOT this round's
    * own artifact. An artifact at another scale is no baseline: an sf0.01
    * run against an sf0.1 artifact reads as a 30× speed-up.
    *
    * Self-exclusion (r13 ADVICE): on an intra-round bench RE-run the driver
    * has already wrapped this round's first run into BENCH_r{N}.json, and
    * the naive highest-numbered pick would compare the round against itself
    * (clock_ratio ≈ 1, every delta ≈ parity — silently useless). The
    * round's own artifact is recognizable without knowing the round number:
    * the driver builds it from `bench_result.json`, which still sits in the
    * working directory with the same run's numbers.
    *
    * Two r14-ADVICE hardenings make the fingerprint work on REAL artifacts:
    *   - The wrapper stores the compact line's 3-decimal-ROUNDED anchor_s
    *     (e.g. 0.917) while bench_result.json holds the full-precision
    *     double (0.916610167), so exact Double equality never fired. Both
    *     sides are now rounded with the same r3 the compact line used
    *     (idempotent on the already-rounded wrapper value — exact match by
    *     construction), corroborated by the rounded total `value` whenever
    *     both files carry it, so a coincidental anchor collision between
    *     genuinely different rounds cannot exclude a legitimate prev.
    *   - bench_result.json PERSISTS after the round closes, so on the next
    *     round's first run it still holds the previous round's numbers and
    *     would wrongly exclude the legitimate newest wrapper. The round
    *     boundary is observable on disk: the judge writes VERDICT.md (and
    *     ADVICE.md) AFTER the driver wraps the bench, so a bench_result.json
    *     OLDER than the newest of those markers belongs to a closed round —
    *     its fingerprint is stale and is ignored entirely. An intra-round
    *     re-run's bench_result.json is always newer than the previous
    *     round's markers, so the genuine exclusion case still fires. */
  def locate(sfDir: String, dir: java.io.File =
      new java.io.File(sys.props.getOrElse("user.dir", "."))): Option[java.io.File] =
    sys.env.get("SPARK_GRAFT_PREV_BENCH").map(new java.io.File(_))
      .filter(_.isFile)
      .orElse {
        def r3(v: Double) = math.rint(v * 1000) / 1000
        def read(f: java.io.File): String = scala.util.Try(new String(
          java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")).getOrElse("")
        // round-close markers: judge output written after the bench wrap
        val roundClosedAt = Seq("VERDICT.md", "ADVICE.md")
          .map(n => new java.io.File(dir, n).lastModified).max
        val own = {
          val f = new java.io.File(dir, "bench_result.json")
          if (!f.isFile || f.lastModified <= roundClosedAt) None
          else {
            val text = read(f)
            num(text, "anchor_s").map(a => (r3(a), totalOf(text).map(r3)))
          }
        }
        Option(dir.listFiles()).toSeq.flatten
          .filter(f => f.getName.matches("BENCH_r\\d+\\.json") &&
            scale(read(f)) == scaleOf(sfDir))
          .sortBy(f => f.getName.replaceAll("\\D", "").toInt)
          .filterNot { f =>
            own.exists { case (anchor, total) =>
              val text = read(f)
              num(text, "anchor_s").map(r3).contains(anchor) && {
                val candTotal = totalOf(text).map(r3)
                // corroborate on the total when both sides carry it
                total.isEmpty || candTotal.isEmpty || total == candTotal
              }
            }
          }
          .lastOption
      }

  def load(sfDir: String): Option[Prev] = locate(sfDir).flatMap(load)

  def load(f: java.io.File): Option[Prev] = {
    val text = try new String(
      java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    catch { case NonFatal(_) => "" }
    for {
      a <- num(text, "anchor_s")
      io <- num(text, "anchor_io_mbps")
      total <- totalOf(text)
    } yield {
      // lane dict(s): every region following a `"queries":{` opener —
      // the wrapper's tail fragment and the compact line both carry the
      // NOOP dict (identical values where they overlap)
      val lanes = "\\\\?\"queries\\\\?\"\\s*:\\s*\\{".r.findAllMatchIn(text)
        .map(m => text.substring(m.end, math.min(text.length, m.end + 16384))
          .takeWhile(_ != '}'))
        .map(laneTimes)
        .foldLeft(Map.empty[String, Double])(_ ++ _)
      Prev(f.getName, a, io, total,
        num(text, "ingest_rows_per_sec").getOrElse(-1.0),
        num(text, "stream_warm_rows_per_sec").getOrElse(-1.0),
        num(text, "push_rows_per_sec").getOrElse(-1.0),
        lanes,
        num(text, "anchor_mt_s").filter(_ > 0),
        num(text, "noop_mean").filter(_ > 0),
        num(text, "noop_p95").filter(_ > 0))
    }
  }

  /** The `vs_prev_normalized` JSON object (or "null"). `noopNow` must hold
    * only lanes whose noop pass succeeded. `anchorMtNow` (r13 task 2): the
    * multi-core anchor — when both rounds carry it, `mt_ratio` and the
    * mt-normalized total make a uniform untouched-lane elevation (host core
    * oversubscription) attributable from the artifact alone: clock_ratio ≈ 1
    * with mt_ratio ≫ 1 reads "same clock, fewer effective cores". */
  def report(anchorNow: Double, anchorIoNow: Double, totalNoopNow: Double,
      ingestNow: Double, streamWarmNow: Double, pushNow: Double,
      noopNow: collection.Map[String, Double],
      prev: Option[Prev],
      anchorMtNow: Double = -1.0): String =
    prev match {
      case None => "null"
      case Some(p) if p.anchorS <= 0 || anchorNow <= 0 => "null"
      case Some(p) =>
        def r3(v: Double) = math.rint(v * 1000) / 1000
        val clock = anchorNow / p.anchorS
        val io = if (p.anchorIo > 0 && anchorIoNow > 0) anchorIoNow / p.anchorIo else -1.0
        val mt = p.anchorMt match {
          case Some(pm) if pm > 0 && anchorMtNow > 0 => anchorMtNow / pm
          case _ => -1.0
        }
        def timeRatio(now: Double, prev: Double): Option[Double] =
          if (now > 0 && prev > 0) Some((now / prev) / clock) else None
        def cpuRate(now: Double, prev: Double): Option[Double] =
          if (now > 0 && prev > 0) Some((now / prev) * clock) else None
        def ioRate(now: Double, prev: Double): Option[Double] =
          if (now > 0 && prev > 0 && io > 0) Some((now / prev) / io) else None
        // 5 biggest normalized per-lane movers among lanes big enough to
        // be signal (>= 0.5 s in either round) and present in both. Both
        // sides must be STRICTLY positive (r13 ADVICE): a prev time parsed
        // as 0 would yield Infinity, which string-interpolates into bare
        // `Infinity` — invalid JSON corrupting the whole artifact line.
        val movers = noopNow.toSeq.flatMap { case (lane, tNow) =>
          p.lanes.get(lane)
            .filter(tPrev => tPrev > 0 && tNow > 0 &&
              (tPrev >= 0.5 || tNow >= 0.5))
            .map(tPrev => lane -> (tNow / tPrev) / clock)
        }.sortBy { case (_, r) => -math.abs(math.log(r)) }.take(5)
        val parts = Seq(
          Some(s""""prev":"${p.path}""""),
          Some(s""""clock_ratio":${r3(clock)}"""),
          if (io > 0) Some(s""""io_ratio":${r3(io)}""") else None,
          if (mt > 0) Some(s""""mt_ratio":${r3(mt)}""") else None,
          timeRatio(totalNoopNow, p.totalNoop).map(v => s""""total_noop":${r3(v)}"""),
          // the mt-normalized twin: (t_now/t_prev)/mt_ratio — parity here
          // with total_noop elevated means the elevation is core starvation
          if (mt > 0 && totalNoopNow > 0 && p.totalNoop > 0)
            Some(s""""total_noop_vs_mt":${r3((totalNoopNow / p.totalNoop) / mt)}""")
          else None,
          ioRate(ingestNow, p.ingest).map(v => s""""ingest":${r3(v)}"""),
          ioRate(streamWarmNow, p.streamWarm).map(v => s""""stream_warm":${r3(v)}"""),
          cpuRate(pushNow, p.push).map(v => s""""push":${r3(v)}"""),
          Some(movers.map { case (l, r) => s""""$l":${r3(r)}""" }
            .mkString("\"movers\":{", ",", "}"))
        ).flatten
        parts.mkString("{", ",", "}")
    }

  /** Per-bar verdicts with the io/cpu-normalized twin (r13 VERDICT task 5).
    *
    * The fsync-bound bars (ingest/stream/push) sit 1.6–2.4× above their
    * BASELINE.md values, so a raw PASS can coexist with a true engine
    * regression whenever the disk happens to be fast — and r13 passed them
    * on a disk running 0.67× of r12's, which would equally have masked a
    * 30% regression in a clean window. Each bar therefore also reports its
    * anchor-normalized ratio vs the previous round (same conventions as
    * the vs_prev block: rates divide by io_ratio for the disk-bound slices,
    * multiply by clock for the cpu-bound push; time-like bars divide by
    * clock) and a `flag` when the raw verdict and the normalized trend
    * diverge: `raw_pass_norm_regress` (passed on weather, normalized
    * regression past the reciprocal pair r < 0.8 for rate bars / r > 1.25
    * for time bars — both are the same 1.25× slowdown, stated in the bar's
    * own direction) or `raw_fail_norm_ok` (failed on weather, normalized
    * ≥90% of prev). Bars gate raw, flags direct the forensic. */
  def barsReport(anchorNow: Double, anchorIoNow: Double,
      noopMean: Double, noopP95: Double,
      ingestNow: Double, streamWarmNow: Double, pushNow: Double,
      prev: Option[Prev]): String = {
    def r3(v: Double) = math.rint(v * 1000) / 1000
    val clock = prev.filter(_.anchorS > 0)
      .map(p => anchorNow / p.anchorS).filter(_ > 0)
    val io = prev.filter(p => p.anchorIo > 0 && anchorIoNow > 0)
      .map(p => anchorIoNow / p.anchorIo).filter(_ > 0)
    // For every bar: vs_prev_norm follows the vs_prev block's conventions —
    // time bars (now/prev)/clock (<1 = better), io-bound rate bars
    // (now/prev)/io_ratio (>1 = better), the cpu-bound push (now/prev)*clock.
    def one(name: String, value: Double, bar: Double, rateBar: Boolean,
        prevVal: Option[Double], vsPrevNorm: Option[Double]): String = {
      val rawPass = if (rateBar) value >= bar else value <= bar
      val flag = vsPrevNorm match {
        case Some(r) if rateBar && rawPass && r < 0.8 => Some("raw_pass_norm_regress")
        case Some(r) if rateBar && !rawPass && r >= 0.9 => Some("raw_fail_norm_ok")
        case Some(r) if !rateBar && rawPass && r > 1.25 => Some("raw_pass_norm_regress")
        case Some(r) if !rateBar && !rawPass && r <= 1.1 => Some("raw_fail_norm_ok")
        case _ => None
      }
      (Seq(s""""value":${r3(value)}""", s""""bar":$bar""",
        s""""raw_pass":$rawPass""") ++
        vsPrevNorm.map(v => s""""vs_prev_norm":${r3(v)}""") ++
        flag.map(f => s""""flag":"$f""""))
        .mkString(s""""$name":{""", ",", "}")
    }
    def tNorm(now: Double, pv: Option[Double]): Option[Double] =
      for (p <- pv if p > 0 && now > 0; c <- clock) yield (now / p) / c
    def ioNorm(now: Double, pv: Option[Double]): Option[Double] =
      for (p <- pv if p > 0 && now > 0; i <- io) yield (now / p) / i
    def cpuNorm(now: Double, pv: Option[Double]): Option[Double] =
      for (p <- pv if p > 0 && now > 0; c <- clock) yield (now / p) * c
    Seq(
      one("noop_mean", noopMean, 5.0, rateBar = false,
        prev.flatMap(_.noopMean), tNorm(noopMean, prev.flatMap(_.noopMean))),
      one("noop_p95", noopP95, 10.0, rateBar = false,
        prev.flatMap(_.noopP95), tNorm(noopP95, prev.flatMap(_.noopP95))),
      one("ingest", ingestNow, 120000.0, rateBar = true,
        prev.map(_.ingest), ioNorm(ingestNow, prev.map(_.ingest))),
      one("stream_warm", streamWarmNow, 45000.0, rateBar = true,
        prev.map(_.streamWarm), ioNorm(streamWarmNow, prev.map(_.streamWarm))),
      one("push", pushNow, 8000.0, rateBar = true,
        prev.map(_.push), cpuNorm(pushNow, prev.map(_.push)))
    ).mkString("{", ",", "}")
  }
}
