#!/usr/bin/env python3
"""The repo benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload <etl_sync|lanes_sql|lanes_dedup> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (perfbench/build.sbt depends on the engine's
build); later runs reuse the build while no source file changed. Build
outputs, run scratch and artifacts stay under `.bench_build/` and the sbt
`target/` directories.

The benchmark JVM (`perfbench.Main`) runs on `local[nproc]` with the engine
build's JVM options and a heap derived from MemTotal the way the tier-1 test
command derives it. It writes raw records; this script checks the outputs
(lanes against DuckDB, ETL accounting from the JVM), prints a summary line
and, as the last line, one JSON object: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`. A traced lane run times
the same fixed lane set first and then runs every other lane of the workload.
It also writes its artifact (spans, one record per lane, per-layer metrics,
and the overhead against the last untraced run of the same workload and seed
built from the same sources) to `.bench_build/perfbench/out/`.

Exit status is 0 only when every output check passed.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
OUT = os.path.join(BUILD, "out")
sys.path.insert(0, HERE)

WORKLOADS = ("etl_sync", "lanes_sql", "lanes_dedup")
# Lane tables' scale factor: small enough that the fixed lane set's first
# invocations fit the measured seconds; lane cost at this size is mostly the
# fixed per-lane cost (plan compile, job floor) the lanes workloads measure.
LANE_SF = 0.02
DEADLINE_S = 172
# A traced run starts no further census lane after this many seconds, so that
# the lanes still to be checked fit before DEADLINE_S on a slow host.
CENSUS_S = 145
END_TO_END = [("setup_s", "s"), ("wall_s", "s")]
# Per-layer metrics of a traced lane run over every lane it ran (0 on etl_sync).
CENSUS = ("queries.lane_p50_s", "queries.lane_tail_s")
SUMMARY_UNITS = {"n": "ops", "attempted": "ops", "failed": "ops", "failed_share": "ratio",
                 "lane_tail_pct": "%", "census_n": "lanes", "not_reached": "lanes"}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        files += sorted(glob.glob(os.path.join(d, "**", "*"), recursive=True))
    return [f for f in files if os.path.isfile(f)]


def build():
    """Classpath, engine JVM options and source stamp, building when a source
    changed."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: no engine sources in this checkout (src/main/scala)")
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    cached = os.path.join(BUILD, "build.json")
    if os.path.exists(cached):
        with open(cached) as fh:
            b = json.load(fh)
        if b["stamp"] == stamp:
            return b["classpath"], b["jvm"], stamp
    log("building with sbt (first run in this checkout)")
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath", "graftJavaOptions"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
                       text=True, timeout=840)
    lines = p.stdout.splitlines()
    if p.returncode != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n" + p.stderr[-2000:])
        raise SystemExit("perfbench: build failed")
    cp = [ln for ln in lines if ln.startswith("/") and ":" in ln and "classes" in ln][-1]
    jvm = [ln for ln in lines if ln.startswith("-") or ln.startswith("java.base/")]
    os.makedirs(BUILD, exist_ok=True)
    with open(cached, "w") as fh:
        json.dump({"stamp": stamp, "classpath": cp, "jvm": jvm}, fh)
    return cp, jvm, stamp


def heap():
    """MemTotal / 2, clamped to 2..8 GiB: the tier-1 test command's rule."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def tail(values):
    """(value, percentile, n) of the highest percentile with at least ten
    samples beyond it, or None below eleven samples."""
    s = sorted(values)
    n = len(s)
    if n < 11:
        return None
    return s[n - 11], (100 * (n - 10)) // n, n


class LaneChecks:
    """Checks the lanes the JVM reports, one JSON line per lane as it ends.

    While the JVM runs, a lane is checked only once the fixed set is over
    (a census lane has been reported), on one DuckDB thread of a process
    running at the lowest priority (see run_jvm), so no check overlaps a
    timed lane and the census lanes keep their cores; the rest are checked
    after the JVM exits."""

    def __init__(self, path, data):
        import oracle
        self.path, self.check_lane = path, oracle.check_lane
        self.con = oracle.connect(data)
        self.con.execute("SET threads TO 1")
        self.pending, self.problems, self.offset, self.census = [], {}, 0, False

    def _read(self):
        if not os.path.exists(self.path):
            return
        with open(self.path, "rb") as fh:
            fh.seek(self.offset)
            for line in fh:
                if not line.endswith(b"\n"):
                    break
                self.offset += len(line)
                rec = json.loads(line)
                self.census |= not rec["fixed"]
                self.pending.append(rec)

    def _check(self, rec):
        why = self.check_lane(self.con, rec)
        if why:
            self.problems[rec["lane"]] = why

    def step(self):
        """Checks one lane if the timed lanes are over; False when idle."""
        self._read()
        if not (self.census and self.pending):
            return False
        self._check(self.pending.pop(0))
        return True

    def finish(self):
        self.con.execute(f"SET threads TO {os.cpu_count() or 1}")
        self._read()
        while self.pending:
            self._check(self.pending.pop(0))
        return self.problems


def run_jvm(args, cp, jvm, work, data, start):
    checks = LaneChecks(f"{work}/lanes.jsonl", data) if data else None
    cmd = ["java"] + [o for o in jvm if not o.startswith("-Xmx")] + [
        f"-Xmx{heap()}", f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--work", work, "--out", f"{work}/result.json",
        "--lane-checks", f"{work}/lanes.jsonl",
        "--census-until-ms", str(int((start + CENSUS_S) * 1000))]
    if data:
        cmd += ["--data", data]
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(f"{work}/jvm.log", "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, start_new_session=True)
        os.nice(19)  # this process only checks lanes from here on; the JVM keeps its priority
        try:
            while p.poll() is None:
                if time.time() - start > DEADLINE_S:
                    log(f"benchmark JVM still running after {DEADLINE_S} s; stopping it")
                    break
                if not (checks and checks.step()):
                    time.sleep(0.2)
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if p.returncode != 0 or not os.path.exists(f"{work}/result.json"):
        os.makedirs(OUT, exist_ok=True)
        shutil.copy(f"{work}/jvm.log", os.path.join(OUT, "failed-jvm.log"))
        with open(f"{work}/jvm.log") as fh:
            lines = fh.readlines()
        sys.stderr.write("".join([l for l in lines if "Exception" in l][:5] + lines[-10:]))
        raise SystemExit(f"perfbench: benchmark JVM failed (exit {p.returncode}); "
                         f"log in {os.path.relpath(OUT, ROOT)}/failed-jvm.log")
    with open(f"{work}/result.json") as fh:
        res = json.load(fh)
    if checks:
        c0 = time.time()
        res["problems"] = checks.finish()
        res["check_s"] = time.time() - c0
    return res


def lanes_outcome(res):
    problems = res["problems"]
    fixed = [r["wall_s"] for r in res["lanes"] if r["fixed"]]
    summary = {"lanes_wall_s": sum(fixed), "lane_p50_s": statistics.median(fixed),
               "n": len(fixed), "check_s": res["check_s"]}
    census = {}
    if res["traced"]:
        every = [r["wall_s"] for r in res["lanes"]]
        t = tail(every)
        census = {"queries.lane_p50_s": statistics.median(every),
                  "queries.lane_tail_s": t[0] if t else 0.0}
        summary.update(census_n=len(every), census_p50_s=census["queries.lane_p50_s"],
                       not_reached=len(res["lanes_not_reached"]))
        if t:
            summary.update(lane_tail_s=t[0], lane_tail_pct=t[1])
        for lane in res["lanes_not_reached"]:
            log(f"census lane not reached before {CENSUS_S} s: {lane}")
    return problems, len(res["lanes"]), len(problems), fixed, summary, census


def etl_outcome(res):
    cyc = res["cycles"]
    problems = {c["check"]: c["detail"] for c in res["checks"] if c["mismatches"]}
    for c in cyc:
        if c.get("stream_error"):
            problems[f"cycle{c['cycle']}.trigger"] = c["stream_error"]
    walls = [c["wall_s"] for c in cyc]
    summary = {
        "etl_cycle_p50_s": statistics.median(walls), "n": len(walls),
        "pull_rows_per_s": sum(c["pulled_rows"] for c in cyc) / sum(c["pull_s"] for c in cyc),
        "stream_rows_per_s": sum(c["stream_rows"] for c in cyc) / sum(c["stream_s"] for c in cyc),
        "push_rows_per_s": sum(c["push_acks"] for c in cyc) / sum(c["push_s"] for c in cyc)}
    return problems, res["attempted"], res["failed"], walls, summary, {}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # numpy's generator and the JVM's Long take a non-negative 63-bit seed;
    # any integer maps to one, and distinct seeds below 2^63 stay distinct.
    args.seed %= 1 << 63
    # a terminated run still stops its JVM and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cp, jvm, stamp = build()
    start = time.time()
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        data = None
        if args.workload != "etl_sync":
            import datagen
            data = os.path.join(work, "data")
            datagen.write(args.seed, LANE_SF, data)
        res = run_jvm(args, cp, jvm, work, data, start)
        if args.workload == "etl_sync":
            problems, attempted, failed, walls, summary, census = etl_outcome(res)
        else:
            problems, attempted, failed, walls, summary, census = lanes_outcome(res)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    setup_s = res["first_op_ms"] / 1000.0 - start
    e2e = {"setup_s": setup_s, "wall_s": sum(walls)}
    summary.update(setup_s=setup_s, session_build_s=res["session_build_s"],
                   warmup_s=res["warmup_s"], peak_rss_mb=res["vm_hwm_mb"],
                   failed_share=failed / max(1, attempted), attempted=attempted, failed=failed)
    for name, why in sorted(problems.items()):
        log(f"CHECK FAILED {name}: {why}")
    log(f"{args.workload} seed={args.seed}: " + ", ".join(
        f"{k}={v:.4g} {SUMMARY_UNITS.get(k, unit_of(k))}" for k, v in summary.items()))

    os.makedirs(OUT, exist_ok=True)
    stem = os.path.join(OUT, f"{args.workload}-seed{args.seed}")
    if args.trace:
        layers = dict(res["trace"]["layers"], **{k: census.get(k, 0.0) for k in CENSUS})
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()}
        overhead = None
        if os.path.exists(stem + "-untraced.json"):
            with open(stem + "-untraced.json") as fh:
                base = json.load(fh)
            if base.get("stamp") == stamp:
                overhead = {k: e2e[k] - base[k] for k in e2e}
        artifact = dict(res["trace"], workload=args.workload, seed=args.seed, end_to_end=e2e,
                        summary=summary, overhead_vs_untraced=overhead, checks=problems,
                        lanes=res.get("lanes"), lanes_not_reached=res.get("lanes_not_reached"),
                        cycles=res.get("cycles"))
        with open(stem + "-trace.json", "w") as fh:
            json.dump(artifact, fh, indent=1)
        log(f"trace written to {os.path.relpath(stem + '-trace.json', ROOT)}; overhead {overhead}")
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
        with open(stem + "-untraced.json", "w") as fh:
            json.dump(dict(e2e, stamp=stamp), fh)
    correct = not problems and failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0 if correct else 1


def unit_of(name):
    if name.endswith("per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(".par"):
        return "ratio"
    if name.endswith("bytes_per_row"):
        return "B"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
