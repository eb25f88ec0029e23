#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload relational|ingest \
        --seed N --seconds S --trace 0|1

Builds the program from source (perfbench/build.py), makes the workload's
inputs from the seed (perfbench/gen.py), runs it in one JVM
(perfbench/scala/graftbench), checks every result outside the timed
windows, and prints one JSON object as the last line of stdout: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
The lines before it are a human-readable detail record. See NOTES.md.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("relational", "ingest")
CPUS = 4                 # local[4], Bench.main's session settings
TABLE_SCALE = 0.01       # registry tables: sf0.01 row counts
EVENTS, USERS = 100_000, 1_500     # ingest: the sf0.1 events table
INVALID_SHARE = 0.01     # seeded share of malformed or invalid lines
BACKLOG = 60_000         # lines published in set-up and drained
MAX_ROWS = 10_000        # maxRowsPerTrigger of the drain
RATE = 2_000.0           # offered lines/s of the paced phase (frozen)
RUN_LIMIT_S = 170        # all JVM launches of one run together, build excluded
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(msg):
    sys.stderr.write(f"[perfbench] {msg}\n")
    sys.stderr.flush()


def cpu_times():
    """(busy+idle jiffies, steal jiffies) of the aggregate cpu line."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), v[7] if len(v) > 7 else 0


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def make_inputs(workload, seed, d):
    if workload == "relational":
        gen.tables(str(d / "tables"), seed, TABLE_SCALE)
    else:
        gen.ndjson(str(d / "events.ndjson"), seed, EVENTS, USERS, INVALID_SHARE)


def launch(cp, args, d, seconds, trace, deadline):
    jvm = ["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={d / 'tmp'}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        jvm += ["--add-opens", f"{p}=ALL-UNNAMED"]
    (d / "tmp").mkdir(exist_ok=True)
    cmd = jvm + ["-cp", cp, "graftbench.Main", "--out", str(d),
                 "--cpus", str(CPUS), "--seconds", str(seconds),
                 "--trace", str(trace)]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    launched = time.time()
    with open(d / "jvm.log", "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                             cwd=str(d))
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:  # also on SIGTERM: never leave the JVM behind
            if p.poll() is None:
                p.kill()
                p.wait()
    res = d / "result.json"
    if rc != 0 or not res.exists():
        text = (d / "jvm.log").read_text(errors="replace").splitlines()
        first = [l for l in text if "Exception" in l or "Error" in l][:5]
        raise SystemExit(f"benchmark JVM failed ({rc}):\n" +
                         "\n".join(first + ["..."] + text[-20:]))
    return launched, json.loads(res.read_text())


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    t_build = time.time()
    cp, digest = build.build()
    t_build = time.time() - t_build
    deadline = time.time() + RUN_LIMIT_S
    runs = build.build_dir() / "runs"
    d = runs / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(d, ignore_errors=True)
    d.mkdir(parents=True)
    try:
        make_inputs(a.workload, a.seed, d)
        jargs = {"workload": a.workload, "seed": a.seed}
        if a.workload == "relational":
            jargs["data"] = d / "tables"
        if a.workload == "ingest":
            jargs.update(ndjson=d / "events.ndjson", users=USERS, backlog=BACKLOG,
                         max_rows=MAX_ROWS, rate=RATE)
        # trace.overhead_frac: an untraced run of the same code and seed
        # first, then the traced one; both runs' operations are checked
        base = once(cp, jargs, d, a, 0, digest, t_build, deadline) if a.trace else None
        out = once(cp, jargs, d, a, a.trace, digest, t_build, deadline)
        if base:
            out["per_layer"]["trace.overhead_frac"] = {
                "value": out["e2e"]["pass_s"]["value"] / base["e2e"]["pass_s"]["value"] - 1,
                "unit": "ratio"}
            out["errors"] = base["errors"] + out["errors"]
            out["attempted"] += base["attempted"]
            out["failed"] += base["failed"]
        for msg in out["errors"][:20]:
            log("FAIL " + msg)
        metrics = out["per_layer"] if a.trace else out["e2e"]
        finite = all(math.isfinite(m["value"]) for m in metrics.values())
        for m in metrics.values():  # a metric with no sample reads 0
            m["value"] = m["value"] if math.isfinite(m["value"]) else 0.0
        print(json.dumps({"detail": out["detail"]}))
        print(json.dumps({
            "correct": finite and not out["errors"],
            "attempted": out["attempted"], "failed": out["failed"],
            "metrics": metrics}))
    finally:
        shutil.rmtree(d, ignore_errors=True)


def once(cp, jargs, d, a, trace, digest, t_build, deadline):
    """Launch the JVM once, check its outputs and derive the metrics."""
    for sub in ("results", "views", "ingest", "tmp", "result.json"):
        p = d / sub
        shutil.rmtree(p, ignore_errors=True) if p.is_dir() else p.unlink(missing_ok=True)
    cpu0, load0 = cpu_times(), loadavg()
    launched, res = launch(cp, jargs, d, a.seconds, trace, deadline)
    cpu1 = cpu_times()
    res["session_s"] = res["ready_ms"] / 1000.0 - launched
    res["workload"] = a.workload
    out = check.evaluate(res, d)
    out["detail"]["meta"] = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": trace, "source_hash": digest, "git_commit": git_commit(),
        "build_s": round(t_build, 3), "jvm": res["jvm"],
        "spark": res["spark_version"], "cpus": CPUS, "conf": res["conf"],
        "offered_rate": RATE, "loadavg": [load0, loadavg()],
        "steal_frac": (cpu1[1] - cpu0[1]) / max(1, cpu1[0] - cpu0[0]),
        "calib_s": res["calib_s"]}
    trace_dir = build.build_dir() / "traces"
    trace_dir.mkdir(parents=True, exist_ok=True)
    stem = f"{a.workload}-seed{a.seed}-trace{trace}"
    (trace_dir / f"{stem}-detail.json").write_text(
        json.dumps(out["detail"], indent=1))
    if trace:
        check.write_spans(res, trace_dir / f"{stem}-spans.jsonl")
        for line in check.self_time_table(res):
            log(line)
    return out


def git_commit():
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=str(HERE.parent.parent))
    try:
        r = subprocess.run(["git", "-C", str(HERE.parent), "rev-parse", "HEAD"],
                           capture_output=True, text=True, env=env, timeout=10)
        return r.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


if __name__ == "__main__":
    main()
