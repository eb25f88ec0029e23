#!/usr/bin/env python3
"""Steadiness check: repeat the benchmark over seeds and print, for each
workload and end-to-end metric, the median, the quartiles and the
inter-quartile spread as a share of the median, flagging any spread above
the metric's bound in BENCHMARK.json (and, with --strict, above a third
of it). The same statistics, unflagged, follow for the detail figures
that say whether a run is trustworthy (DIAGNOSTICS).

    python3 perfbench/steady.py [--workloads a,b] [--seeds 1-10] [--strict]
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
# detail-record figures per workload: (label, path into the detail record)
DIAGNOSTICS = {
    "relational": [("ann_recall_at_20", ("ann_recall_at_20",)),
                   ("steal_frac", ("meta", "steal_frac"))],
    "ingest": [("drain_eps", ("drain_eps",)), ("backlog_end", ("backlog_end",)),
               ("generator_late_max_s", ("generator_late_s", "max")),
               ("steal_frac", ("meta", "steal_frac"))],
}


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def dig(d, path):
    for k in path:
        d = d[k]
    return d


def stats(xs):
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("nan")


def main():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--strict", action="store_true",
                    help="flag spreads above a third of the bound")
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    flagged = False
    for w in a.workloads.split(","):
        values = {m: [] for m in bounds}
        diags = {label: [] for label, _ in DIAGNOSTICS.get(w, [])}
        for s in seeds(a.seeds):
            cmd = [sys.executable, "perfbench/run.py", "--workload", w, "--seed",
                   str(s), "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            t0 = time.time()
            r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            wall = time.time() - t0
            last = json.loads(r.stdout.strip().splitlines()[-1]) if r.returncode == 0 else None
            if not last or not last["correct"]:
                print(f"{w} seed {s}: FAILED\n{r.stderr[-2000:]}")
                flagged = True
                continue
            for m in bounds:
                values[m].append(last["metrics"][m]["value"])
            detail = json.loads(r.stdout.strip().splitlines()[-2])["detail"]
            for label, path in DIAGNOSTICS.get(w, []):
                diags[label].append(dig(detail, path))
            print(f"{w} seed {s} ({wall:.0f} s): " + " ".join(
                f"{m}={last['metrics'][m]['value']:.4f}" for m in bounds) + " | " +
                " ".join(f"{k}={xs[-1]:.4g}" for k, xs in diags.items()), flush=True)
        for m, xs in values.items():
            if len(xs) < 2:
                continue
            med, q1, q3, spread = stats(xs)
            limit = bounds[m] / 3 if a.strict else bounds[m]
            flag = "" if spread <= limit else f"  <-- above {limit:.3f}"
            flagged |= bool(flag)
            print(f"  {w:<11} {m:<9} median {med:9.4f}  q1 {q1:9.4f}  q3 {q3:9.4f}"
                  f"  spread {spread:6.3f} (bound {bounds[m]}){flag}", flush=True)
        for label, xs in diags.items():
            if len(xs) < 2:
                continue
            med, q1, q3, spread = stats(xs)
            print(f"  {w:<11} {label:<20} median {med:10.4f}  q1 {q1:10.4f}"
                  f"  q3 {q3:10.4f}  max {max(xs):10.4f}  spread {spread:6.3f}", flush=True)
    sys.exit(1 if flagged else 0)


if __name__ == "__main__":
    main()
