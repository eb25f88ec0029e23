"""Correctness checks and metric derivation for one benchmark run.

`evaluate` takes the JVM's raw record (`result.json`) and the run
directory, checks every output outside the timed windows, and returns
the end-to-end metrics, the per-layer metrics, a detail record, the
failure list and the attempted / failed counts.
"""
import datetime
import json
import math
import statistics

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
VALID_TYPES = {"view", "click", "purchase", "signup", "error"}
# DataSketches HLL at lgK=12: relative standard error 1.04/sqrt(4096)
HLL_TOL = 3 * 1.04 / math.sqrt(4096)
# The offered rate counts as sustained (and freshness as freshness, not
# queueing) only if it is at most RATE_SHARE of the drain rate measured in
# the same run, the generator never ran more than LATE_LIMIT_S behind its
# schedule (a publisher slower than the rate falls further behind with
# every call), and the lines uncommitted when it stopped fit in what a
# stream that keeps up holds: those of the trigger in flight plus those
# offered while it runs, two of its longest paced triggers at the offered
# rate, plus SLACK_S of lines.
RATE_SHARE = 0.75
LATE_LIMIT_S = 1.0
SLACK_S = 1.0


def finite(v):
    """`v` with NaN and infinities replaced by None, so it prints as JSON."""
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float):
        return v if math.isfinite(v) else None
    if isinstance(v, dict):
        return {k: finite(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [finite(x) for x in v]
    return v


def median(xs):
    xs = [x for x in xs if x is not None and not math.isnan(x)]
    return statistics.median(xs) if xs else float("nan")


def tail(xs):
    """The highest of p99.9/p99/p95/p90/p75/p50 with at least ten samples
    beyond it: (percentile, value, sample count)."""
    xs = sorted(x for x in xs if not math.isnan(x))
    n = len(xs)
    for p in (99.9, 99, 95, 90, 75, 50):
        if n * (1 - p / 100) >= 10:
            return p, float(np.percentile(xs, p)), n
    return 100.0, (xs[-1] if xs else float("nan")), n


# ---- registry queries ---------------------------------------------------

def canon(df):
    """Cells as pandas renders them, columns by name, rows sorted: the
    comparison scripts/check_oracle.py makes."""
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df.columns) and len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort")

    def cell(v):
        if isinstance(v, (datetime.date, datetime.datetime, pd.Timestamp)):
            return str(pd.Timestamp(v))
        return str(v)
    return [tuple(cell(v) for v in row)
            for row in df.reset_index(drop=True).itertuples(index=False, name=None)]


HYBRID = "s_hybrid_store_rrf"
ANN_FLOOR = 12   # of the exact top-20: the floor AnnStoreSpec holds the store to


def oracle_errors(res, d):
    """Cross-check first-pass results against DuckDB's oracleSql, and the
    store probe against its references. Returns ({query: error}, the
    probe's ANN overlap with the exact cosine top-20)."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{d / 'tables' / (t + '.parquet')}'")
    errs = {}
    for name, sql in res.get("oracle", {}).items():
        try:
            s = canon(pd.read_parquet(d / "results" / name))
            o = canon(con.sql(sql).df())
            if s != o:
                errs[name] = f"oracle mismatch ({len(s)} vs {len(o)} rows)"
        except Exception as e:  # noqa: BLE001 - any failure is a mismatch
            errs[name] = f"oracle check error: {e}"[:300]
    overlap = float("nan")
    if any(c["name"] == HYBRID and not c["error"] for c in res["first"]):
        try:
            msg, overlap = hybrid_errors(con, res["vector_ref_sql"], d / "results")
        except Exception as e:  # noqa: BLE001 - any failure is a mismatch
            msg = f"reference check error: {e}"[:300]
        if msg:
            errs[HYBRID] = msg
    return errs, overlap


def hybrid_errors(con, vector_sql, results):
    """The store probe's keyword ranks must equal the exhaustive
    InvertedIndex.searchBm25 ranks (dumped by the JVM after the window);
    its ANN top-20 must hold ANN_FLOOR of the exact cosine top-20 that
    DuckDB computes (q_hybrid_rrf's oracle); every rrf must be the
    reciprocal-rank fusion of the row's two ranks."""
    got = pd.read_parquet(results / HYBRID)
    kw = {int(a): int(b) for a, b in zip(got["doc_id"], got["kw_rank"]) if b > 0}
    ref = pd.read_parquet(results / "_bm25_ref")
    want = {int(a): int(b) for a, b in zip(ref["doc_id"], ref["kw_rank"])}
    exact = con.sql(vector_sql).df()
    exact = set(int(x) for x in exact.loc[exact["vec_rank"] > 0, "doc_id"])
    vec = set(int(a) for a, b in zip(got["doc_id"], got["vec_rank"]) if b > 0)
    overlap = len(exact & vec)
    fused = [round((1 / (60 + k) if k else 0.0) + (1 / (60 + v) if v else 0.0), 6)
             for k, v in zip(got["kw_rank"], got["vec_rank"])]
    if kw != want or len(want) != 20:
        return f"keyword ranks differ from exhaustive BM25 ({len(kw)} vs {len(want)})", overlap
    if len(exact) != 20 or overlap < ANN_FLOOR:
        return f"ANN top-20 holds {overlap} of the exact top-{len(exact)} (floor {ANN_FLOOR})", overlap
    if any(abs(a - b) > 1.5e-6 for a, b in zip(fused, got["rrf"])):  # rounding mode
        return "rrf is not the fusion of the row's ranks", overlap
    return None, overlap


def registry(res, d, errors):
    """First pass checked against the oracle and the probe's references;
    each timed call must repeat the first pass's fingerprint."""
    ref, bad = {}, 0
    oracle, overlap = oracle_errors(res, d)
    for c in res["first"]:
        msg = c["error"] or oracle.get(c["name"])
        if msg:
            errors.append(f"{c['name']} first pass: {msg}")
            bad += 1
        else:
            ref[c["name"]] = c["fp"]
    times = {}
    for c in res["calls"]:
        if c["error"] is not None or ref.get(c["name"]) != c["fp"]:
            errors.append(f"{c['name']}: {c['error'] or 'fingerprint differs from first pass'}")
            bad += 1
        times.setdefault(c["name"], []).append(c["s"])
    # a call that threw has no time; the run is then marked incorrect
    per_q = {q: m for q, ts in times.items() if not math.isnan(m := median(ts))}
    calls = [c["s"] for c in res["calls"]]
    return {"pass_s": sum(per_q.values()), "per_query_s": per_q,
            "calls": calls, "first_s": {c["name"]: c["s"] for c in res["first"]},
            "ann_overlap": overlap,
            "attempted": len(res["first"]) + len(res["calls"]), "failed": bad}


# ---- ingest ---------------------------------------------------------------

def recompute(lines):
    """Batch recomputation of the serving views and the reject count over
    exactly the published lines, independent of Spark."""
    rows, rejected = [], 0
    for line in lines:
        if not line.strip():
            continue
        try:
            e = json.loads(line)
        except ValueError:
            rejected += 1
            continue
        v = e.get("value")
        if (e.get("event_id") is None or e.get("ts") is None
                or e.get("user_id") is None or e.get("event_type") not in VALID_TYPES
                or (v is not None and v < 0)):
            rejected += 1
            continue
        rows.append((np.datetime64(e["ts"], "h").astype(np.int64), e["user_id"],
                     round(v * 100) if v is not None else 0))
    ev = pd.DataFrame(rows, columns=["hour", "user_id", "cents"])
    counts = ev.groupby(["hour", "user_id"]).agg(
        cnt=("cents", "size"), cents=("cents", "sum")).reset_index()
    uniques = ev.groupby("hour")["user_id"].nunique()
    return counts, uniques, rejected


def hours(s):
    return pd.to_datetime(s, utc=True).dt.tz_localize(None).to_numpy() \
        .astype("datetime64[h]").astype(np.int64)


def ingest(res, d, errors):
    lines = (d / "events.ndjson").read_text().split("\n")[:res["published"]]
    counts, uniques, rejected = recompute(lines)
    bad = 0
    got = pd.read_parquet(d / "views" / "counts")
    got = pd.DataFrame({"hour": hours(got["hour"]), "user_id": got["user_id"],
                        "cnt": got["cnt"],
                        "cents": [int(v * 100) for v in got["sum_value"]]})
    key = ["hour", "user_id", "cnt", "cents"]
    a = got[key].sort_values(key).to_numpy().tolist()
    b = counts[key].sort_values(key).to_numpy().tolist()
    if a != b:
        errors.append(f"counts_per_user differs from recomputation ({len(a)} vs {len(b)} rows)")
        bad += 1
    u = pd.read_parquet(d / "views" / "uniques")
    est = dict(zip(hours(u["hour"]), u["approx_users"]))
    off = [h for h, n in uniques.items()
           if abs(est.get(h, 0) - n) > HLL_TOL * n + 1]
    if off or len(est) != len(uniques):
        errors.append(f"uniques_hourly outside sketch error in {len(off)} hours")
        bad += 1
    t = pd.read_parquet(d / "views" / "topk")
    top = (counts.sort_values(["hour", "cnt", "user_id"], ascending=[True, False, True])
           .groupby("hour").head(5))
    want = sorted(zip(top["hour"], top["user_id"], top["cnt"], top["cents"]))
    have = sorted(zip(hours(t["hour"]), t["user_id"], t["cnt"],
                      [int(v * 100) for v in t["sum_value"]]))
    if want != have:
        errors.append("topk_hourly differs from recomputation")
        bad += 1
    if res["rejected"] != rejected:
        errors.append(f"dead-letter rows {res['rejected']} != invalid lines published {rejected}")
        bad += 1
    pc = res["pacing"]
    drain_eps = res["backlog"] / res["drain_s"]
    if pc["rate"] > RATE_SHARE * drain_eps:
        errors.append(f"offered {pc['rate']:.0f} lines/s is above {RATE_SHARE} of the "
                      f"drain rate {drain_eps:.0f} lines/s")
        bad += 1
    late = max(pc["late_s"], default=0.0)
    if late > LATE_LIMIT_S:
        errors.append(f"generator ran {late:.3f} s behind schedule (limit {LATE_LIMIT_S} s)")
        bad += 1
    longest = max([p["duration_ms"].get("triggerExecution", 0) / 1000
                   for p in res["progress"] if p["end"] > pc["first"]], default=0.0)
    limit = pc["rate"] * (2 * longest + SLACK_S)
    if res["backlog_end"] > limit:
        errors.append(f"{res['backlog_end']} lines uncommitted when the generator stopped "
                      f"(limit {limit:.0f}); rate not sustained")
        bad += 1
    reads = res["reads"]
    for kind, s, err in reads:
        if err:
            errors.append(f"read {kind}: {err}")
            bad += 1

    # freshness: due time of each paced line -> commit of its trigger
    commit_end = {b: end for b, _, end in res["commits"]}
    fresh = []
    for p in res["progress"]:
        lo, hi = max(p["start"], pc["first"]), p["end"]
        if hi > lo and p["batch"] in commit_end:
            due = pc["start_ns"] + (np.arange(lo, hi) - pc["first"]) / pc["rate"] * 1e9
            fresh.append((commit_end[p["batch"]] - due) / 1e9)
    fresh = np.concatenate(fresh).tolist() if fresh else [float("nan")]
    triggers = sorted(res["commits"])
    return {"drain_s": res["drain_s"], "fresh": fresh, "reads": reads,
            "upsert": [(e - s) / 1e9 for _, s, e in triggers],
            "rejected": rejected,
            "valid_ratio": 1 - rejected / max(1, len([x for x in lines if x.strip()])),
            "attempted": len(reads) + len(triggers) + 7, "failed": bad}


# ---- traced-run derivations -----------------------------------------------

def _union(iv):
    total, end = 0.0, -math.inf
    for s, e in sorted(iv):
        if e > end:
            total += e - max(s, end)
            end = e
    return total


def op_spans(res):
    """{op id: (start µs, end µs)} of the timed calls' outermost spans."""
    return {s[4]: (s[5], s[6]) for s in res.get("spans", []) if s[1] == 0}


def op_counters(res, keys):
    """Per-call Spark counters, gap (wall minus stage-covered time) and
    wall for the given call ids (span op id = counter key)."""
    spans, cnt = op_spans(res), res.get("counters", {})
    out = []
    for op in keys:
        c = cnt.get(op)
        if c is None or op not in spans:
            continue
        s, e = spans[op]
        covered = _union([(max(a * 1000, s), min(b * 1000, e))
                          for a, b in c["stage_spans"] if b * 1000 > s and a * 1000 < e])
        out.append(dict(c, op=op, wall_s=(e - s) / 1e6, gap_s=(e - s - covered) / 1e6))
    return out


def spark_per_op(rows, n):
    """Workload sums over the timed calls, per end-to-end operation."""
    n = max(1, n)
    tot = lambda k: sum(r[k] for r in rows)
    return {
        "spark.jobs_per_op": (tot("jobs") / n, "count"),
        "spark.stages_per_op": (tot("stages") / n, "count"),
        "spark.tasks_per_op": (tot("tasks") / n, "count"),
        "spark.task_s_per_op": (tot("task_ms") / 1000 / n, "s"),
        "spark.gap_s_per_op": (tot("gap_s") / n, "s"),
        "spark.planning_s_per_op": (tot("planning_ms") / 1000 / n, "s"),
        "spark.shuffle_read_b_per_op": (tot("shuffle_read_b") / n, "B"),
        "spark.shuffle_write_b_per_op": (tot("shuffle_write_b") / n, "B"),
        "spark.spill_b_per_op": (tot("spill_b") / n, "B"),
        "spark.output_b_per_op": (tot("output_b") / n, "B"),
    }


def self_times(res):
    """Self time per layer: a span's duration minus what its child spans
    cover; an op's Spark stage time is the 'spark' layer."""
    spans = res.get("spans", [])
    kids = {}
    for s in spans:
        kids.setdefault(s[1], []).append((s[5], s[6]))
    cnt = res.get("counters", {})
    by_layer = {}
    for sid, parent, name, layer, op, st, en in spans:
        iv = list(kids.get(sid, []))
        if parent == 0 and op in cnt:
            stages = [(max(a * 1000, st), min(b * 1000, en))
                      for a, b in cnt[op]["stage_spans"] if b * 1000 > st and a * 1000 < en]
            by_layer["spark"] = by_layer.get("spark", 0.0) + _union(stages) / 1e6
            iv += stages
        by_layer[layer] = by_layer.get(layer, 0.0) + (en - st - _union(
            [(max(a, st), min(b, en)) for a, b in iv if b > st and a < en])) / 1e6
    return by_layer


def self_time_table(res):
    st = self_times(res)
    total = sum(st.values()) or 1.0
    yield f"{res['workload']}: self time by layer"
    for layer, s in sorted(st.items(), key=lambda kv: -kv[1]):
        yield f"  {layer:<12} {s:9.3f} s  {100 * s / total:5.1f}%"


def write_spans(res, path):
    with open(path, "w") as f:
        for s in res.get("spans", []):
            f.write(json.dumps(dict(zip(
                ["id", "parent", "name", "layer", "op", "start_us", "end_us"], s))) + "\n")
        for key, c in res.get("counters", {}).items():
            for a, b in c["stage_spans"]:
                f.write(json.dumps({"name": "stage", "layer": "spark", "op": key,
                                    "start_us": a * 1000, "end_us": b * 1000}) + "\n")


# ---- the run's metrics ----------------------------------------------------

def evaluate(res, d):
    w = res["workload"]
    errors, detail = [], {}
    attempted = failed = 0
    setup = res["session_s"] + res.get("setup_once_s", 0.0) + \
        (median(res["setup_reps_s"]) if res.get("setup_reps_s") else 0.0)
    detail["setup"] = {"session_s": res["session_s"],
                       "once_s": res.get("setup_once_s"),
                       "reps_s": res.get("setup_reps_s")}
    if w == "relational":
        r = registry(res, d, errors)
        attempted += r["attempted"]
        failed += r["failed"]
        pass_s, ops = r["pass_s"], r["calls"]
        # geometric mean of the queries' medians: a median over a handful
        # of distinct queries jumps between neighbours as their ranks swap
        logs = [math.log(m) for m in r["per_query_s"].values()]
        op_s = math.exp(statistics.fmean(logs)) if logs else float("nan")
        detail.update(pass_s=pass_s, first_pass_s=r["first_s"],
                      warm_s=r["per_query_s"], ann_recall_at_20=r["ann_overlap"] / 20)
        keys = [f"{w}:{c['name']}#{i // len(res['first'])}"
                for i, c in enumerate(res["calls"])]
    else:
        g = ingest(res, d, errors)
        attempted += g["attempted"]
        failed += g["failed"]
        pass_s, ops = g["drain_s"], g["fresh"]
        op_s = median(ops)
        reads = {k: median([s for kk, s, e in g["reads"] if kk == k])
                 for k in ("counts", "uniques", "topk")}
        dur = lambda k: median([p["duration_ms"].get(k, float("nan"))
                                for p in res["progress"]])
        detail.update(
            pass_s=pass_s, drain_eps=res["backlog"] / pass_s,
            fresh_p50_s=median(g["fresh"]), fresh_tail=tail(g["fresh"]),
            read_p50_s=median([s for _, s, _ in g["reads"]]),
            read_s=reads, reads=len(g["reads"]),
            upsert_s={"p50": median(g["upsert"]), "tail": tail(g["upsert"]),
                      "first": g["upsert"][0], "last": g["upsert"][-1]},
            trigger_ms=dur("triggerExecution"),
            latest_offset_ms=dur("latestOffset"), get_batch_ms=dur("getBatch"),
            wal_commit_ms=dur("walCommit"), commit_offsets_ms=dur("commitOffsets"),
            triggers=len(g["upsert"]),
            publish_s={"setup_p50": median(res["publish_setup_s"]),
                       "paced_p50": median(res["publish_paced_s"])},
            rejected=g["rejected"], valid_ratio=g["valid_ratio"],
            view_rows=res["view_rows"], backlog_end=res["backlog_end"],
            generator_late_s={"p50": median(res["pacing"]["late_s"]),
                              "max": max(res["pacing"]["late_s"], default=0.0)},
            published=res["published"])
        keys = [f"{res['stream_group']}#{b}" for b, _, _ in res["commits"]]
    tp, tv, tn = tail(ops)
    e2e = {"setup_s": {"value": setup, "unit": "s"},
           "pass_s": {"value": pass_s, "unit": "s"},
           "op_s": {"value": op_s, "unit": "s"}}
    detail.update(op_tail={"pct": tp, "s": tv, "n": tn},
                  errors=errors[:50], workload=w)
    per_layer = {}
    if res.get("counters") is not None:
        rows = op_counters(res, keys)
        if w == "ingest":  # streaming plans are timed by the progress reports
            plan = {f"{res['stream_group']}#{p['batch']}":
                    p["duration_ms"].get("queryPlanning", 0) for p in res["progress"]}
            for r in rows:
                r["planning_ms"] = plan.get(r["op"], 0)
        for k, (v, unit) in spark_per_op(rows, len(keys)).items():
            per_layer[k] = {"value": v, "unit": unit}
        per_layer["op_tail_s"] = {"value": tv, "unit": "s"}
        per_layer["op_tail_n"] = {"value": tn, "unit": "count"}
        detail["self_s"] = self_times(res)
        detail["per_op"] = summarize_ops(rows)
    return {"e2e": e2e, "per_layer": per_layer, "detail": finite(detail),
            "errors": errors, "attempted": attempted, "failed": failed}


def summarize_ops(rows):
    """Jobs, gap and wall per operation name (op id without its '#n')."""
    by = {}
    for r in rows:
        by.setdefault(r["op"].split("#")[0], []).append(r)
    return {k: {"n": len(v), "jobs": median([x["jobs"] for x in v]),
                "gap_s": median([x["gap_s"] for x in v]),
                "wall_s": median([x["wall_s"] for x in v])} for k, v in by.items()}
