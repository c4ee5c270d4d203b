"""The repository benchmark: serving reads, then ingest through the
rollup trigger, on one server; and the analytics engine.

    python3 perfbench/run.py --workload serving --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1

Run from the repository root.  The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics of BENCHMARK.json, with ``--trace 1`` its per-layer
metrics.  The lines before it list the workload's own breakdown (per-op
latencies and counts).  A wrong result prints ``"correct": false`` and
exits 1; a run that cannot finish exits non-zero without a result
line.  Each run also leaves its full record under
``.perfbench/results/``; ``python3 perfbench/report.py`` summarises
those records, including the tracing overhead per workload.  NOTES.md
describes the workloads, metrics, environment and known defects.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("serving", "analytics_batch")


def preflight() -> dict:
    """The program must sit next to the benchmark, in this checkout."""
    pkg = os.path.join(ROOT, "marketstore_spark", "__init__.py")
    if not os.path.isfile(pkg):
        sys.exit(f"perfbench: {pkg} not found; run from a full checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def pin_environment(work: str) -> None:
    """Spark's Python workers import the package from this checkout, and
    every scratch file stays inside the checkout."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]  # session settings come from perfbench/sparkstats.py
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    sys.path.insert(0, ROOT)


def end_to_end(res: dict) -> dict[str, float]:
    s = res["summary"]
    return {
        "setup_s": res["setup_s"],
        "ops_per_s": res["ops_per_s"],
        "rows_per_s": res["rows_per_s"],
        "latency_p50_ms": s["latency_p50_ms"],
    }


def breakdown(workload: str, res: dict) -> list[tuple[str, float, str, str]]:
    """The workload's own metrics, named as in NOTES.md."""
    s = res["summary"]
    rows = [("setup_s", res["setup_s"], "s", ""), ("ops_per_s", res["ops_per_s"], "1/s", "")]
    if workload == "analytics_batch":
        rows += [("suite_s", s["suite_s"], "s", "execution, noop sink"),
                 ("plan_s", s["plan_s"], "s", "driver plan build"),
                 ("latency_tail_ms", s["latency_tail_ms"], "ms",
                  "geometric mean over keys of the slowest pass")]
        rows += [(f"{k}.exec_s", v["exec_s"], "s", f"plan {v['plan_s']:.3f} s")
                 for k, v in s["per_key"].items()]
        return rows
    ops = s["per_op"]
    t = s["latency_tail"]
    rows.append(("latency_tail_ms", t["value"], "ms", f"p{t['percentile']} of n={t['n']}, all kinds"))
    rows.append(("failed_share", s["failed"] / max(1, s["attempted"]), "ratio",
                 f"{s['failed']} of {s['attempted']}"))
    for op, v in ops.items():
        t = v["tail_ms"]
        rows += [(f"{op}_p50_ms", v["p50_ms"], "ms", f"n={v['attempted']}, failed {v['failed']}"),
                 (f"{op}_tail_ms", t["value"], "ms", f"p{t['percentile']} of n={t['n']}")]
    rows += [
        ("read_p50_ms", ops["ingest_tail"]["p50_ms"], "ms", "ingest_tail, beside the writes"),
        ("rows_out_per_s", res["rows_per_s"], "1/s", "rows returned to the read clients"),
        ("rows_in_per_s", res["rows_in_per_s"], "1/s", "rows appended"),
    ]
    for op, v in ops.items():
        for e in v["errors"]:
            rows.append((f"{op}.error", v["failed"], "count", e[:160]))
    return rows


def run_one(a, bench: dict) -> int:
    work = os.path.join(ROOT, ".perfbench", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    pin_environment(work)

    from perfbench import analytics, checks, layers, serving

    fn = {"serving": serving.serving, "analytics_batch": analytics.analytics_batch}[a.workload]
    try:
        res = fn(a.seed, a.seconds, bool(a.trace), work)
    except (checks.CheckError, AssertionError) as ex:
        print(f"output check failed: {ex}", file=sys.stderr)
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        return 1

    e2e = end_to_end(res)
    if a.trace:
        if a.workload == "analytics_batch":
            values = layers.analytics(res["summary"], res["spark"])
        else:
            values = layers.serving(res["log"], res["server_trace"])
        values["trace.ops_per_s"] = e2e["ops_per_s"]
        values["trace.latency_p50_ms"] = e2e["latency_p50_ms"]
        spec = bench["per_layer"]
    else:
        values, spec = e2e, bench["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec}

    rows = breakdown(a.workload, res)
    for name, value, unit, note in rows:
        print(f"{a.workload:16s} {name:34s} {value:14.4f} {unit:6s} {note}")
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "end_to_end": e2e, "metrics": {k: v["value"] for k, v in metrics.items()},
        "breakdown": [list(r) for r in rows],
        "summary": res["summary"],
        "latencies": [[r["op"], (r["t1"] - r["t0"]) / 1e6, r["ok"]] for r in res.get("log", [])],
        "server": res.get("server"), "cores": os.cpu_count(),
        "time": time.strftime("%Y-%m-%dT%H:%M:%S"),
    }
    results = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, os.path.basename(work) + ".json"), "w") as fh:
        json.dump(record, fh, default=str)
    if a.trace:  # the traced run's spans, written once at the end
        spans = res.get("spans") or res["server_trace"]["spans"]
        trips = [{k: r[k] for k in ("op", "t0", "t1", "ok", "rid")} for r in res.get("log", [])]
        with open(os.path.join(results, os.path.basename(work) + ".spans.json"), "w") as fh:
            json.dump({"spans": spans, "round_trips": trips, "spark": res.get("spark")
                       or res["server_trace"]["spark"]}, fh)
    shutil.rmtree(work, ignore_errors=True)

    s = res["summary"]
    print(json.dumps({"correct": True, "attempted": s["attempted"], "failed": s["failed"],
                      "metrics": metrics}))
    return 0


def run_all(a) -> int:
    """Every workload, each in its own process."""
    rc = 0
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed", str(a.seed),
               "--seconds", str(a.seconds), "--trace", str(a.trace)]
        rc = max(rc, subprocess.run(cmd, cwd=ROOT).returncode)
    return rc


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    bench = preflight()
    if a.workload == "all":
        return run_all(a)
    return run_one(a, bench)


if __name__ == "__main__":
    sys.exit(main())
