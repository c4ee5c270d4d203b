"""Per-layer metrics of a traced run.

Serving: the server's spans (perfbench/launcher.py) are
paired with the load process's round trips by JSON-RPC id.  A layer's
time is averaged over the measured requests that reach that layer, so
it reads as "ms this layer adds to a request that uses it".
Analytics: per-key timings and Spark counters of each key's job group.

Every per-layer metric named in BENCHMARK.json is produced for every
workload; a layer a workload never reaches reads 0.
"""

from __future__ import annotations

import statistics

from perfbench.analytics import KEYS
from perfbench.trace import self_time_ns

# request kinds of the serving workload, for the per-op Spark counters
OPS = ("tail", "range", "uda", "sql", "bulk", "write", "ingest_tail", "rollup_tail")
SPARK_TOTAL_NAMES = {
    "run_ms": "spark.executor_run_ms",
    "cpu_ms": "spark.executor_cpu_ms",
    "gc_ms": "spark.gc_ms",
    "shuffle_write_bytes": "spark.shuffle_write_bytes",
    "spill_bytes": "spark.spill_bytes",
}


def _mean(xs) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0


def _blank() -> dict[str, float]:
    out = {
        name: 0.0
        for name in (
            "server.service_ms", "server.encode_ms", "server.wire_ms", "server.reply_bytes",
            "client.plan_ms", "client.keys_per_op", "client.collect_ms", "sqlfront.plan_ms",
            "catalog.read_ms", "catalog.files_per_read", "catalog.write_ms",
            "txn.stage_ms", "txn.publish_ms", "txn.write_amp",
            "triggers.fire_ms", "triggers.delete_range_ms", "triggers.rows_rewritten",
            *SPARK_TOTAL_NAMES.values(),
        )
    }
    for op in OPS:
        for c in ("jobs", "stages", "tasks", "run_ms"):
            out[f"spark.{op}.{c}"] = 0.0
    for k in KEYS:
        for c in ("exec_s", "plan_s", "stages", "shuffle_write_bytes", "gc_ms"):
            out[f"queries.{k}.{c}"] = 0.0
    return out


def _under(sp: dict, name: str, by_id: dict) -> bool:
    p = sp["parent"]
    while p is not None:
        if by_id[p]["name"] == name:
            return True
        p = by_id[p]["parent"]
    return False


def serving(log: list[dict], trace: dict) -> dict[str, float]:
    """Layer metrics from the load process's request log and the
    server's spans/Spark counters."""
    out = _blank()
    rids = {r["rid"]: r for r in log}
    spans = [sp for sp in trace["spans"] if sp["req"] in rids]
    by_id = {sp["id"]: sp for sp in spans}
    selft = self_time_ns(spans)
    per_req: dict[int, list[dict]] = {}
    for sp in spans:
        per_req.setdefault(sp["req"], []).append(sp)

    def layer(name: str, value, keep=lambda sp: True) -> float:
        """Mean over requests with a matching span of the summed value."""
        vals = []
        for sps in per_req.values():
            hit = [sp for sp in sps if sp["name"] == name and keep(sp)]
            if hit:
                vals.append(sum(value(sp) for sp in hit))
        return _mean(vals)

    dur = lambda sp: (sp["end"] - sp["start"]) / 1e6  # noqa: E731
    own = lambda sp: selft[sp["id"]] / 1e6  # noqa: E731
    user = lambda sp: not _under(sp, "triggers.fire", by_id)  # noqa: E731

    service = {sp["req"]: sp for sp in spans if sp["name"] == "server.service"}
    out["server.service_ms"] = _mean(dur(sp) for sp in service.values())
    out["server.encode_ms"] = layer("server.encode", own)
    out["server.wire_ms"] = _mean(
        (r["t1"] - r["t0"]) / 1e6 - dur(service[rid]) for rid, r in rids.items() if rid in service
    )
    out["server.reply_bytes"] = layer("server.reply", lambda sp: sp.get("bytes", 0))
    out["client.plan_ms"] = layer("client.plan", own)
    out["client.keys_per_op"] = _mean(sp["keys"] for sp in spans if sp["name"] == "client.plan")
    out["client.collect_ms"] = layer("client.collect", dur)
    out["sqlfront.plan_ms"] = layer("sqlfront.plan", own)
    out["catalog.read_ms"] = layer("catalog.read", dur)
    out["catalog.files_per_read"] = _mean(sp["files"] for sp in spans if sp["name"] == "catalog.read")

    def write_own(sp):  # the write itself, without the trigger it fires
        kids = [k for k in spans if k["parent"] == sp["id"] and k["name"] == "triggers.fire"]
        return dur(sp) - sum(dur(k) for k in kids)

    out["catalog.write_ms"] = layer("catalog.write", write_own, user)
    out["txn.stage_ms"] = layer("txn.stage", dur, user)
    out["txn.publish_ms"] = layer("txn.publish", dur, user)
    writes = [sp for sp in service.values() if sp.get("method") == "Write"]
    user_bytes = sum(sp.get("user_bytes", 0) for sp in writes)
    if user_bytes:
        out["txn.write_amp"] = sum(sp["bytes_added"] for sp in writes) / user_bytes
    out["triggers.fire_ms"] = layer("triggers.fire", dur)
    out["triggers.delete_range_ms"] = layer("catalog.delete_range", dur)
    out["triggers.rows_rewritten"] = layer("catalog.delete_range", lambda sp: sp["rows_rewritten"])

    counters = trace["spark"]
    by_op: dict[str, list[dict]] = {}
    for rid, sp in service.items():
        by_op.setdefault(rids[rid]["op"], []).append(counters[sp["group"]])
    for op, cs in by_op.items():
        for c in ("jobs", "stages", "tasks", "run_ms"):
            out[f"spark.{op}.{c}"] = _mean(x[c] for x in cs)
    every = [c for cs in by_op.values() for c in cs]
    for c, name in SPARK_TOTAL_NAMES.items():
        out[name] = _mean(x[c] for x in every)
    return out


def analytics(summary: dict, counters: dict) -> dict[str, float]:
    out = _blank()
    for k, v in summary["per_key"].items():
        c = counters[k]
        out[f"queries.{k}.exec_s"] = v["exec_s"]
        out[f"queries.{k}.plan_s"] = v["plan_s"]
        out[f"queries.{k}.stages"] = c["stages"]
        out[f"queries.{k}.shuffle_write_bytes"] = c["shuffle_write_bytes"]
        out[f"queries.{k}.gc_ms"] = c["gc_ms"]
    for c, name in SPARK_TOTAL_NAMES.items():
        out[name] = _mean(counters[k][c] for k in KEYS)
    return out
