"""Smoke test of the benchmark itself, at tiny size.

    python3 -m pytest perfbench/test_smoke.py -q -p no:cacheprovider

Runs every workload untraced and traced, and checks that each named
metric of BENCHMARK.json is emitted with its unit, that the traced run
writes spans for every listed layer, and that a corrupted reply trips
the output checks.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import checks, gen  # noqa: E402
from perfbench.run import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)

# span-name prefixes each workload's traced run must produce
LAYERS = {
    "serving": {"server", "client", "sqlfront", "catalog", "txn", "triggers"},
    "analytics_batch": {"queries"},
}
SEED = 7


def _run(workload: str, trace: int) -> dict:
    env = dict(os.environ, PERFBENCH_SIZE="tiny")
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(SEED),
         "--seconds", "2", "--trace", str(trace)],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload_metrics_and_spans(workload):
    for trace, spec in ((0, BENCH["end_to_end"]), (1, BENCH["per_layer"])):
        res = _run(workload, trace)
        assert res["correct"] is True and res["attempted"] >= 1
        assert set(res) == {"correct", "attempted", "failed", "metrics"}
        assert [m["name"] for m in spec] == list(res["metrics"])
        for m in spec:
            got = res["metrics"][m["name"]]
            assert got["unit"] == m["unit"] and isinstance(got["value"], (int, float))
        if trace == 0:
            assert all(v["value"] > 0 for v in res["metrics"].values())

    (path,) = glob.glob(os.path.join(ROOT, ".perfbench", "results",
                                     f"{workload}-seed{SEED}-trace1.spans.json"))
    with open(path) as fh:
        traced = json.load(fh)
    names = {sp["name"].split(".")[0] for sp in traced["spans"]}
    assert LAYERS[workload] <= names, names
    assert traced["spark"], "no Spark counters recorded"


def _frame() -> pd.DataFrame:
    return gen.ticks(np.random.default_rng(1), 400, 0, gen.DAY_US)


def test_corrupted_tail_reply_trips_check():
    frame = _frame()
    data = {"S00": frame}
    want = checks.tick_tail(frame, gen.TAIL_N)
    reply = {f"S00/{gen.TICK}": {"ts": want["t"].tolist(), "value": want["value"].tolist(),
                                 "size": want["size"].tolist(),
                                 "event_id": want["event_id"].tolist()}}
    req = {"op": "tail", "symbols": ["S00"]}
    checks.check_serve(data, req, reply)  # the true reply passes
    reply[f"S00/{gen.TICK}"]["value"][-1] += 0.01
    with pytest.raises(checks.CheckError):
        checks.check_serve(data, req, reply)


def test_corrupted_rollup_trips_check():
    frame = _frame()
    fine = {"S00": {"event_id": frame["event_id"].tolist()}}
    rollups = {}
    for tf in gen.ROLLUP_TFS:
        c = checks.candles(frame, tf)
        rollups[f"S00/{tf}"] = {col: c[col].tolist() for col in c.columns}
    checks.check_ingest({"S00": frame}, fine, rollups)
    rollups[f"S00/{gen.ROLLUP_TFS[0]}"]["close"][0] += 1.0
    with pytest.raises(checks.CheckError):
        checks.check_ingest({"S00": frame}, fine, rollups)
    fine["S00"]["event_id"].pop()  # an acknowledged tick went missing
    with pytest.raises(checks.CheckError):
        checks.check_ingest({"S00": frame}, fine, rollups)


def test_corrupted_analytics_result_trips_oracle_compare():
    from tests.test_oracle_parity import _compare

    a = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
    _compare("key", a, a.copy())
    with pytest.raises(AssertionError):
        _compare("key", a, a.assign(v=[0.5, 1.25]))
