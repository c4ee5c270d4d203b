"""The serving workload: closed-loop wire clients against a server
running in its own process (perfbench/launcher.py).

This process is the load generator.  It speaks to the server only
through ``client.HttpClient``; it never starts Spark.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd

from perfbench import checks, gen
from perfbench.checks import ns
from perfbench.stats import kinds_geomean, p50, tail

SERVE_CLIENTS = 3
# client indices outside the measured ones, so JSON-RPC ids never collide
WARM_CLIENTS, CHECK_CLIENT = 10, 20
READY_TIMEOUT_S = 150.0
# read pairs (ingest_tail, rollup_tail) the ingest reader sends per write
PAIRS_PER_WRITE = 4


class Server:
    """The launcher subprocess; ``stop`` closes its stdin and waits."""

    def __init__(self, seed: int, trace: bool, work: str):
        self.root = os.path.join(work, "catalog")
        self.spans_path = os.path.join(work, "server_spans.json")
        self.log = open(os.path.join(work, "server.log"), "w")
        launcher = os.path.join(os.path.dirname(os.path.abspath(__file__)), "launcher.py")
        cmd = [sys.executable, launcher, "--seed", str(seed),
               "--root", self.root, "--trace", str(int(trace)), "--spans-out", self.spans_path]
        self.proc = subprocess.Popen(
            cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self.log, text=True
        )
        self.ready = self._wait_ready()
        self.url = f"http://127.0.0.1:{self.ready['port']}"

    def _wait_ready(self) -> dict:
        box: dict = {}
        seen = threading.Event()

        def read():  # drains stdout to EOF, so the launcher never blocks on it
            for line in self.proc.stdout:
                if line.startswith("PERFBENCH_READY "):
                    box["ready"] = json.loads(line.split(" ", 1)[1])
                    seen.set()
            seen.set()

        threading.Thread(target=read, daemon=True).start()
        seen.wait(READY_TIMEOUT_S)
        if "ready" not in box:
            self.stop()
            raise RuntimeError(f"server did not start; see {self.log.name}")
        return box["ready"]

    def stop(self) -> None:
        if self.proc.poll() is None:
            try:
                self.proc.stdin.close()
                self.proc.wait(timeout=90)
            except (subprocess.TimeoutExpired, OSError):
                self.proc.kill()
                self.proc.wait()
        self.log.close()

    def spans(self) -> dict:
        with open(self.spans_path) as fh:
            return json.load(fh)


def _clients(url: str, index: int):
    """A JSON and a msgpack client whose JSON-RPC ids are unique across
    the run, so server spans pair with client round trips by id."""
    from marketstore_spark.client import HttpClient

    out = {}
    for j, codec in enumerate(("json", "msgpack")):
        hc = HttpClient(url, codec=codec)
        hc._rid = (2 * index + j + 1) * 10_000_000  # noqa: SLF001
        out[codec] = hc
    return out


def _iso(offset_us: int) -> str:
    return str(gen.T0 + np.timedelta64(int(offset_us), "us")).replace("T", " ")


def _client_for(clients: dict, op: str):
    return clients["msgpack" if op == "bulk" else "json"]


def call(clients: dict, req: dict):
    """Issue one request and return its reply."""
    op, syms = req["op"], req["symbols"]
    hc = _client_for(clients, op)
    key = f"{syms[0]}/{gen.TICK}"
    if op in ("tail", "ingest_tail"):
        out = hc.query(key, limit_record_count=gen.TAIL_N)
    elif op == "range":
        out = hc.query(",".join(syms) + "/" + gen.TICK,
                       epoch_start=ns(req["start_us"]), epoch_end=ns(req["end_us"]))
    elif op == "uda":
        out = hc.query(key, epoch_start=ns(req["start_us"]), epoch_end=ns(req["end_us"]),
                       functions=["tickcandler('5Min',value)"])
    elif op == "sql":
        out = hc.sql(f"SELECT ts, value FROM `{key}` WHERE ts >= '{_iso(req['start_us'])}' "
                     f"LIMIT {gen.SQL_LIMIT}")
    elif op == "bulk":
        out = hc.query(key)
    elif op == "rollup_tail":
        out = hc.query(f"{syms[0]}/{gen.ROLLUP_TFS[0]}/TICK", limit_record_count=gen.ROLLUP_TAIL_N)
    elif op == "write":
        b = req["batch"]
        cols = {c: b[c].tolist() for c in ("value", "size", "event_id")}
        cols["ts"] = b["ts"].to_numpy().astype("datetime64[ns]").astype("int64").tolist()
        out = hc.write(cols, key, ts_columns=["ts"])
    else:
        raise ValueError(op)
    return out


def _timed(clients: dict, req: dict, log: list, keep: bool) -> None:
    t0 = time.perf_counter_ns()
    try:
        reply = call(clients, req)
        ok, err = True, None
    except (RuntimeError, OSError) as ex:  # an error reply or a dropped connection
        reply, ok, err = None, False, str(ex)[:300]
    t1 = time.perf_counter_ns()
    rid = _client_for(clients, req["op"])._rid  # noqa: SLF001  (the id just sent)
    log.append({"op": req["op"], "t0": t0, "t1": t1, "ok": ok, "rid": rid, "err": err,
                "req": req, "reply": reply if keep else None})


def _rows(reply) -> int:
    if not reply:
        return 0
    if "responses" in reply:  # SQL
        series = reply["responses"][0]["result"]
        return len(next(iter(series.values()))) if series else 0
    return sum(len(next(iter(s.values()))) if s else 0 for s in reply.values())


def _summary(log: list, t_start: int, t_end: int) -> dict:
    """Latency summary of the measured phases: per kind, and over the
    workload.  The workload's p50 is the geometric mean of the kinds'
    medians; its tail is taken over every successful request, since no
    single kind has enough samples for a tail above its median."""
    ok = [r for r in log if r["ok"]]
    by_op: dict[str, list[float]] = {}
    for r in ok:
        by_op.setdefault(r["op"], []).append((r["t1"] - r["t0"]) / 1e6)
    per_op = {}
    for op in sorted({r["op"] for r in log}):
        rs = [r for r in log if r["op"] == op]
        good = by_op.get(op, [])
        per_op[op] = {"attempted": len(rs), "failed": len(rs) - len(good),
                      "p50_ms": p50(good), "tail_ms": tail(good),
                      "errors": sorted({r["err"] for r in rs if r["err"]})[:3]}
    pooled = tail([x for v in by_op.values() for x in v])
    return {"seconds": (t_end - t_start) / 1e9, "ok": len(ok), "attempted": len(log),
            "failed": len(log) - len(ok), "latency_p50_ms": kinds_geomean(by_op, p50),
            "latency_tail": pooled, "per_op": per_op}


def _concurrently(fn, n: int = SERVE_CLIENTS) -> None:
    """Run ``fn(i)`` for each client index on its own thread; re-raise
    the first failure."""
    errors: list[BaseException] = []

    def body(i: int) -> None:
        try:
            fn(i)
        except Exception as ex:  # noqa: BLE001 — re-raised by the caller below
            errors.append(ex)

    threads = [threading.Thread(target=body, args=(i,)) for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]


# -- serving --------------------------------------------------------------


def serve_blocks(seconds: float) -> int:
    """Whole blocks of the read mix per read client: fixed work, so every
    run holds the exact mix (a block takes a client about 7 s)."""
    return max(1, round(seconds / 5))


def write_batches(seconds: float) -> int:
    """Write batches of the ingest client: fixed work, so two commits end
    at the same history size."""
    return gen.INGEST_SYMBOLS * max(1, round(seconds / 10))


def serving(seed: int, seconds: float, trace: bool, work: str) -> dict:
    """Two measured phases on one server: 3 read clients run whole
    blocks of the read mix; then 1 writer appends tick batches through
    the rollup trigger while 1 reader sends ``PAIRS_PER_WRITE`` pairs of
    ``ingest_tail`` and ``rollup_tail`` per write, on the symbol being
    appended.  The phases run one after the other so neither's latencies
    carry the other's load."""
    history = gen.ingest_seed(seed)
    batches = gen.ingest_batches(seed, history, write_batches(seconds))
    blocks = serve_blocks(seconds)
    seqs = [gen.serve_requests(seed, client=i, blocks=blocks) for i in range(SERVE_CLIENTS)]
    t_setup = time.perf_counter()
    srv = Server(seed, trace, work)
    try:
        # warm-up: one block of the read mix, spread over the read clients;
        # the ingest path was warmed by seeding through the trigger
        warm = gen.serve_requests(seed, client=SERVE_CLIENTS, blocks=1)
        _concurrently(lambda i: [call(_clients(srv.url, WARM_CLIENTS + i), r)
                                 for r in warm[i::SERVE_CLIENTS]])
        setup_s = time.perf_counter() - t_setup

        logs: list[list] = [[] for _ in range(SERVE_CLIENTS)]

        def client(i: int) -> None:
            cl = _clients(srv.url, i)
            for req in seqs[i]:
                _timed(cl, req, logs[i], keep=True)

        t_start = time.perf_counter_ns()
        _concurrently(client)
        t_reads = time.perf_counter_ns()

        wlog: list = []
        rlog: list = []
        started = [0]  # writes sent, then writes answered
        answered = [0]
        sent = threading.Condition()

        def writer() -> None:
            cl = _clients(srv.url, SERVE_CLIENTS)
            try:
                for sym, b in batches:
                    with sent:
                        started[0] += 1
                        sent.notify_all()
                    _timed(cl, {"op": "write", "symbols": [sym], "batch": b}, wlog, keep=False)
                    answered[0] += 1
            finally:
                with sent:  # never leave the reader waiting
                    started[0] = len(batches)
                    sent.notify_all()

        def reader() -> None:
            # a fixed number of read pairs, PAIRS_PER_WRITE of them once
            # each write is sent, so every run sends the same requests
            cl = _clients(srv.url, SERVE_CLIENTS + 1)
            for j in range(PAIRS_PER_WRITE * len(batches)):
                with sent:
                    sent.wait_for(lambda: started[0] > j // PAIRS_PER_WRITE)
                for op in ("ingest_tail", "rollup_tail"):
                    req = {"op": op, "symbols": [batches[j // PAIRS_PER_WRITE][0]],
                           "answered": answered[0]}
                    _timed(cl, req, rlog, keep=op == "ingest_tail")
                    req["started"] = started[0]

        _concurrently(lambda i: (writer, reader)[i](), 2)
        t_end = time.perf_counter_ns()
        log = [r for lg in logs for r in lg] + wlog + rlog

        # history after each answered write; a read saw one of the states
        # between the writes answered before it and those sent by its end
        states = [dict(history)]
        for r, (sym, b) in zip(wlog, batches):
            st = dict(states[-1])
            if r["ok"]:
                st[sym] = pd.concat([st[sym], b], ignore_index=True)
            states.append(st)
        for r in rlog:
            if r["op"] == "ingest_tail" and r["ok"]:
                q = r["req"]
                checks.check_tail_any([states[k] for k in range(q["answered"], q["started"] + 1)],
                                      q["symbols"][0], r["reply"])
        acked = states[-1]
        keys = [f"{s}/{gen.TICK}" for s in acked]
        keys += [f"{s}/{tf}/TICK" for s in acked for tf in gen.ROLLUP_TFS]
        with ThreadPoolExecutor(SERVE_CLIENTS) as ex:
            back = dict(zip(keys, ex.map(
                lambda k: _clients(srv.url, CHECK_CLIENT)["msgpack"].query(k)[k], keys)))
        fine = {s: back[f"{s}/{gen.TICK}"] for s in acked}
        rollups = {f"{s}/{tf}": back[f"{s}/{tf}/TICK"] for s in acked for tf in gen.ROLLUP_TFS}
    finally:
        srv.stop()

    data = gen.serve_catalog(seed)
    for lg in logs:
        for r in lg:
            if r["ok"]:
                checks.check_serve(data, r["req"], r["reply"])
    checks.check_ingest(acked, fine, rollups)
    for r in wlog:
        r["req"] = None  # the batches are not needed past the checks

    s = _summary(log, t_start, t_end)
    s["read_phase_s"] = (t_reads - t_start) / 1e9
    s["ingest_phase_s"] = (t_end - t_reads) / 1e9
    reads = [r for lg in logs for r in lg if r["ok"]]
    out = {
        "setup_s": setup_s,
        "ops_per_s": s["ok"] / s["seconds"],
        "rows_per_s": sum(_rows(r["reply"]) for r in reads) / s["read_phase_s"],
        "rows_in_per_s": gen.INGEST_BATCH_ROWS * sum(r["ok"] for r in wlog) / s["ingest_phase_s"],
        "summary": s,
        "server": srv.ready,
        "log": log,
    }
    if trace:
        out["server_trace"] = srv.spans()
    return out
