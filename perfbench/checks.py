"""Output checks, run after the timed region.

Each check compares one reply with what the generator's own arrays say
it must be, and raises ``CheckError`` on the first difference.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from perfbench import gen

T0_NS = int(gen.T0.astype("int64")) * 1000


class CheckError(AssertionError):
    pass


def ns(offset_us: int) -> int:
    return T0_NS + int(offset_us) * 1000


def ts_ns(frame: pd.DataFrame) -> np.ndarray:
    return frame["ts"].to_numpy().astype("datetime64[ns]").astype("int64")


def _expect(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckError(msg)


def _rows(series: dict) -> int:
    return len(next(iter(series.values()))) if series else 0


def _in_range(frame: pd.DataFrame, start_ns: int | None, end_ns: int | None) -> pd.DataFrame:
    t = ts_ns(frame)
    keep = np.ones(len(frame), bool)
    if start_ns is not None:
        keep &= t >= start_ns
    if end_ns is not None:
        keep &= t <= end_ns
    return frame[keep]


def candles(frame: pd.DataFrame, tf: str) -> pd.DataFrame:
    """tickcandler in pandas: open/close by (ts, event_id), high/low."""
    width = {"5Min": 300, "1H": 3600}[tf] * 1_000_000_000
    f = frame.assign(t=ts_ns(frame)).sort_values(["t", "event_id"])
    f["epoch"] = f["t"] // width * width
    g = f.groupby("epoch", sort=True)["value"]
    return pd.DataFrame(
        {"open": g.first(), "high": g.max(), "low": g.min(), "close": g.last()}
    ).reset_index()


def _same_candles(got: dict, want: pd.DataFrame, what: str) -> None:
    _expect(_rows(got) == len(want), f"{what}: {_rows(got)} candles, want {len(want)}")
    order = np.argsort(np.asarray(got["epoch"], dtype="int64"), kind="stable")
    for c in ("epoch", "open", "high", "low", "close"):
        g = np.asarray(got[c])[order]
        _expect(np.array_equal(g, want[c].to_numpy()), f"{what}: column {c} differs")


def tick_tail(frame: pd.DataFrame, n: int) -> pd.DataFrame:
    return frame.assign(t=ts_ns(frame)).sort_values(["t", "event_id"]).tail(n)


def check_serve(data: dict[str, pd.DataFrame], req: dict, reply: dict) -> None:
    """One read reply of the serving workload against the generated
    catalog."""
    op, syms = req["op"], req["symbols"]
    key = f"{syms[0]}/{gen.TICK}"
    if op == "sql":
        got = reply["responses"][0]["result"]
        f = _in_range(data[syms[0]], ns(req["start_us"]), None)
        _expect(_rows(got) == min(gen.SQL_LIMIT, len(f)), f"sql: {_rows(got)} rows")
        t = np.asarray(got["ts"], dtype="int64")
        _expect(bool((t >= ns(req["start_us"])).all()), "sql: row before the WHERE bound")
        have = set(zip(ts_ns(f).tolist(), f["value"].tolist()))
        _expect(all(p in have for p in zip(t.tolist(), got["value"])), "sql: row not in bucket")
        return
    if op == "range":
        _expect(sorted(reply) == sorted(f"{s}/{gen.TICK}" for s in syms), "range: keys differ")
        for s in syms:
            f = _in_range(data[s], ns(req["start_us"]), ns(req["end_us"]))
            got = reply[f"{s}/{gen.TICK}"]
            _expect(_rows(got) == len(f), f"range {s}: {_rows(got)} rows, want {len(f)}")
            _expect(
                sorted(got["event_id"]) == sorted(f["event_id"].tolist()),
                f"range {s}: event ids differ",
            )
        return
    got = reply[key]
    frame = data[syms[0]]
    if op == "tail":
        want = tick_tail(frame, gen.TAIL_N)
        _expect(_rows(got) == len(want), f"tail: {_rows(got)} rows")
        _expect(list(got["ts"]) == want["t"].tolist(), "tail: ts differ")
        for c in ("value", "size", "event_id"):
            _expect(list(got[c]) == want[c].tolist(), f"tail: {c} differs")
    elif op == "uda":
        f = _in_range(frame, ns(req["start_us"]), ns(req["end_us"]))
        _same_candles(got, candles(f, "5Min"), "uda")
    elif op == "bulk":
        _expect(_rows(got) == len(frame), f"bulk: {_rows(got)} rows, want {len(frame)}")
        t = np.asarray(got["ts"], dtype="int64")
        _expect(bool((np.diff(t) >= 0).all()), "bulk: ts not ascending")
        _expect(
            np.array_equal(np.sort(np.asarray(got["event_id"])), frame["event_id"].to_numpy()),
            "bulk: event ids differ",
        )
    else:
        raise CheckError(f"unknown op {op}")


def check_ingest(history: dict[str, pd.DataFrame], fine: dict[str, dict], rollups: dict[str, dict]) -> None:
    """Every acknowledged tick is readable, and each rollup bucket equals
    the candles recomputed over its fine bucket (the aggtrigger
    idempotency contract)."""
    for sym, frame in history.items():
        got = fine[sym]
        _expect(_rows(got) == len(frame), f"ingest {sym}: {_rows(got)} rows, want {len(frame)}")
        _expect(
            np.array_equal(np.sort(np.asarray(got["event_id"])), np.sort(frame["event_id"].to_numpy())),
            f"ingest {sym}: acknowledged ticks missing",
        )
        for tf in gen.ROLLUP_TFS:
            _same_candles(rollups[f"{sym}/{tf}"], candles(frame, tf), f"rollup {sym}/{tf}")


def check_tail_any(states: list[dict[str, pd.DataFrame]], sym: str, reply: dict) -> None:
    """A tail read taken while writes were in flight equals the tail of
    one of the histories it could have seen."""
    for st in states:
        try:
            check_serve(st, {"op": "tail", "symbols": [sym]}, reply)
            return
        except CheckError:
            pass
    raise CheckError(f"ingest tail {sym}: matches none of {len(states)} possible histories")
