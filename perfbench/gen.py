"""Seeded inputs for every workload.

The program under test only ever sees what these functions return: tick
buckets, request sequences, write batches and the analytics tables.  The
same seed gives the same inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

T0 = np.datetime64("2024-01-02T00:00:00", "us")
DAY_US = 86_400_000_000
HOUR_US = 3_600_000_000
TICK = "1Min/TICK"  # attribute group of every generated bucket

# serving, read side: 32 tick buckets of ~100k rows over 5 days
SERVE_SYMBOLS = 32
SERVE_ROWS = 100_000
SERVE_DAYS = 5
# one block of ten requests holds the exact op mix; blocks are shuffled
SERVE_MIX = ["tail"] * 3 + ["range"] * 2 + ["uda"] * 2 + ["sql"] * 2 + ["bulk"]
# Traffic shape: symbol popularity is Zipf with this exponent, and this
# share of windowed requests fall on the most recent day.  Both values
# are unverified choices (no public marketstore query trace was found);
# NOTES.md says so.
ZIPF_S = 1.1
RECENT_DAY_SHARE = 0.7
TAIL_N = 100
SQL_LIMIT = 500

# serving, ingest side: 4 pre-seeded symbols, fixed-size appended batches
INGEST_SYMBOLS = 4
INGEST_SEED_ROWS = 20_000
INGEST_SEED_DAYS = 2
INGEST_BATCH_ROWS = 2_000
INGEST_BATCH_US = 20 * 60_000_000  # each batch covers the next 20 minutes
ROLLUP_TFS = ("5Min", "1H")
ROLLUP_TAIL_N = 10


# the smoke test's size (perfbench/test_smoke.py): every workload in seconds
if os.environ.get("PERFBENCH_SIZE") == "tiny":
    SERVE_SYMBOLS, SERVE_ROWS = 4, 5_000
    INGEST_SEED_ROWS, INGEST_BATCH_ROWS = 1_000, 200


def symbol_names(n: int, prefix: str = "S") -> list[str]:
    return [f"{prefix}{i:02d}" for i in range(n)]


def ticks(
    rng: np.random.Generator,
    n: int,
    start_us: int,
    span_us: int,
    first_event_id: int = 0,
    start_cents: int = 10_000,
) -> pd.DataFrame:
    """``n`` irregular ticks in [start, start + span): ts, value, size,
    event_id.  Prices are whole cents, so every value round-trips
    exactly through parquet, JSON and msgpack."""
    offs = np.sort(rng.integers(0, span_us, n))
    cents = np.maximum(start_cents + np.cumsum(rng.integers(-5, 6, n)), 100)
    return pd.DataFrame(
        {
            "ts": T0 + (start_us + offs).astype("timedelta64[us]"),
            "value": cents / 100.0,
            "size": rng.integers(1, 500, n).astype("int64"),
            "event_id": first_event_id + np.arange(n, dtype="int64"),
        }
    )


def zipf_weights(n: int) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** ZIPF_S
    return w / w.sum()


# -- serving: read side ------------------------------------------------


def serve_catalog(seed: int) -> dict[str, pd.DataFrame]:
    """symbol -> its ~100k-row tick history (row counts vary ±5%)."""
    rng = np.random.default_rng([seed, 1])
    out = {}
    for i, sym in enumerate(symbol_names(SERVE_SYMBOLS)):
        n = int(SERVE_ROWS * rng.uniform(0.95, 1.05))
        out[sym] = ticks(
            rng, n, 0, SERVE_DAYS * DAY_US, first_event_id=i * 10_000_000,
            start_cents=int(rng.integers(2_000, 50_000)),
        )
    return out


def _recent_day(rng: np.random.Generator) -> int:
    """Day index, favouring the most recent one (RECENT_DAY_SHARE)."""
    if rng.random() < RECENT_DAY_SHARE:
        return SERVE_DAYS - 1
    return int(rng.integers(0, SERVE_DAYS - 1))


def serve_requests(seed: int, client: int, blocks: int) -> list[dict]:
    """One client's request sequence: ``blocks`` shuffled blocks of the
    exact SERVE_MIX, symbols drawn Zipf-popular."""
    rng = np.random.default_rng([seed, 2, client])
    syms = symbol_names(SERVE_SYMBOLS)
    popularity = rng.permutation(SERVE_SYMBOLS)  # which symbol is hot
    weights = zipf_weights(SERVE_SYMBOLS)

    def pick(k: int = 1) -> list[str]:
        idx = rng.choice(SERVE_SYMBOLS, size=k, replace=False, p=weights)
        return [syms[popularity[i]] for i in idx]

    out = []
    for _ in range(blocks):
        for op in rng.permutation(SERVE_MIX):
            day_us = _recent_day(rng) * DAY_US
            if op == "tail":
                out.append({"op": op, "symbols": pick()})
            elif op == "range":
                start = day_us + int(rng.integers(0, 23)) * HOUR_US
                out.append(
                    {"op": op, "symbols": sorted(pick(3)),
                     "start_us": start, "end_us": start + HOUR_US - 1}
                )
            elif op == "uda":
                out.append(
                    {"op": op, "symbols": pick(),
                     "start_us": day_us, "end_us": day_us + DAY_US - 1}
                )
            elif op == "sql":
                start = (SERVE_DAYS - 1) * DAY_US + int(rng.integers(0, 23)) * HOUR_US
                out.append({"op": op, "symbols": pick(), "start_us": start})
            else:
                out.append({"op": "bulk", "symbols": pick()})
    return out


# -- serving: ingest side ----------------------------------------------


def ingest_seed(seed: int) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng([seed, 3])
    return {
        sym: ticks(
            rng, INGEST_SEED_ROWS, 0, INGEST_SEED_DAYS * DAY_US,
            first_event_id=i * 10_000_000,
            start_cents=int(rng.integers(2_000, 50_000)),
        )
        for i, sym in enumerate(symbol_names(INGEST_SYMBOLS, "W"))
    }


def ingest_batches(seed: int, history: dict[str, pd.DataFrame], n: int) -> list[tuple[str, pd.DataFrame]]:
    """``n`` append batches, round-robin over the seeded symbols, each
    covering the 20 minutes after that symbol's previous rows."""
    rng = np.random.default_rng([seed, 4])
    syms = sorted(history)
    next_us = {s: INGEST_SEED_DAYS * DAY_US for s in syms}
    next_id = {s: int(history[s]["event_id"].max()) + 1 for s in syms}
    last_cents = {s: int(round(history[s]["value"].iloc[-1] * 100)) for s in syms}
    out = []
    for i in range(n):
        s = syms[i % len(syms)]
        b = ticks(rng, INGEST_BATCH_ROWS, next_us[s], INGEST_BATCH_US,
                  first_event_id=next_id[s], start_cents=last_cents[s])
        next_us[s] += INGEST_BATCH_US
        next_id[s] += INGEST_BATCH_ROWS
        last_cents[s] = int(round(b["value"].iloc[-1] * 100))
        out.append((s, b))
    return out


# -- analytics_batch ----------------------------------------------------

# row counts of the generated tables (the shapes of sf0.1's lineitem,
# events and documents, scaled by ANALYTICS_SCALE)
ANALYTICS_SCALE = 0.1
EVENTS_ROWS = 100_000
EVENTS_USERS = 1_500
LINEITEM_ROWS = 600_000
DOCUMENTS_ROWS = 5_000
DUP_SHARE = 0.05  # documents that are exact copies of an earlier one
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()


def analytics_tables(seed: int) -> dict[str, pd.DataFrame]:
    """lineitem, events and documents — every table the analytics keys
    read — with the column names and types their oracles expect."""
    rng = np.random.default_rng([seed, 5])
    n = int(EVENTS_ROWS * ANALYTICS_SCALE)
    gaps = rng.exponential(26.0, n) * 1e6
    events = pd.DataFrame(
        {
            "event_id": np.arange(n, dtype="int64"),
            "ts": np.datetime64("2024-01-01T00:00:00", "us")
            + np.cumsum(gaps).astype("int64").astype("timedelta64[us]"),
            "user_id": rng.integers(0, int(EVENTS_USERS * ANALYTICS_SCALE), n).astype("int64"),
            "event_type": rng.choice(["view", "click", "purchase", "signup", "error"], n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )
    n = int(LINEITEM_ROWS * ANALYTICS_SCALE)
    days = rng.integers(0, 2498, n).astype("timedelta64[D]")
    lineitem = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n // 4, n).astype("int64"),
            "l_partkey": rng.integers(0, 20_000, n).astype("int64"),
            "l_suppkey": rng.integers(0, 1_000, n).astype("int64"),
            "l_linenumber": rng.integers(1, 8, n).astype("int32"),
            "l_quantity": rng.integers(1, 51, n).astype("float64"),
            "l_extendedprice": rng.integers(90_000, 10_500_000, n) / 100.0,
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": rng.choice(["N", "R", "A"], n),
            "l_linestatus": rng.choice(["F", "O"], n),
            "l_shipdate": (np.datetime64("1995-01-02", "D") + days).astype("datetime64[us]"),
        }
    )
    n = int(DOCUMENTS_ROWS * ANALYTICS_SCALE)
    # a fixed share of exact copies of earlier originals, tagged ' dup',
    # and the originals' lengths a fixed set of 10..100 words in seeded
    # order: every seed gives the same amount of text to dedup
    dup_at = set(rng.choice(np.arange(21, n), round(DUP_SHARE * n), replace=False).tolist())
    lengths = iter(rng.permutation(np.linspace(10, 100, n - len(dup_at)).round().astype(int)))
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n):
        if i in dup_at:
            texts.append(texts[originals[int(rng.integers(0, len(originals)))]] + " dup")
        else:
            originals.append(i)
            texts.append(" ".join(rng.choice(WORDS, next(lengths))))
    documents = pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype="int64"),
            "text": texts,
            "lang": rng.choice(["en", "zh", "es", "fr", "de"], n, p=[0.41, 0.15, 0.15, 0.15, 0.14]),
            "source": [f"src{k}" for k in rng.integers(0, 20, n)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )
    return {"events": events, "lineitem": lineitem, "documents": documents}
