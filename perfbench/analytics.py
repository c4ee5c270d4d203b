"""analytics_batch: one process runs a fixed list of registered
analytics keys over generated tables, forced through the noop sink the
way ``bench.py`` forces them, and checks each key against its DuckDB
oracle."""

from __future__ import annotations

import os
import time

from perfbench import gen, sparkstats
from perfbench.stats import geomean, kinds_geomean, tail
from perfbench.trace import Tracer

# one key per engine shape: scan+aggregate, candler exchange, grouping
# sets, as-of join, applyInPandas Arrow hop, windows, set-similarity
# dedup, minhash, the shared-aggregate barrier, connected components and
# the blocked gram
KEYS = [
    "q1_pricing_summary",
    "tickcandler",
    "rollup_cascade",
    "asof_join",
    "ema",
    "mfi",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "corpus_dsir_weights_hashed",
    "corpus_dedup_funnel",
    "pairwise_corr",
]


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def write_tables(tables: dict, sf_dir: str) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    for name, pdf in tables.items():
        pdf.to_parquet(os.path.join(sf_dir, f"{name}.parquet"), index=False)


def check_oracles(sf_dir: str, results: dict) -> None:
    """Each key's Spark result against its DuckDB oracle, compared the
    way the oracle-parity tests compare them."""
    import duckdb
    from tests.test_oracle_parity import _compare

    from marketstore_spark.queries import ORACLE_SQL

    con = duckdb.connect()
    for t in ("lineitem", "events", "documents"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    for k, pdf in results.items():
        if len(pdf) == 0:
            raise AssertionError(f"{k}: empty result")
        _compare(k, pdf, con.execute(ORACLE_SQL[k]).df())
    con.close()


def suite_passes(seconds: float) -> int:
    """Fixed work: timed passes of the key list, one more than one per
    10 s of ``--seconds`` (a settled pass takes about 9 s on 4 cores).
    The JIT is still settling during the first, so every figure takes
    each key's fastest pass, as ``bench.py`` reports a min-of-3."""
    return 1 + max(1, round(seconds / 10))


def analytics_batch(seed: int, seconds: float, trace: bool, work: str) -> dict:
    from marketstore_spark.queries import SPARK_QUERIES

    t_setup = time.perf_counter()
    spark = sparkstats.get_session("perfbench-analytics")
    sc = spark.sparkContext
    try:
        tables = gen.analytics_tables(seed)
        sf_dir = os.path.join(work, "tables")
        write_tables(tables, sf_dir)
        # the cold pass collects the results the oracles check
        results = {}
        for k in KEYS:
            results[k] = SPARK_QUERIES[k](spark, sf_dir).toPandas()
            spark.catalog.clearCache()
        setup_s = time.perf_counter() - t_setup

        tracer = Tracer()
        passes: list[dict] = []
        for _ in range(suite_passes(seconds)):
            run = {}
            for k in KEYS:
                if trace:
                    sc.setJobGroup(f"key-{k}-{len(passes)}", "perfbench key")
                with tracer.span("queries.plan", key=k) as plan:
                    df = SPARK_QUERIES[k](spark, sf_dir)
                with tracer.span("queries.exec", key=k) as ex:
                    _force(df)
                tracer.flush(f"{k}-{len(passes)}")
                spark.catalog.clearCache()
                run[k] = {"plan_s": (plan["end"] - plan["start"]) / 1e9,
                          "exec_s": (ex["end"] - ex["start"]) / 1e9}
            if trace:
                sc.setLocalProperty("spark.jobGroup.id", None)
            passes.append(run)
        spark_counters = None
        if trace:
            time.sleep(0.5)  # let the listener bus deliver the last stage events
            stages = sparkstats.stage_table(sc)
            spark_counters = {
                k: sparkstats.group_counters(sc, f"key-{k}-{len(passes) - 1}", stages)
                for k in KEYS
            }
    finally:
        sparkstats.stop(spark)

    check_oracles(sf_dir, results)

    # every figure takes each key's fastest pass; its slowest pass gives
    # the (ungated) tail
    per_key = {k: {m: min(p[k][m] for p in passes) for m in ("plan_s", "exec_s")} for k in KEYS}
    lat = {k: [(p[k]["plan_s"] + p[k]["exec_s"]) * 1e3 for p in passes] for k in KEYS}
    best = {k: min(v) for k, v in lat.items()}
    total_s = sum(best.values()) / 1e3
    return {
        "setup_s": setup_s,
        "ops_per_s": len(KEYS) / total_s,
        # the batch's input: every row of the tables, once
        "rows_per_s": sum(len(t) for t in tables.values()) / total_s,
        "summary": {
            "passes": len(passes),
            "attempted": len(KEYS) * len(passes),
            "failed": 0,
            "latency_p50_ms": geomean(best.values()),
            "latency_tail_ms": kinds_geomean(lat, lambda v: tail(v)["value"]),
            "suite_s": sum(v["exec_s"] for v in per_key.values()),
            "plan_s": sum(v["plan_s"] for v in per_key.values()),
            "per_key": per_key,
            "pass_ms": lat,
        },
        "spark": spark_counters,
        "spans": tracer.spans,
    }
