"""Server process of the serving workload.

Builds the catalog from the seed, optionally installs the traced run's
layer wrappers, then calls ``serve_background`` and prints one
``PERFBENCH_READY {json}`` line.  It serves until its stdin closes,
then (traced run) writes the spans and the Spark counters of every
request to ``--spans-out``.

    python3 perfbench/launcher.py --seed 1 --root .perfbench/cat --trace 0
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import gen, sparkstats  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402


def dir_bytes(root: str) -> int:
    total = 0
    for r, _dirs, files in os.walk(root):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(r, f))
            except FileNotFoundError:
                pass
    return total


def seed_catalog(spark, root: str, seed: int):
    """Write every seeded bucket through ``Catalog.write``, four at a
    time.  The 32 read buckets are written before the rollup trigger is
    registered: the read mix never touches their rollups, and building
    them would only lengthen set-up.  The ingest buckets' history is
    written through the trigger, so every rollup bucket exists and the
    write path is warm before the measured writes."""
    from marketstore_spark.catalog import Catalog
    from marketstore_spark.triggers import OnDiskAggTrigger, TriggerRegistry

    cat = Catalog(spark, root)

    def write(item):
        sym, pdf = item
        cat.write(f"{sym}/{gen.TICK}", spark.createDataFrame(pdf))

    with ThreadPoolExecutor(4) as ex:
        list(ex.map(write, gen.serve_catalog(seed).items()))
        reg = TriggerRegistry()
        reg.register(f"*/{gen.TICK}", OnDiskAggTrigger(cat, list(gen.ROLLUP_TFS)))
        cat.triggers = reg
        list(ex.map(write, gen.ingest_seed(seed).items()))
    return cat


def install_tracing(tracer: Tracer, spark, root: str) -> None:
    """Wrap each layer's public entry points (see NOTES.md, layers)."""
    import pyarrow.parquet as pq

    from marketstore_spark import server, txn
    from marketstore_spark.catalog import Catalog, TimeBucketKey
    from marketstore_spark.client import Client, DataSet
    from marketstore_spark.plans.sqlfront import MarketSQL
    from marketstore_spark.triggers import OnDiskAggTrigger

    sc = spark.sparkContext
    groups = iter(range(1, 1 << 62))

    def service(method):
        fn = getattr(server.DataService, method)

        def traced(self, params):
            gid = f"pb-{next(groups)}"
            sc.setJobGroup(gid, "perfbench request")
            before = dir_bytes(root) if method == "Write" else 0
            try:
                with tracer.span("server.service", method=method, group=gid) as sp:
                    return fn(self, params)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                if method == "Write":
                    sp["bytes_added"] = dir_bytes(root) - before
                    sp["user_bytes"] = sum(
                        len(r["data"]["columns"].get("ts", ())) * 8
                        * len(r["data"]["columns"])
                        for r in params.get("requests", [])
                    )

        setattr(server.DataService, method, traced)

    for m in ("Query", "SQL", "Write"):
        service(m)

    def keys(sp, args, kwargs):
        sp["keys"] = len(args[1].keys())

    def files(sp, result, args, kwargs):
        path = TimeBucketKey(args[1]).path(root)
        version = args[2] if len(args) > 2 else kwargs.get("version")
        sp["files"] = len(txn.data_files(path, version)) if txn.is_versioned(path) else 0

    def rewritten(sp, result, args, kwargs):
        path = TimeBucketKey(args[1]).path(root)
        sp["rows_rewritten"] = sum(
            pq.read_metadata(f).num_rows for f in txn.data_files(path)
        )

    tracer.wrap(Client, "query", "client.plan", before=keys)
    tracer.wrap(DataSet, "df", "client.collect")
    tracer.wrap(server, "_column_series", "server.encode")
    tracer.wrap(MarketSQL, "sql", "sqlfront.plan")
    tracer.wrap(Catalog, "read", "catalog.read", after=files)
    tracer.wrap(Catalog, "write", "catalog.write")
    tracer.wrap(Catalog, "delete_range", "catalog.delete_range", after=rewritten)
    tracer.wrap(txn, "stage_files", "txn.stage")
    tracer.wrap(txn, "publish", "txn.publish")
    tracer.wrap(OnDiskAggTrigger, "fire", "triggers.fire")

    handler = server._Handler  # noqa: SLF001
    send_header, reply = handler.send_header, handler._reply  # noqa: SLF001

    def traced_send_header(self, key, value):
        cur = tracer.current()
        if cur is not None and key == "Content-Length":
            cur["bytes"] = int(value)
        return send_header(self, key, value)

    def traced_reply(self, rid, result=None, error=None):
        with tracer.span("server.reply", error=error is not None):
            reply(self, rid, result=result, error=error)
        tracer.flush(rid)

    handler.send_header = traced_send_header
    handler._reply = traced_reply  # noqa: SLF001


def counters(spark, tracer: Tracer) -> dict[str, dict]:
    """Spark counters per request group, read once the run is over."""
    time.sleep(0.5)  # let the listener bus deliver the last stage events
    sc = spark.sparkContext
    stages = sparkstats.stage_table(sc)
    return {
        sp["group"]: sparkstats.group_counters(sc, sp["group"], stages)
        for sp in tracer.spans
        if sp["name"] == "server.service"
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--root", required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--spans-out")
    a = ap.parse_args()

    from marketstore_spark.server import serve_background

    t0 = time.perf_counter()
    spark = sparkstats.get_session("perfbench-serving", c1_only=True)
    t_session = time.perf_counter() - t0
    cat = seed_catalog(spark, a.root, a.seed)
    t_catalog = time.perf_counter() - t0 - t_session
    tracer = Tracer()
    if a.trace:
        install_tracing(tracer, spark, a.root)
    srv, _thread = serve_background(cat)
    ready = {
        "port": srv.server_address[1],
        "session_s": t_session,
        "catalog_s": t_catalog,
        "catalog_bytes": dir_bytes(a.root),
    }
    print("PERFBENCH_READY " + json.dumps(ready), flush=True)
    try:
        sys.stdin.read()  # serve until the load process closes our stdin
    finally:
        srv.shutdown()
        srv.server_close()
        if a.trace and a.spans_out:
            out = {"spans": tracer.spans, "spark": counters(spark, tracer)}
            with open(a.spans_out, "w") as fh:
                json.dump(out, fh)
        sparkstats.stop(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())
