"""Summarise the stored run records under .perfbench/results/.

    python3 perfbench/report.py

Per workload: each end-to-end metric's median over the untraced runs,
its spread (quartile distance over median, as ``statistics.quantiles``
gives the quartiles) and the tracing overhead: the median, over seeds
with both runs, of the traced run's own figure minus the untraced one.
Run the untraced and traced runs of a seed one after the other.
"""

from __future__ import annotations

import glob
import json
import os
import statistics

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spread(values: list[float]) -> float:
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main() -> None:
    runs: dict[tuple[str, int], list[dict]] = {}
    for path in sorted(glob.glob(os.path.join(ROOT, ".perfbench", "results", "*-trace[01].json"))):
        with open(path) as fh:
            rec = json.load(fh)
        runs.setdefault((rec["workload"], rec["trace"]), []).append(rec)
    for (workload, trace), recs in sorted(runs.items()):
        if trace:
            continue
        print(f"{workload}: {len(recs)} untraced runs")
        for name in recs[0]["end_to_end"]:
            vals = [r["end_to_end"][name] for r in recs]
            print(f"  {name:18s} median {statistics.median(vals):12.4f}  spread {spread(vals):.3f}")
        # pair each traced run with the untraced run of its seed: host
        # speed drifts between periods by more than the overhead
        untraced = {r["seed"]: r for r in recs}
        pairs = [(r, untraced[r["seed"]]) for r in runs.get((workload, 1), []) if r["seed"] in untraced]
        for name in ("ops_per_s", "latency_p50_ms"):
            if pairs:
                d = statistics.median(t["metrics"][f"trace.{name}"] - u["end_to_end"][name]
                                      for t, u in pairs)
                print(f"  tracing overhead {name}: {d:+.4f} (median of {len(pairs)} same-seed pairs)")


if __name__ == "__main__":
    main()
