"""The benchmark's Spark sessions, and the work counters read back from
Spark's own status store.

Jobs of one request or one analytics key are tagged with a job group;
``group_stages`` maps a group to its jobs and stages through the status
tracker, and ``stage_table`` reads per-stage run/CPU/GC/shuffle/spill
figures from the application status store (the 5-argument
``stageList`` form).
"""

from __future__ import annotations

import os

SHUFFLE_PARTITIONS = 8  # pinned for every workload's session


def session_conf(c1_only: bool = False) -> dict[str, str]:
    """Settings every workload's session shares.  The retention limits
    only keep finished jobs/stages readable until the run ends.
    ``c1_only`` stops the JIT at its first tier: a server then runs at
    its settled speed within seconds instead of after ~30 s of load."""
    java = []
    if "TMPDIR" in os.environ:  # native libraries unpack into the JVM's temp dir
        java.append(f"-Djava.io.tmpdir={os.environ['TMPDIR']}")
    if c1_only:
        # C1 alone reserves a 48 MB code cache, not the tiered 240 MB; the
        # generated classes of a few hundred queries filled it, and the
        # server then slowed by a quarter within a minute
        java += ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m"]
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    if java:
        conf["spark.driver.extraJavaOptions"] = " ".join(java)
    return conf


def cores() -> int:
    return len(os.sched_getaffinity(0))


def get_session(app: str, c1_only: bool = False):
    from marketstore_spark import get_session as _get

    spark = _get(
        app,
        master=f"local[{cores()}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf=session_conf(c1_only),
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark) -> None:
    """Stop the session and wait for its JVM to exit: the JVM quits when
    its stdin pipe closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    spark.stop()
    if gateway is not None and gateway.proc is not None:
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def group_stages(sc, group: str) -> tuple[int, list[int]]:
    """(number of jobs, stage ids) of one job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages: list[int] = []
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.extend(int(s) for s in info.stageIds)
    return len(jobs), stages


def stage_table(sc) -> dict[int, dict]:
    """stage id -> counters of its latest attempt.  Skipped stages are
    kept with ``ran=False`` and zero work."""
    arr = sc._gateway.new_array(sc._jvm.double, 0)  # noqa: SLF001
    it = sc._jsc.sc().statusStore().stageList(None, False, False, arr, None).iterator()  # noqa: SLF001
    out: dict[int, dict] = {}
    while it.hasNext():
        s = it.next()
        sid, att = int(s.stageId()), int(s.attemptId())
        if sid in out and out[sid]["attempt"] > att:
            continue
        out[sid] = {
            "attempt": att,
            "ran": s.status().toString() != "SKIPPED",
            "tasks": int(s.numCompleteTasks()),
            "run_ms": float(s.executorRunTime()),
            "cpu_ms": s.executorCpuTime() / 1e6,
            "gc_ms": float(s.jvmGcTime()),
            "shuffle_write_bytes": float(s.shuffleWriteBytes()),
            "spill_bytes": float(s.diskBytesSpilled() + s.memoryBytesSpilled()),
        }
    return out


def group_counters(sc, group: str, stages: dict[int, dict]) -> dict:
    """jobs / stages run / tasks and summed stage counters of a group."""
    njobs, ids = group_stages(sc, group)
    ran = [stages[i] for i in set(ids) if i in stages and stages[i]["ran"]]
    out = {"jobs": njobs, "stages": len(ran), "tasks": sum(s["tasks"] for s in ran)}
    for k in ("run_ms", "cpu_ms", "gc_ms", "shuffle_write_bytes", "spill_bytes"):
        out[k] = sum(s[k] for s in ran)
    return out
