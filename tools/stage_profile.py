"""Stage-level profiler: runs named queries with the Spark event log on,
then reports per-query stage durations and task counts — the tool that
finds stages AQE has coalesced into too few tasks for their compute.
The session comes from `session.get_spark`, as in bench.py, so the
profile sees the bench's configuration.

Usage: python tools/stage_profile.py <query> [query ...]
"""

from __future__ import annotations

import io
import json
import os
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
EVDIR = "/tmp/cld2s_evlog"
MIN_SEC = float(os.environ.get("CLD2S_STAGE_MIN_SEC", "0.25"))


def main() -> None:
    os.makedirs(EVDIR, exist_ok=True)
    for f in Path(EVDIR).glob("*"):
        subprocess.run(["rm", "-rf", str(f)])
    # the bench's session (get_spark), plus the event log: spark-submit
    # reads PYSPARK_SUBMIT_ARGS when the JVM starts
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.eventLog.enabled=true",
        f"--conf spark.eventLog.dir={EVDIR}",
        "--conf spark.eventLog.compress=false",
        os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell")])
    import __spark_entry__ as E
    from cld2_spark.session import get_spark

    spark = get_spark("stage-profile", cores=CPUS, shuffle_partitions=CPUS)
    qs = E.queries()
    sc = spark.sparkContext
    names = sys.argv[1:]
    try:
        for name in names:
            fn = qs[name]
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            try:
                from cld2_spark.operators.dedup import release_dedup_caches
                release_dedup_caches(session=spark)
            except Exception:
                pass
            sc.setJobGroup(f"q:{name}", name)
            t0 = time.monotonic()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            print(f"== {name}: {time.monotonic() - t0:.3f}s", flush=True)
            sc.setJobGroup("idle", "idle")
            try:
                from cld2_spark.operators.dedup import release_dedup_caches
                release_dedup_caches(session=spark)
            except Exception:
                pass
    finally:
        spark.stop()

    # parse the (uncompressed, rolled) event log
    stages: dict = {}
    jobs = []
    files = list(Path(EVDIR).glob("**/events_*")) or list(
        Path(EVDIR).glob("*"))
    for f in files:
        if f.is_dir():
            continue
        for line in io.open(f, encoding="utf-8", errors="replace"):
            try:
                e = json.loads(line)
            except Exception:
                continue
            ev = e.get("Event")
            if ev == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                dur = (si.get("Completion Time", 0)
                       - si.get("Submission Time", 0)) / 1000.0
                stages[si["Stage ID"]] = (dur, si["Number of Tasks"])
            elif ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jobs.append((props.get("spark.jobGroup.id", ""),
                             e.get("Stage IDs", [])))
    for name in names:
        tset: set = set()
        for grp, sids in jobs:
            if grp == f"q:{name}":
                tset.update(sids)
        rows = [(sid, *stages[sid]) for sid in sorted(tset) if sid in stages]
        hot = [(sid, d, nt) for sid, d, nt in rows if d >= MIN_SEC]
        print(f"-- {name}: {len(rows)} stages, "
              f"sum {sum(d for _, d, _ in rows):.2f}s")
        for sid, d, nt in hot:
            flag = "  <== FEW TASKS" if nt <= max(2, CPUS // 8) else ""
            print(f"   stage {sid}: {d:6.2f}s tasks={nt}{flag}")


if __name__ == "__main__":
    main()
