"""Per-query profiling harness (bench.py stays frozen; guide §1).

For each named query: one warm run, then a timed noop-sink run inside its
own job group so the Spark job count is attributable, plus the
`.explain("formatted")` dump. Prints one JSON line per query:

  {"query": name, "sec": t, "n_jobs": j, "warm_sec": t0}

Usage:
  python tools/profile_queries.py [query ...]   # default: bench.BENCH_QUERIES
  CLD2S_PROFILE_PLANS=plans/r07 python tools/profile_queries.py semdedup
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
PLAN_DIR = os.environ.get("CLD2S_PROFILE_PLANS", "")
SUFFIX = os.environ.get("CLD2S_PROFILE_SUFFIX", "before")


def main() -> None:
    import __spark_entry__ as E
    from bench import BENCH_QUERIES
    from cld2_spark.session import get_spark

    names = sys.argv[1:] or BENCH_QUERIES
    qs = E.queries()
    spark = get_spark("profile", cores=CPUS, shuffle_partitions=CPUS)
    sc = spark.sparkContext
    try:
        for name in names:
            fn = qs[name]
            spark.sparkContext.setJobDescription(f"warm:{name}")
            t0 = time.monotonic()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            warm = time.monotonic() - t0
            try:
                from cld2_spark.operators.dedup import release_dedup_caches
                release_dedup_caches(session=spark)
            except Exception:
                pass
            if PLAN_DIR:
                out = Path(REPO / PLAN_DIR)
                out.mkdir(parents=True, exist_ok=True)
                plan = fn(spark, SF_DIR)._jdf.queryExecution() \
                    .explainString(
                        spark._jvm.org.apache.spark.sql.execution
                        .ExplainMode.fromString("formatted"))
                (out / f"{name}_{SUFFIX}.txt").write_text(plan)
            sc.setJobGroup(f"q:{name}", name)
            t0 = time.monotonic()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            sec = time.monotonic() - t0
            jobs = sc.statusTracker().getJobIdsForGroup(f"q:{name}")
            sc.setJobGroup("idle", "idle")
            try:
                from cld2_spark.operators.dedup import release_dedup_caches
                release_dedup_caches(session=spark)
            except Exception:
                pass
            print(json.dumps({"query": name, "sec": round(sec, 3),
                              "n_jobs": len(jobs),
                              "warm_sec": round(warm, 3)}), flush=True)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
