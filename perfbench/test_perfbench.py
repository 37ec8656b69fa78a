"""Self-checks of the benchmark. From the repository root:

    python3 -m pytest perfbench -q

The smoke runs start Spark (about a minute each on 4 vCPUs).
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest
from py4j.protocol import Py4JJavaError

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]

import run  # noqa: E402
import workloads as W  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


@pytest.fixture(scope="module")
def corpus():
    return W.default_corpus()


@pytest.mark.parametrize("workload", W.WORKLOADS)
def test_generator_is_deterministic_per_seed(workload, corpus):
    a = W.generate(workload, 7, scale=0.1, corpus=corpus)
    b = W.generate(workload, 7, scale=0.1, corpus=corpus)
    assert a.equals(b)


@pytest.mark.parametrize("workload", W.WORKLOADS)
def test_seeds_change_text_not_shape(workload, corpus):
    a = W.generate(workload, 7, scale=0.1, corpus=corpus)
    b = W.generate(workload, 8, scale=0.1, corpus=corpus)
    assert (a["text"] != b["text"]).mean() > 0.5
    sa, sb = W.shape_stats(a), W.shape_stats(b)
    assert abs(sa.pop("share_distinct") - sb.pop("share_distinct")) < 0.01
    assert sa == sb


def test_benchmark_json_names_match_the_printed_metrics():
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in SPEC["workloads"]} == set(W.WORKLOADS)
    assert SPEC["command"] == ["python3", "perfbench/run.py"]


def _run(workload: str, trace: int, scale: float) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", str(scale)],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload,trace,scale", [("chat_mixed", 0, 0.05),
                                                  ("agent_logs", 1, 0.1)])
def test_tiny_smoke_run(workload, trace, scale):
    res = _run(workload, trace, scale)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {m["name"]: m["unit"] for m in spec}


@pytest.mark.xfail(strict=True, raises=Py4JJavaError, reason="run_resumable raises when a bucket group "
                   "of a file source has no rows: the Observation gets no row")
def test_run_resumable_handles_an_empty_bucket_group(tmp_path):
    from cld2_spark.pipeline.run import run_resumable
    from cld2_spark.session import get_spark
    from cld2_spark.sources.transcripts import read_transcripts

    W.write_table(W.generate("agent_logs", 1, scale=0.002), tmp_path / "in", n_files=1)
    spark = get_spark("perfbench-empty-group", cores=2, shuffle_partitions=2)
    try:
        run_resumable(spark, read_transcripts(spark, str(tmp_path / "in")),
                      str(tmp_path / "out"), n_buckets=4, buckets_per_commit=1)
    finally:
        spark.stop()
