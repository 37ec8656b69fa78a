"""Traced-run instruments: in-memory spans, the Spark event-log parse and
the single-process langid kernel phase timings.

Spans are recorded by the benchmark around each layer call it makes; each
span also names the Spark job group its jobs run under, so the event log
can be cut per layer. Nothing here runs in an untraced run.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from pathlib import Path

import numpy as np


class Tracer:
    """Spans kept in memory (name, start, end, parent, run id) and written
    out once, at the end of the run."""

    def __init__(self, run_id: str, spark=None):
        self.run_id = run_id
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, job_group: bool = True):
        """Record a span; with `job_group`, Spark jobs started inside it run
        under a job group of the same name."""
        sc = self.spark.sparkContext if job_group and self.spark is not None else None
        rec = {"name": name, "start": time.monotonic(), "end": None,
               "parent": self.spans[self._stack[-1]]["name"] if self._stack else None,
               "run_id": self.run_id}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        if sc is not None:
            sc.setJobGroup(name, name)
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            if sc is not None:
                outer = self.spans[self._stack[-1]]["name"] if self._stack else "untraced"
                sc.setJobGroup(outer, outer)

    def seconds(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.spans, indent=1))


# ------------------------------------------------------------ event log ----

class EventLog:
    """Per-stage task metrics from an uncompressed Spark event log, grouped
    by the job group each stage ran under."""

    def __init__(self, log_dir: Path):
        self.stage_group: dict[int, str] = {}
        self.tasks: dict[int, list[dict]] = {}
        self.accum: dict[int, dict[str, float]] = {}
        files = [f for f in log_dir.rglob("events_*") if f.is_file()]
        for f in files:
            with f.open(encoding="utf-8", errors="replace") as fh:
                for line in fh:
                    self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id", "")
            for sid in e.get("Stage IDs", []):
                self.stage_group[sid] = group
        elif ev == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            rd = m.get("Shuffle Read Metrics", {})
            self.tasks.setdefault(e["Stage ID"], []).append({
                "s": (info["Finish Time"] - info["Launch Time"]) / 1000.0,
                "run_s": m.get("Executor Run Time", 0) / 1000.0,
                "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                "shuffle_write": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                "shuffle_read": rd.get("Local Bytes Read", 0) + rd.get("Remote Bytes Read", 0),
            })
        elif ev == "SparkListenerStageCompleted":
            acc = self.accum.setdefault(e["Stage Info"]["Stage ID"], {})
            for a in e["Stage Info"].get("Accumulables", []):
                try:
                    acc[a["Name"]] = acc.get(a["Name"], 0.0) + float(a["Value"])
                except (KeyError, TypeError, ValueError):
                    pass

    def stages(self, group: str, shuffle_read_only: bool = False) -> list[int]:
        out = [sid for sid, g in self.stage_group.items() if g == group and sid in self.tasks]
        if shuffle_read_only:
            out = [sid for sid in out if any(t["shuffle_read"] for t in self.tasks[sid])]
        return sorted(out)

    def task_stats(self, stages: list[int], wall_s: float, cores: int) -> dict[str, float]:
        tasks = [t for sid in stages for t in self.tasks[sid]]
        if not tasks:
            return {"tasks": 0, "task_s_p50": 0.0, "task_s_max": 0.0,
                    "gc_s": 0.0, "core_busy_share": 0.0}
        secs = [t["s"] for t in tasks]
        return {
            "tasks": len(tasks),
            "task_s_p50": statistics.median(secs),
            "task_s_max": max(secs),
            "gc_s": sum(t["gc_s"] for t in tasks),
            "core_busy_share": sum(t["run_s"] for t in tasks) / (wall_s * cores),
        }

    def total(self, stages: list[int], key: str) -> float:
        return float(sum(t[key] for sid in stages for t in self.tasks[sid]))

    def accumulated(self, stages: list[int], name: str) -> float:
        return sum(self.accum.get(sid, {}).get(name, 0.0) for sid in stages)


# ------------------------------------------------------- kernel phases ----

def kernel_phases(texts: list[str], batch_rows: int) -> dict[str, float]:
    """Time the langid kernel in this process, in batches of `batch_rows`,
    with `analyze_batch`'s own call sequence timed call by call, then the
    whole `analyze_batch` call on the same batches. Raises if the phased
    sequence's answers differ from `analyze_batch`'s."""
    from cld2_spark.kernels import text as T
    from cld2_spark.kernels.analyze import BEST_EFFORT_MAX_BYTES, analyze_batch
    from cld2_spark.kernels.crosscheck import crosscheck_batch
    from cld2_spark.kernels.detect import detect_batch
    from cld2_spark.kernels.model import default_model

    model = default_model()
    t = {"normalize": 0.0, "detect": 0.0, "rescue": 0.0, "crosscheck": 0.0, "analyze": 0.0}
    attempted = rescued = 0
    clock = time.perf_counter
    for lo in range(0, len(texts), batch_rows):
        batch = texts[lo:lo + batch_rows]
        c0 = clock()
        nb = T.normalize_batch(batch)
        c1 = clock()
        cache: dict = {}
        out = detect_batch(batch, model, nb=nb, _export_cache=cache)
        c2 = clock()
        short = ((out["text_bytes"] > 0) & (out["text_bytes"] <= BEST_EFFORT_MAX_BYTES)
                 & ((out["summary_lang"] == "un") | ~out["is_reliable"]))
        be_ok = np.zeros(nb.n, dtype=bool)
        if short.any():
            rows = np.flatnonzero(short)
            sub = [batch[i] for i in rows.tolist()]
            if cache:
                be = detect_batch(sub, model, best_effort=True, _stream_cache=(cache, rows))
            else:
                be = detect_batch(sub, model, nb=T.subset_norm_batch(nb, rows), best_effort=True)
            ok = (be["summary_lang"] != "un") & be["is_reliable"]
            out["summary_lang"][rows[ok]] = be["summary_lang"][ok]
            be_ok[rows[ok]] = True
            attempted += len(rows)
            rescued += int(ok.sum())
        c3 = clock()
        cc = crosscheck_batch(batch, model, nb=nb, stream_cache=cache or None)
        c4 = clock()
        ref = analyze_batch(batch, model)
        c5 = clock()
        t["normalize"] += c1 - c0
        t["detect"] += c2 - c1
        t["rescue"] += c3 - c2
        t["crosscheck"] += c4 - c3
        t["analyze"] += c5 - c4
        if not (np.array_equal(out["summary_lang"], ref["summary_lang"])
                and np.array_equal(be_ok, ref["be_ok"])
                and np.array_equal(cc["ft_lang"], ref["ft_lang"])):
            raise RuntimeError("phased kernel sequence disagrees with analyze_batch")
    return {
        "kernels.text.normalize_s": t["normalize"],
        "kernels.detect.detect_s": t["detect"],
        "kernels.analyze.rescue_s": t["rescue"],
        "kernels.crosscheck.crosscheck_s": t["crosscheck"],
        "kernels.analyze.analyze_s": t["analyze"],
        "kernels.analyze.rescue_rows": float(attempted),
        "kernels.analyze.rescue_ok_ratio": rescued / attempted if attempted else 0.0,
    }


def scrub_ratios(texts) -> dict[str, float]:
    """Share of rows passing `kernels/scrub.py`'s guard pre-tests ('@' for
    the email pattern, a digit for the others), and the share of those
    the PII patterns actually change."""
    from cld2_spark.kernels.scrub import scrub_pandas

    guard = texts.str.contains("@", regex=False) | texts.str.contains("[0-9]")
    changed = scrub_pandas(texts[guard]) != texts[guard]
    n_guard = int(guard.sum())
    return {
        "kernels.scrub.guard_pass_ratio": n_guard / max(1, len(texts)),
        "kernels.scrub.regex_hit_ratio": int(changed.sum()) / n_guard if n_guard else 0.0,
    }
