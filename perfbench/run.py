"""Benchmark of the per-turn quality-filter pipeline on one seeded workload.

    python3 perfbench/run.py --workload chat_mixed --seed 1 --seconds 10 --trace 0

Run from the repository root. The command generates the workload's
transcripts table from `--seed`, writes it as parquet under
`.perfbench_work/`, and runs the pipeline on `local[nproc]` with the
session from `cld2_spark.session.get_spark`, reading the table through
`sources.transcripts.read_transcripts`. The load is a closed loop with one
client: each timed run is one pipeline job over the whole table, submitted
after the previous one completes, for `--seconds` seconds. After the timed
runs a seed-derived sample of whole conversations is checked against
`pipeline.oracle.oracle_labels`.

With `--trace 1` the run also restarts the session with the Spark event
log on and measures the per-layer metrics (noop jobs per layer, the
single-process kernel phases and the event-log stage statistics); the
end-to-end metrics of a traced run are not reported.

Stdout ends with two JSON lines: the full record (configuration
fingerprint, input shape, every metric with its unit) and, last, the
result object `{"correct", "attempted", "failed", "metrics"}`.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"

# Metrics in the result object, by mode. BENCHMARK.json lists the same names.
END_TO_END = {"turns_per_s": "1/s", "cpu_ms_per_turn": "ms",
              "python_peak_rss_mb": "MB", "setup_s": "s"}
# End-to-end metrics printed in the record only. The two shares are 0 on a
# healthy run and reach the result object through `correct`, `attempted`
# and `failed`. The whole tree's peak memory is dominated by the JVM heap,
# whose size follows G1's adaptive sizing and differed by a third between
# identical runs, so the gated memory metric is the Python processes' part.
RECORD_ONLY = {"peak_rss_mb": "MB", "verdict_mismatch_share": "share",
               "failed_run_share": "share"}
DROP_REASONS = ("too_short", "langid_unreliable", "low_quality",
                "high_perplexity", "toxicity")
PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s", "kernels.model.load_s": "s",
    "jvm.peak_rss_mb": "MB",
    "sources.scan_s": "s", "sources.scan_tasks": "count",
    "functions.langid.boundary_s": "s", "functions.langid.udf_s": "s",
    "functions.langid.python_bytes_mb": "MB",
    "kernels.text.normalize_s": "s", "kernels.detect.detect_s": "s",
    "kernels.analyze.rescue_s": "s", "kernels.crosscheck.crosscheck_s": "s",
    "kernels.analyze.analyze_s": "s", "kernels.analyze.rescue_rows": "count",
    "kernels.analyze.rescue_ok_ratio": "ratio",
    "kernels.quality.rules_s": "s",
    "kernels.scrub.pii_s": "s", "kernels.scrub.toxicity_s": "s",
    "kernels.scrub.guard_pass_ratio": "ratio", "kernels.scrub.regex_hit_ratio": "ratio",
    "pipeline.decide.keep_share": "share",
    **{f"pipeline.decide.drop.{r}": "count" for r in DROP_REASONS},
    "pipeline.sink.write_s": "s", "pipeline.sink.shuffle_write_mb": "MB",
    "pipeline.run.group_s_max_over_median": "ratio",
    **{f"spark.{part}.{k}": u for part in ("pipeline", "sink")
       for k, u in (("tasks", "count"), ("task_s_p50", "s"), ("task_s_max", "s"),
                    ("gc_s", "s"), ("core_busy_share", "share"))},
    "trace.pipeline_s": "s", "trace.overhead_share": "share",
    "trace.unaccounted_share": "share",
}

JOB_TIMEOUT_S = 90          # a timed job running longer counts as failed
WARMUP_FRACTION = 0.02      # warm-up job input: this share of the table's rows
SETTLE_JOBS = 2             # untimed full-size jobs between set-up and timing
ORACLE_CHARS = 1_000_000    # oracle sample: whole conversations up to this
ORACLE_TURNS = 2_000        # many text characters or turns
KERNEL_CHARS = 4_000_000    # kernel-phase sample: rows up to this many
KERNEL_ROWS = 20_000        # text characters or rows


class JobFailed(RuntimeError):
    pass


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def configure_env(run_dir: Path) -> None:
    """Keep Spark, the JVM and the Python workers inside the checkout, and
    make the package importable in the workers."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell")


def source_sha() -> str:
    """Content hash of the package under test (the checkout may not be a
    git repository)."""
    h = hashlib.sha1()
    pkg = ROOT / "cld2_spark"
    for f in sorted(pkg.rglob("*")):
        if f.is_file() and "__pycache__" not in f.parts:
            h.update(str(f.relative_to(pkg)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()[:12]


def git_sha() -> str | None:
    try:
        out = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None if out.returncode == 0 else None


def fingerprint(spark, workload: str, seed: int, cores: int) -> dict:
    import numpy
    import pandas
    import pyarrow
    return {
        "git_sha": git_sha(), "source_sha": source_sha(), "nproc": cores,
        "master": spark.sparkContext.master,
        "spark": spark.version, "arrow": pyarrow.__version__,
        "pandas": pandas.__version__, "numpy": numpy.__version__,
        "max_records_per_batch": int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")),
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "workload": workload, "seed": seed,
    }


# ------------------------------------------------------------- the job ----

class Workload:
    """The timed job of one workload: the pipeline over the whole table to
    a noop sink, or (agent_logs) through `run_resumable` to parquet."""

    def __init__(self, name: str, table: Path, run_dir: Path, cores: int):
        self.table = table
        self.out_root = run_dir / "out"
        self.cores = cores
        self.resumable = name == "agent_logs"
        self.n_buckets = 2 * cores
        self._runs = 0
        self.outputs: list[Path] = []

    def source(self, spark):
        from cld2_spark.sources.transcripts import read_transcripts
        return read_transcripts(spark, str(self.table))

    def run(self, spark, src) -> None:
        if not self.resumable:
            from cld2_spark.pipeline.stages import run_pipeline
            run_pipeline(src).write.format("noop").mode("overwrite").save()
            return
        from cld2_spark.pipeline.run import run_resumable
        self._runs += 1
        out = self.out_root / f"run{self._runs}"
        run_resumable(spark, src, str(out), n_buckets=self.n_buckets,
                      buckets_per_commit=self.cores)
        self.outputs.append(out)

    @property
    def last_out(self) -> Path:
        return self.outputs[-1]

    def prune(self) -> None:
        """Delete every parquet output but the last (outside timing)."""
        for out in self.outputs[:-1]:
            shutil.rmtree(out, ignore_errors=True)
        del self.outputs[:-1]


def run_job(spark, fn) -> float:
    """Wall seconds of `fn()`; a job still running after JOB_TIMEOUT_S is
    cancelled and counts as failed."""
    timer = threading.Timer(JOB_TIMEOUT_S, spark.sparkContext.cancelAllJobs)
    timer.start()
    t0 = time.perf_counter()
    try:
        fn()
    except Exception as exc:  # a failed job is counted, not fatal
        raise JobFailed(f"{type(exc).__name__}: {exc}"[:500]) from exc
    finally:
        timer.cancel()
    return time.perf_counter() - t0


def start_session(wl: Workload, app: str, cores: int):
    """Session start, input registration and one warm-up job (spawns the
    Python workers, which load the model). Returns (spark, src, timings)."""
    from cld2_spark.session import get_spark
    t0 = time.perf_counter()
    spark = get_spark(app, cores=cores, shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    src = wl.source(spark)
    # the noop pipeline for every workload: a 2% sample of a small table
    # can leave a run_resumable bucket group empty, which that path
    # cannot handle (see test_perfbench's xfail)
    from cld2_spark.pipeline.stages import run_pipeline
    run_pipeline(src.sample(fraction=WARMUP_FRACTION, seed=0)).write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    return spark, src, {"start_s": t1 - t0, "warmup_s": t2 - t1, "setup_s": t2 - t0}


def settle(spark, src, wl: Workload) -> float:
    """SETTLE_JOBS untimed jobs over the whole table: the first full-size
    jobs after a session start pay for JIT compilation and heap growth (in
    a 14-job probe they used 35% more CPU than later ones). Returns their
    wall seconds."""
    t0 = time.perf_counter()
    for _ in range(SETTLE_JOBS):
        wl.run(spark, src)
        wl.prune()
    return time.perf_counter() - t0


def timed_runs(spark, src, wl: Workload, seconds: float) -> dict:
    """The settling jobs, then the closed loop of timed jobs for `seconds`,
    each with its wall and process-tree CPU time."""
    from proctree import PeakMemory, tree_cpu_s

    settle_s = settle(spark, src, wl)
    walls, cpus, errors = [], [], []
    attempted = 0
    mem = PeakMemory(os.getpid())
    mem.start()
    t_end = time.perf_counter() + seconds
    try:
        while attempted == 0 or time.perf_counter() < t_end:
            attempted += 1
            c0 = tree_cpu_s(os.getpid())
            try:
                walls.append(run_job(spark, lambda: wl.run(spark, src)))
                cpus.append(tree_cpu_s(os.getpid()) - c0)
            except JobFailed as exc:
                errors.append(str(exc))
            wl.prune()
    finally:
        mem.stop()
    return {"settle_s": settle_s, "walls": walls, "cpus": cpus,
            "peak_mb": mem.peak_mb, "attempted": attempted, "errors": errors}


# ----------------------------------------------------------- the oracle ----

def oracle_sample(df, workload: str, seed: int):
    """A seed-derived sample of whole conversations, up to ORACLE_CHARS of
    text or ORACLE_TURNS turns."""
    nchars = df["text"].fillna("").str.len()
    per_conv = df.assign(_b=nchars).groupby("conv_id").agg(b=("_b", "sum"), n=("_b", "size"))
    convs = sorted(per_conv.index)
    random.Random(f"oracle/{workload}/{seed}").shuffle(convs)
    picked, b, n = [], 0, 0
    for c in convs:
        cb, cn = int(per_conv.at[c, "b"]), int(per_conv.at[c, "n"])
        if picked and (b + cb > ORACLE_CHARS or n + cn > ORACLE_TURNS):
            continue
        picked.append(c)
        b, n = b + cb, n + cn
    return df[df["conv_id"].isin(picked)].reset_index(drop=True)


def oracle_check(spark, src, wl: Workload, sample, turns: int) -> dict:
    """Compare the pipeline's verdicts on the sampled conversations with
    `oracle_labels`: keep, drop_reason, lang1 and scrubbed_text per turn,
    and the sample's drop-reason histogram. The verdicts come from a job
    shaped like the timed one: for agent_logs they are read back from the
    last timed run's parquet output; for the noop workloads the pipeline
    runs over the whole table and the sample is picked in pandas, so the
    UDF sees the timed job's Arrow batches."""
    import pandas as pd
    from pyspark.sql import functions as F

    from cld2_spark.pipeline.oracle import oracle_labels
    from cld2_spark.pipeline.stages import run_pipeline

    ids = sorted(sample["conv_id"].unique())
    cols = ["conv_id", "turn_idx", "keep", "drop_reason", "lang1", "scrubbed_text"]
    problems = []
    if wl.resumable:
        out = spark.read.parquet(str(wl.last_out / "data"))
        written = out.count()
        if written != turns:
            problems.append(f"sink holds {written} rows, input has {turns}")
        got = out.where(F.col("conv_id").isin(ids)).select(*cols).toPandas()
    else:
        got = run_pipeline(src).select(*cols).toPandas()
        got = got[got["conv_id"].isin(ids)]
    want = oracle_labels(sample)[cols]
    m = want.merge(got, on=["conv_id", "turn_idx"], how="outer",
                   suffixes=("_o", "_s"), indicator=True)
    bad = m["_merge"] != "both"
    for c in cols[2:]:
        a = m[f"{c}_o"].astype(object).where(m[f"{c}_o"].notna(), None)
        b = m[f"{c}_s"].astype(object).where(m[f"{c}_s"].notna(), None)
        bad |= pd.Series([x != y for x, y in zip(a, b)], index=m.index)
    hist = lambda s: dict(Counter("keep" if r is None or r != r else r for r in s))  # noqa: E731
    h_o, h_s = hist(want["drop_reason"]), hist(got["drop_reason"])
    if h_o != h_s:
        problems.append(f"drop-reason histograms differ: oracle {h_o}, spark {h_s}")
    n_bad = int(bad.sum()) + (1 if problems and not bad.any() else 0)
    return {"checked_turns": int(len(m)), "conversations": len(ids),
            "mismatched_turns": n_bad, "histogram": h_o, "problems": problems,
            "verdict_mismatch_share": n_bad / max(1, len(m))}


# ---------------------------------------------------------- traced run ----

def restart_traced(spark, wl: Workload, log_dir: Path, cores: int):
    """Stop the session and start a new one, through get_spark, with the
    event log on (JVM system properties feed the new session's defaults)."""
    from cld2_spark.functions.langid import pipeline_udf
    jvm = spark.sparkContext._jvm
    spark.stop()
    log_dir.mkdir(parents=True, exist_ok=True)
    for k, v in (("spark.eventLog.enabled", "true"),
                 ("spark.eventLog.dir", log_dir.as_uri()),
                 ("spark.eventLog.compress", "false")):
        jvm.System.setProperty(k, v)
    # the module-level UDF caches its JVM function, which points at the
    # stopped context's accumulator server
    pipeline_udf._unwrapped._judf_placeholder = None
    return start_session(wl, "perfbench-traced", cores)


def boundary_stub():
    """A UDF with pipeline_udf's shape (Iterator[pd.Series] -> a
    PIPELINE_SCHEMA frame) that runs no kernel."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import functions as F

    from cld2_spark.functions.langid import PIPELINE_SCHEMA

    def stub(batches):
        for s in batches:
            n = len(s)
            yield pd.DataFrame({
                "lang1": ["en"] * n, "pct1": [100] * n, "rel1": [100] * n,
                "is_reliable": [True] * n, "ft_lang": ["en"] * n,
                "ppl": [1.0] * n, "tri_grams": [0] * n, "be_ok": [False] * n})
    # real hint objects: string hints could not resolve these local imports
    stub.__annotations__ = {"batches": Iterator[pd.Series], "return": Iterator[pd.DataFrame]}
    return F.pandas_udf(PIPELINE_SCHEMA)(stub)


def traced_layers(spark, src, wl: Workload, tracer, untraced_median: float) -> dict:
    """Per-layer noop jobs, the traced pipeline run and the sink on a
    cached verdict frame, each inside its own span and job group."""
    from pyspark.sql import functions as F

    import cld2_spark.pipeline.sink as sink_mod
    from cld2_spark.kernels import scrub as S
    from cld2_spark.pipeline.run import BUCKET_COL, bucket_expr
    from cld2_spark.pipeline.stages import run_pipeline, with_langid, with_quality

    noop = lambda df: df.write.format("noop").mode("overwrite").save()  # noqa: E731
    m: dict[str, float] = {}

    orig_write = sink_mod.write_bucketed

    def timed_write(*a, **k):
        with tracer.span("pipeline.run.group", job_group=False):
            return orig_write(*a, **k)

    sink_mod.write_bucketed = timed_write
    try:
        with tracer.span("pipeline"):
            wl.run(spark, src)
    finally:
        sink_mod.write_bucketed = orig_write
    pipe_s = tracer.seconds("pipeline")[0]
    groups = tracer.seconds("pipeline.run.group") or [pipe_s]
    m["trace.pipeline_s"] = pipe_s
    m["pipeline.run.group_s_max_over_median"] = max(groups) / statistics.median(groups)
    m["trace.overhead_share"] = pipe_s / untraced_median - 1.0

    layers = {
        "sources.scan_s": ("sources.scan", lambda: noop(src)),
        "functions.langid.boundary_s": ("functions.langid.boundary",
                                        lambda: noop(src.withColumn("ld", boundary_stub()(F.col("text"))))),
        "functions.langid.udf_s": ("functions.langid.udf", lambda: noop(with_langid(src))),
        "kernels.quality.rules_s": ("kernels.quality.rules", lambda: noop(with_quality(src))),
        "kernels.scrub.pii_s": ("kernels.scrub.pii",
                                lambda: noop(S.scrub_spark_columns(src, "text", "scrubbed_text"))),
        "kernels.scrub.toxicity_s": ("kernels.scrub.toxicity",
                                     lambda: noop(src.withColumn("toxic", F.expr(S.toxicity_sql("text", "spark"))))),
    }
    for metric, (name, fn) in layers.items():
        with tracer.span(name):
            fn()
        m[metric] = tracer.seconds(name)[0]

    verdict = run_pipeline(src).withColumn(BUCKET_COL, bucket_expr(wl.n_buckets)).cache()
    with tracer.span("pipeline.decide"):
        hist = {r["drop_reason"]: r["count"]
                for r in verdict.groupBy("drop_reason").count().collect()}
    total = sum(hist.values())
    m["pipeline.decide.keep_share"] = hist.get(None, 0) / max(1, total)
    for r in DROP_REASONS:
        m[f"pipeline.decide.drop.{r}"] = float(hist.get(r, 0))
    with tracer.span("pipeline.sink"):
        sink_mod.write_bucketed(verdict, str(wl.out_root / "sink"))
    m["pipeline.sink.write_s"] = tracer.seconds("pipeline.sink")[0]
    verdict.unpersist()

    scan = m["sources.scan_s"]
    accounted = scan + sum(m[k] - scan for k in (
        "functions.langid.udf_s", "kernels.quality.rules_s",
        "kernels.scrub.pii_s", "kernels.scrub.toxicity_s"))
    if wl.resumable:
        accounted += m["pipeline.sink.write_s"]
    m["trace.unaccounted_share"] = (pipe_s - accounted) / pipe_s
    return m


def event_log_metrics(log_dir: Path, tracer, cores: int) -> dict:
    from tracing import EventLog
    ev = EventLog(log_dir)
    m: dict[str, float] = {}
    m["sources.scan_tasks"] = float(sum(len(ev.tasks[s]) for s in ev.stages("sources.scan")))
    udf = ev.stages("functions.langid.udf")
    m["functions.langid.python_bytes_mb"] = (
        ev.accumulated(udf, "data sent to Python workers")
        + ev.accumulated(udf, "data returned from Python workers")) / 1e6
    sink = ev.stages("pipeline.sink")
    m["pipeline.sink.shuffle_write_mb"] = ev.total(sink, "shuffle_write") / 1e6
    parts = {"pipeline": ev.stages("pipeline"),
             "sink": ev.stages("pipeline.sink", shuffle_read_only=True)}
    for part, stages in parts.items():
        wall = tracer.seconds(part if part == "pipeline" else "pipeline.sink")[0]
        for k, v in ev.task_stats(stages, wall, cores).items():
            m[f"spark.{part}.{k}"] = float(v)
    return m


def kernel_sample(df, seed: int) -> list[str]:
    """Seed-derived rows of the workload's text for the kernel phases."""
    idx = list(range(len(df)))
    random.Random(f"kernel/{seed}").shuffle(idx)
    texts, size = [], 0
    col = df["text"].fillna("")
    for i in idx:
        if len(texts) >= KERNEL_ROWS or size >= KERNEL_CHARS:
            break
        texts.append(col.iat[i])
        size += len(col.iat[i])
    return texts


# ----------------------------------------------------------- lifecycle ----

def shutdown(spark) -> None:
    """Stop the session and the JVM, then wait until every process this
    run started has ended."""
    from pyspark import SparkContext

    from proctree import descendants
    started = set(descendants(os.getpid()))
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    # processes the JVM started may outlive it, reparented away from us
    deadline = time.monotonic() + 20
    while True:
        left = [p for p in started | set(descendants(os.getpid()))
                if Path(f"/proc/{p}").exists()]
        if not left:
            return
        sig = signal.SIGKILL if time.monotonic() > deadline else signal.SIGTERM
        for pid in left:
            try:
                os.kill(pid, sig)
                os.waitpid(pid, os.WNOHANG)
            except (ProcessLookupError, ChildProcessError):
                pass
        time.sleep(0.2)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size as a multiple of the workload's base size")
    args = ap.parse_args(argv)

    try:
        import workloads as W  # imports the package under test
    except ImportError as exc:
        print(f"perfbench: cannot import the package under test: {exc}", file=sys.stderr)
        return 2
    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {', '.join(W.WORKLOADS)}", file=sys.stderr)
        return 2

    cores = nproc()
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}"
    run_dir = WORK / run_id
    configure_env(run_dir)
    from tracing import Tracer, kernel_phases, scrub_ratios

    spark = None
    try:
        df = W.generate(args.workload, args.seed, scale=args.scale)
        shape = W.shape_stats(df)
        table = run_dir / "input"
        W.write_table(df, table, n_files=2 * cores)
        sample = oracle_sample(df, args.workload, args.seed)
        ktexts = kernel_sample(df, args.seed) if args.trace else None
        del df
        wl = Workload(args.workload, table, run_dir, cores)

        layer: dict[str, float] = {}
        if args.trace:
            from cld2_spark.kernels.model import default_model
            t0 = time.perf_counter()
            default_model()
            layer["kernels.model.load_s"] = time.perf_counter() - t0

        spark, src, setup = start_session(wl, "perfbench", cores)
        shape["scan_tasks"] = src.rdd.getNumPartitions()
        fp = fingerprint(spark, args.workload, args.seed, cores)
        runs = timed_runs(spark, src, wl, args.seconds)
        check = oracle_check(spark, src, wl, sample, shape["turns"])

        walls = runs["walls"]
        failed = len(runs["errors"])
        if check["mismatched_turns"]:
            failed = runs["attempted"]  # every run produced wrong verdicts
        turns = shape["turns"]
        e2e = {
            "turns_per_s": turns / statistics.median(walls) if walls else 0.0,
            "cpu_ms_per_turn": 1000.0 * statistics.median(runs["cpus"]) / turns if walls else 0.0,
            "python_peak_rss_mb": runs["peak_mb"]["python"],
            "peak_rss_mb": runs["peak_mb"]["total"],
            "setup_s": setup["setup_s"],
            "verdict_mismatch_share": check["verdict_mismatch_share"],
            "failed_run_share": failed / runs["attempted"],
        }

        tracer = None
        if args.trace:
            log_dir = run_dir / "eventlog"
            layer["session.start_s"] = setup["start_s"]
            layer["session.warmup_s"] = setup["warmup_s"]
            layer["jvm.peak_rss_mb"] = runs["peak_mb"]["jvm"]
            spark, src, _ = restart_traced(spark, wl, log_dir, cores)
            settle(spark, src, wl)  # outside any span: the spans carry no cold-start cost
            tracer = Tracer(run_id, spark)
            with tracer.span("trace"):
                layer.update(traced_layers(spark, src, wl, tracer,
                                           statistics.median(walls) if walls else float("nan")))
            spark.stop()
            layer.update(event_log_metrics(log_dir, tracer, cores))
            with tracer.span("kernels", job_group=False):
                layer.update(kernel_phases(ktexts, fp["max_records_per_batch"]))
            import pandas as pd
            layer.update(scrub_ratios(pd.Series(ktexts)))
            tracer.write(WORK / "traces" / f"{run_id}.json")
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutdown(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    correct = check["verdict_mismatch_share"] == 0 and failed == 0
    units = {**END_TO_END, **RECORD_ONLY}
    record = {
        "fingerprint": fp, "shape": shape, "trace": bool(args.trace),
        "timed_runs": {"samples": len(walls), "walls_s": walls, "cpu_s": runs["cpus"],
                       "settle_s": runs["settle_s"], "errors": runs["errors"],
                       "seconds": args.seconds},
        "setup": setup, "oracle": check,
        "end_to_end": {k: {"value": v, "unit": units[k]} for k, v in e2e.items()},
    }
    if args.trace:
        record["per_layer"] = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
        record["spans"] = len(tracer.spans)
        record["kernel_sample_rows"] = len(ktexts)
        metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps(record, default=str))
    print(json.dumps({"correct": bool(correct), "attempted": runs["attempted"],
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, str(ROOT))
    sys.exit(main())
