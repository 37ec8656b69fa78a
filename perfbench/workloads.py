"""Seeded input generators for the benchmark's two workloads.

Every workload is a transcripts table (conv_id, turn_idx, role, text,
tool, ts) built from the packaged language corpus
(`cld2_spark/model/corpus.jsonl`) and the vocabulary of the sf0.1
`documents` table's text. The seed picks the words of each turn: the offsets of
the word runs spliced from a corpus text and the content of the log
segments. Everything else is index arithmetic: turn count, conversation
sizes, every turn's byte length, which turns carry injected cases and which
corpus text (which language) each turn draws from. So `shape_stats` and the
language mix, and with it the langid cost, read the same for every seed,
and a change in them means the workload itself moved.
"""

from __future__ import annotations

import json
import math
import random
from datetime import datetime, timedelta
from pathlib import Path

import numpy as np
import pandas as pd

from cld2_spark.sources.transcripts import (
    JUNK_TEXT, LOWQ_TEXT, PII_SUFFIX, ROLES, SHORT_TEXT, TOOLS, TOXIC_SUFFIX,
)

WORKLOADS = ("chat_mixed", "agent_logs")

# The 31-word vocabulary of the sf0.1 `documents` table's word-salad text.
DOC_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window").split()

# Turns per workload at scale 1.0, sized on a 4-vCPU box so that one
# pipeline job takes a few seconds (several timed jobs fit in one run).
BASE_TURNS = {"chat_mixed": 10_000, "agent_logs": 1_000}

CHAT_TURNS_PER_CONV = 20
AGENT_TURNS_PER_CONV = 8
MEGA_SHARE = 0.10           # agent_logs: share of turns in the mega conversation
_GOLDEN = (math.sqrt(5) - 1) / 2
_T0 = datetime(2025, 1, 1)
_TOOL_NAMES = ("search", "browser", "python")


class Corpus:
    """Word pools of the packaged corpus. Words holding a digit or '@' are
    left out, so digit/PII presence comes from the injected cases only."""

    def __init__(self, path: Path):
        texts = [json.loads(line)["text"]
                 for line in path.read_text(encoding="utf-8").splitlines() if line]
        self.docs = []
        for t in texts:
            words = [w for w in t.split()
                     if not any(c.isdigit() or c == "@" for c in w)]
            if words:
                self.docs.append(words)

    def splice(self, rng: random.Random, nbytes: int, doc: int) -> str:
        """Runs of consecutive words, from random offsets of corpus text
        `doc` (taken modulo the corpus size), cut or padded to exactly
        `nbytes` UTF-8 bytes."""
        words = self.docs[doc % len(self.docs)]
        parts, size = [], 0
        while size < nbytes:
            start = rng.randrange(len(words))
            run = words[start:start + rng.randrange(3, 13)]
            chunk = " ".join(run)
            parts.append(chunk)
            size += len(chunk.encode("utf-8")) + 1
        return fit_bytes(" ".join(parts), nbytes)


def fit_bytes(text: str, nbytes: int) -> str:
    """Cut `text` to at most `nbytes` UTF-8 bytes on a character boundary,
    then pad with spaces to exactly `nbytes`."""
    raw = text.encode("utf-8")[:nbytes].decode("utf-8", errors="ignore")
    return raw + " " * (nbytes - len(raw.encode("utf-8")))


def spread(i: int, lo: float, hi: float) -> int:
    """Seed-independent, evenly spread byte length in [lo, hi] on a log
    scale for turn index i (golden-ratio low-discrepancy sequence)."""
    frac = (i * _GOLDEN) % 1.0
    return int(round(lo * (hi / lo) ** frac))


def default_corpus() -> Corpus:
    from importlib import resources
    return Corpus(Path(str(resources.files("cld2_spark") / "model" / "corpus.jsonl")))


def _rng(workload: str, seed: int) -> random.Random:
    return random.Random(f"{workload}/{seed}")


def _frame(rows: list[tuple]) -> pd.DataFrame:
    df = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    df["turn_idx"] = df["turn_idx"].astype("int32")
    return df


def chat_text(i: int, rng: random.Random, corpus: Corpus) -> str:
    """`sources.transcripts.turn_text`'s injected cases at the same index
    arithmetic, with a 50-2,400-byte corpus splice as the base text."""
    if i % 31 == 0:
        return ""
    if i % 29 == 0:
        return JUNK_TEXT
    if i % 37 == 0:
        return LOWQ_TEXT
    if i % 13 == 0:
        return SHORT_TEXT
    base = corpus.splice(rng, spread(i, 50, 2400), doc=i)
    if i % 17 == 0:
        return base + PII_SUFFIX
    if i % 23 == 0:
        return base + TOXIC_SUFFIX
    return base


def _agent_segment(kind: int, shape: random.Random, rng: random.Random,
                   corpus: Corpus, doc: int) -> str:
    """One log segment. `shape` picks its structure (word and frame
    counts, prose length) and is the same for every seed; `rng` picks its
    words and digits, whose counts are fixed."""
    r = rng.randrange
    word = lambda: DOC_WORDS[r(len(DOC_WORDS))]  # noqa: E731
    if kind == 0:
        return json.dumps({
            "ts": f"2025-01-{r(10, 29)}T{r(10, 24)}:{r(10, 60)}:{r(10, 60)}Z",
            "level": ("INFO", "WARN", "ERROR", "DEBUG")[r(4)],
            "msg": " ".join(word() for _ in range(shape.randrange(4, 12))),
            "rows": r(10_000, 100_000), "ms": r(100, 1000)})
    if kind == 1:
        frames = "\n".join(
            f'  File "/srv/app/{word()}_{word()}.py", line {r(100, 1000)}, '
            f"in {word()}_{word()}" for _ in range(shape.randrange(2, 7)))
        return (f"Traceback (most recent call last):\n{frames}\n"
                f"ValueError: {' '.join(word() for _ in range(shape.randrange(3, 8)))}")
    if kind == 2:
        return (f"user {word()}.{word()}{r(10, 100)}@example."
                f"{('com', 'org', 'net')[r(3)]} logged in from "
                f"{r(100, 256)}.{r(100, 256)}.{r(100, 256)}.{r(100, 256)}")
    if kind == 3:
        return (f"callback requested at +1 {r(200, 1000)}-555-{r(1000, 10_000)} "
                f"for order {r(10_000, 100_000)}")
    if kind == 4:
        return (f"payment card {r(4000, 5000)} {r(1000, 10_000)} {r(1000, 10_000)} "
                f"{r(1000, 10_000)} declined")
    return corpus.splice(rng, shape.randrange(120, 900), doc=doc)


# segment kinds: JSON log line, stack trace, email+IP, phone, card-like
# digit run, prose -- weighted toward logs and prose
_AGENT_KINDS = (0, 1, 2, 3, 4, 5)
_AGENT_WEIGHTS = (0.34, 0.1, 0.04, 0.04, 0.03, 0.45)


def agent_text(i: int, shape: random.Random, rng: random.Random, corpus: Corpus) -> str:
    """A 2-16 KB tool output; it opens with a JSON log line, so every turn
    holds digits. Its prose comes from one corpus text (one language)."""
    n = spread(i, 2048, 16384)
    parts = [_agent_segment(0, shape, rng, corpus, i)]
    size = len(parts[0])
    while size < n:
        kind = shape.choices(_AGENT_KINDS, _AGENT_WEIGHTS)[0]
        seg = _agent_segment(kind, shape, rng, corpus, i)
        parts.append(seg)
        size += len(seg.encode("utf-8")) + 1
    return fit_bytes("\n".join(parts), n)


def generate(workload: str, seed: int, scale: float = 1.0,
             corpus: Corpus | None = None) -> pd.DataFrame:
    """The workload's transcripts table for `seed` at `scale` x its base size."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}; choose from {WORKLOADS}")
    corpus = corpus or default_corpus()
    rng = _rng(workload, seed)
    n = max(1, int(round(BASE_TURNS[workload] * scale)))
    rows = []
    if workload == "agent_logs":
        shape = random.Random(f"{workload}/shape")
        n_mega = max(1, int(round(n * MEGA_SHARE)))
        for i in range(n):
            if i < n_mega:
                conv, t = "mega", i
            else:
                conv, t = f"a{(i - n_mega) // AGENT_TURNS_PER_CONV:06d}", (i - n_mega) % AGENT_TURNS_PER_CONV
            rows.append((conv, t, "tool", agent_text(i, shape, rng, corpus),
                         _TOOL_NAMES[i % 3], _T0 + timedelta(seconds=7 * i)))
        return _frame(rows)
    for i in range(n):
        conv, t = divmod(i, CHAT_TURNS_PER_CONV)
        rows.append((f"c{conv:06d}", t, ROLES[i % 3], chat_text(i, rng, corpus),
                     TOOLS[i % 5], _T0 + timedelta(hours=conv, seconds=7 * t)))
    return _frame(rows)


def write_table(df: pd.DataFrame, out_dir: Path, n_files: int) -> None:
    """Write `df` as `n_files` parquet files of equal row counts, in
    (conv_id, turn_idx) order, so the scan splits into >= n_files / 2 tasks."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out_dir.mkdir(parents=True, exist_ok=True)
    df = df.sort_values(["conv_id", "turn_idx"], kind="stable").reset_index(drop=True)
    bounds = np.linspace(0, len(df), n_files + 1).astype(int)
    for k in range(n_files):
        part = df.iloc[bounds[k]:bounds[k + 1]]
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False),
                       out_dir / f"part-{k:04d}.parquet", coerce_timestamps="us")


def shape_stats(df: pd.DataFrame) -> dict:
    """Input shape statistics recorded with every result."""
    text = df["text"].fillna("")
    nbytes = text.map(lambda s: len(s.encode("utf-8"))).to_numpy()
    conv = df.groupby("conv_id").size().to_numpy()
    return {
        "turns": int(len(df)),
        "text_mb": round(float(nbytes.sum()) / 1e6, 4),
        "bytes_p50": float(np.percentile(nbytes, 50)),
        "bytes_p99": float(np.percentile(nbytes, 99)),
        "share_le_256_bytes": round(float((nbytes <= 256).mean()), 4),
        "share_at_or_digit": round(float(text.str.contains(r"[@0-9]").mean()), 4),
        "share_distinct": round(float(text.nunique() / max(1, len(text))), 4),
        "conv_turns_max": int(conv.max()),
        "conv_turns_median": float(np.median(conv)),
    }
