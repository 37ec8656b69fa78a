"""Heuristic quality rules (Gopher/C4-style), engine-portable.

One set of named thresholds; four consumers:
  - Spark pipeline: `quality_flags_arrow` inside the pipeline's Arrow UDF
    (kernels/rules.py), on the batch the langid kernel already holds:
    byte-class counts over the UTF-8 buffer, no regex and no per-row
    Python.
  - Spark SQL: `low_quality_sql('spark')` rendered into `F.expr(...)`
    columns, for the standalone `quality_flags` query and `with_quality`.
  - DuckDB oracle SQL for the driver correctness gate.
  - pandas reference implementation (oracle labels, FIXTURES.md §4).

All comparisons are integer cross-multiplications (no float ratios) and all
character classes are explicit ASCII ranges (Java regex, RE2 and Python re
disagree on Unicode-awareness of \\w and friends), so the engines agree
bit-for-bit. One known exception: the DuckDB word split uses RE2's `\\s`,
which leaves out U+000B; pandas, Java and the Arrow kernel count it as
whitespace.
"""

from __future__ import annotations

import numpy as np

# thresholds (per conversation turn, not per web document)
MIN_CHARS = 8            # shorter -> drop reason 'too_short'
MAX_CHARS = 100_000
MAX_WORDS = 50_000
MAX_MEAN_WORD_LEN = 25   # alpha_chars > words * 25  -> low_quality

# ASCII punctuation ranges: !-/ :-@ [-` {-~  (non-ASCII letters NOT counted)
_SYMBOL = "[!-/:-@\\[-`{-~]"
_DIGIT = "[0-9]"
_ALPHA = "[A-Za-z]"


_SYMBOL_CHARS = "".join(chr(c) for c in list(range(0x21, 0x30)) + list(range(0x3A, 0x41))
                        + list(range(0x5B, 0x61)) + list(range(0x7B, 0x7F)))
_DIGIT_CHARS = "0123456789"
_ALPHA_CHARS = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
_CHARSETS = {_SYMBOL: _SYMBOL_CHARS, _DIGIT: _DIGIT_CHARS, _ALPHA: _ALPHA_CHARS}


def _count(col: str, pat: str, dialect: str) -> str:
    """SQL expression counting chars of a 1-char class in col.

    Spark renders it as `translate` (table-driven char removal, much faster
    than the regex engine in the hot path); DuckDB keeps the equivalent
    regexp_replace -- identical counts, so the oracle compare still holds."""
    if dialect == "spark":
        chars = _CHARSETS[pat].replace("\\", "\\\\").replace("'", "\\'")
        return f"(length({col}) - length(translate({col}, '{chars}', '')))"
    g = ", 'g'"
    return f"(length({col}) - length(regexp_replace({col}, '{pat}', ''{g})))"


def features_sql(col: str, dialect: str) -> dict[str, str]:
    """Named feature expressions over a text column."""
    if dialect == "spark":
        n_words = (f"(case when length(trim({col})) = 0 then 0 "
                   f"else size(split(trim({col}), '\\\\s+')) end)")
    else:
        n_words = (f"(case when length(trim({col})) = 0 then 0 "
                   f"else length(string_split_regex(trim({col}), '\\s+')) end)")
    return {
        "n_chars": f"length({col})",
        "n_words": n_words,
        "n_symbols": _count(col, _SYMBOL, dialect),
        "n_digits": _count(col, _DIGIT, dialect),
        "n_alpha": _count(col, _ALPHA, dialect),
    }


def low_quality_sql(col: str, dialect: str) -> str:
    """Boolean SQL expression: True when the turn fails the heuristic rules."""
    f = features_sql(col, dialect)
    return (
        f"(({f['n_chars']} > {MAX_CHARS})"
        f" or ({f['n_words']} > {MAX_WORDS})"
        f" or ({f['n_alpha']} > {f['n_words']} * {MAX_MEAN_WORD_LEN})"
        f" or ({f['n_symbols']} * 2 > {f['n_chars']})"
        f" or ({f['n_digits']} * 2 > {f['n_chars']}))"
    )


def too_short_sql(col: str, dialect: str) -> str:
    return f"(length({col}) < {MIN_CHARS})"


# ---------------------------------------------------------------- pandas ----

def features_pandas(s):
    """Same features over a pandas Series (oracle path).

    Whitespace semantics must match the SQL engines exactly: Spark `trim`
    and DuckDB `trim` strip only ' ' (0x20), and Java/RE2 `\\s` is the ASCII
    class -- while Python's `\\s` and `str.strip()` are Unicode-aware
    (U+202F/U+3000/NBSP). Use explicit ASCII sets on the pandas side."""
    t = s.fillna("")
    n_chars = t.str.len()
    trimmed = t.str.strip(" ")
    n_words = (trimmed.str.split("[ \t\n\x0b\f\r]+", regex=True).str.len()
               .where(trimmed.str.len() > 0, 0))
    return {
        "n_chars": n_chars,
        "n_words": n_words,
        "n_symbols": t.str.count(_SYMBOL),
        "n_digits": t.str.count(_DIGIT),
        "n_alpha": t.str.count(_ALPHA),
    }


def low_quality_pandas(s):
    f = features_pandas(s)
    return (
        (f["n_chars"] > MAX_CHARS)
        | (f["n_words"] > MAX_WORDS)
        | (f["n_alpha"] > f["n_words"] * MAX_MEAN_WORD_LEN)
        | (f["n_symbols"] * 2 > f["n_chars"])
        | (f["n_digits"] * 2 > f["n_chars"])
    )


def too_short_pandas(s):
    return s.fillna("").str.len() < MIN_CHARS


# ----------------------------------------------------------------- Arrow ----

# UTF-8 byte -> ASCII class. Every byte of a multi-byte sequence is >= 0x80,
# so counting classed bytes counts exactly the ASCII characters of a class.
_ALPHA_B, _DIGIT_B, _SYMBOL_B, _SPACE_B = range(1, 5)
_BYTE_CLASS = np.zeros(256, dtype=np.uint8)
for _chars, _cls in ((_ALPHA_CHARS, _ALPHA_B), (_DIGIT_CHARS, _DIGIT_B),
                     (_SYMBOL_CHARS, _SYMBOL_B), (" \t\n\x0b\f\r", _SPACE_B)):
    _BYTE_CLASS[[ord(c) for c in _chars]] = _cls


def _utf8_buffers(texts):
    """(row byte offsets rebased to 0, the rows' UTF-8 bytes) of a string
    array without nulls, honouring a sliced array's offset."""
    import pyarrow as pa

    if len(texts) == 0:
        return np.zeros(1, dtype=np.int64), np.zeros(0, dtype=np.uint8)
    _, offsets, data = texts.buffers()
    width = np.int64 if pa.types.is_large_string(texts.type) else np.int32
    off = np.frombuffer(offsets, dtype=width, count=len(texts) + 1,
                        offset=texts.offset * np.dtype(width).itemsize)
    # an all-empty array may carry no data buffer at all
    raw = np.frombuffer(data, dtype=np.uint8) if data is not None \
        else np.zeros(0, dtype=np.uint8)
    return (off - off[0]).astype(np.int64), raw[off[0]:off[-1]]


def features_arrow(texts) -> dict[str, np.ndarray]:
    """`features_pandas` over a pyarrow string array (NULL = empty text).

    n_words is 1 + the runs of ASCII whitespace left after trimming ' ',
    which is what splitting the trimmed text on `[ \\t\\n\\x0b\\f\\r]+`
    returns (leading/trailing non-space whitespace still yields an empty
    piece)."""
    import pyarrow.compute as pc

    texts = pc.fill_null(texts, "")
    n = len(texts)
    # ' ' is in no counted class, so trimming changes only n_words
    off, raw = _utf8_buffers(pc.utf8_trim(texts, characters=" "))
    cls = _BYTE_CLASS[raw]
    lengths = np.diff(off)
    nonempty = np.flatnonzero(lengths)
    starts = off[nonempty]

    def per_row(mask):
        out = np.zeros(n, dtype=np.int64)
        if len(starts):
            out[nonempty] = np.add.reduceat(mask, starts, dtype=np.int64)
        return out

    space = cls == _SPACE_B
    run_start = space.copy()
    run_start[1:] &= ~space[:-1]
    run_start[starts] = space[starts]  # a row's first byte has no predecessor
    n_words = np.where(lengths > 0, per_row(run_start) + 1, 0)
    return {
        "n_chars": pc.utf8_length(texts).to_numpy(zero_copy_only=False).astype(np.int64),
        "n_words": n_words,
        "n_symbols": per_row(cls == _SYMBOL_B),
        "n_digits": per_row(cls == _DIGIT_B),
        "n_alpha": per_row(cls == _ALPHA_B),
    }


def quality_flags_arrow(texts) -> tuple[np.ndarray, np.ndarray]:
    """(too_short, low_quality) boolean arrays for a pyarrow string array:
    the same thresholds as `too_short_pandas`/`low_quality_pandas`."""
    f = features_arrow(texts)
    low = ((f["n_chars"] > MAX_CHARS)
           | (f["n_words"] > MAX_WORDS)
           | (f["n_alpha"] > f["n_words"] * MAX_MEAN_WORD_LEN)
           | (f["n_symbols"] * 2 > f["n_chars"])
           | (f["n_digits"] * 2 > f["n_chars"]))
    return f["n_chars"] < MIN_CHARS, low
