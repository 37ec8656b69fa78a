"""PII / toxicity scrubbing patterns shared by every engine.

One definition of each pattern, consumed four ways:
  - Arrow:   pc.replace_substring_regex(arr, PATTERN, TOKEN)  (RE2) -- the
             Spark pipeline's path, run inside its Arrow UDF on the batch
             the langid kernel already holds (kernels/rules.py)
  - Spark:   F.regexp_replace(col, PATTERN, TOKEN)   (Java regex) -- the
             standalone `scrub_pii`/`toxicity` queries
  - pandas:  Series.str.replace(PATTERN, TOKEN, regex=True)  (Python re)
  - DuckDB:  regexp_replace(col, PATTERN, TOKEN, 'g')        (RE2)

Patterns are therefore restricted to the common subset: no lookaround, no
backreferences, no \\b ambiguity across engines (RE2 supports \\b; Java and
re do too), POSIX-ish classes avoided. Order matters: credit card before
phone (both are digit runs), SSN before phone.

Clean rows never enter the PII regexes: on the Arrow and Spark paths each
pattern is gated behind an '@' or digit pre-test on the original text.
"""

from __future__ import annotations

# (name, pattern, replacement token) -- applied in order.
# Digits are the explicit [0-9] class: Python's \d is Unicode-aware while
# Java and RE2 default to ASCII, so \d would diverge on e.g. Arabic digits.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("cc", r"\b(?:[0-9][ -]?){13,16}[0-9]\b", "<CC>"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<SSN>"),
    ("phone", r"\b(?:\+?[0-9]{1,2}[ .-]?)?\(?[0-9]{3}\)?[ .-]?[0-9]{3}[ .-]?[0-9]{4}\b", "<PHONE>"),
    ("ip", r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
]

# Deterministic toxicity wordlist (placeholder lexicon; a production run
# swaps in a real one -- the *mechanism* is the deliverable).
TOXICITY_WORDS: list[str] = [
    "frakking", "gorram", "smeghead", "belgium++", "shazbot", "frell",
    "dren", "felgercarb",
]

_WORD_CHARS = "A-Za-z0-9_"
_ASCII_LETTERS = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"


def _boundary_wrap(word: str, fold_case: bool = False) -> str:
    """Wrap a lexicon entry in boundary assertions that actually fire.

    `\\b` after a token ending in a non-word char (e.g. 'belgium++') can
    never match before whitespace/EOS, so such entries get an explicit
    consuming right-boundary class instead (fine for presence tests; this
    pattern is only used with contains/rlike, never replace).

    `fold_case` spells each ASCII letter as a two-case class, for engines
    whose `(?i)` would also fold non-ASCII letters (see TOXICITY_PATTERN_RE2)."""
    esc = "".join(f"[{c.lower()}{c.upper()}]" if fold_case and c in _ASCII_LETTERS
                  else "\\" + c if c in r"\.^$*+?()[]{}|" else c for c in word)
    left = r"\b" if word[0].isalnum() or word[0] == "_" else ""
    if word[-1].isalnum() or word[-1] == "_":
        right = r"\b"
    else:
        right = rf"(?:[^{_WORD_CHARS}]|$)"
    return f"{left}{esc}{right}"


TOXICITY_PATTERN = (r"(?i)(?:"
                    + "|".join(_boundary_wrap(w) for w in TOXICITY_WORDS)
                    + r")")

# The same lexicon for RE2 without `(?i)`: RE2 folds case by Unicode rules
# ('ſ' U+017F matches 's', 'K' U+212A matches 'k'), while Java and Python's
# re.ASCII fold ASCII only. DuckDB's rendering keeps `(?i)`, so it flags
# e.g. 'frakking' spelled with U+212A where the pandas oracle does not.
TOXICITY_PATTERN_RE2 = ("(?:"
                        + "|".join(_boundary_wrap(w, fold_case=True)
                                   for w in TOXICITY_WORDS)
                        + ")")


def scrub_pandas(s):
    """Apply the PII chain to a pandas Series of strings (oracle path).

    Compiled with re.ASCII so \\b/\\w match Java/RE2's ASCII semantics."""
    import re

    out = s.fillna("")
    for _, pat, tok in PII_PATTERNS:
        out = out.str.replace(re.compile(pat, re.ASCII), tok, regex=True)
    return out


def toxicity_mask_pandas(s):
    import re

    return s.fillna("").str.contains(re.compile(TOXICITY_PATTERN, re.ASCII))


# guards on the ORIGINAL text are sound supersets: replacement tokens
# contain no '@' and no digits, so a row that ever matches still triggers
def _guard(name: str) -> str:
    return "at" if name == "email" else "digit"


def scrub_arrow(texts):
    """The PII chain over a pyarrow string array (NULL = empty text), in
    RE2 through `pyarrow.compute`. Each run of patterns that share a guard
    runs only on the rows that pass it, then is scattered back."""
    import itertools

    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    texts = pc.fill_null(texts, "")
    guards = {"at": pc.match_substring(texts, "@"),
              "digit": pc.match_substring_regex(texts, "[0-9]")}
    out = texts
    for key, chain in itertools.groupby(PII_PATTERNS, key=lambda p: _guard(p[0])):
        rows = np.flatnonzero(guards[key].to_numpy(zero_copy_only=False))
        if not len(rows):
            continue
        sub = out.take(pa.array(rows))
        for _, pat, tok in chain:
            sub = pc.replace_substring_regex(sub, pattern=pat, replacement=tok)
        out = pc.replace_with_mask(out, guards[key], sub)
    return out


def toxicity_arrow(texts):
    """`toxicity_mask_pandas` over a pyarrow string array, as a boolean
    pyarrow array (NULL = empty text, so never toxic)."""
    import pyarrow.compute as pc

    return pc.match_substring_regex(pc.fill_null(texts, ""), TOXICITY_PATTERN_RE2)


def scrub_sql(col: str, dialect: str) -> str:
    """Render the scrub chain as a SQL expression for `dialect`
    ('spark' or 'duckdb'). Both engines replace all occurrences (DuckDB
    needs the 'g' flag)."""
    expr = col
    for _, pat, tok in PII_PATTERNS:
        p = _sql_lit(pat, dialect)
        if dialect == "duckdb":
            expr = f"regexp_replace({expr}, '{p}', '{tok}', 'g')"
        else:
            expr = f"regexp_replace({expr}, '{p}', '{tok}')"
    return expr


_HAS_DIGIT = "length(translate({orig}, '0123456789', '')) < length({orig})"
_GUARDS = {"at": "instr({orig}, '@') > 0", "digit": _HAS_DIGIT}


def scrub_spark_columns(df, text_col: str, out_col: str):
    """Hot-path Spark scrub: one withColumn per pattern (separate Projects,
    so CollapseProject keeps each expensive regex evaluated once) with each
    regex gated behind a cheap containment test -- clean rows never enter
    the regex engine. Output identical to scrub_sql/the DuckDB oracle."""
    from pyspark.sql import functions as F

    df = df.withColumn(out_col, F.col(text_col))
    for name, pat, tok in PII_PATTERNS:
        p = _sql_lit(pat, "spark")
        guard = _GUARDS[_guard(name)].format(orig=text_col)
        df = df.withColumn(out_col, F.expr(
            f"CASE WHEN {guard} THEN regexp_replace({out_col}, '{p}', '{tok}') "
            f"ELSE {out_col} END"))
    return df


def _sql_lit(pat: str, dialect: str) -> str:
    """Escape a regex for embedding in a single-quoted SQL literal.
    Spark SQL treats backslash as an escape char inside string literals
    (so it must be doubled); DuckDB uses standard SQL literals (no
    backslash escaping)."""
    p = pat.replace("'", "''")
    if dialect == "spark":
        p = p.replace("\\", "\\\\")
    return p


def toxicity_sql(col: str, dialect: str) -> str:
    p = _sql_lit(TOXICITY_PATTERN, dialect)
    if dialect == "duckdb":
        return f"regexp_matches({col}, '{p}')"
    # Spark hot path: gate the regex behind cheap substring tests, the
    # same trick as the scrub guards -- any boundary-anchored (?i) match
    # implies the lowercased word appears as a plain substring, so the
    # guard is a sound superset and clean rows never enter the regex
    # engine (measured 0.42 s -> 0.28 s over 320K turns). NULL input
    # stays NULL, exactly as the bare rlike behaves.
    guard = " OR ".join(f"instr(lower({col}), '{w}') > 0"
                        for w in TOXICITY_WORDS)
    return (f"(CASE WHEN {col} IS NULL THEN CAST(NULL AS BOOLEAN) "
            f"WHEN {guard} THEN ({col} rlike '{p}') ELSE false END)")
