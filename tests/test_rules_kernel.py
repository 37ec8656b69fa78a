"""The pipeline's Arrow rules kernel (kernels/rules.py) against its
independent checks: the pandas oracle functions and the DuckDB SQL
renderings of the same rules. No JVM."""

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from hypothesis import given, settings, strategies as st

from cld2_spark.kernels import quality as Q
from cld2_spark.kernels import scrub as S
from cld2_spark.kernels.rules import rules_batch
from cld2_spark.kernels.text import TEXT_LIMIT

EDGE = [
    None, "", " \t ", "   ", "\t\tlead tab", "trail tab\t", "a\x0bb",
    "\x0b", "bad byte � here", "�" * 9, "  spaced  words  ",
    "word " * (Q.MAX_CHARS // 4), "ab " * (TEXT_LIMIT // 3 + 1),
    "mail jane.doe@example.com, call +1 415-555-2671, ssn 123-45-6789",
    "card 4111 1111 1111 1111 and host 192.168.0.1",
    "digits ١٢٣-٤٥-٦٧٨٩ only",
    "you smeghead", "FRAKKING hell", "belgium++ again", "belgium++x",
    "ſhazbot", "fraKking", "ideographic　space　words",
    "café naïve résumé", "#!=" * 40,
]
# single runs past MAX_CHARS and TEXT_LIMIT: Python re backtracks
# quadratically on them in the email pattern, so the scrub is checked
# against DuckDB's RE2 there
RUNS = ["x" * (Q.MAX_CHARS + 1), "y" * (TEXT_LIMIT + 1), "7" * (TEXT_LIMIT + 1)]


def _pandas_rules(texts):
    s = pd.Series(texts, dtype=object)
    return {
        "too_short": Q.too_short_pandas(s).to_numpy(),
        "low_quality": Q.low_quality_pandas(s).to_numpy(),
        "toxic": S.toxicity_mask_pandas(s).to_numpy(),
        "scrubbed_text": S.scrub_pandas(s).tolist(),
    }


def _duckdb_rules(texts):
    """The DuckDB renderings over the same texts; NULL is fed as '', the
    oracle's reading of a NULL turn."""
    df = pd.DataFrame({"text": ["" if t is None else t for t in texts]})
    out = duckdb.sql(
        f"SELECT {Q.too_short_sql('text', 'duckdb')} AS too_short, "
        f"{Q.low_quality_sql('text', 'duckdb')} AS low_quality, "
        f"{S.toxicity_sql('text', 'duckdb')} AS toxic, "
        f"{S.scrub_sql('text', 'duckdb')} AS scrubbed_text FROM df").df()
    return {c: out[c].tolist() if c == "scrubbed_text" else out[c].to_numpy()
            for c in out.columns}


def _assert_same(got, want, texts):
    for col in ("too_short", "low_quality", "toxic"):
        bad = np.flatnonzero(np.asarray(got[col]) != np.asarray(want[col]))
        assert not len(bad), (col, [texts[i] for i in bad[:3]])
    g = got["scrubbed_text"]
    g = g.to_pylist() if isinstance(g, pa.Array) else g
    bad = [i for i, (a, b) in enumerate(zip(g, want["scrubbed_text"])) if a != b]
    assert not bad, [(texts[i], g[i], want["scrubbed_text"][i]) for i in bad[:3]]


def test_features_match_pandas_on_edges():
    got = Q.features_arrow(pa.array(EDGE + RUNS, pa.string()))
    want = Q.features_pandas(pd.Series(EDGE + RUNS, dtype=object))
    for k, v in want.items():
        assert got[k].tolist() == v.tolist(), k


def test_rules_match_pandas_on_edges():
    _assert_same(rules_batch(pa.array(EDGE, pa.string())), _pandas_rules(EDGE), EDGE)


def test_rules_match_duckdb_on_long_runs():
    got = rules_batch(pa.array(RUNS))
    _assert_same(got, _duckdb_rules(RUNS), RUNS)
    assert got["low_quality"].tolist() == [True, True, True]


def test_trimmed_whitespace_counts_two_words():
    # trim(' ') leaves '\t'; splitting it gives two empty pieces
    f = Q.features_arrow(pa.array([" \t ", "   ", "\x0b"]))
    assert f["n_words"].tolist() == [2, 0, 2]


def test_null_is_empty_text():
    r = rules_batch(pa.array([None, ""], pa.string()))
    assert r["too_short"].tolist() == [True, True]
    assert r["low_quality"].tolist() == [False, False]
    assert r["toxic"].tolist() == [False, False]
    assert r["scrubbed_text"].to_pylist() == ["", ""]


def test_all_empty_batch_and_empty_array():
    for arr in (pa.array(["", "", ""]), pa.array([], pa.string()),
                pa.array([None, None], pa.string())):
        r = rules_batch(arr)
        assert len(r["too_short"]) == len(r["scrubbed_text"]) == len(arr)
        assert all(v == "" for v in r["scrubbed_text"].to_pylist())


@pytest.mark.parametrize("typ", [pa.string(), pa.large_string()])
def test_sliced_array_matches_unsliced(typ):
    arr = pa.array(EDGE, typ)
    full = rules_batch(arr)
    part = rules_batch(arr.slice(3, 17))
    assert arr.slice(3, 17).offset == 3
    for k in ("too_short", "low_quality", "toxic"):
        assert part[k].tolist() == full[k][3:20].tolist(), k
    assert part["scrubbed_text"].to_pylist() == full["scrubbed_text"].to_pylist()[3:20]


def test_toxicity_folds_ascii_case_only():
    """RE2's (?i) also folds U+017F and U+212A; the kernel follows the
    pandas oracle (and Java), which fold ASCII only. The DuckDB rendering
    keeps (?i), so it flags 'frakking' spelled with a Kelvin sign."""
    texts = ["fra\u212aking", "\u017fhazbot", "SHAZBOT", "Frakking"]
    assert rules_batch(pa.array(texts))["toxic"].tolist() == [False, False, True, True]
    assert _pandas_rules(texts)["toxic"].tolist() == [False, False, True, True]
    assert _duckdb_rules(texts)["toxic"].tolist() == [True, False, True, True]


def test_duckdb_word_split_skips_vertical_tab():
    """DuckDB's RE2 `\\s` leaves out U+000B, so its low_quality can differ
    from the pandas oracle (and the kernel) when a U+000B separates words."""
    text = "a" * 30 + "\x0b" + "b"
    assert rules_batch(pa.array([text]))["low_quality"].tolist() == [False]
    assert Q.low_quality_pandas(pd.Series([text])).tolist() == [False]
    assert _duckdb_rules([text])["low_quality"].tolist() == [True]


_FRAGMENTS = [
    "jane.doe@example.com", "a.b-c@x.io", "415-555-2671", "+1 (415) 555-2671",
    "123-45-6789", "4111 1111 1111 1111", "4111-1111-1111-1111", "10.0.0.255",
    "smeghead", "Frakking", "belgium++", "gorram", "٣٤٥",
    "café", "Été", "　",
]
_ALPHABET = " \t\n\f\r@-._+()0123456789٠١٩abcXYZéü　"


def _texts(alphabet):
    piece = st.one_of(st.sampled_from(_FRAGMENTS), st.text(alphabet, max_size=12))
    text = st.lists(piece, max_size=12).map("".join)
    return st.lists(st.one_of(st.none(), text), min_size=1, max_size=16)


@settings(max_examples=150, deadline=None)
@given(_texts(_ALPHABET + "\x0b"))
def test_kernel_matches_pandas(texts):
    arr = pa.array(texts, pa.string())
    want = Q.features_pandas(pd.Series(texts, dtype=object))
    got = Q.features_arrow(arr)
    for k, v in want.items():
        assert got[k].tolist() == v.tolist(), (k, texts)
    _assert_same(rules_batch(arr), _pandas_rules(texts), texts)


@settings(max_examples=100, deadline=None)
@given(_texts(_ALPHABET))
def test_kernel_matches_duckdb(texts):
    # no U+000B here: see test_duckdb_word_split_skips_vertical_tab
    _assert_same(rules_batch(pa.array(texts, pa.string())), _duckdb_rules(texts), texts)
