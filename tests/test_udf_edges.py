"""Edge inputs through every langid UDF: NULL, "", U+000B, U+FFFD and a
text over TEXT_LIMIT. Each UDF answers a NULL text as it answers "", and
each output equals its kernel run directly on the same strings (NULL read
as "")."""

import numpy as np
import pyarrow as pa
import pytest

from cld2_spark.functions import langid as L
from cld2_spark.kernels.analyze import analyze_batch
from cld2_spark.kernels.detect import detect_batch
from cld2_spark.kernels.rules import rules_batch
from cld2_spark.kernels.text import TEXT_LIMIT

FR = ("le conseil municipal a décidé de restaurer les fontaines du jardin "
      "public et la bibliothèque ouvrira une nouvelle aile au printemps. ")
TEXTS = [None, "", "\x0b", "�", "a\x0bb � " + FR,
         (FR * (TEXT_LIMIT // len(FR) + 2))]
HINTS = ("fr", "fr-FR,en", "ca", "latin1")
HINT_KEYS = ("lang", "content_language", "tld", "encoding")
SPAN_KEYS = ("off", "len", "off_b", "len_b", "lang")


def _struct_rows(res: dict, names) -> list[dict]:
    cols = {k: np.asarray(res[k]).tolist() for k in names}
    return [{k: cols[k][i] for k in names} for i in range(len(TEXTS))]


def _names(schema):
    return [f.name for f in schema.fields]


def _summary(texts, **kw):
    return _struct_rows(detect_batch(texts, **kw), _names(L.SUMMARY_SCHEMA))


def _spans(texts):
    res = detect_batch(texts, return_spans=True)
    rows = [[] for _ in texts]
    for j, rid in enumerate(res["span_rid"].tolist()):
        rows[rid].append({k: np.asarray(res[f"span_{k}"][j]).item()
                          for k in SPAN_KEYS})
    return rows


def _analyze(texts, schema):
    res = analyze_batch(texts)
    res["lang1"] = res["summary_lang"]
    if schema is L.TURN_SCHEMA:
        res.update(rules_batch(pa.array(texts)))
        res["scrubbed_text"] = res["scrubbed_text"].to_pylist()
    return _struct_rows(res, _names(schema))


# name -> (udf, number of hint columns, kernel on the filled texts)
CASES = {
    "detect_udf": (L.detect_udf, 0,
                   lambda t: detect_batch(t)["summary_lang"].tolist()),
    "detect_summary_udf": (L.detect_summary_udf, 0, _summary),
    "best_effort": (L.make_detect_summary_udf(best_effort=True), 0,
                    lambda t: _summary(t, best_effort=True)),
    "ext_lang_hint": (L.detect_summary_ext_udf, 1,
                      lambda t: _summary(t, hints=[{"lang": HINTS[0]}] * len(t))),
    "ext_all_hints": (L.detect_summary_ext_udf, 4,
                      lambda t: _summary(t, hints=[dict(zip(HINT_KEYS, HINTS))] * len(t))),
    "detect_spans_udf": (L.detect_spans_udf, 0, _spans),
    "pipeline_udf": (L.pipeline_udf, 0,
                     lambda t: _analyze(t, L.PIPELINE_SCHEMA)),
    "make_turn_udf": (L.make_turn_udf(), 0,
                      lambda t: _analyze(t, L.TURN_SCHEMA)),
}


@pytest.fixture(scope="module")
def edge_df(spark):
    rows = [(i, t, *HINTS) for i, t in enumerate(TEXTS)]
    return spark.createDataFrame(
        rows, "id int, text string, h0 string, h1 string, h2 string, "
              "h3 string").coalesce(1)


@pytest.mark.parametrize("name", list(CASES))
def test_udf_edge_inputs_match_kernel(edge_df, name):
    from pyspark.sql import functions as F

    udf, n_hints, kernel = CASES[name]
    cols = [F.col("text")] + [F.col(f"h{i}") for i in range(n_hints)]
    got = [r.asDict(recursive=True)["v"] for r in
           edge_df.select("id", udf(*cols).alias("v")).orderBy("id").collect()]
    assert got[0] == got[1]  # NULL reads as ""
    assert got == kernel(["" if t is None else t for t in TEXTS])
