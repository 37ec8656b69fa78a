"""Spark UDF surface for the langid kernels.

Reproduces the reference public API (SURVEY.md §2.10,
public/compact_lang_det.h:177-306) as Arrow-batched pandas UDFs:

  detect_udf          ~ DetectLanguage           (top language code only)
  detect_summary_udf  ~ ExtDetectLanguageSummary (top-3 + percents + scores)
  analyze_udf         = summary + fastText cross-check + perplexity
  make_turn_udf()     = the pipeline's one Python stage: the slim langid
                        struct plus the per-turn rules, toxicity and PII
                        scrub (kernels/rules.py), all on one Arrow batch

All are iterator UDFs so the broadcast model loads once per Python worker,
not once per batch (executor-side lazy singleton = CLD2 dynamic-mode load,
internal/compact_lang_det_impl.cc:108-136).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType, BooleanType, DoubleType, IntegerType, LongType, StringType,
    StructField, StructType,
)

# lang1..3/pct1..3 are SORTED by byte count (the reference's
# language3/percent3 arrays); summary_lang/summary_pct carry the
# CalcSummaryLang answer, which may differ from lang1 after an A9
# boilerplate demotion (reference returns it separately too)
SUMMARY_SCHEMA = StructType([
    StructField("lang1", StringType()), StructField("lang2", StringType()),
    StructField("lang3", StringType()),
    StructField("pct1", IntegerType()), StructField("pct2", IntegerType()),
    StructField("pct3", IntegerType()),
    StructField("ns1", DoubleType()), StructField("ns2", DoubleType()),
    StructField("ns3", DoubleType()),
    StructField("rel1", IntegerType()),
    StructField("text_bytes", LongType()),
    StructField("is_reliable", BooleanType()),
    StructField("summary_lang", StringType()),
    StructField("summary_pct", IntegerType()),
])

ANALYZE_SCHEMA = StructType(
    SUMMARY_SCHEMA.fields + [
        StructField("ft_lang", StringType()),
        StructField("ppl", DoubleType()),
        StructField("tri_grams", LongType()),
        # short-turn bestEffort rescue flag (analyze.BEST_EFFORT_MAX_BYTES):
        # true when the answer is a bestEffort guess that passed its own
        # confidence gate; is_reliable stays false on such rows
        StructField("be_ok", BooleanType()),
    ]
)

_SUMMARY_COLS = [f.name for f in SUMMARY_SCHEMA.fields]
_ANALYZE_COLS = [f.name for f in ANALYZE_SCHEMA.fields]

# slim schema for the keep/drop pipeline: only what the decision consumes
# (less Arrow traffic + pandas assembly per batch). `lang1` here is the
# pipeline's per-turn language answer = the kernel's summary_lang (the
# FIXTURES.md contract name predates the sorted-array refactor).
PIPELINE_SCHEMA = StructType([
    StructField("lang1", StringType()),
    StructField("pct1", IntegerType()),
    StructField("rel1", IntegerType()),
    StructField("is_reliable", BooleanType()),
    StructField("ft_lang", StringType()),
    StructField("ppl", DoubleType()),
    StructField("tri_grams", LongType()),
    StructField("be_ok", BooleanType()),
])
_PIPELINE_COLS = [f.name for f in PIPELINE_SCHEMA.fields]


def _pipeline_pdf(res: dict) -> pd.DataFrame:
    out = dict(res)
    out["lang1"] = res["summary_lang"]
    return _to_pdf(out, _PIPELINE_COLS)


def _to_pdf(res: dict, cols: list[str]) -> pd.DataFrame:
    return pd.DataFrame({c: res[c] for c in cols})


@F.pandas_udf(StringType())
def detect_udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """DetectLanguage analogue: top language code per row."""
    from cld2_spark.kernels.detect import detect_batch
    from cld2_spark.kernels.model import default_model
    model = default_model()
    for s in batches:
        res = detect_batch(s.fillna("").tolist(), model)
        yield pd.Series(res["summary_lang"])


@F.pandas_udf(SUMMARY_SCHEMA)
def detect_summary_udf(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
    """ExtDetectLanguageSummary analogue: top-3 + percents + reliability."""
    from cld2_spark.kernels.detect import detect_batch
    from cld2_spark.kernels.model import default_model
    model = default_model()
    for s in batches:
        res = detect_batch(s.fillna("").tolist(), model)
        yield _to_pdf(res, _SUMMARY_COLS)


def make_detect_summary_udf(best_effort: bool = False,
                            score_as_quads: bool = False,
                            is_plain_text: bool = True):
    """Flagged variant of detect_summary_udf (kCLDFlagBestEffort /
    kCLDFlagScoreAsQuads / is_plain_text, public/compact_lang_det.h:
    342-376,177-190). bestEffort returns the best guess instead of `un`
    on short / low-confidence rows (and consults the J2 backoff table);
    scoreAsQuads scores single-language scripts through the quad path;
    is_plain_text=False strips tags and expands the FULL verbatim entity
    table before detection."""
    @F.pandas_udf(SUMMARY_SCHEMA)
    def _udf(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        from cld2_spark.kernels.detect import detect_batch
        from cld2_spark.kernels.model import default_model
        model = default_model()
        for s in batches:
            res = detect_batch(s.fillna("").tolist(), model,
                               best_effort=best_effort,
                               score_as_quads=score_as_quads,
                               is_plain_text=is_plain_text)
            yield _to_pdf(res, _SUMMARY_COLS)
    return _udf


@F.pandas_udf(ANALYZE_SCHEMA)
def analyze_udf(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
    """Combined langid + cross-check + perplexity (one normalization pass)."""
    from cld2_spark.kernels.analyze import analyze_batch
    from cld2_spark.kernels.model import default_model
    model = default_model()
    for s in batches:
        res = analyze_batch(s.fillna("").tolist(), model)
        yield _to_pdf(res, _ANALYZE_COLS)


@F.pandas_udf(SUMMARY_SCHEMA)
def detect_summary_hinted_udf(batches: Iterator[tuple[pd.Series, pd.Series]]) -> Iterator[pd.DataFrame]:
    """ExtDetectLanguageSummary with a per-row language hint column (J8:
    hints bias the scoring, they never force the result)."""
    from cld2_spark.kernels.detect import detect_batch
    from cld2_spark.kernels.model import default_model
    model = default_model()
    for texts, hints in batches:
        res = detect_batch(texts.fillna("").tolist(), model,
                           lang_hints=hints.fillna("").tolist())
        yield _to_pdf(res, _SUMMARY_COLS)


@F.pandas_udf(SUMMARY_SCHEMA)
def detect_summary_ext_udf(batches: Iterator[tuple[pd.Series, ...]]) -> Iterator[pd.DataFrame]:
    """ExtDetectLanguageSummary with the full CLDHints record as columns:
    (text, lang_hint, content_language_hint, tld_hint, encoding_hint) --
    public/compact_lang_det.h:133-138,241-271. Up to 4 merged priors per
    row (TrimCLDLangPriors); hints bias the scoring, never force it."""
    from cld2_spark.kernels.detect import detect_batch
    from cld2_spark.kernels.model import default_model
    model = default_model()
    for texts, lang_h, cl_h, tld_h, enc_h in batches:
        hints = [
            {"lang": lh or None, "content_language": ch or None,
             "tld": th or None, "encoding": eh or None}
            if (lh or ch or th or eh) else None
            for lh, ch, th, eh in zip(lang_h.fillna(""), cl_h.fillna(""),
                                      tld_h.fillna(""), enc_h.fillna(""))
        ]
        res = detect_batch(texts.fillna("").tolist(), model, hints=hints)
        yield _to_pdf(res, _SUMMARY_COLS)


# W4 chunk vector: per-language spans of the source text
# (ResultChunkVector, public/compact_lang_det.h:146-153). off/len are
# CHARACTER offsets; off_b/len_b the same spans in UTF-8 BYTES (the
# reference's OffsetMap domain, internal/offsetmap.h:25-45)
SPANS_SCHEMA = ArrayType(StructType([
    StructField("off", IntegerType()), StructField("len", IntegerType()),
    StructField("off_b", IntegerType()), StructField("len_b", IntegerType()),
    StructField("lang", StringType()),
]))


_SPAN_FIELDS = list(to_arrow_schema(StructType([
    StructField("spans", SPANS_SCHEMA)])).field("spans").type.value_type)


@F.arrow_udf(SPANS_SCHEMA)
def detect_spans_udf(batches: Iterator[pa.Array]) -> Iterator[pa.Array]:
    """Per-row language spans (the ExtDetectLanguageSummaryCheckUTF8
    resultchunkvector output: W4 stitching + W3 boundary sharpening).
    The list column is built from the row-sorted span arrays and their
    per-row offsets; a NULL text has no spans."""
    import numpy as np
    import pyarrow.compute as pc
    from cld2_spark.kernels.detect import detect_batch
    from cld2_spark.kernels.model import default_model
    model = default_model()
    for texts in batches:
        res = detect_batch(pc.fill_null(texts, "").to_pylist(), model,
                           return_spans=True)
        order = np.argsort(res["span_rid"], kind="stable")
        offsets = np.searchsorted(res["span_rid"][order],
                                  np.arange(len(texts) + 1)).astype(np.int32)
        spans = pa.StructArray.from_arrays(
            [pa.array(res[f"span_{f.name}"][order], type=f.type)
             for f in _SPAN_FIELDS], fields=_SPAN_FIELDS)
        yield pa.ListArray.from_arrays(pa.array(offsets), spans)


@F.pandas_udf(PIPELINE_SCHEMA)
def pipeline_udf(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
    """analyze_udf minus the columns the keep/drop decision never reads."""
    from cld2_spark.kernels.analyze import analyze_batch
    from cld2_spark.kernels.model import default_model
    model = default_model()
    for s in batches:
        res = analyze_batch(s.fillna("").tolist(), model)
        yield _pipeline_pdf(res)


# the pipeline's one Python stage: the slim langid struct plus the
# per-turn rules, toxicity and scrub (kernels/rules.py)
TURN_SCHEMA = StructType(PIPELINE_SCHEMA.fields + [
    StructField("too_short", BooleanType()),
    StructField("low_quality", BooleanType()),
    StructField("toxic", BooleanType()),
    StructField("scrubbed_text", StringType()),
])
_TURN_FIELDS = list(to_arrow_schema(TURN_SCHEMA))


def _turn_batches(batches: Iterator[pa.Array]) -> Iterator[pa.Array]:
    import pyarrow.compute as pc
    from cld2_spark.kernels.analyze import analyze_batch
    from cld2_spark.kernels.model import default_model
    from cld2_spark.kernels.rules import rules_batch
    model = default_model()
    for texts in batches:
        texts = pc.fill_null(texts, "")  # NULL is empty text, as in the oracle
        res = analyze_batch(texts.to_pylist(), model)
        res["lang1"] = res["summary_lang"]
        res.update(rules_batch(texts))
        yield pa.StructArray.from_arrays(
            [res[f.name].cast(f.type) if isinstance(res[f.name], pa.Array)
             else pa.array(res[f.name], type=f.type) for f in _TURN_FIELDS],
            fields=_TURN_FIELDS)


def make_turn_udf():
    """A fresh Arrow UDF (TURN_SCHEMA) for one query. Not a module-level
    singleton: a UDF object caches its JVM function, which would outlive a
    stopped SparkContext and its accumulator server."""
    return F.arrow_udf(TURN_SCHEMA)(_turn_batches)
