"""Spark UDF surface for the langid kernels.

Reproduces the reference public API (SURVEY.md §2.10,
public/compact_lang_det.h:177-306) as Arrow UDFs:

  detect_udf          ~ DetectLanguage           (top language code only)
  detect_summary_udf  ~ ExtDetectLanguageSummary (top-3 + percents + scores);
                        optional CLDHints columns may follow the text column
  make_detect_summary_udf(...) = the same with the reference's flags
  detect_spans_udf    ~ the resultchunkvector output (per-language spans)
  pipeline_udf        = the summary answer + fastText cross-check + perplexity
  make_turn_udf()     = the pipeline's one Python stage: pipeline_udf's
                        struct plus the per-turn rules, toxicity and PII
                        scrub (kernels/rules.py), all on one Arrow batch

Every UDF is built by `_langid_udf` over one iterator body, so the model
loads once per Python worker, not once per batch (executor-side lazy
singleton = CLD2 dynamic-mode load, internal/compact_lang_det_impl.cc:
108-136), and a NULL text reads as empty text everywhere.
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import partial

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import (
    ArrayType, BooleanType, DataType, DoubleType, IntegerType, LongType,
    StringType, StructField, StructType,
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

# slim schema for the keep/drop pipeline: only what the decision consumes.
# `lang1` here is the pipeline's per-turn language answer = the kernel's
# summary_lang (the FIXTURES.md contract name predates the sorted-array
# refactor).
PIPELINE_SCHEMA = StructType([
    StructField("lang1", StringType()),
    StructField("pct1", IntegerType()),
    StructField("rel1", IntegerType()),
    StructField("is_reliable", BooleanType()),
    StructField("ft_lang", StringType()),
    StructField("ppl", DoubleType()),
    StructField("tri_grams", LongType()),
    # short-turn bestEffort rescue flag (analyze.BEST_EFFORT_MAX_BYTES):
    # true when the answer is a bestEffort guess that passed its own
    # confidence gate; is_reliable stays false on such rows
    StructField("be_ok", BooleanType()),
])

# the pipeline's one Python stage: the slim langid struct plus the
# per-turn rules, toxicity and scrub (kernels/rules.py)
TURN_SCHEMA = StructType(PIPELINE_SCHEMA.fields + [
    StructField("too_short", BooleanType()),
    StructField("low_quality", BooleanType()),
    StructField("toxic", BooleanType()),
    StructField("scrubbed_text", StringType()),
])

# W4 chunk vector: per-language spans of the source text
# (ResultChunkVector, public/compact_lang_det.h:146-153). off/len are
# CHARACTER offsets; off_b/len_b the same spans in UTF-8 BYTES (the
# reference's OffsetMap domain, internal/offsetmap.h:25-45)
SPANS_SCHEMA = ArrayType(StructType([
    StructField("off", IntegerType()), StructField("len", IntegerType()),
    StructField("off_b", IntegerType()), StructField("len_b", IntegerType()),
    StructField("lang", StringType()),
]))

# the CLDHints record (public/compact_lang_det.h:133-138), in the order
# the hint columns follow the text column
_HINT_KEYS = ("lang", "content_language", "tld", "encoding")


def _column(value, t: pa.DataType) -> pa.Array:
    """One Arrow column of type `t` from a kernel result: a struct from a
    dict of per-row arrays keyed by field name, else one Arrow or NumPy
    array."""
    if pa.types.is_struct(t):
        return pa.StructArray.from_arrays(
            [_column(value[f.name], f.type) for f in t], fields=list(t))
    return value.cast(t) if isinstance(value, pa.Array) else pa.array(value, type=t)


def _langid_udf(dtype: DataType, kernel):
    """An Arrow iterator UDF returning `dtype`. Per batch it calls
    `kernel(texts, hints, model)` with the text column (NULL read as ""),
    the list of hint columns after it (often empty) and the worker's
    model, and assembles the result with `_column`."""
    t = to_arrow_type(dtype)

    def body(batches: Iterator[tuple[pa.Array, ...]]) -> Iterator[pa.Array]:
        from cld2_spark.kernels.model import default_model
        model = default_model()
        for cols in batches:
            # Spark passes a bare array for one column, a tuple for several
            texts, *hints = cols if isinstance(cols, tuple) else (cols,)
            yield _column(kernel(pc.fill_null(texts, ""), hints, model), t)
    return F.arrow_udf(dtype)(body)


def _summary(texts: pa.Array, hints: list[pa.Array], model, **flags) -> dict:
    """detect_batch with up to 4 hint columns (lang, content_language, tld,
    encoding); hints bias the scoring, never force it (J8, merged and
    trimmed to 4 priors per row by resolve_hints). A NULL or "" hint is
    absent."""
    from cld2_spark.kernels.detect import detect_batch
    rows = (None if not hints else
            [dict(zip(_HINT_KEYS, r)) for r in zip(*(h.to_pylist() for h in hints))])
    return detect_batch(texts.to_pylist(), model, hints=rows, **flags)


def _answer(texts: pa.Array, hints: list[pa.Array], model):
    return _summary(texts, hints, model)["summary_lang"]


def _analyze(texts: pa.Array, hints: list[pa.Array], model) -> dict:
    from cld2_spark.kernels.analyze import analyze_batch
    res = analyze_batch(texts.to_pylist(), model)
    res["lang1"] = res["summary_lang"]
    return res


def _turn(texts: pa.Array, hints: list[pa.Array], model) -> dict:
    from cld2_spark.kernels.rules import rules_batch
    return {**_analyze(texts, hints, model), **rules_batch(texts)}


def _spans(texts: pa.Array, hints: list[pa.Array], model) -> pa.Array:
    """The span list column, built from the row-sorted span arrays and
    their per-row offsets."""
    import numpy as np
    from cld2_spark.kernels.detect import detect_batch
    res = detect_batch(texts.to_pylist(), model, return_spans=True)
    order = np.argsort(res["span_rid"], kind="stable")
    offsets = np.searchsorted(res["span_rid"][order],
                              np.arange(len(texts) + 1)).astype(np.int32)
    fields = list(to_arrow_type(SPANS_SCHEMA).value_type)
    spans = pa.StructArray.from_arrays(
        [pa.array(res[f"span_{f.name}"][order], type=f.type) for f in fields],
        fields=fields)
    return pa.ListArray.from_arrays(pa.array(offsets), spans)


# DetectLanguage analogue: top language code per row
detect_udf = _langid_udf(StringType(), _answer)
# ExtDetectLanguageSummary analogue: top-3 + percents + reliability; the
# text column may be followed by 1-4 CLDHints columns (lang,
# content_language, tld, encoding -- public/compact_lang_det.h:241-271)
detect_summary_udf = _langid_udf(SUMMARY_SCHEMA, _summary)
detect_summary_ext_udf = detect_summary_udf
# per-row language spans (the ExtDetectLanguageSummaryCheckUTF8
# resultchunkvector output: W4 stitching + W3 boundary sharpening)
detect_spans_udf = _langid_udf(SPANS_SCHEMA, _spans)
# the langid struct the keep/drop decision reads (PIPELINE_SCHEMA)
pipeline_udf = _langid_udf(PIPELINE_SCHEMA, _analyze)


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
    return _langid_udf(SUMMARY_SCHEMA, partial(
        _summary, best_effort=best_effort, score_as_quads=score_as_quads,
        is_plain_text=is_plain_text))


def make_turn_udf():
    """A fresh Arrow UDF (TURN_SCHEMA) for one query. Not a module-level
    singleton: a UDF object caches its JVM function, which would outlive a
    stopped SparkContext and its accumulator server."""
    return _langid_udf(TURN_SCHEMA, _turn)
