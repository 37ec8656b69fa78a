"""Spark DataFrame pipeline stages for the transcript quality filter.

The full chain (north rule): langid -> fastText cross-check -> perplexity ->
heuristic rules -> PII/toxicity scrub -> keep/drop, producing per-turn
verdicts + scrubbed text over the transcripts schema
(conv_id, turn_idx, role, text, tool, ts).

Physical shape (designed for 10^12 turns / 1000 executors):
  - every stage is row-local: NO shuffle anywhere in the chain; the only
    exchanges in a production run are the source scan and the sink write.
  - the single Python stage is one Arrow-batched iterator UDF
    (`make_turn_udf`): langid + cross-check + perplexity in one
    normalization pass, then the heuristic rules, toxicity and the PII
    scrub on the same Arrow batch (kernels/rules.py); only the decision is
    whole-stage-codegen SQL. `with_quality`/`with_scrub` keep the Spark SQL
    rendering of the rules for the standalone queries and layer timings.
  - `partition_for_scale` gives the explicit conv_id hash partitioning +
    salt for mega-conversations demanded by the north rule; per-turn stages
    don't need it (row-local), so it's applied only when downstream
    conversation-level aggregation follows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from cld2_spark.functions.langid import analyze_udf, make_turn_udf, pipeline_udf
from cld2_spark.kernels import quality as Q
from cld2_spark.kernels import scrub as S
from cld2_spark.pipeline.decide import decision_columns

LD = "ld"  # struct column name for langid output


def with_langid(df: DataFrame, text_col: str = "text", slim: bool = True) -> DataFrame:
    """Attach the combined langid/cross-check/perplexity struct column.
    slim=True ships only the columns the decision consumes."""
    udf = pipeline_udf if slim else analyze_udf
    return df.withColumn(LD, udf(F.col(text_col)))


def with_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    return (df
            .withColumn("too_short", F.expr(Q.too_short_sql(text_col, "spark")))
            .withColumn("low_quality", F.expr(Q.low_quality_sql(text_col, "spark"))))


def with_scrub(df: DataFrame, text_col: str = "text") -> DataFrame:
    df = df.withColumn("toxic", F.expr(S.toxicity_sql(text_col, "spark")))
    return S.scrub_spark_columns(df, text_col, "scrubbed_text")


def _answer_field(df: DataFrame) -> str:
    """The per-turn language ANSWER inside the langid struct: pipeline_udf
    already maps lang1 = summary_lang; analyze_udf keeps the reference
    surface (sorted lang1 + separate summary_lang), so the decision must
    read summary_lang there -- both paths otherwise diverge on A9-demoted
    rows (and from the single-node oracle)."""
    fields = [f.name for f in df.schema[LD].dataType.fields]
    return f"{LD}.summary_lang" if "summary_lang" in fields else f"{LD}.lang1"


def with_decision(df: DataFrame) -> DataFrame:
    cols: dict[str, Column] = {
        "too_short": F.col("too_short"),
        "lang1": F.col(_answer_field(df)),
        "is_reliable": F.col(f"{LD}.is_reliable"),
        "rel1": F.col(f"{LD}.rel1"),
        "ft_lang": F.col(f"{LD}.ft_lang"),
        "ppl": F.col(f"{LD}.ppl"),
        "tri_grams": F.col(f"{LD}.tri_grams"),
        "low_quality": F.col("low_quality"),
        "toxic": F.col("toxic"),
        "be_ok": F.col(f"{LD}.be_ok"),
    }
    keep, reason = decision_columns(cols)
    return df.withColumn("keep", keep).withColumn("drop_reason", reason)


def run_pipeline(df: DataFrame, text_col: str = "text",
                 passthrough: tuple[str, ...] = ()) -> DataFrame:
    """Full per-turn chain; returns the flat verdict table (FIXTURES.md §4).
    `passthrough` names extra input columns to carry into the output (e.g.
    the event-time column for a downstream stateful streaming operator)."""
    out = df.withColumn(LD, make_turn_udf()(F.col(text_col)))
    out = with_decision(out.withColumns({
        c: F.col(f"{LD}.{c}")
        for c in ("too_short", "low_quality", "toxic", "scrubbed_text")}))
    return out.select(
        "conv_id", "turn_idx",
        F.col(_answer_field(out)).alias("lang1"),
        F.col(f"{LD}.pct1").alias("pct1"),
        F.col(f"{LD}.rel1").alias("rel1"),
        F.col(f"{LD}.is_reliable").alias("is_reliable"),
        F.col(f"{LD}.ft_lang").alias("ft_lang"),
        F.col(f"{LD}.ppl").alias("ppl"),
        "keep", "drop_reason", "scrubbed_text",
        *passthrough,
    )


def partition_for_scale(df: DataFrame, n_partitions: int, salt_buckets: int = 16) -> DataFrame:
    """Explicit conv_id hash partitioning with turn-level salt for skewed
    mega-conversations (SURVEY.md §7 scale hardening). Safe for all per-turn
    stages; conversation-level aggregates must do a two-stage
    (salted partial -> final) rollup."""
    salted = F.concat_ws("#", F.col("conv_id"),
                         (F.pmod(F.hash(F.col("turn_idx")), F.lit(salt_buckets))).cast("string"))
    return df.repartition(n_partitions, salted)
