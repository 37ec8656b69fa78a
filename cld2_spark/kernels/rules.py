"""Per-turn rules over one Arrow string batch: quality flags, toxicity and
the PII scrub, computed where the pipeline's Python UDF already holds the
batch (functions/langid.make_turn_udf), so they cost no JVM string pass.

Spark-free. The pandas oracle (pipeline/oracle.py) and the DuckDB SQL
renderings in quality.py/scrub.py stay the independent checks.
"""

from __future__ import annotations

from .quality import quality_flags_arrow
from .scrub import scrub_arrow, toxicity_arrow


def rules_batch(texts) -> dict:
    """too_short, low_quality, toxic (NumPy bool arrays) and scrubbed_text
    (a pyarrow string array) for a pyarrow string array; NULL is empty text,
    as in the oracle."""
    too_short, low_quality = quality_flags_arrow(texts)
    return {
        "too_short": too_short,
        "low_quality": low_quality,
        "toxic": toxicity_arrow(texts).to_numpy(zero_copy_only=False),
        "scrubbed_text": scrub_arrow(texts),
    }
