"""Expectations layer: the reference's validation semantics (SURVEY §2.11) as
reusable helpers. Distributed jobs must fail fast on the driver with the same
messages the reference raises/exits with — checks here collect a bounded
list of offenders, never an unbounded key set.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame


class SampleSheetError(ValueError):
    """Sample sheet / design validation failure (reference exits 1)."""


def require_unique_mapping(
    df: DataFrame, key: str, value_cols: Sequence[str], context: str
) -> None:
    """Each key must map to exactly one value tuple
    (diann2msstats.py:205-213)."""
    from pyspark.sql import functions as F

    dups = (
        df.select(key, *value_cols)
        .distinct()
        .groupBy(key)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > 1)
        .limit(50)
        .collect()
    )
    if dups:
        bad = ", ".join(str(r[key]) for r in dups)
        raise SampleSheetError(
            f"Inconsistent {context}: Sample(s) {bad} map to multiple "
            f"({', '.join(value_cols)}) combinations."
        )
