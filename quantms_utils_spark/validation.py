"""Expectations layer: the reference's validation semantics (SURVEY §2.11) as
reusable helpers, raising the messages the reference raises/exits with.

The checks here run on driver-side pandas frames (design and configuration
tables of at most thousands of rows): no Spark job validates kilobytes.
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd


class SampleSheetError(ValueError):
    """Sample sheet / design validation failure (reference exits 1)."""


def require_unique_mapping(
    df: pd.DataFrame, key: str, value_cols: Sequence[str], context: str
) -> None:
    """Each key must map to exactly one value tuple
    (diann2msstats.py:205-213)."""
    pairs = df[[key, *value_cols]].drop_duplicates()
    dups = pairs.loc[pairs[key].duplicated(), key].unique()[:50]
    if len(dups):
        bad = ", ".join(str(k) for k in dups)
        raise SampleSheetError(
            f"Inconsistent {context}: Sample(s) {bad} map to multiple "
            f"({', '.join(value_cols)}) combinations."
        )
