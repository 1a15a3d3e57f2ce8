"""Join operators: validated many-to-one broadcast joins, anti-join
diagnostics, and a binned range join.

Reference behaviors re-expressed (citations into /root/reference):

- ``join_many_to_one`` — pandas ``merge(..., validate="many_to_one")``
  (quantmsutils/diann/diann2msstats.py:117) plus the manual uniqueness check
  (:205-213). The dimension side is broadcast — in this domain it is always a
  design/config table of at most thousands of rows, so the fact side never
  shuffles. The broadcast brings the dimension to the driver anyway, so its
  keys are checked there from one collect; against a local relation (a
  driver-built design lookup) the check starts no Spark job.
- ``unmatched_keys`` — the warn-then-drop diagnostic for report runs missing
  from the design (diann2msstats.py:119-127), expressed as a left-anti join
  of the fact keys against the broadcast dimension keys, then distinct.
- ``range_join_binned`` — the feature↔scan interval containment join
  (quantmsutils/mzml/ms1_feature_finder.py:186-187,307-322 is an
  O(features×scans) python loop). OSS Spark has no range-join optimization, so
  a naive theta join becomes BroadcastNestedLoop. We bin the range dimension:
  intervals explode over the bins they cover, points map to exactly one bin,
  and the join becomes an equi-join on (equi_keys..., bin) with a residual
  predicate. Each (interval, point) pair meets in exactly one bin — the
  point's — so no dedup pass is needed. Cost is O(intervals × interval_width /
  bin_width + points), a sort-merge/hash join that scales to 100 TB instead of
  a nested loop that does not.
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Sequence

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.functions import broadcast


class JoinValidationError(ValueError):
    """A join-side cardinality contract was violated."""


def join_many_to_one(
    fact: DataFrame,
    dim: DataFrame,
    on: Sequence[str] | str,
    how: str = "left",
) -> DataFrame:
    """``fact ⋈ broadcast(dim)`` where ``dim`` must be unique on the join keys.

    Raises :class:`JoinValidationError` listing offending keys, mirroring
    pandas' ``validate="many_to_one"`` failure and the reference's explicit
    sample-uniqueness ValueError (diann2msstats.py:205-213).
    """
    keys = [on] if isinstance(on, str) else list(on)
    counts = Counter(tuple(r) for r in dim.select(*keys).collect())
    bad = [k for k, n in counts.items() if n > 1][:20]
    if bad:
        raise JoinValidationError(
            f"many-to-one join violated: dimension side has duplicate keys {bad}"
        )
    return fact.join(broadcast(dim), keys, how)


def unmatched_keys(
    fact: DataFrame, dim: DataFrame, on: Sequence[str] | str
) -> DataFrame:
    """Distinct fact keys with no dimension match (left-anti against the
    broadcast dimension keys), for the warn-and-drop diagnostic of
    diann2msstats.py:119-127."""
    keys = [on] if isinstance(on, str) else list(on)
    return fact.select(*keys).join(broadcast(dim.select(*keys)), keys, "left_anti").distinct()


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    right_value_cols: Sequence[str],
) -> DataFrame:
    """Two-table backward-inclusive as-of join: each left row picks up the
    right row with the greatest ``right_ts <= left_ts`` for the same keys
    (trades/quotes, purchase/last-click, spectrum/last-calibration).

    Spark has no ASOF JOIN, and the correlated-subquery formulation is a
    per-row lookup that cannot distribute. The scalable shape is
    UNION + WINDOW: tag both inputs, union them on (keys, ts), and take
    ``last(right_payload, ignorenulls=True)`` over an unbounded-preceding
    window ordered by (ts, side) with right rows sorting before left rows at
    equal ts (inclusive semantics). ONE shuffle on the keys, state per key is
    a single struct — no join explosion, no lookup amplification. This
    generalizes the within-table as-of of operators/windows.py:asof_lookup
    (reference precursor lookup, mzml_statistics.py:253-260) to two inputs.

    Returns all left columns plus ``right_value_cols`` (null when no prior
    right row exists).

    Round 11 (review): right rows with a NULL timestamp or a NULL join key
    are dropped before the union — they can never match under SQL
    semantics (``NULL <= t`` is never true; join equality is null-unsafe),
    but the window formulation would otherwise group NULL keys together
    and sort NULL timestamps first, silently handing NULL-ts left rows a
    NULL-ts right payload. Left rows are untouched: a left row with a NULL
    key or ts sees no qualifying right row and gets NULL, exactly the SQL
    result.
    """
    keys = list(on)
    rvals = list(right_value_cols)
    r_ok = F.col(right_ts).isNotNull()
    for k in keys:
        r_ok = r_ok & F.col(k).isNotNull()
    right = right.filter(r_ok)
    r_payload_t = right.select(
        F.struct(*[F.col(c) for c in rvals]).alias("__r")
    ).schema["__r"].dataType
    l_payload_t = left.select(
        F.struct(*[F.col(c) for c in left.columns]).alias("__l")
    ).schema["__l"].dataType

    l_tagged = left.select(
        *keys,
        F.col(left_ts).alias("__t"),
        F.lit(1).alias("__is_left"),
        F.struct(*[F.col(c) for c in left.columns]).alias("__l"),
        F.lit(None).cast(r_payload_t).alias("__r"),
    )
    r_tagged = right.select(
        *keys,
        F.col(right_ts).alias("__t"),
        F.lit(0).alias("__is_left"),
        F.lit(None).cast(l_payload_t).alias("__l"),
        F.struct(*[F.col(c) for c in rvals]).alias("__r"),
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy("__t", "__is_left")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    matched = (
        l_tagged.unionByName(r_tagged)
        .withColumn("__last_r", F.last("__r", ignorenulls=True).over(w))
        .filter(F.col("__is_left") == 1)
    )
    out_cols = [F.col(f"__l.{c}").alias(c) for c in left.columns] + [
        F.col(f"__last_r.{c}").alias(c) for c in rvals
    ]
    return matched.select(*out_cols)


def range_join_binned(
    intervals: DataFrame,
    points: DataFrame,
    *,
    lo_col: str,
    hi_col: str,
    point_col: str,
    bin_width: float,
    equi_keys: Sequence[str] = (),
    how: str = "inner",
) -> DataFrame:
    """Join rows of ``points`` into rows of ``intervals`` where
    ``lo <= point <= hi`` (optionally also matching on ``equi_keys``).

    Both inputs may carry arbitrary extra columns; all survive. ``bin_width``
    should be on the order of the median interval width: too small explodes
    the interval side, too large degrades to a near-cross join within a bin.

    Inner join only: the residual containment predicate is applied AFTER the
    bin equi-join, which on an outer join would silently drop the unmatched
    (null-extended) rows — so outer variants are rejected rather than
    miscomputed.
    """
    if bin_width <= 0:
        raise ValueError("bin_width must be positive")
    if how != "inner":
        raise ValueError(
            "range_join_binned supports how='inner' only; an outer join would "
            "drop null-extended rows at the residual filter"
        )
    # Round 12 (ADVICE): "__bin" is reserved — an input already carrying it
    # would be silently overwritten by withColumn and then dropped from the
    # output (same hazard class as salted_join's "_salt" guard).
    if "__bin" in intervals.columns or "__bin" in points.columns:
        raise ValueError(
            "range_join_binned: '__bin' is a reserved internal column name; "
            "rename it on the input before joining"
        )
    keys = list(equi_keys)
    binned_intervals = intervals.withColumn(
        "__bin",
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / F.lit(bin_width)).cast("long"),
                F.floor(F.col(hi_col) / F.lit(bin_width)).cast("long"),
            )
        ),
    )
    binned_points = points.withColumn(
        "__bin", F.floor(F.col(point_col) / F.lit(bin_width)).cast("long")
    )
    residual = (F.col(point_col) >= F.col(lo_col)) & (F.col(point_col) <= F.col(hi_col))
    return (
        binned_intervals.join(binned_points, keys + ["__bin"], how)
        .where(residual)
        .drop("__bin")
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    *,
    lo_col: str,
    hi_col: str,
    bin_width: float,
    equi_keys: Sequence[str] = (),
    suffix: str = "_r",
) -> DataFrame:
    """Interval × interval OVERLAP join — the two-sided sibling of
    :func:`range_join_binned` (which joins points into intervals).

    Both sides explode their [lo, hi] span over the fixed-width bins it
    covers and meet in a bin equi-join with the overlap predicate
    (``lo ≤ hi' AND lo' ≤ hi``) as a residual. An overlapping pair shares
    every bin its intersection covers, so a naive bin join emits it once
    per shared bin; instead of a distinct pass, the OWNERSHIP trick keeps
    the pair only in the single bin that contains ``greatest(lo, lo')`` —
    exactly-once with zero post-deduplication shuffle. Never a
    BroadcastNestedLoopJoin: the plan is a plain hash/sort-merge equi-join
    on (equi_keys…, bin). ``bin_width`` trades explode fan-out (wide
    intervals cover many bins) against bin population; size it near the
    median interval length.

    Round 11 (review): a left column that already carries a right column's
    suffixed name (e.g. left ``score_r`` vs right ``score`` with the
    default suffix) is rejected loudly — the join would otherwise emit two
    identically-named columns and any downstream ``F.col`` would be
    ambiguous or silently bind to the wrong side.
    """
    if bin_width <= 0:
        raise ValueError("bin_width must be positive")
    # Round 12 (ADVICE): same reserved-name guard as range_join_binned —
    # an input "__bin" would be overwritten and dropped silently.
    if "__bin" in left.columns or "__bin" in right.columns:
        raise ValueError(
            "interval_overlap_join: '__bin' is a reserved internal column "
            "name; rename it on the input before joining"
        )
    clashes = set(left.columns) & {
        c + suffix for c in right.columns if c not in equi_keys
    }
    if clashes:
        raise ValueError(
            f"interval_overlap_join: left columns {sorted(clashes)} collide "
            f"with right columns renamed by suffix {suffix!r} — rename them "
            "or pass a different suffix"
        )
    lkeys = list(equi_keys)

    def binned(df: DataFrame, rename: bool) -> DataFrame:
        cols = df.columns
        out = df
        if rename:
            for c in cols:
                out = out.withColumnRenamed(c, c + suffix)
        lo = F.col((lo_col + suffix) if rename else lo_col)
        hi = F.col((hi_col + suffix) if rename else hi_col)
        return out.withColumn(
            "__bin",
            F.explode(
                F.sequence(
                    F.floor(lo / F.lit(bin_width)).cast("long"),
                    F.floor(hi / F.lit(bin_width)).cast("long"),
                )
            ),
        )

    lb = binned(left, rename=False)
    rb = binned(right, rename=True)
    join_keys = ["__bin"] + lkeys
    for k in lkeys:
        rb = rb.withColumnRenamed(k + suffix, k)
    lo_l, hi_l = F.col(lo_col), F.col(hi_col)
    lo_r, hi_r = F.col(lo_col + suffix), F.col(hi_col + suffix)
    overlap = (lo_l <= hi_r) & (lo_r <= hi_l)
    owner = (
        F.floor(F.greatest(lo_l, lo_r) / F.lit(bin_width)).cast("long")
        == F.col("__bin")
    )
    return lb.join(rb, join_keys).where(overlap & owner).drop("__bin")
