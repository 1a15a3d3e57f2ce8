"""Snapshot comparison (CDC-style table diff).

``table_diff`` classifies every key across two snapshots of the same table
as inserted / deleted / updated / unchanged — the reconciliation primitive
behind incremental loads, backfill audits, and replication checks.

Scale shape: ONE full-outer equi-join on the key columns (co-partitioned by
the shuffle on the key — at 100 TB, bucket both snapshots by the key and the
join goes exchange-free). In the default hash mode, change detection is a
single xxhash64 over the canonicalized non-key columns computed map-side on
each side before the join, so only (keys, 8-byte digest) rows shuffle. No
column-by-column comparison expression blow-up, no driver work; emitting
only changed rows keeps the output proportional to the drift, not the table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import MapType

__all__ = ["table_diff", "maintain_count_sum", "merge_upsert"]


def _digest_expr(non_keys: list[str]) -> F.Column:
    """Hash-mode change-detection payload: null-safe ``xxhash64`` over the
    canonical string forms of the non-key columns (NULL → ``"\\x00null"``
    sentinel). Single source of truth for the digest contract shared by
    batch ``table_diff`` and ``streaming.diff.diff_and_apply`` — the two
    must agree byte-for-byte or a stream replayed through the batch path
    (or vice versa) misclassifies unchanged rows as updated."""
    if not non_keys:
        return F.lit(0).cast("long")
    return F.xxhash64(
        *[F.coalesce(F.col(c).cast("string"), F.lit("\x00null")) for c in non_keys]
    )


def _null_safe_key_cond(left_alias: str, right_alias: str, keys: list[str]):
    """AND-folded ``eqNullSafe`` join condition over the key columns.
    EqualNullSafe is an equi-join predicate to Catalyst, so the join still
    hash-partitions on the key (sort-merge/shuffled-hash, never a BNLJ)."""
    from functools import reduce

    return reduce(
        lambda a, b: a & b,
        [
            F.col(f"{left_alias}.{k}").eqNullSafe(F.col(f"{right_alias}.{k}"))
            for k in keys
        ],
    )


def table_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    *,
    include_unchanged: bool = False,
    exact: bool = False,
) -> DataFrame:
    """Diff two snapshots sharing a schema on ``keys``.

    Returns the key columns plus ``status`` in {'inserted', 'deleted',
    'updated'} (plus 'unchanged' when ``include_unchanged``).

    Change-detection contract (``exact=False``, the default): non-key
    columns are compared by a null-safe ``xxhash64`` over their canonical
    string forms (every value cast to string, nulls replaced by a
    ``"\\x00null"`` sentinel). This is probabilistic and canonicalizing:

    - a 64-bit hash collision reports an updated row as unchanged with
      probability ~2**-64 per key;
    - a real string value equal to the sentinel is indistinguishable from
      NULL;
    - values whose *string rendering* coincides (e.g. date vs its ISO
      string) compare equal.

    Pass ``exact=True`` for exact semantics: the non-key columns are packed
    into a struct on each side (map-side, still just one shuffled column)
    and compared with null-safe struct equality — no sentinels, no
    collisions, at the cost of shuffling the full row payload instead of an
    8-byte digest.

    Map-typed non-key columns are rejected in both modes (their rendering
    and equality are unordered/nondeterministic); explode them to rows or
    ``map_entries`` + ``array_sort`` them first.

    NULL key values match NULL-SAFELY (round 10 review, aligning with the
    streaming twin's round-9 contract): a row whose key contains NULL
    compares against the other snapshot's NULL-key row instead of flapping
    as a phantom delete+insert pair on EVERY diff forever. Key uniqueness
    (the diff precondition) therefore treats NULL as one key value.
    """
    if not keys:
        raise ValueError("keys must be non-empty")
    if set(old.columns) != set(new.columns):
        raise ValueError("snapshots must share a schema")
    non_keys = [c for c in old.columns if c not in keys]
    for c in non_keys:
        if isinstance(old.schema[c].dataType, MapType) or isinstance(
            new.schema[c].dataType, MapType
        ):
            raise ValueError(
                f"map-typed column {c!r} is not diffable (unordered "
                "rendering); explode it or sort its entries first"
            )

    def _digest(df: DataFrame, alias: str) -> DataFrame:
        if not non_keys:
            payload = F.lit(0)
        elif exact:
            payload = F.struct(*[F.col(c) for c in non_keys])
        else:
            payload = _digest_expr(non_keys)
        return df.select(
            *keys,
            payload.alias(f"_v_{alias}"),
            F.lit(True).alias(f"_p_{alias}"),
        )

    joined = _digest(old, "old").alias("o").join(
        _digest(new, "new").alias("n"),
        _null_safe_key_cond("o", "n", keys),
        "full_outer",
    )
    changed = (
        ~F.col("_v_old").eqNullSafe(F.col("_v_new"))
        if exact
        else F.col("_v_old") != F.col("_v_new")
    )
    status = (
        F.when(F.col("_p_old").isNull(), F.lit("inserted"))
        .when(F.col("_p_new").isNull(), F.lit("deleted"))
        .when(changed, F.lit("updated"))
        .otherwise(F.lit("unchanged"))
    )
    out = joined.select(
        *[
            F.coalesce(F.col(f"o.{k}"), F.col(f"n.{k}")).alias(k)
            for k in keys
        ],
        status.alias("status"),
    )
    if not include_unchanged:
        out = out.filter(F.col("status") != "unchanged")
    return out


def maintain_count_sum(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Incremental materialized-view maintenance for the per-group
    (count, sum) aggregate: given snapshots old→new, adjust the STANDING
    view with only the changed rows' contributions instead of rescanning
    the new snapshot — the O(delta) refresh every warehouse runs on its
    rollup tables.

    Changed keys come from :func:`table_diff` (one full-outer key join);
    deleted/updated rows retract their old contribution (negative), and
    inserted/updated rows add their new one — an update that MOVES a row
    between groups is handled for free because retraction uses the old
    row's group and addition the new row's. The changed-key set is
    O(delta); the contribution joins are left to AQE, which broadcasts it
    while it is small and falls back to a shuffle join when a bulk update
    makes the delta table-sized (a forced broadcast would OOM the driver
    exactly then). Sums run
    in DECIMAL(18,2) so the incremental path is bit-equal to a direct
    rebuild (float summation order would differ).

    Returns ``(group_col, n_rows, total)`` with empty groups dropped —
    exactly what a fresh ``new.groupBy(group).agg(...)`` would produce,
    which is how the oracle checks it.
    """
    changed = table_diff(old, new, keys=keys)
    dec = F.col(value_col).cast("decimal(18,2)")
    view = old.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_rows"), F.sum(dec).alias("total")
    )
    # Contribution joins are NULL-SAFE on the key (round 10 review, same
    # contract as table_diff): with plain equi-joins a changed NULL-key
    # row's retraction/addition silently missed the join and the standing
    # view drifted from a fresh rebuild.
    retract = old.alias("t").join(
        changed.filter(F.col("status").isin("deleted", "updated")).alias("c"),
        _null_safe_key_cond("t", "c", keys),
    ).select(
        F.col(f"t.{group_col}").alias(group_col),
        F.lit(-1).cast("long").alias("dn"),
        (-F.col(f"t.{value_col}").cast("decimal(18,2)")).alias("ds"),
    )
    add = new.alias("t").join(
        changed.filter(F.col("status").isin("inserted", "updated")).alias("c"),
        _null_safe_key_cond("t", "c", keys),
    ).select(
        F.col(f"t.{group_col}").alias(group_col),
        F.lit(1).cast("long").alias("dn"),
        F.col(f"t.{value_col}").cast("decimal(18,2)").alias("ds"),
    )
    delta = (
        retract.unionByName(add)
        .groupBy(group_col)
        .agg(F.sum("dn").alias("dn"), F.sum("ds").alias("ds"))
    )
    return (
        view.join(delta, group_col, "full_outer")
        .select(
            group_col,
            (
                F.coalesce("n_rows", F.lit(0)) + F.coalesce("dn", F.lit(0))
            ).alias("n_rows"),
            (
                F.coalesce(F.col("total"), F.lit(0).cast("decimal(18,2)"))
                + F.coalesce(F.col("ds"), F.lit(0).cast("decimal(18,2)"))
            ).alias("total"),
        )
        .filter(F.col("n_rows") > 0)
    )


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    *,
    delete_col: str | None = None,
) -> DataFrame:
    """MERGE INTO semantics as a batch DataFrame transform: source rows
    overwrite matching target rows (matched → update), unmatched source
    rows append (not matched → insert), untouched target rows carry over;
    with ``delete_col``, source rows whose boolean flag is true DELETE the
    matching target key instead (matched + flag → delete), and flagged
    rows never insert.

    Source must be key-unique (the SQL MERGE precondition — two source
    rows hitting one target row is nondeterministic); enforced cheaply at
    plan level by the caller.

    NULL key semantics follow SQL MERGE (``ON t.k = s.k``): NULL never
    matches, so a NULL-key source row always INSERTS and a NULL-key
    target row is always kept. This deliberately differs from
    :func:`table_diff`/``streaming.diff`` (null-safe reconciliation) —
    MERGE mirrors the SQL statement users would replace it with.

    Spark shape: ONE left-anti join (target keys minus source keys) + a
    union with the source's surviving rows — no full-outer join, no row
    comparison; the anti join shuffles only target keys against source
    keys, and both sides co-partition on the key. At 100 TB this is the
    foreachBatch upsert kernel (`streaming/diff.py`) in batch form:
    bucket the target by key and the per-batch merge goes exchange-free;
    storage formats with deletion vectors would push the anti join into
    the commit instead.
    """
    if not keys:
        raise ValueError("keys must be non-empty")
    data_cols = [c for c in source.columns if c != delete_col]
    if set(target.columns) != set(data_cols):
        raise ValueError("source data columns must match target schema")
    kept = target.join(source.select(*keys), keys, "left_anti")
    incoming = source
    if delete_col is not None:
        incoming = incoming.filter(
            ~F.coalesce(F.col(delete_col), F.lit(False))
        )
    return kept.unionByName(incoming.select(*data_cols))
