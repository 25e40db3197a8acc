"""Relational operators (SURVEY.md §2.2-§2.6: P/J/W/A series).

Projection, filter, and predicate ops (P1-P6) are plain DataFrame
methods — Catalyst pushes them into the parquet scan, so no wrappers
are needed. This module supplies the ops that carry semantics:

- W1/W2: deterministic top-1-per-group dedup (the reference's
  ``rank(method='random', seed=1).over(...)`` at fa-etl.py:99-105).
- J1-J5: left equi-joins incl. asymmetric key names (fa-etl.py:459-476).
- A1: cheap emptiness probe (fa-etl.py:13-18 runs a full ``describe()``
  — here it's ``limit(1)``; never scan everything to ask "any rows?").
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dedup_top1_per_group(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """W1 — exactly one row per group, deterministically.

    The reference uses ``rank(method='random', seed=1, descending=True)``
    over (RecordingYear, PropertyID) on RecordingDate and keeps rank 1
    (fa-etl.py:99-105): contract = "one arbitrary-but-deterministic row
    among ties". The faithful distributed idiom is ``row_number`` with a
    *stable* tie-break key — ``F.rand(seed)`` is NOT stable across
    partitionings/retries on a cluster, so callers pass stable id
    columns as ``tiebreak``. Plain ``rank()`` would keep all tied rows
    and break the dedup.

    One shuffle on ``partition_by``; reuse the same keys in downstream
    joins so AQE can avoid re-shuffling.
    """
    order = list(order_by) + [F.col(c) for c in tiebreak]
    w = Window.partitionBy(*partition_by).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def top_k_per_group(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    k: int,
    rank_col: str = "rnk",
) -> DataFrame:
    """Generalized W1: top-k rows per group with the rank kept."""
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return df.withColumn(rank_col, F.row_number().over(w)).filter(F.col(rank_col) <= k)


def array_pairs(arr: Column, pair: Callable[[Column, Column], Column]) -> Column:
    """``pair(a, b)`` for every i<j pair of ``arr``'s elements, in index
    order, as one array: the join-free in-array self-pairing that
    posting-list and bucket expansions use instead of a self-join (the
    upstream pipeline then runs once, not once per join side). Cost is
    quadratic in ``size(arr)``; callers bound it (df caps, star
    expansion past a bucket-size cap)."""
    return F.flatten(
        F.transform(
            arr,
            lambda a, i: F.transform(
                F.slice(arr, i + 2, F.greatest(F.size(arr) - i - 1, F.lit(0))),
                lambda b: pair(a, b),
            ),
        )
    )


def left_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    broadcast_right: bool = False,
) -> DataFrame:
    """J1-J3 — left equi-join on shared key names (fa-etl.py:357-361,
    459-465). ``broadcast_right`` replaces the reference's
    ``force_parallel=True`` knob: for small dims it eliminates the
    shuffle entirely; otherwise AQE picks sort-merge/shuffled-hash."""
    r = F.broadcast(right) if broadcast_right else right
    return left.join(r, on=list(on), how="left")


def asymmetric_left_join(
    left: DataFrame,
    right: DataFrame,
    key_map: dict[str, str],
    broadcast_right: bool = False,
) -> DataFrame:
    """J4/J5 — left join where key *names* differ per side
    (``left_on=['PropertyID','Year'], right_on=['PropertyID','TaxYear']``,
    fa-etl.py:467-476). Joins on equality expressions, then drops the
    right-side key columns so the output keeps only the left names —
    matching Polars' left_on/right_on output shape.
    """
    r = F.broadcast(right) if broadcast_right else right
    cond = None
    for lk, rk in key_map.items():
        c = left[lk] == r[rk]
        cond = c if cond is None else (cond & c)
    joined = left.join(r, on=cond, how="left")
    for rk in key_map.values():
        joined = joined.drop(r[rk])
    return joined


def is_empty(df: DataFrame) -> bool:
    """A1 — emptiness probe. The reference computes a full
    ``describe()`` and reads the count (fa-etl.py:13-18) — a whole-table
    scan; here it's limit(1), which stops at the first row produced."""
    return df.isEmpty()


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key: Sequence[str],
    compare: Sequence[str] | None = None,
) -> DataFrame:
    """Content diff of two dataset versions keyed on ``key``: every row
    of either side comes back with a ``status`` column — ``added`` (in
    ``new`` only), ``removed`` (in ``old`` only), ``changed`` (both
    sides, any ``compare`` column differs null-safely), ``unchanged``.
    ``compare`` defaults to every shared non-key column. Key columns
    are coalesced across sides; compared columns come back as
    ``<col>_old`` / ``<col>_new`` pairs.

    The release-audit primitive behind the registered
    ``corpus_snapshot_diff`` query: one full-outer join on the key
    (both sides hash-exchanged on it — with a unique key there is no
    skew), status computed join-side; aggregate or filter downstream.
    Callers wanting a compact report do
    ``snapshot_diff(...).groupBy("status").count()`` — the join output
    never needs to leave the executors.
    """
    if not key:
        raise ValueError("snapshot_diff: key must be non-empty")
    if compare is None:
        shared = [c for c in old.columns if c in set(new.columns)]
        compare = [c for c in shared if c not in set(key)]
    missing = [c for c in list(key) + list(compare) if c not in old.columns or c not in new.columns]
    if missing:
        raise ValueError(f"snapshot_diff: columns absent from a side: {missing}")
    if "_present" in list(key) + list(compare):
        raise ValueError("snapshot_diff: '_present' is reserved")
    # a column in both key and compare would be selected twice per side
    # below and surface as an ambiguous-column AnalysisException deep in
    # the plan; likewise a duplicate within either list (ADVICE r10)
    overlap = sorted(set(key) & set(compare))
    if overlap:
        raise ValueError(f"snapshot_diff: columns in both key and compare: {overlap}")
    if len(set(key)) != len(key) or len(set(compare)) != len(compare):
        raise ValueError("snapshot_diff: duplicate names in key or compare")
    # explicit presence markers: inferring presence from the key being
    # non-null misclassifies a side's rows that CARRY a null key (null
    # keys never join, so such an old row is "removed", not "added" —
    # but its o.key is null either way)
    o = old.select(*key, *compare, F.lit(True).alias("_present")).alias("o")
    n = new.select(*key, *compare, F.lit(True).alias("_present")).alias("n")
    on = [F.col(f"o.{k}") == F.col(f"n.{k}") for k in key]
    j = o.join(n, on, "full_outer")
    in_old = F.col("o._present").isNotNull()
    in_new = F.col("n._present").isNotNull()
    differs = F.lit(False)
    for c in compare:
        # null-safe inequality: NULL -> value and value -> NULL both
        # count as changes, matching what a release audit means
        differs = differs | ~F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
    status = (
        F.when(~in_old, F.lit("added"))
        .when(~in_new, F.lit("removed"))
        .when(differs, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    out = [F.coalesce(F.col(f"o.{k}"), F.col(f"n.{k}")).alias(k) for k in key]
    out.append(status.alias("status"))
    for c in compare:
        out.append(F.col(f"o.{c}").alias(f"{c}_old"))
        out.append(F.col(f"n.{c}").alias(f"{c}_new"))
    return j.select(*out)
