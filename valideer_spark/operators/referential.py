"""Referential-integrity constraints as anti-joins.

Join strategy (round 6, measured): ``broadcast_ref=None`` (the default)
lets Spark pick — small references broadcast via the static estimate or
AQE's runtime rewrite; large ones take a shuffled-hash/sort-merge join
with AQE skew splitting. Forcing a broadcast of a multi-million-key
reference builds the hash relation single-threaded on the driver:
at 2M docs / ~7M distinct refs the forced broadcast anti-join ran 5.5s
vs 1.3s for the planner-chosen shuffled-hash join (local[32]; the
round-6 experiment script is at commit 0ff93ec), so the hint is opt-in
(``broadcast_ref=True``) for callers who know their reference is small
but mis-estimated. The violating side is always the fact table: rows
whose foreign key has no match in the reference relation.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def orphan_rows(
    fact: DataFrame,
    fact_key: str,
    ref: DataFrame,
    ref_key: str,
    broadcast_ref: Optional[bool] = None,
) -> DataFrame:
    """Fact rows whose ``fact_key`` does not exist in ``ref.ref_key``.

    NULL foreign keys are not orphans (SQL semantics: nothing to refer to);
    use a NonNullable column check for null enforcement.

    ``broadcast_ref``: ``None`` (default) lets the planner/AQE choose the
    join strategy from actual sizes; ``True`` forces a broadcast (only for
    references known small but badly estimated). The result set is
    identical either way.
    """
    r = ref.select(F.col(ref_key).alias("__ref_key")).distinct()
    if broadcast_ref:
        r = F.broadcast(r)
    return fact.filter(F.col(fact_key).isNotNull()).join(
        r, F.col(fact_key) == F.col("__ref_key"), "left_anti"
    )


def orphan_keys(
    fact: DataFrame,
    fact_key: str,
    ref: DataFrame,
    ref_key: str,
    broadcast_ref: Optional[bool] = None,
) -> DataFrame:
    """Distinct violating keys with occurrence counts (smaller output than
    :func:`orphan_rows` — aggregate first, then anti-join the distinct
    keys, which shrinks the join's left side to |distinct keys|).

    The aggregation partitions the fact side by ``fact_key`` — exactly the
    anti-join's key — so a shuffled-hash/sort-merge join reuses that
    exchange and only the reference side moves; ``broadcast_ref`` as in
    :func:`orphan_rows` (default: planner/AQE decides)."""
    keys = (
        fact.filter(F.col(fact_key).isNotNull())
        .groupBy(fact_key)
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    r = ref.select(F.col(ref_key).alias("__ref_key")).distinct()
    if broadcast_ref:
        r = F.broadcast(r)
    return keys.join(r, F.col(fact_key) == F.col("__ref_key"), "left_anti")
