"""Referential-integrity constraints as anti-joins.

Join strategy (round 6, measured): the planner picks it — small
references broadcast via the static estimate or AQE's runtime rewrite;
large ones take a shuffled-hash/sort-merge join with AQE skew splitting.
A forced broadcast of a multi-million-key reference builds the hash
relation single-threaded on the driver: at 2M docs / ~7M distinct refs
it ran 5.5s vs 1.3s for the planner-chosen shuffled-hash join (local[32];
the round-6 experiment script is at commit 0ff93ec), so the operators
take no broadcast hint. The violating side is always the fact table:
rows whose foreign key has no match in the reference relation. The
reference side is not de-duplicated: duplicate keys there cannot change
a left-anti join's output, and the ``distinct()`` cost an aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def orphan_rows(
    fact: DataFrame, fact_key: str, ref: DataFrame, ref_key: str
) -> DataFrame:
    """Fact rows whose ``fact_key`` does not exist in ``ref.ref_key``.

    NULL foreign keys are not orphans (SQL semantics: nothing to refer to);
    use a NonNullable column check for null enforcement.
    """
    r = ref.select(F.col(ref_key).alias("__ref_key"))
    return fact.filter(F.col(fact_key).isNotNull()).join(
        r, F.col(fact_key) == F.col("__ref_key"), "left_anti"
    )


def orphan_keys(
    fact: DataFrame, fact_key: str, ref: DataFrame, ref_key: str
) -> DataFrame:
    """Distinct violating keys with occurrence counts (smaller output than
    :func:`orphan_rows` — aggregate first, then anti-join the distinct
    keys, which shrinks the join's left side to |distinct keys|).

    The aggregation partitions the fact side by ``fact_key`` — exactly the
    anti-join's key — so a shuffled-hash/sort-merge join reuses that
    exchange and only the reference side moves."""
    keys = (
        fact.filter(F.col(fact_key).isNotNull())
        .groupBy(fact_key)
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    r = ref.select(F.col(ref_key).alias("__ref_key"))
    return keys.join(r, F.col(fact_key) == F.col("__ref_key"), "left_anti")
