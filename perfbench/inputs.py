"""Seeded benchmark inputs.

Documents come from the package's own generator,
:func:`valideer_spark.sources.synth_docs`, which derives every doc from
its index in ``spark.range(n)``. Seed 0 is exactly
``synth_docs(spark, n)``, the input of the repository's ``bench.py``.
Seed ``s`` shifts that range to its own window of ``n`` indices, so it
draws different documents at the same cost, while each injected
violation class (an index modulus) keeps its rate and the hot duplicate
key its share.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from valideer_spark.sources import synth_docs

# with n <= 200k docs, 200 windows keep every index below 2**32 / 97,
# where synth_docs' media refs are unique per (doc, span): the media
# oracle relies on it
WINDOWS = 200


class _IndexWindow:
    """Stands in for the session inside ``synth_docs`` and
    ``synth_media_catalog``, which take their doc indices from
    ``spark.range(n)``: serves ``range(offset, offset + n)`` instead."""

    def __init__(self, spark: SparkSession, offset: int):
        self._spark, self._offset = spark, offset

    def range(self, n: int) -> DataFrame:
        return self._spark.range(self._offset, self._offset + n)


def window(spark: SparkSession, n_docs: int, seed: int):
    """The session to hand the package's doc generators for ``seed``."""
    if seed == 0:
        return spark
    return _IndexWindow(spark, (1 + (seed - 1) % (WINDOWS - 1)) * n_docs)


def docs(spark: SparkSession, n_docs: int, seed: int) -> DataFrame:
    return synth_docs(window(spark, n_docs, seed), n_docs)


def sample(df: DataFrame, seed: int, one_in: int) -> DataFrame:
    """A seeded ~1/``one_in`` row sample of a docs frame."""
    return df.filter(
        F.pmod(F.xxhash64("doc_id", "spans", F.lit(seed), F.lit("sample")), F.lit(one_in))
        == 0
    )
