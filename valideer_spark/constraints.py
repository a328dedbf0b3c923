"""Declarative engine-level table constraints.

Where the schema plan checks each document in isolation, these constraints
check *cross-row* invariants — uniqueness, referential integrity, column
stats bounds, distribution drift — and emit the same artifact shapes as
the row engine: violation rows ``(constraint, key, detail)`` and a
pass/fail verdict per constraint.

Usage::

    suite = ConstraintSuite([
        Unique("doc_id", salt=16),
        References(column="media_ref", ref=catalog_df, ref_column="media_ref",
                   explode_from="spans"),
        StatsBounds("offset", min_value=0),
        NoDrift("n_chars", against=last_snapshot_df, max_abs_diff=100.0),
    ])
    report = suite.check(docs)
    report.verdicts()        # (constraint, pass, n_violations)
    report.violations()      # (constraint, key, detail)
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import List, Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .operators import duplicate_keys, orphan_keys, quantile_drift

VIOLATION_COLS = ["constraint", "key", "detail"]


class TableConstraint:
    name: str = "constraint"

    def violations(self, df: DataFrame) -> DataFrame:
        """Return (constraint, key, detail) violation rows."""
        raise NotImplementedError


@dataclass
class Unique(TableConstraint):
    """Key uniqueness: one hash aggregation on the key (``salt`` is
    accepted for backward compatibility and ignored)."""

    column: str
    salt: int = 0

    @property
    def name(self) -> str:
        return f"unique:{self.column}"

    def violations(self, df: DataFrame) -> DataFrame:
        dupes = duplicate_keys(df, self.column, salt=self.salt)
        return dupes.select(
            F.lit(self.name).alias("constraint"),
            F.col(self.column).cast("string").alias("key"),
            F.format_string("%d occurrences", F.col("dup_count")).alias("detail"),
        )


@dataclass
class References(TableConstraint):
    """Foreign key must exist in a reference relation: aggregate the
    fact keys, then an anti-join whose strategy the planner and AQE
    choose (see :func:`~valideer_spark.operators.orphan_keys`)."""

    column: str
    ref: DataFrame
    ref_column: str
    explode_from: Optional[str] = None  # array<struct> column holding the key

    @property
    def name(self) -> str:
        return f"references:{self.column}"

    def violations(self, df: DataFrame) -> DataFrame:
        src = df
        if self.explode_from:
            src = df.select(F.explode(self.explode_from).alias("_e")).select(
                F.col(f"_e.{self.column}").alias(self.column)
            )
        orphans = orphan_keys(src, self.column, self.ref, self.ref_column)
        return orphans.select(
            F.lit(self.name).alias("constraint"),
            F.col(self.column).cast("string").alias("key"),
            F.format_string("%d rows reference a missing key", F.col("n_rows")).alias(
                "detail"
            ),
        )


@dataclass
class StatsBounds(TableConstraint):
    """Column-level aggregate bounds: null-rate ceiling, min/max range,
    minimum distinct count. One single-pass aggregation; violations are
    table-level rows (key = column name)."""

    column: str
    max_null_rate: Optional[float] = None
    min_value: Optional[float] = None
    max_value: Optional[float] = None
    min_distinct: Optional[int] = None

    @property
    def name(self) -> str:
        return f"stats:{self.column}"

    def violations(self, df: DataFrame) -> DataFrame:
        c = F.col(self.column)
        agg = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(c.isNull().cast("long")).alias("nulls"),
            F.min(c).cast("double").alias("mn"),
            F.max(c).cast("double").alias("mx"),
            F.approx_count_distinct(c).alias("dv"),
        )
        checks = []
        if self.max_null_rate is not None:
            checks.append(
                F.when(
                    F.col("nulls") / F.col("n") > self.max_null_rate,
                    F.format_string(
                        "null rate %s exceeds %s",
                        F.round(F.col("nulls") / F.col("n"), 6).cast("string"),
                        F.lit(str(self.max_null_rate)),
                    ),
                )
            )
        if self.min_value is not None:
            checks.append(
                F.when(
                    F.col("mn") < self.min_value,
                    F.format_string(
                        "min %s below %s",
                        F.col("mn").cast("string"),
                        F.lit(str(self.min_value)),
                    ),
                )
            )
        if self.max_value is not None:
            checks.append(
                F.when(
                    F.col("mx") > self.max_value,
                    F.format_string(
                        "max %s above %s",
                        F.col("mx").cast("string"),
                        F.lit(str(self.max_value)),
                    ),
                )
            )
        if self.min_distinct is not None:
            checks.append(
                F.when(
                    F.col("dv") < self.min_distinct,
                    F.format_string(
                        "approx distinct %d below %d",
                        F.col("dv"),
                        F.lit(self.min_distinct),
                    ),
                )
            )
        if not checks:
            return agg.sparkSession.createDataFrame([], schema="constraint string, key string, detail string")
        details = F.filter(F.array(*checks), lambda x: x.isNotNull())
        return (
            agg.select(F.explode(details).alias("detail"))
            .select(
                F.lit(self.name).alias("constraint"),
                F.lit(self.column).alias("key"),
                F.col("detail"),
            )
        )


@dataclass
class FunctionalDependency(TableConstraint):
    """``determinant -> dependent``: every determinant value must map to
    exactly one dependent value (the classic FD data-quality check, e.g.
    order key -> customer key). One hash aggregation grouped by the
    determinant with an exact distinct count of the dependent — shuffle
    keys are the determinant values (salt upstream if the FD key is
    skewed); violating keys are reported with their dependent-value
    cardinality."""

    determinant: str
    dependent: str

    @property
    def name(self) -> str:
        return f"fd:{self.determinant}->{self.dependent}"

    def violations(self, df: DataFrame) -> DataFrame:
        grouped = (
            df.filter(F.col(self.determinant).isNotNull())
            .groupBy(self.determinant)
            .agg(F.countDistinct(self.dependent).alias("n_dependents"))
            .filter(F.col("n_dependents") > 1)
        )
        return grouped.select(
            F.lit(self.name).alias("constraint"),
            F.col(self.determinant).cast("string").alias("key"),
            F.format_string(
                "%d distinct dependent values", F.col("n_dependents")
            ).alias("detail"),
        )


@dataclass
class NoDrift(TableConstraint):
    """Quantile drift vs a reference snapshot must stay under a bound
    (mergeable GK sketches via percentile_approx)."""

    column: str
    against: DataFrame
    max_abs_diff: float
    probs: Sequence[float] = (0.05, 0.25, 0.5, 0.75, 0.95)

    @property
    def name(self) -> str:
        return f"drift:{self.column}"

    def violations(self, df: DataFrame) -> DataFrame:
        drift = quantile_drift(df, self.against, self.column, probs=list(self.probs))
        return drift.filter(F.col("abs_diff") > self.max_abs_diff).select(
            F.lit(self.name).alias("constraint"),
            F.format_string("p%d", (F.col("prob") * 100).cast("int")).alias("key"),
            F.format_string(
                "|%s - %s| = %s exceeds %s",
                F.col("q_a").cast("string"),
                F.col("q_b").cast("string"),
                F.col("abs_diff").cast("string"),
                F.lit(str(self.max_abs_diff)),
            ).alias("detail"),
        )


@dataclass
class ConstraintReport:
    _violations: DataFrame
    constraint_names: List[str]

    def violations(self) -> DataFrame:
        return self._violations

    def verdicts(self) -> DataFrame:
        counts = self._violations.groupBy("constraint").agg(
            F.count(F.lit(1)).alias("n_violations")
        )
        spark = self._violations.sparkSession
        all_names = spark.createDataFrame(
            [(n,) for n in self.constraint_names], "constraint string"
        )
        return (
            all_names.join(counts, "constraint", "left")
            .withColumn("n_violations", F.coalesce("n_violations", F.lit(0)))
            .withColumn("pass", F.col("n_violations") == 0)
        )


class ConstraintSuite:
    def __init__(self, constraints: Sequence[TableConstraint]):
        self.constraints = list(constraints)

    def check(self, df: DataFrame) -> ConstraintReport:
        parts = [c.violations(df) for c in self.constraints]
        if not parts:
            empty = df.sparkSession.createDataFrame(
                [], schema="constraint string, key string, detail string"
            )
            return ConstraintReport(empty, [])
        out = parts[0]
        for p in parts[1:]:
            out = out.unionAll(p)
        return ConstraintReport(out, [c.name for c in self.constraints])
