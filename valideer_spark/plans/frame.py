"""Frame-level check plans: apply a compiled validator to a whole DataFrame.

The DataFrame row is treated as the document (a struct of all columns), so a
top-level ``Object`` schema validates column-per-property — the Spark
equivalent of the reference's ``validate(value)`` over a JSON object
(``/root/reference/valideer/base.py:229-240``), vectorized over the table.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable, Dict, Optional, Sequence, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..core.registry import Validator, parse
from .lowering import VIOLATION_TYPE, Lowered, _count_of, lower


# engine-reserved column names never treated as document properties: a
# bucketed layout carries _part_id, and re-checking an annotated frame
# carries the artifacts — an Object(additional=False) schema must not
# flag them. (_extras is NOT reserved: it is the open-schema side channel.)
RESERVED_COLUMNS = {"_part_id", "_valid", "_violations", "_n_violations", "_adapted"}


def _row_fields(df: DataFrame) -> Tuple[str, ...]:
    """The document's properties: every column but the engine-reserved ones,
    in frame order. This is the only input the row struct reads, so it keys
    :class:`FramePlan`'s Column memo."""
    return tuple(
        f.name for f in df.schema.fields if f.name not in RESERVED_COLUMNS
    )


def _row_struct(fields: Tuple[str, ...]) -> Column:
    return F.struct(*[F.col(name) for name in fields])


def explode_violations(
    annotated: DataFrame, cols: Sequence[Any] = (), prefix: str = ""
) -> DataFrame:
    """One row per (invalid document, violation) of a :meth:`FramePlan.check`
    output with violations: ``cols``, then ``violation_index`` and the
    violation's ``path``, ``constraint`` and ``message``, each named with
    ``prefix``.

    The generator is ``posexplode_outer`` followed by an explicit
    ``violation_index IS NOT NULL`` filter: from a plain ``posexplode``
    Catalyst would infer ``size(_violations) > 0`` and inline it, with
    ``~_valid``, into the filter below the generator, so every invalid row
    would build its violation array twice. The index is NULL only on the
    padding row an outer generator adds for an empty or NULL array, so the
    rows are those of a plain ``posexplode``."""
    exploded = (
        annotated.filter(~F.col("_valid"))
        .select(
            *cols, F.posexplode_outer("_violations").alias("violation_index", "_v")
        )
        .filter(F.col("violation_index").isNotNull())
    )
    fields = VIOLATION_TYPE.elementType.fieldNames()
    return exploded.select(
        *[c for c in exploded.columns if c != "_v"],
        *[F.col("_v." + f).alias(prefix + f) for f in fields],
    )


@dataclass
class FramePlan:
    """A validator lowered against a DataFrame schema.

    All expression builders are pure-Column; nothing is executed until the
    returned DataFrames are acted on, so Catalyst sees one declarative plan
    (predicate pushdown + whole-stage codegen apply).

    Each builder's Column tree is made once per plan and row column set:
    lowering a wide schema costs thousands of py4j calls, and a frame with
    the same document columns reads the same tree.
    """

    validator: Validator
    lowered: Lowered
    _columns: Dict[Tuple[str, Tuple[str, ...]], Column] = field(
        default_factory=dict, init=False, repr=False, compare=False
    )

    def _memoised(
        self, kind: str, df: DataFrame, build: Callable[[Column], Column]
    ) -> Column:
        key = (kind, _row_fields(df))
        col = self._columns.get(key)
        if col is None:
            # setdefault: callers racing on a first build all get one tree
            col = self._columns.setdefault(key, build(_row_struct(key[1])))
        return col

    def is_valid_col(self, df: DataFrame) -> Column:
        """Boolean verdict column (the ``adapt=False`` fast path)."""
        return self._memoised("valid", df, self.lowered.predicate)

    def violations_col(self, df: DataFrame) -> Column:
        """array<struct<path,constraint,message>> — all violations per row,
        kernel traversal order (element 0 == kernel fail-fast error)."""
        return self._memoised(
            "violations", df, lambda row: self.lowered.violations(row, F.lit(""))
        )

    def violation_count_col(self, df: DataFrame) -> Column:
        """int — exactly ``size(violations_col(df))``, computed natively
        without materializing the violation structs (no value reprs or
        message formatting)."""
        return self._memoised("count", df, _count_of(self.lowered))

    def adapted_col(self, df: DataFrame) -> Column:
        """Adapted document struct (defined where the row is valid)."""
        return self._memoised("adapted", df, self.lowered.adapt)

    def check(
        self, df: DataFrame, adapt: bool = True, violations: bool = True
    ) -> DataFrame:
        """Annotate ``df`` with `_valid`, `_violations` and `_n_violations`
        (+ `_adapted`).

        The violation and adaptation columns are CASE-guarded behind
        `_valid`, so valid rows pay only the predicate. Aggregations that
        read `_n_violations` prune the violation structs out of their plan;
        :func:`explode_violations` turns the output into one row per
        violation, building each violation array once per invalid row.
        ``violations=False`` leaves out both violation columns.
        """
        out = df.withColumn("_valid", self.is_valid_col(df))
        if violations:
            out = out.withColumn(
                "_violations",
                F.when(
                    F.col("_valid"), F.array().cast(VIOLATION_TYPE)
                ).otherwise(self.violations_col(df)),
            )
            # native violation COUNT (== size(_violations), asserted by
            # tests/test_violation_count.py) without building the
            # repr-heavy violation structs: verdict aggregations read this
            # column, so Catalyst prunes _violations out of the verdict
            # plan entirely and invalid rows stay cheap on that path
            out = out.withColumn(
                "_n_violations",
                F.when(F.col("_valid"), F.lit(0)).otherwise(
                    self.violation_count_col(df)
                ),
            )
        if adapt:
            out = out.withColumn(
                "_adapted",
                F.when(F.col("_valid"), self.adapted_col(df)),
            )
        return out

    def violations_schema(self):
        return VIOLATION_TYPE

    def violation_rows(
        self, df: DataFrame, id_cols: Optional[list[str]] = None
    ) -> DataFrame:
        """Exploded violation rows: one row per (document, violation)."""
        id_cols = id_cols or [df.columns[0]]
        annotated = self.check(df, adapt=False, violations=True)
        return explode_violations(annotated, id_cols)


def compile_plan(schema: Any, df_or_schema) -> FramePlan:
    """Compile a schema (mini-language or Validator) against a DataFrame or
    StructType."""
    validator = parse(schema)
    struct = (
        df_or_schema.schema if isinstance(df_or_schema, DataFrame) else df_or_schema
    )
    from pyspark.sql import types as T

    struct = T.StructType(
        [f for f in struct.fields if f.name not in RESERVED_COLUMNS]
    )
    return FramePlan(validator=validator, lowered=lower(validator, struct))


def expect_frame_schema(df_or_schema, schema: Any) -> None:
    """DataFrame-level analog of ``@accepts`` (SURVEY §2.6): raise
    SchemaError at SUBMIT time when the frame cannot satisfy the
    validator's required top-level properties — a missing required column
    would otherwise fail EVERY row at run time on a 100 TB scan.

    Optional properties and additional columns are fine (the engine's
    Object semantics apply per row); only structurally-impossible frames
    are rejected here.
    """
    from ..core.checks import NonNullable, Nullable, Object
    from ..core.errors import SchemaError

    validator = parse(schema)
    unwrapped = validator
    while isinstance(unwrapped, (Nullable, NonNullable)):
        unwrapped = unwrapped._validator
    if not isinstance(unwrapped, Object):
        return  # non-object schemas validate whatever row struct arrives
    struct = (
        df_or_schema.schema if isinstance(df_or_schema, DataFrame) else df_or_schema
    )
    cols = {f.name for f in struct.fields}
    missing = sorted(k for k in unwrapped._required_keys if k not in cols)
    if missing:
        raise SchemaError(
            "frame is missing required columns %s (has %s)"
            % (missing, sorted(cols))
        )
