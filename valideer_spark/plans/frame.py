"""Frame-level check plans: apply a compiled validator to a whole DataFrame.

The DataFrame row is treated as the document (a struct of all columns), so a
top-level ``Object`` schema validates column-per-property — the Spark
equivalent of the reference's ``validate(value)`` over a JSON object
(``/root/reference/valideer/base.py:229-240``), vectorized over the table.
"""

from __future__ import annotations

import re
import threading
from collections import OrderedDict
from dataclasses import dataclass, field
from typing import Any, Callable, Dict, List, Optional, Sequence, Set, Tuple

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core.registry import Validator, parse
from .lowering import VIOLATION_TYPE, Lowered, lower, repr_memo


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
    annotated: DataFrame,
    cols: Sequence[Any] = (),
    prefix: str = "",
    violations: Any = "_violations",
) -> DataFrame:
    """One row per (invalid document, violation) of a :meth:`FramePlan.check`
    output with violations: ``cols``, then ``violation_index`` and the
    violation's ``path``, ``constraint`` and ``message``, each named with
    ``prefix``. ``violations`` is the array exploded: ``_violations``, or
    :meth:`FramePlan.violation_codes_col` when only constraints are read.

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
            *cols, F.posexplode_outer(violations).alias("violation_index", "_v")
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
    (predicate pushdown applies; the array checks' higher-order lambdas are
    interpreted, so the operators holding them run outside whole-stage
    codegen).

    Each builder's Column tree is made once per plan and row column set:
    lowering a wide schema costs thousands of py4j calls, and a frame with
    the same document columns reads the same tree. Within one build, each
    value repr is built once (:func:`~.lowering.repr_memo`). Plans are
    shared by every engine in the process (:func:`compile_plan`), so the
    trees are too.
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
            with repr_memo():
                built = build(_row_struct(key[1]))
            # setdefault: callers racing on a first build all get one tree
            col = self._columns.setdefault(key, built)
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

    def violation_codes_col(self, df: DataFrame) -> Column:
        """:meth:`violations_col` with NULL paths and messages: the same
        constraints in the same order, without value reprs or message
        formatting, for consumers that only count constraints."""
        return self._memoised(
            "codes", df, lambda row: self.lowered.violations(row, None)
        )

    def violation_count_col(self, df: DataFrame) -> Column:
        """int — exactly ``size(violations_col(df))``, computed natively
        without materializing the violation structs (no value reprs or
        message formatting)."""
        return self._memoised("count", df, self.lowered.count)

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
        ``violations=False`` leaves out `_violations` only: the frame then
        never analyses the violation tree, and :meth:`with_violations`
        adds the column later.
        """
        out = df.withColumn("_valid", self.is_valid_col(df))
        # native violation COUNT (== size(_violations), asserted by
        # tests/test_violation_count.py) without building the repr-heavy
        # violation structs: verdict aggregations read this column, so
        # they never plan the violation structs
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
        return self.with_violations(out) if violations else out

    def with_violations(self, checked: DataFrame) -> DataFrame:
        """A ``check(violations=False)`` output with `_violations` added
        just before `_n_violations`: the columns of ``check()``."""
        violations = F.when(
            F.col("_valid"), F.array().cast(VIOLATION_TYPE)
        ).otherwise(self.violations_col(checked))
        cols = []
        for c in checked.columns:
            if c == "_n_violations":
                cols.append(violations.alias("_violations"))
            cols.append(F.col(c))
        return checked.select(*cols)

    def violation_rows(
        self, df: DataFrame, id_cols: Optional[list[str]] = None
    ) -> DataFrame:
        """Exploded violation rows: one row per (document, violation)."""
        id_cols = id_cols or [df.columns[0]]
        annotated = self.check(df, adapt=False, violations=True)
        return explode_violations(annotated, id_cols)


#: how many compiled plans the process keeps (least recently used evicted)
_PLAN_CACHE_SIZE = 32

#: compiled plans shared by every engine: key -> (plan, objects the key
#: names by id, kept alive so no id is reused while the entry lives)
_plans: "OrderedDict[tuple, Tuple[FramePlan, List[Any]]]" = OrderedDict()
_plans_lock = threading.Lock()

_VALUE_TYPES = (type(None), bool, int, str, bytes)


def _fingerprint(obj: Any, pinned: List[Any], active: Set[int]) -> Any:
    """A hashable key equal for structurally equal validator trees: values
    by type and value (floats by ``repr``), containers in order (sets
    sorted), regexps by pattern and flags, Spark types by JSON, validators
    by class and instance attributes. Anything else (callables, sentinels,
    classes, cycles) is keyed by identity and appended to ``pinned``."""
    kind = type(obj)
    if kind is float:
        return (kind, repr(obj))
    if kind in _VALUE_TYPES:
        return (kind, obj)
    if kind is re.Pattern:
        return (kind, obj.pattern, obj.flags)
    if isinstance(obj, T.DataType):
        return (T.DataType, obj.json())
    attrs = getattr(obj, "__dict__", None) if isinstance(obj, Validator) else None
    if id(obj) not in active and (
        attrs is not None or kind in (list, tuple, dict, set, frozenset)
    ):
        active.add(id(obj))
        try:
            if attrs is not None:
                return (kind, _fingerprint(attrs, pinned, active))
            if kind is dict:
                return (kind,) + tuple(
                    (_fingerprint(k, pinned, active), _fingerprint(v, pinned, active))
                    for k, v in obj.items()
                )
            parts = [_fingerprint(x, pinned, active) for x in obj]
            if kind in (set, frozenset):
                parts.sort(key=repr)
            return (kind,) + tuple(parts)
        finally:
            active.discard(id(obj))
    pinned.append(obj)
    return (object, id(obj))


def compile_plan(schema: Any, df_or_schema) -> FramePlan:
    """Compile a schema (mini-language or Validator) against a DataFrame or
    StructType.

    Lowering is paid once per process per (schema, row type): the last
    ``_PLAN_CACHE_SIZE`` plans are shared by every caller, so a fresh
    engine over an equal schema reuses the plan and the Column trees its
    :class:`FramePlan` has built. The key is the validator's
    :func:`_fingerprint`, the JSON of the document columns' type
    (nullability included: lowering reads ``containsNull``) and the active
    SparkContext, since the trees are JVM handles and a kernel-fallback
    UDF is bound to its context."""
    validator = parse(schema)
    struct = (
        df_or_schema.schema if isinstance(df_or_schema, DataFrame) else df_or_schema
    )
    struct = T.StructType(
        [f for f in struct.fields if f.name not in RESERVED_COLUMNS]
    )
    sc = SparkContext._active_spark_context
    if sc is None:
        return FramePlan(validator=validator, lowered=lower(validator, struct))
    pinned: List[Any] = [sc]
    key = (_fingerprint(validator, pinned, set()), struct.json(), id(sc))
    with _plans_lock:
        hit = _plans.get(key)
        if hit is not None:
            _plans.move_to_end(key)
            return hit[0]
    plan = FramePlan(validator=validator, lowered=lower(validator, struct))
    with _plans_lock:
        # setdefault: callers racing on a first compile all get one plan
        plan = _plans.setdefault(key, (plan, pinned))[0]
        _plans.move_to_end(key)
        while len(_plans) > _PLAN_CACHE_SIZE:
            _plans.popitem(last=False)
    return plan


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
