"""Type-directed lowering: validator tree × Spark DataType → columnar plan.

Each kernel validator node (``valideer_spark.core``) lowers against the
static Spark type of the column it will check, producing a :class:`Lowered`
bundle of pure ``Column`` expression builders:

* ``predicate(col)``   — null-safe boolean, true iff the value is valid;
* ``adapt(col)``       — the adapted value (defined where predicate holds);
* ``violations(col, path)`` — ``array<struct<path,constraint,message>>`` of
  ALL violations in kernel traversal order, so element 0 equals the
  kernel's fail-fast error (full violation report at scale, first-error
  parity per row). ``path=None`` builds the same array with NULL paths
  and messages (constraint codes only, no value reprs or formatting);
  ``path=BARE`` builds it with NULL paths and each message bare (no
  ``Invalid value <repr> (<type>):`` prefix). AnyOf joins element 0 of
  each alternative's bare array with ``" or "``, as the kernel joins its
  alternatives' fail-fast messages, so a node's failures are written
  once, in ``violations``.

Everything stays inside Catalyst as JVM expressions; checks over arrays
run as higher-order-function lambdas (``transform``, ``zip_with``,
``forall``...), which Spark 4.1 interprets (``CodegenFallback``), so the
operator holding them runs outside whole-stage codegen. Validators with no
native lowering (arbitrary ``Condition`` predicates, ``AdaptBy`` with a
Python callable, a ``Pattern`` the regex translator rejects) fall back to
:func:`kernel_fallback`: three Arrow-vectorized pandas UDFs that run the
kernel itself — the documented escape hatch.

Reference-semantics notes (citations into /root/reference/valideer/):

* ``Pattern`` start-anchor only (validators.py:447) → ``^(?:…)`` rewrite.
* ``AnyOf`` first-match adaptation (validators.py:29-36) → ordered
  ``F.when`` cascade.
* ``AllOf`` validates the ORIGINAL value, returns the LAST adaptation
  (validators.py:53-57).
* ``Object`` missing-required precedes property checks
  (validators.py:663-666); struct semantics: a NULL struct field models an
  absent property.
* ``Mapping`` validates value before key; value errors get key context
  (validators.py:589-603).
"""

from __future__ import annotations

import json
import re
from contextlib import contextmanager
from contextvars import ContextVar
from dataclasses import dataclass

import pandas as pd  # module-level: pandas_udf type hints resolve here
from typing import Any, Callable, Dict, Iterator, List, Optional, Tuple

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core import checks as K
from ..core.errors import ValidationError
from ..core.registry import Validator
from .pyrepr import py_list_repr_of_strings, py_repr, type_name_col

VIOLATION_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("constraint", T.StringType()),
            T.StructField("message", T.StringType()),
        ]
    )
)

# Open-schema convention: a MapType struct field with this name holds
# dynamically-keyed extra properties (static parquet/Iceberg schemas cannot
# grow columns per document); Object lowering applies its
# additional-property policy to the map's ENTRIES. See SURVEY §1.2 and
# reference validators.py:666-668.
EXTRAS_FIELD = "_extras"


class LoweringError(Exception):
    """A validator cannot be lowered against the given Spark type."""


#: one struct-of-arrays check: (field names its builder reads, builder).
#: The builder receives one Column per field — the per-ELEMENT field value,
#: bound as a lambda variable over the extracted field array — and returns a
#: boolean Column (may be three-valued; the evaluator null-safes it).
SoaCheck = Tuple[Tuple[str, ...], Callable[..., Column]]


#: ``violations`` path for the bare form: NULL paths, bare messages
BARE: Any = object()


@dataclass
class Lowered:
    """One validator lowered against one Spark type: pure ``Column``
    builders (see the module docstring). ``violations`` is the node's one
    failure builder: its ``path`` argument is a path Column (full form),
    ``None`` (codes only) or :data:`BARE` (bare messages), and
    :func:`_violation` renders each failure in that form."""

    out_type: T.DataType
    predicate: Callable[[Column], Column]
    adapt: Callable[[Column], Column]
    violations: Callable[[Column, Optional[Column]], Column]
    #: violation COUNT expression: exactly ``size(violations(col, path))``
    #: but without building the violation structs (whose value-repr +
    #: message formatting dominates the cost for invalid rows)
    count: Callable[[Column], Column]
    #: predicate can only fail when the value IS NULL (statically known):
    #: lets a containing Object fold the whole property check into the
    #: required-presence bit (or skip it entirely for optional properties)
    pred_null_only: bool = False
    #: struct-of-arrays decomposition of the predicate, present when this
    #: validator checks a StructType value through per-field checks only
    #: (Object over struct, AllOf of such, 2-field ColumnConditions). Used
    #: by HomogeneousSequence over array<struct>: evaluating each check as
    #: a lambda over the EXTRACTED field arrays (GetArrayStructFields, once
    #: per row) instead of one lambda over the struct array removes the
    #: per-element struct access from the interpreted lambda bodies, the
    #: measured hot-path ceiling (BENCH.md — 1.8x on the flagship verdict).
    soa_checks: Optional[List[SoaCheck]] = None
    #: the SoA conjunction is False for a NULL element (e.g. a required
    #: property presence term exists). Without this, SoA cannot be used:
    #: a null struct element and an all-null-fields struct are
    #: indistinguishable after field extraction, but only the former must
    #: fail the Object type check.
    soa_null_strict: bool = False


def _no_violations() -> Column:
    return F.array().cast(VIOLATION_TYPE)


def _violation(
    path: Optional[Column],
    constraint: str,
    col: Column,
    dtype: T.DataType,
    bare: Callable[[], Column],
    full: Optional[Callable[[], Column]] = None,
) -> Column:
    """One-element violation array of the failure of value ``col`` (of
    type ``dtype``) with bare message ``bare()``, in the form ``path``
    picks:

    * a path Column: the full form, message ``Invalid value <repr>
      (<type>): <bare>``, or ``full()`` where the kernel formatted it;
    * ``None``: codes only, path and message NULL;
    * :data:`BARE`: path NULL, message ``bare()``.

    The messages are thunks, as value reprs are large trees to build:
    each is called only by the form that shows it."""
    null = F.lit(None).cast(T.StringType())
    if path is None:
        path, message = null, null
    elif path is BARE:
        path, message = null, bare()
    elif full is not None:
        message = full()
    else:
        message = _invalid_value_msg(col, dtype, bare())
    return F.array(
        F.struct(
            path.alias("path"),
            F.lit(constraint).alias("constraint"),
            message.alias("message"),
        )
    )


def _nullsafe(pred: Column) -> Column:
    return F.coalesce(pred, F.lit(False))


#: the value reprs of the tree build in progress (see :func:`repr_memo`),
#: keyed by (builder, id(col), dtype); None outside a build
_REPR_MEMO: ContextVar[Optional[Dict[Any, Tuple[Column, Column]]]] = ContextVar(
    "_REPR_MEMO", default=None
)


@contextmanager
def repr_memo() -> Iterator[None]:
    """Build each value repr once while the block runs. A value checked by
    several constraints appears in several messages (the flagship
    violations tree shows 8 values in 14 messages), and a struct's repr
    costs hundreds of py4j calls to build. The memo holds each Column it
    keys, so no id is reused while it lives, and it is dropped on exit: no
    Column outlives the build. It lives in a context variable, so threads
    racing on a first build each get their own."""
    token = _REPR_MEMO.set({})
    try:
        yield
    finally:
        _REPR_MEMO.reset(token)


def _memo_repr(
    build: Callable[[Column, T.DataType], Column], col: Column, dtype: T.DataType
) -> Column:
    memo = _REPR_MEMO.get()
    if memo is None:
        return build(col, dtype)
    key = (build, id(col), dtype)
    hit = memo.get(key)
    if hit is None:
        hit = memo[key] = (col, build(col, dtype))
    return hit[1]


def _invalid_value_msg(col: Column, dtype: T.DataType, bare: Column) -> Column:
    """Kernel parity: ``Invalid value <repr> (<type>): <msg>``."""
    return F.format_string(
        "Invalid value %s (%s): %s",
        _memo_repr(py_repr, col, dtype),
        _memo_repr(type_name_col, col, dtype),
        bare,
    )


def extend_path(
    path: Optional[Column], context_bare: Column, context_repr: Column
) -> Optional[Column]:
    """Kernel context rendering: first element bare, rest ``[repr]``. A
    codes-only (``None``) or bare (:data:`BARE`) build keeps its form."""
    if path is None or path is BARE:
        return path
    return F.when(path == "", context_bare).otherwise(
        F.concat(path, F.lit("["), context_repr, F.lit("]"))
    )


def _extend_path_prop(path: Optional[Column], name: str) -> Optional[Column]:
    return extend_path(path, F.lit(name), F.lit(repr(name)))


def _extend_path_index(path: Optional[Column], idx: Column) -> Optional[Column]:
    s = idx.cast("string")
    return extend_path(path, s, s)


@dataclass
class _Check:
    """One ordered leaf check: fail condition + bare message column."""

    constraint: str
    fails: Callable[[Column], Column]
    bare_msg: Callable[[Column], Column]
    #: statically known to fail only on NULL input (the type-conformance
    #: check of a statically matching type)
    null_only: bool = False


def _leaf(
    dtype: T.DataType,
    checks: List[_Check],
    adapt: Optional[Callable[[Column], Column]] = None,
    out_type: Optional[T.DataType] = None,
) -> Lowered:
    """Assemble a Lowered from an ordered list of checks (kernel fail-fast
    order); the violation/message is the FIRST failing check's."""

    def predicate(col: Column) -> Column:
        pred = F.lit(True)
        for c in checks:
            pred = pred & ~_nullsafe(c.fails(col))
        return _nullsafe(pred)

    def violations(col: Column, path: Optional[Column]) -> Column:
        expr = None
        for c in checks:
            clause = _nullsafe(c.fails(col))
            vio = _violation(
                path, c.constraint, col, dtype, lambda: c.bare_msg(col)
            )
            expr = F.when(clause, vio) if expr is None else expr.when(clause, vio)
        return expr.otherwise(_no_violations()) if expr is not None else _no_violations()

    return Lowered(
        out_type=out_type or dtype,
        predicate=predicate,
        adapt=adapt or (lambda col: col),
        violations=violations,
        pred_null_only=all(c.null_only for c in checks),
        # fail-fast: at most ONE violation from a leaf
        count=lambda col: F.when(predicate(col), F.lit(0)).otherwise(F.lit(1)),
    )


# ---------------------------------------------------------------------------
# static type conformance
# ---------------------------------------------------------------------------

def _python_class_for(dtype: T.DataType) -> type:
    import datetime
    import decimal

    if isinstance(dtype, T.StringType):
        return str
    if isinstance(dtype, T.BooleanType):
        return bool
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return int
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        return float
    if isinstance(dtype, T.DecimalType):
        return decimal.Decimal
    if isinstance(dtype, T.DateType):
        return datetime.date
    if isinstance(dtype, T.TimestampType):
        return datetime.datetime
    if isinstance(dtype, T.ArrayType):
        return list
    if isinstance(dtype, (T.MapType, T.StructType)):
        return dict
    if isinstance(dtype, T.BinaryType):
        return bytes
    return object


def _type_statically_ok(v: K.Type, dtype: T.DataType) -> bool:
    cls = _python_class_for(dtype)
    accept = v.accept_types
    reject = v.reject_types
    if not isinstance(accept, tuple):
        accept = (accept,) if accept else ()
    if not isinstance(reject, tuple):
        reject = (reject,) if reject else ()
    ok = any(issubclass(cls, a) for a in accept) if accept else False
    bad = any(issubclass(cls, r) for r in reject) if reject else False
    return ok and not bad


def _type_checks(v: Validator, dtype: T.DataType, statically_ok: bool) -> List[_Check]:
    """Null check + static type conformance, kernel message parity
    ("must be <humanized_name>")."""
    bare = "must be %s" % v.humanized_name

    def fails(col: Column) -> Column:
        if not statically_ok:
            return F.lit(True)
        return col.isNull()

    return [
        _Check(
            "type:" + v.humanized_name,
            fails,
            lambda col: F.lit(bare),
            null_only=statically_ok,
        )
    ]


# ---------------------------------------------------------------------------
# regex dialect translation (Python re → Java)
# ---------------------------------------------------------------------------

# Python-only constructs Java regex rejects at compile time (rlike would
# throw PatternSyntaxException mid-job): comments (?#…, conditional
# groups (?(1)…, and inline flag groups carrying the Python-only letters
# a/L/u — e.g. (?a), (?ai:…), (?i-u:…). Named groups/backrefs are NOT
# listed: they have exact Java spellings, rewritten below.
_JAVA_INCOMPATIBLE = re.compile(
    r"\(\?#"
    r"|\(\?\("
    r"|\(\?[aiLmsux]*[aLu][aiLmsux]*[:)]"
    r"|\(\?[aiLmsux]*-[aiLmsux]*[aLu][aiLmsux]*[:)]"
)

# Java named-group names must be [a-zA-Z][a-zA-Z0-9]* — no underscores.
# A Python name outside that subset forces the kernel fallback.
_JAVA_GROUP_NAME = re.compile(r"[a-zA-Z][a-zA-Z0-9]*$")


def _rewrite_named_groups(pattern: str) -> Optional[str]:
    """Rewrite Python named groups/backrefs to their Java spellings:
    ``(?P<name>…)`` → ``(?<name>…)`` and ``(?P=name)`` → ``\\k<name>``.

    Escape-aware: a ``(`` preceded by an odd number of backslashes is a
    literal paren, not a group opener. Character-class-aware: inside an
    unescaped ``[...]`` every char is a literal in Python (e.g.
    ``[a(?P<b>]`` matches any of those chars), so ``(?P`` sequences
    there are copied verbatim, not rewritten (a rewrite would drop the
    literal ``P`` from the class on the native rlike path). Returns None
    when a group name is not a valid Java name (Java allows only
    ``[a-zA-Z][a-zA-Z0-9]*``; Python also allows underscores and leading
    ``_``) — the caller then falls back to the kernel."""
    out = []
    i, n = 0, len(pattern)
    in_class = False
    class_open_i = -1  # index of the unescaped '[' that opened the class
    while i < n:
        c = pattern[i]
        if c == "\\" and i + 1 < n:
            out.append(pattern[i : i + 2])
            i += 2
            continue
        if in_class:
            # ']' immediately after '[' or '[^' is a literal member
            literal_rbracket = i == class_open_i + 1 or (
                pattern[class_open_i + 1] == "^" and i == class_open_i + 2
            )
            if c == "]" and not literal_rbracket:
                in_class = False
            out.append(c)
            i += 1
            continue
        if c == "[":
            in_class = True
            class_open_i = i
            out.append(c)
            i += 1
            continue
        if pattern.startswith("(?P<", i):
            end = pattern.find(">", i + 4)
            if end < 0:
                return None  # malformed; let the kernel's re handle it
            name = pattern[i + 4 : end]
            if not _JAVA_GROUP_NAME.fullmatch(name):
                return None
            out.append("(?<%s>" % name)
            i = end + 1
            continue
        if pattern.startswith("(?P=", i):
            end = pattern.find(")", i + 4)
            if end < 0:
                return None
            name = pattern[i + 4 : end]
            if not _JAVA_GROUP_NAME.fullmatch(name):
                return None
            out.append("\\k<%s>" % name)
            i = end + 1
            continue
        out.append(c)
        i += 1
    return "".join(out)


# Python's str-pattern \s: the 29 code points of str.isspace(). Java's
# \s is the 6 ASCII ones, so the class is spelled out.
_PY_SPACE = (
    "\\t-\\r\\x1C-\\x20\\x85\\xA0\\u1680\\u2000-\\u200A"
    "\\u2028\\u2029\\u202F\\u205F\\u3000"
)

# Escapes whose Java meaning differs from Python's, as (spelling outside a
# class, spelling inside one); None = no exact Java spelling, so the
# pattern takes the kernel fallback. Python's str-pattern \d is Unicode
# category Nd and \w is categories L and N plus "_" (Java's are ASCII);
# \b/\B border on that \w (Java's on isLetterOrDigit); \v is one
# character in Python and a class in Java; \Z is Java's \z. The other
# escapes mean the same in both and are copied.
_JAVA_ESCAPES = {
    "d": ("[0-9\\p{Nd}]", "0-9\\p{Nd}"),
    "D": ("[^0-9\\p{Nd}]", "\\P{Nd}"),
    "w": ("[\\p{L}\\p{N}_]", "\\p{L}\\p{N}_"),
    "W": ("[^\\p{L}\\p{N}_]", None),
    "s": ("[" + _PY_SPACE + "]", _PY_SPACE),
    "S": ("[^" + _PY_SPACE + "]", None),
    "b": (None, None),
    "B": (None, None),
    "v": ("\\x0B", "\\x0B"),
    "Z": ("\\z", None),
}

# an inline flag group that sets or clears IGNORECASE: (?i) (?si:…) (?-i:…)
_CASE_FLAG = re.compile(r"\(\?[aiLmsux-]*i")

# Under IGNORECASE with UNICODE_CASE, Java and Python agree on every code
# point for ASCII literals and the escapes above, but not for class
# ranges ((?i)[A-Z] and U+212A), non-ASCII literals or backreferences.
_CASE_UNSAFE_ESCAPES = set("xuUNk0123456789")


def _translate_body(pattern: str, ignore_case: bool) -> Optional[str]:
    """Rewrite a Python pattern body into Java syntax with the same
    matches, or None when there is no exact Java spelling.

    Escapes follow ``_JAVA_ESCAPES``. Inside a character class, the
    characters that are literals in Python but syntax in Java are escaped
    (deltas found by the dialect property test,
    tests/test_regex_dialect.py):

    * ``]`` as the first member (``[]a]`` / ``[^]a]``) — legal literal in
      Python, unclosed-class error in Java → ``\\]``;
    * bare ``[`` — literal in Python, nested-class opener in Java → ``\\[``;
    * ``&`` — literal in Python, half of Java's ``&&`` intersection
      operator → ``\\&`` (escaping single ``&`` is harmless and makes
      ``&&`` safe).

    ``ignore_case`` (the pattern sets the ``i`` flag) also rejects
    character classes and the ``_CASE_UNSAFE_ESCAPES``."""
    out = []
    i, n = 0, len(pattern)
    in_class = False
    class_open_i = -1
    while i < n:
        c = pattern[i]
        if c == "\\" and i + 1 < n:
            e = pattern[i + 1]
            if ignore_case and e in _CASE_UNSAFE_ESCAPES:
                return None
            if e in _JAVA_ESCAPES:
                spelled = _JAVA_ESCAPES[e][in_class]
                if spelled is None:
                    return None
                out.append(spelled)
            else:
                out.append(pattern[i : i + 2])
            i += 2
            continue
        if in_class:
            literal_rbracket = i == class_open_i + 1 or (
                pattern[class_open_i + 1] == "^" and i == class_open_i + 2
            )
            if c == "]" and not literal_rbracket:
                in_class = False
                out.append(c)
            elif c in "][&":
                out.append("\\" + c)
            else:
                out.append(c)
            i += 1
            continue
        if c == "[":
            if ignore_case:
                return None
            in_class = True
            class_open_i = i
            out.append(c)
            i += 1
            continue
        out.append(c)
        i += 1
    return "".join(out)


def translate_python_regex(pattern: str) -> Optional[str]:
    """Translate a Python ``re`` pattern for Java ``rlike``, anchored at the
    start only (``re.match`` semantics). Named groups and backrefs are
    rewritten to Java spellings; returns None if not translatable (the
    caller takes the kernel-fallback path instead of risking a runtime
    PatternSyntaxException on the executors, or a different verdict on
    non-ASCII text)."""
    if _JAVA_INCOMPATIBLE.search(pattern):
        return None
    if "(?P" in pattern:
        rewritten = _rewrite_named_groups(pattern)
        if rewritten is None:
            return None
        pattern = rewritten
    ignore_case = _CASE_FLAG.search(pattern) is not None
    if ignore_case and not pattern.isascii():
        return None
    translated = _translate_body(pattern, ignore_case)
    if translated is None:
        return None
    # (?d) = UNIX_LINES: shrink Java's line-terminator set (LF, CR, CRLF,
    # U+0085, U+2028, U+2029) to LF alone for '.', '^' and '$', matching
    # CPython's LF-only rule — found by the dialect property test on
    # subject "a<CR>" vs pattern "a$" (tests/test_regex_dialect.py).
    # (?u) = UNICODE_CASE: Python's IGNORECASE folds non-ASCII subjects
    # too ("(?i)k" matches U+212A KELVIN SIGN).
    flags = "(?du)" if ignore_case else "(?d)"
    return flags + "^(?:" + translated + ")"


# ---------------------------------------------------------------------------
# kernel fallback (Arrow-vectorized escape hatch, cold path only)
# ---------------------------------------------------------------------------

def _is_scalar_type(dtype: T.DataType) -> bool:
    return not isinstance(dtype, (T.ArrayType, T.MapType, T.StructType))


def kernel_fallback(
    validator: Validator, dtype: T.DataType, out_type: Optional[T.DataType] = None
) -> Lowered:
    """Run the kernel validator inside three Arrow-batched pandas UDFs: a
    boolean verdict, a ``struct<suffix, message, bare>`` of the first
    error, and the adapted value. Spark evaluates identical UDF calls once
    per operator, so predicate and count share one verdict call, and the
    full and bare forms of violations one error call. The verdict stays
    its own UDF: folded into the error struct, it formats a message for
    every invalid row on the verdict path (measured slower on
    ``verdicts()``).

    Scalar columns are passed through directly; nested columns round-trip
    through JSON (``to_json`` omits null struct fields, which matches the
    engine's null-field == absent-property convention). A kernel exception
    other than ``ValidationError`` fails the task on every output.
    """
    out_type = out_type or dtype
    scalar = _is_scalar_type(dtype)

    integral = isinstance(
        dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    )
    boolean = isinstance(dtype, T.BooleanType)

    def to_py(x: Any) -> Any:
        if x is None or (isinstance(x, float) and x != x):
            return None
        if hasattr(x, "item"):  # numpy scalar
            x = x.item()
        # pandas upcasts nullable int64/bool columns to float64/object;
        # restore the exact python type the kernel expects
        if integral and isinstance(x, float):
            return int(x)
        if boolean and isinstance(x, (int, float)) and not isinstance(x, bool):
            return bool(x)
        return x

    if scalar:
        decode, encode = to_py, (lambda col: col)
    else:
        decode = lambda x: None if x is None else json.loads(x)
        encode = F.to_json

    @F.pandas_udf(T.BooleanType())
    def valid_udf(s: pd.Series) -> pd.Series:
        return s.map(lambda x: validator.is_valid(decode(x)))

    # the first kernel error: its context suffix, its full "Invalid value
    # ..." body and its bare message (all NULL on a valid value)
    error_fields = T.StructType(
        [
            T.StructField("suffix", T.StringType()),
            T.StructField("message", T.StringType()),
            T.StructField("bare", T.StringType()),
        ]
    )

    @F.pandas_udf(error_fields)
    def error_udf(s: pd.Series) -> pd.DataFrame:
        def one(x):
            try:
                validator.validate(decode(x), adapt=False)
                return None, None, None
            except ValidationError as ex:
                suffix = "".join("[%r]" % c for c in reversed(ex.context))
                ex.context = []
                return suffix, ex.to_string(), ex.msg

        return pd.DataFrame([one(x) for x in s], columns=error_fields.names)

    # a mixed-adapt validator (e.g. AnyOf(AdaptTo(int), Enum(["N/A"])))
    # produces per-row python types that cannot all fit one Spark column
    # type; coerce into out_type's python class (engine convention:
    # declare `spark_out_type` to pick the column type, default keeps the
    # input dtype) — uncoercible values become NULL instead of failing
    # the Arrow serializer mid-job
    target_cls = _python_class_for(out_type)

    @F.pandas_udf(out_type if scalar else T.StringType())
    def adapt_udf(s: pd.Series) -> pd.Series:
        def one(x):
            try:
                r = validator.validate(decode(x), adapt=True)
            except ValidationError:
                return None
            if not scalar:
                try:
                    return json.dumps(r)
                except (TypeError, ValueError):
                    # adaptor produced a non-JSON-representable value
                    # (datetime/Decimal/...): nested fallback adaptation
                    # is JSON-bounded by design — report NULL instead of
                    # failing the whole job inside the UDF
                    return None
            if r is None or target_cls is object or isinstance(r, target_cls):
                return r
            try:
                return target_cls(r)
            except Exception:
                return None

        return s.map(one)

    predicate = lambda col: _nullsafe(valid_udf(encode(col)))
    if scalar:
        adapt = adapt_udf
    else:
        adapt = lambda col: F.from_json(adapt_udf(encode(col)), out_type)
    code = "kernel:" + validator.__class__.__name__

    def violations(col: Column, path: Optional[Column]) -> Column:
        if path is None:
            # codes only: the verdict UDF decides, the error UDF never runs
            return F.when(predicate(col), _no_violations()).otherwise(
                _violation(None, code, col, dtype, lambda: None)
            )
        e = error_udf(encode(col))
        if path is not BARE:
            path = F.concat(path, F.coalesce(e.getField("suffix"), F.lit("")))
        return F.when(e.getField("message").isNull(), _no_violations()).otherwise(
            _violation(
                path,
                code,
                col,
                dtype,
                lambda: e.getField("bare"),
                full=lambda: e.getField("message"),
            )
        )

    return Lowered(
        out_type=out_type,
        predicate=predicate,
        adapt=adapt,
        violations=violations,
        # the kernel round-trip reports at most ONE violation
        count=lambda col: F.when(predicate(col), F.lit(0)).otherwise(F.lit(1)),
    )


# ---------------------------------------------------------------------------
# per-validator lowerings
# ---------------------------------------------------------------------------

def _lower_type(v: K.Type, dtype: T.DataType) -> Lowered:
    ok = _type_statically_ok(v, dtype)
    return _leaf(dtype, _type_checks(v, dtype, ok))


def _lower_string(v: K.String, dtype: T.DataType) -> Lowered:
    ok = isinstance(dtype, T.StringType)
    checks = _type_checks(v, dtype, ok)
    if v._min_length is not None:
        n = v._min_length
        checks.append(
            _Check(
                "string.min_length",
                lambda col, n=n: F.length(col) < n,
                lambda col, n=n: F.lit("must be at least %d characters long" % n),
            )
        )
    if v._max_length is not None:
        n = v._max_length
        checks.append(
            _Check(
                "string.max_length",
                lambda col, n=n: F.length(col) > n,
                lambda col, n=n: F.lit("must be at most %d characters long" % n),
            )
        )
    return _leaf(dtype, checks)


def _lower_pattern(v: K.Pattern, dtype: T.DataType) -> Lowered:
    ok = isinstance(dtype, T.StringType)
    java_pattern = translate_python_regex(v.regexp.pattern)
    # flags passed to re.compile (not written inline) are not in the text
    if java_pattern is None or re.compile(v.regexp.pattern).flags != v.regexp.flags:
        return kernel_fallback(v, dtype)
    # kernel parity: Pattern overrides error(), so BOTH the type failure and
    # the regex failure raise "must match pattern …" (validators.py:445-452)
    bare = "must match %s" % v.humanized_name
    checks = [
        _Check(
            "pattern",
            (lambda col: F.lit(True))
            if not ok
            else (lambda col: col.isNull() | ~col.rlike(java_pattern)),
            lambda col: F.lit(bare),
        )
    ]
    return _leaf(dtype, checks)


def _enum_literal_ok(value: Any) -> bool:
    return isinstance(value, (str, int, float, bool)) or value is None


def _comparable_enum_values(values: list, dtype: T.DataType) -> Optional[list]:
    """Project enum values onto the column's Python equality domain.

    Python ``in`` compares with ``==``: numerics cross-match (1 == 1.0 ==
    True), strings only match strings. Spark's ``isin`` instead inserts
    implicit casts — in ANSI mode a string column against int literals
    throws CAST_INVALID_INPUT at runtime, and castable strings like '1'
    would wrongly match. So: keep values that CAN equal a column value
    under Python semantics (mapped into the column's type family where
    needed), drop values that never can (they contribute nothing to
    membership), and return None when the projection is not expressible
    (caller falls back to the kernel)."""
    cls = _python_class_for(dtype)
    kept: list = []
    for x in values:
        if isinstance(x, float) and x != x:
            # NaN enum values can never match: the kernel's set identity
            # shortcut (nan in {nan} is True) is unrepresentable on the
            # engine — NaN ≡ NULL end to end (Arrow/pandas encode null as
            # NaN, so even the kernel fallback sees None). Drop the value;
            # a NaN cell is treated as missing, like every other operator.
            continue
        if cls is str:
            if isinstance(x, str):
                kept.append(x)
            # non-strings never == a string → drop
        elif cls is bool:
            if isinstance(x, bool):
                kept.append(x)
            elif isinstance(x, (int, float)) and x in (0, 1):
                kept.append(bool(x))  # Python: True == 1, False == 0
            # other numerics never == a bool → drop
        elif cls in (int, float):
            if isinstance(x, bool):
                kept.append(int(x))  # True ≡ 1 under numeric widening
            elif isinstance(x, (int, float)):
                kept.append(x)  # Spark widens numeric comparisons
            # strings never == a number in Python → drop
        else:
            return None  # non-scalar column: kernel fallback
    return kept


def _lower_enum(v: K.Enum, dtype: T.DataType) -> Lowered:
    # repr order, as in Enum.humanized_name: a set iterates in
    # PYTHONHASHSEED order, which would make the IN-list (and so the plan
    # text and codegen cache key) differ between processes
    values = sorted(v.values, key=repr)
    if not all(_enum_literal_ok(x) for x in values):
        return kernel_fallback(v, dtype)
    bare = "must be %s" % v.humanized_name
    allow_null = any(x is None for x in values)
    non_null = _comparable_enum_values(
        [x for x in values if x is not None], dtype
    )
    if non_null is None:
        return kernel_fallback(v, dtype)

    def fails(col: Column) -> Column:
        member = col.isin(non_null) if non_null else F.lit(False)
        if allow_null:
            return ~(col.isNull() | _nullsafe(member))
        return ~_nullsafe(member)

    return _leaf(dtype, [_Check("enum", fails, lambda col: F.lit(bare))])


def _lower_range(v: K.Range, dtype: T.DataType) -> Lowered:
    inner = lower(v._validator, dtype) if v._validator is not None else None
    out_type = inner.out_type if inner else dtype
    adapted = (lambda col: inner.adapt(col)) if inner else (lambda col: col)

    checks: List[_Check] = []
    if v._min_value is not None:
        mn = v._min_value
        checks.append(
            _Check(
                "range.min",
                lambda col, mn=mn: adapted(col) < F.lit(mn),
                lambda col, mn=mn: F.lit("must not be less than %d" % mn),
            )
        )
    if v._max_value is not None:
        mx = v._max_value
        checks.append(
            _Check(
                "range.max",
                lambda col, mx=mx: adapted(col) > F.lit(mx),
                lambda col, mx=mx: F.lit("must not be larger than %d" % mx),
            )
        )

    # a bounded bare Range (no inner validator) must reject NULL: the
    # kernel never accepts None against a bound (reference
    # validators.py:361 — None < min raises), whereas the NULL-propagating
    # comparison would fall through _nullsafe as "not failing"
    if checks and inner is None:
        first = checks[0]
        checks[0] = _Check(
            first.constraint,
            lambda col, f=first.fails: col.isNull() | f(col),
            first.bare_msg,
        )

    bounds = _leaf(out_type, checks, out_type=out_type)

    def predicate(col: Column) -> Column:
        p = bounds.predicate(adapted(col))
        if inner:
            p = inner.predicate(col) & p
        return _nullsafe(p)

    def violations(col: Column, path: Optional[Column]) -> Column:
        own = bounds.violations(adapted(col), path)
        if inner:
            iv = inner.violations(col, path)
            return F.when(F.size(iv) > 0, iv).otherwise(own)
        return own

    def count(col: Column) -> Column:
        own_c = bounds.count(adapted(col))
        if inner:
            ic = inner.count(col)
            return F.when(ic > 0, ic).otherwise(own_c)
        return own_c

    return Lowered(
        out_type=out_type,
        predicate=predicate,
        adapt=adapted,
        violations=violations,
        count=count,
    )


def _lower_nullable(v: K.Nullable, dtype: T.DataType) -> Lowered:
    inner = lower(v._validator, dtype)
    default = v.default  # evaluated once per compiled plan (batch semantics)

    def predicate(col: Column) -> Column:
        return col.isNull() | inner.predicate(col)

    def adapt(col: Column) -> Column:
        return F.when(
            col.isNull(), F.lit(default).cast(inner.out_type)
        ).otherwise(inner.adapt(col))

    def violations(col: Column, path: Optional[Column]) -> Column:
        return F.when(col.isNull(), _no_violations()).otherwise(
            inner.violations(col, path)
        )

    return Lowered(
        out_type=inner.out_type,
        predicate=predicate,
        adapt=adapt,
        violations=violations,
        # inner fails only on null → isNull | inner never fails
        pred_null_only=inner.pred_null_only,
        count=lambda col: F.when(col.isNull(), F.lit(0)).otherwise(
            inner.count(col)
        ),
    )


def _lower_nonnullable(v: K.NonNullable, dtype: T.DataType) -> Lowered:
    inner = lower(v._validator, dtype) if v._validator is not None else None
    bare = "must be %s" % v.humanized_name

    def predicate(col: Column) -> Column:
        p = col.isNotNull()
        if inner:
            p = p & inner.predicate(col)
        return _nullsafe(p)

    def violations(col: Column, path: Optional[Column]) -> Column:
        null_vio = _violation(path, "non_null", col, dtype, lambda: F.lit(bare))
        rest = inner.violations(col, path) if inner else _no_violations()
        return F.when(col.isNull(), null_vio).otherwise(rest)

    return Lowered(
        out_type=inner.out_type if inner else dtype,
        predicate=predicate,
        adapt=(lambda col: inner.adapt(col)) if inner else (lambda col: col),
        violations=violations,
        pred_null_only=inner.pred_null_only if inner else True,
        count=lambda col: F.when(col.isNull(), F.lit(1)).otherwise(
            inner.count(col) if inner else F.lit(0)
        ),
    )


def _lower_anyof(v: K.AnyOf, dtype: T.DataType) -> Lowered:
    children = [lower(c, dtype) for c in v._components]
    if len({c.out_type.simpleString() for c in children}) == 1:
        out_type = children[0].out_type

        def adapt(col: Column) -> Column:
            expr = None
            for c in children:
                expr = (
                    F.when(c.predicate(col), c.adapt(col))
                    if expr is None
                    else expr.when(c.predicate(col), c.adapt(col))
                )
            return expr

    else:
        # children adapt to DIFFERENT types (e.g. AnyOf(AdaptTo(int),
        # Enum(["N/A"])) on a string column): a Spark column has one type,
        # so only ADAPT needs the kernel escape hatch — the predicate and
        # violations stay native (the hot path is adapt-free)
        fb = kernel_fallback(v, dtype, out_type=getattr(v, "spark_out_type", None))
        out_type, adapt = fb.out_type, fb.adapt

    def predicate(col: Column) -> Column:
        p = F.lit(False)
        for c in children:
            p = p | c.predicate(col)
        return _nullsafe(p)

    def bare(col: Column) -> Column:
        # all children failed: join their fail-fast messages (element 0 of
        # each bare violation array) with " or "
        firsts = [F.get(c.violations(col, BARE), 0) for c in children]
        return F.concat_ws(" or ", *[f.getField("message") for f in firsts])

    def violations(col: Column, path: Optional[Column]) -> Column:
        return F.when(predicate(col), _no_violations()).otherwise(
            _violation(path, "any_of", col, dtype, lambda: bare(col))
        )

    return Lowered(
        out_type,
        predicate,
        adapt,
        violations,
        count=lambda col: F.when(predicate(col), F.lit(0)).otherwise(F.lit(1)),
    )


def _lower_allof(v: K.AllOf, dtype: T.DataType) -> Lowered:
    children = [lower(c, dtype) for c in v._components]
    out_type = children[-1].out_type if children else dtype

    def predicate(col: Column) -> Column:
        p = F.lit(True)
        for c in children:
            p = p & c.predicate(col)
        return _nullsafe(p)

    def adapt(col: Column) -> Column:
        return children[-1].adapt(col) if children else col

    def violations(col: Column, path: Optional[Column]) -> Column:
        arrays = [c.violations(col, path) for c in children]
        return F.concat(*arrays) if arrays else _no_violations()

    # struct-of-arrays form: a conjunction of decomposable children is the
    # concatenation of their per-field checks
    soa: Optional[List[SoaCheck]] = None
    if children and all(c.soa_checks is not None for c in children):
        soa = [t for c in children for t in c.soa_checks]

    def count(col: Column) -> Column:
        total = F.lit(0)
        for c in children:
            total = total + c.count(col)
        return total

    return Lowered(
        out_type,
        predicate,
        adapt,
        violations,
        pred_null_only=all(c.pred_null_only for c in children),
        soa_checks=soa,
        soa_null_strict=any(c.soa_null_strict for c in children),
        count=count,
    )


def _lower_chainof(v: K.ChainOf, dtype: T.DataType) -> Lowered:
    stages: List[Tuple[Lowered, Callable[[Column], Column]]] = []
    cur_type = dtype
    threaded: Callable[[Column], Column] = lambda col: col
    for comp in v._components:
        node = lower(comp, cur_type)
        prev = threaded
        stages.append((node, prev))
        threaded = (lambda node=node, prev=prev: lambda col: node.adapt(prev(col)))()
        cur_type = node.out_type

    def predicate(col: Column) -> Column:
        p = F.lit(True)
        for node, prev in stages:
            p = p & node.predicate(prev(col))
        return _nullsafe(p)

    def adapt(col: Column) -> Column:
        return threaded(col)

    def violations(col: Column, path: Optional[Column]) -> Column:
        arrays = [node.violations(prev(col), path) for node, prev in stages]
        return F.concat(*arrays) if arrays else _no_violations()

    def count(col: Column) -> Column:
        total = F.lit(0)
        for node, prev in stages:
            total = total + node.count(prev(col))
        return total

    return Lowered(cur_type, predicate, adapt, violations, count=count)


def _lower_condition(v: K.Condition, dtype: T.DataType) -> Lowered:
    builder = getattr(v, "column_predicate", None)
    if builder is None:
        return kernel_fallback(v, dtype)
    bare = "must satisfy predicate %s" % v.humanized_name
    node = _leaf(
        dtype,
        [
            _Check(
                "condition:" + v.humanized_name,
                lambda col: ~_nullsafe(builder(col)),
                lambda col: F.lit(bare),
            )
        ],
    )
    # struct-of-arrays form: a ColumnCondition may declare an equivalent
    # builder over ≤2 named struct fields (zip_with binds at most two
    # arrays); the author guarantees agreement with column_predicate,
    # including on all-NULL field inputs (a NULL struct element extracts
    # to NULL in every field array)
    soa_fields = getattr(v, "soa_fields", None)
    soa_builder = getattr(v, "soa_predicate", None)
    if (
        soa_fields
        and soa_builder is not None
        and 1 <= len(soa_fields) <= 2
        and isinstance(dtype, T.StructType)
        and all(f in dtype.fieldNames() for f in soa_fields)
    ):
        node.soa_checks = [(tuple(soa_fields), soa_builder)]
    return node


# Python int(str): optional whitespace, sign, digits with single
# underscores between digit groups (PEP 515)
_INT_LITERAL = r"^\s*[+-]?[0-9](?:_?[0-9])*\s*$"

_INT_NULL_MSG = (
    "int() argument must be a string, a bytes-like object or a real number, "
    "not 'NoneType'"
)
_FLOAT_NULL_MSG = (
    "float() argument must be a string or a real number, not 'NoneType'"
)


def _null_check(constraint: str, msg: str) -> _Check:
    return _Check(constraint, lambda col: col.isNull(), lambda col, m=msg: F.lit(m))


def _lower_adapt_to(v: K.AdaptTo, dtype: T.DataType) -> Lowered:
    target = v._adaptor
    if target is int:
        if isinstance(dtype, T.StringType):
            # Python int("1.2") raises; exact CPython error message.
            checks = [
                _null_check("adapt_to:int", _INT_NULL_MSG),
                _Check(
                    "adapt_to:int",
                    lambda col: ~col.rlike(_INT_LITERAL),
                    lambda col: F.format_string(
                        "invalid literal for int() with base 10: %s",
                        _memo_repr(py_repr, col, dtype),
                    ),
                ),
            ]
            return _leaf(
                dtype, checks,
                adapt=lambda col: F.regexp_replace(F.trim(col), "_", "").try_cast(
                    T.LongType()
                ),
                out_type=T.LongType(),
            )
        if isinstance(dtype, (T.FloatType, T.DoubleType)):
            checks = [
                _null_check("adapt_to:int", _INT_NULL_MSG),
                _Check(
                    "adapt_to:int",
                    lambda col: F.isnan(col) | (F.abs(col) == float("inf")),
                    lambda col: F.lit("cannot convert float NaN to integer"),
                ),
            ]
            # try_cast double→long truncates toward zero, matching int(float);
            # NaN/inf → NULL (guarded invalid by the check above)
            return _leaf(
                dtype, checks, adapt=lambda col: col.try_cast(T.LongType()),
                out_type=T.LongType(),
            )
        if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                              T.BooleanType)):
            return _leaf(dtype, [_null_check("adapt_to:int", _INT_NULL_MSG)],
                         adapt=lambda col: col.cast(T.LongType()),
                         out_type=T.LongType())
    if target is float:
        if isinstance(dtype, T.StringType):
            checks = [
                _null_check("adapt_to:float", _FLOAT_NULL_MSG),
                _Check(
                    "adapt_to:float",
                    lambda col: col.try_cast(T.DoubleType()).isNull(),
                    lambda col: F.format_string(
                        "could not convert string to float: %s",
                        _memo_repr(py_repr, col, dtype),
                    ),
                )
            ]
            return _leaf(
                dtype, checks, adapt=lambda col: col.try_cast(T.DoubleType()),
                out_type=T.DoubleType(),
            )
        if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                              T.FloatType, T.DoubleType, T.BooleanType)):
            return _leaf(dtype, [], adapt=lambda col: col.cast(T.DoubleType()),
                         out_type=T.DoubleType())
    if target is str:
        return _leaf(dtype, [], adapt=lambda col: col.cast(T.StringType()),
                     out_type=T.StringType())
    return kernel_fallback(v, dtype)


def _traps_cover(v: K.AdaptBy, *excs: type) -> bool:
    t = v._traps
    if not t:
        return False
    if not isinstance(t, tuple):
        t = (t,)
    return all(any(issubclass(e, trap) for trap in t) for e in excs)


_HEX_NULL_MSG = "'NoneType' object cannot be interpreted as an integer"


def _lower_adapt_by(v: K.AdaptBy, dtype: T.DataType) -> Lowered:
    """Native lowering for RECOGNIZED builtin adaptors (SURVEY §2.2):
    ``int``/``float``/``str`` reuse the AdaptTo cast cascades (the adaptor
    call and the coercion produce the same values on typed columns), and
    ``hex`` compiles to a hex/format expression — no Arrow round-trip.
    Anything else (arbitrary callables, traps that do not cover the
    builtin's exceptions) stays on the kernel-fallback path."""
    a = v._adaptor
    if a in (int, float) and _traps_cover(v, ValueError, TypeError):
        return _lower_adapt_to(v, dtype)
    if a is str and _traps_cover(v, TypeError):
        return _lower_adapt_to(v, dtype)
    if a is hex and _traps_cover(v, TypeError) and isinstance(
        dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    ):
        def py_hex(col: Column) -> Column:
            # python hex(): lowercase digits, 0x prefix, sign before prefix
            body = F.lower(F.hex(F.abs(col.cast("long"))))
            # strip the leading zeros jvm hex never emits for bigint: it
            # doesn't — F.hex(long) is minimal — but hex(0) is '0'
            return F.concat(
                F.when(col < 0, F.lit("-0x")).otherwise(F.lit("0x")), body
            )

        checks = [_null_check("adapt_by:hex", _HEX_NULL_MSG)]
        return _leaf(
            dtype, checks, adapt=py_hex, out_type=T.StringType()
        )
    return kernel_fallback(
        v, dtype, out_type=getattr(v, "spark_out_type", None)
    )


def _soa_forall(col: Column, terms: List[SoaCheck]) -> Column:
    """Evaluate per-element checks over an array<struct> column in
    struct-of-arrays form: ``col.getField(f)`` extracts each referenced
    field ONCE per row as a primitive array (GetArrayStructFields), and
    each check runs as a lambda over the extracted array(s) — primitive
    lambda variables only, no per-element struct access. The lambdas
    themselves are interpreted (``CodegenFallback``), and so is the
    operator holding them: the predicate's Filter and Project run outside
    whole-stage codegen. Equivalent to
    ``_nullsafe(F.forall(col, lambda x: item.predicate(x)))`` when the
    terms decompose ``item.predicate`` (see ``Lowered.soa_checks``);
    term-wise null-safing is Kleene-equivalent to whole-conjunction
    null-safing because a null conjunction never contains a definite False.

    Measured (10M docs, local[32]; the experiment script is at commit
    0ff93ec): 1.8x over the array-of-structs forall on the flagship span
    schema.

    Pass fusion (round 6): higher-order array lambdas are interpreted, so
    every pass over the array costs a full loop plus a boolean-array
    materialization. Terms are fused before emission — all unary terms on
    one field share a single ``transform``, and leftover unary terms whose
    field also appears in a binary term ride along inside that term's
    ``zip_with`` — shrinking the flagship span predicate from 7 array
    passes to 3 (kind×text, kind×media_ref, offset). Exactly
    equivalence-preserving: each original term contributes
    ``_nullsafe(builder(elem))`` per element either way, and
    ``array_contains(.., False)`` over the conjunction array equals the
    conjunction of per-term ``array_contains`` (an element fails the fused
    pass iff it fails some original term). Measured on the flagship
    predicate at 2M docs, local[32]: 0.86s → 0.71s (−17%)."""
    constants: List[Column] = []
    unary: dict = {}  # field -> [builder]
    binary: dict = {}  # (f1, f2) -> [builder]
    for fields, builder in terms:
        if not fields:
            # per-element constant False: holds only for an empty array
            constants.append(F.size(col) == 0)
        elif len(fields) == 1:
            unary.setdefault(fields[0], []).append(builder)
        else:
            binary.setdefault(tuple(fields), []).append(builder)

    def _conj_unary(builders):
        def run(x):
            out = None
            for b in builders:
                t = _nullsafe(b(x))
                out = t if out is None else out & t
            return out

        return run

    # fold unary groups into a binary pass sharing the field (one loop
    # instead of two); each group rides exactly one pass
    absorbed = set()
    passes: List[Column] = []
    for (f1, f2), builders in binary.items():
        u1 = unary.get(f1) if f1 not in absorbed else None
        u2 = unary.get(f2) if f2 not in absorbed and f2 != f1 else None
        if u1:
            absorbed.add(f1)
        if u2:
            absorbed.add(f2)

        def _make_run2(builders, u1, u2):
            # closure factory, NOT default args: Spark's higher-order-
            # function binder reads the lambda's arity (see
            # dedup.minhash_signatures for the same gotcha)
            def run2(x, y):
                out = None
                for b in builders:
                    t = _nullsafe(b(x, y))
                    out = t if out is None else out & t
                if u1:
                    out = out & _conj_unary(u1)(x)
                if u2:
                    out = out & _conj_unary(u2)(y)
                return out

            return run2

        passes.append(
            ~F.array_contains(
                F.zip_with(
                    col.getField(f1), col.getField(f2), _make_run2(builders, u1, u2)
                ),
                F.lit(False),
            )
        )
    for f, builders in unary.items():
        if f in absorbed:
            continue
        passes.append(
            ~F.array_contains(
                F.transform(col.getField(f), _conj_unary(builders)),
                F.lit(False),
            )
        )

    conj: Optional[Column] = None
    for term in constants + passes:
        conj = term if conj is None else conj & term
    return _nullsafe(conj) if conj is not None else F.lit(True)


def _lower_homogeneous_sequence(v: K.HomogeneousSequence, dtype: T.DataType) -> Lowered:
    if not isinstance(dtype, T.ArrayType):
        # non-array column can never be a sequence → constant type violation
        return _lower_type(v, dtype)
    item = lower(v._item_validator, dtype.elementType) if v._item_validator else None

    checks = _type_checks(v, dtype, True)
    if v._min_length is not None:
        n = v._min_length
        checks.append(
            _Check(
                "sequence.min_length",
                lambda col, n=n: F.size(col) < n,
                lambda col, n=n: F.lit("must contain at least %d elements" % n),
            )
        )
    if v._max_length is not None:
        n = v._max_length
        checks.append(
            _Check(
                "sequence.max_length",
                lambda col, n=n: F.size(col) > n,
                lambda col, n=n: F.lit("must contain at most %d elements" % n),
            )
        )
    own = _leaf(dtype, checks)

    if item is None:
        return own

    out_type = T.ArrayType(item.out_type, dtype.containsNull)

    # struct-of-arrays fast path (see _soa_forall): usable only when the
    # item decomposes into per-field checks AND is null-strict (a NULL
    # element must fail — field extraction cannot distinguish it from an
    # all-NULL-fields struct otherwise)
    use_soa = (
        isinstance(dtype.elementType, T.StructType)
        and item.soa_checks is not None
        and item.soa_null_strict
    )

    def predicate(col: Column) -> Column:
        if use_soa:
            return own.predicate(col) & _soa_forall(col, item.soa_checks)
        return own.predicate(col) & _nullsafe(
            F.forall(col, lambda x: item.predicate(x))
        )

    def adapt(col: Column) -> Column:
        return F.transform(col, lambda x: item.adapt(x))

    def violations(col: Column, path: Optional[Column]) -> Column:
        own_v = own.violations(col, path)
        items_v = F.flatten(
            F.transform(
                col, lambda x, i: item.violations(x, _extend_path_index(path, i))
            )
        )
        return F.when(~own.predicate(col), own_v).otherwise(items_v)

    def count(col: Column) -> Column:
        return F.when(~own.predicate(col), F.lit(1)).otherwise(
            F.aggregate(col, F.lit(0), lambda acc, x: acc + item.count(x))
        )

    return Lowered(out_type, predicate, adapt, violations, count=count)


def _lower_heterogeneous_sequence(
    v: K.HeterogeneousSequence, dtype: T.DataType
) -> Lowered:
    if isinstance(dtype, T.StructType):
        return _lower_heterogeneous_struct(v, dtype)
    if not isinstance(dtype, T.ArrayType):
        return _lower_type(v, dtype)
    items = [lower(s, dtype.elementType) for s in v._item_validators]
    n = len(items)
    out_types = {i.out_type.simpleString() for i in items}
    # positions adapting to DIFFERENT types cannot share one array element
    # type — render each adapted element as string (the positional-STRUCT
    # form of this validator keeps exact per-field types; use it when the
    # adapted types matter)
    mixed = len(out_types) > 1
    out_elem = (
        items[0].out_type
        if len(out_types) == 1 and items
        else (T.StringType() if mixed else dtype.elementType)
    )

    checks = _type_checks(v, dtype, True)
    checks.append(
        _Check(
            "arity",
            lambda col: F.size(col) != n,
            lambda col: F.format_string(
                "%d items expected, %%d found" % n, F.size(col)
            ),
        )
    )
    own = _leaf(dtype, checks)

    def predicate(col: Column) -> Column:
        p = own.predicate(col)
        for i, node in enumerate(items):
            p = p & node.predicate(F.get(col, i))
        return _nullsafe(p)

    def adapt(col: Column) -> Column:
        elems = [node.adapt(F.get(col, i)) for i, node in enumerate(items)]
        if mixed:
            elems = [e.cast("string") for e in elems]
        return F.array(*elems)

    def violations(col: Column, path: Optional[Column]) -> Column:
        own_v = own.violations(col, path)
        parts = [
            node.violations(
                F.get(col, i), _extend_path_index(path, F.lit(i))
            )
            for i, node in enumerate(items)
        ]
        rest = F.concat(*parts) if parts else _no_violations()
        return F.when(~own.predicate(col), own_v).otherwise(rest)

    def count(col: Column) -> Column:
        total = F.lit(0)
        for i, node in enumerate(items):
            total = total + node.count(F.get(col, i))
        return F.when(~own.predicate(col), F.lit(1)).otherwise(total)

    return Lowered(
        T.ArrayType(out_elem), predicate, adapt, violations, count=count
    )


def _lower_heterogeneous_struct(
    v: K.HeterogeneousSequence, dtype: T.StructType
) -> Lowered:
    """Fixed-arity tuple as a positional StructType (SURVEY §1.2 mapping).

    Arity is checked at compile time (the struct's field count is static);
    item i validates field i with index context. A NULL struct is the only
    runtime type failure.
    """
    fields = dtype.fields
    n = len(v._item_validators)
    arity_ok = len(fields) == n
    items = (
        [lower(s, f.dataType) for s, f in zip(v._item_validators, fields)]
        if arity_ok
        else []
    )
    type_bare = "must be %s" % v.humanized_name
    arity_bare = "%d items expected, %d found" % (n, len(fields))

    def own_checks(col: Column) -> List[Tuple[Column, Column]]:
        checks = [(col.isNull(), F.lit(type_bare))]
        if not arity_ok:
            checks.append((F.lit(True), F.lit(arity_bare)))
        return checks

    def predicate(col: Column) -> Column:
        p = col.isNotNull() & F.lit(arity_ok)
        for f, node in zip(fields, items):
            p = p & node.predicate(col.getField(f.name))
        return _nullsafe(p)

    def adapt(col: Column) -> Column:
        if not arity_ok:
            return col
        return F.struct(
            *[
                node.adapt(col.getField(f.name)).alias(f.name)
                for f, node in zip(fields, items)
            ]
        )

    def violations(col: Column, path: Optional[Column]) -> Column:
        expr = None
        for cond, bare in own_checks(col):
            vio = _violation(path, "tuple", col, dtype, lambda: bare)
            expr = F.when(_nullsafe(cond), vio) if expr is None else expr.when(
                _nullsafe(cond), vio
            )
        parts = [
            node.violations(
                col.getField(f.name), _extend_path_index(path, F.lit(i))
            )
            for i, (f, node) in enumerate(zip(fields, items))
        ]
        rest = F.concat(*parts) if parts else _no_violations()
        return expr.otherwise(rest) if expr is not None else rest

    out_type = T.StructType(
        [
            T.StructField(f.name, node.out_type, True)
            for f, node in zip(fields, items)
        ]
    ) if arity_ok else dtype

    def count(col: Column) -> Column:
        if not arity_ok:
            return F.lit(1)  # null → type violation; non-null → arity
        total = F.lit(0)
        for f, node in zip(fields, items):
            total = total + node.count(col.getField(f.name))
        return F.when(col.isNull(), F.lit(1)).otherwise(total)

    return Lowered(out_type, predicate, adapt, violations, count=count)


def _lower_mapping(v: K.Mapping, dtype: T.DataType) -> Lowered:
    if not isinstance(dtype, T.MapType):
        return _lower_type(v, dtype)
    kv = lower(v._key_validator, dtype.keyType) if v._key_validator else None
    vv = lower(v._value_validator, dtype.valueType) if v._value_validator else None
    own = _leaf(dtype, _type_checks(v, dtype, True))

    def predicate(col: Column) -> Column:
        p = own.predicate(col)
        if vv:
            p = p & _nullsafe(F.forall(F.map_values(col), lambda x: vv.predicate(x)))
        if kv:
            p = p & _nullsafe(F.forall(F.map_keys(col), lambda x: kv.predicate(x)))
        return _nullsafe(p)

    def adapt(col: Column) -> Column:
        out = col
        if vv:
            out = F.transform_values(out, lambda k, x: vv.adapt(x))
        if kv:
            out = F.transform_keys(out, lambda k, x: kv.adapt(k))
        return out

    def entry_violations(e: Column, path: Optional[Column]) -> Column:
        # kernel order per entry (validators.py:595-603): the value's
        # errors, with the key as context, then the key's, with none
        key = e.getField("key")
        parts = []
        if vv:
            parts.append(
                vv.violations(
                    e.getField("value"),
                    extend_path(
                        path, key.cast("string"), py_repr(key, dtype.keyType)
                    ),
                )
            )
        if kv:
            parts.append(kv.violations(key, path))
        return F.concat(*parts) if len(parts) > 1 else parts[0]

    def violations(col: Column, path: Optional[Column]) -> Column:
        own_v = own.violations(col, path)
        if not (vv or kv):
            return own_v
        rest = F.flatten(
            F.transform(F.map_entries(col), lambda e: entry_violations(e, path))
        )
        return F.when(~own.predicate(col), own_v).otherwise(rest)

    kt = kv.out_type if kv else dtype.keyType
    vt = vv.out_type if vv else dtype.valueType

    def count(col: Column) -> Column:
        total = F.lit(0)
        if vv:
            total = total + F.aggregate(
                F.map_values(col), F.lit(0), lambda acc, x: acc + vv.count(x)
            )
        if kv:
            total = total + F.aggregate(
                F.map_keys(col), F.lit(0), lambda acc, k: acc + kv.count(k)
            )
        return F.when(~own.predicate(col), F.lit(1)).otherwise(total)

    return Lowered(
        T.MapType(kt, vt), predicate, adapt, violations, count=count
    )


def _lower_object(v: K.Object, dtype: T.DataType) -> Lowered:
    """Object over a StructType column; NULL field ≡ absent property."""
    if not isinstance(dtype, T.StructType):
        return _lower_type(v, dtype)

    field_types = {f.name: f.dataType for f in dtype.fields}
    own = _leaf(dtype, _type_checks(v, dtype, True))

    # compile-time resolution of declared properties present in the struct
    declared: List[Tuple[str, Validator, Optional[Lowered]]] = []
    for name, validator in v._property_validators:
        node = lower(validator, field_types[name]) if name in field_types else None
        declared.append((name, validator, node))

    required = list(getattr(v, "_required_order", v._required_keys))

    extras = [f.name for f in dtype.fields if f.name not in v._all_keys]
    additional = v._additional

    # open-schema side channel (SURVEY §1.2): a MapType field named
    # EXTRAS_FIELD carries dynamically-keyed extra properties that a static
    # parquet/Iceberg schema cannot hold as real columns. Its ENTRIES (not
    # the field itself) follow the Object's additional-property policy:
    # reference validators.py:666-668 applied per map entry.
    extras_field: Optional[str] = None
    extras_map_node: Optional[Lowered] = None
    if (
        EXTRAS_FIELD in field_types
        and isinstance(field_types[EXTRAS_FIELD], T.MapType)
        and EXTRAS_FIELD not in v._all_keys
    ):
        extras_field = EXTRAS_FIELD
        extras = [n for n in extras if n != EXTRAS_FIELD]
        if isinstance(additional, Validator):
            extras_map_node = lower(
                additional, field_types[EXTRAS_FIELD].valueType
            )

    extra_node = (
        {name: lower(additional, field_types[name]) for name in extras}
        if isinstance(additional, Validator)
        else {}
    )

    def _missing_arr(col: Column) -> Column:
        entries = []
        for name in required:
            present = (
                col.getField(name).isNotNull()
                if name in field_types
                else F.lit(False)
            )
            entries.append(F.when(~present, F.lit(name)))
        if not entries:
            return F.array().cast(T.ArrayType(T.StringType()))
        return F.filter(F.array(*entries), lambda x: x.isNotNull())

    soa_checks, soa_null_strict = _object_soa_checks(
        v,
        field_types,
        declared,
        required,
        extras,
        additional,
        extras_field,
        extras_map_node,
        extra_node,
    )

    def predicate(col: Column) -> Column:
        # the struct-of-arrays terms applied to this struct's fields: a
        # direct presence conjunction on the hot path (_missing_arr's
        # array+filter+size, which builds the violation message, allocates
        # an array per row/span)
        p = own.predicate(col)
        for fields, build in soa_checks:
            p = p & _nullsafe(build(*[col.getField(f) for f in fields]))
        return p

    def adapt(col: Column) -> Column:
        out_fields = []
        for f in dtype.fields:
            name = f.name
            fld = col.getField(name)
            decl = next((d for d in declared if d[0] == name), None)
            if decl is not None:
                _, validator, node = decl
                expr = node.adapt(fld) if node else fld
                if isinstance(validator, K.Nullable):
                    default = validator.default_object_property
                    if default is not K.Nullable._UNDEFINED:
                        expr = F.when(fld.isNull(), F.lit(default)).otherwise(expr)
                    else:
                        expr = F.when(fld.isNull(), F.lit(None)).otherwise(expr)
                else:
                    expr = F.when(fld.isNull(), F.lit(None)).otherwise(expr)
                if (
                    v._ignore_optional_errors
                    and node is not None
                    and name not in v._required_keys
                ):
                    expr = F.when(
                        fld.isNotNull() & ~node.predicate(fld), F.lit(None)
                    ).otherwise(expr)
                out_fields.append(expr.alias(name))
            elif name == extras_field:
                if additional is K.Object.REMOVE:
                    mt = field_types[extras_field]
                    empty = F.map_from_arrays(
                        F.array().cast(T.ArrayType(mt.keyType, False)),
                        F.array().cast(T.ArrayType(mt.valueType)),
                    )
                    out_fields.append(
                        F.when(fld.isNull(), fld).otherwise(empty).alias(name)
                    )
                elif extras_map_node is not None:
                    out_fields.append(
                        F.transform_values(
                            fld, lambda k, x: extras_map_node.adapt(x)
                        ).alias(name)
                    )
                else:
                    out_fields.append(fld.alias(name))
            elif additional is K.Object.REMOVE:
                out_fields.append(F.lit(None).cast(f.dataType).alias(name))
            elif name in extra_node:
                out_fields.append(extra_node[name].adapt(fld).alias(name))
            else:
                out_fields.append(fld.alias(name))
        return F.struct(*out_fields)

    def violations(col: Column, path: Optional[Column]) -> Column:
        own_v = own.violations(col, path)
        missing = _missing_arr(col)
        missing_v = _violation(
            path,
            "object.required",
            col,
            dtype,
            lambda: F.format_string(
                "missing required properties: %s",
                py_list_repr_of_strings(missing),
            ),
        )
        parts = []
        for name, validator, node in declared:
            if node is None:
                continue
            if v._ignore_optional_errors and name not in v._required_keys:
                continue
            fld = col.getField(name)
            parts.append(
                F.when(fld.isNull(), _no_violations()).otherwise(
                    node.violations(fld, _extend_path_prop(path, name))
                )
            )
        if additional is False and (extras or extras_field):
            arrs = []
            if extras:
                arrs.append(
                    F.filter(
                        F.array(
                            *[
                                F.when(col.getField(n).isNotNull(), F.lit(n))
                                for n in extras
                            ]
                        ),
                        lambda x: x.isNotNull(),
                    )
                )
            if extras_field is not None:
                mfld = col.getField(extras_field)
                arrs.append(
                    F.when(mfld.isNull(), F.array().cast("array<string>"))
                    .otherwise(F.map_keys(mfld).cast("array<string>"))
                )
            present_extras = F.concat(*arrs) if len(arrs) > 1 else arrs[0]
            parts.append(
                F.when(
                    F.size(present_extras) > 0,
                    _violation(
                        path,
                        "object.additional",
                        col,
                        dtype,
                        lambda: F.format_string(
                            "additional properties: %s",
                            py_list_repr_of_strings(present_extras),
                        ),
                    ),
                ).otherwise(_no_violations())
            )
        else:
            if extra_node:
                for name in extras:
                    fld = col.getField(name)
                    parts.append(
                        F.when(fld.isNull(), _no_violations()).otherwise(
                            extra_node[name].violations(
                                fld, _extend_path_prop(path, name)
                            )
                        )
                    )
            if extras_map_node is not None:
                mfld = col.getField(extras_field)
                mt = field_types[extras_field]
                parts.append(
                    F.when(mfld.isNull(), _no_violations()).otherwise(
                        F.flatten(
                            F.transform(
                                F.map_entries(mfld),
                                lambda e: extras_map_node.violations(
                                    e.getField("value"),
                                    extend_path(
                                        path,
                                        e.getField("key").cast("string"),
                                        py_repr(e.getField("key"), mt.keyType),
                                    ),
                                ),
                            )
                        )
                    )
                )
        children = F.concat(*parts) if parts else _no_violations()
        result = F.when(~own.predicate(col), own_v)
        if required:
            result = result.when(F.size(missing) > 0, missing_v)
        return result.otherwise(children)

    def count(col: Column) -> Column:
        total = F.lit(0)
        for name, validator, node in declared:
            if node is None:
                continue
            if v._ignore_optional_errors and name not in v._required_keys:
                continue
            fld = col.getField(name)
            total = total + F.when(fld.isNull(), F.lit(0)).otherwise(
                node.count(fld)
            )
        if additional is False and (extras or extras_field):
            # ONE object.additional violation listing all present extras
            present = F.lit(False)
            for n in extras:
                present = present | col.getField(n).isNotNull()
            if extras_field is not None:
                mfld = col.getField(extras_field)
                present = present | (mfld.isNotNull() & (F.size(mfld) > 0))
            total = total + F.when(present, F.lit(1)).otherwise(F.lit(0))
        else:
            if extra_node:
                for name in extras:
                    fld = col.getField(name)
                    total = total + F.when(fld.isNull(), F.lit(0)).otherwise(
                        extra_node[name].count(fld)
                    )
            if extras_map_node is not None:
                mfld = col.getField(extras_field)
                total = total + F.when(mfld.isNull(), F.lit(0)).otherwise(
                    F.aggregate(
                        F.map_values(mfld),
                        F.lit(0),
                        lambda acc, x: acc + extras_map_node.count(x),
                    )
                )
        result = F.when(~own.predicate(col), F.lit(1))
        if required:
            result = result.when(F.size(_missing_arr(col)) > 0, F.lit(1))
        return result.otherwise(total)

    # output struct type after adaptation
    out_fields = []
    for f in dtype.fields:
        decl = next((d for d in declared if d[0] == f.name), None)
        if decl is not None and decl[2] is not None:
            out_fields.append(T.StructField(f.name, decl[2].out_type, True))
        else:
            out_fields.append(T.StructField(f.name, f.dataType, True))
    out_type = T.StructType(out_fields)

    return Lowered(
        out_type,
        predicate,
        adapt,
        violations,
        soa_checks=soa_checks,
        soa_null_strict=soa_null_strict,
        count=count,
    )


def _object_soa_checks(
    v: K.Object,
    field_types,
    declared,
    required,
    extras,
    additional,
    extras_field,
    extras_map_node,
    extra_node,
) -> Tuple[Optional[List[SoaCheck]], bool]:
    """Per-field decomposition of the Object predicate (see
    ``Lowered.soa_checks``); the predicate is built from these terms,
    each applied to ``col.getField(name)``, where the struct-of-arrays
    form applies it to the FIELD value (lambda variable over the
    extracted field array). A property check that can fail only on NULL
    (``pred_null_only``) gives no term: a NULL property is absent.

    ``soa_null_strict`` holds iff some term is definitely False on a NULL
    element (every field extracts to NULL): a required-presence term, or a
    statically-missing required property (constant False). Objects with no
    required properties are NOT null-strict — an all-optional object with
    all-NULL fields is valid while a NULL element is not, and the two are
    indistinguishable after extraction."""
    terms: List[SoaCheck] = []
    null_strict = False
    for name in required:
        if name in field_types:
            terms.append(((name,), lambda x: x.isNotNull()))
        else:
            # statically missing required property: constant false
            terms.append(((), lambda: F.lit(False)))
        null_strict = True
    for name, validator, node in declared:
        if node is None:
            continue
        if v._ignore_optional_errors and name not in v._required_keys:
            continue
        if node.pred_null_only:
            # fails only on NULL: required → presence term already covers
            # it; optional → NULL field is valid → no check at all
            continue
        terms.append(
            (
                (name,),
                lambda x, node=node: F.when(x.isNull(), F.lit(True)).otherwise(
                    node.predicate(x)
                ),
            )
        )
    if additional is False:
        for name in extras:
            terms.append(((name,), lambda x: x.isNull()))
    elif extra_node:
        for name in extras:
            terms.append(
                (
                    (name,),
                    lambda x, node=extra_node[name]: F.when(
                        x.isNull(), F.lit(True)
                    ).otherwise(node.predicate(x)),
                )
            )
    if extras_field is not None:
        if additional is False:
            terms.append(
                ((extras_field,), lambda m: m.isNull() | (F.size(m) == 0))
            )
        elif extras_map_node is not None:
            terms.append(
                (
                    (extras_field,),
                    lambda m, node=extras_map_node: F.when(
                        m.isNull(), F.lit(True)
                    ).otherwise(
                        F.forall(F.map_values(m), lambda x: node.predicate(x))
                    ),
                )
            )
    return terms, null_strict


# ---------------------------------------------------------------------------
# dispatch
# ---------------------------------------------------------------------------

_LOWERINGS: List[Tuple[type, Callable[[Any, T.DataType], Lowered]]] = [
    (K.Pattern, _lower_pattern),          # before String
    (K.String, _lower_string),
    (K.Range, _lower_range),
    (K.Enum, _lower_enum),
    (K.Nullable, _lower_nullable),
    (K.NonNullable, _lower_nonnullable),
    (K.AnyOf, _lower_anyof),
    (K.AllOf, _lower_allof),
    (K.ChainOf, _lower_chainof),
    (K.Condition, _lower_condition),
    (K.AdaptTo, _lower_adapt_to),
    (K.AdaptBy, _lower_adapt_by),         # after AdaptTo (subclass) — only
                                          # recognized builtins go native
    (K.HomogeneousSequence, _lower_homogeneous_sequence),
    (K.HeterogeneousSequence, _lower_heterogeneous_sequence),
    (K.Mapping, _lower_mapping),
    (K.Object, _lower_object),
    (K.Type, _lower_type),                # catch-all for Type subclasses
]


def lower(validator: Validator, dtype: T.DataType) -> Lowered:
    """Lower a kernel validator against a Spark column type."""
    custom = getattr(validator, "lower_spark", None)
    if custom is not None:
        return custom(dtype)
    for cls, fn in _LOWERINGS:
        if isinstance(validator, cls):
            return fn(validator, dtype)
    return kernel_fallback(
        validator, dtype, out_type=getattr(validator, "spark_out_type", None)
    )
