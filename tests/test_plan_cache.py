"""The process-wide plan cache behind ``compile_plan``: an equal schema
over an equal row type reuses one lowered plan, a schema or row type that
lowers differently never does, and the cache stays bounded."""

import re
import sys
import threading
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import types as T

from valideer_spark import core as V
from valideer_spark.flagship import doc_schema
from valideer_spark.plans import compile_plan, frame, lowering
from valideer_spark.sources import DOCS_SCHEMA, synth_docs
from valideer_spark.sources.typed import typed_rows, typed_schema

pytestmark = pytest.mark.usefixtures("_empty_plan_cache")


def _struct(*fields):
    return T.StructType([T.StructField(n, t) for n, t in fields])


STR = _struct(("s", T.StringType()))
NUM = _struct(("n", T.LongType()))
TWO = _struct(("a", T.StringType()), ("b", T.StringType()))


def _open_and_closed():
    open_ = V.parse({"a": "string"})
    with V.parsing(additional_properties=False):
        closed = V.parse({"a": "string"})
    return open_, closed


def _typed_pair():
    schema = V.parse({"+a": "integer"})
    return (
        (schema, _struct(("a", T.LongType())), [(5,)], [True]),
        (schema, _struct(("a", T.StringType())), [("5",)], [False]),
    )


def _contains_null_pair():
    schema = V.parse({"+a": ["integer"]})
    return (
        (schema, _struct(("a", T.ArrayType(T.LongType(), False))), [([1, 2],)], [True]),
        (schema, _struct(("a", T.ArrayType(T.LongType(), True))), [([1, None],)], [False]),
    )


#: pairs that differ in one lowering input: (schema, row type, rows,
#: expected verdicts) for each side
PAIRS = {
    "pattern_text": lambda: (
        ({"+s": V.Pattern(r"a+$")}, STR, [("aa",), ("bb",)], [True, False]),
        ({"+s": V.Pattern(r"b+$")}, STR, [("aa",), ("bb",)], [False, True]),
    ),
    "pattern_flags": lambda: (
        ({"+s": V.Pattern(re.compile("a+$"))}, STR, [("AA",)], [False]),
        ({"+s": V.Pattern(re.compile("a+$", re.I))}, STR, [("AA",)], [True]),
    ),
    "enum_values": lambda: (
        ({"+s": V.Enum(["a", "b"])}, STR, [("b",), ("c",)], [True, False]),
        ({"+s": V.Enum(["a", "c"])}, STR, [("b",), ("c",)], [False, True]),
    ),
    "range_bounds": lambda: (
        ({"+n": V.Range("integer", min_value=0)}, NUM, [(3,)], [True]),
        ({"+n": V.Range("integer", min_value=5)}, NUM, [(3,)], [False]),
    ),
    "condition_callables": lambda: (
        # lambdas: a kernel-fallback UDF pickles them by value
        ({"+n": V.Condition(lambda x: x > 0)}, NUM, [(3,)], [True]),
        ({"+n": V.Condition(lambda x: x < 0)}, NUM, [(3,)], [False]),
    ),
    "additional_properties": lambda: tuple(
        (schema, TWO, [("x", "y")], [expected])
        for schema, expected in zip(_open_and_closed(), (True, False))
    ),
    "field_type": _typed_pair,
    "contains_null": _contains_null_pair,
}


def _verdicts(spark, plan, struct, rows):
    df = spark.createDataFrame(rows, struct)
    return [r[0] for r in df.select(plan.is_valid_col(df)).collect()]


@pytest.mark.parametrize("name", sorted(PAIRS))
def test_one_differing_lowering_input_gets_its_own_plan(spark, name):
    sides = PAIRS[name]()
    plans = [compile_plan(schema, struct) for schema, struct, _, _ in sides]
    assert plans[0] is not plans[1]
    assert compile_plan(sides[0][0], sides[0][1]) is plans[0]
    for plan, (_, struct, rows, expected) in zip(plans, sides):
        assert _verdicts(spark, plan, struct, rows) == expected
        # the adapted type follows the row type (containsNull included)
        df = spark.createDataFrame([], struct)
        adapted = df.select(plan.adapted_col(df).alias("d")).schema["d"].dataType
        assert adapted == struct


def test_required_key_order_reaches_the_message(spark):
    """Object lists missing required keys in declaration order, so two
    orders are two plans."""
    other = _struct(("c", T.StringType()))
    df = spark.createDataFrame([("x",)], other)
    messages = []
    for schema in ({"+a": "string", "+b": "string"}, {"+b": "string", "+a": "string"}):
        plan = compile_plan(schema, other)
        messages.append(df.select(plan.violations_col(df)).first()[0][0]["message"])
    assert "['a', 'b']" in messages[0] and "['b', 'a']" in messages[1], messages


def test_enum_value_order_reaches_no_lowering_input():
    """Enum keeps its values as a set, and both its message and its IN-list
    sort them by repr: two orders lower to one plan."""
    a, b = V.Enum(["a", "b"]), V.Enum(["b", "a"])
    assert a.humanized_name == b.humanized_name
    assert compile_plan({"+s": a}, STR) is compile_plan({"+s": b}, STR)


def test_independent_schema_builds_share_one_plan(spark):
    assert compile_plan(doc_schema(), DOCS_SCHEMA) is compile_plan(
        doc_schema(), DOCS_SCHEMA
    )
    typed = typed_rows(spark, 1).schema
    assert compile_plan(typed_schema(), typed) is compile_plan(typed_schema(), typed)


def _count_reprs(monkeypatch) -> list:
    calls = []
    py_repr = lowering.py_repr

    def counting(col, dtype):
        calls.append(dtype)
        return py_repr(col, dtype)

    monkeypatch.setattr(lowering, "py_repr", counting)
    return calls


def test_fresh_engine_reuses_the_lowered_trees(spark, monkeypatch):
    from valideer_spark.engine import ValidationEngine

    docs = synth_docs(spark, 20)
    first = ValidationEngine(doc_schema()).check(docs)
    first.violation_rows()
    first.unpersist()

    reprs = _count_reprs(monkeypatch)
    predicates = []
    monkeypatch.setattr(first.plan.lowered, "predicate", predicates.append)
    report = ValidationEngine(doc_schema()).check(docs)
    report.violation_rows()
    report.unpersist()
    assert report.plan is first.plan
    assert reprs == [] and predicates == []


def test_racing_first_compiles_get_one_plan(spark):
    barrier = threading.Barrier(8, timeout=60)

    def compile_one():
        barrier.wait()
        return compile_plan(doc_schema(), DOCS_SCHEMA)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(8) as pool:
            futures = [pool.submit(compile_one) for _ in range(8)]
            plans = [f.result(timeout=120) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    assert len({id(p) for p in plans}) == 1
    assert len(frame._plans) == 1


def test_oldest_plan_is_lowered_again_past_the_bound(spark, monkeypatch):
    df = spark.createDataFrame([], DOCS_SCHEMA)
    bound = frame._PLAN_CACHE_SIZE
    offsets = iter(range(10**6))

    def compile_others(n):
        for _ in range(n):
            compile_plan({"+n": V.Range("integer", min_value=next(offsets))}, NUM)

    flagship = compile_plan(doc_schema(), DOCS_SCHEMA)
    flagship.violations_col(df)
    compile_others(bound - 1)
    # least recently used, not first in: a hit keeps the flagship plan
    assert compile_plan(doc_schema(), DOCS_SCHEMA) is flagship
    compile_others(bound - 1)
    assert compile_plan(doc_schema(), DOCS_SCHEMA) is flagship
    compile_others(bound)
    assert len(frame._plans) == bound

    reprs = _count_reprs(monkeypatch)
    again = compile_plan(doc_schema(), DOCS_SCHEMA)
    again.violations_col(df)
    assert again is not flagship and len(reprs) > 0


def _optimised_text(df, plan) -> str:
    """The optimised plan of the verdict and violation trees, with lambda
    variable names and expression ids, which each analysis numbers anew,
    normalised."""
    out = df.select(plan.is_valid_col(df), plan.violations_col(df))
    text = out._jdf.queryExecution().optimizedPlan().toString()
    return re.sub(r"#\d+L?\b", "#", re.sub(r"\b([a-z])_\d+\b", r"\1", text))


@pytest.mark.parametrize("which", ["flagship", "typed"])
def test_cached_trees_plan_like_a_rebuild(spark, which):
    if which == "flagship":
        schema, df = doc_schema, synth_docs(spark, 20)
    else:
        schema, df = typed_schema, typed_rows(spark, 20)
    first = compile_plan(schema(), df)
    _optimised_text(df, first)
    built = dict(first._columns)
    # the hit reads the trees the first compile built, not new ones
    cached = compile_plan(schema(), df)
    hit = _optimised_text(df, cached)
    assert cached is first and cached._columns.keys() == built.keys()
    assert all(cached._columns[k] is col for k, col in built.items())
    with frame._plans_lock:
        frame._plans.clear()
    assert _optimised_text(df, compile_plan(schema(), df)) == hit
