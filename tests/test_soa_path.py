"""Struct-of-arrays sequence fast path (plans/lowering.py::_soa_forall).

Covers the decomposition's edge cases: a NULL element must fail (required
presence term), an all-optional object must NOT take the SoA path (a NULL
element and an all-NULL-fields struct are indistinguishable after field
extraction), and the flagship verdict plan must contain no per-element
struct access inside a lambda (the measured interpreted-HOF ceiling —
BENCH.md / tools/soa_experiment.py).
"""

import re

from pyspark.sql import functions as F
from pyspark.sql import types as T

import valideer_spark as V
from valideer_spark.plans import lower

PAIR = T.StructType(
    [T.StructField("a", T.IntegerType()), T.StructField("b", T.StringType())]
)
SEQ = T.ArrayType(PAIR)
CELL = T.StructType([T.StructField("x", SEQ)])


def _verdicts(spark, node, values):
    df = spark.createDataFrame([(v,) for v in values], CELL)
    rows = df.select(node.predicate(F.col("x")).alias("ok")).collect()
    return [r.ok for r in rows]


def test_soa_flags_required_vs_all_optional():
    node = lower(V.parse({"+a": "integer", "b": "string"}), PAIR)
    assert node.soa_checks is not None
    assert node.soa_null_strict

    node_opt = lower(V.parse({"a": "integer", "b": "string"}), PAIR)
    assert node_opt.soa_checks is not None
    assert not node_opt.soa_null_strict  # null element undetectable in SoA


def test_soa_sequence_null_semantics(spark):
    schema = V.parse(
        [{"+a": V.Range("integer", min_value=0), "b": V.String(min_length=2)}]
    )
    node = lower(schema, SEQ)
    values = [
        [(1, "xy")],        # valid
        [None],             # null element → Object type failure
        [(None, "xy")],     # required a missing
        [(1, None)],        # optional b absent → valid
        [(1, "x")],         # b too short
        [(-1, "xy")],       # range.min
        [],                 # empty sequence, no min_length → valid
        None,               # null sequence → type failure
        [(1, "xy"), (None, None)],  # one bad element fails the doc
    ]
    expected = [True, False, False, True, False, False, True, False, False]
    assert _verdicts(spark, node, values) == expected
    # kernel agreement on the same cells (null field ≡ absent property)
    as_py = [
        None
        if v is None
        else [
            None
            if e is None
            else {k: x for k, x in zip(("a", "b"), e) if x is not None}
            for e in v
        ]
        for v in values
    ]
    assert [schema.is_valid(p) for p in as_py] == expected


def test_all_optional_sequence_falls_back_to_aos(spark):
    schema = V.parse([{"a": V.Range("integer", min_value=0)}])
    node = lower(schema, SEQ)
    # [None] has a null element: only the array-of-structs path can see it
    assert _verdicts(
        spark, node, [[(1, "ignored")], [None], [(None, None)], [(-1, None)]]
    ) == [True, False, True, False]


def test_flagship_verdict_plan_has_no_lambda_struct_access(spark):
    from valideer_spark.flagship import doc_schema
    from valideer_spark.plans import compile_plan
    from valideer_spark.sources import synth_docs

    docs = synth_docs(spark, 50)
    plan = compile_plan(doc_schema(), docs)
    expr = (
        docs.select(plan.is_valid_col(docs).alias("ok"))
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "zip_with" in expr  # the 2-field conditions lowered to SoA
    hits = re.findall(
        r"lambda [a-z]+_\d+#\d+\.(?:kind|text|media_ref|offset)", expr
    )
    assert hits == [], f"per-element struct access on the hot path: {hits[:3]}"


def test_soa_verdicts_match_kernel_on_randomized_docs(spark):
    """Cross-check the struct-of-arrays sequence predicate against the row
    kernel on the seeded flagship corpus (bad enums, ranges and patterns,
    empty span arrays, text spans without text) — verdicts must be
    identical doc for doc. The array-of-structs branch keeps its own cover
    in the all-optional tests above."""
    from valideer_spark.flagship import doc_schema
    from valideer_spark.plans import compile_plan
    from valideer_spark.sources import synth_docs

    schema = doc_schema()
    docs = synth_docs(spark, 4000)
    plan = compile_plan(schema, docs)
    verdicts = docs.select("doc_id", "spans", plan.is_valid_col(docs).alias("ok"))
    assert "zip_with(" in verdicts._jdf.queryExecution().optimizedPlan().toString()
    rows = verdicts.collect()
    assert len(rows) == 4000
    mismatched = []
    for row in rows:
        spans = [
            {k: v for k, v in s.asDict().items() if v is not None}
            for s in row.spans
        ]
        if schema.is_valid({"doc_id": row.doc_id, "spans": spans}) != row.ok:
            mismatched.append(row.doc_id)
    assert mismatched == [], mismatched[:5]
    assert 0 < sum(not r.ok for r in rows) < len(rows)
