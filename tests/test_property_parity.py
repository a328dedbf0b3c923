"""Property-based Spark/kernel agreement: hypothesis-generated values
through representative lowered schemas, verdicts + adapted values must
match the kernel exactly. One Spark job per schema (all generated values
batched into a single DataFrame) keeps this fast."""

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

import valideer_spark as V
from valideer_spark.plans import lower

SCHEMAS = [
    ("string_bounds", V.String(min_length=2, max_length=10), T.StringType()),
    ("pattern", V.Pattern(r"[a-z]{1,3}\d*$"), T.StringType()),
    ("enum", V.Enum(["a", "b", "c"]), T.StringType()),
    ("range", V.Range("integer", -5, 5), T.LongType()),
    ("nullable_default", V.Nullable("integer", 7), T.LongType()),
    ("anyof", V.AnyOf(V.Enum(["x"]), V.Pattern(r"y+$")), T.StringType()),
    ("adapt_int", V.AdaptTo(int, traps=(ValueError, TypeError)), T.StringType()),
    (
        "seq",
        V.HomogeneousSequence("integer", min_length=1, max_length=4),
        T.ArrayType(T.LongType()),
    ),
]

STRATEGIES = {
    T.StringType().simpleString(): st.one_of(
        st.none(),
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=126),
            max_size=12,
        ),
    ),
    T.LongType().simpleString(): st.one_of(
        st.none(), st.integers(min_value=-(2**31), max_value=2**31)
    ),
    T.ArrayType(T.LongType()).simpleString(): st.one_of(
        st.none(),
        st.lists(
            st.one_of(st.none(), st.integers(min_value=-100, max_value=100)),
            max_size=5,
        ),
    ),
}


@pytest.mark.parametrize("name,validator,dtype", SCHEMAS, ids=[s[0] for s in SCHEMAS])
def test_property_parity(spark, name, validator, dtype):
    strategy = STRATEGIES[dtype.simpleString()]
    samples = []

    @settings(max_examples=60, deadline=None, database=None)
    @given(strategy)
    def collect(value):
        samples.append(value)

    collect()
    node = lower(validator, dtype)
    df = spark.createDataFrame(
        [(v,) for v in samples], T.StructType([T.StructField("x", dtype)])
    )
    rows = df.select(
        F.col("x"),
        node.predicate(F.col("x")).alias("ok"),
        node.adapt(F.col("x")).alias("adapted"),
    ).collect()
    for row, value in zip(rows, samples):
        expected = validator.is_valid(value)
        assert row.ok == expected, f"{name}: verdict mismatch for {value!r}"
        if expected:
            kernel_adapted = validator.validate(value, adapt=True)
            assert row.adapted == kernel_adapted, (
                f"{name}: adapt mismatch for {value!r}"
            )


def test_property_parity_struct_sequence_soa(spark):
    """Randomized array<struct> documents through a schema that takes the
    struct-of-arrays fast path (required + optional + enum + range +
    pattern + a 2-field ColumnCondition): Spark verdict == kernel verdict
    and the native violation counter == size(violations), cell for cell.
    """
    from valideer_spark.functions import ColumnCondition

    cond = ColumnCondition(
        lambda s: (s.get("c") is not None) == (s["b"] == "t"),
        lambda col: col.getField("c").isNotNull()
        == (col.getField("b") == F.lit("t")),
        name="c_iff_t",
        soa_fields=("b", "c"),
        soa_predicate=lambda b, c: c.isNotNull() == (b == F.lit("t")),
    )
    validator = V.HomogeneousSequence(
        V.AllOf(
            V.Object(
                required={"a": V.Range("integer", 0, 50), "b": V.Enum(["t", "u"])},
                optional={"c": V.Nullable(V.Pattern(r"p\d+$"))},
            ),
            cond,
        ),
        min_length=1,
    )
    dtype = T.ArrayType(
        T.StructType(
            [
                T.StructField("a", T.LongType()),
                T.StructField("b", T.StringType()),
                T.StructField("c", T.StringType()),
            ]
        )
    )
    node = lower(validator, dtype)
    item_node = lower(validator._item_validator, dtype.elementType)
    assert item_node.soa_checks is not None and item_node.soa_null_strict

    elem = st.one_of(
        st.none(),
        st.tuples(
            st.one_of(st.none(), st.integers(min_value=-5, max_value=60)),
            st.one_of(st.none(), st.sampled_from(["t", "u", "zz"])),
            st.one_of(st.none(), st.sampled_from(["p1", "p22", "px", ""])),
        ),
    )
    strategy = st.one_of(st.none(), st.lists(elem, max_size=4))
    samples = []

    @settings(max_examples=120, deadline=None, database=None)
    @given(strategy)
    def collect(value):
        samples.append(value)

    collect()
    df = spark.createDataFrame(
        [(v,) for v in samples], T.StructType([T.StructField("x", dtype)])
    )
    rows = df.select(
        node.predicate(F.col("x")).alias("ok"),
        F.size(node.violations(F.col("x"), F.lit(""))).alias("n_vio"),
        node.count(F.col("x")).alias("n_cnt"),
    ).collect()
    for row, value in zip(rows, samples):
        as_py = (
            None
            if value is None
            else [
                None
                if e is None
                else {k: x for k, x in zip(("a", "b", "c"), e) if x is not None}
                for e in value
            ]
        )
        expected = validator.is_valid(as_py)
        assert row.ok == expected, f"verdict mismatch for {as_py!r}"
        assert row.n_cnt == row.n_vio, f"count mismatch for {as_py!r}"
        assert (row.n_vio == 0) == expected
