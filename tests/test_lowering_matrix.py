"""M2 gate: every validator family lowered against typed Spark columns,
compared value-by-value with the kernel (verdicts, adapted values, and
first-violation messages where natively lowered)."""

import json
import re

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

import valideer_spark as V
from valideer_spark.core.errors import ValidationError
from valideer_spark.plans import lower


def run_case(
    spark,
    schema_obj,
    dtype,
    values,
    check_adapted=True,
    check_messages=True,
    to_py=lambda x: x,
    sql=False,
):
    """Validate ``values`` (python cells of Spark type ``dtype``) through
    the lowered plan and assert agreement with the kernel.

    ``sql=True`` takes ``values`` as Spark SQL expressions (e.g.
    ``map('b', 1, 'a', 2)``), and the kernel checks each value as read
    back from Spark through ``to_json``: neither ``createDataFrame`` nor
    ``collect`` keeps a map's entry order, a SQL ``map(...)`` and its
    JSON do (NULL struct fields drop out, as absent properties)."""
    validator = V.parse(schema_obj)
    node = lower(validator, dtype)
    if sql:
        df = spark.sql(
            "SELECT CAST(x AS %s) AS x FROM VALUES %s AS t(x)"
            % (dtype.simpleString(), ", ".join("(%s)" % v for v in values))
        )
    else:
        df = spark.createDataFrame(
            [(v,) for v in values], T.StructType([T.StructField("x", dtype)])
        )
    col = F.col("x")
    out = df.select(
        col.alias("x"),
        node.predicate(col).alias("ok"),
        node.violations(col, F.lit("")).alias("vio"),
        node.adapt(col).alias("adapted"),
        F.to_json(F.struct(col)).alias("json"),
    ).collect()
    assert len(out) == len(values)
    for row, value in zip(out, values):
        pyval = to_py(json.loads(row.json).get("x") if sql else value)
        kernel_ok = validator.is_valid(pyval)
        assert row.ok == kernel_ok, f"verdict mismatch for {pyval!r}"
        assert (len(row.vio) > 0) == (not kernel_ok)
        if kernel_ok and check_adapted:
            kernel_adapted = validator.validate(pyval, adapt=True)
            spark_adapted = row.adapted
            assert spark_adapted == kernel_adapted, (
                f"adapt mismatch for {pyval!r}: {spark_adapted!r} != {kernel_adapted!r}"
            )
        if not kernel_ok and check_messages:
            with pytest.raises(ValidationError) as exc_info:
                validator.validate(pyval, adapt=False)
            kernel_msg = exc_info.value.to_string()
            v = row.vio[0]
            spark_msg = v["message"] + (" (at %s)" % v["path"] if v["path"] else "")
            assert spark_msg == kernel_msg, f"for {pyval!r}"


def test_string_length_bounds(spark):
    run_case(spark, V.String(min_length=2, max_length=4), T.StringType(),
             ["ab", "abcd", "a", "abcde", "", None])


def test_pattern_start_anchor(spark):
    run_case(spark, V.Pattern(r"a*$"), T.StringType(),
             ["aaa", "", "aba", "baa", None])
    run_case(spark, V.Pattern(r"\d{1,4}$"), T.StringType(),
             ["123", "12345", "123a", "a123", None])


def test_pattern_named_groups_lower_natively(spark):
    """(?P<name>…)/(?P=name) rewrite mechanically to Java (?<name>…)/
    \\k<name>, so named-group patterns stay on the rlike native path
    (reference semantics validators.py:432-463); names Java rejects
    (underscores) still fall back to the kernel."""
    from valideer_spark.plans.lowering import translate_python_regex

    assert translate_python_regex(r"(?P<d>\d+)$") == r"(?d)^(?:(?<d>[0-9\p{Nd}]+)$)"
    assert (
        translate_python_regex(r"(?P<d>\d+)-(?P=d)$")
        == r"(?d)^(?:(?<d>[0-9\p{Nd}]+)-\k<d>$)"
    )
    # escaped paren before the group is not a group opener
    assert translate_python_regex(r"\(?P<d") == r"(?d)^(?:\(?P<d)"
    # Java group names exclude underscores / leading digits → fallback
    assert translate_python_regex(r"(?P<my_g>\d)") is None
    assert translate_python_regex(r"(?P<a>\d)(?P=my_g)") is None

    # value-level parity incl. a backref, against the kernel
    run_case(spark, V.Pattern(r"(?P<d>\d+)-(?P=d)$"), T.StringType(),
             ["12-12", "12-13", "x12-12", None], check_messages=True)

    # and the rewritten pattern really runs JVM-side: no Python eval node
    node = lower(V.parse(V.Pattern(r"(?P<d>\d+)$")), T.StringType())
    df = spark.createDataFrame([("123",)], "x string")
    plan = (
        df.select(node.predicate(F.col("x")).alias("ok"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "EvalPython" not in plan
    assert "rlike" in plan.lower()


def test_range_with_inner_schema(spark):
    run_case(spark, V.Range("integer", min_value=1, max_value=10),
             T.LongType(), [1, 10, 0, 11, -5, None])
    # NB: schema-less Range vs None raises TypeError in the reference on
    # py3 (None < 1.5) — undefined behavior, excluded from parity.
    run_case(spark, V.Range(min_value=1.5), T.DoubleType(),
             [2.0, 1.5, 1.0])


def test_enum(spark):
    run_case(spark, V.Enum(["r", "g", "b"]), T.StringType(),
             ["r", "g", "b", "x", "", None])
    run_case(spark, V.Enum([1, 2, 3]), T.LongType(), [1, 3, 0, 4, None])


def _in_list(col_text: str) -> list:
    m = re.search(r"in\(x, ([^)]*)\)", col_text)
    assert m, col_text
    return [v.strip() for v in m.group(1).split(",")]


def test_enum_in_list_is_in_repr_order(spark):
    """The IN-list follows ``repr`` order, as the message does, so the plan
    text does not depend on the process's set iteration order
    (``PYTHONHASHSEED``)."""
    words = ["text", "image", "audio", "video", "table", "figure"]
    pred = lower(V.parse(V.Enum(words)), T.StringType()).predicate(F.col("x"))
    assert _in_list(str(pred)) == [repr(w) for w in sorted(words)]
    # small ints iterate a set in hash (numeric) order, not repr order
    ints = [1, 2, 3, 10, 20, 100]
    pred = lower(V.parse(V.Enum(ints)), T.LongType()).predicate(F.col("x"))
    assert _in_list(str(pred)) == sorted(str(i) for i in ints)


def test_nullable_with_default(spark):
    run_case(spark, V.Nullable("integer", -1), T.LongType(),
             [None, 0, 5])
    run_case(spark, V.Nullable("string"), T.StringType(), [None, "x"])


def test_nonnullable(spark):
    run_case(spark, V.NonNullable("integer"), T.LongType(), [None, 0, 7])
    run_case(spark, "+string", T.StringType(), [None, "", "x"])


def test_anyof_same_type(spark):
    run_case(spark, V.AnyOf(V.Enum(["a"]), V.Pattern(r"b+$")),
             T.StringType(), ["a", "b", "bb", "c", "ab", None])


def _anyof_property_case(spark, alternative, other, inner_type, values, sql=False):
    """``{"+v": AnyOf(alternative, other)}`` over ``struct<v: inner_type>``:
    the any_of message joins each alternative's fail-fast message."""
    dtype = T.StructType([T.StructField("v", inner_type)])
    run_case(
        spark,
        V.Object(required={"v": V.AnyOf(alternative, other)}),
        dtype,
        values,
        sql=sql,
        check_adapted=False,
    )


def test_anyof_object_additional_false(spark):
    inner = T.StructType([T.StructField("a", T.StringType()),
                          T.StructField("z", T.LongType())])
    _anyof_property_case(
        spark, V.Object(required={"a": "string"}, additional=False), "integer",
        inner, [{"v": {"a": "x", "z": 3}}],
    )


def test_anyof_object_ignore_optional_errors(spark):
    inner = T.StructType([T.StructField("a", T.LongType()),
                          T.StructField("b", T.StringType())])
    _anyof_property_case(
        spark,
        V.Object(required={"a": "string"}, optional={"b": "integer"},
                 ignore_optional_errors=True),
        "integer",
        inner,
        [{"v": {"a": 5, "b": "x"}}],
    )


def test_anyof_object_additional_schema(spark):
    inner = T.StructType([T.StructField("a", T.StringType()),
                          T.StructField("z", T.LongType())])
    _anyof_property_case(
        spark, V.Object(required={"a": "string"}, additional="string"),
        "integer", inner, [{"v": {"a": "x", "z": 3}}],
    )


def test_anyof_mapping_entry_order(spark):
    _anyof_property_case(
        spark, V.Mapping(V.Pattern("a+$"), V.Range(min_value=0)), "string",
        T.MapType(T.StringType(), T.LongType()),
        ["named_struct('v', map('bad', 1, 'a', -5))"],
        sql=True,
    )


def test_allof(spark):
    run_case(spark, V.AllOf(V.String(max_length=4), V.Pattern(r"x.*$")),
             T.StringType(), ["x", "xyz", "xyzzy", "abc", None])


def test_chainof_adapt_then_check(spark):
    run_case(spark, V.ChainOf(V.AdaptTo(int), V.Range(min_value=0)),
             T.StringType(), ["12", "0", "-3", "x", None],
             check_messages=False)  # kernel int() msg vs cast covered below


def test_adapt_to_int_from_string(spark):
    run_case(spark, V.AdaptTo(int, traps=(ValueError, TypeError)),
             T.StringType(),
             ["12", "-4", "+7", "12b", "1.2", "", None,
              " 12 ", "1_2", "_1", "1_", "+ 2"],
             check_messages=False)  # whitespace/underscore forms: verdict+
    # adapt parity; the CPython message embeds the raw literal (covered for
    # plain forms above)
    run_case(spark, V.AdaptTo(int, traps=(ValueError, TypeError)),
             T.StringType(), ["12", "12b"])  # message parity on plain forms


def test_adapt_to_int_from_double(spark):
    run_case(spark, V.AdaptTo(int, traps=(ValueError, TypeError)),
             T.DoubleType(), [1.2, -3.9, 0.0, float("nan"), None],
             check_messages=False)  # nan msg text matches CPython; value repr differs


def test_adapt_to_float_from_string(spark):
    run_case(spark, V.AdaptTo(float, traps=(ValueError, TypeError)),
             T.StringType(), ["1.5", "-2", "abc", "", None],
             check_messages=False)  # Spark try_cast accepts a superset msg-wise


def test_homogeneous_sequence(spark):
    run_case(spark, V.HomogeneousSequence("integer", min_length=1, max_length=3),
             T.ArrayType(T.LongType()),
             [[1], [1, 2, 3], [], [1, 2, 3, 4], None, [5, None]])


def test_heterogeneous_sequence_arity(spark):
    # arrays map to python LISTS (the engine convention) — the kernel
    # accepts any Sequence, and list adaptation rebuilds a list
    run_case(spark, V.HeterogeneousSequence("string", "string"),
             T.ArrayType(T.StringType()),
             [["a", "b"], ["a"], [], ["a", "b", "c"], None])


def test_mapping_value_before_key(spark):
    run_case(
        spark,
        V.Mapping("string", V.Range("integer", min_value=1)),
        T.MapType(T.StringType(), T.LongType()),
        [{"a": 1, "b": 2}, {"a": 0}, {}, None],
    )


def test_mapping_violations_in_entry_order(spark):
    """The kernel checks each entry's value, then its key, entry by entry:
    a bad key before a bad value is the first error."""
    run_case(
        spark,
        V.Mapping(V.Pattern("a+$"), V.Range(min_value=0)),
        T.MapType(T.StringType(), T.LongType()),
        ["map('bad', 1, 'a', -5)", "map('a', -5, 'bad', 1)",
         "map('a', 1, 'bad', -5)"],
        sql=True,
    )


def test_object_required_message_shows_map_as_dict(spark):
    """A map inside a value repr renders as Python's dict repr."""
    dtype = T.StructType([
        T.StructField("id", T.StringType()),
        T.StructField("tags", T.MapType(T.StringType(), T.LongType())),
        T.StructField("flag", T.BooleanType()),
    ])
    run_case(
        spark,
        {"+id": "string", "+tags": V.Mapping("string", "integer"),
         "+flag": "boolean"},
        dtype,
        ["named_struct('id', 'a', 'tags', map('k2', 2, 'k1', 1), 'flag', NULL)",
         "named_struct('id', 'b', 'tags', map('k', NULL), 'flag', NULL)",
         "named_struct('id', 'c', 'tags', map(), 'flag', NULL)",
         "named_struct('id', 'd', 'tags', map('k', 1), 'flag', true)"],
        sql=True,
        check_adapted=False,
    )


def test_object_additional_false(spark):
    dtype = T.StructType([
        T.StructField("foo", T.DoubleType()),
        T.StructField("xyz", T.LongType()),
    ])
    run_case(
        spark,
        V.Object(required={"foo": "number"}, additional=False),
        dtype,
        [{"foo": 1.0, "xyz": None}, {"foo": 1.0, "xyz": 2}, {"foo": None, "xyz": None}],
        to_py=lambda d: {k: v for k, v in d.items() if v is not None} if d else d,
        check_adapted=False,
    )


def test_object_remove_additional(spark):
    dtype = T.StructType([
        T.StructField("foo", T.DoubleType()),
        T.StructField("xyz", T.LongType()),
    ])
    validator = V.Object(required={"foo": "number"}, additional=V.Object.REMOVE)
    node = lower(validator, dtype)
    df = spark.createDataFrame([({"foo": 1.0, "xyz": 5},)],
                               T.StructType([T.StructField("x", dtype)]))
    row = df.select(node.adapt(F.col("x")).alias("a")).collect()[0]
    assert row.a.foo == 1.0 and row.a.xyz is None  # stripped


def test_object_nullable_default_fill(spark):
    dtype = T.StructType([
        T.StructField("foo", T.DoubleType()),
        T.StructField("bar", T.BooleanType()),
    ])
    validator = V.parse({"+foo": "number", "?bar": V.Nullable("boolean", False)})
    node = lower(validator, dtype)
    df = spark.createDataFrame([({"foo": -12.0, "bar": None},)],
                               T.StructType([T.StructField("x", dtype)]))
    out = df.select(node.predicate(F.col("x")).alias("ok"),
                    node.adapt(F.col("x")).alias("a")).collect()[0]
    assert out.ok
    assert out.a.bar is False  # missing property filled from Nullable default


def test_object_ignore_optional_errors(spark):
    dtype = T.StructType([
        T.StructField("foo", T.DoubleType()),
        T.StructField("zoo", T.StringType()),
    ])
    validator = V.Object(
        required={"foo": "number"},
        optional={"zoo": V.Pattern(r"\d+$")},
        ignore_optional_errors=True,
    )
    node = lower(validator, dtype)
    df = spark.createDataFrame(
        [({"foo": 1.0, "zoo": "bad!"},), ({"foo": 1.0, "zoo": "42"},)],
        T.StructType([T.StructField("x", dtype)]),
    )
    rows = df.select(node.predicate(F.col("x")).alias("ok"),
                     node.adapt(F.col("x")).alias("a")).collect()
    assert rows[0].ok and rows[0].a.zoo is None   # invalid optional dropped
    assert rows[1].ok and rows[1].a.zoo == "42"


def test_condition_fallback_scalar(spark):
    def is_odd(n):
        return n % 2 == 1

    run_case(spark, V.Condition(is_odd), T.LongType(),
             [1, 3, 6, 0, None], check_adapted=False)


def test_condition_fallback_struct(spark):
    dtype = T.StructType([T.StructField("a", T.LongType()),
                          T.StructField("b", T.LongType())])

    def a_lt_b(d):
        return d["a"] < d["b"]

    run_case(spark, V.Condition(a_lt_b), dtype,
             [{"a": 1, "b": 2}, {"a": 3, "b": 2}, None],
             to_py=lambda d: {k: v for k, v in d.items() if v is not None} if d else d,
             check_adapted=False, check_messages=False)


def test_adaptby_fallback(spark):
    run_case(spark, V.AdaptBy(hex, traps=TypeError), T.LongType(),
             [255, 0, None], check_adapted=False, check_messages=False)
    validator = V.AdaptBy(hex, traps=TypeError)
    validator.spark_out_type = T.StringType()  # fallback adapt output type
    node = lower(validator, T.LongType())
    df = spark.createDataFrame([(255,), (0,)], "x long")
    vals = [r.a for r in df.select(node.adapt(F.col("x")).alias("a")).collect()]
    assert vals == ["0xff", "0x0"]


def test_date_and_datetime_types(spark):
    import datetime as dt

    run_case(spark, "date", T.DateType(),
             [dt.date(2020, 1, 2), None])
    # kernel: datetime IS a date (subclass) → "date" accepts timestamps
    run_case(spark, "date", T.TimestampType(),
             [dt.datetime(2020, 1, 2, 3, 4, 5), None],
             check_messages=False)  # repr of datetime not JVM-rendered
    run_case(spark, "datetime", T.TimestampType(),
             [dt.datetime(2020, 1, 2, 3, 4, 5), None],
             check_messages=False)
    # DateType column can never satisfy "datetime" (date is not datetime)
    run_case(spark, "datetime", T.DateType(),
             [dt.date(2020, 1, 2)], check_messages=False)


def test_anyof_date_datetime_on_timestamp(spark):
    import datetime as dt

    run_case(spark, V.AnyOf("date", "datetime"), T.TimestampType(),
             [dt.datetime(2021, 6, 1, 12, 0, 0), None],
             check_messages=False)


# ---------------------------------------------------------------------------
# round-2 regressions (ADVICE r1)
# ---------------------------------------------------------------------------

def test_enum_type_mismatch_on_string_column(spark):
    """Enum([1,2]) on a string column: the kernel rejects '1' (1 != '1');
    the naive isin lowering would ANSI-crash on 'x' and accept '1'."""
    run_case(spark, V.Enum([1, 2]), T.StringType(),
             ["1", "x", "", None], check_messages=False)
    # mixed enum: only the string values can match a string column
    run_case(spark, V.Enum(["a", 1]), T.StringType(),
             ["a", "1", "b", None], check_messages=False)


def test_enum_numeric_cross_type(spark):
    # Python: 1 in {1.0} and True == 1 → numeric widening must match
    run_case(spark, V.Enum([1.0, 2.0]), T.LongType(),
             [1, 2, 3, None], check_messages=False)
    run_case(spark, V.Enum([True]), T.LongType(),
             [1, 0, 2, None], check_messages=False)
    run_case(spark, V.Enum([1]), T.BooleanType(),
             [True, False, None], check_messages=False)


def test_bare_range_rejects_null_elements(spark):
    """A bounded bare Range never accepts None (kernel raises TypeError);
    NULL array elements must be reported invalid, not pass silently."""
    from valideer_spark.plans import compile_plan

    schema_t = T.StructType([T.StructField("xs", T.ArrayType(T.IntegerType()))])
    df = spark.createDataFrame([([1, 2],), ([1, None],), ([-1],)], schema_t)
    plan = compile_plan({"+xs": V.HomogeneousSequence(V.Range(min_value=0))}, df)
    rows = {tuple(r["xs"]): r for r in plan.check(df, adapt=False).collect()}
    assert rows[(1, 2)]["_valid"]
    assert not rows[(1, None)]["_valid"]
    assert rows[(1, None)]["_violations"][0]["path"] == "xs[1]"
    assert not rows[(-1,)]["_valid"]


def test_regex_screen_python_only_constructs(spark):
    """Conditional groups and Python-only inline flags must take the
    kernel-fallback path, not throw PatternSyntaxException mid-job."""
    from valideer_spark.plans.lowering import translate_python_regex

    assert translate_python_regex(r"(?(1)a|b)") is None
    assert translate_python_regex(r"(?a)\w+$") is None
    assert translate_python_regex(r"(?u)x") is None
    assert translate_python_regex(r"(?i-u:x)") is None
    # still-translatable patterns keep the native path
    assert translate_python_regex(r"(?i)abc$") is not None
    assert translate_python_regex(r"a(?:b)c") is not None
    # end-to-end: conditional-group pattern validates via the kernel
    run_case(spark, V.Pattern(r"(a)?(?(1)b|c)$"), T.StringType(),
             ["ab", "c", "ac", None], check_messages=True)
    # flags given to re.compile are not in the pattern text: kernel too
    run_case(spark, V.Pattern(re.compile(r"ab$", re.I)), T.StringType(),
             ["ab", "AB", "ac", None], check_messages=True)


def test_simhash_small_bits_no_sign_smear(spark):
    """bits<64 simhash stays within [0, 2^bits): the old -(1<<j) literal
    sign-extended through bit 63 and inflated hamming distances."""
    from valideer_spark.operators.dedup import simhash

    df = spark.createDataFrame(
        [(1, "hello world foo"), (2, "completely different text here")],
        ["doc_id", "text"],
    )
    for r in simhash(df, bits=16).collect():
        assert 0 <= r["simhash"] < (1 << 16), hex(r["simhash"])


def test_adaptby_native_builtins(spark):
    """AdaptBy(hex/int/float/str) lowers to native expressions (SURVEY
    §2.2) — values match the kernel and no Python eval node appears."""
    run_case(spark, V.AdaptBy(hex, traps=TypeError), T.LongType(),
             [255, 0, -255, None], check_messages=False)
    run_case(spark, V.AdaptBy(int), T.StringType(),
             ["12", "abc", None], check_messages=False)
    run_case(spark, V.AdaptBy(float), T.StringType(),
             ["1.5", "x", None], check_messages=False)
    # no None probe for str: kernel str(None) == 'None', but the engine's
    # NULL ≡ absent convention keeps NULL as NULL (engine-wide, NOTES)
    run_case(spark, V.AdaptBy(str), T.LongType(), [7],
             check_messages=False)

    node = lower(V.parse(V.AdaptBy(hex)), T.LongType())
    df = spark.createDataFrame([(255,)], "x long")
    plan = (
        df.select(node.adapt(F.col("x")).alias("a"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "EvalPython" not in plan


def test_adaptby_unrecognized_stays_fallback(spark):
    """Arbitrary callables still round-trip through the kernel."""
    validator = V.AdaptBy(lambda x: x * 2, traps=TypeError)
    validator.spark_out_type = T.LongType()
    node = lower(validator, T.LongType())
    df = spark.createDataFrame([(21,)], "x long")
    assert df.select(node.adapt(F.col("x")).alias("a")).first()["a"] == 42


def test_object_open_extras_map_side_channel(spark):
    """Object(additional=...) over the _extras MapType side channel
    (SURVEY §1.2): forbid/remove/schema/allow policies apply per entry."""
    from valideer_spark.plans import compile_plan

    st = T.StructType([
        T.StructField("id", T.StringType()),
        T.StructField("_extras", T.MapType(T.StringType(), T.LongType())),
    ])
    df = spark.createDataFrame(
        [("a", {"x": 1, "y": 2}), ("b", {}), ("c", None), ("d", {"neg": -1})], st
    )

    def run(policy):
        plan = compile_plan(V.Object(required={"id": "string"}, additional=policy), df)
        return {r["id"]: r for r in plan.check(df, adapt=True).collect()}

    forbid = run(False)
    assert not forbid["a"]["_valid"]
    v = forbid["a"]["_violations"][0]
    assert v["constraint"] == "object.additional"
    assert "additional properties: ['x', 'y']" in v["message"]
    assert forbid["b"]["_valid"] and forbid["c"]["_valid"]

    removed = run(V.Object.REMOVE)
    assert all(r["_valid"] for r in removed.values())
    assert dict(removed["a"]["_adapted"]["_extras"]) == {}
    assert removed["c"]["_adapted"]["_extras"] is None

    schema = run(V.Range("integer", min_value=0))
    assert schema["a"]["_valid"]
    assert dict(schema["a"]["_adapted"]["_extras"]) == {"x": 1, "y": 2}
    assert not schema["d"]["_valid"]
    v = schema["d"]["_violations"][0]
    assert (v["path"], v["constraint"]) == ("neg", "range.min")

    allow = run(True)
    assert all(r["_valid"] for r in allow.values())
    assert dict(allow["d"]["_adapted"]["_extras"]) == {"neg": -1}


def test_anyof_mixed_out_types_native_predicate(spark):
    """AnyOf children adapting to different types: predicate/violations
    stay native (no Python node); only adapt uses the kernel."""
    v = V.AnyOf(V.AdaptTo(int, traps=(ValueError, TypeError)), V.Enum(["N/A"]))
    run_case(spark, v, T.StringType(), ["12", "N/A", "x", None],
             check_adapted=False, check_messages=False)
    node = lower(V.parse(v), T.StringType())
    df = spark.createDataFrame([("12",)], "x string")
    plan = (
        df.filter(node.predicate(F.col("x")))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "EvalPython" not in plan


def test_heterogeneous_mixed_adapt_types(spark):
    """Tuple positions adapting to different types: predicate/violations
    native; adapted elements render as strings (array form — the struct
    form keeps exact per-field types)."""
    v = V.HeterogeneousSequence(V.AdaptTo(int, traps=(ValueError, TypeError)),
                                "string")
    run_case(spark, v, T.ArrayType(T.StringType()),
             [["12", "x"], ["nope", "y"], ["1"], None],
             check_adapted=False, check_messages=False)
    node = lower(V.parse(v), T.ArrayType(T.StringType()))
    df = spark.createDataFrame([(["12", "x"],)], "x array<string>")
    row = df.select(node.adapt(F.col("x")).alias("a")).first()
    assert row["a"] == ["12", "x"]  # int 12 rendered into the string array


def test_enum_nan_is_null_convention(spark):
    """Engine convention: NaN ≡ NULL end to end (Arrow/pandas encode null
    as NaN), so Enum NaN values are unmatchable and NaN cells are treated
    as missing — a documented divergence from the kernel's set identity
    shortcut (nan in {nan} is True)."""
    from valideer_spark.plans import lower

    nan = float("nan")
    node = lower(V.parse(V.Enum([nan, 1.0])), T.DoubleType())
    df = spark.createDataFrame(
        [(nan,), (1.0,), (2.0,), (None,)],
        T.StructType([T.StructField("x", T.DoubleType())]),
    )
    got = [r["ok"] for r in df.select(node.predicate(F.col("x")).alias("ok")).collect()]
    assert got == [False, True, False, False]  # NaN handled like NULL


def test_named_group_rewrite_is_character_class_aware(spark):
    """Inside an unescaped [...] every char is a Python literal, so a
    literal '(?P<' sequence there must NOT be rewritten to the Java
    group spelling (the rewrite would drop the literal 'P' from the
    class on the native rlike path). The scanner tracks class state,
    including the ']' -as-first-member literal rule."""
    from valideer_spark.plans.lowering import translate_python_regex

    # ADVICE case: the whole "(?P<" run is literal class members. The
    # pattern contains no group construct, so translate passes it through
    # (Java classes treat ( ? < > as literals identically).
    assert translate_python_regex(r"[a(?P<b>]") == r"(?d)^(?:[a(?P<b>])"
    # ...and a REAL group after the class still rewrites
    assert (
        translate_python_regex(r"[a(?P<b>](?P<d>\d)")
        == r"(?d)^(?:[a(?P<b>](?<d>[0-9\p{Nd}]))"
    )
    # negated class
    assert translate_python_regex(r"[^(?P=x]") == r"(?d)^(?:[^(?P=x])"
    # escaped '[' does NOT open a class: group after it rewrites
    assert translate_python_regex(r"\[(?P<d>\d)") == r"(?d)^(?:\[(?<d>[0-9\p{Nd}]))"

    # value-level parity on the ADVICE pattern: 'P' and '<' must match
    run_case(
        spark,
        V.Pattern(r"[a(?P<b>]"),
        T.StringType(),
        ["a", "P", "<", ">", "b", "z", "?", None],
        check_messages=True,
    )
