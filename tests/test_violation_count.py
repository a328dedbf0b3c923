"""`_n_violations` (the native violation counter, plans/lowering.py
``Lowered.count``) must equal ``size(_violations)`` on EVERY row — the
verdict aggregations read the counter so the repr-heavy violation structs
never evaluate on that path, which is only sound if the two always agree.

Exercised over the three synthetic corpora that together cover every
lowering: the flagship docs (Object/sequence-of-struct/Enum/Range/Pattern/
conditions, null spans, empty sequences), the typed validator matrix
(Mapping, heterogeneous tuples, AnyOf/AllOf/ChainOf, AdaptTo, Nullable,
String bounds), and the open-extras map side channel.

The codes-only violation array (``FramePlan.violation_codes_col``, what
the metrics explode) must carry the same constraints in the same order as
the full one on every row, over the same corpora plus the kernel-fallback
nodes.
"""

import pytest

from pyspark.sql import functions as F

from valideer_spark.engine import ValidationEngine


def _assert_counts_match(report):
    df = report.annotated
    mismatched = df.filter(
        F.size("_violations") != F.col("_n_violations")
    ).count()
    assert mismatched == 0
    # and the counter is 0 exactly on valid rows
    assert df.filter(F.col("_valid") & (F.col("_n_violations") != 0)).count() == 0
    assert df.filter(~F.col("_valid") & (F.col("_n_violations") == 0)).count() == 0


def _flagship_report(spark):
    from valideer_spark.flagship import doc_schema
    from valideer_spark.sources import synth_docs

    return ValidationEngine(doc_schema()).check(synth_docs(spark, 5000))


def _typed_report(spark):
    from valideer_spark.sources.typed import typed_rows, typed_schema

    return ValidationEngine(typed_schema(), id_col="rec_id").check(
        typed_rows(spark, 3000)
    )


def _open_extras_reports(spark):
    from valideer_spark import core as V

    df = spark.range(500).select(
        F.format_string("x-%06d", F.col("id")).alias("id"),
        F.when(
            F.col("id") % 13 == 0,
            F.create_map(F.lit("bad"), F.lit(-2).cast("long")),
        )
        .when(
            F.col("id") % 3 == 0,
            F.create_map(
                F.lit("a"), (F.col("id") % 7).cast("long"),
                F.lit("b"), F.lit(1).cast("long"),
            ),
        )
        .otherwise(
            F.map_from_arrays(
                F.array().cast("array<string>"), F.array().cast("array<long>")
            )
        )
        .alias("_extras"),
    )
    schema = V.Object(
        required={"id": V.Pattern(r"x-\d{6}$")},
        additional=V.Range("integer", min_value=0),
    )
    # additional=False: the extras map present → ONE object.additional
    # violation regardless of entry count
    closed = V.Object(required={"id": V.Pattern(r"x-\d{6}$")}, additional=False)
    return [
        ValidationEngine(schema, id_col="id").check(df),
        ValidationEngine(closed, id_col="id").check(df),
    ]


def _kernel_fallback_report(spark):
    """Scalar and nested kernel fallbacks (Python-callable conditions, a
    pattern the regex translator rejects), alone and beside native
    nodes."""
    from valideer_spark import core as V

    df = spark.range(400).select(
        F.col("id").alias("n"),
        F.when(F.col("id") % 5 == 0, F.lit("ac"))
        .when(F.col("id") % 7 == 0, F.lit(None))
        .otherwise(F.lit("ab"))
        .alias("s"),
        F.when(
            F.col("id") % 3 == 0, F.array(F.col("id"), F.col("id") + 1)
        ).otherwise(F.array(F.col("id"))).alias("xs"),
    )
    schema = V.Object(
        required={
            "n": V.AllOf(V.Condition(lambda x: x % 4 != 0), V.Range(max_value=300)),
            "s": V.Pattern(r"(a)?(?(1)b|c)$"),
            "xs": V.Condition(lambda xs: len(xs) == 1),
        }
    )
    return ValidationEngine(schema, id_col="n").check(df)


def test_count_matches_size_flagship(spark):
    _assert_counts_match(_flagship_report(spark))


def test_count_matches_size_typed_matrix(spark):
    _assert_counts_match(_typed_report(spark))


def test_count_matches_size_open_extras(spark):
    for report in _open_extras_reports(spark):
        _assert_counts_match(report)


@pytest.mark.parametrize(
    "reports",
    [
        lambda spark: [_flagship_report(spark)],
        lambda spark: [_typed_report(spark)],
        _open_extras_reports,
        lambda spark: [_kernel_fallback_report(spark)],
    ],
    ids=["flagship", "typed_matrix", "open_extras", "kernel_fallback"],
)
def test_codes_match_violation_constraints(spark, reports):
    for report in reports(spark):
        df = report.annotated
        codes = report.plan.violation_codes_col(df)
        rows = df.select(
            "_valid",
            F.col("_violations.constraint").alias("full"),
            codes.constraint.alias("codes"),
            F.exists(codes, lambda v: v.path.isNotNull() | v.message.isNotNull())
            .alias("formatted"),
        )
        assert rows.filter(~F.col("_valid")).count() > 0
        assert rows.filter(~F.col("full").eqNullSafe(F.col("codes"))).count() == 0
        assert rows.filter(F.col("formatted")).count() == 0


def test_verdicts_plan_prunes_violation_structs(spark):
    """The verdict aggregation must not evaluate the violation-building
    expressions at all (the counter replaces them)."""
    from valideer_spark.flagship import doc_schema
    from valideer_spark.sources import synth_docs

    report = ValidationEngine(doc_schema()).check(synth_docs(spark, 100))
    plan = (
        report.verdicts()._jdf.queryExecution().optimizedPlan().toString()
    )
    # message building pruned away (synth_docs itself uses format_string,
    # so key on the violation-message markers)
    assert "Invalid value" not in plan
    assert "missing required properties" not in plan
    assert "must be one of" not in plan


def _python_udf_types(df):
    """Return types of the Python UDFs that ``df``'s physical plan
    evaluates, cached relations and adaptive plans included."""
    out = []

    def walk(node):
        name = node.nodeName()
        if name in ("ArrowEvalPython", "BatchEvalPython"):
            udfs = node.udfs()
            out.extend(
                udfs.apply(i).dataType().simpleString() for i in range(udfs.size())
            )
        if name == "InMemoryTableScan":
            walk(node.relation().cachedPlan())
        if name == "AdaptiveSparkPlan":
            walk(node.executedPlan())
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


def test_report_frame_runs_one_boolean_udf_per_fallback_node(spark):
    """The report frame evaluates each of the corpus's three fallback
    nodes through ONE boolean verdict UDF: the verdict and the violation
    count share the call, and no message is formatted on that path (a
    verdict folded into the error struct measured slower)."""
    report = _kernel_fallback_report(spark)
    try:
        assert _python_udf_types(report._frame()) == ["boolean"] * 3
    finally:
        report.unpersist()


def test_raising_callable_fails_every_output(spark, tmp_path):
    """A kernel error other than ``ValidationError`` (a callable raising
    with ``traps=()``) fails the job on every output: no UDF turns it
    into a verdict or a message."""
    from valideer_spark import core as V
    from valideer_spark.engine import write_quarantine

    def raising(x):  # local, so the workers unpickle it by value
        if x % 10 == 3:
            raise TypeError("kernel-fallback-boom")
        return x % 2 == 0

    df = spark.range(200).select(F.col("id").alias("n"))
    schema = V.Object(required={"n": V.Condition(raising, traps=())})
    engine = ValidationEngine(
        schema, id_col="n", checkpoint_dir=str(tmp_path / "ckpt")
    )
    report = engine.check(df)
    outputs = {
        "verdicts": lambda: report.verdicts().collect(),
        "metrics": lambda: report.metrics().collect(),
        "violation_rows": lambda: report.violation_rows().collect(),
        "adapted": lambda: report.adapted().collect(),
        "write_quarantine": lambda: write_quarantine(
            report, str(tmp_path / "valid"), str(tmp_path / "quarantine")
        ),
        "run_with_checkpoint": lambda: engine.run_with_checkpoint(df).collect(),
    }
    try:
        for name, run in outputs.items():
            with pytest.raises(Exception, match="kernel-fallback-boom"):
                run()
                pytest.fail("%s swallowed the kernel error" % name)
    finally:
        report.unpersist()
