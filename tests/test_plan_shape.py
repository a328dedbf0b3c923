"""Physical-plan assertions: the scale guarantees are properties of the
PLAN, not just the results — column pruning reaches the parquet scan,
small reference sides broadcast, predicates stay in whole-stage codegen."""

import os

import pytest
from pyspark.sql import functions as F

TESTDATA = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(scope="module")
def lineitem(spark):
    return spark.read.parquet(os.path.join(TESTDATA, "lineitem.parquet"))


def test_column_pruning_reaches_scan(spark, lineitem):
    from valideer_spark.operators import column_profile

    prof = column_profile(lineitem, ["l_quantity", "l_discount"],
                          approx_distinct=False)
    scan_line = [
        l for l in _plan(prof).splitlines() if "FileScan parquet" in l
    ][0]
    # only the two profiled columns are read, not all 11
    assert "l_quantity" in scan_line and "l_discount" in scan_line
    assert "l_orderkey" not in scan_line and "l_extendedprice" not in scan_line


def test_filter_pushdown_reaches_scan(spark, lineitem):
    q = lineitem.filter(F.col("l_quantity") > 45).select("l_orderkey")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)" in plan


def test_referential_join_broadcasts_small_ref(spark, lineitem):
    from valideer_spark.operators import orphan_keys

    part = spark.read.parquet(os.path.join(TESTDATA, "part.parquet"))
    q = orphan_keys(lineitem, "l_partkey", part, "p_partkey")
    plan = _plan(q)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_flagship_predicate_is_codegen(spark):
    from valideer_spark.flagship import doc_schema
    from valideer_spark.plans import compile_plan
    from valideer_spark.sources import synth_docs

    docs = synth_docs(spark, 100)
    plan_obj = compile_plan(doc_schema(), docs)
    q = docs.select(plan_obj.is_valid_col(docs).alias("ok"))
    plan = _plan(q)
    # the hot path is pure JVM: no python UDF / Arrow eval nodes anywhere.
    # (array higher-order functions are CodegenFallback expressions — JVM
    # interpreted, not whole-stage-codegen — so we assert absence of Python
    # nodes rather than presence of a codegen region.)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "pythonUDF" not in plan


def test_verdict_agg_is_partial_final(spark):
    from valideer_spark.engine import ValidationEngine
    from valideer_spark.flagship import doc_schema
    from valideer_spark.sources import synth_docs

    docs = synth_docs(spark, 100)
    verdicts = ValidationEngine(doc_schema()).check(docs).verdicts()
    plan = _plan(verdicts)
    # hash aggregation with a map-side partial before the shuffle
    assert plan.count("HashAggregate") >= 2


def test_checkpoint_resume_uses_broadcast_anti_join(spark, tmp_path):
    from valideer_spark.engine import ValidationEngine
    from valideer_spark.flagship import doc_schema
    from valideer_spark.sources import synth_docs

    docs = synth_docs(spark, 200)
    eng = ValidationEngine(doc_schema(), buckets=16, checkpoint_dir=str(tmp_path))
    eng.run_with_checkpoint(docs, run_id="r1")
    done = eng.completed_partitions(spark)
    report = eng.check(docs)
    joined = report.annotated.join(
        F.broadcast(done), report.annotated["_part_id"] == done["part_id"], "left_anti"
    )
    assert "BroadcastHashJoin" in _plan(joined.select("_part_id"))


def test_lsh_candidates_plan_has_no_join(spark):
    """Round-5 candidates shape (uncapped path): pair generation is ONE
    hash aggregation (collect_list per bucket + in-row expansion) — no
    self-join, so no sort-merge join and none of the 16n-row sorts it
    forced. Exchanges: the bucket agg plus the final (a_id, b_id) count
    agg."""
    from valideer_spark.operators.dedup import minhash_lsh_candidates

    df = spark.createDataFrame(
        [(i, "w%d x%d y%d z%d q%d" % (i, i, i, i, i)) for i in range(20)],
        "doc_id long, text string",
    )
    plan = _plan(minhash_lsh_candidates(df))
    assert "SortMergeJoin" not in plan
    assert "Join" not in plan  # no join of any kind
    assert "ObjectHashAggregate" in plan  # collect_list path


def test_lsh_candidates_capped_plan_is_bounded_and_join_free(spark):
    """Round-6 skew-guard shape (max_bucket set): a whole-partition window
    over ``bucket`` tags each raw (id, bucket) row with the bucket's
    (count, min id) — WindowExec buffers one bucket group at a time in a
    SPILLABLE buffer — and rows route by size: under-cap rows keep the
    collect_list path (aggregation row <= max_bucket by construction),
    over-cap rows emit star edges row-wise with no aggregation at all.
    Still join-free; the one remaining unbounded-row hazard of the
    round-5 shape (collect_list over a mega-cluster bucket BEFORE the cap
    applied) is gone."""
    from valideer_spark.operators.dedup import minhash_lsh_candidates

    df = spark.createDataFrame(
        [(i, "w%d x%d y%d z%d q%d" % (i, i, i, i, i)) for i in range(20)],
        "doc_id long, text string",
    )
    q = minhash_lsh_candidates(df, max_bucket=8)
    plan = _plan(q)
    assert "Join" not in plan  # no join of any kind
    assert "Window" in plan  # the bounded (count, min) tagging pass
    assert "ObjectHashAggregate" in plan  # bounded collect_list path
    # the collect_list aggregation reuses the window's partitioning (no
    # exchange of its own); the initial plan prints the window subtree
    # once per union branch (cold + hot) — identical subtrees that
    # exchange reuse collapses at runtime — so at most those two appear
    assert 1 <= plan.count("Exchange hashpartitioning(bucket") <= 2, plan


def test_column_trees_are_built_once_per_column_set(spark):
    from valideer_spark.flagship import doc_schema
    from valideer_spark.plans import compile_plan
    from valideer_spark.sources import synth_docs

    a = synth_docs(spark, 20)
    b = synth_docs(spark, 30).filter(F.col("doc_id") != "x")
    plan = compile_plan(doc_schema(), a)
    for getter in (
        plan.is_valid_col,
        plan.violations_col,
        plan.violation_count_col,
        plan.adapted_col,
    ):
        assert getter(a) is getter(b)
    # an extra payload column is part of the row struct: a fresh tree
    wider = a.withColumn("lang", F.lit("en"))
    assert plan.is_valid_col(wider) is not plan.is_valid_col(a)
    # engine-reserved columns are not
    assert plan.is_valid_col(a.withColumn("_part_id", F.lit(0))) is (
        plan.is_valid_col(a)
    )


def test_second_check_does_not_relower(spark):
    from valideer_spark.engine import ValidationEngine
    from valideer_spark.flagship import doc_schema
    from valideer_spark.sources import synth_docs

    docs = synth_docs(spark, 20)
    eng = ValidationEngine(doc_schema())
    plan = eng.plan_for(docs)
    lowered_predicate = plan.lowered.predicate
    calls = []

    def counting(row):
        calls.append(row)
        return lowered_predicate(row)

    plan.lowered.predicate = counting
    eng.check(docs)
    assert len(calls) == 1
    report = eng.check(docs)
    assert report.plan is plan and len(calls) == 1


def test_violation_plans_build_each_violation_once(spark):
    """The violation explode is an outer generator plus an explicit index
    filter, so Catalyst infers no ``size(_violations) > 0`` filter that
    would build every invalid row's violation array a second time."""
    from valideer_spark.engine import ValidationEngine
    from valideer_spark.flagship import doc_schema
    from valideer_spark.sources import synth_docs

    # cached, so the counts are the check's own and not the generator's
    docs = synth_docs(spark, 100).cache()
    try:
        report = ValidationEngine(doc_schema()).check(docs)
        for df in (report.violation_rows(), report.metrics()):
            plan = _optimized(df)
            assert 1 <= plan.count("format_string(") <= 22, len(plan)
            assert 1 <= plan.count("zip_with(") <= 4, len(plan)
    finally:
        docs.unpersist()
