"""Physical-plan assertions: the scale guarantees are properties of the
PLAN, not just the results — column pruning reaches the parquet scan,
small reference sides broadcast, predicates stay in whole-stage codegen."""

import os
import re

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


def _subtree(nodes, i):
    """The nodes of the subtree rooted at ``nodes[i]``, a pre-order
    ``TreeNode.toJSON`` list."""
    end, pending = i, 1
    while pending:
        pending += nodes[end]["num-children"] - 1
        end += 1
    return nodes[i:end]


def test_checkpoint_resume_filters_done_ids_without_join(spark, tmp_path):
    """The engine's resume over an unpartitioned input: the verdict
    aggregation it collects has no join, and one Filter keeps the rows
    whose recomputed bucket id (an xxhash64 bucket) is NOT IN the
    checkpointed ids."""
    import json

    import pyspark.sql.classic.dataframe as classic

    from valideer_spark.engine import ValidationEngine
    from valideer_spark.flagship import doc_schema
    from valideer_spark.sources import synth_docs

    docs = synth_docs(spark, 200)
    eng = ValidationEngine(doc_schema(), buckets=16, checkpoint_dir=str(tmp_path))
    bucket = F.pmod(F.xxhash64("doc_id"), F.lit(16))
    first = eng.run_with_checkpoint(docs.filter(bucket < 5), run_id="r1")
    done = sorted(r["part_id"] for r in first.collect())
    assert done == [0, 1, 2, 3, 4]

    collected = []
    collect = classic.DataFrame.collect

    def spy(self):
        collected.append(self)
        return collect(self)

    classic.DataFrame.collect = spy
    try:
        rest = eng.run_with_checkpoint(docs, run_id="r2")
    finally:
        classic.DataFrame.collect = collect
    assert sorted(r["part_id"] for r in rest.collect()) == list(range(5, 16))
    verdicts = [df for df in collected if "n_docs" in df.columns]
    assert len(verdicts) == 1
    qe = verdicts[0]._jdf.queryExecution()
    assert "Join" not in qe.optimizedPlan().toString()
    assert "Join" not in qe.executedPlan().toString()

    nodes = json.loads(qe.optimizedPlan().toJSON())
    filters = [n["condition"] for n in nodes if n["class"].endswith(".Filter")]
    resume = []
    for cond in filters:
        for i, e in enumerate(cond):
            if e["class"].endswith(".In"):
                tree = _subtree(cond, i)
                value = _subtree(tree, 1)
                literals = tree[1 + len(value):]
                resume.append((value, sorted(int(l["value"]) for l in literals)))
    assert len(resume) == 1
    value, ids = resume[0]
    assert ids == done
    assert any(e["class"].endswith(".XxHash64") for e in value)


def test_no_violation_tree_where_nothing_reads_it(
    spark, tmp_path, monkeypatch, _empty_plan_cache
):
    """Checking a frame, a checkpointed run and a report's verdicts never
    ask for the violation tree; ``write_quarantine`` asks once, for its
    quarantine sink, and ``annotated`` once, on its first read. The
    verdict aggregation a checkpointed run collects analyses no
    ``_violations`` column and formats no message."""
    import pyspark.sql.classic.dataframe as classic

    from valideer_spark.engine import ValidationEngine, write_quarantine
    from valideer_spark.flagship import doc_schema
    from valideer_spark.plans import FramePlan
    from valideer_spark.sources import synth_docs

    calls = []
    violations_col = FramePlan.violations_col

    def counting(self, df):
        calls.append(df)
        return violations_col(self, df)

    monkeypatch.setattr(FramePlan, "violations_col", counting)
    # a parquet input: the generator's own plan formats its doc ids
    path = str(tmp_path / "docs")
    synth_docs(spark, 200).write.parquet(path)
    docs = spark.read.parquet(path)
    eng = ValidationEngine(doc_schema(), buckets=4, checkpoint_dir=str(tmp_path / "ck"))
    report = eng.check(docs)
    assert len(calls) == 0
    try:
        assert len(report.verdicts().collect()) == 4
    finally:
        report.unpersist()
    assert len(calls) == 0

    collected = []
    collect = classic.DataFrame.collect

    def spy(self):
        collected.append(self)
        return collect(self)

    with monkeypatch.context() as patched:
        patched.setattr(classic.DataFrame, "collect", spy)
        run = eng.run_with_checkpoint(docs, run_id="r1")
    assert len(run.collect()) == 4
    assert len(calls) == 0
    verdicts = [df for df in collected if "n_docs" in df.columns]
    assert len(verdicts) == 1
    analysed = verdicts[0]._jdf.queryExecution().analyzed().toString()
    # attributes print as name#id; n_violations and _n_violations differ
    assert re.search(r"(?<!\w)_n_violations#", analysed)
    assert not re.search(r"(?<!\w)_violations#", analysed)
    assert "format_string(" not in analysed

    write_quarantine(eng.check(docs), str(tmp_path / "valid"), str(tmp_path / "bad"))
    assert len(calls) == 1
    report = eng.check(docs)
    assert report.annotated is report.annotated
    assert len(calls) == 2


def _written_plans(monkeypatch, write):
    """The executed plans of the frames ``write()`` hands to a parquet
    writer."""
    from pyspark.sql.readwriter import DataFrameWriter

    plans = []
    parquet = DataFrameWriter.parquet

    def spy(self, path, *args, **kwargs):
        plans.append(self._df._jdf.queryExecution().executedPlan().toString())
        return parquet(self, path, *args, **kwargs)

    with monkeypatch.context() as patched:
        patched.setattr(DataFrameWriter, "parquet", spy)
        write()
    return plans


def test_bucketed_write_shuffle_is_coalescible(spark, tmp_path, monkeypatch):
    """With one file per bucket the write's shuffle is a repartition by
    column (``REPARTITION_BY_COL``), which AQE may coalesce, not one by a
    fixed count of ``buckets`` tasks; a salted write keeps its count of
    buckets × files_per_bucket, since spreading a bucket is its point."""
    from valideer_spark.engine import write_partitioned
    from valideer_spark.sources import synth_docs

    docs = synth_docs(spark, 100)
    plans = _written_plans(
        monkeypatch, lambda: write_partitioned(docs, str(tmp_path / "a"), buckets=5)
    )
    assert len(plans) == 1
    assert "REPARTITION_BY_COL" in plans[0] and "REPARTITION_BY_NUM" not in plans[0]
    plans = _written_plans(
        monkeypatch,
        lambda: write_partitioned(
            docs, str(tmp_path / "b"), buckets=5, files_per_bucket=3
        ),
    )
    assert len(plans) == 1
    assert ", 15), REPARTITION_BY_NUM" in plans[0]


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


def test_violations_build_each_value_repr_once(spark, monkeypatch, _empty_plan_cache):
    """A fresh flagship violations tree builds one top-level value repr per
    distinct (column, type) pair: the spans, a span, a span's kind, text,
    media_ref and offset, the doc id and the row; one repr per message
    would be 14. Nothing is kept after a build, and a second compile of an
    equal schema reuses the plan, so it builds no repr at all."""
    from valideer_spark.flagship import doc_schema
    from valideer_spark.plans import compile_plan, lowering
    from valideer_spark.sources import DOCS_SCHEMA

    calls = []
    py_repr = lowering.py_repr

    def counting(col, dtype):
        calls.append(dtype)
        return py_repr(col, dtype)

    monkeypatch.setattr(lowering, "py_repr", counting)
    df = spark.createDataFrame([], DOCS_SCHEMA)
    plans, per_build = [], []
    for _ in range(2):
        calls.clear()
        plans.append(compile_plan(doc_schema(), DOCS_SCHEMA))
        plans[-1].violations_col(df)
        per_build.append(len(calls))
    assert 1 <= per_build[0] <= 8, per_build
    assert plans[1] is plans[0] and per_build[1] == 0, per_build
    assert lowering._REPR_MEMO.get() is None


def test_second_check_does_not_relower(spark, monkeypatch, _empty_plan_cache):
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

    monkeypatch.setattr(plan.lowered, "predicate", counting)
    eng.check(docs)
    assert len(calls) == 1
    report = eng.check(docs)
    assert report.plan is plan and len(calls) == 1


def _frame_plans(df):
    """The optimised plan of a report output split at its
    ``InMemoryRelation``s: the plan above the report frame, the frame's
    own plan, and the cached input's."""
    above, frame, _ = _optimized(df).split("InMemoryRelation")
    return above, frame


def test_violation_plans_build_each_violation_once(spark):
    """The violation explode is an outer generator plus an explicit index
    filter, so Catalyst infers no ``size(_violations) > 0`` filter that
    would build every invalid row's violation array a second time; the
    metrics explode constraint codes and format no message at all. Above
    the report frame no predicate pass (``zip_with``) runs again; inside
    it the predicate runs once."""
    from valideer_spark.engine import ValidationEngine
    from valideer_spark.flagship import doc_schema
    from valideer_spark.sources import synth_docs

    docs = synth_docs(spark, 100).cache()
    report = ValidationEngine(doc_schema()).check(docs)
    try:
        above, frame = _frame_plans(report.violation_rows())
        assert 1 <= above.count("format_string(") <= 22, len(above)
        assert above.count("zip_with(") == 0, len(above)
        assert 1 <= frame.count("zip_with(") <= 2, len(frame)
        assert frame.count("format_string(") == 0, len(frame)
        for df in (report.metrics(), report.partition_metrics()):
            above, frame = _frame_plans(df)
            assert above.count("format_string(") == 0, len(above)
            assert above.count("zip_with(") == 0, len(above)
            assert 1 <= frame.count("zip_with(") <= 2, len(frame)
    finally:
        report.unpersist()
        docs.unpersist()


def test_flagship_violations_build_each_own_check_once(spark):
    """A container's own-check violations are chosen by its predicate, so
    the optimised violations plan builds each own check's violation array
    once, not a second time for a ``size(...) > 0`` test."""
    from valideer_spark.flagship import doc_schema
    from valideer_spark.plans import compile_plan
    from valideer_spark.sources import synth_docs

    docs = synth_docs(spark, 100)
    violations = compile_plan(doc_schema(), docs).violations_col(docs)
    plan = _optimized(docs.select(violations.alias("v")))
    for code in ("type:Sequence", "sequence.min_length", "type:Mapping"):
        assert plan.count(code) == 1, (code, plan.count(code))


def _frame_scans(df, frame_columns):
    """(report-frame scans, other in-memory scans, parquet scans) of the
    executed plan of ``df``."""
    found = {"frame": 0, "other": 0, "parquet": 0}

    def walk(plan):
        name = plan.getClass().getSimpleName()
        if name == "InMemoryTableScanExec":
            output = plan.relation().output()
            names = [output.apply(i).name() for i in range(output.size())]
            found["frame" if names == frame_columns else "other"] += 1
        elif name == "FileSourceScanExec":
            found["parquet"] += 1
        if name == "AdaptiveSparkPlanExec":
            return walk(plan.executedPlan())
        if name.endswith("QueryStageExec"):
            return walk(plan.plan())
        children = plan.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return found["frame"], found["other"], found["parquet"]


def test_report_outputs_read_one_cached_frame(spark, tmp_path):
    """After ``verdicts()`` has run, the violation and metrics outputs of
    the same report scan its cached frame once each and never the
    parquet input: the predicate is not evaluated again."""
    from valideer_spark.engine import ValidationEngine
    from valideer_spark.flagship import doc_schema
    from valideer_spark.sources import synth_docs

    path = str(tmp_path / "docs")
    synth_docs(spark, 400).write.parquet(path)
    report = ValidationEngine(doc_schema(), buckets=16).check(spark.read.parquet(path))
    try:
        assert report.verdicts().collect()
        frame_columns = ["_part_id", "_valid", "_n_violations", "doc_id", "spans"]
        for df in (report.violation_rows(), report.metrics(), report.partition_metrics()):
            assert df.collect()
            assert _frame_scans(df, frame_columns) == (1, 0, 0)
    finally:
        report.unpersist()
