"""Table-constraint operators: stats, uniqueness (plain + salted),
referential anti-joins, drift sketches."""

import math

import pytest
from pyspark.sql import functions as F

from valideer_spark.operators import (
    column_profile,
    duplicate_keys,
    orphan_keys,
    orphan_rows,
    quantile_drift,
    tdigest_quantiles,
)
from valideer_spark.operators.drift import (
    tdigest_build,
    tdigest_merge,
    tdigest_quantile,
)


def test_column_profile(spark):
    df = spark.createDataFrame(
        [(1, None), (2, "a"), (3, "b"), (4, None)], ["x", "y"]
    )
    prof = {r["column"]: r.asDict() for r in column_profile(df).collect()}
    assert prof["x"]["n_null"] == 0
    assert prof["x"]["min_value"] == "1"
    assert prof["x"]["max_value"] == "4"
    assert prof["y"]["n_null"] == 2
    assert abs(prof["y"]["null_rate"] - 0.5) < 1e-12
    assert prof["x"]["approx_distinct"] == 4


def test_duplicate_keys_plain_and_salted(spark):
    rows = [("k%d" % (i % 10),) for i in range(100)] + [("unique",)]
    df = spark.createDataFrame(rows, ["k"])
    plain = {r["k"]: r["dup_count"] for r in duplicate_keys(df, "k").collect()}
    salted = {r["k"]: r["dup_count"] for r in duplicate_keys(df, "k", salt=4).collect()}
    assert plain == salted
    assert plain == {"k%d" % i: 10 for i in range(10)}


def test_orphans(spark):
    fact = spark.createDataFrame([(1, "a"), (2, "b"), (9, "c"), (None, "d")],
                                 "fk int, v string")
    ref = spark.createDataFrame([(1,), (2,), (3,)], "pk int")
    rows = orphan_rows(fact, "fk", ref, "pk").collect()
    assert [(r["fk"], r["v"]) for r in rows] == [(9, "c")]
    keys = orphan_keys(fact, "fk", ref, "pk").collect()
    assert [(r["fk"], r["n_rows"]) for r in keys] == [(9, 1)]


def test_tdigest_kernel_accuracy():
    import numpy as np

    rng = np.random.RandomState(42)
    values = rng.normal(100.0, 15.0, 50000)
    m, w = tdigest_build(values)
    assert w.sum() == pytest.approx(50000)
    for q in (0.01, 0.25, 0.5, 0.75, 0.99):
        est = tdigest_quantile(m, w, q)
        exact = float(np.quantile(values, q))
        assert abs(est - exact) < 1.0, q

    # mergeability: split-merge equals whole-build within tolerance
    parts = [tdigest_build(values[i::4]) for i in range(4)]
    mm, mw = tdigest_merge(parts)
    assert mw.sum() == pytest.approx(50000)
    for q in (0.1, 0.5, 0.9):
        assert abs(
            tdigest_quantile(mm, mw, q) - float(np.quantile(values, q))
        ) < 1.5


def test_tdigest_quantiles_distributed(spark):
    df = spark.range(20000).select(
        (F.col("id") % 1000).cast("double").alias("v")
    )
    qs = tdigest_quantiles(df, "v", probs=[0.5], groups=8)
    assert abs(qs[0] - 499.5) < 15


def test_quantile_drift(spark):
    a = spark.range(10000).select((F.col("id") % 100).cast("double").alias("v"))
    b = spark.range(10000).select((F.col("id") % 100 + 50).cast("double").alias("v"))
    rows = quantile_drift(a, b, "v", probs=[0.5]).collect()
    assert len(rows) == 1
    assert rows[0]["abs_diff"] == pytest.approx(50.0, abs=2.0)


def test_domain_diff(spark):
    from valideer_spark.operators import domain_diff

    a = spark.createDataFrame([("x",), ("y",), (None,)], "v string")
    b = spark.createDataFrame([("y",), ("z",)], "v string")
    rows = {(r["value"], r["status"]) for r in domain_diff(a, b, "v").collect()}
    assert rows == {("z", "added"), ("x", "removed")}


def test_worst_partitions(spark):
    from valideer_spark.engine import ValidationEngine
    from valideer_spark.flagship import doc_schema
    from valideer_spark.sources import synth_docs

    report = ValidationEngine(doc_schema(), buckets=16).check(synth_docs(spark, 800))
    worst = report.worst_partitions(3).collect()
    assert len(worst) == 3
    assert worst[0]["n_invalid"] >= worst[1]["n_invalid"] >= worst[2]["n_invalid"]
    assert worst[0]["n_invalid"] > 0


def test_sketch_table_snapshot_drift(spark, tmp_path):
    """Persisted sketch tables: write one t-digest table per 'snapshot',
    reload, and compute drift WITHOUT rescanning the data; quantiles from
    the round-tripped sketches match the direct computation."""
    from valideer_spark.operators import (
        drift_between_sketch_tables,
        tdigest_quantiles,
        tdigest_sketch_table,
    )

    a = spark.range(20000).selectExpr("CAST(id % 1000 AS DOUBLE) AS v")
    b = spark.range(20000).selectExpr("CAST(id % 1000 + 100 AS DOUBLE) AS v")
    pa, pb = str(tmp_path / "sk_a"), str(tmp_path / "sk_b")
    tdigest_sketch_table(a, "v", groups=8).write.parquet(pa)
    tdigest_sketch_table(b, "v", groups=8).write.parquet(pb)

    rows = drift_between_sketch_tables(
        spark.read.parquet(pa), spark.read.parquet(pb), probs=[0.25, 0.5, 0.75]
    )
    direct = tdigest_quantiles(a, "v", probs=[0.25, 0.5, 0.75], groups=8)
    for (p, qa, qb, d), dq in zip(rows, direct):
        assert abs(qa - dq) < 1e-9          # round-trip is lossless
        assert abs(d - 100.0) < 15.0        # shift recovered (sketch approx)


def test_histogram_and_top_values(spark):
    from valideer_spark.operators import column_histogram, top_values

    df = spark.range(100).selectExpr("CAST(id % 10 AS DOUBLE) AS v")
    hist = {r["bucket"]: r["n"] for r in column_histogram(df, "v", 5, -0.5, 9.5).collect()}
    assert sum(hist.values()) == 100 and len(hist) == 5  # 2 values per bin
    top = top_values(df.filter("v < 3"), "v", k=2).collect()
    assert [r["value"] for r in top] == [0.0, 1.0]  # tie broken by value


def test_pipeline_example_runs():
    """The composed end-to-end example stays green (subprocess: its own
    SparkSession configuration)."""
    import json
    import os
    import subprocess
    import sys

    script = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools", "pipeline_example.py",
    )
    out = subprocess.run(
        [sys.executable, script, "3000"],
        capture_output=True, text=True, timeout=420,
    )
    line = [l for l in out.stdout.splitlines() if l.startswith('{"pipeline"')][-1]
    res = json.loads(line)
    n = res["n"]
    assert n["valid"] <= n["input"]
    assert n["after_exact_dedup"] <= n["valid"]
    assert 0 < n["curated"] <= n["after_near_dedup"]


def test_psi_drift(spark):
    from math import log

    from valideer_spark.operators import psi_drift

    a = spark.range(1000).select((F.col("id") % 10).cast("double").alias("x"))
    # identical distributions → every psi term is (numerically) zero
    rows = psi_drift(a, a, "x", breaks=[2.5, 5.5, 7.5]).collect()
    assert [r["bucket"] for r in rows] == [0, 1, 2, 3]
    assert all(abs(r["psi_term"]) < 1e-12 for r in rows)
    assert all(r["n_a"] == r["n_b"] for r in rows)

    # a fully shifted bucket: hand-check one term against the formula
    b = spark.range(1000).select(
        ((F.col("id") % 10) + 10).cast("double").alias("x")
    )
    rows = psi_drift(a, b, "x", breaks=[9.5]).collect()
    # bucket 0: all of a (pa=1), none of b (pb=eps); bucket 1 the reverse
    pa, pb = 1.0, 1e-6
    expect = (pa - pb) * log(pa / pb)
    assert abs(rows[0]["psi_term"] - expect) < 1e-9
    assert abs(rows[1]["psi_term"] - expect) < 1e-9  # symmetric
    # nulls are excluded, missing buckets appear with zero counts
    c = spark.range(10).select(
        F.when(F.col("id") % 2 == 0, F.col("id").cast("double")).alias("x")
    )
    rows = psi_drift(c, c, "x", breaks=[100.0]).collect()
    assert [(r["bucket"], r["n_a"], r["n_b"]) for r in rows] == [
        (0, 5, 5),
        (1, 0, 0),
    ]


def test_count_min_sketch(spark):
    from valideer_spark.operators import count_min_estimates, count_min_table

    df = spark.range(1000).select(
        F.format_string("k-%d", F.col("id") % 7).alias("k")
    )
    cms = count_min_table(df, "k", depth=4, width=64)
    # counter table is bounded by depth*width and each depth row sums to N
    per_row = cms.groupBy("d").agg(F.sum("cnt").alias("s")).collect()
    assert len(per_row) == 4 and all(r["s"] == 1000 for r in per_row)
    vals = df.distinct()
    est = count_min_estimates(cms, vals, "k", depth=4, width=64).collect()
    exact = {f"k-{i}": (1000 // 7) + (1 if i < 1000 % 7 else 0) for i in range(7)}
    for r in est:
        assert r["est"] >= exact[r["value"]]  # CMS never underestimates
    # an unseen value can only collide upward from zero
    miss = spark.createDataFrame([("nope",)], ["k"])
    m = count_min_estimates(cms, miss, "k", depth=4, width=64).collect()[0]
    assert m["est"] >= 0


def test_count_min_merge_equals_union_sketch(spark):
    from valideer_spark.operators import (
        count_min_estimates,
        count_min_merge,
        count_min_table,
    )

    a = spark.range(500).select(F.format_string("k-%d", F.col("id") % 5).alias("k"))
    b = spark.range(300).select(F.format_string("k-%d", F.col("id") % 3).alias("k"))
    merged = count_min_merge(
        count_min_table(a, "k", depth=4, width=64),
        count_min_table(b, "k", depth=4, width=64),
    )
    direct = count_min_table(a.unionByName(b), "k", depth=4, width=64)
    vals = a.unionByName(b).distinct()
    em = {r["value"]: r["est"] for r in
          count_min_estimates(merged, vals, "k", depth=4, width=64).collect()}
    ed = {r["value"]: r["est"] for r in
          count_min_estimates(direct, vals, "k", depth=4, width=64).collect()}
    assert em == ed  # merging sketches == sketching the union


def test_count_min_estimates_null_probe_excluded(spark):
    """NULL probe values are filtered (xxhash64 would silently drop the
    NULL argument and address the seed-only cells, returning a
    meaningless collision estimate)."""
    from valideer_spark.operators import count_min_estimates, count_min_table

    df = spark.range(100).select(F.format_string("k-%d", F.col("id") % 4).alias("k"))
    cms = count_min_table(df, "k", depth=4, width=64)
    probes = spark.createDataFrame(
        [("k-0",), (None,)], "k string"
    )
    est = count_min_estimates(cms, probes, "k", depth=4, width=64).collect()
    assert len(est) == 1 and est[0]["value"] == "k-0" and est[0]["est"] == 25


def test_engine_partition_expr_override(spark):
    """A caller-supplied partition_expr replaces xxhash64 bucketing."""
    from valideer_spark.engine import ValidationEngine
    from valideer_spark.flagship import doc_schema
    from valideer_spark.sources import synth_docs

    docs = synth_docs(spark, 500)
    eng = ValidationEngine(
        doc_schema(),
        buckets=8,
        partition_expr=lambda c: F.pmod(
            F.substring(c, 5, 12).cast("long"), F.lit(8)
        ).cast("int"),
    )
    parts = {
        r["_part_id"]
        for r in eng.check(docs).annotated.select("_part_id").distinct().collect()
    }
    assert parts == set(range(8))
    # doc-000000000042 (hot key) must land in bucket 42 % 8 == 2
    row = (
        eng.check(docs)
        .annotated.filter(F.col("doc_id") == "doc-000000000042")
        .select("_part_id")
        .first()
    )
    assert row["_part_id"] == 2
