"""Table-constraint operators: stats, uniqueness (plain + salted),
referential anti-joins, drift sketches."""

import math

import pytest
from pyspark.sql import functions as F

from valideer_spark.operators import (
    column_profile,
    drift_between_sketch_tables,
    duplicate_keys,
    orphan_keys,
    orphan_rows,
    psi_drift,
    quantile_drift,
    quantile_sketch_table,
)

# KLL sketches are randomized, so sketch tests never compare values from
# two builds; they bound each returned quantile's exact rank instead.
RANK_EPS = 0.005


def _assert_rank_bound(df, column, probs, quantiles, eps=RANK_EPS):
    """``cnt_lt(q)/n <= p + eps`` and ``cnt_le(q)/n >= p - eps`` for each
    (p, q), with exact counts over the non-NULL, non-NaN values."""
    v = F.col(column).cast("double")
    vals = df.select(v.alias("v")).filter(~F.isnan("v"))
    row = vals.agg(
        F.count("v").alias("n"),
        *[F.sum((F.col("v") < q).cast("long")).alias("lt%d" % i)
          for i, q in enumerate(quantiles)],
        *[F.sum((F.col("v") <= q).cast("long")).alias("le%d" % i)
          for i, q in enumerate(quantiles)],
    ).first()
    n = row["n"]
    for i, (p, q) in enumerate(zip(probs, quantiles)):
        assert row["lt%d" % i] / n <= p + eps, (p, q, row["lt%d" % i], n)
        assert row["le%d" % i] / n >= p - eps, (p, q, row["le%d" % i], n)


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


def _normal_frame(spark, n=50000):
    # seeded randn over a fixed partitioning: every rescan sees the same rows
    return spark.range(0, n, 1, 4).select(
        (F.randn(42) * 15.0 + 100.0).alias("v")
    )


def test_kll_tail_rank_bound(spark):
    """Quantiles read from one sketch table hold the rank bound at both
    tails and the median, on a normal column and on one where a single
    value fills 90% of the rows."""
    probs = [0.01, 0.5, 0.99]
    normal = _normal_frame(spark)
    skewed = spark.range(50000).select(
        F.when(F.col("id") % 10 == 0, F.col("id").cast("double"))
        .otherwise(F.lit(7.0))
        .alias("v")
    )
    for df in (normal, skewed):
        table = quantile_sketch_table(df, "v")
        rows = drift_between_sketch_tables(table, table, probs)
        assert [r[0] for r in rows] == probs
        _assert_rank_bound(df, "v", probs, [r[1] for r in rows])
        _assert_rank_bound(df, "v", probs, [r[2] for r in rows])


def test_kll_merged_slices_rank_bound(spark):
    """Four disjoint slices sketched separately and merged hold the same
    rank bound as a one-shot sketch of the whole column, and their counts
    add up to the row count."""
    probs = [0.01, 0.25, 0.5, 0.75, 0.99]
    df = _normal_frame(spark, n=20000).withColumn(
        "slice", F.monotonically_increasing_id() % 4
    )
    slices = [
        quantile_sketch_table(df.filter(F.col("slice") == i), "v")
        for i in range(4)
    ]
    merged = slices[0].unionByName(slices[1]).unionByName(
        slices[2]
    ).unionByName(slices[3])
    assert merged.agg(F.sum("n")).first()[0] == 20000
    rows = drift_between_sketch_tables(
        merged, quantile_sketch_table(df, "v"), probs
    )
    _assert_rank_bound(df, "v", probs, [r[1] for r in rows])
    _assert_rank_bound(df, "v", probs, [r[2] for r in rows])


def test_quantile_drift(spark):
    a = spark.range(10000).select((F.col("id") % 100).cast("double").alias("v"))
    b = spark.range(10000).select((F.col("id") % 100 + 50).cast("double").alias("v"))
    rows = quantile_drift(a, b, "v", probs=[0.5]).collect()
    assert len(rows) == 1
    assert rows[0]["abs_diff"] == pytest.approx(50.0, abs=2.0)


def test_drift_paths_leave_out_nan(spark):
    """PSI, GK and KLL read the same values of a column that mixes them
    with NULL and NaN: NULL and NaN are left out, ±inf are the extreme
    values. Side a = 0..99 and ±inf; side b = 0..69, 30 NaN and 5 NULL."""
    inf = float("inf")
    vals_a = [float(i) for i in range(100)] + [inf, -inf]
    vals_b = [float(i) for i in range(70)]
    a = spark.createDataFrame([(v,) for v in vals_a], "v double")
    b = spark.createDataFrame(
        [(v,) for v in vals_b] + [(float("nan"),)] * 30 + [(None,)] * 5, "v double"
    )

    breaks = [25.0, 50.0, 75.0]

    def counts(vals):
        return [sum(sum(v > c for c in breaks) == k for v in vals) for k in range(4)]

    rows = psi_drift(a, b, "v", breaks).collect()
    assert [r["n_a"] for r in rows] == counts(vals_a)
    assert [r["n_b"] for r in rows] == counts(vals_b)  # no value of b is > 75

    probs, accuracy = [0.5, 0.99], 10000
    gk = quantile_drift(a, b, "v", probs=probs, accuracy=accuracy).collect()
    q_b = [r["q_b"] for r in gk]
    assert not any(math.isnan(q) for q in q_b)
    _assert_rank_bound(b, "v", probs, q_b, eps=1.0 / accuracy)
    _assert_rank_bound(a, "v", probs, [r["q_a"] for r in gk], eps=1.0 / accuracy)

    table_b = quantile_sketch_table(b, "v")
    assert table_b.first()["n"] == len(vals_b)
    kll = drift_between_sketch_tables(quantile_sketch_table(a, "v"), table_b, probs)
    _assert_rank_bound(b, "v", probs, [r[2] for r in kll])
    _assert_rank_bound(a, "v", probs, [r[1] for r in kll])


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
    """Persisted sketch tables: write one KLL table per 'snapshot', read
    them back, and compute drift WITHOUT rescanning the data; each side's
    quantiles hold the rank bound, so the 100-unit shift is recovered."""
    probs = [0.25, 0.5, 0.75]
    a = spark.range(20000).selectExpr("CAST(id % 1000 AS DOUBLE) AS v")
    b = spark.range(20000).selectExpr("CAST(id % 1000 + 100 AS DOUBLE) AS v")
    pa, pb = str(tmp_path / "sk_a"), str(tmp_path / "sk_b")
    quantile_sketch_table(a, "v").write.parquet(pa)
    quantile_sketch_table(b, "v").write.parquet(pb)
    read_a, read_b = spark.read.parquet(pa), spark.read.parquet(pb)
    assert read_a.agg(F.sum("n")).first()[0] == 20000
    assert read_b.agg(F.sum("n")).first()[0] == 20000

    rows = drift_between_sketch_tables(read_a, read_b, probs)
    _assert_rank_bound(a, "v", probs, [r[1] for r in rows])
    _assert_rank_bound(b, "v", probs, [r[2] for r in rows])
    for p, qa, qb, d in rows:
        # one value per unit over 1000 units: the rank bound on each side
        # moves a quantile by at most eps * 1000 units
        assert abs(d - 100.0) <= 2 * RANK_EPS * 1000 + 1, (p, qa, qb)


def test_sketch_table_empty_and_null_input(spark):
    """A side whose sketch holds no value (an empty frame, or a column of
    only NULL and NaN) yields NaN quantiles instead of a Spark error."""
    empty = spark.createDataFrame([], "v double")
    nulls = spark.range(100).selectExpr(
        "IF(id % 2 = 0, CAST(NULL AS DOUBLE), CAST('NaN' AS DOUBLE)) AS v"
    )
    full = spark.range(1000).selectExpr("CAST(id AS DOUBLE) AS v")
    for side in (empty, nulls):
        table = quantile_sketch_table(side, "v")
        assert [r["n"] for r in table.collect()] == [0]
        rows = drift_between_sketch_tables(
            table, quantile_sketch_table(full, "v"), [0.01, 0.5]
        )
        assert all(math.isnan(qa) and math.isnan(d) for _, qa, _, d in rows)
        _assert_rank_bound(full, "v", [0.01, 0.5], [r[2] for r in rows])
    rows = drift_between_sketch_tables(
        quantile_sketch_table(empty, "v"), quantile_sketch_table(nulls, "v"), [0.5]
    )
    assert math.isnan(rows[0][1]) and math.isnan(rows[0][2])


def test_quantile_sketch_table_plan_shape(spark):
    """The sketch is one JVM aggregate: a partial aggregate per task and a
    single-partition merge, with no Python worker and no shuffle of rows
    by value."""
    df = spark.range(1000).selectExpr("CAST(id % 37 AS DOUBLE) AS v")
    qe = quantile_sketch_table(df, "v")._jdf.queryExecution()
    for plan in (qe.optimizedPlan().toString(), qe.executedPlan().toString()):
        assert "kll_sketch_agg_double" in plan, plan
        for node in ("FlatMapGroupsInPandas", "ArrowEvalPython"):
            assert node not in plan, plan
        assert "Exchange hashpartitioning" not in plan, plan


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
