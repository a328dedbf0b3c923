"""Checkpoint/resume storage-layout behavior + Iceberg code path.

Without the Iceberg runtime, executable coverage of the Iceberg side is
the generated MERGE INTO SQL (exact text) and the availability probe;
``checkpoint_format='iceberg'`` then runs the parquet checkpoint, so the
layout tests run over both formats. The partition-pruned resume is
proven on the parquet layout (same pruning mechanics Iceberg applies
from table metadata).
"""

import os

import pytest
from pyspark.sql import functions as F

from valideer_spark.engine import ValidationEngine, write_partitioned, write_quarantine
from valideer_spark.flagship import doc_schema
from valideer_spark.plans import explode_violations
from valideer_spark.sources import synth_docs
from valideer_spark.sources.iceberg import (
    checkpoint_merge_sql,
    iceberg_available,
    read_table,
)


def test_merge_into_sql_text():
    sql = checkpoint_merge_sql(
        "ckpt.partition_checkpoints", "src", key_cols=("part_id",),
        update_cols=("n_docs", "pass", "run_id"),
    )
    assert sql == (
        "MERGE INTO ckpt.partition_checkpoints t\n"
        "USING src s\n"
        "ON t.part_id = s.part_id\n"
        "WHEN MATCHED THEN UPDATE SET t.n_docs = s.n_docs, t.pass = s.pass, "
        "t.run_id = s.run_id\n"
        "WHEN NOT MATCHED THEN INSERT (part_id, n_docs, pass, run_id) "
        "VALUES (s.part_id, s.n_docs, s.pass, s.run_id)"
    )


def test_read_table_parquet_fallback_and_guard(spark, tmp_path):
    p = str(tmp_path / "t")
    spark.range(5).write.parquet(p)
    assert read_table(spark, p).count() == 5
    with pytest.raises(ValueError):
        read_table(spark, p, snapshot_id=42)  # time travel needs iceberg


def test_iceberg_probe_and_skip(spark):
    if iceberg_available(spark):
        pytest.skip("iceberg present: exercised by the deployment suite")
    # without jars the engine must not touch iceberg paths implicitly
    eng = ValidationEngine(doc_schema(), checkpoint_format="iceberg",
                           checkpoint_table="nope.ckpt")
    assert eng.completed_partitions(spark) is None  # graceful, no raise


def test_iceberg_probe_raises_other_errors():
    """Only a missing class (a Py4J error) reads as "no Iceberg"; any
    other failure of the probe raises."""
    from types import SimpleNamespace

    def for_name(_):
        raise RuntimeError("probe-broken")

    jvm = SimpleNamespace(java=SimpleNamespace(lang=SimpleNamespace(
        Class=SimpleNamespace(forName=for_name))))
    with pytest.raises(RuntimeError, match="probe-broken"):
        iceberg_available(SimpleNamespace(_jvm=jvm))


def test_input_fingerprint_of_range_is_empty_and_failures_raise(
    spark, monkeypatch
):
    """A frame with no input files fingerprints as ""; an ``inputFiles()``
    that fails raises instead of dropping the input identity."""
    from valideer_spark.engine import _input_fingerprint

    df = spark.range(10)
    assert _input_fingerprint(df) == ""

    def broken(self):
        raise RuntimeError("input-files-broken")

    monkeypatch.setattr(type(df), "inputFiles", broken)
    with pytest.raises(RuntimeError, match="input-files-broken"):
        _input_fingerprint(df)


def test_resume_prunes_partitioned_scan(spark, tmp_path):
    """With the write_partitioned layout, a resumed run filters _part_id
    at the SOURCE: completed buckets appear in PartitionFilters and the
    scan reads zero rows when everything is checkpointed."""
    docs = synth_docs(spark, 400)
    data_path = str(tmp_path / "docs_bucketed")
    write_partitioned(docs, data_path, buckets=8)

    eng = ValidationEngine(
        doc_schema(), buckets=8, checkpoint_dir=str(tmp_path / "ckpt")
    )
    stored = spark.read.parquet(data_path)
    first = eng.run_with_checkpoint(stored, run_id="r1")
    assert first.count() == 8

    done = [r["part_id"] for r in eng.completed_partitions(spark).collect()]
    resumed_scan = spark.read.parquet(data_path).filter(
        ~F.col("_part_id").isin(done)
    )
    plan = resumed_scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "_part_id" in plan.split(
        "PartitionFilters"
    )[1][:200]

    second = eng.run_with_checkpoint(spark.read.parquet(data_path), run_id="r2")
    assert second.count() == 0  # nothing left to validate


def test_resume_partial_progress(spark, tmp_path):
    """Seed a checkpoint covering half the buckets; the resumed run
    validates exactly the other half."""
    docs = synth_docs(spark, 400)
    data_path = str(tmp_path / "docs_bucketed")
    write_partitioned(docs, data_path, buckets=8)
    eng = ValidationEngine(
        doc_schema(), buckets=8, checkpoint_dir=str(tmp_path / "ckpt")
    )
    stored = spark.read.parquet(data_path)
    half = stored.filter(F.col("_part_id") < 4)
    assert eng.run_with_checkpoint(half, run_id="r1").count() == 4

    rest = eng.run_with_checkpoint(stored, run_id="r2")
    got = sorted(r["part_id"] for r in rest.collect())
    assert got == [4, 5, 6, 7]


def _listing(root):
    return sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _, files in os.walk(root)
        for f in files
    )


def test_unreadable_checkpoint_raises(spark, tmp_path):
    """A checkpoint that exists but cannot be read is an error, not
    "nothing done": resuming must neither revalidate every partition nor
    append a second set of verdict rows to it."""
    docs = synth_docs(spark, 200)
    eng = ValidationEngine(doc_schema(), buckets=4, checkpoint_dir=str(tmp_path))
    assert eng.run_with_checkpoint(docs, run_id="r1").count() == 4
    ck = eng._checkpoint_path()
    data = [f for f in _listing(ck) if f.endswith(".parquet")]
    assert data
    for f in data:
        with open(os.path.join(ck, f), "wb") as fh:
            fh.write(b"not a parquet file")
    listing = _listing(ck)
    with pytest.raises(Exception):
        eng.run_with_checkpoint(docs, run_id="r2")
    assert _listing(ck) == listing


def _jarless(spark, fmt):
    if fmt == "iceberg" and iceberg_available(spark):
        pytest.skip("iceberg present: the checkpoint is a table")


def _engine(tmp_path, fmt, buckets):
    return ValidationEngine(
        doc_schema(),
        buckets=buckets,
        checkpoint_dir=str(tmp_path),
        checkpoint_format=fmt,
        checkpoint_table="ckpt.partition_checkpoints",
    )


def test_unknown_checkpoint_format_raises():
    with pytest.raises(ValueError, match="unsupported checkpoint_format 'delta'"):
        ValidationEngine(doc_schema(), checkpoint_format="delta")


@pytest.mark.parametrize("fmt", ["parquet", "iceberg"])
def test_all_done_resume_scans_nothing(
    spark, tmp_path, count_jobs, monkeypatch, fmt
):
    """With every bucket checkpointed, a resume over the write_partitioned
    layout reads the checkpoint and nothing else: one job (its ids; the
    schema is declared, not inferred), no predicate planned, no input file
    read, nothing appended; it returns no rows with the checkpoint's
    columns."""
    _jarless(spark, fmt)
    docs = synth_docs(spark, 400)
    data_path = str(tmp_path / "docs_bucketed")
    write_partitioned(docs, data_path, buckets=8)
    eng = _engine(tmp_path / "ckpt", fmt, 8)
    assert eng.run_with_checkpoint(spark.read.parquet(data_path), run_id="r1").count() == 8
    ck = eng._checkpoint_path()
    listing = _listing(ck)

    stored = spark.read.parquet(data_path)
    for f in _listing(data_path):
        if f.endswith(".parquet"):  # any scan of the input now fails
            with open(os.path.join(data_path, f), "wb") as fh:
                fh.write(b"not a parquet file")

    def no_check(*args, **kwargs):
        raise AssertionError("an all-done resume planned the predicate")

    monkeypatch.setattr(ValidationEngine, "check", no_check)
    out, jobs = count_jobs(lambda: eng.run_with_checkpoint(stored, run_id="r2"))
    assert jobs <= 1
    assert out.collect() == []
    assert out.columns == spark.read.parquet(ck).columns
    assert _listing(ck) == listing


@pytest.mark.parametrize("fmt", ["parquet", "iceberg"])
def test_declared_checkpoint_schema_is_the_stored_one(spark, tmp_path, fmt):
    """A resume reads the checkpoint with ``_CHECKPOINT_SCHEMA`` instead of
    inferring it: that schema is exactly what a run stores, in either
    format without the Iceberg runtime."""
    from valideer_spark.engine import _CHECKPOINT_SCHEMA

    _jarless(spark, fmt)
    eng = _engine(tmp_path, fmt, 4)
    docs = synth_docs(spark, 200)
    assert eng.run_with_checkpoint(docs, run_id="r1").count() == 4
    assert spark.read.parquet(eng._checkpoint_path()).schema == _CHECKPOINT_SCHEMA
    assert eng._checkpoint_rows(spark).schema == _CHECKPOINT_SCHEMA
    assert eng.run_with_checkpoint(docs, run_id="r2").count() == 0


def test_custom_long_partition_expr_resumes_to_nothing(spark, tmp_path):
    """A custom ``partition_expr`` stores a ``part_id`` of its own type (a
    long here, not the default bucketing's int), so its checkpoint is read
    with an inferred schema, and a resume over done buckets validates
    nothing."""
    docs = synth_docs(spark, 200)
    eng = ValidationEngine(
        doc_schema(),
        buckets=4,
        partition_expr=lambda c: F.pmod(F.substring(c, 5, 12).cast("long"), F.lit(4)),
        checkpoint_dir=str(tmp_path),
    )
    assert eng.run_with_checkpoint(docs, run_id="r1").count() == 4
    assert dict(spark.read.parquet(eng._checkpoint_path()).dtypes)["part_id"] == "bigint"
    assert eng.run_with_checkpoint(docs, run_id="r2").count() == 0


@pytest.mark.parametrize("fmt", ["parquet", "iceberg"])
def test_one_checkpoint_file_per_run(spark, tmp_path, fmt):
    """Each run appends one data file to the checkpoint, and returns the
    rows that file holds for its run id, in one partition."""
    _jarless(spark, fmt)
    docs = synth_docs(spark, 400)
    eng = _engine(tmp_path, fmt, 8)
    ck = eng._checkpoint_path()
    bucket = F.pmod(F.xxhash64("doc_id"), F.lit(8))
    for run_id, frame, n_rows, n_files in (
        ("r1", docs.filter(bucket < 3), 3, 1),
        ("r2", docs, 5, 2),
    ):
        out = eng.run_with_checkpoint(frame, run_id=run_id)
        assert out.rdd.getNumPartitions() == 1
        returned = out.collect()
        assert len(returned) == n_rows
        assert len([f for f in _listing(ck) if f.endswith(".parquet")]) == n_files
        stored = spark.read.parquet(ck).filter(F.col("run_id") == run_id)
        assert sorted(returned) == sorted(stored.collect())


def test_checkpoint_formats_store_the_same_rows(spark, tmp_path):
    """Without the Iceberg runtime both formats store the same verdict
    rows over a run on half the buckets, a run on all of them and an
    all-done resume."""
    _jarless(spark, "iceberg")
    docs = synth_docs(spark, 400)
    half = docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(4)) < 2)
    cols = ("part_id", "n_docs", "n_valid", "n_violations", "pass", "run_id")
    stored = {}
    for fmt in ("parquet", "iceberg"):
        eng = _engine(tmp_path / fmt, fmt, 4)
        for run_id, frame in (("r1", half), ("r2", docs), ("r3", docs)):
            eng.run_with_checkpoint(frame, run_id=run_id)
        rows = spark.read.parquet(eng._checkpoint_path()).select(*cols)
        stored[fmt] = sorted(rows.collect())
    assert len(stored["parquet"]) == 4
    assert stored["iceberg"] == stored["parquet"]


def test_jarless_iceberg_checkpoint_keeps_one_row_per_bucket(spark, tmp_path):
    """checkpoint_format='iceberg' without jars: the engine appends to
    the parquet checkpoint under checkpoint_dir — resume converges, and
    the checkpoint holds ONE row per partition, as a MERGE would leave
    it: a run only writes buckets not yet checkpointed."""
    _jarless(spark, "iceberg")
    docs = synth_docs(spark, 300)
    eng = _engine(tmp_path, "iceberg", 8)
    first = eng.run_with_checkpoint(docs, run_id="r1")
    assert first.count() == 8
    assert {r["run_id"] for r in first.collect()} == {"r1"}

    # full re-run: everything checkpointed -> nothing revalidated
    second = eng.run_with_checkpoint(docs, run_id="r2")
    assert second.count() == 0

    # one row per partition, not 8 + history
    stored = eng.completed_partitions(spark)
    assert stored is not None
    assert stored.count() == 8

    # checkpoint granularity is the BUCKET (documented contract): new
    # docs landing in already-completed buckets are skipped on resume
    more = synth_docs(spark, 600)
    third = eng.run_with_checkpoint(more, run_id="r3")
    assert third.count() == 0
    assert eng.completed_partitions(spark).count() == 8  # still one/bucket


@pytest.mark.parametrize("fmt", ["parquet", "iceberg"])
def test_checkpoint_probe_is_not_driver_local(spark, tmp_path, monkeypatch, fmt):
    """The engine probes its checkpoint through the Hadoop FileSystem, not
    os.path: a driver-local check reads False for an HDFS/S3 checkpoint
    dir, so every resume would revalidate all buckets and append their
    verdict rows again. With os.path.exists forced to False, a resume
    still sees every bucket done."""
    _jarless(spark, fmt)
    docs = synth_docs(spark, 200)
    eng = _engine(tmp_path, fmt, 4)
    assert eng.run_with_checkpoint(docs, run_id="r1").count() == 4

    monkeypatch.setattr(os.path, "exists", lambda p: False)
    assert eng.run_with_checkpoint(docs, run_id="r2").count() == 0
    assert eng.completed_partitions(spark).count() == 4


def test_completed_at_is_stamped_after_the_work(spark, tmp_path):
    """``completed_at`` is taken when the verdict rows are in, not when
    the run is planned: on a slowed input it is at least the run's start
    plus its measured wall seconds."""
    import time

    slow = F.udf(lambda s: (time.sleep(0.1), s)[1], "string")
    docs = synth_docs(spark, 25).coalesce(1).withColumn("doc_id", slow("doc_id"))
    eng = ValidationEngine(doc_schema(), buckets=4, checkpoint_dir=str(tmp_path))
    t0 = time.time()
    rows = eng.run_with_checkpoint(docs, run_id="r1").collect()
    t1 = time.time()
    assert rows
    for r in rows:
        assert r["wall_secs"] >= 2.0
        # wall_secs is rounded to milliseconds
        assert int(t0 + r["wall_secs"] - 0.001) <= r["completed_at"] <= t1


def test_checkpoint_lineage_columns(spark, tmp_path):
    """Checkpoint rows carry full lineage: run id, timestamps, measured
    wall seconds, and the input-file fingerprint (stable across runs of
    the same files, distinct for different inputs)."""
    docs = synth_docs(spark, 200)
    p = str(tmp_path / "docs")
    docs.write.parquet(p)
    eng = ValidationEngine(doc_schema(), buckets=4,
                           checkpoint_dir=str(tmp_path / "ck"))
    out = eng.run_with_checkpoint(spark.read.parquet(p), run_id="r1")
    rows = out.collect()
    assert {"run_id", "completed_at", "input_fingerprint", "wall_secs"} <= set(out.columns)
    assert all(r["wall_secs"] > 0 for r in rows)
    fps = {r["input_fingerprint"] for r in rows}
    assert len(fps) == 1 and list(fps)[0] != ""


def test_reserved_columns_not_validated(spark, tmp_path):
    """A bucketed layout's _part_id (and re-check artifacts) are engine
    columns, not document properties: a closed schema must not flag them."""
    from valideer_spark import core as V
    from valideer_spark.plans import compile_plan

    df = spark.range(5).selectExpr("CAST(id AS STRING) AS doc_id",
                                   "CAST(id % 2 AS INT) AS _part_id")
    plan = compile_plan(
        V.Object(required={"doc_id": "string"}, additional=False), df
    )
    out = plan.check(df, adapt=False)
    assert all(r["_valid"] for r in out.collect())


def test_resume_with_custom_partition_expr_does_not_source_prune(spark, tmp_path):
    """A custom partition_expr must DISABLE stored-_part_id source
    pruning: the layout on disk is xxhash-bucketed (write_partitioned),
    so its directories do not correspond to the custom buckets — pruning
    on them would silently skip pending rows (regression for the
    mismatched-bucketing data-loss hazard)."""
    docs = synth_docs(spark, 400)
    data_path = str(tmp_path / "docs_bucketed")
    write_partitioned(docs, data_path, buckets=8)  # xxhash64 layout

    suffix_mod = lambda c: F.pmod(  # noqa: E731
        F.substring(c, 5, 12).cast("long"), F.lit(8)
    ).cast("int")
    eng = ValidationEngine(
        doc_schema(),
        buckets=8,
        partition_expr=suffix_mod,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )

    stored = spark.read.parquet(data_path)
    # run 1: complete custom buckets 0-3 only (filter on the RECOMPUTED
    # custom bucket, independent of the stored layout)
    part1 = stored.filter(suffix_mod(F.col("doc_id")) < 4)
    first = eng.run_with_checkpoint(part1, run_id="r1")
    assert first.count() == 4

    # run 2 over the FULL stored layout: exactly the docs of custom
    # buckets 4-7 must be validated — with stored-column pruning active,
    # rows whose STORED xxhash bucket collides with a completed custom id
    # would be skipped before validation and this count would come short
    expected = stored.filter(suffix_mod(F.col("doc_id")) >= 4).count()
    second = eng.run_with_checkpoint(stored, run_id="r2")
    rows = second.collect()
    assert {r["part_id"] for r in rows} == {4, 5, 6, 7}
    assert sum(r["n_docs"] for r in rows) == expected


def test_non_total_partition_expr_converges_via_sentinel(spark, tmp_path):
    """A custom partition_expr that yields NULL for some ids (non-total)
    must still converge: NULL bucket ids coalesce to the sentinel bucket
    -1, so those rows checkpoint like any other bucket and a re-run over
    the same input validates nothing (regression for the
    revalidate-forever hazard)."""
    docs = synth_docs(spark, 300)

    # partial expr: even numeric suffixes bucket normally, odd -> NULL
    def partial(c):
        n = F.substring(c, 5, 12).cast("long")
        return F.when(n % 2 == 0, F.pmod(n, F.lit(4)).cast("int"))

    eng = ValidationEngine(
        doc_schema(),
        buckets=4,
        partition_expr=partial,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    first = eng.run_with_checkpoint(docs, run_id="r1")
    parts = {r["part_id"] for r in first.collect()}
    assert -1 in parts  # the NULL rows landed in the sentinel bucket
    assert sum(r["n_docs"] for r in first.collect()) == 300

    # identical re-run: everything (sentinel included) is checkpointed
    second = eng.run_with_checkpoint(docs, run_id="r2")
    assert second.count() == 0


def test_partition_expr_emitting_reserved_sentinel_raises(spark, tmp_path):
    """Bucket -1 is RESERVED as the NULL sentinel: a custom
    partition_expr that legitimately emits -1 would silently merge those
    rows into the sentinel bucket (and checkpoint them at its
    granularity), so the engine raises mid-job instead (documented
    partition_expr contract)."""
    docs = synth_docs(spark, 50)

    def collides(c):
        n = F.substring(c, 5, 12).cast("long")
        return (F.pmod(n, F.lit(4)) - F.lit(1)).cast("int")  # emits -1

    eng = ValidationEngine(
        doc_schema(),
        buckets=4,
        partition_expr=collides,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    with pytest.raises(Exception, match="reserved bucket id -1"):
        eng.run_with_checkpoint(docs, run_id="r1")


def test_write_partitioned_files_per_bucket_bounds_files(spark, tmp_path):
    """files_per_bucket > 1 splits each bucket over at most that many
    write tasks: no _part_id directory holds more files than that, and
    the layout reads back the same rows."""
    docs = synth_docs(spark, 400)
    path = str(tmp_path / "docs")
    write_partitioned(docs, path, buckets=4, files_per_bucket=2)

    part_dirs = [d for d in os.listdir(path) if d.startswith("_part_id=")]
    assert 0 < len(part_dirs) <= 4
    files = {
        d: [f for f in os.listdir(os.path.join(path, d)) if f.endswith(".parquet")]
        for d in part_dirs
    }
    assert max(len(fs) for fs in files.values()) == 2
    back = spark.read.parquet(path).select(*docs.columns)
    assert sorted(map(repr, back.collect())) == sorted(map(repr, docs.collect()))


@pytest.fixture
def shuffle_conf(spark):
    """``shuffle_conf(aqe, partitions)`` sets AQE and the shuffle width
    for one test and restores both afterwards."""
    keys = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    saved = {k: spark.conf.get(k) for k in keys}

    def set_conf(aqe, partitions):
        spark.conf.set(keys[0], str(aqe).lower())
        spark.conf.set(keys[1], str(partitions))

    yield set_conf
    for k, v in saved.items():
        spark.conf.set(k, v)


def _one_file_per_bucket(path, frame, cols):
    """Every ``_part_id=`` directory under ``path`` holds exactly one
    parquet file, one directory per bucket of ``frame``, and the layout
    reads back ``frame``'s rows (order-free)."""
    part_dirs = sorted(d for d in os.listdir(path) if d.startswith("_part_id="))
    buckets = sorted(
        "_part_id=%d" % r[0] for r in frame.select("_part_id").distinct().collect()
    )
    assert part_dirs == buckets
    for d in part_dirs:
        files = [f for f in os.listdir(os.path.join(path, d)) if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)
    back = frame.sparkSession.read.parquet(path).select(*cols)
    assert sorted(map(repr, back.collect())) == sorted(
        map(repr, frame.select(*cols).collect())
    )


@pytest.mark.parametrize("aqe", [True, False])
@pytest.mark.parametrize("partitions", [3, 64])
def test_one_file_per_bucket_under_any_shuffle_width(
    spark, tmp_path, shuffle_conf, aqe, partitions
):
    """A bucketed write repartitions by ``_part_id`` alone, so its width
    follows ``spark.sql.shuffle.partitions`` (below or above ``buckets``)
    and AQE may coalesce it, yet every bucket directory of
    ``write_partitioned`` and of both ``write_quarantine`` sinks holds one
    file, with the rows the check produced."""
    shuffle_conf(aqe, partitions)
    docs = synth_docs(spark, 400)
    path = str(tmp_path / "docs")
    write_partitioned(docs, path, buckets=8)
    bucketed = docs.withColumn("_part_id", F.pmod(F.xxhash64("doc_id"), F.lit(8)).cast("int"))
    _one_file_per_bucket(path, bucketed, bucketed.columns)

    report = ValidationEngine(doc_schema(), buckets=8).check(docs)
    valid, bad = str(tmp_path / "valid"), str(tmp_path / "bad")
    write_quarantine(report, valid, bad)
    annotated = report.annotated
    payload = [*docs.columns, "_part_id"]
    _one_file_per_bucket(valid, annotated.filter(F.col("_valid")), payload)
    quarantined = explode_violations(annotated, payload, prefix="violation_")
    _one_file_per_bucket(bad, quarantined, quarantined.columns)


def test_write_partitioned_rejects_unsupported_fmt(spark, tmp_path):
    path = str(tmp_path / "docs")
    with pytest.raises(ValueError, match="unsupported fmt 'csv'"):
        write_partitioned(synth_docs(spark, 10), path, buckets=4, fmt="csv")
    assert not os.path.exists(path)
