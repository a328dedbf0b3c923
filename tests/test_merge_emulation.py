"""Executable MERGE INTO semantics without the Iceberg runtime.

The north-star checkpoint contract is an Iceberg table maintained with
``MERGE INTO`` keyed by partition id (sources/iceberg.py).
``merge_checkpoint_emulated`` EXECUTES the same matched→update /
not-matched→insert semantics on a parquet directory and keeps the
numbered snapshots that the drift operator compares. The engine does not
write through it: without the runtime, ``checkpoint_format='iceberg'``
runs the parquet checkpoint, which these tests also check end to end.
"""

import pytest
from pyspark.sql import functions as F

from valideer_spark.engine import ValidationEngine
from valideer_spark.flagship import doc_schema
from valideer_spark.sources import synth_docs
from valideer_spark.sources.iceberg import (
    iceberg_available,
    merge_checkpoint_emulated,
)


def test_merge_emulated_upsert_semantics(spark, tmp_path):
    path = str(tmp_path / "ckpt")
    r1 = spark.createDataFrame(
        [(1, 10, "r1"), (2, 20, "r1")], "part_id int, n_docs long, run_id string"
    )
    out1 = merge_checkpoint_emulated(spark, path, r1)
    assert sorted(tuple(r) for r in out1.collect()) == [
        (1, 10, "r1"), (2, 20, "r1"),
    ]

    # matched key 2 updates in place, new key 3 inserts, key 1 untouched
    r2 = spark.createDataFrame(
        [(2, 99, "r2"), (3, 30, "r2")], "part_id int, n_docs long, run_id string"
    )
    out2 = merge_checkpoint_emulated(spark, path, r2)
    assert sorted(tuple(r) for r in out2.collect()) == [
        (1, 10, "r1"), (2, 99, "r2"), (3, 30, "r2"),
    ]

    # idempotent re-merge: same source, same table after (the property
    # that makes re-run-after-crash safe — the reason MERGE beats append)
    out3 = merge_checkpoint_emulated(spark, path, r2)
    assert sorted(tuple(r) for r in out3.collect()) == [
        (1, 10, "r1"), (2, 99, "r2"), (3, 30, "r2"),
    ]

    # the merged table is what a fresh reader sees
    assert sorted(tuple(r) for r in spark.read.parquet(path).collect()) == [
        (1, 10, "r1"), (2, 99, "r2"), (3, 30, "r2"),
    ]


def test_engine_iceberg_checkpoint_emulated(spark, tmp_path):
    """checkpoint_format='iceberg' without jars: the engine appends to
    the parquet checkpoint under checkpoint_dir — resume converges, and
    the checkpoint holds ONE row per partition, as a MERGE would leave
    it: a run only writes buckets not yet checkpointed."""
    if iceberg_available(spark):
        pytest.skip("iceberg present: real MERGE path covered elsewhere")

    docs = synth_docs(spark, 300)
    eng = ValidationEngine(
        doc_schema(),
        buckets=8,
        checkpoint_format="iceberg",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
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


def test_engine_iceberg_without_dir_still_graceful(spark):
    """No jars AND no checkpoint_dir: nothing to fall back to — the probe
    behavior (return None, no raise) is preserved."""
    if iceberg_available(spark):
        pytest.skip("iceberg present")
    eng = ValidationEngine(
        doc_schema(), checkpoint_format="iceberg", checkpoint_table="nope.ckpt"
    )
    assert eng.completed_partitions(spark) is None


def test_merge_emulated_probe_is_not_driver_local(spark, tmp_path, monkeypatch):
    """Checkpoint existence is probed through the Hadoop FileSystem, not
    os.path — a driver-local check is always False for an HDFS/S3
    checkpoint dir, which would make every merge OVERWRITE the stored
    rows with only the incoming ones (resume would alternate between
    full revalidation and a wiped checkpoint). Simulate that failure
    mode by forcing os.path.exists to False: the merge must still see
    the stored side."""
    import os.path

    path = str(tmp_path / "ckpt")
    r1 = spark.createDataFrame(
        [(1, 10, "r1")], "part_id int, n_docs long, run_id string"
    )
    merge_checkpoint_emulated(spark, path, r1)

    monkeypatch.setattr(os.path, "exists", lambda p: False)
    r2 = spark.createDataFrame(
        [(2, 20, "r2")], "part_id int, n_docs long, run_id string"
    )
    out = merge_checkpoint_emulated(spark, path, r2)
    assert sorted(tuple(r) for r in out.collect()) == [
        (1, 10, "r1"), (2, 20, "r2"),
    ]


def test_merge_emulated_driver_size_guard(spark, tmp_path):
    """The emulated MERGE materializes both sides on the driver — fine
    for the <=buckets-row checkpoint table, a silent scale hazard for
    anything else. max_rows turns that hazard into a loud error."""
    path = str(tmp_path / "ckpt")
    big = spark.range(50).select(
        F.col("id").cast("int").alias("part_id"),
        F.lit(1).cast("long").alias("n_docs"),
        F.lit("r1").alias("run_id"),
    )
    with pytest.raises(ValueError, match="driver-bounded"):
        merge_checkpoint_emulated(spark, path, big, max_rows=10)

    # stored side is guarded too
    merge_checkpoint_emulated(spark, path, big, max_rows=100)
    small = spark.createDataFrame(
        [(1, 2, "r2")], "part_id int, n_docs long, run_id string"
    )
    with pytest.raises(ValueError, match="driver-bounded"):
        merge_checkpoint_emulated(spark, path, small, max_rows=10)


def test_merge_emulated_snapshot_time_travel(spark, tmp_path):
    """keep_snapshots retains numbered merged states under _snapshots/
    and read_table(version=N) time-travels across them on the parquet
    fallback — the jarless twin of Iceberg's snapshot-id scans. Retention
    prunes the oldest; snapshots live in a SIBLING dir (the checkpoint
    overwrite deletes the table dir wholesale), so plain reads of the
    checkpoint root are unaffected."""
    from valideer_spark.sources.iceberg import read_table, snapshot_versions

    path = str(tmp_path / "ckpt")
    states = []
    for v, (key, n) in enumerate([(1, 10), (2, 20), (1, 99)], start=1):
        src = spark.createDataFrame(
            [(key, n, f"r{v}")], "part_id int, n_docs long, run_id string"
        )
        out = merge_checkpoint_emulated(
            spark, path, src, keep_snapshots=2
        )
        states.append(sorted(tuple(r) for r in out.collect()))

    # last two snapshots retained, oldest pruned
    assert snapshot_versions(spark, path) == [2, 3]
    got_v2 = sorted(
        tuple(r) for r in read_table(spark, path, version=2).collect()
    )
    assert got_v2 == states[1]
    got_v3 = sorted(
        tuple(r) for r in read_table(spark, path, version=3).collect()
    )
    assert got_v3 == states[2]
    assert got_v3 == sorted(
        tuple(r) for r in spark.read.parquet(path).collect()
    )

    # pruned / never-written versions raise loudly
    with pytest.raises(ValueError, match="not retained"):
        read_table(spark, path, version=1)
    # snapshot-id spelling still requires the Iceberg runtime
    with pytest.raises(ValueError, match="fmt='iceberg'"):
        read_table(spark, path, snapshot_id=2)
