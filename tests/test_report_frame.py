"""Lifetime of a report's cached frame: each report output reads one
persisted frame, and no cached relation outlives its report or a call
that does not use one."""

import gc
import os
import sys
import threading

import pytest

from valideer_spark.engine import ValidationEngine, write_quarantine
from valideer_spark.flagship import doc_schema
from valideer_spark.sources import synth_docs
from valideer_spark.sources.docs import DOCS_SCHEMA
from valideer_spark.streaming import IncrementalValidator


@pytest.fixture
def cache_manager(spark):
    gc.collect()
    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty()
    return cm


def _outputs(report):
    return {
        "verdicts": report.verdicts(),
        "verdict_rollup": report.verdict_rollup(),
        "violation_rows": report.violation_rows(),
        "metrics": report.metrics(),
        "partition_metrics": report.partition_metrics(),
    }


def _rows(outputs):
    return {name: sorted(map(tuple, df.collect()), key=repr) for name, df in outputs.items()}


def test_unpersist_releases_and_outputs_survive(spark, cache_manager):
    persistent_rdds = spark.sparkContext._jsc.getPersistentRDDs().size()
    report = ValidationEngine(doc_schema(), buckets=8).check(synth_docs(spark, 300))
    outputs = _outputs(report)
    assert not cache_manager.isEmpty()
    before = _rows(outputs)
    assert before["violation_rows"]
    report.unpersist()
    assert cache_manager.isEmpty()
    report.unpersist()  # idempotent
    assert cache_manager.isEmpty()
    # outputs built before the release recompute the same rows, and
    # re-running them caches nothing behind the cache manager's back
    assert _rows(outputs) == before
    assert cache_manager.isEmpty()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == persistent_rdds
    # a later call caches a fresh frame, released again with the report
    assert _rows(_outputs(report)) == before
    assert not cache_manager.isEmpty()
    del report, outputs
    gc.collect()
    assert cache_manager.isEmpty()


def test_dropping_the_report_releases_its_frame(spark, cache_manager):
    report = ValidationEngine(doc_schema(), buckets=8).check(synth_docs(spark, 100))
    assert report.verdicts().collect()
    assert not cache_manager.isEmpty()
    del report
    gc.collect()
    assert cache_manager.isEmpty()


def test_racing_first_calls_persist_one_frame(spark, cache_manager):
    report = ValidationEngine(doc_schema(), buckets=8).check(synth_docs(spark, 100))
    frames, annotated = [], []
    barrier = threading.Barrier(8)

    def first_call():
        barrier.wait(timeout=60)
        annotated.append(report.annotated)
        frames.append(report._frame())

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=first_call) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(frames) == 8 and all(f is frames[0] for f in frames)
    assert len(annotated) == 8 and all(a is annotated[0] for a in annotated)
    report.unpersist()
    assert cache_manager.isEmpty()


def test_checkpoint_quarantine_and_stream_cache_nothing(spark, tmp_path, cache_manager):
    docs = synth_docs(spark, 300)
    eng = ValidationEngine(doc_schema(), buckets=8, checkpoint_dir=str(tmp_path / "ck"))
    assert eng.run_with_checkpoint(docs, run_id="r1").collect()
    assert cache_manager.isEmpty()
    write_quarantine(eng.check(docs), str(tmp_path / "valid"), str(tmp_path / "bad"))
    gc.collect()
    assert cache_manager.isEmpty()

    input_dir = str(tmp_path / "in")
    docs.coalesce(1).write.parquet(input_dir)
    iv = IncrementalValidator(doc_schema(), DOCS_SCHEMA, str(tmp_path / "out"), buckets=8)
    verdicts = iv.run_available(spark, input_dir)
    assert verdicts.groupBy().sum("n_docs").collect()[0][0] == 300
    assert spark.read.parquet(os.path.join(str(tmp_path / "out"), "violations")).count() > 0
    gc.collect()
    assert cache_manager.isEmpty()


@pytest.mark.parametrize(
    "adapt, engine_cols",
    [
        (False, ["_valid", "_violations", "_n_violations", "_part_id"]),
        (True, ["_valid", "_violations", "_n_violations", "_adapted", "_part_id"]),
    ],
)
def test_annotated_columns_are_built_on_first_read(spark, adapt, engine_cols):
    """``checked`` holds no violation tree; ``annotated`` adds
    ``_violations`` between ``_valid`` and ``_n_violations`` on its first
    read, and every later read returns the same frame."""
    report = ValidationEngine(doc_schema(), buckets=8).check(
        synth_docs(spark, 50), adapt=adapt
    )
    lean = [c for c in engine_cols if c != "_violations"]
    assert report.checked.columns == ["doc_id", "spans", *lean]
    assert report.annotated.columns == ["doc_id", "spans", *engine_cols]
    assert report.annotated is report.annotated
