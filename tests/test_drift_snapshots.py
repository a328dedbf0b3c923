"""Drift compared ACROSS SNAPSHOTS of one table (north-star sentence:
"distribution-drift checks via t-digest quantile sketches compared
across snapshots"; the persisted sketches are KLL, see
``operators/drift.py::quantile_sketch_table``).

Each snapshot stores one sketch table when it is taken; two stored tables
are compared later without rescanning either snapshot. PSI compares the
two snapshots' frames directly (on an Iceberg runtime,
``read_table(snapshot_id=)`` gives them). The drift math itself is
oracle-gated; these tests pin the shift-detection outcome end to end.
"""

import pytest
from pyspark.sql import functions as F

from valideer_spark.operators.drift import (
    drift_between_sketch_tables,
    psi_drift,
    quantile_sketch_table,
)

RUNS = (("r1", 0.0), ("r2", 0.0), ("r3", 50.0))


def _metrics_frame(spark, run_id, shift):
    """Keyed per-partition metrics table: 64 buckets whose mean_nchars
    distribution is shifted by ``shift``."""
    return spark.range(64).select(
        F.col("id").cast("int").alias("part_id"),
        (
            F.lit(100.0)
            + F.pmod(F.xxhash64("id", F.lit(run_id)), F.lit(41)).cast("double")
            + F.lit(float(shift))
        ).alias("mean_nchars"),
        F.lit(run_id).alias("run_id"),
    )


@pytest.fixture()
def snapshots(spark):
    return {run: _metrics_frame(spark, run, shift) for run, shift in RUNS}


def test_sketch_tables_detect_shift_across_snapshots(spark, tmp_path, snapshots):
    # one stored sketch table per snapshot, compared from the files alone
    for run, frame in snapshots.items():
        quantile_sketch_table(frame, "mean_nchars").write.parquet(
            str(tmp_path / run)
        )
    stored = {run: spark.read.parquet(str(tmp_path / run)) for run in snapshots}

    rows = drift_between_sketch_tables(stored["r2"], stored["r3"])
    assert [r[0] for r in rows] == [0.01, 0.05, 0.25, 0.5, 0.75, 0.95, 0.99]
    med = next(r for r in rows if r[0] == 0.5)
    assert med[3] == pytest.approx(50.0, abs=5.0)

    # a pair of unshifted snapshots: the xxhash64 seeds differ by run_id,
    # so quantiles of the SAME distribution family stay close
    calm = drift_between_sketch_tables(stored["r1"], stored["r2"])
    assert max(r[3] for r in calm) < 15.0


def test_psi_detects_shift_across_snapshots(snapshots):
    breaks = [110.0, 120.0, 130.0, 140.0]
    rows = psi_drift(
        snapshots["r2"], snapshots["r3"], "mean_nchars", breaks
    ).collect()
    assert [r["bucket"] for r in rows] == [0, 1, 2, 3, 4]
    psi = sum(r["psi_term"] for r in rows)
    assert psi > 0.25  # +50 shift moves every row past the top break

    calm = psi_drift(
        snapshots["r1"], snapshots["r2"], "mean_nchars", breaks
    ).collect()
    assert sum(r["psi_term"] for r in calm) < 0.1
