"""Drift compared ACROSS SNAPSHOTS of one table (north-star sentence:
"distribution-drift checks via t-digest quantile sketches compared
across snapshots"; the persisted sketches are KLL, see
``operators/drift.py::quantile_sketch_table``).

``drift_across_snapshots`` reads two retained versions through
``read_table(version=...)`` — real Iceberg ``snapshot-id`` scans when
the runtime exists, the jarless numbered-snapshot emulation here — and
lowers to the existing quantile/PSI drift operators, so the drift math
itself is already oracle-gated; these tests pin the snapshot plumbing
and the shift-detection outcome end-to-end.
"""

import pytest
from pyspark.sql import functions as F

from valideer_spark.operators.drift import drift_across_snapshots
from valideer_spark.sources.iceberg import merge_checkpoint_emulated


def _metrics_frame(spark, run_id, shift):
    """Keyed per-partition metrics table: 64 buckets whose mean_nchars
    distribution is shifted by ``shift`` — the shape the engine's
    checkpoint MERGE maintains."""
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
def snapshotted_table(spark, tmp_path):
    path = str(tmp_path / "metrics")
    for v, (run, shift) in enumerate(
        [("r1", 0.0), ("r2", 0.0), ("r3", 50.0)], start=1
    ):
        merge_checkpoint_emulated(
            spark,
            path,
            _metrics_frame(spark, run, shift),
            keep_snapshots=3,
        )
    return path


def test_quantile_drift_across_snapshots_detects_shift(spark, snapshotted_table):
    # default versions: previous (v2, unshifted) vs latest (v3, +50)
    rows = drift_across_snapshots(
        spark, snapshotted_table, "mean_nchars"
    ).collect()
    assert [r["prob"] for r in rows] == [0.01, 0.05, 0.25, 0.5, 0.75, 0.95, 0.99]
    med = next(r for r in rows if r["prob"] == 0.5)
    assert med["abs_diff"] == pytest.approx(50.0, abs=5.0)

    # explicit pair of unshifted snapshots: same xxhash64 seeds differ by
    # run_id, so quantiles of the SAME distribution family stay close
    calm = drift_across_snapshots(
        spark, snapshotted_table, "mean_nchars", version_a=1, version_b=2
    ).collect()
    assert max(r["abs_diff"] for r in calm) < 15.0


def test_psi_drift_across_snapshots(spark, snapshotted_table):
    breaks = [110.0, 120.0, 130.0, 140.0]
    rows = drift_across_snapshots(
        spark,
        snapshotted_table,
        "mean_nchars",
        mode="psi",
        breaks=breaks,
    ).collect()
    assert [r["bucket"] for r in rows] == [0, 1, 2, 3, 4]
    psi = sum(r["psi_term"] for r in rows)
    assert psi > 0.25  # +50 shift moves every row past the top break

    calm = drift_across_snapshots(
        spark,
        snapshotted_table,
        "mean_nchars",
        mode="psi",
        breaks=breaks,
        version_a=1,
        version_b=2,
    ).collect()
    assert sum(r["psi_term"] for r in calm) < 0.1


def test_drift_across_snapshots_guardrails(spark, tmp_path, snapshotted_table):
    empty = str(tmp_path / "never_snapshotted")
    with pytest.raises(ValueError, match="two retained snapshots"):
        drift_across_snapshots(spark, empty, "mean_nchars")
    with pytest.raises(ValueError, match="breaks"):
        drift_across_snapshots(
            spark, snapshotted_table, "mean_nchars", mode="psi"
        )
    with pytest.raises(ValueError, match="mode"):
        drift_across_snapshots(
            spark, snapshotted_table, "mean_nchars", mode="nope"
        )
