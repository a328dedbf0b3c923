"""Iceberg table support (scan, snapshot time travel, checkpoint MERGE).

The target deployment (BASELINE north star) reads/writes Iceberg tables:
snapshot-pruned scans, ``snapshot-id`` / ``as-of-timestamp`` time travel,
and a checkpoint table maintained with ``MERGE INTO`` keyed by partition
id. Without the Iceberg jars every entry point:

* detects availability at runtime (:func:`iceberg_available`) instead of
  import-failing, and
* degrades to the parquet layout used everywhere else in the repo, keeping
  the API (and the generated SQL, which IS unit-tested) identical.
  ``ValidationEngine(checkpoint_format='iceberg')`` then keeps the parquet
  checkpoint, whose runs append only buckets not yet checkpointed.
  :func:`read_table` reads the current parquet files; time travel needs
  the runtime.

Drift across snapshots is one stored
``operators/drift.py::quantile_sketch_table`` per snapshot; on an Iceberg
runtime, ``read_table(snapshot_id=)`` gives the frame of a snapshot that
such a sketch, or ``psi_drift``, is built from.

On a real cluster, enable with the standard session configs::

    spark.sql.extensions=org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions
    spark.sql.catalog.<name>=org.apache.iceberg.spark.SparkCatalog
"""

from __future__ import annotations

from typing import Optional, Sequence

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` via the Hadoop FS API — existence
    probes and listings that work on ANY configured filesystem (local,
    HDFS, S3A), unlike driver-local ``os.path`` checks which silently
    report False for remote checkpoint dirs."""
    jvm = spark._jvm  # type: ignore[union-attr]
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())  # type: ignore[union-attr]
    return fs, hpath


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg runtime is on the classpath. A missing class
    reaches Python as a ``Py4JJavaError`` wrapping
    ``ClassNotFoundException``; any other failure raises."""
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Py4JJavaError:
        return False


def read_table(
    spark: SparkSession,
    identifier: str,
    fmt: str = "parquet",
    snapshot_id: Optional[int] = None,
    as_of_timestamp: Optional[int] = None,
) -> DataFrame:
    """Scan a table; Iceberg gets snapshot/time-travel options, parquet is
    the sandbox fallback (``identifier`` is a path).

    Snapshot pruning note: with ``fmt='iceberg'`` the returned scan prunes
    both partitions and files from table metadata before any task launches;
    predicate/column pushdown applies identically to both branches.
    """
    if fmt == "iceberg":
        reader = spark.read.format("iceberg")
        if snapshot_id is not None:
            reader = reader.option("snapshot-id", str(snapshot_id))
        if as_of_timestamp is not None:
            reader = reader.option("as-of-timestamp", str(as_of_timestamp))
        return reader.load(identifier)
    if snapshot_id is not None or as_of_timestamp is not None:
        raise ValueError(
            "snapshot_id/as-of-timestamp time travel requires fmt='iceberg'"
            " (a parquet path holds only its current files)"
        )
    return spark.read.parquet(identifier)


def checkpoint_merge_sql(
    target: str,
    source_view: str,
    key_cols: Sequence[str] = ("part_id",),
    *,
    update_cols: Sequence[str],
) -> str:
    """The Iceberg ``MERGE INTO`` statement maintaining the partition
    checkpoint table: one row per partition id, last completed run wins.
    ``update_cols`` names every non-key column the MERGE copies over.

    Unit-testable without jars; executed verbatim by
    :func:`merge_checkpoint` when the runtime is present.
    """
    on = " AND ".join(f"t.{k} = s.{k}" for k in key_cols)
    sets = ", ".join(f"t.{c} = s.{c}" for c in update_cols)
    cols = ", ".join([*key_cols, *update_cols])
    vals = ", ".join(f"s.{c}" for c in [*key_cols, *update_cols])
    return (
        f"MERGE INTO {target} t\n"
        f"USING {source_view} s\n"
        f"ON {on}\n"
        f"WHEN MATCHED THEN UPDATE SET {sets}\n"
        f"WHEN NOT MATCHED THEN INSERT ({cols}) VALUES ({vals})"
    )


def merge_checkpoint(
    spark: SparkSession,
    target: str,
    verdicts: DataFrame,
    key_cols: Sequence[str] = ("part_id",),
) -> None:
    """Upsert verdict rows into the Iceberg checkpoint table.

    The source is a few hundred rows (<= engine buckets), so the MERGE's
    join broadcasts; conflicts resolve per partition key (idempotent
    re-runs — the reason MERGE beats blind append at scale).
    """
    update_cols = [c for c in verdicts.columns if c not in key_cols]
    view = "checkpoint_merge_source"
    verdicts.createOrReplaceTempView(view)
    spark.sql(
        checkpoint_merge_sql(target, view, key_cols, update_cols=update_cols)
    )
