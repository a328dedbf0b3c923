"""Iceberg table support (scan, snapshot time travel, checkpoint MERGE).

The target deployment (BASELINE north star) reads/writes Iceberg tables:
snapshot-pruned scans, time-travel drift comparisons, and a checkpoint
table maintained with ``MERGE INTO`` keyed by partition id. Without the
Iceberg jars every entry point:

* detects availability at runtime (:func:`iceberg_available`) instead of
  import-failing, and
* degrades to the parquet layout used everywhere else in the repo, keeping
  the API (and the generated SQL, which IS unit-tested) identical.
  ``ValidationEngine(checkpoint_format='iceberg')`` then keeps the parquet
  checkpoint, whose runs append only buckets not yet checkpointed.

:func:`merge_checkpoint_emulated` executes the keyed upsert on a parquet
directory and can retain numbered snapshots of it: the jarless snapshot
log that :func:`read_table(version=...)` and
``operators/drift.py::drift_across_snapshots`` read. The engine does not
write through it.

On a real cluster, enable with the standard session configs::

    spark.sql.extensions=org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions
    spark.sql.catalog.<name>=org.apache.iceberg.spark.SparkCatalog
"""

from __future__ import annotations

import re
from typing import List, Optional, Sequence

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession

#: suffix of the SIBLING directory (``<table>_snapshots/v=<n>``) holding
#: numbered merged states — the parquet-fallback twin of Iceberg's snapshot
#: log, enabling time travel without jars. A sibling (not a subdir) because
#: the checkpoint overwrite deletes the table directory wholesale.
_SNAPSHOT_SUFFIX = "_snapshots"


def _snapshot_root(path: str) -> str:
    return path.rstrip("/") + _SNAPSHOT_SUFFIX


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` via the Hadoop FS API — existence
    probes and listings that work on ANY configured filesystem (local,
    HDFS, S3A), unlike driver-local ``os.path`` checks which silently
    report False for remote checkpoint dirs."""
    jvm = spark._jvm  # type: ignore[union-attr]
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())  # type: ignore[union-attr]
    return fs, hpath


def _checkpoint_exists(spark: SparkSession, path: str) -> bool:
    """True iff a committed checkpoint lives at ``path`` (``_SUCCESS``
    marker probed through the Hadoop FS, mirroring how
    ``completed_partitions`` reads the same path through Spark)."""
    jvm = spark._jvm  # type: ignore[union-attr]
    fs, _ = _hadoop_fs(spark, path)
    return bool(fs.exists(jvm.org.apache.hadoop.fs.Path(path, "_SUCCESS")))


def snapshot_versions(spark: SparkSession, path: str) -> List[int]:
    """Sorted snapshot version numbers retained under a parquet-fallback
    checkpoint directory (empty when snapshots were never enabled)."""
    fs, hroot = _hadoop_fs(spark, _snapshot_root(path))
    if not fs.exists(hroot):
        return []
    out = []
    for st in fs.listStatus(hroot):
        m = re.fullmatch(r"v=(\d+)", st.getPath().getName())
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


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
    version: Optional[int] = None,
) -> DataFrame:
    """Scan a table; Iceberg gets snapshot/time-travel options, parquet is
    the sandbox fallback (``identifier`` is a path).

    Snapshot pruning note: with ``fmt='iceberg'`` the returned scan prunes
    both partitions and files from table metadata before any task launches;
    predicate/column pushdown applies identically to both branches.

    ``version=N`` time-travels on the PARQUET fallback too, reading the
    numbered snapshot dir :func:`merge_checkpoint_emulated` retains under
    ``<identifier>_snapshots/v=N`` — the jarless twin of Iceberg's
    ``snapshot-id`` option (on the iceberg branch ``version`` maps to
    ``snapshot-id`` directly).
    """
    if fmt == "iceberg":
        reader = spark.read.format("iceberg")
        if snapshot_id is None and version is not None:
            snapshot_id = version
        if snapshot_id is not None:
            reader = reader.option("snapshot-id", str(snapshot_id))
        if as_of_timestamp is not None:
            reader = reader.option("as-of-timestamp", str(as_of_timestamp))
        return reader.load(identifier)
    if snapshot_id is not None or as_of_timestamp is not None:
        raise ValueError(
            "snapshot_id/as-of-timestamp time travel requires fmt='iceberg'"
            " (the parquet fallback time-travels via version=N)"
        )
    if version is not None:
        available = snapshot_versions(spark, identifier)
        if version not in available:
            raise ValueError(
                "snapshot version %d not retained under %s (have: %s)"
                % (version, identifier, available)
            )
        return spark.read.parquet(
            _snapshot_root(identifier) + "/v=%d" % version
        )
    return spark.read.parquet(identifier)


def checkpoint_merge_sql(
    target: str,
    source_view: str,
    key_cols: Sequence[str] = ("part_id",),
    update_cols: Sequence[str] = (
        "n_docs", "n_valid", "n_violations", "pass", "run_id", "completed_at",
    ),
) -> str:
    """The Iceberg ``MERGE INTO`` statement maintaining the partition
    checkpoint table: one row per partition id, last completed run wins.

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
    spark.sql(checkpoint_merge_sql(target, view, key_cols, update_cols))


def merge_checkpoint_emulated(
    spark: SparkSession,
    path: str,
    verdicts: DataFrame,
    key_cols: Sequence[str] = ("part_id",),
    max_rows: int = 10_000,
    keep_snapshots: int = 0,
) -> DataFrame:
    """EXECUTE ``MERGE INTO`` semantics on a parquet directory — the
    jarless twin of :func:`merge_checkpoint`, byte-equivalent to the SQL
    :func:`checkpoint_merge_sql` generates: WHEN MATCHED (same
    ``key_cols``) the stored row is replaced by the incoming one, WHEN
    NOT MATCHED it is inserted; untouched keys survive. Returns the
    merged table as a DataFrame.

    It maintains the jarless snapshot log (``keep_snapshots`` below)
    that :func:`~valideer_spark.operators.drift.drift_across_snapshots`
    compares; the engine's checkpoint does not go through it (without
    the jars it appends parquet files).

    The table is driver-bounded BY DESIGN (one row per key, <= a few
    hundred, like a per-bucket metrics table), so both sides
    materialize on the driver and the directory is rewritten in one
    overwrite — a single-writer assumption.
    ``max_rows`` enforces that assumption: either side exceeding it
    raises instead of silently materializing a large table on the
    driver. Idempotent: re-merging the same source is a no-op.

    Existence of the stored side is probed THROUGH the Hadoop
    FileSystem (:func:`_checkpoint_exists`), not ``os.path`` — a
    driver-local check is always False for an HDFS/S3 checkpoint dir
    and would make every merge overwrite the checkpoint with only the
    incoming rows, breaking resume convergence.

    ``keep_snapshots=N`` (default off) additionally retains the merged
    state of the last N merges as numbered dirs in the SIBLING directory
    ``<path>_snapshots/v=<k>`` — the jarless twin of Iceberg's snapshot
    log; :func:`read_table(..., version=k)` time-travels across them and
    :func:`snapshot_versions` lists what is retained. Older snapshots
    are pruned."""
    jvm = spark._jvm  # type: ignore[union-attr]
    fields = verdicts.schema.fields
    names = [f.name for f in fields]

    def as_tuple(row):
        return tuple(row[n] for n in names)

    def bounded_collect(df: DataFrame, side: str):
        rows = df.limit(max_rows + 1).collect()
        if len(rows) > max_rows:
            raise ValueError(
                "emulated MERGE is driver-bounded: %s side exceeds "
                "max_rows=%d — this path is for the per-partition "
                "checkpoint table (<= engine buckets rows), not data "
                "tables; use the Iceberg runtime for large merges"
                % (side, max_rows)
            )
        return rows

    new_rows = [as_tuple(r) for r in bounded_collect(verdicts, "incoming")]
    new_keys = {tuple(r[names.index(k)] for k in key_cols) for r in new_rows}
    kept = []
    if _checkpoint_exists(spark, path):
        stored = spark.read.parquet(path)
        if set(stored.columns) != set(names):
            raise ValueError(
                "checkpoint schema drift: stored columns %s vs incoming %s"
                % (sorted(stored.columns), sorted(names))
            )
        kept = [
            as_tuple(r)
            for r in bounded_collect(stored, "stored")
            if tuple(r[k] for k in key_cols) not in new_keys
        ]
    merged = spark.createDataFrame(kept + new_rows, verdicts.schema)
    merged.write.mode("overwrite").parquet(path)
    out = spark.read.parquet(path)
    if keep_snapshots > 0:
        versions = snapshot_versions(spark, path)
        next_v = (versions[-1] + 1) if versions else 1
        snap_root = _snapshot_root(path)
        out.write.mode("overwrite").parquet(snap_root + "/v=%d" % next_v)
        fs, _ = _hadoop_fs(spark, snap_root)
        for stale in (versions + [next_v])[:-keep_snapshots]:
            fs.delete(
                jvm.org.apache.hadoop.fs.Path(snap_root + "/v=%d" % stale),
                True,
            )
    return out
