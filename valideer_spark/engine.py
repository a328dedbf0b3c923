"""Validation engine: verdicts, violation rows, metrics, checkpoint/resume.

The engine runs a compiled :class:`~valideer_spark.plans.FramePlan` over a
documents DataFrame and emits the artifacts mandated by the target design:

* per-document verdicts and violation rows
  ``(doc_id, span index/path, constraint, message)``;
* per-partition pass/fail verdicts + metrics rows (counts, violation
  breakdown), keyed by a *deterministic* partition id (hash bucket of
  ``doc_id``) so results are stable across cluster sizes and reruns;
* a checkpoint table keyed by partition id with per-partition lineage
  (run id, input fingerprint, counts, wall time) enabling resume-skip.

Scale notes: everything below is declarative DataFrame code — the verdict
aggregation is a single map-side-combinable hash aggregation on a
low-cardinality key; no collect(), no per-row Python. Checkpointing
filters resumed runs with a broadcast anti-join on the (small) completed
partition list, which Catalyst turns into a partition-pruned scan when the
storage layout is bucketed by the same key.
"""

from __future__ import annotations

import os
import time
import uuid
from dataclasses import dataclass
from typing import Any, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .plans import FramePlan, compile_plan, explode_violations

DEFAULT_BUCKETS = 256


def deterministic_partition_id(doc_id_col, buckets: int = DEFAULT_BUCKETS):
    """Stable partition key: hash bucket of the document id (NOT
    ``spark_partition_id()``, which changes with parallelism)."""
    return F.pmod(F.xxhash64(doc_id_col), F.lit(buckets)).cast("int")


def _input_fingerprint(df: DataFrame) -> str:
    """Lineage fingerprint of a file-backed frame: md5 over the sorted
    input file list (empty for non-file frames, e.g. synthetic ranges)."""
    import hashlib

    try:
        files = sorted(df.inputFiles())
    except Exception:
        files = []
    if not files:
        return ""
    h = hashlib.md5()
    for f in files:
        h.update(f.encode())
        h.update(b"\n")
    return h.hexdigest()


def _bucket_aligned(
    df: DataFrame, buckets: int, files_per_bucket: int, salt_col
) -> DataFrame:
    """Align write tasks with storage partitions before a ``partitionBy``
    write. Without this every upstream task can emit a file into every
    bucket directory — O(tasks × buckets) small files (measured: 2 sinks
    × 256 buckets × 32 local tasks made `write_quarantine` 14x slower
    than its own validation scan, BENCH.md round 5; on a 1000-executor
    cluster it would be ~256k files per write). After the repartition
    each bucket is held by ``files_per_bucket`` tasks exactly, so the
    file count is bounded by buckets × files_per_bucket regardless of
    cluster size; raise ``files_per_bucket`` when per-bucket volume
    (corpus/buckets) is larger than one task should write alone."""
    if files_per_bucket <= 1:
        return df.repartition(buckets, F.col("_part_id"))
    salt = F.pmod(F.xxhash64(salt_col), F.lit(files_per_bucket))
    return df.repartition(
        buckets * files_per_bucket, F.col("_part_id"), salt
    )


def write_partitioned(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    buckets: int = DEFAULT_BUCKETS,
    fmt: str = "parquet",
    files_per_bucket: int = 1,
) -> None:
    """Materialize the documents table partitioned by the deterministic
    bucket id — the layout that makes checkpoint RESUME prune the scan
    (completed buckets are whole storage partitions, never read again).

    ``buckets`` directories each hold 1/buckets of the corpus; at 100 TB
    and 256 buckets that is ~400 GB per partition, so set
    ``files_per_bucket`` to keep individual files in the hundreds-of-MB
    band (e.g. 1024 → ~400 MB each) — the write is bucket-aligned
    (:func:`_bucket_aligned`), so file count is exactly
    buckets × files_per_bucket, never tasks × buckets, while resume and
    per-partition verdicts stay aligned with the checkpoint key."""
    if fmt not in ("parquet", "iceberg"):
        raise ValueError(
            "unsupported fmt %r: expected 'parquet' or 'iceberg'" % (fmt,)
        )
    out = df.withColumn("_part_id", deterministic_partition_id(F.col(id_col), buckets))
    out = _bucket_aligned(out, buckets, files_per_bucket, F.col(id_col))
    writer = out.write.mode("overwrite").partitionBy("_part_id")
    if fmt == "iceberg":
        writer.format("iceberg").saveAsTable(path)
    else:
        writer.parquet(path)


@dataclass
class CheckReport:
    annotated: DataFrame  # input + _part_id, _valid
    plan: FramePlan
    id_col: str
    buckets: int = DEFAULT_BUCKETS

    def verdicts(self) -> DataFrame:
        """Per-partition pass/fail + counts (one row per partition bucket).

        Single scan: the violation expressions are CASE-guarded behind the
        predicate, so valid rows pay only the predicate (measured: the
        combined projection costs the same as predicate-only)."""
        return (
            self.annotated.groupBy("_part_id")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(F.col("_valid").cast("long")).alias("n_valid"),
                F.sum("_n_violations").alias("n_violations"),
            )
            .withColumn("pass", F.col("n_valid") == F.col("n_docs"))
        )

    def violation_rows(self) -> DataFrame:
        """(doc_id, part_id, violation_index, path, constraint, message)
        rows."""
        return explode_violations(
            self.annotated, [self.id_col, F.col("_part_id").alias("part_id")]
        )

    def verdict_rollup(self) -> DataFrame:
        """Partition verdicts AND the grand total in ONE aggregation via
        ``rollup(_part_id)`` (SURVEY §2.5 grouping-sets row): the NULL
        ``_part_id`` row is the overall verdict. Spark computes both
        grouping sets in a single partial+final hash agg — one scan, one
        shuffle, versus two jobs for verdicts() + totals."""
        return (
            self.annotated.rollup("_part_id")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(F.col("_valid").cast("long")).alias("n_valid"),
                F.sum("_n_violations").alias("n_violations"),
                F.grouping("_part_id").alias("is_total"),
            )
            .withColumn("pass", F.col("n_valid") == F.col("n_docs"))
        )

    def worst_partitions(self, k: int = 10) -> DataFrame:
        """Top-k partitions by invalid-doc count (TakeOrderedAndProject —
        per-partition top-k + a k-row driver merge, no full sort)."""
        return (
            self.verdicts()
            .withColumn("n_invalid", F.col("n_docs") - F.col("n_valid"))
            .orderBy(F.desc("n_invalid"), F.asc("_part_id"))
            .limit(k)
        )

    def metrics(self) -> DataFrame:
        """Violation counts by constraint (map-side combinable agg)."""
        return explode_violations(self.annotated).groupBy("constraint").count()

    def partition_metrics(self) -> DataFrame:
        """Violation counts by (partition, constraint) — the per-partition
        metrics rows of the checkpoint design: which buckets produce which
        failures (hotspot debugging without re-scanning). Same single
        exploded aggregation shape as :meth:`metrics`, keyed on
        (bucket, constraint) — shuffle is O(buckets × constraints)."""
        return (
            explode_violations(self.annotated, [F.col("_part_id").alias("part_id")])
            .groupBy("part_id", "constraint")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    def adapted(self) -> DataFrame:
        """Adapted documents (valid rows only), schema = adapted row struct."""
        base = self.annotated.filter(F.col("_valid")).drop(
            "_part_id", "_valid", "_violations", "_n_violations"
        )
        row = self.plan.adapted_col(base)
        return base.select(row.alias("doc")).select("doc.*")


class ValidationEngine:
    """Compile once, check many frames; optional checkpoint/resume."""

    def __init__(
        self,
        schema: Any,
        id_col: str = "doc_id",
        buckets: int = DEFAULT_BUCKETS,
        checkpoint_dir: Optional[str] = None,
        checkpoint_format: str = "parquet",
        checkpoint_table: Optional[str] = None,
        partition_expr=None,
        checkpoint_snapshots: int = 0,
    ):
        """``checkpoint_format='iceberg'`` maintains the checkpoint with
        ``MERGE INTO checkpoint_table`` (idempotent per partition key) —
        requires the Iceberg runtime; the parquet default appends under
        ``checkpoint_dir`` (the sandbox layout).

        ``partition_expr`` contract: bucket id ``-1`` is RESERVED as the
        engine's NULL sentinel — ids the expression maps to NULL are
        coalesced into bucket -1 so the checkpoint converges for them. A
        custom expression must therefore never legitimately emit -1 (those
        rows would silently share the sentinel bucket's checkpoint
        granularity); emitting -1 raises at check time.

        ``checkpoint_snapshots=N`` (jarless Iceberg emulation only)
        retains the last N merged checkpoint states as numbered snapshot
        dirs readable via ``read_table(..., version=k)``."""
        self.schema = schema
        self.id_col = id_col
        self.buckets = buckets
        # optional Column -> Column override for the deterministic bucket id
        # (default: xxhash64(id) % buckets). Callers whose ids carry a
        # natural numeric key can supply a cheaper / externally-computable
        # bucketing (e.g. numeric-suffix mod) — the checkpoint layout and
        # verdict rollup are agnostic to WHICH deterministic function is
        # used, only that it is stable across runs.
        self.partition_expr = partition_expr
        self.checkpoint_dir = checkpoint_dir
        self.checkpoint_format = checkpoint_format
        self.checkpoint_table = checkpoint_table
        self.checkpoint_snapshots = checkpoint_snapshots
        self._plan: Optional[FramePlan] = None
        self._plan_schema: Optional[str] = None

    def plan_for(self, df: DataFrame) -> FramePlan:
        # compile once per (engine, frame schema) — the eager-compile
        # memoization analog of reference base.py:158-160; recompile when a
        # frame with a different schema arrives
        schema_key = df.schema.simpleString()
        if self._plan is None or self._plan_schema != schema_key:
            self._plan = compile_plan(self.schema, df)
            self._plan_schema = schema_key
        return self._plan

    def check(self, df: DataFrame, adapt: bool = False) -> CheckReport:
        plan = self.plan_for(df)
        if self.partition_expr is not None:
            # A custom partition_expr SHOULD be total over the id domain,
            # but if it is not (e.g. a numeric-suffix mod over a
            # non-conforming id yields NULL under non-ANSI casts), the
            # NULL bucket ids would never match the checkpoint anti-join
            # and those rows would be revalidated — and their verdict rows
            # re-appended — on every resume. Coalesce NULLs to a sentinel
            # bucket (-1) so the checkpoint converges for them too. The
            # sentinel is a RESERVED value (see __init__ docstring): a
            # custom expression legitimately emitting -1 would silently
            # alias real rows onto the NULL bucket, so that case raises
            # mid-job instead.
            raw = self.partition_expr(F.col(self.id_col))
            part = F.when(
                raw == F.lit(-1),
                F.raise_error(
                    F.lit(
                        "partition_expr emitted reserved bucket id -1 "
                        "(the engine's NULL sentinel); remap your buckets"
                    )
                ).cast("long"),
            ).otherwise(F.coalesce(raw, F.lit(-1)))
        else:
            part = deterministic_partition_id(F.col(self.id_col), self.buckets)
        annotated = plan.check(df, adapt=adapt, violations=True).withColumn(
            "_part_id", part
        )
        return CheckReport(
            annotated=annotated, plan=plan, id_col=self.id_col, buckets=self.buckets
        )

    # ------------------------------------------------------------------
    # checkpoint / resume (parquet fallback for the Iceberg checkpoint
    # table; MERGE INTO keyed by part_id in the Iceberg deployment)
    # ------------------------------------------------------------------

    def _checkpoint_path(self) -> str:
        assert self.checkpoint_dir, "engine built without checkpoint_dir"
        return os.path.join(self.checkpoint_dir, "partition_checkpoints")

    def completed_partitions(self, spark: SparkSession) -> Optional[DataFrame]:
        if self.checkpoint_format == "iceberg":
            from .sources.iceberg import iceberg_available, read_table

            if iceberg_available(spark):
                try:
                    return read_table(
                        spark, self.checkpoint_table, fmt="iceberg"
                    ).select("part_id").distinct()
                except Exception:
                    return None
            # jars absent: the engine maintains the same MERGE semantics
            # on a parquet layout under checkpoint_dir (emulated branch
            # of run_with_checkpoint); no checkpoint_dir -> nothing to
            # read, stay graceful
            if not self.checkpoint_dir:
                return None
        path = self._checkpoint_path()
        try:
            return spark.read.parquet(path).select("part_id").distinct()
        except Exception:
            return None

    def run_with_checkpoint(
        self, df: DataFrame, run_id: Optional[str] = None
    ) -> DataFrame:
        """Validate only partitions not yet checkpointed; upsert verdicts +
        lineage into the checkpoint table. Returns this run's verdict rows.

        Resume pruning: when the input carries a PHYSICAL ``_part_id``
        column (a layout written by :func:`write_partitioned`, i.e.
        parquet/Iceberg partitioned by the deterministic bucket), the
        completed ids — at most ``buckets`` of them — are collected and
        applied as a NOT-IN source filter, which Spark turns into
        partition pruning: completed partitions are never scanned. For
        unpartitioned inputs the filter falls back to a broadcast
        anti-join after the scan (rows skipped, I/O not).

        CONTRACT for source pruning: the stored layout's bucketing must
        be THIS engine's bucketing — :func:`write_partitioned` with the
        same ``buckets`` and the default xxhash64 scheme. A layout
        bucketed differently would route rows of still-pending
        (recomputed) buckets inside completed STORED directories, and a
        source filter would skip them before the engine ever saw them —
        silent under-validation. The engine therefore auto-disables
        source pruning when a custom ``partition_expr`` is configured
        (``write_partitioned`` always uses the default scheme, so a
        stored layout cannot match a custom expression); for a layout
        written with a different ``buckets`` count, drop the stored
        ``_part_id`` column before calling (the anti-join below then
        handles resume correctness, at full-scan cost)."""
        spark = df.sparkSession
        run_id = run_id or uuid.uuid4().hex
        done = self.completed_partitions(spark)

        if (
            done is not None
            and "_part_id" in df.columns
            and self.partition_expr is None
        ):
            # source pruning: with a write_partitioned layout the NOT-IN
            # filter becomes PartitionFilters (completed buckets never
            # scanned). Only sound when the stored bucketing matches this
            # engine's (contract above) — never applied with a custom
            # partition_expr.
            done_ids = [r["part_id"] for r in done.collect()]  # ≤ buckets rows
            if done_ids:
                df = df.filter(~F.col("_part_id").isin(done_ids))

        report = self.check(df, adapt=False)
        annotated = report.annotated
        if done is not None:
            # broadcast anti-join on the recomputed bucket id: the
            # completed list is tiny (≤ buckets)
            annotated = annotated.join(
                F.broadcast(done), annotated["_part_id"] == done["part_id"], "left_anti"
            )
        pending = CheckReport(
            annotated=annotated, plan=report.plan, id_col=self.id_col, buckets=self.buckets
        )
        t_run0 = time.time()
        verdicts = (
            pending.verdicts()
            .withColumn("run_id", F.lit(run_id))
            .withColumn("completed_at", F.lit(int(time.time())).cast("long"))
            .withColumn("input_fingerprint", F.lit(_input_fingerprint(df)))
            .withColumnRenamed("_part_id", "part_id")
        )
        # materialize the (≤ buckets) verdict rows so the lineage can carry
        # the run's measured wall time — a tiny driver round-trip, not a
        # data collect
        from pyspark.sql import types as T

        rows = verdicts.collect()
        wall = round(time.time() - t_run0, 3)
        schema = verdicts.schema.add(T.StructField("wall_secs", T.DoubleType()))
        stamped = spark.createDataFrame(
            [tuple(r) + (wall,) for r in rows], schema
        )
        if self.checkpoint_format == "iceberg":
            from .sources.iceberg import (
                iceberg_available,
                merge_checkpoint,
                merge_checkpoint_emulated,
                read_table,
            )

            if iceberg_available(spark):
                merge_checkpoint(spark, self.checkpoint_table, stamped)
                return read_table(
                    spark, self.checkpoint_table, fmt="iceberg"
                ).filter(F.col("run_id") == run_id)
            # jars absent: EXECUTE the same MERGE semantics (matched ->
            # update, not-matched -> insert, keyed by part_id; one row
            # per partition, last run wins) on the parquet fallback
            # layout, instead of leaving the contract as SQL text only
            merged = merge_checkpoint_emulated(
                spark,
                self._checkpoint_path(),
                stamped,
                keep_snapshots=self.checkpoint_snapshots,
            )
            return merged.filter(F.col("run_id") == run_id)
        stamped.write.mode("append").parquet(self._checkpoint_path())
        return spark.read.parquet(self._checkpoint_path()).filter(
            F.col("run_id") == run_id
        )


def write_quarantine(
    report: CheckReport,
    valid_path: str,
    quarantine_path: str,
    fmt: str = "parquet",
    partition_by_bucket: bool = True,
    files_per_bucket: int = 1,
) -> None:
    """Route one checked frame to two sinks — the production
    validate-then-quarantine pattern: valid documents (engine columns
    dropped) to ``valid_path``; invalid documents to ``quarantine_path``
    with their full payload plus exploded ``violation_*`` columns, so
    the quarantine is self-describing (every row says why its document
    was rejected).

    One pass over the input per sink plus a bucket-aligned exchange
    (:func:`_bucket_aligned` — file count stays buckets ×
    ``files_per_bucket`` instead of tasks × buckets); both writes
    partition by the deterministic bucket id by default, so downstream
    repair jobs and checkpoint resume see the same layout as
    :func:`write_partitioned`.
    Quarantine volume is the invalid fraction only — the predicate filter
    is pushed into the scan for columnar sources.

    Quarantine schema: the document's own payload columns plus
    ``_part_id`` and the exploded ``violation_index`` /
    ``violation_path`` / ``violation_constraint`` / ``violation_message``
    (the prefix makes collisions unlikely; a payload column that IS named
    ``violation_*`` or ``_part_id`` is rejected up front with a clear
    error rather than silently producing duplicate output columns) —
    one row per (document, violation), built by exploding ``_violations``
    inline with the payload (no self-join back onto the report)."""
    if fmt not in ("parquet", "iceberg"):
        raise ValueError(
            "unsupported fmt %r: expected 'parquet' or 'iceberg'" % (fmt,)
        )
    engine_cols = ("_valid", "_violations", "_n_violations")
    payload = [c for c in report.annotated.columns if c not in engine_cols and c != "_part_id"]
    reserved = {
        "violation_index",
        "violation_path",
        "violation_constraint",
        "violation_message",
        "_part_id",
    }
    clashes = sorted(reserved.intersection(payload))
    if clashes:
        raise ValueError(
            "payload column(s) %s collide with reserved quarantine output "
            "columns; rename them before calling write_quarantine" % (clashes,)
        )

    valid = report.annotated.filter(F.col("_valid")).select(*payload, "_part_id")
    if partition_by_bucket:
        valid = _bucket_aligned(
            valid, report.buckets, files_per_bucket, F.col(report.id_col)
        )
    writer = valid.write.mode("overwrite")
    if partition_by_bucket:
        writer = writer.partitionBy("_part_id")
    if fmt == "iceberg":
        writer.format("iceberg").saveAsTable(valid_path)
    else:
        writer.parquet(valid_path)

    bad = explode_violations(
        report.annotated, [*payload, "_part_id"], prefix="violation_"
    )
    if partition_by_bucket:
        bad = _bucket_aligned(
            bad, report.buckets, files_per_bucket, F.col(report.id_col)
        )
    writer = bad.write.mode("overwrite")
    if partition_by_bucket:
        writer = writer.partitionBy("_part_id")
    if fmt == "iceberg":
        writer.format("iceberg").saveAsTable(quarantine_path)
    else:
        writer.parquet(quarantine_path)
