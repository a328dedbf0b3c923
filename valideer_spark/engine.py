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
low-cardinality key; no collect(), no per-row Python. A
:class:`CheckReport` evaluates the predicate at most once per row: its
first output persists a compact frame (bucket id, verdict and violation
count per row, plus the payload of invalid rows only) that every later
output reads, and releases it with the report. A checkpointed run reads
the completed bucket ids once and filters the remaining rows on them,
which Catalyst turns into a partition-pruned scan when the storage layout
is bucketed by the same key; a resume with every bucket done returns
without planning the predicate or reading the input. Only the outputs
that read violations plan the violation tree: a check, a checkpointed run
and the verdicts count violations natively.
"""

from __future__ import annotations

import json
import os
import threading
import time
import uuid
import weakref
from dataclasses import dataclass, field
from typing import Any, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .plans import FramePlan, compile_plan, explode_violations
from .plans.frame import RESERVED_COLUMNS

DEFAULT_BUCKETS = 256


def deterministic_partition_id(doc_id_col, buckets: int = DEFAULT_BUCKETS):
    """Stable partition key: hash bucket of the document id (NOT
    ``spark_partition_id()``, which changes with parallelism)."""
    return F.pmod(F.xxhash64(doc_id_col), F.lit(buckets)).cast("int")


def _input_fingerprint(df: DataFrame) -> str:
    """Lineage fingerprint of a file-backed frame: md5 over the sorted
    input file list (empty for non-file frames, e.g. synthetic ranges,
    whose ``inputFiles()`` is empty). A failing ``inputFiles()`` raises:
    the lineage row never silently loses its input identity."""
    import hashlib

    files = sorted(df.inputFiles())
    if not files:
        return ""
    h = hashlib.md5()
    for f in files:
        h.update(f.encode())
        h.update(b"\n")
    return h.hexdigest()


def _write_bucketed(
    df: DataFrame,
    path: str,
    fmt: str,
    buckets: int,
    files_per_bucket: int,
    id_col: str,
) -> None:
    """Overwrite ``path`` with ``df`` partitioned by its ``_part_id``
    column, as parquet files or (``fmt="iceberg"``) an Iceberg table.

    The write tasks are aligned with the storage partitions first.
    Without that, every upstream task can emit a file into every bucket
    directory — O(tasks × buckets) small files (measured: 2 sinks × 256
    buckets × 32 local tasks made `write_quarantine` 14x slower than its
    own validation scan, BENCH.md round 5; on a 1000-executor cluster it
    would be ~256k files per write). After the repartition each bucket
    is held by at most ``files_per_bucket`` tasks (split on a second hash
    of ``id_col``), so the file count is bounded by
    buckets × files_per_bucket regardless of cluster size; raise
    ``files_per_bucket`` when per-bucket volume (corpus/buckets) is
    larger than one task should write alone.

    With one file per bucket the repartition is by column only, with no
    partition count: each bucket hashes to one shuffle partition, and AQE
    coalesces only whole partitions, so the bound holds while a small
    write runs in few tasks. The write's parallelism then follows
    ``spark.sql.shuffle.partitions`` (:func:`~.conf.recommended_conf`
    sets it to the cores), not ``buckets``."""
    if fmt not in ("parquet", "iceberg"):
        raise ValueError(
            "unsupported fmt %r: expected 'parquet' or 'iceberg'" % (fmt,)
        )
    if files_per_bucket <= 1:
        df = df.repartition(F.col("_part_id"))
    else:
        # murmur3, not the xxhash64 behind _part_id: a salt taken from the
        # same hash would repeat the bucket's residue and leave one task
        # per bucket whenever buckets and files_per_bucket share a factor
        salt = F.pmod(F.hash(F.col(id_col)), F.lit(files_per_bucket))
        df = df.repartition(buckets * files_per_bucket, F.col("_part_id"), salt)
    writer = df.write.mode("overwrite").partitionBy("_part_id")
    if fmt == "iceberg":
        writer.format("iceberg").saveAsTable(path)
    else:
        writer.parquet(path)


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
    (:func:`_write_bucketed`), so there are at most
    buckets × files_per_bucket files, never tasks × buckets, while resume
    and per-partition verdicts stay aligned with the checkpoint key. With
    ``files_per_bucket=1`` the write runs in as many tasks as AQE leaves
    of ``spark.sql.shuffle.partitions``, each holding whole buckets."""
    out = df.withColumn("_part_id", deterministic_partition_id(F.col(id_col), buckets))
    _write_bucketed(out, path, fmt, buckets, files_per_bucket, id_col)


def _verdict_counts(grouped, *extra) -> DataFrame:
    """Doc, valid and violation counts of a grouped ``_valid`` /
    ``_n_violations`` frame, plus the ``pass`` flag: the verdict
    aggregation of :meth:`CheckReport.verdicts` and
    :meth:`ValidationEngine.run_with_checkpoint`."""
    return grouped.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("_valid").cast("long")).alias("n_valid"),
        F.sum("_n_violations").alias("n_violations"),
        *extra,
    ).withColumn("pass", F.col("n_valid") == F.col("n_docs"))


def _release_frame(frame: DataFrame, sc) -> None:
    # a stopped SparkContext has dropped its cache, and its JVM may be gone
    if sc._jsc is not None:
        frame.unpersist()


@dataclass
class CheckReport:
    """The outputs of one checked frame.

    ``checked`` is the input with ``_valid``, ``_n_violations`` (and
    ``_adapted``) and ``_part_id``, but no violation tree: the paths that
    only count or route rows never analyse one. :attr:`annotated` adds
    ``_violations`` on its first read.

    The first output called persists the report's frame: ``_part_id``,
    ``_valid`` and ``_n_violations`` of every row, and the document
    columns of invalid rows only (NULL on valid rows). Every output but
    :meth:`adapted` reads it, so the predicate runs once per row per
    report; violations and constraint codes are built from the cached
    invalid rows. The frame costs a few bytes per row plus the invalid
    payload, and lives until :meth:`unpersist` or until the report is
    dropped."""

    checked: DataFrame  # input + _valid, _n_violations (+ _adapted), _part_id
    plan: FramePlan
    id_col: str
    buckets: int = DEFAULT_BUCKETS
    _frame_df: Optional[DataFrame] = field(
        default=None, init=False, repr=False, compare=False
    )
    _release: Optional[weakref.finalize] = field(
        default=None, init=False, repr=False, compare=False
    )
    _annotated_df: Optional[DataFrame] = field(
        default=None, init=False, repr=False, compare=False
    )
    _lock: Any = field(
        default_factory=threading.Lock, init=False, repr=False, compare=False
    )

    @property
    def annotated(self) -> DataFrame:
        """``checked`` with ``_violations`` between ``_valid`` and
        ``_n_violations``: every violation of every row, empty on valid
        rows. Built on first read."""
        with self._lock:
            if self._annotated_df is None:
                self._annotated_df = self.plan.with_violations(self.checked)
            return self._annotated_df

    def _frame(self) -> DataFrame:
        with self._lock:
            if self._frame_df is None:
                invalid = ~F.col("_valid")
                docs = [
                    F.when(invalid, F.col(c)).alias(c)
                    for c in self.checked.columns
                    if c not in RESERVED_COLUMNS
                ]
                # document columns keep their names, so the plan's Column
                # trees read the frame without a rebuild
                frame = self.checked.select(
                    "_part_id", "_valid", "_n_violations", *docs
                ).persist()
                self._release = weakref.finalize(
                    self, _release_frame, frame, frame.sparkSession.sparkContext
                )
                self._release.atexit = False
                self._frame_df = frame
            return self._frame_df

    def unpersist(self) -> None:
        """Release the cached frame now (idempotent). Outputs already
        built still return the same rows; later calls cache a new one."""
        with self._lock:
            if self._release is not None:
                self._release()
            self._frame_df = self._release = None

    def verdicts(self) -> DataFrame:
        """Per-partition pass/fail + counts (one row per partition bucket),
        a map-side combinable aggregation of the report frame."""
        return _verdict_counts(self._frame().groupBy("_part_id"))

    def violation_rows(self) -> DataFrame:
        """(doc_id, part_id, violation_index, path, constraint, message)
        rows."""
        frame = self._frame()
        return explode_violations(
            frame,
            [self.id_col, F.col("_part_id").alias("part_id")],
            violations=self.plan.violations_col(frame),
        )

    def verdict_rollup(self) -> DataFrame:
        """Partition verdicts AND the grand total in ONE aggregation via
        ``rollup(_part_id)`` (SURVEY §2.5 grouping-sets row): the NULL
        ``_part_id`` row is the overall verdict. Spark computes both
        grouping sets in a single partial+final hash agg — one scan, one
        shuffle, versus two jobs for verdicts() + totals."""
        return _verdict_counts(
            self._frame().rollup("_part_id"),
            F.grouping("_part_id").alias("is_total"),
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

    def _violation_codes(self, cols=()) -> DataFrame:
        """Exploded violations with constraint codes only: counting
        constraints never builds a path, value repr or message."""
        frame = self._frame()
        codes = self.plan.violation_codes_col(frame)
        return explode_violations(frame, cols, violations=codes)

    def metrics(self) -> DataFrame:
        """Violation counts by constraint (map-side combinable agg)."""
        return self._violation_codes().groupBy("constraint").count()

    def partition_metrics(self) -> DataFrame:
        """Violation counts by (partition, constraint) — the per-partition
        metrics rows of the checkpoint design: which buckets produce which
        failures (hotspot debugging from the cached invalid rows). Same
        single exploded aggregation shape as :meth:`metrics`, keyed on
        (bucket, constraint) — shuffle is O(buckets × constraints)."""
        return (
            self._violation_codes([F.col("_part_id").alias("part_id")])
            .groupBy("part_id", "constraint")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    def adapted(self) -> DataFrame:
        """Adapted documents (valid rows only), schema = adapted row struct.
        Reads ``checked``: the report frame has no valid payloads, and no
        violation tree is planned."""
        base = self.checked.filter(F.col("_valid")).drop(
            "_part_id", "_valid", "_n_violations"
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
    ):
        """With the Iceberg runtime on the classpath,
        ``checkpoint_format='iceberg'`` maintains the checkpoint with
        ``MERGE INTO checkpoint_table`` (idempotent per partition key).
        Otherwise, and with the ``'parquet'`` default, each run appends
        its verdict rows under ``checkpoint_dir``. Any other format
        raises ``ValueError``.

        ``partition_expr`` contract: bucket id ``-1`` is RESERVED as the
        engine's NULL sentinel — ids the expression maps to NULL are
        coalesced into bucket -1 so the checkpoint converges for them. A
        custom expression must therefore never legitimately emit -1 (those
        rows would silently share the sentinel bucket's checkpoint
        granularity); emitting -1 raises at check time."""
        if checkpoint_format not in ("parquet", "iceberg"):
            raise ValueError(
                "unsupported checkpoint_format %r: expected 'parquet' or "
                "'iceberg'" % (checkpoint_format,)
            )
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

    def plan_for(self, df: DataFrame) -> FramePlan:
        """The schema compiled against ``df``'s document columns: lowered
        once per process per (schema, row type) and shared with every
        engine over an equal schema (:func:`~.plans.compile_plan`), the
        eager-compile analog of reference base.py:158-160."""
        return compile_plan(self.schema, df)

    def check(self, df: DataFrame, adapt: bool = False) -> CheckReport:
        plan = self.plan_for(df)
        if self.partition_expr is not None:
            # A custom partition_expr SHOULD be total over the id domain,
            # but if it is not (e.g. a numeric-suffix mod over a
            # non-conforming id yields NULL under non-ANSI casts), a NULL
            # bucket id would be checkpointed as a NULL part_id, and the
            # resume's NOT IN filter is NULL (so drops the row) for every
            # row once its id list holds a NULL. Coalesce NULLs to a
            # sentinel bucket (-1) so the checkpoint converges for them
            # and never hides pending buckets. The
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
        checked = plan.check(df, adapt=adapt, violations=False).withColumn(
            "_part_id", part
        )
        return CheckReport(
            checked=checked, plan=plan, id_col=self.id_col, buckets=self.buckets
        )

    # ------------------------------------------------------------------
    # checkpoint / resume: an Iceberg table maintained with MERGE INTO
    # keyed by part_id when the runtime is present, else parquet appends
    # under checkpoint_dir
    # ------------------------------------------------------------------

    def _iceberg_table(self, spark: SparkSession) -> bool:
        """True when the checkpoint is an Iceberg table: the format asks
        for one and the runtime is on the classpath."""
        from .sources.iceberg import iceberg_available

        return self.checkpoint_format == "iceberg" and iceberg_available(spark)

    def _checkpoint_path(self) -> str:
        assert self.checkpoint_dir, "engine built without checkpoint_dir"
        return os.path.join(self.checkpoint_dir, "partition_checkpoints")

    def _checkpoint_rows(self, spark: SparkSession) -> Optional[DataFrame]:
        """The stored checkpoint table, or None when nothing is
        checkpointed yet (or no ``checkpoint_dir`` to hold one)."""
        from .sources.iceberg import _hadoop_fs, read_table

        if self._iceberg_table(spark):
            if not spark.catalog.tableExists(self.checkpoint_table):
                return None
            return read_table(spark, self.checkpoint_table, fmt="iceberg")
        if not self.checkpoint_dir:
            return None
        path = self._checkpoint_path()
        fs, hpath = _hadoop_fs(spark, path)
        # a missing checkpoint means nothing done; an unreadable one raises,
        # never revalidating (and re-appending) partitions already done
        if not fs.exists(hpath):
            return None
        reader = spark.read
        if self.partition_expr is None:
            # the default bucketing's columns are known: no job infers them
            # (a custom expression's part_id type follows the expression)
            reader = reader.schema(_CHECKPOINT_SCHEMA)
        return reader.parquet(path)

    def completed_partitions(self, spark: SparkSession) -> Optional[DataFrame]:
        stored = self._checkpoint_rows(spark)
        return None if stored is None else stored.select("part_id").distinct()

    def run_with_checkpoint(
        self, df: DataFrame, run_id: Optional[str] = None
    ) -> DataFrame:
        """Validate only partitions not yet checkpointed; record verdicts +
        lineage in the checkpoint (``MERGE INTO`` an Iceberg table, else
        a parquet append). Returns this run's verdict rows.

        The checkpoint is read once per run: its completed ids, at most
        ``buckets`` of them, are collected and filter the recomputed
        bucket id of every row (the filter runs before the predicate, so
        done rows skip validation but are still scanned).

        A resume with every bucket done validates nothing, so it returns
        an empty frame with the checkpoint's columns without planning the
        predicate, reading the input or writing the checkpoint. That
        holds with the default bucketing, whose ids are exactly
        ``range(buckets)``; a custom ``partition_expr`` can emit any id,
        so its runs take the general path.

        The parquet checkpoint, which ``checkpoint_format='iceberg'``
        also uses without the Iceberg runtime, gets one appended file per
        run, and the run's stamped rows are returned without a re-read.
        Every row a run writes belongs to a bucket the checkpoint does
        not hold yet, so appending stores what a keyed upsert would.

        Resume pruning: when the input carries a PHYSICAL ``_part_id``
        column (a layout written by :func:`write_partitioned`, i.e.
        parquet/Iceberg partitioned by the deterministic bucket), the same
        ids are also applied as a NOT-IN source filter, which Spark turns
        into partition pruning: completed partitions are never scanned.

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
        ``_part_id`` column before calling (the filter on the recomputed
        bucket then handles resume correctness, at full-scan cost)."""
        spark = df.sparkSession
        run_id = run_id or uuid.uuid4().hex
        stored = self._checkpoint_rows(spark)
        done = (
            sorted({r[0] for r in stored.select("part_id").collect()})
            if stored is not None
            else []
        )
        default_buckets = self.partition_expr is None
        if default_buckets and set(range(self.buckets)) <= set(done):
            return stored.limit(0)

        if done and "_part_id" in df.columns and default_buckets:
            # source pruning: with a write_partitioned layout the NOT-IN
            # filter becomes PartitionFilters (completed buckets never
            # scanned). Only sound when the stored bucketing matches this
            # engine's (contract above) — never applied with a custom
            # partition_expr.
            df = df.filter(~F.col("_part_id").isin(done))

        checked = self.check(df, adapt=False).checked
        if done:
            # the recomputed bucket id is never NULL (a custom expression's
            # NULL is the -1 sentinel), so NOT IN keeps exactly the rows of
            # pending buckets
            checked = checked.filter(~F.col("_part_id").isin(done))
        fingerprint = _input_fingerprint(df)
        t_run0 = time.time()
        # one output read once: aggregate checked directly, no report frame
        verdicts = _verdict_counts(
            checked.groupBy(F.col("_part_id").alias("part_id"))
        )
        # materialize the (≤ buckets) verdict rows so the lineage can carry
        # the run's measured wall time — a tiny driver round-trip, not a
        # data collect
        rows = verdicts.collect()
        now = time.time()
        stamped = _stamped(
            spark,
            verdicts.schema,
            rows,
            run_id=run_id,
            completed_at=int(now),
            input_fingerprint=fingerprint,
            wall_secs=round(now - t_run0, 3),
        )
        if self._iceberg_table(spark):
            from .sources.iceberg import merge_checkpoint, read_table

            merge_checkpoint(spark, self.checkpoint_table, stamped)
            return read_table(
                spark, self.checkpoint_table, fmt="iceberg"
            ).filter(F.col("run_id") == run_id)
        if rows:
            stamped.write.mode("append").parquet(self._checkpoint_path())
        return stamped


#: lineage columns of a checkpoint row, after the verdict counts
_LINEAGE = (
    ("run_id", T.StringType()),
    ("completed_at", T.LongType()),
    ("input_fingerprint", T.StringType()),
    ("wall_secs", T.DoubleType()),
)

#: columns of a checkpoint written with the default bucketing: the
#: verdict counts of :func:`_verdict_counts`, then the lineage
_CHECKPOINT_SCHEMA = T.StructType(
    [
        T.StructField(name, typ)
        for name, typ in (
            ("part_id", T.IntegerType()),
            ("n_docs", T.LongType()),
            ("n_valid", T.LongType()),
            ("n_violations", T.LongType()),
            ("pass", T.BooleanType()),
        )
        + _LINEAGE
    ]
)


def _stamped(spark: SparkSession, schema, rows, **lineage) -> DataFrame:
    """The collected verdict ``rows`` with their ``lineage`` values, as a
    frame the JVM builds from one JSON literal in one partition: a
    constant number of py4j calls, one task and file when the frame is
    written or read, and no Python worker (as a ``createDataFrame`` of
    Python rows would need)."""
    schema = T.StructType(
        schema.fields + [T.StructField(name, typ) for name, typ in _LINEAGE]
    )
    payload = json.dumps([{**r.asDict(), **lineage} for r in rows])
    return spark.range(1, numPartitions=1).select(
        F.inline(F.from_json(F.lit(payload), T.ArrayType(schema)))
    )


def write_quarantine(
    report: CheckReport,
    valid_path: str,
    quarantine_path: str,
    fmt: str = "parquet",
    files_per_bucket: int = 1,
) -> None:
    """Route one checked frame to two sinks — the production
    validate-then-quarantine pattern: valid documents (engine columns
    dropped) to ``valid_path``; invalid documents to ``quarantine_path``
    with their full payload plus exploded ``violation_*`` columns, so
    the quarantine is self-describing (every row says why its document
    was rejected).

    One pass over the input per sink; both writes are bucket-aligned and
    partitioned by the deterministic bucket id (:func:`_write_bucketed`
    — file count stays at most buckets × ``files_per_bucket`` instead of
    tasks × buckets, at any shuffle width), so downstream repair jobs and
    checkpoint resume see the same layout as :func:`write_partitioned`.
    Both sinks read ``report.checked``: the valid sink plans no violation
    tree, and only the quarantine sink builds one.
    Quarantine volume is the invalid fraction only — the predicate filter
    is pushed into the scan for columnar sources.

    Quarantine schema: the document's own payload columns plus
    ``_part_id`` and the exploded ``violation_index`` /
    ``violation_path`` / ``violation_constraint`` / ``violation_message``
    (the prefix makes collisions unlikely; a payload column that IS named
    ``violation_*`` or ``_part_id`` is rejected up front with a clear
    error rather than silently producing duplicate output columns) —
    one row per (document, violation), built by exploding the plan's
    violations of each invalid row inline with the payload (no self-join
    back onto the report)."""
    checked = report.checked
    engine_cols = ("_valid", "_n_violations", "_part_id")
    payload = [c for c in checked.columns if c not in engine_cols]
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

    valid = checked.filter(F.col("_valid")).select(*payload, "_part_id")
    _write_bucketed(
        valid, valid_path, fmt, report.buckets, files_per_bucket, report.id_col
    )
    bad = explode_violations(
        checked,
        [*payload, "_part_id"],
        prefix="violation_",
        violations=report.plan.violations_col(checked),
    )
    _write_bucketed(
        bad, quarantine_path, fmt, report.buckets, files_per_bucket, report.id_col
    )
