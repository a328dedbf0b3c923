"""The two workloads. Each drives the package only through its public API.

A workload builds its inputs (``load``, timed and repeated), computes
their expected results once (``expect_results``), then runs one
closed-loop iteration of its operation sequence per call of
``iteration``. Every public call goes through :meth:`Ops.run`, which
times it, checks its result outside the timed region and counts it as
attempted, and as failed on an exception or a wrong result.
"""

from __future__ import annotations

import glob
import os
import shutil
import sys
import time
import traceback
from contextlib import contextmanager
from typing import Callable, Dict, List, Optional

import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

from valideer_spark.engine import ValidationEngine, write_partitioned, write_quarantine
from valideer_spark.flagship import doc_schema
from valideer_spark.operators import duplicate_keys, orphan_keys
from valideer_spark.sources import DOCS_SCHEMA, synth_media_catalog
from valideer_spark.streaming import IncrementalValidator

from . import inputs, oracle
from .oracle import expect
from .tracing import Tracer, cpu_seconds

N_DOCS = 50_000
QUARANTINE_DOCS = 10_000
QUARANTINE_BUCKETS = 4
STREAM_SAMPLE = 10  # the appended stream holds ~1/10 of the quarantine docs
STREAM_FILES = 2


class Ops:
    """Runs, times and checks public calls; counts attempts and failures."""

    def __init__(self, tracer: Tracer, jvm_pid: int):
        self.tracer = tracer
        self.jvm_pid = jvm_pid
        self.attempted = 0
        self.failures: List[str] = []  # "<iteration> <call>: <what went wrong>"
        self.untimed_s = 0.0  # oracle, checks and clean-up inside set-up
        self.seconds: Dict[str, float] = {}  # this iteration's call times
        self.cpu: Dict[str, float] = {}  # and the CPU time each call used
        self.docs: Dict[str, int] = {}  # docs validated by each validating call

    def start_iteration(self, label: str) -> None:
        self.tracer.iteration = label
        self.seconds, self.cpu = {}, {}

    @contextmanager
    def untimed(self, name: str):
        self.tracer.describe(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.untimed_s += time.perf_counter() - t0
            self.tracer.describe(None)

    def run(self, name: str, fn: Callable, check: Optional[Callable] = None, docs: int = 0):
        self.attempted += 1
        cpu0, t0 = cpu_seconds(self.jvm_pid), time.perf_counter()
        try:
            with self.tracer.span(name):
                out = fn()
        except Exception:
            self._fail(name)
            return None
        finally:
            self.seconds[name] = time.perf_counter() - t0
            self.cpu[name] = cpu_seconds(self.jvm_pid) - cpu0
        if docs:
            self.docs[name] = docs
        if check is not None:
            with self.untimed(name + ".check"):
                try:
                    check(out)
                except Exception:
                    self._fail(name)
        return out

    @property
    def failed(self) -> int:
        return len(self.failures)

    def _fail(self, name: str) -> None:
        error = sys.exc_info()[1]
        self.failures.append("%s %s: %s: %s" % (self.tracer.iteration, name, type(error).__name__, error))
        traceback.print_exc(file=sys.stderr)


def _persist(df):
    df = df.persist()
    df.count()
    return df


def _cached_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


def _parquet_files(path: str) -> List[str]:
    """The data files of a Spark parquet output, flat or partitioned."""
    return glob.glob(os.path.join(path, "*.parquet")) + glob.glob(
        os.path.join(path, "*", "*.parquet")
    )


def _parquet_rows(path: str) -> int:
    """Row count of a Spark parquet output, read from the file footers
    rather than by a Spark job, so a check costs the run little time."""
    return sum(pq.read_metadata(f).num_rows for f in _parquet_files(path))


def _plan_counters(df) -> Dict[str, int]:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return {
        "plan_chars": len(plan),
        "format_string_count": plan.count("format_string("),
        "zip_with_count": plan.count("zip_with("),
        "rlike_count": plan.count("RLIKE"),
    }


class Workload:
    name = ""
    verdict_call = ""  # the call whose result is the first verdict in hand
    min_iterations = 3  # measured iterations, however short --seconds is

    def __init__(self, spark, ops: Ops, seed: int, work_dir: str):
        self.spark = spark
        self.ops = ops
        self.tracer = ops.tracer
        self.seed = seed
        self.work_dir = work_dir
        self.layer_values: Dict[str, float] = {}  # per-layer values outside spans
        self.provenance: Dict[str, object] = {}

    def load(self) -> None:
        """Build the inputs: the timed set-up. Each call replaces the
        inputs of the one before it; the caller clears Spark's cache."""
        raise NotImplementedError

    def expect_results(self) -> None:
        """Compute the expected results of the loaded inputs, untimed."""
        raise NotImplementedError

    def iteration(self) -> None:
        raise NotImplementedError

    def _docs(self, n_docs: int):
        with self.tracer.span("sources.synth_docs") as s:
            docs = _persist(inputs.docs(self.spark, n_docs, self.seed))
        self.layer_values["sources.synth_docs_s"] = s.seconds
        return docs


class ValidateFlagship(Workload):
    name = "validate_flagship"
    verdict_call = "engine.verdicts"

    def load(self) -> None:
        self.docs = self._docs(N_DOCS)
        with self.tracer.span("sources.synth_media_catalog"):
            self.catalog = _persist(
                synth_media_catalog(inputs.window(self.spark, N_DOCS, self.seed), N_DOCS)
            )
        self.layer_values["sources.cached_input_mb"] = _cached_mb(self.spark)
        self.engine = ValidationEngine(doc_schema())
        with self.tracer.span("plans.compile") as s:
            self.engine.plan_for(self.docs)
        self.layer_values["plans.compile_s"] = s.seconds

    def expect_results(self) -> None:
        with self.ops.untimed("oracle.docs"):
            table = self.docs.toArrow()
            self.expected = oracle.expected_docs(table)
            self.dupes = oracle.expected_duplicates(table)
            self.media_orphans = oracle.expected_media_orphans(table)
        self.provenance.update(
            input_docs=self.expected.n_docs,
            expected_valid=self.expected.n_valid,
            expected_violation_rows=self.expected.violation_rows,
        )

    def iteration(self) -> None:
        ops, docs, exp = self.ops, self.docs, self.expected
        n = exp.n_docs
        report = ops.run("engine.check", lambda: self.engine.check(docs))
        if report is None:
            return
        if self.tracer.enabled:
            self._record_plan_shapes(report, docs)

        def check_verdicts(rows):
            expect(sum(r["n_docs"] for r in rows) == exp.n_docs, "n_docs")
            expect(sum(r["n_valid"] for r in rows) == exp.n_valid, "n_valid")
            expect(sum(r["n_violations"] for r in rows) == exp.violation_rows, "n_violations")
            expect(all(r["pass"] == (r["n_valid"] == r["n_docs"]) for r in rows), "pass")

        ops.run("engine.verdicts", lambda: report.verdicts().collect(), check_verdicts, docs=n)

        observed = Observation("violation_rows")

        def violation_rows():
            out = report.violation_rows().observe(observed, F.count(F.lit(1)).alias("rows"))
            out.write.format("noop").mode("overwrite").save()
            return observed.get["rows"]

        def check_rows(count):
            expect(count == exp.violation_rows, "violation rows %s" % count)
            self.layer_values["engine.violation_rows_out"] = count

        ops.run("engine.violation_rows", violation_rows, check_rows, docs=n)

        def check_metrics(rows):
            expect({r["constraint"]: r["count"] for r in rows} == exp.by_constraint, "metrics")

        ops.run("engine.metrics", lambda: report.metrics().collect(), check_metrics, docs=n)

        def check_partition_metrics(rows):
            totals: Dict[str, int] = {}
            for r in rows:
                totals[r["constraint"]] = totals.get(r["constraint"], 0) + r["n"]
            expect(totals == exp.by_constraint, "partition metrics")

        ops.run(
            "engine.partition_metrics",
            lambda: report.partition_metrics().collect(),
            check_partition_metrics,
            docs=n,
        )

        def fastpath():
            with self.tracer.span("plans.plan_for"):
                plan = self.engine.plan_for(docs)
            with self.tracer.span("plans.is_valid_col"):
                valid = plan.is_valid_col(docs)
            return docs.select(F.sum(valid.cast("long"))).collect()[0][0]

        ops.run(
            "engine.fastpath",
            fastpath,
            lambda n_valid: expect(n_valid == exp.n_valid, "fast path n_valid"),
            docs=n,
        )

        # table constraints on the same docs: joins and aggregations that
        # bypass the lowering, so a predicate change leaves them unmoved
        def media_orphans():
            refs = docs.select(F.explode("spans").alias("s")).select(
                F.col("s.media_ref").alias("media_ref")
            )
            orphans = orphan_keys(refs, "media_ref", self.catalog, "media_ref")
            row = orphans.agg(F.count(F.lit(1)), F.sum("n_rows")).collect()[0]
            return int(row[0]), int(row[1] or 0)

        ops.run(
            "operators.orphan_keys_media",
            media_orphans,
            lambda got: expect(got == self.media_orphans, "media orphans %s" % (got,)),
        )
        ops.run(
            "operators.duplicate_keys",
            lambda: duplicate_keys(docs, "doc_id", salt=16).collect(),
            lambda rows: expect(
                {r["doc_id"]: r["dup_count"] for r in rows} == self.dupes, "duplicate keys"
            ),
        )

    def _record_plan_shapes(self, report, docs) -> None:
        """Plan-shape counters of each flagship DataFrame, from sibling
        DataFrames built by the same calls (the timed ones stay fresh)."""
        with self.ops.untimed("plans.shape"):
            frames = {
                "verdicts": report.verdicts(),
                "violation": report.violation_rows(),
                "metrics": report.metrics(),
                "partition_metrics": report.partition_metrics(),
                "predicate": docs.select(
                    F.sum(self.engine.plan_for(docs).is_valid_col(docs).cast("long"))
                ),
            }
            for frame, df in frames.items():
                for counter, value in _plan_counters(df).items():
                    self.layer_values["plans.%s_%s" % (frame, counter)] = value


class QuarantineResume(Workload):
    name = "quarantine_resume"
    verdict_call = "engine.run_with_checkpoint"
    # an iteration takes 10-15 s on 4 cores: one, so that a run stays
    # near a minute even when the host is busy
    min_iterations = 1
    iteration_no = 0

    def load(self) -> None:
        docs = self._docs(QUARANTINE_DOCS)
        root = self.work_dir
        self.docs_dir = os.path.join(root, "docs")
        self.stream_dir = os.path.join(root, "stream_in")
        with self.tracer.span("engine.write_partitioned"):
            write_partitioned(docs, self.docs_dir, buckets=QUARANTINE_BUCKETS)
        with self.tracer.span("bench.append_stream_files"):
            inputs.sample(docs, self.seed, STREAM_SAMPLE).repartition(STREAM_FILES).write.mode(
                "overwrite"
            ).parquet(self.stream_dir)
        docs.unpersist()
        # this workload's input is the parquet layout, not a cache
        self.layer_values["sources.cached_input_mb"] = sum(
            os.path.getsize(f) for f in glob.glob(os.path.join(self.docs_dir, "*", "*.parquet"))
        ) / 1e6

    def expect_results(self) -> None:
        with self.ops.untimed("oracle.docs"):
            table = inputs.docs(self.spark, QUARANTINE_DOCS, self.seed).toArrow()
            self.expected = oracle.expected_docs(table)
            self.stream_expected = oracle.expected_docs(pq.read_table(self.stream_dir))
        self.provenance.update(
            input_docs=self.expected.n_docs,
            input_stream_docs=self.stream_expected.n_docs,
            buckets=QUARANTINE_BUCKETS,
        )

    def iteration(self) -> None:
        ops, spark = self.ops, self.spark
        exp, stream_exp = self.expected, self.stream_expected
        self.iteration_no += 1
        out = os.path.join(self.work_dir, "out-%d" % self.iteration_no)
        with ops.untimed("clear_outputs"):
            for old in glob.glob(os.path.join(self.work_dir, "out-*")):
                shutil.rmtree(old)
        engine = ValidationEngine(
            doc_schema(), buckets=QUARANTINE_BUCKETS, checkpoint_dir=os.path.join(out, "ck")
        )

        def read_docs():
            return spark.read.parquet(self.docs_dir)

        def check_run(rows):
            expect(sum(r["n_docs"] for r in rows) == exp.n_docs, "checkpoint n_docs")
            expect(sum(r["n_valid"] for r in rows) == exp.n_valid, "checkpoint n_valid")
            expect(len({r["part_id"] for r in rows}) == len(rows), "one row per bucket")

        ops.run(
            "engine.run_with_checkpoint",
            lambda: engine.run_with_checkpoint(read_docs()).collect(),
            check_run,
            docs=exp.n_docs,
        )
        ops.run(
            "engine.resume_noop",
            lambda: engine.run_with_checkpoint(read_docs()).collect(),
            lambda rows: expect(rows == [], "resume revalidated %d buckets" % len(rows)),
        )

        valid_dir, quarantine_dir = os.path.join(out, "valid"), os.path.join(out, "quarantine")

        def check_quarantine(_):
            expect(_parquet_rows(valid_dir) == exp.n_valid, "valid rows")
            expect(_parquet_rows(quarantine_dir) == exp.violation_rows, "quarantine rows")
            self.layer_values["engine.quarantine_files"] = sum(
                len(_parquet_files(d)) for d in (valid_dir, quarantine_dir)
            )

        ops.run(
            "engine.write_quarantine",
            lambda: write_quarantine(engine.check(read_docs()), valid_dir, quarantine_dir),
            check_quarantine,
            docs=exp.n_docs,
        )

        stream_out = os.path.join(out, "stream")

        def check_stream(_):
            verdicts = pq.read_table(
                _parquet_files(os.path.join(stream_out, "verdicts")),
                columns=["batch_id", "n_docs", "n_valid"],
            ).to_pydict()
            expect(sum(verdicts["n_docs"]) == stream_exp.n_docs, "stream n_docs")
            expect(sum(verdicts["n_valid"]) == stream_exp.n_valid, "stream n_valid")
            violations = _parquet_rows(os.path.join(stream_out, "violations"))
            expect(violations == stream_exp.violation_rows, "stream violation rows")
            self.layer_values["streaming.batches"] = len(set(verdicts["batch_id"]))

        ops.run(
            "streaming.run_available",
            lambda: IncrementalValidator(
                doc_schema(), DOCS_SCHEMA, stream_out, buckets=QUARANTINE_BUCKETS
            ).run_available(spark, self.stream_dir),
            check_stream,
            docs=stream_exp.n_docs,
        )


WORKLOADS = {w.name: w for w in (ValidateFlagship, QuarantineResume)}
