"""Incremental validation of appended data via Structured Streaming.

The batch engine (``valideer_spark.engine``) already resumes from a
partition-keyed checkpoint; this module covers the *continuous* variant:
validate documents as they arrive (new parquet files in a directory — the
sandbox stand-in for Iceberg snapshot-incremental reads) and append
verdict + violation micro-batch outputs, driven by Spark's own streaming
checkpoint/WAL.

Both sinks of a micro-batch are written from one report, so the
predicate runs once per row: the verdict write fills the report's cached
frame and the violation write reads it.

``foreachBatch`` is at-least-once: a failure after the verdict write and
before the violation write replays the micro-batch, and its verdict rows
are appended twice. ROADMAP.md item 2 ("Make replays safe and failures
loud") tracks this.

The check plan is stateless (pure per-row predicates), so no watermark or
state store is involved — each micro-batch reuses the engine's compiled
Column trees, the same expressions as the batch path.
"""

from __future__ import annotations

import os
from typing import Any, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..engine import ValidationEngine

#: the verdict sink's schema: a report's verdict counts and the batch id.
#: Reading the sink with it skips parquet's schema-inference job.
VERDICTS_SCHEMA = T.StructType(
    [
        T.StructField("part_id", T.IntegerType()),
        T.StructField("n_docs", T.LongType()),
        T.StructField("n_valid", T.LongType()),
        T.StructField("n_violations", T.LongType()),
        T.StructField("pass", T.BooleanType()),
        T.StructField("batch_id", T.IntegerType()),
    ]
)


class IncrementalValidator:
    """Continuously validate a growing parquet directory.

    :param schema: validator schema (mini-language or Validator).
    :param input_schema: StructType of the incoming documents (required by
        streaming file sources).
    :param output_dir: root for ``verdicts/`` and ``violations/`` sinks +
        the streaming checkpoint.
    """

    def __init__(
        self,
        schema: Any,
        input_schema: T.StructType,
        output_dir: str,
        id_col: str = "doc_id",
        buckets: int = 256,
    ):
        self.engine = ValidationEngine(schema, id_col=id_col, buckets=buckets)
        self.input_schema = input_schema
        self.output_dir = output_dir
        self.id_col = id_col

    def _process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        report = self.engine.check(batch_df)
        try:
            verdicts = (
                report.verdicts()
                .withColumnRenamed("_part_id", "part_id")
                .withColumn("batch_id", F.lit(batch_id))
            )
            verdicts.write.mode("append").parquet(
                os.path.join(self.output_dir, "verdicts")
            )
            report.violation_rows().withColumn(
                "batch_id", F.lit(batch_id)
            ).write.mode("append").parquet(os.path.join(self.output_dir, "violations"))
        finally:
            report.unpersist()

    def start(
        self,
        spark: SparkSession,
        input_dir: str,
        available_now: bool = True,
        max_files_per_trigger: Optional[int] = None,
    ):
        """Start the stream; ``available_now=True`` drains what exists and
        stops (incremental batch), False tails the directory forever."""
        reader = (
            spark.readStream.schema(self.input_schema)
            .format("parquet")
        )
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        stream = reader.load(input_dir)
        writer = (
            stream.writeStream.foreachBatch(self._process_batch)
            .option(
                "checkpointLocation",
                os.path.join(self.output_dir, "_stream_checkpoint"),
            )
            .outputMode("append")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def run_available(self, spark: SparkSession, input_dir: str) -> DataFrame:
        """Drain all currently-available files, wait, return verdicts."""
        q = self.start(spark, input_dir, available_now=True)
        q.awaitTermination()
        return spark.read.schema(VERDICTS_SCHEMA).parquet(
            os.path.join(self.output_dir, "verdicts")
        )
