"""Recommended Spark configuration for the validation engine at scale.

These are the settings the engine is designed against; apply them via
``SparkSession.builder.config(...)`` or ``spark-submit --conf``.
"""

from __future__ import annotations

from typing import Dict


def recommended_conf(target_partitions: int | None = None) -> Dict[str, str]:
    """Engine-recommended configs.

    * AQE on (runtime coalescing + skew-join splitting) — the referential
      anti-joins rely on it to choose their join strategy and to split
      skewed keys.
    * 128 MB scan partitions keep the flagship check's per-task working
      set (spans arrays + violation buffers) comfortably in executor
      memory at wide schemas.
    * Arrow batches sized for the pandas-UDF escape hatches (kernel
      fallback, t-digest, multimodal decode).
    * ``target_partitions`` sets the shuffle width: every shuffle starts
      there and AQE coalesces the small ones.
    """
    conf = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        # columnar decode of array<struct> spans without row materialization
        "spark.sql.parquet.enableNestedColumnVectorizedReader": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.sql.parquet.aggregatePushdown": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    }
    if target_partitions:
        conf["spark.sql.shuffle.partitions"] = str(target_partitions)
    return conf
