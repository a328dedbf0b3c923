"""Recommended Spark configuration for the validation engine at scale.

These are the settings the engine is designed against; apply them via
``SparkSession.builder.config(...)`` or ``spark-submit --conf``.
"""

from __future__ import annotations

from typing import Dict


def recommended_conf(
    executor_cores: int = 8,
    target_partitions: int | None = None,
) -> Dict[str, str]:
    """Engine-recommended configs.

    * AQE on (runtime coalescing + skew-join splitting) — the referential
      anti-joins rely on it to choose their join strategy and to split
      skewed keys.
    * 128 MB scan partitions keep the flagship check's per-task working
      set (spans arrays + violation buffers) comfortably in executor
      memory at wide schemas.
    * Arrow batches sized for the pandas-UDF escape hatches (kernel
      fallback, t-digest, multimodal decode).
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
        # scale-adaptive partitioning (round 6): start every shuffle wide
        # and let AQE coalesce small ones back down, instead of pinning
        # all shuffles to the core count. A 5.5M-doc LSH candidates stage
        # explodes to ~88M (id, bucket) rows — over 32 partitions each
        # reducer ingests ~2.8M rows; 8x headroom cut the warm stage
        # 123s -> 113s (local[32], round-6 notes) while AQE's
        # coalescePartitions keeps small/medium queries at their former
        # partition counts (sf1.0 bench suite unchanged). Parameterised
        # off target_partitions, so cluster deployments scale it with
        # their core count rather than inheriting a local constant.
        conf["spark.sql.adaptive.coalescePartitions.initialPartitionNum"] = str(
            8 * target_partitions
        )
    return conf
