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
      fallback, multimodal decode).
    * ``target_partitions`` sets the shuffle width: every shuffle starts
      there and AQE coalesces the small ones.
    * PySpark's DataFrame debugging off. With it on, classic PySpark wraps
      every ``Column`` method in a call-site capture that walks the Python
      stack and makes several extra py4j calls, which about doubles
      what building an engine's Column trees costs on the driver. PySpark
      reads the setting once per process, from the first active session.
      Trade-off: Spark analysis errors then carry no Python call site.
      The call sites captured while the engine builds its trees point
      into ``valideer_spark/plans/lowering.py``, not into user code.
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
        "spark.python.sql.dataFrameDebugging.enabled": "false",
    }
    if target_partitions:
        conf["spark.sql.shuffle.partitions"] = str(target_partitions)
    return conf
