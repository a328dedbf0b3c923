import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .appName("valideer-spark-tests")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


@pytest.fixture
def _empty_plan_cache():
    """Empties the process-wide plan cache (``plans/frame.py``) before the
    test, so its first ``compile_plan`` of a schema lowers it."""
    from valideer_spark.plans import frame

    with frame._plans_lock:
        frame._plans.clear()


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` calls ``fn()`` and returns ``(result, jobs)``:
    the number of Spark jobs the call started. Job ids only grow, so they
    are the ids in Spark's status store above the largest one seen before
    the call. The store is filled from the listener bus after an action
    returns, so the bus is drained before each read."""
    sc = spark.sparkContext._jsc.sc()

    def last_job_id():
        sc.listenerBus().waitUntilEmpty()
        jobs = sc.statusStore().jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)

    def count(fn):
        before = last_job_id()
        result = fn()
        return result, last_job_id() - before

    return count
