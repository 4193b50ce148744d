import contextlib
import time
import uuid

import numpy as np
import pytest


@pytest.fixture(scope="session")
def rng():
    return np.random.default_rng(42)


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("pqs-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.python.unix.domain.socket.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def spark_jobs(spark):
    """``with spark_jobs() as jobs: ...`` fills ``jobs`` with the ids of
    the Spark jobs the block ran, counted in a job group of its own once
    the status tracker has seen every job of the group end (listener
    events arrive asynchronously, so an exact count read at once could be
    short; an empty group waits 1 s)."""
    sc = spark.sparkContext
    st = sc.statusTracker()

    @contextlib.contextmanager
    def counted():
        group = f"counted-{uuid.uuid4().hex[:8]}"
        jobs: list[int] = []
        sc.setJobGroup(group, "counted")
        try:
            yield jobs
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        for _ in range(50):
            ids = st.getJobIdsForGroup(group)
            if ids and all(st.getJobInfo(j) is not None and st.getJobInfo(j)
                           .status in ("SUCCEEDED", "FAILED") for j in ids):
                break
            time.sleep(0.02)
        jobs.extend(st.getJobIdsForGroup(group))

    return counted
