import contextlib
import os
import sys
import uuid

import pytest

os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
os.environ.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("search_engine_spark_tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "6g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


@pytest.fixture()
def corpus_df(spark):
    from search_engine_spark.testing.synth import synth_corpus

    return spark.createDataFrame(synth_corpus(n_docs=150, seed=42))


@pytest.fixture()
def count_jobs(spark):
    """Context-manager factory counting the Spark jobs a block runs::

        with count_jobs() as jobs:
            engine.search("term").collect()
        assert len(jobs) <= 3

    The block runs under its own job group; on exit the listener bus is
    drained and ``jobs`` is filled with the group's job ids
    (StatusTracker)."""
    sc = spark.sparkContext

    @contextlib.contextmanager
    def _count():
        group = f"count_jobs_{uuid.uuid4().hex}"
        jobs: list[int] = []
        sc.setJobGroup(group, group)
        try:
            yield jobs
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            jobs.extend(sc.statusTracker().getJobIdsForGroup(group))

    return _count
