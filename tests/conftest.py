from __future__ import annotations

import pytest

from faang_pydantics_validation_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(master="local[4]", app_name="tests", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def dataset(spark):
    """Small deterministic transcript dataset (t1-smoke scale)."""
    from faang_pydantics_validation_spark.datagen import gen_transcripts

    tables = gen_transcripts(spark, n_convs=200, base_turns=20, hot_mult=25, seed=42)
    # cache: reused by many tests
    for df in tables.values():
        df.cache()
    return tables


@pytest.fixture
def spark_jobs(spark):
    """spark_jobs(fn) -> (fn(), number of Spark jobs fn started), counted
    in a job group of its own."""
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = f"spark_jobs_{uuid.uuid4().hex}"
        sc.setJobGroup(group, "counted")
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
