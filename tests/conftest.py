from __future__ import annotations

import os
import uuid
from contextlib import contextmanager

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from etl_cli_spark.session import get_spark

    s = get_spark(app_name="etl_cli_spark_tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def engine(spark):
    from etl_cli_spark.engine import Engine

    return Engine(spark, SF_DIR)


@pytest.fixture()
def tmp_engine(spark, tmp_path):
    """Engine rooted in a temp dir (for write-op tests)."""
    from etl_cli_spark.engine import Engine

    return Engine(spark, str(tmp_path))


@pytest.fixture()
def counted(spark):
    """Put a frame behind a pass-through ``mapInPandas`` that adds each
    batch's row count to an accumulator: ``counted(df)`` returns
    ``(wrapped, acc)`` and ``acc.value`` is the number of input rows the
    plans over ``wrapped`` have evaluated so far."""

    def wrap(df):
        acc = spark.sparkContext.accumulator(0)

        def passthru(batches):
            for pdf in batches:
                acc.add(len(pdf))
                yield pdf

        return df.mapInPandas(passthru, df.schema), acc

    return wrap


@pytest.fixture()
def persisted_rdds(spark):
    """``persisted_rdds()`` -> ids of the RDDs the session currently
    holds persisted."""
    return lambda: set(spark.sparkContext._jsc.getPersistentRDDs().keys())


@pytest.fixture()
def spark_jobs(spark):
    """``with spark_jobs() as jobs: ...`` runs the block under a unique
    job group; on exit ``jobs`` holds the ids of the Spark jobs the
    block ran (``statusTracker().getJobIdsForGroup``)."""
    sc = spark.sparkContext

    @contextmanager
    def run():
        group = f"test-{uuid.uuid4().hex}"
        jobs: list[int] = []
        sc.setJobGroup(group, group)
        try:
            yield jobs
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            jobs.extend(sorted(sc.statusTracker().getJobIdsForGroup(group)))

    return run
