"""Call-scoped input copies (scoped.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_cli_spark.scoped import scoped_copy


def test_scoped_copy_is_released_on_every_exit(spark, persisted_rdds):
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    before = persisted_rdds()
    with pytest.raises(RuntimeError, match="boom"):
        with scoped_copy(df, "id") as copy:
            assert copy.columns == ["id"]
            assert copy.count() == 100
            assert len(persisted_rdds() - before) == 1
            raise RuntimeError("boom")
    assert persisted_rdds() - before == set()


def test_scoped_copy_reads_a_cached_input_through_its_cache(spark, persisted_rdds):
    df = spark.range(100).withColumn("v", F.col("id") * 2).persist()
    try:
        df.count()
        cached = persisted_rdds()
        with scoped_copy(df, "v") as copy:
            assert copy.agg(F.sum("v")).first()[0] == 9900
            assert persisted_rdds() - cached == set()
        assert df.storageLevel.useMemory
        assert cached <= persisted_rdds()
    finally:
        df.unpersist()
