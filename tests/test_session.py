"""Session settings fail loudly and by name, and the session keeps the
engine's generated code cached."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_final_project_spark.session import CODEGEN_CACHE_ENTRIES, get_spark


@pytest.mark.parametrize("value", ["abc", "4.5", "0", "-2", ""])
def test_malformed_cpus_names_the_variable(monkeypatch, value):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", value)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        get_spark()


@pytest.mark.parametrize("value", ["abc", "2gb", "2 g", "1.5g", "0", "-2g", "g", ""])
def test_malformed_driver_mem_names_the_variable(monkeypatch, value):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", value)
    with pytest.raises(ValueError, match="SPARK_GRAFT_DRIVER_MEM"):
        get_spark()


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _run(spark, k: int) -> None:
    spark.range(4).select(F.col("id") * k + k).write.format("noop").mode(
        "overwrite"
    ).save()


def test_codegen_cache_holds_more_than_sparks_default(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )
    # Each literal is inlined into the generated code, so every plan
    # compiles its own class; 120 of them overflow Spark's default 100.
    _run(spark, 0)
    for k in range(1, 121):
        _run(spark, k)
    before = _compiles(spark)
    _run(spark, 0)
    assert _compiles(spark) == before
