"""Session settings fail loudly and by name, the session keeps the
engine's generated code cached, and streaming checkpoints are written
through the FileSystem-based checkpoint manager."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from big_data_final_project_spark.session import (
    _JVM_SIZE,
    CHECKPOINT_FILE_MANAGER,
    CODEGEN_CACHE_ENTRIES,
    DEFAULT_DRIVER_MEM,
    get_spark,
)


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


def test_default_driver_mem_fits_the_machine():
    assert _JVM_SIZE.fullmatch(DEFAULT_DRIVER_MEM)
    assert DEFAULT_DRIVER_MEM.endswith("m")
    mb = int(DEFAULT_DRIVER_MEM[:-1])
    assert mb <= 16 << 10
    assert mb << 20 <= os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")


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


def test_checkpoints_use_the_filesystem_manager(spark, tmp_path):
    assert (
        spark.conf.get("spark.sql.streaming.checkpointFileManagerClass")
        == CHECKPOINT_FILE_MANAGER
    )
    jvm = spark._jvm
    checkpointing = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    manager = checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(str(tmp_path)),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    assert manager.getClass().getName() == CHECKPOINT_FILE_MANAGER
