"""Session settings fail loudly and by name, the session keeps the
engine's generated code cached, streaming checkpoints are written
through the FileSystem-based checkpoint manager, and DataFrame calls
capture no Python call site while errors stay diagnosable."""

from __future__ import annotations

import os

import pytest
from pyspark.errors import AnalysisException, ArithmeticException
from pyspark.errors.utils import is_debugging_enabled
from pyspark.sql import functions as F

from big_data_final_project_spark.data import load_table
from big_data_final_project_spark.registry import catalog
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


def test_dataframe_calls_capture_no_call_site(spark, sf_dir, monkeypatch):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False
    client = spark.sparkContext._gateway._gateway_client
    send, sent = client.send_command, []

    def counting(command, *args, **kwargs):
        sent.append(command)
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    catalog()["tpch_q1_pricing_summary"].fn(spark, sf_dir)
    assert sent
    assert not [c for c in sent if "PySparkCurrentOrigin" in c]


def test_runtime_error_keeps_its_condition(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    with pytest.raises(ArithmeticException) as err:
        orders.select(F.col("o_orderkey") / F.lit(0)).collect()
    assert err.value.getCondition() == "DIVIDE_BY_ZERO"
    assert err.value.getSqlState() == "22012"


def _build_with_a_typo(spark, sf_dir):
    return load_table(spark, sf_dir, "orders").select("o_orderkee")


def test_analysis_error_names_the_building_function(spark, sf_dir):
    with pytest.raises(AnalysisException) as err:
        _build_with_a_typo(spark, sf_dir)
    assert err.value.getCondition().startswith("UNRESOLVED_COLUMN")
    assert "_build_with_a_typo" in [entry.name for entry in err.traceback]
