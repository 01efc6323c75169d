"""Data layer: load_table infers each table's schema once per source
version and builds every later read without a Spark job, while still
handing out a fresh DataFrame per call."""

from __future__ import annotations

import datetime
import os
import shutil

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import types as T

from big_data_final_project_spark.data import load_table


def _jobs(spark) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def test_second_load_runs_zero_spark_jobs(spark, sf_dir, tmp_path):
    shutil.copy(os.path.join(sf_dir, "orders.parquet"), tmp_path / "orders.parquet")
    before = _jobs(spark)
    first = load_table(spark, str(tmp_path), "orders")
    assert _jobs(spark) > before  # a new source version is inferred once
    before = _jobs(spark)
    second = load_table(spark, str(tmp_path), "orders")
    assert _jobs(spark) == before
    assert second.schema == first.schema


def test_self_join_of_two_handles_matches_duckdb(spark, sf_dir):
    a = load_table(spark, sf_dir, "orders")
    b = load_table(spark, sf_dir, "orders")
    got = a.join(b, a["o_custkey"] == b["o_custkey"]).count()
    path = os.path.join(sf_dir, "orders.parquet")
    want = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{path}') a "
        f"JOIN read_parquet('{path}') b ON a.o_custkey = b.o_custkey"
    ).fetchone()[0]
    assert got == want


def test_rewritten_source_yields_new_schema(spark, tmp_path):
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": pa.array([1, 2], pa.int64())}), path)
    os.utime(path, ns=(1_000_000_000, 1_000_000_000))
    assert load_table(spark, str(tmp_path), "region").columns == ["r_regionkey"]

    pq.write_table(
        pa.table(
            {"r_regionkey": pa.array([1, 2], pa.int64()), "r_name": ["a", "b"]}
        ),
        path,
    )
    os.utime(path, ns=(2_000_000_000, 2_000_000_000))
    df = load_table(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name"]
    assert sorted(df.collect()) == [(1, "a"), (2, "b")]


def test_events_ts_both_generations_inferred_and_cached(spark, tmp_path):
    """events.ts shipped as TIMESTAMP(NANOS) and as TIMESTAMP(MICROS,
    ntz); the inferred read and the cached-schema read of either give
    TimestampType with the same microsecond values."""
    ts = [
        datetime.datetime(2024, 1, 1, 0, 0, 0, 123456),
        datetime.datetime(2024, 6, 1, 12, 30, 0, 1),
    ]
    results = []
    for unit in ("ns", "us"):
        d = tmp_path / unit
        d.mkdir()
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array([1, 2], pa.int64()),
                    "ts": pa.array(ts, pa.timestamp(unit)),
                }
            ),
            d / "events.parquet",
        )
        for _ in range(2):  # first the inferred read, then the cached one
            df = load_table(spark, str(d), "events")
            assert df.schema["ts"].dataType == T.TimestampType()
            results.append(sorted(df.collect()))
    assert all(r == results[0] for r in results)
    assert [r.ts for r in results[0]] == ts
