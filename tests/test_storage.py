"""Storage-layout evidence: z-order clustering actually tightens
per-file min/max statistics (the thing row-group skipping prunes on),
and bucketed tables join with the plain join's rows (the no-Exchange
plan shape is asserted in test_bucketing.py and test_plans.py)."""

from __future__ import annotations

import glob
import os
from collections import Counter

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from big_data_final_project_spark.data import load_table
from big_data_final_project_spark.queries.storage import _z_expr


def _file_bbox_area_sum(path: str) -> float:
    """Sum over files of (u span) * (h span) from parquet footers —
    the total search area a 2-D predicate must touch."""
    total = 0.0
    for f in glob.glob(os.path.join(path, "*.parquet")):
        meta = pq.read_metadata(f)
        schema_names = meta.schema.to_arrow_schema().names
        iu, ih = schema_names.index("u"), schema_names.index("h")
        u_lo = min(meta.row_group(g).column(iu).statistics.min for g in range(meta.num_row_groups))
        u_hi = max(meta.row_group(g).column(iu).statistics.max for g in range(meta.num_row_groups))
        h_lo = min(meta.row_group(g).column(ih).statistics.min for g in range(meta.num_row_groups))
        h_hi = max(meta.row_group(g).column(ih).statistics.max for g in range(meta.num_row_groups))
        total += (u_hi - u_lo + 1) * (h_hi - h_lo + 1)
    return total


def test_zorder_files_have_tight_bounding_boxes(spark, sf_dir, tmp_path):
    e = load_table(spark, sf_dir, "events")
    pts = e.select(
        (F.col("user_id") % 256).cast("bigint").alias("u"),
        F.hour("ts").cast("bigint").alias("h"),
        "value",
    ).withColumn("zval", F.expr(_z_expr("u", "h")).cast("bigint"))

    n_files = 8
    plain = str(tmp_path / "plain")
    zsorted = str(tmp_path / "zsorted")
    # layout A: arbitrary (hash) distribution across files
    pts.repartition(n_files).write.mode("overwrite").parquet(plain)
    # layout B: files span disjoint z ranges, rows z-sorted inside
    (
        pts.repartitionByRange(n_files, "zval")
        .sortWithinPartitions("zval")
        .write.mode("overwrite")
        .parquet(zsorted)
    )

    area_plain = _file_bbox_area_sum(plain)
    area_z = _file_bbox_area_sum(zsorted)
    # hash layout: every file spans ~the whole (u, h) plane; z layout
    # tiles it. Require a decisive (not marginal) improvement.
    assert area_z < 0.5 * area_plain, (area_z, area_plain)


def test_bucketed_tables_join_matches_plain_join(spark, sf_dir):
    """The same-bucketed pair joins with the same row multiset as the
    plain tables."""
    from big_data_final_project_spark.queries.storage import _bucketed_pair

    li_name, o_name = _bucketed_pair(spark, sf_dir)
    bucketed = spark.table(li_name).join(
        spark.table(o_name), F.col("l_orderkey") == F.col("o_orderkey")
    )
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    plain = li.join(o, li["l_orderkey"] == o["o_orderkey"])
    got = Counter(map(tuple, bucketed.collect()))
    assert got == Counter(map(tuple, plain.collect()))
    assert got


def test_ingest_mirror_rechunks_big_tables(spark):
    """The compaction mirror: sub-threshold tables read the source
    file directly; above-threshold tables read a multi-file mirror
    with identical rows (sf0.1 lineitem ships as ONE row group)."""
    from big_data_final_project_spark.data import (
        _MIRROR_MIN_ROWS,
        _source_layout,
        load_table,
    )

    big_dir = "/root/testdata/sf0.1"
    rows, groups = _source_layout(big_dir, "lineitem")
    if rows < _MIRROR_MIN_ROWS or groups > 1:
        import pytest

        pytest.skip("driver testdata no longer single-group/over-threshold")
    df = load_table(spark, big_dir, "lineitem")
    assert df.rdd.getNumPartitions() > 1
    assert df.count() == rows
    # small table: no mirror, reads the source path
    small = load_table(spark, big_dir, "region")
    files = small.inputFiles()
    assert any("/testdata/" in f for f in files), files


def _mirror_dir(df) -> str:
    """The dir a mirrored table's DataFrame reads from."""
    import os

    dirs = {os.path.dirname(f.removeprefix("file:")) for f in df.inputFiles()}
    assert len(dirs) == 1, dirs
    return dirs.pop()


def test_mirror_is_content_keyed_and_sweeps_stale_versions(spark, tmp_path):
    """Round-4 (ADVICE): the mirror is keyed on source content
    (path+mtime+size), shared across processes, and superseded
    versions of the SAME table are swept while sibling tables'
    mirrors are untouched."""
    import os
    import shutil

    from big_data_final_project_spark.data import derived, load_table

    src = "/root/testdata/sf0.1"
    sf = tmp_path / "sfcopy"
    sf.mkdir()
    for t in ("events", "region"):
        shutil.copy(f"{src}/{t}.parquet", sf / f"{t}.parquet")
    sf_dir = str(sf)

    df1 = load_table(spark, sf_dir, "events")
    m1 = _mirror_dir(df1)
    n1 = df1.count()
    assert os.path.exists(m1)

    # same source bytes -> same mirror path (shared, not rebuilt)
    assert _mirror_dir(load_table(spark, sf_dir, "events")) == m1

    # touch the source (new mtime) -> new key; old version swept on build
    os.utime(sf / "events.parquet", (1, 1))
    df2 = load_table(spark, sf_dir, "events")
    m2 = _mirror_dir(df2)
    assert m2 != m1
    assert df2.count() == n1
    assert os.path.exists(m2)
    assert not os.path.exists(m1)  # superseded version got swept

    # sweep of another table's versions never touches this one
    derived(spark, sf_dir, "region", ("region",), lambda path: None)
    assert os.path.exists(m2)
    shutil.rmtree(os.path.dirname(m2))
