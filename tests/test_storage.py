"""Storage-layout evidence: z-order clustering actually tightens
per-file min/max statistics (the thing row-group skipping prunes on),
and bucketed tables round-trip the join correctly (the no-Exchange
plan shape is asserted in test_plans.py)."""

from __future__ import annotations

import glob
import os

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
    from big_data_final_project_spark.queries.storage import _bucketed_pair

    li_name, o_name = _bucketed_pair(spark, sf_dir)
    got = (
        spark.table(li_name)
        .join(spark.table(o_name), F.col("l_orderkey") == F.col("o_orderkey"))
        .count()
    )
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    want = li.join(o, li["l_orderkey"] == o["o_orderkey"]).count()
    assert got == want


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


def test_materialize_modes_agree(spark, sf_dir, tmp_path):
    """The materialize() seam (VERDICT r4 #5): the same query produces
    identical results whether intermediates go through localCheckpoint
    (bench default), reliable checkpoint (cluster), or parquet staging
    (100 TB posture) — proving the mode switch changes durability, not
    semantics."""
    from big_data_final_project_spark.operators.scale import (
        MATERIALIZE_DIR_CONF,
        MATERIALIZE_MODE_CONF,
    )
    from big_data_final_project_spark.registry import catalog

    # two shapes: a single materialized re-read intermediate (tfidf)
    # and an iterative per-round lineage cut (connected components —
    # the seam's hardest case: checkpoints inside a convergence loop)
    cat = catalog()
    # graph_pagerank and dedup_clusters stage bucket_by intermediates
    # (round 7), so this loop also proves bucketed-table staging
    # changes layout, not semantics.
    for qname in ("text_tfidf_top_terms", "dedup_clusters", "graph_pagerank"):
        q = cat[qname]

        def run():
            # session_cached would serve the local-mode frame across
            # modes; clear it so each mode rebuilds through the seam
            from big_data_final_project_spark.operators.scale import (
                _SESSION_CACHE,
            )

            _SESSION_CACHE.clear()
            return sorted(map(tuple, q.fn(spark, sf_dir).collect()))

        base = run()  # default: local
        assert base, f"{qname} returned no rows"
        spark.conf.set(MATERIALIZE_DIR_CONF, str(tmp_path))
        try:
            for mode in ("reliable", "table"):
                spark.conf.set(MATERIALIZE_MODE_CONF, mode)
                assert run() == base, f"{qname} mode {mode} diverged"
        finally:
            spark.conf.unset(MATERIALIZE_MODE_CONF)
            spark.conf.unset(MATERIALIZE_DIR_CONF)


def test_table_mode_evicts_dead_session_staging(spark, tmp_path):
    """VERDICT r6 #2 + ADVICE r7: table-mode staging recorded by a
    DEAD session is swept on the next table-mode call — the directory
    AND the bucketed stage's catalog table (dirs-only eviction
    accumulated unbounded bdfp_staged_* entries dangling at swept
    paths) — while the live session's own staged paths stay readable
    (the returned frame re-reads lazily)."""
    from big_data_final_project_spark.operators import scale

    dead_dir = tmp_path / "dead_staged"
    dead_dir.mkdir()
    (dead_dir / "part-0.parquet").write_bytes(b"x")
    # a dead session's BUCKETED stage also left a catalog table
    spark.range(3).write.option(
        "path", str(tmp_path / "dead_tbl")
    ).saveAsTable("bdfp_staged_deadbeef")
    scale._STAGED_PATHS["application_dead_0001"] = [
        (str(dead_dir), None),
        (str(tmp_path / "dead_tbl"), "bdfp_staged_deadbeef"),
    ]

    spark.conf.set(scale.MATERIALIZE_MODE_CONF, "table")
    spark.conf.set(scale.MATERIALIZE_DIR_CONF, str(tmp_path / "staging"))
    try:
        out = scale.materialize(spark.range(5).selectExpr("id AS v"))
        assert sorted(r.v for r in out.collect()) == [0, 1, 2, 3, 4]
    finally:
        spark.conf.unset(scale.MATERIALIZE_MODE_CONF)
        spark.conf.unset(scale.MATERIALIZE_DIR_CONF)

    assert not dead_dir.exists(), "dead session's staging not evicted"
    assert "application_dead_0001" not in scale._STAGED_PATHS
    assert not spark.catalog.tableExists(
        "bdfp_staged_deadbeef"
    ), "dead session's staged catalog table not dropped"
    app = spark.sparkContext.applicationId
    live = scale._STAGED_PATHS.get(app, [])
    assert live and all(
        __import__("os").path.isdir(p) for p, _t in live
    ), "live session's staged path must survive eviction"


def test_table_mode_bucketed_staging_avoids_exchange(spark, tmp_path):
    """VERDICT r6 #5: a table-mode stage declared with bucket_by is
    written bucketed+sorted on the join key, so the re-read join
    consumes the scan's HashPartitioning — NO Exchange on the staged
    side (only the probe side shuffles), while a plain parquet stage
    pays Exchanges on both sides. Rows are identical either way."""
    from big_data_final_project_spark.operators import scale

    spark.conf.set(scale.MATERIALIZE_MODE_CONF, "table")
    spark.conf.set(scale.MATERIALIZE_DIR_CONF, str(tmp_path / "staging"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        big = spark.range(0, 20000).selectExpr("id % 97 AS u", "id AS payload")
        probe = spark.range(0, 97).selectExpr("id AS u", "id * 2 AS r")

        plain = scale.materialize(big)
        bucketed = scale.materialize(big, bucket_by=("u",), n_buckets=8)

        def n_shuffles(df):
            plan = df._jdf.queryExecution().executedPlan().toString()
            return plan.count("Exchange hashpartitioning")

        j_plain = plain.join(probe, "u")
        j_bucketed = bucketed.join(probe, "u")
        assert n_shuffles(j_plain) == 2, "plain staging should shuffle both sides"
        assert n_shuffles(j_bucketed) == 1, (
            "bucketed staging must not re-shuffle the staged side"
        )
        assert sorted(map(tuple, j_plain.collect())) == sorted(
            map(tuple, j_bucketed.collect())
        )
        # aggregation on the bucket key also rides the bucketing
        agg = bucketed.groupBy("u").count()
        assert n_shuffles(agg) == 0
    finally:
        spark.conf.unset(scale.MATERIALIZE_MODE_CONF)
        spark.conf.unset(scale.MATERIALIZE_DIR_CONF)
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
