"""Semantic invariants + plan shapes of the round-4 operators —
properties the oracle differential can't state (it proves
Spark == DuckDB; these prove both mean what the operator claims)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from big_data_final_project_spark.data import load_table
from big_data_final_project_spark.plans.audit import audit
from big_data_final_project_spark.registry import catalog


def _run(spark, sf_dir, name):
    return catalog()[name].fn(spark, sf_dir)


def test_welch_ttest_matches_textbook_formula(spark, sf_dir):
    row = _run(spark, sf_dir, "ab_welch_ttest").collect()[0]
    e = load_table(spark, sf_dir, "events").select("user_id", "value").toPandas()
    a = e[e.user_id % 2 == 0].value
    b = e[e.user_id % 2 == 1].value
    assert row["n_a"] == len(a) and row["n_b"] == len(b)
    assert math.isclose(row["mean_a"], a.mean(), rel_tol=1e-9)
    assert math.isclose(row["var_a"], a.var(ddof=1), rel_tol=1e-9)
    sea, seb = a.var(ddof=1) / len(a), b.var(ddof=1) / len(b)
    t = (a.mean() - b.mean()) / math.sqrt(sea + seb)
    df = (sea + seb) ** 2 / (sea**2 / (len(a) - 1) + seb**2 / (len(b) - 1))
    assert math.isclose(row["t_stat"], t, rel_tol=1e-9)
    assert math.isclose(row["welch_df"], df, rel_tol=1e-9)
    # Welch df is bounded by min(n)-1 below and n_a+n_b-2 above
    assert min(row["n_a"], row["n_b"]) - 1 <= row["welch_df"] <= row["n_a"] + row["n_b"] - 2


def test_not_in_is_null_infected_not_exists_is_not(spark, sf_dir):
    row = _run(spark, sf_dir, "sql_not_in_null_semantics").collect()[0]
    assert row["n_null_keys"] > 0  # the trap is armed
    assert row["n_not_in"] == 0  # NULL-infected NOT IN selects nothing
    assert row["n_not_exists"] > 0  # the true anti-join count


def test_snapshot_diff_classifies_every_change(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    ops = {
        r["op"]: r["n"]
        for r in _run(spark, sf_dir, "store_snapshot_diff")
        .groupBy("op")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    n_del = c.where((F.col("c_acctbal") >= 0) & (F.col("c_acctbal") < 10)).count()
    n_ins = c.where(F.col("c_acctbal") > 9900).count()
    n_upd = c.where(F.col("c_acctbal") < 0).count()
    assert ops.get("D", 0) == n_del
    assert ops.get("I", 0) == n_ins
    assert ops.get("U", 0) == n_upd  # every delinquent changes segment


def test_incremental_merge_equals_full_recompute(spark, sf_dir):
    merged = _run(spark, sf_dir, "store_incremental_agg")
    o = load_table(spark, sf_dir, "orders")
    full = (
        o.groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .cast("double")
            .alias("revenue"),
        )
    )
    got = {r["day"]: (r["n_orders"], r["revenue"]) for r in merged.collect()}
    want = {r["day"]: (r["n_orders"], r["revenue"]) for r in full.collect()}
    assert got == want  # exact, including the double bits


def test_heavy_hitters_threshold_is_exact(spark, sf_dir):
    rows = _run(spark, sf_dir, "agg_heavy_hitters").collect()
    assert rows, "expected at least one >1% key at every sf"
    o = load_table(spark, sf_dir, "orders")
    n = o.count()
    for r in rows:
        assert r["cnt"] * 100 > n
        assert math.isclose(r["support"], r["cnt"] / n, rel_tol=1e-12)
    # supports are sorted descending
    cnts = [r["cnt"] for r in rows]
    assert cnts == sorted(cnts, reverse=True)


def test_attribution_touch_precedes_purchase(spark, sf_dir):
    rows = _run(spark, sf_dir, "events_attribution_last_touch").collect()
    assert rows
    for r in rows:
        assert r["touch_channel"] in ("view", "click")
        assert r["touch_ts"] <= r["ts"]
        assert r["gap_us"] >= 0


def test_geo_join_equals_naive_quadratic(spark, sf_dir):
    """Grid-blocked pairs == brute-force pairs (full set, pre-limit,
    recomputed in pandas)."""
    got = {
        (r["pa"], r["pb"], r["dist2"])
        for r in _run(spark, sf_dir, "geo_grid_proximity_join").collect()
    }
    e = load_table(spark, sf_dir, "events").select("event_id", "user_id").toPandas()
    x = (e.user_id * 2654435761) % 200
    y = (e.event_id * 2246822519) % 200
    pts = sorted(zip(e.event_id, x, y))
    brute = []
    for i, (pa, ax, ay) in enumerate(pts):
        for pb, bx, by in pts[i + 1 :]:
            d2 = (ax - bx) ** 2 + (ay - by) ** 2
            if d2 <= 4:
                brute.append((d2, min(pa, pb), max(pa, pb)))
    brute.sort()
    want = {(pa, pb, d2) for d2, pa, pb in brute[: len(got)]}
    # top-20 modulo tie order: compare as sets after cutting at the
    # same dist2 boundary both sides
    assert len(got) == min(20, len(brute))
    max_d2 = max(d2 for _, _, d2 in got) if got else 0
    strict_want = {t for t in want if t[2] < max_d2}
    strict_got = {t for t in got if t[2] < max_d2}
    assert strict_want == strict_got


def test_jaccard_scores_are_valid_and_edges_flagged(spark, sf_dir):
    rows = _run(spark, sf_dir, "graph_jaccard_neighbors").collect()
    assert rows
    for r in rows:
        assert 0.0 < r["jaccard"] <= 1.0
        assert r["common"] >= 1
        assert r["pa"] < r["pb"]


# Plan shapes: the 100 TB posture of the new operators.


def test_geo_join_is_hash_join_not_cartesian(spark, sf_dir):
    p = audit(catalog()["geo_grid_proximity_join"].fn(spark, sf_dir))
    assert p.cartesian_products == 0


def test_jaccard_wedge_join_no_cartesian_topk_take_ordered(spark, sf_dir):
    df = catalog()["graph_jaccard_neighbors"].fn(spark, sf_dir)
    p = audit(df)
    assert p.cartesian_products == 0
    from big_data_final_project_spark.plans.audit import formatted_plan

    assert "TakeOrderedAndProject" in formatted_plan(df)


def test_heavy_hitters_total_broadcasts_back(spark, sf_dir):
    p = audit(catalog()["agg_heavy_hitters"].fn(spark, sf_dir))
    assert p.cartesian_products <= 1  # 1-row broadcast crossJoin only
    # count shuffle + 1-row total agg + broadcast + final sort
    assert p.shuffles <= 4


def test_snapshot_diff_single_key_shuffle_per_side(spark, sf_dir):
    p = audit(catalog()["store_snapshot_diff"].fn(spark, sf_dir))
    assert p.cartesian_products == 0


def test_lifecycle_ops_are_idempotent_and_selective(spark, sf_dir):
    """vacuum/erase re-run must produce identical results (the erase
    request list lives outside the store), and erase must leave
    unaffected partitions' FILES untouched (partition-selective
    rewrite, not a table rewrite)."""
    import glob
    import os

    first = {
        (r["day"], r["n_rows"], r["rewritten"])
        for r in _run(spark, sf_dir, "store_gdpr_erase").collect()
    }
    # untouched-partition file inventory after first erase
    from big_data_final_project_spark.queries.timeseries import _partitioned_store

    store = _partitioned_store(spark, sf_dir, "store_gdpr", private=True)
    untouched_days = [d for d, _, rw in first if not rw]
    inventory = {
        d: sorted(glob.glob(os.path.join(store, f"event_date={d.isoformat()}", "*")))
        for d in untouched_days
    }
    second = {
        (r["day"], r["n_rows"], r["rewritten"])
        for r in _run(spark, sf_dir, "store_gdpr_erase").collect()
    }
    assert first == second
    for d, files in inventory.items():
        now = sorted(glob.glob(os.path.join(store, f"event_date={d.isoformat()}", "*")))
        assert now == files, f"unaffected partition {d} was rewritten"
    # no target row survives
    out = spark.read.parquet(store)
    from pyspark.sql import functions as F2

    assert out.where(F2.col("user_id") % 97 == 0).count() == 0

    v1 = {(r["day"], r["n_rows"]) for r in _run(spark, sf_dir, "store_vacuum_retention").collect()}
    v2 = {(r["day"], r["n_rows"]) for r in _run(spark, sf_dir, "store_vacuum_retention").collect()}
    assert v1 == v2
    assert len(v1) <= 15  # 14-day window + boundary day
