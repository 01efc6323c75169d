"""Round-12 sweep machinery: partition-invariance and unicode
robustness (the two new evidence axes), pinned as fast in-suite
versions of what tools/invariance_sweep.py and tools/unicode_sweep.py
certify at full registry width.

The full sweeps produce INVARIANCE_SWEEP.json / UNICODE_SWEEP.json at
close-out; these tests keep the mechanisms honest every pytest run at
sf0.001 cost.
"""

from __future__ import annotations

import os

import pytest

from tools.invariance_sweep import (
    CONTRACT_EXEMPT,
    LAYOUTS,
    _result_hash,
)
from tools.unicode_sweep import unicode_variant

# Representative non-streaming slice: one query per layout-sensitive
# mechanism class (decimal-exact money sums, multi-key hash agg,
# HLL merge, windowed rank, hash-join + broadcast, LSH banding,
# inverted-index self-join, iterative graph fixpoint).
INVARIANCE_MINI = [
    "tpch_q1_pricing_summary",
    "agg_multi_key",
    "agg_approx_distinct",
    "window_topk_per_group",
    "join_inner_star",
    "dedup_minhash_pairs",
    "dedup_ngram_jaccard_strict",
    "graph_pagerank",
]

UNICODE_MINI = [
    "text_token_stats",
    "text_language_id",
    "text_quality_score",
    "dedup_exact",
    "dedup_ngram_jaccard_strict",
    "curation_pii_redact",
]


def _run_under_layout(spark, name, sf_dir, confs):
    # Drop session-cached intermediates so every layout recomputes
    # the FULL pipeline (r12 review: with the shared fixture session,
    # later layouts would otherwise hash a frame the first layout
    # materialized — checkpoint reuse, not layout sensitivity; the
    # full tool avoids this with one subprocess per layout).
    from big_data_final_project_spark.operators import scale as _scale

    _scale._SESSION_CACHE.clear()
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        from big_data_final_project_spark.registry import catalog

        return catalog()[name].fn(spark, sf_dir).toPandas()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


@pytest.mark.parametrize("name", INVARIANCE_MINI)
def test_partition_invariance_mini(spark, sf_dir, name):
    """Value hash identical across (shuffle-partitions, AQE) layouts —
    the registry determinism contract's direct test (registry.py:12-24:
    decimal-exact sums, hash-gated sampling, no wall-clock)."""
    hashes = {}
    for layout, confs in LAYOUTS.items():
        pdf = _run_under_layout(spark, name, sf_dir, confs)
        hashes[layout] = _result_hash(pdf)
    assert len(set(hashes.values())) == 1, (
        f"{name} is layout-bound: {hashes}"
    )


def test_contract_exempt_is_exactly_the_documented_sampler():
    """The exemption ledger must not grow silently: every entry needs
    a written contract, and today exactly one layout-bound-by-design
    query exists."""
    assert set(CONTRACT_EXEMPT) == {"sample_deterministic"}
    for reason in CONTRACT_EXEMPT.values():
        assert "registry.py" in reason


def test_unicode_variant_generation(spark):
    """Injection is deterministic and keeps the n_chars==length(text)
    invariant (codepoints on Python, Spark, and DuckDB alike)."""
    import duckdb

    out, stats = unicode_variant(spark, "/root/testdata/sf0.001")
    d = stats["documents"]
    assert d["n_rows"] == 500
    assert d["n_replaced"] == 21  # doc_id % 24 == 17 over 0..499
    assert d["n_appended"] == 167  # doc_id % 3 == 1 minus the replaced overlap
    con = duckdb.connect()
    bad = con.execute(
        "SELECT count(*) FROM read_parquet(?) WHERE n_chars != length(text)",
        [os.path.join(out, "documents.parquet")],
    ).fetchone()[0]
    assert bad == 0
    # multibyte actually present (byte length exceeds codepoint length)
    multi = con.execute(
        "SELECT count(*) FROM read_parquet(?) "
        "WHERE strlen(text) > length(text)",
        [os.path.join(out, "documents.parquet")],
    ).fetchone()[0]
    con.close()
    assert multi == d["n_appended"] + d["n_replaced"]


@pytest.mark.parametrize("name", UNICODE_MINI)
def test_unicode_mini_differential(spark, name):
    """Spark == DuckDB on the unicode-injected corpus for the text /
    dedup / curation operators that consume documents.text."""
    from tests.oracle_utils import compare_frames, duck_connection

    from big_data_final_project_spark.registry import catalog

    out, _ = unicode_variant(spark, "/root/testdata/sf0.001")
    q = catalog()[name]
    spark_pdf = q.fn(spark, out).toPandas()
    con = duck_connection(out)
    try:
        oracle_pdf = con.execute(q.oracle).fetchdf()
    finally:
        con.close()
    assert compare_frames(spark_pdf, oracle_pdf) == []
