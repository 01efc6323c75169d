"""Focused tests for the round-13 optimization rewrites.

Pins, against either the pre-r13 shape or a brute-force reference:
  * pipeline_corpus_e2e's inline repetition gate == the old
    join-back-the-standalone-query labels;
  * sql_recursive_components' staged pair list (the recursion no
    longer re-derives the minhash candidate pipeline per level);
  * dedup_prefix_filter_join's documented giant-doc bound (VERDICT
    r12 #9): hashed-array verify matches exact string-set math even
    with a pathological giant document planted, and the giant doc
    pairs only within its own 2x length band.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_e2e_inline_gate_matches_standalone_join(spark, sf_dir):
    """The r13 inline repetition gate must label exactly the docs the
    old shape labeled: left-joining curation_repetition_stats and
    coalescing misses to gate-failure. Compared at the passes_
    repetition level on the real sf0.001 corpus (the stage_outcome
    CASE downstream is unchanged)."""
    from big_data_final_project_spark.queries.curation import (
        curation_repetition_stats,
    )
    from big_data_final_project_spark.queries.pipeline import (
        _e2e_labeled_build,
    )

    # old-shape expectation: standalone query rows, missing doc_ids
    # -> NULL -> gate failure
    rep = {
        r["doc_id"]: r["passes_repetition"]
        for r in curation_repetition_stats(spark, sf_dir).collect()
    }
    labels = _e2e_labeled_build(spark, sf_dir).collect()
    assert len(labels) > 0
    for r in labels:
        want_pass = bool(rep.get(r["doc_id"], False))
        # docs that fail the gate and are not benchmark-held-out must
        # be labeled gate_repetition; gate-passing docs must never be
        if r["source"] != "src0" and not want_pass:
            assert r["stage_outcome"] == "gate_repetition", r
        else:
            assert r["stage_outcome"] != "gate_repetition", r


def test_recursive_components_pairs_are_staged(spark, sf_dir):
    """r13: the recursive CTE's edge source must be a materialized
    pair list (Scan ExistingRDD), not the live minhash candidate
    pipeline — otherwise every recursion level re-runs the band
    self-join."""
    from big_data_final_project_spark.queries.sql_surface import (
        sql_recursive_components,
    )

    qe = sql_recursive_components(spark, sf_dir)._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    # the checkpointed pair list prints as LogicalRDD (inside the
    # recursion's rendered subtree) or Scan ExistingRDD
    assert "LogicalRDD" in plan or "ExistingRDD" in plan
    # the signature pipeline's band-hash machinery must NOT be in the
    # recursion's plan anymore
    assert "band_hash" not in plan and "band_idx" not in plan

    # the same two facts read off the optimized plan tree instead of
    # its rendering: every scan is the staged pair list, and no node
    # outputs a banded-signature column (names taken from dedup)
    from big_data_final_project_spark.data import load_table
    from big_data_final_project_spark.queries.dedup import sig_rows

    band_cols = set(sig_rows(load_table(spark, sf_dir, "documents")).columns)
    band_cols -= {"doc_id", "sig"}
    assert band_cols
    nodes, stack = [], [qe.optimizedPlan()]
    while stack:
        node = stack.pop()
        nodes.append(node)
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    scans = {
        n.nodeName()
        for n in nodes
        if n.children().isEmpty() and n.nodeName() != "UnionLoopRef"
    }
    assert scans == {"LogicalRDD"}, scans
    outputs = {
        n.output().apply(i).name() for n in nodes for i in range(n.output().size())
    }
    assert not outputs & band_cols, outputs & band_cols


def test_prefix_filter_join_giant_doc_bound(spark, tmp_path):
    """VERDICT r12 #9: plant a giant document (300+ tokens, ~100x the
    others) plus a near-dup of it and small docs. The screen must (a)
    reproduce exact string-set intersection math through the hashed
    arrays, (b) pair the giant doc only with docs within its 2x
    distinct-trigram band — so a giant doc can never fan its heavy
    array out across the small-doc candidate space."""
    from big_data_final_project_spark.queries.dedup import (
        dedup_prefix_filter_join,
    )

    from .test_opt_r12 import _stage_docs

    giant_toks = [f"w{i}" for i in range(300)]
    giant = " ".join(giant_toks)
    giant_near = " ".join(giant_toks[:290])  # J ~ 288/298 >= 0.5
    docs = [
        (1, giant),
        (2, giant_near),
        (3, "alpha beta gamma delta epsilon zeta"),
        (4, "alpha beta gamma delta epsilon eta"),
        (5, "w0 w1 w2 w3"),  # shares the giant's rarest prefix trigrams
    ]
    sf_dir = _stage_docs(tmp_path / "sf_giant", docs)

    rows = dedup_prefix_filter_join(spark, sf_dir).collect()
    got = {
        (r["doc_a"], r["doc_b"]): (r["n_a"], r["n_b"], r["isect"])
        for r in rows
    }

    def tris(text):
        toks = " ".join(text.lower().split()).split(" ")
        if len(toks) < 3:
            return None
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    sets = {i: tris(t) for i, t in docs}
    want = {}
    for a in sorted(sets):
        for b in sorted(sets):
            if a >= b or sets[a] is None or sets[b] is None:
                continue
            na, nb = len(sets[a]), len(sets[b])
            isect = len(sets[a] & sets[b])
            if 2 * isect >= na + nb - isect:
                want[(a, b)] = (na, nb, isect)
    assert got == want
    assert (1, 2) in got  # the giant near-dup pair survives
    # the giant doc never pairs outside its 2x length band
    for (a, b) in got:
        assert {a, b} <= {1, 2} or {a, b} <= {3, 4, 5}
