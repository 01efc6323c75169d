"""Semantic invariants of the round-4f operators — properties the
oracle differential can't state (it proves Spark == DuckDB; these
prove both engines mean what the operator claims)."""

from __future__ import annotations

import hashlib
import re

import duckdb
import pandas as pd

from big_data_final_project_spark.data import load_table
from big_data_final_project_spark.plans.audit import audit
from big_data_final_project_spark.registry import catalog


def _run(spark, sf_dir, name):
    return catalog()[name].fn(spark, sf_dir)


def _plan(spark, sf_dir, name):
    return audit(catalog()[name].fn(spark, sf_dir))


# ---------------------------------------------------------------- BPE


def _bpe_reference(words: dict[str, int], rounds: int = 3):
    """Textbook greedy-leftmost BPE trainer (per-word scan loop) —
    the imperative semantics the relational run-parity formulation
    claims to reproduce."""
    toks = {w: list(w) for w in words}
    merges = []
    for r in range(rounds):
        counts: dict[tuple[str, str], int] = {}
        for w, cnt in words.items():
            t = toks[w]
            for i in range(len(t) - 1):
                counts[(t[i], t[i + 1])] = counts.get((t[i], t[i + 1]), 0) + cnt
        if not counts:
            break
        (x, y), c = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((r + 1, x, y, x + y, c))
        for w, t in toks.items():
            out, i = [], 0
            while i < len(t):
                if i + 1 < len(t) and t[i] == x and t[i + 1] == y:
                    out.append(x + y)
                    i += 2
                else:
                    out.append(t[i])
                    i += 1
            toks[w] = out
    return merges


def test_bpe_train_rounds_match_textbook_trainer(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("text").toPandas()
    words: dict[str, int] = {}
    for t in docs.text.dropna():
        for w in re.sub(r"\s+", " ", t.lower()).strip().split(" "):
            if w:
                words[w] = words.get(w, 0) + 1
    expect = _bpe_reference(words, rounds=3)
    got = [
        (r["merge_round"], r["x"], r["y"], r["merged"], r["pair_cnt"])
        for r in _run(spark, sf_dir, "text_bpe_train_rounds").collect()
    ]
    assert got == expect


# -------------------------------------------------- position attribution


def test_position_attribution_conserves_journey_credit(spark, sf_dir):
    ev = (
        load_table(spark, sf_dir, "events")
        .where("event_type IN ('view', 'click', 'purchase')")
        .select("user_id", "ts", "event_id", "event_type")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
    )
    credited_journeys = 0
    credited_touches = 0
    for _, g in ev.groupby("user_id"):
        touches = 0
        for et in g.event_type:
            if et == "purchase":
                if touches:
                    credited_journeys += 1
                    credited_touches += touches
                touches = 0
            else:
                touches += 1
    rows = _run(spark, sf_dir, "events_attribution_position").collect()
    assert sum(r["credit_ppm_total"] for r in rows) == 1_000_000 * credited_journeys
    assert sum(r["n_credits"] for r in rows) == credited_touches


# ------------------------------------------------------- random walks


def test_random_walks_follow_edges_and_hash_argmin(spark, sf_dir):
    from big_data_final_project_spark.queries.graph import _knn_edges

    edges = _knn_edges(spark, sf_dir).collect()
    adj: dict[int, list[int]] = {}
    for r in edges:
        adj.setdefault(r["a"], []).append(r["b"])
        adj.setdefault(r["b"], []).append(r["a"])
    walks = _run(spark, sf_dir, "graph_random_walks").collect()
    assert len(walks) == 2 * len(adj)

    def pick(seed: int, step: int, cur: int) -> int:
        return min(
            adj[cur],
            key=lambda v: (
                hashlib.md5(f"{seed}|{step}|{cur}|{v}".encode()).hexdigest(),
                v,
            ),
        )

    for w in walks:
        cur = w["start_node"]
        for step, col in ((1, "n1"), (2, "n2"), (3, "n3")):
            nxt = w[col]
            assert nxt in adj[cur]
            assert nxt == pick(w["seed"], step, cur)
            cur = nxt


# ------------------------------------------------------------- Holt


def test_holt_linear_matches_python_recursion(spark, sf_dir):
    con = duckdb.connect()
    daily = con.execute(
        f"""
        SELECT o_orderpriority AS series, CAST(o_orderdate AS DATE) AS d,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                        AS BIGINT)) AS BIGINT) AS y
        FROM '{sf_dir}/orders.parquet'
        WHERE CAST(o_orderdate AS DATE) >=
              (SELECT max(CAST(o_orderdate AS DATE)) - INTERVAL 119 DAY
               FROM '{sf_dir}/orders.parquet')
        GROUP BY 1, 2 ORDER BY series, d
        """
    ).df()

    def tdiv2(a: int) -> int:
        return a // 2 if a >= 0 else -((-a) // 2)

    got = {r["series"]: r for r in _run(spark, sf_dir, "ts_holt_linear").collect()}
    assert set(got) == set(daily.series.unique())
    for series, g in daily.groupby("series"):
        ys = [int(v) for v in g.y]
        lvl, tr, sae, mxe = ys[0], 0, 0, 0
        for y in ys[1:]:
            pred = lvl + tr
            err = abs(y - pred)
            sae += err
            mxe = max(mxe, err)
            new_lvl = tdiv2(y + pred)
            tr = tdiv2(tr + (new_lvl - lvl))
            lvl = new_lvl
        r = got[series]
        assert (
            r["n_obs"],
            r["level_cents"],
            r["trend_cents"],
            r["forecast_cents"],
            r["sum_abs_err_cents"],
            r["max_abs_err_cents"],
        ) == (len(ys), lvl, tr, lvl + tr, sae, mxe)


# -------------------------------------------------------- CDC chunks


def test_cdc_chunks_partition_every_document(spark, sf_dir):
    con = duckdb.connect()
    norm_lens = con.execute(
        f"""
        SELECT source, CAST(sum(length(t)) AS BIGINT) AS chars,
               CAST(count(*) AS BIGINT) AS docs
        FROM (SELECT source,
                     trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
              FROM '{sf_dir}/documents.parquet')
        WHERE length(t) > 0 GROUP BY source
        """
    ).df()
    expect = {
        r.source: (int(r.chars), int(r.docs)) for r in norm_lens.itertuples()
    }
    rows = _run(spark, sf_dir, "text_cdc_chunks").collect()
    assert {r["source"] for r in rows} == set(expect)
    for r in rows:
        chars, docs = expect[r["source"]]
        # chunks tile each doc exactly: char totals and doc counts match
        assert r["total_chars"] == chars
        assert r["n_docs"] == docs
        assert 0 < r["unique_chars"] <= r["total_chars"]
        assert r["distinct_chunks"] <= r["n_chunks"]
        assert (
            r["dup_ppm"]
            == (r["total_chars"] - r["unique_chars"]) * 1_000_000 // r["total_chars"]
        )


# ------------------------------------------------------- plan shapes


def test_round4f_plan_shapes(spark, sf_dir):
    # forced strategies: both hinted operators actually appear
    p = _plan(spark, sf_dir, "sql_join_hint_shuffle")
    assert p.sortmerge_joins >= 1, p.text
    assert "ShuffledHashJoin" in p.text, p.text
    # attribution: equi-joins only, no cartesian
    p = _plan(spark, sf_dir, "events_attribution_position")
    assert p.cartesian_products == 0
    # walks: the only cross join is the 2-row seed broadcast
    p = _plan(spark, sf_dir, "graph_random_walks")
    assert p.cartesian_products == 0
    # CDC chunking: narrow explode + one window + equi-join, no cartesian
    p = _plan(spark, sf_dir, "text_cdc_chunks")
    assert p.cartesian_products == 0


# ----------------------------------------------------- LSH tuning


def test_lsh_tuning_band_subset_monotonicity(spark, sf_dir):
    rows = {r["config"]: r for r in _run(spark, sf_dir, "dedup_lsh_tuning").collect()}
    assert set(rows) == {"b4r2", "b2r4", "b1r8"}
    # a b1r8 collision needs all 8 hashes equal => implies b2r4 and
    # b4r2 collisions; candidate sets are nested, so counts and
    # recall are monotone loose -> strict
    assert (
        rows["b4r2"]["n_candidates"]
        >= rows["b2r4"]["n_candidates"]
        >= rows["b1r8"]["n_candidates"]
    )
    assert (
        rows["b4r2"]["recall_ppm"]
        >= rows["b2r4"]["recall_ppm"]
        >= rows["b1r8"]["recall_ppm"]
    )
    for r in rows.values():
        assert r["true_pos"] <= min(r["n_truth"], r["n_candidates"])
        assert r["false_neg"] == r["n_truth"] - r["true_pos"]
        if r["n_candidates"]:
            assert (
                r["precision_ppm"]
                == r["true_pos"] * 1_000_000 // r["n_candidates"]
            )


# ------------------------------------------------------------- LPA


def test_lpa_matches_python_propagation(spark, sf_dir):
    from big_data_final_project_spark.queries.graph import _knn_edges

    edges = _knn_edges(spark, sf_dir).collect()
    adj: dict[int, list[int]] = {}
    for r in edges:
        adj.setdefault(r["a"], []).append(r["b"])
        adj.setdefault(r["b"], []).append(r["a"])
    labels = {n: n for n in adj}
    for _ in range(2):
        new = {}
        for n, nbrs in adj.items():
            counts: dict[int, int] = {}
            for v in nbrs:
                counts[labels[v]] = counts.get(labels[v], 0) + 1
            new[n] = min(counts, key=lambda l: (-counts[l], l))
        labels = new
    expect: dict[int, int] = {}
    for l in labels.values():
        expect[l] = expect.get(l, 0) + 1
    got = {
        r["community"]: r["n_members"]
        for r in _run(spark, sf_dir, "graph_lpa_communities").collect()
    }
    assert got == expect
    assert sum(got.values()) == len(adj)


def test_pivot_syntax_plan_is_one_aggregate(spark, sf_dir):
    p = _plan(spark, sf_dir, "sql_pivot_syntax")
    assert p.broadcast_joins == 0 and p.sortmerge_joins == 0
    assert p.cartesian_products == 0


# ----------------------------------------------------- live SCD2


def test_scd2_live_history_invariants(spark, sf_dir):
    import os
    import tempfile

    from big_data_final_project_spark.data import sf_dir_tag

    rows = _run(spark, sf_dir, "streaming_scd2_live").collect()
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    for u, h in by_user.items():
        # dense version chain 1..n, exactly one current row (the max)
        versions = sorted(r["version"] for r in h)
        assert versions == list(range(1, len(h) + 1))
        current = [r for r in h if r["is_current"]]
        assert len(current) == 1
        assert current[0]["version"] == len(h)
    # the maintenance really was incremental: the checkpoint shows
    # multiple micro-batches (one per staged file)
    import glob

    (work,) = glob.glob(
        os.path.join(
            tempfile.gettempdir(),
            f"spark_graft_derived_{sf_dir_tag(sf_dir)}",
            f"scd2_*_{os.getpid()}",
        )
    )
    ckpt = os.path.join(work, "ckpt", "offsets")
    batches = [f for f in os.listdir(ckpt) if not f.startswith(".")]
    assert len(batches) >= 2, batches


# ------------------------------------------------- Bollinger flags


def test_bollinger_flags_match_float_bands(spark, sf_dir):
    rows = _run(spark, sf_dir, "ts_bollinger_breakouts").collect()
    daily: dict[str, list] = {}
    for r in sorted(rows, key=lambda r: (r["series"], r["day"])):
        daily.setdefault(r["series"], []).append(r)
    for r in rows:
        assert not (r["breakout_up"] and r["breakout_down"])
        # integer decision == float band decision (away from the
        # 1-ulp edge, which the integer form is immune to)
        lhs = float(r["dev7x"]) ** 2
        rhs = 4.0 * r["var49x"]
        if abs(lhs - rhs) > 1e-6 * max(lhs, rhs, 1.0):
            expect = lhs > rhs
            assert (r["breakout_up"] or r["breakout_down"]) == (
                expect and r["dev7x"] != 0
            )


# ------------------------------------------- theta sketch / KS drift


def test_theta_sketch_exact_in_unsaturated_regime(spark, sf_dir):
    r = _run(spark, sf_dir, "agg_theta_sketch_ops").collect()[0]
    assert r["exact_intersection"] <= r["exact_union"]
    assert r["est_intersection"] <= r["est_union"]
    if r["theta"] == 281474976710656:
        # both sketches unsaturated => the sketch IS the set: exact
        assert r["est_intersection"] == r["exact_intersection"]
        assert r["est_union"] == r["exact_union"]


def test_ks_drift_matches_numpy_recompute(spark, sf_dir):
    import numpy as np

    li = (
        load_table(spark, sf_dir, "lineitem")
        .selectExpr(
            "CAST(l_quantity AS BIGINT) AS q",
            "unix_micros(CAST(l_shipdate AS TIMESTAMP)) AS us",
        )
        .toPandas()
    )
    pivot = (int(li.us.min()) + int(li.us.max())) // 2
    a = np.sort(li.q[li.us <= pivot].to_numpy())
    b = np.sort(li.q[li.us > pivot].to_numpy())
    vals = np.unique(li.q.to_numpy())
    ca = np.searchsorted(a, vals, side="right").astype(object)
    cb = np.searchsorted(b, vals, side="right").astype(object)
    d_num = max(abs(int(x) * len(b) - int(y) * len(a)) for x, y in zip(ca, cb))
    rows = {r["feature"]: r for r in _run(spark, sf_dir, "ml_drift_ks_all_features").collect()}
    r = rows["quantity"]
    assert (r["n_a"], r["n_b"]) == (len(a), len(b))
    assert r["ks_ppm"] == d_num * 1_000_000 // (len(a) * len(b))


# ------------------------------------------------ Matryoshka recall


def test_matryoshka_recall_matches_numpy_recompute(spark, sf_dir):
    import numpy as np

    from big_data_final_project_spark.queries.dedup import quantize_fxp
    from big_data_final_project_spark.queries.similarity import (
        MATRYOSHKA_WIDTHS,
        N_QUERIES,
        TOP_K,
    )

    rows = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    ).collect()
    rows = sorted(rows, key=lambda r: r["vec_id"])
    ids = np.array([r["vec_id"] for r in rows])
    q = quantize_fxp(np.stack([np.asarray(r["embedding"]) for r in rows]))
    qidx = np.flatnonzero(ids < N_QUERIES)

    def topk(w):
        m = q[:, :w]
        nrm = np.sqrt((m * m).sum(axis=1))
        out = {}
        for qi in qidx:
            sims = (m[qi] @ m.T) / (nrm[qi] * nrm)
            cand = np.flatnonzero(ids != ids[qi])
            sel = cand[np.lexsort((ids[cand], -sims[cand]))[:TOP_K]]
            out[int(ids[qi])] = [int(x) for x in ids[sel]]
        return out

    full = topk(64)
    got = {r["width"]: r for r in _run(spark, sf_dir, "sim_matryoshka_recall").collect()}
    for w in MATRYOSHKA_WIDTHS:
        t = topk(w)
        top1 = sum(1 for qid in t if t[qid][0] == full[qid][0])
        ov = sum(len(set(t[qid]) & set(full[qid])) for qid in t)
        r = got[w]
        assert (r["n_queries"], r["top1_matches"], r["overlap10"]) == (
            len(t),
            top1,
            ov,
        )
    # the full-width row is the self-check: perfect by construction
    assert got[64]["recall1_ppm"] == 1_000_000
    assert got[64]["overlap10_ppm"] == 1_000_000


# -------------------------------------------- negative sampling


def test_negative_sampling_ledger_accounting(spark, sf_dir):
    from big_data_final_project_spark.queries.ml import NEG_PER_POS

    rows = _run(spark, sf_dir, "ml_negative_sampling").collect()
    assert rows
    for r in rows:
        # every positive draws exactly NEG_PER_POS slots, split into
        # emitted negatives + skipped collisions
        assert r["n_neg"] + r["n_collisions"] == NEG_PER_POS * r["n_pos"]
        assert r["n_collisions"] >= 0 and r["n_neg"] >= 0
    # determinism: a second run produces the identical ledger
    again = _run(spark, sf_dir, "ml_negative_sampling").collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_bpe_apply_compression_matches_trainer_tokenization(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("text").toPandas()
    words: dict[str, int] = {}
    for t in docs.text.dropna():
        for w in re.sub(r"\s+", " ", t.lower()).strip().split(" "):
            if w:
                words[w] = words.get(w, 0) + 1
    # replay the trainer and count corpus tokens after each merge
    toks = {w: list(w) for w in words}
    expect = [sum(len(t) * words[w] for w, t in toks.items())]
    for _ in range(3):
        counts: dict[tuple[str, str], int] = {}
        for w, cnt in words.items():
            t = toks[w]
            for i in range(len(t) - 1):
                counts[(t[i], t[i + 1])] = counts.get((t[i], t[i + 1]), 0) + cnt
        if not counts:
            break
        (x, y), _c = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        for w, t in toks.items():
            out, i = [], 0
            while i < len(t):
                if i + 1 < len(t) and t[i] == x and t[i + 1] == y:
                    out.append(x + y)
                    i += 2
                else:
                    out.append(t[i])
                    i += 1
            toks[w] = out
        expect.append(sum(len(t) * words[w] for w, t in toks.items()))
    got = {
        r["merge_round"]: r["corpus_tokens"]
        for r in _run(spark, sf_dir, "text_bpe_apply_compression").collect()
    }
    for r, tokens in enumerate(expect):
        assert got[r] == tokens
