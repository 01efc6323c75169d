#!/usr/bin/env python
"""Skew-robustness evidence (VERDICT r6 #6).

Builds a zipf-skewed variant of the sf0.1 test data and proves two
things about the engine on it:

1. CORRECTNESS UNDER SKEW: the join/graph/dedup/tpch query families
   produce oracle-identical results on the skewed tables (the same
   Spark-vs-DuckDB differential as CORRECTNESS_SWEEP.json — both
   engines read the same skewed parquet, so any skew-induced
   wrong-result path on the Spark side shows up as a hash mismatch).
2. AQE SKEW HANDLING ENGAGES: with the skew-join thresholds scaled
   down to this data's byte sizes (at 100 TB the DEFAULT 256 MB
   threshold fires on the same shape), the hot-key partition of a
   shuffle join against the skewed table is split by
   OptimizeSkewedJoin — observed as ``skew=true`` in the final
   adaptive plan after execution.

Skew model: user_id in ``events`` and l_suppkey in ``lineitem`` are
remapped through a zipf(a=1.5) draw over their ORIGINAL key domains
(seed 42, so the variant is reproducible bit-for-bit): the hottest
key takes ~35-40% of all rows — the "one whale user / one mega
supplier" shape that breaks naive hash joins. Every other table and
column is byte-identical to the source, so FK domains stay intact.

Usage:
    python tools/skew_sweep.py [src_sf_dir]      # default /root/testdata/sf0.1
Both legs run on correctness_sweep's record loop and injected
variants (shards SKEW_SWEEP.shard{zipf,content}.jsonl); the probes run
each time. Writes SKEW_SWEEP.json at the repo root.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from check_artifacts import source_digest  # noqa: E402
from correctness_sweep import (  # noqa: E402
    failures,
    family_records,
    publish,
    shard_path,
    variant,
)

FAMILIES = ("join_", "graph_", "dedup_", "tpch_")
SKEW_COLS = {"events": "user_id", "lineitem": "l_suppkey"}
ZIPF_A = 1.5
SEED = 42

# Content-key leg (VERDICT r8 #2): relational-key zipf skew cannot see
# the gram/shingle-frequency skew class — there the SHUFFLE KEY is a
# hash of document CONTENT, so the skew is planted as a duplicated
# boilerplate span across a slice of `documents`, the shape of web
# boilerplate / licence headers at 100 TB. ~10% of docs get the same
# 40-token prefix: every one of its 8-gram windows becomes a hot
# cross-doc gram, every 2-gram shingle a hot shingle.
CONTENT_FAMILIES = ("dedup_", "text_", "curation_")
BOILER_TOKENS = (
    "all rights reserved this page is provided under the terms of "
    "service and privacy policy please contact the site administrator "
    "for permission to reproduce redistribute or modify any portion "
    "of the content displayed on this website thank you kindly"
)
BOILER_DOC_MOD = 10  # plant in doc_id % 10 == 0 (~10% of the corpus)


STATS = "_SKEW_STATS.json"
CONTENT_STATS = "_CONTENT_STATS.json"


def generate(src_dir: str, out_dir: str) -> dict:
    """Write the skewed copy of ``src_dir`` and its skew stats per
    table into the empty dir ``out_dir``."""
    import numpy as np
    import pyarrow.parquet as pq

    stats: dict = {}
    for name in os.listdir(src_dir):
        if not name.endswith(".parquet"):
            continue
        tbl = name[: -len(".parquet")]
        t = pq.read_table(os.path.join(src_dir, name))
        col = SKEW_COLS.get(tbl)
        if col is not None:
            domain = np.unique(t.column(col).to_numpy())
            rng = np.random.RandomState(SEED)
            idx = (rng.zipf(ZIPF_A, len(t)) - 1) % len(domain)
            skewed = domain[idx]
            import pyarrow as pa

            pos = t.schema.get_field_index(col)
            t = t.set_column(
                pos, t.schema.field(pos), pa.array(skewed, type=t.schema.field(pos).type)
            )
            top = np.bincount(idx).max()
            stats[tbl] = {
                "skewed_col": col,
                "n_rows": len(t),
                "n_keys": int(len(domain)),
                "top_key_rows": int(top),
                "top_key_share_pct": round(100.0 * top / len(t), 1),
            }
        pq.write_table(t, os.path.join(out_dir, name))
    with open(os.path.join(out_dir, STATS), "w") as fh:
        json.dump(stats, fh)
    return stats


def generate_content(src_dir: str, out_dir: str) -> dict:
    """Write the content-skewed copy of ``src_dir`` into the empty dir
    ``out_dir``: BOILER_TOKENS prepended to text (and n_chars updated)
    for doc_id % BOILER_DOC_MOD == 0; every other table byte-identical."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    stats: dict = {}
    for name in os.listdir(src_dir):
        if not name.endswith(".parquet"):
            continue
        tbl = name[: -len(".parquet")]
        t = pq.read_table(os.path.join(src_dir, name))
        if tbl == "documents":
            df = t.to_pandas()
            mask = df["doc_id"] % BOILER_DOC_MOD == 0
            df.loc[mask, "text"] = BOILER_TOKENS + " " + df.loc[mask, "text"]
            df["n_chars"] = df["text"].str.len().astype("int64")
            t = pa.Table.from_pandas(df, preserve_index=False).cast(t.schema)
            n_tok = len(BOILER_TOKENS.split())
            stats[tbl] = {
                "planted_docs": int(mask.sum()),
                "n_docs": len(df),
                "boiler_tokens": n_tok,
                "hot_8gram_occurrences": int(mask.sum()) * (n_tok - 7),
            }
        pq.write_table(t, os.path.join(out_dir, name))
    with open(os.path.join(out_dir, CONTENT_STATS), "w") as fh:
        json.dump(stats, fh)
    return stats


def content_hot_path_probe(spark, out_dir: str) -> dict:
    """Prove the gram-keyed dedup family's conditional-salting skew
    path ENGAGES on planted boilerplate and does not change results.

    With spark.bdfp.skew.hotThreshold lowered beneath the planted
    gram frequency (at 100 TB the DEFAULT 65536 fires on the same
    shape — a boilerplate spanning 10% of a web corpus has >>1e6
    occurrences per gram), each gram-family query is run twice —
    default threshold (all-cold routing) vs lowered (planted grams
    hot) — and must return identical rows. Also records the number
    of hot grams the flag aggregate actually sees, and why AQE could
    not have done this: the byte-compressed hot partition stays under
    OptimizeSkewedJoin's size thresholds (round-9 probe, SCALE.md)."""
    from pyspark.sql import functions as F

    from big_data_final_project_spark.data import load_table
    from big_data_final_project_spark.operators.salting import (
        SKEW_HOT_THRESHOLD_CONF,
        SKEW_N_SALTS_CONF,
    )
    from big_data_final_project_spark.registry import catalog

    cat = catalog()
    names = [
        "dedup_exact_substr_spans",
        "dedup_exact_substr_coverage",
        "dedup_substring_windows",
        "curation_span_cut",
    ]
    # beneath the planted frequency (BOILER in ~n_docs/10 documents →
    # each boilerplate 8-gram occurs ~n_docs/10 times = 500 at sf0.1),
    # so the planted grams — and only content-hot grams — go HOT
    lowered = 256

    # hot grams visible to the flag aggregate at the lowered threshold
    d = load_table(spark, out_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    g = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(t) >= 8 THEN transform(sequence(1, size(t)-7),"
                " i -> xxhash64(concat_ws(' ', slice(t, i, 8))))"
                " ELSE CAST(array() AS array<bigint>) END"
            )
        ).alias("wh"),
    )
    counts = g.groupBy("wh").agg(F.count("*").alias("n"))
    n_hot = counts.where(F.col("n") > lowered).count()
    top = counts.agg(F.max("n").alias("m")).collect()[0]["m"]

    def run_all():
        return {
            n: sorted(map(tuple, cat[n].fn(spark, out_dir).collect()))
            for n in names
        }

    base = run_all()
    spark.conf.set(SKEW_HOT_THRESHOLD_CONF, str(lowered))
    spark.conf.set(SKEW_N_SALTS_CONF, "8")
    try:
        hot = run_all()
    finally:
        spark.conf.unset(SKEW_HOT_THRESHOLD_CONF)
        spark.conf.unset(SKEW_N_SALTS_CONF)

    # AUTO leg (VERDICT r9 #3): no threshold conf at all — emulate the
    # 100 TB regime instead: shuffle.partitions=4096 (cluster
    # parallelism, so a partition's fair share of the dup-gram rows
    # drops beneath the planted gram's frequency) and broadcastRows=0
    # (a gram dictionary too big to broadcast, which is what makes the
    # salted shuffle path the live one at scale). auto_hot_threshold()
    # must then detect the hot set from exact build counts alone, and
    # results must equal the default run.
    from big_data_final_project_spark.operators.salting import (
        SKEW_BROADCAST_ROWS_CONF,
        _fair_share_threshold,
    )

    # ADVICE r10: record the auto threshold from the SAME build each
    # reworked query actually passes to salted_skew_join — the r10
    # figure came from a dup-gram build no query uses.
    # dedup_substring_windows feeds the FULL gram dictionary
    # (count = total window occurrences); the exact-substr family
    # feeds the CROSS-DOC flag rows only.
    total_all = counts.agg(F.sum("n")).collect()[0][0] or 0
    thr_full = _fair_share_threshold(int(total_all), 4096)
    n_hot_full = counts.where(F.col("n") > thr_full).count()
    xdoc = g.groupBy("wh").agg(
        (F.min("doc_id") != F.max("doc_id")).alias("xdoc"),
        F.count("*").alias("n"),
    ).where("xdoc")
    total_xdoc = xdoc.agg(F.sum("n")).collect()[0][0] or 0
    thr_xdoc = _fair_share_threshold(int(total_xdoc), 4096)
    n_hot_xdoc = xdoc.where(F.col("n") > thr_xdoc).count()
    saved_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4096")
    spark.conf.set(SKEW_BROADCAST_ROWS_CONF, "0")
    try:
        auto = run_all()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved_parts)
        spark.conf.unset(SKEW_BROADCAST_ROWS_CONF)
    return {
        "lowered_hot_threshold": lowered,
        "n_hot_grams": int(n_hot),
        "top_gram_occurrences": int(top),
        "hot_path_identical": {n: base[n] == hot[n] for n in names},
        # per-build auto decisions at 4096 partitions — what each
        # query's salted_skew_join derives on its own build
        "auto_threshold_full_dict_at_4096_parts": thr_full,
        "n_hot_grams_auto_full_dict": int(n_hot_full),
        "auto_threshold_xdoc_at_4096_parts": thr_xdoc,
        "n_hot_grams_auto_xdoc": int(n_hot_xdoc),
        "auto_path_identical": {n: base[n] == auto[n] for n in names},
    }


def pair_volume_probe(spark, out_dir: str) -> dict:
    """VERDICT r9 #1's candidate-VOLUME evidence (the value sweep
    alone cannot see a blowup — f² waste returns correct rows): on
    the planted-boilerplate corpus, count the pair generators'
    candidate hits and compare against the unfiltered inverted-index
    volume (sum over (shingle, block) of C(f, 2) — exactly what the
    pre-round-10 self-join materialized).

    Pass criteria, recorded per round:
      * jaccard_reduced — the lossless prefix+position route emits
        strictly fewer hits than the unfiltered join;
      * containment_bounded — every hit comes from an eligible
        (df <= cap) shingle, so the total is <= cap/2 * occurrences,
        LINEAR in corpus size; the planted boilerplate shingles
        (df ~ nd/10 > nd/20) are stop-shingles in every block that
        reaches the floor and contribute ZERO hits.
    """
    from pyspark.sql import functions as F

    from big_data_final_project_spark.queries.dedup import (
        CONTAINMENT_CAP_OFF_CONF,
        CONTAINMENT_DF_FLOOR,
        CONTAINMENT_STOP_DIV,
        _containment_candidate_hits,
        _jaccard_candidate_hits,
        _shingle_index,
        dedup_containment,
    )

    docs, ex = _shingle_index(spark, out_dir)
    df_tab = ex.groupBy("lang", "len_bucket", "s").agg(
        F.count(F.lit(1)).alias("df")
    )
    blk = docs.groupBy("lang", "len_bucket").agg(
        F.count(F.lit(1)).alias("nd")
    )
    row = (
        df_tab.join(blk, ["lang", "len_bucket"])
        .agg(
            F.sum(F.expr("df * (df - 1) div 2")).alias("unfiltered_hits"),
            F.sum("df").alias("occurrences"),
            F.max("df").alias("max_df"),
            F.sum(
                F.when(
                    F.col("df")
                    > F.greatest(
                        F.lit(CONTAINMENT_DF_FLOOR),
                        F.expr(f"nd div {CONTAINMENT_STOP_DIV}"),
                    ),
                    F.lit(1),
                ).otherwise(F.lit(0))
            ).alias("n_stop_shingle_blocks"),
            F.max("nd").alias("max_nd"),
        )
        .first()
    )
    jac_hits = _jaccard_candidate_hits(docs, ex).count()
    jac_hits_strict = _jaccard_candidate_hits(docs, ex, 1, 2).count()
    con_hits = _containment_candidate_hits(docs, ex).count()
    cap = max(
        CONTAINMENT_DF_FLOOR, int(row["max_nd"]) // CONTAINMENT_STOP_DIV
    )
    bound = cap * int(row["occurrences"]) // 2
    # ADVICE r10: the capped screen's TRUE-PAIR recall, per run — the
    # cap-off conf restores the lossless screen as ground truth and
    # the ratio records exactly how much the df-cap gives up on this
    # corpus (the dropped pairs share only stop-shingles by
    # construction of the rule).
    pairs = lambda df: {(r["doc_a"], r["doc_b"]) for r in df.collect()}
    capped_pairs = pairs(dedup_containment(spark, out_dir))
    spark.conf.set(CONTAINMENT_CAP_OFF_CONF, "true")
    try:
        truth_pairs = pairs(dedup_containment(spark, out_dir))
    finally:
        spark.conf.unset(CONTAINMENT_CAP_OFF_CONF)
    return {
        "unfiltered_hits": int(row["unfiltered_hits"]),
        "jaccard_hits": int(jac_hits),
        "jaccard_hits_strict_tau": int(jac_hits_strict),
        "containment_hits": int(con_hits),
        "n_stop_shingle_blocks": int(row["n_stop_shingle_blocks"]),
        "max_df": int(row["max_df"]),
        "containment_cap_max_block": cap,
        "containment_volume_bound": bound,
        "jaccard_reduced": bool(jac_hits < int(row["unfiltered_hits"])),
        "jaccard_strict_reduced": bool(jac_hits_strict < jac_hits),
        "containment_bounded": bool(con_hits <= bound),
        "containment_recall_pairs": f"{len(capped_pairs)}/{len(truth_pairs)}",
        "containment_capped_is_subset": bool(capped_pairs <= truth_pairs),
    }


def zipf_shingle_volume_probe(spark) -> dict:
    """Strict-tau prefix power on ZIPF-distributed shingles (ROUND11
    'round 12' note, closed in-round): the parquet corpus's background
    df is uniform-dense, which UNDERSTATES the prefix filter — on
    natural text the df distribution is zipf and the boilerplate-class
    shingles that explode Σ C(df,2) are exactly the ones df-ordering
    pushes out of prefixes. This probe builds a reproducible
    zipf(a=1.2) shingle corpus (4,000 docs x ~80 draws over a 50k
    universe, seed 7, plus 20 planted near-dup pairs), runs both
    registered taus' generators, and records the cut. Pass criteria:
    the strict screen's relative volume is smaller than the loose
    screen's, every planted pair survives the strict prefix filter
    (losslessness spot check on zipf data), and the strict cut beats
    the loose cut by at least 2x on this df shape."""
    import numpy as np
    from pyspark.sql import functions as F

    from big_data_final_project_spark.queries.dedup import (
        _jaccard_candidate_hits,
    )

    rng = np.random.RandomState(7)
    n_docs, universe = 4000, 50_000
    rows = []
    for i in range(1, n_docs + 1):
        sh = sorted(set((rng.zipf(1.2, 80) - 1) % universe))
        rows.append((i, [int(x) for x in sh]))
    # planted near-dups: copy 20 docs with one shingle changed
    planted = []
    for j in range(20):
        src_id, sh = rows[j * 50]
        mut = sorted(set(sh[:-1] + [universe + j]))
        nid = n_docs + 1 + j
        rows.append((nid, [int(x) for x in mut]))
        planted.append((src_id, nid))
    docs = spark.createDataFrame(
        [(i, "xx", 0, sh, len(sh)) for i, sh in rows],
        "doc_id long, lang string, len_bucket long, shh array<bigint>, n int",
    )
    ex = docs.select(
        "doc_id", "lang", "len_bucket", "n", F.explode("shh").alias("s")
    ).withColumn("m", F.md5(F.col("s").cast("string")))
    unfiltered = int(
        ex.groupBy("lang", "len_bucket", "s")
        .agg(F.count(F.lit(1)).alias("df"))
        .agg(F.sum(F.expr("df * (df - 1) div 2")))
        .first()[0]
    )
    loose = int(_jaccard_candidate_hits(docs, ex).count())
    strict_hits = _jaccard_candidate_hits(docs, ex, 1, 2)
    strict = int(strict_hits.count())
    cand = {
        (r["doc_a"], r["doc_b"])
        for r in strict_hits.select("doc_a", "doc_b").distinct().collect()
    }
    planted_found = sum(1 for p in planted if p in cand)
    loose_ratio = loose / max(unfiltered, 1)
    strict_ratio = strict / max(unfiltered, 1)

    # Containment df-cap recall on the SAME zipf corpus (ROUND11
    # note #2, closed in-round): plant 20 subset pairs (child = a
    # 20-shingle slice of a parent, true containment = 1.0 by
    # construction, so ground truth is free — no 87M-hit uncapped
    # join needed) and ask how many the CAPPED screen finds. Two
    # child flavors measure the mechanism: 'common' children slice
    # the parent's most-frequent (lowest-id ≈ zipf-hottest) shingles
    # — the boilerplate-wrapped shape the cap is expected to miss —
    # while 'rare' children slice the rarest; the pair (found_rare
    # high, found_common low) is the zipf recall statement.
    from big_data_final_project_spark.queries.dedup import (
        _containment_candidate_hits,
        _containment_verified,
    )

    sub_rows, sub_common, sub_rare = [], [], []
    for j in range(10):
        src_id, sh = rows[j * 97]
        if len(sh) < 40:
            continue
        cid = n_docs + 100 + j
        sub_rows.append((cid, [int(x) for x in sh[:20]]))  # hottest slice
        sub_common.append((src_id, cid))
        rid = n_docs + 200 + j
        sub_rows.append((rid, [int(x) for x in sh[-20:]]))  # rarest slice
        sub_rare.append((src_id, rid))
    docs2 = spark.createDataFrame(
        [(i, "xx", 0, sh, len(sh)) for i, sh in rows + sub_rows],
        "doc_id long, lang string, len_bucket long, shh array<bigint>, n int",
    )
    ex2 = docs2.select(
        "doc_id", "lang", "len_bucket", "n", F.explode("shh").alias("s")
    ).withColumn("m", F.md5(F.col("s").cast("string")))
    capped_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in _containment_verified(
            docs2, _containment_candidate_hits(docs2, ex2).distinct()
        )
        .select("doc_a", "doc_b")
        .collect()
    }
    key = lambda p: (min(p), max(p))
    found_common = sum(1 for p in sub_common if key(p) in capped_pairs)
    found_rare = sum(1 for p in sub_rare if key(p) in capped_pairs)

    return {
        "n_docs": n_docs + len(planted),
        "zipf_a": 1.2,
        "unfiltered_hits": unfiltered,
        "jaccard_hits": loose,
        "jaccard_hits_strict_tau": strict,
        "loose_ratio_ppm": int(loose_ratio * 1_000_000),
        "strict_ratio_ppm": int(strict_ratio * 1_000_000),
        "planted_pairs": len(planted),
        "planted_found_strict": int(planted_found),
        "strict_lossless_on_planted": planted_found == len(planted),
        "strict_beats_loose_2x": strict_ratio * 2 <= loose_ratio,
        "containment_subset_pairs": {
            "planted_common": len(sub_common),
            "found_common_slice": int(found_common),
            "planted_rare": len(sub_rare),
            "found_rare_slice": int(found_rare),
            # the cap must still find rare-shingle subset dups on
            # zipf df; common-slice misses are the documented trade
            "rare_slice_recall_ok": found_rare == len(sub_rare),
        },
    }


def aqe_probe(spark, out_dir: str) -> dict:
    """Join the zipf-skewed ``lineitem`` (top l_suppkey ~38% of rows)
    against ``supplier`` (broadcast disabled) with the AQE skew-join
    thresholds scaled to this data's bytes — at 100 TB the DEFAULT
    256 MB threshold fires on the same shape — and return whether
    OptimizeSkewedJoin split the hot partition.

    Two probe subtleties, both discovered the hard way:
    - The skew annotation only exists in the FINAL adaptive plan, so
      execution must be triggered through the SAME QueryExecution
      that is inspected (``collect()`` on the DataFrame, not a write,
      which builds its own QueryExecution and leaves the inspected
      one ``isFinalPlan=false``).
    - A self-join shape (table join its own groupBy) never splits:
      the aggregate side's hash output partitioning cannot be
      duplicated per skew-slice without re-aggregation, so
      OptimizeSkewedJoin skips it. Two distinct tables are the
      representative 100 TB shape anyway (fact x dim).
    """
    from big_data_final_project_spark.data import load_table

    saved = {}
    lowered = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "131072",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32768",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    for k, v in lowered.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        li = load_table(spark, out_dir, "lineitem").select(
            "l_suppkey", "l_extendedprice"
        )
        su = load_table(spark, out_dir, "supplier").select(
            "s_suppkey", "s_nationkey"
        )
        joined = (
            li.join(su, li.l_suppkey == su.s_suppkey)
            .groupBy("s_nationkey")
            .count()
        )
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        return {
            "skew_split_observed": "skew=true" in plan,
            "join_node": next(
                (
                    ln.strip()
                    for ln in plan.splitlines()
                    if "SortMergeJoin" in ln or "ShuffledHashJoin" in ln
                ),
                None,
            ),
            "thresholds": {
                "skewedPartitionThresholdInBytes": 131072,
                "advisoryPartitionSizeInBytes": 32768,
            },
        }
    finally:
        for k, v in saved.items():
            if v is None:
                try:
                    spark.conf.unset(k)
                except Exception:
                    pass
            else:
                spark.conf.set(k, v)


def main() -> int:
    from big_data_final_project_spark.session import get_spark

    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark(app_name="skew_sweep", shuffle_partitions=16)
    out, stats = variant(spark, src, "skewed", lambda d: generate(src, d), STATS)
    print(f"skewed variant at {out}: {json.dumps(stats)}", flush=True)

    aqe = aqe_probe(spark, out)
    print(f"AQE probe: {aqe}", flush=True)
    shards = [shard_path("SKEW_SWEEP", "zipf"), shard_path("SKEW_SWEEP", "content")]
    records = family_records(spark, out, FAMILIES, shards[0])
    fails = failures(records)

    # ---- content-key leg (VERDICT r8 #2) ----
    content_out, content_stats = variant(
        spark, src, "content_skewed", lambda d: generate_content(src, d), CONTENT_STATS
    )
    print(f"content-skewed variant at {content_out}: {json.dumps(content_stats)}", flush=True)
    hot_probe = content_hot_path_probe(spark, content_out)
    print(f"content hot-path probe: {hot_probe}", flush=True)
    pair_volume = pair_volume_probe(spark, content_out)
    print(f"pair-volume probe: {pair_volume}", flush=True)
    zipf_volume = zipf_shingle_volume_probe(spark)
    print(f"zipf-shingle volume probe: {zipf_volume}", flush=True)
    content_records = family_records(
        spark, content_out, CONTENT_FAMILIES, shards[1]
    )
    content_fails = failures(content_records)
    if not pair_volume["jaccard_reduced"]:
        content_fails.append("pair_volume:jaccard_not_reduced")
    if not pair_volume["containment_bounded"]:
        content_fails.append("pair_volume:containment_unbounded")
    if not zipf_volume["strict_lossless_on_planted"]:
        content_fails.append("zipf_volume:planted_pair_lost")
    if not zipf_volume["strict_beats_loose_2x"]:
        content_fails.append("zipf_volume:strict_cut_too_weak")
    if not zipf_volume["containment_subset_pairs"]["rare_slice_recall_ok"]:
        content_fails.append("zipf_volume:rare_subset_pair_lost")
    for leg in ("hot_path_identical", "auto_path_identical"):
        for n, same in hot_probe[leg].items():
            if not same:
                content_fails.append(f"{leg}:{n}")
    fails = fails + [f"content:{n}" for n in content_fails]

    artifact = {
        "src": src,
        "skew": stats,
        "zipf_a": ZIPF_A,
        "seed": SEED,
        "families": list(FAMILIES),
        "n_queries": len(records) + len(content_records),
        "n_fail": len(fails),
        "fails": fails,
        "aqe": aqe,
        "content": {
            "families": list(CONTENT_FAMILIES),
            "boiler_doc_mod": BOILER_DOC_MOD,
            "stats": content_stats,
            "hot_path_probe": hot_probe,
            "pair_volume_probe": pair_volume,
            "zipf_shingle_volume_probe": zipf_volume,
            "n_queries": len(content_records),
            "n_fail": len(content_fails),
            "queries": content_records,
        },
        "source_digest": source_digest(),
        "queries": records,
    }
    print(
        f"SKEW_SWEEP.json: {len(records)} zipf + {len(content_records)} "
        f"content = {len(records) + len(content_records)} queries, "
        f"{len(fails)} failures"
        f"{': ' + str(fails) if fails else ''}; aqe skew split: "
        f"{aqe['skew_split_observed']}; content hot grams: "
        f"{hot_probe['n_hot_grams']} (auto full-dict "
        f"{hot_probe['n_hot_grams_auto_full_dict']} @ thr "
        f"{hot_probe['auto_threshold_full_dict_at_4096_parts']}, xdoc "
        f"{hot_probe['n_hot_grams_auto_xdoc']} @ thr "
        f"{hot_probe['auto_threshold_xdoc_at_4096_parts']}); pair hits "
        f"unfiltered/jaccard/jaccard-strict/containment: "
        f"{pair_volume['unfiltered_hits']}/{pair_volume['jaccard_hits']}/"
        f"{pair_volume['jaccard_hits_strict_tau']}/"
        f"{pair_volume['containment_hits']}; containment recall "
        f"{pair_volume['containment_recall_pairs']}"
    )
    return publish("SKEW_SWEEP", artifact, fails, shards)


if __name__ == "__main__":
    raise SystemExit(main())
