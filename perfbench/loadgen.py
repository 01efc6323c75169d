"""Seeded load generator for the benchmark.

Everything the engine reads in a benchmark run comes from here, and
all of it is a pure function of ``--seed`` and ``--scale``:

* ``tables/<name>.parquet`` -- the TPC-H-ish star schema plus
  ``events``/``documents``/``embeddings``, one file and one row group
  per table, with the schemas and value shapes the engine's registry
  queries are written for (row counts follow the TPC-H scale factor:
  ``lineitem`` has 6M x scale rows).
* ``plan.json`` -- the query names and their order for the query
  workloads, and the micro-batch layout of the ingest stream.
* ``spool/batch-NNNN.jsonl`` -- for ``ingest``: the event values of each
  micro-batch as JSON lines (the message-value bytes of an event bus),
  with redelivered duplicates and malformed lines at seeded positions.
  ``spool/offered.parquet`` holds the valid rows of every batch with
  its batch number, for the correctness check.

The engine receives only these files and the query names.

Run: ``python3 perfbench/loadgen.py --out DIR --seed N --scale S
--workload dashboard|curation|ingest``
"""

from __future__ import annotations

import argparse
import json
import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Query mixes. ``dashboard`` is the analyst's interactive mix: the
# reference-parity historical queries plus sub-second analytics.
# ``curation`` is the LLM-data job list; it runs in this fixed order
# because later jobs reuse builds that earlier ones leave in the
# session cache.
DASHBOARD = (
    "ref_grouped_summary",
    "ref_time_range_counts",
    "ref_latest_per_location",
    "ref_historical_view",
    "ref_latest_record",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q6_forecast_revenue",
    "tpch_q10_returned_items",
    "window_running_sum",
    "window_topk_per_group",
    "agg_rollup",
    "join_inner_star",
)
CURATION = (
    "dedup_minhash_pairs",
    "dedup_clusters",
    "dedup_substring_windows",
    "text_tfidf_top_terms",
    "curation_decontaminate",
    "sim_lsh_bucketed_topk",
    "kmeans_lloyd_refine",
    "pipeline_training_shards",
)

# Dashboard passes laid out in the plan; a run stops at its deadline.
DASHBOARD_PASSES = 64

# Ingest stream layout.
INGEST_BATCH_ROWS = 2_000
INGEST_BATCHES = 4  # one pass of the ingest workload
DUPLICATE_SHARE = 0.02  # redelivered copies of earlier lines
MALFORMED_PER_BATCH = (1, 6)  # inclusive range of bad lines per batch

TS_EPOCH = datetime(2024, 1, 1)
VOCAB = (
    "a the spark window merge table column vector stream value data small "
    "join filter big group hash customer sort order slow line part fast row "
    "agg key query scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)


def _ts_days(rng, n, start, days):
    """n midnight timestamps uniform over [start, start + days)."""
    off = rng.integers(0, days, n).astype("timedelta64[D]")
    return pa.array(np.datetime64(start, "us") + off, pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, choices, n, p=None):
    return pa.array(np.asarray(choices, dtype=object)[rng.choice(len(choices), n, p=p)])


def make_events(rng, n_ev: int) -> pa.Table:
    """One month of event arrivals in time order, like a live feed."""
    span_us = 30 * 86_400 * 1_000_000
    ts_us = np.sort(rng.integers(0, span_us, n_ev))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(np.datetime64(TS_EPOCH, "us") + ts_us, pa.timestamp("us")),
            "user_id": pa.array(
                rng.integers(0, max(15, int(n_ev * 0.015)), n_ev), pa.int64()
            ),
            "event_type": _pick(rng, ("click", "view", "purchase", "signup", "error"), n_ev),
            "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )


def make_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = max(1_500, int(1_500_000 * scale))
    n_line = max(6_000, int(6_000_000 * scale))
    n_ev = max(1_000, int(1_000_000 * scale))
    n_doc = max(500, int(25_000 * scale))
    n_vec = max(500, int(20_000 * scale))
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    i64 = lambda a: pa.array(a, pa.int64())  # noqa: E731

    t = {}
    t["region"] = pa.table(
        {
            "r_regionkey": i32(np.arange(5)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": i32(np.arange(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": i32(np.arange(25) % 5),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": i64(np.arange(n_cust)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": i32(rng.integers(0, 25, n_cust)),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(
                rng,
                ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"),
                n_cust,
            ),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": i64(np.arange(n_supp)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": i32(rng.integers(0, 25, n_supp)),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    adj = ("small", "red", "blue", "hot", "old", "large", "new", "cold")
    noun = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod")
    t["part"] = pa.table(
        {
            "p_partkey": i64(np.arange(n_part)),
            "p_name": [
                f"{adj[a]} {noun[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": _pick(
                rng, ("ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"), n_part
            ),
            "p_size": i32(rng.integers(1, 51, n_part)),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": i64(np.arange(n_ord)),
            "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts_days(rng, n_ord, "1995-01-01", 2404),
            "o_orderpriority": _pick(
                rng, ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), n_ord
            ),
        }
    )
    qty = rng.integers(1, 51, n_line).astype("float64")
    t["lineitem"] = pa.table(
        {
            "l_orderkey": i64(rng.integers(0, n_ord, n_line)),
            "l_partkey": i64(rng.integers(0, n_part, n_line)),
            "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
            "l_linenumber": i32(rng.integers(1, 8, n_line)),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
            "l_discount": np.round(rng.uniform(0, 0.1, n_line), 2),
            "l_tax": np.round(rng.uniform(0, 0.08, n_line), 2),
            "l_returnflag": _pick(rng, ("A", "N", "R"), n_line),
            "l_linestatus": _pick(rng, ("F", "O"), n_line),
            "l_shipdate": _ts_days(rng, n_line, "1995-01-02", 2498),
        }
    )
    t["events"] = make_events(rng, n_ev)
    # Documents: uniform bag of words; 5% are near-duplicates (an
    # earlier document with a trailing marker word).
    vocab = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in rng.integers(10, 100, n_doc)]
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        if i:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    t["documents"] = pa.table(
        {
            "doc_id": i64(np.arange(n_doc)),
            "text": texts,
            "lang": _pick(rng, LANGS, n_doc, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": i64([len(s) for s in texts]),
        }
    )
    vec = rng.standard_normal((n_vec, 64)).astype("float32")
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": i64(np.arange(n_vec)),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": i32(rng.integers(0, 10, n_vec)),
        }
    )
    return t


def _event_json(ev: dict, i: int) -> str:
    """Row ``i`` of ``ev`` as the JSON value an event producer sends."""
    rec = {k: ev[k][i] for k in ev}
    rec["ts"] = rec["ts"].isoformat(timespec="microseconds") + "Z"
    return json.dumps(rec)


def write_spool(events: pa.Table, seed: int, spool: str) -> list[dict]:
    """Cut ``events`` (time-ordered) into micro-batches of JSON lines.

    Each batch gets redelivered duplicates of lines already offered
    (this batch or earlier ones) and malformed lines -- non-JSON text
    and records missing a required field -- at seeded positions."""
    rng = np.random.default_rng(seed + 1)
    os.makedirs(spool)
    ev = events.to_pydict()
    n = events.num_rows
    offered: dict[str, list] = {k: [] for k in ("batch", *ev)}
    sent: list[int] = []
    batches = []
    for b, lo in enumerate(range(0, n, INGEST_BATCH_ROWS)):
        rows = list(range(lo, min(lo + INGEST_BATCH_ROWS, n)))
        sent.extend(rows)
        n_dup = int(round(len(rows) * DUPLICATE_SHARE))
        rows += [sent[i] for i in rng.integers(0, len(sent), n_dup)]
        lines = []
        for i in rows:
            lines.append(_event_json(ev, i))
            for k in ev:
                offered[k].append(ev[k][i])
            offered["batch"].append(b)
        n_bad = int(rng.integers(MALFORMED_PER_BATCH[0], MALFORMED_PER_BATCH[1] + 1))
        for j in range(n_bad):
            if j % 2:
                bad = f"not json #{b}-{j}"
            else:
                rec = json.loads(lines[int(rng.integers(0, len(lines)))])
                rec["user_id"] = None
                bad = json.dumps(rec)
            lines.append(bad)
        order = rng.permutation(len(lines))
        path = os.path.join(spool, f"batch-{b:04d}.jsonl")
        with open(path, "w") as fh:
            fh.write("".join(lines[i] + "\n" for i in order))
        batches.append(
            {
                "file": os.path.basename(path),
                "valid_rows": len(rows),
                "malformed": n_bad,
                "bytes": os.path.getsize(path),
            }
        )
    table = pa.table(offered).cast(
        pa.schema([("batch", pa.int32())] + [events.schema.field(k) for k in ev])
    )
    pq.write_table(table, os.path.join(spool, "offered.parquet"))
    return batches


def generate(out: str, seed: int, scale: float, workload: str) -> dict:
    tables = make_tables(seed, scale)
    tdir = os.path.join(out, "tables")
    os.makedirs(tdir)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(tdir, f"{name}.parquet"))
    rng = np.random.default_rng(seed + 2)
    plan: dict = {"seed": seed, "scale": scale, "workload": workload, "tables": tdir}
    if workload == "dashboard":
        plan["passes"] = [
            [DASHBOARD[i] for i in rng.permutation(len(DASHBOARD))]
            for _ in range(DASHBOARD_PASSES)
        ]
    elif workload == "curation":
        plan["passes"] = [list(CURATION)]
    elif workload == "ingest":
        spool = os.path.join(out, "spool")
        plan["spool"] = spool
        stream = make_events(rng, INGEST_BATCH_ROWS * INGEST_BATCHES)
        plan["batches"] = write_spool(stream, seed, spool)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    with open(os.path.join(out, "plan.json"), "w") as fh:
        json.dump(plan, fh)
    return plan


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--scale", type=float, required=True)
    ap.add_argument("--workload", required=True)
    a = ap.parse_args()
    generate(a.out, a.seed, a.scale, a.workload)


if __name__ == "__main__":
    main()
