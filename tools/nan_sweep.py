#!/usr/bin/env python
"""NaN / ±Inf robustness evidence (round 8, VERDICT r7 #3 — sibling
of null_sweep.py).

Builds a non-finite-injected variant of the sf0.1 test data and runs
the Spark-vs-DuckDB differential over the query families that consume
the injected measure. Non-finite doubles are the second classic
cross-engine divergence surface after NULLs: engines disagree on NaN
ordering (Spark sorts NaN last and equal to itself; DuckDB treats NaN
as greater than +Inf), on min/max/greatest propagation, and decimal
casts of NaN/±Inf fault (Spark ANSI) or error (DuckDB) — so any
exact-sum trick that casts doubles to decimal must gate non-finite
rows explicitly. Both engines read the SAME injected parquet; any
divergence shows up as a hash mismatch or a recorded error.

Injection (deterministic key-residue gates, reproducible bit-for-bit)
— `events.value` ONLY. The TPC-H money columns keep the documented
dsum contract (finite money values, ≤6 dp — see functions/numeric.py);
`events.value` is raw telemetry where a sensor can legitimately emit
non-finite readings:

- NaN  on event_id % 25 == 5   (~4% of rows)
- +Inf on event_id % 50 == 12  (~2%)
- -Inf on event_id % 50 == 37  (~2%)

Usage:
    python tools/nan_sweep.py [src_sf_dir]       # default /root/testdata/sf0.1
Runs on correctness_sweep's record loop and injected variants (shard
NAN_SWEEP.shard.jsonl). Writes NAN_SWEEP.json at the repo root.
"""

from __future__ import annotations

import json
import math
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

# Families that read events.value (the injected measure); events_ and
# ml_ consume it as label/weight material, ts_/window_/agg_ as the
# aggregated metric.
FAMILIES = ("agg_", "ts_", "window_", "events_", "ml_", "ab_")
INJECT_RULES = {
    "events": (
        ("value", "event_id", 25, 5, float("nan")),
        ("value", "event_id", 50, 12, float("inf")),
        ("value", "event_id", 50, 37, float("-inf")),
    ),
}


STATS = "_NONFINITE_STATS.json"


def generate(src_dir: str, out_dir: str) -> dict:
    """Write the non-finite-injected copy of ``src_dir`` and its stats
    into the empty dir ``out_dir``."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    stats: dict = {}
    for name in os.listdir(src_dir):
        if not name.endswith(".parquet"):
            continue
        tbl = name[: -len(".parquet")]
        t = pq.read_table(os.path.join(src_dir, name))
        for col, key, mod, rem, val in INJECT_RULES.get(tbl, ()):
            keys = t.column(key).to_numpy()
            mask = pa.array(np.mod(keys, mod) == rem)
            pos = t.schema.get_field_index(col)
            injected = pc.if_else(
                mask,
                pa.array([val] * len(t), type=t.column(col).type),
                t.column(col),
            )
            t = t.set_column(pos, t.schema.field(pos), injected)
            label = "nan" if math.isnan(val) else ("+inf" if val > 0 else "-inf")
            stats.setdefault(tbl, {}).setdefault(col, {})[label] = {
                "n_rows": len(t),
                "n_injected": int(pc.sum(pc.cast(mask, "int64")).as_py()),
            }
        pq.write_table(t, os.path.join(out_dir, name))
    with open(os.path.join(out_dir, STATS), "w") as fh:
        json.dump(stats, fh)
    return stats


def main() -> int:
    from big_data_final_project_spark.session import get_spark

    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark(app_name="nan_sweep", shuffle_partitions=16)
    out, stats = variant(spark, src, "nonfinite", lambda d: generate(src, d), STATS)
    print(f"non-finite variant at {out}: {json.dumps(stats)}", flush=True)
    shard = shard_path("NAN_SWEEP")
    records = family_records(spark, out, FAMILIES, shard)
    fails = failures(records)
    artifact = {
        "src": src,
        "nonfinite_injection": stats,
        "families": list(FAMILIES),
        "n_queries": len(records),
        "n_fail": len(fails),
        "fails": fails,
        "source_digest": source_digest(),
        "queries": records,
    }
    print(
        f"NAN_SWEEP.json: {len(records)} queries, {len(fails)} failures"
        f"{': ' + str(fails) if fails else ''}"
    )
    return publish("NAN_SWEEP", artifact, fails, [shard])


if __name__ == "__main__":
    raise SystemExit(main())
