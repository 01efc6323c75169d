#!/usr/bin/env python
"""Null-robustness evidence (round 7).

Builds a null-injected variant of the sf0.1 test data and runs the
Spark-vs-DuckDB differential over the query families that consume the
nulled columns. Null semantics are the classic cross-engine
divergence surface (NULL in aggregates vs COUNT(*), null ordering,
null-safe equality, three-valued WHERE logic, NULL propagation
through arithmetic); both engines read the SAME nulled parquet, so
any divergence shows up as a hash mismatch.

Injection (deterministic, seed 42 — md5-style hash gate on the row's
key, so the variant is reproducible bit-for-bit):
- events.value: NULL on ~5% of rows (event_id % 20 == 7)
- events.props: NULL on ~10% of rows (event_id % 10 == 3)
- documents.lang: NULL on ~5% of rows (doc_id % 20 == 11)

Columns that operators CONTRACTUALLY require non-null (embeddings
vectors, join keys, timestamps) are left intact — a pipeline nulls
measures and attributes, not identities.

Usage:
    python tools/null_sweep.py [src_sf_dir]      # default /root/testdata/sf0.1
Runs on correctness_sweep's record loop and injected variants (shard
NULL_SWEEP.shard.jsonl). Writes NULL_SWEEP.json at the repo root.
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

# dedup_ added in round 12 (ADVICE r11: the NULL-lang block-sampler
# divergence was latent precisely because the family was excluded
# even though the sweep plants NULL documents.lang)
FAMILIES = ("agg_", "ts_", "window_", "scalar_", "text_", "events_",
            "null_", "dedup_")
NULL_RULES = {
    "events": (("value", "event_id", 20, 7), ("props", "event_id", 10, 3)),
    "documents": (("lang", "doc_id", 20, 11),),
}


STATS = "_NULL_STATS.json"


def generate(src_dir: str, out_dir: str) -> dict:
    """Write the nulled copy of ``src_dir`` and its stats into the
    empty dir ``out_dir``."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    stats: dict = {}
    for name in os.listdir(src_dir):
        if not name.endswith(".parquet"):
            continue
        tbl = name[: -len(".parquet")]
        t = pq.read_table(os.path.join(src_dir, name))
        for col, key, mod, rem in NULL_RULES.get(tbl, ()):
            import numpy as np

            keys = t.column(key).to_numpy()
            mask = pa.array(np.mod(keys, mod) == rem)
            pos = t.schema.get_field_index(col)
            nulled = pc.if_else(mask, pa.nulls(len(t), t.column(col).type), t.column(col))
            t = t.set_column(pos, t.schema.field(pos), nulled)
            stats.setdefault(tbl, {})[col] = {
                "n_rows": len(t),
                "n_null": int(pc.sum(pc.cast(mask, "int64")).as_py()),
            }
        pq.write_table(t, os.path.join(out_dir, name))
    with open(os.path.join(out_dir, STATS), "w") as fh:
        json.dump(stats, fh)
    return stats


def nulled(spark, src: str) -> tuple[str, dict]:
    """``(dir, stats)`` of the nulled copy of ``src``."""
    return variant(spark, src, "nulled", lambda d: generate(src, d), STATS)


def main() -> int:
    from big_data_final_project_spark.session import get_spark

    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark(app_name="null_sweep", shuffle_partitions=16)
    out, stats = nulled(spark, src)
    print(f"nulled variant at {out}: {json.dumps(stats)}", flush=True)
    shard = shard_path("NULL_SWEEP")
    records = family_records(spark, out, FAMILIES, shard)
    fails = failures(records)
    artifact = {
        "src": src,
        "null_injection": stats,
        "families": list(FAMILIES),
        "n_queries": len(records),
        "n_fail": len(fails),
        "fails": fails,
        "source_digest": source_digest(),
        "queries": records,
    }
    print(
        f"NULL_SWEEP.json: {len(records)} queries, {len(fails)} failures"
        f"{': ' + str(fails) if fails else ''}"
    )
    return publish("NULL_SWEEP", artifact, fails, [shard])


if __name__ == "__main__":
    raise SystemExit(main())
