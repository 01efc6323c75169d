#!/usr/bin/env python
"""Unicode-robustness evidence (round 12).

A 100 TB web corpus is not ASCII: CJK text, precomposed AND combining
accents, emoji (including multi-codepoint ZWJ sequences), Cyrillic,
and RTL Arabic all reach the dedup/text/curation operators. The ASCII
test corpus cannot certify those paths, and the cross-engine surface
is real: codepoint-vs-grapheme length conventions, regex character
classes (Java regex vs RE2), case mapping, and UTF-8 hashing must
agree between Spark and DuckDB for the oracle contract to hold on
multilingual data.

This sweep builds a unicode-injected variant of the test corpus and
runs the Spark-vs-DuckDB differential over the families that consume
documents.text. Injection is deterministic (doc_id gates, like the
null/NaN sweeps), appends script-diverse suffixes to ~1 in 3 docs and
fully REPLACES a slice with unicode-only text (no ASCII token
survives — exercises empty-English-token edges in language id /
quality scoring). n_chars is recomputed post-injection (Python
len == Spark length == DuckDB length: codepoints), keeping the
precomputed column's invariant intact.

Scripts injected, by doc_id % 4 on the append slice:
- 0: precomposed Latin accents (café naïve résumé)
- 1: combining-mark Latin (cafe+U+0301) + CJK
- 2: emoji + Cyrillic
- 3: Arabic (RTL) + a ZWJ family-emoji sequence

Usage:
    python tools/unicode_sweep.py [src_sf_dir]   # default /root/testdata/sf0.1
Runs on correctness_sweep's record loop and injected variants (shard
UNICODE_SWEEP.shard.jsonl). Writes UNICODE_SWEEP.json at the repo root.
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

FAMILIES = ("text_", "dedup_", "curation_", "pipeline_", "sample_")

# Append suffixes (doc_id % 3 == 1 slice, variant by doc_id % 4).
SUFFIXES = [
    " café naïve résumé déjà café",
    " café naïve 数据 清洗 管道 数据",
    " \U0001f680\U0001f525\U0001f4ca данные очистка",
    " بيانات ضخمة \U0001f468\u200d\U0001f469\u200d\U0001f467 family",
]
# Full replacement (doc_id % 24 == 17): unicode-only tokens, repeated
# so shingling (k>=3 tokens) still produces a non-empty set.
REPLACEMENT = (
    "数据 清洗 管道 数据 清洗 "
    "\U0001f680 данные 数据 清洗 管道"
)


STATS = "_UNICODE_STATS.json"


def generate(src_dir: str, out_dir: str) -> dict:
    """Write the unicode-injected copy of ``src_dir`` and its stats
    into the empty dir ``out_dir``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    stats: dict = {"_src_dir": os.path.abspath(src_dir)}
    for name in os.listdir(src_dir):
        if not name.endswith(".parquet"):
            continue
        tbl = name[: -len(".parquet")]
        src_path = os.path.join(src_dir, name)
        if tbl != "documents":
            # unchanged tables: copy bytes (identical statistics/layout)
            with open(src_path, "rb") as s, open(
                os.path.join(out_dir, name), "wb"
            ) as d:
                d.write(s.read())
            continue
        t = pq.read_table(src_path)
        pdf = t.to_pandas()
        appended = replaced = 0
        texts = pdf["text"].tolist()
        for i, doc_id in enumerate(pdf["doc_id"].tolist()):
            if doc_id % 24 == 17:
                texts[i] = REPLACEMENT
                replaced += 1
            elif doc_id % 3 == 1:
                texts[i] = texts[i] + SUFFIXES[doc_id % 4]
                appended += 1
        pdf["text"] = texts
        pdf["n_chars"] = [len(x) for x in texts]
        out_t = pa.Table.from_pandas(pdf, schema=t.schema, preserve_index=False)
        pq.write_table(out_t, os.path.join(out_dir, name))
        stats[tbl] = {
            "n_rows": len(pdf),
            "n_appended": appended,
            "n_replaced": replaced,
        }
    with open(os.path.join(out_dir, STATS), "w") as fh:
        json.dump(stats, fh)
    return stats


def unicode_variant(spark, src: str) -> tuple[str, dict]:
    """``(dir, stats)`` of the unicode-injected copy of ``src``."""
    return variant(spark, src, "unicode", lambda d: generate(src, d), STATS)


def main() -> int:
    from big_data_final_project_spark.session import get_spark

    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark(app_name="unicode_sweep", shuffle_partitions=16)
    out, stats = unicode_variant(spark, src)
    print(f"unicode variant at {out}: {json.dumps(stats)}", flush=True)
    shard = shard_path("UNICODE_SWEEP")
    records = family_records(spark, out, FAMILIES, shard)
    fails = failures(records)
    artifact = {
        "src": src,
        "unicode_injection": stats,
        "families": list(FAMILIES),
        "n_queries": len(records),
        "n_fail": len(fails),
        "fails": fails,
        "source_digest": source_digest(),
        "queries": records,
    }
    print(
        f"UNICODE_SWEEP.json: {len(records)} queries, {len(fails)} failures"
        f"{': ' + str(fails) if fails else ''}"
    )
    return publish("UNICODE_SWEEP", artifact, fails, [shard])


if __name__ == "__main__":
    raise SystemExit(main())
