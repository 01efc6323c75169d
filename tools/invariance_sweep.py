#!/usr/bin/env python
"""Partition-invariance evidence (round 12).

A query that is correct at 16 shuffle partitions but changes its
answer at 5 or 64 is not a 100 TB query: on a real cluster the
partition count is chosen by AQE, cluster width, and input split
sizing — none of which the query author controls. This sweep runs the
ENTIRE registry under several (shuffle-partition, AQE) layouts and
asserts the canonicalized VALUE HASH of every result is identical
across layouts — the executable form of the claim "this plan's answer
does not depend on how many executors computed it".

What it certifies beyond the DuckDB sweeps: the oracle differential
pins Spark == DuckDB at ONE layout per run; layout-boundness could in
principle hide there (a float sum whose 16-partition order happens to
match DuckDB's would pass while being order-dependent). The registry's
determinism contract (registry.py:12-24 — decimal-exact money sums,
no wall-clock, hash-gated samplers) is what SHOULD make every query
layout-invariant; this sweep is that contract's direct test.

Layouts (all runtime-settable SQL confs, one long-lived session):
- p16_aqe   : shuffle.partitions=16, AQE on  — the sweeps' baseline
- p5_noaqe  : shuffle.partitions=5,  AQE off — coarse + no runtime
              re-plan (different reduce grouping, different sum order)
- p64_aqe   : shuffle.partitions=64, AQE on  — fine-grained (more
              reduce groups than sf0.001/0.01 rows in places)

Contract exclusions (documented, not silent): queries whose OUTPUT is
layout-bound by design. Exactly one exists — sample_deterministic,
whose rows-only contract (registry.py:12-24) states Spark's seeded
sampler reproduces rows only for a fixed partition layout. It still
RUNS in every layout (must not error); only its hash is exempt.

Usage:
    python tools/invariance_sweep.py run <layout> [sf_dir]   # one layout pass
    python tools/invariance_sweep.py merge [sf_dir]          # compare + artifact
    python tools/invariance_sweep.py all [sf_dir]            # run all + merge

Each layout pass runs on correctness_sweep's record loop (shard
INVARIANCE_<layout>.shard.jsonl), so a killed pass resumes; a merge
that finds a divergence marks those queries failed in every layout
shard, so the next `all` hashes them again. Writes
INVARIANCE_SWEEP.json at the repo root (same source_digest stamping
as the correctness sweeps; tools/check_artifacts.py can verify it).
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from check_artifacts import source_digest  # noqa: E402
from correctness_sweep import (  # noqa: E402
    append,
    failures,
    open_shard,
    publish,
    read_shard,
    run_key,
    run_records,
    shard_path,
)

LAYOUTS: dict[str, dict[str, str]] = {
    "p16_aqe": {
        "spark.sql.shuffle.partitions": "16",
        "spark.sql.adaptive.enabled": "true",
    },
    "p5_noaqe": {
        "spark.sql.shuffle.partitions": "5",
        "spark.sql.adaptive.enabled": "false",
    },
    "p64_aqe": {
        "spark.sql.shuffle.partitions": "64",
        "spark.sql.adaptive.enabled": "true",
    },
}
BASELINE = "p16_aqe"

# Worker-thread count per layout (local[N] — the local stand-in for
# cluster width). Varying it changes scan/parallelize splits and task
# scheduling order on top of the shuffle-partition variation; results
# must still be identical. Applied per-subprocess in `all` mode.
LAYOUT_CPUS = {"p16_aqe": "32", "p5_noaqe": "7", "p64_aqe": "24"}

# Output layout-bound BY CONTRACT (registry.py:12-24). The ledger is
# part of the artifact: a future layout-bound query must either join
# this list with a written contract or fail the sweep.
CONTRACT_EXEMPT = {
    "sample_deterministic": (
        "seeded per-partition sampler; rows reproduce only for a fixed "
        "layout (rows-only check by contract, registry.py:12-24)"
    ),
}


def _result_hash(pdf) -> str:
    """Canonical value hash: same canonicalization the oracle compare
    uses (column-name sort, row sort, dtype normalization), serialized
    with full float precision. Cross-process stable."""
    from tests.oracle_utils import _canon

    canon = _canon(pdf.copy())
    payload = canon.to_csv(index=False, float_format="%.17g")
    return hashlib.md5(payload.encode()).hexdigest()


def _shard_path(layout: str) -> str:
    return shard_path(f"INVARIANCE_{layout}")


def run(layout: str, sf_dir: str) -> int:
    from big_data_final_project_spark.registry import catalog
    from big_data_final_project_spark.session import get_spark

    confs = LAYOUTS[layout]
    cat = catalog()
    # width must be pinned BEFORE the session exists; effective only
    # when this process has no session yet (the `all` mode guarantees
    # that by running each layout in its own subprocess)
    os.environ["SPARK_GRAFT_CPUS"] = LAYOUT_CPUS.get(layout, "32")
    spark = get_spark(app_name=f"invariance_{layout}")
    for k, v in confs.items():
        spark.conf.set(k, v)

    def record(name: str) -> dict:
        rec: dict = {"hash": None, "n_rows": None, "err": None}
        try:
            pdf = cat[name].fn(spark, sf_dir).toPandas()
            rec["n_rows"] = len(pdf)
            rec["hash"] = _result_hash(pdf)
        except Exception as exc:  # noqa: BLE001 — recorded, not raised
            rec["err"] = f"{type(exc).__name__}: {exc}"[:400]
        return rec

    # records are stamped at RUN time (not merge time): the digest
    # vouches for the tree the layout pass actually executed against,
    # and the merge step refuses to combine passes from different
    # tree states
    out = run_records(cat, record, _shard_path(layout), sf_dir)
    n_err = len(failures(out))
    print(f"DONE layout {layout}: {len(out) - n_err}/{len(out)} ran", flush=True)
    return 1 if n_err else 0


def merge(sf_dir: str) -> int:
    from big_data_final_project_spark.registry import catalog

    cat = catalog()
    # only records of the current tree, input and hash code are read,
    # so every layout pass compared here ran against the same state
    key = run_key(sf_dir, __file__)
    shards: dict[str, dict] = {}
    for layout in LAYOUTS:
        path = _shard_path(layout)
        if not os.path.exists(path):
            print(f"missing layout shard {path}", file=sys.stderr)
            return 2
        shards[layout] = read_shard(path, key)
    queries: dict[str, dict] = {}
    fails: list[str] = []
    for name in cat:
        base = shards[BASELINE].get(name, {})
        rec: dict = {
            "baseline_hash": base.get("hash"),
            "n_rows": base.get("n_rows"),
            "exempt": name in CONTRACT_EXEMPT,
            "layouts": {},
            "err": base.get("err"),
            "source_digest": base.get("source_digest"),
        }
        # a query absent from the baseline shard must FAIL, not pass
        # by None == None hash comparison (r12 review: stale shards
        # plus a newly-registered query would otherwise print
        # '0 failures' for a query that never ran)
        if not base:
            rec["err"] = "missing from baseline shard — rerun the layouts"
        ok = rec["err"] is None
        for layout in LAYOUTS:
            if layout == BASELINE:
                continue
            r = shards[layout].get(name, {})
            r_err = r.get("err") if r else "missing from layout shard"
            match = (
                r_err is None
                and base.get("err") is None
                and r.get("hash") == base.get("hash")
            )
            rec["layouts"][layout] = {
                "hash_match": bool(match),
                "err": r_err,
            }
            if r_err is not None:
                ok = False
            elif not match and name not in CONTRACT_EXEMPT:
                ok = False
        if not ok:
            fails.append(name)
        queries[name] = rec
    artifact = {
        "src": sf_dir,
        "baseline": BASELINE,
        "layouts": {
            k: {**v, "local_cpus": LAYOUT_CPUS.get(k, "32")}
            for k, v in LAYOUTS.items()
        },
        "contract_exempt": CONTRACT_EXEMPT,
        "n_queries": len(queries),
        "n_fail": len(fails),
        "fails": fails,
        "source_digest": source_digest(),
        "generated_unix": int(time.time()),
        "queries": queries,
    }
    print(
        f"INVARIANCE_SWEEP.json: {len(queries)} queries x {len(LAYOUTS)} "
        f"layouts, {len(fails)} failures"
        f"{': ' + str(fails) if fails else ''}"
    )
    # A divergence is found here, not in a layout pass, so its records
    # passed there: append a failed copy of each to every layout shard,
    # so a re-run hashes the diverging queries again. The shards are
    # kept (r12 review), the divergent hashes in the earlier lines.
    for layout in LAYOUTS:
        with open_shard(_shard_path(layout)) as fh:
            for name in fails:
                r = shards[layout].get(name)
                if r and r["err"] is None:
                    append(fh, name, {**r, "err": "hash diverged across layouts"}, key)
    return publish(
        "INVARIANCE_SWEEP", artifact, fails, [_shard_path(l) for l in LAYOUTS]
    )


def main() -> int:
    mode = sys.argv[1] if len(sys.argv) > 1 else "all"
    if mode == "run":
        layout = sys.argv[2]
        sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.01"
        return run(layout, sf_dir)
    if mode == "merge":
        sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
        return merge(sf_dir)
    if mode == "all":
        sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
        # One SUBPROCESS per layout: streaming/storage scratch dirs are
        # per-PID, so an in-process re-run would resume its own
        # checkpoints from the previous layout's pass and measure
        # checkpoint reuse, not layout sensitivity. A fresh process per
        # layout also makes the hash a genuinely cross-process claim.
        import subprocess

        rc = 0
        for layout in LAYOUTS:
            rc |= subprocess.call(
                [sys.executable, os.path.abspath(__file__), "run", layout, sf_dir]
            )
        return merge(sf_dir) or rc
    print(__doc__, file=sys.stderr)
    return 2


if __name__ == "__main__":
    raise SystemExit(main())
