"""The sweep tools' one record loop (correctness_sweep.run_records):
a killed or failed sweep resumes with only the records it still owes,
and the injected-data variants it runs on are content-keyed."""

from __future__ import annotations

import json
import os
import shutil

import pyarrow.parquet as pq
import pytest

from tools.check_artifacts import source_digest
from tools.correctness_sweep import read_shard, run_key, run_records
from tools.null_sweep import nulled

NAMES = ["a", "b", "c", "d"]
INPUT = "/data/sf0.01"


def _key(input_dir: str = INPUT) -> dict:
    return run_key(input_dir, __file__)


class Killed(Exception):
    pass


def _recorder(calls: list, errs: dict | None = None, die_after: int | None = None):
    def record(name: str) -> dict:
        if len(calls) == die_after:
            raise Killed(name)
        calls.append(name)
        return {"err": (errs or {}).get(name)}

    return record


def test_killed_sweep_runs_only_the_remaining_names(tmp_path):
    shard = str(tmp_path / "x.shard.jsonl")
    calls: list = []
    with pytest.raises(Killed):
        run_records(NAMES, _recorder(calls, die_after=2), shard, INPUT)
    assert calls == ["a", "b"]
    calls = []
    out = run_records(NAMES, _recorder(calls), shard, INPUT)
    assert calls == ["c", "d"]
    assert list(out) == NAMES
    assert {r["source_digest"] for r in out.values()} == {source_digest()}
    assert read_shard(shard, _key()) == out


def test_torn_last_line_is_ignored(tmp_path):
    shard = str(tmp_path / "x.shard.jsonl")
    run_records(NAMES[:2], _recorder([]), shard, INPUT)
    with open(shard, "a") as fh:
        fh.write('["c", {"err": nu')
    assert set(read_shard(shard, _key())) == {"a", "b"}
    calls: list = []
    run_records(NAMES, _recorder(calls), shard, INPUT)
    assert calls == ["c", "d"]
    assert set(read_shard(shard, _key())) == set(NAMES)


def test_record_of_another_digest_runs_again(tmp_path):
    shard = str(tmp_path / "x.shard.jsonl")
    with open(shard, "w") as fh:
        for name, digest in (("a", "0" * 64), ("b", source_digest())):
            rec = {"err": None, "source_digest": digest}
            fh.write(json.dumps([name, rec, {**_key(), "source_digest": digest}]) + "\n")
    calls: list = []
    out = run_records(NAMES, _recorder(calls), shard, INPUT)
    assert calls == ["a", "c", "d"]
    assert out["a"]["source_digest"] == source_digest()


def test_record_of_another_input_runs_again(tmp_path):
    """A record that passed on another input dir vouches nothing for
    this one, whatever the shard is named."""
    shard = str(tmp_path / "x.shard.jsonl")
    with pytest.raises(Killed):
        run_records(NAMES, _recorder([], die_after=2), shard, "/data/sf0.001")
    calls: list = []
    out = run_records(NAMES, _recorder(calls), shard, INPUT)
    assert calls == NAMES
    assert set(read_shard(shard, _key())) == set(NAMES)
    assert set(read_shard(shard, _key("/data/sf0.001"))) == {"a", "b"}
    assert list(out) == NAMES


def test_record_of_other_checker_code_runs_again(tmp_path):
    shard = str(tmp_path / "x.shard.jsonl")
    with open(shard, "w") as fh:
        fh.write(json.dumps(["a", {"err": None}, {**_key(), "checker": "0" * 32}]) + "\n")
    calls: list = []
    run_records(NAMES, _recorder(calls), shard, INPUT)
    assert calls == NAMES


def test_failed_record_runs_again_and_its_last_line_wins(tmp_path):
    shard = str(tmp_path / "x.shard.jsonl")
    run_records(NAMES, _recorder([], errs={"b": "boom", "c": "no_oracle"}), shard, INPUT)
    calls: list = []
    out = run_records(NAMES, _recorder(calls), shard, INPUT)
    assert calls == ["b"]
    assert read_shard(shard, _key())["b"]["err"] is None
    assert out["c"]["err"] == "no_oracle"


def test_divergence_found_in_merge_is_hashed_again(tmp_path, monkeypatch):
    """An invariance divergence shows only when merge compares the
    layouts, after each pass recorded a pass: merge marks the diverging
    query failed in every layout shard, so the next pass re-runs it."""
    from big_data_final_project_spark import registry
    from tools import invariance_sweep as inv
    from tools.correctness_sweep import append, open_shard

    monkeypatch.setattr(registry, "catalog", lambda: {"q1": None, "q2": None})
    monkeypatch.setattr(inv, "_shard_path", lambda layout: str(tmp_path / layout))
    monkeypatch.setattr(inv, "publish", lambda base, artifact, fails, shards: fails)
    key = run_key(INPUT, inv.__file__)
    for layout in inv.LAYOUTS:
        with open_shard(inv._shard_path(layout)) as fh:
            for name in ("q1", "q2"):
                h = layout if name == "q2" and layout != inv.BASELINE else "h"
                append(fh, name, {"hash": h, "n_rows": 1, "err": None}, key)
    assert inv.merge(INPUT) == ["q2"]
    for layout in inv.LAYOUTS:
        recs = read_shard(inv._shard_path(layout), key)
        assert recs["q1"]["err"] is None
        assert recs["q2"]["err"] == "hash diverged across layouts"


def test_rewritten_source_builds_a_new_null_variant(spark, tmp_path):
    """The nulled variant is keyed on its sources' content: rewriting
    a source table gives a new dir with the new rows, never the
    variant built from the old bytes."""
    src = str(tmp_path / "sf0.001")
    shutil.copytree("/root/testdata/sf0.001", src)
    out, stats = nulled(spark, src)
    try:
        assert stats["events"]["value"]["n_rows"] == 1000
        events = os.path.join(src, "events.parquet")
        pq.write_table(pq.read_table(events).slice(0, 400), events)
        out2, stats2 = nulled(spark, src)
        assert out2 != out and not os.path.exists(out)
        assert stats2["events"]["value"]["n_rows"] == 400
        assert pq.read_metadata(os.path.join(out2, "events.parquet")).num_rows == 400
    finally:
        shutil.rmtree(os.path.dirname(out), ignore_errors=True)
