"""Derived scratch dirs (data.derived): content- and code-keyed, never
served from a leftover of an earlier process or source version, and
built in one place only."""

from __future__ import annotations

import ast
import glob
import os
import shutil
import subprocess
import tempfile

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

import big_data_final_project_spark
from big_data_final_project_spark import data
from big_data_final_project_spark.data import (
    TABLES,
    _root,
    derived,
    load_table,
    sf_dir_tag,
)
from big_data_final_project_spark.registry import catalog

from .oracle_utils import run_differential


def _jobs(spark) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


@pytest.fixture
def tables(sf_dir, tmp_path):
    """A private copy of the driver tables; its derived dirs are
    removed afterwards."""
    d = tmp_path / "tables"
    d.mkdir()
    for t in TABLES:
        shutil.copy(os.path.join(sf_dir, f"{t}.parquet"), d)
    yield str(d)
    shutil.rmtree(_root(str(d)), ignore_errors=True)


def _write(path: str, text: str) -> None:
    with open(os.path.join(path, "part"), "w") as f:
        f.write(text)


def _read(path: str) -> str:
    with open(os.path.join(path, "part")) as f:
        return f.read()


@pytest.mark.parametrize("private", [False, True])
def test_failed_build_leaves_nothing_and_next_call_builds(spark, tables, private):
    calls = []

    def build(path: str) -> None:
        calls.append(path)
        _write(path, "half")
        if len(calls) == 1:
            raise RuntimeError("build failed midway")

    with pytest.raises(RuntimeError, match="midway"):
        derived(spark, tables, "flaky", ("region",), build, private)
    assert glob.glob(os.path.join(_root(tables), "flaky_*")) == []
    path = derived(spark, tables, "flaky", ("region",), build, private)
    assert len(calls) == 2 and _read(path) == "half"
    assert derived(spark, tables, "flaky", ("region",), build, private) == path
    assert len(calls) == 2


def test_builders_differing_only_in_code_get_different_keys(spark, tables):
    a = lambda path: _write(path, "a")  # noqa: E731
    b = lambda path: _write(path, "b")  # noqa: E731
    path_a = derived(spark, tables, "coded", ("region",), a)
    path_b = derived(spark, tables, "coded", ("region",), b)
    assert path_a != path_b
    assert _read(path_b) == "b"


def test_sweep_spares_live_in_flight_builds(spark, tmp_path):
    """A superseded version is swept when the next one is built, and so
    is a dead process's half-built copy; another live process's build
    in flight is left alone."""
    shutil.copy("/root/testdata/sf0.1/events.parquet", tmp_path)
    sf_dir = str(tmp_path)
    try:
        files = load_table(spark, sf_dir, "events").inputFiles()
        (mirror,) = {os.path.dirname(f.removeprefix("file:")) for f in files}
        dead = subprocess.Popen(["true"])
        dead.wait()
        live_build = f"{mirror}.build{os.getppid()}"
        dead_build = f"{mirror}.build{dead.pid}"
        os.makedirs(live_build)
        os.makedirs(dead_build)
        os.utime(tmp_path / "events.parquet", (1, 1))  # a new source version
        load_table(spark, sf_dir, "events")
        assert os.path.isdir(live_build)
        assert not os.path.exists(dead_build)
        assert not os.path.exists(mirror)
    finally:
        shutil.rmtree(_root(sf_dir), ignore_errors=True)


def test_rebuilt_variant_takes_its_derived_root_with_it(spark, tables):
    """Queries on a derived variant keep their own derived dirs (here
    the events mirror) under the variant's root; rebuilding the variant
    from new sources sweeps that root with the old variant."""

    def build(path: str) -> None:
        shutil.copy("/root/testdata/sf0.1/events.parquet", path)

    old = derived(spark, tables, "variant", ("events",), build)
    try:
        files = load_table(spark, old, "events").inputFiles()
        assert files and all(
            f.removeprefix("file://").startswith(_root(old) + os.sep) for f in files
        )
        os.utime(os.path.join(tables, "events.parquet"), (1, 1))  # new source
        new = derived(spark, tables, "variant", ("events",), build)
        assert new != old and os.path.isdir(new)
        assert not os.path.exists(old)
        assert not os.path.exists(_root(old))
    finally:
        for d in glob.glob(os.path.join(_root(tables), "variant_*")) + [old]:
            shutil.rmtree(_root(d), ignore_errors=True)


def _plant_stale_store(path: str, sf_dir: str) -> None:
    """A valid date-partitioned store holding one bogus event."""
    row = pq.read_table(os.path.join(sf_dir, "events.parquet")).slice(0, 1)
    row = row.set_column(
        row.schema.get_field_index("event_type"), "event_type", pa.array(["stale"])
    )
    part = os.path.join(path, "event_date=2024-01-15")
    os.makedirs(part)
    pq.write_table(row, os.path.join(part, "part-0.parquet"))


def test_leftover_dirs_at_this_pid_are_never_served(spark, tables):
    queries = ("store_partition_pruned_day", "store_vacuum_retention")
    tmp, pid, tag = tempfile.gettempdir(), os.getpid(), sf_dir_tag(tables)
    # pid-keyed dirs with a completion marker, as a dead process whose
    # pid this one reuses could have left them
    legacy = [
        os.path.join(tmp, f"spark_graft_store_{tag}_{pid}"),
        os.path.join(tmp, f"spark_graft_store_vacuum_{tag}_{pid}"),
    ]
    try:
        for d in legacy:
            _plant_stale_store(d, tables)
            open(os.path.join(d, "_built"), "w").close()
        for q in queries:
            assert run_differential(spark, tables, q) == [], q
        # the same leftovers in the derived layout: a shared dir's
        # half-built copy, and a private dir this process never built
        (shared,) = glob.glob(os.path.join(_root(tables), "store_" + "[0-9a-f]" * 12))
        (private,) = glob.glob(os.path.join(_root(tables), f"store_vacuum_*_{pid}"))
        for d, stale in ((shared, f"{shared}.build{pid}"), (private, private)):
            shutil.rmtree(d)
            _plant_stale_store(stale, tables)
        data._PRIVATE_BUILT.discard(private)
        for q in queries:
            assert run_differential(spark, tables, q) == [], q
    finally:
        for d in legacy:
            shutil.rmtree(d, ignore_errors=True)


def test_rewritten_events_give_new_answers(spark, tables):
    path = os.path.join(tables, "events.parquet")
    full = pq.read_table(path)
    pq.write_table(full.filter(pc.equal(pc.bit_wise_and(full["event_id"], 1), 0)), path)
    queries = ("store_partition_pruned_day", "streaming_persist_store")
    for q in queries:
        assert run_differential(spark, tables, q) == [], q
    pq.write_table(full, path)  # rewritten in place: same path, new bytes
    for q in queries:
        assert run_differential(spark, tables, q) == [], q


def test_second_read_of_partitioned_store_runs_no_job(spark, sf_dir):
    fn = catalog()["store_partition_pruned_day"].fn
    first = fn(spark, sf_dir)  # builds the store on first use
    before = _jobs(spark)
    second = fn(spark, sf_dir)
    assert _jobs(spark) == before
    assert second.schema == first.schema


def test_only_data_and_scale_own_temp_paths():
    """Derived scratch data has one builder, data.derived: no other
    module or tool finds the temp dir or names a path under /tmp, and
    no query, streaming module or tool trusts a marker file."""
    pkg = os.path.dirname(big_data_final_project_spark.__file__)
    repo = os.path.dirname(pkg)
    owners = {"data.py"}
    markers = {"_built", "_STAGED", "_STAGED2", "_DONE", "_staged.ok"}
    tool_markers = {"_NULLED_OK", "_NONFINITE_OK", "_UNICODE_OK", "_SKEWED_OK", "_CONTENT_OK"}
    files = {
        os.path.relpath(f, pkg): f
        for f in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)
    }
    files.update(
        (os.path.relpath(f, repo), f) for f in glob.glob(os.path.join(repo, "tools", "*.py"))
    )
    found = []
    for rel, f in files.items():
        with open(f) as fh:
            text = fh.read()
        is_tool = rel.split(os.sep)[0] == "tools"
        found += [(rel, m) for m in tool_markers if is_tool and m in text]
        for node in ast.walk(ast.parse(text)):
            if rel not in owners and (
                (isinstance(node, ast.Attribute) and node.attr == "gettempdir")
                or (isinstance(node, ast.alias) and node.name in ("tempfile", "gettempdir"))
            ):
                found.append((rel, node.lineno))
            if not isinstance(node, ast.Constant) or not isinstance(node.value, str):
                continue
            if (
                rel.split(os.sep)[0] in ("queries", "streaming") and node.value in markers
            ) or (is_tool and node.value.startswith("/tmp/")):
                found.append((rel, node.lineno))
    assert found == []

