"""Streaming pipeline tests (SURVEY.md §5.4): deterministic
micro-batches via availableNow, properties the oracle differential
can't express — exactly-once across checkpoint replays, quarantine
isolation, dedup under redelivery."""

from __future__ import annotations

import os
import tempfile

import pytest

from big_data_final_project_spark.data import load_table
from big_data_final_project_spark.streaming.pipeline import (
    N_MALFORMED,
    STORE_SCHEMA,
    persist_stream,
    read_event_stream,
    read_store,
    split_valid,
    stage_events_as_json,
)


@pytest.fixture(scope="module")
def staging(spark, sf_dir):
    return stage_events_as_json(spark, sf_dir)


def test_persist_exactly_once_across_replays(spark, sf_dir, staging, tmp_path_factory):
    """Running the checkpointed persist twice must not duplicate rows
    — the upgrade over the reference's at-least-once insert_one."""
    store = str(tmp_path_factory.mktemp("store"))
    ckpt = str(tmp_path_factory.mktemp("ckpt"))
    n_src = load_table(spark, sf_dir, "events").count()

    for _ in range(2):  # second run replays from checkpoint: no-op
        valid, _ = split_valid(read_event_stream(spark, staging))
        persist_stream(valid, store, ckpt)
        assert read_store(spark, store).count() == n_src

    ids = read_store(spark, store).select("event_id").distinct().count()
    assert ids == n_src


def _checkpoint_manager(spark, path: str) -> str:
    """The class of the checkpoint manager a query started now would
    write ``path`` with (it reads the same session Hadoop conf)."""
    jvm = spark._jvm
    checkpointing = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    manager = checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(path),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    return manager.getClass().getSimpleName()


def test_checkpoint_of_sparks_default_manager_resumes(
    spark, sf_dir, staging, tmp_path_factory
):
    """A checkpoint written under Spark's default checkpoint manager
    resumes under the session's: the second run is batch 1, and every
    valid row lands exactly once."""
    import shutil

    key = "spark.sql.streaming.checkpointFileManagerClass"
    base = tmp_path_factory.mktemp("manager_switch")
    src, store, ckpt = str(base / "src"), str(base / "store"), str(base / "ckpt")
    os.makedirs(src)
    parts = sorted(f for f in os.listdir(staging) if f.startswith("part-"))
    for f in parts[1:]:
        shutil.copy(os.path.join(staging, f), src)
    session_manager = spark.conf.get(key)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileContextBasedCheckpointFileManager",
    )
    try:
        assert _checkpoint_manager(spark, ckpt) == "FileContextBasedCheckpointFileManager"
        persist_stream(split_valid(read_event_stream(spark, src))[0], store, ckpt)
    finally:
        spark.conf.set(key, session_manager)
    assert _checkpoint_manager(spark, ckpt) == "FileSystemBasedCheckpointFileManager"
    shutil.copy(os.path.join(staging, parts[0]), src)
    persist_stream(split_valid(read_event_stream(spark, src))[0], store, ckpt)

    assert sorted(os.listdir(store)) == ["batch_id=0", "batch_id=1"]
    assert sorted(os.listdir(os.path.join(ckpt, "commits"))) == [
        ".0.crc",
        ".1.crc",
        "0",
        "1",
    ]
    n_src = load_table(spark, sf_dir, "events").count()
    assert read_store(spark, store).count() == n_src
    assert read_store(spark, store).select("event_id").distinct().count() == n_src


def test_quarantine_gets_exactly_the_poison(spark, staging):
    valid, quarantine = split_valid(read_event_stream(spark, staging))
    import big_data_final_project_spark.streaming.pipeline as P

    q = (
        quarantine.writeStream.format("memory")
        .queryName("tq_sink")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table("tq_sink").select("raw").collect()
    assert len(rows) == N_MALFORMED
    assert all("not json" in r.raw for r in rows)
    assert P.N_MALFORMED == N_MALFORMED


def test_store_partitioned_by_date(spark, sf_dir, staging, tmp_path_factory):
    """The store layout is date-partitioned (scale posture M6): a
    date-filtered read must prune to that partition's files."""
    store = str(tmp_path_factory.mktemp("store2"))
    ckpt = str(tmp_path_factory.mktemp("ckpt2"))
    valid, _ = split_valid(read_event_stream(spark, staging))
    persist_stream(valid, store, ckpt)
    batch_dirs = [d for d in os.listdir(store) if d.startswith("batch_id=")]
    assert batch_dirs
    inner = os.listdir(os.path.join(store, batch_dirs[0]))
    assert any(d.startswith("event_date=") for d in inner)


def test_store_schema_matches_inferred_store(spark, staging, tmp_path_factory):
    """read_store's declared STORE_SCHEMA is exactly what Spark infers
    from a store persist_stream wrote, and both reads give the same
    rows."""
    store = str(tmp_path_factory.mktemp("store3"))
    ckpt = str(tmp_path_factory.mktemp("ckpt3"))
    valid, _ = split_valid(read_event_stream(spark, staging))
    persist_stream(valid, store, ckpt)
    inferred = spark.read.parquet(store)
    assert inferred.schema == STORE_SCHEMA
    assert sorted(read_store(spark, store).collect()) == sorted(inferred.collect())


def test_latest_view_matches_batch_semantics(spark, sf_dir, staging, tmp_path_factory):
    """The incrementally maintained latest-per-user view must equal
    the batch window query (stream_dedup_latest) over the same data."""
    from big_data_final_project_spark.registry import catalog
    from big_data_final_project_spark.streaming.pipeline import maintain_latest_view

    view = str(tmp_path_factory.mktemp("latest_view"))
    ckpt = str(tmp_path_factory.mktemp("ckpt_latest"))
    valid, _ = split_valid(read_event_stream(spark, staging))
    maintain_latest_view(valid, view, ckpt)

    got = {
        r["user_id"]: (r["event_id"], r["ts"])
        for r in spark.read.parquet(view).collect()
    }
    want = {
        r["user_id"]: (r["event_id"], r["ts"])
        for r in catalog()["stream_dedup_latest"].fn(spark, sf_dir).collect()
    }
    assert got == want


def test_stateful_running_counts_across_batches(spark, sf_dir, staging):
    """applyInPandasWithState: with one micro-batch per file, the
    final per-key running totals must equal the batch aggregation —
    i.e. state survived across batches."""
    from big_data_final_project_spark.data import load_table
    from big_data_final_project_spark.streaming.pipeline import (
        running_counts_stateful,
    )
    import pyspark.sql.functions as F

    stream = running_counts_stateful(spark, staging)
    q = (
        stream.writeStream.format("memory")
        .queryName("stateful_sink")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    updates = spark.table("stateful_sink")
    # multiple update rows per key => state crossed batch boundaries
    n_updates = updates.count()
    final = {
        r["event_type"]: (r["running_count"], r["running_value"])
        for r in updates.groupBy("event_type")
        .agg(
            F.max("running_count").alias("running_count"),
            F.max("running_value").alias("running_value"),
        )
        .collect()
    }
    # expected side computed with the SAME pandas rounding the state
    # update uses (pandas .round is half-even, F.round is half-up —
    # don't mix them in an exact compare)
    pdf = load_table(spark, sf_dir, "events").select("event_type", "value").toPandas()
    grouped = pdf.assign(cents=pdf["value"].mul(100).round().astype("int64")).groupby(
        "event_type"
    )
    want = {
        k: (int(g["value"].count()), int(g["cents"].sum()) / 100.0)
        for k, g in grouped
    }
    assert final == want
    assert n_updates > len(final), "expected >1 update per key (multi-batch)"


def test_kafka_gate_option_building(monkeypatch, staging):
    """The config-gated Kafka branch: with a broker URL the source
    descriptor is format('kafka') with the reference consumer's
    offset semantics; without one it is the file stand-in. Asserted
    on the pure option builders (no broker exists in the sandbox)."""
    from big_data_final_project_spark.streaming.pipeline import (
        EVENT_TOPIC,
        KAFKA_BROKERS_ENV,
        kafka_sink_options,
        stream_source_descriptor,
    )

    monkeypatch.delenv(KAFKA_BROKERS_ENV, raising=False)
    fmt, opts = stream_source_descriptor(staging)
    assert fmt == "text" and opts == {"path": staging}

    fmt, opts = stream_source_descriptor(staging, brokers="broker1:9092")
    assert fmt == "kafka"
    assert opts["kafka.bootstrap.servers"] == "broker1:9092"
    assert opts["subscribe"] == EVENT_TOPIC
    assert opts["startingOffsets"] == "earliest"
    assert opts["failOnDataLoss"] == "true"

    monkeypatch.setenv(KAFKA_BROKERS_ENV, "broker2:9092")
    fmt, opts = stream_source_descriptor(staging)
    assert fmt == "kafka"
    assert opts["kafka.bootstrap.servers"] == "broker2:9092"

    sink = kafka_sink_options("broker1:9092", "/tmp/ckpt")
    assert sink == {
        "kafka.bootstrap.servers": "broker1:9092",
        "topic": EVENT_TOPIC,
        "checkpointLocation": "/tmp/ckpt",
    }


def test_kafka_branch_reaches_datasource_resolution(spark, staging):
    """VERDICT r4 #6: drive the kafka branch through the REAL
    `spark.readStream.format("kafka").load()` call so the config path
    is exercised end-to-end up to DataSource resolution. The sandbox
    has no spark-sql-kafka jar, so the only acceptable failure is
    Spark's missing-provider error (DATA_SOURCE_NOT_FOUND / "Failed to
    find data source: kafka"), thrown AFTER the options were accepted —
    any other exception class (a Python error in option building, a
    misnamed option rejected earlier) fails this test, which is the
    bit-rot alarm for the branch. With the jar on the classpath the
    same code builds the streaming plan and the except branch never
    runs (asserted via the resulting streaming DataFrame)."""
    from big_data_final_project_spark.streaming.pipeline import read_event_stream

    try:
        df = read_event_stream(spark, staging, brokers="broker1:9092")
    except Exception as exc:  # noqa: BLE001 — asserting the exact class below
        msg = str(exc)
        assert (
            "DATA_SOURCE_NOT_FOUND" in msg
            or "Failed to find data source: kafka" in msg
        ), f"kafka branch failed before datasource resolution: {msg[:400]}"
    else:
        # jar present (a real deployment): the branch must yield a
        # streaming plan with the parsed event schema
        assert df.isStreaming


def test_transform_with_state_running_totals(spark, sf_dir, staging):
    """transformWithState (Spark 4 StatefulProcessor): final per-user
    totals must equal the batch fixed-point aggregation. Skipped where
    the protobuf-based TWS Python runner can't start."""
    import pytest

    from big_data_final_project_spark.streaming.pipeline import (
        ROCKSDB_PROVIDER,
        has_transform_with_state,
        running_totals_tws,
    )

    if not has_transform_with_state():
        pytest.skip("protobuf unavailable: TWS python runner cannot start")
    import pyspark.sql.functions as F

    from big_data_final_project_spark.data import load_table

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
    try:
        stream = running_totals_tws(spark, staging)
        q = (
            stream.writeStream.format("memory")
            .queryName("tws_sink")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # Final state per user = the LAST update-mode row (row with the
        # highest n_events — event count is strictly increasing per
        # update, unlike value_sum_fp which may decrease with negative
        # values; two independent maxes would silently pair maxima from
        # different updates).
        from pyspark.sql.window import Window

        w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
        final = {
            r["user_id"]: (r["n_events"], r["value_sum_fp"])
            for r in spark.table("tws_sink")
            .withColumn("rn", F.row_number().over(w))
            .where("rn = 1")
            .collect()
        }
        want = {
            r["user_id"]: (r["n"], r["s"])
            for r in load_table(spark, sf_dir, "events")
            .groupBy("user_id")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.floor(F.col("value") * 1e6).cast("bigint")).alias("s"),
            )
            .collect()
        }
        assert final == want
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_tws_processor_logic_without_runtime(spark, sf_dir):
    """Drive the RunningTotals StatefulProcessor directly with a fake
    handle: the per-batch accumulation must be independent of
    micro-batch boundaries and must equal the batch fixed-point
    aggregation — verified even where protobuf blocks the TWS runner
    (ADVICE r3: the runtime test skips here, so the logic gets its
    own harness)."""
    import numpy as np
    import pandas as pd

    from big_data_final_project_spark.data import load_table
    from big_data_final_project_spark.streaming.pipeline import (
        make_running_totals_processor,
    )

    class FakeState:
        def __init__(self):
            self._v = None

        def exists(self):
            return self._v is not None

        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    class FakeHandle:
        def __init__(self):
            self.state = FakeState()

        def getValueState(self, name, schema):
            return self.state

    events = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "value")
        .toPandas()
    )
    want = {
        uid: (len(g), int(np.floor(g["value"].to_numpy() * 1e6).astype("int64").sum()))
        for uid, g in events.groupby("user_id")
    }

    cls = make_running_totals_processor()
    for uid, g in list(events.groupby("user_id"))[:20]:
        for n_splits in (1, 3):
            proc = cls()
            proc.init(FakeHandle())
            chunks = np.array_split(g, n_splits)
            last = None
            for chunk in chunks:
                # each chunk delivered as its own micro-batch, itself
                # split into multiple pandas frames
                frames = [f for f in np.array_split(chunk, 2) if len(f)]
                last = list(proc.handleInputRows((uid,), iter(frames), None))[-1]
            assert (
                int(last["n_events"].iloc[0]),
                int(last["value_sum_fp"].iloc[0]),
            ) == want[uid], (uid, n_splits)


def test_minhash_screen_streams_in_multiple_batches(spark, sf_dir):
    """streaming_minhash_screen_live must actually execute as MORE
    than one micro-batch (otherwise it degenerates to batch with extra
    steps): after a drain, the idempotent store holds one directory
    per processed batch id."""
    import glob
    import os

    from big_data_final_project_spark.registry import catalog

    out = catalog()["streaming_minhash_screen_live"].fn(spark, sf_dir)
    n_rows = out.count()
    assert n_rows > 0
    from big_data_final_project_spark.data import sf_dir_tag

    (work,) = glob.glob(
        os.path.join(
            tempfile.gettempdir(),
            f"spark_graft_derived_{sf_dir_tag(sf_dir)}",
            f"mh_screen_*_{os.getpid()}",
        )
    )
    batch_dirs = glob.glob(os.path.join(work, "store", "batch_id=*"))
    assert len(batch_dirs) >= 2, batch_dirs


def _view_rows(df):
    cols = ("user_id", "event_id", "ts", "event_type", "value")
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _latest_view_run(spark, src, view, ckpt):
    from big_data_final_project_spark.streaming.pipeline import maintain_latest_view

    valid, _ = split_valid(read_event_stream(spark, src))
    maintain_latest_view(valid, view, ckpt)


def test_latest_view_replays_after_crash_at_each_publish_step(
    spark, sf_dir, staging, tmp_path_factory, monkeypatch
):
    """Crash the view publish after the staged write, then again after
    the live dir is moved aside; each re-run replays the batch from the
    checkpoint, and the final view equals the batch answer."""
    import shutil

    from pyspark.errors import StreamingQueryException

    from big_data_final_project_spark.registry import catalog

    base = tmp_path_factory.mktemp("view_crash")
    src, view, ckpt = str(base / "src"), str(base / "view"), str(base / "ckpt")
    os.makedirs(src)
    parts = sorted(f for f in os.listdir(staging) if f.startswith("part-"))
    half = len(parts) // 2
    for f in parts[:half]:
        shutil.copy(os.path.join(staging, f), src)
    _latest_view_run(spark, src, view, ckpt)  # batch 0 publishes cleanly
    for f in parts[half:]:
        shutil.copy(os.path.join(staging, f), src)

    real_rename = os.rename
    for crash_src in (view, f"{view}.staged"):

        def rename(a, b, crash_src=crash_src):
            if a == crash_src:
                raise OSError("injected crash")
            return real_rename(a, b)

        monkeypatch.setattr(os, "rename", rename)
        with pytest.raises(StreamingQueryException, match="injected crash"):
            _latest_view_run(spark, src, view, ckpt)
        monkeypatch.setattr(os, "rename", real_rename)
    assert not os.path.exists(view) and os.path.exists(f"{view}.aside")

    _latest_view_run(spark, src, view, ckpt)  # replays batch 1
    want = catalog()["stream_dedup_latest"].fn(spark, sf_dir)
    assert _view_rows(spark.read.parquet(view)) == _view_rows(want)
    assert not os.path.exists(f"{view}.aside")
    assert not os.path.exists(f"{view}.staged")


def test_latest_view_corrupt_file_raises(spark, staging, tmp_path_factory):
    """A view whose data file cannot be read fails the batch; the view
    is neither reset to the batch nor republished."""
    from pyspark.errors import StreamingQueryException

    base = tmp_path_factory.mktemp("view_corrupt")
    view = str(base / "view")
    _latest_view_run(spark, staging, view, str(base / "ckpt1"))
    for f in os.listdir(view):
        if f.startswith("part-"):
            with open(os.path.join(view, f), "wb") as fh:
                fh.write(b"not a parquet file")
    before = {p.name: p.read_bytes() for p in (base / "view").iterdir()}

    with pytest.raises(StreamingQueryException):
        _latest_view_run(spark, staging, view, str(base / "ckpt2"))
    assert {p.name: p.read_bytes() for p in (base / "view").iterdir()} == before


def test_latest_view_unchanged_by_malformed_only_batch(spark, staging, tmp_path_factory):
    """A micro-batch with no valid row still runs the merge, and the
    view keeps exactly its previous rows."""
    import shutil

    base = tmp_path_factory.mktemp("view_malformed")
    src, view, ckpt = str(base / "src"), str(base / "view"), str(base / "ckpt")
    os.makedirs(src)
    for f in os.listdir(staging):
        if f.startswith("part-0"):
            shutil.copy(os.path.join(staging, f), src)
    _latest_view_run(spark, src, view, ckpt)
    before = _view_rows(spark.read.parquet(view))

    with open(os.path.join(src, "part-malformed.txt"), "w") as fh:
        fh.write("not json\n{\"event_id\": \n")
    _latest_view_run(spark, src, view, ckpt)
    assert os.path.exists(os.path.join(ckpt, "commits", "1"))  # the batch ran
    assert _view_rows(spark.read.parquet(view)) == before
