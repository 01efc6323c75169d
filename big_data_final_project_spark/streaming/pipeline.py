"""Structured Streaming pipeline (SURVEY.md §7 M4): the reference's
dual pipeline — Kafka → validate → persist, Kafka → live view
(app.py:226-272, reference repo) — rebuilt on Spark primitives, with
the upgrades the reference lacks (SURVEY §2.5): checkpointed
exactly-once persistence instead of at-least-once insert_one
(app.py:220), watermarks for late data (ST3), event-time windows
(ST6), and keyed dedup fixing ST2's duplicate deliveries.

Topology (file source stands in for the Kafka topic; the driver's
test parquet replaces the weather feed, SURVEY §1.3):

    staging (JSON lines == Kafka `value` bytes)
      └─ readStream.text → from_json(schema)        [S5]
           ├─ invalid rows → quarantine sink        [P2 upgraded]
           └─ valid rows
                ├─ foreachBatch append → parquet store   [S6 upgraded]
                ├─ foreachBatch merge → latest view      [ST4]
                ├─ watermark + tumbling agg → live view  [ST6]
                └─ dropDuplicatesWithinWatermark         [ST2 fix]

Scale posture: the store is written partitioned (date column), each
micro-batch append is idempotent under checkpoint replay because
foreachBatch writes batch-id-named subdirs (classic idempotent-sink
recipe); state stores (window agg, dedup) are bounded by watermark.

The latest view is one flat parquet dir, published by rename: each
batch reads the live dir, ranks it together with the batch into a
sibling ``<view>.staged`` dir, moves the live dir aside to
``<view>.aside``, moves the staged dir in and drops the aside copy.
The merge keeps the max per key, so a batch replayed after a crash at
any of those steps gives the same view; a replay that finds only the
aside copy moves it back first.

Every query the engine starts runs through :func:`_drain`
(availableNow trigger, pinned shuffle partitions), and every event
value goes through one codec, :func:`encode_event` /
:func:`decode_event`. Checkpoint logs are written through the
session's ``session.CHECKPOINT_FILE_MANAGER``: each entry a temp file
published by one FileSystem.rename, which forks no ``readlink``.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter

from ..data import derived, load_table

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

# Required-field subset, the analog of the reference's 4-key presence
# check (app.py:251-252).
REQUIRED = ("event_id", "ts", "user_id")

N_MALFORMED = 10  # poison-pill lines injected into staging

# Default JSON timestamp format is millisecond-precision; the events
# table carries microseconds, so serialize/parse must round-trip them.
TS_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"


def encode_event() -> Column:
    """The event columns as one JSON value string (EVENT_SCHEMA field
    order, microsecond timestamps)."""
    return F.to_json(
        F.struct(*EVENT_SCHEMA.fieldNames()), {"timestampFormat": TS_FORMAT}
    )


def decode_event() -> Column:
    """The ``value`` JSON string → the EVENT_SCHEMA struct; null when
    the line is not JSON."""
    return F.from_json("value", EVENT_SCHEMA, {"timestampFormat": TS_FORMAT})


# State-store count = shuffle partitions at the query's FIRST batch,
# and each micro-batch pays per-store open/commit overhead. 32 stores
# per stateful op is wrong for local finite streams (measured 3x on
# the stream-stream join: 7.3s -> 2.4s at 8). A real deployment sizes
# this to sustained throughput / key cardinality instead.
STREAM_SHUFFLE_PARTITIONS = 8


def _drain(writer: DataStreamWriter, checkpoint_dir: str | None = None) -> None:
    """Run ``writer`` with the availableNow trigger until it has
    processed every input available at start, with shuffle partitions
    pinned to STREAM_SHUFFLE_PARTITIONS for the query's lifetime."""
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    conf = SparkSession.active().conf
    key = "spark.sql.shuffle.partitions"
    old = conf.get(key)
    conf.set(key, str(STREAM_SHUFFLE_PARTITIONS))
    try:
        writer.trigger(availableNow=True).start().awaitTermination()
    finally:
        conf.set(key, old)


def stage_events_as_json(spark: SparkSession, sf_dir: str) -> str:
    """Materialize ``events`` as JSON-lines files — the stand-in for
    the Kafka topic's serialized values (producer.py:122 semantics) —
    in a shared derived dir (data.derived). Injects N_MALFORMED
    non-JSON lines so the validation path is actually exercised."""

    def build(path: str) -> None:
        (
            load_table(spark, sf_dir, "events")
            .select(encode_event().alias("value"))
            .repartition(4)
            .write.mode("overwrite")
            .text(path)
        )
        with open(os.path.join(path, "part-poison.txt"), "w") as f:
            for i in range(N_MALFORMED):
                f.write(f"this is not json #{i}\n")

    return derived(spark, sf_dir, "events_json", ("events",), build)


# Config gate for the real Kafka bus (the reference's actual transport:
# producer.py:156-158 send/ack, app.py:147-163,245 consumer/poll). When a
# broker URL is configured the pipeline reads/writes format("kafka");
# otherwise the file source stands in for the topic with identical
# value-bytes semantics. The sandbox has no broker, so the kafka branch
# is exercised as option-building assertions (tests/test_streaming.py),
# not a live connection.
KAFKA_BROKERS_ENV = "SPARK_GRAFT_KAFKA_BROKERS"
EVENT_TOPIC = "events"


def stream_source_descriptor(
    staging_dir: str, brokers: str | None = None, topic: str = EVENT_TOPIC
) -> tuple[str, dict[str, str]]:
    """(format, options) for the event-value stream — pure, so both
    branches are unit-testable without a broker. Kafka options mirror
    the reference consumer: earliest offsets on a fresh group
    (app.py:152 auto_offset_reset='earliest'), no silent data loss."""
    brokers = brokers if brokers is not None else os.environ.get(KAFKA_BROKERS_ENV)
    if brokers:
        return "kafka", {
            "kafka.bootstrap.servers": brokers,
            "subscribe": topic,
            "startingOffsets": "earliest",
            "failOnDataLoss": "true",
        }
    return "text", {"path": staging_dir}


def kafka_sink_options(
    brokers: str, checkpoint_dir: str, topic: str = EVENT_TOPIC
) -> dict[str, str]:
    """Options for a format('kafka') writeStream publishing JSON values
    (producer.py:122 value_serializer semantics). Checkpointed like
    every sink here, so redeliveries are replay-idempotent on the
    consumer's keyed dedup rather than producer-side."""
    return {
        "kafka.bootstrap.servers": brokers,
        "topic": topic,
        "checkpointLocation": checkpoint_dir,
    }


def read_event_stream(
    spark: SparkSession, staging_dir: str, brokers: str | None = None
) -> DataFrame:
    """Event-value stream → parsed struct. format('kafka') when a
    broker is configured (value bytes cast to string — the consumer's
    deserializer, app.py:156), file source otherwise; both feed the
    same null-on-corrupt from_json."""
    fmt, opts = stream_source_descriptor(staging_dir, brokers)
    if fmt == "kafka":
        raw = (
            spark.readStream.format("kafka")
            .options(**opts)
            .load()
            .select(F.col("value").cast("string").alias("value"))
        )
    else:
        raw = spark.readStream.text(opts["path"])
    return raw.select(F.col("value").alias("raw"), decode_event().alias("rec"))


def read_event_files(spark: SparkSession, staging_dir: str) -> DataFrame:
    """File-source event stream with one micro-batch per staged file,
    in read_event_stream's (raw, rec) shape; each caller applies its
    own validity rule."""
    raw = spark.readStream.option("maxFilesPerTrigger", "1").text(staging_dir)
    return raw.select(F.col("value").alias("raw"), decode_event().alias("rec"))


def split_valid(parsed: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(valid, quarantine): required fields present vs everything
    else. The reference logs-and-drops (app.py:264-267); here the bad
    rows are a first-class DataFrame for a quarantine sink."""
    required_ok = F.lit(True)
    for c in REQUIRED:
        required_ok = required_ok & F.col(f"rec.{c}").isNotNull()
    valid = parsed.where(required_ok).select("rec.*")
    quarantine = parsed.where(~required_ok).select(
        "raw", F.current_timestamp().alias("quarantined_at")
    )
    return valid, quarantine


# The store as persist_stream lays it out: the event columns plus the
# two partition columns of its batch_id=N/event_date=D directories.
STORE_SCHEMA = T.StructType(
    EVENT_SCHEMA.fields
    + [
        T.StructField("batch_id", T.IntegerType()),
        T.StructField("event_date", T.DateType()),
    ]
)


def persist_stream(
    valid: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    brokers: str | None = None,
) -> None:
    """Exactly-once persistence: checkpointed offsets + idempotent
    batch-id-keyed appends. Replacing the reference's per-record
    at-least-once insert_one (app.py:220) — a redelivered batch
    overwrites its own directory instead of duplicating rows.

    With a broker configured (KAFKA_BROKERS_ENV or `brokers`), the
    stream is ALSO published to the events topic as JSON values —
    the reference producer's bus leg (producer.py:156)."""

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        (
            batch.withColumn("event_date", F.to_date("ts"))
            .write.mode("overwrite")
            .partitionBy("event_date")
            .parquet(os.path.join(store_dir, f"batch_id={batch_id}"))
        )

    _drain(valid.writeStream.foreachBatch(write_batch), checkpoint_dir)
    brokers = brokers if brokers is not None else os.environ.get(KAFKA_BROKERS_ENV)
    if brokers:
        payload = valid.select(
            F.col("event_id").cast("string").alias("key"),
            encode_event().alias("value"),
        )
        _drain(
            payload.writeStream.format("kafka").options(
                **kafka_sink_options(brokers, checkpoint_dir + "_kafka")
            )
        )


def read_store(spark: SparkSession, store_dir: str) -> DataFrame:
    """The persisted store as one STORE_SCHEMA frame. The schema is
    known, so no inference job runs, and partition discovery under the
    store dir supplies ``batch_id`` and ``event_date``."""
    return spark.read.schema(STORE_SCHEMA).parquet(store_dir)


def windowed_live_view(valid: DataFrame) -> DataFrame:
    """Event-time tumbling aggregate with a 10-minute watermark — the
    streaming form of queries/streaming_batch.stream_tumbling_window
    (ST3+ST6; the reference charts raw points with no windows,
    app.py:398-409)."""
    w = F.window("ts", "1 hour")
    return (
        valid.withWatermark("ts", "10 minutes")
        .groupBy(w.alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def dedup_stream(valid: DataFrame) -> DataFrame:
    """Keyed dedup inside the watermark horizon — the fix for the
    reference's duplicate-on-redelivery behavior (ST2)."""
    return valid.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def run_to_memory(df: DataFrame, spark: SparkSession, name: str, complete: bool) -> DataFrame:
    """Run a stream with availableNow to a memory sink and return the
    final result as a batch DataFrame (deterministic: the source is
    finite, so availableNow drains it exactly once)."""
    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    _drain(
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete" if complete else "append")
    )
    return spark.table(name)


def maintain_latest_view(
    valid: DataFrame,
    view_dir: str,
    checkpoint_dir: str,
    key: str = "user_id",
) -> None:
    """Incrementally maintained latest-record-per-key view — the
    reference's `st.session_state['latest_batch_df']` + find_one(sort
    =-1) upgraded to a durable, incrementally maintained view (SURVEY
    ST4/S8).

    Each micro-batch merges into the compact view (one row per key),
    so readers get point-lookup latency regardless of history size.
    The merge reads the live view with the batch's schema, writes the
    ranked result to a staging dir and publishes it by rename (module
    docstring); a view dir that is missing or empty is an empty view,
    any other read error fails the batch. On a lakehouse table format
    this becomes a MERGE INTO, same dataflow."""
    staged, aside = f"{view_dir}.staged", f"{view_dir}.aside"

    def upsert(batch: DataFrame, batch_id: int) -> None:
        if os.path.exists(aside):
            if os.path.exists(view_dir):  # crashed after the publish
                shutil.rmtree(aside)
            else:  # crashed between the two renames
                os.rename(aside, view_dir)
        merged = batch
        if os.path.isdir(view_dir):
            current = batch.sparkSession.read.schema(batch.schema).parquet(view_dir)
            merged = current.unionByName(batch)
        w = Window.partitionBy(key).orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        (
            merged.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
            .write.mode("overwrite")
            .parquet(staged)
        )
        if os.path.exists(view_dir):
            os.rename(view_dir, aside)
        os.rename(staged, view_dir)
        shutil.rmtree(aside, ignore_errors=True)

    _drain(valid.writeStream.foreachBatch(upsert), checkpoint_dir)


def running_counts_stateful(
    spark: SparkSession, staging_dir: str
) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState (SURVEY
    §2.5 ST4): a per-event-type running total maintained in explicit
    GroupState across micro-batches — the shape for stateful logic
    that built-in windowed aggs can't express (counters, sessions
    with custom close rules, CEP-ish accumulators).

    maxFilesPerTrigger=1 forces one micro-batch per staged file, so
    the test proves state actually carries across batches rather
    than being recomputed per batch. Update-mode output emits one row
    per key per batch; the LAST row per key is the final total.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    parsed = (
        read_event_files(spark, staging_dir)
        .select("rec.*")
        .where(F.col("event_id").isNotNull())
    )

    out_schema = T.StructType(
        [
            T.StructField("event_type", T.StringType()),
            T.StructField("running_count", T.LongType()),
            T.StructField("running_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("count", T.LongType()),
            T.StructField("value_cents", T.LongType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        count, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            count += len(pdf)
            # scaled-int accumulation: deterministic across batch
            # orders (same construction as functions/numeric.dsum)
            cents += int(pd.Series(pdf["value"]).mul(100).round().astype("int64").sum())
        state.update((count, cents))
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "running_count": [count],
                "running_value": [cents / 100.0],
            }
        )

    return parsed.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def has_transform_with_state() -> bool:
    """Spark 4's transformWithStateInPandas ships its Python driver
    worker on protobuf; without the protobuf wheel the runner crashes
    at init (STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE). Gate the
    operator on the import so environments without it fall back to
    applyInPandasWithState (running_counts_stateful above)."""
    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        return False
    return True


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def make_running_totals_processor():
    """Build the RunningTotals StatefulProcessor CLASS (module-level
    factory so the per-batch accumulation logic is unit-testable with
    a fake handle even where the TWS runtime can't start — the
    protobuf gate only blocks the runner, not the logic)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._agg = handle.getValueState("agg", "n BIGINT, s BIGINT")

        def handleInputRows(self, key, rows, timer_values):
            n, s = self._agg.get() if self._agg.exists() else (0, 0)
            for pdf in rows:
                n += len(pdf)
                s += int(
                    np.floor(pdf["value"].to_numpy() * 1e6)
                    .astype("int64")
                    .sum()
                )
            self._agg.update((n, s))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "value_sum_fp": [s]}
            )

        def close(self) -> None:
            pass

    return RunningTotals


def running_totals_tws(spark: SparkSession, staging_dir: str) -> DataFrame:
    """Per-user running totals via Spark 4's transformWithState API
    (StatefulProcessor + typed ValueState) — the successor to
    applyInPandasWithState: named state variables, composite state
    types, timers, and state schema evolution. Requires the RocksDB
    state-store provider (caller sets
    spark.sql.streaming.stateStore.providerClass = ROCKSDB_PROVIDER)
    and protobuf (see has_transform_with_state).

    The numeric contract matches the rest of the engine: the value
    total accumulates as floor(value * 1e6) int64 — associative, so
    the final state is independent of micro-batch boundaries, and a
    batch GROUP BY with the same fixed-point expression is an exact
    oracle for it.
    """
    parsed = (
        read_event_files(spark, staging_dir)
        .select("rec.*")
        .where(F.col("event_id").isNotNull())
    )

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("value_sum_fp", T.LongType()),
        ]
    )

    return parsed.groupBy("user_id").transformWithStateInPandas(
        make_running_totals_processor()(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
    )


# Day of month whose events arrive LATE (after the watermark has
# passed them) in the two-phase staging below. Chosen mid-month so the
# late windows are closed long before the watermark when they arrive.
LATE_DAY = 10


def stage_two_phase_events(spark: SparkSession, sf_dir: str) -> str:
    """Stage events as TWO ordered files in a shared derived dir:
    phase1.txt = every event NOT on day LATE_DAY (older mtime),
    phase2.txt = the day-LATE_DAY events (newer mtime). With
    maxFilesPerTrigger=1 and the file source's oldest-first ordering,
    a watermarked stream processes phase1 first — advancing the
    watermark to (max phase-1 ts - delay) — and only then sees phase2,
    whose events are days below the watermark: the deterministic
    late-arrival scenario ST3 is about."""
    import glob
    import time

    def build(path: str) -> None:
        ev = load_table(spark, sf_dir, "events")
        is_late = F.dayofmonth("ts") == LATE_DAY

        def _write_phase(df: DataFrame, leaf: str) -> str:
            tmp = os.path.join(path, f"_tmp_{leaf}")
            (
                df.select(encode_event().alias("value"))
                .coalesce(1)
                .write.mode("overwrite")
                .text(tmp)
            )
            dest = os.path.join(path, leaf)
            shutil.move(glob.glob(os.path.join(tmp, "part-*"))[0], dest)
            shutil.rmtree(tmp)
            return dest

        p1 = _write_phase(ev.where(~is_late), "phase1.txt")
        p2 = _write_phase(ev.where(is_late), "phase2.txt")
        # mtime drives the file source's processing order (path order
        # agrees as a tiebreak); only RELATIVE order matters, so wall
        # clock here cannot reach any query result.
        now = time.time()
        os.utime(p1, (now - 100, now - 100))
        os.utime(p2, (now, now))

    return derived(spark, sf_dir, "events_two_phase", ("events",), build)
