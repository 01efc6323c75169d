"""Streaming pipeline surfaced through the correctness harness: each
query here runs a REAL Structured Streaming job (file source standing
in for Kafka, availableNow trigger, memory/parquet sink), drains it,
and returns the result as a batch DataFrame — so the DuckDB oracle
differentially checks the *incremental* execution against batch SQL
(SURVEY.md §5.4 batch-equivalence; "hard parts" note in §7).

Staged sources are shared derived dirs; every store, checkpoint and
sink a query writes is a private one, built on the query's first run
in a process and reused after (data.derived).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..data import _read_parquet, derived, load_table
from ..registry import query
from ..streaming.pipeline import (
    N_MALFORMED,
    _drain,
    dedup_stream,
    persist_stream,
    read_event_files,
    read_event_stream,
    read_store,
    run_to_memory,
    split_valid,
    stage_events_as_json,
    windowed_live_view,
)


def _staged_valid(spark: SparkSession, sf_dir: str) -> DataFrame:
    staging = stage_events_as_json(spark, sf_dir)
    valid, _ = split_valid(read_event_stream(spark, staging))
    return valid


@query(
    "streaming_tumbling_live",
    oracle="""
    SELECT make_timestamp((epoch_us(ts) // 3600000000) * 3600000000) AS window_start,
           make_timestamp((epoch_us(ts) // 3600000000) * 3600000000
                          + 3600000000) AS window_end,
           event_type,
           count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2, 3
    """,
    tags=("streaming", "live", "window"),
)
def streaming_tumbling_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling window aggregation executed as a real stream
    (watermark + availableNow, complete mode) and checked against the
    batch SQL answer: the incremental plan must produce exactly what
    one big batch would."""
    return run_to_memory(
        windowed_live_view(_staged_valid(spark, sf_dir)),
        spark,
        "streaming_tumbling_live_sink",
        complete=True,
    )


@query(
    "streaming_persist_store",
    oracle="SELECT event_id, ts, user_id, event_type, value, props FROM events",
    tags=("streaming", "live", "persist"),
)
def streaming_persist_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end persistence parity: stream the staged JSON through
    validation into the checkpointed parquet store, then read the
    store back. Every valid input row lands exactly once — the
    upgrade over the reference's at-least-once insert_one
    (app.py:220, SURVEY ST2); malformed lines are quarantined, not
    persisted."""

    def build(path: str) -> None:
        persist_stream(
            _staged_valid(spark, sf_dir),
            os.path.join(path, "store"),
            os.path.join(path, "ckpt"),
        )

    work = derived(spark, sf_dir, "persist", ("events",), build, private=True)
    return read_store(spark, os.path.join(work, "store")).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )


@query(
    "streaming_dedup_live",
    oracle="SELECT event_id, ts, user_id, event_type, value, props FROM events",
    tags=("streaming", "live", "dedup"),
)
def streaming_dedup_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark over a doubled source (the
    stream unioned with itself — every event delivered twice, the
    reference's redelivery failure mode ST2): output must equal the
    distinct original events."""
    valid = _staged_valid(spark, sf_dir)
    doubled = valid.unionByName(valid)
    out = run_to_memory(
        dedup_stream(doubled),
        spark,
        "streaming_dedup_live_sink",
        complete=False,
    )
    return out.select("event_id", "ts", "user_id", "event_type", "value", "props")


@query(
    "streaming_quarantine_count",
    oracle=f"SELECT CAST({N_MALFORMED} AS BIGINT) AS n_quarantined",
    tags=("streaming", "live", "quarantine"),
)
def streaming_quarantine_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Validation contract: exactly the N injected malformed lines —
    no more (no false drops), no fewer (no silent passes) — reach the
    quarantine branch (reference logs-and-drops, app.py:264-267)."""
    staging = stage_events_as_json(spark, sf_dir)
    _, quarantine = split_valid(read_event_stream(spark, staging))
    counted = run_to_memory(
        quarantine.select("raw"),
        spark,
        "streaming_quarantine_sink",
        complete=False,
    )
    return counted.agg(F.count("*").alias("n_quarantined"))


@query(
    "streaming_session_live",
    oracle=f"""
    WITH ordered AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, value)
    ),
    sessions AS (
        SELECT user_id, ts, value,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, value
                                 ROWS UNBOUNDED PRECEDING) AS session_num
        FROM ordered
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM sessions
    GROUP BY user_id, session_num
    """,
    tags=("streaming", "live", "session"),
)
def streaming_session_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows executed as a REAL stream (session_window +
    watermark, availableNow, complete mode) and differentially
    checked against the batch gaps-and-islands SQL: Spark's
    incremental session merging — partial sessions extended and
    fused across micro-batches — must converge to exactly the batch
    answer."""
    valid = _staged_valid(spark, sf_dir)
    sw = F.session_window("ts", "30 minutes")
    sessions = (
        valid.withWatermark("ts", "10 minutes")
        .groupBy(sw.alias("s"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            "user_id",
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )
    return run_to_memory(
        sessions, spark, "streaming_session_live_sink", complete=True
    )


@query(
    "streaming_stream_stream_join",
    oracle="""
    SELECT a.event_id AS event_a, b.event_id AS event_b,
           a.user_id AS user_id,
           a.event_type AS type_a, b.event_type AS type_b
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts >= a.ts
     AND b.ts <= a.ts + INTERVAL 5 MINUTE
     AND a.event_id <> b.event_id
    """,
    tags=("streaming", "live", "join"),
)
def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval self-join: events followed by another
    event from the same user within 5 minutes (the funnel /
    sessionizing primitive). Both sides carry watermarks and the join
    condition bounds event time on both ends, so Spark can expire
    state — unbounded stream-stream joins never GC their buffers; the
    time bound is what makes this runnable forever. Checked against
    the batch join: availableNow over a finite source must emit
    exactly the batch answer, once.

    Scale: state is per-user rows inside the watermark+interval
    horizon; the join shuffles both sides on user_id. 150 distinct
    users here, but the key space at 100 TB is whatever the id domain
    is — uniform, no planted skew."""
    staging = stage_events_as_json(spark, sf_dir)
    a, _ = split_valid(read_event_stream(spark, staging))
    b, _ = split_valid(read_event_stream(spark, staging))
    a = a.select(
        F.col("event_id").alias("event_a"),
        F.col("user_id").alias("user_a"),
        F.col("ts").alias("ts_a"),
        F.col("event_type").alias("type_a"),
    ).withWatermark("ts_a", "10 minutes")
    b = b.select(
        F.col("event_id").alias("event_b"),
        F.col("user_id").alias("user_b"),
        F.col("ts").alias("ts_b"),
        F.col("event_type").alias("type_b"),
    ).withWatermark("ts_b", "10 minutes")
    joined = a.join(
        b,
        (F.col("user_a") == F.col("user_b"))
        & (F.col("ts_b") >= F.col("ts_a"))
        & (F.col("ts_b") <= F.col("ts_a") + F.expr("INTERVAL 5 MINUTES"))
        & (F.col("event_a") != F.col("event_b")),
    ).select(
        "event_a",
        "event_b",
        F.col("user_a").alias("user_id"),
        "type_a",
        "type_b",
    )
    return run_to_memory(
        joined, spark, "streaming_stream_stream_join_sink", complete=False
    )


@query(
    "streaming_static_enrich",
    oracle="""
    SELECT c.c_mktsegment AS segment,
           count(*) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY segment
    """,
    tags=("streaming", "live", "join"),
)
def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join + running aggregate: the live
    event stream joins a static dimension (customer, broadcast — the
    production pattern for enriching a firehose with reference data;
    the dim is re-resolvable per micro-batch, so a slowly-changing
    dim picks up updates without restarting the query). Aggregate in
    complete mode so the memory sink holds the final totals; checked
    against the batch join+GROUP BY."""
    from ..data import load_table

    valid = _staged_valid(spark, sf_dir)
    dim = F.broadcast(
        load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    )
    enriched = valid.join(dim, F.col("user_id") == F.col("c_custkey"))
    agg = enriched.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
    )
    return run_to_memory(
        agg, spark, "streaming_static_enrich_sink", complete=True
    )


@query(
    "streaming_sliding_live",
    oracle=f"""
    WITH slid AS (
        SELECT event_type, value,
               make_timestamp(
                   ((epoch_us(ts) // 1800000000) - s.i) * 1800000000
               ) AS window_start
        FROM events, (SELECT unnest([0, 1]) AS i) s
    )
    SELECT window_start,
           window_start + INTERVAL 1 HOUR AS window_end,
           event_type,
           count(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
             AS total_value
    FROM slid
    GROUP BY 1, 2, 3
    """,
    tags=("streaming", "live", "window", "sliding"),
)
def streaming_sliding_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1h long / 30min slide) as a REAL stream:
    watermark + availableNow in complete mode, checked against the
    batch answer — completes the live-window set (tumbling and
    session live variants already exist; ST6). State per key doubles
    vs tumbling (each event lives in length/slide windows), still
    bounded by the watermark horizon."""
    valid = _staged_valid(spark, sf_dir)
    w = F.window("ts", "1 hour", "30 minutes")
    agg = (
        valid.withWatermark("ts", "10 minutes")
        .groupBy(w.alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    return run_to_memory(
        agg, spark, "streaming_sliding_live_sink", complete=True
    )


@query(
    "streaming_topk_live",
    oracle="""
    SELECT event_type, count(*) AS n_events
    FROM events
    GROUP BY event_type
    ORDER BY n_events DESC, event_type
    LIMIT 3
    """,
    tags=("streaming", "live", "topk"),
)
def streaming_topk_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-ranked top-k over a stream: aggregation +
    ORDER BY + LIMIT is only legal in complete output mode (the sink
    holds the whole ranking, recomputed per micro-batch) — the
    streaming form of the reference's dashboard ordering
    (app.py:413). Append mode can't rank (rows already emitted can't
    be displaced), which is exactly why the latest-view pattern
    (maintain_latest_view) exists for high-cardinality keys; this
    complete-mode form is right when k and the group count are
    dashboard-sized."""
    valid = _staged_valid(spark, sf_dir)
    ranked = (
        valid.groupBy("event_type")
        .agg(F.count("*").alias("n_events"))
        .orderBy(F.col("n_events").desc(), "event_type")
        .limit(3)
    )
    return run_to_memory(
        ranked, spark, "streaming_topk_live_sink", complete=True
    )


@query(
    "streaming_late_data_audit",
    oracle="""
    WITH wm AS (
        SELECT max(ts) - INTERVAL 10 MINUTE AS wm
        FROM events WHERE extract(day FROM ts) <> 10
    ),
    b AS (
        SELECT make_timestamp((epoch_us(ts) // 3600000000) * 3600000000)
                 AS window_start,
               count(*) AS n_batch
        FROM events GROUP BY 1
    )
    SELECT b.window_start,
           b.n_batch,
           CASE WHEN extract(day FROM b.window_start) = 10
                  OR b.window_start + INTERVAL 1 HOUR > wm.wm
                THEN 0 ELSE b.n_batch END AS n_stream,
           CASE WHEN extract(day FROM b.window_start) = 10
                THEN 'late_dropped'
                WHEN b.window_start + INTERVAL 1 HOUR > wm.wm
                THEN 'unfinalized'
                ELSE 'ok' END AS status
    FROM b, wm
    """,
    tags=("streaming", "live", "watermark", "late-data"),
)
def streaming_late_data_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data accounting under a watermark (ST3 made visible): the
    day-10 slice of the stream arrives only in a SECOND checkpointed
    run, after the first run has committed a watermark at the end of
    the month — so an append-mode hourly aggregate must (a) drop
    every late row on restart (the durable-watermark restart
    contract), (b) never emit the still-open tail windows past the
    watermark, and (c) emit every other window with its full batch
    count. The audit joins the streamed parquet sink against the
    batch ground truth and labels each window ok / late_dropped /
    unfinalized with its streamed-vs-batch count.

    The ORACLE is the watermark CONTRACT itself, computed in pure SQL
    (wm = max on-time ts - delay); the differential therefore proves
    Spark's incremental execution implements the contract — which
    windows are emitted, which rows are dropped — not merely that two
    batch plans agree. (Within ONE availableNow run the watermark
    gate does not fire between file-batches — measured: the late
    batch is planned before the first batch's event-time stats become
    the active watermark — which is WHY the scenario is staged across
    two runs over one checkpoint: exactly the shape of a daily
    restart against yesterday's state.) At scale this audit is the
    completeness monitor run next to any streaming sink: it bounds
    silent data loss to the quantified late/unfinalized windows."""
    import shutil

    from ..streaming.pipeline import stage_two_phase_events

    def build(work: str) -> None:
        phases = stage_two_phase_events(spark, sf_dir)
        staging = os.path.join(work, "staging")
        os.makedirs(staging)

        # Run 1: on-time data only -> commits wm = max(on-time) - delay
        # and flushes every closed window to the sink. Run 2 (restart
        # over the same checkpoint): the late slice arrives; the
        # restored watermark drops all of it. copy2 preserves mtimes,
        # so the file source's oldest-first order is stable.
        for phase in ("phase1.txt", "phase2.txt"):
            shutil.copy2(os.path.join(phases, phase), staging)
            parsed = (
                read_event_files(spark, staging)
                .select("rec.*")
                .where(F.col("event_id").isNotNull())
            )
            agg = (
                parsed.withWatermark("ts", "10 minutes")
                .groupBy(F.window("ts", "1 hour").alias("w"))
                .agg(F.count("*").alias("n_stream"))
                .select(F.col("w.start").alias("window_start"), "n_stream")
            )
            _drain(
                agg.writeStream.format("parquet")
                .option("path", os.path.join(work, "sink"))
                .outputMode("append"),
                os.path.join(work, "ckpt"),
            )

    work = derived(spark, sf_dir, "late_audit", ("events",), build, private=True)
    streamed = _read_parquet(spark, os.path.join(work, "sink"))
    ev = load_table(spark, sf_dir, "events")
    batch = ev.groupBy(
        F.window("ts", "1 hour").start.alias("window_start")
    ).agg(F.count("*").alias("n_batch"))
    wm = ev.where(F.dayofmonth("ts") != 10).agg(
        (F.max("ts") - F.expr("INTERVAL 10 MINUTES")).alias("wm")
    )
    j = batch.join(streamed, "window_start", "left").crossJoin(F.broadcast(wm))
    status = (
        F.when(F.dayofmonth("window_start") == 10, "late_dropped")
        .when(
            F.col("window_start") + F.expr("INTERVAL 1 HOUR") > F.col("wm"),
            "unfinalized",
        )
        .otherwise("ok")
    )
    return j.select(
        "window_start",
        "n_batch",
        F.coalesce("n_stream", F.lit(0)).cast("bigint").alias("n_stream"),
        status.alias("status"),
    )


@query(
    "streaming_ohlc_live",
    oracle="""
    SELECT event_type,
           date_trunc('hour', ts) AS bar,
           arg_min(value, lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                          || '|' || lpad(CAST(event_id AS VARCHAR), 12, '0'))
               AS open,
           max(value) AS high,
           min(value) AS low,
           arg_max(value, lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                          || '|' || lpad(CAST(event_id AS VARCHAR), 12, '0'))
               AS close,
           CAST(count(*) AS BIGINT) AS volume
    FROM events
    GROUP BY 1, 2
    """,
    tags=("streaming", "live", "ohlc", "argmax"),
)
def streaming_ohlc_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE OHLC bars: the ts_ohlc_bars aggregate running as a real
    Structured Streaming job (complete mode over the micro-batched
    stream, drained with availableNow) — candle charts maintained
    incrementally off the firehose. min_by/max_by over the
    deterministic (epoch-µs | event_id) key are plain aggregates, so
    each micro-batch folds into per-(series, bar) state of constant
    size (one open candidate, one close candidate, three scalars) —
    the streaming state story is identical to the batch partial-
    aggregate story, which is why incremental must and does equal
    the batch answer exactly (the oracle is the batch SQL)."""
    valid = _staged_valid(spark, sf_dir)
    key = F.concat(
        F.lpad(F.unix_micros(F.col("ts")).cast("string"), 20, "0"),
        F.lit("|"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    bars = valid.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bar")
    ).agg(
        F.min_by("value", key).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", key).alias("close"),
        F.count(F.lit(1)).cast("bigint").alias("volume"),
    )
    return run_to_memory(bars, spark, "streaming_ohlc_live_sink", complete=True)


@query(
    "streaming_slo_burn_live",
    oracle="""
    WITH ev AS (
        SELECT date_trunc('hour', ts) AS bucket,
               CASE WHEN CAST(json_extract(props, '$.k') AS BIGINT) < 10
                    THEN 1 ELSE 0 END AS err
        FROM events
    ),
    hourly AS (
        SELECT bucket, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(err) AS BIGINT) AS errors
        FROM ev GROUP BY bucket
    ),
    windowed AS (
        SELECT bucket, n, errors,
               CAST(sum(n) OVER w6 AS BIGINT) AS n6,
               CAST(sum(errors) OVER w6 AS BIGINT) AS errors6,
               row_number() OVER (ORDER BY bucket) AS rn
        FROM hourly
        WINDOW w6 AS (ORDER BY bucket ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
    )
    SELECT bucket, n, errors,
           CAST(errors * 100000 // n AS BIGINT) AS burn_1h_x1000,
           CAST(errors6 * 100000 // n6 AS BIGINT) AS burn_6h_x1000,
           CASE WHEN errors * 100000 // n > 6000
                 AND errors6 * 100000 // n6 > 6000
                THEN 1 ELSE 0 END AS page_alert
    FROM windowed WHERE rn >= 6
    ORDER BY bucket
    """,
    tags=("streaming", "live", "slo", "engine-addition"),
)
def streaming_slo_burn_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ts_slo_burn_rate running LIVE: the hourly (total, error)
    counters are maintained incrementally by a real Structured
    Streaming aggregate over the staged JSON stream (per-bucket
    state is two bigints — the mergeable-partials story), and the
    multi-window burn-rate + paging conjunction is evaluated over
    the drained state store — exactly how production SLO monitors
    are built (counters stream in; alert rules read the store). The
    oracle is the one-shot batch SQL, so the green hash proves
    incremental counter maintenance ≡ batch."""
    valid = _staged_valid(spark, sf_dir)
    ev = valid.select(
        F.date_trunc("hour", F.col("ts")).alias("bucket"),
        F.when(
            F.get_json_object(F.col("props"), "$.k").cast("bigint") < 10, 1
        )
        .otherwise(0)
        .alias("err"),
    )
    hourly = ev.groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("err").cast("bigint").alias("errors"),
    )
    sunk = run_to_memory(
        hourly, spark, "streaming_slo_live_sink", complete=True
    )
    wb = Window.orderBy("bucket")
    w6 = wb.rowsBetween(-5, 0)
    windowed = sunk.select(
        "bucket",
        "n",
        "errors",
        F.sum("n").over(w6).cast("bigint").alias("n6"),
        F.sum("errors").over(w6).cast("bigint").alias("errors6"),
        F.row_number().over(wb).alias("rn"),
    )
    burn1 = F.expr("errors * 100000 div n")
    burn6 = F.expr("errors6 * 100000 div n6")
    return (
        windowed.filter(F.col("rn") >= 6)
        .select(
            "bucket",
            "n",
            "errors",
            burn1.cast("bigint").alias("burn_1h_x1000"),
            burn6.cast("bigint").alias("burn_6h_x1000"),
            F.when((burn1 > 6000) & (burn6 > 6000), 1)
            .otherwise(0)
            .alias("page_alert"),
        )
        .orderBy("bucket")
    )


SCD2_BUCKETS = 8  # user_id % 8 partition dirs in the live SCD2 store


@query(
    "streaming_scd2_live",
    oracle="""
    WITH v AS (
        SELECT user_id, event_id, ts, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS version,
               count(*) OVER (PARTITION BY user_id) AS n
        FROM events
    )
    SELECT user_id, event_id, ts, value,
           CAST(version AS BIGINT) AS version, version = n AS is_current
    FROM v
    """,
    tags=("streaming", "live", "scd2", "cdc", "engine-addition"),
)
def streaming_scd2_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE SCD type-2 maintenance — the streaming twin of the batch
    scd2_merge: every user's event history is a versioned dimension
    (version = position by event time, is_current on the newest),
    maintained INCREMENTALLY by a foreachBatch read-modify-write as
    micro-batches arrive in arbitrary order (maxFilesPerTrigger=1
    forces one batch per staged file, and the files are unordered in
    event time — so version continuation genuinely has to handle
    out-of-order arrival, the case append-only numbering gets
    wrong). Each batch touches only the user-hash bucket partitions
    its keys live in (dynamic partition overwrite), re-ranks those
    users' merged history, and rewrites — exactly how a Delta/Hudi
    MERGE-based SCD2 job behaves at 100 TB, where the bucket
    pruning is the difference between rewriting gigabytes and
    rewriting the table. Replayed batches are idempotent: the merge
    dedups on event_id before re-ranking, so at-least-once delivery
    cannot double-version a user. The oracle is the one-shot batch
    ranking — incremental ≡ batch, hash-exact."""

    def build(work: str) -> None:
        store = os.path.join(work, "store")
        staging = stage_events_as_json(spark, sf_dir)
        valid, _ = split_valid(read_event_files(spark, staging))

        def apply_batch(batch: DataFrame, batch_id: int) -> None:
            sp = batch.sparkSession
            b = batch.select("user_id", "event_id", "ts", "value").withColumn(
                "bucket", F.pmod("user_id", F.lit(SCD2_BUCKETS)).cast("int")
            )
            buckets = [r["bucket"] for r in b.select("bucket").distinct().collect()]
            if not buckets:
                return
            import glob as _glob

            merged = b
            if _glob.glob(os.path.join(store, "bucket=*")):
                # base-path read (partition discovery finds bucket=*):
                # a glob path here makes FileStreamSink's metadata
                # probe log a spurious FileNotFoundException per batch
                cur = (
                    sp.read.parquet(store)
                    .where(F.col("bucket").isin(buckets))
                    .select("user_id", "event_id", "ts", "value", "bucket")
                )
                merged = cur.unionByName(b)
            merged = merged.dropDuplicates(["event_id"])
            w = Window.partitionBy("user_id").orderBy("ts", "event_id")
            out = merged.select(
                "user_id",
                "event_id",
                "ts",
                "value",
                "bucket",
                F.row_number().over(w).cast("bigint").alias("version"),
                (
                    F.row_number().over(w)
                    == F.count("*").over(Window.partitionBy("user_id"))
                ).alias("is_current"),
            )
            (
                out.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("bucket")
                .parquet(store)
            )

        _drain(
            valid.writeStream.foreachBatch(apply_batch), os.path.join(work, "ckpt")
        )

    work = derived(spark, sf_dir, "scd2", ("events",), build, private=True)
    store = os.path.join(work, "store")
    import glob as _glob

    if not _glob.glob(os.path.join(store, "bucket=*")):
        # zero valid rows arrived (e.g. empty tables): empty history
        # with the production schema
        return spark.createDataFrame(
            [],
            "user_id bigint, event_id bigint, ts timestamp, value double,"
            " version bigint, is_current boolean",
        )
    return _read_parquet(spark, store).select(
        "user_id", "event_id", "ts", "value", "version", "is_current"
    )


@query(
    "streaming_velocity_live",
    oracle="""
    WITH contrib AS (
        SELECT user_id, epoch_us(ts) AS us,
               unnest([ (epoch_us(ts) // 300000000) * 300000000,
                        (epoch_us(ts) // 300000000) * 300000000
                          - 300000000 ]) AS w_start
        FROM events
    ),
    per_window AS (
        SELECT user_id, w_start, CAST(count(*) AS BIGINT) AS c
        FROM contrib
        WHERE us >= w_start AND us < w_start + 600000000
        GROUP BY 1, 2
    ),
    per_user AS (
        SELECT user_id,
               CAST(max(c) AS BIGINT) AS peak_window_count,
               CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_hot_windows
        FROM per_window GROUP BY 1
    )
    SELECT user_id, peak_window_count, n_hot_windows
    FROM per_user
    WHERE peak_window_count >= 2
    ORDER BY peak_window_count DESC, user_id
    LIMIT 100
    """,
    tags=("streaming", "live", "velocity", "risk-rules"),
)
def streaming_velocity_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The velocity risk rule (events_velocity_flags) as a REAL
    stream: 10-minute windows sliding every 5 so every event is
    scored against two overlapping horizons — the streaming-native
    approximation of the batch rule's exact trailing-range frame
    (a per-event RANGE window isn't incrementally maintainable;
    sliding windows are THE production compromise, and the oracle
    states their semantics exactly: each event contributes to the
    two aligned windows covering it). Post-aggregation (per-user
    peak + hot-window count, threshold, top-100) happens on the
    drained sink output — the monitoring readout over the live
    window table.

    Scale shape: the stream shuffles once on (window, user); state
    per key is one count bounded by the watermark horizon; the
    batch post-agg runs on the window table, not the stream."""
    valid = _staged_valid(spark, sf_dir)
    win = F.window("ts", "10 minutes", "5 minutes")
    per_window = (
        valid.withWatermark("ts", "10 minutes")
        .groupBy(win.alias("w"), "user_id")
        .agg(F.count("*").alias("c"))
    )
    out = run_to_memory(
        per_window, spark, "streaming_velocity_live_sink", complete=True
    )
    per_user = out.groupBy("user_id").agg(
        F.max("c").cast("bigint").alias("peak_window_count"),
        F.sum(F.when(F.col("c") >= 2, 1).otherwise(0))
        .cast("bigint")
        .alias("n_hot_windows"),
    )
    return (
        per_user.where(F.col("peak_window_count") >= 2)
        .orderBy(F.desc("peak_window_count"), "user_id")
        .limit(100)
    )


def _batch_screen_oracle() -> str:
    """The stream is graded against the SAME SQL as the batch screen."""
    from ..registry import REGISTRY

    from . import dedup  # noqa: F401 — ensures registration

    return REGISTRY["dedup_incremental_minhash"].oracle


@query(
    "streaming_minhash_screen_live",
    oracle=_batch_screen_oracle(),
    tags=("streaming", "live", "dedup", "minhash", "engine-addition"),
)
def streaming_minhash_screen_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING leg of corpus fuzzy dedup: newly crawled
    documents (doc_id % 10 == 0, staged as JSON files standing in for
    the ingest topic) arrive as a Structured Streaming source in
    multiple micro-batches; each micro-batch's banded minhash
    signatures (the IDENTICAL `dedup.sig_rows` pipeline the batch
    corpus table uses) broadcast-join the PERSISTED corpus signature
    table, and each doc's near-dup verdict (n_dups / first match /
    best signature agreement / is_new) is appended exactly-once
    (checkpointed offsets + idempotent batch-id-keyed parquet, the
    `persist_stream` recipe). The differential checks the streamed
    result against the same batch SQL that grades
    `dedup_incremental_minhash` — incremental screen == batch screen.

    Scale shape: the corpus side is read, never reshuffled (a daily
    micro-batch is growth-rate sized, so its signatures broadcast);
    per-batch work is batch-sized; state lives in the signature table
    and the checkpoint, not in executor memory. This is the steady
    -state ingest gate of a 100 TB dedup deployment."""
    from .dedup import (
        MIN_EST_JACCARD,
        N_PERM,
        _banded_sig_table,
        sig_rows,
    )

    def stage_docs(path: str) -> None:
        (
            load_table(spark, sf_dir, "documents")
            .where(F.col("doc_id") % 10 == 0)
            .select("doc_id", "text")
            .repartition(4)
            .write.mode("overwrite")
            .json(path)
        )

    def build(work: str) -> None:
        staging = derived(spark, sf_dir, "mh_docs", ("documents",), stage_docs)
        corpus = _banded_sig_table(spark, sf_dir).where(F.col("doc_id") % 10 != 0)
        est = (
            F.aggregate(
                F.zip_with(
                    F.col("a.sig"),
                    F.col("b.sig"),
                    lambda x, y: F.when(x == y, 1).otherwise(0),
                ),
                F.lit(0),
                lambda acc, x: acc + x,
            ).cast("double")
            / N_PERM
        )

        def screen(batch: DataFrame, batch_id: int) -> None:
            sigs = sig_rows(batch)
            hits = (
                F.broadcast(sigs.alias("a"))
                .join(
                    corpus.alias("b"),
                    (F.col("a.band_idx") == F.col("b.band_idx"))
                    & (F.col("a.band_hash") == F.col("b.band_hash")),
                )
                .select(
                    F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"),
                    est.alias("est_jaccard"),
                )
                .distinct()
                .where(F.col("est_jaccard") >= MIN_EST_JACCARD)
            )
            spine = batch.select("doc_id").distinct()
            out = (
                spine.join(hits, spine.doc_id == hits.doc_a, "left")
                .groupBy("doc_id")
                .agg(
                    F.count("doc_b").alias("n_dups"),
                    F.min("doc_b").alias("first_match_id"),
                    F.max("est_jaccard").alias("max_est_jaccard"),
                    (F.count("doc_b") == 0).alias("is_new"),
                )
            )
            out.write.mode("overwrite").parquet(
                os.path.join(work, "store", f"batch_id={batch_id}")
            )

        _drain(
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 2)  # 4 staged files -> 2 micro-batches
            .json(staging)
            .writeStream.foreachBatch(screen),
            os.path.join(work, "ckpt"),
        )

    work = derived(spark, sf_dir, "mh_screen", ("documents",), build, private=True)
    return _read_parquet(spark, os.path.join(work, "store")).select(
        "doc_id", "n_dups", "first_match_id", "max_est_jaccard", "is_new"
    )


def _stream_qsk_oracle() -> str:
    """Direct-build histogram over the events measure — the stream's
    per-micro-batch partials, merged, must hash-match it exactly."""
    from ..functions.numeric import finite_measure_sql
    from .sketches import _duck_pow2, _qsk_bounds_sql, _qsk_bucket_sql

    cents_src = (
        f"CAST(CAST({finite_measure_sql('value')} AS DECIMAL(18,2)) * 100"
        " AS BIGINT)"
    )
    bucket = _qsk_bucket_sql("cents", _duck_pow2, "//")
    lo, hi = _qsk_bounds_sql("bucket", _duck_pow2, "//")
    return f"""
    WITH c AS (
        SELECT cents FROM (SELECT {cents_src} AS cents FROM events)
        WHERE cents IS NOT NULL
    ),
    hist AS (
        SELECT CAST({bucket} AS BIGINT) AS bucket,
               CAST(count(*) AS BIGINT) AS n
        FROM c GROUP BY 1
    )
    SELECT bucket,
           CAST({lo} AS BIGINT) AS lo_cents,
           CAST({hi} AS BIGINT) AS hi_cents,
           n,
           CAST(sum(n) OVER (ORDER BY bucket) AS BIGINT) AS cum_n
    FROM hist ORDER BY bucket
    """


@query(
    "streaming_quantile_sketch_live",
    oracle=_stream_qsk_oracle(),
    tags=("streaming", "live", "sketch", "quantile", "engine-addition"),
)
def streaming_quantile_sketch_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING leg of the mergeable quantile sketch
    (agg_quantile_sketch_*): events arrive in micro-batches; each
    batch reduces to its own partial histogram (a few hundred longs,
    whatever the batch size) appended exactly-once under its batch_id;
    the serving read merges all partials by bucket-wise addition and
    the differential proves merged-over-micro-batches == one-shot
    batch build. This is the telemetry-store write path at 100 TB:
    per-interval sketch partials land as they stream, and ANY
    time-range quantile is a merge at read time — raw values are
    never re-scanned. Non-finite readings are unmeasured per the
    round-8 finite-measure contract.

    Scale shape: per-batch work is one map-side-combinable aggregate
    of batch size; persisted state grows by ~|buckets| rows per batch
    (not by row count); the serving merge reads kilobytes."""
    from ..functions.numeric import finite_measure
    from .sketches import _qsk_bounds_sql, _qsk_bucket_sql, _spark_pow2

    bucket = _qsk_bucket_sql("cents", _spark_pow2, "div")

    def build(work: str) -> None:
        def build_partial(batch: DataFrame, batch_id: int) -> None:
            cents = (finite_measure("value").cast("decimal(18,2)") * 100).cast(
                "bigint"
            )
            partial = (
                batch.select(cents.alias("cents"))
                .where(F.col("cents").isNotNull())
                .select(F.expr(bucket).cast("bigint").alias("bucket"))
                .groupBy("bucket")
                .agg(F.count(F.lit(1)).cast("bigint").alias("pn"))
            )
            partial.write.mode("overwrite").parquet(
                os.path.join(work, "store", f"batch_id={batch_id}")
            )

        _drain(
            _staged_valid(spark, sf_dir).writeStream.foreachBatch(build_partial),
            os.path.join(work, "ckpt"),
        )

    work = derived(spark, sf_dir, "qsk", ("events",), build, private=True)
    merged = (
        _read_parquet(spark, os.path.join(work, "store"))
        .groupBy("bucket")
        .agg(F.sum("pn").cast("bigint").alias("n"))
    )
    lo, hi = _qsk_bounds_sql("bucket", _spark_pow2, "div")
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return merged.select(
        "bucket",
        F.expr(lo).cast("bigint").alias("lo_cents"),
        F.expr(hi).cast("bigint").alias("hi_cents"),
        "n",
        F.sum("n").over(w).cast("bigint").alias("cum_n"),
    ).orderBy("bucket")
