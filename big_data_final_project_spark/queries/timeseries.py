"""Time-series operators over ``events`` (engine addition): grid
densification (gap filling) and last-observation-carried-forward —
the resampling primitives a metrics/monitoring pipeline needs (the
reference plots raw irregular points, app.py:398-409; real dashboards
resample to a regular grid first).

Determinism: the grid is anchored on the data's own min/max event
time (no wall clock — registry contract), bucket means are
decimal-routed, and the LOCF window frame is spelled out explicitly
because Spark and DuckDB have different default frames for
last_value.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..data import _read_parquet, derived, load_table
from ..operators.scale import materialize
from ..functions.numeric import (
    davg,
    davg_sql,
    dsum,
    finite_measure,
    finite_measure_sql,
)
from ..registry import query

# Finite-gated measure (round-8 finite-measure contract, see
# functions/numeric.finite_measure): any ts operator that routes the
# raw telemetry double through exact decimal/cents arithmetic reads
# the measure through these — a non-finite reading becomes NULL (row
# kept), exactly like a missing reading under the null contract.
_FV_SQL = finite_measure_sql("value")


def _fv():
    return finite_measure("value")


@query(
    "ts_gapfill_locf",
    oracle=f"""
    WITH bounds AS (
        SELECT date_trunc('hour', min(ts)) AS lo,
               date_trunc('hour', max(ts)) AS hi
        FROM events
    ),
    grid AS (
        SELECT t.event_type, h.h AS bucket
        FROM (SELECT DISTINCT event_type FROM events) t
        CROSS JOIN (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
                    FROM bounds) h
    ),
    actual AS (
        SELECT event_type, date_trunc('hour', ts) AS bucket,
               CAST(count(*) AS BIGINT) AS n,
               {davg_sql(_FV_SQL)} AS avg_value
        FROM events GROUP BY 1, 2
    )
    SELECT g.event_type, g.bucket,
           coalesce(a.n, 0) AS n_events,
           last_value(a.avg_value IGNORE NULLS) OVER (
               PARTITION BY g.event_type ORDER BY g.bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_locf
    FROM grid g LEFT JOIN actual a
      ON a.event_type = g.event_type AND a.bucket = g.bucket
    """,
    tags=("timeseries", "gapfill", "window"),
)
def ts_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Densify the per-type hourly series over the data's own time
    range (every (type, hour) cell exists, zero-count where no events
    landed) and carry the last observed hourly mean forward through
    the gaps. Buckets before a type's first observation stay null —
    LOCF has nothing to carry.

    Scale shape: the grid is |types| x |hours| — bounded by the time
    range, not the event count; generated with sequence+explode from
    a one-row bounds aggregate (broadcast cross join, no data
    shuffle). The dense left join and the aggregate shuffle on
    (type, bucket); LOCF is one ordered window per type. At 100 TB
    the events aggregate dominates and is a single map-side-combined
    shuffle; the grid stays tiny."""
    e = load_table(spark, sf_dir, "events")
    bounds = e.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    grid = (
        e.select("event_type")
        .distinct()
        .join(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(
                F.sequence(F.col("lo"), F.col("hi"), F.expr("INTERVAL 1 HOUR"))
            ).alias("bucket"),
        )
    )
    actual = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("bucket")
    ).agg(
        F.count("*").alias("n"),
        davg(_fv()).alias("avg_value"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(actual, ["event_type", "bucket"], "left")
        .select(
            "event_type",
            "bucket",
            F.coalesce(F.col("n"), F.lit(0)).alias("n_events"),
            F.last("avg_value", ignorenulls=True).over(w).alias("value_locf"),
        )
    )


def _partitioned_store(
    spark: SparkSession, sf_dir: str, name: str = "store", private: bool = False
) -> str:
    """A date-partitioned copy of events — the layout the streaming
    persist path would produce at scale (store partitioned by event
    date, the reference's Mongo replaced by parquet; SURVEY §1.3).
    Destructive lifecycle ops (vacuum / erase) take a private copy,
    so the pruning queries keep reading stable data."""

    def build(path: str) -> None:
        (
            load_table(spark, sf_dir, "events")
            .withColumn("event_date", F.to_date("ts"))
            .write.mode("overwrite")
            .partitionBy("event_date")
            .parquet(path)
        )

    return derived(spark, sf_dir, name, ("events",), build, private)


@query(
    "store_partition_pruned_day",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
      AND ts < TIMESTAMP '2024-01-16 00:00:00'
    GROUP BY event_type
    """,
    tags=("store", "pruning"),
)
def store_partition_pruned_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One day's summary read from the DATE-PARTITIONED store: the
    partition column filter becomes a PartitionFilter (directory
    pruning — asserted in tests/test_plans.py), so a 1-day query
    against a 10-year 100 TB store lists and reads one directory,
    not the table. This is the reference's `$gte` Mongo range scan
    (app.py:311-313) done the way a columnar store does it: prune by
    layout first, then row-group min/max inside the day."""
    store = _partitioned_store(spark, sf_dir)
    day = F.lit("2024-01-15").cast("date")
    return (
        _read_parquet(spark, store)
        .where(F.col("event_date") == day)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
    )


def _evolved_store(spark: SparkSession, sf_dir: str) -> str:
    """A two-generation store: generation 1 lacks the event_type
    column (the schema before a migration), generation 2 carries it —
    the layout drift every long-lived store accumulates."""

    def build(path: str) -> None:
        e = load_table(spark, sf_dir, "events")
        old = e.where(F.col("event_id") % 2 == 0).select("event_id", "ts", "value")
        new = e.where(F.col("event_id") % 2 == 1).select(
            "event_id", "ts", "value", "event_type"
        )
        old.write.mode("overwrite").parquet(os.path.join(path, "gen=1"))
        new.write.mode("overwrite").parquet(os.path.join(path, "gen=2"))

    return derived(spark, sf_dir, "evolved", ("events",), build)


@query(
    "store_schema_evolution",
    oracle="""
    SELECT coalesce(CASE WHEN event_id % 2 = 1 THEN event_type END,
                    '(pre-migration)') AS event_type,
           count(*) AS n,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
             AS total_value
    FROM events
    GROUP BY 1
    """,
    tags=("store", "schema-evolution"),
)
def store_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read a store whose parquet files span two schema generations
    (a column added mid-life) with mergeSchema: pre-migration rows
    surface the new column as NULL, handled with an explicit
    '(pre-migration)' class instead of silently vanishing from
    grouped results. At 100 TB schema migrations are rolling, never
    atomic — the reader MUST tolerate mixed generations. (Footer
    merging costs a pass over file metadata; production pins the
    unified schema in a catalog instead of re-inferring per query —
    mergeSchema here demonstrates the tolerant-read semantics.)"""
    store = _evolved_store(spark, sf_dir)
    # inferred with mergeSchema on every read: the tolerant read of
    # mixed generations is what this query shows
    df = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(store, "gen=1"), os.path.join(store, "gen=2")
    )
    return (
        df.groupBy(
            F.coalesce(F.col("event_type"), F.lit("(pre-migration)")).alias(
                "event_type"
            )
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias(
                "total_value"
            ),
        )
    )


@query(
    "events_funnel_steps",
    oracle="""
    WITH s1 AS (
        SELECT user_id, min(ts) AS t1 FROM events
        WHERE event_type = 'signup' GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id, min(e.ts) AS t2
        FROM events e JOIN s1 ON s1.user_id = e.user_id
        WHERE e.event_type = 'click' AND e.ts > s1.t1
        GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id, min(e.ts) AS t3
        FROM events e JOIN s2 ON s2.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        GROUP BY e.user_id
    )
    SELECT 'signup' AS step, CAST(count(*) AS BIGINT) AS n_users FROM s1
    UNION ALL SELECT 'signup>click', count(*) FROM s2
    UNION ALL SELECT 'signup>click>purchase', count(*) FROM s3
    """,
    tags=("timeseries", "funnel"),
)
def events_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: users who signed up, then clicked AFTER the
    signup, then purchased AFTER that click — each stage is a
    min-timestamp aggregate constrained by the previous stage's
    anchor (the decorrelated form of MATCH_RECOGNIZE-style sequence
    matching). Strict event-time ordering, not mere co-occurrence.

    Scale shape: three (filter → join-on-user → min-aggregate)
    rounds, all keyed on user_id — one partitioning reused end to
    end (AQE); stage tables shrink monotonically, so each successive
    join is cheaper and broadcast-eligible."""
    e = load_table(spark, sf_dir, "events")
    # each stage output is read TWICE (next stage's join + its own
    # count); checkpointing the tiny user-grain stage tables keeps
    # every events scan single-visit (one pushed-filter scan per
    # stage, nothing re-derived)
    s1 = (
        e.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
        .transform(materialize)
    )
    s2 = (
        e.where(F.col("event_type") == "click")
        .join(s1, "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
        .transform(materialize)
    )
    s3 = (
        e.where(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .where(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
        .transform(materialize)
    )
    def _count(df: DataFrame, label: str) -> DataFrame:
        return df.agg(F.count("*").cast("long").alias("n_users")).select(
            F.lit(label).alias("step"), "n_users"
        )
    return (
        _count(s1, "signup")
        .unionByName(_count(s2, "signup>click"))
        .unionByName(_count(s3, "signup>click>purchase"))
    )


@query(
    "ts_gapfill_interpolate",
    oracle=f"""
    WITH bounds AS (
        SELECT date_trunc('hour', min(ts)) AS lo,
               date_trunc('hour', max(ts)) AS hi
        FROM events
    ),
    grid AS (
        SELECT t.event_type, h.h AS bucket
        FROM (SELECT DISTINCT event_type FROM events) t
        CROSS JOIN (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
                    FROM bounds) h
    ),
    actual AS (
        SELECT event_type, date_trunc('hour', ts) AS bucket,
               CAST(count(*) AS BIGINT) AS n,
               {davg_sql(_FV_SQL)} AS avg_value
        FROM events GROUP BY 1, 2
    ),
    dense AS (
        SELECT g.event_type, g.bucket,
               CAST(epoch(g.bucket) AS BIGINT) // 3600 AS h,
               a.n, a.avg_value
        FROM grid g LEFT JOIN actual a
          ON a.event_type = g.event_type AND a.bucket = g.bucket
    ),
    ctx AS (
        SELECT event_type, bucket, h, n, avg_value,
               last_value(avg_value IGNORE NULLS) OVER w_prev AS prev_v,
               last_value(CASE WHEN avg_value IS NOT NULL THEN h END
                          IGNORE NULLS) OVER w_prev AS prev_h,
               first_value(avg_value IGNORE NULLS) OVER w_next AS next_v,
               first_value(CASE WHEN avg_value IS NOT NULL THEN h END
                           IGNORE NULLS) OVER w_next AS next_h
        FROM dense
        WINDOW
          w_prev AS (PARTITION BY event_type ORDER BY bucket
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
          w_next AS (PARTITION BY event_type ORDER BY bucket
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type, bucket,
           coalesce(n, 0) AS n_events,
           coalesce(avg_value,
                    prev_v + (next_v - prev_v)
                           * (CAST(h - prev_h AS DOUBLE)
                              / CAST(next_h - prev_h AS DOUBLE)))
             AS value_interp
    FROM ctx
    """,
    tags=("timeseries", "gapfill", "interpolation", "window"),
)
def ts_gapfill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Densify the per-type hourly series and LINEARLY interpolate
    interior gaps between the surrounding observed hourly means
    (boundaries stay null — there is nothing to anchor to; observed
    hours pass through untouched). The numeric contract: bucket
    distances are exact integers (epoch-hours), and the interpolation
    expression tree is written identically on both engines, so each
    IEEE operation is deterministic and the hash matches.

    Scale shape: same as LOCF — the events aggregate is the only
    data-sized shuffle; the dense grid is |types| x |hours|; the two
    direction windows are one ordered pass per type each. At 100 TB
    the window partitions are per-type series, bounded by the time
    range, never by event count."""
    e = load_table(spark, sf_dir, "events")
    bounds = e.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    grid = (
        e.select("event_type")
        .distinct()
        .join(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(
                F.sequence(F.col("lo"), F.col("hi"), F.expr("INTERVAL 1 HOUR"))
            ).alias("bucket"),
        )
    )
    actual = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("bucket")
    ).agg(
        F.count("*").alias("n"),
        davg(_fv()).alias("avg_value"),
    )
    dense = grid.join(actual, ["event_type", "bucket"], "left").withColumn(
        "h", F.expr("CAST(unix_timestamp(bucket) AS BIGINT) div 3600")
    )
    w_prev = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_next = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    h_obs = F.when(F.col("avg_value").isNotNull(), F.col("h"))
    ctx = dense.select(
        "event_type",
        "bucket",
        "h",
        "n",
        "avg_value",
        F.last("avg_value", ignorenulls=True).over(w_prev).alias("prev_v"),
        F.last(h_obs, ignorenulls=True).over(w_prev).alias("prev_h"),
        F.first("avg_value", ignorenulls=True).over(w_next).alias("next_v"),
        F.first(h_obs, ignorenulls=True).over(w_next).alias("next_h"),
    )
    frac = (F.col("h") - F.col("prev_h")).cast("double") / (
        F.col("next_h") - F.col("prev_h")
    ).cast("double")
    interp = F.col("prev_v") + (F.col("next_v") - F.col("prev_v")) * frac
    return ctx.select(
        "event_type",
        "bucket",
        F.coalesce(F.col("n"), F.lit(0)).alias("n_events"),
        F.coalesce(F.col("avg_value"), interp).alias("value_interp"),
    )


@query(
    "ts_sessionize_batch",
    oracle=f"""
    WITH x AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                            > 1800000000
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
        SELECT user_id, ts, event_id, value,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_no
        FROM x
    )
    SELECT user_id,
           CAST(session_no AS BIGINT) AS session_no,
           CAST(count(*) AS BIGINT) AS n_events,
           min(ts) AS session_start,
           max(ts) AS session_end,
           CAST(SUM(CAST({_FV_SQL} AS DECIMAL(18,6))) AS DOUBLE)
               AS total_value
    FROM s
    GROUP BY 1, 2
    """,
    tags=("timeseries", "sessionization", "window"),
)
def ts_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (gaps-and-islands): per-user sessions cut
    at >30-minute inactivity gaps, one summary row per session — the
    batch twin of the streaming session_window queries, and the shape
    every clickstream warehouse materializes nightly.

    Determinism: the per-user ordering ties on (ts, event_id) so
    duplicate timestamps can't reorder; the gap test compares exact
    epoch microseconds. Scale shape: both windows and the final
    aggregate partition on user_id — ONE shuffle total (the windows
    and the groupBy share the hash partitioning; asserted in
    tests/test_plans.py). Per-user partitions are event counts per
    user, bounded and uniform — no skew."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_us = F.unix_micros(F.lag("ts").over(w))
    is_new = F.when(
        prev_us.isNull()
        | ((F.unix_micros(F.col("ts")) - prev_us) > 1_800_000_000),
        1,
    ).otherwise(0)
    wc = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s = e.select(
        "user_id", "ts", "event_id", "value", is_new.alias("is_new")
    ).withColumn("session_no", F.sum("is_new").over(wc).cast("bigint"))
    return s.groupBy("user_id", "session_no").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        dsum(_fv()).alias("total_value"),
    )


@query(
    "events_cohort_retention",
    oracle="""
    WITH firstday AS (
        SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
        FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    )
    SELECT f.cohort_day,
           CAST(datediff('day', f.cohort_day, a.day) AS BIGINT) AS day_offset,
           CAST(count(*) AS BIGINT) AS n_active
    FROM activity a JOIN firstday f ON f.user_id = a.user_id
    WHERE datediff('day', f.cohort_day, a.day) BETWEEN 0 AND 7
    GROUP BY 1, 2
    """,
    tags=("timeseries", "cohort", "retention"),
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-seen day,
    counted on each of their first 8 active day-offsets — the
    activation/retention table every growth dashboard starts from.

    Scale shape: both the first-seen aggregate and the distinct
    activity set key on user_id, so the join is co-partitioned (one
    shuffle reused); the retention cells are |cohorts| x 8 — tiny.
    The distinct-before-join keeps the join input at one row per
    (user, day), not per event."""
    e = load_table(spark, sf_dir, "events")
    firstday = e.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("cohort_day")
    )
    activity = e.select("user_id", F.to_date("ts").alias("day")).distinct()
    k = F.datediff(F.col("day"), F.col("cohort_day"))
    return (
        activity.join(firstday, "user_id")
        .where(k.between(0, 7))
        .groupBy("cohort_day", k.cast("bigint").alias("day_offset"))
        .agg(F.count("*").cast("bigint").alias("n_active"))
    )


@query(
    "events_transition_matrix",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    ),
    counts AS (
        SELECT prev_type, event_type AS curr_type,
               CAST(count(*) AS BIGINT) AS n
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY 1, 2
    )
    SELECT prev_type, curr_type, n,
           CAST(n AS DOUBLE)
             / CAST(SUM(n) OVER (PARTITION BY prev_type) AS DOUBLE) AS p
    FROM counts
    """,
    tags=("timeseries", "markov", "window"),
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user behavior:
    count and conditional probability of each event_type -> event_type
    step in per-user event-time order (ties broken by event_id).

    Scale shape: ONE shuffle on user_id for the lag window; the
    transition counts then aggregate a |types|^2-sized key space
    (map-side combined), and the row-normalizing window runs over the
    tiny counts table. The probability is a single int/int division —
    the same IEEE op on both engines."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).where(F.col("prev_type").isNotNull())
    counts = seq.groupBy("prev_type", F.col("event_type").alias("curr_type")).agg(
        F.count("*").cast("bigint").alias("n")
    )
    wp = Window.partitionBy("prev_type")
    return counts.select(
        "prev_type",
        "curr_type",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(wp).cast("double")).alias(
            "p"
        ),
    )


@query(
    "ts_anomaly_zscore",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(CAST({_FV_SQL} AS DECIMAL(18,6))) AS DOUBLE) AS total
        FROM events GROUP BY 1, 2
    ),
    ctx AS (
        SELECT event_type, day, n, total,
               CAST(SUM(CAST(total AS DECIMAL(18,6))) OVER w AS DOUBLE) AS s,
               CAST(CAST(SUM(CAST(total AS DECIMAL(19,6))
                             * CAST(total AS DECIMAL(19,6))) OVER w
                         AS VARCHAR) AS DOUBLE) AS ss,
               COUNT(*) OVER w AS d_prev
        FROM daily
        WINDOW w AS (PARTITION BY event_type
                     ORDER BY datediff('day', DATE '1970-01-01', day)
                     RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, day, n, total,
           CASE WHEN d_prev >= 3
                THEN (total - s / d_prev)
                     / sqrt((ss - s * s / d_prev) / (d_prev - 1))
           END AS z
    FROM ctx
    """,
    tags=("timeseries", "anomaly", "window"),
)
def ts_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-total anomaly score per event type: each day's value
    total scored against the trailing week's mean and sample standard
    deviation (z-score; null until 3 trailing days exist) — the
    alert-threshold query a metrics pipeline runs after every daily
    load.

    Numeric contract: daily totals and BOTH window sums route through
    exact decimals (a double window-sum would be frame-order
    dependent); the z formula itself is a single identical IEEE tree
    on both engines. The squared-total window sum exceeds 2^53
    unscaled, so the ORACLE casts it to double via VARCHAR (DuckDB's
    int128-decimal cast double-rounds; SCALE.md trap (c)).

    Scale shape: the daily aggregate is the only data-sized shuffle;
    the trailing window slides over |types| x |days| rows. RANGE
    framing on the day index keeps calendar gaps honest (a silent
    day is absent from the frame, not zero-filled)."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.count("*").cast("bigint").alias("n"),
        dsum(_fv()).alias("total"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.unix_date("day"))
        .rangeBetween(-7, -1)
    )
    s = F.sum(F.col("total").cast("decimal(18,6)")).over(w).cast("double")
    # Square in DECIMAL, not double: daily totals carry <=6 decimals,
    # so the per-factor cast is exact and the product sum is exact —
    # a double total*total cast to decimal rounds engine-differently
    # and the variance cancellation amplifies that ulp into ~1e-14 z
    # drift (measured). Same construction as functions.numeric.dsum_prod.
    ss = (
        F.sum(
            F.col("total").cast("decimal(18,6)")
            * F.col("total").cast("decimal(18,6)")
        )
        .over(w)
        .cast("double")
    )
    d_prev = F.count("*").over(w)
    ctx = daily.select(
        "event_type",
        "day",
        "n",
        "total",
        s.alias("s"),
        ss.alias("ss"),
        d_prev.alias("d_prev"),
    )
    mean = F.col("s") / F.col("d_prev")
    var = (
        F.col("ss") - F.col("s") * F.col("s") / F.col("d_prev")
    ) / (F.col("d_prev") - 1)
    return ctx.select(
        "event_type",
        "day",
        "n",
        "total",
        F.when(F.col("d_prev") >= 3, (F.col("total") - mean) / F.sqrt(var)).alias(
            "z"
        ),
    )


@query(
    "events_pattern_match",
    oracle="""
    WITH seq AS (
        SELECT user_id,
               string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
                 AS s
        FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST(length(s) AS BIGINT) AS seq_len,
           CAST(len(regexp_extract_all(s, 'vc*p')) AS BIGINT)
             AS n_view_to_purchase,
           CAST(len(regexp_extract_all(s, 'ee+')) AS BIGINT)
             AS n_error_bursts
    FROM seq
    """,
    tags=("timeseries", "cep", "regex"),
)
def events_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern matching (CEP-lite / MATCH_RECOGNIZE-shaped):
    each user's event history becomes an ordered initial-string
    (s/c/p/v/e), and behavioral patterns are counted with regular
    expressions — view→(clicks)→purchase conversions and error bursts
    (2+ consecutive errors). Greedy leftmost non-overlapping counting
    behaves identically in Java regex and RE2 for these patterns, so
    the oracle pairs exactly.

    Scale shape: one user_id aggregate builds the per-user string
    (collect_list sorted in-array — bounded by the user's own event
    count, the same invariant sessionization relies on); the regex
    runs once per USER, not per event. A 100 TB run caps or windows
    per-user history upstream — pattern semantics unchanged."""
    e = load_table(spark, sf_dir, "events")
    seq = e.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            F.col("ts"),
                            F.col("event_id"),
                            F.substring("event_type", 1, 1).alias("ini"),
                        )
                    )
                ),
                lambda s: s["ini"],
            ),
            "",
        ).alias("s")
    )
    return seq.select(
        "user_id",
        F.length("s").cast("bigint").alias("seq_len"),
        F.regexp_count("s", F.lit("vc*p")).cast("bigint").alias(
            "n_view_to_purchase"
        ),
        F.regexp_count("s", F.lit("ee+")).cast("bigint").alias(
            "n_error_bursts"
        ),
    )


M4_BUCKETS = 256


@query(
    "ts_m4_downsample",
    oracle=f"""
    WITH bounds AS (
        SELECT epoch_us(min(ts)) AS lo, epoch_us(max(ts)) AS hi FROM events
    ),
    pts AS (
        SELECT e.event_type,
               (epoch_us(e.ts) - b.lo) * {M4_BUCKETS} // (b.hi - b.lo + 1)
                 AS bucket,
               struct_pack(tsu := epoch_us(e.ts), eid := e.event_id,
                           v := e.value) AS s,
               e.value
        FROM events e CROSS JOIN bounds b
    )
    SELECT event_type,
           CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           min(value) AS v_min,
           max(value) AS v_max,
           make_timestamp((min(s)).tsu) AS first_ts,
           (min(s)).v AS first_v,
           make_timestamp((max(s)).tsu) AS last_ts,
           (max(s)).v AS last_v
    FROM pts
    GROUP BY 1, 2
    """,
    tags=("timeseries", "downsample", "m4"),
)
def ts_m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 downsampling — the standard error-free reduction for
    time-series charting: per (series, pixel-bucket), keep min, max,
    first, and last, which is exactly the set a line renderer needs
    to draw the pixel column correctly. 100 TB of points become
    |series| x {M4_BUCKETS} rows at the visualization edge (the
    reference ships raw points to Streamlit, app.py:465-475 — this
    is that edge done scalably).

    Determinism: first/last are min/max over a (epoch-micros,
    event_id, value) struct — lexicographic on an exact integer key
    with a total tie-break, identical in both engines; the bucket
    index is pure integer arithmetic anchored on the data's own
    bounds. Scale shape: one 1-row bounds aggregate broadcast to the
    scan, then ONE map-side-combinable aggregate — no window, no
    sort, no second pass."""
    e = load_table(spark, sf_dir, "events")
    bounds = e.agg(
        F.unix_micros(F.min("ts")).alias("lo"),
        F.unix_micros(F.max("ts")).alias("hi"),
    )
    pts = e.join(F.broadcast(bounds)).select(
        "event_type",
        # integer division, not `/`: float division + engine-specific
        # double->int casts disagree at bucket edges
        F.expr(
            f"(unix_micros(ts) - lo) * {M4_BUCKETS} div (hi - lo + 1)"
        ).alias("bucket"),
        F.struct(
            F.unix_micros(F.col("ts")).alias("tsu"),
            F.col("event_id").alias("eid"),
            F.col("value").alias("v"),
        ).alias("s"),
        "value",
    )
    first = F.min("s")
    last = F.max("s")
    return pts.groupBy("event_type", "bucket").agg(
        F.count("*").cast("bigint").alias("n"),
        F.min("value").alias("v_min"),
        F.max("value").alias("v_max"),
        F.timestamp_micros(first["tsu"]).alias("first_ts"),
        first["v"].alias("first_v"),
        F.timestamp_micros(last["tsu"]).alias("last_ts"),
        last["v"].alias("last_v"),
    )


@query(
    "ts_time_weighted_avg",
    oracle=f"""
    WITH seg AS (
        SELECT event_type,
               {_FV_SQL} AS value,
               lead(epoch_us(ts)) OVER (PARTITION BY event_type
                                        ORDER BY ts, event_id)
                 - epoch_us(ts) AS dur_us
        FROM events
    )
    SELECT event_type,
           CAST(count(dur_us) AS BIGINT) AS n_segments,
           CAST(sum(dur_us) AS BIGINT) AS total_dur_us,
           CAST(CAST(SUM(CAST(value AS DECIMAL(19,6))
                         * CAST(dur_us AS DECIMAL(19,0))) AS VARCHAR)
                AS DOUBLE)
             / CAST(sum(dur_us) AS DOUBLE) AS twa
    FROM seg
    WHERE dur_us IS NOT NULL AND value IS NOT NULL
    GROUP BY event_type
    """,
    tags=("timeseries", "twa", "window"),
)
def ts_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average per series — the TSDB aggregate for
    IRREGULARLY sampled values (a plain AVG over-weights bursts):
    each sample holds until the next one, so its weight is the exact
    microsecond duration to the successor (step interpolation; the
    last point carries no segment).

    Unmeasured-time semantics (ADVICE r8): a segment whose reading
    fails the finite-measure contract is EXCLUDED from numerator and
    denominator alike — previously its duration stayed in
    sum(dur_us) while contributing nothing to the weighted sum,
    biasing the TWA toward zero in proportion to unmeasured time.
    n_segments / total_dur_us therefore describe measured time only
    (the alternative — holding the previous finite sample over the
    gap — is a different estimator a caller can build from
    ts_gapfill_locf's carry-forward machinery).

    Numeric contract: weights are exact integer micros; the weighted
    sum multiplies DECIMAL(19,6) values by DECIMAL(19,0) durations —
    exact at (38,6) — with the oracle's final cast routed through
    VARCHAR (the unscaled sum passes 2^53; SCALE.md trap (c)). The
    closing division is one identical IEEE op.

    Scale shape: one user-invisible window shuffle on event_type for
    the lead(), then a map-side-combinable aggregate on the same key
    — the partitioning is reused. At 100 TB the window partitions by
    (series, day) instead, and per-day edge segments are closed with
    the day boundary — same dataflow."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    tsu = F.unix_micros(F.col("ts"))
    seg = e.select(
        "event_type",
        _fv().alias("value"),
        (F.lead(tsu).over(w) - tsu).alias("dur_us"),
    ).where(F.col("dur_us").isNotNull() & F.col("value").isNotNull())
    weighted = F.sum(
        F.col("value").cast("decimal(19,6)")
        * F.col("dur_us").cast("decimal(19,0)")
    ).cast("double")
    return seg.groupBy("event_type").agg(
        F.count("dur_us").cast("bigint").alias("n_segments"),
        F.sum("dur_us").cast("bigint").alias("total_dur_us"),
        (weighted / F.sum("dur_us").cast("double")).alias("twa"),
    )


@query(
    "events_attribution_last_touch",
    oracle="""
    WITH ordered AS (
        SELECT event_id, user_id, ts, event_type, value,
               last_value(CASE WHEN event_type IN ('view', 'click')
                               THEN ts END IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS touch_ts,
               last_value(CASE WHEN event_type IN ('view', 'click')
                               THEN event_type END IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS touch_channel
        FROM events
    )
    SELECT event_id, user_id, ts, touch_ts, touch_channel,
           CAST(epoch_us(ts) - epoch_us(touch_ts) AS BIGINT) AS gap_us
    FROM ordered
    WHERE event_type = 'purchase' AND touch_ts IS NOT NULL
    """,
    tags=("attribution", "window", "behavior"),
)
def events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: for every purchase, the most
    recent preceding view/click by the same user (channel + timestamp
    + exact µs gap). The two IGNORE NULLS window reads are guaranteed
    consistent — both are non-null on exactly the marketing rows, so
    they resolve to the SAME preceding row.

    Scale shape: ONE shuffle on user_id serves both window columns
    (same partition + order spec), then a narrow filter to purchases
    — the asof-join-shaped problem solved without a join, because
    the touch candidates and the conversions live in the same
    stream. Cross-engine exactness: timestamps and the µs gap are
    integer microseconds end-to-end."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_touch = F.col("event_type").isin("view", "click")
    ordered = e.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.last(F.when(is_touch, F.col("ts")), ignorenulls=True).over(w).alias("touch_ts"),
        F.last(F.when(is_touch, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("touch_channel"),
    )
    return ordered.where(
        (F.col("event_type") == "purchase") & F.col("touch_ts").isNotNull()
    ).select(
        "event_id",
        "user_id",
        "ts",
        "touch_ts",
        "touch_channel",
        (F.unix_micros("ts") - F.unix_micros("touch_ts")).cast("bigint").alias("gap_us"),
    )


@query(
    "store_vacuum_retention",
    oracle="""
    WITH mx AS (SELECT max(CAST(ts AS DATE)) AS m FROM events)
    SELECT CAST(ts AS DATE) AS day,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM events, mx
    WHERE CAST(ts AS DATE) >= m - INTERVAL 14 DAY
    GROUP BY 1
    """,
    tags=("store", "lifecycle", "retention"),
)
def store_vacuum_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention vacuum — the lifecycle job every partitioned store
    runs: partitions older than the retention window (14 days behind
    the data's own max day; no wall clock) are DELETED at the
    directory level, then the result is read back and reported
    per day. The oracle recomputes the kept window from the raw
    table, so a vacuum that deleted too much or too little fails the
    hash — the post-delete store must contain exactly the retained
    days.

    Scale shape: retention on a date-partitioned store is a METADATA
    operation — list directories, drop whole ones behind the cutoff;
    zero data is read or rewritten (this is Delta/Iceberg
    drop-partition compiled to plain parquet dirs). The report read
    prunes to the kept directories."""
    import shutil

    store = _partitioned_store(spark, sf_dir, "store_vacuum", private=True)
    mx = (
        load_table(spark, sf_dir, "events")
        .agg(F.max(F.to_date("ts")).alias("m"))
        .collect()[0]["m"]
    )
    import datetime

    cutoff = mx - datetime.timedelta(days=14)
    import os

    for entry in os.listdir(store):
        if entry.startswith("event_date="):
            day = datetime.date.fromisoformat(entry.split("=", 1)[1])
            if day < cutoff:
                shutil.rmtree(os.path.join(store, entry), ignore_errors=True)
    return (
        _read_parquet(spark, store)
        .groupBy(F.col("event_date").alias("day"))
        .agg(F.count("*").cast("bigint").alias("n_rows"))
    )


@query(
    "store_gdpr_erase",
    oracle="""
    WITH targets AS (SELECT DISTINCT user_id FROM events WHERE user_id % 97 = 0),
    affected AS (
        SELECT DISTINCT CAST(ts AS DATE) AS day FROM events
        WHERE user_id % 97 = 0
    )
    SELECT CAST(e.ts AS DATE) AS day,
           CAST(count(*) AS BIGINT) AS n_rows,
           (CAST(e.ts AS DATE) IN (SELECT day FROM affected)) AS rewritten
    FROM events e
    WHERE e.user_id % 97 <> 0
    GROUP BY 1, 3
    """,
    tags=("store", "lifecycle", "gdpr", "partition-overwrite"),
)
def store_gdpr_erase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level erasure (right-to-be-forgotten) on a partitioned
    store, done the way 100 TB stores do it: find the partitions the
    target users actually touch, rewrite ONLY those partitions
    without the targets' rows (dynamic partition overwrite), leave
    every other partition's files untouched. The report reads the
    post-erase store per day with a rewritten flag; the oracle
    recomputes both from the raw table, so a leftover target row or
    an over-rewritten partition fails the hash.

    Scale shape: erasure cost is proportional to the AFFECTED
    partitions, not the table — the deterministic target set
    (user_id % 97 = 0) touches most days here, but the dataflow is
    the same when 50 users touch 3 of 3650 days. Dynamic overwrite
    only replaces partitions present in the written frame; a
    partition whose every row is a target (nothing left to write) is
    dropped explicitly so no target survives by omission."""
    import os
    import shutil

    store = _partitioned_store(spark, sf_dir, "store_gdpr", private=True)
    df = _read_parquet(spark, store)
    is_target = F.col("user_id") % 97 == 0
    # affected partitions derive from the RAW table (the erasure
    # request list lives outside the store), which also makes the op
    # idempotent: re-running rewrites the same already-clean
    # partitions to identical bytes instead of deciding "nothing is
    # affected" and flipping the rewritten flags. ONE aggregate scan
    # yields both facts the driver needs: which days have target rows
    # (affected) and which of those keep no rows at all (must be
    # dropped rather than overwritten).
    day_facts = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(F.when(is_target, 1).otherwise(0)).alias("n_target"),
            F.sum(F.when(is_target, 0).otherwise(1)).alias("n_keep"),
        )
        .where(F.col("n_target") > 0)
        .collect()
    )
    affected_days = [r["day"] for r in day_facts]
    emptied_days = {r["day"] for r in day_facts if r["n_keep"] == 0}
    # materialize BEFORE the overwrite: the frame reads the same path
    # it is about to rewrite, and a lazy plan would find its input
    # files deleted mid-scan
    keep = df.where(
        F.col("event_date").isin(affected_days) & ~is_target
    ).transform(materialize)
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", None)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        keep.write.mode("overwrite").partitionBy("event_date").parquet(store)
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        else:
            spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    # partitions that lost every row: nothing was written, drop the dir
    for day in emptied_days:
        shutil.rmtree(
            os.path.join(store, f"event_date={day.isoformat()}"), ignore_errors=True
        )
    affected_set = set(affected_days)
    out = _read_parquet(spark, store)
    return out.groupBy(F.col("event_date").alias("day")).agg(
        F.count("*").cast("bigint").alias("n_rows")
    ).withColumn(
        "rewritten", F.col("day").isin(list(affected_set))
    )


@query(
    "events_user_paths_topk",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lead(event_type, 1) OVER w AS t1,
               lead(event_type, 2) OVER w AS t2
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_type || '>' || t1 || '>' || t2 AS path,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM seq
    WHERE t1 IS NOT NULL AND t2 IS NOT NULL
    GROUP BY 1
    ORDER BY n_occurrences DESC, path ASC
    LIMIT 20
    """,
    tags=("behavior", "paths", "window", "topk"),
)
def events_user_paths_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 three-step behavior paths ("view>click>purchase") with
    occurrence and distinct-user counts — the product-analytics path
    report (the n-gram generalization of events_transition_matrix's
    first-order Markov view).

    Scale shape: ONE user_id shuffle serves both lead() columns
    (shared window spec), the n-gram key domain is |event_types|^3 =
    tiny, so the count aggregate is map-side combinable into almost
    nothing, and count(DISTINCT user_id) rides the same grouping via
    Spark's expand. TakeOrderedAndProject caps the output."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        "event_type",
        F.lead("event_type", 1).over(w).alias("t1"),
        F.lead("event_type", 2).over(w).alias("t2"),
    ).where(F.col("t1").isNotNull() & F.col("t2").isNotNull())
    return (
        seq.groupBy(
            F.concat_ws(">", "event_type", "t1", "t2").alias("path")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_occurrences"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
        .orderBy(F.desc("n_occurrences"), F.asc("path"))
        .limit(20)
    )


# Dyadic decay weights: 2^-k is a FINITE decimal with k fractional
# digits (2^-k = 5^k/10^k), so DECIMAL(18,6) holds every weight for
# k <= 6 exactly and the per-channel credit sum is an exact decimal —
# order-independent, bit-identical across engines. A half-life decay
# with irrational base would force the float-sum problem; day-bucketed
# dyadic decay is the attribution model that stays oracle-exact.
# (2**-k for k<=6 round-trips exactly through repr: dyadic doubles.)
DECAY_CASE_SQL = "CASE k " + " ".join(
    f"WHEN {k} THEN CAST({2 ** -k} AS DECIMAL(18,6))" for k in range(7)
) + " END"


@query(
    "events_attribution_time_decay",
    oracle=f"""
    WITH pairs AS (
        SELECT t.event_type AS channel,
               (epoch_us(p.ts) - epoch_us(t.ts)) // 86400000000 AS k
        FROM events p
        JOIN events t
          ON p.user_id = t.user_id
         AND t.ts < p.ts
         AND t.ts >= p.ts - INTERVAL 7 DAY
        WHERE p.event_type = 'purchase'
          AND t.event_type IN ('view', 'click')
    )
    SELECT channel, CAST(k AS BIGINT) AS k_days,
           count(*) AS n_touches,
           CAST(CAST(SUM({DECAY_CASE_SQL}) AS VARCHAR) AS DOUBLE) AS credit
    FROM pairs
    GROUP BY channel, k
    """,
    tags=("attribution", "time-decay", "behavior"),
)
def events_attribution_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay multi-touch attribution: every view/click in the 7
    days before a purchase by the same user earns credit 2^-k, where
    k is the whole days elapsed — recent touches weigh exponentially
    more. Reported per (channel, day-offset) so the decay curve
    itself is the output.

    Scale shape: a time-bounded per-user self-join (purchases x
    touches share the user_id shuffle; the 7-day predicate bounds the
    per-key pair fan-out to touch-rate x window, never all-pairs),
    then one small-domain aggregate (channels x 7 offsets).
    Exactness: day offsets are integer µs division; dyadic weights
    are exact decimals (see DECAY_CASE_SQL), so the credit sum is
    order-independent and the final cast is the only float op."""
    e = load_table(spark, sf_dir, "events")
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    t = e.where(F.col("event_type").isin("view", "click")).select(
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("t_ts"),
        F.col("event_type").alias("channel"),
    )
    pairs = p.join(
        t,
        (F.col("p_user") == F.col("t_user"))
        & (F.col("t_ts") < F.col("p_ts"))
        & (F.col("t_ts") >= F.col("p_ts") - F.expr("INTERVAL 7 DAYS")),
    ).select(
        "channel",
        F.expr("(unix_micros(p_ts) - unix_micros(t_ts)) div 86400000000").alias("k"),
    )
    weight = F.expr(DECAY_CASE_SQL)
    return (
        pairs.groupBy("channel", "k")
        .agg(
            F.count("*").alias("n_touches"),
            F.sum(weight).cast("double").alias("credit"),
        )
        .select(
            "channel",
            F.col("k").cast("bigint").alias("k_days"),
            "n_touches",
            "credit",
        )
    )


@query(
    "ts_ewma_taps",
    oracle=f"""
    WITH lagged AS (
        SELECT user_id, event_id, ts,
               CAST({_FV_SQL} AS DECIMAL(18,6)) AS v0,
               lag(CAST({_FV_SQL} AS DECIMAL(18,6)), 1)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id) AS v1,
               lag(CAST({_FV_SQL} AS DECIMAL(18,6)), 2)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id) AS v2,
               lag(CAST({_FV_SQL} AS DECIMAL(18,6)), 3)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id) AS v3
        FROM events
    )
    SELECT user_id, event_id, ts,
           CAST(CAST(v0 AS VARCHAR) AS DOUBLE) AS value,
           CAST(CAST(8 * v0 + 4 * v1 + 2 * v2 + 1 * v3 AS VARCHAR) AS DOUBLE)
             / 15.0 AS ewma
    FROM lagged
    WHERE v3 IS NOT NULL
    """,
    tags=("timeseries", "smoothing", "window"),
)
def ts_ewma_taps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Finite-tap exponential smoothing (4-tap EWMA, ratio 1/2): the
    trend signal a metrics pipeline computes per entity, expressed so
    it stays cross-engine bit-exact. True infinite-history EWMA is a
    sequential recurrence (every output depends on every prior float
    op — unverifiable across engines and unstable across
    partitionings); the 4-tap truncation (8v0+4v1+2v2+v3)/15 keeps
    >93% of the mass with dyadic weights, so the numerator is EXACT
    decimal arithmetic over the 2-dp values and the single /15.0
    double division is the only rounding step.

    Scale shape: one user_id shuffle serves all three lag() columns
    (identical window spec); no join, no global order. Rows without 3
    predecessors are warm-up and dropped."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    v = _fv().cast("decimal(18,6)")
    lagged = e.select(
        "user_id",
        "event_id",
        "ts",
        v.alias("v0"),
        F.lag(v, 1).over(w).alias("v1"),
        F.lag(v, 2).over(w).alias("v2"),
        F.lag(v, 3).over(w).alias("v3"),
    )
    num = (
        F.lit(8) * F.col("v0")
        + F.lit(4) * F.col("v1")
        + F.lit(2) * F.col("v2")
        + F.lit(1) * F.col("v3")
    )
    return lagged.where(F.col("v3").isNotNull()).select(
        "user_id",
        "event_id",
        "ts",
        F.col("v0").cast("double").alias("value"),
        (num.cast("double") / F.lit(15.0)).alias("ewma"),
    )


@query(
    "ts_seasonal_naive_error",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               SUM(CAST({_FV_SQL} AS DECIMAL(18,6))) AS tot
        FROM events GROUP BY 1, 2
    ),
    l AS (
        SELECT event_type, tot,
               lag(tot, 7) OVER (PARTITION BY event_type ORDER BY day) AS fc
        FROM daily
    )
    SELECT event_type,
           CAST(COUNT(fc) AS BIGINT) AS n_eval,
           CAST(CAST(SUM(ABS(tot - fc)) AS VARCHAR) AS DOUBLE) / COUNT(fc)
               AS mae,
           CAST(CAST(SUM(tot - fc) AS VARCHAR) AS DOUBLE) / COUNT(fc)
               AS bias
    FROM l
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("timeseries", "forecast-baseline", "seasonal-naive", "engine-addition"),
)
def ts_seasonal_naive_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast baseline scored in one pass: forecast
    each event type's daily total with the value 7 observations back
    (same weekday, the standard naive seasonal model) and report MAE
    and signed bias per series. This is the benchmark every real
    forecasting pipeline must beat — and the query shape (window lag
    + error aggregate) is identical for scoring ANY stored forecast
    column against actuals.

    Exactness: daily totals, errors, and error sums all stay in exact
    decimal; the only float ops are the two final divisions, staged
    identically on both engines (VARCHAR-route decimal->double on the
    DuckDB side).

    Scale shape: one shuffle to daily grain (map-side combinable —
    the raw events collapse to O(series x days) rows), then lag and
    the error aggregate share the series-key partitioning; nothing
    downstream of the first aggregate ever sees raw-event volume."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.sum(_fv().cast("decimal(18,6)")).alias("tot"))
    w = Window.partitionBy("event_type").orderBy("day")
    scored = daily.withColumn("fc", F.lag("tot", 7).over(w))
    err = F.col("tot") - F.col("fc")
    return (
        scored.groupBy("event_type")
        .agg(
            F.count("fc").alias("n_eval"),
            (F.sum(F.abs(err)).cast("double") / F.count("fc")).alias("mae"),
            (F.sum(err).cast("double") / F.count("fc")).alias("bias"),
        )
        .orderBy("event_type")
    )


_RFM_ACC = 1 << 20  # GK accuracy: exact while per-metric distincts < 2^20


def _rfm_score_sql(col: str, t: str, invert: bool = False) -> str:
    op = "<" if invert else ">"
    return (
        "1 "
        + " ".join(
            f"+ CASE WHEN {col} {op} {t}[{i}] THEN 1 ELSE 0 END"
            for i in (1, 2, 3, 4)
        )
    )


@query(
    "events_rfm_segments",
    oracle=f"""
    WITH pur AS (
        SELECT user_id, epoch_us(ts) AS us, {_FV_SQL} AS value
        FROM events WHERE event_type = 'purchase'
    ),
    anchor AS (SELECT MAX(us) AS a FROM pur),
    u AS (
        SELECT user_id,
               ((SELECT a FROM anchor) - MAX(us)) // 86400000000 AS rec_days,
               COUNT(*) AS freq,
               CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR)
                    AS DOUBLE) AS mon
        FROM pur GROUP BY user_id
    ),
    th AS (
        SELECT [quantile_disc(rec_days, 0.2), quantile_disc(rec_days, 0.4),
                quantile_disc(rec_days, 0.6), quantile_disc(rec_days, 0.8)]
                   AS rt,
               [quantile_disc(freq, 0.2), quantile_disc(freq, 0.4),
                quantile_disc(freq, 0.6), quantile_disc(freq, 0.8)] AS ft,
               [quantile_disc(mon, 0.2), quantile_disc(mon, 0.4),
                quantile_disc(mon, 0.6), quantile_disc(mon, 0.8)] AS mt
        FROM u
    ),
    scored AS (
        SELECT CAST({_rfm_score_sql("rec_days", "rt", invert=True)} AS BIGINT)
                   AS r_score,
               CAST({_rfm_score_sql("freq", "ft")} AS BIGINT) AS f_score,
               CAST({_rfm_score_sql("mon", "mt")} AS BIGINT) AS m_score,
               mon
        FROM u, th
    )
    SELECT r_score, f_score, m_score,
           COUNT(*) AS n_users,
           CAST(CAST(SUM(CAST(mon AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
               AS monetary_total
    FROM scored
    GROUP BY 1, 2, 3
    ORDER BY n_users DESC, r_score, f_score, m_score
    LIMIT 20
    """,
    tags=("events", "rfm", "segmentation", "engine-addition"),
)
def events_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (recency / frequency / monetary quintile
    scores) over purchase events — the classic customer-value grid.
    Quintile boundaries come from DISCRETE percentiles over the
    user-grain table, broadcast as one row, and each user is scored
    by threshold comparison — NOT by ntile over a global sort, which
    would funnel every user through one partition. Ties share a score
    (threshold semantics), which is also what makes the result
    partitioning-independent.

    Exactness: recency is integer days (integer µs division),
    frequency an integer count, monetary an exact decimal sum
    rendered to double identically on both engines; the GK sketch
    used for thresholds is in its exact regime below 2^20 distinct
    values per metric (same scale-guard rationale as
    agg_percentiles_approx) and pairs with DuckDB's quantile_disc.

    Scale shape: one user-key shuffle to user grain (map-side
    combinable), one tiny threshold aggregate broadcast back, one
    125-key segment aggregate. Nothing global-sorts; nothing is
    single-partition."""
    e = load_table(spark, sf_dir, "events")
    pur = e.where(F.col("event_type") == "purchase").select(
        "user_id", F.unix_micros("ts").alias("us"), _fv().alias("value")
    )
    # one events scan: user grain is materialized once (it feeds both
    # the threshold aggregate and the scoring pass — an un-cut diamond
    # re-scans events 4x; PLANS.md caught it), and the anchor derives
    # from the user grain (max over per-user maxes), not a second scan
    u0 = (
        pur.groupBy("user_id")
        .agg(
            F.max("us").alias("max_us"),
            F.count(F.lit(1)).alias("freq"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("mon"),
        )
        .transform(materialize)
    )
    anchor = u0.agg(F.max("max_us").alias("a"))
    u = u0.crossJoin(F.broadcast(anchor)).select(
        "user_id",
        F.expr("(a - max_us) div 86400000000").alias("rec_days"),
        "freq",
        "mon",
    )
    qs = "array(0.2D, 0.4D, 0.6D, 0.8D)"
    th = u.agg(
        F.expr(f"percentile_approx(rec_days, {qs}, {_RFM_ACC})").alias("rt"),
        F.expr(f"percentile_approx(freq, {qs}, {_RFM_ACC})").alias("ft"),
        F.expr(f"percentile_approx(mon, {qs}, {_RFM_ACC})").alias("mt"),
    )

    def score(col: str, t: str, invert: bool = False) -> F.Column:
        op = "<" if invert else ">"
        return F.expr(
            "1 "
            + " ".join(
                f"+ CASE WHEN {col} {op} {t}[{i}] THEN 1 ELSE 0 END"
                for i in (0, 1, 2, 3)  # Spark arrays are 0-indexed
            )
        ).cast("bigint")

    scored = u.crossJoin(F.broadcast(th)).select(
        score("rec_days", "rt", invert=True).alias("r_score"),
        score("freq", "ft").alias("f_score"),
        score("mon", "mt").alias("m_score"),
        "mon",
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum(F.col("mon").cast("decimal(18,6)"))
            .cast("double")
            .alias("monetary_total"),
        )
        .orderBy(F.desc("n_users"), "r_score", "f_score", "m_score")
        .limit(20)
    )


@query(
    "ts_cusum_changepoint",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               SUM(CAST({_FV_SQL} AS DECIMAL(18,6))) AS tot
        FROM events GROUP BY 1, 2
    ),
    c AS (
        SELECT event_type, day,
               SUM(tot) OVER (PARTITION BY event_type ORDER BY day) AS prefix,
               row_number() OVER (PARTITION BY event_type ORDER BY day) AS t,
               SUM(tot) OVER (PARTITION BY event_type) AS total,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM daily
    ),
    s AS (
        SELECT event_type, day,
               n * prefix - t * total AS s_scaled
        FROM c
    ),
    best AS (
        SELECT event_type, day, s_scaled,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY ABS(s_scaled) DESC, day ASC)
                   AS rn
        FROM s
    )
    SELECT event_type, day AS change_day,
           CAST(CAST(s_scaled AS VARCHAR) AS DOUBLE) AS cusum_scaled
    FROM best WHERE rn = 1
    ORDER BY event_type
    """,
    tags=("timeseries", "changepoint", "cusum", "engine-addition"),
)
def ts_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection per series: the day where the
    cumulative deviation from the series mean peaks in magnitude —
    the classic level-shift locator for drift monitoring. The mean
    never appears as a float: CUSUM_t = prefix_t - t·mean is scaled
    through by n to S_t = n·prefix_t - t·total, which is EXACT
    decimal arithmetic end to end (argmax is scaling-invariant), so
    the located day is bit-identical cross-engine — float CUSUMs
    near-tie at the peak and different engines pick different days.

    Scale shape: raw events collapse to daily grain first (one
    map-side-combinable shuffle); the prefix/total windows and the
    argmax all share the series-key partitioning — one more shuffle
    total, everything downstream at O(series x days)."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.sum(_fv().cast("decimal(18,6)")).alias("tot"))
    wp = Window.partitionBy("event_type")
    wo = wp.orderBy("day")
    c = daily.select(
        "event_type",
        "day",
        F.sum("tot").over(wo).alias("prefix"),
        F.row_number().over(wo).alias("t"),
        F.sum("tot").over(wp).alias("total"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    s = c.select(
        "event_type",
        "day",
        (F.col("n") * F.col("prefix") - F.col("t") * F.col("total")).alias(
            "s_scaled"
        ),
    )
    wbest = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("s_scaled")).desc(), F.asc("day")
    )
    return (
        s.withColumn("rn", F.row_number().over(wbest))
        .where(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("day").alias("change_day"),
            F.col("s_scaled").cast("double").alias("cusum_scaled"),
        )
        .orderBy("event_type")
    )


@query(
    "events_funnel_windowed",
    oracle="""
    WITH s1 AS (
        SELECT user_id, MIN(epoch_us(ts)) AS t1
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id, MIN(epoch_us(e.ts)) AS t2
        FROM events e JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = 'click'
          AND epoch_us(e.ts) > s1.t1
          AND epoch_us(e.ts) <= s1.t1 + 3600000000
        GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id, MIN(epoch_us(e.ts)) AS t3
        FROM events e JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = 'purchase'
          AND epoch_us(e.ts) > s2.t2
          AND epoch_us(e.ts) <= s2.t2 + 86400000000
        GROUP BY e.user_id
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM s1) AS n_signup,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM s2) AS n_click_1h,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM s3) AS n_purchase_24h
    """,
    tags=("events", "funnel", "conversion-window", "engine-addition"),
)
def events_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-BOUNDED funnel (the product-analytics default, unlike
    events_funnel_steps' unbounded ordering): click within 1 hour of
    first signup, purchase within 24 hours of that click. Conversion
    windows change the answer qualitatively — an unbounded funnel
    counts a purchase a month later as converted; this one doesn't —
    and the implementation shows windows cost nothing extra: the same
    stage-anchored min-aggregates, each with two extra integer-µs
    bounds.

    Scale shape: identical to the unbounded funnel — three
    filter→join-on-user→min rounds, one user_id partitioning reused
    end to end, stages shrink monotonically (broadcast-eligible).
    All time arithmetic in integer microseconds."""
    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    # stage outputs checkpoint for the same single-visit-scan reason
    # as events_funnel_steps
    s1 = (
        e.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(us).alias("t1"))
        .transform(materialize)
    )
    s2 = (
        e.where(F.col("event_type") == "click")
        .join(s1, "user_id")
        .where((us > F.col("t1")) & (us <= F.col("t1") + 3_600_000_000))
        .groupBy("user_id")
        .agg(F.min(us).alias("t2"))
        .transform(materialize)
    )
    s3 = (
        e.where(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .where((us > F.col("t2")) & (us <= F.col("t2") + 86_400_000_000))
        .groupBy("user_id")
        .agg(F.min(us).alias("t3"))
        .transform(materialize)
    )
    c1 = s1.agg(F.count(F.lit(1)).alias("n_signup"))
    c2 = s2.agg(F.count(F.lit(1)).alias("n_click_1h"))
    c3 = s3.agg(F.count(F.lit(1)).alias("n_purchase_24h"))
    return c1.crossJoin(F.broadcast(c2)).crossJoin(F.broadcast(c3))


@query(
    "events_power_users_pareto",
    oracle="""
    WITH u AS (
        SELECT user_id, COUNT(*) AS n_events
        FROM events GROUP BY user_id
    ),
    th AS (
        SELECT quantile_disc(n_events, 0.90) AS p90,
               quantile_disc(n_events, 0.99) AS p99
        FROM u
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(n_events) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN n_events > th.p90 THEN 1 ELSE 0 END)
                AS BIGINT) AS users_above_p90,
           CAST(SUM(CASE WHEN n_events > th.p90 THEN n_events ELSE 0 END)
                * 1000000 // SUM(n_events) AS BIGINT) AS share_above_p90_ppm,
           CAST(SUM(CASE WHEN n_events > th.p99 THEN n_events ELSE 0 END)
                * 1000000 // SUM(n_events) AS BIGINT) AS share_above_p99_ppm
    FROM u, th
    """,
    tags=("events", "pareto", "concentration", "engine-addition"),
)
def events_power_users_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration readout: what share of event volume comes
    from users above the p90 / p99 activity thresholds — the "do 10%
    of users generate 90% of traffic" number that drives capacity
    planning and the skew treatment everywhere else in this repo
    (salting, per-key caps). Complements agg_concentration_hhi: HHI
    summarizes the whole distribution, this names the head.

    Same scalable shape as events_rfm_segments: user-grain aggregate,
    exact-regime discrete-percentile thresholds broadcast as one row,
    threshold comparisons, integer-ppm shares — no global sort, no
    float rates."""
    e = load_table(spark, sf_dir, "events")
    # materialized once: u feeds both the threshold row and the final
    # aggregate (otherwise events is scanned twice)
    u = (
        e.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .transform(materialize)
    )
    th = u.agg(
        F.expr(f"percentile_approx(n_events, 0.90D, {_RFM_ACC})").alias("p90"),
        F.expr(f"percentile_approx(n_events, 0.99D, {_RFM_ACC})").alias("p99"),
    )
    j = u.crossJoin(F.broadcast(th))
    above90 = F.when(F.col("n_events") > F.col("p90"), F.col("n_events")).otherwise(0)
    above99 = F.when(F.col("n_events") > F.col("p99"), F.col("n_events")).otherwise(0)
    return j.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("n_events").alias("n_events"),
        F.sum(F.when(F.col("n_events") > F.col("p90"), 1).otherwise(0)).alias(
            "users_above_p90"
        ),
        F.expr(
            "sum(CASE WHEN n_events > p90 THEN n_events ELSE 0 END) "
            "* 1000000 div sum(n_events)"
        )
        .cast("bigint")
        .alias("share_above_p90_ppm"),
        F.expr(
            "sum(CASE WHEN n_events > p99 THEN n_events ELSE 0 END) "
            "* 1000000 div sum(n_events)"
        )
        .cast("bigint")
        .alias("share_above_p99_ppm"),
    )


@query(
    "ts_autocorr_exact",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ),
    stats AS (
        SELECT event_type, day, x,
               CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
               CAST(sum(x) OVER (PARTITION BY event_type) AS BIGINT) AS s,
               lead(x, 1) OVER (PARTITION BY event_type ORDER BY day) AS x1,
               lead(x, 2) OVER (PARTITION BY event_type ORDER BY day) AS x2,
               lead(x, 3) OVER (PARTITION BY event_type ORDER BY day) AS x3
        FROM daily
    ),
    dev AS (
        SELECT event_type, n,
               CAST(sum((n * x - s) * (n * x - s)) AS BIGINT) AS den,
               CAST(sum(CASE WHEN x1 IS NOT NULL
                    THEN (n * x - s) * (n * x1 - s) ELSE 0 END) AS BIGINT)
                   AS num1,
               CAST(sum(CASE WHEN x2 IS NOT NULL
                    THEN (n * x - s) * (n * x2 - s) ELSE 0 END) AS BIGINT)
                   AS num2,
               CAST(sum(CASE WHEN x3 IS NOT NULL
                    THEN (n * x - s) * (n * x3 - s) ELSE 0 END) AS BIGINT)
                   AS num3
        FROM stats GROUP BY 1, 2
    ),
    lags AS (
        SELECT event_type, n AS n_days, l.lag,
               CASE l.lag WHEN 1 THEN num1 WHEN 2 THEN num2
                          ELSE num3 END AS num,
               den
        FROM dev, (VALUES (1), (2), (3)) AS l(lag)
    )
    SELECT event_type, CAST(lag AS BIGINT) AS lag, n_days, num, den,
           CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS acf
    FROM lags
    ORDER BY event_type, lag
    """,
    tags=("timeseries", "autocorrelation", "exact", "engine-addition"),
)
def ts_autocorr_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation of each event type's daily-volume
    series at lags 1-3 — the seasonality / persistence diagnostic a
    forecasting pipeline runs before picking a model. Everything up
    to the final division is INTEGER: with n = #days and S = Σx, the
    mean-centered products are computed n²-scaled as
    (n·x_t − S)(n·x_{t+ℓ} − S), so numerator and denominator are
    exact bigints and the single num/den division is the only float
    op — bit-identical cross-engine, no float accumulation. (At
    100 TB volumes the same identity lifts to DECIMAL(38,0) sums;
    the shape is unchanged.) Lag steps are OBSERVED-day steps; the
    synthetic events table is daily-dense so they coincide with
    calendar lags.

    Scale shape: the raw scan collapses to |types| x |days| rows in
    one map-side-combinable aggregate; the windows (per-type count,
    sum, and leads) and the final per-(type, lag) rollup all run on
    that driver-scale series table, partitioned by series key — the
    100 TB pattern for per-series diagnostics over millions of
    series: one shuffle on the series key, everything else local."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    )
    wp = Window.partitionBy("event_type")
    wo = wp.orderBy("day")
    stats = daily.select(
        "event_type",
        "x",
        F.count(F.lit(1)).over(wp).cast("bigint").alias("n"),
        F.sum("x").over(wp).cast("bigint").alias("s"),
        F.lead("x", 1).over(wo).alias("x1"),
        F.lead("x", 2).over(wo).alias("x2"),
        F.lead("x", 3).over(wo).alias("x3"),
    )
    dev = F.col("n") * F.col("x") - F.col("s")

    def num(lagcol: str) -> F.Column:
        return (
            F.sum(
                F.when(
                    F.col(lagcol).isNotNull(),
                    dev * (F.col("n") * F.col(lagcol) - F.col("s")),
                ).otherwise(F.lit(0).cast("long"))
            )
            .cast("bigint")
        )

    agg = stats.groupBy("event_type", F.col("n").alias("n_days")).agg(
        F.sum(dev * dev).cast("bigint").alias("den"),
        num("x1").alias("num1"),
        num("x2").alias("num2"),
        num("x3").alias("num3"),
    )
    lags = agg.select(
        "event_type",
        "n_days",
        "den",
        F.explode(
            F.array(
                F.struct(F.lit(1).alias("lag"), F.col("num1").alias("num")),
                F.struct(F.lit(2).alias("lag"), F.col("num2").alias("num")),
                F.struct(F.lit(3).alias("lag"), F.col("num3").alias("num")),
            )
        ).alias("ln"),
    ).select(
        "event_type",
        F.col("ln.lag").cast("bigint").alias("lag"),
        "n_days",
        F.col("ln.num").alias("num"),
        "den",
    )
    return lags.select(
        "event_type",
        "lag",
        "n_days",
        "num",
        "den",
        (F.col("num").cast("double") / F.col("den").cast("double")).alias("acf"),
    ).orderBy("event_type", "lag")


@query(
    "join_dpp_partitioned",
    oracle="""
    WITH dim AS (
        SELECT DISTINCT CAST(ts AS DATE) AS d FROM events
        WHERE isodow(CAST(ts AS DATE)) = 1
    )
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS VARCHAR)
                AS DOUBLE) AS total_value
    FROM events e JOIN dim ON CAST(e.ts AS DATE) = dim.d
    GROUP BY 1
    ORDER BY 1
    """,
    tags=("join", "dynamic-partition-pruning", "store", "pruning"),
)
def join_dpp_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact side is the DATE-PARTITIONED
    event store, the dim side is a filtered calendar (Mondays only —
    a predicate on an attribute the fact's directory layout knows
    nothing about). A static planner must scan every fact partition;
    Spark's DPP reuses the broadcast dim as a runtime IN-filter on
    the fact's PARTITION COLUMN, so only Monday directories are
    listed and read (the plan's PartitionFilters carries a
    ``dynamicpruning`` subquery — asserted in tests/test_plans.py).

    This is the 100 TB star-schema workhorse: "revenue for promo
    weeks" joins a 10-year fact store to a dim filtered on an
    attribute, and DPP turns a full-store scan into reading exactly
    the qualifying partitions — the difference between 100 TB and a
    few hundred GB of IO. Mondays ≈ 1/7 of partitions here; the
    day-grain dim stays broadcast-sized at any fact scale.

    Exactness: weekday via ISO day-of-week (Spark ``weekday()+1`` ==
    DuckDB ``isodow``), money through the decimal route."""
    fact = _read_parquet(spark, _partitioned_store(spark, sf_dir))
    dim = (
        load_table(spark, sf_dir, "events")
        .select(F.to_date("ts").alias("d"))
        .distinct()
        .where(F.expr("weekday(d)") == 0)
    )
    return (
        fact.join(F.broadcast(dim), fact.event_date == dim.d)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_value"),
        )
        .orderBy("event_type")
    )


@query(
    "ts_wow_growth",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                        AS BIGINT)) AS BIGINT) AS rev_cents
        FROM orders GROUP BY 1
    ),
    lagged AS (
        SELECT day, rev_cents,
               lag(rev_cents, 1) OVER (ORDER BY day) AS prev_dod,
               lag(rev_cents, 7) OVER (ORDER BY day) AS prev_wow
        FROM daily
    )
    SELECT day, rev_cents,
           CASE WHEN prev_dod IS NOT NULL
                THEN CAST((rev_cents - prev_dod) * 1000000 // prev_dod
                          AS BIGINT) END AS dod_growth_ppm,
           CASE WHEN prev_wow IS NOT NULL
                THEN CAST((rev_cents - prev_wow) * 1000000 // prev_wow
                          AS BIGINT) END AS wow_growth_ppm
    FROM lagged
    ORDER BY day
    """,
    tags=("timeseries", "growth", "kpi", "engine-addition"),
)
def ts_wow_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day and week-over-week revenue growth — the KPI
    dashboard's headline numbers — in exact integer arithmetic:
    revenue is summed as integer CENTS (the decimal(18,2)*100 cast is
    exact, so the daily totals are bigints), and growth rates are
    integer-ppm divisions. Lag steps are observed-day steps (the
    orders calendar is dense); nothing floats, so both engines agree
    bit-for-bit including the null leading edge.

    Scale shape: the raw scan collapses to |days| rows in one
    map-side-combinable aggregate; the lag window runs on that
    driver-scale series. The single-series ORDER BY window is a
    one-partition sort of |days| rows — per-series partitioning (as
    in ts_autocorr_exact) is the multi-series form."""
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.sum(
                (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast(
                    "bigint"
                )
            )
            .cast("bigint")
            .alias("rev_cents")
        )
    )
    w = Window.orderBy("day")
    lagged = daily.select(
        "day",
        "rev_cents",
        F.lag("rev_cents", 1).over(w).alias("prev_dod"),
        F.lag("rev_cents", 7).over(w).alias("prev_wow"),
    )
    return lagged.select(
        "day",
        "rev_cents",
        F.expr(
            "CASE WHEN prev_dod IS NOT NULL THEN "
            "CAST((rev_cents - prev_dod) * 1000000 div prev_dod AS BIGINT) END"
        ).alias("dod_growth_ppm"),
        F.expr(
            "CASE WHEN prev_wow IS NOT NULL THEN "
            "CAST((rev_cents - prev_wow) * 1000000 div prev_wow AS BIGINT) END"
        ).alias("wow_growth_ppm"),
    ).orderBy("day")


@query(
    "ts_mann_kendall",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ),
    n AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
        FROM daily GROUP BY 1
    ),
    s AS (
        SELECT a.event_type,
               CAST(sum(CASE WHEN b.x > a.x THEN 1
                             WHEN b.x < a.x THEN -1 ELSE 0 END)
                    AS BIGINT) AS s_stat
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type AND a.day < b.day
        GROUP BY 1
    )
    SELECT s.event_type, n.n_days, s.s_stat,
           CAST(s.s_stat * 2000000 // (n.n_days * (n.n_days - 1))
                AS BIGINT) AS tau_ppm
    FROM s JOIN n ON s.event_type = n.event_type
    ORDER BY s.event_type
    """,
    tags=("timeseries", "trend", "mann-kendall", "engine-addition"),
)
def ts_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test per series — the nonparametric
    monotone-trend detector (S = Σ_{i<j} sign(x_j − x_i), Kendall
    tau = 2S/(n(n−1))) monitoring pipelines run on KPI series
    because it needs no distribution assumption and ignores
    magnitude outliers. Everything is integers: the sign sum, n,
    and tau in integer ppm — bit-identical cross-engine.

    Scale shape: the event scan collapses to |series| × |days| rows
    first (one map-side-combinable shuffle); the O(days²) pair join
    runs WITHIN each series key on that driver-scale table — at
    daily grain, 10 years is ~6.7k pair rows per series, megabytes
    even for millions of series (and the O(n log n) inversion-count
    form is the swap if the grain ever gets finer). The join is
    equi on the series key, never cross-series."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
        .transform(materialize)
    )
    n = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days")
    )
    a, b = daily.alias("a"), daily.alias("b")
    s = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.day") < F.col("b.day")),
        )
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(
            F.sum(
                F.when(F.col("b.x") > F.col("a.x"), 1)
                .when(F.col("b.x") < F.col("a.x"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s_stat")
        )
    )
    return (
        s.join(n, "event_type")
        .select(
            "event_type",
            "n_days",
            "s_stat",
            F.expr(
                "CAST(s_stat * 2000000 div (n_days * (n_days - 1)) AS BIGINT)"
            ).alias("tau_ppm"),
        )
        .orderBy("event_type")
    )


def _ohlc_key_sql() -> str:
    """Fixed-width (epoch_us | event_id) ordering key: lexicographic
    order on the padded string == chronological order with a unique
    tiebreak (events can share a timestamp; event_id disambiguates
    identically on both engines)."""
    return (
        "lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || '|' || "
        "lpad(CAST(event_id AS VARCHAR), 12, '0')"
    )


@query(
    "ts_ohlc_bars",
    oracle=f"""
    SELECT event_type,
           date_trunc('hour', ts) AS bar,
           arg_min(value, {_ohlc_key_sql()}) AS open,
           max(value) AS high,
           min(value) AS low,
           arg_max(value, {_ohlc_key_sql()}) AS close,
           CAST(count(*) AS BIGINT) AS volume
    FROM events
    WHERE value IS NOT NULL
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    tags=("timeseries", "ohlc", "downsample", "argmax"),
)
def ts_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bars (open/high/low/close + volume) per series per hour —
    the finance/metrics downsampling that preserves what a candle
    chart needs. Open and close are argmin/argmax aggregates over a
    fixed-width (epoch-µs | event_id) string key (the
    agg_argmax_deterministic idiom: composite numeric order encoded
    lexicographically, unique tiebreak so timestamp ties can't make
    the bar nondeterministic); high/low/volume are plain aggregates.

    Scale shape: ONE map-side-combinable aggregate pass — each
    partial carries one open candidate, one close candidate and three
    scalars per open bar, so this is strictly cheaper than the
    window first/last formulation (no per-row window state, no sort).
    This is the M4/downsampling family's aggregate-only member: bars
    stream out of a 100 TB event store in a single shuffle keyed on
    (series, bar). NULL measures are excluded up front on BOTH sides:
    Spark's min_by returns the (possibly NULL) value at the min key
    while DuckDB's arg_min skips NULL values entirely — the null
    sweep caught whole bars diverging; a priceless tick can't open,
    close, or count toward a candle."""
    e = load_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull()
    )
    key = F.concat(
        F.lpad(F.unix_micros(F.col("ts")).cast("string"), 20, "0"),
        F.lit("|"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    return (
        e.groupBy("event_type", F.date_trunc("hour", "ts").alias("bar"))
        .agg(
            F.min_by("value", key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", key).alias("close"),
            F.count(F.lit(1)).cast("bigint").alias("volume"),
        )
        .orderBy("event_type", "bar")
    )


@query(
    "ts_interarrival_stats",
    oracle="""
    WITH s AS (
        SELECT event_type, epoch_us(ts) AS us, event_id FROM events
    ),
    g AS (
        SELECT event_type,
               us - lag(us) OVER (PARTITION BY event_type
                                  ORDER BY us, event_id) AS gap
        FROM s
    )
    SELECT event_type,
           CAST(count(gap) AS BIGINT) AS n_gaps,
           quantile_cont(gap, 0.5) AS median_gap_us,
           quantile_cont(gap, 0.9) AS p90_gap_us,
           CAST(max(gap) AS BIGINT) AS max_gap_us
    FROM g GROUP BY 1 ORDER BY 1
    """,
    tags=("timeseries", "interarrival", "monitoring"),
)
def ts_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival-time distribution per event stream (median, p90,
    max gap in exact integer µs) — the liveness/SLO diagnostic that
    distinguishes "slow but steady" from "bursty with stalls", and
    the empirical input to any queueing model. Arrivals are totally
    ordered by (timestamp, event_id), so timestamp ties produce
    deterministic zero-gaps instead of nondeterministic orderings;
    gaps are bigint µs, percentiles use the shared
    percentile ≡ quantile_cont interpolation parity
    (agg_percentiles_exact).

    Scale shape: one shuffle on the series key for the lag window,
    then a per-series aggregate on the same partitioning — at
    millions of streams this is the standard per-key ordered-state
    pass; the exact percentile sorts within each series partition
    (the approx-sketch swap applies if a single series outgrows a
    partition)."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type", F.unix_micros("ts").alias("us"), "event_id"
    )
    w = Window.partitionBy("event_type").orderBy("us", "event_id")
    g = e.select(
        "event_type", (F.col("us") - F.lag("us").over(w)).alias("gap")
    )
    return (
        g.groupBy("event_type")
        .agg(
            F.count("gap").cast("bigint").alias("n_gaps"),
            F.expr("percentile(gap, 0.5)").alias("median_gap_us"),
            F.expr("percentile(gap, 0.9)").alias("p90_gap_us"),
            F.max("gap").cast("bigint").alias("max_gap_us"),
        )
        .orderBy("event_type")
    )


@query(
    "events_survival_table",
    oracle="""
    WITH pur AS (
        SELECT user_id, CAST(ts AS DATE) AS day
        FROM events WHERE event_type = 'purchase'
    ),
    anchor AS (SELECT max(day) AS amax FROM pur),
    u AS (
        SELECT user_id,
               (max(day) - min(day)) AS lifetime_days,
               ((SELECT amax FROM anchor) - min(day)) AS tenure_days,
               (max(day) < (SELECT amax FROM anchor) - 7) AS churned
        FROM pur GROUP BY user_id
    ),
    ev AS (
        SELECT CASE WHEN churned THEN lifetime_days // 7
                    ELSE tenure_days // 7 END AS t_week,
               churned
        FROM u
    ),
    wk AS (
        SELECT t_week,
               CAST(sum(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_churned,
               CAST(sum(CASE WHEN churned THEN 0 ELSE 1 END) AS BIGINT)
                   AS n_censored
        FROM ev GROUP BY 1
    )
    SELECT CAST(t_week AS BIGINT) AS t_week, n_churned, n_censored,
           CAST(sum(n_churned + n_censored)
                OVER (ORDER BY t_week DESC) AS BIGINT) AS n_at_risk
    FROM wk
    ORDER BY t_week
    """,
    tags=("events", "survival", "kaplan-meier", "engine-addition"),
)
def events_survival_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survival (Kaplan-Meier) life table for customer churn: per
    tenure-week, how many users churned at that tenure (last
    purchase > 7 days before the data's end), how many are
    right-censored there (still active — their tenure merely ran
    out), and the at-risk count — the SUFFICIENT STATISTIC of the
    KM estimator (Ŝ(t) = Π (1 − d/n) folds over exactly these
    integers; the product is left to the consumer because a float
    product chain has no cross-engine bit guarantee, while this
    table is all exact integers and all anchors are data-derived).

    Scale shape: events collapse to the user grain in one shuffle
    (min/max per user); the life table is |weeks| rows, and the
    at-risk reverse-cumulative window runs on that driver-scale
    table. Censoring is handled algebraically — no per-(user, week)
    densification."""
    pur = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select("user_id", F.to_date("ts").alias("day"))
    )
    u0 = (
        pur.groupBy("user_id")
        .agg(F.min("day").alias("first_day"), F.max("day").alias("last_day"))
        .transform(materialize)
    )
    anchor = u0.agg(F.max("last_day").alias("amax"))
    u = u0.crossJoin(F.broadcast(anchor)).select(
        F.datediff("last_day", "first_day").alias("lifetime_days"),
        F.datediff("amax", "first_day").alias("tenure_days"),
        (F.col("last_day") < F.date_sub("amax", 7)).alias("churned"),
    )
    ev = u.select(
        F.when(
            F.col("churned"), F.expr("lifetime_days div 7")
        )
        .otherwise(F.expr("tenure_days div 7"))
        .alias("t_week"),
        "churned",
    )
    wk = ev.groupBy("t_week").agg(
        F.sum(F.when(F.col("churned"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_churned"),
        F.sum(F.when(F.col("churned"), 0).otherwise(1))
        .cast("bigint")
        .alias("n_censored"),
    )
    w = Window.orderBy(F.desc("t_week")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return wk.select(
        F.col("t_week").cast("bigint").alias("t_week"),
        "n_churned",
        "n_censored",
        F.sum(F.col("n_churned") + F.col("n_censored"))
        .over(w)
        .cast("bigint")
        .alias("n_at_risk"),
    ).orderBy("t_week")


@query(
    "ts_seasonal_index_dow",
    oracle=f"""
    WITH c AS (
        SELECT event_type,
               isodow(CAST(ts AS DATE)) AS dow,
               CAST(CAST({_FV_SQL} AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        FROM events
    ),
    per AS (
        SELECT event_type, dow,
               CAST(count(*) AS BIGINT) AS n_dow,
               CAST(sum(cents) AS BIGINT) AS sum_dow
        FROM c GROUP BY 1, 2
    ),
    tot AS (
        SELECT event_type,
               CAST(sum(n_dow) AS BIGINT) AS n_total,
               CAST(sum(sum_dow) AS BIGINT) AS sum_total
        FROM per GROUP BY 1
    )
    SELECT p.event_type, CAST(p.dow AS BIGINT) AS dow, p.n_dow, p.sum_dow,
           CAST(p.sum_dow * t.n_total * 1000000
                // (CAST(p.n_dow AS HUGEINT) * t.sum_total) AS BIGINT)
               AS seasonal_index_ppm
    FROM per p JOIN tot t ON p.event_type = t.event_type
    ORDER BY p.event_type, dow
    """,
    tags=("timeseries", "seasonality", "decomposition", "engine-addition"),
)
def ts_seasonal_index_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal index per event stream — the
    decomposition primitive behind staffing curves and
    seasonally-adjusted anomaly thresholds: index(dow) = mean value
    on that weekday / overall mean, as integer ppm (1 000 000 =
    no seasonality). The ratio of means is cross-multiplied into
    one integer division — sum_dow·n_total·10⁶ div (n_dow·sum_total)
    over exact integer cents — so no float ever forms, and both
    sides widen the products past int64 (HUGEINT / DECIMAL(38,0))
    so the identity survives any corpus size. ISO weekday on both
    engines.

    Scale shape: two stacked map-side-combinable aggregates (the
    weekday grain, then the per-series total) and a broadcast-sized
    join back — |series|×7 rows end to end."""
    e = load_table(spark, sf_dir, "events")
    c = e.select(
        "event_type",
        (F.expr("weekday(CAST(ts AS DATE))") + 1).cast("bigint").alias("dow"),
        (_fv().cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    per = c.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dow"),
        F.sum("cents").cast("bigint").alias("sum_dow"),
    )
    tot = per.groupBy("event_type").agg(
        F.sum("n_dow").cast("bigint").alias("n_total"),
        F.sum("sum_dow").cast("bigint").alias("sum_total"),
    )
    return (
        per.join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            "dow",
            "n_dow",
            "sum_dow",
            F.expr(
                "CAST(CAST(sum_dow AS DECIMAL(38,0)) * n_total * 1000000"
                " div (CAST(n_dow AS DECIMAL(38,0)) * sum_total) AS BIGINT)"
            ).alias("seasonal_index_ppm"),
        )
        .orderBy("event_type", "dow")
    )


@query(
    "ts_max_drawdown",
    oracle=f"""
    WITH v AS (
        SELECT event_type, ts, event_id,
               CAST(CAST({_FV_SQL} AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        FROM events
    ),
    run AS (
        SELECT event_type, ts, event_id, cents,
               CAST(max(cents) OVER (PARTITION BY event_type
                   ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS peak_cents,
               CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        FROM v
    ),
    dd AS (
        SELECT event_type, ts, cents, peak_cents, n,
               peak_cents - cents AS drawdown_cents,
               row_number() OVER (PARTITION BY event_type
                   ORDER BY peak_cents - cents DESC, ts ASC, event_id ASC)
                   AS rn
        FROM run
    )
    SELECT event_type, drawdown_cents AS max_drawdown_cents,
           peak_cents, cents AS trough_cents, ts AS trough_ts, n
    FROM dd WHERE rn = 1 ORDER BY event_type
    """,
    tags=("timeseries", "window", "finance", "engine-addition"),
)
def ts_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per series — the peak-to-trough monitoring
    metric (portfolio risk, SLA budgets, battery/stock levels): a
    running max over the (ts, event_id)-ordered series, drawdown =
    running peak minus current value in exact integer cents, then the
    deterministic argmax (ties break on earliest ts, then event_id).

    Scale: one per-series shuffle+sort feeds both windows; the
    running-max frame is streaming (no buffering), and the final
    argmax is a row_number filter, not a self-join. The sort IS the
    algorithm — drawdown is order-defined — so this is the minimal
    shape at 100 TB."""
    cents = (_fv().cast("decimal(18,2)") * 100).cast("bigint")
    v = load_table(spark, sf_dir, "events").select(
        "event_type", "ts", "event_id", cents.alias("cents")
    )
    wrun = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    run = v.select(
        "event_type",
        "ts",
        "event_id",
        "cents",
        F.max("cents").over(wrun).cast("bigint").alias("peak_cents"),
        F.count("*")
        .over(Window.partitionBy("event_type"))
        .cast("bigint")
        .alias("n"),
    )
    dd = run.withColumn(
        "drawdown_cents", F.col("peak_cents") - F.col("cents")
    ).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(
                F.col("drawdown_cents").desc(),
                F.col("ts").asc(),
                F.col("event_id").asc(),
            )
        ),
    )
    return (
        dd.filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("drawdown_cents").alias("max_drawdown_cents"),
            "peak_cents",
            F.col("cents").alias("trough_cents"),
            F.col("ts").alias("trough_ts"),
            "n",
        )
        .orderBy("event_type")
    )


@query(
    "ts_max_concurrency",
    oracle="""
    WITH iv AS (
        SELECT r.r_name AS region,
               o.o_orderdate AS s,
               o.o_orderdate
                 + to_days(CAST(o.o_orderkey % 30 + 1 AS INTEGER)) AS e
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
    ),
    deltas AS (
        SELECT region, s AS t, CAST(1 AS BIGINT) AS delta FROM iv
        UNION ALL
        SELECT region, e AS t, CAST(-1 AS BIGINT) AS delta FROM iv
    ),
    sweep AS (
        SELECT region, t, delta,
               CAST(sum(delta) OVER (PARTITION BY region
                   ORDER BY t, delta
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS conc
        FROM deltas
    ),
    peak AS (
        SELECT region, CAST(max(conc) AS BIGINT) AS peak_concurrency,
               CAST(count(*) // 2 AS BIGINT) AS n_intervals
        FROM sweep GROUP BY region
    )
    SELECT p.region, p.peak_concurrency,
           min(s.t) AS peak_first_ts,
           p.n_intervals
    FROM sweep s JOIN peak p
      ON s.region = p.region AND s.conc = p.peak_concurrency
    GROUP BY p.region, p.peak_concurrency, p.n_intervals
    ORDER BY p.region
    """,
    tags=("timeseries", "sweep-line", "intervals", "engine-addition"),
)
def ts_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency per region via the sweep line — "how many
    orders were in flight at once" (the occupancy / connection-count
    / room-scheduling primitive). Each order becomes a half-open
    interval [orderdate, orderdate + (orderkey%30+1) days); +1/-1
    deltas sorted by (time, delta) — ends before starts at the same
    instant, the half-open convention — and a running sum gives the
    exact concurrency profile. The peak and its FIRST attainment time
    are deterministic even under timestamp ties because prefix sums
    over a permuted tied block are the same multiset.

    Scale: the star lookup is all-broadcast; the sweep is ONE
    per-region shuffle+sort of 2 rows per interval; peak extraction
    re-aggregates the sweep (grouped, map-side combinable) instead of
    windowing twice. Memory is O(1) per partition — the profile is
    never materialized."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    iv = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            F.col("r_name").alias("region"),
            F.col("o_orderdate").alias("s"),
            F.expr(
                "o_orderdate + make_interval(0, 0, 0, "
                "CAST(o_orderkey % 30 + 1 AS INT), 0, 0, 0)"
            ).alias("e"),
        )
    )
    # both deltas from ONE scan of the star join (explode, not union:
    # a union re-reads the 4-table join once per branch)
    deltas = iv.select(
        "region",
        F.explode(
            F.array(
                F.struct(
                    F.col("s").alias("t"),
                    F.lit(1).cast("bigint").alias("delta"),
                ),
                F.struct(
                    F.col("e").alias("t"),
                    F.lit(-1).cast("bigint").alias("delta"),
                ),
            )
        ).alias("x"),
    ).select("region", "x.t", "x.delta")
    wsweep = (
        Window.partitionBy("region")
        .orderBy("t", "delta")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wreg = Window.partitionBy("region")
    # peak + interval count ride the SAME per-region sort as the
    # sweep (whole-partition frames add no shuffle); the post-filter
    # aggregate sees only the few peak rows
    aug = deltas.select(
        "region",
        "t",
        F.sum("delta").over(wsweep).cast("bigint").alias("conc"),
    ).select(
        "region",
        "t",
        "conc",
        F.max("conc").over(wreg).cast("bigint").alias("peak_concurrency"),
        F.expr(
            "CAST(count(*) OVER (PARTITION BY region) div 2 AS BIGINT)"
        ).alias("n_intervals"),
    )
    return (
        aug.filter(F.col("conc") == F.col("peak_concurrency"))
        .groupBy("region", "peak_concurrency", "n_intervals")
        .agg(F.min("t").alias("peak_first_ts"))
        .select("region", "peak_concurrency", "peak_first_ts", "n_intervals")
        .orderBy("region")
    )


@query(
    "ts_rolling_corr",
    oracle=f"""
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS bucket,
               CAST(count(*) AS BIGINT) AS x,
               CAST(sum(CAST(CAST({_FV_SQL} AS DECIMAL(18,2)) * 100
                             AS BIGINT))
                    AS BIGINT) AS y
        FROM events GROUP BY 1, 2
    ),
    mom AS (
        SELECT event_type, bucket, x, y,
               row_number() OVER w AS rn,
               CAST(sum(x) OVER (w ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS sx,
               CAST(sum(y) OVER (w ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS sy,
               CAST(sum(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))
                   OVER (w ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
                   AS DECIMAL(38,0)) AS sxx,
               CAST(sum(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
                   OVER (w ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
                   AS DECIMAL(38,0)) AS syy,
               CAST(sum(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
                   OVER (w ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
                   AS DECIMAL(38,0)) AS sxy
        FROM hourly
        WINDOW w AS (PARTITION BY event_type ORDER BY bucket)
    )
    SELECT event_type, bucket, x, y,
           (7 * CAST(CAST(sxy AS VARCHAR) AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / nullif(sqrt((7 * CAST(CAST(sxx AS VARCHAR) AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * (7 * CAST(CAST(syy AS VARCHAR) AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 0)
               AS corr_7h
    FROM mom WHERE rn >= 7
    ORDER BY event_type, bucket
    """,
    tags=("timeseries", "window", "statistics", "engine-addition"),
)
def ts_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-hour correlation between a series' volume (hourly
    event count) and its value flow (hourly cents sum) — the drift
    monitor that flags when throughput decouples from revenue. The
    five co-moments are EXACT window sums over the trailing 7-bucket
    frame — linear moments in bigint, squared/cross products in
    decimal(38,0) so a series with $30M+ hourly cents never overflows
    the square (oracle re-reads them through the VARCHAR route,
    dsum_sql discipline); only the final Pearson
    combination runs in double, with the identical expression tree
    (and IEEE-exact sqrt) on both engines. Partial leading windows
    (rn < 7) are suppressed rather than emitting a differently-sized
    frame.

    Scale: the raw scan collapses to |series|x|hours| rows in one
    map-side-combinable aggregate; the five window sums share ONE
    per-series sort of that already-small table."""
    cents = (_fv().cast("decimal(18,2)") * 100).cast("bigint")
    hourly = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("bucket")
        )
        .agg(
            F.count("*").cast("bigint").alias("x"),
            F.sum(cents).cast("bigint").alias("y"),
        )
    )
    wb = Window.partitionBy("event_type").orderBy("bucket")
    wf = wb.rowsBetween(-6, 0)
    mom = hourly.select(
        "event_type",
        "bucket",
        "x",
        "y",
        F.row_number().over(wb).alias("rn"),
        F.sum("x").over(wf).cast("bigint").alias("sx"),
        F.sum("y").over(wf).cast("bigint").alias("sy"),
        F.sum(
            F.col("x").cast("decimal(19,0)") * F.col("x").cast("decimal(19,0)")
        )
        .over(wf)
        .cast("decimal(38,0)")
        .alias("sxx"),
        F.sum(
            F.col("y").cast("decimal(19,0)") * F.col("y").cast("decimal(19,0)")
        )
        .over(wf)
        .cast("decimal(38,0)")
        .alias("syy"),
        F.sum(
            F.col("x").cast("decimal(19,0)") * F.col("y").cast("decimal(19,0)")
        )
        .over(wf)
        .cast("decimal(38,0)")
        .alias("sxy"),
    )
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    corr = (F.lit(7) * sxy - sx * sy) / F.nullif(
        F.sqrt((F.lit(7) * sxx - sx * sx) * (F.lit(7) * syy - sy * sy)),
        F.lit(0.0),
    )
    return (
        mom.filter(F.col("rn") >= 7)
        .select("event_type", "bucket", "x", "y", corr.alias("corr_7h"))
        .orderBy("event_type", "bucket")
    )


@query(
    "events_longest_streak",
    oracle="""
    WITH days AS (
        SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
        FROM events WHERE user_id IS NOT NULL
    ),
    isl AS (
        SELECT user_id, d,
               row_number() OVER (PARTITION BY user_id ORDER BY d) AS rn
        FROM days
    ),
    streaks AS (
        SELECT user_id, d - to_days(CAST(rn AS INTEGER)) AS anchor,
               CAST(count(*) AS BIGINT) AS len
        FROM isl GROUP BY 1, 2
    ),
    longest AS (
        SELECT user_id, CAST(max(len) AS BIGINT) AS longest
        FROM streaks GROUP BY 1
    )
    SELECT longest AS streak_days, CAST(count(*) AS BIGINT) AS n_users
    FROM longest GROUP BY 1 ORDER BY 1
    """,
    tags=("events", "gaps-islands", "engagement", "engine-addition"),
)
def events_longest_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-active-day streak per user, summarized as
    a distribution (streak length -> user count) — the engagement
    metric behind 'X-day streak' features, computed with the
    gaps-and-islands identity: on a user's DISTINCT active days,
    day - row_number(day) is constant exactly within a run of
    consecutive days, so one window + one count collapses each run,
    no self-join and no recursion.

    Scale: distinct (user, day) is one dedup shuffle; the island
    window is one per-user sort of a few hundred day-rows each; the
    final histogram is map-side combinable. Pure date/integer
    arithmetic end to end."""
    days = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select(
            "user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("d")
        )
        .distinct()
    )
    isl = days.withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("user_id").orderBy("d")),
    )
    streaks = (
        isl.select(
            "user_id", F.expr("date_sub(d, CAST(rn AS INT))").alias("anchor")
        )
        .groupBy("user_id", "anchor")
        .agg(F.count("*").cast("bigint").alias("len"))
    )
    longest = streaks.groupBy("user_id").agg(
        F.max("len").cast("bigint").alias("longest")
    )
    return (
        longest.groupBy(F.col("longest").alias("streak_days"))
        .agg(F.count("*").cast("bigint").alias("n_users"))
        .orderBy("streak_days")
    )


@query(
    "agg_bridge_price_volume",
    oracle="""
    WITH anchor AS (
        SELECT max(o_orderdate) AS hi FROM orders
    ),
    f AS (
        SELECT p.p_brand AS brand,
               CASE WHEN o.o_orderdate > a.hi - INTERVAL 180 DAY
                    THEN 2 ELSE 1 END AS period,
               CAST(l.l_quantity AS BIGINT) AS q,
               CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS r
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN part p ON l.l_partkey = p.p_partkey
        CROSS JOIN anchor a
        WHERE o.o_orderdate > a.hi - INTERVAL 360 DAY
    ),
    per AS (
        SELECT brand,
               CAST(sum(CASE WHEN period = 1 THEN q ELSE 0 END) AS BIGINT) AS q1,
               CAST(sum(CASE WHEN period = 1 THEN r ELSE 0 END) AS BIGINT) AS r1,
               CAST(sum(CASE WHEN period = 2 THEN q ELSE 0 END) AS BIGINT) AS q2,
               CAST(sum(CASE WHEN period = 2 THEN r ELSE 0 END) AS BIGINT) AS r2
        FROM f GROUP BY brand
    )
    SELECT brand, q1, r1, q2, r2,
           r2 - r1 AS delta_cents,
           (CAST(q2 AS DOUBLE) - CAST(q1 AS DOUBLE))
               * (CAST(r1 AS DOUBLE) / nullif(CAST(q1 AS DOUBLE), 0))
               AS volume_effect,
           CAST(q2 AS DOUBLE)
               * (CAST(r2 AS DOUBLE) / nullif(CAST(q2 AS DOUBLE), 0)
                  - CAST(r1 AS DOUBLE) / nullif(CAST(q1 AS DOUBLE), 0))
               AS price_effect
    FROM per ORDER BY brand
    """,
    tags=("agg", "bridge", "bi", "engine-addition"),
)
def agg_bridge_price_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-volume bridge (revenue-change decomposition): per brand,
    split the revenue delta between the trailing 180 days and the
    prior 180 days into a VOLUME effect ((q2-q1)*p1) and a PRICE
    effect (q2*(p2-p1)) — the waterfall chart behind every 'why did
    revenue move' review, and an exact algebraic identity: the two
    effects sum to r2-r1 by construction. Period totals are exact
    integers from ONE conditional-aggregate pass (no per-period
    scans); the per-unit prices and effects are staged through
    identical double expressions on both engines, with nullif
    guarding empty periods.

    Scale: one fact scan, broadcast dims + broadcast 1-row anchor,
    one brand shuffle — the same envelope as a grouped count."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    p = load_table(spark, sf_dir, "part")
    anchor = o.agg(F.max("o_orderdate").alias("hi"))
    f = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .crossJoin(F.broadcast(anchor))
        .filter(F.expr("o_orderdate > hi - INTERVAL 360 DAY"))
        .select(
            F.col("p_brand").alias("brand"),
            F.expr(
                "CASE WHEN o_orderdate > hi - INTERVAL 180 DAY"
                " THEN 2 ELSE 1 END"
            ).alias("period"),
            F.col("l_quantity").cast("bigint").alias("q"),
            (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias("r"),
        )
    )
    per = f.groupBy("brand").agg(
        *[
            F.sum(F.when(F.col("period") == i, F.col(c)).otherwise(0))
            .cast("bigint")
            .alias(f"{c}{i}")
            for i in (1, 2)
            for c in ("q", "r")
        ]
    )
    q1, r1 = F.col("q1").cast("double"), F.col("r1").cast("double")
    q2, r2 = F.col("q2").cast("double"), F.col("r2").cast("double")
    p1 = r1 / F.nullif(q1, F.lit(0.0))
    p2 = r2 / F.nullif(q2, F.lit(0.0))
    return per.select(
        "brand",
        "q1",
        "r1",
        "q2",
        "r2",
        (F.col("r2") - F.col("r1")).alias("delta_cents"),
        ((q2 - q1) * p1).alias("volume_effect"),
        (q2 * (p2 - p1)).alias("price_effect"),
    ).orderBy("brand")


@query(
    "events_cohort_ltv",
    oracle=f"""
    WITH base AS (
        SELECT user_id, ts,
               CAST(CAST({_FV_SQL} AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        FROM events WHERE user_id IS NOT NULL
    ),
    cohorts AS (
        SELECT user_id,
               CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
        FROM base GROUP BY user_id
    ),
    sizes AS (
        SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_users
        FROM cohorts GROUP BY cohort_week
    ),
    weekly AS (
        SELECT c.cohort_week,
               CAST((CAST(date_trunc('week', b.ts) AS DATE) - c.cohort_week)
                    // 7 AS BIGINT) AS week_k,
               CAST(sum(b.cents) AS BIGINT) AS rev_cents
        FROM base b JOIN cohorts c ON b.user_id = c.user_id
        GROUP BY 1, 2
    ),
    cum AS (
        SELECT cohort_week, week_k, rev_cents,
               CAST(sum(rev_cents) OVER (PARTITION BY cohort_week
                   ORDER BY week_k
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_rev_cents
        FROM weekly
    )
    SELECT m.cohort_week, m.week_k, s.cohort_users, m.rev_cents,
           m.cum_rev_cents,
           CAST(m.cum_rev_cents // s.cohort_users AS BIGINT)
               AS ltv_cents_per_user
    FROM cum m JOIN sizes s ON m.cohort_week = s.cohort_week
    ORDER BY m.cohort_week, m.week_k
    """,
    tags=("events", "cohort", "ltv", "engine-addition"),
)
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: users grouped by first-activity
    week, cumulative revenue per cohort by weeks-since-signup, and
    LTV as integer cents per cohort user — the value twin of
    events_cohort_retention (which counts activity; this accumulates
    revenue, the number the payback-period decision actually needs).
    Week indices and cents are exact integers; the cumulative sum is
    a per-cohort window over the |cohorts|x|weeks| rollup.

    Scale: one user shuffle assigns cohorts (first-touch min), one
    (cohort, week) shuffle rolls up revenue, and the LTV window runs
    on the model-sized grid; cohort sizes broadcast back."""
    base = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select(
            "user_id",
            "ts",
            (_fv().cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias("cents"),
        )
    )
    # staged (r10 shuffle sweep): the cohort map feeds the sizes
    # rollup AND the revenue join — unstaged, the first-touch
    # aggregate (events scan included) ran twice
    cohorts = materialize(
        base.groupBy("user_id").agg(
            F.date_trunc("week", F.min("ts")).cast("date").alias(
                "cohort_week"
            )
        )
    )
    sizes = cohorts.groupBy("cohort_week").agg(
        F.count("*").cast("bigint").alias("cohort_users")
    )
    weekly = (
        base.join(cohorts, "user_id")
        .groupBy(
            "cohort_week",
            F.expr(
                "CAST(datediff(CAST(date_trunc('week', ts) AS DATE),"
                " cohort_week) div 7 AS BIGINT)"
            ).alias("week_k"),
        )
        .agg(F.sum("cents").cast("bigint").alias("rev_cents"))
    )
    wcum = (
        Window.partitionBy("cohort_week")
        .orderBy("week_k")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = weekly.withColumn(
        "cum_rev_cents", F.sum("rev_cents").over(wcum).cast("bigint")
    )
    return (
        cum.join(F.broadcast(sizes), "cohort_week")
        .select(
            "cohort_week",
            "week_k",
            "cohort_users",
            "rev_cents",
            "cum_rev_cents",
            F.expr("CAST(cum_rev_cents div cohort_users AS BIGINT)").alias(
                "ltv_cents_per_user"
            ),
        )
        .orderBy("cohort_week", "week_k")
    )


@query(
    "events_absence_audit",
    oracle="""
    WITH anchor AS (SELECT max(ts) AS hi FROM events),
    last_seen AS (
        SELECT user_id, max(ts) AS last_ts,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events WHERE user_id IS NOT NULL GROUP BY user_id
    )
    SELECT l.user_id, l.last_ts, l.n_events,
           CAST((epoch_us(a.hi) - epoch_us(l.last_ts)) // 86400000000
                AS BIGINT) AS days_silent
    FROM last_seen l CROSS JOIN anchor a
    WHERE epoch_us(l.last_ts) <= epoch_us(a.hi) - 7 * 86400000000
    ORDER BY days_silent DESC, user_id ASC
    LIMIT 100
    """,
    tags=("events", "monitoring", "absence", "engine-addition"),
)
def events_absence_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-series detection (the dead-man switch every monitoring
    stack needs): users whose LAST event is more than 7 days behind
    the stream's own frontier (max(ts), no wall clock), with exact
    integer-day silence computed in microseconds. Absence can't be
    filtered from raw events — it's a property of what ISN'T there —
    so the shape is: collapse to per-key last-seen (one
    map-side-combinable aggregate), broadcast the 1-row frontier,
    compare. Top-100 by silence with key tie-break keeps the output
    bounded and deterministic.

    Scale: one fact scan to |keys| rows; the threshold probe and the
    top-k (TakeOrderedAndProject) never touch raw events again."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    anchor = e.agg(F.max("ts").alias("hi"))
    last_seen = e.groupBy("user_id").agg(
        F.max("ts").alias("last_ts"),
        F.count("*").cast("bigint").alias("n_events"),
    )
    return (
        last_seen.crossJoin(F.broadcast(anchor))
        .filter(
            F.expr(
                "unix_micros(last_ts) <= unix_micros(hi) - 7 * 86400000000"
            )
        )
        .select(
            "user_id",
            "last_ts",
            "n_events",
            F.expr(
                "CAST((unix_micros(hi) - unix_micros(last_ts))"
                " div 86400000000 AS BIGINT)"
            ).alias("days_silent"),
        )
        .orderBy(F.col("days_silent").desc(), F.col("user_id").asc())
        .limit(100)
    )


@query(
    "ts_slo_burn_rate",
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
    tags=("timeseries", "slo", "monitoring", "engine-addition"),
)
def ts_slo_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-window SLO error-budget burn rate — the SRE alerting
    construct: with a 99% success objective, burn rate is
    (error rate)/(1% budget); paging requires BOTH the fast window
    (1h) and the slow window (trailing 6h) to burn above 6x, which
    filters blips (fast-only) and stale incidents (slow-only). The
    error predicate reads the JSON props payload (k < 10) so the
    whole path — JSON extract, hourly rollup, two burn rates, the
    alert conjunction — is exercised end to end in exact integers
    (burn x1000 = errors*100000 div n). Leading partial windows are
    suppressed (rn >= 6).

    Scale: one scan collapses to hourly grain (map-side combinable);
    the 6-bucket frame and alert logic run on the |hours| rollup.
    Per-service SLOs = add the service key to the group and window
    partition; nothing else changes."""
    ev = load_table(spark, sf_dir, "events").select(
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
    wb = Window.orderBy("bucket")
    w6 = wb.rowsBetween(-5, 0)
    windowed = hourly.select(
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


@query(
    "ts_theil_sen_slope",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(sum(CAST(CAST({_FV_SQL} AS DECIMAL(18,2)) * 100
                             AS BIGINT))
                    AS BIGINT) AS cents
        FROM events GROUP BY 1, 2
    ),
    slopes AS (
        SELECT a.event_type,
               CAST(b.cents - a.cents AS DOUBLE)
                   / CAST(b.day - a.day AS BIGINT) AS slope
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type AND a.day < b.day
    ),
    ranked AS (
        SELECT event_type, slope,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY slope) AS rn,
               CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
                   AS n_pairs
        FROM slopes
    )
    SELECT event_type, n_pairs,
           slope AS theil_sen_slope_cents_per_day
    FROM ranked WHERE rn = (n_pairs + 1) // 2
    ORDER BY event_type
    """,
    tags=("timeseries", "robust", "trend", "engine-addition"),
)
def ts_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend estimator — the median of all pairwise
    slopes, the companion ESTIMATOR to the ts_mann_kendall
    significance test (breakdown point ~29% vs 0% for OLS: a few
    spiked days cannot drag it). The pair join runs on the DAILY
    rollup, not raw events — each series' pair space is
    |days|^2/2 ~ 1e5 rows for a year, model-sized by construction;
    slopes are one exact IEEE division each (integer cents / integer
    days, identical on both engines), and the median is the lower
    order statistic by row_number, so no interpolation.

    Scale: one fact shuffle to daily grain; the per-series pair join
    and median window never touch raw data. For decade-long series,
    sample day pairs deterministically (hash gate) — the estimator
    is defined on any pair subset."""
    cents = (_fv().cast("decimal(18,2)") * 100).cast("bigint")
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
        )
        .agg(F.sum(cents).cast("bigint").alias("cents"))
    )
    a, b = daily.alias("a"), daily.alias("b")
    slopes = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.day") < F.col("b.day")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        (
            (F.col("b.cents") - F.col("a.cents")).cast("double")
            / F.expr("datediff(b.day, a.day)").cast("bigint")
        ).alias("slope"),
    )
    wr = Window.partitionBy("event_type").orderBy("slope")
    wp = Window.partitionBy("event_type")
    ranked = slopes.select(
        "event_type",
        "slope",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(wp).cast("bigint").alias("n_pairs"),
    )
    return (
        ranked.filter(F.col("rn") == F.expr("(n_pairs + 1) div 2"))
        .select(
            "event_type",
            "n_pairs",
            F.col("slope").alias("theil_sen_slope_cents_per_day"),
        )
        .orderBy("event_type")
    )


@query(
    "ts_seasonal_decompose_additive",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(sum(CAST(CAST({_FV_SQL} AS DECIMAL(18,2)) * 100
                             AS BIGINT))
                    AS BIGINT) AS cents
        FROM events GROUP BY 1, 2
    ),
    trended AS (
        SELECT event_type, day, cents,
               CAST(count(*) OVER w7 AS BIGINT) AS w_n,
               CAST(sum(cents) OVER w7 AS BIGINT) AS w_sum,
               row_number() OVER (PARTITION BY event_type ORDER BY day)
                   AS rn,
               CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
                   AS n_days
        FROM daily
        WINDOW w7 AS (PARTITION BY event_type ORDER BY day
                      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    detrended AS (
        SELECT event_type, day, cents,
               CAST(w_sum // w_n AS BIGINT) AS trend_cents,
               cents - CAST(w_sum // w_n AS BIGINT) AS detrended_cents,
               CAST(isodow(day) AS BIGINT) AS dow
        FROM trended WHERE rn > 3 AND rn <= n_days - 3
    ),
    seasonal AS (
        SELECT event_type, dow,
               CAST(sum(detrended_cents) // count(*) AS BIGINT)
                   AS seasonal_cents
        FROM detrended GROUP BY 1, 2
    )
    SELECT d.event_type, d.day, d.cents, d.trend_cents,
           s.seasonal_cents,
           d.cents - d.trend_cents - s.seasonal_cents AS residual_cents
    FROM detrended d JOIN seasonal s
      ON d.event_type = s.event_type AND d.dow = s.dow
    ORDER BY d.event_type, d.day
    """,
    tags=("timeseries", "decomposition", "seasonal", "engine-addition"),
)
def ts_seasonal_decompose_additive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition, value = trend + seasonal +
    residual, in EXACT integer cents: trend is the centered 7-day
    moving average (integer-division mean, full windows only — the
    3-day edges are trimmed, not emitted with a different window
    size), seasonal is the per-weekday mean of the detrended series
    (again integer division), and the residual is what remains —
    the anomaly-detection input that doesn't confuse Sundays with
    incidents. Every step is truncating integer arithmetic, so both
    engines agree to the cent with no smoothing-parameter floats.

    Scale: one fact shuffle to daily grain; the centered window and
    the weekday profile both run on the |series|x|days| rollup; the
    seasonal join broadcasts |series|x7 rows."""
    cents = (_fv().cast("decimal(18,2)") * 100).cast("bigint")
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
        )
        .agg(F.sum(cents).cast("bigint").alias("cents"))
    )
    wb = Window.partitionBy("event_type").orderBy("day")
    w7 = wb.rowsBetween(-3, 3)
    wp = Window.partitionBy("event_type")
    trended = daily.select(
        "event_type",
        "day",
        "cents",
        F.count("*").over(w7).cast("bigint").alias("w_n"),
        F.sum("cents").over(w7).cast("bigint").alias("w_sum"),
        F.row_number().over(wb).alias("rn"),
        F.count("*").over(wp).cast("bigint").alias("n_days"),
    )
    detrended = (
        trended.filter(
            (F.col("rn") > 3) & (F.col("rn") <= F.col("n_days") - 3)
        )
        .withColumn("trend_cents", F.expr("CAST(w_sum div w_n AS BIGINT)"))
        .withColumn(
            "detrended_cents", F.col("cents") - F.col("trend_cents")
        )
        .withColumn(
            "dow", F.expr("CAST(weekday(day) + 1 AS BIGINT)")
        )
    )
    seasonal = detrended.groupBy("event_type", "dow").agg(
        F.expr(
            "CAST(sum(detrended_cents) div count(*) AS BIGINT)"
        ).alias("seasonal_cents")
    )
    return (
        detrended.join(F.broadcast(seasonal), ["event_type", "dow"])
        .select(
            "event_type",
            "day",
            "cents",
            "trend_cents",
            "seasonal_cents",
            (
                F.col("cents") - F.col("trend_cents") - F.col("seasonal_cents")
            ).alias("residual_cents"),
        )
        .orderBy("event_type", "day")
    )


@query(
    "ts_lead_lag_xcorr",
    oracle="""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS bucket, event_type,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    grid AS (
        SELECT b.bucket,
               coalesce(x.n, 0) AS x,
               coalesce(y.n, 0) AS y
        FROM (SELECT DISTINCT bucket FROM hourly) b
        LEFT JOIN hourly x
          ON x.bucket = b.bucket AND x.event_type = 'click'
        LEFT JOIN hourly y
          ON y.bucket = b.bucket AND y.event_type = 'purchase'
    ),
    lags AS (SELECT unnest([-3, -2, -1, 0, 1, 2, 3]) AS lag),
    aligned AS (
        SELECT l.lag, a.x, b.y
        FROM lags l
        JOIN grid a ON true
        JOIN grid b
          ON b.bucket = a.bucket + to_hours(CAST(l.lag AS BIGINT))
    ),
    mom AS (
        SELECT lag, CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(y * y) AS BIGINT) AS syy,
               CAST(sum(x * y) AS BIGINT) AS sxy
        FROM aligned GROUP BY lag
    )
    SELECT CAST(lag AS BIGINT) AS lag_hours, CAST(n AS BIGINT) AS n_hours,
           (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / nullif(sqrt((n * CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * (n * CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 0)
               AS xcorr
    FROM mom ORDER BY lag_hours
    """,
    tags=("timeseries", "lead-lag", "correlation", "engine-addition"),
)
def ts_lead_lag_xcorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation between two series (hourly click
    volume vs purchase volume at lags -3h..+3h) — which signal LEADS:
    the peak-lag readout behind 'do clicks predict purchases hours
    ahead'. The hourly grid is densified per bucket (explicit zeros,
    so silent hours count as zeros instead of silently shrinking the
    join), alignment is a self-join shifted by each lag, and the
    Pearson numerator/denominator come from exact integer moments
    with one identically-staged double combination per lag (nullif
    guards degenerate variance).

    Scale: ONE fact scan collapses to |hours| rows (both series come
    out of a single conditional aggregate — no per-series joins), the
    grid is staged, and each lag's alignment joins the model-sized
    staged grid with itself (7 lags x |hours| rows), shuffled once on
    bucket. At many more lags/series, the FFT-free moment form still
    holds — the grid stays tiny relative to the data."""
    # ONE conditional aggregate builds the dense two-series grid
    # directly (count of a non-matching WHEN is 0, so silent hours are
    # explicit zeros) — the first cut derived buckets/x/y as three
    # separate reads of an hourly CTE and re-scanned events six times
    # across the self-join (the ×5 entry of VERDICT r8 #4); staged
    # because the lag alignment consumes the grid on both sides.
    grid = materialize(
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("bucket"))
        .agg(
            F.count(F.when(F.col("event_type") == "click", 1))
            .cast("bigint")
            .alias("x"),
            F.count(F.when(F.col("event_type") == "purchase", 1))
            .cast("bigint")
            .alias("y"),
        )
    )
    lags = spark.range(-3, 4).select(F.col("id").alias("lag"))
    a = grid.alias("a").crossJoin(F.broadcast(lags))
    b = grid.alias("b")
    aligned = a.join(
        b,
        F.col("b.bucket")
        == F.expr("a.bucket + make_interval(0, 0, 0, 0, CAST(lag AS INT), 0, 0)"),
    ).select("lag", F.col("a.x").alias("x"), F.col("b.y").alias("y"))
    mom = aligned.groupBy("lag").agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    xcorr = (n * sxy - sx * sy) / F.nullif(
        F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), F.lit(0.0)
    )
    return mom.select(
        F.col("lag").cast("bigint").alias("lag_hours"),
        n.cast("bigint").alias("n_hours"),
        xcorr.alias("xcorr"),
    ).orderBy("lag_hours")


@query(
    "ts_piecewise_fit_changepoint",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),
    idx AS (
        SELECT day, y,
               CAST(day - (min(day) OVER ()) AS BIGINT) AS x,
               CAST(count(*) OVER () AS BIGINT) AS n_days
        FROM daily
    ),
    pre AS (
        SELECT day, x, y, n_days,
               CAST(row_number() OVER w AS BIGINT) AS nl,
               CAST(sum(x) OVER w AS BIGINT) AS sxl,
               CAST(sum(y) OVER w AS BIGINT) AS syl,
               CAST(sum(x * x) OVER w AS BIGINT) AS sxxl,
               CAST(sum(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
                    OVER w AS DECIMAL(38,0)) AS sxyl,
               CAST(sum(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
                    OVER w AS DECIMAL(38,0)) AS syyl,
               CAST(sum(x) OVER () AS BIGINT) AS sxt,
               CAST(sum(y) OVER () AS BIGINT) AS syt,
               CAST(sum(x * x) OVER () AS BIGINT) AS sxxt,
               CAST(sum(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
                    OVER () AS DECIMAL(38,0)) AS sxyt,
               CAST(sum(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
                    OVER () AS DECIMAL(38,0)) AS syyt
        FROM idx
        WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW)
    ),
    ev AS (
        SELECT day AS break_day, nl, n_days - nl AS nr,
               (CAST(CAST(syyl AS VARCHAR) AS DOUBLE)
                - CAST(syl AS DOUBLE) * syl / nl
                - (CAST(nl AS DOUBLE) * CAST(CAST(sxyl AS VARCHAR) AS DOUBLE)
                   - CAST(sxl AS DOUBLE) * syl)
                  * (CAST(nl AS DOUBLE) * CAST(CAST(sxyl AS VARCHAR) AS DOUBLE)
                     - CAST(sxl AS DOUBLE) * syl)
                  / (CAST(nl AS DOUBLE)
                     * (CAST(nl AS DOUBLE) * sxxl
                        - CAST(sxl AS DOUBLE) * sxl))) AS sse_l,
               (CAST(CAST(syyt AS VARCHAR) AS DOUBLE)
                    - CAST(CAST(syyl AS VARCHAR) AS DOUBLE)
                - CAST(syt - syl AS DOUBLE) * (syt - syl) / (n_days - nl)
                - (CAST(n_days - nl AS DOUBLE)
                       * (CAST(CAST(sxyt AS VARCHAR) AS DOUBLE)
                          - CAST(CAST(sxyl AS VARCHAR) AS DOUBLE))
                   - CAST(sxt - sxl AS DOUBLE) * (syt - syl))
                  * (CAST(n_days - nl AS DOUBLE)
                         * (CAST(CAST(sxyt AS VARCHAR) AS DOUBLE)
                            - CAST(CAST(sxyl AS VARCHAR) AS DOUBLE))
                     - CAST(sxt - sxl AS DOUBLE) * (syt - syl))
                  / (CAST(n_days - nl AS DOUBLE)
                     * (CAST(n_days - nl AS DOUBLE) * (sxxt - sxxl)
                        - CAST(sxt - sxl AS DOUBLE) * (sxt - sxl)))) AS sse_r
        FROM pre
        WHERE nl >= 2 AND n_days - nl >= 2
    ),
    ranked AS (
        SELECT break_day, nl AS n_left, nr AS n_right,
               sse_l + sse_r AS sse_total,
               row_number() OVER (ORDER BY sse_l + sse_r ASC, break_day ASC)
                   AS rk
        FROM ev
    )
    SELECT break_day, n_left, n_right, sse_total
    FROM ranked WHERE rk = 1
    """,
    tags=("timeseries", "changepoint", "regression", "engine-addition"),
)
def ts_piecewise_fit_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segmented-regression changepoint: fit separate least-squares
    lines to the daily revenue series before and after EVERY
    candidate breakpoint and pick the split minimizing total SSE —
    the slope-change detector (CUSUM catches mean shifts; this
    catches 'growth rate changed on day X'), and the regression
    analogue of the decision stump: cumulative moment sums
    (n, Sx, Sy, Sxx, Sxy, Syy; squares/cross-products in
    decimal(38,0)) make each side's SSE a CLOSED FORM via the
    ml_regression_metrics identity, so evaluating all n breakpoints
    costs one window pass, not n regressions. Both engines stage the
    identical double expressions, wide decimals re-enter through the
    VARCHAR route, and only breakpoints with >= 2 points per side
    compete (deterministic tie to the earliest day).

    Scale: the fact scan collapses to daily grain; the moment
    windows share ONE sort of the |days| series. Per-series form =
    add the key to every PARTITION BY."""
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast(
        "bigint"
    )
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.sum(cents).cast("bigint").alias("y"))
    )
    wall = Window.partitionBy()
    idx = daily.select(
        "day",
        "y",
        F.expr("CAST(datediff(day, min(day) OVER ()) AS BIGINT)").alias("x"),
        F.count("*").over(wall).cast("bigint").alias("n_days"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    xd = F.col("x").cast("decimal(19,0)")
    yd = F.col("y").cast("decimal(19,0)")
    pre = idx.select(
        "day",
        "n_days",
        F.row_number().over(Window.orderBy("day")).cast("bigint").alias("nl"),
        F.sum("x").over(w).cast("bigint").alias("sxl"),
        F.sum("y").over(w).cast("bigint").alias("syl"),
        F.sum(F.col("x") * F.col("x")).over(w).cast("bigint").alias("sxxl"),
        F.sum(xd * yd).over(w).cast("decimal(38,0)").alias("sxyl"),
        F.sum(yd * yd).over(w).cast("decimal(38,0)").alias("syyl"),
        F.sum("x").over(wall).cast("bigint").alias("sxt"),
        F.sum("y").over(wall).cast("bigint").alias("syt"),
        F.sum(F.col("x") * F.col("x")).over(wall).cast("bigint").alias("sxxt"),
        F.sum(xd * yd).over(wall).cast("decimal(38,0)").alias("sxyt"),
        F.sum(yd * yd).over(wall).cast("decimal(38,0)").alias("syyt"),
    )

    def sse(n, sx, sy, sxx, sxy, syy):
        num = n * sxy - sx * sy
        return syy - sy * sy / n - num * num / (n * (n * sxx - sx * sx))

    nl = F.col("nl").cast("double")
    nr = (F.col("n_days") - F.col("nl")).cast("double")
    sse_l = sse(
        nl,
        F.col("sxl").cast("double"),
        F.col("syl").cast("double"),
        F.col("sxxl").cast("double"),
        F.col("sxyl").cast("double"),
        F.col("syyl").cast("double"),
    )
    sse_r = sse(
        nr,
        (F.col("sxt") - F.col("sxl")).cast("double"),
        (F.col("syt") - F.col("syl")).cast("double"),
        (F.col("sxxt") - F.col("sxxl")).cast("double"),
        (F.col("sxyt").cast("double") - F.col("sxyl").cast("double")),
        (F.col("syyt").cast("double") - F.col("syyl").cast("double")),
    )
    ev = pre.filter(
        (F.col("nl") >= 2) & (F.col("n_days") - F.col("nl") >= 2)
    ).select(
        F.col("day").alias("break_day"),
        F.col("nl").alias("n_left"),
        (F.col("n_days") - F.col("nl")).alias("n_right"),
        (sse_l + sse_r).alias("sse_total"),
    )
    ranked = ev.withColumn(
        "rk",
        F.row_number().over(
            Window.orderBy(F.col("sse_total").asc(), F.col("break_day").asc())
        ),
    )
    return ranked.filter(F.col("rk") == 1).select(
        "break_day", "n_left", "n_right", "sse_total"
    )


@query(
    "events_new_vs_returning",
    oracle="""
    WITH firsts AS (
        SELECT user_id, CAST(date_trunc('day', min(ts)) AS DATE) AS first_day
        FROM events WHERE user_id IS NOT NULL GROUP BY user_id
    ),
    daily AS (
        SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
        FROM events WHERE user_id IS NOT NULL
    )
    SELECT d.day,
           CAST(count(*) AS BIGINT) AS active_users,
           CAST(sum(CASE WHEN d.day = f.first_day THEN 1 ELSE 0 END)
                AS BIGINT) AS new_users,
           CAST(sum(CASE WHEN d.day > f.first_day THEN 1 ELSE 0 END)
                AS BIGINT) AS returning_users,
           CAST(sum(CASE WHEN d.day = f.first_day THEN 1 ELSE 0 END)
                * 1000000 // count(*) AS BIGINT) AS new_share_ppm
    FROM daily d JOIN firsts f ON d.user_id = f.user_id
    GROUP BY d.day ORDER BY d.day
    """,
    tags=("events", "growth", "engagement", "engine-addition"),
)
def events_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users split into NEW vs RETURNING — the growth
    accounting every product review opens with (is usage growing
    from acquisition or retention?): per-user first-seen day joined
    back onto the distinct (user, day) activity grid, counted per
    day with the new-share in integer ppm. first_day comes from the
    data itself (min over the full history — at 100 TB this is the
    incrementally-maintained user dimension, a merge of min
    partials).

    Scale: one user-grain min shuffle, one (user, day) dedup
    shuffle, one user-keyed join (both sides user-partitioned — no
    extra exchange), one day rollup."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    firsts = e.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).cast("date").alias("first_day")
    )
    daily = e.select(
        "user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).distinct()
    joined = daily.join(firsts, "user_id")
    return (
        joined.groupBy("day")
        .agg(
            F.count("*").cast("bigint").alias("active_users"),
            F.sum(F.when(F.col("day") == F.col("first_day"), 1).otherwise(0))
            .cast("bigint")
            .alias("new_users"),
            F.sum(F.when(F.col("day") > F.col("first_day"), 1).otherwise(0))
            .cast("bigint")
            .alias("returning_users"),
        )
        .select(
            "day",
            "active_users",
            "new_users",
            "returning_users",
            F.expr(
                "CAST(new_users * 1000000 div active_users AS BIGINT)"
            ).alias("new_share_ppm"),
        )
        .orderBy("day")
    )


@query(
    "ts_occupancy_profile",
    oracle="""
    WITH iv AS (
        SELECT o_orderdate AS s,
               o_orderdate + to_days(CAST(o_orderkey % 30 + 1 AS INTEGER))
                   AS e
        FROM orders
    ),
    deltas AS (
        SELECT s AS t, CAST(1 AS BIGINT) AS delta FROM iv
        UNION ALL
        SELECT e AS t, CAST(-1 AS BIGINT) AS delta FROM iv
    ),
    sweep AS (
        SELECT t, delta,
               CAST(sum(delta) OVER (ORDER BY t, delta
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS conc,
               lead(t) OVER (ORDER BY t, delta) AS next_t
        FROM deltas
    ),
    spans AS (
        SELECT conc,
               CAST(epoch_us(next_t) - epoch_us(t) AS BIGINT) AS dur_us
        FROM sweep WHERE next_t IS NOT NULL
    )
    SELECT CAST(conc // 100 AS BIGINT) AS conc_band_x100,
           CAST(sum(dur_us) AS BIGINT) AS total_us,
           CAST(count(*) AS BIGINT) AS n_spans
    FROM spans WHERE dur_us > 0
    GROUP BY 1 ORDER BY 1
    """,
    tags=("timeseries", "sweep-line", "occupancy", "engine-addition"),
)
def ts_occupancy_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-in-state occupancy profile — how LONG the system spends
    at each concurrency level (ts_max_concurrency reports the peak;
    capacity planning needs the whole distribution): the same
    +1/-1 sweep, with each sweep step's level weighted by the exact
    microsecond duration until the next event (zero-length spans
    from simultaneous events are dropped — they contribute no time;
    within a simultaneity group only the last ordering matters and
    the half-open end-before-start order pins it). Levels are
    banded by hundreds to keep the profile model-sized.

    Scale: one global sweep sort (per-key in the multi-tenant form),
    lead() rides the same sort, and the profile is a band rollup —
    duration accounting adds nothing to the concurrency sweep's
    cost."""
    o = load_table(spark, sf_dir, "orders")
    iv = o.select(
        F.col("o_orderdate").alias("s"),
        F.expr(
            "o_orderdate + make_interval(0, 0, 0,"
            " CAST(o_orderkey % 30 + 1 AS INT), 0, 0, 0)"
        ).alias("e"),
    )
    deltas = iv.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("s").alias("t"),
                    F.lit(1).cast("bigint").alias("delta"),
                ),
                F.struct(
                    F.col("e").alias("t"),
                    F.lit(-1).cast("bigint").alias("delta"),
                ),
            )
        ).alias("x")
    ).select("x.t", "x.delta")
    wsweep = Window.orderBy("t", "delta")
    sweep = deltas.select(
        "t",
        F.sum("delta")
        .over(wsweep.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
        .alias("conc"),
        F.lead("t").over(wsweep).alias("next_t"),
    )
    spans = sweep.filter(F.col("next_t").isNotNull()).select(
        "conc",
        # orderdate is TIMESTAMP_NTZ; unix_micros needs TIMESTAMP —
        # the UTC session tz makes the cast value-stable
        (
            F.unix_micros(F.col("next_t").cast("timestamp"))
            - F.unix_micros(F.col("t").cast("timestamp"))
        )
        .cast("bigint")
        .alias("dur_us"),
    )
    return (
        spans.filter(F.col("dur_us") > 0)
        .groupBy(F.expr("CAST(conc div 100 AS BIGINT)").alias("conc_band_x100"))
        .agg(
            F.sum("dur_us").cast("bigint").alias("total_us"),
            F.count("*").cast("bigint").alias("n_spans"),
        )
        .orderBy("conc_band_x100")
    )


@query(
    "events_attribution_position",
    oracle="""
    WITH e AS (
        SELECT user_id, ts, event_id, event_type,
               count(CASE WHEN event_type = 'purchase' THEN 1 END)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS journey
        FROM events
        WHERE event_type IN ('view', 'click', 'purchase')
    ),
    j AS (
        SELECT user_id, journey FROM e WHERE event_type = 'purchase'
    ),
    r AS (
        SELECT e.event_type AS channel,
               row_number() OVER (PARTITION BY e.user_id, e.journey
                                  ORDER BY e.ts, e.event_id) AS pos,
               count(*) OVER (PARTITION BY e.user_id, e.journey) AS n
        FROM e JOIN j ON e.user_id = j.user_id AND e.journey = j.journey
        WHERE e.event_type IN ('view', 'click')
    ),
    c AS (
        SELECT channel,
               CASE WHEN n = 1 THEN 1000000
                    WHEN n = 2 THEN 500000
                    WHEN pos = 1 OR pos = n THEN 400000
                    ELSE 200000 // (n - 2)
                         + CASE WHEN pos - 1 <= 200000 % (n - 2)
                                THEN 1 ELSE 0 END
               END AS credit_ppm
        FROM r
    )
    SELECT channel,
           CAST(sum(credit_ppm) AS BIGINT) AS credit_ppm_total,
           CAST(count(*) AS BIGINT) AS n_credits
    FROM c GROUP BY channel ORDER BY channel
    """,
    tags=("attribution", "window", "behavior", "engine-addition"),
)
def events_attribution_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution: each
    purchase's journey is the run of view/click touches since the
    user's previous purchase; credit splits 40% to the first touch,
    40% to the last, and the middle 20% evenly across interior
    touches — apportioned in integer ppm by largest remainder
    (earliest interior touches get the +1s), so every journey's
    credits sum to EXACTLY 1,000,000 and the cross-engine hash is
    exact (completing the attribution family: last-touch,
    time-decay, position). Degenerate journeys: one touch takes the
    full 1e6, two touches split 500k/500k.

    Scale shape: journey segmentation is a running purchase count
    over ONE user_id shuffle; the journey join is an equi-join on
    (user_id, journey) — same key, so AQE coalesces it onto the
    existing partitioning; all credit math is per-row integer
    arithmetic. No join ever sees more than the touch rows."""
    e = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type").isin("view", "click", "purchase"))
        .select(
            "user_id",
            "ts",
            "event_id",
            "event_type",
            F.count(F.when(F.col("event_type") == "purchase", F.lit(1)))
            .over(
                Window.partitionBy("user_id")
                .orderBy("ts", "event_id")
                .rowsBetween(Window.unboundedPreceding, -1)
            )
            .alias("journey"),
        )
    )
    j = e.where(F.col("event_type") == "purchase").select("user_id", "journey")
    r = (
        e.where(F.col("event_type").isin("view", "click"))
        .join(j, ["user_id", "journey"])
        .select(
            F.col("event_type").alias("channel"),
            F.row_number()
            .over(Window.partitionBy("user_id", "journey").orderBy("ts", "event_id"))
            .alias("pos"),
            F.count("*")
            .over(Window.partitionBy("user_id", "journey"))
            .alias("n"),
        )
    )
    c = r.select(
        "channel",
        F.expr(
            """
            CASE WHEN n = 1 THEN 1000000
                 WHEN n = 2 THEN 500000
                 WHEN pos = 1 OR pos = n THEN 400000
                 ELSE 200000 div (n - 2)
                      + CASE WHEN pos - 1 <= 200000 % (n - 2)
                             THEN 1 ELSE 0 END
            END
            """
        ).alias("credit_ppm"),
    )
    return (
        c.groupBy("channel")
        .agg(
            F.sum("credit_ppm").cast("bigint").alias("credit_ppm_total"),
            F.count("*").cast("bigint").alias("n_credits"),
        )
        .orderBy("channel")
    )


@query(
    "ts_holt_linear",
    oracle="""
    WITH RECURSIVE daily AS MATERIALIZED (
        SELECT o_orderpriority AS series, CAST(o_orderdate AS DATE) AS d,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                        AS BIGINT)) AS BIGINT) AS y
        FROM orders
        WHERE CAST(o_orderdate AS DATE) >=
              (SELECT max(CAST(o_orderdate AS DATE)) - INTERVAL 119 DAY
               FROM orders)
        GROUP BY 1, 2
    ),
    seq AS MATERIALIZED (
        SELECT series, y,
               CAST(row_number() OVER (PARTITION BY series ORDER BY d)
                    AS BIGINT) AS rn,
               CAST(count(*) OVER (PARTITION BY series) AS BIGINT) AS n
        FROM daily
    ),
    rec AS (
        SELECT series, rn, n, lvl, tr, sae, mxe FROM (
            SELECT series, rn, n, y AS lvl, CAST(0 AS BIGINT) AS tr,
                   CAST(0 AS BIGINT) AS sae, CAST(0 AS BIGINT) AS mxe
            FROM seq WHERE rn = 1
        )
        UNION ALL
        SELECT s.series, s.rn, s.n,
               (s.y + r.lvl + r.tr) // 2,
               (r.tr + ((s.y + r.lvl + r.tr) // 2 - r.lvl)) // 2,
               r.sae + abs(s.y - r.lvl - r.tr),
               greatest(r.mxe, abs(s.y - r.lvl - r.tr))
        FROM rec r JOIN seq s ON s.series = r.series AND s.rn = r.rn + 1
    )
    SELECT series, n AS n_obs, lvl AS level_cents, tr AS trend_cents,
           lvl + tr AS forecast_cents, sae AS sum_abs_err_cents,
           mxe AS max_abs_err_cents
    FROM rec WHERE rn = n ORDER BY series
    """,
    tags=("timeseries", "forecast", "stateful", "pandas-udf", "engine-addition"),
)
def ts_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend double exponential smoothing (alpha = beta
    = 1/2) over the last 120 days of daily revenue per order
    priority, in EXACT integer cents: level/trend update with
    truncating integer halving (Spark `div` and DuckDB `//` both
    truncate toward zero — probed), so the sequential recursion is
    bit-identical across engines. Emits the fitted terminal state,
    the one-step-ahead forecast, and the in-sample one-step absolute
    error totals — the forecast-quality readout next to
    ts_seasonal_naive_error's baseline.

    This operator is inherently SEQUENTIAL per series (each state
    depends on the previous), so it is the showcase for the custom
    stateful path: Spark runs it as an applyInPandas per-series
    integer loop (Arrow-batched, one shuffle on the series key; state
    is O(1) per series regardless of length), while the oracle walks
    the same recurrence as a recursive CTE. At 100 TB the shuffle
    moves only (series, day, cents) rollup rows — the raw scan
    collapses first, and series process independently so the stage
    parallelizes across every executor."""
    o = load_table(spark, sf_dir, "orders")
    anchor = o.agg(
        F.date_sub(F.max(F.to_date("o_orderdate")), 119).alias("lo")
    )
    daily = (
        o.crossJoin(F.broadcast(anchor))
        .where(F.to_date("o_orderdate") >= F.col("lo"))
        .groupBy(
            F.col("o_orderpriority").alias("series"),
            F.to_date("o_orderdate").alias("d"),
        )
        .agg(
            F.sum(
                (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
            )
            .cast("bigint")
            .alias("y")
        )
    )

    def holt(pdf):
        import pandas as pd

        pdf = pdf.sort_values("d")
        ys = [int(v) for v in pdf["y"]]

        def tdiv2(a: int) -> int:
            return a // 2 if a >= 0 else -((-a) // 2)

        lvl, tr, sae, mxe = ys[0], 0, 0, 0
        for y in ys[1:]:
            pred = lvl + tr
            err = abs(y - pred)
            sae += err
            mxe = max(mxe, err)
            new_lvl = tdiv2(y + pred)
            tr = tdiv2(tr + (new_lvl - lvl))
            lvl = new_lvl
        return pd.DataFrame(
            {
                "series": [pdf["series"].iloc[0]],
                "n_obs": [len(ys)],
                "level_cents": [lvl],
                "trend_cents": [tr],
                "forecast_cents": [lvl + tr],
                "sum_abs_err_cents": [sae],
                "max_abs_err_cents": [mxe],
            }
        )

    schema = (
        "series string, n_obs bigint, level_cents bigint, trend_cents bigint,"
        " forecast_cents bigint, sum_abs_err_cents bigint,"
        " max_abs_err_cents bigint"
    )
    return daily.groupBy("series").applyInPandas(holt, schema).orderBy("series")


@query(
    "ts_bollinger_breakouts",
    oracle="""
    WITH daily AS (
        SELECT o_orderpriority AS series, CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                        AS BIGINT)) AS BIGINT) AS cents
        FROM orders GROUP BY 1, 2
    ),
    mom AS (
        SELECT series, day, cents,
               row_number() OVER w AS rn,
               CAST(sum(cents) OVER (w ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
                    AS BIGINT) AS s,
               CAST(sum(CAST(cents AS DECIMAL(19,0))
                        * CAST(cents AS DECIMAL(19,0)))
                    OVER (w ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
                    AS DECIMAL(38,0)) AS q
        FROM daily
        WINDOW w AS (PARTITION BY series ORDER BY day)
    ),
    t AS (
        SELECT series, day, cents,
               CAST(7 * cents - s AS BIGINT) AS dev7x,
               CAST(7 * q - CAST(s AS DECIMAL(19,0)) * CAST(s AS DECIMAL(19,0))
                    AS DECIMAL(38,0)) AS var49x
        FROM mom WHERE rn >= 8
    )
    SELECT series, day, cents, dev7x,
           CAST(CAST(var49x AS VARCHAR) AS DOUBLE) AS var49x,
           dev7x > 0 AND CAST(dev7x AS DECIMAL(19,0))
                         * CAST(dev7x AS DECIMAL(19,0)) > 4 * var49x
               AS breakout_up,
           dev7x < 0 AND CAST(dev7x AS DECIMAL(19,0))
                         * CAST(dev7x AS DECIMAL(19,0)) > 4 * var49x
               AS breakout_down
    FROM t ORDER BY series, day
    """,
    tags=("timeseries", "anomaly", "bollinger", "engine-addition"),
)
def ts_bollinger_breakouts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger-band breakouts (today's revenue vs trailing-7-day
    mean ± 2σ) decided in EXACT arithmetic: |x - mean| > 2σ is
    algebraically (7x - S)² > 4·(7Q - S²) over the trailing frame's
    integer sum S and decimal(38,0) square-sum Q — no sqrt, no float
    mean, no threshold that two engines could round differently.
    The band width itself ships as var49x (49·σ², re-read through
    the decimal→VARCHAR→double route both engines share); the
    FLAGS — the operational output — are pure integer comparisons,
    so the cross-engine hash is exact where every float Bollinger
    implementation is 1-ulp fragile. Trailing frame excludes the
    current day (a breakout is judged against yesterday's band) and
    warmup rows with partial frames are suppressed.

    Scale: the scan collapses to |series|x|days| daily rows in one
    map-side aggregate; both window sums share one per-series sort."""
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderpriority").alias("series"),
            F.to_date("o_orderdate").alias("day"),
        )
        .agg(
            F.sum(
                (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
            )
            .cast("bigint")
            .alias("cents")
        )
    )
    w = Window.partitionBy("series").orderBy("day")
    wf = w.rowsBetween(-7, -1)
    mom = daily.select(
        "series",
        "day",
        "cents",
        F.row_number().over(w).alias("rn"),
        F.sum("cents").over(wf).cast("bigint").alias("s"),
        F.sum(
            F.col("cents").cast("decimal(19,0)") * F.col("cents").cast("decimal(19,0)")
        )
        .over(wf)
        .cast("decimal(38,0)")
        .alias("q"),
    )
    t = mom.where(F.col("rn") >= 8).select(
        "series",
        "day",
        "cents",
        (7 * F.col("cents") - F.col("s")).cast("bigint").alias("dev7x"),
        F.expr(
            "CAST(7 * q - CAST(s AS DECIMAL(19,0)) * CAST(s AS DECIMAL(19,0))"
            " AS DECIMAL(38,0))"
        ).alias("var49x"),
    )
    d2 = F.expr("CAST(dev7x AS DECIMAL(19,0)) * CAST(dev7x AS DECIMAL(19,0))")
    return t.select(
        "series",
        "day",
        "cents",
        "dev7x",
        F.expr("CAST(CAST(var49x AS STRING) AS DOUBLE)").alias("var49x"),
        ((F.col("dev7x") > 0) & (d2 > 4 * F.col("var49x"))).alias("breakout_up"),
        ((F.col("dev7x") < 0) & (d2 > 4 * F.col("var49x"))).alias("breakout_down"),
    ).orderBy("series", "day")


_DP_MAX_LAG = 14


@query(
    "ts_dominant_period",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ),
    stats AS (
        SELECT event_type, x,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
                   AS idx,
               CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
               CAST(sum(x) OVER (PARTITION BY event_type) AS BIGINT) AS s
        FROM daily
    ),
    den AS (
        SELECT event_type, n AS n_days,
               CAST(sum((n * x - s) * (n * x - s)) AS BIGINT) AS den
        FROM stats GROUP BY 1, 2
    ),
    nums AS (
        SELECT a.event_type, l.lag,
               CAST(sum((a.n * a.x - a.s) * (b.n * b.x - b.s))
                    AS BIGINT) AS num
        FROM stats a
        JOIN (SELECT * FROM range(1, {_DP_MAX_LAG} + 1)) AS l(lag)
             ON 1 = 1
        JOIN stats b ON b.event_type = a.event_type
                    AND b.idx = a.idx + l.lag
        GROUP BY 1, 2
    ),
    acfs AS (
        SELECT n.event_type, CAST(n.lag AS BIGINT) AS lag, d.n_days,
               n.num, d.den,
               CAST(n.num AS DOUBLE) / CAST(d.den AS DOUBLE) AS acf,
               ROW_NUMBER() OVER (
                   PARTITION BY n.event_type
                   ORDER BY CAST(n.num AS DOUBLE) / CAST(d.den AS DOUBLE)
                            DESC, n.lag) AS rk
        FROM nums n JOIN den d ON d.event_type = n.event_type
    )
    SELECT event_type, lag, n_days, num, den, acf
    FROM acfs WHERE rk = 1
    ORDER BY event_type
    """,
    tags=("timeseries", "seasonality", "period-detection",
          "engine-addition"),
)
def ts_dominant_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant-period detection per event type: the lag in 1..14
    (observed-day steps) maximizing the exact sample autocorrelation
    — the step a forecasting pipeline runs to CHOOSE the seasonal
    period ts_seasonal_index_dow / ts_seasonal_naive_error then
    assume. Extends ts_autocorr_exact's n²-scaled integer identity
    from 3 fixed lags to an argmax over 14, computed via a bounded
    self-join on the day index instead of 14 lead columns; the only
    floats are the final num/den divisions (identical bit patterns
    both engines), and the argmax breaks ties toward the shorter lag.

    Scale shape: the fact scan collapses to |types| x |days| rows;
    the lag expansion is a 14-way bounded self-join on the series
    table partitioned by series key; argmax is a per-key window on
    14 rows — the per-series-diagnostic shape at any corpus size."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    )
    wp = Window.partitionBy("event_type")
    # staged (r10 shuffle sweep): stats feeds the denominator, and
    # BOTH sides of the lag self-join — unstaged, the daily aggregate
    # + window pipeline (events scan included) ran three times
    stats = materialize(
        daily.select(
            "event_type",
            "x",
            F.row_number().over(wp.orderBy("day")).alias("idx"),
            F.count(F.lit(1)).over(wp).cast("bigint").alias("n"),
            F.sum("x").over(wp).cast("bigint").alias("s"),
        )
    )
    dev = F.col("n") * F.col("x") - F.col("s")
    den = stats.groupBy("event_type", F.col("n").alias("n_days")).agg(
        F.sum(dev * dev).cast("bigint").alias("den")
    )
    lags = spark.range(1, _DP_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    b = stats.select(
        F.col("event_type").alias("bet"),
        F.col("idx").alias("bidx"),
        (F.col("n") * F.col("x") - F.col("s")).alias("bdev"),
    )
    nums = (
        stats.crossJoin(F.broadcast(lags))
        .join(
            b,
            (F.col("bet") == F.col("event_type"))
            & (F.col("bidx") == F.col("idx") + F.col("lag")),
        )
        .groupBy("event_type", "lag")
        .agg(F.sum(dev * F.col("bdev")).cast("bigint").alias("num"))
    )
    acf = (F.col("num").cast("double") / F.col("den").cast("double")).alias(
        "acf"
    )
    acfs = nums.join(den, "event_type").select(
        "event_type",
        F.col("lag").cast("bigint").alias("lag"),
        "n_days",
        "num",
        "den",
        acf,
    )
    rk = F.row_number().over(
        Window.partitionBy("event_type").orderBy(
            F.col("acf").desc(), F.col("lag")
        )
    )
    return (
        acfs.select("*", rk.alias("rk"))
        .filter(F.col("rk") == 1)
        .drop("rk")
        .orderBy("event_type")
    )


_LTTB_BUCKET_H = 6


@query(
    "ts_downsample_lttb",
    oracle=f"""
    WITH hourly AS (
        SELECT event_type,
               CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS h,
               CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1, 2
    ),
    pts AS (
        SELECT event_type, h, y, h // {_LTTB_BUCKET_H} AS b FROM hourly
    ),
    bmeans AS (
        SELECT event_type, b,
               CAST(SUM(h) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM pts GROUP BY 1, 2
    ),
    anchors AS (
        SELECT event_type, b,
               lag(sx) OVER w AS sxl, lag(sy) OVER w AS syl,
               lag(n) OVER w AS nl,
               lead(sx) OVER w AS sxr, lead(sy) OVER w AS syr,
               lead(n) OVER w AS nr
        FROM bmeans
        WINDOW w AS (PARTITION BY event_type ORDER BY b)
    ),
    scored AS (
        SELECT p.event_type, p.b, p.h, p.y,
               CASE WHEN a.nl IS NULL OR a.nr IS NULL THEN NULL
                    ELSE ABS((a.sxl * a.nr - a.sxr * a.nl)
                             * (p.y * a.nl - a.syl)
                             - (a.sxl - p.h * a.nl)
                             * (a.syr * a.nl - a.syl * a.nr))
               END AS area2,
               CASE WHEN a.nl IS NULL THEN p.h
                    WHEN a.nr IS NULL THEN -p.h
                    ELSE -ABS((a.sxl * a.nr - a.sxr * a.nl)
                              * (p.y * a.nl - a.syl)
                              - (a.sxl - p.h * a.nl)
                              * (a.syr * a.nl - a.syl * a.nr))
               END AS rank_key
        FROM pts p JOIN anchors a
             ON a.event_type = p.event_type AND a.b = p.b
    ),
    picked AS (
        SELECT event_type, b, h, y,
               CAST(COALESCE(area2, -1) AS BIGINT) AS area2,
               ROW_NUMBER() OVER (PARTITION BY event_type, b
                                  ORDER BY rank_key, h) AS rk
        FROM scored
    )
    SELECT event_type, CAST(b AS BIGINT) AS bucket, h, y, area2
    FROM picked WHERE rk = 1
    ORDER BY event_type, bucket
    """,
    tags=("timeseries", "downsampling", "lttb", "engine-addition"),
)
def ts_downsample_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LTTB (largest-triangle-three-buckets) downsampling of each
    event type's hourly series — the perceptual downsampler
    dashboards use when M4 (ts_m4_downsample) keeps too little shape:
    per {_LTTB_BUCKET_H}-hour bucket, keep the point forming the
    largest triangle with the NEIGHBOR BUCKET MEANS (the fixed-anchor
    LTTB variant — the classic algorithm anchors on the previously
    selected point, a sequential dependency; fixed anchors keep the
    selection embarrassingly parallel and measurably close).

    Exactness: triangle areas are compared after clearing the anchor
    means' denominators — within a bucket the common positive factor
    nl²·nr cancels, so the scaled integer |cross product| preserves
    the argmax exactly; edge buckets (no left/right anchor) keep the
    series' first/last point by rule. No float enters any comparison.

    Scale shape: the fact scan collapses to hours; bucket means +
    lag/lead run on the bucket frame; the pick is a per-(series,
    bucket) window — per-series-diagnostic shape, co-partitioned
    throughout."""
    hourly = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.expr(
                "CAST(unix_timestamp(date_trunc('hour', ts)) AS BIGINT)"
                " div 3600"
            ).alias("h"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    )
    pts = hourly.select(
        "event_type", "h", "y", F.expr(f"h div {_LTTB_BUCKET_H}").alias("b")
    )
    bmeans = pts.groupBy("event_type", "b").agg(
        F.sum("h").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    w = Window.partitionBy("event_type").orderBy("b")
    anchors = bmeans.select(
        "event_type",
        "b",
        F.lag("sx").over(w).alias("sxl"),
        F.lag("sy").over(w).alias("syl"),
        F.lag("n").over(w).alias("nl"),
        F.lead("sx").over(w).alias("sxr"),
        F.lead("sy").over(w).alias("syr"),
        F.lead("n").over(w).alias("nr"),
    )
    area = F.abs(
        (F.col("sxl") * F.col("nr") - F.col("sxr") * F.col("nl"))
        * (F.col("y") * F.col("nl") - F.col("syl"))
        - (F.col("sxl") - F.col("h") * F.col("nl"))
        * (F.col("syr") * F.col("nl") - F.col("syl") * F.col("nr"))
    )
    edge = F.col("nl").isNull() | F.col("nr").isNull()
    scored = pts.join(anchors, ["event_type", "b"]).select(
        "event_type", "b", "h", "y",
        F.when(edge, F.lit(None).cast("long")).otherwise(area).alias("area2"),
        F.when(F.col("nl").isNull(), F.col("h"))
        .when(F.col("nr").isNull(), -F.col("h"))
        .otherwise(-area)
        .alias("rank_key"),
    )
    rk = F.row_number().over(
        Window.partitionBy("event_type", "b").orderBy("rank_key", "h")
    )
    return (
        scored.select(
            "event_type",
            F.col("b").cast("bigint").alias("bucket"),
            "h",
            "y",
            F.coalesce("area2", F.lit(-1)).cast("bigint").alias("area2"),
            rk.alias("rk"),
        )
        .filter(F.col("rk") == 1)
        .drop("rk")
        .orderBy("event_type", "bucket")
    )


_VEL_WINDOW_US = 600_000_000  # trailing 10 minutes
# Threshold 2 (not 5): the synthetic stream's peak trailing-10-min
# count is 3 at sf0.01, so any higher bar returns the degenerate
# empty frame at driver scale — a hash match that verifies nothing.
_VEL_THRESHOLD = 2


@query(
    "events_velocity_flags",
    oracle=f"""
    WITH counted AS (
        SELECT user_id,
               count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                              RANGE BETWEEN {_VEL_WINDOW_US} PRECEDING
                              AND CURRENT ROW) AS cnt
        FROM events
    ),
    per_user AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(MAX(cnt) AS BIGINT) AS peak_count
        FROM counted GROUP BY 1
    )
    SELECT user_id, n_events, peak_count
    FROM per_user
    WHERE peak_count >= {_VEL_THRESHOLD}
    ORDER BY peak_count DESC, user_id
    LIMIT 100
    """,
    tags=("events", "risk-rules", "velocity", "engine-addition"),
)
def events_velocity_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Velocity risk rule — the fraud/abuse primitive: flag users
    whose trailing-10-minute event count ever reached
    {_VEL_THRESHOLD}, reporting each flagged user's lifetime volume
    and peak burst. The trailing count is a RANGE frame over exact
    epoch microseconds (time-based, not row-based, so simultaneous
    events are frame PEERS — the count is order-independent and
    engine-independent even under timestamp ties).

    Scale shape: one shuffle on user_id; the range window and the
    per-user max are local to each user's partition; the final
    report is TakeOrderedAndProject(100), never a global sort."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-_VEL_WINDOW_US, 0)
    )
    counted = e.select(
        "user_id", F.count(F.lit(1)).over(w).alias("cnt")
    )
    per_user = counted.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max("cnt").cast("bigint").alias("peak_count"),
    )
    return (
        per_user.filter(F.col("peak_count") >= _VEL_THRESHOLD)
        .orderBy(F.col("peak_count").desc(), "user_id")
        .limit(100)
    )


_DUP_WINDOW_US = 600_000_000  # 10 minutes


@query(
    "events_duplicate_submissions",
    oracle=f"""
    WITH e AS (
        SELECT event_id, user_id, event_type, epoch_us(ts) AS us
        FROM events
    ),
    pairs AS (
        SELECT a.user_id, a.event_type, b.us - a.us AS gap_us
        FROM e a JOIN e b
          ON b.user_id = a.user_id AND b.event_type = a.event_type
         AND (b.us > a.us OR (b.us = a.us AND b.event_id > a.event_id))
         AND b.us - a.us <= {_DUP_WINDOW_US}
    )
    SELECT user_id, event_type,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(min(gap_us) AS BIGINT) AS min_gap_us,
           CAST(max(gap_us) AS BIGINT) AS max_gap_us
    FROM pairs
    GROUP BY 1, 2
    ORDER BY n_pairs DESC, user_id, event_type
    LIMIT 100
    """,
    tags=("events", "risk-rules", "duplicate-detection", "engine-addition"),
)
def events_duplicate_submissions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-submission audit — the double-click / retry-storm
    primitive next to events_velocity_flags: every ORDERED pair of
    same-user same-type events within 10 minutes, summarized per
    (user, type) as pair count and min/max gap in exact microseconds.
    Ties in time are ordered by event_id so each unordered pair
    counts exactly once.

    Scale shape: the oracle states the inequality join directly; the
    Spark plan BUCKETIZES it — each event probes its own 10-minute
    bucket and the next (explode x2), turning the range join into an
    equi-join on (user, type, bucket) that hash-partitions cleanly
    (same rewrite as join_range_bucketized). Candidate fan-out is
    2 rows/event; the residual gap predicate filters inside the
    join."""
    e = load_table(spark, sf_dir, "events").selectExpr(
        "event_id", "user_id", "event_type", "unix_micros(ts) AS us"
    )
    right = e.selectExpr(
        "user_id", "event_type", "event_id AS b_id", "us AS b_us",
        f"b_us div {_DUP_WINDOW_US} AS bk",
    )
    left = e.selectExpr(
        "user_id", "event_type", "event_id AS a_id", "us AS a_us",
        # reference `us`, not the lateral alias `a_us`: a lateral
        # column alias inside a generator hits Spark's
        # "Resolved plan should not contain any
        # LateralColumnAliasReference" internal error
        f"explode(array(us div {_DUP_WINDOW_US},"
        f" us div {_DUP_WINDOW_US} + 1)) AS bk",
    )
    pairs = left.join(right, ["user_id", "event_type", "bk"]).where(
        (
            (F.col("b_us") > F.col("a_us"))
            | ((F.col("b_us") == F.col("a_us")) & (F.col("b_id") > F.col("a_id")))
        )
        & (F.col("b_us") - F.col("a_us") <= _DUP_WINDOW_US)
    )
    return (
        pairs.groupBy("user_id", "event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.min(F.col("b_us") - F.col("a_us")).cast("bigint").alias("min_gap_us"),
            F.max(F.col("b_us") - F.col("a_us")).cast("bigint").alias("max_gap_us"),
        )
        .orderBy(F.desc("n_pairs"), "user_id", "event_type")
        .limit(100)
    )


@query(
    "ts_peak_detection",
    oracle="""
    WITH hourly AS (
        SELECT event_type,
               CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS h,
               CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1, 2
    ),
    ctx AS (
        SELECT event_type, h, y,
               lag(y) OVER w AS y_prev, lead(y) OVER w AS y_next,
               CAST(sum(y) OVER (PARTITION BY event_type) AS BIGINT)
                   AS total,
               CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
                   AS n_hours
        FROM hourly
        WINDOW w AS (PARTITION BY event_type ORDER BY h)
    )
    SELECT event_type, h, y, y_prev, y_next,
           CAST(y * n_hours * 1000000 // total AS BIGINT)
               AS height_vs_mean_ppm
    FROM ctx
    WHERE y_prev IS NOT NULL AND y_next IS NOT NULL
      AND y > y_prev AND y > y_next
      AND 4 * y * n_hours >= 5 * total
    ORDER BY event_type, h
    """,
    tags=("timeseries", "peak-detection", "monitoring", "engine-addition"),
)
def ts_peak_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak detection on each event type's hourly series — the
    monitoring primitive feeding alert review: an hour is a peak when
    it is STRICTLY higher than both neighbors (series-edge hours have
    no neighbor and never qualify) and at least 1.25x the series'
    hourly mean, stated as the integer cross-multiplication
    4*y*n_hours >= 5*total so no division enters the predicate.
    Reported height is y/mean in integer ppm.

    Scale shape: the fact scan collapses to (series, hour) counts;
    lag/lead and the per-series totals run in one partitioned window
    pass over the hourly table — co-partitioned with every other
    per-series diagnostic."""
    hourly = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.expr(
                "CAST(unix_timestamp(date_trunc('hour', ts)) AS BIGINT)"
                " div 3600"
            ).alias("h"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    )
    w = Window.partitionBy("event_type").orderBy("h")
    wall = Window.partitionBy("event_type")
    ctx = hourly.select(
        "event_type", "h", "y",
        F.lag("y").over(w).alias("y_prev"),
        F.lead("y").over(w).alias("y_next"),
        F.sum("y").over(wall).cast("bigint").alias("total"),
        F.count(F.lit(1)).over(wall).cast("bigint").alias("n_hours"),
    )
    return (
        ctx.where(
            F.col("y_prev").isNotNull()
            & F.col("y_next").isNotNull()
            & (F.col("y") > F.col("y_prev"))
            & (F.col("y") > F.col("y_next"))
            & (4 * F.col("y") * F.col("n_hours") >= 5 * F.col("total"))
        )
        .selectExpr(
            "event_type", "h", "y", "y_prev", "y_next",
            "CAST(y * n_hours * 1000000 div total AS BIGINT)"
            " AS height_vs_mean_ppm",
        )
        .orderBy("event_type", "h")
    )


@query(
    "events_bot_regularity",
    oracle="""
    WITH g AS (
        SELECT user_id,
               epoch_us(ts) - lag(epoch_us(ts))
                   OVER (PARTITION BY user_id
                         ORDER BY epoch_us(ts), event_id) AS gap
        FROM events
    ),
    agg AS (
        SELECT user_id,
               CAST(count(gap) AS HUGEINT) AS n_gaps,
               CAST(sum(gap) AS HUGEINT) AS sg,
               sum(CAST(gap AS HUGEINT) * CAST(gap AS HUGEINT)) AS sg2
        FROM g GROUP BY 1
        HAVING count(gap) >= 3
    )
    SELECT user_id,
           CAST(n_gaps AS BIGINT) AS n_gaps,
           CAST(sg // n_gaps AS BIGINT) AS mean_gap_us,
           CAST((n_gaps * sg2 - sg * sg) * 1000000 // (sg * sg)
                AS BIGINT) AS cv2_ppm,
           CAST(CASE WHEN 25 * (n_gaps * sg2 - sg * sg) <= sg * sg
                     THEN 1 ELSE 0 END AS BIGINT) AS is_regular
    FROM agg
    ORDER BY cv2_ppm, user_id
    LIMIT 50
    """,
    tags=("events", "risk-rules", "bot-detection", "engine-addition"),
)
def events_bot_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot-regularity screen — the complement of
    events_velocity_flags: humans are bursty, schedulers are
    metronomes. Per user (>= 3 inter-arrival gaps): the squared
    coefficient of variation of the gaps, computed EXACTLY as
    cv^2 = (n*sum(g^2) - sum(g)^2) / sum(g)^2 in integer microsecond
    arithmetic (decimal(38,0)/HUGEINT — a 30-day gap squared
    overflows int64), reported in ppm with the flag stated as the
    division-free cross-multiplication 25*var_num <= sg^2
    (cv <= 0.2). Timestamp ties are ordered by event_id so the gap
    sequence is deterministic. The 50 most-regular users surface
    for review.

    Scale shape: one shuffle on user_id; the lag window and the
    moment aggregate are local to each user's partition; the report
    is TakeOrderedAndProject(50)."""
    e = load_table(spark, sf_dir, "events").selectExpr(
        "user_id", "event_id", "unix_micros(ts) AS us"
    )
    wu = Window.partitionBy("user_id").orderBy("us", "event_id")
    g = e.select(
        "user_id", (F.col("us") - F.lag("us").over(wu)).alias("gap")
    )
    d38 = "decimal(38,0)"
    agg = (
        g.groupBy("user_id")
        .agg(
            F.expr(f"CAST(count(gap) AS {d38})").alias("n_gaps"),
            F.expr(f"CAST(sum(gap) AS {d38})").alias("sg"),
            F.expr(
                f"sum(CAST(gap AS {d38}) * CAST(gap AS {d38}))"
            ).alias("sg2"),
        )
        .where(F.col("n_gaps") >= 3)
    )
    return (
        agg.selectExpr(
            "user_id",
            "CAST(n_gaps AS BIGINT) AS n_gaps",
            "CAST(sg div n_gaps AS BIGINT) AS mean_gap_us",
            "CAST((n_gaps * sg2 - sg * sg) * 1000000 div (sg * sg)"
            " AS BIGINT) AS cv2_ppm",
            "CAST(CASE WHEN 25 * (n_gaps * sg2 - sg * sg) <= sg * sg"
            " THEN 1 ELSE 0 END AS BIGINT) AS is_regular",
        )
        .orderBy("cv2_ppm", "user_id")
        .limit(50)
    )


@query(
    "ts_holt_winters_additive",
    oracle="""
    WITH RECURSIVE daily AS MATERIALIZED (
        SELECT o_orderpriority AS series, CAST(o_orderdate AS DATE) AS d,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                        AS BIGINT)) AS BIGINT) AS y
        FROM orders
        WHERE CAST(o_orderdate AS DATE) >=
              (SELECT max(CAST(o_orderdate AS DATE)) - INTERVAL 119 DAY
               FROM orders)
        GROUP BY 1, 2
    ),
    seq AS MATERIALIZED (
        SELECT series, y,
               CAST(row_number() OVER (PARTITION BY series ORDER BY d)
                    AS BIGINT) AS rn,
               CAST(count(*) OVER (PARTITION BY series) AS BIGINT) AS n
        FROM daily
    ),
    rec AS (
        SELECT series, rn, n, y AS lvl,
               [CAST(0 AS BIGINT), 0, 0, 0, 0, 0, 0] AS s,
               CAST(0 AS BIGINT) AS sae, CAST(0 AS BIGINT) AS mxe
        FROM seq WHERE rn = 1
        UNION ALL
        SELECT q.series, q.rn, q.n,
               (q.y - r.s[((q.rn - 1) % 7) + 1] + r.lvl) // 2,
               r.s[1:((q.rn - 1) % 7) + 1 - 1]
                 || [(q.y - ((q.y - r.s[((q.rn - 1) % 7) + 1] + r.lvl) // 2)
                      + r.s[((q.rn - 1) % 7) + 1]) // 2]
                 || r.s[((q.rn - 1) % 7) + 1 + 1:7],
               r.sae + abs(q.y - r.lvl - r.s[((q.rn - 1) % 7) + 1]),
               greatest(r.mxe,
                        abs(q.y - r.lvl - r.s[((q.rn - 1) % 7) + 1]))
        FROM rec r JOIN seq q ON q.series = r.series AND q.rn = r.rn + 1
    )
    SELECT series, n AS n_obs, lvl AS level_cents,
           lvl + s[(n % 7) + 1] AS forecast_cents,
           sae AS sum_abs_err_cents, mxe AS max_abs_err_cents,
           s[1] AS s1, s[2] AS s2, s[3] AS s3, s[4] AS s4,
           s[5] AS s5, s[6] AS s6, s[7] AS s7
    FROM rec WHERE rn = n ORDER BY series
    """,
    tags=("timeseries", "forecast", "seasonal", "stateful", "pandas-udf",
          "engine-addition"),
)
def ts_holt_winters_additive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters ADDITIVE seasonal smoothing (alpha = gamma = 1/2,
    period 7, no trend) over the last 120 days of daily revenue per
    order priority — the seasonal upgrade of ts_holt_linear: the
    state is (level, 7 seasonal offsets); each day updates the level
    against the day-of-week offset and the offset against the new
    level, all in exact integer cents with truncating halving (Spark
    div and DuckDB // both truncate toward zero — re-probed:
    -7//2 = -3). Emits the terminal level, the one-step-ahead
    forecast (level + next slot's offset), the in-sample one-step
    error totals, and the full seasonal profile s1..s7.

    Same stateful-operator showcase as ts_holt_linear: Spark runs
    the per-series recurrence as an applyInPandas integer loop
    (O(1 + m) state, one shuffle on the series key, series
    parallelize across executors), the oracle as a recursive CTE
    carrying the seasonal LIST and rebuilding it by slice-concat
    each step."""
    o = load_table(spark, sf_dir, "orders")
    anchor = o.agg(
        F.date_sub(F.max(F.to_date("o_orderdate")), 119).alias("lo")
    )
    daily = (
        o.crossJoin(F.broadcast(anchor))
        .where(F.to_date("o_orderdate") >= F.col("lo"))
        .groupBy(
            F.col("o_orderpriority").alias("series"),
            F.to_date("o_orderdate").alias("d"),
        )
        .agg(
            F.sum(
                (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast(
                    "bigint"
                )
            )
            .cast("bigint")
            .alias("y")
        )
    )

    def hw(pdf):
        import pandas as pd

        pdf = pdf.sort_values("d")
        ys = [int(v) for v in pdf["y"]]

        def tdiv2(a: int) -> int:
            return a // 2 if a >= 0 else -((-a) // 2)

        lvl, s, sae, mxe = ys[0], [0] * 7, 0, 0
        for rn, y in enumerate(ys[1:], start=2):
            slot = (rn - 1) % 7  # 0-based
            err = abs(y - lvl - s[slot])
            sae += err
            mxe = max(mxe, err)
            new_lvl = tdiv2(y - s[slot] + lvl)
            s[slot] = tdiv2(y - new_lvl + s[slot])
            lvl = new_lvl
        n = len(ys)
        return pd.DataFrame(
            {
                "series": [pdf["series"].iloc[0]],
                "n_obs": [n],
                "level_cents": [lvl],
                "forecast_cents": [lvl + s[n % 7]],
                "sum_abs_err_cents": [sae],
                "max_abs_err_cents": [mxe],
                **{f"s{i + 1}": [s[i]] for i in range(7)},
            }
        )

    schema = (
        "series string, n_obs bigint, level_cents bigint,"
        " forecast_cents bigint, sum_abs_err_cents bigint,"
        " max_abs_err_cents bigint, s1 bigint, s2 bigint, s3 bigint,"
        " s4 bigint, s5 bigint, s6 bigint, s7 bigint"
    )
    return daily.groupBy("series").applyInPandas(hw, schema).orderBy("series")


@query(
    "ts_spc_western_electric",
    oracle="""
    WITH hourly AS (
        SELECT event_type,
               CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS h,
               CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1, 2
    ),
    stats AS (
        SELECT event_type, h, y,
               CAST(count(*) OVER w AS BIGINT) AS n,
               CAST(sum(y) OVER w AS BIGINT) AS sy,
               CAST(sum(y * y) OVER w AS BIGINT) AS syy
        FROM hourly
        WINDOW w AS (PARTITION BY event_type)
    ),
    dev AS (
        SELECT event_type, h, y,
               n * y - sy AS d,
               n * syy - sy * sy AS var_n2
        FROM stats
    ),
    flags AS (
        SELECT event_type, h, y,
               CASE WHEN d * d > 9 * var_n2 THEN 1 ELSE 0 END AS beyond3,
               CASE WHEN d * d > 4 * var_n2 AND d > 0 THEN 1 ELSE 0 END
                   AS b2_up,
               CASE WHEN d * d > 4 * var_n2 AND d < 0 THEN 1 ELSE 0 END
                   AS b2_dn,
               CASE WHEN d > 0 THEN 1 ELSE 0 END AS up,
               CASE WHEN d < 0 THEN 1 ELSE 0 END AS dn
        FROM dev
    ),
    runs AS (
        SELECT event_type, h, y, beyond3,
               CASE WHEN sum(b2_up) OVER w3 >= 2
                      OR sum(b2_dn) OVER w3 >= 2 THEN 1 ELSE 0 END AS rule2,
               CASE WHEN sum(up) OVER w9 = 9
                      OR sum(dn) OVER w9 = 9 THEN 1 ELSE 0 END AS rule4
        FROM flags
        WINDOW w3 AS (PARTITION BY event_type ORDER BY h
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
               w9 AS (PARTITION BY event_type ORDER BY h
                      ROWS BETWEEN 8 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, h, y,
           CAST(beyond3 AS BIGINT) AS rule1_beyond_3sigma,
           CAST(rule2 AS BIGINT) AS rule2_two_of_three_2sigma,
           CAST(rule4 AS BIGINT) AS rule4_nine_one_side
    FROM runs
    WHERE beyond3 = 1 OR rule2 = 1 OR rule4 = 1
    ORDER BY event_type, h
    """,
    tags=("timeseries", "spc", "control-chart", "monitoring",
          "engine-addition"),
)
def ts_spc_western_electric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Western Electric control-chart rules on each event type's
    hourly series — the SPC (statistical process control) monitor:
    rule 1 = a point beyond 3 sigma, rule 2 = two of the last three
    beyond 2 sigma on the SAME side, rule 4 = nine consecutive on one
    side of the mean. Every sigma comparison is division- and
    sqrt-free: with d = n*y - sum(y) and var_n2 = n*sum(y^2) -
    sum(y)^2 (both exact integers), |y - mean| > k*sigma is exactly
    d^2 > k^2 * var_n2. Points equal to the mean (d = 0) count for
    neither side, matching the classic rule statement.

    Scale shape: the fact scan collapses to (series, hour); the
    per-series stats and both short ROWS frames run in one
    partitioned window pass — no global window, co-partitioned with
    the other per-series diagnostics."""
    hourly = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.expr(
                "CAST(unix_timestamp(date_trunc('hour', ts)) AS BIGINT)"
                " div 3600"
            ).alias("h"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    )
    wall = Window.partitionBy("event_type")
    stats = hourly.select(
        "event_type", "h", "y",
        F.count(F.lit(1)).over(wall).cast("bigint").alias("n"),
        F.sum("y").over(wall).cast("bigint").alias("sy"),
        F.sum(F.col("y") * F.col("y")).over(wall).cast("bigint").alias("syy"),
    )
    dev = stats.selectExpr(
        "event_type", "h", "y",
        "n * y - sy AS d",
        "n * syy - sy * sy AS var_n2",
    )
    flags = dev.selectExpr(
        "event_type", "h", "y",
        "CASE WHEN d * d > 9 * var_n2 THEN 1 ELSE 0 END AS beyond3",
        "CASE WHEN d * d > 4 * var_n2 AND d > 0 THEN 1 ELSE 0 END AS b2_up",
        "CASE WHEN d * d > 4 * var_n2 AND d < 0 THEN 1 ELSE 0 END AS b2_dn",
        "CASE WHEN d > 0 THEN 1 ELSE 0 END AS up",
        "CASE WHEN d < 0 THEN 1 ELSE 0 END AS dn",
    )
    w3 = Window.partitionBy("event_type").orderBy("h").rowsBetween(-2, 0)
    w9 = Window.partitionBy("event_type").orderBy("h").rowsBetween(-8, 0)
    runs = flags.select(
        "event_type", "h", "y", "beyond3",
        F.when(
            (F.sum("b2_up").over(w3) >= 2) | (F.sum("b2_dn").over(w3) >= 2), 1
        ).otherwise(0).alias("rule2"),
        F.when(
            (F.sum("up").over(w9) == 9) | (F.sum("dn").over(w9) == 9), 1
        ).otherwise(0).alias("rule4"),
    )
    return (
        runs.where(
            (F.col("beyond3") == 1) | (F.col("rule2") == 1) | (F.col("rule4") == 1)
        )
        .selectExpr(
            "event_type", "h", "y",
            "CAST(beyond3 AS BIGINT) AS rule1_beyond_3sigma",
            "CAST(rule2 AS BIGINT) AS rule2_two_of_three_2sigma",
            "CAST(rule4 AS BIGINT) AS rule4_nine_one_side",
        )
        .orderBy("event_type", "h")
    )


# Kalman fixed-point parameters: random-walk process variance Q and
# measurement variance R in count^2 units; gains carried in e6.
_KF_Q = 4
_KF_R = 64


@query(
    "ts_kalman_1d",
    oracle=f"""
    WITH RECURSIVE daily AS MATERIALIZED (
        SELECT event_type AS series, CAST(ts AS DATE) AS d,
               CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1, 2
    ),
    seq AS MATERIALIZED (
        SELECT series, y,
               CAST(row_number() OVER (PARTITION BY series ORDER BY d)
                    AS BIGINT) AS rn,
               CAST(count(*) OVER (PARTITION BY series) AS BIGINT) AS n
        FROM daily
    ),
    rec AS (
        SELECT series, rn, n, y * 1000000 AS x_e6,
               CAST({_KF_R} AS BIGINT) AS p,
               CAST(0 AS BIGINT) AS k_e6,
               CAST(0 AS BIGINT) AS sai_e6
        FROM seq WHERE rn = 1
        UNION ALL
        SELECT q.series, q.rn, q.n,
               r.x_e6 + ((r.p + {_KF_Q}) * 1000000 // (r.p + {_KF_Q} + {_KF_R}))
                        * (q.y * 1000000 - r.x_e6) // 1000000,
               (1000000 - (r.p + {_KF_Q}) * 1000000
                          // (r.p + {_KF_Q} + {_KF_R}))
                 * (r.p + {_KF_Q}) // 1000000,
               (r.p + {_KF_Q}) * 1000000 // (r.p + {_KF_Q} + {_KF_R}),
               r.sai_e6 + abs(q.y * 1000000 - r.x_e6)
        FROM rec r JOIN seq q ON q.series = r.series AND q.rn = r.rn + 1
    )
    SELECT series, n AS n_obs, x_e6 AS estimate_e6, p AS p_terminal,
           k_e6 AS gain_e6, sai_e6 AS sum_abs_innov_e6
    FROM rec WHERE rn = n ORDER BY series
    """,
    tags=("timeseries", "kalman", "stateful", "fixed-point", "pandas-udf",
          "engine-addition"),
)
def ts_kalman_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D Kalman filter (random-walk state, pinned Q={_KF_Q},
    R={_KF_R}) over each event type's daily count series, in integer
    fixed point: the state estimate is carried in e6 units, the gain
    K = P'/(P'+R) in e6, and every update is a truncating integer
    division — both engines truncate toward zero, so the recursion is
    bit-identical even when the innovation is negative. Emits the
    terminal estimate, error variance, gain (converged for constant
    Q/R), and the summed absolute innovation (the filter's residual
    energy — an anomaly score for the series as a whole).

    Same stateful-showcase shape as ts_holt_winters_additive: Spark
    runs the per-series recurrence in applyInPandas (O(1) state, one
    shuffle on the series key), the oracle as a recursive CTE."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.col("event_type").alias("series"),
            F.to_date("ts").alias("d"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    )

    def kalman(pdf):
        import pandas as pd

        pdf = pdf.sort_values("d")
        ys = [int(v) for v in pdf["y"]]

        def tdiv(a: int, b: int) -> int:
            q = abs(a) // b
            return q if a >= 0 else -q

        x_e6, p, k_e6, sai = ys[0] * 1_000_000, _KF_R, 0, 0
        for y in ys[1:]:
            pp = p + _KF_Q
            k_e6 = pp * 1_000_000 // (pp + _KF_R)
            innov = y * 1_000_000 - x_e6
            sai += abs(innov)
            x_e6 = x_e6 + tdiv(k_e6 * innov, 1_000_000)
            p = (1_000_000 - k_e6) * pp // 1_000_000
        return pd.DataFrame(
            {
                "series": [pdf["series"].iloc[0]],
                "n_obs": [len(ys)],
                "estimate_e6": [x_e6],
                "p_terminal": [p],
                "gain_e6": [k_e6],
                "sum_abs_innov_e6": [sai],
            }
        )

    schema = (
        "series string, n_obs bigint, estimate_e6 bigint,"
        " p_terminal bigint, gain_e6 bigint, sum_abs_innov_e6 bigint"
    )
    return daily.groupBy("series").applyInPandas(kalman, schema).orderBy("series")


def _markov_step_sql(prev: str, out: str) -> str:
    """One oracle-side stationary power step: pi_out(j) = sum_i
    pi_prev(i) * c(i,j) // rowsum(i), integer ppm mass."""
    return f"""
    {out} AS (
      SELECT t.dst AS state,
             CAST(SUM(p.mass * t.c // rs.total) AS BIGINT) AS mass
      FROM {prev} p
      JOIN trans t ON t.src = p.state
      JOIN rowsums rs ON rs.src = p.state
      GROUP BY 1)
    """


@query(
    "events_markov_stationary",
    oracle=f"""
    WITH ordered AS (
        SELECT user_id, event_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY epoch_us(ts), event_id)
                   AS nxt
        FROM events
    ),
    trans AS (
        SELECT event_type AS src, nxt AS dst, CAST(count(*) AS BIGINT) AS c
        FROM ordered WHERE nxt IS NOT NULL GROUP BY 1, 2
    ),
    rowsums AS (
        SELECT src, CAST(sum(c) AS BIGINT) AS total FROM trans GROUP BY 1
    ),
    p0 AS (
        SELECT src AS state, CAST(1000000 AS BIGINT) AS mass FROM rowsums
    ),
    {_markov_step_sql("p0", "p1")},
    {_markov_step_sql("p1", "p2")}
    SELECT p2.state,
           CAST(rs.total AS BIGINT) AS n_out_transitions,
           p1.mass AS pi1_mass, p2.mass AS pi2_mass
    FROM p2
    JOIN p1 ON p1.state = p2.state
    JOIN rowsums rs ON rs.src = p2.state
    ORDER BY p2.state
    """,
    tags=("events", "markov", "stationary", "power-iteration",
          "engine-addition"),
)
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the user-journey Markov chain by
    two exact power steps — the \"where do sessions settle\" readout
    on top of events_transition_matrix: transition counts c(i,j) come
    from each user's time-ordered event sequence (ties by event_id),
    the start vector puts 1e6 mass on every state, and each step
    moves mass as the integer flow mass*c // rowsum — truncating
    division, so mass leaks slightly (conserved to within one unit
    per edge) but the computation is associative and bit-identical
    across engines.

    Scale shape: only TWO shuffles touch data — the lead window on
    user_id and the transition-count aggregate; everything after
    operates on the states x states matrix (single-digit rows here).
    The matrix, row sums, and each step's mass vector are staged or
    broadcast (VERDICT r8 #6: the first cut re-derived rowsums per
    step and shuffle-joined model-sized frames, 10 exchanges), so
    the power steps are broadcast joins plus one tiny per-step
    aggregate — the per-step aggregate exchange moves |states| rows
    and is the irreducible remainder of the mass re-grouping."""
    e = load_table(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy(
        F.unix_micros(F.col("ts")), "event_id"
    )
    ordered = e.select(
        "event_type", F.lead("event_type").over(wo).alias("nxt")
    )
    trans = (
        ordered.where(F.col("nxt").isNotNull())
        .groupBy(F.col("event_type").alias("src"), F.col("nxt").alias("dst"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .transform(materialize)  # read by both power steps
    )
    rowsums = materialize(
        trans.groupBy("src").agg(F.sum("c").cast("bigint").alias("total"))
    )  # |states| rows, consumed by both power steps and the readout
    pi = rowsums.select(
        F.col("src").alias("state"), F.lit(1_000_000).cast("bigint").alias("mass")
    )
    steps = []
    for _ in range(2):
        pi = (
            trans.join(F.broadcast(pi), trans["src"] == pi["state"])
            .join(
                F.broadcast(rowsums.withColumnRenamed("src", "rs_src")),
                F.col("src") == F.col("rs_src"),
            )
            .selectExpr("dst", "mass * c div total AS flow")
            .groupBy(F.col("dst").alias("state"))
            .agg(F.sum("flow").cast("bigint").alias("mass"))
        )
        steps.append(pi)
    p1, p2 = steps
    return (
        p2.withColumnRenamed("mass", "pi2_mass")
        .join(F.broadcast(p1.withColumnRenamed("mass", "pi1_mass")), "state")
        .join(
            F.broadcast(rowsums.withColumnRenamed("src", "state")), "state"
        )
        .selectExpr(
            "state",
            "CAST(total AS BIGINT) AS n_out_transitions",
            "pi1_mass", "pi2_mass",
        )
        .orderBy("state")
    )


@query(
    "events_growth_accounting",
    oracle="""
    WITH active AS (
        SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS w
        FROM events
    ),
    firsts AS (
        SELECT user_id, min(w) AS w0 FROM active GROUP BY 1
    ),
    labeled AS (
        SELECT a.user_id, a.w,
               CASE WHEN f.w0 = a.w THEN 1 ELSE 0 END AS is_new,
               CASE WHEN p.user_id IS NOT NULL THEN 1 ELSE 0 END
                   AS was_prev
        FROM active a
        JOIN firsts f ON f.user_id = a.user_id
        LEFT JOIN active p
          ON p.user_id = a.user_id AND p.w = a.w - INTERVAL 7 DAY
    ),
    churn AS (
        SELECT CAST(a.w + INTERVAL 7 DAY AS DATE) AS w,
               CAST(count(*) AS BIGINT) AS n_churned
        FROM active a
        LEFT JOIN active nxt
          ON nxt.user_id = a.user_id AND nxt.w = a.w + INTERVAL 7 DAY
        WHERE nxt.user_id IS NULL
        GROUP BY 1
    ),
    weekly AS (
        SELECT w,
               CAST(count(*) AS BIGINT) AS n_active,
               CAST(sum(is_new) AS BIGINT) AS n_new,
               CAST(sum(CASE WHEN is_new = 0 AND was_prev = 1
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
               CAST(sum(CASE WHEN is_new = 0 AND was_prev = 0
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
        FROM labeled GROUP BY 1
    )
    SELECT CAST(epoch(weekly.w) AS BIGINT) // 86400 AS week_day_epoch,
           n_active, n_new, n_retained, n_resurrected,
           COALESCE(c.n_churned, 0) AS n_churned
    FROM weekly LEFT JOIN churn c ON c.w = weekly.w
    ORDER BY week_day_epoch
    """,
    tags=("events", "growth-accounting", "retention", "engine-addition"),
)
def events_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting — the weekly active-user ledger every
    consumer dashboard runs: each week's actives decompose EXACTLY
    into new (first-ever week), retained (also active last week), and
    resurrected (seen before, but not last week); churned counts
    last week's actives who didn't return, attributed to the week
    they went missing. The identity active = new + retained +
    resurrected holds by construction (pinned by the invariant
    test) — the decomposition is a partition, not three estimates.

    Scale shape: one distinct shuffle to (user, week); the
    new/retained/resurrected labels are a broadcast-sized firsts
    join plus a self-join on the week-shifted key — both
    hash-partition on user_id, so the whole ledger is two shuffles
    on the same key."""
    e = load_table(spark, sf_dir, "events")
    active = e.select(
        "user_id", F.expr("CAST(date_trunc('week', ts) AS DATE)").alias("w")
    ).distinct().transform(materialize)  # read 3x: label, prev, churn
    firsts = active.groupBy("user_id").agg(F.min("w").alias("w0"))
    prev = active.select(
        "user_id", F.expr("w + INTERVAL 7 DAY").alias("w")
    ).withColumn("was_prev", F.lit(1))
    labeled = (
        active.join(firsts, "user_id")
        .join(prev, ["user_id", "w"], "left")
        .select(
            "w",
            F.when(F.col("w0") == F.col("w"), 1).otherwise(0).alias("is_new"),
            F.coalesce("was_prev", F.lit(0)).alias("was_prev"),
        )
    )
    nxt = active.select(
        "user_id", F.expr("w - INTERVAL 7 DAY").alias("w")
    ).withColumn("has_next", F.lit(1))
    churn = (
        active.join(nxt, ["user_id", "w"], "left")
        .where(F.col("has_next").isNull())
        .groupBy(F.expr("w + INTERVAL 7 DAY").alias("w"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_churned"))
    )
    weekly = labeled.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_active"),
        F.sum("is_new").cast("bigint").alias("n_new"),
        F.sum(F.expr("CASE WHEN is_new = 0 AND was_prev = 1 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("n_retained"),
        F.sum(F.expr("CASE WHEN is_new = 0 AND was_prev = 0 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("n_resurrected"),
    )
    return (
        weekly.join(churn, "w", "left")
        .selectExpr(
            "CAST(unix_date(w) AS BIGINT) AS week_day_epoch",
            "n_active", "n_new", "n_retained", "n_resurrected",
            "COALESCE(n_churned, CAST(0 AS BIGINT)) AS n_churned",
        )
        .orderBy("week_day_epoch")
    )


@query(
    "ts_fano_factor",
    oracle="""
    WITH hourly AS (
        SELECT event_type,
               CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS h,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    m AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(c) AS BIGINT) AS sc,
               CAST(sum(c * c) AS BIGINT) AS scc
        FROM hourly GROUP BY 1
    )
    SELECT event_type, n AS n_hours, sc AS n_events,
           CAST((n * scc - sc * sc) * 1000000 // (n * sc) AS BIGINT)
               AS fano_ppm,
           CAST(CASE WHEN n * scc - sc * sc > n * sc THEN 1 ELSE 0 END
                AS BIGINT) AS overdispersed
    FROM m ORDER BY event_type
    """,
    tags=("timeseries", "burstiness", "fano", "engine-addition"),
)
def ts_fano_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano factor (index of dispersion) per event type's hourly
    counts — the burstiness scalar: var/mean = 1 for a Poisson
    process, > 1 for bursty traffic, < 1 for metronomes. Computed
    exactly as (n*sum(c^2) - sum(c)^2) / (n*sum(c)) in integer ppm,
    with the overdispersion flag as the division-free
    cross-multiplication var_num > n*sc. The events-side sibling of
    text_term_burstiness's VMR, and the distribution-level complement
    of events_bot_regularity's per-user CV.

    Scale shape: hourly rollup + one map-side-combined per-series
    moment aggregate; O(series) output."""
    hourly = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.expr(
                "CAST(unix_timestamp(date_trunc('hour', ts)) AS BIGINT)"
                " div 3600"
            ).alias("h"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    m = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("sc"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("scc"),
    )
    return m.selectExpr(
        "event_type",
        "n AS n_hours",
        "sc AS n_events",
        "CAST((n * scc - sc * sc) * 1000000 div (n * sc) AS BIGINT)"
        " AS fano_ppm",
        "CAST(CASE WHEN n * scc - sc * sc > n * sc THEN 1 ELSE 0 END"
        " AS BIGINT) AS overdispersed",
    ).orderBy("event_type")


# Shapley attribution: 4 channels -> bits (click=1, error=2,
# signup=4, view=8); weights |S|!(n-|S|-1)! for n=4, i.e. x/24
# scaled out: popcount 0 -> 6, 1 -> 2, 2 -> 2, 3 -> 6.
_SHAP_CHANNELS = (("click", 1), ("error", 2), ("signup", 4), ("view", 8))
_SHAP_W = {0: 6, 1: 2, 2: 2, 3: 6}


@query(
    "events_attribution_shapley",
    oracle=f"""
    WITH users AS (
        SELECT user_id,
               CAST(max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  + max(CASE WHEN event_type = 'error' THEN 2 ELSE 0 END)
                  + max(CASE WHEN event_type = 'signup' THEN 4 ELSE 0 END)
                  + max(CASE WHEN event_type = 'view' THEN 8 ELSE 0 END)
                    AS BIGINT) AS mask,
               CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS conv
        FROM events GROUP BY 1
    ),
    sets AS (
        SELECT mask, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(conv) AS BIGINT) AS c
        FROM users GROUP BY 1
    ),
    coalitions AS (
        SELECT ch.name, ch.bit, s.s
        FROM (SELECT unnest(['click','error','signup','view']) AS name,
                     unnest([1, 2, 4, 8]) AS bit) ch
        JOIN (SELECT unnest(range(16)) AS s) s
          ON (CAST(s.s AS BIGINT) & ch.bit) = 0
    ),
    terms AS (
        SELECT co.name,
               (CASE bit_count(CAST(co.s AS BIGINT))
                  WHEN 0 THEN 6 WHEN 1 THEN 2 WHEN 2 THEN 2 ELSE 6 END)
               * (COALESCE(w.c * 1000000 // w.n, 0)
                  - COALESCE(wo.c * 1000000 // wo.n, 0)) AS term
        FROM coalitions co
        LEFT JOIN sets w ON w.mask = CAST(co.s AS BIGINT) + co.bit
        LEFT JOIN sets wo ON wo.mask = CAST(co.s AS BIGINT)
    )
    SELECT name AS channel,
           CAST(sum(term) AS BIGINT) AS shapley_x24_e6
    FROM terms GROUP BY 1 ORDER BY 1
    """,
    tags=("events", "attribution", "shapley", "engine-addition"),
)
def events_attribution_shapley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shapley-value marketing attribution — the principled answer
    the last-touch / position / time-decay family approximates: each
    user contributes their EXACT pre-conversion channel set (bitmask
    over click/error/signup/view), v(S) is the observed conversion
    rate of users with precisely that set (unobserved coalitions
    contribute 0 — the standard simplified marketing Shapley), and
    each channel's value sums the weighted marginal contributions
    |S|!(n-|S|-1)!/n! * (v(S u i) - v(S)) over all 8 coalitions per
    channel. Factorial weights are scaled out by 4! = 24 and rates
    floored at e6, so the whole game is integer arithmetic
    (shapley_x24_e6 can be negative — 'error' exposure SHOULD hurt).

    Scale shape: one shuffle to per-user masks, one to the 16-row
    coalition table; the game itself is a model-sized join against a
    generated lattice — at 100 TB only the first aggregate touches
    data."""
    e = load_table(spark, sf_dir, "events")
    mask_expr = " + ".join(
        f"max(CASE WHEN event_type = '{ch}' THEN {bit} ELSE 0 END)"
        for ch, bit in _SHAP_CHANNELS
    )
    users = e.groupBy("user_id").agg(
        F.expr(f"CAST({mask_expr} AS BIGINT)").alias("mask"),
        F.expr(
            "CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)"
            " AS BIGINT)"
        ).alias("conv"),
    )
    sets = users.groupBy("mask").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("conv").cast("bigint").alias("c"),
    )
    ch = spark.createDataFrame(
        list(_SHAP_CHANNELS), "name string, bit bigint"
    )
    lattice = spark.range(16).selectExpr("CAST(id AS BIGINT) AS s")
    coalitions = ch.crossJoin(lattice).where(
        F.expr("(s & bit) = 0")
    )
    w = sets.selectExpr("mask AS m_w", "c AS c_w", "n AS n_w")
    wo = sets.selectExpr("mask AS m_wo", "c AS c_wo", "n AS n_wo")
    terms = (
        coalitions.join(w, F.expr("m_w = s + bit"), "left")
        .join(wo, F.expr("m_wo = s"), "left")
        .selectExpr(
            "name",
            "(CASE bit_count(s) WHEN 0 THEN 6 WHEN 1 THEN 2 WHEN 2 THEN 2"
            " ELSE 6 END)"
            " * (COALESCE(c_w * 1000000 div n_w, 0)"
            "    - COALESCE(c_wo * 1000000 div n_wo, 0)) AS term",
        )
    )
    return (
        terms.groupBy(F.col("name").alias("channel"))
        .agg(F.sum("term").cast("bigint").alias("shapley_x24_e6"))
        .orderBy("channel")
    )


def _entropy_rate_oracle() -> str:
    from ..functions.intlog import ln_ratio_e3_sql

    lnrc = ln_ratio_e3_sql("rs.total", "t.c").replace("DIV", "//")
    step = _markov_step_sql  # reuse the stationary power-step CTE
    return f"""
    WITH ordered AS (
        SELECT user_id, event_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY epoch_us(ts), event_id)
                   AS nxt
        FROM events
    ),
    trans AS (
        SELECT event_type AS src, nxt AS dst, CAST(count(*) AS BIGINT) AS c
        FROM ordered WHERE nxt IS NOT NULL GROUP BY 1, 2
    ),
    rowsums AS (
        SELECT src, CAST(sum(c) AS BIGINT) AS total FROM trans GROUP BY 1
    ),
    p0 AS (
        SELECT src AS state, CAST(1000000 AS BIGINT) AS mass FROM rowsums
    ),
    {step("p0", "p1")},
    {step("p1", "p2")},
    hrow AS (
        SELECT t.src AS state,
               CAST(sum(t.c * ({lnrc})) // max(rs.total) AS BIGINT)
                   AS h_state_e3
        FROM trans t JOIN rowsums rs ON rs.src = t.src
        GROUP BY 1
    )
    SELECT h.state, h.h_state_e3, p2.mass AS pi_mass,
           CAST(sum(h.h_state_e3 * p2.mass) OVER ()
                // sum(p2.mass) OVER () AS BIGINT) AS entropy_rate_e3
    FROM hrow h JOIN p2 ON p2.state = h.state
    ORDER BY h.state
    """


@query(
    "events_markov_entropy_rate",
    oracle=_entropy_rate_oracle(),
    tags=("events", "markov", "entropy", "engine-addition"),
)
def events_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the user-journey Markov chain — how
    predictable the next action is, in milli-nats: each state's
    conditional entropy H(next|state) = sum_j p_ij ln(1/p_ij) uses
    the quantized integer log on the exact transition counts, and
    the rate weights states by the 2-step stationary mass from
    events_markov_stationary (same power iteration inline). A
    near-zero rate means journeys are deterministic (bots, broken
    flows); the theoretical max is ln(n_states).

    Scale shape: one user-partitioned lead window; everything after
    runs on the states x states count matrix — rowsums staged and
    every model-sized frame broadcast into its join (same r9
    worst-shuffle treatment as events_markov_stationary)."""
    from ..functions.intlog import ln_ratio_e3_sql

    e = load_table(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy(
        F.unix_micros(F.col("ts")), "event_id"
    )
    ordered = e.select(
        "event_type", F.lead("event_type").over(wo).alias("nxt")
    )
    trans = (
        ordered.where(F.col("nxt").isNotNull())
        .groupBy(F.col("event_type").alias("src"), F.col("nxt").alias("dst"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .transform(materialize)
    )
    rowsums = materialize(
        trans.groupBy("src").agg(F.sum("c").cast("bigint").alias("total"))
    )  # |states| rows, consumed by both power steps and the entropy row
    pi = rowsums.select(
        F.col("src").alias("state"),
        F.lit(1_000_000).cast("bigint").alias("mass"),
    )
    for _ in range(2):
        pi = (
            trans.join(F.broadcast(pi), trans["src"] == pi["state"])
            .join(
                F.broadcast(rowsums.withColumnRenamed("src", "rs_src")),
                F.col("src") == F.col("rs_src"),
            )
            .selectExpr("dst", "mass * c div total AS flow")
            .groupBy(F.col("dst").alias("state"))
            .agg(F.sum("flow").cast("bigint").alias("mass"))
        )
    lnrc = ln_ratio_e3_sql("total", "c").replace("DIV", "div")
    hrow = (
        trans.join(rowsums, "src")
        .selectExpr("src AS state", f"c * ({lnrc}) AS term", "total")
        .groupBy("state")
        .agg(
            F.expr("CAST(sum(term) div max(total) AS BIGINT)").alias(
                "h_state_e3"
            )
        )
    )
    wall = Window.partitionBy()
    return (
        hrow.join(pi.withColumnRenamed("mass", "pi_mass"), "state")
        .select(
            "state",
            "h_state_e3",
            "pi_mass",
            F.expr(
                "CAST(sum(h_state_e3 * pi_mass) OVER ()"
                " div sum(pi_mass) OVER () AS BIGINT)"
            ).alias("entropy_rate_e3"),
        )
        .orderBy("state")
    )


_DECAY_HL_HOURS = 24  # binary half-life: weight halves every day
_DECAY_MAX_SHIFT = 40


@query(
    "events_trending_decay",
    oracle=f"""
    WITH anchor AS (SELECT max(epoch_us(ts)) AS hi FROM events),
    scored AS (
        SELECT user_id,
               1000000 >> LEAST((a.hi - epoch_us(ts))
                                // ({_DECAY_HL_HOURS} * 3600000000),
                                {_DECAY_MAX_SHIFT}) AS w
        FROM events, anchor a
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(w) AS BIGINT) AS decayed_score_e6
    FROM scored
    GROUP BY 1
    ORDER BY decayed_score_e6 DESC, user_id
    LIMIT 20
    """,
    tags=("events", "trending", "decay", "engine-addition"),
)
def events_trending_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending-now ranking by exponentially decayed activity — the
    freshness-weighted popularity every feed ranks by, with the decay
    made EXACT: weights halve per {_DECAY_HL_HOURS}-hour half-life
    via a binary shift (1e6 >> age_in_halflives) instead of a float
    pow — the classic time-decayed counter quantized to powers of
    two, associative and mergeable (partial sums of shifted integers
    just add, so the counter works as a streaming/mergeable sketch).
    Top-20 users by decayed score vs their raw lifetime counts —
    the gap IS the trend signal.

    Scale shape: one scan with a map-side-combined per-user
    aggregate; TakeOrderedAndProject(20)."""
    e = load_table(spark, sf_dir, "events")
    anchor = e.agg(F.expr("max(unix_micros(ts))").alias("hi"))
    scored = e.crossJoin(F.broadcast(anchor)).selectExpr(
        "user_id",
        f"shiftright(1000000, CAST(LEAST((hi - unix_micros(ts))"
        f" div ({_DECAY_HL_HOURS} * 3600000000),"
        f" {_DECAY_MAX_SHIFT}) AS INT)) AS w",
    )
    return (
        scored.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("w").cast("bigint").alias("decayed_score_e6"),
        )
        .orderBy(F.desc("decayed_score_e6"), "user_id")
        .limit(20)
    )


@query(
    "ts_seasonal_strength",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1, 2
    ),
    trended AS (
        SELECT event_type, day, y,
               CAST(sum(y) OVER w7 AS BIGINT) AS tsum,
               CAST(count(*) OVER w7 AS BIGINT) AS tn
        FROM daily
        WINDOW w7 AS (PARTITION BY event_type ORDER BY day
                      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    detr AS (
        SELECT event_type, day,
               y * tn - tsum AS d_num, tn,
               CAST(isodow(day) AS BIGINT) AS dow
        FROM trended WHERE tn = 7
    ),
    seas AS (
        SELECT event_type, dow,
               CAST(sum(d_num) AS BIGINT) AS s_sum,
               CAST(count(*) AS BIGINT) AS s_n
        FROM detr GROUP BY 1, 2
    ),
    resid AS (
        SELECT d.event_type,
               d.d_num * s.s_n - s.s_sum AS r_num,
               d.d_num, s.s_n
        FROM detr d
        JOIN seas s ON s.event_type = d.event_type AND s.dow = d.dow
    ),
    vars_ AS (
        SELECT event_type,
               CAST(count(*) AS HUGEINT) AS n,
               sum(CAST(d_num * s_n AS HUGEINT)
                   * CAST(d_num * s_n AS HUGEINT)) AS dd,
               sum(CAST(d_num * s_n AS HUGEINT)) AS ds,
               sum(CAST(r_num AS HUGEINT) * CAST(r_num AS HUGEINT)) AS rr,
               sum(CAST(r_num AS HUGEINT)) AS rs
        FROM resid GROUP BY 1
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_days,
           CAST(GREATEST(CAST(0 AS HUGEINT),
                1000000 - (n * rr - rs * rs) * 1000000 // (n * dd - ds * ds))
                AS BIGINT) AS seasonal_strength_ppm
    FROM vars_ ORDER BY event_type
    """,
    tags=("timeseries", "seasonality", "strength", "engine-addition"),
)
def ts_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal strength F_s = max(0, 1 - Var(remainder)/Var(detrended))
    (Hyndman's STL-based feature) for each series' daily counts —
    the single scalar that says whether ts_seasonal_decompose_additive
    is explaining anything: detrend by the centered 7-day mean, the
    day-of-week effect is the mean detrended value per dow, and both
    variances enter as exact integer numerators over a COMMON
    denominator scale (the per-row values are kept as numerators
    d*tn and d*tn*s_n, so no float or division touches anything
    before the final ppm ratio).

    Scale shape: daily rollup, one 7-row centered window per series,
    a dow-profile aggregate, one moment aggregate — all partitioned
    by series."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.expr("CAST(date_trunc('day', ts) AS DATE)").alias("day"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    )
    w7 = (
        Window.partitionBy("event_type").orderBy("day").rowsBetween(-3, 3)
    )
    trended = daily.select(
        "event_type", "day", "y",
        F.sum("y").over(w7).cast("bigint").alias("tsum"),
        F.count(F.lit(1)).over(w7).cast("bigint").alias("tn"),
    )
    detr = trended.where(F.col("tn") == 7).selectExpr(
        "event_type", "day",
        "y * tn - tsum AS d_num", "tn",
        "CAST(CASE WHEN dayofweek(day) = 1 THEN 7"
        " ELSE dayofweek(day) - 1 END AS BIGINT) AS dow",
    )
    seas = detr.groupBy("event_type", "dow").agg(
        F.sum("d_num").cast("bigint").alias("s_sum"),
        F.count(F.lit(1)).cast("bigint").alias("s_n"),
    )
    resid = detr.join(seas, ["event_type", "dow"]).selectExpr(
        "event_type",
        "d_num * s_n - s_sum AS r_num",
        "d_num", "s_n",
    )
    d38 = "decimal(38,0)"
    vars_ = resid.groupBy("event_type").agg(
        F.expr(f"CAST(count(*) AS {d38})").alias("n"),
        F.expr(
            f"sum(CAST(d_num * s_n AS {d38}) * CAST(d_num * s_n AS {d38}))"
        ).alias("dd"),
        F.expr(f"sum(CAST(d_num * s_n AS {d38}))").alias("ds"),
        F.expr(
            f"sum(CAST(r_num AS {d38}) * CAST(r_num AS {d38}))"
        ).alias("rr"),
        F.expr(f"sum(CAST(r_num AS {d38}))").alias("rs"),
    )
    return vars_.selectExpr(
        "event_type",
        "CAST(n AS BIGINT) AS n_days",
        f"CAST(GREATEST(CAST(0 AS {d38}),"
        " 1000000 - (n * rr - rs * rs) * 1000000 div (n * dd - ds * ds))"
        " AS BIGINT) AS seasonal_strength_ppm",
    ).orderBy("event_type")


@query(
    "ts_ljung_box",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ),
    stats AS (
        SELECT event_type, day, x,
               CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
               CAST(sum(x) OVER (PARTITION BY event_type) AS BIGINT) AS s,
               lead(x, 1) OVER (PARTITION BY event_type ORDER BY day) AS x1,
               lead(x, 2) OVER (PARTITION BY event_type ORDER BY day) AS x2,
               lead(x, 3) OVER (PARTITION BY event_type ORDER BY day) AS x3
        FROM daily
    ),
    dev AS (
        SELECT event_type, n,
               CAST(sum((n * x - s) * (n * x - s)) AS HUGEINT) AS den,
               CAST(sum(CASE WHEN x1 IS NOT NULL
                    THEN (n * x - s) * (n * x1 - s) ELSE 0 END) AS HUGEINT)
                   AS num1,
               CAST(sum(CASE WHEN x2 IS NOT NULL
                    THEN (n * x - s) * (n * x2 - s) ELSE 0 END) AS HUGEINT)
                   AS num2,
               CAST(sum(CASE WHEN x3 IS NOT NULL
                    THEN (n * x - s) * (n * x3 - s) ELSE 0 END) AS HUGEINT)
                   AS num3
        FROM stats GROUP BY 1, 2
    ),
    q AS (
        SELECT event_type, n,
               CAST(n AS HUGEINT) * (n + 2)
                 * (num1 * num1 * 1000000 // (den * den * (n - 1))
                    + num2 * num2 * 1000000 // (den * den * (n - 2))
                    + num3 * num3 * 1000000 // (den * den * (n - 3)))
                   AS q_e6
        FROM dev
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_days,
           CAST(q_e6 AS BIGINT) AS ljung_box_q_e6,
           CAST(3 AS BIGINT) AS df,
           CAST(CASE WHEN q_e6 > 7814728 THEN 1 ELSE 0 END AS BIGINT)
               AS reject_white_noise_05
    FROM q ORDER BY event_type
    """,
    tags=("timeseries", "ljung-box", "white-noise-test",
          "engine-addition"),
)
def ts_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test on each series' daily counts — the
    white-noise gate that belongs in front of every forecasting
    query: Q = n(n+2) * sum_k r_k^2/(n-k) over lags 1..3, with each
    autocorrelation entering as its exact integer numerator over the
    shared denominator (ts_autocorr_exact's construction), each term
    floored at e6, and the verdict an integer comparison against the
    pinned chi2(3) 5%% critical value 7.814728. Reject = the series
    has real autocorrelation structure worth modeling; fail to
    reject = ts_holt_* and friends are fitting noise.

    Scale shape: daily rollup, one per-series window pass for the
    three leads, one moment aggregate; the test is O(series)."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type", F.expr("CAST(ts AS DATE)").alias("day")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    )
    we = Window.partitionBy("event_type")
    wo = Window.partitionBy("event_type").orderBy("day")
    stats = daily.select(
        "event_type", "day", "x",
        F.count(F.lit(1)).over(we).cast("bigint").alias("n"),
        F.sum("x").over(we).cast("bigint").alias("s"),
        F.lead("x", 1).over(wo).alias("x1"),
        F.lead("x", 2).over(wo).alias("x2"),
        F.lead("x", 3).over(wo).alias("x3"),
    )
    d38 = "decimal(38,0)"
    dev = stats.groupBy("event_type", "n").agg(
        F.expr(f"CAST(sum((n*x - s) * (n*x - s)) AS {d38})").alias("den"),
        *[
            F.expr(
                f"CAST(sum(CASE WHEN x{k} IS NOT NULL"
                f" THEN (n*x - s) * (n*x{k} - s) ELSE 0 END) AS {d38})"
            ).alias(f"num{k}")
            for k in (1, 2, 3)
        ],
    )
    q = dev.selectExpr(
        "event_type", "n",
        f"CAST(n AS {d38}) * (n + 2)"
        " * (num1 * num1 * 1000000 div (den * den * (n - 1))"
        "    + num2 * num2 * 1000000 div (den * den * (n - 2))"
        "    + num3 * num3 * 1000000 div (den * den * (n - 3)))"
        " AS q_e6",
    )
    return q.selectExpr(
        "event_type",
        "CAST(n AS BIGINT) AS n_days",
        "CAST(q_e6 AS BIGINT) AS ljung_box_q_e6",
        "CAST(3 AS BIGINT) AS df",
        "CAST(CASE WHEN q_e6 > 7814728 THEN 1 ELSE 0 END AS BIGINT)"
        " AS reject_white_noise_05",
    ).orderBy("event_type")


@query(
    "events_retention_half_life",
    oracle="""
    WITH active AS (
        SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS w
        FROM events
    ),
    cohorts AS (
        SELECT user_id, min(w) AS w0 FROM active GROUP BY 1
    ),
    aged AS (
        SELECT c.w0,
               CAST(date_diff('day', c.w0, a.w) AS BIGINT) // 7 AS age_w,
               a.user_id
        FROM active a JOIN cohorts c ON c.user_id = a.user_id
    ),
    curve AS (
        SELECT w0, age_w, CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
        FROM aged GROUP BY 1, 2
    ),
    sized AS (
        SELECT w0, age_w, n_active,
               CAST(max(CASE WHEN age_w = 0 THEN n_active END)
                    OVER (PARTITION BY w0) AS BIGINT) AS cohort_n
        FROM curve
    ),
    hl AS (
        SELECT w0, cohort_n,
               min(CASE WHEN age_w > 0 AND 2 * n_active < cohort_n
                        THEN age_w END) AS half_life_weeks
        FROM sized GROUP BY 1, 2
    )
    SELECT CAST(epoch(w0) AS BIGINT) // 86400 AS cohort_day_epoch,
           cohort_n,
           CAST(COALESCE(half_life_weeks, -1) AS BIGINT)
               AS half_life_weeks
    FROM hl ORDER BY cohort_day_epoch
    """,
    tags=("events", "retention", "half-life", "engine-addition"),
)
def events_retention_half_life(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention half-life per weekly cohort — the single number a
    growth team quotes from the whole retention matrix: the first
    week-age at which a cohort's weekly actives drop below half its
    size, stated division-free as 2*n_active < cohort_n. Cohorts
    that never halve inside the observation window report -1
    (explicitly right-censored, not silently dropped — the same
    honesty rule as ml_survival_kaplan_meier's censoring).

    Scale shape: one distinct shuffle to (user, week), a broadcast
    cohort join, a (cohort, age) aggregate; the half-life scan runs
    on the cohort x age curve, not on events."""
    e = load_table(spark, sf_dir, "events")
    active = e.select(
        "user_id", F.expr("CAST(date_trunc('week', ts) AS DATE)").alias("w")
    ).distinct()
    cohorts = active.groupBy("user_id").agg(F.min("w").alias("w0"))
    aged = active.join(cohorts, "user_id").selectExpr(
        "w0", "CAST(datediff(w, w0) AS BIGINT) div 7 AS age_w", "user_id"
    )
    curve = aged.groupBy("w0", "age_w").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_active")
    )
    wc = Window.partitionBy("w0")
    sized = curve.select(
        "w0", "age_w", "n_active",
        F.max(F.when(F.col("age_w") == 0, F.col("n_active")))
        .over(wc)
        .cast("bigint")
        .alias("cohort_n"),
    )
    hl = sized.groupBy("w0", "cohort_n").agg(
        F.min(
            F.when(
                (F.col("age_w") > 0)
                & (2 * F.col("n_active") < F.col("cohort_n")),
                F.col("age_w"),
            )
        ).alias("half_life_weeks")
    )
    return hl.selectExpr(
        "CAST(unix_date(w0) AS BIGINT) AS cohort_day_epoch",
        "cohort_n",
        "CAST(COALESCE(half_life_weeks, -1) AS BIGINT) AS half_life_weeks",
    ).orderBy("cohort_day_epoch")


@query(
    "events_attribution_first_touch",
    oracle="""
    WITH ordered AS (
        SELECT event_id, user_id, ts, event_type,
               first_value(CASE WHEN event_type IN ('view', 'click')
                               THEN ts END IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS touch_ts,
               first_value(CASE WHEN event_type IN ('view', 'click')
                               THEN event_type END IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS touch_channel
        FROM events
    )
    SELECT event_id, user_id, ts, touch_ts, touch_channel,
           CAST(epoch_us(ts) - epoch_us(touch_ts) AS BIGINT) AS gap_us
    FROM ordered
    WHERE event_type = 'purchase' AND touch_ts IS NOT NULL
    """,
    tags=("attribution", "window", "behavior"),
)
def events_attribution_first_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution — credit the EARLIEST preceding
    view/click instead of the latest: the acquisition-channel view
    of the same question events_attribution_last_touch answers for
    conversion optimization (and the fourth member of the
    first/last/position/time-decay/Shapley family). Same
    single-shuffle window shape; first_value with IGNORE NULLS over
    the unbounded-preceding frame resolves both columns to the same
    earliest marketing row.

    Cross-engine exactness: integer microseconds end-to-end."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_touch = F.col("event_type").isin("view", "click")
    ordered = e.select(
        "event_id", "user_id", "ts", "event_type",
        F.first(F.when(is_touch, F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("touch_ts"),
        F.first(F.when(is_touch, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("touch_channel"),
    )
    return ordered.where(
        (F.col("event_type") == "purchase") & F.col("touch_ts").isNotNull()
    ).select(
        "event_id", "user_id", "ts", "touch_ts", "touch_channel",
        (F.unix_micros("ts") - F.unix_micros("touch_ts"))
        .cast("bigint")
        .alias("gap_us"),
    )


# Robust anomaly flagging: |x - median| > 3 * 1.4826 * MAD, stated as
# the integer cross-multiplication 10000*|x - med| > 44478*MAD.
_MAD_K_E4 = 44_478


@query(
    "ts_robust_mad_anomalies",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ),
    med AS (
        SELECT event_type, x,
               row_number() OVER (PARTITION BY event_type ORDER BY x, day)
                   AS rk,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM daily
    ),
    m AS (
        SELECT event_type, CAST(x AS BIGINT) AS med
        FROM med WHERE rk = (n + 1) // 2
    ),
    absdev AS (
        SELECT d.event_type, d.day, d.x, m.med,
               abs(d.x - m.med) AS ad
        FROM daily d JOIN m ON m.event_type = d.event_type
    ),
    madr AS (
        SELECT event_type, ad,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY ad, day) AS rk,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM absdev
    ),
    mad AS (
        SELECT event_type, CAST(ad AS BIGINT) AS mad
        FROM madr WHERE rk = (n + 1) // 2
    )
    SELECT a.event_type,
           CAST(epoch(a.day) AS BIGINT) // 86400 AS day_epoch,
           a.x, a.med, mad.mad,
           CAST(CASE WHEN a.x > a.med THEN 1 ELSE -1 END AS BIGINT)
               AS direction
    FROM absdev a JOIN mad ON mad.event_type = a.event_type
    WHERE 10000 * a.ad > {_MAD_K_E4} * mad.mad
    ORDER BY a.event_type, day_epoch
    """,
    tags=("timeseries", "anomaly", "robust", "mad", "engine-addition"),
)
def ts_robust_mad_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection via median/MAD — what ts_anomaly_zscore
    should be when the anomalies themselves poison the baseline: a
    single outlier moves the mean and inflates sigma (masking), but
    barely moves the median or the median-absolute-deviation. A day
    flags when |x - median| > 3 * 1.4826 * MAD, stated division- and
    float-free as 10000*|dev| > 44478*MAD (1.4826 pinned at e4).
    Both medians are exact lower-median rank selections with
    deterministic tie-break by day.

    Scale shape: daily rollup, two per-series rank selections (the
    windows run over the per-series daily table, co-partitioned),
    one broadcast-sized join back."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.expr("CAST(ts AS DATE)").alias("day"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
        .transform(materialize)  # read 3x: median, absdev, flags
    )

    def lower_median(df, val, order_tiebreak):
        wv = Window.partitionBy("event_type").orderBy(val, order_tiebreak)
        wc = Window.partitionBy("event_type")
        return (
            df.withColumn("rk", F.row_number().over(wv))
            .withColumn("n", F.count(F.lit(1)).over(wc))
            .where(F.expr("rk = (n + 1) div 2"))
        )

    m = lower_median(daily, "x", "day").select(
        "event_type", F.col("x").cast("bigint").alias("med")
    )
    absdev = daily.join(F.broadcast(m), "event_type").select(
        "event_type", "day", "x", "med",
        F.abs(F.col("x") - F.col("med")).alias("ad"),
    )
    mad = lower_median(absdev, "ad", "day").select(
        "event_type", F.col("ad").cast("bigint").alias("mad")
    )
    return (
        absdev.join(F.broadcast(mad), "event_type")
        .where(F.expr(f"10000 * ad > {_MAD_K_E4} * mad"))
        .selectExpr(
            "event_type",
            "CAST(unix_date(day) AS BIGINT) AS day_epoch",
            "x", "med", "mad",
            "CAST(CASE WHEN x > med THEN 1 ELSE -1 END AS BIGINT)"
            " AS direction",
        )
        .orderBy("event_type", "day_epoch")
    )


@query(
    "ts_paa_sax",
    oracle=f"""
    WITH s AS (
        SELECT event_type,
               CAST(CAST({_FV_SQL} AS DECIMAL(18,6)) * 1000000 AS BIGINT)
                   AS v_e6,
               row_number() OVER (
                   PARTITION BY event_type ORDER BY ts, event_id) AS rn
        FROM events
    ),
    paa AS (
        SELECT event_type, (rn - 1) // 16 AS seg,
               CAST(count(*) AS BIGINT) AS n_pts,
               CAST(sum(v_e6) // count(*) AS BIGINT) AS paa_e6
        FROM s GROUP BY 1, 2
    ),
    sym AS (
        SELECT event_type, seg, n_pts, paa_e6,
               CASE ntile(4) OVER (
                        PARTITION BY event_type ORDER BY paa_e6, seg)
                    WHEN 1 THEN 'a' WHEN 2 THEN 'b'
                    WHEN 3 THEN 'c' ELSE 'd' END AS sax
        FROM paa
    ),
    rle AS (
        SELECT event_type, seg, sax,
               lag(sax) OVER (PARTITION BY event_type ORDER BY seg) AS prev
        FROM sym
    )
    SELECT s.event_type,
           CAST(sum(s.n_pts) AS BIGINT) AS n_points,
           CAST(count(*) AS BIGINT) AS n_segments,
           string_agg(s.sax, '' ORDER BY s.seg) AS sax_word,
           (SELECT string_agg(r.sax, '' ORDER BY r.seg)
            FROM rle r
            WHERE r.event_type = s.event_type
              AND (r.prev IS NULL OR r.prev <> r.sax)) AS sax_rle
    FROM sym s
    GROUP BY s.event_type
    ORDER BY s.event_type
    """,
    tags=("timeseries", "sax", "motif", "engine-addition"),
)
def ts_paa_sax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAA + SAX symbolization (Lin/Keogh) — the classic time-series
    fingerprint: each series is Piecewise-Aggregate-Approximated into
    16-point segment means, each mean becomes one of 4 symbols, and
    the per-series SAX word (plus its run-length collapse) is the
    motif/novelty key that indexes, dedups and searches series at
    corpus scale. Exactness: segment means are integer-micro sums with
    toward-zero division (both engines truncate); symbols come from
    NTILE(4) over the exact means with a (paa, seg) total order —
    equal-frequency SAX, so no float breakpoints exist anywhere.

    Scale shape: one per-series window for row numbering, one
    map-side-combinable segment aggregate (16x reduction), then all
    remaining state is segment-scale (|series| * |segments| rows).
    The per-series ORDER BY windows run on the COLLAPSED series —
    the raw scan is touched exactly once."""
    e = load_table(spark, sf_dir, "events")
    s = e.select(
        "event_type",
        (_fv().cast("decimal(18,6)") * 1000000)
        .cast("bigint")
        .alias("v_e6"),
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("ts", "event_id"))
        .alias("rn"),
    )
    paa = (
        s.withColumn("seg", F.expr("(rn - 1) div 16"))
        .groupBy("event_type", "seg")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pts"),
            F.expr("CAST(sum(v_e6) div count(*) AS BIGINT)").alias("paa_e6"),
        )
    )
    sym = paa.withColumn(
        "sax",
        F.expr(
            "CASE ntile(4) OVER (PARTITION BY event_type"
            " ORDER BY paa_e6, seg)"
            " WHEN 1 THEN 'a' WHEN 2 THEN 'b' WHEN 3 THEN 'c'"
            " ELSE 'd' END"
        ),
    ).transform(materialize)  # word + rle both read the symbol table
    word = sym.groupBy("event_type").agg(
        F.sum("n_pts").cast("bigint").alias("n_points"),
        F.count(F.lit(1)).cast("bigint").alias("n_segments"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg", "sax"))),
                lambda x: x["sax"],
            ),
            "",
        ).alias("sax_word"),
    )
    rle = (
        sym.withColumn(
            "prev",
            F.lag("sax").over(
                Window.partitionBy("event_type").orderBy("seg")
            ),
        )
        .where(F.col("prev").isNull() | (F.col("prev") != F.col("sax")))
        .groupBy("event_type")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("seg", "sax"))),
                    lambda x: x["sax"],
                ),
                "",
            ).alias("sax_rle")
        )
    )
    return word.join(rle, "event_type").orderBy("event_type")
