"""Reference-parity queries (SURVEY.md §2.1-§2.5, M1).

The reference's data surface is a weather-record pipeline: time-range
filter -> project/rename -> per-series grouping -> global summary aggs
(reference app.py:274-510), plus latest-record lookups (app.py:165-190,
:363) and a one-metric-at-a-time melt (app.py:328-334, :447-451).

Re-expressed here over the driver's ``events`` stream table with the
mapping from FIXTURES.md: ``ts -> producer_timestamp``,
``event_type -> location key``, ``value -> metric``. Every query is
fully declarative, so pushdown/pruning reach the parquet scan.

Determinism: the reference filters relative to ``now()``
(app.py:293-301); that is unreproducible, so every time-range here
anchors on ``max(ts)`` of the table itself — same shape, same
operators, stable output.
"""

from __future__ import annotations

from datetime import timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..data import load_table
from ..functions.numeric import davg, davg_sql, dsum, dsum_sql
from ..functions.ranges import TIME_RANGES
from ..registry import query


def _with_max_ts(events: DataFrame) -> DataFrame:
    """Attach the table-wide max(ts) as column ``mx``.

    The 1-row aggregate is broadcast — at any scale this is a cheap
    map-side join, never a shuffle of the big side.
    """
    mx = events.agg(F.max("ts").alias("mx"))
    return events.crossJoin(F.broadcast(mx))


@query(
    "ref_historical_view",
    oracle="""
    WITH anchor AS (SELECT max(ts) AS mx FROM events)
    SELECT e.ts AS timestamp,
           e.event_type AS location_name,
           e.value AS value,
           'value' AS metric_type,
           e.event_id AS event_id
    FROM events e, anchor a
    WHERE e.ts >= a.mx - INTERVAL 24 HOUR
    """,
    tags=("reference", "filter", "project"),
)
def ref_historical_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Historical pipeline core (reference app.py:274-341): time-range
    predicate (P9) + rename (P5) + projection (P6) + literal metric tag
    (P7), anchored at max(ts) - 24h."""
    events = load_table(spark, sf_dir, "events")
    return (
        _with_max_ts(events)
        .where(F.col("ts") >= F.col("mx") - F.expr("INTERVAL 24 HOURS"))
        .select(
            F.col("ts").alias("timestamp"),
            F.col("event_type").alias("location_name"),
            F.col("value").alias("value"),
            F.lit("value").alias("metric_type"),
            F.col("event_id").alias("event_id"),
        )
    )


# (UI label, lookback hours), in the reference's dropdown order.
_RANGES = tuple((lbl, d // timedelta(hours=1)) for lbl, d in TIME_RANGES.items())


@query(
    "ref_time_range_counts",
    oracle=f"""
    WITH anchor AS (SELECT max(ts) AS mx FROM events),
    wide AS (
        SELECT
        {", ".join(
            f"CAST(sum(CASE WHEN e.ts >= a.mx - to_hours({h}) THEN 1 ELSE 0 END) AS BIGINT) AS n_{lbl}, "
            f"CAST(sum(CASE WHEN e.ts >= a.mx - to_hours({h}) AND e.value IS NOT NULL "
            f"THEN 1 ELSE 0 END) AS BIGINT) AS v_{lbl}"
            for lbl, h in _RANGES
        )}
        FROM events e CROSS JOIN anchor a
    )
    SELECT u.range_label, u.n_rows, u.n_values
    FROM wide, LATERAL (VALUES
        {", ".join(f"('{lbl}', n_{lbl}, v_{lbl})" for lbl, _ in _RANGES)}
    ) AS u(range_label, n_rows, n_values)
    """,
    tags=("reference", "filter"),
)
def ref_time_range_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range predicate builder (P9, reference app.py:293-301):
    all four UI ranges {1h,24h,7d,30d} evaluated in one pass as
    conditional aggregates over a single scan — no range×events
    nested-loop join (the first formulation; BNLJ evaluated every
    range predicate per row pair and was the slowest query in the
    suite), then a 1-row unpivot back to (label, counts)."""
    events = load_table(spark, sf_dir, "events")
    mx = events.agg(F.max("ts").alias("mx"))
    wide = events.crossJoin(F.broadcast(mx)).agg(
        *[
            agg
            for lbl, h in _RANGES
            for agg in (
                F.sum(
                    F.when(
                        F.col("ts") >= F.col("mx") - F.expr(f"INTERVAL {h} HOURS"), 1
                    ).otherwise(0)
                ).alias(f"n_{lbl}"),
                F.sum(
                    F.when(
                        (F.col("ts") >= F.col("mx") - F.expr(f"INTERVAL {h} HOURS"))
                        & F.col("value").isNotNull(),
                        1,
                    ).otherwise(0)
                ).alias(f"v_{lbl}"),
            )
        ]
    )
    stack_args = ", ".join(f"'{lbl}', n_{lbl}, v_{lbl}" for lbl, _ in _RANGES)
    return wide.selectExpr(
        f"stack({len(_RANGES)}, {stack_args}) AS (range_label, n_rows, n_values)"
    )


@query(
    "ref_historical_summary",
    oracle=f"""
    WITH anchor AS (SELECT max(ts) AS mx FROM events),
    hist AS (
      SELECT e.* FROM events e, anchor a WHERE e.ts >= a.mx - INTERVAL 7 DAY
    )
    SELECT count(*) AS total_records,
           {davg_sql("value")} AS avg_value,
           max(value) AS max_value,
           min(value) AS min_value,
           strftime(min(ts), '%Y-%m-%d %H:%M') AS first_ts,
           strftime(max(ts), '%Y-%m-%d %H:%M') AS last_ts
    FROM hist
    """,
    tags=("reference", "agg"),
)
def ref_historical_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global summary block (A1-A5, reference app.py:488-498): count /
    avg / max / min over the filtered window plus formatted ts range."""
    events = load_table(spark, sf_dir, "events")
    return (
        _with_max_ts(events)
        .where(F.col("ts") >= F.col("mx") - F.expr("INTERVAL 7 DAYS"))
        .agg(
            F.count("*").alias("total_records"),
            davg("value").alias("avg_value"),
            F.max("value").alias("max_value"),
            F.min("value").alias("min_value"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm").alias("first_ts"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm").alias("last_ts"),
        )
    )


@query(
    "ref_grouped_summary",
    oracle=f"""
    SELECT event_type AS location_name,
           count(*) AS n,
           {davg_sql("value")} AS avg_value,
           min(value) AS min_value,
           max(value) AS max_value,
           min(ts) AS first_ts,
           max(ts) AS last_ts
    FROM events
    GROUP BY event_type
    """,
    tags=("reference", "agg", "groupby"),
)
def ref_grouped_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series summary (A6 generalized): the reference only groups
    visually (plotly color='location_name', app.py:402); here it is a
    real groupBy with the same aggregates as the summary block."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy(F.col("event_type").alias("location_name")).agg(
        F.count("*").alias("n"),
        davg("value").alias("avg_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


@query(
    "ref_latest_record",
    oracle="""
    SELECT event_id, ts, event_type, value
    FROM events
    ORDER BY ts DESC, event_id DESC
    LIMIT 1
    """,
    tags=("reference", "topk"),
)
def ref_latest_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-record point lookup (O2/O3, reference app.py:177/:363):
    top-1 by ts desc. Catalyst plans this as TakeOrderedAndProject —
    no global sort, per-partition top-1 then merge."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.select("event_id", "ts", "event_type", "value")
        .orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .limit(1)
    )


@query(
    "ref_latest_per_location",
    oracle="""
    SELECT event_type AS location_name, event_id, ts, value
    FROM (
      SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    WHERE rn = 1
    """,
    tags=("reference", "window", "topk"),
)
def ref_latest_per_location(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest record per series — the 'current conditions' card
    (reference app.py:373-390) done properly for every location at
    once: row_number over (series, ts desc)."""
    events = load_table(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        events.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("event_type").alias("location_name"), "event_id", "ts", "value"
        )
    )


@query(
    "ref_validated_rows",
    oracle=f"""
    SELECT count(*) AS n_valid,
           {dsum_sql("value")} AS sum_value
    FROM events
    WHERE ts IS NOT NULL AND value IS NOT NULL
      AND user_id IS NOT NULL AND event_type IS NOT NULL
    """,
    tags=("reference", "filter"),
)
def ref_validated_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-validation filter (P2/P3, reference app.py:251-265):
    required-field non-null gate, summarized."""
    events = load_table(spark, sf_dir, "events")
    valid = events.where(
        F.col("ts").isNotNull()
        & F.col("value").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
    )
    return valid.agg(F.count("*").alias("n_valid"), dsum("value").alias("sum_value"))


@query(
    "ref_metric_unpivot",
    oracle=f"""
    WITH melted AS (
      SELECT 'quantity' AS metric_type, l_quantity AS value FROM lineitem
      UNION ALL
      SELECT 'extendedprice', l_extendedprice FROM lineitem
      UNION ALL
      SELECT 'discount', l_discount FROM lineitem
    )
    SELECT metric_type, count(*) AS n, {davg_sql("value")} AS avg_value,
           min(value) AS min_value, max(value) AS max_value
    FROM melted
    GROUP BY metric_type
    """,
    tags=("reference", "unpivot"),
)
def ref_metric_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metric melt (P8, reference app.py:328-334/:447-451) generalized:
    the reference unpivots ONE chosen metric per query; this does all
    metrics at once via stack() and summarizes each."""
    li = load_table(spark, sf_dir, "lineitem")
    melted = li.select(
        F.expr(
            "stack(3, 'quantity', l_quantity,"
            " 'extendedprice', l_extendedprice,"
            " 'discount', l_discount) AS (metric_type, value)"
        )
    )
    return melted.groupBy("metric_type").agg(
        F.count("*").alias("n"),
        davg("value").alias("avg_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


@query(
    "ref_raw_table_page",
    oracle="""
    SELECT event_id, ts, event_type, value
    FROM events
    ORDER BY ts DESC, event_id DESC
    LIMIT 100
    """,
    tags=("reference", "sort", "limit"),
)
def ref_raw_table_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-data table, newest first (O4/O5, reference app.py:411-417):
    order by ts desc with a page limit."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.select("event_id", "ts", "event_type", "value")
        .orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .limit(100)
    )
