"""Partition-layout and lineage-cut helpers (scale hygiene, SURVEY.md
§7 M6).

``spark.sql.files.maxPartitionBytes`` sizes scan partitions for
IO-bound work; CPU-heavy per-row operators (shingling, signature
hashing, per-pair similarity) on byte-small inputs then inherit a
single partition and run on one core. ``spread`` widens such a
DataFrame to at least the cluster's parallelism — and never *shrinks*
an already-wide input, so at real scale (thousands of scan
partitions) it is a no-op rather than a bottleneck.

``materialize`` is the one lineage cut every query module uses, and
``session_cached`` shares a materialized intermediate across the
queries of one session."""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialize(df: DataFrame) -> DataFrame:
    """Eagerly materialize ``df`` and cut its lineage:
    ``localCheckpoint(eager=True)``. A self-joined or iteratively
    re-read intermediate is then computed once, and the cut frame keeps
    the partitioning it was computed with. The blocks live in
    executor-local storage, so this is not fault-tolerant: an executor
    loss fails the job instead of recomputing the lost blocks.

    Used as ``df.transform(materialize)`` so call sites keep the
    method-chain shape the query code reads in.
    """
    return df.localCheckpoint(eager=True)


# Shared session-scoped intermediate-table cache (banded signatures,
# graph edge lists, cluster maps). Keyed by (applicationId, ...) since
# materialized frames die with the session — and ENTRIES FROM DEAD
# SESSIONS ARE EVICTED on the next access (VERDICT r4: the per-module
# dicts pinned checkpointed plans, and their executor-local blocks,
# for the whole process lifetime once a new session started).
_SESSION_CACHE: dict[tuple, DataFrame] = {}


def session_cached(spark, key: tuple, build) -> DataFrame:
    """Return the materialized frame for ``key`` within the CURRENT
    session, building (and materialize()-ing) it on first use; drops
    every entry belonging to a previous applicationId."""
    app = spark.sparkContext.applicationId
    stale = [k for k in _SESSION_CACHE if k[0] != app]
    for k in stale:
        del _SESSION_CACHE[k]
    full_key = (app, *key)
    if full_key not in _SESSION_CACHE:
        _SESSION_CACHE[full_key] = materialize(build())
    return _SESSION_CACHE[full_key]


def spread(df: DataFrame, *, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition up to max(current, cluster default
    parallelism). Explicit numPartitions on purpose: AQE's
    size-based coalescing would fold a byte-small shuffle back to one
    partition, defeating the point for CPU-bound stages."""
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    current = df.rdd.getNumPartitions()
    if current >= target:
        return df
    return df.repartition(target)
