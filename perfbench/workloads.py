"""The benchmark's workloads, run against the engine's public entry
points: ``session.get_spark``, ``data.load_table``, ``registry.catalog()``
and ``streaming.pipeline``.

* ``dashboard`` -- the analyst's interactive mix: shuffled passes over
  reference-parity historical queries and sub-second analytics on a
  warm session. One op is one query.
* ``curation`` -- passes over the LLM-data jobs. The session cache is
  emptied at the start of every pass, so each pass pays its shared
  builds once. One op is one job.
* ``ingest`` -- the live pipeline: one micro-batch file of event values
  at a time goes through read_event_stream -> split_valid ->
  persist_stream (+ quarantine sink) -> maintain_latest_view -> one
  grouped summary over read_store. One op is one batch, timed from the
  file's creation to the summary that includes it returning.

All workloads are closed loops with one client. Outputs are checked
against DuckDB outside the timed loop (see ``gate_*``).
"""

from __future__ import annotations

import contextlib
import glob
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

from pyspark.sql import functions as F

from big_data_final_project_spark import data, session
from big_data_final_project_spark.functions.numeric import davg, davg_sql
from big_data_final_project_spark.operators import scale
from big_data_final_project_spark.registry import catalog
from big_data_final_project_spark.streaming import pipeline

import tracing

SETUPS = 3  # engine starts per run; setup_s is their median
# Untimed passes before timing, per workload: JIT compilation keeps the
# first passes markedly slower than the ones that follow them. After the
# collected pass and two warm-up passes, the first timed dashboard pass
# was still 10-70% slower than the next; ingest slows down more evenly.
# Curation passes are long, so it keeps one.
WARMUP_PASSES = {"dashboard": 3, "curation": 1, "ingest": 2}


class Run:
    """State of one benchmark run: the engine, the plan and the ops."""

    def __init__(self, plan: dict, work: str, seconds: float, trace: bool, corrupt: str | None):
        self.plan = plan
        self.tables = plan["tables"]
        self.work = work
        self.seconds = seconds
        self.corrupt = corrupt
        self.catalog = catalog()
        self.tracer = tracing.Tracer() if trace else None
        if self.tracer:
            tracing.install(self.tracer)
        self.spark = None
        self.jobs = None
        self.ops: list[dict] = []
        self.passes: list[dict] = []  # timed passes: {"s": seconds, "ok": ops completed}
        self.timed_s = 0.0
        self.warmup_s = 0.0
        self.setups: list[dict] = []
        self.checks: list[dict] = []
        self.extra: dict = {}
        # Initial heap = max heap: heap resizing made whole runs 15-30%
        # slower or faster at random (same seed, same code).
        heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
        tmp = os.environ["TMPDIR"]
        self.jvm_conf = {
            "spark.driver.extraJavaOptions": f"-Xms{heap} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        }

    # -- engine lifecycle -------------------------------------------------

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def start_engine(self) -> None:
        """Start the engine SETUPS times and keep the last session: the
        first start launches the JVM, later ones stop the session and
        start a new one in the same JVM. Each start gets a fresh temp
        dir, so loading the tables rebuilds the engine's ingest mirror."""
        for k in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
            tmp = os.path.join(self.work, "tmp", f"setup{k}")
            os.makedirs(tmp)
            tempfile.tempdir = tmp
            t0 = time.perf_counter()
            self.spark = session.get_spark(app_name="perfbench", extra_conf=self.jvm_conf)
            t1 = time.perf_counter()
            mirror_s = 0.0
            for name in data.TABLES:
                before = _entries(tmp)
                a = time.perf_counter()
                data.load_table(self.spark, self.tables, name).createOrReplaceTempView(name)
                if _entries(tmp) > before:
                    mirror_s += time.perf_counter() - a
            t2 = time.perf_counter()
            self.setups.append(
                {"session_s": t1 - t0, "load_s": t2 - t1, "mirror_s": mirror_s, "setup_s": t2 - t0}
            )
        if self.tracer:
            self.jobs = tracing.JobCounter(self.spark)

    def stop_engine(self) -> None:
        """Stop the session and the JVM; wait until the JVM has exited."""
        from pyspark import SparkContext

        spark, self.spark = self.spark, None
        gateway = SparkContext._gateway
        try:
            if spark is not None:
                spark.stop()
        finally:
            if gateway is not None:
                SparkContext._gateway = None
                SparkContext._jvm = None
                proc = getattr(gateway, "proc", None)
                with contextlib.suppress(Exception):
                    gateway.shutdown()
                if proc is not None:
                    proc.stdin.close()  # the JVM exits on EOF of its stdin
                    proc.wait(timeout=60)

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        return proc.pid if proc is not None else None

    def finish_timing(self) -> None:
        """Called right after the timed loop: read peak memory before the
        correctness gate adds its own."""
        self.extra["peak_rss_mb"] = (_vmhwm_kb("self") + _vmhwm_kb(self.jvm_pid())) / 1024

    # -- ops --------------------------------------------------------------

    def op(self, name: str, body) -> None:
        """Run one timed op; ``body`` returns a dict of extra fields."""
        i = len(self.ops)
        rec = {"name": name, "ok": False}
        if self.tracer:
            self.tracer.op_id = i
            self.jobs.start_op(i)
        t0 = time.perf_counter()
        try:
            with self.span("bench.op"):
                rec.update(body() or {})
            rec["ok"] = True
        except Exception:
            traceback.print_exc(file=sys.stderr)
        rec["ms"] = (time.perf_counter() - t0) * 1e3
        if self.tracer:
            self.tracer.op_id = None
            rec.update(self.jobs.end_op())
        self.ops.append(rec)

    def timed_pass(self, ops) -> None:
        """Run one timed pass of ``(name, body)`` ops and record it."""
        first = len(self.ops)
        t0 = time.perf_counter()
        for name, body in ops:
            self.op(name, body)
        self.passes.append(
            {"s": time.perf_counter() - t0, "ok": sum(o["ok"] for o in self.ops[first:])}
        )

    def query_op(self, name: str) -> None:
        with self.span("queries.build"):
            df = self.catalog[name].fn(self.spark, self.tables)
        with self.span("queries.execute"):
            df.write.format("noop").mode("overwrite").save()

    def warm_query(self, name: str):
        """Untimed warm-up run of one query, collected for the gate."""
        try:
            return self.catalog[name].fn(self.spark, self.tables).toPandas()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            return None

    # -- correctness ------------------------------------------------------

    def check(self, name: str, got, expected) -> None:
        from tests.oracle_utils import compare_frames

        if got is None:
            problems = ["no result"]
        else:
            if name == self.corrupt:
                got = got.iloc[:-1]
            problems = compare_frames(got, expected)
        self.checks.append({"name": name, "ok": not problems, "problems": problems[:3]})
        if problems:
            print(f"gate: {name}: {problems[:3]}", file=sys.stderr)

    def gate_queries(self, results: dict) -> None:
        from tests.oracle_utils import duck_connection

        con = duck_connection(self.tables)
        try:
            for name, got in results.items():
                try:
                    expected = con.execute(self.catalog[name].oracle).fetchdf()
                except Exception as exc:  # an oracle failure is a failed check
                    self.checks.append({"name": name, "ok": False, "problems": [repr(exc)]})
                    continue
                self.check(name, got, expected)
        finally:
            con.close()


def _vmhwm_kb(pid) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _entries(path: str) -> int:
    """Number of files and directories under ``path``, two levels deep."""
    return len(glob.glob(os.path.join(path, "*"))) + len(glob.glob(os.path.join(path, "*", "*")))


def _reset_session_cache() -> None:
    """Empty the engine's session cache so a pass pays its shared
    builds again (the same reset the root bench.py uses)."""
    for df in scale._SESSION_CACHE.values():
        try:
            df.unpersist(blocking=False)
        except Exception:
            pass
    scale._SESSION_CACHE.clear()


# -- dashboard / curation ----------------------------------------------------


def run_passes(run: Run, warmup_passes: int, reset_cache: bool) -> None:
    passes = run.plan["passes"]
    names = list(dict.fromkeys(n for p in passes for n in p))
    t0 = time.perf_counter()
    if reset_cache:
        _reset_session_cache()
    results = {name: run.warm_query(name) for name in names}
    for _ in range(warmup_passes):
        if reset_cache:
            _reset_session_cache()
        for name in names:
            if results[name] is not None:
                run.query_op(name)
    run.warmup_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    while not run.passes or time.perf_counter() - t0 < run.seconds:
        if reset_cache:
            _reset_session_cache()
        order = passes[len(run.passes) % len(passes)]
        run.timed_pass([(name, lambda name=name: run.query_op(name)) for name in order])
    run.timed_s = time.perf_counter() - t0
    run.finish_timing()
    run.gate_queries(results)


# -- ingest -------------------------------------------------------------------


def grouped_summary(df):
    """The analyst's per-series summary over the live store."""
    return df.groupBy("event_type").agg(
        F.count("*").alias("n"),
        davg("value").alias("avg_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


class Stream:
    """Fresh staging, store, view, quarantine and checkpoint dirs."""

    def __init__(self, base: str) -> None:
        for d in ("staging", "store", "view", "quarantine", "ckpt_store", "ckpt_view", "ckpt_q"):
            setattr(self, d, os.path.join(base, d))
        os.makedirs(self.staging)


def ingest_batch(run: Run, st: Stream, batch: dict) -> dict:
    spark = run.spark
    src = os.path.join(run.plan["spool"], batch["file"])
    hidden = os.path.join(st.staging, "." + batch["file"])
    shutil.copyfile(src, hidden)
    os.rename(hidden, os.path.join(st.staging, batch["file"]))
    parsed = pipeline.read_event_stream(spark, st.staging)
    valid, quarantine = pipeline.split_valid(parsed)
    pipeline.persist_stream(valid, st.store, st.ckpt_store)
    with run.span("streaming.quarantine"):
        (
            quarantine.writeStream.format("parquet")
            .option("path", st.quarantine)
            .option("checkpointLocation", st.ckpt_q)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    pipeline.maintain_latest_view(valid, st.view, st.ckpt_view)
    with run.span("streaming.store_query"):
        summary = grouped_summary(pipeline.read_store(spark, st.store)).toPandas()
    return {"summary": summary}


def run_ingest(run: Run, warmup_passes: int) -> None:
    """Untimed warm-up passes, then whole passes until the deadline;
    every pass streams all planned batches into a fresh store, so
    passes are alike however many fit."""
    batches = run.plan["batches"]
    t0 = time.perf_counter()
    for k in range(warmup_passes):
        warm = Stream(os.path.join(run.work, f"stream-warmup{k}"))
        for b in batches:
            ingest_batch(run, warm, b)
    run.warmup_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    while not run.passes or time.perf_counter() - t0 < run.seconds:
        st = Stream(os.path.join(run.work, f"stream-{len(run.passes)}"))
        # Op time runs from the batch file's creation (inside
        # ingest_batch) to its summary query returning.
        run.timed_pass(
            [(f"batch-{i}", lambda b=b: ingest_batch(run, st, b)) for i, b in enumerate(batches)]
        )
    run.timed_s = time.perf_counter() - t0
    run.finish_timing()

    store_files = glob.glob(os.path.join(st.store, "**", "*.parquet"), recursive=True)
    k = len(run.passes)
    run.extra.update(
        rows_per_s=k * sum(b["valid_rows"] for b in batches) / run.timed_s,
        store_files=len(store_files),
        store_bytes_per_input_byte=sum(os.path.getsize(f) for f in store_files)
        / sum(b["bytes"] for b in batches),
    )
    gate_ingest(run, st, batches)


def gate_ingest(run: Run, st: Stream, batches: list[dict]) -> None:
    """Check the last pass's store, quarantine, view and summary
    against DuckDB over the rows the load generator offered."""
    import duckdb
    import pandas as pd

    spark = run.spark
    offered = os.path.join(run.plan["spool"], "offered.parquet")
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW offered AS SELECT * EXCLUDE (batch) FROM read_parquet('{offered}')"
        )
        store_rows = pipeline.read_store(spark, st.store).count()
        quarantined = spark.read.parquet(st.quarantine).count()
        run.extra["quarantine_rows"] = quarantined
        run.check(
            "store_rows",
            pd.DataFrame({"rows": [store_rows]}),
            pd.DataFrame({"rows": [sum(b["valid_rows"] for b in batches)]}),
        )
        run.check(
            "quarantine_rows",
            pd.DataFrame({"rows": [quarantined]}),
            pd.DataFrame({"rows": [sum(b["malformed"] for b in batches)]}),
        )
        run.check(
            "latest_view",
            spark.read.parquet(st.view).toPandas(),
            con.execute(
                "SELECT * EXCLUDE (rn) FROM (SELECT *, row_number() OVER ("
                "PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn "
                "FROM offered) WHERE rn = 1"
            ).fetchdf(),
        )
        last = run.ops[-1].get("summary") if run.ops else None
        run.check(
            "grouped_summary",
            last,
            con.execute(
                f"SELECT event_type, count(*) AS n, {davg_sql('value')} AS avg_value, "
                "min(value) AS min_value, max(value) AS max_value, "
                "min(ts) AS first_ts, max(ts) AS last_ts FROM offered GROUP BY event_type"
            ).fetchdf(),
        )
    finally:
        con.close()


# -- metrics ------------------------------------------------------------------


def _completed_ms(run: Run) -> list[float]:
    ms = [o["ms"] for o in run.ops if o["ok"]]
    if not ms:
        raise RuntimeError("no op completed")
    return ms


def end_to_end(run: Run) -> dict:
    ms = _completed_ms(run)
    return {
        "setup_s": (statistics.median(s["setup_s"] for s in run.setups), "s"),
        "op_p50_ms": (statistics.median(ms), "ms"),
        # median over the timed passes: one stalled pass moves it little
        "ops_per_s": (statistics.median(p["ok"] / p["s"] for p in run.passes), "1/s"),
        "peak_rss_mb": (run.extra["peak_rss_mb"], "MB"),
    }


def report(run: Run) -> dict:
    """Everything measured, for the human reader (not the final line)."""
    ms = sorted(o["ms"] for o in run.ops if o["ok"])
    out = {
        "ops": len(run.ops),
        "failed_ops": sum(not o["ok"] for o in run.ops),
        "checks": len(run.checks),
        "failed_checks": [c["name"] for c in run.checks if not c["ok"]],
        "timed_s": run.timed_s,
        "warmup_s": run.warmup_s,
        "setups": run.setups,
        "passes": len(run.passes),
        "pass_s": [p["s"] for p in run.passes],
        **run.extra,
        "op_ms": [round(o["ms"], 1) for o in run.ops],
    }
    out["error_rate"] = (out["failed_ops"] + len(out["failed_checks"])) / max(
        1, len(run.ops) + len(run.checks)
    )
    if len(ms) >= 100:
        out["op_p90_ms"] = statistics.quantiles(ms, n=10)[-1]
    by_name: dict[str, list] = {}
    for o in run.ops:
        by_name.setdefault(o["name"], []).append(o["ms"])
    out["op_ms_by_name"] = {k: statistics.median(v) for k, v in by_name.items()}
    return out


def per_layer(run: Run) -> dict:
    """Per-layer metrics from the traced run; times are means per op,
    so the layers' self times add up to the mean op time."""
    t = run.tracer
    ops = [i for i, o in enumerate(run.ops) if o["ok"]]
    n = max(1, len(ops))
    keep = set(ops)
    spans = [s for s in t.spans if s["op"] in keep and "end" in s]

    def total(name):
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name) * 1e3 / n

    def calls(name):
        return sum(s["name"] == name for s in spans) / n

    selfs = tracing.self_times(t.spans)
    lookups = sum(s["name"] == "scale.session_cached" for s in spans)
    builds = sum(t.cache_builds[i] for i in ops)
    m = {
        "session.get_spark_s": (statistics.median(s["session_s"] for s in run.setups), "s"),
        "data.mirror_build_s": (statistics.median(s["mirror_s"] for s in run.setups), "s"),
        "data.load_table_calls": (calls("data.load_table"), "calls/op"),
        "data.load_table_ms": (total("data.load_table"), "ms/op"),
        "queries.build_ms": (total("queries.build"), "ms/op"),
        "queries.execute_ms": (total("queries.execute"), "ms/op"),
        "spark.jobs_per_op": (sum(run.ops[i]["jobs"] for i in ops) / n, "jobs/op"),
        "spark.stages_per_op": (sum(run.ops[i]["stages"] for i in ops) / n, "stages/op"),
        "spark.tasks_per_op": (sum(run.ops[i]["tasks"] for i in ops) / n, "tasks/op"),
        "spark.failed_tasks": (sum(run.ops[i]["failed_tasks"] for i in ops), "count"),
        "scale.materialize_calls": (calls("scale.materialize"), "calls/op"),
        "scale.materialize_ms": (total("scale.materialize"), "ms/op"),
        "scale.session_cache_lookups": (lookups / n, "calls/op"),
        "scale.session_cache_hit_ratio": ((lookups - builds) / lookups if lookups else 0.0, "ratio"),
        "scale.spread_calls": (calls("scale.spread"), "calls/op"),
        "streaming.persist_ms": (total("streaming.persist"), "ms/op"),
        "streaming.quarantine_ms": (total("streaming.quarantine"), "ms/op"),
        "streaming.latest_view_ms": (total("streaming.latest_view"), "ms/op"),
        "streaming.store_query_ms": (total("streaming.store_query"), "ms/op"),
        "streaming.store_files": (run.extra.get("store_files", 0), "count"),
        "streaming.store_bytes_per_input_byte": (
            run.extra.get("store_bytes_per_input_byte", 0.0),
            "ratio",
        ),
        "streaming.quarantine_rows": (run.extra.get("quarantine_rows", 0), "count"),
    }
    for layer in ("bench", "data", "queries", "scale", "streaming"):
        m[f"{layer}.self_ms"] = (sum(selfs.get((i, layer), 0.0) for i in ops) * 1e3 / n, "ms/op")
    m["trace.op_p50_ms"] = (statistics.median(_completed_ms(run)), "ms")
    m["trace.overhead_ms"] = (sum(t.bookkeeping_s.get(i, 0.0) for i in ops) * 1e3 / n, "ms/op")
    m["trace.ops"] = (len(ops), "count")
    return m
