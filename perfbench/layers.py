"""Per-layer metrics of the traced pass.

``instrument`` wraps, from the benchmark's side, the calls that cross
into the layers the engine itself does not report: corpus reads
(``tables.table`` and ``spark.read.parquet``) and file sinks
(``DataFrameWriter.parquet``/``csv``). Each wrapper records a span and
runs the call under its own job group, so the event log attributes the
call's jobs to it. ``profile`` turns spans, event-log counters and the
captured streaming progress into the metrics named in ``BENCHMARK.json``.
"""

from __future__ import annotations

import contextlib
import functools
import statistics
import sys

PKG = "reddit_data_engineering_project_spark"


def short_module(module: str) -> str:
    """``operators.dedup`` for the package's ``...operators.dedup``."""
    return module[len(PKG) + 1 :] if module.startswith(PKG + ".") else module


def query_modules(names: list[str]) -> list[str]:
    """Short module names (``operators.dedup``) of registered entries."""
    from reddit_data_engineering_project_spark.registry import (
        QUERIES,
        load_all_operators,
    )

    load_all_operators()
    return sorted({short_module(QUERIES[n].__module__) for n in names})


def _swap_group(sc, suffix: str):
    """Point the operation's job group at ``suffix``; groups the engine
    set itself (a streaming query's run id) are left alone."""
    prev = sc.getLocalProperty("spark.jobGroup.id")
    if prev and "|" in prev:
        sc.setLocalProperty(
            "spark.jobGroup.id", prev.rsplit("|", 1)[0] + "|" + suffix
        )
    return prev


@contextlib.contextmanager
def instrument(bench):
    """Wrap corpus reads, file sinks and streaming starts for the
    duration of the block."""
    from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from reddit_data_engineering_project_spark import tables

    tracer = bench.tracer
    sc = bench.spark.sparkContext

    def wrap(fn, span: str, suffix: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            prev = _swap_group(sc, suffix)
            try:
                with tracer.span(span):
                    return fn(*args, **kwargs)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", prev)

        return wrapper

    orig_table = tables.table
    table_w = wrap(orig_table, "tables.read", "read")
    patched = [
        (m, "table")
        for name, m in list(sys.modules.items())
        if name.startswith(PKG) and getattr(m, "table", None) is orig_table
    ]
    originals = {
        (DataFrameReader, "parquet"): DataFrameReader.parquet,
        (DataFrameWriter, "parquet"): DataFrameWriter.parquet,
        (DataFrameWriter, "csv"): DataFrameWriter.csv,
        (DataStreamWriter, "start"): DataStreamWriter.start,
    }

    def start(self, *args, **kwargs):
        # Micro-batch jobs run under the query's run id as job group;
        # remember which operation's group that id stands for.
        q = originals[(DataStreamWriter, "start")](self, *args, **kwargs)
        bench.streams.append(q)
        bench.stream_groups[str(q.runId)] = sc.getLocalProperty("spark.jobGroup.id")
        return q

    try:
        for m, attr in patched:
            setattr(m, attr, table_w)
        DataFrameReader.parquet = wrap(
            originals[(DataFrameReader, "parquet")], "tables.read", "read"
        )
        DataFrameWriter.parquet = wrap(
            originals[(DataFrameWriter, "parquet")], "sinks.write", "sink"
        )
        DataFrameWriter.csv = wrap(
            originals[(DataFrameWriter, "csv")], "sinks.write", "sink"
        )
        DataStreamWriter.start = start
        yield
    finally:
        for m, attr in patched:
            setattr(m, attr, orig_table)
        for (cls, attr), fn in originals.items():
            setattr(cls, attr, fn)


def _sum(log: dict, key: str, pred=lambda g: True, prefix: str = "pass|") -> float:
    return sum(c.get(key, 0.0) for g, c in log.items() if g.startswith(prefix) and pred(g))


def profile(bench, log: dict, traced_total_s: float, untraced_total_s: float) -> dict:
    """``{metric: (value, unit)}`` for every per-layer metric."""
    t = bench.tracer
    for run_id, group in bench.stream_groups.items():
        for k, v in log.pop(run_id, {}).items():
            c = log.setdefault(group, {})
            c[k] = max(c.get(k, 0.0), v) if k == "cache_peak_mem_bytes" else c.get(k, 0.0) + v
    is_query = bench.query_ops

    def phase(g: str) -> str:
        return g.rsplit("|", 1)[-1]

    def op_of(g: str) -> str:
        return g.split("|")[2]

    m: dict[str, tuple[float, str]] = {
        "session.build_s": (bench.first_build_s, "s"),
        "tables.read_calls": (t.count("tables.read", outermost=True), "count"),
        "tables.read_s": (t.total("tables.read"), "s"),
        "tables.read_jobs": (_sum(log, "jobs", lambda g: phase(g) == "read"), "count"),
        "registry.construct_s": (
            sum(t.total("construct", op=op) for op in is_query), "s"
        ),
        "registry.construct_jobs": (
            _sum(log, "jobs", lambda g: op_of(g) in is_query
                 and phase(g) in ("construct", "read")),
            "count",
        ),
        "registry.plan_analysis_s": (bench.plan_s["analysis"], "s"),
        "registry.plan_optimization_s": (bench.plan_s["optimization"], "s"),
        "registry.plan_planning_s": (bench.plan_s["planning"], "s"),
        "exec.s": (t.total("exec"), "s"),
        "exec.jobs": (_sum(log, "jobs"), "count"),
        "exec.stages": (_sum(log, "stages"), "count"),
        "exec.tasks": (_sum(log, "tasks"), "count"),
        "exec.task_run_s": (_sum(log, "task_run_ms") / 1e3, "s"),
        "exec.task_cpu_s": (_sum(log, "task_cpu_ns") / 1e9, "s"),
        "exec.gc_s": (_sum(log, "gc_ms") / 1e3, "s"),
        "exec.deserialize_s": (_sum(log, "deserialize_ms") / 1e3, "s"),
        "exec.input_bytes": (_sum(log, "input_bytes"), "bytes"),
        "exec.shuffle_read_bytes": (
            _sum(log, "shuffle_remote_bytes") + _sum(log, "shuffle_local_bytes"),
            "bytes",
        ),
        "exec.shuffle_write_bytes": (_sum(log, "shuffle_write_bytes"), "bytes"),
        "exec.spill_bytes": (_sum(log, "disk_spill_bytes"), "bytes"),
        # Workers start in the session's first pass and are reused after it.
        "python.worker_boot_s": (
            _sum(log, "python_boot_ms", prefix="warm|") / 1e3, "s"
        ),
        "python.worker_init_s": (_sum(log, "python_init_ms") / 1e3, "s"),
        "python.exec_s": (_sum(log, "python_run_ms") / 1e3, "s"),
        "cache.peak_mem_bytes": (
            max([c.get("cache_peak_mem_bytes", 0.0) for g, c in log.items()
                 if g.startswith("pass|")] or [0.0]),
            "bytes",
        ),
        "cache.blocks_dropped": (_sum(log, "cache_blocks_dropped"), "count"),
        "jvm.peak_rss_mb": (bench.traced_peak_rss_mb, "MB"),
        "pipeline.run_s": (t.total("op", module="pipeline"), "s"),
        "pipeline.rows": (bench.pipeline_rows, "count"),
        "sinks.write_s": (t.total("sinks.write"), "s"),
        "sinks.files_written": (_sum(log, "files_written"), "count"),
        "sinks.bytes_written": (_sum(log, "bytes_written"), "bytes"),
        "upsert.merge_s": (t.total("op", module="operators.upsert"), "s"),
        "tracing.overhead_s": (traced_total_s - untraced_total_s, "s"),
    }
    m.update(stream_metrics(bench.streams))
    for mod in bench.all_modules:
        ops = [op for op, om in is_query.items() if om == mod]
        m[f"{mod}.construct_s"] = (sum(t.total("construct", op=op) for op in ops), "s")
        m[f"{mod}.exec_s"] = (sum(t.total("exec", op=op) for op in ops), "s")
        m[f"{mod}.jobs"] = (_sum(log, "jobs", lambda g: op_of(g) in ops), "count")
    return m


def stream_metrics(queries: list) -> dict[str, tuple[float, str]]:
    """Micro-batch counters from the captured queries' ``recentProgress``."""
    progress = [p for q in queries for p in q.recentProgress]
    trig = [p.durationMs.get("triggerExecution", 0) for p in progress]
    return {
        "streaming.batches": (len(progress), "count"),
        "streaming.batch_p50_ms": (statistics.median(trig) if trig else 0.0, "ms"),
        "streaming.commit_ms": (
            sum(
                p.durationMs.get("commitOffsets", 0) + p.durationMs.get("walCommit", 0)
                for p in progress
            ),
            "ms",
        ),
        "streaming.state_rows": (
            max(
                [s.numRowsTotal for p in progress for s in p.stateOperators] or [0]
            ),
            "count",
        ),
    }
