"""Layered benchmark for the spark-graft engine.

    python3 perfbench/run.py --workload {floor,ingest} --seed N \\
        --seconds S --trace {0,1}

Run from the root of a source checkout. One caller in one process drives
the engine through its public functions (``session.get_spark``, the
``registry.QUERIES`` callables plus an action, ``pipeline.run_pipeline``,
``operators.upsert.upsert_parquet`` and
``streaming.runner.run_tumbling_stream``) on ``local[$(nproc)]``. The load
is a closed loop: each operation starts when the previous one finished.

A run builds the session and stages its seeded inputs, runs one untimed
pass that verifies every output (the JVM's cold pass), one more untimed
warm pass, then repeats whole passes over the workload's operations until
``--seconds`` have elapsed, with ``spark.catalog.clearCache()`` after every
operation and a fresh directory for every pass's outputs. ``setup_s`` is
session build, staging and the warm pass; the verifying pass is not part
of it. ``--trace 1`` then rebuilds the session with Spark's event log on,
runs one warm and one traced pass, and reports the per-layer profile
instead of the end-to-end metrics.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.
Everything the run writes lives under ``.perfbench_work/`` in the
checkout and is deleted at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import signal
import statistics
import sys
import time
from dataclasses import dataclass
from typing import Callable

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import corpus  # noqa: E402
import layers  # noqa: E402
import tracing  # noqa: E402

#: ``floor``: ten registered entries at sf0.001, one from each of ten
#: families (each the cheap end of its family on a 4-core host) spread
#: over the query-registering modules, so a pass is dominated by
#: fixed costs (DataFrame building, schema-inference reads, planning, job
#: scheduling, Python worker start) rather than data.
#: ``x02_containment_pairs`` persists its shingle table, so the pass also
#: holds persisted intermediates.
FLOOR = (
    "pipeline_topk_window q03_filter_predicates q07_corr_exact_moments "
    "q10_join_semi q20_map_in_arrow q21_event_transitions q22_cusum_drift "
    "s01_tumbling_window x02_containment_pairs x04_hash_sample"
).split()
FLOOR_SF = 0.001

#: ``ingest``: the reference's own job, sinks beside reads.
INGEST_POSTS = 20_000  # raw posts per pipeline run
INGEST_SF = 0.01  # events staged as stream source files
INGEST_STREAM_FILES = 1  # one micro-batch each (maxFilesPerTrigger=1)
INGEST_TOPK = 100

WORKLOADS = ("floor", "ingest")
#: Untimed passes after the verifying pass: on a 4-core host the first
#: pass after it still runs 5-25% slower while the JVM finishes compiling.
WARM_PASSES = 1


#: ``ingest`` operations, in their fixed order: the re-apply follows the
#: increment it repeats.
INGEST = (
    "pipeline_full",
    f"pipeline_top{INGEST_TOPK}",
    "upsert_increment",
    "upsert_reapply",
    "stream_tumbling",
)


def workload_plan(workload: str, seed: int) -> list[str]:
    """The workload's operations in the order ``seed`` gives them."""
    if workload == "ingest":
        return list(INGEST)
    names = list(FLOOR)
    random.Random(seed).shuffle(names)
    return names


@dataclass
class Op:
    """One operation. A registered query's ``build(out_dir)`` returns the
    DataFrame the ``noop`` action executes; a ``call`` runs its own sink
    into ``out_dir`` and returns nothing."""

    name: str
    module: str
    build: Callable[[str], object]
    input_rows: int = 0
    call: bool = False


def end_to_end(
    setup_s: float,
    passes: list[float],
    latencies: list[float],
    rows: int,
) -> dict[str, tuple[float, str]]:
    """The end-to-end metrics of one untraced run: medians over its timed
    passes and over every operation of them."""
    total_s = statistics.median(passes)
    return {
        "setup_s": (setup_s, "s"),
        "total_s": (total_s, "s"),
        "op_p50_s": (statistics.median(latencies), "s"),
        "rows_per_s": (rows / total_s, "rows/s"),
    }


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, traced: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.work = os.path.join(
            ROOT, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}"
        )
        self.stage_dir = os.path.join(self.work, "stage")
        self.staged: dict = {}
        self.tracer: tracing.Tracer = tracing.NullTracer()
        self.spark = None
        self.attempted = 0
        self.failures: list[str] = []
        self.pass_no = 0
        self.group_prefix: str | None = None
        self.plan_s = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
        self.streams: list = []  # every streaming query the run started
        self.stream_groups: dict[str, str] = {}  # query run id -> job group
        self.pipeline_rows = 0  # rows run_pipeline reported written
        self.traced_peak_rss_mb = 0.0
        self.first_build_s = 0.0
        self.query_ops: dict[str, str] = {}  # registered entry -> module
        self.all_modules: list[str] = []

    # ---- environment and session -------------------------------------

    def prepare_env(self) -> None:
        """Keep every file Spark, the JVM and Python write in the work dir."""
        for d in ("tmp", "spark-local", "warehouse", "eventlog"):
            os.makedirs(os.path.join(self.work, d), exist_ok=True)
        cpus = str(len(os.sched_getaffinity(0)))
        tmp = os.path.join(self.work, "tmp")
        os.environ.update(
            {
                "SPARK_GRAFT_CPUS": cpus,
                "TMPDIR": tmp,
                "SPARK_LOCAL_DIRS": os.path.join(self.work, "spark-local"),
                "PYTHONPATH": os.pathsep.join(
                    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
                ),
                "PYSPARK_SUBMIT_ARGS": (
                    f"--driver-java-options -Djava.io.tmpdir={tmp} "
                    f"--conf spark.ui.showConsoleProgress=false "
                    f"--conf spark.sql.warehouse.dir="
                    f"{os.path.join(self.work, 'warehouse')} pyspark-shell"
                ),
            }
        )
        import tempfile

        tempfile.tempdir = None
        sys.path.insert(0, ROOT)

    def build_session(self, event_log: bool = False):
        from pyspark import SparkContext

        from reddit_data_engineering_project_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        if event_log:
            jvm = SparkContext._jvm
            for k, v in tracing.event_log_confs(
                os.path.join(self.work, "eventlog")
            ).items():
                jvm.java.lang.System.setProperty(k, v)
        t0 = time.perf_counter()
        self.spark = get_spark(app_name=f"perfbench-{self.workload}")
        if not self.first_build_s:
            self.first_build_s = time.perf_counter() - t0
        return self.spark

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def reset_peak_rss(self) -> None:
        """Start the peak-RSS window at the timed passes, from a collected
        heap, so the peak reflects what they need."""
        self.spark._jvm.java.lang.System.gc()
        try:
            with open(f"/proc/{self.jvm_pid()}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            pass  # peak then covers the whole process lifetime

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid()}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM not reported")

    def close(self) -> None:
        from pyspark import SparkContext

        try:
            if self.spark is not None:
                self.spark.stop()
            gw = SparkContext._gateway
            if gw is not None:
                proc = getattr(gw, "proc", None)
                gw.shutdown()
                if proc is not None:
                    proc.stdin.close()
                    try:
                        proc.wait(timeout=30)
                    except Exception:
                        proc.kill()
                        proc.wait()
        finally:
            shutil.rmtree(self.work, ignore_errors=True)
            parent = os.path.dirname(self.work)
            if os.path.isdir(parent) and not os.listdir(parent):
                os.rmdir(parent)

    # ---- inputs ----------------------------------------------------------

    def stage(self) -> dict:
        """Write the workload's seeded inputs; returns their locations."""
        os.makedirs(self.stage_dir, exist_ok=True)
        if self.workload == "floor":
            sf_dir = os.path.join(self.stage_dir, f"sf{FLOOR_SF}")
            corpus.write_corpus(sf_dir, FLOOR_SF, self.seed)
            self.staged = {"sf_dir": sf_dir}
        else:
            self.staged = stage_ingest(self.stage_dir, self.seed)
        return self.staged

    def prepare_outputs(self, pass_dir: str) -> None:
        """Create a pass's output directory with what its operations
        expect to find there: ``ingest`` upserts into a fresh copy of the
        staged base table. Not part of any timed span."""
        os.makedirs(pass_dir)
        if self.workload == "ingest":
            shutil.copytree(self.staged["upsert_base"], upsert_target(pass_dir))

    def ops(self, staged: dict) -> list[Op]:
        from reddit_data_engineering_project_spark.registry import (
            QUERIES,
            load_all_operators,
        )

        load_all_operators()
        spark = self.spark
        if self.workload == "ingest":
            return ingest_ops(self, staged)
        sf_dir = staged["sf_dir"]
        ops = [
            Op(n, layers.short_module(QUERIES[n].__module__),
               lambda d, n=n: QUERIES[n](spark, sf_dir),
               staged.get("rows", {}).get(n, 0))
            for n in workload_plan(self.workload, self.seed)
        ]
        self.query_ops = {op.name: op.module for op in ops}
        return ops

    # ---- the timing loop ---------------------------------------------------

    def _group(self, *parts) -> None:
        if self.group_prefix is not None:
            self.spark.sparkContext.setLocalProperty(
                "spark.jobGroup.id", "|".join([self.group_prefix, *map(str, parts)])
            )

    def run_op(self, op: Op, idx: int, pass_dir: str) -> float | None:
        """Build plus action of one operation; its latency, or None when
        it raised (counted as a failure)."""
        self.attempted += 1
        out_dir = os.path.join(pass_dir, f"{idx:02d}-{op.name}")
        t0 = time.perf_counter()
        try:
            with self.tracer.span("op", op=op.name, module=op.module):
                if op.call:
                    self._group(idx, op.name, "exec")
                    with self.tracer.span("exec", op=op.name, module=op.module):
                        op.build(out_dir)
                else:
                    self._group(idx, op.name, "construct")
                    with self.tracer.span("construct", op=op.name, module=op.module):
                        df = op.build(out_dir)
                    if self.group_prefix == "pass":
                        self.record_plan(df)
                    self._group(idx, op.name, "exec")
                    with self.tracer.span("exec", op=op.name, module=op.module):
                        df.write.mode("overwrite").format("noop").save()
            return time.perf_counter() - t0
        except Exception as exc:  # keep measuring the rest; counted below
            self.failures.append(f"{op.name}: {type(exc).__name__}: {exc}"[:300])
            return None
        finally:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            self.spark.catalog.clearCache()

    def record_plan(self, df) -> None:
        """Analysis, optimization and planning time from the DataFrame's
        ``QueryPlanningTracker`` (planning it here is part of the traced
        run's overhead; the action plans again)."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        for name in self.plan_s:
            opt = phases.get(name)
            if opt.isDefined():
                self.plan_s[name] += opt.get().durationMs() / 1000.0

    def run_pass(self, ops: list[Op], latencies: list[float]) -> float:
        pass_dir = os.path.join(self.work, f"pass-{self.pass_no}")
        self.prepare_outputs(pass_dir)
        t0 = time.perf_counter()
        for idx, op in enumerate(ops):
            lat = self.run_op(op, idx, pass_dir)
            if lat is not None:
                latencies.append(lat)
                print(f"pass {self.pass_no} {op.name} {lat:.3f} s", file=sys.stderr)
        elapsed = time.perf_counter() - t0
        shutil.rmtree(pass_dir, ignore_errors=True)
        self.pass_no += 1
        return elapsed

    def measure(self, ops: list[Op]) -> tuple[list[float], list[float]]:
        """Whole passes until ``seconds`` have elapsed (at least one)."""
        passes: list[float] = []
        latencies: list[float] = []
        t0 = time.perf_counter()
        while not passes or time.perf_counter() - t0 < self.seconds:
            passes.append(self.run_pass(ops, latencies))
        return passes, latencies

    # ---- verification --------------------------------------------------------

    def verify(self, staged: dict, ops: list[Op]) -> None:
        """The untimed check; each failure is counted in ``failed``."""
        import verify

        if self.workload == "floor":
            n, bad = verify.oracle_failures(
                self.spark, staged["sf_dir"], [op.name for op in ops]
            )
        else:
            n, bad = verify_ingest(self, staged)
        self.attempted += n
        self.failures.extend(bad)

    # ---- the run ---------------------------------------------------------------

    def run(self) -> dict:
        self.prepare_env()
        t0 = time.perf_counter()
        self.build_session()
        staged = self.stage()
        ops = self.ops(staged)
        t_verify = time.perf_counter()
        with capture(self, staged):
            self.verify(staged, ops)  # the first, cold pass: every output checked
        verify_s = time.perf_counter() - t_verify
        ops = self.ops(staged)  # input rows learned while verifying
        t_warm = time.perf_counter()
        for _ in range(WARM_PASSES):
            self.run_pass(ops, [])
        warm_s = time.perf_counter() - t_warm
        setup_s = t_verify - t0 + warm_s
        print(
            f"setup: session {self.first_build_s:.2f} s, staging "
            f"{t_verify - t0 - self.first_build_s:.2f} s, warm passes "
            f"{warm_s:.2f} s (verifying pass {verify_s:.2f} s, not counted)",
            file=sys.stderr,
        )
        passes, latencies = self.measure(ops)
        if self.traced:
            metrics = self.traced_profile(staged, statistics.median(passes))
        else:
            metrics = end_to_end(
                setup_s, passes, latencies, sum(op.input_rows for op in ops)
            )
            print(
                f"perfbench {self.workload} seed={self.seed}: {len(passes)} "
                f"passes, {len(latencies)} operations; failed_frac="
                f"{len(self.failures) / max(1, self.attempted):.4f}"
            )
        for f in self.failures:
            print(f"FAILED {f}", file=sys.stderr)
        return {
            "correct": not self.failures,
            "attempted": self.attempted,
            "failed": len(self.failures),
            "metrics": {
                k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
            },
        }

    def traced_profile(self, staged: dict, untraced_total_s: float) -> dict:
        """Rebuild the session with the event log on; one warm pass, then
        one traced pass whose spans and log slice give the layer metrics."""
        self.all_modules = layers.query_modules(FLOOR)
        self.build_session(event_log=True)
        ops = self.ops(staged)
        self.group_prefix = "warm"
        self.run_pass(ops, [])
        self.tracer = tracing.Tracer()
        self.plan_s = dict.fromkeys(self.plan_s, 0.0)
        self.streams.clear()
        self.stream_groups.clear()
        self.pipeline_rows = 0
        self.group_prefix = "pass"
        self.reset_peak_rss()
        with layers.instrument(self):
            traced_total_s = self.run_pass(ops, [])
        self.traced_peak_rss_mb = self.peak_rss_mb()
        self.spark.stop()
        self.spark = None
        log = tracing.read_event_log(
            tracing.find_event_log(os.path.join(self.work, "eventlog"))
        )
        self.tracer.dump(os.path.join(self.work, "spans.json"))
        return layers.profile(self, log, traced_total_s, untraced_total_s)


@contextlib.contextmanager
def capture(bench: Bench, staged: dict):
    """While verifying: record which corpus files each registered entry
    reads (its input rows) and every streaming query started."""
    import pyarrow.parquet as pq
    from pyspark.sql.readwriter import DataFrameReader
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from reddit_data_engineering_project_spark import registry

    sf_dir = staged.get("sf_dir")
    files = (
        {f: pq.ParquetFile(os.path.join(sf_dir, f)).metadata.num_rows
         for f in os.listdir(sf_dir)}
        if sf_dir else {}
    )
    current: list[str] = []
    reads: dict[str, set[str]] = {}
    orig_read, orig_start = DataFrameReader.parquet, DataStreamWriter.start
    orig_queries = dict(registry.QUERIES)

    def parquet(self, *paths, **kw):
        if current:
            reads.setdefault(current[-1], set()).update(
                os.path.basename(str(p).rstrip("/")) for p in paths
            )
        return orig_read(self, *paths, **kw)

    def start(self, *args, **kw):
        q = orig_start(self, *args, **kw)
        bench.streams.append(q)
        return q

    def recording(name, fn):
        def wrapper(spark, sf):
            current.append(name)
            try:
                return fn(spark, sf)
            finally:
                current.pop()

        return wrapper

    DataFrameReader.parquet = parquet
    DataStreamWriter.start = start
    for name in bench.query_ops:
        registry.QUERIES[name] = recording(name, orig_queries[name])
    try:
        yield
    finally:
        DataFrameReader.parquet, DataStreamWriter.start = orig_read, orig_start
        registry.QUERIES.update(orig_queries)
        staged["rows"] = {
            **staged.get("rows", {}),
            **{n: sum(files.get(f, 0) for f in fs) for n, fs in reads.items()},
        }


# ---- ingest workload ---------------------------------------------------------


def stage_ingest(stage_dir: str, seed: int) -> dict:
    """Raw posts, an upsert base table and increment, and the stream's
    event files, all from ``seed``. The base is a day-partitioned parquet
    table that each pass copies into its own upsert target."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    paths = {
        "raw_posts": os.path.join(stage_dir, "raw_posts.parquet"),
        "upsert_base": os.path.join(stage_dir, "upsert_base"),
        "upsert_increment": os.path.join(stage_dir, "upsert_increment.parquet"),
        "events_dir": os.path.join(stage_dir, "events_sf"),
        "stream_src": os.path.join(stage_dir, "stream_src"),
    }
    os.makedirs(stage_dir, exist_ok=True)
    raw = corpus.raw_posts(INGEST_POSTS, seed)
    base, inc = corpus.upsert_batches(raw, seed)
    paths["rows"] = {
        "raw_posts": raw.num_rows,
        "upsert_base": base.num_rows,
        "upsert_increment": inc.num_rows,
        "upsert_result": len(
            set(base.column("id").to_pylist()) | set(inc.column("id").to_pylist())
        ),
    }
    events = corpus.corpus_tables(INGEST_SF, seed)["events"]
    paths["rows"]["events"] = events.num_rows
    pq.write_table(raw, paths["raw_posts"])
    pq.write_to_dataset(
        base, paths["upsert_base"], partition_cols=["ds"],
        basename_template="part-{i}.parquet",
    )
    pq.write_table(inc, paths["upsert_increment"])
    os.makedirs(paths["events_dir"])
    pq.write_table(events, os.path.join(paths["events_dir"], "events.parquet"))
    os.makedirs(paths["stream_src"])
    # UTC-adjusted timestamps read as Spark TIMESTAMP, the event-time
    # type a watermark needs.
    stream_events = events.set_column(
        1, "ts", events.column("ts").cast(pa.timestamp("us", tz="UTC"))
    )
    step = -(-events.num_rows // INGEST_STREAM_FILES)
    for i in range(INGEST_STREAM_FILES):
        pq.write_table(
            stream_events.slice(i * step, step),
            os.path.join(paths["stream_src"], f"part-{i:02d}.parquet"),
        )
    return paths


def upsert_target(pass_dir: str) -> str:
    """The parquet table a pass's two upsert operations write into."""
    return os.path.join(pass_dir, "upsert_target")


def ingest_ops(bench: Bench, staged: dict) -> list[Op]:
    from reddit_data_engineering_project_spark.operators.upsert import upsert_parquet
    from reddit_data_engineering_project_spark.pipeline import run_pipeline
    from reddit_data_engineering_project_spark.streaming.runner import (
        run_tumbling_stream,
    )

    spark = bench.spark
    rows = staged["rows"]

    def pipeline(limit: int | None):
        def build(d: str) -> None:
            raw = spark.read.parquet(staged["raw_posts"])
            bench.pipeline_rows += run_pipeline(spark, raw, d, limit=limit)

        return build

    def upsert(d: str) -> None:  # into the pass's copy of the base table
        batch = spark.read.parquet(staged["upsert_increment"])
        upsert_parquet(spark, batch, upsert_target(os.path.dirname(d)),
                       ["id"], "version", "ds")

    upsert_rows = rows["upsert_base"] + rows["upsert_increment"]

    return [
        Op("pipeline_full", "pipeline", pipeline(None), rows["raw_posts"], True),
        Op(f"pipeline_top{INGEST_TOPK}", "pipeline", pipeline(INGEST_TOPK),
           rows["raw_posts"], True),
        Op("upsert_increment", "operators.upsert", upsert, upsert_rows, True),
        Op("upsert_reapply", "operators.upsert", upsert, upsert_rows, True),
        Op("stream_tumbling", "streaming.runner",
           lambda d: run_tumbling_stream(
               spark, staged["stream_src"], os.path.join(d, "sink"),
               os.path.join(d, "checkpoint"),
           ),
           rows["events"], True),
    ]


def verify_ingest(bench: Bench, staged: dict) -> tuple[int, list[str]]:
    """One checked pass: CSV rows and golden values, the upserted table's
    row count, the second upsert apply leaves the table byte-for-byte
    identical, and the stream sink equals ``s01_tumbling_window`` over the
    same events."""
    import pyarrow.parquet as pq

    import verify

    ops = {op.name: op for op in ingest_ops(bench, staged)}
    d = os.path.join(bench.work, "verify")
    bad: list[str] = []
    checks = 0

    def run(name: str) -> str:
        out = os.path.join(d, name)
        ops[name].build(out)
        return out

    try:
        bench.prepare_outputs(d)
        for name, n, golden in (
            ("pipeline_full", staged["rows"]["raw_posts"], True),
            (f"pipeline_top{INGEST_TOPK}", INGEST_TOPK, False),
        ):
            checks += 1
            bad += verify.csv_failures(run(name), n, golden)
        run("upsert_increment")
        target = upsert_target(d)
        before = verify.table_bytes(target)
        n = pq.read_table(target).num_rows
        checks += 1
        if n != staged["rows"]["upsert_result"]:
            bad.append(f"upsert: {n} rows, expected {staged['rows']['upsert_result']}")
        run("upsert_reapply")
        checks += 1
        if verify.table_bytes(target) != before:
            bad.append("upsert: second apply of the increment changed the table")
        bench.streams.clear()
        out = run("stream_tumbling")
        checks += 1
        bad += verify.stream_failures(
            bench.spark, os.path.join(out, "sink"), staged["events_dir"],
            bench.streams[-1].lastProgress["eventTime"]["watermark"],
        )
    except Exception as exc:
        bad.append(f"ingest verification raised {type(exc).__name__}: {exc}"[:300])
    finally:
        bench.spark.catalog.clearCache()
        shutil.rmtree(d, ignore_errors=True)
    return max(checks, 1), bad


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, layers.PKG)):
        print(f"{layers.PKG} not found under {ROOT}: run from a source checkout",
              file=sys.stderr)
        return 2
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    # A terminated run still stops Spark and deletes its work directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = bench.run()
    finally:
        bench.close()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
