"""Spans recorded around calls into the engine, and the Spark event log
sliced by job group.

Only the traced run uses this module. Spans live in memory (name, start,
end, parent) and are written out when the run ends. Spark's event log is
read after the traced session stops; every job carries the job group the
benchmark set around the call that launched it, so the log's counters
attribute to operations and layers without touching the engine.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict

#: Spark confs that turn the event log on; they apply at session build.
def event_log_confs(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.logBlockUpdates.enabled": "true",
    }


class Tracer:
    """In-memory spans: ``{"name", "start", "end", "parent", ...}``."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._open[-1] if self._open else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._open.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()

    def _select(self, name: str, outermost: bool, match: dict) -> list[dict]:
        """Closed spans called ``name`` whose attributes equal ``match``;
        with ``outermost`` a span nested in another span of the same name
        is left out, so nested calls are not counted twice."""
        by_id = {s["id"]: s for s in self.spans}

        def nested(s: dict) -> bool:
            p = s["parent"]
            while p is not None:
                if by_id[p]["name"] == name:
                    return True
                p = by_id[p]["parent"]
            return False

        return [
            s
            for s in self.spans
            if s["name"] == name
            and s["end"] is not None
            and all(s.get(k) == v for k, v in match.items())
            and not (outermost and nested(s))
        ]

    def total(self, name: str, outermost: bool = True, **match) -> float:
        """Summed duration of the selected spans."""
        return sum(
            s["end"] - s["start"] for s in self._select(name, outermost, match)
        )

    def count(self, name: str, outermost: bool = True, **match) -> int:
        return len(self._select(name, outermost, match))

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


class NullTracer(Tracer):
    """Untraced runs: spans cost nothing and record nothing."""

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield attrs


#: Task metrics summed per job group (event-log field paths).
_TASK_FIELDS = {
    "task_run_ms": ("Executor Run Time",),
    "task_cpu_ns": ("Executor CPU Time",),
    "gc_ms": ("JVM GC Time",),
    "deserialize_ms": ("Executor Deserialize Time",),
    "input_bytes": ("Input Metrics", "Bytes Read"),
    "shuffle_remote_bytes": ("Shuffle Read Metrics", "Remote Bytes Read"),
    "shuffle_local_bytes": ("Shuffle Read Metrics", "Local Bytes Read"),
    "shuffle_write_bytes": ("Shuffle Write Metrics", "Shuffle Bytes Written"),
    "mem_spill_bytes": ("Memory Bytes Spilled",),
    "disk_spill_bytes": ("Disk Bytes Spilled",),
}

#: SQL metrics summed per job group, by the name Spark gives them.
SQL_METRICS = {
    "time to start Python workers": "python_boot_ms",
    "time to initialize Python workers": "python_init_ms",
    "time to run Python workers": "python_run_ms",
    "number of written files": "files_written",
    "written output": "bytes_written",
}


def _dig(d: dict, path: tuple) -> float:
    for key in path:
        if not isinstance(d, dict) or key not in d:
            return 0
        d = d[key]
    return d if isinstance(d, (int, float)) else 0


def _plan_metrics(info: dict, out: dict[int, str]) -> None:
    for m in info.get("metrics", ()):
        if m.get("name") in SQL_METRICS:
            out[m["accumulatorId"]] = SQL_METRICS[m["name"]]
    for child in info.get("children", ()):
        _plan_metrics(child, out)


def read_event_log(path: str) -> dict[str, dict[str, float]]:
    """Counters per job group from one uncompressed event log.

    Per group: ``jobs``, ``stages``, ``tasks``, the task metrics of
    ``_TASK_FIELDS``, the SQL metrics of ``SQL_METRICS`` and, when block
    updates are logged, ``cache_peak_mem_bytes`` (largest total of RDD
    blocks held in memory while the group's jobs ran) and
    ``cache_blocks_dropped`` (RDD blocks that left memory while one of
    the group's jobs was running, i.e. evicted rather than unpersisted).
    """
    groups: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    accum_name: dict[int, str] = {}
    pending_driver: list[tuple[int, int, float]] = []
    running: dict[int, str] = {}  # job id -> group, jobs not yet ended
    blocks: dict[str, int] = {}  # rdd block id -> bytes in memory
    held = 0  # their total
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                g = props.get("spark.jobGroup.id") or "<none>"
                running[ev["Job ID"]] = g
                groups[g]["jobs"] += 1
                for sid in ev.get("Stage IDs", ()):
                    stage_group[sid] = g
                eid = props.get("spark.sql.execution.id")
                if eid is not None:
                    exec_group.setdefault(int(eid), g)
            elif kind == "SparkListenerJobEnd":
                running.pop(ev["Job ID"], None)
            elif kind == "SparkListenerStageSubmitted":
                sid = ev["Stage Info"]["Stage ID"]
                groups[stage_group.get(sid, "<none>")]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev["Stage ID"], "<none>")
                c = groups[g]
                c["tasks"] += 1
                metrics = ev.get("Task Metrics") or {}
                for field, p in _TASK_FIELDS.items():
                    c[field] += _dig(metrics, p)
                for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
                    key = SQL_METRICS.get(acc.get("Name"))
                    if key is not None:
                        c[key] += float(acc.get("Update") or 0)
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _plan_metrics(ev.get("sparkPlanInfo") or {}, accum_name)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for acc_id, value in ev.get("accumUpdates", ()):
                    pending_driver.append((ev["executionId"], acc_id, value))
            elif kind == "SparkListenerBlockUpdated":
                info = ev["Block Updated Info"]
                bid = info["Block ID"]
                if not bid.startswith("rdd_"):
                    continue
                size = int(info.get("Memory Size") or 0)
                before = blocks.pop(bid, 0)
                if size:
                    blocks[bid] = size
                held += size - before
                for g in set(running.values()):
                    c = groups[g]
                    c["cache_peak_mem_bytes"] = max(c["cache_peak_mem_bytes"], held)
                    if before and not size:
                        c["cache_blocks_dropped"] += 1
    for eid, acc_id, value in pending_driver:
        key = accum_name.get(acc_id)
        if key is not None:
            groups[exec_group.get(eid, "<none>")][key] += float(value)
    return {g: dict(c) for g, c in groups.items()}


def find_event_log(log_dir: str) -> str:
    """The single application log the traced session wrote."""
    logs = [
        os.path.join(log_dir, f)
        for f in os.listdir(log_dir)
        if not f.startswith(".")
    ]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {logs}")
    return logs[0]
