"""Correctness checks, run once per run in the first, untimed pass.

Registered queries are hash-compared against their DuckDB oracle twins
through ``tools/check_oracle.py``; the ingest workload's outputs are
checked against the golden rows, the upsert idempotency contract and
``s01_tumbling_window``'s batch result. Every check returns a list of
failure descriptions, empty when the check passed.
"""

from __future__ import annotations

import contextlib
import csv
import datetime as dt
import hashlib
import os
import sys

from corpus import GOLDEN_POSTS


def oracle_failures(spark, sf_dir: str, names: list[str]) -> tuple[int, list[str]]:
    """``(checked, failures)``: every entry in ``names`` executes once and
    those with an oracle are hash-compared against it; a failure is a
    mismatch or an exception. check_oracle's per-query report goes to
    stderr. The generated corpus meets the ingest contracts by
    construction (the self-tests check it), so the per-sweep contract vet
    is skipped."""
    from tools.check_oracle import run_checks

    with contextlib.redirect_stdout(sys.stderr):
        _, _, _, failing = run_checks(
            spark, sf_dir, only=set(names), skip_contracts=True
        )
    return len(names), [f"oracle check failed: {n}" for n in failing]


def csv_failures(path: str, expected_rows: int, golden: bool = True) -> list[str]:
    """Row count of the pipeline's header CSV and, with ``golden``, the
    golden rows' cleaned values, read from the part files directly."""
    rows: list[dict] = []
    for f in sorted(os.listdir(path)):
        if f.endswith(".csv"):
            with open(os.path.join(path, f), newline="", encoding="utf-8") as fh:
                rows.extend(csv.DictReader(fh))
    out = []
    if len(rows) != expected_rows:
        out.append(f"csv {path}: {len(rows)} rows, expected {expected_rows}")
    if not golden:
        return out
    got = {r["id"]: r for r in rows if r["id"].startswith("golden-")}
    for raw, want in GOLDEN_POSTS:
        row = got.get(raw["id"])
        if row is None:
            out.append(f"csv {path}: golden row {raw['id']} missing")
            continue
        for col, value in want.items():
            if row[col] != value:
                out.append(f"csv {path}: {raw['id']}.{col}={row[col]!r}, expected {value!r}")
    return out


def table_bytes(path: str) -> list[tuple[str, str]]:
    """A parquet table's content, independent of generated file names:
    sorted ``(partition directory, sha256 of file bytes)`` pairs."""
    out = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")):
                continue
            with open(os.path.join(root, f), "rb") as fh:
                digest = hashlib.sha256(fh.read()).hexdigest()
            out.append((os.path.relpath(root, path), digest))
    return sorted(out)


def stream_failures(spark, sink_dir: str, sf_dir: str, watermark: str) -> list[str]:
    """The stream sink equals ``s01_tumbling_window`` over the same events
    for every window the final watermark closed (append mode holds the
    rest back)."""
    from pyspark.sql import functions as F

    from reddit_data_engineering_project_spark.functions.numeric import dround
    from reddit_data_engineering_project_spark.registry import QUERIES
    from tools.check_oracle import table_hash

    cols = ["window_start", "event_type", "n_events", "total_value"]
    streamed = (
        spark.read.option("recursiveFileLookup", True)
        .parquet(sink_dir)
        .withColumn("total_value", dround(F.col("total_value")))
        .select(cols)
        .collect()
    )
    # recentProgress renders the watermark as ISO-8601 UTC ("...Z");
    # collected timestamps are naive UTC under the engine's session.
    closed = dt.datetime.fromisoformat(watermark.replace("Z", "+00:00")).replace(
        tzinfo=None
    )
    batch = [
        r
        for r in QUERIES["s01_tumbling_window"](spark, sf_dir).select(cols).collect()
        if r["window_start"] + dt.timedelta(hours=1) <= closed
    ]
    if not batch:
        return ["stream check: no window closed by the watermark"]
    if table_hash([tuple(r) for r in streamed], cols) != table_hash(
        [tuple(r) for r in batch], cols
    ):
        return [
            f"stream sink differs from s01_tumbling_window "
            f"({len(streamed)} vs {len(batch)} closed windows)"
        ]
    return []
