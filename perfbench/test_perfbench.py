"""Self-tests of the benchmark: ``python3 -m pytest perfbench -q``.

They check the benchmark, not the engine: seeded inputs, metric names,
the verifier and the event-log parser.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import corpus  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
import verify  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _dir_digest(path: str) -> str:
    h = hashlib.sha256()
    for root, _dirs, files in sorted(os.walk(path)):
        for f in sorted(files):
            h.update(f.encode())
            with open(os.path.join(root, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def test_ingest_operations_follow_the_plan():
    class NoSession:
        spark = None

    staged = {"rows": dict.fromkeys(
        ("raw_posts", "upsert_base", "upsert_increment", "events"), 1
    )}
    names = [op.name for op in run.ingest_ops(NoSession(), staged)]
    assert names == run.workload_plan("ingest", 1) == list(run.INGEST)


def test_seed_fixes_operation_order():
    for w in run.WORKLOADS:
        assert run.workload_plan(w, 3) == run.workload_plan(w, 3)
    assert sorted(run.workload_plan("floor", 3)) == sorted(run.FLOOR)
    assert run.workload_plan("floor", 3) != run.workload_plan("floor", 4)


def test_seed_fixes_staged_bytes(tmp_path):
    digests = {}
    for label, seed in (("a", 5), ("b", 5), ("c", 6)):
        d = tmp_path / label
        corpus.write_corpus(str(d / "corpus"), 0.001, seed)
        run.stage_ingest(str(d / "ingest"), seed)
        digests[label] = _dir_digest(str(d))
    assert digests["a"] == digests["b"]
    assert digests["a"] != digests["c"]


def test_floor_takes_one_entry_per_family():
    import re

    families = [re.match(r"(q\d+|s\d+|x\d+|pipeline)", n).group(1) for n in run.FLOOR]
    assert len(set(families)) == len(families)
    assert {f.rstrip("0123456789") for f in families} == {"q", "s", "x", "pipeline"}


def test_printed_metric_names_are_declared():
    e2e = run.end_to_end(1.0, [2.0], [0.5, 1.5], 10)
    assert {k: u for k, (_, u) in e2e.items()} == {
        m["name"]: m["unit"] for m in SPEC["end_to_end"]
    }

    class FakeBench:
        tracer = tracing.Tracer()
        query_ops: dict = {}
        first_build_s = 0.0
        plan_s = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
        pipeline_rows = 0
        traced_peak_rss_mb = 0.0
        streams: list = []
        stream_groups: dict = {}
        all_modules = layers.query_modules(run.FLOOR)

    per_layer = layers.profile(FakeBench(), {}, 1.0, 1.0)
    assert {k: u for k, (_, u) in per_layer.items()} == {
        m["name"]: m["unit"] for m in SPEC["per_layer"]
    }


def test_spec_shape():
    assert set(SPEC) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer",
    }
    assert [w["name"] for w in SPEC["workloads"]] == list(run.WORKLOADS)
    assert any(
        m["name"] == "setup_s" and m["unit"] == "s" and m["better"] == "lower"
        for m in SPEC["end_to_end"]
    )
    assert len(SPEC["per_layer"]) <= 128
    assert all(m["bound"] <= 0.25 for m in SPEC["end_to_end"])


# ---- tests that need a Spark session -----------------------------------------


@pytest.fixture(scope="module")
def event_log_dir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("eventlog"))


@pytest.fixture(scope="module")
def spark(event_log_dir):
    """One session with the event log on; the parser test stops it, so
    it runs last in this file."""
    from pyspark.sql import SparkSession

    builder = SparkSession.builder.master("local[2]")
    for k, v in tracing.event_log_confs(event_log_dir).items():
        builder = builder.config(k, v)
    builder.getOrCreate()
    from reddit_data_engineering_project_spark.session import get_spark

    s = get_spark(app_name="perfbench-selftest")  # reuses the session above
    yield s
    s.stop()


@pytest.fixture(scope="module")
def tiny_corpus(tmp_path_factory):
    d = tmp_path_factory.mktemp("corpus")
    corpus.write_corpus(str(d), 0.001, 1)
    return str(d)


def test_generated_corpus_meets_ingest_contracts(spark, tiny_corpus):
    from reddit_data_engineering_project_spark.tables import check_ingest_contracts

    check_ingest_contracts(spark, tiny_corpus)  # raises on a violation


def test_verifier_flags_a_wrong_result(spark, tiny_corpus):
    from pyspark.sql import functions as F

    from reddit_data_engineering_project_spark import registry

    registry.load_all_operators()
    name = "q04_topk"
    assert verify.oracle_failures(spark, tiny_corpus, [name]) == (1, [])
    good = registry.QUERIES[name]
    registry.QUERIES[name] = lambda s, sf: good(s, sf).withColumn(
        "value", F.col("value") + F.lit(0.01)
    )
    try:
        checked, bad = verify.oracle_failures(spark, tiny_corpus, [name])
    finally:
        registry.QUERIES[name] = good
    assert checked == 1 and bad == [f"oracle check failed: {name}"]


def test_ingest_checks_flag_wrong_outputs(spark, tmp_path):
    from reddit_data_engineering_project_spark.pipeline import run_pipeline

    rows = [dict(raw) for raw, _ in corpus.GOLDEN_POSTS]

    out = str(tmp_path / "csv")
    n = run_pipeline(spark, rows, out)
    assert verify.csv_failures(out, n) == []
    assert verify.csv_failures(out, n + 1)
    bad_rows = [dict(r) for r in rows]
    bad_rows[0]["title"] = "Wrong Title"
    out2 = str(tmp_path / "csv2")
    run_pipeline(spark, bad_rows, out2)
    assert any("golden-12345.title" in f for f in verify.csv_failures(out2, n))


def test_event_log_parser_counts_jobs_and_tasks(spark, event_log_dir):
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", "pass|0|tiny|exec")
    spark.range(1000, numPartitions=2).selectExpr("sum(id)").collect()
    sc.setLocalProperty("spark.jobGroup.id", None)
    spark.stop()
    log = tracing.read_event_log(tracing.find_event_log(event_log_dir))
    c = log["pass|0|tiny|exec"]
    assert c["jobs"] > 0 and c["tasks"] > 0
