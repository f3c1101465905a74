"""``tables.table`` reads each corpus file's schema once.

Spark's parquet schema inference launches a job on every bare
``spark.read.parquet``; ``table()`` infers a regular local file's schema
the first time and reads with it after that. These tests pin that the
memoized read launches no job, that a rewritten file or a changed reader
conf is inferred again, that the legacy ns ``events`` branch holds on
both reads, and that directories are never memoized. The last test is
the registry-wide form: building a registered entry launches no job
unless the entry is on an explicit allowlist.
"""

from __future__ import annotations

import contextlib
import itertools
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from conftest import SF_DIR
from reddit_data_engineering_project_spark import tables
from reddit_data_engineering_project_spark.tables import TABLE_NAMES, table

_groups = itertools.count()


@contextlib.contextmanager
def jobs_launched(spark):
    """Run the block under a fresh job group; the yielded list holds the
    ids of the jobs it launched once the block exits."""
    sc = spark.sparkContext
    group = f"test-tables-{next(_groups)}"
    sc.setJobGroup(group, group)
    launched: list[int] = []
    try:
        yield launched
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        launched.extend(sc.statusTracker().getJobIdsForGroup(group))


def _region(path, extra: bool = False) -> None:
    cols = {
        "r_regionkey": pa.array([0, 1, 2], pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA"],
    }
    if extra:
        cols["r_comment"] = ["a", "b", "c"]
    pq.write_table(pa.table(cols), str(path))


def test_second_read_launches_no_job(spark, tmp_path):
    _region(tmp_path / "region.parquet")
    with jobs_launched(spark) as first:
        df1 = table(spark, str(tmp_path), "region")
    with jobs_launched(spark) as second:
        df2 = table(spark, str(tmp_path), "region")
    assert len(first) >= 1  # the one schema-inference job
    assert second == []
    assert df2.schema == df1.schema
    assert sorted(df2.collect()) == sorted(df1.collect())


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = tmp_path / "region.parquet"
    _region(path)
    assert table(spark, str(tmp_path), "region").columns == ["r_regionkey", "r_name"]
    table(spark, str(tmp_path), "region")  # memoized
    _region(path, extra=True)
    df = table(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name", "r_comment"]
    assert df.filter("r_comment = 'c'").count() == 1


def test_inference_conf_is_part_of_the_key(spark, tmp_path):
    pq.write_table(
        pa.table({"r_regionkey": pa.array([0], pa.int32()),
                  "r_name": pa.array([b"AFRICA"], pa.binary())}),
        str(tmp_path / "region.parquet"),
    )
    key = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(key)
    assert dict(table(spark, str(tmp_path), "region").dtypes)["r_name"] == "binary"
    spark.conf.set(key, "true")
    try:
        df = table(spark, str(tmp_path), "region")
        assert dict(df.dtypes)["r_name"] == "string"
        assert df.first().r_name == "AFRICA"
    finally:
        spark.conf.set(key, before)
    assert dict(table(spark, str(tmp_path), "region").dtypes)["r_name"] == "binary"


def test_legacy_ns_events_on_inferring_and_memoized_read(spark, tmp_path):
    """A ns-precision ``events.ts`` is read as ``bigint`` under
    ``nanosAsLong`` and converted to a µs ``timestamp`` — on the read
    that infers the schema and on the read that reuses it."""
    ns = [1_500_000_000_123_456_789, 1_600_000_000_000_000_999]
    pq.write_table(
        pa.table({
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(ns, pa.timestamp("ns")),
            "user_id": pa.array([7, 8], pa.int64()),
            "event_type": ["view", "buy"],
            "value": [1.0, 2.0],
            "props": ["{}", "{}"],
        }),
        str(tmp_path / "events.parquet"),
        version="2.6",
    )
    assert pq.read_schema(str(tmp_path / "events.parquet")).field("ts").type.unit == "ns"
    with jobs_launched(spark) as first:
        inferred = table(spark, str(tmp_path), "events")
    with jobs_launched(spark) as second:
        memoized = table(spark, str(tmp_path), "events")
    assert len(first) >= 1 and second == []
    for df in (inferred, memoized):
        assert dict(df.dtypes)["ts"] == "timestamp"
        micros = [
            r.us for r in df.selectExpr("unix_micros(ts) AS us").orderBy("event_id").collect()
        ]
        assert micros == [1_500_000_000_123_456, 1_600_000_000_000_000]


def test_spark_written_directory_is_read_and_not_memoized(spark, tmp_path):
    src = table(spark, SF_DIR, "region")
    src.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "region.parquet"))
    path = os.path.abspath(str(tmp_path / "region.parquet"))
    assert os.path.isdir(path)
    df = table(spark, str(tmp_path), "region")
    assert df.schema == src.schema
    assert sorted(df.collect()) == sorted(src.collect())
    with jobs_launched(spark) as again:
        table(spark, str(tmp_path), "region")
    assert len(again) >= 1  # inferred again: a directory is never vouched for
    assert path not in tables._SCHEMAS


# Entries whose construction runs Spark jobs by design; the construction
# test does not build them (their eager jobs would only cost tier-1 time).
CONSTRUCTION_JOB_ALLOWLIST: dict[str, str] = {
    # eager dedup actions
    "x02_dedup_clusters": "label-propagation fixpoint iterates to convergence",
    "x02_dedup_keep_best": "label-propagation fixpoint iterates to convergence",
    "x02_simhash_neardup": "broadcast-guard count() in _verify_jaccard",
    "x02_simhash16_neardup": "broadcast-guard count() in _verify_jaccard",
    "x02_minhash_lsh_neardup": "broadcast-guard count() in _verify_jaccard",
    "x02_incremental_neardup": "broadcast-guard count() in _verify_jaccard",
    "pipeline_dedup_report": "composes x02_minhash_lsh_neardup (its count())",
    "pipeline_split_leakage_audit": "composes x02_minhash_lsh_neardup (its count())",
    # a sink is written before it is read back
    "q18_schema_evolution_read": "writes two schema versions, then reads them merged",
    "q18_snapshot_publish_read": "publishes a snapshot, then reads it back",
    "q18_export_training_shards": "writes the shards, then reads them back",
    "q18_partitioned_prune": "writes a partitioned table, then prunes a read of it",
    "q18_sink_roundtrip": "writes a sink, then reads it back",
    "q01_csv_scan": "writes the CSV it scans",
    "q01_json_scan": "writes the JSON it scans",
    "q01_orc_scan": "writes the ORC it scans",
    "q01_xml_scan": "writes the XML it scans",
}


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="no sf0.001 corpus")
def test_building_registered_entries_launches_no_jobs(spark):
    from reddit_data_engineering_project_spark.registry import (
        QUERIES,
        load_all_operators,
    )

    load_all_operators()
    assert set(CONSTRUCTION_JOB_ALLOWLIST) <= set(QUERIES)
    for name in TABLE_NAMES:  # first reads infer; these jobs are not counted
        table(spark, SF_DIR, name)
    offenders = {}
    for name in sorted(set(QUERIES) - set(CONSTRUCTION_JOB_ALLOWLIST)):
        try:
            with jobs_launched(spark) as launched:
                QUERIES[name](spark, SF_DIR)
        finally:
            spark.catalog.clearCache()
        if launched:
            offenders[name] = len(launched)
    assert offenders == {}, f"entries that launch jobs while being built: {offenders}"
