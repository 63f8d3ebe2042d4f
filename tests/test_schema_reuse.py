"""A repeated read pays no metadata job: ``catalog.read_parquet`` infers
a local path's schema once per content key, txtable manifests carry the
written schema, and the session's codegen cache holds a working set of
more than Spark's default 100 compiled classes."""

from __future__ import annotations

import json
import os
from datetime import datetime
from decimal import Decimal

import pytest

from lakeflow.catalog import _content_key, load_table, read_parquet
from lakeflow.sinks.txtable import (
    _manifest_path,
    _read_manifest,
    append_table,
    current_version,
    read_table,
    scan_where,
    write_table,
)


def _jobs(spark, fn):
    """(fn's result, number of Spark jobs fn ran)."""
    sc = spark.sparkContext
    group = f"schema-reuse-{os.urandom(4).hex()}"
    sc.setJobGroup(group, "count jobs")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_load_table_runs_no_job(spark, tmp_path):
    sf = str(tmp_path)
    spark.range(50).selectExpr("id", "id * 2 AS v").write.parquet(
        os.path.join(sf, "t.parquet")
    )
    first = load_table(spark, sf, "t")
    again, n_jobs = _jobs(spark, lambda: load_table(spark, sf, "t"))
    assert n_jobs == 0
    assert again.schema == first.schema
    # fresh attribute ids: a self-join of two loads still resolves
    joined = first.alias("a").join(again.alias("b"), "id")
    assert joined.count() == 50


def test_rewritten_table_is_inferred_again(spark, tmp_path):
    sf = str(tmp_path)
    path = os.path.join(sf, "t.parquet")
    spark.range(5).selectExpr("id", "id * 2 AS v").write.parquet(path)
    assert load_table(spark, sf, "t").columns == ["id", "v"]
    spark.range(5).selectExpr("CAST(id AS string) AS s").write.mode(
        "overwrite"
    ).parquet(path)
    df = load_table(spark, sf, "t")
    assert df.dtypes == [("s", "string")]
    assert sorted(r["s"] for r in df.collect()) == ["0", "1", "2", "3", "4"]


def test_memo_key_stays_fixed_size_as_a_path_gains_files(spark, tmp_path):
    path = str(tmp_path / "grows")
    keys = []
    for i in range(3):
        spark.range(i, i + 5).selectExpr("id").write.mode("append").parquet(path)
        keys.append(_content_key(spark, path))
        assert read_parquet(spark, path).count() == 5 * (i + 1)
    assert len(set(keys)) == 3
    # a digest, not one entry per file: the key does not grow
    assert {type(k[-1]) for k in keys} == {bytes}
    assert len({len(k[-1]) for k in keys}) == 1


def test_events_ts_values_are_unchanged_on_repeat_load(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    sf = str(tmp_path)
    ns = [1_700_000_000_123_456_789, 1_700_000_100_000_001_000]
    table = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(ns, pa.timestamp("ns")),
        }
    )
    pq.write_table(table, os.path.join(sf, "events.parquet"), version="2.6")
    for _ in range(2):
        df = load_table(spark, sf, "events")
        assert dict(df.dtypes)["ts"] == "timestamp_ntz"
        got = [r["ts"] for r in df.orderBy("event_id").collect()]
        assert got == [
            datetime(2023, 11, 14, 22, 13, 20, 123456),
            datetime(2023, 11, 14, 22, 15, 0, 1),
        ]


def _typed(spark):
    spark.sql("DROP TABLE IF EXISTS schema_reuse_chars")
    spark.sql(
        "CREATE TABLE schema_reuse_chars (c CHAR(5), v VARCHAR(3)) USING parquet"
    )
    spark.sql("INSERT INTO schema_reuse_chars VALUES ('ab', 'x')")
    chars = spark.table("schema_reuse_chars")
    return chars.crossJoin(
        spark.createDataFrame(
            [
                (
                    1,
                    "s",
                    datetime(2024, 1, 2, 3, 4, 5),
                    datetime(2024, 1, 2, 3, 4, 5),
                    Decimal("1.25"),
                    [1, 2],
                    {"k": 1},
                    (7, "y"),
                )
            ],
            "i int, s string, ts timestamp, tn timestamp_ntz, d decimal(10,2), "
            "a array<int>, m map<string,int>, st struct<x:int,y:string>",
        )
    )


def test_read_table_schema_equals_inference(spark, tmp_path):
    path = str(tmp_path / "t")
    df = _typed(spark)
    write_table(spark, df, path)
    assert "schema" in _read_manifest(path, current_version(path))
    files = [os.path.join(path, f) for f in _read_manifest(path, 1)["files"]]
    inferred = spark.read.parquet(*files)
    got, n_jobs = _jobs(spark, lambda: read_table(spark, path))
    assert n_jobs == 0
    assert got.schema == inferred.schema
    assert got.collect() == inferred.collect()


def test_manifest_without_schema_still_reads(spark, tmp_path):
    path = str(tmp_path / "t")
    write_table(spark, spark.range(4).selectExpr("id", "id + 1 AS v"), path)
    mp = _manifest_path(path, 1)
    with open(mp) as fh:
        manifest = json.load(fh)
    del manifest["schema"]
    with open(mp, "w") as fh:
        json.dump(manifest, fh)
    df = read_table(spark, path)
    assert sorted(tuple(r) for r in df.collect()) == [(i, i + 1) for i in range(4)]
    # the drift check falls back to reading the snapshot's columns
    with pytest.raises(ValueError, match="schema drift"):
        append_table(spark, spark.range(1).selectExpr("id AS other"), path)


def test_drift_check_raises_without_a_job(spark, tmp_path):
    path = str(tmp_path / "t")
    write_table(spark, spark.range(3).selectExpr("id AS k", "id AS v"), path)
    wider = spark.createDataFrame([(10, 20, "x")], "k long, v long, tag string")

    def append():
        with pytest.raises(ValueError, match="schema drift"):
            append_table(spark, wider, path)

    _, n_jobs = _jobs(spark, append)
    assert n_jobs == 0
    # the widened schema is recorded, so a plain read sees the new column
    append_table(spark, wider, path, allow_schema_drift=True)
    rows = {r["k"]: (r["v"], r["tag"]) for r in read_table(spark, path).collect()}
    assert rows[10] == (20, "x")
    assert rows[0] == (0, None)


def test_scan_where_reads_survivors_with_the_recorded_schema(spark, tmp_path):
    # the surviving files predate a drift append: they are read with the
    # widened schema, as read_table reads them, and without a job
    path = str(tmp_path / "t")
    write_table(
        spark, spark.range(3).selectExpr("id AS k", "id AS v"), path, stats_cols=["k"]
    )
    wider = spark.createDataFrame([(10, 20, "x")], "k long, v long, tag string")
    append_table(spark, wider, path, allow_schema_drift=True)
    got, n_jobs = _jobs(spark, lambda: scan_where(spark, path, "k", lo=0, hi=2))
    assert n_jobs == 0
    assert len(got.inputFiles()) < len(read_table(spark, path).inputFiles())
    assert got.columns == ["k", "v", "tag"]
    assert sorted(tuple(r) for r in got.collect()) == [
        (0, 0, None),
        (1, 1, None),
        (2, 2, None),
    ]


def test_codegen_cache_holds_more_than_100_plans(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def plan(i):
        # the literals are inlined into the generated code, so every i
        # compiles its own classes
        return spark.range(20).selectExpr(f"id * {i + 7} + {i * 13} AS x").collect()

    first = plan(0)
    for i in range(1, 130):
        plan(i)
    before = metrics.METRIC_COMPILATION_TIME().getCount()
    assert plan(0) == first
    assert metrics.METRIC_COMPILATION_TIME().getCount() - before == 0
