"""Batch upsert + SCD2 merge semantics (CDC emulation on parquet)."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import Row

from lakeflow.sinks.merge import merge_upsert, scd2_merge


def _ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


def test_merge_upsert(spark, tmp_path):
    tgt = str(tmp_path / "t")
    merge_upsert(
        spark,
        tgt,
        spark.createDataFrame(
            [Row(k=1, v="a", ts=_ts("2024-01-01")), Row(k=2, v="b", ts=_ts("2024-01-01"))]
        ),
        ["k"],
        "ts",
    )
    merge_upsert(
        spark,
        tgt,
        spark.createDataFrame([Row(k=1, v="a2", ts=_ts("2024-02-01"))]),
        ["k"],
        "ts",
    )
    rows = {r["k"]: r["v"] for r in spark.read.parquet(tgt).collect()}
    assert rows == {1: "a2", 2: "b"}


def test_scd2_merge_history_and_idempotence(spark, tmp_path):
    tgt = str(tmp_path / "scd2")
    first = spark.createDataFrame(
        [
            Row(k=1, v="a", ts=_ts("2024-01-01")),
            Row(k=2, v="b", ts=_ts("2024-01-01")),
        ]
    )
    scd2_merge(spark, tgt, first, ["k"], "ts")
    update = spark.createDataFrame([Row(k=1, v="a2", ts=_ts("2024-02-01"))])
    scd2_merge(spark, tgt, update, ["k"], "ts")

    hist = spark.read.parquet(tgt).collect()
    assert len(hist) == 3
    k1 = sorted(
        [r for r in hist if r["k"] == 1], key=lambda r: r["valid_from"]
    )
    assert k1[0]["v"] == "a" and k1[0]["valid_to"] == _ts("2024-02-01")
    assert not k1[0]["is_current"]
    assert k1[1]["v"] == "a2" and k1[1]["valid_to"] is None and k1[1]["is_current"]
    k2 = [r for r in hist if r["k"] == 2][0]
    assert k2["is_current"] and k2["valid_to"] is None

    # replaying the same update changes nothing (idempotent CDC)
    scd2_merge(spark, tgt, update, ["k"], "ts")
    hist2 = spark.read.parquet(tgt).collect()
    assert sorted(map(tuple, hist2)) == sorted(map(tuple, hist))


def test_read_target_missing_returns_none(spark, tmp_path):
    from lakeflow.sinks.merge import read_target_if_exists

    assert read_target_if_exists(spark, str(tmp_path / "does_not_exist")) is None


def test_read_target_corrupt_raises_not_empty(spark, tmp_path):
    # a failed read of an EXISTING target must propagate — treating it as
    # an empty target would make the subsequent overwrite silently
    # destroy all prior history
    import pytest as _pytest

    from lakeflow.sinks.merge import read_target_if_exists

    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "part-00000.parquet").write_bytes(b"this is not a parquet file")
    # the probe must NOT report "no target" for a corrupt-but-existing
    # one (that would route the caller to a fresh overwrite) ...
    try:
        df = read_target_if_exists(spark, str(bad))
    except Exception:
        return  # eager read already propagated the corruption — fine
    assert df is not None, "corrupt existing target misreported as absent"
    # ... and if the read is lazy-lenient, materializing must raise
    with _pytest.raises(Exception, match="(?i)parquet|footer|magic"):
        df.collect()


def test_merge_upsert_idempotent_replay(spark, tmp_path):
    # re-applying the same batch is a no-op (safe under at-least-once
    # delivery / foreachBatch replays)
    tgt = str(tmp_path / "t")
    batch = spark.createDataFrame(
        [Row(k=1, v="a", ts=_ts("2024-01-01")), Row(k=2, v="b", ts=_ts("2024-01-02"))]
    )
    merge_upsert(spark, tgt, batch, ["k"], "ts")
    before = sorted(map(tuple, spark.read.parquet(tgt).collect()))
    merge_upsert(spark, tgt, batch, ["k"], "ts")
    assert sorted(map(tuple, spark.read.parquet(tgt).collect())) == before


def test_concurrent_merge_detected_not_lost(spark, tmp_path):
    # Interleave two mergers the way the documented hazard describes:
    # A snapshots the target, B commits a full merge, then A tries to
    # commit its (now stale) result. A must raise ConcurrentMergeError
    # — committing would silently drop B's row — and B's commit must
    # survive intact.
    import pytest as _pytest

    from lakeflow.sinks.merge import (
        ConcurrentMergeError,
        _current_version,
        _fenced_overwrite,
        read_target_if_exists,
    )
    from lakeflow.operators.dedup import latest_wins

    tgt = str(tmp_path / "t")
    merge_upsert(
        spark,
        tgt,
        spark.createDataFrame([Row(k=1, v="a", ts=_ts("2024-01-01"))]),
        ["k"],
        "ts",
    )

    # writer A begins: observes version + reads the target
    v0 = _current_version(tgt)
    a_base = read_target_if_exists(spark, tgt)
    a_updates = spark.createDataFrame([Row(k=1, v="A2", ts=_ts("2024-03-01"))])
    a_merged = latest_wins(
        a_base.unionByName(a_updates), ["k"], "ts"
    ).localCheckpoint(eager=True)

    # writer B lands a complete merge in between
    merge_upsert(
        spark,
        tgt,
        spark.createDataFrame([Row(k=2, v="b", ts=_ts("2024-02-01"))]),
        ["k"],
        "ts",
    )

    # writer A's commit is fenced off
    with _pytest.raises(ConcurrentMergeError):
        _fenced_overwrite(a_merged, tgt, v0)

    # nothing lost: B's merge result is intact
    rows = {r["k"]: r["v"] for r in spark.read.parquet(tgt).collect()}
    assert rows == {1: "a", 2: "b"}

    # A retries from a fresh read (the documented recovery) and wins
    merge_upsert(spark, tgt, a_updates, ["k"], "ts")
    rows = {r["k"]: r["v"] for r in spark.read.parquet(tgt).collect()}
    assert rows == {1: "A2", 2: "b"}


def test_concurrent_claim_exactly_one_winner(spark, tmp_path):
    # two writers that both pass the version check race on the atomic
    # exclusive-create claim: exactly one succeeds
    import pytest as _pytest

    from lakeflow.sinks.merge import (
        ConcurrentMergeError,
        _current_version,
        _fenced_overwrite,
    )

    tgt = str(tmp_path / "t")
    df = spark.createDataFrame([Row(k=1, v="a", ts=_ts("2024-01-01"))])
    chk = df.localCheckpoint(eager=True)
    v0 = _current_version(tgt)
    _fenced_overwrite(chk, tgt, v0)  # writer 1 claims v1
    with _pytest.raises(ConcurrentMergeError):
        _fenced_overwrite(chk, tgt, v0)  # writer 2, same snapshot, loses


def test_merge_additive_sums_and_inserts(spark, tmp_path):
    from lakeflow.sinks.merge import merge_additive, read_target_if_exists

    t = str(tmp_path / "counts")
    b1 = spark.createDataFrame(
        [Row(source="a", n_docs=2, n_tokens=100), Row(source="b", n_docs=1, n_tokens=30)]
    )
    merge_additive(spark, t, b1, keys=["source"], sum_cols=["n_docs", "n_tokens"])
    b2 = spark.createDataFrame(
        [Row(source="a", n_docs=3, n_tokens=50), Row(source="c", n_docs=4, n_tokens=70)]
    )
    merge_additive(spark, t, b2, keys=["source"], sum_cols=["n_docs", "n_tokens"])
    out = {
        r["source"]: (r["n_docs"], r["n_tokens"])
        for r in read_target_if_exists(spark, t).collect()
    }
    # existing keys summed, new keys inserted
    assert out == {"a": (5, 150), "b": (1, 30), "c": (4, 70)}


def test_merge_stages_then_swaps_never_truncates_live(spark, tmp_path, monkeypatch):
    # the merged result must be fully staged in a merge-private tmp dir
    # BEFORE the live target is touched: a reader mid-merge sees the old
    # table intact, and no localCheckpoint pins the table on executors
    import os

    import lakeflow.sinks.merge as M

    tgt = str(tmp_path / "t")
    merge_upsert(
        spark,
        tgt,
        spark.createDataFrame([Row(k=1, v="a", ts=1), Row(k=2, v="b", ts=1)]),
        ["k"],
        "ts",
    )
    old_files = sorted(os.listdir(tgt))
    rows_v1 = sorted(map(tuple, spark.read.parquet(tgt).collect()))

    real_rename = os.rename
    seen = {}

    def checking_rename(src, dst):
        if not seen:
            # first rename = start of swap: live target still the old
            # files, old rows fully readable
            seen["files"] = sorted(os.listdir(tgt))
            seen["rows"] = sorted(map(tuple, spark.read.parquet(tgt).collect()))
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", checking_rename)
    merge_upsert(
        spark, tgt, spark.createDataFrame([Row(k=2, v="B", ts=2)]), ["k"], "ts"
    )
    monkeypatch.setattr(os, "rename", real_rename)
    assert seen["files"] == old_files
    assert seen["rows"] == rows_v1
    out = {r["k"]: r["v"] for r in spark.read.parquet(tgt).collect()}
    assert out == {1: "a", 2: "B"}
    # no stray staging/old dirs left behind
    stray = [d for d in os.listdir(tmp_path) if "._merge_tmp" in d or "._merge_old" in d]
    assert stray == []
    # local-path merges never pin the table via localCheckpoint: the
    # only call site left is the object-store fallback branch
    import inspect

    src = inspect.getsource(M)
    assert src.count(".localCheckpoint(") == 1
    assert "_fencing_enabled" in src.split(".localCheckpoint(")[0].rsplit("def ", 1)[1]


def test_merge_failure_mid_stage_leaves_target_intact(spark, tmp_path):
    import os

    import pytest as _pytest

    tgt = str(tmp_path / "t2")
    merge_upsert(
        spark, tgt, spark.createDataFrame([Row(k=1, v="a", ts=1)]), ["k"], "ts"
    )
    rows_before = sorted(map(tuple, spark.read.parquet(tgt).collect()))
    # an update batch whose computation fails at write time (bad column
    # type triggers an executor-side cast failure under ANSI)
    bad = spark.createDataFrame([Row(k=1, v="x", ts=2)]).selectExpr(
        "k", "v", "ts", "cast('oops' as int) + assert_true(false) as boom"
    )
    with _pytest.raises(Exception):
        merge_upsert(spark, tgt, bad, ["k"], "ts")
    # target unchanged, no staging debris
    assert sorted(map(tuple, spark.read.parquet(tgt).collect())) == rows_before
    stray = [d for d in os.listdir(tmp_path) if "._merge_tmp" in d]
    assert stray == []


def test_merge_upsert_file_scheme_target(spark, tmp_path):
    # file://-scheme targets take the fenced staged-swap path; the
    # os-level swap must strip the scheme (os.rename can't resolve URIs)
    tgt = "file://" + str(tmp_path / "uri_t")
    merge_upsert(
        spark,
        tgt,
        spark.createDataFrame([Row(k=1, v="a", ts=_ts("2024-01-01"))]),
        ["k"],
        "ts",
    )
    merge_upsert(
        spark,
        tgt,
        spark.createDataFrame(
            [Row(k=1, v="a2", ts=_ts("2024-02-01")), Row(k=2, v="b", ts=_ts("2024-02-01"))]
        ),
        ["k"],
        "ts",
    )
    rows = {r["k"]: r["v"] for r in spark.read.parquet(tgt).collect()}
    assert rows == {1: "a2", 2: "b"}
    import os

    plain = str(tmp_path / "uri_t")
    # fencing actually engaged (versions dir at the plain path)
    assert os.path.isdir(plain + "._versions")


def test_merge_delete_removes_only_listed_keys(spark, tmp_path):
    from lakeflow.sinks.merge import merge_delete

    tgt = str(tmp_path / "del_t")
    merge_upsert(
        spark,
        tgt,
        spark.createDataFrame(
            [
                Row(k=1, v="a", ts=_ts("2024-01-01")),
                Row(k=2, v="b", ts=_ts("2024-01-01")),
                Row(k=3, v="c", ts=_ts("2024-01-01")),
            ]
        ),
        ["k"],
        "ts",
    )
    merge_delete(spark, tgt, spark.createDataFrame([Row(k=2)]), ["k"])
    rows = {r["k"]: r["v"] for r in spark.read.parquet(tgt).collect()}
    assert rows == {1: "a", 3: "c"}
    # fence advanced: delete is a committed version like any merge
    from lakeflow.sinks.merge import _current_version

    assert _current_version(tgt) == 2
    # deleting against a missing target is a no-op
    merge_delete(spark, str(tmp_path / "never"), spark.createDataFrame([Row(k=1)]), ["k"])


def test_vacuum_versions_keeps_recent(spark, tmp_path):
    from lakeflow.sinks.merge import _current_version, vacuum_versions

    tgt = str(tmp_path / "vac_t")
    for i in range(5):
        merge_upsert(
            spark,
            tgt,
            spark.createDataFrame([Row(k=1, v=f"v{i}", ts=_ts(f"2024-01-0{i+1}"))]),
            ["k"],
            "ts",
        )
    assert _current_version(tgt) == 5
    removed = vacuum_versions(tgt, keep_last=2)
    assert removed == 3
    # the CURRENT version is still discoverable: fencing keeps working
    assert _current_version(tgt) == 5
    merge_upsert(
        spark,
        tgt,
        spark.createDataFrame([Row(k=1, v="v9", ts=_ts("2024-01-09"))]),
        ["k"],
        "ts",
    )
    assert _current_version(tgt) == 6


def test_merge_mid_swap_crash_recovery(spark, tmp_path):
    # a process death between the two swap renames leaves the table
    # only in the deterministic ._merge_old sibling; the next
    # read/merge must restore it rather than treat the table as empty
    # and silently rebuild history from one batch
    import os

    from lakeflow.sinks.merge import read_target_if_exists

    tgt = str(tmp_path / "crash_t")
    merge_upsert(
        spark,
        tgt,
        spark.createDataFrame(
            [Row(k=1, v="a", ts=_ts("2024-01-01")), Row(k=2, v="b", ts=_ts("2024-01-01"))]
        ),
        ["k"],
        "ts",
    )
    os.rename(tgt, tgt + "._merge_old")  # simulate the crash point
    # path 1: a plain read recovers
    assert read_target_if_exists(spark, tgt).count() == 2
    os.rename(tgt, tgt + "._merge_old")  # crash again
    # path 2: a merge recovers before reading — history survives
    merge_upsert(
        spark,
        tgt,
        spark.createDataFrame([Row(k=3, v="c", ts=_ts("2024-02-01"))]),
        ["k"],
        "ts",
    )
    rows = {r["k"]: r["v"] for r in spark.read.parquet(tgt).collect()}
    assert rows == {1: "a", 2: "b", 3: "c"}


def test_commit_token_atomic_with_data(spark, tmp_path):
    from lakeflow.sinks.merge import has_commit_token, merge_additive

    tgt = str(tmp_path / "tok_t")
    d1 = spark.createDataFrame([Row(k="web", n=2)])
    merge_additive(spark, tgt, d1, ["k"], ["n"], commit_token="b0")
    assert has_commit_token(tgt, "b0")
    # a later tokened merge carries earlier tokens forward
    merge_additive(spark, tgt, d1, ["k"], ["n"], commit_token="b1")
    assert has_commit_token(tgt, "b0") and has_commit_token(tgt, "b1")
    # untokened merges (upsert on the same table) preserve them too
    merge_additive(spark, tgt, d1, ["k"], ["n"])
    assert has_commit_token(tgt, "b1")
    assert {r["n"] for r in spark.read.parquet(tgt).collect()} == {6}


def test_merge_aggregate_bitmap_and_minmax(spark, tmp_path):
    # generic re-aggregable merge: counts sum, bitmaps OR, extrema min/max
    from pyspark.sql import functions as F

    from lakeflow.sinks.merge import merge_aggregate

    tgt = str(tmp_path / "agg")
    aggs = [
        F.sum("n").alias("n"),
        F.bitmap_or_agg("bm").alias("bm"),
        F.min("lo").alias("lo"),
        F.max("hi").alias("hi"),
    ]

    def delta(ids, lo, hi):
        return (
            spark.createDataFrame([(i,) for i in ids], "uid long")
            .groupBy(F.lit("k").alias("g"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.bitmap_construct_agg(F.bitmap_bit_position("uid")).alias("bm"),
                F.lit(lo).alias("lo"),
                F.lit(hi).alias("hi"),
            )
        )

    merge_aggregate(spark, tgt, delta([1, 2, 3], 5, 9), ["g"], aggs)
    merge_aggregate(spark, tgt, delta([2, 3, 4], 3, 7), ["g"], aggs)
    r = (
        spark.read.parquet(tgt)
        .select("n", F.bitmap_count("bm").alias("d"), "lo", "hi")
        .collect()[0]
    )
    assert (r["n"], r["d"], r["lo"], r["hi"]) == (6, 4, 3, 9)


def test_scd2_snapshot_at(spark, tmp_path):
    import datetime

    from pyspark.sql import Row

    from lakeflow.sinks.merge import scd2_merge, scd2_snapshot_at

    tgt = str(tmp_path / "scd2")
    t = lambda d: datetime.datetime(2024, 1, d)  # noqa: E731
    scd2_merge(
        spark,
        tgt,
        spark.createDataFrame(
            [
                Row(k=1, status="new", ts=t(1)),
                Row(k=1, status="active", ts=t(10)),
                Row(k=1, status="closed", ts=t(20)),
                Row(k=2, status="new", ts=t(5)),
            ]
        ),
        ["k"],
        "ts",
    )
    hist = spark.read.parquet(tgt)
    at = {r["k"]: r["status"] for r in scd2_snapshot_at(hist, t(15)).collect()}
    assert at == {1: "active", 2: "new"}
    before = {r["k"]: r["status"] for r in scd2_snapshot_at(hist, t(3)).collect()}
    assert before == {1: "new"}  # k=2 didn't exist yet
    now = {r["k"]: r["status"] for r in scd2_snapshot_at(hist, t(25)).collect()}
    assert now == {1: "closed", 2: "new"}


def test_tokened_merge_on_object_store_fails_loudly(spark):
    # an object-store overwrite cannot commit a token with its data, so
    # a tokened fold there would double-count every replay: it must
    # refuse before reading anything
    import pytest as _pytest

    from lakeflow.sinks.merge import merge_additive

    delta = spark.createDataFrame([Row(k="a", n=1)])
    with _pytest.raises(ValueError, match="commit tokens"):
        merge_additive(
            spark, "s3a://bucket/agg", delta, ["k"], ["n"], commit_token="b0"
        )


def test_vacuum_versions_prunes_every_token_family(spark, tmp_path):
    import os

    from pyspark.sql import functions as F

    from lakeflow.sinks.merge import merge_aggregate, vacuum_versions
    from lakeflow.streaming.cdf import cdf_cursor

    tgt = str(tmp_path / "cdf_agg")
    delta = spark.createDataFrame([Row(k="a", n=1)])
    for v in range(1, 6):
        merge_aggregate(
            spark, tgt, delta, ["k"], [F.sum("n").alias("n")], commit_token=f"cdfv{v}"
        )
    vacuum_versions(tgt, keep_last=2)
    tokens = sorted(f for f in os.listdir(tgt) if f.startswith("_token_"))
    assert tokens == ["_token_cdfv4", "_token_cdfv5"]
    assert cdf_cursor(tgt) == 5


def test_unfenced_overwrite_releases_its_checkpoint(spark, tmp_path, monkeypatch):
    # the object-store overwrite path, run on a local target that the
    # written frame reads
    import lakeflow.sinks.merge as M

    tgt = str(tmp_path / "t")
    spark.range(10).write.parquet(tgt)
    monkeypatch.setattr(M, "_fencing_enabled", lambda target_path: False)
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    df = spark.read.parquet(tgt).selectExpr("id + 100 AS id")
    M._fenced_overwrite(df, tgt, 0)
    assert jsc.getPersistentRDDs().size() == before
    assert sorted(r["id"] for r in spark.read.parquet(tgt).collect()) == list(
        range(100, 110)
    )
