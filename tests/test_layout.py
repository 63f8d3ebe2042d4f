"""Table layout: Z-order clustering keys, zorder_write file pruning
benefit, small-file compaction."""

from __future__ import annotations

import glob
import os

from pyspark.sql import Row
from pyspark.sql import functions as F

from lakeflow.sinks.layout import compact_parquet, morton_key, zorder_write


def test_morton_key_known_values(spark):
    df = spark.createDataFrame(
        [Row(x=3, y=0), Row(x=0, y=3), Row(x=1, y=1), Row(x=65535, y=65535)]
    )
    out = {
        (r["x"], r["y"]): r["m"]
        for r in df.select("x", "y", morton_key("x", "y").alias("m")).collect()
    }
    assert out[(3, 0)] == 0b101  # x bits at even positions
    assert out[(0, 3)] == 0b1010  # y bits at odd positions
    assert out[(1, 1)] == 0b11
    assert out[(65535, 65535)] == 2**32 - 1


def test_zorder_write_tightens_file_ranges(spark, tmp_path):
    # a grid of (x, y): written z-ordered, each file's x-range AND
    # y-range must cover far less than the full domain (that overlap
    # reduction is exactly what makes min/max file pruning selective
    # on both columns)
    n = 64
    grid = spark.createDataFrame(
        [Row(x=i, y=j) for i in range(n) for j in range(n)]
    )
    tgt = str(tmp_path / "z")
    zorder_write(grid, tgt, "x", "y", n_files=16)
    per_file = (
        spark.read.parquet(tgt)
        .groupBy(F.col("_metadata.file_name").alias("f"))
        .agg(
            (F.max("x") - F.min("x")).alias("xr"),
            (F.max("y") - F.min("y")).alias("yr"),
        )
        .collect()
    )
    assert len(per_file) == 16
    # each z-ordered file covers a quadrant-ish region: both ranges
    # bounded well below the full domain (63); a single-column sort
    # would leave the other column's range at ~63 in every file
    for r in per_file:
        assert r["xr"] <= 31, (r["f"], r["xr"])
        assert r["yr"] <= 31, (r["f"], r["yr"])


def test_compact_parquet_reduces_files(spark, tmp_path):
    tgt = str(tmp_path / "frag")
    spark.range(10_000).repartition(50).write.parquet(tgt)
    assert len(glob.glob(os.path.join(tgt, "*.parquet"))) == 50
    before = spark.read.parquet(tgt).count()
    n = compact_parquet(spark, tgt, target_file_bytes=1 << 30)
    files = glob.glob(os.path.join(tgt, "*.parquet"))
    assert n == 1 and len(files) == 1
    assert spark.read.parquet(tgt).count() == before
    # staging dirs are cleaned up after the swap
    assert not glob.glob(tgt + "._merge_tmp_*")
    assert not os.path.exists(tgt + "._merge_old")


def test_compact_parquet_live_path_untouched_until_swap(spark, tmp_path, monkeypatch):
    # the rewrite must stage into ._merge_tmp_* and swap via rename: the
    # live directory's files are byte-identical right up to the first
    # rename, so a concurrent reader mid-compaction sees a fully intact
    # table (the old localCheckpoint approach instead pinned the whole
    # table on executor storage to survive overwriting its own input)
    import lakeflow.sinks.layout as layout

    tgt = str(tmp_path / "live")
    spark.range(5_000).repartition(20).write.parquet(tgt)
    orig_listing = {
        f: os.path.getmtime(os.path.join(tgt, f)) for f in os.listdir(tgt)
    }
    rows_before = sorted(r["id"] for r in spark.read.parquet(tgt).collect())

    real_rename = os.rename
    seen: dict = {}

    def checking_rename(src, dst):
        if not seen:
            # first rename = start of the swap: live dir must be intact
            # and readable, staged output complete in ._merge_tmp_*
            now = {
                f: os.path.getmtime(os.path.join(tgt, f)) for f in os.listdir(tgt)
            }
            seen["listing_at_swap"] = now
            staged = glob.glob(tgt + "._merge_tmp_*")[0]
            seen["tmp_rows"] = sorted(
                r["id"] for r in spark.read.parquet(staged).collect()
            )
            seen["live_rows"] = sorted(
                r["id"] for r in spark.read.parquet(tgt).collect()
            )
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", checking_rename)
    compact_parquet(spark, tgt, target_file_bytes=1 << 30)
    monkeypatch.setattr(os, "rename", real_rename)

    assert seen["listing_at_swap"] == orig_listing
    assert seen["live_rows"] == rows_before
    assert seen["tmp_rows"] == rows_before
    assert sorted(r["id"] for r in spark.read.parquet(tgt).collect()) == rows_before
    # and the op never uses localCheckpoint (executor-pinned, not
    # fault-tolerant — a lost executor would kill a maintenance job)
    import inspect

    assert ".localCheckpoint(" not in inspect.getsource(layout)


def test_compact_partitions_per_partition_swap(spark, tmp_path):
    from lakeflow.sinks.layout import compact_partitions

    tgt = str(tmp_path / "parts")
    (
        spark.range(6_000)
        .withColumn("p", F.col("id") % 3)
        .repartition(10)
        .write.partitionBy("p")
        .parquet(tgt)
    )
    per_part_before = {
        p: len(glob.glob(os.path.join(tgt, p, "*.parquet")))
        for p in ("p=0", "p=1", "p=2")
    }
    assert all(n > 1 for n in per_part_before.values())
    before = sorted(map(tuple, spark.read.parquet(tgt).collect()))
    out = compact_partitions(spark, tgt, target_file_bytes=1 << 30)
    assert out == {"p=0": 1, "p=1": 1, "p=2": 1}
    for p in out:
        assert len(glob.glob(os.path.join(tgt, p, "*.parquet"))) == 1
    assert sorted(map(tuple, spark.read.parquet(tgt).collect())) == before


def test_optimize_table_compacts_and_clusters(spark, tmp_path):
    from lakeflow.sinks.layout import optimize_table

    tgt = str(tmp_path / "opt")
    n = 32
    grid = spark.createDataFrame(
        [Row(x=i, y=j) for i in range(n) for j in range(n)]
    )
    # fragmented, unclustered initial layout
    grid.repartition(40).write.parquet(tgt)
    assert len(glob.glob(os.path.join(tgt, "*.parquet"))) == 40
    before = sorted(map(tuple, spark.read.parquet(tgt).collect()))
    # tiny target size so the rewrite produces several z-ordered files
    n_files = optimize_table(spark, tgt, "x", "y", target_file_bytes=4096)
    files = glob.glob(os.path.join(tgt, "*.parquet"))
    assert len(files) == n_files < 40
    assert sorted(map(tuple, spark.read.parquet(tgt).collect())) == before
    assert not glob.glob(tgt + "._merge_tmp_*")
    # clustering took effect: each file covers a bounded x AND y range
    if n_files >= 4:
        per_file = (
            spark.read.parquet(tgt)
            .groupBy(F.col("_metadata.file_name").alias("f"))
            .agg(
                (F.max("x") - F.min("x")).alias("xr"),
                (F.max("y") - F.min("y")).alias("yr"),
            )
            .collect()
        )
        assert all(r["xr"] <= n - 2 or r["yr"] <= n - 2 for r in per_file)


def test_compact_parquet_crash_recovery_restores_old(spark, tmp_path):
    # a prior run died between os.rename(base, old) and os.rename(tmp,
    # base): the table lives only in ._merge_old (plus a staged tmp).
    # A rerun must restore it, not rmtree the only remaining copy.
    tgt = str(tmp_path / "crashed")
    spark.range(1000).repartition(4).write.parquet(tgt)
    rows = sorted(r["id"] for r in spark.read.parquet(tgt).collect())
    os.rename(tgt, tgt + "._merge_old")
    os.makedirs(tgt + "._merge_tmp_crashed")  # leftover staging garbage
    n = compact_parquet(spark, tgt, target_file_bytes=1 << 30)
    assert n == 1
    assert sorted(r["id"] for r in spark.read.parquet(tgt).collect()) == rows
    assert not os.path.exists(tgt + "._merge_old")
    assert not glob.glob(tgt + "._merge_tmp_*")


def test_compact_parquet_missing_table_aborts_loudly(spark, tmp_path):
    import pytest

    with pytest.raises(FileNotFoundError):
        compact_parquet(spark, str(tmp_path / "never_existed"))


def test_compaction_carries_replay_tokens(spark, tmp_path):
    # compaction is a rewrite commit like a merge: the streaming replay
    # tokens survive it, so a replayed batch 0 is still folded in once
    from lakeflow.sinks.merge import merge_additive

    tgt = str(tmp_path / "tokened")
    delta = spark.createDataFrame([Row(k="a", n=1)])
    merge_additive(spark, tgt, delta, ["k"], ["n"], commit_token="b0")
    compact_parquet(spark, tgt, target_file_bytes=1 << 30)
    merge_additive(spark, tgt, delta, ["k"], ["n"], commit_token="b0")
    assert [tuple(r) for r in spark.read.parquet(tgt).collect()] == [("a", 1)]


def test_compaction_killed_mid_swap_is_recovered_by_next_merge(
    spark, tmp_path, monkeypatch
):
    # the process dies after the first swap rename: the table is parked
    # in the backup sibling, and the next merge must restore it rather
    # than rebuild the table from its own batch alone
    import pytest

    from lakeflow.sinks.merge import merge_additive

    tgt = str(tmp_path / "killed")
    merge_additive(spark, tgt, spark.createDataFrame([Row(k="a", n=5)]), ["k"], ["n"])
    real_rename = os.rename
    calls: list[str] = []

    def dies_after_first_rename(src, dst):
        calls.append(src)
        if len(calls) > 1:
            raise OSError("killed mid-swap")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", dies_after_first_rename)
    with pytest.raises(OSError, match="killed mid-swap"):
        compact_parquet(spark, tgt, target_file_bytes=1 << 30)
    monkeypatch.setattr(os, "rename", real_rename)
    assert not os.path.exists(tgt)

    merge_additive(spark, tgt, spark.createDataFrame([Row(k="b", n=1)]), ["k"], ["n"])
    got = sorted(tuple(r) for r in spark.read.parquet(tgt).collect())
    assert got == [("a", 5), ("b", 1)]
    assert not glob.glob(tgt + "._merge_tmp_*")


def test_merge_committing_during_compaction_is_not_lost(
    spark, tmp_path, monkeypatch
):
    # a merge commits after compaction has staged its rewrite: the
    # compaction's claim on the version fence fails loudly, and the
    # merge's row stays in the table
    import pytest

    import lakeflow.sinks.merge as M

    tgt = str(tmp_path / "raced")
    M.merge_additive(spark, tgt, spark.createDataFrame([Row(k="a", n=5)]), ["k"], ["n"])
    real_claim = M._claim_version

    def claim_after_concurrent_merge(target_path, expected_version):
        monkeypatch.setattr(M, "_claim_version", real_claim)
        M.merge_additive(
            spark, tgt, spark.createDataFrame([Row(k="b", n=1)]), ["k"], ["n"]
        )
        real_claim(target_path, expected_version)

    monkeypatch.setattr(M, "_claim_version", claim_after_concurrent_merge)
    with pytest.raises(M.ConcurrentMergeError):
        compact_parquet(spark, tgt, target_file_bytes=1 << 30)
    got = sorted(tuple(r) for r in spark.read.parquet(tgt).collect())
    assert got == [("a", 5), ("b", 1)]
    assert not glob.glob(tgt + "._merge_tmp_*")


def _three_partitions(spark, tgt):
    (
        spark.range(600)
        .withColumn("p", F.col("id") % 3)
        .repartition(6)
        .write.partitionBy("p")
        .parquet(tgt)
    )


def test_partition_staged_mid_swap_is_invisible_to_readers(
    spark, tmp_path, monkeypatch
):
    # while a partition is staged and backed up, a read of the table
    # root sees the original rows, with `p` still an int partition column
    from lakeflow.sinks.layout import compact_partitions

    tgt = str(tmp_path / "parts")
    _three_partitions(spark, tgt)
    real_rename = os.rename
    seen: list = []

    def reading_rename(src, dst):
        if not seen:
            df = spark.read.parquet(tgt)
            seen.append((df.count(), dict(df.dtypes)["p"]))
        out = real_rename(src, dst)
        if len(seen) == 1:
            # between the swap's two renames the partition is backed up,
            # out of sight: the other two read, `p` still an int
            df = spark.read.parquet(tgt)
            seen.append((df.count(), dict(df.dtypes)["p"]))
        return out

    monkeypatch.setattr(os, "rename", reading_rename)
    compact_partitions(spark, tgt, ["p=1"], target_file_bytes=1 << 30)
    monkeypatch.setattr(os, "rename", real_rename)
    assert seen == [(600, "int"), (400, "int")]
    assert spark.read.parquet(tgt).count() == 600
    assert not [d for d in os.listdir(tgt) if "._merge_" in d]


def test_partition_swap_killed_mid_swap_is_restored_by_next_compaction(
    spark, tmp_path, monkeypatch
):
    import pytest

    from lakeflow.sinks.layout import compact_partitions

    tgt = str(tmp_path / "parts")
    _three_partitions(spark, tgt)
    before = sorted(map(tuple, spark.read.parquet(tgt).collect()))
    real_rename = os.rename
    calls: list[str] = []

    def dies_after_first_rename(src, dst):
        calls.append(src)
        if len(calls) > 1:
            raise OSError("killed mid-swap")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", dies_after_first_rename)
    with pytest.raises(OSError, match="killed mid-swap"):
        compact_partitions(spark, tgt, ["p=1"], target_file_bytes=1 << 30)
    monkeypatch.setattr(os, "rename", real_rename)
    assert not os.path.exists(os.path.join(tgt, "p=1"))

    out = compact_partitions(spark, tgt, target_file_bytes=1 << 30)
    assert out == {"p=0": 1, "p=1": 1, "p=2": 1}
    assert sorted(map(tuple, spark.read.parquet(tgt).collect())) == before
    assert dict(spark.read.parquet(tgt).dtypes)["p"] == "int"
    assert not [d for d in os.listdir(tgt) if "._merge_" in d]
