"""Skew mitigation + bucketing: correctness AND plan shape."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import Row
from pyspark.sql import functions as F

from lakeflow.catalog import load_table
from lakeflow.operators.skew import salted_aggregate, salted_shuffle_join
from lakeflow.sinks.tables import save_bucketed_table

SF = "/root/testdata/sf0.001"


def _skewed_df(spark):
    # key 0 holds 90% of rows — the hot-key shape
    hot = spark.range(900).select(
        F.lit(0).alias("k"), F.col("id").alias("v")
    )
    rest = spark.range(100).select(
        (F.col("id") % 10 + 1).alias("k"), F.col("id").alias("v")
    )
    return hot.unionByName(rest)


def test_salted_aggregate_matches_plain(spark):
    df = _skewed_df(spark)
    plain = {
        (r["k"]): (r["s"], r["n"], r["mn"], r["mx"])
        for r in df.groupBy("k")
        .agg(
            F.sum("v").alias("s"),
            F.count("v").alias("n"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
        )
        .collect()
    }
    salted = {
        (r["k"]): (r["s"], r["n"], r["mn"], r["mx"])
        for r in salted_aggregate(
            df,
            ["k"],
            {
                "s": ("v", "sum"),
                "n": ("v", "count"),
                "mn": ("v", "min"),
                "mx": ("v", "max"),
            },
            n_salts=7,
        ).collect()
    }
    assert plain == salted


def test_salted_shuffle_join_matches_plain(spark):
    big = _skewed_df(spark)
    small = spark.createDataFrame([Row(k=i, name=f"dim{i}") for i in range(11)])
    plain = sorted(map(tuple, big.join(small, "k").select("k", "v", "name").collect()))
    salted = sorted(
        map(tuple, salted_shuffle_join(big, small, "k", n_salts=5)
            .select("k", "v", "name").collect())
    )
    assert plain == salted


def test_bucketed_join_has_no_exchange(spark):
    orders = load_table(spark, SF, "orders")
    lineitem = load_table(spark, SF, "lineitem")
    save_bucketed_table(orders, "b_orders", ["o_orderkey"], 4, ["o_orderkey"])
    save_bucketed_table(lineitem, "b_lineitem", ["l_orderkey"], 4, ["l_orderkey"])
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("b_lineitem").join(
            spark.table("b_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain()
        plan = buf.getvalue()
        # co-located buckets: join without any shuffle exchange
        assert "Exchange" not in plan, plan
        # and correct results
        assert j.count() == lineitem.count()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64MB")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")

def test_lsh_bucket_cap_drops_degenerate_hot_bucket(spark):
    # 40 byte-identical docs form one hot bucket per band -> n^2/2 pair
    # blowup; the cap drops those buckets (exact_dedup owns that
    # cluster) while a small genuine near-dup bucket survives
    from lakeflow.operators.similarity import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    hot = "the quick brown fox jumps over the lazy dog again and again"
    rare = "completely different content words appear here for testing only"
    rows = [Row(id=i, text=hot) for i in range(40)]
    rows += [Row(id=100, text=rare), Row(id=101, text=rare)]
    df = spark.createDataFrame(rows)
    sig = minhash_signatures(df, "id", "text")

    uncapped = lsh_candidate_pairs(sig, "id").count()
    assert uncapped == 40 * 39 // 2 + 1

    capped = lsh_candidate_pairs(sig, "id", max_bucket_size=10).collect()
    assert [(r["id_a"], r["id_b"]) for r in capped] == [(100, 101)]


def test_ngram_hot_shingle_guard(spark):
    # one stop-phrase shingle shared by 30 docs generates 30*29/2 join
    # rows; the doc-frequency cap removes it from pair generation while
    # a genuine near-dup pair (several rare shared shingles) survives
    from lakeflow.operators.similarity import ngram_jaccard_pairs

    rows = [
        Row(id=i, text=f"common shared phrase tail{i} unique{i} word{i}")
        for i in range(30)
    ]
    rows += [
        Row(id=100, text="alpha beta gamma delta epsilon zeta"),
        Row(id=101, text="alpha beta gamma delta epsilon eta"),
    ]
    df = spark.createDataFrame(rows)

    uncapped = ngram_jaccard_pairs(df, "id", "text", min_jaccard_micros=1)
    assert uncapped.count() == 30 * 29 // 2 + 1

    capped = ngram_jaccard_pairs(
        df, "id", "text", min_jaccard_micros=1, max_shingle_doc_freq=10
    ).collect()
    assert [(r["id_a"], r["id_b"]) for r in capped] == [(100, 101)]


def test_compact_parquet_reduces_file_count(spark, tmp_path):
    from lakeflow.sinks.layout import compact_parquet

    path = str(tmp_path / "frag")
    # simulate a fragmented streaming sink: 40 tiny files
    spark.range(40_000).withColumn("v", F.col("id") * 2).repartition(
        40
    ).write.parquet(path)
    import os as _os

    def n_files():
        return sum(
            1
            for f in _os.listdir(path)
            if f.endswith(".parquet")
        )

    before = n_files()
    assert before >= 40
    compact_parquet(spark, path, target_file_bytes=1 << 30)
    assert n_files() == 1
    out = spark.read.parquet(path)
    assert out.count() == 40_000
    assert out.agg(F.sum("v")).first()[0] == 2 * (39_999 * 40_000 // 2)


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    import contextlib
    import io

    path = str(tmp_path / "byflag")
    li = load_table(spark, SF, "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag"
    )
    li.write.partitionBy("l_returnflag").parquet(path)
    df = spark.read.parquet(path).filter(F.col("l_returnflag") == "R")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    # the partition filter must reach the scan, not a post-scan Filter
    assert "PartitionFilters" in plan and "l_returnflag" in plan.split(
        "PartitionFilters", 1
    )[1].split("]", 1)[0]


def _cache_registry_empty(spark):
    # the CacheManager registry, not getPersistentRDDs: persist()
    # registers a plan immediately and unpersist() removes it, while
    # the RDD-level view only fills in if AQE actually materializes
    # the cache (it may satisfy the job via exchange reuse instead)
    # and also shows localCheckpoint RDDs leaked by OTHER tests
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_cache_scope_releases_operator_persists(spark):
    # materialize-and-release: operators that persist shared
    # intermediates (near_dup_pairs' distinct shingles + skew-guard
    # bands, embedding_near_dup's buckets) must leave NO cached
    # relations once the caller's scoped_cache closes
    from lakeflow.caching import scoped_cache
    from lakeflow.operators.similarity import embedding_near_dup, near_dup_pairs

    spark.catalog.clearCache()
    assert _cache_registry_empty(spark)
    docs = load_table(spark, SF, "documents")
    emb = load_table(spark, SF, "embeddings")
    with scoped_cache() as scope:
        pairs = near_dup_pairs(docs, "doc_id", "text", max_bucket_size=50)
        n_pairs = pairs.count()  # materialize INSIDE the scope
        assert not _cache_registry_empty(spark)  # relations really registered
        edup = embedding_near_dup(emb, 990_000)
        n_edup = edup.count()
    assert _cache_registry_empty(spark), "scoped_cache exit must unpersist everything"
    assert n_pairs >= 0 and n_edup >= 0
    # release() is idempotent
    assert scope.release() == 0


def test_cache_scope_explicit_release(spark):
    from lakeflow.caching import persist, scoped_cache

    with scoped_cache() as scope:
        df = persist(spark.range(100))
        assert df.count() == 100
        assert scope.release() == 1
        assert scope.release() == 0


def test_scoped_cache_releases_registry_query_persists(spark):
    # driver-contract queries are fixed at (spark, sf_dir); the
    # scoped_cache around them must capture every persist they trigger
    # and release it on exit — the bench's per-query lifetime (no
    # blanket clearCache needed)
    from lakeflow.caching import scoped_cache
    from lakeflow.plans import QUERIES

    spark.catalog.clearCache()
    assert _cache_registry_empty(spark)
    with scoped_cache():
        out = QUERIES["q_near_dup_pipeline"].fn(spark, SF)
        assert out.count() >= 0  # materialize INSIDE the scope
        assert not _cache_registry_empty(spark)  # the shingle persist landed
    assert _cache_registry_empty(spark), "scoped_cache exit must release the persists"


def test_scoped_cache_nests(spark):
    # a persist joins the INNERMOST open scope: the inner exit releases
    # only the inner scope's relations, the outer exit the outer's
    from pyspark import StorageLevel

    from lakeflow.caching import persist, scoped_cache

    spark.catalog.clearCache()
    with scoped_cache() as outer:
        a = persist(spark.range(10))
        with scoped_cache() as inner:
            b = persist(spark.range(20))
            assert a.storageLevel != StorageLevel.NONE
            assert b.storageLevel != StorageLevel.NONE
        assert b.storageLevel == StorageLevel.NONE  # inner exit released b
        assert a.storageLevel != StorageLevel.NONE  # ... and not a
        assert inner.release() == 0
        c = persist(spark.range(30))  # after the inner exit: joins outer
    assert a.storageLevel == StorageLevel.NONE
    assert c.storageLevel == StorageLevel.NONE
    assert outer.release() == 0
    assert _cache_registry_empty(spark)


def test_unscoped_persist_lives_for_the_session(spark):
    from pyspark import StorageLevel

    from lakeflow.caching import persist

    df = persist(spark.range(40))
    assert df.storageLevel == StorageLevel.MEMORY_AND_DISK
    df.unpersist()
