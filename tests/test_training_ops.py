"""Training-pipeline operators: deterministic sampling, repetition
metrics, connected-component dup clustering."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from lakeflow.operators import clusters
from lakeflow.operators.clusters import connected_components
from lakeflow.operators.corpus import boilerplate_profile, contamination_profile
from lakeflow.operators.sampling import hash_sample, stratified_hash_sample
from lakeflow.operators.text import repetition_profile


def _docs(spark, n=200):
    return spark.createDataFrame(
        [Row(doc_id=i, source=f"src{i % 4}") for i in range(n)]
    )


def test_hash_sample_deterministic_and_nested(spark):
    df = _docs(spark)
    small = {r["doc_id"] for r in hash_sample(df, "doc_id", 100_000).collect()}
    small2 = {r["doc_id"] for r in hash_sample(df, "doc_id", 100_000).collect()}
    big = {r["doc_id"] for r in hash_sample(df, "doc_id", 500_000).collect()}
    assert small == small2  # same data -> same sample, no RNG
    assert small <= big  # nested: lower rate is a subset of higher
    # rate is approximately honored (loose bound on 200 keys)
    assert 0.02 * 200 < len(big) < 0.9 * 200


def test_hash_sample_seed_independence(spark):
    df = _docs(spark)
    a = {r["doc_id"] for r in hash_sample(df, "doc_id", 300_000, seed="s1").collect()}
    b = {r["doc_id"] for r in hash_sample(df, "doc_id", 300_000, seed="s2").collect()}
    assert a != b  # different seeds draw different members


def test_stratified_hash_sample_rates(spark):
    df = _docs(spark)
    out = stratified_hash_sample(
        df, "doc_id", "source", {"src0": 1_000_000, "src1": 0}, default_ppm=200_000
    )
    by_src = {
        r["source"]: r["count"] for r in out.groupBy("source").count().collect()
    }
    assert by_src.get("src0") == 50  # ppm=1e6 keeps every row
    assert "src1" not in by_src  # ppm=0 drops the stratum
    # default applies to unlisted strata
    assert 0 < by_src.get("src2", 0) + by_src.get("src3", 0) < 100


def _components(df, a="a", b="b"):
    return {
        r["member_id"]: r["cluster_id"]
        for r in connected_components(df, a, b).collect()
    }


def test_connected_components_two_clusters(spark):
    pairs = spark.createDataFrame(
        [Row(a=2, b=1), Row(a=2, b=3), Row(a=3, b=4), Row(a=10, b=11)]
    )
    # chain 1-2-3-4 collapses to min id 1 (transitive, not just neighbors)
    assert _components(pairs) == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_long_path_one_call(spark):
    # an 80-node path has diameter 79: the default call labels it whole,
    # with no round budget to pass or exceed
    df = spark.createDataFrame([Row(a=i, b=i + 1) for i in range(79)])
    assert _components(df) == {i: 0 for i in range(80)}


def test_connected_components_keeps_the_id_type(spark):
    from pyspark.sql import types as T

    schema = "a int, b int"
    df = spark.createDataFrame([(3, 1), (1, 2), (8, 9)], schema)
    out = connected_components(df, "a", "b")
    assert [f.dataType for f in out.schema.fields] == [T.IntegerType()] * 2
    assert {tuple(r) for r in out.collect()} == {
        (1, 1), (2, 1), (3, 1), (8, 8), (9, 8)
    }
    names = spark.createDataFrame([("b", "a"), ("c", "b")], "x string, y string")
    out = connected_components(names, "x", "y")
    assert [f.dataType for f in out.schema.fields] == [T.StringType()] * 2
    assert {tuple(r) for r in out.collect()} == {("a", "a"), ("b", "a"), ("c", "a")}


@pytest.mark.parametrize("budget", [clusters.ONE_TASK_EDGES, 0])
def test_connected_components_releases_its_persists(spark, monkeypatch, budget):
    from lakeflow.caching import scoped_cache

    # both phases: the one-task fold and (budget 0) the star rounds
    monkeypatch.setattr(clusters, "ONE_TASK_EDGES", budget)
    spark.catalog.clearCache()  # unscoped calls elsewhere keep theirs
    df = spark.createDataFrame([Row(a=i, b=i + 1) for i in range(5)])
    with scoped_cache():
        assert len(connected_components(df, "a", "b").collect()) == 6
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_connected_components_null_id_raises(spark):
    df = spark.createDataFrame([(1, 2), (2, None)], "a long, b long")
    with pytest.raises(ValueError, match="1 of 2 pairs have a NULL a or b"):
        connected_components(df, "a", "b")


def test_connected_components_both_phases_agree(spark, monkeypatch):
    import random

    rng = random.Random(7)
    randoms = [
        [(rng.randrange(30), rng.randrange(30)) for _ in range(25)]
        for _ in range(3)
    ]
    graphs = [spark.createDataFrame(e, "a long, b long") for e in randoms]
    graphs.append(spark.createDataFrame([(7, 7), (1, 2)], "a long, b long"))
    graphs.append(spark.createDataFrame([Row(a=i, b=i + 1) for i in range(79)]))
    folded = [_components(g) for g in graphs]
    # budget 0 sends every edge set to the star phase
    monkeypatch.setattr(clusters, "ONE_TASK_EDGES", 0)
    assert [_components(g) for g in graphs] == folded
    for edges, got in zip(randoms, folded):
        ref = {x: x for e in edges for x in e}  # flood minimum labels
        changed = True
        while changed:
            changed = False
            for x, y in edges:
                m = min(ref[x], ref[y])
                changed |= ref[x] != m or ref[y] != m
                ref[x] = ref[y] = m
        assert got == ref
    # a node seen only in a self-pair keeps its row
    assert folded[3] == {1: 1, 2: 1, 7: 7}
    assert folded[4] == {i: 0 for i in range(80)}


def test_repetition_profile_known_values(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b a b a"),  # 2-grams: ab ba ab ba
            Row(doc_id=2, text="w x y z"),  # all distinct
            Row(doc_id=3, text="solo"),  # < n tokens: excluded
        ]
    )
    out = {r["doc_id"]: r for r in repetition_profile(df, "doc_id", "text").collect()}
    assert set(out) == {1, 2}
    r1 = out[1]
    assert (r1["n_shingles"], r1["n_distinct"]) == (4, 2)
    assert r1["dup_fraction_micros"] == 500_000
    assert r1["top_fraction_micros"] == 500_000
    r2 = out[2]
    assert (r2["n_shingles"], r2["n_distinct"]) == (3, 3)
    assert r2["dup_fraction_micros"] == 0


def test_incremental_candidates_never_old_old(spark):
    from lakeflow.operators.similarity import (
        banded_signatures,
        incremental_candidate_pairs,
    )

    # three identical docs: 1, 2 stored; 10 arrives. The increment must
    # surface (1,10) and (2,10) but NEVER the old-old pair (1,2).
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="alpha beta gamma delta epsilon zeta"),
            Row(doc_id=2, text="alpha beta gamma delta epsilon zeta"),
            Row(doc_id=10, text="alpha beta gamma delta epsilon zeta"),
            Row(doc_id=3, text="totally different content entirely here now"),
        ]
    )
    stored = banded_signatures(docs.filter(F.col("doc_id") < 10), "doc_id", "text")
    new = banded_signatures(docs.filter(F.col("doc_id") == 10), "doc_id", "text")
    pairs = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in incremental_candidate_pairs(new, stored, "doc_id").collect()
    }
    assert pairs == {(1, 10), (2, 10)}


def test_incremental_candidates_replay_no_self_pairs(spark):
    from lakeflow.operators.similarity import (
        banded_signatures,
        incremental_candidate_pairs,
    )

    # a crashed streaming batch can replay AFTER its bands reached the
    # stored index — the disjoint-id contract is violated and the same
    # id sits on both sides. The join must not emit self-pairs
    # (id_a == id_b); the replay degrades to duplicate real pairs.
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="alpha beta gamma delta epsilon zeta"),
            Row(doc_id=10, text="alpha beta gamma delta epsilon zeta"),
        ]
    )
    stored = banded_signatures(docs, "doc_id", "text")  # replay: 10 already stored
    new = banded_signatures(docs.filter(F.col("doc_id") == 10), "doc_id", "text")
    pairs = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in incremental_candidate_pairs(new, stored, "doc_id").collect()
    }
    assert pairs == {(1, 10)}  # no (10, 10)


def test_pii_profile_counts_and_redaction(spark):
    from lakeflow.operators.pii import pii_profile

    df = spark.createDataFrame(
        [
            Row(
                doc_id=1,
                text="mail a@b.com and c.d+x@e.org, ssn 123-45-6789, "
                "call 555-123-4567, host 192.168.0.1",
            ),
            Row(doc_id=2, text="no identifiers here"),
        ]
    )
    out = {r["doc_id"]: r for r in pii_profile(df, "doc_id", "text").collect()}
    r1 = out[1]
    assert (r1["n_email"], r1["n_ssn"], r1["n_phone"], r1["n_ipv4"]) == (2, 1, 1, 1)
    assert r1["redacted"] == (
        "mail <EMAIL> and <EMAIL>, ssn <SSN>, call <PHONE>, host <IPV4>"
    )
    r2 = out[2]
    assert (r2["n_email"], r2["n_ssn"], r2["n_phone"], r2["n_ipv4"]) == (0, 0, 0, 0)
    assert r2["redacted"] == "no identifiers here"


def test_pii_redaction_order_ssn_before_phone(spark):
    from lakeflow.operators.pii import pii_profile

    # 123-45-6789 is NOT a phone (3-2-4); 123-456-7890 is NOT an SSN —
    # fixed application order must classify each exactly once
    df = spark.createDataFrame([Row(doc_id=1, text="123-45-6789 123-456-7890")])
    r = pii_profile(df, "doc_id", "text").collect()[0]
    assert (r["n_ssn"], r["n_phone"]) == (1, 1)
    assert r["redacted"] == "<SSN> <PHONE>"


def test_pack_sequences_placements(spark):
    from lakeflow.operators.packing import pack_sequences

    df = spark.createDataFrame(
        [
            Row(doc_id=1, shard="x", n_tokens=300),
            Row(doc_id=2, shard="x", n_tokens=300),  # straddles seq 0/1
            Row(doc_id=3, shard="x", n_tokens=100),
            Row(doc_id=9, shard="y", n_tokens=50),  # shards independent
        ]
    )
    out = {
        r["doc_id"]: (r["seq_id"], r["offset_in_seq"], r["start_token"])
        for r in pack_sequences(df, "doc_id", "n_tokens", "shard", 512).collect()
    }
    assert out[1] == (0, 0, 0)
    assert out[2] == (0, 300, 300)
    assert out[3] == (1, 88, 600)
    assert out[9] == (0, 0, 0)


def test_boilerplate_profile(spark):
    # "one two three" appears in 3 docs (>= min_doc_freq); doc 4 is clean
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="one two three alpha beta"),
            Row(doc_id=2, text="one two three gamma delta"),
            Row(doc_id=3, text="one two three epsilon zeta"),
            Row(doc_id=4, text="nothing shared here at all"),
        ]
    )
    out = {
        r["doc_id"]: r
        for r in boilerplate_profile(
            df, "doc_id", "text", n=3, min_doc_freq=3
        ).collect()
    }
    # each doc has 3 trigram occurrences; exactly 1 is the shared one
    for i in (1, 2, 3):
        assert out[i]["n_shingles"] == 3
        assert out[i]["n_hot"] == 1
        assert out[i]["boilerplate_micros"] == 333_333
    assert out[4]["n_hot"] == 0
    assert out[4]["boilerplate_micros"] == 0


def test_contamination_profile(spark):
    trn = spark.createDataFrame(
        [
            Row(doc_id=1, text="leaked eval question here today"),  # overlaps
            Row(doc_id=2, text="completely original training text"),
        ]
    )
    bench = spark.createDataFrame(
        [Row(doc_id=100, text="the leaked eval question here")]
    )
    out = {
        r["doc_id"]: r
        for r in contamination_profile(trn, bench, "doc_id", "text", n=3).collect()
    }
    # doc 1: trigrams {leaked eval question, eval question here,
    # question here today}; first two occur in the benchmark
    assert out[1]["n_distinct"] == 3
    assert out[1]["n_overlap"] == 2
    assert out[1]["contamination_micros"] == 666_667
    assert out[2]["n_overlap"] == 0
    assert out[2]["contamination_micros"] == 0


def test_profile_table_nulls_and_approx(spark):
    from lakeflow.operators.profile import profile_table

    df = spark.createDataFrame(
        [Row(a=1, b="x"), Row(a=None, b="y"), Row(a=3, b="y")]
    )
    out = {r["column"]: r for r in profile_table(df).collect()}
    assert out["a"]["n_rows"] == 3
    assert out["a"]["n_null"] == 1
    assert out["a"]["n_distinct"] == 2  # nulls excluded from distinct
    assert (out["a"]["min_value"], out["a"]["max_value"]) == ("1", "3")
    assert out["b"]["n_distinct"] == 2
    # approx mode: same shape, cardinalities in the right ballpark
    ap = {r["column"]: r for r in profile_table(df, approx=True).collect()}
    assert ap["a"]["n_distinct"] in (1, 2, 3)


def test_star_contraction_long_path_few_rounds(spark, monkeypatch):
    # an 80-node path has diameter 79: the star phase must finish it
    # within O(log n) rounds
    monkeypatch.setattr(clusters, "ONE_TASK_EDGES", 0)
    monkeypatch.setattr(clusters, "STAR_ROUNDS", 12)
    df = spark.createDataFrame([Row(a=i, b=i + 1) for i in range(79)])
    assert _components(df) == {i: 0 for i in range(80)}


def test_star_contraction_nonconvergence_raises(spark, monkeypatch):
    # a 6-node path needs more than one star round: the phase must say
    # so, not return partial labels
    monkeypatch.setattr(clusters, "ONE_TASK_EDGES", 0)
    monkeypatch.setattr(clusters, "STAR_ROUNDS", 1)
    df = spark.createDataFrame([Row(a=i, b=i + 1) for i in range(5)])
    with pytest.raises(RuntimeError, match="did not converge"):
        _components(df)


def test_token_budget_sample_caps_each_group(spark):
    from lakeflow.operators.sampling import token_budget_sample

    rows = [Row(doc_id=i, source="a" if i < 6 else "b", w=10) for i in range(10)]
    df = spark.createDataFrame(rows)
    kept = token_budget_sample(df, "source", "w", budget=30, key_col="doc_id")
    by_src = {
        r["source"]: r["n"]
        for r in kept.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # budget 30 / weight 10 => exactly 3 docs per group survive
    assert by_src == {"a": 3, "b": 3}
    # deterministic: same kept set on rerun
    ids1 = sorted(r["doc_id"] for r in kept.collect())
    ids2 = sorted(
        r["doc_id"]
        for r in token_budget_sample(df, "source", "w", budget=30, key_col="doc_id").collect()
    )
    assert ids1 == ids2
    # a row heavier than the remaining budget is excluded (run > budget)
    heavy = spark.createDataFrame([Row(doc_id=1, source="a", w=31)])
    assert token_budget_sample(heavy, "source", "w", budget=30, key_col="doc_id").count() == 0


def test_vocab_heavy_hitters(spark):
    from lakeflow.operators.corpus import vocab_heavy_hitters

    rows = [
        Row(doc_id=0, text="a a a b"),
        Row(doc_id=1, text="a b c"),
        Row(doc_id=2, text="b c  "),
    ]
    out = vocab_heavy_hitters(spark.createDataFrame(rows), k=2).collect()
    assert [(r["token"], r["n_occurrences"], r["doc_freq"], r["rnk"]) for r in out] == [
        ("a", 4, 2, 1),
        ("b", 3, 3, 2),
    ]


def test_percentile_band_approx_contract(spark):
    from lakeflow.operators.corpus import percentile_band

    # the approx path's contract: approx_percentile(accuracy) returns a
    # value whose RANK differs from the exact percentile rank by at most
    # n/accuracy positions (GK sketch bound). Verify on a value set with
    # ties and skew, and verify exact/approx band agreement within that
    # rank tolerance at both edges.
    vals = [i % 97 for i in range(4000)] + [10_000] * 40 + [-5] * 40
    df = spark.createDataFrame([Row(v=v) for v in vals])
    n, accuracy = len(vals), 1000
    exact = percentile_band(df, "v", 0.05, 0.95, approx=False)
    approx = percentile_band(df, "v", 0.05, 0.95, approx=True, accuracy=accuracy)
    n_exact, n_approx = exact.count(), approx.count()
    # each threshold can shift the kept set by at most n/accuracy ranks
    # (+ tie-run widening: all rows equal to the threshold flip together)
    svals = sorted(vals)
    tol = 0
    for q in (0.05, 0.95):
        rank = int(q * n)
        lo_r, hi_r = max(0, rank - n // accuracy), min(n - 1, rank + n // accuracy)
        # worst-case flip = every row whose value ties any candidate threshold
        cand = set(svals[lo_r : hi_r + 1])
        tol += sum(1 for v in vals if v in cand)
    assert abs(n_exact - n_approx) <= tol, (n_exact, n_approx, tol)
    # sanity: both bands drop the injected outliers entirely
    assert exact.filter("v = 10000 OR v = -5").count() == 0
    assert approx.filter("v = 10000 OR v = -5").count() == 0


def test_leakage_safe_split_dups_share_split(spark):
    from lakeflow.operators.sampling import leakage_safe_split

    # doc 0 and 5 have IDENTICAL content: they must land in one split;
    # every row gets exactly one of train/val/test
    rows = [Row(doc_id=i, fp=f"c{i % 5}") for i in range(10)]
    out = leakage_safe_split(spark.createDataFrame(rows), "fp").collect()
    by_fp = {}
    for r in out:
        by_fp.setdefault(r["fp"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_fp.values())
    assert {r["split"] for r in out} <= {"train", "val", "test"}
    assert all(r["split"] is not None for r in out)
    # custom boundaries are honored
    two = leakage_safe_split(
        spark.createDataFrame(rows), "fp",
        boundaries_ppm={"a": (0, 500_000), "b": (500_000, 1_000_000)},
    ).collect()
    assert {r["split"] for r in two} <= {"a", "b"}


def test_chunk_windows_coverage_and_overlap(spark):
    from lakeflow.operators.packing import chunk_windows

    df = spark.createDataFrame(
        [Row(doc_id=0, n=10), Row(doc_id=1, n=64), Row(doc_id=2, n=65), Row(doc_id=3, n=200)]
    )
    out = chunk_windows(df, "n", size=64, overlap=16).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # short docs: one (partial) chunk; exactly-size doc: one full chunk
    assert len(by_doc[0]) == 1 and by_doc[0][0]["chunk_len"] == 10
    assert len(by_doc[1]) == 1 and by_doc[1][0]["chunk_len"] == 64
    # 65 tokens: second window starts at 48 and covers the tail
    assert [(r["start_token"], r["chunk_len"]) for r in sorted(by_doc[2], key=lambda r: r["chunk_id"])] == [(0, 64), (48, 17)]
    # every token index is covered; consecutive windows overlap by 16
    chunks = sorted(by_doc[3], key=lambda r: r["chunk_id"])
    assert chunks[0]["start_token"] == 0
    for a, b in zip(chunks, chunks[1:]):
        assert b["start_token"] == a["start_token"] + 48
    last = chunks[-1]
    assert last["start_token"] + last["chunk_len"] == 200
    import pytest as _pytest
    with _pytest.raises(ValueError):
        chunk_windows(df, "n", size=16, overlap=16)


def test_clean_lines_rules(spark):
    from lakeflow.operators.text import clean_lines

    doc = "\n".join(
        [
            "A good sentence stays here.",   # kept
            "Too short.",                    # < 3 words
            "no terminal punctuation here",  # no [.!?"']
            "This has lorem ipsum filler.",  # banned substring
            "function() { return 1; }",      # banned '{' (and no punct end)
            "Does a question survive?",      # kept
        ]
    )
    out = clean_lines(
        spark.createDataFrame([Row(doc_id=0, text=doc)])
    ).collect()[0]
    assert out["n_lines_total"] == 6
    assert out["n_lines_kept"] == 2
    assert out["clean_text"] == "A good sentence stays here.\nDoes a question survive?"
    # empty result reassembles to '' (not null)
    empty = clean_lines(
        spark.createDataFrame([Row(doc_id=1, text="nope")])
    ).collect()[0]
    assert empty["clean_text"] == "" and empty["n_lines_kept"] == 0


def test_exact_k_sample_properties(spark):
    from lakeflow.operators.sampling import exact_k_sample

    df = spark.range(1000).withColumnRenamed("id", "k")
    s10 = sorted(r["k"] for r in exact_k_sample(df, "k", 10).collect())
    s50 = sorted(r["k"] for r in exact_k_sample(df, "k", 50).collect())
    assert len(s10) == 10 and len(s50) == 50
    # nested: smaller k is a subset of larger k
    assert set(s10) <= set(s50)
    # deterministic across reruns and partitioning
    again = sorted(
        r["k"] for r in exact_k_sample(df.repartition(13), "k", 10).collect()
    )
    assert again == s10
    # different seeds give different draws
    other = sorted(r["k"] for r in exact_k_sample(df, "k", 10, seed="x").collect())
    assert other != s10


def test_surprisal_profile_known_values(spark):
    from lakeflow.operators.corpus import surprisal_profile

    # corpus: "a" x 6, "b" x 1, "c" x 1 -> total 8.
    # bits(tok) = bit_length(8 div n): a -> bin(1)='1' (1 bit),
    # b/c -> bin(8)='1000' (4 bits)
    rows = [
        Row(doc_id=0, text="a a a b"),   # bits 1+1+1+4 = 7
        Row(doc_id=1, text="a a a c"),   # 7
    ]
    out = {
        r["doc_id"]: r
        for r in surprisal_profile(spark.createDataFrame(rows)).collect()
    }
    for i in (0, 1):
        assert out[i]["n_tokens"] == 4
        assert out[i]["surprisal_bits"] == 7
        assert out[i]["mean_surprisal_milli"] == 1750


def test_dedup_survivors_keeps_best_per_cluster(spark):
    from lakeflow.operators.clusters import dedup_survivors

    df = spark.createDataFrame(
        [
            Row(doc_id=1, q=10),
            Row(doc_id=2, q=30),  # best of cluster {1,2,3} -> survives
            Row(doc_id=3, q=20),
            Row(doc_id=7, q=5),   # unpaired singleton -> survives
            Row(doc_id=8, q=50),  # cluster {8,9}: tie on q -> min id
            Row(doc_id=9, q=50),
        ]
    )
    pairs = spark.createDataFrame(
        [Row(doc_id_a=1, doc_id_b=2), Row(doc_id_a=2, doc_id_b=3),
         Row(doc_id_a=8, doc_id_b=9)]
    )
    out = {r["doc_id"]: r for r in dedup_survivors(df, pairs, "doc_id", "q").collect()}
    assert set(out) == {2, 7, 8}
    assert out[2]["n_merged"] == 3
    assert out[7]["n_merged"] == 1
    assert out[8]["n_merged"] == 2


def test_clean_lines_idempotent(spark):
    # cleaning a cleaned document is a no-op: every surviving line
    # already satisfies the filter, and array_join/split round-trips
    from lakeflow.operators.text import clean_lines

    docs = spark.createDataFrame(
        [
            Row(doc_id=0, text="Keep this proper sentence.\nno\nAnother good line stays!"),
            Row(doc_id=1, text="all lowercase junk without punct\n{code}"),
            Row(doc_id=2, text="One survivor only, right here."),
        ]
    )
    once = clean_lines(docs)
    again = clean_lines(
        once.select(F.col("doc_id"), F.col("clean_text").alias("text"))
    )
    a = {r["doc_id"]: r["clean_text"] for r in once.collect()}
    b = {r["doc_id"]: r["clean_text"] for r in again.collect()}
    assert a == b
    kept = {r["doc_id"]: (r["n_lines_kept"], r["n_lines_total"]) for r in again.collect()}
    # after cleaning, every remaining line is kept (except the empty doc,
    # where '' splits to one empty line that is dropped again)
    assert kept[0] == (2, 2) and kept[2] == (1, 1)
    assert kept[1][0] == 0


def test_exact_k_sample_k_exceeds_n(spark):
    from lakeflow.operators.sampling import exact_k_sample

    df = spark.range(7).withColumnRenamed("id", "k")
    out = exact_k_sample(df, "k", 100)
    assert out.count() == 7  # k > n returns everything, no error


def test_excise_repeated_spans_behavior(spark):
    from lakeflow.operators.text import excise_repeated_spans

    shared = "the quick brown fox jumps over the lazy dog"  # 9 tokens
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=f"alpha {shared} omega"),
            Row(doc_id=2, text=f"start {shared} finish line here"),
            Row(doc_id=3, text="совершенно unique content nothing repeats at all"),
        ]
    )
    out = {
        r["doc_id"]: r
        for r in excise_repeated_spans(docs, n=8, min_count=2).collect()
    }
    # the shared 9-token phrase contains two duplicated 8-gram starts in
    # each doc; every token of the phrase is covered, the unique frame
    # words survive
    assert out[1]["n_excised"] == 9 and out[1]["clean_text"] == "alpha omega"
    assert out[2]["n_excised"] == 9
    assert out[2]["clean_text"] == "start finish line here"
    # untouched doc: zero spans, text preserved verbatim (token-joined)
    assert out[3]["n_excised"] == 0 and out[3]["n_dup_starts"] == 0
    assert out[3]["clean_text"] == "совершенно unique content nothing repeats at all"


def test_excise_repeated_spans_intra_doc(spark):
    from lakeflow.operators.text import excise_repeated_spans

    # repetition WITHIN one document also counts (Lee et al. semantics)
    phrase = "one two three four five six seven eight"
    docs = spark.createDataFrame(
        [Row(doc_id=1, text=f"{phrase} middle {phrase}")]
    )
    r = excise_repeated_spans(docs, n=8, min_count=2).collect()[0]
    assert r["n_dup_starts"] == 2
    assert r["clean_text"] == "middle"


def test_exact_percent_rank_matches_window(spark):
    from pyspark.sql import Window as W

    from lakeflow.operators.corpus import exact_percent_rank

    df = spark.createDataFrame(
        [Row(id=i, v=(i * 37) % 11) for i in range(200)]  # heavy ties
    ).repartition(8)
    got = {
        (r["id"], r["pr_micros"])
        for r in exact_percent_rank(df, "v").collect()
    }
    w = W.orderBy("v")
    truth = {
        (r["id"], round(r["pr"] * 1_000_000))
        for r in df.withColumn("pr", F.percent_rank().over(w)).collect()
    }
    assert got == truth


def test_dedup_paragraphs_keeps_first_occurrence(spark):
    from lakeflow.operators.text import dedup_paragraphs

    boiler = "subscribe to our newsletter today"
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=f"unique intro one\n{boiler}\nunique body one"),
            Row(doc_id=2, text=f"{boiler}\nunique body two"),
            Row(doc_id=3, text=f"unique three\n\n{boiler}"),
        ]
    )
    out = {r["doc_id"]: r for r in dedup_paragraphs(docs).collect()}
    # first occurrence = (doc 1, pos 1): doc 1 intact, later copies drop
    assert out[1]["n_dropped"] == 0
    assert out[1]["clean_text"] == f"unique intro one\n{boiler}\nunique body one"
    assert out[2]["n_dropped"] == 1
    assert out[2]["clean_text"] == "unique body two"
    # blank paragraphs preserve layout and never dedup
    assert out[3]["n_dropped"] == 1
    assert out[3]["clean_text"] == "unique three\n"
    assert out[3]["n_paragraphs"] == 3


def test_dedup_paragraphs_intra_doc(spark):
    from lakeflow.operators.text import dedup_paragraphs

    docs = spark.createDataFrame(
        [Row(doc_id=5, text="same line here\nsame line here\nother")]
    )
    r = dedup_paragraphs(docs).collect()[0]
    assert r["n_dropped"] == 1
    assert r["clean_text"] == "same line here\nother"


def test_dedup_paragraphs_whitespace_normalized_match(spark):
    from lakeflow.operators.text import dedup_paragraphs

    # trim-normalized comparison: '  x  ' matches 'x'; the ORIGINAL
    # text of the surviving occurrence is preserved verbatim
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="  x  \npad"), Row(doc_id=2, text="x\npad2")]
    )
    out = {r["doc_id"]: r for r in dedup_paragraphs(docs).collect()}
    assert out[1]["n_dropped"] == 0 and out[1]["clean_text"] == "  x  \npad"
    assert out[2]["n_dropped"] == 1 and out[2]["clean_text"] == "pad2"


def test_exact_percent_rank_null_values_kept(spark):
    # regression: null values attach null-safely and rank first
    # (Spark's ascending NULLS FIRST), matching percent_rank() exactly
    from pyspark.sql import Window as W

    from lakeflow.operators.corpus import exact_percent_rank

    df = spark.createDataFrame(
        [Row(id=1, v=None), Row(id=2, v=None), Row(id=3, v=5), Row(id=4, v=10)]
    )
    got = {
        (r["id"], r["pr_micros"])
        for r in exact_percent_rank(df, "v").collect()
    }
    truth = {
        (r["id"], round(r["pr"] * 1_000_000))
        for r in df.withColumn(
            "pr", F.percent_rank().over(W.orderBy("v"))
        ).collect()
    }
    assert got == truth and len(got) == 4


def test_bigram_surprisal_backoff_semantics(spark):
    from lakeflow.operators.corpus import bigram_surprisal_profile

    # corpus: "a b" x3 establishes the bigram above the noise floor;
    # doc 4 has "b a" — its sequence count is 1 (only itself), which is
    # UNSEEN under min_bigram_count=2, so the backoff path fires
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b"),
            Row(doc_id=2, text="a b"),
            Row(doc_id=3, text="a b"),
            Row(doc_id=4, text="b a"),
        ]
    )
    out = {r["doc_id"]: r for r in bigram_surprisal_profile(docs).collect()}
    assert all(out[i]["n_tokens"] == 2 for i in out)
    # total=8, C(a)=C(b)=4, C(a,b)=3 (seen), C(b,a)=1 (below floor)
    # doc1: first 'a' = bl(8 div 4)=bl(2)=2; 'b' seen bl(4 div 3)=bl(1)=1
    assert out[1]["surprisal_bits"] == 3
    assert out[1]["surprisal_bits"] == out[2]["surprisal_bits"] == out[3]["surprisal_bits"]
    # doc4: first 'b' = 2; 'a' after 'b' BACKS OFF: bl((8*5) div (2*4)) = bl(5) = 3
    assert out[4]["surprisal_bits"] == 5
    assert out[4]["mean_surprisal_milli"] > out[1]["mean_surprisal_milli"]


def test_bigram_surprisal_backoff_differs_from_seen_formula(spark):
    from lakeflow.operators.corpus import bigram_surprisal_profile

    # numbers chosen so the two formulas DISAGREE — proves the backoff
    # branch executes rather than the seen-bigram branch with C=1:
    # tokens: x*7 + "x y" -> total=9, C(x)=8, C(y)=1, C(x,y)=1 (< 2)
    # backoff for y|x:  bl((9*5) div (2*1)) = bl(22) = 5
    # seen-with-C=1 would have been bl(C(x) div 1) = bl(8) = 4
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="x x x x x x x"),
            Row(doc_id=2, text="x y"),
        ]
    )
    out = {r["doc_id"]: r for r in bigram_surprisal_profile(docs).collect()}
    # doc2: first 'x' = bl(9 div 8) = bl(1) = 1; 'y' backs off = 5
    assert out[2]["surprisal_bits"] == 6
    # doc1: first x bl(9 div 8)=1, then six x|x with C(x,x)=6 (seen):
    # bl(8 div 6) = bl(1) = 1 each -> 1 + 6 = 7
    assert out[1]["surprisal_bits"] == 7


def test_bigram_surprisal_threshold_configurable(spark):
    from lakeflow.operators.corpus import bigram_surprisal_profile

    # min_bigram_count=1 restores the degenerate self-scoring regime:
    # every sequence is its own evidence, backoff never fires
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="x x x x x x x"), Row(doc_id=2, text="x y")]
    )
    out = {
        r["doc_id"]: r
        for r in bigram_surprisal_profile(docs, min_bigram_count=1).collect()
    }
    # doc2's y|x now takes the seen path: bl(8 div 1) = 4; total 1+4=5
    assert out[2]["surprisal_bits"] == 5


def test_grouped_percent_rank_per_group(spark):
    from pyspark.sql import Window as W

    from lakeflow.operators.corpus import grouped_percent_rank

    df = spark.createDataFrame(
        [Row(id=i, g=f"d{i % 3}", v=(i * 17) % 7) for i in range(60)]
        + [Row(id=100, g=None, v=3), Row(id=101, g=None, v=5)]
    ).repartition(6)
    got = {
        (r["id"], r["pr_micros"])
        for r in grouped_percent_rank(df, "g", "v").collect()
    }
    truth = {
        (r["id"], round(r["pr"] * 1_000_000))
        for r in df.withColumn(
            "pr", F.percent_rank().over(W.partitionBy("g").orderBy("v"))
        ).collect()
    }
    assert got == truth and len(got) == 62  # null group kept


def test_winsorize_clamps_and_preserves_rows(spark):
    from pyspark.sql import functions as F

    from lakeflow.operators.corpus import winsorize

    df = spark.range(1000).select((F.col("id") * F.col("id")).alias("v"))
    thr = df.agg(
        F.percentile("v", 0.05).alias("lo"), F.percentile("v", 0.95).alias("hi")
    ).collect()[0]
    w = winsorize(df, "v", 0.05, 0.95, approx=False, out_col="c")
    assert w.count() == 1000  # clamped, never dropped
    mm = w.agg(F.min("c").alias("mn"), F.max("c").alias("mx")).collect()[0]
    assert mm["mn"] == thr["lo"] and mm["mx"] == thr["hi"]
    # inner values untouched
    inner = w.where((F.col("v") > thr["lo"]) & (F.col("v") < thr["hi"]))
    assert inner.where(F.col("c") != F.col("v")).count() == 0
    # sketch path: thresholds within the documented rank-error band
    wa = winsorize(df, "v", 0.05, 0.95, approx=True, accuracy=10_000, out_col="c")
    mma = wa.agg(F.min("c").alias("mn"), F.max("c").alias("mx")).collect()[0]
    assert abs(mma["mn"] - thr["lo"]) <= thr["lo"] * 0.2 + 100
    assert abs(mma["mx"] - thr["hi"]) <= thr["hi"] * 0.2 + 100


def test_oov_profile_counts(spark):
    from pyspark.sql import Row

    from lakeflow.operators.corpus import oov_profile

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="a a a b"),
            Row(doc_id=2, text="a zzz qqq"),
            Row(doc_id=3, text="b b"),
        ]
    )
    # vocab_k=2 -> top tokens by count: a(4), b(3)
    got = {r["doc_id"]: (r["n_tokens"], r["n_oov"], r["oov_micros"])
           for r in oov_profile(docs, "doc_id", "text", vocab_k=2).collect()}
    assert got[1] == (4, 0, 0)
    assert got[2] == (3, 2, 666_666)
    assert got[3] == (2, 0, 0)


def test_equi_depth_histogram_balanced_bins(spark):
    from pyspark.sql import functions as F

    from lakeflow.operators.profile import equi_depth_histogram

    # heavy-tailed data: squares — uniform-width bins would collapse
    df = spark.range(8000).select((F.col("id") * F.col("id")).alias("v"))
    h = {r["bin"]: r for r in equi_depth_histogram(df, "v", 8, approx=False).collect()}
    assert set(h) == set(range(8))
    for b, r in h.items():
        assert 900 <= r["n_rows"] <= 1100  # ~1/8 each despite the skew
        assert r["min_v"] <= r["max_v"]
    # bins are ordered and non-overlapping
    for b in range(7):
        assert h[b]["max_v"] <= h[b + 1]["min_v"]


def test_tokenize_to_ids_roundtrip(spark):
    from pyspark.sql import Row

    from lakeflow.operators.corpus import tokenize_to_ids

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b a c"),
            Row(doc_id=2, text="zzz a"),
        ]
    )
    # counts: a=3, b=1, c=1, zzz=1 -> vocab_k=2: a(id 1), b(id 2)
    got = {r["doc_id"]: r["token_ids"]
           for r in tokenize_to_ids(docs, "doc_id", "text", vocab_k=2).collect()}
    assert got[1] == [1, 2, 1, 0]  # c -> OOV 0
    assert got[2] == [0, 1]


def test_winsorize_preserves_nulls(spark):
    from pyspark.sql import functions as F

    from lakeflow.operators.corpus import winsorize

    df = spark.createDataFrame(
        [(i,) for i in range(1, 101)] + [(None,)], "v long"
    )
    w = winsorize(df, "v", 0.05, 0.95, approx=False, out_col="c")
    nulls = w.where(F.col("v").isNull()).collect()
    assert len(nulls) == 1 and nulls[0]["c"] is None  # never fabricated
    assert w.where(F.col("c").isNull()).count() == 1


def test_importance_profile_directions(spark):
    from pyspark.sql import functions as F

    from lakeflow.operators.corpus import importance_profile

    rows = [
        # target corpus: science-y vocabulary
        (1, "atom proton neutron electron", 1),
        (2, "proton electron quark atom", 1),
        # raw corpus: web spam vocabulary + one science-like doc
        (3, "click here buy now click", 0),
        (4, "buy cheap click here now", 0),
        (5, "atom electron proton quark", 0),
        (6, "click buy cheap now here", 0),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "tgt"])
    out = {
        r.doc_id: r
        for r in importance_profile(
            df, "doc_id", "text", F.col("tgt") == 1
        ).collect()
    }
    # the science-like raw doc must outscore every spam doc
    assert out[5].weight_bits > out[3].weight_bits
    assert out[5].weight_bits > out[4].weight_bits
    # spam docs (target-absent tokens) get negative weights
    assert out[3].weight_bits < 0
    # per-doc token counts survive the pipeline
    assert out[1].n_tokens == 4
    # floor-division mean: weight_bits*1000 floor-divided by n_tokens
    for r in out.values():
        import math

        assert r.mean_weight_milli == math.floor(r.weight_bits * 1000 / r.n_tokens)


def test_hard_negatives_band_excludes_dups_and_easy(spark):
    from lakeflow.operators.similarity import hard_negatives

    # q=(1,0); dup=(0.999..,~0.02) cos~1 -> excluded as near-dup;
    # hard=(0.8,0.6) cos=0.8 -> kept; easy=(0.05,0.999) cos~0.05 ->
    # excluded below the floor; anti=(-1,0) cos=-1 -> excluded
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.9998, 0.02]),
        (2, [0.8, 0.6]),
        (3, [0.05, 0.9987]),
        (4, [-1.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = hard_negatives(
        emb,
        F.col("vec_id") == 0,
        k=5,
        dup_threshold_micros=950_000,
        min_cos_micros=200_000,
    ).collect()
    assert [(r.q_id, r.vec_id, r.rnk) for r in got] == [(0, 2, 1)]
    assert got[0].cos_micros == 800_000


def test_linear_filter_separates_planted_populations(spark):
    # planted separable classes: "good" prose (spaced, punctuated) vs
    # "bad" digit-soup; two perceptron epochs must separate them and
    # the fit must be invariant to partitioning (exact integer sums)
    from lakeflow.operators.classifier import (
        fit_linear_filter,
        score_linear,
        text_feature_micros,
    )

    good = [
        (i, 1, "a clean sentence with words. another one follows here.")
        for i in range(40)
    ]
    bad = [(100 + i, -1, "0123456789" * 30) for i in range(40)]
    df = spark.createDataFrame(good + bad, "id long, y long, text string")
    feats = text_feature_micros("text")
    w = fit_linear_filter(df, "y", feats, n_epochs=2)
    scored = {r["id"]: r["keep"] for r in score_linear(df, w, feats).collect()}
    assert all(scored[i] for i, _y, _t in good)
    assert not any(scored[i] for i, _y, _t in bad)
    # partitioning invariance: same weights from 1 or 13 partitions
    assert fit_linear_filter(df.repartition(13), "y", feats, n_epochs=2) == w
    assert fit_linear_filter(df.coalesce(1), "y", feats, n_epochs=2) == w


def test_linear_filter_feature_sql_mirror(spark):
    # each Spark feature expression must equal its DuckDB mirror on
    # awkward inputs (empty, punct-only, unicode, long)
    import duckdb

    from lakeflow.operators.classifier import sql_text_features, text_feature_micros

    texts = [
        "",
        "   ",
        "no punct here",
        "Dots. Dots! Dots? 123",
        "x" * 5000,
        "unicode éè text. 42",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    feats = text_feature_micros("text")
    got = [
        tuple(r[f"f{i}"] for i in range(len(feats)))
        for r in df.select(
            *[f.alias(f"f{i}") for i, f in enumerate(feats)]
        ).collect()
    ]
    con = duckdb.connect()
    exprs = ", ".join(sql_text_features("text"))
    want = []
    for t in texts:
        want.append(
            tuple(
                int(v)
                for v in con.execute(
                    f"SELECT {exprs} FROM (SELECT ?::VARCHAR AS text) t", [t]
                ).fetchone()
            )
        )
    assert got == want


def test_linear_filter_empty_training_set(spark):
    from lakeflow.operators.classifier import fit_linear_filter, text_feature_micros

    df = spark.createDataFrame([], "id long, y long, text string")
    w = fit_linear_filter(df, "y", text_feature_micros("text"), n_epochs=2)
    assert w == [0, 0, 0, 0, 0]


def test_temperature_mix_rates_math(spark):
    # planted strata: head 400 rows, tail 100 rows. alpha=1/2 weights
    # sqrt(400)=20, sqrt(100)=10 -> micro-weights 20e6/10e6, Z=30e6.
    # target 150: rate_head = 150*20e6*1e6 // (400*30e6) = 250_000 ppm,
    # rate_tail = 150*10e6*1e6 // (100*30e6) = 500_000 ppm — the tail
    # is sampled at 2x the head's rate (temperature flattening), and
    # expected totals are 100 + 50 = the 150 target
    from pyspark.sql import Row

    from lakeflow.operators.sampling import (
        temperature_mix_rates,
        temperature_mix_sample,
    )

    rows = [Row(k=i, s="head") for i in range(400)]
    rows += [Row(k=1000 + i, s="tail") for i in range(100)]
    df = spark.createDataFrame(rows)
    got = {r["s"]: r for r in temperature_mix_rates(df, "s", 150).collect()}
    assert got["head"]["rate_ppm"] == 250_000
    assert got["tail"]["rate_ppm"] == 500_000
    assert got["head"]["n_rows"] == 400 and got["tail"]["n_rows"] == 100
    # a stratum smaller than its tempered share is kept whole (cap)
    tiny = df.union(spark.createDataFrame([Row(k=5000 + i, s="rare") for i in range(2)]))
    rc = {r["s"]: r["rate_ppm"] for r in temperature_mix_rates(tiny, "s", 400).collect()}
    assert rc["rare"] == 1_000_000
    # the sample is the deterministic hash predicate at those rates:
    # same membership under any partitioning
    a = {r["k"] for r in temperature_mix_sample(df, "k", "s", 150).collect()}
    b = {
        r["k"]
        for r in temperature_mix_sample(df.repartition(13, "k"), "k", "s", 150).collect()
    }
    assert a == b and len(a) > 0


def test_temperature_mix_degenerate_inputs(spark):
    from pyspark.sql import Row

    from lakeflow.operators.sampling import (
        temperature_mix_rates,
        temperature_mix_sample,
    )

    empty = spark.createDataFrame([], "k long, s string")
    out = temperature_mix_rates(empty, "s", 100)
    assert out.count() == 0
    assert out.columns == ["s", "n_rows", "rate_ppm"]
    assert temperature_mix_sample(empty, "k", "s", 100).count() == 0
    # target 0: rates 0, sample empty (no division-by-zero paths)
    df = spark.createDataFrame([Row(k=1, s="a"), Row(k=2, s="b")])
    rates = {r["s"]: r["rate_ppm"] for r in temperature_mix_rates(df, "s", 0).collect()}
    assert rates == {"a": 0, "b": 0}
    assert temperature_mix_sample(df, "k", "s", 0).count() == 0
    # single stratum: the whole target lands on it (capped at 1e6)
    one = spark.createDataFrame([Row(k=i, s="only") for i in range(10)])
    r = temperature_mix_rates(one, "s", 5).collect()[0]
    assert r["rate_ppm"] == 500_000


def test_temperature_mix_nested_samples(spark):
    # rate_d is monotone in the target and membership is hash < rate,
    # so a smaller target's kept set is a SUBSET of a larger target's —
    # the same nested-sample property as hash_sample (scaling-law runs
    # can grow a mix without resampling from scratch)
    from pyspark.sql import Row

    from lakeflow.operators.sampling import temperature_mix_sample

    rows = [Row(k=i, s="head") for i in range(400)]
    rows += [Row(k=1000 + i, s="tail") for i in range(100)]
    df = spark.createDataFrame(rows)
    small = {r["k"] for r in temperature_mix_sample(df, "k", "s", 60).collect()}
    big = {r["k"] for r in temperature_mix_sample(df, "k", "s", 240).collect()}
    assert small and small <= big and len(big) > len(small)


def test_corpus_overlap_estimate(spark):
    from lakeflow.operators.corpus import (
        corpus_minhash_signature,
        corpus_overlap_estimate,
    )

    docs = spark.createDataFrame(
        [(i, f"w{i} w{i+1} w{i+2} w{i+3} w{i+4}") for i in range(40)],
        ["doc_id", "text"],
    )
    # identical corpora: every signature component matches, estimate 1.0
    same = corpus_overlap_estimate(docs, docs, "text", k=8).collect()[0]
    assert (same["n_seeds"], same["n_match"]) == (8, 8)
    assert same["jaccard_est_micros"] == 1_000_000
    # token-disjoint corpora: shingle sets share nothing; with 8
    # independent 28-bit slice hashes a component tie is ~2^-25/seed —
    # deterministic fixture, checked once, stays 0
    other = spark.createDataFrame(
        [(i, f"z{i} z{i+1} z{i+2} z{i+3} z{i+4}") for i in range(40)],
        ["doc_id", "text"],
    )
    disj = corpus_overlap_estimate(docs, other, "text", k=8).collect()[0]
    assert disj["n_match"] == 0 and disj["jaccard_est_micros"] == 0
    # the signature equals a pure-Python mirror (hashlib slice mins over
    # the corpus shingle multiset)
    import hashlib

    def slices(s):
        out = []
        for seed in ("cs0", "cs1"):
            d = hashlib.md5(f"{seed}|{s}".encode()).hexdigest()
            for j in range(4):
                out.append(int(d[7 * j : 7 * j + 7], 16))
        return out

    rows = [r["text"].split() for r in docs.collect()]
    shingles = [
        " ".join(t[i : i + 3]) for t in rows for i in range(len(t) - 2)
    ]
    want = [min(slices(s)[i] for s in shingles) for i in range(8)]
    got = corpus_minhash_signature(docs, "text", k=8).collect()[0]
    assert [got[f"mh{i}"] for i in range(8)] == want
    # k must be a multiple of 4 (slice packing)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="multiple of 4"):
        corpus_minhash_signature(docs, "text", k=6)


def _quant_corpus(spark, n=40, dim=6):
    # values are k/128 dyadic rationals: exact in float32, so the
    # pure-Python mirror needs no float32 emulation
    rows = [
        (
            i,
            [float(((i * (j + 3) * 13 + 7 * j + i) % 257 - 128) / 128.0) for j in range(dim)],
        )
        for i in range(n)
    ]
    return (
        spark.createDataFrame(rows, "vec_id long, embedding array<float>"),
        [r[1] for r in rows],
    )


def _quant_mirror(vecs):
    # the exact integer algebra of operators/quant.py in pure Python
    dim = len(vecs[0])
    import math

    xm = [[math.floor(x * 1_000_000 + 0.5) for x in v] for v in vecs]
    m = [max(abs(r[d]) for r in xm) for d in range(dim)]

    def code(x, md):
        if md == 0:
            return 0
        mag = (abs(x) * 254 + md) // (2 * md)
        return -mag if x < 0 else mag

    codes = [[code(r[d], m[d]) for d in range(dim)] for r in xm]
    return xm, m, codes


def test_int8_reconstruction_error_matches_python_mirror(spark):
    from lakeflow.operators.quant import int8_reconstruction_error

    df, vecs = _quant_corpus(spark)
    xm, m, codes = _quant_mirror(vecs)
    dim = len(m)
    err = {
        d: [abs(r[d] * 127 - c[d] * m[d]) for r, c in zip(xm, codes)]
        for d in range(dim)
    }
    want = {
        (d, m[d], max(err[d]) // 127, sum(err[d]) // 127) for d in range(dim)
    }
    got = {
        (r["dim"], r["scale_micros"], r["max_err_micros"], r["sum_err_micros"])
        for r in int8_reconstruction_error(df).collect()
    }
    assert got == want
    # the half-step error bound holds per dimension
    for r in int8_reconstruction_error(df).collect():
        assert r["max_err_micros"] <= r["scale_micros"] // 254 + 1


def test_int8_encode_and_dequant_match_python_mirror(spark):
    from lakeflow.operators.quant import int8_dequant, int8_encode, int8_scales

    df, vecs = _quant_corpus(spark)
    xm, m, codes = _quant_mirror(vecs)
    scales = int8_scales(df)
    got_codes = {
        r["vec_id"]: list(r["codes"]) for r in int8_encode(df, scales).collect()
    }
    assert got_codes == {i: codes[i] for i in range(len(codes))}
    assert all(
        -127 <= c <= 127 for row in got_codes.values() for c in row
    )
    deq = {
        r["vec_id"]: list(r["dequant_micros"])
        for r in int8_dequant(df, scales).collect()
    }
    want_deq = {
        i: [
            (-((abs(c) * md) // 127) if c < 0 else (c * md) // 127)
            for c, md in zip(codes[i], m)
        ]
        for i in range(len(codes))
    }
    assert deq == want_deq


def test_int8_constant_zero_dimension_codes_zero(spark):
    from lakeflow.operators.quant import int8_encode, int8_scales

    df = spark.createDataFrame(
        [(0, [0.0, 0.5]), (1, [0.0, -0.25])], "vec_id long, embedding array<float>"
    )
    out = {r["vec_id"]: list(r["codes"]) for r in int8_encode(df, int8_scales(df)).collect()}
    assert out[0][0] == 0 and out[1][0] == 0  # m == 0 -> code 0, no div-by-0
    assert out[0][1] == 127 and out[1][1] == -64  # |x| == m -> +/-127


def test_int8_topk_recall_keeps_every_query_and_is_invariant(spark):
    from lakeflow.operators.quant import int8_topk_recall

    df, _ = _quant_corpus(spark, n=60, dim=6)
    out = int8_topk_recall(df, F.col("vec_id") < 5, k=4).collect()
    assert sorted(r["q_id"] for r in out) == [0, 1, 2, 3, 4]
    for r in out:
        assert 0 <= r["n_overlap"] <= 4
        assert r["recall_micros"] == r["n_overlap"] * 1_000_000 // 4
    re13 = int8_topk_recall(
        df.repartition(13, "vec_id"), F.col("vec_id") < 5, k=4
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, re13))


def _cos_micros_py(a, b):
    import math

    dot = sum(x * y for x, y in zip(a, b))
    n2a = sum(x * x for x in a)
    n2b = sum(y * y for y in b)
    return math.floor(dot / (math.sqrt(n2a) * math.sqrt(n2b)) * 1e6 + 0.5)


def test_mmr_select_matches_python_greedy(spark):
    import math

    from lakeflow.operators.similarity import mmr_select

    df, vecs = _quant_corpus(spark, n=30, dim=5)
    xm = [[math.floor(x * 1_000_000 + 0.5) for x in v] for v in vecs]
    lam, k, qid = 600_000, 4, 0
    cand = {i: _cos_micros_py(xm[i], xm[qid]) for i in range(len(xm)) if i != qid}
    picked, want = [], []
    for rank in range(1, k + 1):
        best = None
        for i, rel in cand.items():
            if i in (p[1] for p in picked):
                continue
            ms = max((_cos_micros_py(xm[i], xm[j]) for _, j in picked), default=0)
            score = lam * rel - (1_000_000 - lam) * ms
            key = (-score, i)
            if best is None or key < best[0]:
                best = (key, i, rel, ms, score)
        picked.append((rank, best[1]))
        want.append((rank, best[1], best[2], best[3], best[4]))
    got = [
        (r["rank"], r["vec_id"], r["rel_micros"], r["maxsim_micros"], r["score_e12"])
        for r in mmr_select(
            df, F.col("vec_id") == qid, k=k, lam_micros=lam
        ).orderBy("rank").collect()
    ]
    assert got == want


def test_mmr_select_diversifies_near_duplicate_cluster(spark):
    # a query, three near-copies of it, and two distinct directions:
    # plain top-3 is the near-copy cluster; MMR at lam=0.5 must leave
    # the cluster after taking its best member
    from lakeflow.operators.similarity import brute_force_topk, mmr_select

    rows = [
        (0, [1.0, 0.0, 0.0]),       # query
        (1, [0.9, 0.1, 0.0]),       # a near-duplicate cluster: mutual
        (2, [0.9, 0.11, 0.0]),      # cos ~0.9999, so the marginal
        (3, [0.9, 0.09, 0.01]),     # score of a second member goes
        (4, [0.6, 0.0, 0.8]),       # negative at lam=0.5
        (5, [0.6, 0.0, -0.8]),      # distinct directions: rel 0.6 but
    ]                               # cos-to-cluster ~0.596 < rel
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    plain = {
        r["vec_id"]
        for r in brute_force_topk(df, F.col("vec_id") == 0, k=3).collect()
    }
    assert plain == {1, 2, 3}
    mmr = [
        r["vec_id"]
        for r in mmr_select(df, F.col("vec_id") == 0, k=3, lam_micros=500_000)
        .orderBy("rank")
        .collect()
    ]
    assert len(set(mmr) & {4, 5}) == 2  # both distinct directions picked
    assert len(set(mmr) & {1, 2, 3}) == 1  # exactly one near-copy survives


def test_mmr_select_k_capped_by_corpus(spark):
    from lakeflow.operators.similarity import mmr_select

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.5, 0.5]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    out = mmr_select(df, F.col("vec_id") == 0, k=10).collect()
    assert sorted(r["vec_id"] for r in out) == [1, 2]  # stops when empty
    assert sorted(r["rank"] for r in out) == [1, 2]


def test_grouped_minhash_equals_filtered_corpus_signature(spark):
    # the docstring contract: a group's row in the grouped signature
    # IS the one-row corpus signature of that group filtered out
    from pyspark.sql import Row

    from lakeflow.operators.corpus import (
        corpus_minhash_signature,
        grouped_minhash_signatures,
        source_overlap_matrix,
    )

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, source="a", text="one two three four five"),
            Row(doc_id=2, source="a", text="two three four six seven"),
            Row(doc_id=3, source="b", text="one two three four five"),
            Row(doc_id=4, source="c", text="eight nine ten eleven twelve"),
        ]
    )
    k = 8
    grouped = {
        r["source"]: [r[f"mh{i}"] for i in range(k)]
        for r in grouped_minhash_signatures(docs, "source", "text", k=k).collect()
    }
    for src in ("a", "b", "c"):
        one = corpus_minhash_signature(
            docs.filter(F.col("source") == src), "text", k=k
        ).collect()[0]
        assert grouped[src] == [one[f"mh{i}"] for i in range(k)]

    m = source_overlap_matrix(docs, "source", "text", k=k).collect()
    assert len(m) == 3  # 3 unordered pairs, each src_a < src_b
    rows = {(r["src_a"], r["src_b"]): r for r in m}
    assert set(rows) == {("a", "b"), ("a", "c"), ("b", "c")}
    # b's only doc is a verbatim copy of one of a's docs -> shared
    # shingles -> nonzero estimate; c shares nothing -> 0
    assert rows[("a", "b")]["n_match"] > 0
    assert rows[("a", "c")]["n_match"] == 0 and rows[("b", "c")]["n_match"] == 0
    for r in m:
        assert r["jaccard_est_micros"] == r["n_match"] * 1_000_000 // k


def test_kcenter_select_matches_python_greedy(spark):
    import math

    from lakeflow.operators.similarity import kcenter_select

    df, vecs = _quant_corpus(spark, n=25, dim=5)
    xm = [[math.floor(x * 1_000_000 + 0.5) for x in v] for v in vecs]
    n2 = [sum(x * x for x in v) for v in xm]
    k = 4
    seed = max(range(len(xm)), key=lambda i: (n2[i], -i))
    picked = [(1, seed, 0)]
    while len(picked) < k:
        best = None
        for i in range(len(xm)):
            if i in (p[1] for p in picked):
                continue
            mc = max(_cos_micros_py(xm[i], xm[j]) for _, j, _ in picked)
            key = (mc, i)
            if best is None or key < best[0]:
                best = (key, i, mc)
        picked.append((len(picked) + 1, best[1], best[2]))
    got = [
        (r["rank"], r["vec_id"], r["maxcos_micros"])
        for r in kcenter_select(df, k=k).orderBy("rank").collect()
    ]
    assert got == picked


def test_selection_shortlist_fallback_identical(spark, monkeypatch):
    # r12: mmr/kcenter run rounds 2..k locally over a collected
    # shortlist with a certification bound; a tiny shortlist forces
    # the certification to fail and the distributed fallback to run —
    # output must be bit-identical to the wide-shortlist (pure-local)
    # run in both modes
    from lakeflow.operators import similarity as S

    df, _ = _quant_corpus(spark, n=40, dim=5)
    wide_mmr = [
        tuple(r)
        for r in S.mmr_select(df, F.col("vec_id") == 0, k=5).orderBy("rank").collect()
    ]
    wide_kc = [
        tuple(r) for r in S.kcenter_select(df, k=5).orderBy("rank").collect()
    ]
    monkeypatch.setattr(S, "_SHORTLIST", 2)
    assert [
        tuple(r)
        for r in S.mmr_select(df, F.col("vec_id") == 0, k=5).orderBy("rank").collect()
    ] == wide_mmr
    assert [
        tuple(r) for r in S.kcenter_select(df, k=5).orderBy("rank").collect()
    ] == wide_kc


def test_kcenter_select_spreads_over_clusters(spark):
    # three tight clusters; k=3 must pick one member from each (pure
    # diversity — unlike MMR there is no relevance to trade against)
    from lakeflow.operators.similarity import kcenter_select

    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [1.0, 0.02, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 1.0, 0.02]),
        (4, [0.0, 0.0, 1.0]),
        (5, [0.02, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    picked = {
        r["vec_id"] for r in kcenter_select(df, k=3).collect()
    }
    clusters = [{0, 1}, {2, 3}, {4, 5}]
    assert all(len(picked & c) == 1 for c in clusters)


# ---------------------------------------------------------------- pca


def _pca_mirror_sums(vecs):
    """Exact integer gram statistics mirror of operators/pca.gram_sums."""
    import math

    xm = [[math.floor(x * 1_000_000 + 0.5) for x in v] for v in vecs]
    dim = len(xm[0])
    n = len(xm)
    sx = [sum(r[i] for r in xm) for i in range(dim)]
    sxy = [
        [sum(r[i] * r[j] for r in xm) for j in range(dim)] for i in range(dim)
    ]
    return xm, n, sx, sxy


def _tdiv(a, b):
    mag = abs(a) // b
    return -mag if a < 0 else mag


def test_pca_gram_sums_match_python_mirror(spark):
    from lakeflow.operators.pca import gram_sums

    df, vecs = _quant_corpus(spark, n=30, dim=5)
    _, n, sx, sxy = _pca_mirror_sums(vecs)
    got = {int(r["i"]): r for r in gram_sums(df).collect()}
    assert set(got) == set(range(5))
    for i in range(5):
        assert int(got[i]["n"]) == n
        assert int(got[i]["sx"]) == sx[i]
        assert [int(v) for v in got[i]["sxy"]] == sxy[i]


def test_pca_gram_means_upper_triangle_trunc(spark):
    from lakeflow.operators.pca import gram_means

    df, vecs = _quant_corpus(spark, n=30, dim=5)
    _, n, _, sxy = _pca_mirror_sums(vecs)
    rows = gram_means(df).collect()
    # exactly the i <= j triangle
    assert sorted((r["i"], r["j"]) for r in rows) == [
        (i, j) for i in range(5) for j in range(5) if j >= i
    ]
    for r in rows:
        assert r["n"] == n
        assert r["mean_micro2"] == _tdiv(sxy[r["i"]][r["j"]], n)
    # the corpus must exercise the negative-sum sign split
    assert any(r["mean_micro2"] < 0 for r in rows)


def test_pca_fit_rejects_ragged_and_null_padded_vectors(spark):
    """Review round-8 finding: element_at past a short vector yields
    NULL and F.sum skips it, so ragged/null-padded corpora used to fit
    silently-wrong statistics. pca_fit must raise instead."""
    from lakeflow.operators.pca import pca_fit

    ragged = spark.createDataFrame(
        [([0.1, 0.2, 0.3],), ([0.4, 0.5],)], "embedding array<double>"
    )
    with pytest.raises(ValueError, match="ragged or null-padded"):
        pca_fit(ragged, k=2)

    padded = spark.createDataFrame(
        [([0.1, 0.2, 0.3],), ([0.4, None, 0.6],)], "embedding array<double>"
    )
    with pytest.raises(ValueError, match="ragged or null-padded"):
        pca_fit(padded, k=2)


def test_pca_fit_model_shape_and_sign_convention(spark):
    import numpy as np

    from lakeflow.operators.pca import pca_fit

    df, vecs = _quant_corpus(spark, n=40, dim=6)
    m = pca_fit(df, k=3)
    assert (m.n, m.dim, m.k) == (40, 6, 3)
    # eigenvalues descending, non-negative; EVR sums to <= 1e6
    assert list(m.eig_micro2) == sorted(m.eig_micro2, reverse=True)
    assert all(e >= 0 for e in m.eig_micro2)
    assert 0 < sum(m.evr_micros) <= 1_000_000
    W = np.array(m.comps_nano, dtype=float) / 1e9
    # near-orthonormal rows (quantization-level tolerance)
    assert np.allclose(W @ W.T, np.eye(3), atol=1e-6)
    # sign convention: each component's largest-|w| entry is positive
    for row in np.asarray(W):
        assert row[int(np.argmax(np.abs(row)))] > 0


def test_pca_project_matches_python_mirror_exactly(spark):
    from lakeflow.operators.pca import pca_fit, pca_project

    df, vecs = _quant_corpus(spark, n=40, dim=6)
    xm, _, _, _ = _pca_mirror_sums(vecs)
    m = pca_fit(df, k=3)

    def proj(row, c):
        s = sum(
            (row[d] - m.mean_micros[d]) * m.comps_nano[c][d]
            for d in range(m.dim)
        )
        return _tdiv(s, 1_000_000_000)

    got = {r["vec_id"]: r for r in pca_project(df, m).collect()}
    for i, row in enumerate(xm):
        for c in range(3):
            assert got[i][f"pc{c}_micros"] == proj(row, c)


def test_pca_projection_variance_tracks_eigenvalues(spark):
    # anisotropic gaussian-ish data: pc0 variance >> pc1 variance, and
    # each matches its fitted eigenvalue to quantization tolerance
    import numpy as np

    from lakeflow.operators.pca import pca_fit, pca_project

    rng = np.random.default_rng(7)
    base = rng.standard_normal((300, 4)) * np.array([0.5, 0.12, 0.03, 0.01])
    rows = [(i, [float(x) for x in base[i]]) for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    m = pca_fit(df, k=2)
    p = np.array(
        [
            [r["pc0_micros"], r["pc1_micros"]]
            for r in pca_project(df, m).collect()
        ],
        dtype=float,
    )
    v0, v1 = p.var(axis=0)  # micro^2
    assert v0 > 5 * v1
    assert abs(v0 - m.eig_micro2[0]) / max(m.eig_micro2[0], 1) < 0.01
    assert abs(v1 - m.eig_micro2[1]) / max(m.eig_micro2[1], 1) < 0.01


def test_pca_whiten_unit_variance(spark):
    import numpy as np

    from lakeflow.operators.pca import pca_fit, pca_project

    rng = np.random.default_rng(11)
    base = rng.standard_normal((400, 3)) * np.array([0.4, 0.1, 0.02])
    rows = [(i, [float(x) for x in base[i]]) for i in range(400)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    m = pca_fit(df, k=2)
    p = np.array(
        [
            [r["pc0_micros"], r["pc1_micros"]]
            for r in pca_project(df, m, whiten=True).collect()
        ],
        dtype=float,
    )
    # whitened components have ~unit variance (1e12 in micro^2)
    for v in p.var(axis=0):
        assert 0.9e12 < v < 1.1e12


def test_pca_fit_rejects_bad_inputs(spark):
    import pytest

    from lakeflow.operators.pca import MAX_FIT_DIM, gram_sums, pca_fit

    df, _ = _quant_corpus(spark, n=10, dim=4)
    with pytest.raises(ValueError, match="outside"):
        pca_fit(df, k=0)
    with pytest.raises(ValueError, match="outside"):
        pca_fit(df, k=5)
    empty = df.filter("vec_id < 0")
    with pytest.raises(ValueError, match="empty corpus"):
        gram_sums(empty)
    wide = df.selectExpr(
        "vec_id", f"transform(sequence(1, {MAX_FIT_DIM + 1}), x -> 0.0f) AS embedding"
    )
    with pytest.raises(ValueError, match="MAX_FIT_DIM"):
        gram_sums(wide)


# ------------------------------------------------------------ sketches


def _hll_mirror(values, groups=None, seed="hll"):
    """Pure-Python mirror of operators/sketches: registers + estimate."""
    import hashlib

    from lakeflow.operators.sketches import A_NUM, M, RHO_MAX

    regs = {}
    for i, v in enumerate(values):
        g = groups[i] if groups is not None else ()
        h = int(hashlib.md5(f"{seed}|{v}".encode()).hexdigest()[:15], 16)
        b, r = h % M, h >> 8
        rho = RHO_MAX if r == 0 else RHO_MAX - (len(bin(r)) - 2)
        key = (g, b)
        regs[key] = max(regs.get(key, 0), rho)
    out = {}
    for g in {k[0] for k in regs}:
        rhos = [rho for (gg, _), rho in regs.items() if gg == g]
        n_zero = M - len(rhos)
        s = sum(1 << (RHO_MAX - rr) for rr in rhos) + n_zero * (1 << RHO_MAX)
        out[g] = (n_zero, s, A_NUM // s)
    return out


def test_hll_registers_and_estimate_match_python_mirror(spark):
    from lakeflow.operators.sketches import hll_distinct, hll_registers

    vals = [f"user-{i % 700}" for i in range(2000)]  # dups on purpose
    df = spark.createDataFrame([(v,) for v in vals], "u string")
    want = _hll_mirror(sorted(set(vals)))[()]
    got = hll_distinct(df, "u").collect()
    assert len(got) == 1
    r = got[0]
    assert (r["n_zero"], r["sum_pow"], r["est_micros"]) == want
    # register rows are (bucket, rho), <= M of them
    regs = hll_registers(df, "u").collect()
    assert len(regs) == 256 - r["n_zero"]
    assert all(1 <= rr["rho"] <= 53 for rr in regs)


def test_hll_grouped_matches_mirror_and_filtered_global(spark):
    from lakeflow.operators.sketches import hll_distinct

    rows = [(f"g{i % 3}", f"v-{i % 500}") for i in range(1500)]
    df = spark.createDataFrame(rows, "g string, u string")
    got = {r["g"]: r for r in hll_distinct(df, "u", ["g"]).collect()}
    for g in ["g0", "g1", "g2"]:
        vals = sorted({u for gg, u in rows if gg == g})
        want = _hll_mirror(vals)[()]
        assert (got[g]["n_zero"], got[g]["sum_pow"], got[g]["est_micros"]) == want
        # grouped == the filtered single-group sketch (same invariance
        # the grouped-minhash maintainer certifies)
        solo = hll_distinct(
            df.filter(F.col("g") == g), "u"
        ).collect()[0]
        assert solo["est_micros"] == got[g]["est_micros"]


def test_hll_estimate_accuracy_in_raw_regime(spark):
    # n >> m: raw estimate within ~4 standard errors (1.04/sqrt(256))
    from lakeflow.operators.sketches import hll_distinct

    n = 4000
    df = spark.createDataFrame([(f"k{i}",) for i in range(n)], "u string")
    est = hll_distinct(df, "u").collect()[0]["est_micros"] / 1e6
    assert abs(est - n) / n < 4 * 1.04 / (256 ** 0.5)


def test_hll_corrected_estimate_small_range(spark):
    # n << m: raw is biased, linear counting lands close
    from lakeflow.operators.sketches import corrected_estimate, hll_distinct

    n = 60
    df = spark.createDataFrame([(f"k{i}",) for i in range(n)], "u string")
    r = hll_distinct(df, "u").collect()[0]
    fixed = corrected_estimate(r["est_micros"], r["n_zero"])
    assert abs(fixed - n) / n < 0.2
    # and the raw estimate really is in its biased regime here
    assert r["n_zero"] > 0


def test_hll_sketch_merges_by_max(spark):
    # register MAX-merge of two halves == sketch of the union: the
    # algebra stream_hll relies on (idempotent, replay-safe)
    from lakeflow.operators.sketches import hll_estimate, hll_registers

    df = spark.createDataFrame(
        [(f"x{i}",) for i in range(1000)], "u string"
    )
    a = hll_registers(df.filter(F.length("u") <= 3), "u")
    b = hll_registers(df.filter(F.length("u") > 3), "u")
    merged = (
        a.unionByName(b)
        .groupBy("bucket")
        .agg(F.max("rho").alias("rho"))
    )
    whole = hll_registers(df, "u")
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, whole.collect())
    )
    # and replaying one side changes nothing
    replay = (
        merged.unionByName(a)
        .groupBy("bucket")
        .agg(F.max("rho").alias("rho"))
    )
    assert sorted(map(tuple, replay.collect())) == sorted(
        map(tuple, whole.collect())
    )
    assert (
        hll_estimate(merged).collect()[0]["est_micros"]
        == hll_estimate(whole).collect()[0]["est_micros"]
    )


def test_hll_sql_mirror_is_bit_identical(spark, tmp_path):
    # the DuckDB oracle builder replays the Spark sketch bit-for-bit
    import duckdb

    from lakeflow.operators.sketches import hll_distinct, sql_hll_distinct

    rows = [(f"e{i % 4}", f"u-{i * 7 % 900}") for i in range(1800)]
    df = spark.createDataFrame(rows, "g string, u string")
    pq = str(tmp_path / "t.parquet")
    df.write.parquet(pq)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet('{pq}/*.parquet')")
    oracle = con.execute(sql_hll_distinct("u", "t", ["g"])).fetchall()
    got = [
        tuple(r)
        for r in hll_distinct(df, "u", ["g"]).collect()
    ]
    assert sorted(got) == sorted(tuple(r) for r in oracle)


# ------------------------------------------------------ retrieval eval


def _retrieval_mirror(vecs, labels, qids, k):
    """Pure-Python mirror of operators/metrics.retrieval_quality."""
    import math

    from lakeflow.operators.metrics import gain_micros, prefix_gain_micros

    xm = [[math.floor(x * 1_000_000 + 0.5) for x in v] for v in vecs]
    gains, prefix = gain_micros(k), prefix_gain_micros(k)
    out = {}
    for q in qids:
        order = sorted(
            (i for i in range(len(xm)) if i != q),
            key=lambda i: (-_cos_micros_py(xm[i], xm[q]), i),
        )
        top = order[:k]
        rel = [1 if labels[i] == labels[q] else 0 for i in top]
        n_hits = sum(rel)
        mrr = max(
            (1_000_000 // (r + 1) for r in range(k) if rel[r]), default=0
        )
        dcg = sum(gains[r] for r in range(k) if rel[r])
        n_corpus = sum(1 for i in range(len(xm)) if i != q and labels[i] == labels[q])
        idcg = prefix[min(n_corpus, k)]
        ndcg = (dcg * 1_000_000) // idcg if idcg > 0 else 0
        out[q] = (k, n_corpus, n_hits, mrr, dcg, ndcg)
    return out


def test_retrieval_quality_matches_python_mirror(spark):
    from lakeflow.operators.metrics import retrieval_quality

    df, vecs = _quant_corpus(spark, n=30, dim=6)
    labels = [i % 4 for i in range(30)]
    df = df.withColumn("label", (F.col("vec_id") % 4).cast("int"))
    want = _retrieval_mirror(vecs, labels, range(5), k=8)
    got = {
        r["q_id"]: (
            r["k_requested"],
            r["n_rel_corpus"],
            r["n_relevant_topk"],
            r["mrr_micros"],
            r["dcg_micros"],
            r["ndcg_micros"],
        )
        for r in retrieval_quality(df, F.col("vec_id") < 5, k=8).collect()
    }
    assert got == want


def test_retrieval_quality_zero_hit_query_keeps_row(spark):
    # one query whose label appears nowhere else: n_rel_corpus == 0,
    # all metrics 0, row present
    from lakeflow.operators.metrics import retrieval_quality

    df, _ = _quant_corpus(spark, n=20, dim=5)
    df = df.withColumn(
        "label", F.when(F.col("vec_id") == 0, 99).otherwise(1).cast("int")
    )
    rows = {r["q_id"]: r for r in retrieval_quality(df, F.col("vec_id") < 2, k=5).collect()}
    assert set(rows) == {0, 1}
    r0 = rows[0]
    assert (
        r0["n_rel_corpus"],
        r0["n_relevant_topk"],
        r0["mrr_micros"],
        r0["dcg_micros"],
        r0["ndcg_micros"],
    ) == (0, 0, 0, 0, 0)

    # when EVERY corpus doc is relevant, any top-k is ideal: nDCG and
    # MRR are exactly 1e6 and hits == k
    uniform = df.withColumn("label", F.lit(1).cast("int"))
    r = retrieval_quality(uniform, F.col("vec_id") == 0, k=5).collect()[0]
    assert (
        r["n_relevant_topk"],
        r["mrr_micros"],
        r["ndcg_micros"],
    ) == (5, 1_000_000, 1_000_000)


def test_retrieval_gain_tables_are_consistent(spark):
    from lakeflow.operators.metrics import gain_micros, prefix_gain_micros

    g = gain_micros(10)
    p = prefix_gain_micros(10)
    assert g[0] == 1_000_000 and len(g) == 10 and len(p) == 11
    assert all(a > b for a, b in zip(g, g[1:]))  # strictly decreasing
    assert p[0] == 0 and all(p[i + 1] - p[i] == g[i] for i in range(10))


def test_pca_fit_from_triples_matches_pca_fit(spark):
    from lakeflow.operators.pca import gram_triples, pca_fit, pca_fit_from_triples

    df, _ = _quant_corpus(spark, n=40, dim=6)
    direct = pca_fit(df, k=3)
    via_triples = pca_fit_from_triples(gram_triples(df).collect(), k=3)
    assert via_triples == direct  # frozen dataclass: exact equality
    # triple invariants: upper triangle, sx/n ride the diagonal only
    rows = gram_triples(df).collect()
    assert all(r["j"] >= r["i"] for r in rows)
    assert all(int(r["sx"]) == 0 and r["n"] == 0 for r in rows if r["i"] != r["j"])
    import pytest

    with pytest.raises(ValueError, match="empty statistics"):
        pca_fit_from_triples([], k=2)


def _cms_mirror(values, probes, seed="cms"):
    import hashlib

    from lakeflow.operators.sketches import CMS_D, CMS_W

    cells = {}
    for v in values:
        for d in range(CMS_D):
            h = int(hashlib.md5(f"{seed}{d}|{v}".encode()).hexdigest()[:15], 16)
            key = (d, h % CMS_W)
            cells[key] = cells.get(key, 0) + 1
    out = {}
    for p in probes:
        ests = []
        for d in range(CMS_D):
            h = int(hashlib.md5(f"{seed}{d}|{p}".encode()).hexdigest()[:15], 16)
            ests.append(cells.get((d, h % CMS_W), 0))
        out[p] = min(ests)
    return out


def test_cms_sketch_and_lookup_match_python_mirror(spark):
    from collections import Counter

    from lakeflow.operators.sketches import cms_lookup, cms_sketch

    vals = [f"u{i % 120}" for i in range(3000)]
    df = spark.createDataFrame([(v,) for v in vals], "u string")
    probes = [f"u{i}" for i in range(10)] + ["never-seen"]
    pdf = spark.createDataFrame([(p,) for p in probes], "u string")
    want = _cms_mirror(vals, probes)
    got = {
        r["probe"]: r["est_n"]
        for r in cms_lookup(cms_sketch(df, "u"), pdf, "u").collect()
    }
    assert got == want
    # the count-min contract: never an underestimate, and the
    # never-seen probe either 0 or a pure collision artifact
    true = Counter(vals)
    for p in probes:
        assert got[p] >= true.get(p, 0)


def test_cms_is_additive_across_partitions(spark):
    # sketch(a ∪ b) == cell-wise sum of sketch(a) + sketch(b): the
    # algebra stream_cms relies on
    from lakeflow.operators.sketches import cms_sketch

    df = spark.createDataFrame(
        [(f"k{i % 50}", i) for i in range(2000)], "u string, i long"
    )
    whole = {(r["seed_row"], r["bucket"]): r["n"] for r in cms_sketch(df, "u").collect()}
    a = cms_sketch(df.filter("i % 2 = 0"), "u")
    b = cms_sketch(df.filter("i % 2 = 1"), "u")
    summed = {}
    for r in a.unionByName(b).collect():
        k = (r["seed_row"], r["bucket"])
        summed[k] = summed.get(k, 0) + r["n"]
    assert summed == whole


def test_matryoshka_recall_matches_python_mirror(spark):
    import math

    from lakeflow.operators.metrics import matryoshka_recall

    df, vecs = _quant_corpus(spark, n=30, dim=6)
    xm = [[math.floor(x * 1_000_000 + 0.5) for x in v] for v in vecs]
    k, dims, qids = 5, [2, 4, 6], range(4)

    def topk(vs, q):
        order = sorted(
            (i for i in range(len(vs)) if i != q),
            key=lambda i: (-_cos_micros_py(vs[i], vs[q]), i),
        )
        return set(order[:k])

    want = {}
    for q in qids:
        full = topk(xm, q)
        for d in dims:
            sl = [v[:d] for v in xm]
            n = len(full & topk(sl, q))
            want[(q, d)] = (k, n, n * 1_000_000 // k)
    got = {
        (r["q_id"], r["dims_kept"]): (
            r["k_requested"],
            r["n_overlap"],
            r["recall_micros"],
        )
        for r in matryoshka_recall(df, F.col("vec_id") < 4, dims, k=k).collect()
    }
    assert got == want
    # full-width slice recovers perfect recall; narrower never beats it
    for q in qids:
        assert got[(q, 6)] == (k, k, 1_000_000)


def test_hll_empty_corpus_is_deterministic_zero(spark):
    # an empty sketch yields the all-zero-registers row (raw estimate
    # alpha*m, corrected to 0), never a NULL
    from lakeflow.operators.sketches import (
        M,
        RHO_MAX,
        corrected_estimate,
        hll_distinct,
    )

    df = spark.createDataFrame([], "u string")
    r = hll_distinct(df, "u").collect()[0]
    assert r["n_zero"] == M
    assert r["sum_pow"] == M * (1 << RHO_MAX)
    assert r["est_micros"] is not None
    assert corrected_estimate(r["est_micros"], r["n_zero"]) == 0.0
