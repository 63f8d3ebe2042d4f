"""The streaming replay contract (README, "Streaming replay"), through
the one runner every maintainer uses: an additive fold whose batch
crashed after its merge committed is counted once when Spark replays
the batch id, and an idempotent fold carries no token, so a restart
under a fresh checkpoint still folds in files it has never seen."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F


def _write(d: str, name: str, rows: list[dict]) -> None:
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, name), "w") as fh:
        fh.write("\n".join(json.dumps(r) for r in rows) + "\n")


def test_crash_after_merge_commit_is_counted_once_on_replay(spark, tmp_path):
    from lakeflow.sinks.merge import batch_token, has_commit_token, merge_additive
    from lakeflow.streaming.pipeline import run_batches, stream_ndjson

    src = str(tmp_path / "src")
    tgt = str(tmp_path / "totals")
    ck = str(tmp_path / "ck")
    _write(src, "a.json", [{"k": "web"}, {"k": "web"}, {"k": "app"}])
    seen: list[int] = []

    def fold(batch, batch_id: int) -> None:
        seen.append(batch_id)
        delta = batch.groupBy("k").agg(F.count(F.lit(1)).cast("long").alias("n"))
        merge_additive(
            spark, tgt, delta, ["k"], ["n"], commit_token=batch_token(batch_id)
        )
        if len(seen) == 1:
            raise RuntimeError("crash between the merge and the batch commit")

    q = run_batches(stream_ndjson(spark, src, "k string"), ck, fold)
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(120)
    # the merge committed; Spark's batch commit did not
    assert has_commit_token(tgt, batch_token(0))
    assert not os.path.exists(os.path.join(ck, "commits", "0"))

    q = run_batches(stream_ndjson(spark, src, "k string"), ck, fold)
    q.awaitTermination(120)
    assert seen == [0, 0]  # the restart replayed the same batch id
    assert os.path.exists(os.path.join(ck, "commits", "0"))
    got = {r["k"]: r["n"] for r in spark.read.parquet(tgt).collect()}
    assert got == {"web": 2, "app": 1}


def test_tokenless_fold_takes_new_files_under_a_fresh_checkpoint(spark, tmp_path):
    from lakeflow.operators.sketches import hll_distinct
    from lakeflow.streaming.corpus_intake import read_hll_estimate, stream_hll

    src = str(tmp_path / "ev")
    tgt = str(tmp_path / "regs")
    schema = "event_id long, user_id long, event_type string"
    w1 = [
        {"event_id": i, "user_id": i % 40, "event_type": "click"}
        for i in range(120)
    ]
    w2 = [
        {"event_id": 1000 + i, "user_id": 500 + i, "event_type": "click"}
        for i in range(80)
    ]

    def estimate():
        return sorted(
            tuple(r) for r in read_hll_estimate(spark, tgt, ("event_type",)).collect()
        )

    def batch_estimate(rows):
        df = spark.createDataFrame(
            [(r["event_type"], r["user_id"]) for r in rows],
            "event_type string, user_id long",
        )
        return sorted(
            tuple(r) for r in hll_distinct(df, "user_id", ["event_type"]).collect()
        )

    _write(src, "w1.json", w1)
    q = stream_hll(
        spark, src, schema, tgt, str(tmp_path / "ck1"), "user_id", ("event_type",)
    )
    q.awaitTermination(120)
    assert estimate() == batch_estimate(w1)

    # a new file, then a restart under a FRESH checkpoint: batch id 0
    # again, which a token would mistake for the batch already folded
    _write(src, "w2.json", w2)
    q = stream_hll(
        spark, src, schema, tgt, str(tmp_path / "ck2"), "user_id", ("event_type",)
    )
    q.awaitTermination(120)
    assert estimate() == batch_estimate(w1 + w2)
    assert not [f for f in os.listdir(tgt) if f.startswith("_token_")]
