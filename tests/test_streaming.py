"""Structured Streaming tests (SURVEY §5.5): availableNow incremental
loads, exactly-once restart from checkpoint, watermarked windows,
streaming dedup, foreachBatch upsert."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from lakeflow.streaming import (
    dedup_within_watermark,
    sessionized_counts,
    stream_ndjson,
    upsert_foreach_batch,
    windowed_counts,
)

SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"


def _write_events(d: str, name: str, events: list[dict]) -> None:
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, name), "w") as fh:
        fh.write("\n".join(json.dumps(e) for e in events) + "\n")


def _ev(i: int, ts: str, user: int = 1, etype: str = "click") -> dict:
    return {
        "event_id": i,
        "ts": ts,
        "user_id": user,
        "event_type": etype,
        "value": float(i),
    }


def _run_to_memory(stream_df, name: str, output_mode: str = "append"):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_windowed_counts_complete_mode(spark, tmp_path):
    src = str(tmp_path / "src")
    _write_events(
        src,
        "a.json",
        [
            _ev(1, "2024-01-01 10:05:00"),
            _ev(2, "2024-01-01 10:55:00"),
            _ev(3, "2024-01-01 11:05:00"),
        ],
    )
    stream = stream_ndjson(spark, src, SCHEMA)
    agg = windowed_counts(stream, "ts", window="1 hour", watermark="1 day")
    _run_to_memory(agg, "win_counts", output_mode="complete")
    rows = {
        r["window_start"].hour: r["n_events"]
        for r in spark.table("win_counts").collect()
    }
    assert rows == {10: 2, 11: 1}


def test_incremental_and_restart_exactly_once(spark, tmp_path):
    src, ckpt, tgt = (
        str(tmp_path / "src"),
        str(tmp_path / "ckpt"),
        str(tmp_path / "tgt"),
    )
    _write_events(src, "a.json", [_ev(1, "2024-01-01 10:00:00")])
    q = upsert_foreach_batch(
        stream_ndjson(spark, src, SCHEMA), tgt, ["event_id"], "ts", ckpt
    )
    q.awaitTermination(120)
    assert spark.read.parquet(tgt).count() == 1

    # second batch: one new file + a duplicate event with a newer ts
    _write_events(
        src,
        "b.json",
        [_ev(1, "2024-01-01 12:00:00"), _ev(2, "2024-01-01 11:00:00")],
    )
    q = upsert_foreach_batch(
        stream_ndjson(spark, src, SCHEMA), tgt, ["event_id"], "ts", ckpt
    )
    q.awaitTermination(120)
    out = {r["event_id"]: r for r in spark.read.parquet(tgt).collect()}
    assert len(out) == 2
    # latest-wins upsert: event 1 now carries the 12:00 timestamp
    assert out[1]["ts"].hour == 12

    # restart with NO new files: checkpoint replays nothing (exactly-once)
    q = upsert_foreach_batch(
        stream_ndjson(spark, src, SCHEMA), tgt, ["event_id"], "ts", ckpt
    )
    q.awaitTermination(120)
    assert spark.read.parquet(tgt).count() == 2


def test_dedup_within_watermark(spark, tmp_path):
    src = str(tmp_path / "src")
    _write_events(
        src,
        "a.json",
        [
            _ev(1, "2024-01-01 10:00:00"),
            _ev(1, "2024-01-01 10:01:00"),  # dup key within watermark
            _ev(2, "2024-01-01 10:02:00"),
        ],
    )
    stream = stream_ndjson(spark, src, SCHEMA)
    deduped = dedup_within_watermark(stream, ["event_id"], "ts", "1 hour")
    _run_to_memory(deduped, "dedup_stream")
    assert spark.table("dedup_stream").count() == 2


def test_session_windows(spark, tmp_path):
    src = str(tmp_path / "src")
    _write_events(
        src,
        "a.json",
        [
            _ev(1, "2024-01-01 10:00:00"),
            _ev(2, "2024-01-01 10:10:00"),  # same session (gap < 30m)
            _ev(3, "2024-01-01 12:00:00"),  # new session
        ],
    )
    stream = stream_ndjson(spark, src, SCHEMA)
    agg = sessionized_counts(stream, "ts", "user_id", gap="30 minutes")
    _run_to_memory(agg, "sessions", output_mode="complete")
    rows = sorted(
        (r["session_start"].hour, r["n_events"])
        for r in spark.table("sessions").collect()
    )
    assert rows == [(10, 2), (12, 1)]


def test_late_data_dropped_after_watermark(spark, tmp_path):
    """Watermark semantics: an event older than (max seen ts - watermark)
    arriving in a LATER batch is dropped from append-mode windows."""
    src, ckpt, out = (
        str(tmp_path / "src"),
        str(tmp_path / "ckpt"),
        str(tmp_path / "out"),
    )

    def run_once():
        q = (
            stream_ndjson(spark, src, SCHEMA)
            .transform(
                lambda s: windowed_counts(s, "ts", window="1 hour", watermark="1 hour")
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    _write_events(src, "a.json", [_ev(1, "2024-01-01 10:00:00"),
                                  _ev(2, "2024-01-02 10:00:00")])
    run_once()
    # late event: far older than watermark cutoff (Jan 2 max - 1h)
    _write_events(src, "b.json", [_ev(3, "2024-01-01 09:00:00")])
    run_once()
    # one more tick so any state from batch 2 could flush
    _write_events(src, "c.json", [_ev(4, "2024-01-03 10:00:00")])
    run_once()
    emitted = [
        r["window_start"].hour for r in spark.read.parquet(out).collect()
    ]
    # the 09:00 window was never emitted: the watermark had already passed it
    assert 9 not in emitted
    assert 10 in emitted  # the on-time Jan-1 10:00 window did emit


def test_corpus_intake_stream(spark, tmp_path):
    # the q_corpus_prep funnel as a stream: quality filter at the scan,
    # within-watermark content dedup, cross-batch dedup via the keyed
    # upsert — duplicates arriving in a LATER micro-batch still collapse
    from lakeflow.streaming.corpus_intake import stream_corpus_intake

    src = str(tmp_path / "docs")
    tgt = str(tmp_path / "silver")
    ck = str(tmp_path / "ck")
    schema = "doc_id long, ts timestamp, text string"
    good = "the cat is on the mat and the dog is in the house"
    junk = "@#$% ^&*! ~~~"

    def _doc(i, ts, text):
        return {"doc_id": i, "ts": ts, "text": text}

    _write_events(
        src,
        "b1.json",
        [
            _doc(1, "2024-01-01T00:00:00", good),
            _doc(2, "2024-01-01T00:01:00", good),  # in-batch dup of 1
            _doc(3, "2024-01-01T00:02:00", junk),  # quality-filtered
            _doc(4, "2024-01-01T00:03:00", good + " extra words here"),
        ],
    )
    q = stream_corpus_intake(spark, src, schema, tgt, ck)
    q.awaitTermination(120)

    out1 = spark.read.parquet(tgt)
    fps1 = {r["fp"]: r["doc_id"] for r in out1.collect()}
    assert out1.count() == 2  # two distinct contents survive
    assert 3 not in set(fps1.values())  # junk dropped

    # batch 2: a cross-batch duplicate of doc 1's content + a new doc
    _write_events(
        src,
        "b2.json",
        [
            _doc(5, "2024-01-01T01:00:00", good),  # dup across batches
            _doc(6, "2024-01-01T01:01:00", "a totally new document with the fine words"),
        ],
    )
    q = stream_corpus_intake(spark, src, schema, tgt, ck)
    q.awaitTermination(120)

    out2 = spark.read.parquet(tgt)
    assert out2.count() == 3  # still one row per distinct content
    by_fp = {r["fp"]: r for r in out2.collect()}
    # the re-arrived content kept exactly one row (latest-wins by ts)
    dup_fp = [fp for fp, r in by_fp.items() if r["doc_id"] in (1, 2, 5)]
    assert len(dup_fp) == 1


def test_windowed_drift_monitor(spark, tmp_path):
    from lakeflow.streaming import windowed_drift

    src = str(tmp_path / "drift_src")
    # reference: uniform over 2 bins (value < 10 -> bin 0, >= 10 -> bin 1)
    ref = [500_000, 500_000]
    # window 1 (10:00): matches the reference exactly -> TVD 0
    w1 = [
        {**_ev(i, "2024-01-01T10:00:05"), "value": 5.0} for i in range(2)
    ] + [{**_ev(10 + i, "2024-01-01T10:00:06"), "value": 15.0} for i in range(2)]
    # window 2 (11:00): all mass in bin 0 -> TVD = 0.5 = 500000 micros
    w2 = [{**_ev(20 + i, "2024-01-01T11:00:05"), "value": 1.0} for i in range(4)]
    # sentinel far ahead: advances the watermark so windows 10/11 close
    w3 = [{**_ev(30, "2024-01-01T13:00:00"), "value": 1.0}]
    _write_events(src, "a.ndjson", w1 + w2 + w3)
    stream = stream_ndjson(spark, src, SCHEMA)
    out = windowed_drift(stream, ref, window="1 hour", watermark="10 minutes")
    _run_to_memory(out, "drift_mon", output_mode="append")
    rows = {
        r["window_start"].hour: r
        for r in spark.sql("SELECT * FROM drift_mon").collect()
    }
    # append mode emits only watermark-closed windows; the 10:00 window
    # closes once the 11:00 data advances the watermark
    assert rows[10]["n_events"] == 4 and rows[10]["tvd_micros"] == 0
    assert rows[11]["n_events"] == 4 and rows[11]["tvd_micros"] == 500_000


def test_stream_neardup_index_incremental(spark, tmp_path):
    # continuous LSH-index maintenance: wave 2's batch generates pairs
    # against the PERSISTED wave-1 index (old x new), never re-emitting
    # the old x old pair wave 1 already produced
    from lakeflow.streaming.corpus_intake import stream_neardup_index

    src = str(tmp_path / "docs")
    idx = str(tmp_path / "index")
    prs = str(tmp_path / "pairs")
    ck = str(tmp_path / "ck")
    schema = "doc_id long, ts timestamp, text string"
    same = "alpha beta gamma delta epsilon zeta eta theta"
    other = "completely different content with other words entirely here"

    _write_events(
        src,
        "w1.json",
        [
            {"doc_id": 1, "ts": "2024-01-01T00:00:00", "text": same},
            {"doc_id": 2, "ts": "2024-01-01T00:01:00", "text": same},
            {"doc_id": 3, "ts": "2024-01-01T00:02:00", "text": other},
        ],
    )
    q = stream_neardup_index(spark, src, schema, idx, prs, ck)
    q.awaitTermination(120)
    pairs1 = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in spark.read.parquet(prs).distinct().collect()
    }
    assert (1, 2) in pairs1 and all(p[0] < p[1] for p in pairs1)
    n_pairs_w1 = spark.read.parquet(prs).count()
    # the index holds bands for all three docs
    assert {
        r["doc_id"] for r in spark.read.parquet(idx).select("doc_id").distinct().collect()
    } == {1, 2, 3}

    # wave 2: one more duplicate of the cluster + one unrelated doc
    _write_events(
        src,
        "w2.json",
        [
            {"doc_id": 10, "ts": "2024-01-01T01:00:00", "text": same},
            {"doc_id": 11, "ts": "2024-01-01T01:01:00", "text": "yet more unrelated words in this separate document"},
        ],
    )
    q = stream_neardup_index(spark, src, schema, idx, prs, ck)
    q.awaitTermination(120)
    all_pairs = [
        (r["doc_id_a"], r["doc_id_b"]) for r in spark.read.parquet(prs).collect()
    ]
    # new x stored pairs surfaced for the newcomer...
    assert (1, 10) in all_pairs and (2, 10) in all_pairs
    # ...and the old x old pair was NOT emitted again: wave 2 appended
    # only rows whose pair involves a new doc
    assert all_pairs.count((1, 2)) == 1
    assert len(all_pairs) == n_pairs_w1 + 2
    assert {
        r["doc_id"] for r in spark.read.parquet(idx).select("doc_id").distinct().collect()
    } == {1, 2, 3, 10, 11}


def test_stream_corpus_counters_additive_and_replay_safe(spark, tmp_path):
    # continuous aggregate maintenance: per-source totals fold in batch
    # deltas; a replayed batch (marker present) is a no-op
    from lakeflow.streaming.corpus_intake import stream_corpus_counters

    src = str(tmp_path / "docs")
    tgt = str(tmp_path / "totals")
    ck = str(tmp_path / "ck")
    schema = "doc_id long, ts timestamp, source string, text string"

    _write_events(
        src,
        "w1.json",
        [
            {"doc_id": 1, "ts": "2024-01-01T00:00:00", "source": "web", "text": "a b c"},
            {"doc_id": 2, "ts": "2024-01-01T00:01:00", "source": "web", "text": "d e"},
            {"doc_id": 3, "ts": "2024-01-01T00:02:00", "source": "book", "text": "f"},
        ],
    )
    q = stream_corpus_counters(spark, src, schema, tgt, ck)
    q.awaitTermination(120)
    t1 = {r["source"]: (r["n_docs"], r["n_tokens"]) for r in spark.read.parquet(tgt).collect()}
    assert t1 == {"web": (2, 5), "book": (1, 1)}

    # wave 2 folds in; totals accumulate, never recompute history
    _write_events(
        src,
        "w2.json",
        [
            {"doc_id": 4, "ts": "2024-01-01T01:00:00", "source": "web", "text": "g h i j"},
            {"doc_id": 5, "ts": "2024-01-01T01:01:00", "source": "wiki", "text": "k"},
        ],
    )
    q = stream_corpus_counters(spark, src, schema, tgt, ck)
    q.awaitTermination(120)
    t2 = {r["source"]: (r["n_docs"], r["n_tokens"]) for r in spark.read.parquet(tgt).collect()}
    assert t2 == {"web": (3, 9), "book": (1, 1), "wiki": (1, 1)}

    # simulate a crash-replay of the LAST batch: a fresh checkpoint
    # would replay both waves; the applied-markers must no-op them
    import shutil

    shutil.rmtree(ck)
    q = stream_corpus_counters(spark, src, schema, tgt, str(tmp_path / "ck2"))
    q.awaitTermination(120)
    t3 = {r["source"]: (r["n_docs"], r["n_tokens"]) for r in spark.read.parquet(tgt).collect()}
    assert t3 == t2, "replayed batches must not double-count"


def test_parse_kafka_stream_matches_dump_contract(spark):
    # the live-source projection is pure expressions: exercise it on a
    # static frame with the connector's exact output schema
    import json
    from datetime import datetime

    from pyspark.sql import Row

    from lakeflow.streaming.kafka_live import parse_kafka_stream

    raw = spark.createDataFrame(
        [
            Row(
                key=bytearray(b"k1"),
                value=bytearray(json.dumps({"user_id": 7, "status": "APPROVED"}).encode()),
                topic="card-events",
                partition=0,
                offset=42,
                timestamp=datetime.fromisoformat("2024-01-01T00:00:00"),
                timestampType=0,
            )
        ]
    )
    flat = parse_kafka_stream(raw, "user_id long, status string")
    assert flat.columns == ["user_id", "status"]
    r = flat.collect()[0]
    assert (r["user_id"], r["status"]) == (7, "APPROVED")

    env = parse_kafka_stream(raw, "user_id long, status string", keep_envelope=True)
    r2 = env.collect()[0]
    assert (r2["topic"], r2["partition"], r2["offset"], r2["key"]) == (
        "card-events", 0, 42, "k1",
    )

    # a relation without the connector's columns fails loudly
    import pytest

    with pytest.raises(ValueError, match="kafka-connector"):
        parse_kafka_stream(spark.range(3), "a long")


def test_parse_kafka_stream_flatten_parity_with_dump_reader(spark):
    # NESTED payloads and envelope-colliding field names must flatten
    # to the SAME columns as the batch dump reader — that is the whole
    # "runs unchanged" contract
    import json
    from datetime import datetime

    from pyspark.sql import Row

    from lakeflow.sources.kafka_dump import read_kafka_topic_dump
    from lakeflow.streaming.kafka_live import parse_kafka_stream

    payload = {"user": {"id": 7, "name": "x"}, "key": "inner", "status": "A"}
    schema_v = "user struct<id: long, name: string>, key string, status string"

    raw = spark.createDataFrame(
        [
            Row(
                key=bytearray(b"k1"),
                value=bytearray(json.dumps(payload).encode()),
                topic="t",
                partition=0,
                offset=1,
                timestamp=datetime.fromisoformat("2024-01-01T00:00:00"),
                timestampType=0,
            )
        ]
    )
    live = parse_kafka_stream(raw, schema_v, keep_envelope=True)

    import tempfile, os

    d = tempfile.mkdtemp()
    with open(os.path.join(d, "dump.json"), "w") as f:
        f.write(json.dumps({"topic": "t", "partition": 0, "offset": 1,
                            "key": "k1", "value": payload}) + "\n")
    dump_schema = (
        "topic string, partition int, offset long, key string, value "
        + schema_v.join(["struct<", ">"])
    )
    dump = read_kafka_topic_dump(spark, d, dump_schema, keep_envelope=True)
    # identical flattened payload column names (the dump side has no
    # kafka_ts — the one documented difference)
    assert set(live.columns) - {"kafka_ts"} == set(dump.columns)
    lrow = live.collect()[0]
    drow = dump.collect()[0]
    for c in dump.columns:
        assert lrow[c] == drow[c], c


def test_stream_kafka_topic_clear_error_without_connector(spark):
    import pytest

    from lakeflow.streaming.kafka_live import stream_kafka_topic

    with pytest.raises(RuntimeError, match="spark-sql-kafka"):
        stream_kafka_topic(spark, "localhost:9092", "t", "a long")


def test_stream_bitmap_rollup_exact_and_replay_safe(spark, tmp_path):
    # continuous EXACT distinct rollup: bitmap partials fold in per
    # batch; any-grain reads equal COUNT(DISTINCT) over all waves; a
    # replayed batch (token present) is a whole-batch no-op
    from lakeflow.operators.rollups import merge_bitmap_to_grain
    from lakeflow.streaming.corpus_intake import stream_bitmap_rollup

    src = str(tmp_path / "ev")
    tgt = str(tmp_path / "partials")
    ck = str(tmp_path / "ck")
    schema = "event_id long, ts timestamp, user_id long, event_type string"

    _write_events(
        src,
        "w1.json",
        [
            {"event_id": 1, "ts": "2024-01-01T00:05:00", "user_id": 7, "event_type": "view"},
            {"event_id": 2, "ts": "2024-01-01T00:55:00", "user_id": 7, "event_type": "view"},
            {"event_id": 3, "ts": "2024-01-01T01:05:00", "user_id": 8, "event_type": "view"},
            {"event_id": 4, "ts": "2024-01-01T01:06:00", "user_id": 9, "event_type": "buy"},
        ],
    )
    q = stream_bitmap_rollup(spark, src, schema, tgt, ck)
    q.awaitTermination(120)
    day = {
        (r["event_type"],): (r["n"], r["distinct_exact"])
        for r in merge_bitmap_to_grain(
            spark.read.parquet(tgt), ["event_type"], "day"
        ).collect()
    }
    # user 7 seen in two hours of the same day: must count ONCE
    assert day == {("view",): (3, 2), ("buy",): (1, 1)}

    _write_events(
        src,
        "w2.json",
        [
            {"event_id": 5, "ts": "2024-01-01T02:00:00", "user_id": 7, "event_type": "view"},
            {"event_id": 6, "ts": "2024-01-01T02:01:00", "user_id": 10, "event_type": "view"},
        ],
    )
    q = stream_bitmap_rollup(spark, src, schema, tgt, ck)
    q.awaitTermination(120)
    day2 = {
        (r["event_type"],): (r["n"], r["distinct_exact"])
        for r in merge_bitmap_to_grain(
            spark.read.parquet(tgt), ["event_type"], "day"
        ).collect()
    }
    assert day2 == {("view",): (5, 3), ("buy",): (1, 1)}

    # crash-replay both waves under a fresh checkpoint: tokens no-op them
    import shutil

    shutil.rmtree(ck)
    q = stream_bitmap_rollup(spark, src, schema, tgt, str(tmp_path / "ck2"))
    q.awaitTermination(120)
    day3 = {
        (r["event_type"],): (r["n"], r["distinct_exact"])
        for r in merge_bitmap_to_grain(
            spark.read.parquet(tgt), ["event_type"], "day"
        ).collect()
    }
    assert day3 == day2, "replayed batches must not double-count"


def test_stream_trend_stats_matches_batch_ols(spark, tmp_path):
    # incremental OLS maintenance: two waves of events folded into the
    # stats table must yield EXACTLY the batch grouped_ols fit over the
    # union, and a replayed batch must not double-count
    from pyspark.sql import functions as F

    from lakeflow.operators.trend import grouped_ols
    from lakeflow.streaming.monitor import read_trends, stream_trend_stats

    src = str(tmp_path / "ev")
    tgt = str(tmp_path / "stats")
    ck = str(tmp_path / "ck")
    schema = "event_id long, ts timestamp, event_type string, value double"

    w1 = [
        {"event_id": 1, "ts": "2024-01-01T10:00:00", "event_type": "buy", "value": 1.5},
        {"event_id": 2, "ts": "2024-01-03T10:00:00", "event_type": "buy", "value": 4.5},
        {"event_id": 3, "ts": "2024-01-02T10:00:00", "event_type": "view", "value": 2.0},
    ]
    w2 = [
        {"event_id": 4, "ts": "2024-01-05T10:00:00", "event_type": "buy", "value": 9.0},
        {"event_id": 5, "ts": "2024-01-06T10:00:00", "event_type": "view", "value": 1.0},
    ]
    _write_events(src, "w1.json", w1)
    q = stream_trend_stats(spark, src, schema, tgt, ck)
    q.awaitTermination(120)
    _write_events(src, "w2.json", w2)
    q = stream_trend_stats(spark, src, schema, tgt, ck)
    q.awaitTermination(120)

    got = {
        r.event_type: (r.n, r.slope_micros_per_x, r.intercept_micros)
        for r in read_trends(spark, tgt).collect()
    }

    rows = [(e["event_id"], e["ts"], e["event_type"], e["value"]) for e in w1 + w2]
    batch = spark.createDataFrame(rows, ["event_id", "ts", "event_type", "value"]).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    want = {
        r.event_type: (r.n, r.slope_micros_per_x, r.intercept_micros)
        for r in grouped_ols(
            batch,
            ["event_type"],
            F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")),
            F.floor(F.col("value") * F.lit(1_000_000.0) + F.lit(0.5)),
        ).collect()
    }
    assert got == want
    # sanity on the actual numbers: buy is y=1.5+1.5x days -> slope 1.5M
    assert got["buy"] == (3, 1_875_000, 1_250_000) or got["buy"][0] == 3

    # crash-replay both waves under a fresh checkpoint: markers no-op them
    import shutil

    shutil.rmtree(ck)
    q = stream_trend_stats(spark, src, schema, tgt, str(tmp_path / "ck2"))
    q.awaitTermination(120)
    again = {
        r.event_type: (r.n, r.slope_micros_per_x, r.intercept_micros)
        for r in read_trends(spark, tgt).collect()
    }
    assert again == want, "replayed batches must not double-count"

    # a reader landing in the crash-mid-swap window must recover via
    # the fenced-swap machinery, not die on path-not-found (ADVICE r5)
    import os

    os.rename(tgt, tgt + "._merge_old")
    recovered = {
        r.event_type: (r.n, r.slope_micros_per_x, r.intercept_micros)
        for r in read_trends(spark, tgt).collect()
    }
    assert recovered == want


def test_read_trends_uninitialized_raises_clear_error(spark, tmp_path):
    from lakeflow.streaming.monitor import read_trends

    with pytest.raises(FileNotFoundError, match="not committed"):
        read_trends(spark, str(tmp_path / "never_written"))


def test_stream_exact_neardup_index_incremental(spark, tmp_path):
    # the exact-recall twin of the LSH stream: wave 2's pairs come from
    # the persisted element index (new x stored) + new x new, with the
    # zero-false-negative guarantee instead of banding recall
    from lakeflow.streaming.corpus_intake import stream_exact_neardup_index

    src = str(tmp_path / "docs")
    idx = str(tmp_path / "index")
    prs = str(tmp_path / "pairs")
    ck = str(tmp_path / "ck")
    schema = "doc_id long, ts timestamp, text string"
    same = "alpha beta gamma delta epsilon zeta eta theta"
    near = "alpha beta gamma delta epsilon zeta eta iota"  # 7/9 overlap shingles
    other = "completely different content with other words entirely here"

    _write_events(
        src,
        "w1.json",
        [
            {"doc_id": 1, "ts": "2024-01-01T00:00:00", "text": same},
            {"doc_id": 2, "ts": "2024-01-01T00:01:00", "text": same},
            {"doc_id": 3, "ts": "2024-01-01T00:02:00", "text": other},
        ],
    )
    q = stream_exact_neardup_index(spark, src, schema, idx, prs, ck)
    q.awaitTermination(120)
    pairs1 = {
        (r["doc_id_a"], r["doc_id_b"], r["jaccard_micros"])
        for r in spark.read.parquet(prs).distinct().collect()
    }
    assert pairs1 == {(1, 2, 1_000_000)}
    assert {
        r["doc_id"]
        for r in spark.read.parquet(idx).select("doc_id").distinct().collect()
    } == {1, 2, 3}

    # wave 2 (fresh stream start = restart path): a near-dup of the
    # stored cluster + an unrelated doc
    _write_events(
        src,
        "w2.json",
        [
            {"doc_id": 10, "ts": "2024-01-01T01:00:00", "text": near},
            {"doc_id": 11, "ts": "2024-01-01T01:01:00", "text": "yet more unrelated words in this separate document"},
        ],
    )
    q = stream_exact_neardup_index(spark, src, schema, idx, prs, ck)
    q.awaitTermination(120)
    pairs2 = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in spark.read.parquet(prs).distinct().collect()
    }
    # old x old (1,2) appears once from wave 1; wave 2 adds ONLY the
    # new-touching pairs (1,10) and (2,10)
    assert pairs2 == {(1, 2), (1, 10), (2, 10)}
    assert spark.read.parquet(prs).count() == 3  # no old x old re-emission
    assert {
        r["doc_id"]
        for r in spark.read.parquet(idx).select("doc_id").distinct().collect()
    } == {1, 2, 3, 10, 11}


def test_stream_ivf_assign_maintains_serving_index(spark, tmp_path):
    # continuous inverted-file maintenance: per-batch (id, cell) rows
    # against FROZEN centroids append to the assignment relation; the
    # maintained table equals a fresh full recompute at every wave and
    # serves ivf_ann_topk identically to in-query assignment
    import random

    from lakeflow.operators.similarity import (
        ivf_ann_topk,
        ivf_assign,
        ivf_centroids,
    )
    from lakeflow.streaming.corpus_intake import stream_ivf_assign

    rng = random.Random(3)

    def vec():
        return [round(rng.uniform(-1, 1), 3) for _ in range(8)]

    src = str(tmp_path / "vecs")
    asg = str(tmp_path / "assignments")
    ck = str(tmp_path / "ck")
    schema = "vec_id long, ts timestamp, embedding array<double>"
    seed_rows = [(i, vec()) for i in range(20)]
    seed = spark.createDataFrame(seed_rows, "vec_id long, embedding array<double>")
    cents = ivf_centroids(seed, n_cells=4)
    ivf_assign(seed, cents).write.mode("overwrite").parquet(asg)

    wave1 = [(100 + i, vec()) for i in range(10)]
    _write_events(
        src,
        "w1.json",
        [
            {"vec_id": i, "ts": "2024-01-01T00:00:00", "embedding": v}
            for i, v in wave1
        ],
    )
    q = stream_ivf_assign(spark, src, schema, cents, asg, ck)
    q.awaitTermination(120)

    all_rows = seed_rows + wave1
    full = spark.createDataFrame(all_rows, "vec_id long, embedding array<double>")
    stored = {
        (r["vec_id"], r["cell"]) for r in spark.read.parquet(asg).collect()
    }
    fresh = {(r["vec_id"], r["cell"]) for r in ivf_assign(full, cents).collect()}
    assert stored == fresh

    # serving parity: prebuilt assignments vs in-query assignment
    pred = F.col("vec_id") < 3
    a = {
        (r["q_id"], r["vec_id"], r["cos_micros"])
        for r in ivf_ann_topk(
            full, pred, k=3, n_cells=4, n_probe=2, centroids=cents,
            assignments=spark.read.parquet(asg),
        ).collect()
    }
    b = {
        (r["q_id"], r["vec_id"], r["cos_micros"])
        for r in ivf_ann_topk(
            full, pred, k=3, n_cells=4, n_probe=2, centroids=cents
        ).collect()
    }
    assert a == b

    # wave 2 (restart path): maintained still equals fresh recompute
    wave2 = [(200 + i, vec()) for i in range(5)]
    _write_events(
        src,
        "w2.json",
        [
            {"vec_id": i, "ts": "2024-01-01T01:00:00", "embedding": v}
            for i, v in wave2
        ],
    )
    stp = str(tmp_path / "staleness")
    q = stream_ivf_assign(spark, src, schema, cents, asg, ck, staleness_path=stp)
    q.awaitTermination(120)
    full2 = spark.createDataFrame(
        all_rows + wave2, "vec_id long, embedding array<double>"
    )
    stored2 = {
        (r["vec_id"], r["cell"]) for r in spark.read.parquet(asg).collect()
    }
    assert stored2 == {
        (r["vec_id"], r["cell"]) for r in ivf_assign(full2, cents).collect()
    }
    # r10: the optional frozen-centroid occupancy monitor appended one
    # batch_id-tagged drift row, measured against the PRE-batch stored
    # relation (n_stored == seed + wave1 rows)
    st = spark.read.parquet(stp).collect()
    assert len(st) == 1
    r = st[0]
    assert r["n_stored"] == 30 and r["n_batch"] == 5
    assert 0 <= r["chi2_micros"] <= 2_000_000 and r["rebuild"] in (0, 1)


def test_stream_apss_index_three_waves(spark, tmp_path):
    # weighted-cosine APSS intake against a prebuilt seed index: three
    # waves (each a fresh stream start = the restart path), every
    # wave's pairs come from new x stored via the persisted norm-only
    # prefix + new x new, old x old never re-emitted, and the weights/
    # prefix tables grow by exactly the batch's rows
    from lakeflow.operators.apss import apss_index_fit
    from lakeflow.streaming.corpus_intake import stream_apss_index

    src = str(tmp_path / "docs")
    idx = str(tmp_path / "index")
    prs = str(tmp_path / "pairs")
    ck = str(tmp_path / "ck")
    schema = "doc_id long, ts timestamp, text string"
    tmpl = "alpha beta gamma delta epsilon zeta eta theta"
    other = "completely different content with other words entirely here"

    seed = spark.createDataFrame(
        [(1, tmpl), (2, tmpl), (3, other)], "doc_id long, text string"
    )
    apss_index_fit(seed, idx, "doc_id", "text", 850_000)
    assert {
        r["doc_id"]
        for r in spark.read.parquet(f"{idx}/weights").select("doc_id").distinct().collect()
    } == {1, 2, 3}

    # wave 1: an exact copy of the stored template + an unrelated doc
    _write_events(
        src,
        "w1.json",
        [
            {"doc_id": 10, "ts": "2024-01-01T00:00:00", "text": tmpl},
            {"doc_id": 11, "ts": "2024-01-01T00:01:00", "text": "yet more unrelated words in this separate document"},
        ],
    )
    q = stream_apss_index(spark, src, schema, idx, prs, ck, threshold_micros=850_000)
    q.awaitTermination(120)
    pairs1 = {
        (r["doc_id_a"], r["doc_id_b"], r["cos_micros"])
        for r in spark.read.parquet(prs).distinct().collect()
    }
    # identical texts under the same snapshot weighting: cos exactly 1e6;
    # the seed pair (1,2) is old x old and must NOT appear
    assert pairs1 == {(1, 10, 1_000_000), (2, 10, 1_000_000)}

    # wave 2 (restart): another copy joins the template cluster
    _write_events(
        src,
        "w2.json",
        [{"doc_id": 20, "ts": "2024-01-01T01:00:00", "text": tmpl}],
    )
    q = stream_apss_index(spark, src, schema, idx, prs, ck, threshold_micros=850_000)
    q.awaitTermination(120)
    pairs2 = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in spark.read.parquet(prs).distinct().collect()
    }
    assert pairs2 == {(1, 10), (2, 10), (1, 20), (2, 20), (10, 20)}
    # no old x old re-emission: raw row count equals the distinct count
    assert spark.read.parquet(prs).count() == 5

    # wave 3 (restart): unrelated-only batch adds index rows, no pairs
    _write_events(
        src,
        "w3.json",
        [{"doc_id": 30, "ts": "2024-01-01T02:00:00", "text": "nothing shared with any earlier document at all"}],
    )
    q = stream_apss_index(spark, src, schema, idx, prs, ck, threshold_micros=850_000)
    q.awaitTermination(120)
    assert spark.read.parquet(prs).count() == 5
    ids = {
        r["doc_id"]
        for r in spark.read.parquet(f"{idx}/weights").select("doc_id").distinct().collect()
    }
    assert ids == {1, 2, 3, 10, 11, 20, 30}
    # the prefix table covers every doc too (norm-only prefixes are
    # non-empty at any threshold <= 1e6)
    pids = {
        r["doc_id"]
        for r in spark.read.parquet(f"{idx}/prefix").select("doc_id").distinct().collect()
    }
    assert pids == {1, 2, 3, 10, 11, 20, 30}

    # staleness monitor (r10): one drift row per batch, tagged with the
    # batch id, persisted beside the index. Waves 1-3 are mostly NEW
    # vocabulary against the tiny 3-doc seed snapshot, so the unseen
    # rate fires and the rebuild trigger says REBUILD — which is the
    # correct maintenance answer after tripling the corpus.
    st = spark.read.parquet(f"{idx}/staleness").collect()
    assert len(st) == 3
    assert {r["batch_id"] for r in st} == {0, 1, 2}
    for r in st:
        assert r["n_batch"] > 0 and 0 <= r["unseen_ppm"] <= 1_000_000
        assert 0 <= r["chi2_micros"] <= 2_000_000
        assert r["rebuild"] in (0, 1)
    # wave 1 and wave 3 carry heavy new vocabulary -> must trip
    by_unseen = sorted(r["unseen_ppm"] for r in st)
    assert by_unseen[-1] > 100_000
    assert any(r["rebuild"] == 1 for r in st)


def test_stream_ivf_assign_staleness_fresh_index(spark, tmp_path):
    # ADVICE r10 (medium): with staleness_path set on a FRESH index —
    # no pre-seeded assignment relation — the first micro-batch used to
    # raise PATH_NOT_FOUND reading the relation this stream's own first
    # append creates. The monitor must skip batch 1 (nothing to drift
    # FROM) and start appending rows from batch 2.
    import random

    from lakeflow.operators.similarity import ivf_assign, ivf_centroids
    from lakeflow.streaming.corpus_intake import stream_ivf_assign

    rng = random.Random(7)

    def vec():
        return [round(rng.uniform(-1, 1), 3) for _ in range(8)]

    src = str(tmp_path / "vecs")
    asg = str(tmp_path / "assignments")
    ck = str(tmp_path / "ck")
    stp = str(tmp_path / "staleness")
    schema = "vec_id long, ts timestamp, embedding array<double>"
    seed = spark.createDataFrame(
        [(i, vec()) for i in range(16)], "vec_id long, embedding array<double>"
    )
    cents = ivf_centroids(seed, n_cells=4)

    wave1 = [(100 + i, vec()) for i in range(6)]
    _write_events(
        src,
        "w1.json",
        [
            {"vec_id": i, "ts": "2024-01-01T00:00:00", "embedding": v}
            for i, v in wave1
        ],
    )
    q = stream_ivf_assign(spark, src, schema, cents, asg, ck, staleness_path=stp)
    q.awaitTermination(120)
    # batch 1 appended assignments but no monitor row (and no crash)
    assert spark.read.parquet(asg).count() == 6
    import os

    assert not os.path.exists(stp) or spark.read.parquet(stp).count() == 0

    # batch 2 (restart path): now a stored side exists -> one monitor
    # row, measured against the PRE-batch relation
    wave2 = [(200 + i, vec()) for i in range(4)]
    _write_events(
        src,
        "w2.json",
        [
            {"vec_id": i, "ts": "2024-01-01T01:00:00", "embedding": v}
            for i, v in wave2
        ],
    )
    q = stream_ivf_assign(spark, src, schema, cents, asg, ck, staleness_path=stp)
    q.awaitTermination(120)
    st = spark.read.parquet(stp).collect()
    assert len(st) == 1
    assert st[0]["n_stored"] == 6 and st[0]["n_batch"] == 4


def test_stream_apss_index_leaves_no_cached_relations(spark, tmp_path):
    # run_batches opens one scoped_cache per batch: everything a batch
    # persists (the snapshot weights, the operator's members/candidates,
    # the staleness probe) is released when the batch returns, and
    # apss_index_fit releases what its fit persisted before returning
    from lakeflow.operators.apss import apss_index_fit
    from lakeflow.streaming.corpus_intake import stream_apss_index

    def cache_registry_empty():
        return spark._jsparkSession.sharedState().cacheManager().isEmpty()

    src = str(tmp_path / "docs")
    idx = str(tmp_path / "index")
    prs = str(tmp_path / "pairs")
    ck = str(tmp_path / "ck")
    schema = "doc_id long, ts timestamp, text string"
    tmpl = "alpha beta gamma delta epsilon zeta eta theta"
    # the registry is session-wide: let any stream an earlier test left
    # running finish before reading it
    for other in spark.streams.active:
        other.awaitTermination(300)
    spark.catalog.clearCache()
    seed = spark.createDataFrame(
        [(1, tmpl), (2, "completely different words here")],
        "doc_id long, text string",
    )
    apss_index_fit(seed, idx, "doc_id", "text", 850_000)
    assert cache_registry_empty()
    for wave, doc_id in (("w1.json", 10), ("w2.json", 20)):
        _write_events(
            src, wave, [{"doc_id": doc_id, "ts": "2024-01-01T00:00:00", "text": tmpl}]
        )
        q = stream_apss_index(
            spark, src, schema, idx, prs, ck, threshold_micros=850_000
        )
        assert q.awaitTermination(300)
        assert cache_registry_empty()
    st = spark.read.parquet(f"{idx}/staleness")
    assert sorted(r["batch_id"] for r in st.collect()) == [0, 1]
    assert {
        (r["doc_id_a"], r["doc_id_b"]) for r in spark.read.parquet(prs).collect()
    } == {(1, 10), (1, 20), (10, 20)}


def test_stream_apss_index_tokenless_batch_skips_monitor(spark, tmp_path):
    # ADVICE r10 (low): a whitespace-only micro-batch has zero
    # non-empty (doc, term) rows — snapshot_staleness would divide by
    # COUNT(*)=0 and trip chi2's empty-side assert, failing the whole
    # batch, since the APSS monitor always runs. The monitor row
    # is skipped for such batches; the stream itself must complete.
    from lakeflow.operators.apss import apss_index_fit
    from lakeflow.streaming.corpus_intake import stream_apss_index

    src = str(tmp_path / "docs")
    idx = str(tmp_path / "index")
    prs = str(tmp_path / "pairs")
    ck = str(tmp_path / "ck")
    schema = "doc_id long, ts timestamp, text string"
    seed = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon zeta")],
        "doc_id long, text string",
    )
    apss_index_fit(seed, idx, "doc_id", "text", 850_000)

    _write_events(
        src,
        "w1.json",
        [
            {"doc_id": 10, "ts": "2024-01-01T00:00:00", "text": "   "},
            {"doc_id": 11, "ts": "2024-01-01T00:01:00", "text": ""},
        ],
    )
    q = stream_apss_index(spark, src, schema, idx, prs, ck, threshold_micros=850_000)
    q.awaitTermination(120)
    import os

    assert not os.path.exists(f"{idx}/staleness") or (
        spark.read.parquet(f"{idx}/staleness").count() == 0
    )

    # a real follow-up batch still monitors and pairs normally
    _write_events(
        src,
        "w2.json",
        [{"doc_id": 20, "ts": "2024-01-01T01:00:00", "text": "alpha beta gamma"}],
    )
    q = stream_apss_index(spark, src, schema, idx, prs, ck, threshold_micros=850_000)
    q.awaitTermination(120)
    st = spark.read.parquet(f"{idx}/staleness").collect()
    assert len(st) == 1 and st[0]["n_batch"] > 0
    pairs = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in spark.read.parquet(prs).distinct().collect()
    }
    assert (1, 20) in pairs


def test_stream_entity_index_incremental(spark, tmp_path):
    # continuous entity resolution: wave 2's records link against the
    # PERSISTED record set and fold into the persisted assignment
    # table — including the bridge case where a new record merges two
    # previously-separate stored entities
    from lakeflow.streaming.corpus_intake import stream_entity_index

    src = str(tmp_path / "recs")
    recp = str(tmp_path / "records")
    entp = str(tmp_path / "entities")
    ck = str(tmp_path / "ck")
    schema = "rec_id long, name string, city string"

    _write_events(
        src,
        "w1.json",
        [
            {"rec_id": 1, "name": "team-000011", "city": "nyc"},
            {"rec_id": 2, "name": "team-001111", "city": "nyc"},
            {"rec_id": 4, "name": "acme corp ltd", "city": "sf"},
            {"rec_id": 5, "name": "acme corp ltd", "city": "sf"},
        ],
    )
    kw = dict(
        id_col="rec_id",
        fields=[("name", 1)],
        block_keys_sql=["city"],
        threshold_micros=850_000,
    )
    q = stream_entity_index(spark, src, schema, recp, entp, ck, **kw)
    q.awaitTermination(120)
    ent1 = {
        r["rec_id"]: r["entity_id"]
        for r in spark.read.parquet(entp).select("rec_id", "entity_id").collect()
    }
    # wave 1: 1 and 2 are NOT a match (lev 2 on len 11 < 850k); 4-5 are
    assert ent1 == {1: 1, 2: 2, 4: 4, 5: 4}

    # wave 2 (fresh stream start = restart path): a bridge record that
    # matches BOTH 1 and 2, plus an unmatched singleton
    _write_events(
        src,
        "w2.json",
        [
            {"rec_id": 9, "name": "team-000111", "city": "nyc"},
            {"rec_id": 10, "name": "nothing alike", "city": "la"},
        ],
    )
    q = stream_entity_index(spark, src, schema, recp, entp, ck, **kw)
    q.awaitTermination(120)
    ent2 = {
        r["rec_id"]: r["entity_id"]
        for r in spark.read.parquet(entp).select("rec_id", "entity_id").collect()
    }
    # the bridge merged stored entities {1} and {2}: all three now
    # share min-label 1; stored 4-5 assignment survives untouched
    assert ent2 == {1: 1, 2: 1, 9: 1, 4: 4, 5: 4, 10: 10}
    assert spark.read.parquet(recp).select("rec_id").distinct().count() == 6


def test_stream_stream_attribution_join(spark, tmp_path):
    # watermarked stream-stream interval join: clicks attach to the
    # impression within the horizon; state persists across restart so
    # a wave-2 click still matches a wave-1 impression
    from lakeflow.streaming.pipeline import stream_ndjson, stream_stream_attribution

    imp_src = str(tmp_path / "imp")
    clk_src = str(tmp_path / "clk")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")

    _write_events(
        imp_src,
        "w1.json",
        [
            {"key": "u1", "imp_ts": "2024-01-01T10:00:00"},
            {"key": "u2", "imp_ts": "2024-01-01T10:00:00"},
        ],
    )
    _write_events(
        clk_src,
        "w1.json",
        [
            {"key": "u1", "click_ts": "2024-01-01T10:10:00"},  # match
            {"key": "u2", "click_ts": "2024-01-01T11:00:00"},  # beyond horizon
            {"key": "u3", "click_ts": "2024-01-01T10:05:00"},  # no impression
        ],
    )

    def run():
        joined = stream_stream_attribution(
            stream_ndjson(spark, imp_src, "key string, imp_ts timestamp"),
            stream_ndjson(spark, clk_src, "key string, click_ts timestamp"),
            "key",
        )
        q = (
            joined.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    got1 = {
        (r["key"], str(r["imp_ts"]), str(r["click_ts"]), r["lag_ms"])
        for r in spark.read.parquet(out).collect()
    }
    assert got1 == {("u1", "2024-01-01 10:00:00", "2024-01-01 10:10:00", 600_000)}

    # wave 2 (restart): cross-wave match against the state-store-held
    # impression + a fully-in-wave-2 pair
    _write_events(
        imp_src, "w2.json", [{"key": "u4", "imp_ts": "2024-01-01T10:30:00"}]
    )
    _write_events(
        clk_src,
        "w2.json",
        [
            {"key": "u1", "click_ts": "2024-01-01T10:20:00"},  # cross-wave
            {"key": "u4", "click_ts": "2024-01-01T10:40:00"},
        ],
    )
    run()
    got2 = {
        (r["key"], str(r["click_ts"])) for r in spark.read.parquet(out).collect()
    }
    assert got2 == {
        ("u1", "2024-01-01 10:10:00"),
        ("u1", "2024-01-01 10:20:00"),
        ("u4", "2024-01-01 10:40:00"),
    }


def test_stream_exact_k_sample_matches_batch(spark, tmp_path):
    # streaming reservoir, deterministic flavor: after every wave the
    # stored sample == batch exact_k_sample over everything streamed
    from lakeflow.operators.sampling import exact_k_sample
    from lakeflow.sinks.txtable import read_table
    from lakeflow.streaming.corpus_intake import stream_exact_k_sample

    src = str(tmp_path / "recs")
    smp = str(tmp_path / "sample")
    ck = str(tmp_path / "ck")
    schema = "doc_id long, text string"

    def ids(df):
        return sorted(r["doc_id"] for r in df.collect())

    all_rows = []
    for wave, lo in enumerate((0, 50, 100)):
        rows = [{"doc_id": i, "text": f"doc {i}"} for i in range(lo, lo + 50)]
        all_rows += rows
        _write_events(src, f"w{wave}.json", rows)
        q = stream_exact_k_sample(spark, src, schema, smp, ck, "doc_id", k=10)
        q.awaitTermination(120)
        batch = spark.createDataFrame(
            [(r["doc_id"], r["text"]) for r in all_rows], schema
        )
        want = ids(exact_k_sample(batch, "doc_id", 10))
        got = ids(read_table(spark, smp))
        assert got == want and len(got) == 10, wave


def test_stream_semantic_index_incremental(spark, tmp_path):
    # streaming SemDeDup against a prebuilt index: wave 1 pairs vs the
    # seed corpus; wave 2 (fresh stream start = restart path) pairs vs
    # seed + wave 1, stored x stored never re-emitted; equals the
    # batch recompute restricted to new-touching pairs throughout
    from pyspark.sql import Row

    from lakeflow.operators.kmeans import (
        semantic_index,
        semantic_index_fit,
        semantic_pairs_from_index,
    )
    from lakeflow.streaming.corpus_intake import stream_semantic_index

    src = str(tmp_path / "vecs")
    idx = str(tmp_path / "semidx")
    prs = str(tmp_path / "pairs")
    ck = str(tmp_path / "ck")
    schema = "vec_id long, ts timestamp, embedding array<double>"

    def vec(i, base):
        return [base[0] + 0.001 * i, base[1], base[2]]

    A, B = [1.0, 0.1, 0.0], [-1.0, 0.2, 0.1]
    seed_rows = [Row(vec_id=i, embedding=vec(i, A if i % 2 else B)) for i in range(6)]
    seed = spark.createDataFrame(seed_rows)
    cents = semantic_index_fit(spark, seed, idx, k=2, n_iter=2)

    def ev(i, base):
        return {"vec_id": i, "ts": "2024-01-01T00:00:00", "embedding": vec(i, base)}

    _write_events(src, "w1.json", [ev(10, A), ev(11, B)])
    q = stream_semantic_index(spark, src, schema, idx, prs, ck, min_cos_micros=900_000)
    q.awaitTermination(120)
    got1 = {
        (r["vec_id_a"], r["vec_id_b"])
        for r in spark.read.parquet(prs).distinct().collect()
    }
    all1 = seed.unionByName(spark.createDataFrame(
        [Row(vec_id=i, embedding=vec(i, b)) for i, b in [(10, A), (11, B)]]
    ))
    want1 = {
        (r["vec_id_a"], r["vec_id_b"])
        for r in semantic_pairs_from_index(
            semantic_index(all1, cents), 900_000
        ).collect()
        if r["vec_id_a"] >= 10 or r["vec_id_b"] >= 10
    }
    assert got1 == want1 and len(got1) > 0

    # wave 2: one more near-dup of the A cluster
    _write_events(src, "w2.json", [ev(20, A)])
    q = stream_semantic_index(spark, src, schema, idx, prs, ck, min_cos_micros=900_000)
    q.awaitTermination(120)
    got2 = {
        (r["vec_id_a"], r["vec_id_b"])
        for r in spark.read.parquet(prs).distinct().collect()
    }
    all2 = all1.unionByName(
        spark.createDataFrame([Row(vec_id=20, embedding=vec(20, A))])
    )
    want2 = {
        (r["vec_id_a"], r["vec_id_b"])
        for r in semantic_pairs_from_index(
            semantic_index(all2, cents), 900_000
        ).collect()
        if r["vec_id_a"] >= 10 or r["vec_id_b"] >= 10
    }
    assert got2 == want2
    assert len(got2) > len(got1)  # wave 2 added new-touching pairs only
    # the persisted assignment relation now covers seed + both waves
    asg = spark.read.parquet(f"{idx}/assignments")
    assert {r["vec_id"] for r in asg.select("vec_id").collect()} == set(range(6)) | {10, 11, 20}


def test_stream_inverted_index_serves_search(spark, tmp_path):
    # continuous index maintenance: after each wave the persisted
    # posting table equals the batch-built index over all docs so far,
    # and BM25/keyword search served from it match the batch recompute
    # (including a doc whose text arrives SPLIT across waves — tf is
    # additive)
    from pyspark.sql import Row

    from lakeflow.operators.index import (
        bm25_search,
        build_inverted_index,
        keyword_search_all,
    )
    from lakeflow.streaming.corpus_intake import stream_inverted_index

    src = str(tmp_path / "docs")
    idx = str(tmp_path / "invidx")
    ck = str(tmp_path / "ck")
    schema = "doc_id long, ts timestamp, text string"

    def ev(i, text):
        return {"doc_id": i, "ts": "2024-01-01T00:00:00", "text": text}

    _write_events(src, "w1.json", [
        ev(1, "alpha beta gamma alpha"),
        ev(2, "beta gamma"),
        ev(3, "alpha beta"),  # first half of doc 3
    ])
    q = stream_inverted_index(spark, src, schema, idx, ck)
    q.awaitTermination(120)

    _write_events(src, "w2.json", [
        ev(3, "alpha delta"),  # second half of doc 3: tf folds in
        ev(4, "delta epsilon alpha"),
    ])
    q = stream_inverted_index(spark, src, schema, idx, ck)
    q.awaitTermination(120)

    full = spark.createDataFrame([
        Row(doc_id=1, text="alpha beta gamma alpha"),
        Row(doc_id=2, text="beta gamma"),
        Row(doc_id=3, text="alpha beta alpha delta"),
        Row(doc_id=4, text="delta epsilon alpha"),
    ])
    want_idx = {
        (r["token"], r["doc_id"]): r["tf"]
        for r in build_inverted_index(full).collect()
    }
    served = spark.read.parquet(idx)
    got_idx = {
        (r["token"], r["doc_id"]): r["tf"]
        for r in served.select("token", "doc_id", "tf").collect()
    }
    assert got_idx == want_idx

    want_kw = sorted(map(tuple, keyword_search_all(
        build_inverted_index(full), ["alpha", "beta"]).collect()))
    got_kw = sorted(map(tuple, keyword_search_all(
        served.select("token", "doc_id", "tf"), ["alpha", "beta"]).collect()))
    assert got_kw == want_kw

    want_bm = [tuple(r) for r in bm25_search(
        build_inverted_index(full), ["alpha", "delta"], k=4).collect()]
    got_bm = [tuple(r) for r in bm25_search(
        served.select("token", "doc_id", "tf"), ["alpha", "delta"], k=4).collect()]
    assert got_bm == want_bm and len(got_bm) > 0


def test_streamed_index_serves_hybrid_fusion(spark, tmp_path):
    # the RAG combination: BM25 served from the CONTINUOUSLY MAINTAINED
    # inverted index, fused (RRF) with a vector top-k list, equals the
    # fusion over the batch-built index — i.e. the hybrid retrieval
    # surface can sit directly on the streamed posting table
    from pyspark.sql import Row, Window

    from lakeflow.operators.index import bm25_search, build_inverted_index, rrf_fuse
    from lakeflow.streaming.corpus_intake import stream_inverted_index

    src = str(tmp_path / "docs")
    idx = str(tmp_path / "invidx")
    ck = str(tmp_path / "ck")
    schema = "doc_id long, ts timestamp, text string"
    docs = [
        (1, "spark join merge spark"),
        (2, "join merge"),
        (3, "spark shuffle"),
        (4, "merge compaction spark join"),
    ]
    _write_events(src, "w1.json", [
        {"doc_id": i, "ts": "2024-01-01T00:00:00", "text": t} for i, t in docs[:2]
    ])
    q = stream_inverted_index(spark, src, schema, idx, ck)
    q.awaitTermination(120)
    _write_events(src, "w2.json", [
        {"doc_id": i, "ts": "2024-01-01T00:01:00", "text": t} for i, t in docs[2:]
    ])
    q = stream_inverted_index(spark, src, schema, idx, ck)
    q.awaitTermination(120)

    def ranked_bm25(index):
        w = Window.orderBy(F.desc("score_micros"), F.asc("doc_id"))
        return (
            bm25_search(index, ["spark", "join"], k=4)
            .withColumn("rnk", F.row_number().over(w))
            .select("doc_id", "rnk")
        )

    vec = spark.createDataFrame(
        [Row(doc_id=3, rnk=1), Row(doc_id=9, rnk=2), Row(doc_id=1, rnk=3)]
    )
    served = spark.read.parquet(idx).select("token", "doc_id", "tf")
    batch = build_inverted_index(
        spark.createDataFrame([Row(doc_id=i, text=t) for i, t in docs])
    )
    got = [tuple(r) for r in rrf_fuse(ranked_bm25(served), vec, k=10).collect()]
    want = [tuple(r) for r in rrf_fuse(ranked_bm25(batch), vec, k=10).collect()]
    assert got == want and len(got) >= 4
    # doc 9 exists only in the vector list; doc 3 only weakly in BM25 —
    # fusion must carry single-list docs through (missing side = 0)
    ids = {r[0] for r in got}
    assert 9 in ids and 3 in ids


def test_stream_contamination_guard(spark, tmp_path):
    # ingest-time decontamination: each wave's documents are
    # containment-joined against the fixed benchmark needles; flags
    # accumulate across waves (restart path) and equal the batch
    # containment_join over everything ever streamed
    from lakeflow.operators.setsim import containment_join
    from lakeflow.streaming.corpus_intake import stream_contamination_guard

    src = str(tmp_path / "docs")
    flg = str(tmp_path / "flags")
    ck = str(tmp_path / "ck")
    schema = "doc_id long, ts timestamp, text string"
    bench_prompt = "what is the capital of france paris obviously"
    needles = spark.createDataFrame(
        [(9001, bench_prompt), (9002, "unseen benchmark question here never quoted")],
        "doc_id long, text string",
    )
    clean = "totally ordinary web page text about cooking pasta at home"
    contaminated = (
        "intro filler words then what is the capital of france paris "
        "obviously plus trailing commentary text"
    )
    _write_events(
        src,
        "w1.json",
        [
            {"doc_id": 1, "ts": "2024-01-01T00:00:00", "text": clean},
            {"doc_id": 2, "ts": "2024-01-01T00:01:00", "text": contaminated},
        ],
    )
    q = stream_contamination_guard(spark, src, schema, needles, flg, ck)
    q.awaitTermination(120)
    flags1 = {
        (r["needle_doc_id"], r["doc_doc_id"])
        for r in spark.read.parquet(flg).distinct().collect()
    }
    assert flags1 == {(9001, 2)}
    # wave 2 (fresh start = restart path): another contaminated doc
    _write_events(
        src,
        "w2.json",
        [
            {"doc_id": 10, "ts": "2024-01-01T01:00:00", "text": contaminated + " again"},
            {"doc_id": 11, "ts": "2024-01-01T01:01:00", "text": clean + " more"},
        ],
    )
    q = stream_contamination_guard(spark, src, schema, needles, flg, ck)
    q.awaitTermination(120)
    flags2 = {
        (r["needle_doc_id"], r["doc_doc_id"])
        for r in spark.read.parquet(flg).distinct().collect()
    }
    assert flags2 == {(9001, 2), (9001, 10)}
    # streamed state == batch containment_join over everything streamed
    alldocs = spark.createDataFrame(
        [(1, clean), (2, contaminated), (10, contaminated + " again"), (11, clean + " more")],
        "doc_id long, text string",
    )
    batch = {
        (r["needle_doc_id"], r["doc_doc_id"])
        for r in containment_join(needles, alldocs, "doc_id", "text", 800_000).collect()
    }
    assert flags2 == batch


def test_stream_positional_index_serves_phrase_and_slop(spark, tmp_path):
    # r8: continuous POSITIONAL index maintenance — after each wave the
    # persisted table equals the batch-built positional index over all
    # docs so far (whole-doc-per-batch contract), a re-ingested doc's
    # postings replace latest-wins, and phrase/slop search served from
    # the maintained index match the batch recompute
    from pyspark.sql import Row

    from lakeflow.operators.index import (
        build_positional_index,
        phrase_search,
        slop_search,
    )
    from lakeflow.streaming.corpus_intake import stream_positional_index

    src = str(tmp_path / "docs")
    idx = str(tmp_path / "posidx")
    ck = str(tmp_path / "ck")
    schema = "doc_id long, ts timestamp, text string"

    def ev(i, text):
        return {"doc_id": i, "ts": "2024-01-01T00:00:00", "text": text}

    _write_events(src, "w1.json", [
        ev(1, "alpha beta gamma alpha beta"),
        ev(2, "gamma beta alpha"),
    ])
    q = stream_positional_index(spark, src, schema, idx, ck)
    q.awaitTermination(120)
    _write_events(src, "w2.json", [
        ev(3, "alpha beta there alpha"),
        ev(2, "beta alpha gamma beta"),  # re-ingest: doc 2 REPLACES
    ])
    q = stream_positional_index(spark, src, schema, idx, ck)
    q.awaitTermination(120)

    full = spark.createDataFrame([
        Row(doc_id=1, text="alpha beta gamma alpha beta"),
        Row(doc_id=2, text="beta alpha gamma beta"),
        Row(doc_id=3, text="alpha beta there alpha"),
    ])
    want = {
        (r["token"], r["doc_id"]): (r["tf"], tuple(r["positions"]))
        for r in build_positional_index(full).collect()
    }
    served = spark.read.parquet(idx).select("token", "doc_id", "tf", "positions")
    got = {
        (r["token"], r["doc_id"]): (r["tf"], tuple(r["positions"]))
        for r in served.collect()
    }
    assert got == want
    # retrieval served from the maintained index == batch recompute
    for fn in (
        lambda i: phrase_search(i, ["alpha", "beta"]),
        lambda i: slop_search(i, ["alpha", "gamma"], slop=3),
    ):
        want_q = sorted(map(tuple, fn(build_positional_index(full)).collect()))
        got_q = sorted(map(tuple, fn(served).collect()))
        assert got_q == want_q
    # replay: re-running against the same checkpoint is a no-op
    q = stream_positional_index(spark, src, schema, idx, ck)
    q.awaitTermination(120)
    again = {
        (r["token"], r["doc_id"]): (r["tf"], tuple(r["positions"]))
        for r in spark.read.parquet(idx)
        .select("token", "doc_id", "tf", "positions")
        .collect()
    }
    assert again == want


def test_stream_vocab_counters_matches_batch_heavy_hitters(spark, tmp_path):
    # r8: continuously-maintained per-token totals == batch
    # vocab_heavy_hitters over everything ever streamed, at every
    # instant; a crash-replay is a whole-batch no-op
    from lakeflow.operators.corpus import vocab_heavy_hitters
    from lakeflow.streaming.corpus_intake import (
        read_heavy_hitters,
        stream_vocab_counters,
    )

    src = str(tmp_path / "docs")
    tgt = str(tmp_path / "vocab")
    ck = str(tmp_path / "ck")
    schema = "doc_id long, ts timestamp, source string, text string"
    w1 = [
        {"doc_id": 1, "ts": "2024-01-01T00:00:00", "source": "web", "text": "the cat sat on the mat"},
        {"doc_id": 2, "ts": "2024-01-01T00:01:00", "source": "web", "text": "the dog sat"},
    ]
    w2 = [
        {"doc_id": 3, "ts": "2024-01-01T01:00:00", "source": "book", "text": "the cat and the dog"},
        {"doc_id": 4, "ts": "2024-01-01T01:01:00", "source": "book", "text": "mat mat mat"},
    ]

    def batch_df(waves):
        rows = [(d["doc_id"], d["text"]) for w in waves for d in w]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def hh(df):
        return [
            (r["token"], r["n_occurrences"], r["doc_freq"], r["rnk"])
            for r in vocab_heavy_hitters(df, k=5).collect()
        ]

    _write_events(src, "w1.json", w1)
    q = stream_vocab_counters(spark, src, schema, tgt, ck)
    q.awaitTermination(120)
    got1 = [
        (r["token"], r["n_occurrences"], r["doc_freq"], r["rnk"])
        for r in read_heavy_hitters(spark, tgt, k=5).collect()
    ]
    assert got1 == hh(batch_df([w1]))

    _write_events(src, "w2.json", w2)
    q = stream_vocab_counters(spark, src, schema, tgt, ck)
    q.awaitTermination(120)
    got2 = [
        (r["token"], r["n_occurrences"], r["doc_freq"], r["rnk"])
        for r in read_heavy_hitters(spark, tgt, k=5).collect()
    ]
    assert got2 == hh(batch_df([w1, w2]))

    # crash-replay: fresh checkpoint re-batches every file; the
    # batch-id commit tokens must no-op them all
    import shutil

    shutil.rmtree(ck)
    q = stream_vocab_counters(spark, src, schema, tgt, str(tmp_path / "ck2"))
    q.awaitTermination(120)
    got3 = [
        (r["token"], r["n_occurrences"], r["doc_freq"], r["rnk"])
        for r in read_heavy_hitters(spark, tgt, k=5).collect()
    ]
    assert got3 == got2, "replayed batches must not double-count"


def test_read_heavy_hitters_uninitialized_raises_clear_error(spark, tmp_path):
    import pytest

    from lakeflow.streaming.corpus_intake import read_heavy_hitters

    with pytest.raises(FileNotFoundError, match="not committed"):
        read_heavy_hitters(spark, str(tmp_path / "never"), k=5)


def test_stream_grouped_minhash_matches_batch_and_replays_free(spark, tmp_path):
    # r8 continuation: MIN-fold-maintained per-source signatures ==
    # batch grouped_minhash_signatures over everything ever streamed
    # (minhash of a union is the element-wise min of the parts), and a
    # crash-replay is a no-op ALGEBRAICALLY — no commit token involved
    from lakeflow.operators.corpus import source_overlap_matrix
    from lakeflow.streaming.corpus_intake import (
        read_source_overlap,
        stream_grouped_minhash,
    )

    src = str(tmp_path / "docs")
    tgt = str(tmp_path / "sig")
    ck = str(tmp_path / "ck")
    schema = "doc_id long, ts timestamp, source string, text string"
    w1 = [
        {"doc_id": 1, "ts": "2024-01-01T00:00:00", "source": "web", "text": "the cat sat on the mat today"},
        {"doc_id": 2, "ts": "2024-01-01T00:01:00", "source": "book", "text": "a dog ran over the hill fast"},
    ]
    w2 = [
        {"doc_id": 3, "ts": "2024-01-01T01:00:00", "source": "web", "text": "a dog ran over the hill fast"},
        {"doc_id": 4, "ts": "2024-01-01T01:01:00", "source": "wiki", "text": "entirely new words appear here now"},
    ]
    K = 8

    def batch_matrix(waves):
        rows = [(d["doc_id"], d["source"], d["text"]) for w in waves for d in w]
        df = spark.createDataFrame(rows, "doc_id long, source string, text string")
        return sorted(
            map(tuple, source_overlap_matrix(df, "source", "text", k=K).collect())
        )

    _write_events(src, "w1.json", w1)
    q = stream_grouped_minhash(spark, src, schema, tgt, ck, k=K)
    q.awaitTermination(120)
    assert sorted(
        map(tuple, read_source_overlap(spark, tgt, "source", k=K).collect())
    ) == batch_matrix([w1])

    _write_events(src, "w2.json", w2)
    q = stream_grouped_minhash(spark, src, schema, tgt, ck, k=K)
    q.awaitTermination(120)
    streamed = sorted(
        map(tuple, read_source_overlap(spark, tgt, "source", k=K).collect())
    )
    assert streamed == batch_matrix([w1, w2])
    # wave 2 made web and book share a verbatim doc: nonzero estimate
    web_book = [r for r in streamed if r[0] == "book" and r[1] == "web"]
    assert web_book and web_book[0][3] > 0

    # replay EVERYTHING under a fresh checkpoint: min-fold idempotence
    # alone must keep the table identical
    import shutil

    shutil.rmtree(ck)
    q = stream_grouped_minhash(spark, src, schema, tgt, str(tmp_path / "ck2"), k=K)
    q.awaitTermination(120)
    assert sorted(
        map(tuple, read_source_overlap(spark, tgt, "source", k=K).collect())
    ) == streamed


def test_stream_int8_scales_matches_batch_and_replays_free(spark, tmp_path):
    # r8 continuation: MAX-fold-maintained per-dim scales == batch
    # int8_scales over everything ever streamed; replay is a no-op by
    # max-merge idempotence (no commit token in the path at all)
    from lakeflow.operators.quant import int8_scales
    from lakeflow.streaming.corpus_intake import (
        read_int8_scales,
        stream_int8_scales,
    )

    src = str(tmp_path / "vecs")
    tgt = str(tmp_path / "scales")
    ck = str(tmp_path / "ck")
    schema = "vec_id long, ts timestamp, embedding array<float>"
    w1 = [
        {"vec_id": 1, "ts": "2024-01-01T00:00:00", "embedding": [0.5, -0.25, 0.0]},
        {"vec_id": 2, "ts": "2024-01-01T00:01:00", "embedding": [-0.75, 0.125, 0.0]},
    ]
    w2 = [
        # dim 0 shrinks (no new max), dim 1 grows, dim 2 leaves zero
        {"vec_id": 3, "ts": "2024-01-01T01:00:00", "embedding": [0.25, -0.875, 0.0625]},
    ]

    def batch_scales(waves):
        rows = [(d["vec_id"], d["embedding"]) for w in waves for d in w]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        return sorted(
            (r["dim"], r["scale_micros"]) for r in int8_scales(df).collect()
        )

    _write_events(src, "w1.json", w1)
    q = stream_int8_scales(spark, src, schema, tgt, ck)
    q.awaitTermination(120)
    got1 = sorted(
        (r["dim"], r["scale_micros"])
        for r in read_int8_scales(spark, tgt).collect()
    )
    assert got1 == batch_scales([w1]) == [(0, 750_000), (1, 250_000), (2, 0)]

    _write_events(src, "w2.json", w2)
    q = stream_int8_scales(spark, src, schema, tgt, ck)
    q.awaitTermination(120)
    got2 = sorted(
        (r["dim"], r["scale_micros"])
        for r in read_int8_scales(spark, tgt).collect()
    )
    assert got2 == batch_scales([w1, w2]) == [
        (0, 750_000),
        (1, 875_000),
        (2, 62_500),
    ]

    # full-history replay under a fresh checkpoint: idempotent
    import shutil

    shutil.rmtree(ck)
    q = stream_int8_scales(spark, src, schema, tgt, str(tmp_path / "ck2"))
    q.awaitTermination(120)
    got3 = sorted(
        (r["dim"], r["scale_micros"])
        for r in read_int8_scales(spark, tgt).collect()
    )
    assert got3 == got2


def test_stream_hll_matches_batch_and_replays_free(spark, tmp_path):
    # r8 continuation-2: MAX-fold-maintained HLL registers == the
    # batch sketch over everything ever streamed, per group, at every
    # instant; replay is a no-op by max-merge idempotence
    from lakeflow.operators.sketches import hll_distinct
    from lakeflow.streaming.corpus_intake import read_hll_estimate, stream_hll

    src = str(tmp_path / "ev")
    tgt = str(tmp_path / "regs")
    ck = str(tmp_path / "ck")
    schema = "event_id long, ts timestamp, user_id long, event_type string"
    w1 = [
        {"event_id": i, "ts": "2024-01-01T00:00:00",
         "user_id": i % 40, "event_type": "click" if i % 2 else "view"}
        for i in range(200)
    ]
    w2 = [
        {"event_id": 1000 + i, "ts": "2024-01-01T01:00:00",
         "user_id": 30 + i, "event_type": "click"}
        for i in range(60)
    ]

    def batch_est(waves):
        rows = [
            (d["event_type"], d["user_id"]) for w in waves for d in w
        ]
        df = spark.createDataFrame(rows, "event_type string, user_id long")
        return sorted(
            tuple(r) for r in hll_distinct(df, "user_id", ["event_type"]).collect()
        )

    _write_events(src, "w1.json", w1)
    q = stream_hll(spark, src, schema, tgt, ck, "user_id", ("event_type",))
    q.awaitTermination(120)
    got1 = sorted(
        tuple(r)
        for r in read_hll_estimate(spark, tgt, ("event_type",)).collect()
    )
    assert got1 == batch_est([w1])

    _write_events(src, "w2.json", w2)
    q = stream_hll(spark, src, schema, tgt, ck, "user_id", ("event_type",))
    q.awaitTermination(120)
    got2 = sorted(
        tuple(r)
        for r in read_hll_estimate(spark, tgt, ("event_type",)).collect()
    )
    assert got2 == batch_est([w1, w2])
    assert got2 != got1  # w2 added genuinely new users

    # full-history replay under a fresh checkpoint: idempotent
    import shutil

    shutil.rmtree(ck)
    q = stream_hll(
        spark, src, schema, tgt, str(tmp_path / "ck2"), "user_id", ("event_type",)
    )
    q.awaitTermination(120)
    got3 = sorted(
        tuple(r)
        for r in read_hll_estimate(spark, tgt, ("event_type",)).collect()
    )
    assert got3 == got2

    # before the first commit, the reader refuses loudly
    import pytest

    with pytest.raises(FileNotFoundError, match="not committed|register table"):
        read_hll_estimate(spark, str(tmp_path / "nowhere"))


def test_stream_gram_stats_maintains_pca_model(spark, tmp_path):
    # r8 continuation-2: additive-maintained gram statistics refit to
    # the EXACT batch PCA model over everything ever streamed, at
    # every instant; replay is a no-op via the batch-id commit token
    from lakeflow.operators.pca import pca_fit
    from lakeflow.streaming.corpus_intake import read_pca_model, stream_gram_stats

    src = str(tmp_path / "vecs")
    tgt = str(tmp_path / "gram")
    ck = str(tmp_path / "ck")
    schema = "vec_id long, ts timestamp, embedding array<float>"

    def vec(i, dim=4):
        return [float(((i * (j + 2) * 7 + 3 * j) % 101 - 50) / 64.0) for j in range(dim)]

    w1 = [
        {"vec_id": i, "ts": "2024-01-01T00:00:00", "embedding": vec(i)}
        for i in range(30)
    ]
    w2 = [
        {"vec_id": 100 + i, "ts": "2024-01-01T01:00:00", "embedding": vec(100 + i)}
        for i in range(20)
    ]

    def batch_model(waves, k=2):
        rows = [(d["vec_id"], d["embedding"]) for w in waves for d in w]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        return pca_fit(df, k=k)

    _write_events(src, "w1.json", w1)
    q = stream_gram_stats(spark, src, schema, tgt, ck)
    q.awaitTermination(120)
    assert read_pca_model(spark, tgt, k=2) == batch_model([w1])

    _write_events(src, "w2.json", w2)
    q = stream_gram_stats(spark, src, schema, tgt, ck)
    q.awaitTermination(120)
    m2 = read_pca_model(spark, tgt, k=2)
    assert m2 == batch_model([w1, w2])
    assert m2.n == 50

    # full-history replay under a fresh checkpoint: commit tokens make
    # the (non-idempotent) additive folds no-ops
    import shutil

    shutil.rmtree(ck)
    q = stream_gram_stats(spark, src, schema, tgt, str(tmp_path / "ck2"))
    q.awaitTermination(120)
    assert read_pca_model(spark, tgt, k=2) == batch_model([w1, w2])


def test_stream_loghist_matches_batch_and_replays_tokened(spark, tmp_path):
    # r9: SUM-fold-maintained log-histogram counts == the batch sketch
    # over everything ever streamed, so maintained quantiles == batch
    # sketch quantiles at every instant; replay is a no-op via the
    # batch-id commit token (counts are NOT idempotent — CMS contract)
    from lakeflow.operators.sketches import loghist_counts, loghist_quantiles
    from lakeflow.streaming.corpus_intake import (
        read_loghist_quantiles,
        stream_loghist,
    )

    src = str(tmp_path / "ev")
    tgt = str(tmp_path / "lh")
    ck = str(tmp_path / "ck")
    schema = "event_id long, ts timestamp, v long"
    w1 = [
        {"event_id": i, "ts": "2024-01-01T00:00:00", "v": (i * 7919) % 100_000}
        for i in range(300)
    ]
    w2 = [
        {"event_id": 1000 + i, "ts": "2024-01-01T01:00:00", "v": -(i * 31) % 977 - 1}
        for i in range(100)
    ]
    probs = [0.5, 0.9, 0.99]

    def batch_q(waves):
        rows = [(d["v"],) for w in waves for d in w]
        df = spark.createDataFrame(rows, "v long")
        return sorted(
            tuple(r)
            for r in loghist_quantiles(loghist_counts(df, "v"), probs).collect()
        )

    _write_events(src, "w1.json", w1)
    q = stream_loghist(spark, src, schema, tgt, ck, "v")
    q.awaitTermination(120)
    got1 = sorted(
        tuple(r) for r in read_loghist_quantiles(spark, tgt, probs).collect()
    )
    assert got1 == batch_q([w1])

    _write_events(src, "w2.json", w2)
    q = stream_loghist(spark, src, schema, tgt, ck, "v")
    q.awaitTermination(120)
    got2 = sorted(
        tuple(r) for r in read_loghist_quantiles(spark, tgt, probs).collect()
    )
    assert got2 == batch_q([w1, w2])

    # full-history replay under a fresh checkpoint: tokens no-op it
    import shutil

    shutil.rmtree(ck)
    q = stream_loghist(spark, src, schema, tgt, str(tmp_path / "ck2"), "v")
    q.awaitTermination(120)
    got3 = sorted(
        tuple(r) for r in read_loghist_quantiles(spark, tgt, probs).collect()
    )
    assert got3 == got2


def test_stream_cms_matches_batch_and_replays_free(spark, tmp_path):
    # r8 continuation-2: SUM-fold-maintained count-min cells == the
    # batch sketch over everything ever streamed; replay is a no-op
    # via the batch-id commit token (sums are NOT idempotent)
    from lakeflow.operators.sketches import cms_lookup, cms_sketch
    from lakeflow.streaming.corpus_intake import read_cms, stream_cms

    src = str(tmp_path / "ev")
    tgt = str(tmp_path / "cms")
    ck = str(tmp_path / "ck")
    schema = "event_id long, ts timestamp, user_id long"
    w1 = [
        {"event_id": i, "ts": "2024-01-01T00:00:00", "user_id": i % 15}
        for i in range(300)
    ]
    w2 = [
        {"event_id": 1000 + i, "ts": "2024-01-01T01:00:00", "user_id": i % 5}
        for i in range(100)
    ]
    probes = spark.createDataFrame([(i,) for i in range(6)], "user_id long")

    def batch_lookup(waves):
        rows = [(d["user_id"],) for w in waves for d in w]
        df = spark.createDataFrame(rows, "user_id long")
        return sorted(
            tuple(r)
            for r in cms_lookup(cms_sketch(df, "user_id"), probes, "user_id").collect()
        )

    _write_events(src, "w1.json", w1)
    q = stream_cms(spark, src, schema, tgt, ck, "user_id")
    q.awaitTermination(120)
    got1 = sorted(
        tuple(r)
        for r in cms_lookup(read_cms(spark, tgt), probes, "user_id").collect()
    )
    assert got1 == batch_lookup([w1])

    _write_events(src, "w2.json", w2)
    q = stream_cms(spark, src, schema, tgt, ck, "user_id")
    q.awaitTermination(120)
    got2 = sorted(
        tuple(r)
        for r in cms_lookup(read_cms(spark, tgt), probes, "user_id").collect()
    )
    assert got2 == batch_lookup([w1, w2])

    # full-history replay under a fresh checkpoint: tokens no-op it
    import shutil

    shutil.rmtree(ck)
    q = stream_cms(spark, src, schema, tgt, str(tmp_path / "ck2"), "user_id")
    q.awaitTermination(120)
    got3 = sorted(
        tuple(r)
        for r in cms_lookup(read_cms(spark, tgt), probes, "user_id").collect()
    )
    assert got3 == got2


def test_stream_kafka_topic_lights_up_with_connector(spark):
    # VERDICT r9 task #7: presence-gated integration for the live
    # Kafka path. Today the sandbox lacks the spark-sql-kafka JAR, so
    # this SKIPS with a reason naming the missing connector (the PIL
    # gate arrangement) — but it first asserts the scaffold's error
    # rewrite carries the copy-pasteable --packages coordinate. The
    # day the sandbox ships the connector, the same test exercises
    # real reader construction + the dump-contract flatten (no broker
    # needed: the kafka source connects at query START, not load()).
    from lakeflow.streaming.kafka_live import kafka_package, stream_kafka_topic

    schema = "user_id long, action string"
    try:
        sdf = stream_kafka_topic(spark, "localhost:9092", "probe", schema)
    except RuntimeError as e:
        assert "--packages" in str(e) and "spark-sql-kafka" in str(e)
        pytest.skip(
            "spark-sql-kafka connector JAR absent in this environment; "
            f"launch with --packages {kafka_package()} to exercise the "
            "live reader"
        )
    assert sdf.isStreaming
    assert {"user_id", "action"} <= set(sdf.columns)


def test_stream_loghist_grouped_fleet_form(spark, tmp_path):
    # r10: the GROUPED (multi-column) fleet-monitor form round-trips
    # through the maintained table — per-(g1, g2) streamed quantiles ==
    # the batch sketch per slice, read back with the same group tuple
    from lakeflow.operators.sketches import loghist_counts, loghist_quantiles
    from lakeflow.streaming.corpus_intake import (
        read_loghist_quantiles,
        stream_loghist,
    )

    src = str(tmp_path / "ev")
    tgt = str(tmp_path / "lh")
    ck = str(tmp_path / "ck")
    schema = "event_id long, ts timestamp, g1 string, g2 long, v long"
    rows = [
        {"event_id": i, "ts": "2024-01-01T00:00:00",
         "g1": ("a" if i % 2 else "b"), "g2": i % 3,
         "v": (i * 7919) % 50_000}
        for i in range(240)
    ]
    _write_events(src, "w1.json", rows)
    q = stream_loghist(spark, src, schema, tgt, ck, "v", group_cols=("g1", "g2"))
    q.awaitTermination(120)
    probs = [0.5, 0.99]
    got = sorted(
        tuple(r)
        for r in read_loghist_quantiles(
            spark, tgt, probs, group_col=("g1", "g2")
        ).collect()
    )
    df = spark.createDataFrame(
        [(d["g1"], d["g2"], d["v"]) for d in rows], "g1 string, g2 long, v long"
    )
    want = sorted(
        tuple(r)
        for r in loghist_quantiles(
            loghist_counts(df, "v", ["g1", "g2"]), probs, ["g1", "g2"]
        ).collect()
    )
    assert got == want and len(got) == 12  # 2 g1 x 3 g2 x 2 probs


# ---------------------------------------------------------------------------
# r11 maintenance loops (VERDICT r10 tasks #3/#4): the full cycle
# monitor fires -> maintain_* rebuilds -> the NEXT batch's monitor row
# clears, for each frozen-index family. Every wave is a fresh stream
# start on the same checkpoint (the restart path).
# ---------------------------------------------------------------------------


def test_maintain_apss_index_round_trip(spark, tmp_path):
    from lakeflow.operators.apss import apss_index_fit
    from lakeflow.streaming.corpus_intake import stream_apss_index
    from lakeflow.streaming.maintenance import (
        maintain_apss_index,
        read_latest_staleness,
    )

    src = str(tmp_path / "docs")
    idx = str(tmp_path / "index")
    prs = str(tmp_path / "pairs")
    ck = str(tmp_path / "ck")
    schema = "doc_id long, ts timestamp, text string"
    seed_rows = [(1, "a1 a2 a3"), (2, "b1 b2 b3"), (3, "c1 c2 c3")]
    seed = spark.createDataFrame(seed_rows, "doc_id long, text string")
    apss_index_fit(seed, idx, "doc_id", "text", 850_000)
    stp = f"{idx}/staleness"
    assert read_latest_staleness(spark, stp) is None

    # wave 1: pure NEW vocabulary -> unseen_ppm = 1e6 -> monitor fires
    _write_events(
        src,
        "w1.json",
        [
            {"doc_id": 10, "ts": "2024-01-01T00:00:00", "text": "x1 x2 x3"},
            {"doc_id": 11, "ts": "2024-01-01T00:01:00", "text": "x1 x2 x3"},
        ],
    )
    q = stream_apss_index(spark, src, schema, idx, prs, ck, threshold_micros=850_000)
    q.awaitTermination(120)
    fired = read_latest_staleness(spark, stp)
    assert fired["rebuild"] == 1 and fired["unseen_ppm"] == 1_000_000

    # the maintenance turn: rebuild over the CURRENT corpus
    corpus = spark.createDataFrame(
        seed_rows + [(10, "x1 x2 x3"), (11, "x1 x2 x3")],
        "doc_id long, text string",
    )
    assert maintain_apss_index(spark, corpus, idx, "doc_id", "text", 850_000)
    # rebuilt snapshot covers the drifted vocabulary
    assert {
        r["term"]
        for r in spark.read.parquet(f"{idx}/weights")
        .select("term")
        .distinct()
        .collect()
    } >= {"a1", "x1"}

    # wave 2, composition-matched to the rebuilt snapshot (60% df=1
    # terms, 40% df=2 terms): unseen collapses to 0 and the df-bucket
    # chi2 stays under threshold -> the monitor row CLEARS
    _write_events(
        src,
        "w2.json",
        [
            {"doc_id": 20, "ts": "2024-01-01T01:00:00", "text": "a1 a2 a3"},
            {"doc_id": 21, "ts": "2024-01-01T01:01:00", "text": "x1 x2 x3"},
        ],
    )
    q = stream_apss_index(spark, src, schema, idx, prs, ck, threshold_micros=850_000)
    q.awaitTermination(120)
    cleared = read_latest_staleness(spark, stp)
    assert cleared["batch_id"] > fired["batch_id"]
    assert cleared["unseen_ppm"] == 0 and cleared["rebuild"] == 0
    # a maintenance turn on a clear monitor is a no-op
    assert maintain_apss_index(spark, corpus, idx, "doc_id", "text", 850_000) is False


def test_maintain_ivf_index_round_trip(spark, tmp_path):
    from pyspark.sql import Row

    from lakeflow.operators.similarity import ivf_assign
    from lakeflow.streaming.corpus_intake import stream_ivf_assign
    from lakeflow.streaming.maintenance import (
        maintain_ivf_index,
        read_latest_staleness,
    )

    src = str(tmp_path / "vecs")
    asg = str(tmp_path / "assignments")
    ck = str(tmp_path / "ck")
    stp = str(tmp_path / "staleness")
    schema = "vec_id long, ts timestamp, embedding array<double>"
    A = [1.0, 0.0, 0.0, 0.0]
    B = [0.0, 1.0, 0.0, 0.0]
    C = [0.6, 0.0, 0.8, 0.0]  # nearer A than B: drift piles into A's cell
    cents1 = [A, B]
    seed_rows = [Row(vec_id=i, embedding=(A if i % 2 else B)) for i in range(16)]
    seed = spark.createDataFrame(seed_rows)
    ivf_assign(seed, cents1).write.mode("overwrite").parquet(asg)

    def ev(i, v):
        return {"vec_id": i, "ts": "2024-01-01T00:00:00", "embedding": v}

    # wave 1: point-mass drift -> occupancy chi2 fires
    _write_events(src, "w1.json", [ev(100 + i, C) for i in range(16)])
    q = stream_ivf_assign(
        spark, src, schema, cents1, asg, ck, staleness_path=stp
    )
    q.awaitTermination(120)
    fired = read_latest_staleness(spark, stp)
    assert fired["rebuild"] == 1

    # the maintenance turn: re-pick centroids over the CURRENT corpus
    # and rewrite the assignment relation against them
    corpus = spark.createDataFrame(
        seed_rows + [Row(vec_id=100 + i, embedding=C) for i in range(16)]
    )
    cents2 = maintain_ivf_index(spark, corpus, asg, stp, n_cells=3)
    assert cents2 is not None and len(cents2) == 3
    stored2 = {
        (r["vec_id"], r["cell"]) for r in spark.read.parquet(asg).collect()
    }
    want2 = {
        (r["vec_id"], r["cell"]) for r in ivf_assign(corpus, cents2).collect()
    }
    assert stored2 == want2

    # wave 2, composition-matched to the corpus (1/4 A, 1/4 B, 1/2 C):
    # identical vectors assign identically, so batch occupancy equals
    # stored occupancy exactly -> chi2 = 0 -> the monitor CLEARS
    wave2 = [ev(200, A), ev(201, A), ev(202, B), ev(203, B)] + [
        ev(210 + i, C) for i in range(4)
    ]
    _write_events(src, "w2.json", wave2)
    q = stream_ivf_assign(
        spark, src, schema, cents2, asg, ck, staleness_path=stp
    )
    q.awaitTermination(120)
    cleared = read_latest_staleness(spark, stp)
    assert cleared["batch_id"] > fired["batch_id"]
    assert cleared["chi2_micros"] == 0 and cleared["rebuild"] == 0
    # no-op on a clear monitor
    assert maintain_ivf_index(spark, corpus, asg, stp, n_cells=3) is None


def test_maintain_semantic_index_round_trip(spark, tmp_path):
    from pyspark.sql import Row

    from lakeflow.operators.kmeans import semantic_index_fit
    from lakeflow.streaming.corpus_intake import stream_semantic_index
    from lakeflow.streaming.maintenance import (
        maintain_semantic_index,
        read_latest_staleness,
    )

    src = str(tmp_path / "vecs")
    idx = str(tmp_path / "semidx")
    prs = str(tmp_path / "pairs")
    ck = str(tmp_path / "ck")
    stp = str(tmp_path / "staleness")
    schema = "vec_id long, ts timestamp, embedding array<double>"
    A = [1.0, 0.1, 0.0]
    B = [-1.0, 0.2, 0.1]
    C = [0.1, -1.0, 0.3]
    seed_rows = [Row(vec_id=i, embedding=(A if i % 2 else B)) for i in range(8)]
    seed = spark.createDataFrame(seed_rows)
    semantic_index_fit(spark, seed, idx, k=2, n_iter=2)

    def ev(i, v):
        return {"vec_id": i, "ts": "2024-01-01T00:00:00", "embedding": v}

    # wave 1 seeds the monitor baseline (first monitored batch against
    # the seed assignments), wave 2 is point-mass drift -> fires
    _write_events(src, "w1.json", [ev(100 + i, C) for i in range(8)])
    q = stream_semantic_index(
        spark, src, schema, idx, prs, ck,
        min_cos_micros=900_000, staleness_path=stp,
    )
    q.awaitTermination(120)
    fired = read_latest_staleness(spark, stp)
    assert fired["rebuild"] == 1
    assert fired["n_stored"] == 8 and fired["n_batch"] == 8

    corpus = spark.createDataFrame(
        seed_rows + [Row(vec_id=100 + i, embedding=C) for i in range(8)]
    )
    cents2 = maintain_semantic_index(spark, corpus, idx, stp, k=3)
    assert cents2 is not None and len(cents2) == 3

    # composition-matched wave (corpus is 8A+8B+8C -> one of each)
    # over the rebuilt index: identical vectors colocate, so batch
    # occupancy is exactly proportional to stored occupancy whatever
    # cell layout the refit converged to -> clears
    wave2 = [ev(200, A), ev(201, B), ev(202, C)]
    _write_events(src, "w2.json", wave2)
    q = stream_semantic_index(
        spark, src, schema, idx, prs, ck,
        min_cos_micros=900_000, staleness_path=stp,
    )
    q.awaitTermination(120)
    cleared = read_latest_staleness(spark, stp)
    assert cleared["batch_id"] > fired["batch_id"]
    assert cleared["rebuild"] == 0
    assert maintain_semantic_index(spark, corpus, idx, stp, k=3) is None


def test_stream_neardup_index_band_staleness(spark, tmp_path):
    # r11 wiring: the LSH band maintainer appends frozen-banding drift
    # rows (batch mass over stored-bucket-size magnitudes). Batch 1 has
    # no stored side -> skipped; a same-distribution batch reads low
    # (every row lands in its own doc's bucket pattern); a replayed
    # stream start without new files appends nothing.
    from lakeflow.streaming.corpus_intake import stream_neardup_index
    from lakeflow.streaming.maintenance import read_latest_staleness

    src = str(tmp_path / "docs")
    idx = str(tmp_path / "index")
    prs = str(tmp_path / "pairs")
    ck = str(tmp_path / "ck")
    stp = str(tmp_path / "staleness")
    schema = "doc_id long, ts timestamp, text string"
    base = "the quick brown fox jumps over the lazy dog near the river bank today"

    def ev(i, text):
        return {"doc_id": i, "ts": "2024-01-01T00:00:00", "text": text}

    _write_events(src, "w1.json", [ev(i, f"{base} v{i}") for i in range(8)])
    q = stream_neardup_index(
        spark, src, schema, idx, prs, ck, staleness_path=stp
    )
    q.awaitTermination(120)
    assert read_latest_staleness(spark, stp) is None  # first batch skipped

    # wave 2: near-duplicates of the stored docs -> batch rows land in
    # EXISTING buckets, so the unseen-bucket (bin 0) mass stays partial
    _write_events(src, "w2.json", [ev(100 + i, f"{base} v{i}") for i in range(8)])
    q = stream_neardup_index(
        spark, src, schema, idx, prs, ck, staleness_path=stp
    )
    q.awaitTermination(120)
    row2 = read_latest_staleness(spark, stp)
    assert row2 is not None and row2["n_batch"] > 0 and row2["n_stored"] > 0
    assert 0 <= row2["chi2_micros"] <= 2_000_000

    # restart with no new files: replay appends nothing (offsets held)
    n_rows = spark.read.parquet(stp).count()
    q = stream_neardup_index(
        spark, src, schema, idx, prs, ck, staleness_path=stp
    )
    q.awaitTermination(120)
    assert spark.read.parquet(stp).count() == n_rows
