"""Golden end-to-end pipeline tests (SURVEY §5.2): each reference
pipeline rebuilt over fixtures, verified against an independent pure-
Python recomputation of the expected result."""

from __future__ import annotations

import glob
import json
import os
from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from lakeflow.pipelines import (
    import_iterable_events,
    import_mailgun_events,
    import_mongo_notifications,
    import_topic_dump,
)
from lakeflow.sinks.ingest_state import IngestState
from tests import fixtures


@pytest.fixture(scope="module")
def froot(tmp_path_factory):
    root = tmp_path_factory.mktemp("pipefix")
    return {
        "root": str(root),
        "mailgun": fixtures.build_mailgun(str(root)),
        "iterable": fixtures.build_iterable(str(root)),
        "mongo": fixtures.build_mongo(str(root)),
        "kafka": fixtures.build_kafka(str(root)),
    }


def _mailgun_raw_events(base: str):
    for path in glob.glob(os.path.join(base, "partition=*", "*.json")):
        with open(path) as fh:
            for line in fh.read().split("\n")[:-1]:
                yield json.loads(json.loads(line))


def test_mailgun_end_to_end(spark, froot):
    out = import_mailgun_events(spark, froot["mailgun"], fixtures.RELEVANT_TAGS)
    expected = [
        e
        for e in _mailgun_raw_events(froot["mailgun"])
        if set(e["tags"]) & set(fixtures.RELEVANT_TAGS)
    ]
    assert out.count() == len(expected)
    # collision handling + sanitize: message.size -> message_size,
    # delivery-status.message -> delivery_status_message
    # non-colliding children keep bare names (attempt-no -> attempt_no)
    for col in ("message_size", "delivery_status_message", "headers_to",
                "attempt_no", "code", "event_ts"):
        assert col in out.columns, out.columns
    # epoch-seconds cast spot check
    row = out.orderBy("message_size").first()
    exp = min(expected, key=lambda e: e["message"]["size"])
    assert row["message_size"] == exp["message"]["size"]
    assert row["event_ts"] == datetime.fromtimestamp(
        exp["timestamp"], tz=timezone.utc
    ).replace(tzinfo=None)
    # empty storage objects ({} in source) became null via from_json of
    # drifted schema OR empty-collection nulling for arrays
    assert "attachments" in out.columns


def test_mailgun_incremental_cutoff(spark, froot):
    all_ev = [
        e
        for e in _mailgun_raw_events(froot["mailgun"])
        if set(e["tags"]) & set(fixtures.RELEVANT_TAGS)
    ]
    cut_epoch = sorted(e["timestamp"] for e in all_ev)[len(all_ev) // 2]
    cutoff = datetime.fromtimestamp(cut_epoch, tz=timezone.utc)
    out = import_mailgun_events(
        spark, froot["mailgun"], fixtures.RELEVANT_TAGS, start=cutoff
    )
    assert out.count() == sum(1 for e in all_ev if e["timestamp"] >= cut_epoch)


def test_iterable_end_to_end(spark, froot):
    out = import_iterable_events(spark, froot["iterable"])
    raw = []
    for path in glob.glob(os.path.join(froot["iterable"], "*", "*.json")):
        with open(path) as fh:
            raw += [json.loads(l) for l in fh.read().splitlines() if l]
    expected = [e for e in raw if e["userId"] is not None]
    assert out.count() == len(expected)
    assert dict(out.dtypes)["userid"] == "bigint"
    # ISO+02:00 parsed, tz-stripped to UTC wall clock
    probe_uid = int(expected[0]["userId"])
    row = out.filter(F.col("userid") == probe_uid).first()
    assert row["createdat"].hour == 8  # 10:30+02:00 == 08:30 UTC
    # dataFields flattened
    for col in ("email", "campaignid", "templateid"):
        assert col in out.columns
    # drifted profileUpdatedAt is a nullable superset column
    assert "profileupdatedat" in out.columns


def test_mongo_end_to_end(spark, froot):
    out = import_mongo_notifications(spark, froot["mongo"])
    raw = []
    for path in glob.glob(os.path.join(froot["mongo"], "*.parquet")):
        import pandas as pd

        for doc in pd.read_parquet(path)["_doc"]:
            raw.append(json.loads(doc))
    expected = [
        d
        for d in raw
        if json.loads(d["notificationData"])["notificationType"]
        in fixtures.RELEVANT_TYPES
    ]
    assert out.count() == len(expected)
    # '$' sanitized; parts list + raw json dropped; epoch-ms cast
    assert "notificationpartlist" not in out.columns
    assert "notificationdata" not in out.columns
    assert "recipient_userid" in out.columns
    exp = min(expected, key=lambda d: d["localDateTime"]["$date"])
    row = out.orderBy("localdatetime").first()
    assert row["localdatetime"] == datetime.fromtimestamp(
        exp["localDateTime"]["$date"] / 1000, tz=timezone.utc
    ).replace(tzinfo=None)


def test_kafka_dedup_end_to_end(spark, froot):
    name, out = import_topic_dump(spark, froot["kafka"]["applications"])
    # reference naming: f'{topic.replace(".", "_")}_topic'
    assert name == "card_applications_topic"
    rows = out.collect()
    # expected: python recomputation — latest ts per (id,status), ties by
    # offset (file order), then status NOT-IN filter
    raw = []
    with open(froot["kafka"]["applications"]) as fh:
        for line in fh.read().splitlines():
            if line:
                raw.append(json.loads(line))
    best = {}
    for rec in raw:
        v = rec["value"]
        key = (v["cardApplicationId"], v["applicationStatus"])
        cur = best.get(key)
        if cur is None or (v["timestamp"], rec["offset"]) > (
            cur["value"]["timestamp"],
            cur["offset"],
        ):
            best[key] = rec
    expected = {
        k: r
        for k, r in best.items()
        if k[1] not in ("INITIAL", "DEPRECATED")
    }
    assert len(rows) == len(expected)
    got = {(r["cardapplicationid"], r["applicationstatus"]): r for r in rows}
    for key, rec in expected.items():
        assert got[key]["payload_rev"] == rec["value"]["payload_rev"], key
    # the deliberate exact-timestamp tie resolved by offset (file order)
    tie_keys = [k for k in expected if k[0] == 101]
    for k in tie_keys:
        assert got[k]["payload_rev"] == expected[k]["value"]["payload_rev"]


def test_ingest_state_incremental(spark, froot, tmp_path):
    state = IngestState(spark, str(tmp_path / "state"))
    df = spark.read.format("text").option("recursiveFileLookup", "true").load(
        froot["mailgun"]
    )
    first = state.filter_new(df, "mailgun")
    assert first.count() == df.count()
    state.record(df, "mailgun")
    second = state.filter_new(df, "mailgun")
    assert second.count() == 0


def test_ingest_state_unreadable_state_raises(spark, tmp_path):
    # an unreadable state table must fail loudly: reading it as empty
    # would ingest every file again
    state_dir = tmp_path / "state"
    state_dir.mkdir()
    (state_dir / "part-0.parquet").write_bytes(b"this is not a parquet file")
    with pytest.raises(Exception, match="(?i)parquet|footer|magic"):
        IngestState(spark, str(state_dir)).processed_files("mailgun").collect()
