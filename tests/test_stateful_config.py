"""applyInPandasWithState running counter + env-only config profiles
and the local driver-heap default."""

from __future__ import annotations

import json
import os

import pytest

from lakeflow.config import connection_profile
from lakeflow.streaming import stream_ndjson
from lakeflow.streaming.stateful import running_event_counter

SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"


def _write(d, name, events):
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, name), "w") as fh:
        fh.write("\n".join(json.dumps(e) for e in events) + "\n")


def _ev(i, user):
    return {
        "event_id": i,
        "ts": f"2024-01-01 10:{i:02d}:00",
        "user_id": user,
        "event_type": "click",
        "value": 1.0,
    }


def test_stateful_counter_carries_state_across_batches(spark, tmp_path):
    src, ckpt, out = (
        str(tmp_path / "src"),
        str(tmp_path / "ckpt"),
        str(tmp_path / "out"),
    )

    def run():
        q = (
            running_event_counter(stream_ndjson(spark, src, SCHEMA))
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    _write(src, "a.json", [_ev(1, 7), _ev(2, 7), _ev(3, 8)])
    run()
    first = {
        (r["user_id"]): (r["batch_events"], r["total_events"])
        for r in spark.read.parquet(out).collect()
    }
    assert first == {7: (2, 2), 8: (1, 1)}

    # second batch: state persists through the checkpoint
    _write(src, "b.json", [_ev(4, 7)])
    run()
    rows = [
        r
        for r in spark.read.parquet(out).collect()
        if r["user_id"] == 7 and r["batch_events"] == 1
    ]
    assert len(rows) == 1
    assert rows[0]["total_events"] == 3  # running total continued from state


def test_connection_profile_from_env(monkeypatch):
    monkeypatch.setenv("LAKEFLOW_WH_URL", "jdbc:postgresql://h:5439/db")
    monkeypatch.setenv("LAKEFLOW_WH_USER", "etl")
    monkeypatch.setenv("LAKEFLOW_WH_PASSWORD", "s3cret")
    p = connection_profile("wh")
    assert p.jdbc_properties() == {"user": "etl", "password": "s3cret"}
    assert "s3cret" not in repr(p)  # never leak secrets into logs
    with pytest.raises(KeyError):
        connection_profile("missing_profile")


def test_local_driver_mem_is_a_quarter_of_the_host_within_1g_8g():
    from lakeflow.session import local_driver_mem

    assert local_driver_mem(16 * 2**30) == "4096m"
    assert local_driver_mem(2 * 2**30) == "1024m"  # floor
    assert local_driver_mem(256 * 2**30) == "8192m"  # cap
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert local_driver_mem() == local_driver_mem(phys)
