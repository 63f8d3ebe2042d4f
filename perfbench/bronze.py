"""Seeded bronze "days" for the ``lake_ingest`` workload, plus the
independent model of what silver and gold must hold after each day.

Every source keeps the encoding quirks of the reference dumps that
``tests/fixtures.py`` reproduces: Mailgun double-encoded NDJSON over
``partition=0..24`` with a top-level/nested ``size`` name collision and
schema drift (files without ``campaigns``/``flags``); Iterable NDJSON
with null keys and ISO timestamps with offsets; Mongo parquet whose
``_doc`` column is a JSON string with ``$date`` names and an embedded
JSON string; Kafka topic dumps with duplicate timelines and
exact-timestamp ties broken by offset; and document NDJSON.

A fixed share (``MALFORMED_SHARE``) of the lines of every source is
truncated mid-record. The readers' PERMISSIVE default turns most of
these into all-null rows; ``Day.malformed_null_rows`` is how many each
source should yield.

The model (``Model``) is pure Python over the well-formed records and
shares no code with lakeflow.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

import pandas as pd

MALFORMED_SHARE = 0.02
# A day carries the volumes of a measured prototype ingest day: 40k
# Mailgun lines, 24k Iterable lines and 4k documents. The prototype had
# no Mongo or Kafka source; they are sized at about 1/3 and 2/5 of
# Mailgun's volume.
MAILGUN_PARTITIONS = 25
MAILGUN_PER_PARTITION = 1600
ITERABLE_FILES = 4
ITERABLE_PER_FILE = 6000
MONGO_FILES = 2
MONGO_PER_FILE = 6500
MONGO_UPDATE_SHARE = 0.2
KAFKA_NEW_APPS = 4000
KAFKA_OLD_APPS = 1600
DOCS_PER_DAY = 4000

RELEVANT_TAGS = [
    "example.notification.payment.OnSchedule",
    "example.notification.PaidOff",
    "example.notification.Agreement.TAB",
]
OTHER_TAGS = ["marketing.weekly", "ops.digest", "misc"]
RELEVANT_TYPES = ["PURCHASE_CONFIRMATION", "PAYMENT_REMINDER", "AGREEMENT_TAB"]
OTHER_TYPES = ["LOGIN_ALERT", "NEWSLETTER"]
STATUSES = ["INITIAL", "STARTED", "COMPLETED", "APPROVED", "DECLINED", "DEPRECATED"]
EXCLUDED_STATUSES = ("INITIAL", "DEPRECATED")
STOP = ["the", "a", "of", "is", "and", "to", "in", "for", "on", "with"]
WORDS = (
    "lake table stream batch merge commit index corpus token query scan "
    "shuffle join window partition schema record event metric value"
).split()

DAY0_S = 1_640_995_200  # 2022-01-01T00:00:00Z

MAILGUN_SCHEMA = (
    "timestamp double, event string, recipient string, tags array<string>, "
    "size bigint, `delivery-status` struct<code: int, message: string, "
    "`attempt-no`: int>, message struct<headers: struct<to: string, "
    "`message-id`: string, subject: string>, size: bigint>, "
    "storage struct<url: string>, envelope struct<sender: string>, "
    "attachments array<string>, campaigns array<string>, "
    "flags struct<`is-test-mode`: boolean>"
)
ITERABLE_SCHEMA = (
    "userId string, createdAt string, eventName string, dataFields "
    "struct<email: string, campaignId: int, templateId: int>, "
    "labels array<string>, messageTypeIds array<int>, "
    "transactionalData string, profileUpdatedAt string"
)
MONGO_DOC_SCHEMA = (
    "notificationData string, localDateTime struct<`$date`: bigint>, "
    "recipient struct<userId: bigint, channel: string>, "
    "notificationPartList array<struct<part: int>>, creationDate string"
)
KAFKA_SCHEMA = (
    "topic string, `partition` int, offset bigint, key string, value "
    "struct<cardApplicationId: bigint, applicationStatus: string, "
    "timestamp: bigint, customerId: bigint, leadId: bigint, payload_rev: int>"
)
DOCS_SCHEMA = "doc_id bigint, ts timestamp, text string"


@dataclass
class Day:
    """One landed day: the files written and the counts the checks use."""

    index: int
    mailgun: list[str]
    iterable: list[str]
    mongo: list[str]
    kafka: str
    docs: str
    bronze_bytes: int
    malformed_null_rows: dict[str, int]
    well_formed: dict[str, int]


def _truncate(s: str) -> str:
    """Cut a JSON record before its first value, the way an interrupted
    writer leaves a line. Spark's PERMISSIVE reader then yields a row of
    nulls for it rather than failing or dropping it."""
    return s[: s.index(":") + 1]


def _n_bad(n: int) -> int:
    return int(round(n * MALFORMED_SHARE))


def _malformed(rng: random.Random, n: int) -> set[int]:
    """Exactly ``_n_bad(n)`` malformed positions."""
    return set(rng.sample(range(n), _n_bad(n)))


def _write_lines(path: str, lines: list[str]) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    data = ("\n".join(lines) + "\n").encode()
    with open(path, "wb") as fh:
        fh.write(data)
    return len(data)


def _ms_to_ts(ms: int) -> datetime:
    return datetime(1970, 1, 1) + timedelta(milliseconds=ms)


class Model:
    """Expected silver/gold contents, folded day by day from the
    well-formed records only."""

    def __init__(self) -> None:
        self.mailgun: list[tuple] = []
        self.iterable: list[tuple] = []
        self.mongo: dict[str, tuple] = {}
        self.kafka: dict[tuple[int, str], tuple] = {}
        self.gold: dict[int, dict] = {}
        self.corpus_fps: set[str] = set()
        self.copy_pairs: set[tuple[int, int]] = set()
        self.mongo_ids: list[str] = []
        self._mongo_seen: set[str] = set()
        self.app_ids: list[int] = []
        self.good_docs: list[tuple[int, str]] = []

    # gold.refresh_applications_incremental semantics, restated
    def _fold_gold(self, batch: list[tuple]) -> None:
        by_app: dict[int, list[tuple]] = {}
        for r in batch:
            by_app.setdefault(r[0], []).append(r)
        for app, rows in by_app.items():
            latest = max(rows, key=lambda r: r[2])

            def first(status):
                ts = [r[2] for r in rows if r[1] == status]
                return min(ts) if ts else None

            new = {
                "customer_id": latest[3],
                "application_status": latest[1],
                "lead_id": latest[4],
                "application_start_date": first("STARTED"),
                "application_completion_date": first("COMPLETED"),
                "approval_date": first("APPROVED"),
            }
            old = self.gold.get(app)
            if old is not None:
                for k in ("customer_id", "application_status", "lead_id"):
                    if new[k] is None:
                        new[k] = old[k]
                for k in (
                    "application_start_date",
                    "application_completion_date",
                    "approval_date",
                ):
                    vals = [v for v in (old[k], new[k]) if v is not None]
                    new[k] = min(vals) if vals else None
            self.gold[app] = new

    def gold_rows(self) -> list[tuple]:
        return sorted(
            (
                app,
                g["customer_id"],
                g["application_status"],
                g["lead_id"],
                g["application_start_date"],
                g["application_completion_date"],
                g["approval_date"],
                g["application_completion_date"] is not None,
                g["approval_date"] is not None,
            )
            for app, g in self.gold.items()
        )

    def fresh_read(self) -> list[tuple]:
        """Expected result of the fixed post-commit read: silver Kafka
        rows joined to gold applications, per silver status: rows and
        rows whose application is approved."""
        out: dict[str, list[int]] = {}
        for (app, status) in self.kafka:
            g = self.gold.get(app)
            if g is None:
                continue
            c = out.setdefault(status, [0, 0])
            c[0] += 1
            c[1] += int(g["approval_date"] is not None)
        return sorted((s, n, a) for s, (n, a) in out.items())


def land_day(root: str, seed: int, d: int, model: Model) -> Day:
    """Write day ``d``'s bronze files under ``root`` and fold its
    well-formed records into ``model``."""
    rng = random.Random(f"{seed}/{d}")
    nbytes = 0
    nulls: dict[str, int] = {}
    day_s = DAY0_S + d * 86_400

    # -- Mailgun: double-encoded NDJSON, one file per partition ----------
    mailgun = []
    nulls["mailgun"] = 0
    for p in range(MAILGUN_PARTITIONS):
        drift = rng.random() < 0.2
        bad = _malformed(rng, MAILGUN_PER_PARTITION)
        lines = []
        for i in range(MAILGUN_PER_PARTITION):
            n = (d * MAILGUN_PARTITIONS + p) * MAILGUN_PER_PARTITION + i
            pool = RELEVANT_TAGS + OTHER_TAGS
            tags = [pool[j] for j in rng.sample(range(6), rng.randrange(0, 4))]
            ts = day_s + (p * MAILGUN_PER_PARTITION + i) * 2.0
            ev = {
                "timestamp": ts,
                "event": "delivered",
                "recipient": f"user{n}@example.com",
                "tags": tags,
                "size": 100 + n,
                "delivery-status": {
                    "code": 250,
                    "message": "OK",
                    "attempt-no": rng.randrange(1, 4),
                },
                "message": {
                    "headers": {
                        "to": f"user{n}@example.com",
                        "message-id": f"<{n}@mg>",
                        "subject": f"hello {n}",
                    },
                    "size": 1000 + n,
                },
                "storage": {} if rng.random() < 0.3 else {"url": f"s3://x/{n}"},
                "envelope": {"sender": "mg@x.com"},
                "attachments": [],
            }
            if not drift:
                ev["campaigns"] = []
                ev["flags"] = {"is-test-mode": False}
            inner = json.dumps(ev)
            if i in bad:
                # alternate the two corruptions a dump can carry: a cut
                # outer string (dropped by the reader) and a well-formed
                # outer string around a cut event (parsed to nulls)
                if i % 2:
                    lines.append(json.dumps(inner)[: rng.randrange(2, 12)])
                else:
                    lines.append(json.dumps(_truncate(inner)))
                    nulls["mailgun"] += 1
                continue
            lines.append(json.dumps(inner))
            if set(tags) & set(RELEVANT_TAGS):
                model.mailgun.append(
                    (f"<{n}@mg>", f"user{n}@example.com", datetime.fromtimestamp(ts, timezone.utc).replace(tzinfo=None))
                )
        path = os.path.join(root, "mailgun", f"partition={p}", f"day{d:03d}.json")
        nbytes += _write_lines(path, lines)
        mailgun.append(path)

    # -- Iterable NDJSON --------------------------------------------------
    iterable = []
    nulls["iterable"] = 0
    for f in range(ITERABLE_FILES):
        has_profile = rng.random() < 0.6
        bad = _malformed(rng, ITERABLE_PER_FILE)
        lines = []
        for i in range(ITERABLE_PER_FILE):
            n = (d * ITERABLE_FILES + f) * ITERABLE_PER_FILE + i
            uid = None if rng.random() < 0.05 else str(100_000 + n)
            created = datetime(2022, 1, 1, 10, 30) + timedelta(days=d, seconds=n % 80_000)
            ev = {
                "userId": uid,
                "createdAt": created.isoformat() + "+02:00",
                "eventName": rng.choice(["emailSend", "emailOpen", "emailClick"]),
                "dataFields": {
                    "email": f"u{n}@example.com",
                    "campaignId": rng.randrange(1, 10),
                    "templateId": rng.randrange(100, 106),
                },
                "labels": [],
                "messageTypeIds": [rng.randrange(1, 6)],
                "transactionalData": None,
            }
            if has_profile:
                ev["profileUpdatedAt"] = "2022-01-01T00:00:00+00:00"
            line = json.dumps(ev)
            if i in bad:
                lines.append(_truncate(line))
                nulls["iterable"] += 1
                continue
            lines.append(line)
            if uid is not None:
                model.iterable.append(
                    (int(uid), created - timedelta(hours=2), ev["eventName"], ev["dataFields"]["email"])
                )
        path = os.path.join(root, "iterable", f"partition={f}", f"day{d:03d}.json")
        nbytes += _write_lines(path, lines)
        iterable.append(path)

    # -- Mongo parquet with an embedded JSON document ----------------------
    mongo = []
    nulls["mongo"] = 0
    updated = set()
    for f in range(MONGO_FILES):
        bad = _malformed(rng, MONGO_PER_FILE)
        recs = []
        day_rows: list[tuple] = []
        for i in range(MONGO_PER_FILE):
            n = (d * MONGO_FILES + f) * MONGO_PER_FILE + i
            if model.mongo_ids and rng.random() < MONGO_UPDATE_SHARE:
                oid = rng.choice(model.mongo_ids)
                if oid in updated:
                    oid = f"oid{n}"
            else:
                oid = f"oid{n}"
            updated.add(oid)
            pool = RELEVANT_TYPES if rng.random() < 0.5 else OTHER_TYPES
            ntype = rng.choice(pool)
            ms = (day_s + i * 10 + f * 5) * 1000
            doc = json.dumps(
                {
                    "notificationData": json.dumps({"notificationType": ntype, "channel": "EMAIL"}),
                    "localDateTime": {"$date": ms},
                    "recipient": {"userId": 5000 + n, "channel": "EMAIL"},
                    "notificationPartList": [{"part": 1}],
                    "creationDate": f"2022-01-{(d % 27) + 1:02d}T08:00:00Z",
                }
            )
            if i in bad:
                doc = _truncate(doc)
                nulls["mongo"] += 1
            elif ntype in RELEVANT_TYPES:
                day_rows.append((oid, _ms_to_ts(ms), 5000 + n, ntype))
            recs.append({"_id": oid, "_doc": doc})
        for r in day_rows:
            model.mongo[r[0]] = r
        path = os.path.join(root, "mongo", f"day{d:03d}_{f}.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pd.DataFrame(recs).to_parquet(path, index=False)
        nbytes += os.path.getsize(path)
        mongo.append(path)
    fresh = sorted(updated - model._mongo_seen)
    model.mongo_ids.extend(fresh)
    model._mongo_seen.update(fresh)

    # -- Kafka dump: duplicate timelines, ties broken by offset ------------
    n_old = min(KAFKA_OLD_APPS, len(model.app_ids))
    old = [model.app_ids[j] for j in rng.sample(range(len(model.app_ids)), n_old)] if n_old else []
    new = [10_000 + d * KAFKA_NEW_APPS + j for j in range(KAFKA_NEW_APPS)]
    model.app_ids.extend(new)
    envelopes = []
    for app in old + new:
        k = rng.randrange(1, 4)
        start = rng.randrange(0, len(STATUSES) - k + 1)
        for s_i, status in enumerate(STATUSES[start : start + k]):
            ts0 = (day_s + 3600) * 1000 + (app % 1000) * 1000 + (start + s_i) * 60_000
            n_dups = rng.randrange(2, 5) if rng.random() < 0.3 else 1
            tie = rng.random() < 0.2
            for dd in range(n_dups):
                ts = ts0 if (tie and dd < 2) else ts0 + dd * 777
                lead = None if rng.random() < 0.3 else app * 2
                envelopes.append(
                    {
                        "topic": "card.applications",
                        "partition": app % 3,
                        "key": str(app),
                        "value": {
                            "cardApplicationId": app,
                            "applicationStatus": status,
                            "timestamp": ts,
                            "customerId": 7000 + (app % 20),
                            "leadId": lead,
                            "payload_rev": dd,
                        },
                    }
                )
    order = rng.sample(range(len(envelopes)), len(envelopes))
    bad = _malformed(rng, len(envelopes))
    lines = []
    latest: dict[tuple[int, str], tuple] = {}
    for pos, j in enumerate(order):
        e = envelopes[j]
        e["offset"] = d * 1_000_000 + pos
        line = json.dumps(e)
        if pos in bad:
            lines.append(_truncate(line))
            continue
        lines.append(line)
        v = e["value"]
        key = (v["cardApplicationId"], v["applicationStatus"])
        cand = (v["timestamp"], e["offset"], v)
        if key not in latest or cand[:2] > latest[key][:2]:
            latest[key] = cand
    nulls["kafka"] = len(bad)
    batch = []
    for (app, status), (ts, _, v) in latest.items():
        if status in EXCLUDED_STATUSES:
            continue
        row = (app, status, _ms_to_ts(ts), v["customerId"], v["leadId"])
        model.kafka[(app, status)] = row
        batch.append(row)
    model._fold_gold(batch)
    kafka = os.path.join(root, "kafka", f"card.applications.day{d:03d}.json")
    nbytes += _write_lines(kafka, lines)

    # -- documents NDJSON for the streaming maintainers ---------------------
    bad = _malformed(rng, DOCS_PER_DAY)
    lines = []
    for i in range(DOCS_PER_DAY):
        doc_id = d * DOCS_PER_DAY + i
        # inside the day, so no document lands behind the intake
        # stream's watermark (the previous day's latest minus an hour)
        ts = datetime(2022, 1, 1) + timedelta(days=d, seconds=i * 20)
        kind = rng.random()
        src_id = None
        if kind < 0.05 and model.good_docs:
            src_id, text = rng.choice(model.good_docs)
        elif kind < 0.15:
            text = " ".join(rng.choice(["@@@", "###", "%%", "!!"]) for _ in range(rng.randrange(2, 6)))
        else:
            n_tok = rng.randrange(40, 90)
            toks = [rng.choice(STOP) if rng.random() < 0.3 else rng.choice(WORDS) for _ in range(n_tok)]
            text = " ".join(toks)
        line = json.dumps({"doc_id": doc_id, "ts": ts.isoformat(), "text": text})
        if i in bad:
            lines.append(_truncate(line))
            continue
        lines.append(line)
        if src_id is not None:
            model.copy_pairs.add((src_id, doc_id))
        if src_id is not None or kind >= 0.15:
            model.good_docs.append((doc_id, text))
            model.corpus_fps.add(hashlib.md5(text.encode()).hexdigest())
    nulls["docs"] = len(bad)
    docs = os.path.join(root, "docs", f"docs_day{d:03d}.json")
    nbytes += _write_lines(docs, lines)

    well_formed = {
        "mailgun": MAILGUN_PARTITIONS * (MAILGUN_PER_PARTITION - _n_bad(MAILGUN_PER_PARTITION)),
        "iterable": ITERABLE_FILES * (ITERABLE_PER_FILE - _n_bad(ITERABLE_PER_FILE)),
        "mongo": MONGO_FILES * (MONGO_PER_FILE - _n_bad(MONGO_PER_FILE)),
        "kafka": len(envelopes) - _n_bad(len(envelopes)),
        "docs": DOCS_PER_DAY - _n_bad(DOCS_PER_DAY),
    }
    return Day(d, mailgun, iterable, mongo, kafka, docs, nbytes, nulls, well_formed)
