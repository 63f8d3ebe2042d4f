"""The benchmark's workloads. Each is a closed loop with one client: the
next operation starts when the previous one has returned.

``query_mix``       single-pass registry queries (plan build, Catalyst,
                    codegen, short stages); never reaches the clusters,
                    sinks or streaming layers.
``iterative_graph`` the driver-synchronous rows whose time is job count
                    and driver gaps (connected-components rounds).
``lake_ingest``     bronze days through sources -> pipelines -> sinks ->
                    gold -> streaming maintainers, plus a fixed read of
                    what was committed; never reaches ``plans`` or
                    ``operators/clusters.py``.

The work a run does is sized from ``--seconds`` (whole passes or days),
never cut by a clock, so every run of a workload does the same work and
its numbers compare like with like.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import dataclass, field

from harness import Tracer, clear_artifacts, dir_files

QUERY_MIX = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q10_returned_items",
    "q18_large_volume_orders",
    "q21_waiting_suppliers",
    "q_dedup_latest_event",
    "q_sessionize_batch",
    "q_asof_latest_order",
    "q_text_stats",
    "q_minhash_lsh_pairs",
    "q_bm25_search",
)

# q_triangle_count (25-30 s an execution on 4 cores) and the APSS rows
# stay out: either alone would set the run length.
GRAPH = (
    "q_entity_resolution",
    "q_incremental_entities",
    "q_dup_clusters",
    "q_record_linkage",
    "q_incremental_linkage",
    "q_pagerank",
    "q_mmr_select",
    "q_kcenter_select",
)

#: Seconds of measured work one pass or day stands for when sizing a
#: run from --seconds (4-core reference box).
QUERY_PASS_S = 18.0
GRAPH_PASS_S = 12.0
INGEST_DAY_S = 18.0
MIN_PASSES = 2
MIN_DAYS = 2
#: The fixed read runs this many times after each day's commits, so
#: read_p50_s is a median over several reads, not one.
FRESH_READS = 4

PREPARE_REPS = 3


@dataclass
class Op:
    name: str
    latency: float
    first: bool
    ok: bool
    read_only: bool = True


@dataclass
class Ctx:
    spark: object
    run: str
    seed: int
    seconds: int
    tracer: Tracer
    inputs: str = ""
    ops: list[Op] = field(default_factory=list)
    cycles: list[float] = field(default_factory=list)
    failures: list[str] = field(default_factory=list)
    checked: int = 0
    layer: dict[str, float] = field(default_factory=dict)
    planted_null_rows: int = 0

    def fail(self, what: str) -> None:
        self.failures.append(what)

    def add(self, key: str, value: float) -> None:
        self.layer[key] = self.layer.get(key, 0.0) + value


def _units(seconds: int, per_unit: float, minimum: int) -> int:
    return max(minimum, round(seconds / per_unit))


def _timed(ctx: Ctx, name: str, fn, first: bool, read_only: bool = True):
    """Run one operation as a traced span; record its latency and
    whether it raised."""
    t0 = time.perf_counter()
    result, ok = None, True
    try:
        with ctx.tracer.spark_span(name, op=True, first=first):
            result = fn()
    except Exception as e:  # an operation that raises is a failed attempt
        ctx.fail(f"{name}: {type(e).__name__}: {str(e)[:300]}")
        ok = False
    ctx.ops.append(Op(name, time.perf_counter() - t0, first, ok, read_only))
    return result


# ------------------------------------------------------------ query loops


def prepare_queries(ctx: Ctx) -> None:
    """Repeatable set-up: drop the content-keyed artifacts."""
    clear_artifacts(ctx.run)


def prepare_graph(ctx: Ctx) -> None:
    """As ``prepare_queries``, then rebuild the incremental-entities
    assignment state the graph pass reads (its first call builds it)."""
    from lakeflow.caching import scoped_cache
    from lakeflow.plans import QUERIES

    prepare_queries(ctx)
    with scoped_cache():
        QUERIES["q_incremental_entities"].fn(ctx.spark, ctx.inputs).toPandas()


def _query(ctx: Ctx, name: str):
    from lakeflow.caching import scoped_cache
    from lakeflow.plans import QUERIES

    tr = ctx.tracer
    with scoped_cache():
        with tr.spark_span("plans.build"):
            df = QUERIES[name].fn(ctx.spark, ctx.inputs)
        with tr.spark_span("spark.action"):
            pdf = df.toPandas()
    if tr.enabled:
        tr.add_phases(df)
    return pdf


def run_queries(ctx: Ctx, names: tuple[str, ...], per_pass_s: float) -> None:
    from lakeflow.testing import canonicalize, duckdb_oracle
    from lakeflow.plans import QUERIES

    rng = random.Random(ctx.seed)
    expected: dict[str, int] = {}
    for p in range(_units(ctx.seconds, per_pass_s, MIN_PASSES)):
        order = list(names)
        rng.shuffle(order)
        t_pass = time.perf_counter()
        results = []
        for name in order:
            results.append((name, _timed(ctx, f"query:{name}", lambda: _query(ctx, name), p == 0)))
        ctx.cycles.append(time.perf_counter() - t_pass)
        # outputs are checked after the pass, outside every timed region:
        # each query's first result against its DuckDB oracle, repeats
        # against the first result's row count
        for name, pdf in results:
            if pdf is None:
                continue
            ctx.checked += 1
            if name not in expected:
                expected[name] = len(pdf)
                if canonicalize(pdf) != canonicalize(duckdb_oracle(QUERIES[name].oracle, ctx.inputs)):
                    ctx.fail(f"query:{name}: result differs from its DuckDB oracle")
            elif len(pdf) != expected[name]:
                ctx.fail(f"query:{name} pass {p}: {len(pdf)} rows, first execution had {expected[name]}")


# ------------------------------------------------------------ lake ingest


class Lake:
    def __init__(self, run: str) -> None:
        self.root = os.path.join(run, "lake")
        self.gold_dir = os.path.join(run, "warehouse", "gold.db")
        self.bronze = os.path.join(self.root, "bronze")
        self.silver = {k: os.path.join(self.root, "silver", k) for k in ("mailgun", "iterable", "mongo", "kafka", "corpus")}
        self.index = os.path.join(self.root, "index")
        self.checkpoints = os.path.join(self.root, "checkpoints")

    def files(self) -> dict[str, tuple[int, int]]:
        """{file: (bytes, mtime_ns)} of silver, gold and the near-dup index."""
        out = {}
        for p in (os.path.join(self.root, "silver"), self.index, self.gold_dir):
            out.update(dir_files(p))
        return out


def prepare_ingest(ctx: Ctx) -> None:
    """Repeatable set-up: an empty lake and a fresh gold schema."""
    from lakeflow.pipelines.gold import create_card_funnel_schema

    lake = Lake(ctx.run)
    shutil.rmtree(lake.root, ignore_errors=True)
    os.makedirs(lake.root)
    ctx.spark.sql("DROP DATABASE IF EXISTS gold CASCADE")
    create_card_funnel_schema(ctx.spark, "gold")


FRESH_READ = """
SELECT k.applicationstatus AS status, count(*) AS n,
       CAST(sum(CAST(a.approval_flag AS INT)) AS BIGINT) AS approved
FROM silver_kafka k JOIN gold.applications a
  ON a.application_id = k.cardapplicationid
GROUP BY k.applicationstatus
"""


def _source_probe(ctx: Ctx, day) -> None:
    """Traced runs only: read each day's bronze through the public
    source readers with the pipelines' schemas and count the rows they
    yield. Rows beyond the well-formed lines came from malformed lines."""
    from lakeflow.sources.mongo_export import read_mongo_export
    from lakeflow.sources.ndjson import read_double_encoded_ndjson, read_ndjson

    import bronze as B

    readers = {
        "mailgun": lambda: read_double_encoded_ndjson(ctx.spark, day.mailgun, B.MAILGUN_SCHEMA),
        "iterable": lambda: read_ndjson(ctx.spark, day.iterable, B.ITERABLE_SCHEMA),
        "mongo": lambda: read_mongo_export(ctx.spark, day.mongo, B.MONGO_DOC_SCHEMA),
        "kafka": lambda: read_ndjson(ctx.spark, day.kafka, B.KAFKA_SCHEMA),
        "docs": lambda: read_ndjson(ctx.spark, day.docs, B.DOCS_SCHEMA),
    }
    tr = ctx.tracer
    for name, reader in readers.items():
        with tr.spark_span(f"sources.read:{name}") as s:
            n = reader().count()
        ctx.add("sources.null_rows_from_malformed", n - day.well_formed[name])
        ctx.planted_null_rows += day.malformed_null_rows[name]
        ctx.add("sources.read_s", s.end - s.start)
        ctx.add("sources.input_bytes", s.attrs.get("exec.input_bytes", 0))


def _await_stream(ctx: Ctx, q) -> None:
    q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(str(q.exception())[:300])
    if ctx.tracer.enabled:
        ctx.tracer.absorb_group(str(q.runId))
        rows = add = plan = wal = 0
        for p in q.recentProgress:
            rows += p.numInputRows
            d = p.durationMs
            add += d.get("addBatch", 0)
            plan += d.get("queryPlanning", 0)
            wal += d.get("walCommit", 0)
        ctx.add("streaming.input_rows", rows)
        ctx.add("streaming.add_batch_ms", add)
        ctx.add("streaming.query_planning_ms", plan)
        ctx.add("streaming.wal_commit_ms", wal)


def run_ingest(ctx: Ctx) -> None:
    import bronze as B
    from pyspark.sql import functions as F

    from lakeflow.pipelines import (
        import_iterable_events,
        import_mailgun_events,
        import_mongo_notifications,
        import_topic_dump,
    )
    from lakeflow.pipelines.gold import refresh_applications_incremental
    from lakeflow.sinks.txtable import append_table, merge_upsert_table, read_table
    from lakeflow.streaming.corpus_intake import stream_corpus_intake, stream_neardup_index

    spark, tr = ctx.spark, ctx.tracer
    lake = Lake(ctx.run)
    model = B.Model()
    bronze_bytes = 0
    for d in range(_units(ctx.seconds, INGEST_DAY_S, MIN_DAYS)):
        day = B.land_day(lake.bronze, ctx.seed, d, model)
        bronze_bytes += day.bronze_bytes
        if tr.enabled:
            with tr.traced_only():
                _source_probe(ctx, day)
                files_before = lake.files()
        first = d == 0

        def commit(fn):
            with tr.spark_span("sinks.commit"):
                return fn()

        def mailgun():
            df = import_mailgun_events(spark, day.mailgun, B.RELEVANT_TAGS, schema=B.MAILGUN_SCHEMA)
            commit(lambda: append_table(spark, df, lake.silver["mailgun"]))

        def iterable():
            df = import_iterable_events(spark, day.iterable, schema=B.ITERABLE_SCHEMA)
            commit(lambda: append_table(spark, df, lake.silver["iterable"]))

        def mongo():
            df = import_mongo_notifications(spark, day.mongo, doc_schema=B.MONGO_DOC_SCHEMA)
            commit(lambda: merge_upsert_table(spark, df, lake.silver["mongo"], ["_id"], "localdatetime"))

        kafka_batch = {}

        def kafka():
            _, df = import_topic_dump(spark, day.kafka, schema=B.KAFKA_SCHEMA)
            df = df.withColumn("ts", F.timestamp_millis("timestamp"))
            kafka_batch["df"] = df
            commit(lambda: merge_upsert_table(spark, df, lake.silver["kafka"], ["cardapplicationid", "applicationstatus"], "timestamp"))

        def gold():
            events = kafka_batch["df"].select("cardapplicationid", "applicationstatus", "ts", "customerid", "leadid")
            refresh_applications_incremental(spark, events, schema="gold")

        def corpus():
            _await_stream(ctx, stream_corpus_intake(spark, os.path.dirname(day.docs), B.DOCS_SCHEMA, lake.silver["corpus"], os.path.join(lake.checkpoints, "corpus")))

        def neardup():
            _await_stream(ctx, stream_neardup_index(
                spark, os.path.dirname(day.docs), B.DOCS_SCHEMA,
                os.path.join(lake.index, "bands"), os.path.join(lake.index, "pairs"),
                os.path.join(lake.checkpoints, "neardup")))

        t_day = time.perf_counter()
        for name, fn in (
            ("pipelines.mailgun", mailgun),
            ("pipelines.iterable", iterable),
            ("pipelines.mongo", mongo),
            ("pipelines.kafka", kafka),
            ("pipelines.gold_refresh", gold),
            ("streaming.corpus_intake", corpus),
            ("streaming.neardup_index", neardup),
        ):
            _timed(ctx, name, fn, first, read_only=False)
        ctx.cycles.append(time.perf_counter() - t_day)

        def fresh_read():
            read_table(spark, lake.silver["kafka"]).createOrReplaceTempView("silver_kafka")
            df = spark.sql(FRESH_READ)
            out = df.collect()
            if tr.enabled:
                tr.add_phases(df)
            return out

        reads = [_timed(ctx, "fresh_read", fresh_read, first) for _ in range(FRESH_READS)]

        if tr.enabled:
            with tr.traced_only():
                # files a day created or rewrote, so a merge that rewrites
                # a whole table counts in full, not by its net growth
                written = [v[0] for f, v in lake.files().items() if files_before.get(f) != v]
            ctx.add("sinks.bytes_written", sum(written))
            ctx.add("sinks.files_written", len(written))
        want = model.fresh_read()
        for rows in reads:
            ctx.checked += 1
            if sorted(tuple(r) for r in (rows or [])) != want:
                ctx.fail(f"fresh_read day {d}: result differs from the model")

    _check_lake(ctx, lake, model)
    ctx.layer["sinks.stored_bytes_per_input_byte"] = sum(v[0] for v in lake.files().values()) / bronze_bytes
    if tr.enabled:
        with tr.traced_only():
            ctx.layer["sinks.live_files"] = sum(
                len(read_table(spark, lake.silver[k]).inputFiles()) for k in ("mailgun", "iterable", "mongo", "kafka")
            )
        ctx.layer["sinks.rewrite_ratio"] = ctx.layer.get("sinks.bytes_written", 0.0) / bronze_bytes


def _check_lake(ctx: Ctx, lake: Lake, model) -> None:
    """After the last day, silver and gold rows that come from
    well-formed lines must equal the model's. Null-keyed rows are what
    malformed lines leave behind; the source probe counts them."""
    from lakeflow.sinks.txtable import read_table

    spark = ctx.spark

    def rows(path, cols, key):
        df = read_table(spark, path).where(f"{key} IS NOT NULL").select(*cols)
        return sorted(tuple(r) for r in df.collect())

    checks = {
        "silver.mailgun": (rows(lake.silver["mailgun"], ["headers_message_id", "recipient", "event_ts"], "headers_message_id"), sorted(model.mailgun)),
        "silver.iterable": (rows(lake.silver["iterable"], ["userid", "createdat", "eventname", "email"], "userid"), sorted(model.iterable)),
        "silver.mongo": (rows(lake.silver["mongo"], ["_id", "localdatetime", "recipient_userid", "notificationtype"], "notificationtype"), sorted(model.mongo.values())),
        "silver.kafka": (rows(lake.silver["kafka"], ["cardapplicationid", "applicationstatus", "ts", "customerid", "leadid"], "cardapplicationid"), sorted(model.kafka.values())),
    }
    gold = spark.table("gold.applications").select(
        "application_id", "customer_id", "application_status", "lead_id",
        "application_start_date", "application_completion_date", "approval_date",
        "application_complete_flag", "approval_flag",
    )
    checks["gold.applications"] = (sorted(tuple(r) for r in gold.collect()), model.gold_rows())
    fps = sorted(r.fp for r in spark.read.parquet(lake.silver["corpus"]).select("fp").collect())
    checks["silver.corpus"] = (fps, sorted(model.corpus_fps))
    # every planted exact copy must be a near-dup pair (ids ascend: a copy
    # always has a larger id than its source)
    pairs = {tuple(r) for r in spark.read.parquet(os.path.join(lake.index, "pairs")).select("doc_id_a", "doc_id_b").collect()}
    checks["index.copy_pairs"] = (sorted(model.copy_pairs - pairs), [])
    for name, (got, want) in checks.items():
        ctx.checked += 1
        if got != want:
            ctx.fail(f"{name}: {len(got)} rows differ from the model's {len(want)}")


WORKLOADS = {
    "query_mix": (prepare_queries, lambda ctx: run_queries(ctx, QUERY_MIX, QUERY_PASS_S)),
    "iterative_graph": (prepare_graph, lambda ctx: run_queries(ctx, GRAPH, GRAPH_PASS_S)),
    "lake_ingest": (prepare_ingest, run_ingest),
}
