"""Structured Streaming equivalents of the reference's batch file-replay
ingestion (SURVEY §2.10).

Reference → streaming mapping:
- hand-rolled ``last_modified >= s_date`` cursor
  (`utils/s3_utils.py:81-87`) → file-source + checkpoint offsets
  (exactly-once, restart-safe)
- "+7 days for mails arrived during process" commented intent
  (`emails_import_mailgun.py:78-79`) → ``withWatermark('ts', '7 days')``
- commented weekly batching loop (:77-89) → tumbling/sliding
  ``F.window`` / ``F.session_window`` aggregations
- per-load batch dedup re-run (D1) → ``dropDuplicatesWithinWatermark``
- drop-and-recreate tables → ``foreachBatch`` upsert (Delta ``MERGE`` in
  production; parquet read-union-latest_wins-overwrite emulation here)

Scale notes: file sources list incrementally (``maxFilesPerTrigger``
bounds batch size); stateful operators (windows, dedup) keep per-key
state in the state store — the watermark bounds state size, which is
what makes 100 TB event streams tractable.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from lakeflow.caching import scoped_cache
from lakeflow.sinks.merge import merge_upsert, read_target_if_exists


def stream_ndjson(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    max_files_per_trigger: int | None = None,
    **options: str,
) -> DataFrame:
    """File-source NDJSON stream. Streaming sources REQUIRE an explicit
    schema — there is no inference on unbounded input."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.options(**options).json(path)


def run_batches(
    stream: DataFrame,
    checkpoint: str,
    fn: Callable[[DataFrame, int], None],
) -> StreamingQuery:
    """The one foreachBatch writer every streaming maintainer uses:
    call ``fn(batch, batch_id)`` on each micro-batch of everything
    available at start, then stop (``availableNow``); ``checkpoint``
    holds the file-source offsets and the batch commit log. Each call
    runs inside its own ``scoped_cache``, so whatever the batch
    persists is released when the batch returns. Returns the started
    StreamingQuery. Spark re-runs a batch id whose ``fn``
    failed before the batch committed; what each maintainer's writes
    do on that replay is stated once in README.md, "Streaming
    replay"."""

    def _scoped(batch: DataFrame, batch_id: int) -> None:
        with scoped_cache():
            fn(batch, batch_id)

    return (
        stream.writeStream.foreachBatch(_scoped)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def read_state(spark: SparkSession, path: str, what: str) -> DataFrame:
    """Read a maintainer's state table through the merge layer's
    crash-mid-swap recovery; before the stream's first batch commits,
    raise FileNotFoundError naming ``what`` instead of returning an
    empty or missing table."""
    df = read_target_if_exists(spark, path)
    if df is None:
        raise FileNotFoundError(
            f"no {what} at {path!r} — its stream has not committed its "
            f"first batch yet"
        )
    return df


def append_staleness(stats: DataFrame, batch_id: int, path: str) -> None:
    """Append a drift-statistics row (``band_staleness``,
    ``occupancy_staleness``, ``snapshot_staleness``) to ``path``,
    tagged with the micro-batch's ``batch_id``. A replayed batch
    re-appends an identical row."""
    stats.select(
        F.lit(int(batch_id)).cast("long").alias("batch_id"), "*"
    ).write.mode("append").parquet(path)


def windowed_counts(
    stream: DataFrame,
    ts_col: str,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "7 days",
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Tumbling (or sliding, if ``slide``) event-time window counts with
    late-data handling."""
    wm = stream.withWatermark(ts_col, watermark)
    win = F.window(F.col(ts_col), window, slide) if slide else F.window(
        F.col(ts_col), window
    )
    return (
        wm.groupBy(win.alias("w"), *[F.col(c) for c in group_cols])
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            *group_cols,
            "n_events",
        )
    )


def sessionized_counts(
    stream: DataFrame,
    ts_col: str,
    key_col: str,
    gap: str = "30 minutes",
    watermark: str = "7 days",
) -> DataFrame:
    """Session windows: events within ``gap`` of each other merge."""
    wm = stream.withWatermark(ts_col, watermark)
    return (
        wm.groupBy(F.session_window(F.col(ts_col), gap).alias("s"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col(key_col),
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n_events",
        )
    )


def dedup_within_watermark(
    stream: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    watermark: str = "7 days",
) -> DataFrame:
    """Streaming D1: drop duplicate keys arriving within the watermark —
    state-bounded, unlike a global dropDuplicates."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def upsert_foreach_batch(
    stream: DataFrame,
    target_path: str,
    keys: Sequence[str],
    order_col: str,
    checkpoint: str,
) -> StreamingQuery:
    """foreachBatch latest-wins upsert into a parquet target.

    Production target is Delta/Iceberg ``MERGE``; plain parquet has no
    row-level merge, so each micro-batch delegates to
    ``sinks.merge.merge_upsert`` — union the existing target, keep the
    newest row per key, stage into a merge-private temp dir, swap in
    with directory renames (the staged swap means a mid-batch failure
    leaves the previous target intact and pins nothing on executor
    storage). Replay: an upsert fold, idempotent by its algebra, so it
    carries no token (README, "Streaming replay"). Returns the started
    StreamingQuery.
    """
    spark = stream.sparkSession

    def merge(batch: DataFrame, batch_id: int) -> None:
        merge_upsert(spark, target_path, batch, list(keys), order_col)

    return run_batches(stream, checkpoint, merge)


def windowed_drift(
    stream: DataFrame,
    ref_ppm: Sequence[int],
    ts_col: str = "ts",
    value_col: str = "value",
    bin_width: float = 10.0,
    window: str = "1 hour",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming distribution-drift monitor (the streaming twin of
    q_drift_tvd): per event-time window, bucket ``value_col`` into
    ``len(ref_ppm)`` bins and emit total variation distance against
    the reference distribution (parts-per-million ints).

    ONE stateful aggregation: the per-bin counts ride the window
    group-by as conditional sums (bins are bounded and known up
    front), and the TVD is a stateless projection over the finished
    window row — no stream-stream join, no second agg, state bounded
    by (windows in watermark) x 1 row. Reference probs are literals
    folded into the plan (update them by restarting the query — the
    monitor's reference should change deliberately, not silently)."""
    n_bins = len(ref_ppm)
    if n_bins < 2:
        raise ValueError("need >= 2 reference bins")
    b = (
        F.least(
            F.lit(n_bins - 1),
            F.greatest(F.lit(0), F.floor(F.col(value_col) / F.lit(bin_width))),
        )
    ).cast("int")
    wm = stream.withWatermark(ts_col, watermark).withColumn("__bin", b)
    agg = wm.groupBy(F.window(F.col(ts_col), window).alias("w")).agg(
        F.count(F.lit(1)).alias("n_events"),
        *[
            F.sum((F.col("__bin") == i).cast("long")).alias(f"n_{i}")
            for i in range(n_bins)
        ],
    )
    diff_total = None
    for i in range(n_bins):
        d = F.abs(
            F.expr(f"(n_{i} * 1000000L) div n_events") - F.lit(int(ref_ppm[i]))
        )
        diff_total = d if diff_total is None else diff_total + d
    return agg.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "n_events",
        F.floor(diff_total / F.lit(2)).cast("long").alias("tvd_micros"),
    )


def stream_stream_attribution(
    impressions: DataFrame,
    clicks: DataFrame,
    key_col: str,
    imp_ts: str = "imp_ts",
    click_ts: str = "click_ts",
    horizon: str = "30 minutes",
    watermark: str = "1 hour",
):
    """Watermarked STREAM-STREAM interval join — the attribution shape
    (every click joined to the impression that preceded it within
    ``horizon``, same ``key_col``). This is the one §2.10 stateful
    operator the rest of the surface deliberately avoids (windowed
    aggs, state-store dedup, foreachBatch upserts all keep state
    per-key-per-window); here BOTH sides buffer rows in the state
    store and the TIME-BOUND in the join condition is what lets Spark
    evict them: impressions older than watermark+horizon and clicks
    older than watermark can never match a future row, so state is
    bounded by (arrival rate × (watermark + horizon)), independent of
    stream lifetime. An unconstrained stream-stream join (no time
    bound) would grow state forever — Spark rejects it in append mode,
    and so does this signature by construction.

    Inner join ⇒ append-mode output with no extra aggregation; a
    late click (beyond watermark) is dropped, a late impression can
    no longer match — the standard completeness/latency trade the
    watermark encodes. Returns the joined stream (caller attaches the
    sink + checkpoint); batch twin: the same expression over static
    frames is q_interval_join's bucketed range join, which is the
    oracle-certified semantics."""
    li = impressions.withWatermark(imp_ts, watermark).alias("i")
    lc = clicks.withWatermark(click_ts, watermark).alias("c")
    cond = (
        (F.col(f"i.{key_col}") == F.col(f"c.{key_col}"))
        & (F.col(f"c.{click_ts}") >= F.col(f"i.{imp_ts}"))
        & (
            F.col(f"c.{click_ts}")
            <= F.col(f"i.{imp_ts}") + F.expr(f"INTERVAL {horizon}")
        )
    )
    return li.join(lc, cond, "inner").select(
        F.col(f"i.{key_col}").alias(key_col),
        F.col(f"i.{imp_ts}").alias(imp_ts),
        F.col(f"c.{click_ts}").alias(click_ts),
        (
            F.unix_millis(F.col(f"c.{click_ts}"))
            - F.unix_millis(F.col(f"i.{imp_ts}"))
        ).alias("lag_ms"),
    )
