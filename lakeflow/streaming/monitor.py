"""Streaming metric monitoring: incrementally-maintained per-key OLS
trends (§2.10 + operators/trend composed).

The five OLS sufficient statistics (n, Sx, Sy, Sxy, Sxx) are ADDITIVE,
so a continuously-updated "is this metric drifting per key?" monitor
never needs aggregation state in the stream and never rescans history:
each micro-batch contributes its per-key stats delta (one hash-agg over
the batch), ``merge_additive`` folds the delta into a running totals
table (O(|keys| + |batch|) per batch), and the current slope/intercept
is derived from the totals at READ time by
``operators/trend.ols_from_stats`` — the exact same numbers a batch
``grouped_ols`` over all events ever streamed would produce (tested).

Replay follows the additive-fold rule (README, "Streaming replay"):
each batch's merge carries its batch-id token, so a replayed batch is
folded in once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from lakeflow.operators.trend import STAT_COLS, ols_from_stats, ols_sufficient_stats
from lakeflow.sinks.merge import batch_token, merge_additive
from lakeflow.streaming.pipeline import read_state, run_batches, stream_ndjson


def stream_trend_stats(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    target_path: str,
    checkpoint: str,
    key_cols: list[str] | None = None,
    ts_col: str = "ts",
    value_col: str = "value",
    epoch_date: str = "2024-01-01",
) -> StreamingQuery:
    """Maintain a per-key OLS sufficient-statistics table from an NDJSON
    event stream: x = days since ``epoch_date``, y = value in micros.
    Returns the StreamingQuery; read the current fit any time with
    :func:`read_trends`."""
    keys = key_cols or ["event_type"]

    def _batch(batch: DataFrame, batch_id: int) -> None:
        x = F.datediff(
            F.col(ts_col).cast("date"), F.lit(epoch_date).cast("date")
        )
        y = F.floor(F.col(value_col) * F.lit(1_000_000.0) + F.lit(0.5))
        delta = ols_sufficient_stats(batch, keys, x, y)
        merge_additive(
            spark,
            target_path,
            delta,
            keys,
            list(STAT_COLS),
            commit_token=batch_token(batch_id),
        )

    return run_batches(stream_ndjson(spark, path, schema), checkpoint, _batch)


def read_trends(
    spark: SparkSession, target_path: str, key_cols: list[str] | None = None
) -> DataFrame:
    """Current per-key slope/intercept from the monitor's totals table —
    identical to a batch ``grouped_ols`` over every event ever streamed.

    Reads through :func:`~lakeflow.streaming.pipeline.read_state`, so a
    reader landing in the crash-mid-swap window triggers the fenced-swap
    recovery instead of a path-not-found error; before the first batch
    commits it raises a clear not-yet-initialized error."""
    totals = read_state(spark, target_path, "trend totals")
    return ols_from_stats(totals, key_cols or ["event_type"])
