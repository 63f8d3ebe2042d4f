"""Incremental change-feed consumer over manifest-committed tables
(VERDICT r6 task #8): tail ``txtable.table_changes`` version-to-version
into a persisted downstream aggregate — the change-feed analogue of
``corpus_intake.stream_bitmap_rollup``.

Shape: a source table commits versions (appends, upserts, deletes);
each :func:`advance_cdf_aggregate` call reads ONLY the change rows
between the last consumed version and the current one, folds them into
a per-group additive aggregate (row count + SUM per measure), and
commits atomically. Downstream state equals a batch recompute of the
aggregate over the CURRENT snapshot at every version (tested), while
processing |changes| rows per advance, never the snapshot.

Retraction algebra: each change row contributes up to two signed rows —
a ``-old`` retraction grouped by the row's OLD group value (ops D/U)
and a ``+new`` addition grouped by its NEW group value (ops I/U). This
is what makes group-column changes correct: a U row that moved from
group g1 to g2 subtracts from g1 and adds to g2; same-group U rows
net to (new - old). Requires the feed's ``emit_old`` pre-images.

Crash/replay safety without a separate cursor file: the consumed
version IS the merge commit token (``cdfv{N}``), swapped in atomically
with the data by ``merge_aggregate``'s fenced overwrite — so the
cursor and the fold can never disagree. A consumer that crashed after
committing simply re-derives its cursor from the token it finds; a
replayed advance whose token already sits on the target is a no-op.

At 100 TB: the change feed is one co-located full outer join of two
snapshots (see ``operators/diff.py``); the retraction union is a
narrow projection; the delta aggregate is |changes|-bounded; and the
stored aggregate is keys-bounded. Nothing here scales with table
history length.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakeflow.sinks.merge import merge_aggregate, read_target_if_exists
from lakeflow.sinks.txtable import current_version, read_table, table_changes

_TOKEN_RE = re.compile(r"^_token_cdfv(\d+)$")


def cdf_cursor(agg_path: str) -> int:
    """Last source-table version folded into ``agg_path`` — recovered
    from the merge commit tokens themselves, so the cursor is atomic
    with the data. Each fenced overwrite adds its ``cdfv{N}`` token and
    carries every earlier token forward, so the cursor is the highest
    N present. 0 = the aggregate has consumed nothing yet."""
    if not os.path.isdir(agg_path):
        return 0
    best = 0
    for f in os.listdir(agg_path):
        m = _TOKEN_RE.match(f)
        if m:
            best = max(best, int(m.group(1)))
    return best


def _recovered_cursor(spark: SparkSession, agg_path: str) -> int:
    """:func:`cdf_cursor` behind the merge layer's crash recovery: a
    consumer hard-killed between the fenced overwrite's two renames
    leaves the aggregate parked at ``<path>._merge_old`` with no base
    dir — raw ``cdf_cursor`` would read 0 there and the first-
    consumption guard would misfire on a perfectly recoverable table.
    ``read_target_if_exists`` runs ``_recover_merge_swap`` as a side
    effect; re-reading the cursor AFTER it sees the restored tokens."""
    read_target_if_exists(spark, agg_path)
    return cdf_cursor(agg_path)


def advance_cdf_aggregate(
    spark: SparkSession,
    table_path: str,
    agg_path: str,
    keys: list[str],
    group_cols: list[str],
    measure_cols: list[str],
) -> int | None:
    """Advance the downstream aggregate to the source table's current
    version. Returns the newly consumed version, or None when already
    current. Maintains, per ``group_cols`` value: ``n`` (live row
    count) and ``sum_<m>`` for each measure column — exactly
    ``read_table(...).groupBy(group).agg(count, sums)`` at every
    version, maintained from |changes| rows."""
    v_now = current_version(table_path)
    v_from = _recovered_cursor(spark, agg_path)
    if v_now <= v_from:
        return None
    if v_from == 0:
        # first consumption: the whole snapshot is one big insert.
        # Guard: if agg_path already holds data but no _token_cdfv*
        # token (a foreign writer used the path, or the token file was
        # lost), merging the snapshot on top would double-count — fail
        # instead of silently corrupting the aggregate.
        if read_target_if_exists(spark, agg_path) is not None:
            raise ValueError(
                f"CDF aggregate at {agg_path!r} holds data but no "
                "_token_cdfv* cursor token; refusing the first-"
                "consumption snapshot merge (it would double-count). "
                "Point the consumer at a fresh path or restore the token."
            )
        snap = read_table(spark, table_path, v_now)
        contrib = snap.select(
            *group_cols,
            F.lit(1).alias("__dn"),
            *[F.col(m).alias(f"__dm_{m}") for m in measure_cols],
        )
    else:
        ch = table_changes(spark, table_path, v_from, v_now, keys, emit_old=True)
        add = ch.filter(F.col("op") != "D").select(
            *group_cols,
            F.lit(1).alias("__dn"),
            *[F.col(m).alias(f"__dm_{m}") for m in measure_cols],
        )
        # retraction: the OLD group value and OLD measures, negated
        retract = ch.filter(F.col("op") != "I").select(
            *[F.col(f"__old_{g}").alias(g) for g in group_cols],
            F.lit(-1).alias("__dn"),
            *[(-F.col(f"__old_{m}")).alias(f"__dm_{m}") for m in measure_cols],
        )
        contrib = add.unionByName(retract)
    delta = contrib.groupBy(*group_cols).agg(
        F.sum("__dn").cast("long").alias("n"),
        *[F.sum(f"__dm_{m}").alias(f"sum_{m}") for m in measure_cols],
    )
    merge_aggregate(
        spark,
        agg_path,
        delta,
        group_cols,
        [
            F.sum("n").cast("long").alias("n"),
            *[F.sum(f"sum_{m}").alias(f"sum_{m}") for m in measure_cols],
        ],
        commit_token=f"cdfv{v_now}",
    )
    return v_now


def read_cdf_aggregate(spark: SparkSession, agg_path: str) -> DataFrame:
    """The maintained aggregate, with fully-retracted groups (n == 0)
    dropped — a batch ``groupBy`` over the snapshot has no row for a
    group whose members were all deleted, and neither does this."""
    df = read_target_if_exists(spark, agg_path)
    if df is None:
        raise FileNotFoundError(f"no CDF aggregate at {agg_path!r}")
    return df.filter(F.col("n") != 0)


def advance_cdf_trend(
    spark: SparkSession,
    table_path: str,
    agg_path: str,
    keys: list[str],
    group_cols: list[str],
    x_col: str,
    y_col: str,
) -> int | None:
    """Change-feed-maintained per-group OLS TREND inputs (VERDICT r7
    task #7 — the CDF consumer wired into the monitoring surface):
    maintains the five additive OLS sufficient statistics
    (``operators/trend.STAT_COLS``: n, sx, sy, sxy, sxx over integer
    ``x_col``/``y_col``) for every ``group_cols`` value, exactly equal
    to ``ols_sufficient_stats(read_table(...))`` at every version,
    from |changes| rows per advance — where ``stream_trend_stats``
    folds an APPEND-ONLY event stream, this consumes a MUTABLE
    manifest-committed table (upserts re-weigh a point, deletes
    retract it) via the same ±retraction algebra as
    :func:`advance_cdf_aggregate`. Read the current fit with
    :func:`read_cdf_trends`. Same crash/replay contract: the consumed
    version IS the merge commit token."""
    dec = "decimal(38,0)"

    def stats(xc, yc, sign):
        # multiply in decimal, never long: x*x over an epoch-millis x
        # (~1.7e12) wraps int64 silently with ANSI off
        x = F.col(xc).cast("long").cast(dec)
        y = F.col(yc).cast("long").cast(dec)
        s = F.lit(sign)
        return [
            (s * 1).alias("__dn"),
            (s.cast(dec) * x).alias("__dsx"),
            (s.cast(dec) * y).alias("__dsy"),
            (s.cast(dec) * (x * y).cast(dec)).alias("__dsxy"),
            (s.cast(dec) * (x * x).cast(dec)).alias("__dsxx"),
        ]

    v_now = current_version(table_path)
    v_from = _recovered_cursor(spark, agg_path)
    if v_now <= v_from:
        return None
    if v_from == 0:
        if read_target_if_exists(spark, agg_path) is not None:
            raise ValueError(
                f"CDF trend table at {agg_path!r} holds data but no "
                "_token_cdfv* cursor token; refusing the first-"
                "consumption snapshot merge (it would double-count)."
            )
        snap = read_table(spark, table_path, v_now)
        contrib = snap.select(*group_cols, *stats(x_col, y_col, 1))
    else:
        ch = table_changes(spark, table_path, v_from, v_now, keys, emit_old=True)
        add = ch.filter(F.col("op") != "D").select(
            *group_cols, *stats(x_col, y_col, 1)
        )
        retract = ch.filter(F.col("op") != "I").select(
            *[F.col(f"__old_{g}").alias(g) for g in group_cols],
            *stats(f"__old_{x_col}", f"__old_{y_col}", -1),
        )
        contrib = add.unionByName(retract)
    delta = contrib.groupBy(*group_cols).agg(
        F.sum("__dn").cast("long").alias("n"),
        F.sum("__dsx").cast(dec).alias("sx"),
        F.sum("__dsy").cast(dec).alias("sy"),
        F.sum("__dsxy").cast(dec).alias("sxy"),
        F.sum("__dsxx").cast(dec).alias("sxx"),
    )
    merge_aggregate(
        spark,
        agg_path,
        delta,
        group_cols,
        [
            F.sum("n").cast("long").alias("n"),
            F.sum("sx").cast(dec).alias("sx"),
            F.sum("sy").cast(dec).alias("sy"),
            F.sum("sxy").cast(dec).alias("sxy"),
            F.sum("sxx").cast(dec).alias("sxx"),
        ],
        commit_token=f"cdfv{v_now}",
    )
    return v_now


def read_cdf_trends(
    spark: SparkSession, agg_path: str, group_cols: list[str]
) -> DataFrame:
    """Current per-group OLS fit from the CDF-maintained statistics —
    identical to ``grouped_ols`` over the source table's CURRENT
    snapshot. Fully-retracted groups (n == 0) are dropped, matching
    the batch recompute (which has no row for them)."""
    from lakeflow.operators.trend import ols_from_stats

    df = read_target_if_exists(spark, agg_path)
    if df is None:
        raise FileNotFoundError(f"no CDF trend table at {agg_path!r}")
    return ols_from_stats(df.filter(F.col("n") != 0), group_cols)


def read_cdf_ks(
    spark: SparkSession,
    agg_path: str,
    side_col: str,
    value_col: str,
    a_value,
) -> DataFrame:
    """Exact two-sample KS drift from a CDF-MAINTAINED per-value counts
    table (r8 — the third monitor shape on the change-feed consumer,
    pure composition): maintain the counts with
    ``advance_cdf_aggregate(..., group_cols=[side_col, value_col],
    measure_cols=[])`` — per-(side, value) row counts are additive
    under the retraction algebra, so the maintained table equals a
    batch ``groupBy(side, value).count()`` over the snapshot at every
    version from |changes| rows — and derive the CURRENT exact KS
    between side == ``a_value`` and the rest at READ time via the same
    prefix-sum + integer-cross-multiply machinery as the batch
    ``profile.ks_statistic`` (``profile.ks_from_value_counts``). The
    read costs the counts table (value-domain-bounded), never the
    corpus."""
    from lakeflow.operators.profile import ks_from_value_counts

    counts = read_cdf_aggregate(spark, agg_path)
    # side b = everything a_pred does NOT match, INCLUDING NULL sides —
    # the same when(pred, 1).otherwise(0) semantics as the batch
    # ks_statistic (a NULL != comparison would drop NULL-side rows
    # from both samples and diverge from the snapshot recompute)
    a_n = F.when(F.col(side_col) == F.lit(a_value), F.col("n")).otherwise(0)
    per_v = counts.groupBy(value_col).agg(
        F.sum(a_n).alias("__ca"),
        (F.sum("n") - F.sum(a_n)).alias("__cb"),
    )
    return ks_from_value_counts(per_v, value_col, "__ca", "__cb")


def read_cdf_chi2(
    spark: SparkSession,
    agg_path: str,
    side_col: str,
    bin_col: str,
    a_value,
) -> DataFrame:
    """Exact chi-squared distance drift from the same CDF-maintained
    per-(side, bin) counts table as :func:`read_cdf_ks` — one
    maintained table serves BOTH read-time statistics (the sup-CDF
    test and the rare-bin-sensitive distance), each equal to its batch
    operator over the source snapshot at every version. Same NULL-side
    semantics as the batch ``profile.chi2_distance``; the read costs
    the bin-domain-bounded counts table, never the corpus."""
    from lakeflow.operators.profile import chi2_from_bin_counts

    counts = read_cdf_aggregate(spark, agg_path)
    a_n = F.when(F.col(side_col) == F.lit(a_value), F.col("n")).otherwise(0)
    per_b = counts.groupBy(bin_col).agg(
        F.sum(a_n).alias("__ca"),
        (F.sum("n") - F.sum(a_n)).alias("__cb"),
    )
    return chi2_from_bin_counts(per_b, bin_col, "__ca", "__cb")


def read_cdf_quantiles(
    spark: SparkSession,
    agg_path: str,
    value_col: str,
    probs,
    group_col: str | None = None,
) -> DataFrame:
    """Exact percentiles from a CDF-maintained per-value counts table
    (r8 continuation-2 — the FOURTH read-time statistic on the
    change-feed consumer): maintain per-(group?, value) row counts
    with ``advance_cdf_aggregate`` (additive under retraction, so the
    maintained table equals a batch count() over the snapshot at
    every version from |changes| rows) and derive the CURRENT exact
    lower quantiles at read time
    (``profile.quantiles_from_value_counts`` — percentile_disc
    semantics, distributed prefix-sum CDF, integer cross-multiply
    threshold). The same maintained table serves KS, chi-squared and
    quantiles; the read costs the value-domain-bounded counts table,
    never the corpus."""
    from lakeflow.operators.profile import quantiles_from_value_counts

    counts = read_cdf_aggregate(spark, agg_path)
    if group_col is not None:
        counts = counts.groupBy(group_col, value_col).agg(
            F.sum("n").alias("__qn")
        )
    else:
        counts = counts.groupBy(value_col).agg(F.sum("n").alias("__qn"))
    return quantiles_from_value_counts(
        counts, value_col, "__qn", probs, group_col
    )


def read_cdf_topk(
    spark: SparkSession,
    agg_path: str,
    value_col: str,
    k: int = 10,
) -> DataFrame:
    """Top-k most frequent values from a CDF-maintained per-value
    counts table (the FIFTH read-time statistic on the same consumer):
    (rnk, value, n) in (n DESC, value) order — the heavy-hitters view
    of a mutable source, current at every version from |changes|-
    bounded maintenance. TakeOrderedAndProject over the value-domain-
    bounded counts table, never a full sort, never the corpus; the
    deterministic (n DESC, value) tie-break matches the batch
    ``vocab_heavy_hitters`` convention."""
    from pyspark.sql import Window

    counts = read_cdf_aggregate(spark, agg_path)
    per_v = counts.groupBy(value_col).agg(F.sum("n").cast("long").alias("n"))
    topk = per_v.orderBy(F.desc("n"), F.asc(value_col)).limit(k)
    w = Window.orderBy(F.desc("n"), F.asc(value_col))
    return topk.withColumn("rnk", F.row_number().over(w)).select(
        F.col("rnk").cast("long"), F.col(value_col), "n"
    )
