"""Single-pass table profiling: per-column stats for intake auditing.

The first question against any new 100 TB drop is "what's in it" —
null rates, cardinalities, ranges per column. This operator answers it
in ONE aggregation job (every column's stats are expressions in the
same agg, so the scan happens once; map-side partial aggregation does
the heavy lifting), then pivots the single result row into one
tidy row per column.

count_distinct per column makes the single agg EXPENSIVE-exact — each
distinct aggregate tracks its own hash set. For quick looks at very
wide tables pass ``approx=True`` (HyperLogLog, one pass, bounded
memory; ±~2% — not oracle-comparable).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lakeflow.caching import persist


def profile_table(
    df: DataFrame, columns: list[str] | None = None, approx: bool = False
) -> DataFrame:
    """Per-column profile: (column, n_rows, n_null, n_distinct,
    min_value, max_value) — min/max stringified so heterogeneous
    column types share one schema. One scan, one aggregation."""
    from lakeflow.catalog import fanout_scan

    # four exact count_distincts expand every row 5-fold before the
    # first exchange — parallelizing an under-parallel scan feeds the
    # expand from every core (guide §2.5; no-op on a real lake table)
    df = fanout_scan(df)
    cols = columns if columns is not None else df.columns
    aggs = [F.count(F.lit(1)).alias("__n")]
    nd = (
        (lambda c: F.approx_count_distinct(c))
        if approx
        else (lambda c: F.count_distinct(F.col(c)))
    )
    for c in cols:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"__null_{c}"),
            nd(c).alias(f"__nd_{c}"),
            # min/max on the NATIVE type (stringifying first would make
            # them lexicographic: '9999' > '14999'), cast afterwards
            F.min(F.col(c)).cast("string").alias(f"__min_{c}"),
            F.max(F.col(c)).cast("string").alias(f"__max_{c}"),
        ]
    row = df.agg(*aggs)
    structs = [
        F.struct(
            F.lit(c).alias("column"),
            F.col("__n").cast("long").alias("n_rows"),
            F.col(f"__null_{c}").cast("long").alias("n_null"),
            F.col(f"__nd_{c}").cast("long").alias("n_distinct"),
            F.col(f"__min_{c}").alias("min_value"),
            F.col(f"__max_{c}").alias("max_value"),
        )
        for c in cols
    ]
    return row.select(F.explode(F.array(*structs)).alias("p")).select("p.*")


def equi_depth_histogram(
    df, value_col, n_bins: int = 8, approx: bool = True, accuracy: int = 10_000
):
    """Equi-depth (quantile-bucketed) histogram: bin boundaries at the
    i/n percentiles, so every bin holds ~1/n of the rows — the
    profiling view that survives skew (a uniform-width histogram of a
    heavy-tailed score puts 99% of rows in one bar).

    Shape at 100 TB: ONE aggregate computes the n-1 interior
    boundaries (sketch percentiles by default; exact interpolated for
    oracle parity), broadcast as a 1-row relation; bin assignment is a
    narrow codegen sum of comparisons ``Σ (v > t_i)`` — monotone in v,
    no sort, no driver collect. Duplicate boundaries under extreme
    skew simply leave their bins empty. Returns (bin, n_rows, min_v,
    max_v)."""
    from pyspark.sql import functions as F

    # all n-1 boundaries in ONE percentile aggregate (both builtins
    # take an array of percentages) — n-1 separate aggregates each
    # re-sort/re-sketch the full column, measured ~4x slower at sf0.1
    pcts = F.array(*[F.lit(i / n_bins) for i in range(1, n_bins)])
    agg = (
        F.percentile_approx(value_col, pcts, accuracy)
        if approx
        else F.percentile(value_col, pcts)
    )
    thr = df.agg(agg.alias("__ts")).select(
        *[
            F.element_at("__ts", i).alias(f"__t{i}")
            for i in range(1, n_bins)
        ]
    )
    v = F.col(value_col)
    bin_expr = sum(
        (v > F.col(f"__t{i}")).cast("int") for i in range(1, n_bins)
    )
    return (
        df.crossJoin(F.broadcast(thr))
        .select(v.alias("__v"), bin_expr.alias("bin"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("__v").alias("min_v"),
            F.max("__v").alias("max_v"),
        )
    )


def mad_outlier_profile(
    df: DataFrame,
    key_cols: list[str],
    value: Column,
    k_milli: int = 3500,
    approx: bool = True,
    accuracy: int = 10_000,
) -> DataFrame:
    """Robust per-key anomaly profile via median absolute deviation:
    (keys, n, median_micros, mad_micros, n_outliers), where an outlier
    is ``|x - median| * 1000 > k_milli * MAD`` (default k=3.5, the
    standard robust z-score cut). Median/MAD resist the very outliers
    they detect — mean/stddev cuts move toward anomalies; the robust
    pair does not, which is why monitoring pipelines flag on MAD.

    Two aggregate passes (median, then median of absolute deviations)
    + one counting pass, each keyed by the low-cardinality profile key;
    per-key medians default to the ``approx_percentile`` GK sketch
    (O(accuracy·log n) state — same contract as percentile_band /
    winsorize) with ``approx=False`` switching to exact interpolated
    percentiles for oracle parity. Medians round half-up to integer
    micros so both engines agree bit-for-bit; the outlier test is an
    integer cross-multiply, no float thresholds."""
    pct = (
        (lambda c: F.percentile_approx(c, 0.5, accuracy))
        if approx
        else (lambda c: F.percentile(c, 0.5))
    )
    v = value.cast("long")
    # base feeds the median aggregate AND the deviation join; dev feeds
    # the MAD aggregate AND the outlier count — persist both so the
    # profile costs one source scan, not three
    base = persist(df.select(*key_cols, v.alias("__v")))
    med = base.groupBy(*key_cols).agg(
        F.floor(pct(F.col("__v")) + F.lit(0.5)).cast("long").alias("median_micros")
    )
    dev = persist(
        base.join(med, key_cols).withColumn(
            "__d", F.abs(F.col("__v") - F.col("median_micros"))
        )
    )
    mad = dev.groupBy(*key_cols).agg(
        F.floor(pct(F.col("__d")) + F.lit(0.5)).cast("long").alias("mad_micros")
    )
    flagged = dev.join(mad, key_cols)
    return flagged.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.first("median_micros").alias("median_micros"),
        F.first("mad_micros").alias("mad_micros"),
        F.sum(
            F.when(
                F.col("__d") * F.lit(1000) > F.lit(k_milli) * F.col("mad_micros"),
                1,
            ).otherwise(0)
        ).alias("n_outliers"),
    )


def ks_statistic(
    df: DataFrame,
    value_col,
    a_pred,
    out_col: str = "ks_micros",
) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic between the rows
    where ``a_pred`` holds and the rest, over integer ``value_col`` —
    the distribution-drift test with an actual decision theory behind
    it (critical value c(alpha)*sqrt((n_a+n_b)/(n_a*n_b))), sharper
    than the fixed-bin TVD (``q_drift_tvd``) when the drift is a shift
    or tail change that bin edges straddle. Returns one row
    (n_a, n_b, ``out_col``) with D quantized to micros.

    Exactness and scale, in one shape:
    - per-distinct-value counts for both sides come from ONE hash
      aggregate (map-side combined);
    - the two empirical CDFs are inclusive running sums over the value
      order via the distributed prefix sum
      (``prefix.bucketed_running_sum`` — never a whole-corpus window
      task; the sup of |F_a - F_b| over the real line is attained at
      observed step points, so evaluating at distinct values is the
      EXACT supremum, not an approximation);
    - the comparison is the integer cross-multiply
      |cum_a * n_b - cum_b * n_a| (no per-row division), max'd in one
      aggregate; the single final division runs in decimal(38)
      integers — bit-identical on any engine, any partitioning."""
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    per_v = (
        df.select(
            v.cast("long").alias("__ksv"),
            F.when(a_pred, 1).otherwise(0).cast("long").alias("__ksia"),
        )
        .groupBy("__ksv")
        .agg(
            F.sum("__ksia").alias("__ksca"),
            (F.count(F.lit(1)) - F.sum("__ksia")).alias("__kscb"),
        )
    )
    return ks_from_value_counts(per_v, "__ksv", "__ksca", "__kscb", out_col)


def ks_from_value_counts(
    per_v: DataFrame,
    value_col: str,
    count_a_col: str,
    count_b_col: str,
    out_col: str = "ks_micros",
) -> DataFrame:
    """The counts->KS half of :func:`ks_statistic`: given PER-DISTINCT-
    VALUE counts for both samples — fresh from a hash aggregate, or
    READ BACK from an incrementally-maintained counts table (the
    streaming/CDF drift monitor shape: per-value counts are additive
    under retraction, so ``advance_cdf_aggregate`` maintains them from
    a change feed and this derives the exact current KS at read time) —
    compute the exact two-sample KS. Same prefix-sum + integer
    cross-multiply machinery, same empty-side assert."""
    from lakeflow.operators.prefix import bucketed_running_sum

    per_v = per_v.select(
        F.col(value_col).cast("long").alias("__ksv"),
        F.col(count_a_col).cast("long").alias("__ksca"),
        F.col(count_b_col).cast("long").alias("__kscb"),
    ).withColumn("__ksg", F.lit(0))
    cum = bucketed_running_sum(per_v, "__ksg", "__ksv", [], "__ksca", out_col="__kscuma")
    cum = bucketed_running_sum(cum, "__ksg", "__ksv", [], "__kscb", out_col="__kscumb")
    totals = per_v.groupBy().agg(
        F.sum("__ksca").cast("long").alias("__ksna"),
        F.sum("__kscb").cast("long").alias("__ksnb"),
    )
    dec = "decimal(38,0)"
    cross = F.abs(
        F.col("__kscuma").cast(dec) * F.col("__ksnb").cast(dec)
        - F.col("__kscumb").cast(dec) * F.col("__ksna").cast(dec)
    )
    return (
        cum.crossJoin(F.broadcast(totals))
        .select("__ksna", "__ksnb", cross.alias("__ksd"))
        .groupBy("__ksna", "__ksnb")
        .agg(F.max("__ksd").alias("__ksmaxd"))
        .select(
            F.col("__ksna").alias("n_a"),
            F.col("__ksnb").alias("n_b"),
            # KS is undefined when either sample is empty — the `div`
            # denominator would be 0 and Spark would emit a silent NULL
            # that leaks into drift dashboards; fail the job instead
            # (mirrors kmeans' explicit ValueError on undersized input)
            F.when(
                F.assert_true(
                    (F.col("__ksna") > 0) & (F.col("__ksnb") > 0),
                    F.lit(
                        "ks_statistic: one sample is empty (n_a or n_b "
                        "== 0); the two-sample KS statistic is undefined"
                    ),
                ).isNull(),
                # integral `div` (not decimal `/`): Spark's decimal
                # divide rounds the quotient to the result scale BEFORE
                # any cast, which can differ from DuckDB's floored `//`
                # by one ULP at the boundary; `div` truncates like `//`
                # does on positives
                F.expr(
                    "CAST((CAST(__ksmaxd AS DECIMAL(38,0)) * 1000000) div "
                    "(CAST(__ksna AS DECIMAL(38,0)) * CAST(__ksnb AS DECIMAL(38,0))) "
                    "AS BIGINT)"
                ),
            ).alias(out_col),
        )
    )


def grouped_ks_statistic(
    df: DataFrame,
    group_col: str,
    value_col,
    a_pred,
    out_col: str = "ks_micros",
) -> DataFrame:
    """Per-GROUP exact two-sample KS: one row
    (``group_col``, n_a, n_b, ``out_col``) per group — the fleet form
    of :func:`ks_statistic` that answers the production question
    "WHICH sources/event-types/domains drifted", not just whether the
    corpus did. Same machinery, now actually exercising the bucketed
    prefix sum's group dimension: per-(group, value) counts in ONE
    hash aggregate, per-group CDFs from the distributed running sum
    (a hot group spreads across partial buckets, never one task),
    integer cross-multiply sup, one decimal(38) division per group.

    Empty-side contract differs from the single-group form
    DELIBERATELY: groups where either sample is empty are DROPPED
    (the statistic is undefined there) rather than failing the job —
    a fleet monitor must not die because one new source has no
    baseline rows yet, and a dropped row is visible to the caller in
    a way a job-killing assert is not. ``ks_statistic`` keeps its
    loud assert for the single-pair decision case."""
    from lakeflow.operators.prefix import bucketed_running_sum

    v = F.col(value_col) if isinstance(value_col, str) else value_col
    per_v = (
        df.select(
            F.col(group_col),
            v.cast("long").alias("__ksv"),
            F.when(a_pred, 1).otherwise(0).cast("long").alias("__ksia"),
        )
        .groupBy(group_col, "__ksv")
        .agg(
            F.sum("__ksia").alias("__ksca"),
            (F.count(F.lit(1)) - F.sum("__ksia")).alias("__kscb"),
        )
    )
    cum = bucketed_running_sum(
        per_v, group_col, "__ksv", [], "__ksca", out_col="__kscuma"
    )
    cum = bucketed_running_sum(
        cum, group_col, "__ksv", [], "__kscb", out_col="__kscumb"
    )
    totals = per_v.groupBy(group_col).agg(
        F.sum("__ksca").cast("long").alias("__ksna"),
        F.sum("__kscb").cast("long").alias("__ksnb"),
    )
    dec = "decimal(38,0)"
    cross = F.abs(
        F.col("__kscuma").cast(dec) * F.col("__ksnb").cast(dec)
        - F.col("__kscumb").cast(dec) * F.col("__ksna").cast(dec)
    )
    return (
        cum.join(totals, group_col)
        .select(group_col, "__ksna", "__ksnb", cross.alias("__ksd"))
        .groupBy(group_col, "__ksna", "__ksnb")
        .agg(F.max("__ksd").alias("__ksmaxd"))
        .filter((F.col("__ksna") > 0) & (F.col("__ksnb") > 0))
        .select(
            group_col,
            F.col("__ksna").alias("n_a"),
            F.col("__ksnb").alias("n_b"),
            F.expr(
                "CAST((CAST(__ksmaxd AS DECIMAL(38,0)) * 1000000) div "
                "(CAST(__ksna AS DECIMAL(38,0)) * CAST(__ksnb AS DECIMAL(38,0))) "
                "AS BIGINT)"
            ).alias(out_col),
        )
    )


def chi2_distance(
    df: DataFrame,
    bin_col,
    a_pred,
    out_col: str = "chi2_micros",
) -> DataFrame:
    """Exact chi-squared DISTANCE between the binned distributions of
    the rows where ``a_pred`` holds and the rest:
    ``sum over bins of (p - q)^2 / (p + q)`` with p, q the two sides'
    bin proportions — the drift divergence that up-weights changes in
    RARE bins, where TVD (``q_drift_tvd``, plain L1) barely moves and
    KS (``ks_statistic``, a CDF sup) only reacts if the rare mass is
    order-adjacent. Range [0, 2]; returns one row
    (n_a, n_b, ``out_col``) quantized to micros.

    Scale and exactness follow the KS shape: per-bin counts for both
    sides in ONE map-side-combined hash aggregate; proportions as
    integer micros (``count * 1e6 div n`` — safe in BIGINT to ~9e12
    rows per side); per-bin terms are pure bounded integer algebra
    ((p-q)^2 <= 1e12) truncation-divided by (p+q), so the bin sum is
    an order-independent integer SUM — bit-identical on any engine,
    any partitioning (per-bin truncation error <= 1 micro per bin,
    same on every engine that mirrors the integer ops). Raw Pearson
    chi^2 was rejected: its cross-multiply term (a*n_b - b*n_a)^2
    overflows decimal(38) near 1e12-row samples; the distance form
    needs nothing wider than a BIGINT.
    """
    b = F.col(bin_col) if isinstance(bin_col, str) else bin_col
    per_bin = (
        df.select(
            b.cast("long").alias("__x2b"),
            F.when(a_pred, 1).otherwise(0).cast("long").alias("__x2ia"),
        )
        .groupBy("__x2b")
        .agg(
            F.sum("__x2ia").alias("__x2ca"),
            (F.count(F.lit(1)) - F.sum("__x2ia")).alias("__x2cb"),
        )
    )
    return chi2_from_bin_counts(per_bin, "__x2b", "__x2ca", "__x2cb", out_col)


def chi2_from_bin_counts(
    per_bin: DataFrame,
    bin_col: str,
    count_a_col: str,
    count_b_col: str,
    out_col: str = "chi2_micros",
) -> DataFrame:
    """The counts->statistic half of :func:`chi2_distance`: given
    PER-BIN counts for both samples — fresh from a hash aggregate, or
    READ BACK from an incrementally-maintained counts table (per-bin
    counts are additive under retraction, so ``advance_cdf_aggregate``
    maintains them from a change feed exactly as for
    :func:`ks_from_value_counts`) — compute the exact chi-squared
    distance. Same empty-side assert as KS: the statistic is undefined
    when either sample is empty, and a silent NULL would leak into
    drift dashboards."""
    per_bin = per_bin.select(
        F.col(bin_col).cast("long").alias("__x2b"),
        F.col(count_a_col).cast("long").alias("__x2ca"),
        F.col(count_b_col).cast("long").alias("__x2cb"),
    )
    totals = per_bin.groupBy().agg(
        F.sum("__x2ca").cast("long").alias("__x2na"),
        F.sum("__x2cb").cast("long").alias("__x2nb"),
    )
    # integer micro proportions first (the TVD precedent), THEN the
    # per-bin term — both truncations mirrored verbatim by an oracle's
    # floored `//`. nullif keeps an empty side from raising a raw
    # ArithmeticException here, so the typed assert below is what fires
    p = F.expr("(__x2ca * 1000000) div nullif(__x2na, 0)")
    q = F.expr("(__x2cb * 1000000) div nullif(__x2nb, 0)")
    term = F.when(
        F.col("__x2p") + F.col("__x2q") > 0,
        F.expr("((__x2p - __x2q) * (__x2p - __x2q)) div (__x2p + __x2q)"),
    ).otherwise(F.lit(0))
    return (
        per_bin.crossJoin(F.broadcast(totals))
        .select("__x2na", "__x2nb", p.alias("__x2p"), q.alias("__x2q"))
        .select("__x2na", "__x2nb", term.alias("__x2t"))
        .groupBy("__x2na", "__x2nb")
        .agg(F.sum("__x2t").alias("__x2sum"))
        .select(
            F.col("__x2na").alias("n_a"),
            F.col("__x2nb").alias("n_b"),
            F.when(
                F.assert_true(
                    (F.col("__x2na") > 0) & (F.col("__x2nb") > 0),
                    F.lit(
                        "chi2_distance: one sample is empty (n_a or n_b "
                        "== 0); the chi-squared distance is undefined"
                    ),
                ).isNull(),
                F.col("__x2sum").cast("long"),
            ).alias(out_col),
        )
    )


def quantiles_from_value_counts(
    per_v: DataFrame,
    value_col: str,
    n_col: str,
    probs: Sequence[float],
    group_col: str | Sequence[str] | None = None,
) -> DataFrame:
    """Exact lower quantiles from PER-DISTINCT-VALUE counts: for each
    probability p, the smallest value v with cumulative count >=
    ceil(p * N) — percentile_disc semantics, derived from a counts
    relation instead of row data. Counts may come fresh from a hash
    aggregate or be READ BACK from an incrementally-maintained table
    (``streaming/cdf.read_cdf_quantiles``): per-value counts are
    additive under the retraction algebra, so the same maintained
    table that serves the KS and chi-squared drift monitors serves
    exact quantiles — three read-time statistics, one table.

    Returns one row per (group, probability): (group?, p_micros,
    value, n_total). Exactness: the ceil comparison is the integer
    cross-multiply cum * 1e6 >= p_micros * N in DECIMAL(38,0) (both
    sides can pass 2^63 at 1e12-row groups); cumulative counts come
    from the distributed bucketed prefix sum (a hot group spreads
    across partial buckets, never one task), and the per-probability
    pick is a MIN aggregate — order-independent, bit-identical on any
    engine.

    ``group_col`` may be a single column name, a SEQUENCE of names
    (the fleet-monitor form: per-(source, lang) quantiles in one
    pass), or None. Multi-column groups pack into one struct key for
    the prefix-sum/aggregate machinery and unpack at output — the
    plan shape (one hash aggregate + bucketed running sum) is
    identical to the single-column form."""
    from lakeflow.operators.prefix import bucketed_running_sum

    gcols = (
        [group_col]
        if isinstance(group_col, str)
        else list(group_col)
        if group_col is not None
        else []
    )
    multi = len(gcols) > 1
    if not gcols:
        g = "__qtg"
        gexpr = [F.lit(0).alias(g)]
    elif multi:
        g = "__qtg"
        gexpr = [F.struct(*[F.col(c) for c in gcols]).alias(g)]
    else:
        g = gcols[0]
        gexpr = [F.col(g)]
    base = per_v.select(
        *gexpr,
        F.col(value_col).cast("long").alias("__qtv"),
        F.col(n_col).cast("long").alias("__qtn"),
    )
    cum = bucketed_running_sum(base, g, "__qtv", [], "__qtn", out_col="__qtcum")
    totals = base.groupBy(g).agg(F.sum("__qtn").cast("long").alias("__qttot"))
    joined = cum.join(F.broadcast(totals), g)
    dec = "decimal(38,0)"
    aggs = []
    p_micros = [int(p * 1_000_000 + 0.5) for p in probs]
    for i, pm in enumerate(p_micros):
        hit = (
            F.col("__qtcum").cast(dec) * F.lit(1_000_000).cast(dec)
            >= F.lit(pm).cast(dec) * F.col("__qttot").cast(dec)
        )
        aggs.append(F.min(F.when(hit, F.col("__qtv"))).alias(f"__qtq{i}"))
    agged = joined.groupBy(g).agg(
        F.max("__qttot").alias("n_total"), *aggs
    )
    stack = ", ".join(
        f"CAST({pm} AS BIGINT), __qtq{i}" for i, pm in enumerate(p_micros)
    )
    out = agged.selectExpr(
        g,
        "n_total",
        f"stack({len(p_micros)}, {stack}) AS (p_micros, value)",
    ).select(
        *(
            [F.col(f"{g}.{c}").alias(c) for c in gcols]
            if multi
            else [F.col(g)]
            if gcols
            else []
        ),
        "p_micros",
        F.col("value").cast("long").alias("value"),
        "n_total",
    )
    return out


def occupancy_staleness(
    stored_bins: DataFrame,
    batch_bins: DataFrame,
    bin_col: str,
    chi2_micros_threshold: int = 100_000,
) -> DataFrame:
    """Generic FROZEN-PARTITIONING drift monitor (r10 — the
    discrete-bucket sibling of ``apss.snapshot_staleness``, completing
    VERDICT r9 task #4 across the index families): given per-item
    bucket assignments under a frozen partitioning — LSH band buckets,
    IVF/semantic-dedup Voronoi cells, zonemap bins — for the STORED
    corpus and for a live BATCH, the exact chi-squared distance
    (:func:`chi2_from_bin_counts`, integer micros) between the two
    occupancy distributions, plus the ``auto_optimize``-style rebuild
    trigger. A partitioning tuned for yesterday's distribution
    degrades silently as occupancy skews (hot LSH buckets blow up
    candidate generation; empty IVF cells waste probes), and occupancy
    is the one statistic every such index family already exposes as a
    bounded relation.

    Inputs are one row per item (``bin_col`` = the item's bucket id);
    the stored side can be the persisted assignment relation itself
    (``ivf_assign`` output, the LSH band table) — per-batch cost is
    two bounded hash aggregates + <= |buckets| rows of integer
    algebra. Deterministic; the trigger's contract mirrors
    ``auto_optimize``: the CALLER rebuilds (re-pick centroids, re-band)
    on rebuild=1. Returns ONE row:
    (n_stored, n_batch, chi2_micros, rebuild)."""
    na = stored_bins.groupBy(F.col(bin_col).alias("__ob")).agg(
        F.count(F.lit(1)).cast("long").alias("__na")
    )
    nb = batch_bins.groupBy(F.col(bin_col).alias("__ob")).agg(
        F.count(F.lit(1)).cast("long").alias("__nb")
    )
    per_bin = na.join(nb, "__ob", "full_outer").select(
        "__ob",
        F.coalesce(F.col("__na"), F.lit(0).cast("long")).alias("__na"),
        F.coalesce(F.col("__nb"), F.lit(0).cast("long")).alias("__nb"),
    )
    return chi2_from_bin_counts(per_bin, "__ob", "__na", "__nb").select(
        F.col("n_a").alias("n_stored"),
        F.col("n_b").alias("n_batch"),
        "chi2_micros",
        F.when(
            F.col("chi2_micros") > F.lit(int(chi2_micros_threshold)), F.lit(1)
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("rebuild"),
    )


def grouped_chi2_distance(
    df: DataFrame,
    group_col: str,
    bin_col,
    a_pred,
    out_col: str = "chi2_micros",
) -> DataFrame:
    """Per-GROUP exact chi-squared distance: one row (``group_col``,
    n_a, n_b, ``out_col``) per group — the fleet form of
    :func:`chi2_distance`, completing the grouped drift pair with
    :func:`grouped_ks_statistic` (KS answers WHICH groups' value
    ORDER drifted; this answers WHICH groups' rare bins moved). Same
    exactness shape: per-(group, bin) counts in ONE map-side-combined
    hash aggregate, integer micro proportions, bounded-BIGINT per-bin
    terms summed order-independently.

    Same empty-side contract as the grouped KS, deliberately unlike
    the single-pair assert: groups where either sample is empty are
    DROPPED (undefined there) rather than job-killing — a fleet
    monitor must not die because one new source has no baseline rows
    yet."""
    b = F.col(bin_col) if isinstance(bin_col, str) else bin_col
    per_bin = (
        df.select(
            F.col(group_col),
            b.cast("long").alias("__x2b"),
            F.when(a_pred, 1).otherwise(0).cast("long").alias("__x2ia"),
        )
        .groupBy(group_col, "__x2b")
        .agg(
            F.sum("__x2ia").alias("__x2ca"),
            (F.count(F.lit(1)) - F.sum("__x2ia")).alias("__x2cb"),
        )
    )
    totals = per_bin.groupBy(group_col).agg(
        F.sum("__x2ca").cast("long").alias("__x2na"),
        F.sum("__x2cb").cast("long").alias("__x2nb"),
    )
    p = F.expr("(__x2ca * 1000000) div nullif(__x2na, 0)")
    q = F.expr("(__x2cb * 1000000) div nullif(__x2nb, 0)")
    term = F.when(
        F.col("__x2p") + F.col("__x2q") > 0,
        F.expr("((__x2p - __x2q) * (__x2p - __x2q)) div (__x2p + __x2q)"),
    ).otherwise(F.lit(0))
    return (
        per_bin.join(F.broadcast(totals), group_col)
        .select(
            group_col, "__x2na", "__x2nb", p.alias("__x2p"), q.alias("__x2q")
        )
        .select(group_col, "__x2na", "__x2nb", term.alias("__x2t"))
        .groupBy(group_col, "__x2na", "__x2nb")
        .agg(F.sum("__x2t").alias("__x2sum"))
        .filter((F.col("__x2na") > 0) & (F.col("__x2nb") > 0))
        .select(
            F.col(group_col),
            F.col("__x2na").alias("n_a"),
            F.col("__x2nb").alias("n_b"),
            F.col("__x2sum").cast("long").alias(out_col),
        )
    )
