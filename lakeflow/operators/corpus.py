"""Corpus-level text hygiene: cross-document boilerplate detection and
eval-set decontamination.

Both operators share one shape — shingle the corpus, reduce shingles to
60-bit hashes EARLY (the shuffle then carries (id, long) rows instead of
text), and join against a derived hot/benchmark set:

- ``boilerplate_profile``: shingles occurring in many DISTINCT docs are
  templates/boilerplate ("click here to unsubscribe"); per-doc share of
  such shingles is the C4/RefinedWeb-style line-dedup signal at scan
  time. The hot set is doc-frequency-filtered, so its size is bounded by
  the boilerplate vocabulary, not the corpus.
- ``contamination_profile``: n-gram overlap of each training doc against
  a benchmark/eval corpus — the standard decontamination test. The
  benchmark shingle set is small by construction (eval sets are
  thousands of docs, not billions), so the join broadcasts; the 100 TB
  corpus never shuffles for it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from lakeflow.caching import persist
from lakeflow.functions.hashing import seeded_hash
from lakeflow.operators.text import explode_shingles

MICRO = 1_000_000


def _hashed_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int, seed: str
) -> DataFrame:
    sh = explode_shingles(df, id_col, text_col, n)
    return sh.select(F.col(id_col), seeded_hash(F.col("s"), seed).alias("h"))


def boilerplate_profile(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    min_doc_freq: int = 5,
) -> DataFrame:
    """Per-doc boilerplate share: fraction of the doc's shingle
    occurrences whose shingle appears in >= ``min_doc_freq`` DISTINCT
    documents. Returns (id, n_shingles, n_hot, boilerplate_micros);
    docs with fewer than ``n`` tokens are excluded.

    Two passes over the corpus, both aggregating on the 60-bit shingle
    hash: pass 1 reduces to one row per (doc, hash) with its occurrence
    count, from which the hot set (hashes in >= min_doc_freq docs)
    falls out of a second hash-agg; pass 2 re-derives the same (doc,
    hash, count) relation, LEFT-joins the hot flag, and folds totals
    and hot counts in ONE aggregation. The corpus-sized intermediate is
    deliberately NOT persisted — recomputing the codegen'd scan beats
    materializing it (measured; see module git history) — and the hot
    relation is doc-frequency-bounded (boilerplate vocabulary), never
    corpus-sized."""
    from lakeflow.catalog import fanout_scan

    # the un-persisted two-pass design recomputes the shingle+hash scan
    # twice — fanning the scan out parallelizes both passes (guide §2.5)
    df = fanout_scan(df)
    hs = _hashed_shingles(df, id_col, text_col, n, "bp")
    per = hs.groupBy(id_col, "h").agg(F.count(F.lit(1)).alias("c"))
    hot = (
        per.groupBy("h")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") >= min_doc_freq)
        .select("h", F.lit(1).alias("__hot"))
    )
    flagged = per.join(hot, "h", "left")
    agg = flagged.groupBy(id_col).agg(
        F.sum("c").cast("long").alias("n_shingles"),
        F.sum(F.when(F.col("__hot") == 1, F.col("c")).otherwise(0))
        .cast("long")
        .alias("n_hot"),
    )
    return agg.select(
        F.col(id_col),
        "n_shingles",
        "n_hot",
        F.floor(
            F.col("n_hot") / F.col("n_shingles").cast("double")
            * F.lit(float(MICRO))
            + F.lit(0.5)
        )
        .cast("long")
        .alias("boilerplate_micros"),
    )


def contamination_profile(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
) -> DataFrame:
    """Per-doc benchmark contamination: how many of the doc's DISTINCT
    n-gram shingles also occur anywhere in ``benchmark`` (same text
    column name), plus the overlap fraction in micros. Returns
    (id, n_distinct, n_overlap, contamination_micros).

    The benchmark shingle-hash set is deduplicated and broadcast —
    eval corpora are tiny next to training corpora — so the corpus is
    consumed exactly ONCE: a broadcast LEFT join flags each distinct
    doc-shingle as benchmark-overlapping or not, and a single
    aggregation folds both the distinct count and the overlap count.
    No corpus shuffle for the join, no double scan."""
    doc_sh = _hashed_shingles(df, id_col, text_col, n, "ct").distinct()
    bench_sh = (
        _hashed_shingles(benchmark, id_col, text_col, n, "ct")
        .select("h")
        .distinct()
        .withColumn("__m", F.lit(1))
    )
    flagged = doc_sh.join(F.broadcast(bench_sh), "h", "left")
    agg = flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.sum(F.coalesce("__m", F.lit(0))).cast("long").alias("n_overlap"),
    )
    return agg.select(
        F.col(id_col),
        "n_distinct",
        "n_overlap",
        F.floor(
            F.col("n_overlap") / F.col("n_distinct").cast("double")
            * F.lit(float(MICRO))
            + F.lit(0.5)
        )
        .cast("long")
        .alias("contamination_micros"),
    )


def int_bits(expr: str):
    """Whole-bit integer surprisal primitive shared by the LM ops:
    bit_length(x) = length of x in base 2 = floor(log2 x) + 1 — conv +
    length reproduce it identically in any engine, no floating log."""
    return F.length(F.conv(F.expr(expr).cast("string"), 10, 2))


def surprisal_profile(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Unigram corpus-LM surprisal — the KenLM-style quality proxy a
    pretraining pipeline uses to rank documents by how "expected" their
    text is under the corpus' own token distribution (high mean
    surprisal = rare-token gibberish / non-language; low = templated
    boilerplate). Returns (id, n_tokens, surprisal_bits,
    mean_surprisal_milli).

    Exactness: true -log2 p needs floating log, whose ULP rounding can
    flip a floor() across engines. Instead each token scores
    bit_length(total_tokens div token_freq) = floor(log2(total/n)) + 1
    — a pure-integer surprisal in whole bits (conv to base 2 + length,
    identical in any engine), monotone in 1/p, which is all a ranking /
    band filter consumes. Sum and mean stay exact integers.

    100 TB shape: token frequencies are ONE hash-aggregate (map-side
    partial combine pre-reduces hot tokens); the per-occurrence
    frequency lookup is an equi-join on token — hot-key skew ("the")
    is exactly what AQE skew-join splitting handles — and the 1-row
    total broadcasts. No floats, no windows, no global sort."""
    from lakeflow.operators.text import tokens

    # the exploded token relation feeds the frequency aggregate AND the
    # per-occurrence score join: without a persist each branch re-scans
    # and re-explodes the corpus (6 scans in the physical plan) — at
    # 100 TB the persist turns that into one scan + cached reads
    ex = persist(
        df.select(
            F.col(id_col), F.explode(tokens(text_col)).alias("tok")
        ).filter(F.col("tok") != "")
    )
    uni = ex.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    tot = uni.agg(F.sum("n").alias("total"))
    bits = int_bits("total div n")
    sc = (
        ex.join(uni, "tok")
        .crossJoin(F.broadcast(tot))
        .select(F.col(id_col), bits.cast("long").alias("bits"))
    )
    return sc.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("bits").alias("surprisal_bits"),
        F.expr("(sum(bits) * 1000) div count(1)").alias("mean_surprisal_milli"),
    )


def percentile_band(
    df: DataFrame,
    value_col: str,
    lo: float = 0.05,
    hi: float = 0.95,
    approx: bool = True,
    accuracy: int = 10_000,
) -> DataFrame:
    """Keep rows whose ``value_col`` lies inside the global [lo, hi]
    percentile band — the outlier-trimming pass of a corpus quality
    funnel (drop the worst 5% and the suspiciously-perfect 5%).

    Scale path (``approx=True``, the default): thresholds come from
    ``approx_percentile`` (Greenwald-Khanna style sketch) whose state is
    O(accuracy·log n) per partial aggregate regardless of data size, and
    whose rank error is bounded by n/accuracy positions (contract-tested
    in tests/test_training_ops.py). ``approx=False`` computes the exact
    interpolated percentile — bit-reproducible against a single-node
    oracle, but its single aggregation state buffers every value, so it
    is for oracle parity and small relations only, never 100 TB.

    Either way the 1-row threshold relation broadcasts into the filter;
    the corpus itself is scanned, never sorted or shuffled."""
    # both thresholds from ONE percentile expression (array form): two
    # separate expressions each buffer/sketch the column independently
    pcts = F.array(F.lit(lo), F.lit(hi))
    agg = (
        F.percentile_approx(value_col, pcts, accuracy)
        if approx
        else F.percentile(value_col, pcts)
    )
    thr = df.agg(agg.alias("__b")).select(
        F.element_at("__b", 1).alias("lo"), F.element_at("__b", 2).alias("hi")
    )
    return df.crossJoin(F.broadcast(thr)).filter(
        (F.col(value_col) >= F.col("lo")) & (F.col(value_col) <= F.col("hi"))
    )


def vocab_heavy_hitters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 30,
) -> DataFrame:
    """Exact corpus-level token heavy hitters: top-k tokens by total
    occurrence count, with per-token document frequency — the
    vocabulary/stopword-discovery primitive (and the input to doc-freq
    weighting). Returns (token, n_occurrences, doc_freq, rnk).

    100 TB shape: explode + ONE hash-aggregate; token counts partial-
    combine map-side, so the hot tokens ("the", markup) that would skew
    a raw shuffle arrive pre-reduced — one row per (partition, token).
    The distinct doc count rides the same aggregate via a two-phase
    partial-distinct plan. The final top-k is `orderBy().limit(k)` —
    Spark plans TakeOrderedAndProject (a size-k heap per partition,
    merged on the driver), so the full distinct-token relation is never
    sorted or funneled through one task. `rnk` is then derived with a
    window over only the k surviving rows, which is a k-row single
    partition by construction, not a scale hazard."""
    from pyspark.sql import Window

    from lakeflow.operators.text import tokens

    ex = df.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("token")
    ).filter(F.col("token") != "")
    agg = ex.groupBy("token").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.countDistinct(id_col).alias("doc_freq"),
    )
    topk = agg.orderBy(F.desc("n_occurrences"), F.asc("token")).limit(k)
    w = Window.orderBy(F.desc("n_occurrences"), F.asc("token"))
    return topk.withColumn("rnk", F.row_number().over(w)).select(
        "token", "n_occurrences", "doc_freq", "rnk"
    )


def exact_percent_rank(
    df: DataFrame,
    value_col: str,
    out_col: str = "pr_micros",
) -> DataFrame:
    """EXACT global percentile rank of every row's ``value_col`` —
    scalably. ``percent_rank() OVER (ORDER BY v)`` funnels the whole
    relation through ONE task's sorter (and the exact ``percentile``
    aggregate buffers every value); the histogram-CDF shape bounds the
    window input by the VALUE DOMAIN's cardinality instead (see
    :func:`grouped_percent_rank`, which implements the mechanism — this
    is that operator with a single constant group). NULLS rank first
    (Spark percent_rank semantics; a DuckDB oracle must say ``ORDER BY
    v NULLS FIRST`` and join null-safely). Returns ``df`` + ``out_col``
    (micro-int percent_rank, round-half-up, SQL-oracle-exact). For a
    value domain too large to window (raw doubles), quantize to
    micro-ints first — which quality scores already are."""
    return (
        grouped_percent_rank(
            df.withColumn("__pr_g", F.lit(1)), "__pr_g", value_col, out_col
        )
        .drop("__pr_g")
    )


def bigram_surprisal_profile(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_bigram_count: int = 2,
) -> DataFrame:
    """Bigram corpus-LM surprisal with STUPID BACKOFF (Brants et al.
    2007 — the backoff large-scale LMs actually use, because it needs
    no discounting mass): position i scores against
    P(w_i | w_{i-1}) = C(prev,w)/C(prev) when the bigram is SEEN —
    meaning C >= ``min_bigram_count``; when self-scoring the training
    corpus every occurrence trivially contributes its own count, so
    with a threshold of 1 the backoff branch could never fire — else
    0.4 * C(w)/total; the first token scores unigram. The default
    threshold of 2 is the standard count-noise floor: a sequence seen
    exactly once (i.e. only in the document being scored) is treated
    as UNSEEN and backs off. A sharper
    quality proxy than :func:`surprisal_profile`: word-salad with
    common WORDS but impossible SEQUENCES ranks high here while
    fooling the unigram model. Returns (id, n_tokens, surprisal_bits,
    mean_surprisal_milli).

    Exactness: the same whole-bit integer surprisal as the unigram op —
    seen bigram: bit_length(C(prev) div C(prev,w)); backoff:
    bit_length((total*5) div (2*C(w))) (1/0.4 = 5/2 folded into the
    integer division); first token: bit_length(total div C(w)). No
    floating log anywhere.

    100 TB shape: bigrams come from ONE narrow array transform (no
    self-join on position), counts are two hash-aggregates with
    map-side combine, lookups are equi-joins on token/bigram keys (AQE
    splits the hot-token skew), the 1-row total broadcasts."""
    from lakeflow.operators.text import tokens

    pre = df.select(F.col(id_col), tokens(text_col).alias("__toks"))
    n = F.size(F.col("__toks"))
    idx = F.when(n > 0, F.sequence(F.lit(0), n - 1)).otherwise(
        F.array().cast("array<int>")
    )
    pairs = F.transform(
        idx,
        lambda i: F.struct(
            F.get(F.col("__toks"), i).alias("cur"),
            F.when(i > 0, F.get(F.col("__toks"), i - 1)).alias("prev"),
        ),
    )
    ex = (
        pre.select(F.col(id_col), F.explode(pairs).alias("p"))
        .select(
            F.col(id_col),
            F.col("p.cur").alias("cur"),
            F.when(F.col("p.prev") != "", F.col("p.prev")).alias("prev"),
        )
        .filter(F.col("cur") != "")
    )
    # three consumers (unigram counts -> total, bigram counts, the
    # scoring join) re-derive the tokenize+bigram explode without a
    # persist (r11: measured 1.49 -> 1.23 s at sf0.1; a scan fan-out was
    # neutral here and fan-out+persist was WORSE, so only the persist
    # ships)
    ex = persist(ex)
    uni = ex.groupBy("cur").agg(F.count(F.lit(1)).alias("__cn"))
    tot = uni.agg(F.sum("__cn").alias("total"))
    bi = (
        ex.filter(F.col("prev").isNotNull())
        .groupBy("prev", "cur")
        .agg(F.count(F.lit(1)).alias("__bn"))
        .filter(F.col("__bn") >= min_bigram_count)
    )
    prev_c = uni.select(
        F.col("cur").alias("prev"), F.col("__cn").alias("__pn")
    )
    joined = (
        ex.join(uni, "cur")
        .join(prev_c, "prev", "left")
        .join(bi, ["prev", "cur"], "left")
        .crossJoin(F.broadcast(tot))
    )
    bits = (
        F.when(F.col("prev").isNull(), int_bits("total div __cn"))
        .when(F.col("__bn").isNotNull(), int_bits("__pn div __bn"))
        .otherwise(int_bits("(total * 5) div (2 * __cn)"))
    )
    sc = joined.select(F.col(id_col), bits.cast("long").alias("bits"))
    return sc.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("bits").alias("surprisal_bits"),
        F.expr("(sum(bits) * 1000) div count(1)").alias("mean_surprisal_milli"),
    )


def grouped_percent_rank(
    df: DataFrame,
    group_col: str,
    value_col: str,
    out_col: str = "pr_micros",
) -> DataFrame:
    """Per-GROUP exact percentile rank — the per-domain quality
    calibration step (FineWeb-style per-dump normalization): a raw
    quality score is not comparable across domains/dumps, so each
    row's rank is computed against ITS OWN group's distribution before
    mixture sampling consumes it. Same histogram-CDF shape as
    :func:`exact_percent_rank` with every stage keyed by the group:
    counts per (group, DISTINCT value), a running sum windowed per
    group over its distinct VALUES (input bounded by value-domain
    cardinality per group, never group row count), and a null-safe
    join back; denominators are per-group row counts. NULLS rank first
    within their group (Spark percent_rank semantics)."""
    counts = df.groupBy(group_col, value_col).agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    w = (
        Window.partitionBy(group_col)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cdf = counts.select(
        F.col(group_col).alias("__cg"),
        F.col(value_col).alias("__cv"),
        F.coalesce(F.sum("__cnt").over(w), F.lit(0)).alias("__below"),
    )
    totals = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("__n")
    ).select(F.col(group_col).alias("__tg"), "__n")
    pr = F.expr(
        "(__below * 2000000 + greatest(__n - 1, 1)) div (2 * greatest(__n - 1, 1))"
    ).cast("long")
    return (
        df.join(
            cdf,
            F.col(group_col).eqNullSafe(F.col("__cg"))
            & F.col(value_col).eqNullSafe(F.col("__cv")),
        )
        .join(totals, F.col(group_col).eqNullSafe(F.col("__tg")))
        .withColumn(out_col, pr)
        .drop("__below", "__n", "__cg", "__cv", "__tg")
    )


def winsorize(
    df: DataFrame,
    value_col: str,
    lo: float = 0.05,
    hi: float = 0.95,
    approx: bool = True,
    accuracy: int = 10_000,
    out_col: str | None = None,
) -> DataFrame:
    """CLAMP values to the global [lo, hi] percentile band instead of
    dropping the rows (:func:`percentile_band`'s filtering sibling):
    winsorization keeps every document but caps pathological quality /
    length / score outliers so downstream mixing weights and per-domain
    calibration aren't dominated by the tails.

    Same scale shape as percentile_band: sketch thresholds by default
    (O(accuracy·log n) state), exact interpolated percentiles for
    oracle parity on small relations; either way ONE broadcast 1-row
    threshold relation and a narrow codegen clamp — the corpus is never
    sorted or shuffled."""
    pcts = F.array(F.lit(lo), F.lit(hi))
    agg = (
        F.percentile_approx(value_col, pcts, accuracy)
        if approx
        else F.percentile(value_col, pcts)
    )
    thr = df.agg(agg.alias("__b")).select(
        F.element_at("__b", 1).alias("__lo"),
        F.element_at("__b", 2).alias("__hi"),
    )
    out = out_col or value_col
    v = F.col(value_col)
    # greatest()/least() SKIP null arguments, which would turn a NULL
    # value into the low threshold — preserve NULL explicitly (the
    # thresholds ignored NULLs too, so fabricating values is pure noise)
    clamp = F.when(
        v.isNotNull(), F.least(F.greatest(v, F.col("__lo")), F.col("__hi"))
    )
    return (
        df.crossJoin(F.broadcast(thr))
        .withColumn(out, clamp)
        .drop("__lo", "__hi")
    )


def oov_profile(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_k: int = 100,
) -> DataFrame:
    """Out-of-vocabulary rate per document against the corpus's own
    top-``vocab_k`` token vocabulary — the tokenizer-coverage
    diagnostic run before committing to a vocab/tokenizer: documents
    with high OOV fractions are junk, wrong-language, or markup, and a
    rising corpus-level OOV trend means the vocabulary no longer fits
    the data mix.

    Shape at 100 TB: the vocabulary is a k-row relation (top-k by
    occurrence via TakeOrdered — never a global sort) that BROADCASTS
    into a semi-join count; token totals and in-vocab totals ride the
    same explode in two hash aggregates. Exact integer micro fractions.
    Returns (id, n_tokens, n_oov, oov_micros)."""
    from lakeflow.operators.text import tokens

    ex = persist(
        df.select(
            F.col(id_col), F.explode(tokens(text_col)).alias("token")
        ).filter(F.col("token") != "")
    )
    vocab = (
        ex.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(vocab_k)
        .select("token")
    )
    # one counting pass: broadcast-left-join the vocab as a membership
    # flag, then a single per-doc aggregate carries both totals (vs the
    # naive totals-agg + semi-join-agg + join-back, which scans and
    # shuffles the exploded relation twice)
    flagged = ex.join(
        F.broadcast(vocab.withColumn("__iv", F.lit(1))), "token", "left"
    )
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.coalesce(F.col("__iv"), F.lit(0))).alias("n_in"),
        )
        .select(
            id_col,
            "n_tokens",
            (F.col("n_tokens") - F.col("n_in")).alias("n_oov"),
            F.expr("((n_tokens - n_in) * 1000000) div n_tokens").alias(
                "oov_micros"
            ),
        )
    )


def tokenize_to_ids(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_k: int = 100,
    oov_id: int = 0,
) -> DataFrame:
    """Map each document to its integer token-id sequence against the
    corpus's top-``vocab_k`` vocabulary (rank = id, 1-based; OOV →
    ``oov_id``) — the final transform before sequence packing and shard
    export hand training data to a loader. Word-level here (the
    engine's tokenizer policy: library-free, cross-engine exact); a BPE
    vocab table plugs into the same join.

    Shape at 100 TB: vocab is a k-row TakeOrdered relation joined
    BROADCAST onto the posexploded tokens; per-doc sequences reassemble
    with ``array_agg sorted by position`` (map-side combine does the
    heavy lifting; one shuffle on doc id). Returns (id, token_ids).
    """
    from pyspark.sql import Window

    from lakeflow.operators.text import tokens

    ex = persist(
        df.select(
            F.col(id_col),
            F.posexplode(tokens(text_col)).alias("pos", "token"),
        ).filter(F.col("token") != "")
    )
    counts = ex.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    top = counts.orderBy(F.desc("n"), F.asc("token")).limit(vocab_k)
    # rank over the k surviving rows only (k-row window, not a hazard)
    vocab = top.withColumn(
        "tid",
        F.row_number().over(Window.orderBy(F.desc("n"), F.asc("token"))),
    ).select("token", "tid")
    joined = ex.join(F.broadcast(vocab), "token", "left")
    return (
        joined.groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("pos").alias("p"),
                        F.coalesce(F.col("tid"), F.lit(oov_id)).alias("t"),
                    )
                )
            ).alias("__s")
        )
        .select(
            id_col,
            F.transform(F.col("__s"), lambda s: s["t"]).alias("token_ids"),
        )
    )


def importance_profile(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target_pred: Column,
) -> DataFrame:
    """DSIR-style importance weights for data selection (Xie et al.,
    "Data Selection for Language Models via Importance Resampling"):
    score every document by how much more likely its tokens are under a
    TARGET distribution (the rows matching ``target_pred`` — e.g. a
    trusted domain) than under the raw corpus — the published recipe
    for skimming target-domain-like data out of a web-scale crawl
    without training a classifier. Returns (id, n_tokens, weight_bits,
    mean_weight_milli); select by thresholding or exactly-k sampling on
    the weight.

    Per-token log ratio log2(p_target/p_raw) is approximated in WHOLE
    BITS with the shared integer primitive: score(tok) =
    bit_length(T_raw div (c_raw+1)) - bit_length(T_tgt div (c_tgt+1))
    (add-one smoothing; positive = target-like, negative = raw-typical)
    — no floating log, so both engines reproduce every weight exactly.

    100 TB shape: ONE tagged token hash-aggregate produces both sides'
    counts (conditional sums — no second scan of the corpus), the
    two totals broadcast as one row, the per-occurrence score lookup is
    an equi-join on token (AQE splits hot-token skew), and the per-doc
    reduction is a map-side-combined sum. No windows, no collects."""
    from lakeflow.operators.text import tokens

    # persist the tagged explode: it feeds the count aggregate and the
    # per-occurrence score join (see surprisal_profile's scan note)
    ex = persist(
        df.select(
            F.col(id_col),
            target_pred.alias("__tgt"),
            F.explode(tokens(text_col)).alias("tok"),
        ).filter(F.col("tok") != "")
    )
    cnt = ex.groupBy("tok").agg(
        F.sum(F.when(F.col("__tgt"), 1).otherwise(0)).alias("ct"),
        F.sum(F.when(~F.col("__tgt"), 1).otherwise(0)).alias("cr"),
    )
    tot = cnt.agg(
        F.sum("ct").alias("tt"), F.sum("cr").alias("tr")
    )
    score = int_bits("tr div (cr + 1)") - int_bits("tt div (ct + 1)")
    sc = (
        ex.join(cnt, "tok")
        .crossJoin(F.broadcast(tot))
        .select(F.col(id_col), score.cast("long").alias("s"))
    )
    # mean uses FLOOR division on both engines (Spark `div` truncates
    # toward zero, DuckDB `//` floors — they disagree on NEGATIVE
    # weights, which this profile produces); sums are far below 2^53 so
    # the double floor is exact
    return sc.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("s").alias("weight_bits"),
        F.floor(
            (F.sum("s") * F.lit(1000)).cast("double")
            / F.count(F.lit(1)).cast("double")
        )
        .cast("long")
        .alias("mean_weight_milli"),
    )


def corpus_minhash_signature(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 32,
    shingle_n: int = 3,
) -> DataFrame:
    """ONE-ROW corpus-SET minhash signature (mh0..mh{k-1}): the k
    component-wise minima of seeded digest-slice hashes
    (functions.hashing.hash_slices) over every shingle occurrence in
    the corpus. min() is duplicate-insensitive, so no per-doc or
    corpus-level distinct is ever paid — the whole signature is one
    narrow tokenize+shingle projection feeding ONE map-side-combined
    global aggregate: the cheapest possible full-corpus statistic.
    Persist the row beside a corpus snapshot; comparing two snapshots'
    signatures (:func:`corpus_overlap_estimate`) is then free."""
    from lakeflow.functions.hashing import hash_slices
    from lakeflow.operators.text import shingles_from_tokens, tokens

    if k % 4 != 0:
        raise ValueError("k must be a multiple of 4 (4 slices per digest)")
    seeds = tuple(f"cs{i}" for i in range(k // 4))
    from lakeflow.catalog import fanout_scan

    # per-row shingle+md5 work dominates an under-parallel scan —
    # fan out first (guide §2.5; no-op on a well-laid-out lake table)
    pre = fanout_scan(docs).select(tokens(text_col).alias("__toks"))
    ex = pre.select(
        F.explode(shingles_from_tokens("__toks", shingle_n)).alias("s")
    )
    slices = hash_slices(F.col("s"), seeds)
    return ex.groupBy().agg(
        *[F.min(h).alias(f"mh{i}") for i, h in enumerate(slices)]
    )


def corpus_overlap_estimate(
    a: DataFrame,
    b: DataFrame,
    text_col: str = "text",
    k: int = 32,
    shingle_n: int = 3,
) -> DataFrame:
    """Corpus-level shingle-set overlap estimate between two corpora
    (snapshots, sources, train vs eval dumps): the fraction of matching
    components between the two corpus-set minhash signatures is an
    unbiased estimator of the SET Jaccard J(shingles(A), shingles(B))
    with standard error ~ sqrt(J(1-J)/k) — the one-number "how much do
    these corpora share" monitor that doc-level joins are overkill for.
    Deterministic end-to-end (seeded md5-slice hashes, exact integer
    estimate), so a SQL oracle replays it bit-for-bit. Cost: one
    narrow pass + one 1-row aggregate PER CORPUS, then a 1x1 join —
    at 100 TB this touches every shingle once and shuffles k longs.
    Returns one row (n_seeds, n_match, jaccard_est_micros)."""
    sa = corpus_minhash_signature(a, text_col, k, shingle_n)
    sb = corpus_minhash_signature(b, text_col, k, shingle_n)
    for i in range(k):
        sb = sb.withColumnRenamed(f"mh{i}", f"nb{i}")
    joined = sa.crossJoin(F.broadcast(sb))
    n_match = sum(
        F.when(F.col(f"mh{i}") == F.col(f"nb{i}"), 1).otherwise(0)
        for i in range(k)
    ).cast("long")
    return joined.select(
        F.lit(k).cast("long").alias("n_seeds"),
        n_match.alias("n_match"),
    ).select(
        "n_seeds",
        "n_match",
        F.expr(f"CAST((n_match * {MICRO}) div {k} AS BIGINT)").alias(
            "jaccard_est_micros"
        ),
    )


def grouped_minhash_signatures(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    k: int = 32,
    shingle_n: int = 3,
) -> DataFrame:
    """Per-GROUP corpus-set minhash signatures: one row
    (``group_col``, mh0..mh{k-1}) per group — the grouped form of
    :func:`corpus_minhash_signature` (same seeds, so a group's
    signature equals the one-row signature of that group filtered
    out). Still one narrow tokenize+shingle projection feeding ONE
    hash aggregate, now keyed by group: map-side combine reduces each
    input partition to <= |groups| rows before the (tiny) shuffle, so
    per-group signatures cost the same single corpus pass the global
    one does."""
    from lakeflow.functions.hashing import hash_slices
    from lakeflow.operators.text import shingles_from_tokens, tokens

    if k % 4 != 0:
        raise ValueError("k must be a multiple of 4 (4 slices per digest)")
    seeds = tuple(f"cs{i}" for i in range(k // 4))
    from lakeflow.catalog import fanout_scan

    # same fan-out rationale as corpus_minhash_signature
    pre = fanout_scan(docs).select(
        F.col(group_col), tokens(text_col).alias("__toks")
    )
    ex = pre.select(
        group_col,
        F.explode(shingles_from_tokens("__toks", shingle_n)).alias("s"),
    )
    slices = hash_slices(F.col("s"), seeds)
    return ex.groupBy(group_col).agg(
        *[F.min(h).alias(f"mh{i}") for i, h in enumerate(slices)]
    )


def source_overlap_matrix(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    k: int = 32,
    shingle_n: int = 3,
) -> DataFrame:
    """Pairwise estimated shingle-set Jaccard between every pair of
    groups (sources, domains, dumps): (src_a, src_b, n_seeds, n_match,
    jaccard_est_micros) for each unordered pair src_a < src_b — the
    domain-redundancy matrix that tells a mixture designer which
    sources are near-copies of each other BEFORE paying a doc-level
    near-dup join across them. One corpus pass for all |groups|
    signatures (:func:`grouped_minhash_signatures`), then a
    |groups|^2/2 broadcast self-join of one-row-per-group signatures —
    at 100 TB the matrix costs the same single pass the global
    estimate does, plus a driver-trivial pairwise compare.
    Deterministic and exact-integer like the 2-corpus form, so a SQL
    oracle replays it bit-for-bit."""
    sig = grouped_minhash_signatures(docs, group_col, text_col, k, shingle_n)
    return overlap_matrix_from_signatures(sig, group_col, k)


def overlap_matrix_from_signatures(
    sig: DataFrame, group_col: str, k: int
) -> DataFrame:
    """The signatures->matrix half of :func:`source_overlap_matrix`:
    given a per-group signature relation (fresh from
    :func:`grouped_minhash_signatures`, or READ BACK from a
    MIN-fold-maintained signature table — corpus-set minhash of a
    union IS the element-wise min of the parts' signatures, so
    streaming maintenance is exact), derive the pairwise matrix."""
    a = sig.select(
        F.col(group_col).alias("src_a"),
        *[F.col(f"mh{i}").alias(f"ma{i}") for i in range(k)],
    )
    b = sig.select(
        F.col(group_col).alias("src_b"),
        *[F.col(f"mh{i}").alias(f"mb{i}") for i in range(k)],
    )
    joined = a.join(F.broadcast(b), F.col("src_a") < F.col("src_b"))
    n_match = sum(
        F.when(F.col(f"ma{i}") == F.col(f"mb{i}"), 1).otherwise(0)
        for i in range(k)
    ).cast("long")
    return joined.select(
        "src_a",
        "src_b",
        F.lit(k).cast("long").alias("n_seeds"),
        n_match.alias("n_match"),
    ).select(
        "src_a",
        "src_b",
        "n_seeds",
        "n_match",
        F.expr(f"CAST((n_match * {MICRO}) div {k} AS BIGINT)").alias(
            "jaccard_est_micros"
        ),
    )


def tokenizer_fertility(
    docs: DataFrame,
    group_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-group tokenizer fertility / compression statistics (r11 —
    the fleet form of the tokenizer-coverage diagnostics
    :func:`oov_profile` and :func:`tokenize_to_ids` report per-doc):
    for each ``group_col`` value (language, source), the corpus-level
    ratios a tokenization budget planner reads — docs, whitespace
    tokens, characters, distinct-token vocabulary, and the two exact
    integer-micro ratios

    - ``chars_per_token_micros`` (fertility: how many characters one
      token "costs" — rising per-language fertility means the
      tokenizer undersegments that language),
    - ``tokens_per_doc_micros`` (mean document length in tokens — the
      sequence-packing planner's input).

    One explode feeding two map-side-combined hash aggregates (token
    totals + distinct-vocabulary count) joined to a per-group doc/char
    aggregate on the bounded group key; all ratios are integer ``div``
    micros, so any engine replays them bit-for-bit. At 100 TB the
    explode is the only corpus-sized pass and both aggregates combine
    before the (|groups|-bounded) shuffle."""
    from lakeflow.operators.text import tokens

    tok = docs.select(
        F.col(group_col), F.explode(tokens(text_col)).alias("__t")
    ).where(F.col("__t") != "")
    per_tok = tok.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.count_distinct(F.col("__t")).cast("long").alias("vocab"),
    )
    per_doc = docs.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.length(F.col(text_col))).cast("long").alias("n_chars"),
    )
    return (
        per_doc.join(per_tok, group_col)
        .select(
            group_col,
            "n_docs",
            "n_tokens",
            "n_chars",
            "vocab",
            F.expr("(n_chars * 1000000) div n_tokens")
            .cast("long")
            .alias("chars_per_token_micros"),
            F.expr("(n_tokens * 1000000) div n_docs")
            .cast("long")
            .alias("tokens_per_doc_micros"),
        )
    )
