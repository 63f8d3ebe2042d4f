"""Streaming document intake for training corpora (SURVEY §2.10 +
§2.12 composed).

The batch corpus-prep funnel (q_corpus_prep) as a continuously-running
stream: documents arrive as NDJSON files, are quality-scored and
language-tagged AT THE SCAN (pure codegen expressions — the stream's
throughput is the file source's), exact-deduped on a content
fingerprint within the watermark (state-bounded), and merged into a
silver table keyed by fingerprint so duplicates arriving ACROSS
micro-batches also collapse.

Scale notes: the only stateful operator is the within-watermark dedup,
whose state is bounded by (arrival rate × watermark); the cross-batch
dedup is delegated to the keyed upsert (Delta MERGE in production, the
parquet latest-wins emulation here), so no unbounded dedup state ever
accumulates in the stream itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from lakeflow.caching import persist
from lakeflow.operators.text import (
    lang_pred,
    lang_scores,
    quality_score,
    token_count,
    tokens,
)
from lakeflow.sinks.merge import (
    batch_token,
    merge_additive,
    merge_aggregate,
    merge_max,
    merge_min,
    merge_upsert,
    read_target_if_exists,
)
from lakeflow.streaming.pipeline import (
    append_staleness,
    dedup_within_watermark,
    read_state,
    run_batches,
    stream_ndjson,
    upsert_foreach_batch,
)


def stream_corpus_intake(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    target_path: str,
    checkpoint: str,
    min_quality_micros: int = 500_000,
    watermark: str = "1 hour",
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ts",
) -> StreamingQuery:
    """Start the intake stream; returns the StreamingQuery.

    Stages: scan-time scoring → quality threshold → within-watermark
    exact dedup on the content fingerprint → keyed upsert (fingerprint
    is the merge key, so a re-arriving duplicate replaces rather than
    duplicates)."""
    stream = stream_ndjson(spark, path, schema)
    scores = lang_scores(text_col)
    scored = stream.select(
        F.col(id_col),
        F.col(ts_col),
        F.col(text_col),
        F.md5(text_col).alias("fp"),
        token_count(text_col).cast("long").alias("n_tokens"),
        F.floor(quality_score(text_col) * F.lit(1000000.0) + F.lit(0.5))
        .cast("long")
        .alias("quality_micros"),
        lang_pred(scores).alias("pred_lang"),
    )
    kept = scored.filter(F.col("quality_micros") >= min_quality_micros)
    deduped = dedup_within_watermark(kept, ["fp"], ts_col, watermark)
    return upsert_foreach_batch(
        deduped, target_path, ["fp"], ts_col, checkpoint
    )


def stream_neardup_index(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    index_path: str,
    pairs_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    band_size: int = 2,
    staleness_path: str | None = None,
) -> StreamingQuery:
    """Continuous near-duplicate index maintenance (§2.10 + §2.12
    composed): as documents stream in, each micro-batch computes banded
    MinHash signatures for the NEW documents only, emits candidate
    pairs against the PERSISTED index (new×stored + new×new — old×old
    is never regenerated, the property that keeps continuous dedup
    affordable: a batch's cost is |batch| × bucket density, not
    |corpus|²), appends the confirmed candidates to ``pairs_path`` and
    the new bands to ``index_path``. Returns the StreamingQuery.

    Ordering inside the batch matters: candidate pairs are written
    BEFORE the batch's bands join the index, so the stored side the
    pairs were computed against never includes the batch itself.

    Replay: an appending maintainer (README, "Streaming replay"). A
    replayed batch whose ids already reached the index produces no
    self-pairs (``incremental_candidate_pairs`` drops same-id matches),
    and bands are duplicate-insensitive for candidate generation.

    ``staleness_path`` (r11, optional — VERDICT r10 task #4): when
    set, each batch's frozen-BANDING drift row
    (``similarity.band_staleness`` — exact chi² between the stored
    and batch distributions over stored-bucket-size magnitudes, + the
    rebuild trigger) appends there tagged ``batch_id``, measured
    BEFORE the batch's bands join the index. Skipped while the stored
    index is absent or either side is empty (first batch). The
    caller re-bands (recompute the index over the current corpus)
    when the flag fires."""
    from lakeflow.operators.similarity import (
        band_staleness,
        banded_signatures,
        incremental_candidate_pairs,
    )

    def _batch(batch, batch_id: int) -> None:
        # two consumers: pairs plan + index append
        bands = persist(banded_signatures(batch, id_col, text_col, k, band_size))
        stored = read_target_if_exists(spark, index_path)
        if stored is None:
            stored = bands.limit(0)  # first batch: new x new only
        elif (
            staleness_path is not None
            and not stored.isEmpty()
            and not bands.isEmpty()
        ):
            append_staleness(
                band_staleness(stored, bands, id_col), batch_id, staleness_path
            )
        pairs = incremental_candidate_pairs(bands, stored, id_col)
        pairs.write.mode("append").parquet(pairs_path)
        bands.write.mode("append").parquet(index_path)

    return run_batches(stream_ndjson(spark, path, schema), checkpoint, _batch)


def stream_corpus_counters(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    target_path: str,
    checkpoint: str,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> StreamingQuery:
    """Continuous AGGREGATE maintenance (§2.10 + merge_additive
    composed): as documents stream in, fold each micro-batch's
    per-``group_col`` (n_docs, n_tokens) delta into a running totals
    table — the pattern that keeps corpus-level counters current
    without ever re-scanning history. Per-batch work is
    O(|batch| + |distinct groups|); the totals table is one row per
    group. Returns the StreamingQuery.

    Replay: an additive fold under the batch-id token (README,
    "Streaming replay")."""

    def _batch(batch, batch_id: int) -> None:
        delta = batch.groupBy(group_col).agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(token_count(text_col).cast("long")).alias("n_tokens"),
        )
        merge_additive(
            spark, target_path, delta, [group_col], ["n_docs", "n_tokens"],
            commit_token=batch_token(batch_id),
        )

    return run_batches(stream_ndjson(spark, path, schema), checkpoint, _batch)


def stream_vocab_counters(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    target_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> StreamingQuery:
    """Continuous VOCABULARY maintenance: per-token
    (n_occurrences, doc_freq) totals folded from each micro-batch's
    delta — the always-current input to heavy-hitter/stopword
    discovery and doc-freq weighting, without ever re-tokenizing
    history. Per-batch work is O(|batch tokens| + |batch vocab|), and
    the top-k itself is derived at READ time
    (:func:`read_heavy_hitters`), so the stream holds no rank state
    (ranks are not additive; counts are).

    Both counters are additive under the ingest contract the other
    counter maintainers share (``stream_corpus_counters``'s n_docs has
    the same property): each document arrives in exactly ONE batch —
    an append-only intake. A re-ingested doc_id would re-count; route
    mutable corpora through the change-feed consumer instead
    (``streaming/cdf.advance_cdf_aggregate`` maintains per-key counts
    under retractions). Replay: an additive fold under the batch-id
    token (README, "Streaming replay").

    100 TB: the totals table is vocab-sized, not corpus-sized; deltas
    arrive pre-reduced by the batch's map-side combine. (The merge
    rewrite is O(|vocab|) per batch — acceptable because vocab grows
    ~log(corpus); for sub-second triggers, widen the trigger or
    bucket-partition the totals by token hash.)"""

    def _batch(batch, batch_id: int) -> None:
        ex = batch.select(
            F.col(id_col), F.explode(tokens(text_col)).alias("token")
        ).filter(F.col("token") != "")
        delta = ex.groupBy("token").agg(
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.countDistinct(id_col).cast("long").alias("doc_freq"),
        )
        merge_additive(
            spark,
            target_path,
            delta,
            ["token"],
            ["n_occurrences", "doc_freq"],
            commit_token=batch_token(batch_id),
        )

    return run_batches(stream_ndjson(spark, path, schema), checkpoint, _batch)


def stream_grouped_minhash(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    target_path: str,
    checkpoint: str,
    group_col: str = "source",
    text_col: str = "text",
    k: int = 32,
) -> StreamingQuery:
    """Continuous per-group corpus-set minhash maintenance: each
    micro-batch's grouped signatures (one narrow pass per batch,
    ``operators/corpus.grouped_minhash_signatures``) MIN-fold into a
    running signature table — exact, because the corpus-set minhash of
    a union IS the element-wise min of the parts' signatures. The
    maintained table therefore equals the batch signatures over
    everything ever streamed at every instant, and
    :func:`read_source_overlap` derives the current source-redundancy
    matrix from it at read time (|groups| rows in, |groups|^2/2 out —
    never re-shingling history).

    Replay: a min fold, idempotent by its algebra (min(a, a) == a), so
    it carries no token (README, "Streaming replay")."""
    from lakeflow.operators.corpus import grouped_minhash_signatures

    mh_cols = [f"mh{i}" for i in range(k)]

    def _batch(batch, batch_id: int) -> None:
        delta = grouped_minhash_signatures(batch, group_col, text_col, k)
        merge_min(spark, target_path, delta, [group_col], mh_cols)

    return run_batches(stream_ndjson(spark, path, schema), checkpoint, _batch)


def read_source_overlap(
    spark: SparkSession, target_path: str, group_col: str = "source", k: int = 32
) -> DataFrame:
    """Current pairwise source-overlap matrix from the MIN-fold-
    maintained signature table — identical to batch
    ``source_overlap_matrix`` over every document ever streamed."""
    from lakeflow.operators.corpus import overlap_matrix_from_signatures

    sig = read_state(spark, target_path, "grouped-minhash signature table")
    return overlap_matrix_from_signatures(sig, group_col, k)


def stream_int8_scales(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    target_path: str,
    checkpoint: str,
    vec_col: str = "embedding",
) -> StreamingQuery:
    """Continuous int8 quantization-scale maintenance: each
    micro-batch's per-dimension max-abs scales
    (``operators/quant.int8_scales``) MAX-fold into a running scale
    table — exact, because a max over a union is the max of the
    parts' maxes. The maintained table equals batch ``int8_scales``
    over every vector ever streamed, so a serving encoder always
    quantizes under corpus-true scales without re-scanning history;
    scales are MONOTONE under append-only ingest (they only grow), so
    previously-written codes stay decodable and re-encoding is a
    downstream policy choice, not a correctness event. Replay: a max
    fold, idempotent by its algebra, so it carries no token (README,
    "Streaming replay")."""
    from lakeflow.operators.quant import int8_scales

    def _batch(batch, batch_id: int) -> None:
        delta = int8_scales(batch, vec_col)
        merge_max(spark, target_path, delta, ["dim"], ["scale_micros"])

    return run_batches(stream_ndjson(spark, path, schema), checkpoint, _batch)


def stream_hll(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    target_path: str,
    checkpoint: str,
    value_col: str,
    group_cols: tuple[str, ...] = (),
    seed: str = "hll",
) -> StreamingQuery:
    """Continuous distinct-count maintenance: each micro-batch's
    HyperLogLog registers (``operators/sketches.hll_registers``)
    MAX-fold into a running register table — exact, because the HLL
    register of a union IS the element-wise max of the parts'
    registers. The maintained table equals the batch sketch over
    everything ever streamed, so :func:`read_hll_estimate` answers
    "how many distinct users/documents/urls so far, per group" at any
    instant from |groups| * 256 rows, never a history re-scan, and
    never a distinct. Replay: a max fold, idempotent by its algebra,
    so it carries no token (README, "Streaming replay")."""
    from lakeflow.operators.sketches import hll_registers

    def _batch(batch, batch_id: int) -> None:
        delta = hll_registers(batch, value_col, group_cols, seed)
        merge_max(
            spark, target_path, delta, [*group_cols, "bucket"], ["rho"]
        )

    return run_batches(stream_ndjson(spark, path, schema), checkpoint, _batch)


def read_hll_estimate(
    spark: SparkSession,
    target_path: str,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Current per-group distinct-count estimates from the maintained
    register table — identical to the batch ``hll_distinct`` over
    everything ever streamed (same raw estimate, same exact integer
    algebra). Raises a clear not-yet-initialized error before the
    first batch commits."""
    from lakeflow.operators.sketches import hll_estimate

    regs = read_state(spark, target_path, "HLL register table")
    return hll_estimate(regs, group_cols)


def stream_cms(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    target_path: str,
    checkpoint: str,
    value_col: str,
    group_cols: tuple[str, ...] = (),
    seed: str = "cms",
) -> StreamingQuery:
    """Continuous frequency-sketch maintenance: each micro-batch's
    count-min cells (``operators/sketches.cms_sketch``) SUM-fold into
    a running D*W cell table via ``merge_additive`` under the
    batch-id commit token (an additive fold; README, "Streaming
    replay"). The maintained sketch equals the
    batch sketch over everything ever streamed, so
    ``sketches.cms_lookup`` against :func:`read_cms` answers "how
    often has THIS value occurred so far" at any instant from bounded
    state — the frequency twin of :func:`stream_hll`."""
    from lakeflow.operators.sketches import cms_sketch

    def _batch(batch, batch_id: int) -> None:
        delta = cms_sketch(batch, value_col, group_cols, seed)
        merge_additive(
            spark, target_path, delta,
            [*group_cols, "seed_row", "bucket"], ["n"],
            commit_token=batch_token(batch_id),
        )

    return run_batches(stream_ndjson(spark, path, schema), checkpoint, _batch)


def read_cms(spark: SparkSession, target_path: str) -> DataFrame:
    """The maintained count-min cell table, ready for
    ``sketches.cms_lookup``. Raises a clear not-yet-initialized error
    before the first batch commits."""
    return read_state(spark, target_path, "count-min sketch table")


def stream_loghist(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    target_path: str,
    checkpoint: str,
    value_col: str,
    group_cols: tuple[str, ...] = (),
    sub_bins: int | None = None,
) -> StreamingQuery:
    """Continuous quantile-sketch maintenance (r9): each micro-batch's
    log-histogram counts (``operators/sketches.loghist_counts`` — a
    key-space-bounded additive relation) SUM-fold into a running
    table via ``merge_additive`` under the batch-id commit token (an
    additive fold; README, "Streaming replay").
    The maintained table equals the batch sketch over everything ever
    streamed, so :func:`read_loghist_quantiles` answers "what is p50/
    p99 of everything so far" at any instant from bounded state with
    relative error <= 1/sub_bins — the quantile sibling of
    :func:`stream_hll` (cardinality) and :func:`stream_cms`
    (frequency), for value domains too large for the exact CDF
    counts table."""
    from lakeflow.operators.sketches import LOGHIST_SUB_BINS, loghist_counts

    sb = sub_bins or LOGHIST_SUB_BINS

    def _batch(batch, batch_id: int) -> None:
        delta = loghist_counts(batch, value_col, group_cols, sb)
        merge_additive(
            spark, target_path, delta,
            [*group_cols, "key"], ["n"],
            commit_token=batch_token(batch_id),
        )

    return run_batches(stream_ndjson(spark, path, schema), checkpoint, _batch)


def read_loghist_quantiles(
    spark: SparkSession,
    target_path: str,
    probs,
    group_col: "str | tuple[str, ...] | None" = None,
    sub_bins: int | None = None,
) -> DataFrame:
    """Approximate quantiles of everything streamed so far, from the
    maintained log-histogram counts table (key-space-bounded read;
    exact percentile_disc selection over the monotone keys, then
    decode — relative error <= 1/sub_bins vs the exact answer).
    ``group_col`` accepts the fleet-monitor multi-column form (r10):
    pass the same tuple the stream was maintained with."""
    from lakeflow.operators.sketches import LOGHIST_SUB_BINS, loghist_quantiles

    counts = read_state(spark, target_path, "log-histogram counts table")
    return loghist_quantiles(counts, probs, group_col, sub_bins or LOGHIST_SUB_BINS)


def stream_gram_stats(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    target_path: str,
    checkpoint: str,
    vec_col: str = "embedding",
) -> StreamingQuery:
    """Continuously MAINTAINED PCA: each micro-batch's exact gram
    statistics (``operators/pca.gram_triples`` — flat additive
    (i, j, s, sx, n) rows) SUM-fold into a running table via
    ``merge_additive`` under the batch-id commit token (an additive
    fold; README, "Streaming replay"). The maintained table equals the
    batch ``gram_sums`` over every vector ever streamed, so
    :func:`read_pca_model` refits the CURRENT model from
    dim*(dim+1)/2 rows at any instant — incremental PCA with zero
    history re-scan and a driver-bounded eigh."""
    from lakeflow.operators.pca import gram_triples

    def _batch(batch, batch_id: int) -> None:
        delta = gram_triples(batch, vec_col)
        merge_additive(
            spark, target_path, delta, ["i", "j"], ["s", "sx", "n"],
            commit_token=batch_token(batch_id),
        )

    return run_batches(stream_ndjson(spark, path, schema), checkpoint, _batch)


def read_pca_model(spark: SparkSession, target_path: str, k: int):
    """Refit the PCA model from the maintained gram-statistics table —
    identical to batch ``pca_fit`` over everything ever streamed (same
    exact sums, same driver eigh). Raises a clear not-yet-initialized
    error before the first batch commits."""
    from lakeflow.operators.pca import pca_fit_from_triples

    stats = read_state(spark, target_path, "gram statistics table")
    return pca_fit_from_triples(stats.collect(), k)


def read_int8_scales(spark: SparkSession, target_path: str) -> DataFrame:
    """Current per-dimension quantization scales from the maintained
    table — identical to batch ``int8_scales`` over every vector ever
    streamed; feed directly to ``quant.int8_encode`` /
    ``int8_dequant``."""
    return read_state(spark, target_path, "int8 scale table")


def read_heavy_hitters(
    spark: SparkSession, target_path: str, k: int = 30
) -> DataFrame:
    """Current top-k heavy hitters from the maintained vocab totals —
    identical to batch ``vocab_heavy_hitters`` over every document
    ever streamed (same (count DESC, token) order, same k-row rank
    window; TakeOrderedAndProject over the vocab-sized table, never a
    full sort). Reads through the fenced-swap recovery path; raises a
    clear not-yet-initialized error before the first batch commits."""
    from pyspark.sql import Window

    totals = read_state(spark, target_path, "vocab totals")
    topk = totals.orderBy(F.desc("n_occurrences"), F.asc("token")).limit(k)
    w = Window.orderBy(F.desc("n_occurrences"), F.asc("token"))
    return topk.withColumn("rnk", F.row_number().over(w)).select(
        "token", "n_occurrences", "doc_freq", "rnk"
    )


def stream_bitmap_rollup(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    partials_path: str,
    checkpoint: str,
    key_cols: list[str] | None = None,
    ts_col: str = "ts",
    distinct_col: str = "user_id",
) -> StreamingQuery:
    """Continuous EXACT-distinct rollup maintenance (§2.10 +
    operators/rollups composed): each micro-batch's per-(key, hour,
    bitmap-bucket) partials — additive row count + an exact user-id
    bitmap — are folded into the stored partial table with
    ``merge_aggregate`` (counts SUM, bitmaps OR). Any grain query then
    reads the partials (``merge_bitmap_to_grain``) and gets the same
    answer as COUNT(DISTINCT) over all events ever streamed, without
    state in the stream itself: the stream holds NO aggregation state
    (the partial table IS the state, bounded by keys x hours x
    buckets), so restarts are trivial and late data just merges into
    its hour.

    Replay: bitmap OR is idempotent but the paired row COUNT is not, so
    this is an additive fold under the batch-id token (README,
    "Streaming replay")."""
    from lakeflow.operators.rollups import hourly_bitmap_partials

    keys = key_cols or ["event_type"]

    def _batch(batch, batch_id: int) -> None:
        delta = hourly_bitmap_partials(batch, ts_col, keys, distinct_col)
        merge_aggregate(
            spark,
            partials_path,
            delta,
            [*keys, "hour_start", "bucket"],
            [
                F.sum("n").alias("n"),
                F.bitmap_or_agg("bm").alias("bm"),
            ],
            commit_token=batch_token(batch_id),
        )

    return run_batches(stream_ndjson(spark, path, schema), checkpoint, _batch)


def stream_entity_index(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    records_path: str,
    entities_path: str,
    checkpoint: str,
    id_col: str,
    fields: list[tuple[str, int]],
    block_keys_sql: list[str],
    threshold_micros: int = 800_000,
    max_block_size: int | None = 200,
) -> StreamingQuery:
    """Continuous ENTITY RESOLUTION maintenance (§2.10 + §2.12
    composed, the linkage analogue of :func:`stream_exact_neardup_index`):
    as records stream in, each micro-batch is linked against the
    PERSISTED record set (``incremental_linkage_pairs`` — new×stored +
    new×new only, block caps evaluated on the COMBINED corpus so the
    result matches a batch recompute bit-for-bit), the match pairs are
    folded into the persisted entity assignment table
    (``incremental_resolve_entities`` — components over batch pairs +
    stored star edges, never the historical pair set), and the batch's
    records append to ``records_path``. Returns the StreamingQuery.

    ``block_keys_sql``: blocking expressions as SQL strings (evaluated
    on both sides' shared schema) so the config is serializable.

    Ordering inside the batch: the assignment table is refreshed
    BEFORE the batch's records join the stored set, so the stored side
    the pairs were computed against never includes the batch itself.
    Replay: an appending maintainer (README, "Streaming replay"). A
    replayed batch whose rows already reached ``records_path`` produces
    only duplicate pairs (same-id matches are dropped, pairs are
    normalized + distinct) and recomputes the identical assignment
    table, which the latest-wins upsert absorbs."""
    from lakeflow.operators.linkage import (
        incremental_linkage_pairs,
        incremental_resolve_entities,
    )

    def _batch(batch, batch_id: int) -> None:
        batch = persist(batch)  # three consumers: pairs, resolve, append
        stored = read_target_if_exists(spark, records_path)
        if stored is None:
            stored = batch.limit(0)  # first batch: new x new only
        stored_asgn = read_target_if_exists(spark, entities_path)
        if stored_asgn is None:
            stored_asgn = (
                batch.select(
                    F.col(id_col), F.col(id_col).alias("entity_id")
                ).limit(0)
            )
        pairs = incremental_linkage_pairs(
            batch,
            stored,
            id_col,
            fields,
            [F.expr(s) for s in block_keys_sql],
            threshold_micros,
            max_block_size,
        ).filter("match")
        updated = incremental_resolve_entities(
            pairs,
            stored_asgn.select(id_col, "entity_id"),
            batch,
            id_col,
        ).withColumn("__b", F.lit(batch_id))
        # latest-wins upsert: the refresh covers ALL ids, so the
        # new batch's assignment replaces every stale row; fenced
        # swap keeps readers consistent mid-refresh
        merge_upsert(
            spark, entities_path, updated, [id_col], "__b"
        )
        batch.write.mode("append").parquet(records_path)

    return run_batches(stream_ndjson(spark, path, schema), checkpoint, _batch)


def stream_exact_k_sample(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    sample_path: str,
    checkpoint: str,
    key_col: str,
    k: int,
    seed: str = "smp",
) -> StreamingQuery:
    """Continuous EXACTLY-K uniform sample maintenance — the streaming
    reservoir, kept deterministic: the persisted sample is always the
    k rows of the corpus-so-far with the smallest seeded key hash
    (``operators/sampling.exact_k_sample`` semantics), so at every
    instant the stored sample is BIT-IDENTICAL to a batch
    ``exact_k_sample`` over everything ever streamed — no
    reservoir-algorithm randomness, no arrival-order dependence, and
    restart/replay change nothing (min-k of a multiset ignores
    duplicates).

    Per-batch cost: TakeOrdered(k) over the BATCH, unioned with the k
    stored rows, TakeOrdered(k) again — O(|batch| + k), never the
    corpus. The sample table lives in the manifest-committed format
    (``sinks/txtable``): each refresh is one atomic version publish
    over immutable files, so reading version v while writing v+1 is
    hazard-free (a plain-parquet overwrite would truncate its own
    input), a replayed batch just commits a byte-identical version,
    and the sample's history is time-travelable like any table.
    Returns the StreamingQuery."""
    from lakeflow.operators.sampling import exact_k_sample

    def _batch(batch, batch_id: int) -> None:
        from lakeflow.sinks.txtable import (
            current_version,
            read_table,
            write_table,
        )

        best = exact_k_sample(batch, key_col, k, seed)
        if current_version(sample_path) > 0:
            stored = read_table(spark, sample_path)
            best = exact_k_sample(
                stored.select(*best.columns).unionByName(best),
                key_col,
                k,
                seed,
            )
        write_table(spark, best, sample_path)

    return run_batches(stream_ndjson(spark, path, schema), checkpoint, _batch)


def stream_exact_neardup_index(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    index_path: str,
    pairs_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold_micros: int = 300_000,
    shingle_n: int = 3,
) -> StreamingQuery:
    """:func:`stream_neardup_index`'s EXACT-recall twin: as documents
    stream in, each micro-batch's qualifying Jaccard pairs against the
    PERSISTED element index (new×stored + new×new — old×old never
    regenerated) append to ``pairs_path`` and the batch's element-index
    rows join ``index_path``. Banding recall<1 is replaced by the
    set-similarity join's zero-false-negative guarantee; per-batch cost
    is |batch| × element-bucket density plus candidate verification.

    Pairs are written BEFORE the batch's elements join the index.
    Replay: an appending maintainer (README, "Streaming replay"); a
    replayed batch whose ids already reached the index produces no
    self-pairs (``incremental_setsim_pairs`` drops same-id matches)."""
    from lakeflow.operators.setsim import element_index, incremental_setsim_pairs

    def _batch(batch, batch_id: int) -> None:
        # two consumers: pairs + append
        idx_rows = persist(element_index(batch, id_col, text_col, shingle_n))
        stored = read_target_if_exists(spark, index_path)
        if stored is None:
            stored = idx_rows.limit(0)  # first batch: new x new only
        # the persisted batch index is passed straight in (the batch is
        # shingled ONCE per micro-batch)
        pairs = incremental_setsim_pairs(
            batch,
            stored,
            id_col,
            text_col,
            threshold_micros,
            shingle_n,
            new_index=idx_rows,
        )
        pairs.write.mode("append").parquet(pairs_path)
        idx_rows.write.mode("append").parquet(index_path)

    return run_batches(stream_ndjson(spark, path, schema), checkpoint, _batch)


def stream_semantic_index(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    index_path: str,
    pairs_path: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cos_micros: int = 950_000,
    staleness_path: str | None = None,
) -> StreamingQuery:
    """Streaming SemDeDup intake against a PREBUILT semantic index
    (``kmeans.semantic_index_fit`` on a seed corpus): the centroids
    load once at stream start (bounded k*dim collect, folded into
    every micro-batch's assignment map), each batch's qualifying
    cosine pairs against the persisted assignment relation
    (new×stored + new×new — stored×stored never regenerated) append to
    ``pairs_path``, then the batch's assignment rows join
    ``{index_path}/assignments``. Per-batch cost is |batch| × cell
    size; centroid drift is handled by a periodic refit + index
    rebuild (deterministic, replayable), never per-batch mutation.

    Pairs are written BEFORE the batch's assignments join the index.
    Replay: an appending maintainer (README, "Streaming replay"); a
    replayed batch whose ids already reached the index produces no
    self-pairs (``incremental_semantic_pairs`` drops same-id matches).

    ``staleness_path`` (r11, optional — VERDICT r10 task #4): when
    set, each batch's frozen-CENTROID drift row
    (``profile.occupancy_staleness`` — exact chi² between the stored
    assignment relation's cell occupancy and the batch's, + the
    rebuild trigger) appends there tagged ``batch_id``, measured
    BEFORE the batch's own rows join the relation — the
    ``stream_ivf_assign`` arrangement applied to the semantic cells.
    Skipped while the stored relation is absent or either side is
    empty (the first batch has nothing to drift FROM). The caller's
    maintenance loop (``streaming.maintenance.maintain_semantic_index``)
    refits centroids + rebuilds the index when the flag fires; the
    monitor never mutates what it measures."""
    from lakeflow.operators.kmeans import (
        incremental_semantic_pairs,
        load_semantic_index,
        semantic_index,
    )
    from lakeflow.operators.profile import occupancy_staleness

    cents, _ = load_semantic_index(spark, index_path)
    asg_path = f"{index_path}/assignments"

    def _batch(batch, batch_id: int) -> None:
        # two consumers: pairs + append
        new_idx = persist(semantic_index(batch, cents, id_col, vec_col))
        stored = read_target_if_exists(spark, asg_path)
        if stored is None:
            stored = new_idx.limit(0)  # first batch: new x new only
        elif (
            staleness_path is not None
            and not stored.isEmpty()
            and not new_idx.isEmpty()
        ):
            stats = occupancy_staleness(
                # replay hygiene: duplicate (id, cell) rows from a
                # replayed append must not double-count occupancy
                stored.select(id_col, "cell").distinct().select("cell"),
                new_idx.select("cell"),
                "cell",
            )
            append_staleness(stats, batch_id, staleness_path)
        pairs = incremental_semantic_pairs(
            batch,
            stored,
            cents,
            min_cos_micros,
            id_col,
            vec_col,
            new_index=new_idx,
        )
        pairs.write.mode("append").parquet(pairs_path)
        new_idx.write.mode("append").parquet(asg_path)

    return run_batches(stream_ndjson(spark, path, schema), checkpoint, _batch)


def stream_ivf_assign(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    centroids: list[list[int]],
    assignments_path: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    staleness_path: str | None = None,
) -> StreamingQuery:
    """Continuous IVF inverted-file maintenance (r9, the index half of
    ``similarity.ivf_ann_topk``'s ``assignments=`` serving path): as
    vectors stream in, each micro-batch's (id, cell) assignment rows
    against the FROZEN centroid list append to ``assignments_path`` —
    assignment is per-row and centroid-frozen, so maintenance is one
    narrow map per batch, no shuffle, no read of the stored index at
    all. Centroid drift is handled by a periodic re-pick + index
    rebuild (deterministic), never per-batch centroid mutation — the
    same arrangement as the semantic-dedup and APSS index streams.

    Replay: an appending maintainer (README, "Streaming replay").
    Assignment is a pure function of (vector, centroids), so a replayed
    batch re-appends IDENTICAL rows, never conflicting cells for one
    id; ``ivf_ann_topk``'s serving path distinct()s the relation on
    read before joining.

    ``staleness_path`` (r10, optional): when set, each batch's
    frozen-CENTROID drift row (``profile.occupancy_staleness`` — exact
    chi² between the stored assignment relation's cell occupancy and
    the batch's, + the rebuild trigger) appends there tagged
    ``batch_id``, measured BEFORE the batch's own rows join the
    relation — the ``stream_apss_index`` monitor arrangement applied
    to the centroid snapshot. The caller re-picks centroids + rebuilds
    the inverted file when the flag fires; the monitor never mutates
    what it measures."""
    from lakeflow.operators.profile import occupancy_staleness
    from lakeflow.operators.similarity import ivf_assign

    def _batch(batch, batch_id: int) -> None:
        asg = ivf_assign(batch, centroids, id_col, vec_col)
        # the stored relation is created by THIS stream's own first
        # append — on a fresh index it does not exist yet (and an
        # existing-but-empty side would trip chi2's empty-side assert),
        # so the monitor row is skipped until both sides are non-empty
        # (ADVICE r10): the first batch has nothing to drift FROM.
        stored = (
            read_target_if_exists(spark, assignments_path)
            if staleness_path is not None
            else None
        )
        if (
            staleness_path is not None
            and stored is not None
            and not stored.isEmpty()
            and not asg.isEmpty()
        ):
            stats = occupancy_staleness(
                # replay hygiene, the serving-join rule: duplicate
                # (id, cell) rows from a replayed append must not
                # double-count occupancy
                stored.select(id_col, "cell").distinct().select("cell"),
                asg.select("cell"),
                "cell",
            )
            append_staleness(stats, batch_id, staleness_path)
        asg.write.mode("append").parquet(assignments_path)

    return run_batches(stream_ndjson(spark, path, schema), checkpoint, _batch)


def stream_apss_index(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    index_path: str,
    pairs_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold_micros: int = 600_000,
) -> StreamingQuery:
    """Streaming weighted-cosine APSS intake against a PREBUILT index
    (``apss.apss_index_fit`` on a seed corpus — the semantic-index
    arrangement): each micro-batch is weighted against the persisted
    df SNAPSHOT (``apss.snapshot_weights``), its qualifying cosine
    pairs against the stored corpus (new×stored via the persisted
    norm-only prefix + new×new via the batch machinery, exact-dup
    collapse included — old×old never regenerated) append to
    ``pairs_path``, then the batch's snapshot-weighted rows join
    ``{index_path}/weights`` and its norm-only prefix rows join
    ``{index_path}/prefix``. Per-batch cost is |batch| ×
    prefix-posting density plus candidate-bound verification. df
    drift is handled by a periodic ``apss_index_fit`` rebuild
    (deterministic, replayable), never per-batch re-weighting of
    stored documents.

    Pairs are written BEFORE the batch's rows join the index. Replay:
    an appending maintainer (README, "Streaming replay"); a replayed
    batch whose rows already reached the index produces no self-pairs
    (``incremental_apss_pairs`` drops same-id matches at the candidate
    join AND at representative expansion, and dedups duplicate index
    rows on read). A periodic ``apss_index_fit`` rebuild compacts the
    duplicates.

    Staleness monitor: each batch's drift statistics against the
    frozen df snapshot (``apss.snapshot_staleness`` — unseen-term rate
    + chi² over log2(df) buckets + the rebuild trigger) append ONE row
    tagged ``batch_id`` to ``{index_path}/staleness``, measured BEFORE
    the batch's own rows join the index (the batch must be scored
    against the snapshot it was weighted with). The caller's
    maintenance loop watches the newest row's ``rebuild`` flag and
    re-runs ``apss_index_fit`` when it fires — the monitor itself
    never mutates the index it measures."""
    from lakeflow.operators.apss import (
        apss_prefix_index,
        incremental_apss_pairs,
        snapshot_staleness,
        snapshot_weights,
    )

    weights_path = f"{index_path}/weights"
    prefix_path = f"{index_path}/prefix"
    staleness_path = f"{index_path}/staleness"

    def _batch(batch, batch_id: int) -> None:
        stored_w = spark.read.parquet(weights_path)  # prebuilt: must exist
        stored_p = spark.read.parquet(prefix_path)
        # an empty or whitespace-only micro-batch has zero non-empty
        # (doc, term) rows: unseen_ppm would divide by COUNT(*)=0 and
        # chi2's empty-side assert would fail the WHOLE batch, so the
        # monitor row is skipped — nothing was scored against the
        # snapshot, so there is no drift to measure (ADVICE r10)
        if not (
            batch.select(F.explode(tokens(text_col)).alias("__t"))
            .filter(F.col("__t") != "")
            .isEmpty()
        ):
            append_staleness(
                snapshot_staleness(batch, stored_w, id_col, text_col),
                batch_id,
                staleness_path,
            )
        # three consumers: pairs + both appends
        new_w = persist(snapshot_weights(batch, stored_w, id_col, text_col))
        pairs = incremental_apss_pairs(
            batch,
            stored_w,
            stored_p,
            id_col,
            text_col,
            threshold_micros,
            new_weights=new_w,
        )
        pairs.write.mode("append").parquet(pairs_path)
        new_w.write.mode("append").parquet(weights_path)
        apss_prefix_index(new_w, id_col, threshold_micros).write.mode(
            "append"
        ).parquet(prefix_path)

    return run_batches(stream_ndjson(spark, path, schema), checkpoint, _batch)


def stream_inverted_index(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    index_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> StreamingQuery:
    """Continuous inverted-index maintenance: each micro-batch's
    posting rows (token, doc_id, tf) — built by the same explode +
    hash aggregate as ``index.build_inverted_index`` — fold into the
    persisted index via ``merge_additive`` keyed on (token, doc_id).
    Term frequencies are additive, so a document whose text arrives
    split across batches still converges to the batch-built index; the
    maintained table serves ``keyword_search_*`` and ``bm25_search``
    directly (BM25's doc lengths and corpus totals derive from the
    index itself, so they stay current for free).

    Replay: an additive fold under the batch-id token (README,
    "Streaming replay"). Per-batch cost is the batch's own postings
    plus the key-join against the index (at 100 TB: a token-bucketed
    co-located merge)."""
    from lakeflow.operators.index import build_inverted_index

    def _batch(batch, batch_id: int) -> None:
        delta = build_inverted_index(batch, id_col, text_col)
        merge_additive(
            spark, index_path, delta, ["token", "doc_id"], ["tf"],
            commit_token=batch_token(batch_id),
        )

    return run_batches(stream_ndjson(spark, path, schema), checkpoint, _batch)


def stream_positional_index(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    index_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> StreamingQuery:
    """Continuous POSITIONAL-index maintenance (r8 — the phrase/slop
    retrieval twin of :func:`stream_inverted_index`): each micro-batch's
    positional posting rows (token, doc_id, tf, positions) — built by
    the same posexplode + hash aggregate as
    ``index.build_positional_index`` — UPSERT into the persisted index
    keyed on (token, doc_id). Positions are NOT additive across
    batches (unlike tf), so the maintained-index contract is that each
    document's full text arrives in ONE batch — the normal ingest
    shape; a re-ingested doc REPLACES its postings latest-batch-wins
    (a revision that dropped a token entirely still needs a
    ``merge_delete`` of the old doc's keys, documented here rather
    than silently wrong). The maintained table serves
    ``phrase_search`` and ``slop_search`` directly and equals the
    batch-built index over the same documents (tested).

    Replay: the upsert carries the batch-id token like an additive
    fold (README, "Streaming replay"), although identical replayed
    rows would also collapse under latest-wins. Per-batch cost is the
    batch's own postings plus the key-join against the index (at
    100 TB: a token-bucketed co-located merge)."""
    from lakeflow.operators.index import build_positional_index

    def _batch(batch, batch_id: int) -> None:
        delta = build_positional_index(batch, id_col, text_col).withColumn(
            "__batch", F.lit(batch_id).cast("long")
        )
        merge_upsert(
            spark,
            index_path,
            delta,
            ["token", "doc_id"],
            "__batch",
            commit_token=batch_token(batch_id),
        )

    return run_batches(stream_ndjson(spark, path, schema), checkpoint, _batch)


def stream_contamination_guard(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    needles: DataFrame,
    flags_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold_micros: int = 800_000,
    shingle_n: int = 3,
) -> StreamingQuery:
    """Continuous eval-set decontamination: every micro-batch of
    incoming documents is containment-joined (``setsim.
    containment_join`` — |N∩D|/|N|, the asymmetry that catches a
    benchmark prompt embedded verbatim in a long page) against the
    FIXED benchmark ``needles`` corpus, and flagged
    (needle_id, doc_id, containment_micros) rows append to
    ``flags_path`` — the ingest-time guard that keeps contaminated
    documents from ever reaching a training shard unnoticed.

    Per-batch cost is batch-proportional: the needle side is small and
    fixed (its prefix relation rebuilds per batch from the broadcastable
    benchmark table; the batch side is shingled once, shuffle-free).
    Replay: an appending maintainer (README, "Streaming replay"); flags
    are a pure function of (needle, doc) content. Batch twin:
    ``q_containment_join``'s oracle certifies the join's
    zero-false-negative guarantee."""
    from lakeflow.operators.setsim import containment_join

    def _batch(batch, batch_id: int) -> None:
        flags = containment_join(
            needles, batch, id_col, text_col, threshold_micros, shingle_n
        )
        flags.write.mode("append").parquet(flags_path)

    return run_batches(stream_ndjson(spark, path, schema), checkpoint, _batch)
