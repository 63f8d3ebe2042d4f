"""All-pairs weighted-cosine similarity join (SURVEY §2.12).

The weighted sibling of the exact set-similarity join
(``setsim.setsim_join``, unweighted Jaccard): every pair of documents
whose COSINE similarity over tf-idf-style term weights reaches a
threshold. Jaccard treats "the" and a rare entity name identically;
the weighted join is what near-dup mining, template clustering and
boilerplate family detection actually want — rare shared terms count,
ubiquitous ones barely do. Plan follows Bayardo/Ma/Srikant's All-Pairs
prefix filter (WWW'07, public literature), Spark-first:

1. WEIGHTS, exact by construction: term frequency tf and document
   frequency df from two hash aggregates; the unnormalized weight is
   the integer u = (tf * 1e6) div df (rational inverse-df — no log,
   so no transcendental enters the cross-engine contract), and the
   L2-normalized weight is w = floor(u * 1e6 / sqrt(norm2) + 0.5)
   where norm2 = sum u^2 accumulates in DECIMAL(38,0) (long overflows
   on long documents). sqrt is IEEE-correctly-rounded on both engines
   and both cast the SAME exact integer to double, so w is
   bit-identical everywhere. Normalized vectors have norm ~1e6, so
   every pair dot stays ~1e12 < 2^53 — the cosine division is then
   the house ``cosine_micros``.
2. PREFIX FILTER: terms globally ordered by (df ASC, term) —
   rarest-first, replacing Bayardo's (corpus max weight DESC) order;
   see ``_prefix_terms`` for why (rare terms carry the largest
   inverse-df weights here, so putting them first both bounds
   suffixes tightly AND keeps prefix postings short). Per document, a
   term is PREFIX iff the suffix strictly after it still bounds >= t,
   where the suffix bound is sum over suffix terms of w_t * maxw_t
   (the probe-side upper bound on what the suffix alone can
   contribute, in 1e12 units).
   The guarantee is one-sided and needs no pair symmetry: if
   cos(a, b) >= t and NO term of a matched b's prefix, every shared
   term lies in b's suffix, so cos <= bound(suffix(b)) < t —
   contradiction. Candidates are therefore FULL(a) equi-joined to
   PREFIX(b) on term, unordered-deduped.
3. VERIFY, candidate-bound: per-doc sorted (term, weight) arrays
   broadcast-joined onto the pair list; the dot is one codegen
   aggregate over the smaller array probing the other's map — exact
   longs, no Python, cost O(|doc|) per candidate (the setsim array-
   verify shape).

Scale: two narrow aggregates + one window per document (a document's
terms fit one task by definition) + an equi-join whose probe side is
only the prefix postings — the same candidate-bound behavior the
setsim family probes at 10x/30x. A hot ubiquitous term lands at the
BACK of the rarest-first order, i.e. in the SUFFIX of nearly every
document (its inverse-df weight is tiny, so the suffix bound
threshold is reached long before the prefix sweep would include it),
so the stopword-like terms whose postings are huge almost never enter
the prefix join — setsim's rarest-first economics, carried over.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from lakeflow.caching import persist, scoped_cache
from lakeflow.operators.similarity import cosine_micros
from lakeflow.operators.text import tokens


def weighted_terms(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """(id, term, df, w, n2): L2-normalized inverse-df term weights in
    micro units, each term's document frequency (the prefix filter's
    rarest-first order key), and each document's exact quantized norm2
    for the cosine denominator."""
    tf = (
        df.select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
        .filter(F.col("term") != "")
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).cast("long").alias("__tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("__df"))
    u = tf.join(dfreq, "term").select(
        F.col(id_col),
        "term",
        F.col("__df").alias("df"),
        F.expr("(__tf * 1000000) div __df").alias("__u"),
    )
    # norm2 in DECIMAL(38,0): u <= 1e6 * tf, so u^2 sums overflow LONG
    # on long documents; the decimal -> double cast before sqrt is
    # round-nearest from the same exact integer on both engines
    norm2 = u.groupBy(id_col).agg(
        F.sum(F.expr("CAST(__u * __u AS DECIMAL(38,0))")).alias("__n2u")
    )
    w = (
        u.join(norm2, id_col)
        .select(
            F.col(id_col),
            "term",
            "df",
            F.floor(
                F.col("__u").cast("double")
                * F.lit(1_000_000.0)
                / F.sqrt(F.col("__n2u").cast("double"))
                + F.lit(0.5)
            )
            .cast("long")
            .alias("w"),
        )
        .filter(F.col("w") > 0)
    )
    # the exact norm of the QUANTIZED vector (what cosine actually
    # divides by): ~1e12, fits LONG comfortably
    n2 = w.groupBy(id_col).agg(F.sum(F.col("w") * F.col("w")).alias("n2"))
    # three consumers downstream (full relation, prefix window, verify
    # arrays)
    return persist(w.join(n2, id_col))


def _prefix_terms(
    w: DataFrame,
    id_col: str,
    threshold_micros: int,
    mw_bound: bool = True,
) -> DataFrame:
    """The indexed subset: per document, the RAREST-FIRST head terms
    (global order: corpus document frequency ASC, term — the setsim
    order) whose inclusive-from-here suffix can still reach the
    threshold under BOTH upper bounds:

    - norm bound (order-free, exact): the suffix's own contribution
      to any cosine is at most ||suffix|| / ||doc||, so a row is
      prunable once suf_norm2 * 1e12 < t^2 * n2 (integer
      cross-multiply in DECIMAL — both sides pass 2^63);
    - max-weight bound (Bayardo): dot over suffix terms is at most
      sum w_t * maxw_t, so prunable once that mass < (t - slack) *
      1e6 * 1e6 (16-micro slack absorbs the quantized-norm !=
      exactly-1e6 wobble; false negatives stay impossible, verified
      by the ground-truth oracle and the randomized property test).

    Rarest-first is what makes the candidate join survive a
    template-heavy corpus: prefix postings are RARE terms (tiny full
    postings on the other side), while ubiquitous stopword-like terms
    fall to the suffix and are never indexed — the max-weight-DESC
    order indexed 71% of all term occurrences on the sf0.1 corpus
    (319M raw candidates, every pair a candidate); this order indexes
    the rare head only. A document's terms fit one task by
    definition, so per-doc windows are the right tool.

    ``mw_bound=False`` drops the max-weight bound and keeps only the
    norm bound. The norm bound is CORPUS-INDEPENDENT (it references
    only the document's own weights), so a norm-only prefix stays
    sound against documents that did not exist when it was built —
    the property the incremental tier's persisted prefix index needs:
    a future document can carry a term weight above today's corpus
    max, which would break the frozen max-weight bound, but can never
    change ||suffix||/||doc||. The price is somewhat longer prefixes
    (more candidates), never a lost pair."""
    win = Window.partitionBy(id_col).orderBy(
        F.asc("df"), F.asc("term")
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tot = Window.partitionBy(id_col)
    ww = F.col("w") * F.col("w")
    # inclusive-from-here suffix aggregates: total - running + current.
    # (The strictly-after form would let the first excluded row itself
    # carry >= t mass and break the one-sided guarantee.)
    suf_n2 = F.sum(ww).over(tot) - F.sum(ww).over(win) + ww
    t_slack = max(int(threshold_micros) - 16, 0)
    dec = "decimal(38,0)"
    cols = [
        F.col(id_col),
        "term",
        "w",
        "df",
        "n2",
        ww.alias("__w2"),
        suf_n2.alias("__sufn2"),
    ]
    if mw_bound:
        maxw = w.groupBy("term").agg(F.max("w").alias("__maxw"))
        wm = w.join(maxw, "term")
        wmw = F.col("w") * F.col("__maxw")
        suf_mw = F.sum(wmw).over(tot) - F.sum(wmw).over(win) + wmw
        cols.append(suf_mw.alias("__sufmw"))
    else:
        wm = w
    scored = wm.select(*cols)
    cond_norm = (
        F.col("__sufn2").cast(dec) * F.lit(10**12).cast(dec)
        >= F.lit(t_slack * t_slack).cast(dec) * F.col("n2").cast(dec)
    )
    if mw_bound:
        t12 = F.lit(t_slack) * F.lit(1_000_000).cast("long")
        keep = (F.col("__sufmw") >= t12) & cond_norm
    else:
        keep = cond_norm
    # tail_norm = safe over-approximation (floor(sqrt)+1, micros) of
    # the norm of the doc's ENTIRE non-prefix tail — a per-doc
    # constant, < threshold by the very prefix cut (the norm-bound
    # condition fails at the first excluded row). This is the
    # accumulation filter's "what can everything beyond my prefix
    # still contribute": any shared term past the last shared prefix
    # term lives in this tail (prefixes are contiguous heads).
    filtered = scored.filter(keep)
    doc_w = Window.partitionBy(id_col)
    tail_n2 = F.max(F.col("n2")).over(doc_w) - F.sum(F.col("__w2")).over(doc_w)
    tail_norm = (F.floor(F.sqrt(tail_n2.cast("double"))) + 1).cast("long")
    return filtered.select(
        F.col(id_col), "term", "w", tail_norm.alias("tail_norm")
    )


def _suffix_norms(w: DataFrame, id_col: str) -> DataFrame:
    """Per (doc, term): the term's weight plus a safe
    over-approximation (floor(sqrt)+1, micros) of the norm of the
    doc's rarest-first suffix strictly AFTER the term — the FULL-side
    half of the pair accumulation filter."""
    win = Window.partitionBy(id_col).orderBy(
        F.asc("df"), F.asc("term")
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tot = Window.partitionBy(id_col)
    ww = F.col("w") * F.col("w")
    suf_after = F.sum(ww).over(tot) - F.sum(ww).over(win)
    scored = w.select(
        F.col(id_col), "term", "w", "df", suf_after.alias("__sufa")
    )
    ns_after = (F.floor(F.sqrt(F.col("__sufa").cast("double"))) + 1).cast("long")
    return scored.select(id_col, "term", "w", "df", ns_after.alias("ns_after"))


def apss_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold_micros: int = 600_000,
) -> DataFrame:
    """Exact self all-pairs cosine join: every unordered pair with
    cosine(tf-idf weights) >= threshold, as (``{id}_a``, ``{id}_b``,
    cos_micros). Exact recall: the prefix filter loses no qualifying
    pair (one-sided suffix-bound guarantee, see module doc).

    EXACT-DUPLICATE COLLAPSE first: documents with identical weight
    vectors (same text after tokenization — web corpora are full of
    them, and every pair of copies is a guaranteed output pair) are
    grouped by an md5 vector fingerprint (the ``exact_dedup``
    identity), the pairwise machinery runs on one REPRESENTATIVE per
    group, and pairs expand back through group membership afterwards:
    within-group pairs are cos = 1e6 by identity (bit-exact — the
    verify formula on equal vectors is exactly 1.0), cross-group
    pairs inherit their representatives' cosine (equal vectors, equal
    dot). Without this, k copies of a template multiply every hot
    prefix posting by k and the candidate join by k^2 — the measured
    wedge on the 10x replicated probe corpus; with it, duplicate mass
    costs ONE membership expansion at output time. This mirrors the
    production funnel order (exact dedup BEFORE near-dup) while
    keeping the operator's contract self-contained."""
    w_all = weighted_terms(df, id_col, text_col)
    return _pairs_from_weights(w_all, id_col, threshold_micros)


def _pairs_from_weights(
    w_all: DataFrame,
    id_col: str,
    threshold_micros: int,
) -> DataFrame:
    """The self-join machinery of :func:`apss_join` given an already-
    built weight relation — shared with the incremental tier, whose
    new×new half is exactly this machinery over the batch's
    snapshot-weighted relation."""
    # vector fingerprint: md5 of the sorted (term, w) entries — the
    # exact_dedup identity, computed without leaving codegen
    fp = w_all.groupBy(id_col).agg(
        F.md5(
            F.to_json(F.array_sort(F.collect_list(F.struct("term", "w"))))
        ).alias("__fp")
    )
    groups = fp.select(F.col(id_col), "__fp")
    reps = groups.groupBy("__fp").agg(F.min(id_col).alias("__rep"))
    members = persist(
        groups.join(reps, "__fp").select("__fp", F.col(id_col), F.col("__rep"))
    )

    # the pairwise machinery sees one row set per DISTINCT vector
    w = w_all.join(
        members.filter(F.col(id_col) == F.col("__rep")).select(id_col),
        id_col,
        "left_semi",
    )
    rel = _suffix_norms(w, id_col).select(
        F.col(id_col).alias("__ida"),
        "term",
        F.col("w").alias("__wa"),
        F.col("ns_after").alias("__naa"),
    )
    pre = _prefix_terms(w, id_col, threshold_micros).select(
        F.col(id_col).alias("__idb"),
        "term",
        F.col("w").alias("__wb"),
        F.col("tail_norm").alias("__tnb"),
    )

    # candidates: FULL(a) x PREFIX(b) on term, ONE orientation only —
    # the one-sided guarantee (every qualifying pair shares a term in
    # prefix(b) for EITHER choice of b) lets a < b alone cover all
    # unordered pairs, halving the raw join output. The dedup shuffle
    # is an ACCUMULATION, not a distinct (the setsim positional-filter
    # lesson, in weighted form): per pair,
    #   acc    = the EXACT partial dot over every shared prefix(b)
    #            term (all generated rows — prefixes are contiguous
    #            heads, so the generated rows are exactly the shared
    #            terms up to b's prefix end), and
    #   rest   = MIN over shared rows of ns_after(a) * tail_norm(b):
    #            every shared term beyond the LAST shared prefix term
    #            t_last sits both after t_last in a's rarest-first
    #            order AND inside b's non-prefix tail (a contiguous-
    #            head prefix admits no shared prefix term past
    #            t_last), so Cauchy-Schwarz on those two sets bounds
    #            everything acc missed. ns_after decreases
    #            monotonically along the shared global order, so
    #            MIN(ns_after) IS the value at t_last — a plain long
    #            MIN instead of a max_by over (df, term) structs,
    #            which kept string order keys alive through the
    #            shuffle and cost more than it saved.
    # acc + rest < (t - slack)*1e6 kills the pair before any verify.
    # 64 micros of slack absorb every quantization wobble (+1
    # over-approximated tail norms, quantized doc norms 1e6 +- 2, the
    # verify round-half-up) — false negatives stay impossible,
    # backstopped by the ground-truth oracle and the randomized
    # losslessness property test.
    kill = F.lit(max(int(threshold_micros) - 64, 0)) * F.lit(1_000_000).cast(
        "long"
    )
    cand = (
        rel.join(pre, "term")
        .filter(F.col("__ida") < F.col("__idb"))
        .select(
            "__ida",
            "__idb",
            (F.col("__wa") * F.col("__wb")).alias("__prod"),
            F.col("__naa"),
            F.col("__tnb"),
        )
        .groupBy("__ida", "__idb")
        .agg(
            (
                F.sum("__prod") + F.min("__naa") * F.max("__tnb")
            ).alias("__ub")
        )
        .filter(F.col("__ub") >= kill)
        .select(F.col("__ida").alias("__pa"), F.col("__idb").alias("__pb"))
    )

    # verify on per-doc sorted (term, w) arrays: one row per doc, the
    # dot is a codegen aggregate probing the other side's map
    arrs = (
        w.groupBy(id_col)
        .agg(
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("term", "w")))
            ).alias("__m"),
            F.first("n2").alias("__n2"),
        )
    )
    arrs = persist(arrs)  # two consumers
    a = arrs.select(
        F.col(id_col).alias("__pa"),
        F.col("__m").alias("__ma"),
        F.col("__n2").alias("__n2a"),
    )
    b = arrs.select(
        F.col(id_col).alias("__pb"),
        F.col("__m").alias("__mb"),
        F.col("__n2").alias("__n2b"),
    )
    dot = F.aggregate(
        F.map_entries("__ma"),
        F.lit(0).cast("long"),
        lambda acc, e: acc
        + e["value"]
        * F.coalesce(F.element_at("__mb", e["key"]), F.lit(0).cast("long")),
    )
    scored = (
        cand.join(a, "__pa")
        .join(b, "__pb")
        .select(
            "__pa",
            "__pb",
            cosine_micros(dot, F.col("__n2a"), F.col("__n2b")).alias("cos_micros"),
        )
    )
    rep_pairs = scored.filter(
        F.col("cos_micros") >= F.lit(int(threshold_micros))
    )

    # expand representative pairs back through group membership.
    # Cross-group: every member of A x every member of B inherits the
    # representatives' cosine (equal vectors -> equal dot, exactly).
    ma = members.select(F.col("__rep").alias("__pa"), F.col(id_col).alias("__ea"))
    mb = members.select(F.col("__rep").alias("__pb"), F.col(id_col).alias("__eb"))
    cross = (
        rep_pairs.join(ma, "__pa")
        .join(mb, "__pb")
        .select(
            F.least("__ea", "__eb").alias(f"{id_col}_a"),
            F.greatest("__ea", "__eb").alias(f"{id_col}_b"),
            "cos_micros",
        )
    )
    out = cross
    if threshold_micros <= 1_000_000:
        # within-group: identical vectors, cos exactly 1e6 (the verify
        # formula on equal vectors is floor(1.0 * 1e6 + 0.5)); these
        # pairs are guaranteed output, generated without touching the
        # candidate machinery. Output-bound by construction (they ARE
        # the answer's duplicate mass).
        m1 = members.select("__fp", F.col(id_col).alias("__ea"))
        m2 = members.select("__fp", F.col(id_col).alias("__eb"))
        within = (
            m1.join(m2, "__fp")
            .filter(F.col("__ea") < F.col("__eb"))
            .select(
                F.col("__ea").alias(f"{id_col}_a"),
                F.col("__eb").alias(f"{id_col}_b"),
                F.lit(1_000_000).cast("long").alias("cos_micros"),
            )
        )
        out = cross.unionByName(within)
    return out


def apss_prefix_index(
    weights: DataFrame, id_col: str, threshold_micros: int
) -> DataFrame:
    """The PERSISTED prefix index for the incremental tier: per stored
    document, its rarest-first prefix rows (``{id}``, ``term``, ``w``,
    ``tail_norm``) under the NORM bound only.

    The max-weight bound is deliberately dropped (``mw_bound=False``):
    it references the corpus-wide max weight per term, and a FUTURE
    document may carry a higher weight for a term than any document
    that existed at build time — a frozen max-weight prefix could then
    over-prune and lose a qualifying new×stored pair. The norm bound
    references only the document's own weights, so a norm-only prefix
    stays sound against any future probe document, at the price of
    somewhat longer prefixes. Persist this relation (plus the full
    weight relation) beside the corpus; a batch's incremental join
    must use a query threshold >= the one the index was built with
    (a lower query threshold would need longer prefixes than were
    indexed)."""
    return _prefix_terms(weights, id_col, threshold_micros, mw_bound=False)


def snapshot_weights(
    new_docs: DataFrame,
    stored_weights: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Weight a batch of new documents against the STORED corpus's
    document-frequency snapshot — the incremental tier's weighting
    contract. Inverse-df weights are corpus-global by nature: a new
    batch cannot change stored documents' weights without a
    corpus-wide rebuild, so between rebuilds every batch is weighted
    against the frozen df snapshot (the standard production near-dup
    arrangement: score against the snapshot, rebuild periodically).
    Terms UNSEEN in the snapshot take df = 1 — the rarest-possible,
    maximum-weight reading, which is the conservative direction for
    near-duplicate mining (two new documents sharing a brand-new term
    look MORE similar, never less). Deterministic, so a crashed and
    replayed batch re-derives identical weights. Output schema is
    :func:`weighted_terms`'s (``{id}``, term, df, w, n2)."""
    tf = (
        new_docs.select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
        .filter(F.col("term") != "")
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).cast("long").alias("__tf"))
    )
    snap = stored_weights.groupBy("term").agg(F.max("df").alias("__snapdf"))
    u = tf.join(snap, "term", "left").select(
        F.col(id_col),
        "term",
        F.coalesce(F.col("__snapdf"), F.lit(1).cast("long")).alias("df"),
        F.expr("(__tf * 1000000) div coalesce(__snapdf, 1)").alias("__u"),
    )
    norm2 = u.groupBy(id_col).agg(
        F.sum(F.expr("CAST(__u * __u AS DECIMAL(38,0))")).alias("__n2u")
    )
    w = (
        u.join(norm2, id_col)
        .select(
            F.col(id_col),
            "term",
            "df",
            F.floor(
                F.col("__u").cast("double")
                * F.lit(1_000_000.0)
                / F.sqrt(F.col("__n2u").cast("double"))
                + F.lit(0.5)
            )
            .cast("long")
            .alias("w"),
        )
        .filter(F.col("w") > 0)
    )
    n2 = w.groupBy(id_col).agg(F.sum(F.col("w") * F.col("w")).alias("n2"))
    return w.join(n2, id_col)


def snapshot_staleness(
    new_docs: DataFrame,
    stored_weights: DataFrame,
    id_col: str,
    text_col: str,
    unseen_ppm_threshold: int = 100_000,
    chi2_micros_threshold: int = 100_000,
) -> DataFrame:
    """Drift monitor for the FROZEN df snapshot the incremental tier
    scores against (VERDICT r9 task #4 — the missing last piece of
    the incremental story): every batch is weighted against the
    snapshot built at ``apss_index_fit`` time, which is sound but
    degrades as the live term distribution drifts away from it
    (unseen terms all take the maximum-weight df=1 reading; stale df
    ranks mis-order prefixes, lengthening them). This probe measures
    that drift per batch with two cheap integer statistics and says
    REBUILD when either crosses its threshold — the
    ``txtable.auto_optimize`` arrangement (measure, threshold,
    trigger), applied to index freshness:

    - ``unseen_ppm``: parts-per-million of the batch's (doc, term)
      occurrence rows whose term the snapshot has never seen — i.e.
      the rate at which ``snapshot_weights``'s conservative df=1
      fallback is actually firing. New vocabulary is the loudest
      drift signal and costs one anti-join-shaped aggregate.
    - ``chi2_micros``: the exact chi-squared DISTANCE
      (``profile.chi2_from_bin_counts`` — integer micros, range
      [0, 2e6]) between the snapshot's and the batch's (doc, term)
      occupancy over log2(df) buckets, with unseen terms reading
      df=1. Catches REDISTRIBUTION drift that unseen-rate misses: a
      once-rare term going ubiquitous moves occurrence mass across
      df magnitudes with zero new vocabulary.

    Both statistics are bounded integer algebra over <= ~40 df
    buckets plus one term-keyed join against the bounded per-term
    snapshot — per-batch cost is one pass over the batch's tokens,
    nothing corpus-sized. Deterministic, so a SQL oracle replays it
    bit-for-bit. Returns ONE row: (n_snapshot, n_batch, unseen_ppm,
    chi2_micros, rebuild) with ``rebuild`` 1 when either statistic
    crosses its threshold. The trigger's contract mirrors
    ``auto_optimize``: the CALLER runs ``apss_index_fit`` on
    rebuild=1 (a monitor must never mutate the index it measures
    mid-stream). Undefined on a batch with ZERO non-empty tokens —
    unseen_ppm's denominator is the batch's (doc, term) row count and
    chi2 carries the same empty-side assert as KS; streaming callers
    skip the monitor row for such batches (``stream_apss_index``)."""
    from lakeflow.operators.profile import chi2_from_bin_counts

    tf = (
        new_docs.select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
        .filter(F.col("term") != "")
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("__tf"))
        .select(F.col(id_col), "term")
    )
    snap = stored_weights.groupBy("term").agg(F.max("df").alias("__sdf"))
    # two consumers (bucket occupancy + unseen-rate aggregate)
    probe = persist(tf.join(snap, "term", "left"))

    # log2-magnitude df bucket: length(bin(df)) — the loghist/HLL rho
    # device, identical on both engines; unseen terms read df=1
    def _bucket(dfc: Column) -> Column:
        return F.length(F.bin(dfc)).cast("long")

    obs = probe.groupBy(
        _bucket(F.coalesce(F.col("__sdf"), F.lit(1).cast("long"))).alias("__bk")
    ).agg(F.count(F.lit(1)).cast("long").alias("__nb"))
    # snapshot side: stored_weights is already one row per (doc, term)
    exp = stored_weights.groupBy(_bucket(F.col("df")).alias("__bk")).agg(
        F.count(F.lit(1)).cast("long").alias("__na")
    )
    per_bin = (
        exp.join(obs, "__bk", "full_outer")
        .select(
            "__bk",
            F.coalesce(F.col("__na"), F.lit(0).cast("long")).alias("__na"),
            F.coalesce(F.col("__nb"), F.lit(0).cast("long")).alias("__nb"),
        )
    )
    chi2 = chi2_from_bin_counts(per_bin, "__bk", "__na", "__nb").select(
        F.col("n_a").alias("n_snapshot"),
        F.col("n_b").alias("n_batch"),
        "chi2_micros",
    )
    unseen = probe.agg(
        F.expr(
            "CAST((CAST(SUM(CASE WHEN __sdf IS NULL THEN 1 ELSE 0 END) "
            "AS BIGINT) * 1000000) div COUNT(*) AS BIGINT)"
        ).alias("unseen_ppm")
    )
    return chi2.crossJoin(F.broadcast(unseen)).select(
        "n_snapshot",
        "n_batch",
        "unseen_ppm",
        "chi2_micros",
        F.when(
            (F.col("unseen_ppm") > F.lit(int(unseen_ppm_threshold)))
            | (F.col("chi2_micros") > F.lit(int(chi2_micros_threshold))),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("rebuild"),
    )


def incremental_apss_pairs(
    new_docs: DataFrame,
    stored_weights: DataFrame,
    stored_prefix: DataFrame,
    id_col: str,
    text_col: str,
    threshold_micros: int = 600_000,
    new_weights: DataFrame | None = None,
) -> DataFrame:
    """EXACT weighted-cosine pairs involving at least one NEW document,
    against the persisted weight + prefix relations — the incremental
    tier of :func:`apss_join` (the pattern of
    ``setsim.incremental_setsim_pairs``): an ingest batch costs
    |batch| × prefix-posting density plus candidate-bound
    verification, never |corpus|², and old×old pairs are never
    regenerated.

    - NEW×STORED: candidates are FULL(new) × stored PREFIX on term —
      the one-sided suffix-bound guarantee holds per pair with the
      stored document as the prefix side, and the norm-only persisted
      prefix (:func:`apss_prefix_index`) stays sound against
      documents that postdate it. The batch tier's pair ACCUMULATION
      filter carries over: per pair, the exact partial dot over the
      generated rows plus min(ns_after_new) * tail_norm_stored bounds
      everything the generated rows missed (the new side's rarest-
      first order is the SNAPSHOT df order — snapshot_weights keys it
      — and unseen-in-snapshot terms can never be shared with a
      stored document, so the shared-order argument is unchanged).
      Verification joins the candidate pairs to per-doc (term, w)
      maps built batch-bounded on the new side and CANDIDATE-bounded
      on the stored side (a semi-join on the candidate ids gates the
      stored groupBy — no corpus-wide array materialization per
      batch).
    - NEW×NEW: exactly the batch machinery (:func:`_pairs_from_weights`)
      over the batch's snapshot-weighted relation, exact-duplicate
      collapse included.

    The new×stored tier collapses exact-duplicate NEW vectors to one
    representative before the candidate join (k copies of a template
    in one batch probe the stored prefix index once, not k times) and
    expands representatives back through batch membership at output.
    Same-id matches are dropped and the final union is DISTINCT, so a
    crashed-and-replayed batch whose rows were already appended to the
    stored relations degrades to duplicate pairs that collapse, never
    wrong answers (weights re-derive deterministically from the
    snapshot). ``threshold_micros`` must be >= the threshold
    ``stored_prefix`` was built with. Returns ({id}_a, {id}_b,
    cos_micros) with id_a < id_b."""
    if new_weights is None:
        new_weights = snapshot_weights(new_docs, stored_weights, id_col, text_col)
    new_weights = persist(new_weights)

    # batch-side exact-duplicate collapse (the batch tier's wedge
    # killer, scoped to the batch: stored docs index individually)
    fp = new_weights.groupBy(id_col).agg(
        F.md5(
            F.to_json(F.array_sort(F.collect_list(F.struct("term", "w"))))
        ).alias("__fp")
    )
    groups = fp.select(F.col(id_col), "__fp")
    reps = groups.groupBy("__fp").agg(F.min(id_col).alias("__rep"))
    members = persist(
        groups.join(reps, "__fp").select("__fp", F.col(id_col), F.col("__rep"))
    )
    w_rep = new_weights.join(
        members.filter(F.col(id_col) == F.col("__rep")).select(id_col),
        id_col,
        "left_semi",
    )

    rel = _suffix_norms(w_rep, id_col).select(
        F.col(id_col).alias("__ida"),
        "term",
        F.col("w").alias("__wa"),
        F.col("ns_after").alias("__naa"),
    )
    pre = stored_prefix.select(
        F.col(id_col).alias("__idb"),
        "term",
        F.col("w").alias("__wb"),
        F.col("tail_norm").alias("__tnb"),
    )
    kill = F.lit(max(int(threshold_micros) - 64, 0)) * F.lit(1_000_000).cast(
        "long"
    )
    cand = (
        rel.join(pre, "term")
        .filter(F.col("__ida") != F.col("__idb"))
        .select(
            "__ida",
            "__idb",
            (F.col("__wa") * F.col("__wb")).alias("__prod"),
            F.col("__naa"),
            F.col("__tnb"),
        )
        .groupBy("__ida", "__idb")
        .agg(
            (F.sum("__prod") + F.min("__naa") * F.max("__tnb")).alias("__ub")
        )
        .filter(F.col("__ub") >= kill)
        .select(F.col("__ida").alias("__pa"), F.col("__idb").alias("__pb"))
    )
    cand = persist(cand)  # read by the semi-join AND the verify

    def _arrs(wrel: DataFrame) -> DataFrame:
        return wrel.groupBy(id_col).agg(
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("term", "w")))
            ).alias("__m"),
            F.first("n2").alias("__n2"),
        )

    a = _arrs(w_rep).select(
        F.col(id_col).alias("__pa"),
        F.col("__m").alias("__ma"),
        F.col("__n2").alias("__n2a"),
    )
    # dedup AFTER the semi-join (candidate-bounded, so the extra
    # shuffle touches only candidate docs, never the corpus): a
    # crashed-and-replayed ingest batch appends its (id, term) weight
    # rows twice (stream_apss_index appends are not token-fenced), and
    # duplicate keys would raise DUPLICATE_MAP_KEY in the map build
    # below. Replay rows are bit-identical, so dropDuplicates is
    # deterministic. (The df snapshot is already dup-safe — snapshot
    # df is a MAX per term — and duplicated stored PREFIX rows only
    # inflate the candidate upper bound, which is sound: extra
    # candidates re-verify exactly, no pair is ever lost.)
    stored_cand_w = stored_weights.join(
        cand.select(F.col("__pb").alias(id_col)), id_col, "left_semi"
    ).dropDuplicates([id_col, "term"])
    b = _arrs(stored_cand_w).select(
        F.col(id_col).alias("__pb"),
        F.col("__m").alias("__mb"),
        F.col("__n2").alias("__n2b"),
    )
    dot = F.aggregate(
        F.map_entries("__ma"),
        F.lit(0).cast("long"),
        lambda acc, e: acc
        + e["value"]
        * F.coalesce(F.element_at("__mb", e["key"]), F.lit(0).cast("long")),
    )
    rep_pairs = (
        cand.join(a, "__pa")
        .join(b, "__pb")
        .select(
            "__pa",
            "__pb",
            cosine_micros(dot, F.col("__n2a"), F.col("__n2b")).alias("cos_micros"),
        )
        .filter(F.col("cos_micros") >= F.lit(int(threshold_micros)))
    )

    # expand new-side representatives back through batch membership.
    # The __ea != __pb guard mirrors the candidate join's
    # __ida != __idb filter one level later: when a replayed batch's
    # rows already reached the index AND the batch contains in-batch
    # exact duplicates, a non-representative member __ea can equal the
    # stored id __pb — without the filter the expansion would emit a
    # self-pair (id_a == id_b, cos 1e6), violating the id_a < id_b
    # contract.
    ma = members.select(F.col("__rep").alias("__pa"), F.col(id_col).alias("__ea"))
    ns = rep_pairs.join(ma, "__pa").filter(
        F.col("__ea") != F.col("__pb")
    ).select(
        F.least("__ea", "__pb").alias(f"{id_col}_a"),
        F.greatest("__ea", "__pb").alias(f"{id_col}_b"),
        "cos_micros",
    )
    nn = _pairs_from_weights(new_weights, id_col, threshold_micros)
    return ns.unionByName(nn).distinct()


def apss_index_fit(
    seed_corpus: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold_micros: int = 600_000,
) -> None:
    """Build and persist the incremental APSS index from a seed corpus
    (the build half of the build/serve split, mirroring
    ``kmeans.semantic_index_fit``):

    - ``{index_path}/weights``: the :func:`weighted_terms` relation —
      the df SNAPSHOT every future batch is weighted against;
    - ``{index_path}/prefix``: the norm-only
      :func:`apss_prefix_index` rows at ``threshold_micros``.

    Both are flat long/string relations (parquet-friendly, no maps).
    df drift is handled by a periodic refit + index rebuild
    (deterministic, replayable) — never per-batch mutation of stored
    weights, which would require re-normalizing the whole corpus."""
    with scoped_cache():
        w = weighted_terms(seed_corpus, id_col, text_col)
        w.write.mode("overwrite").parquet(f"{index_path}/weights")
        apss_prefix_index(
            # re-read the just-written relation: the prefix window then
            # scans parquet once instead of re-running the weight
            # aggregates a second time inside the same job
            w.sparkSession.read.parquet(f"{index_path}/weights"),
            id_col,
            threshold_micros,
        ).write.mode("overwrite").parquet(f"{index_path}/prefix")
