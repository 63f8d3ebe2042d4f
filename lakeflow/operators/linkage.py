"""Record linkage / entity resolution: blocking, field-similarity
scoring, weighted match classification (SURVEY §2.12 extension — the
fuzzy complement to content dedup: the same real-world entity arriving
from two sources with TYPOS, not byte-identical payloads).

The reference has no linkage; its upserts assume clean natural keys.
Real multi-source lakes (the reference's mailgun + iterable + mongo
fan-in is exactly that shape) need probabilistic matching before a
merge key exists at all. Design follows the classical Fellegi-Sunter
decomposition, Spark-first:

- **Blocking** (candidate generation): NEVER all-pairs. Records are
  compared only within equi-join buckets on cheap deterministic keys
  (phone prefix, normalized-name prefix, geo cell ...). This is the
  same shuffle shape as every other candidate stage in this repo (LSH
  bands, setsim prefixes): an equi-join on a low-fanout key, so
  candidate cost is sum(block^2), not corpus^2 — and multiple blocking
  passes union'd (phone-block OR name-block) recover pairs a single
  noisy key would miss, at the cost of a distinct.
- **Field similarity**: per compared field, an EXACT integer
  edit-similarity in micro-units:
  ``sim = floor((maxlen - levenshtein) * 1e6 / maxlen)`` (1e6 when
  both sides are empty). Levenshtein is a JVM built-in (codegen), and
  the integer arithmetic reproduces bit-for-bit in any engine — the
  whole scorer is SQL-mirrorable, so linkage output is
  oracle-checkable like every other operator here.
- **Match score**, two tiers over the same candidate relation:
  (a) caller-weighted mean ``score = floor(sum(w_i * sim_i) /
  sum(w_i))`` (:func:`record_linkage` — zero fitting, good first
  pass); (b) the full probabilistic model — :func:`fit_fs_em` learns
  per-field m = P(agree|match), u = P(agree|non-match) and the match
  prior by UNSUPERVISED EM (one aggregate per round, posteriors
  quantized to integer micro-units so the sums are exact and the whole
  fit replays in a SQL oracle), and :func:`fs_posteriors` folds the
  fitted parameters into a codegen posterior per candidate.
- **Classification**: ``score >= threshold_micros`` → candidate match
  pair (id_a, id_b, score). Downstream, pairs feed the SAME
  connected-components + survivor machinery as content dedup
  (``operators/clusters.py``): linkage pairs -> entity clusters ->
  one canonical record per entity.

Scale: blocking keys are chosen so blocks stay O(1)-ish; the scorer
runs only on candidates; levenshtein cost is O(len_a * len_b) per
candidate on short identity fields (names, addresses — tens of chars),
far cheaper than the document-scale edit distances the near-dup
pipeline guards with md5 short-circuits. Skewed blocks (a default
phone prefix, an empty name) are the blocking-key analogue of LSH hot
buckets — ``max_block_size`` drops them the same way (a block that
degenerate carries no discriminating signal anyway).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MICRO = 1_000_000


def edit_similarity_micros(a: Column, b: Column) -> Column:
    """Exact integer edit similarity in [0, 1e6]:
    ``floor((maxlen - lev) * 1e6 / maxlen)``, 1e6 if both empty,
    0 if exactly one is empty/null. All-integer (the division is exact
    in double far below 2^53), so any SQL engine mirrors it."""
    a = F.coalesce(a, F.lit(""))
    b = F.coalesce(b, F.lit(""))
    ml = F.greatest(F.length(a), F.length(b))
    sim = F.floor(
        (ml - F.levenshtein(a, b)).cast("double") * F.lit(MICRO) / ml.cast("double")
    ).cast("long")
    return F.when(ml == 0, F.lit(MICRO).cast("long")).otherwise(sim)


def sql_edit_similarity(a: str, b: str) -> str:
    """DuckDB mirror of :func:`edit_similarity_micros` for oracles."""
    a = f"COALESCE({a}, '')"
    b = f"COALESCE({b}, '')"
    ml = f"GREATEST(LENGTH({a}), LENGTH({b}))"
    return (
        f"CASE WHEN {ml} = 0 THEN 1000000 ELSE "
        f"CAST(FLOOR(CAST(({ml} - levenshtein({a}, {b})) AS DOUBLE) "
        f"* 1000000e0 / CAST({ml} AS DOUBLE)) AS BIGINT) END"
    )


def record_linkage(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    fields: Sequence[tuple[str, str, int]],
    block_keys: Sequence[tuple[Column, Column]],
    threshold_micros: int = 800_000,
    max_block_size: int | None = None,
) -> DataFrame:
    """Probabilistic linkage between two record sets.

    ``fields``: (left_col, right_col, weight) triples — each compared
    by exact integer edit similarity, combined as the weight-averaged
    score. ``block_keys``: (left_expr, right_expr) blocking passes;
    candidates are the UNION of the per-pass equi-joins (distinct on
    the id pair), so one noisy key doesn't lose the pair. Returns
    (left_id, right_id, score_micros, match) for every candidate, with
    ``match`` = score >= threshold — keeping near-miss candidates
    visible is what lets a clerical-review band be carved out later
    (the Fellegi-Sunter three-way decision). Self-linkage callers
    (left is right) rename one side's id column first (distinct
    ``left_id``/``right_id`` names are required — see
    :func:`scored_candidates`) and pre-filter ``left_id < right_id``
    downstream to drop mirrored pairs.

    ``max_block_size`` drops degenerate blocks (both sides) before the
    join, exactly like the LSH hot-bucket cap: a blocking key shared by
    thousands of records carries no signal and would quadratically
    dominate the candidate count."""
    scored = scored_candidates(
        left, right, left_id, right_id, fields, block_keys, max_block_size
    )
    total_w = sum(w for _l, _r, w in fields)
    acc = None
    for i, (_lf, _rf, w) in enumerate(fields):
        term = F.col(f"sim_{i}") * F.lit(w)
        acc = term if acc is None else acc + term
    score = F.floor(acc.cast("double") / F.lit(total_w)).cast("long")
    return scored.select(
        F.col(left_id),
        F.col(right_id),
        score.alias("score_micros"),
        (score >= F.lit(threshold_micros)).alias("match"),
    )


def scored_candidates(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    fields: Sequence[tuple[str, str, int]],
    block_keys: Sequence[tuple[Column, Column]],
    max_block_size: int | None = None,
) -> DataFrame:
    """Blocking + per-field similarity, the shared front half of both
    scorers: candidate pairs (union of the blocking passes, distinct,
    degenerate blocks capped) with one exact-integer edit-similarity
    column per compared field — (left_id, right_id, sim_0..sim_{k-1}).
    :func:`record_linkage` collapses the sims to a weighted mean;
    :func:`fit_fs_em` + :func:`fs_posteriors` fit and apply the
    Fellegi-Sunter probabilistic model over the same relation.

    ``left_id`` and ``right_id`` must be DISTINCT names: the output
    carries both as pair columns, so a shared name would be ambiguous
    to every downstream select (and to the blocking join itself).
    Self-linkage callers rename one side first, e.g.
    ``right.withColumnRenamed(id, id + "_b")``."""
    if left_id == right_id:
        raise ValueError(
            f"scored_candidates: left_id and right_id share the name "
            f"{left_id!r}; rename one side first (e.g. "
            f"right.withColumnRenamed({left_id!r}, {left_id + '_b'!r})) "
            f"so the output pair columns stay distinguishable"
        )
    # compared fields get positional internal names: the two sides
    # routinely share column names (both have "name"), which would make
    # the scoring joins ambiguous
    l_base = left.select(
        F.col(left_id),
        *[F.col(lf).alias(f"__lf{i}") for i, (lf, _rf, _w) in enumerate(fields)],
    )
    r_base = right.select(
        F.col(right_id),
        *[F.col(rf).alias(f"__rf{i}") for i, (_lf, rf, _w) in enumerate(fields)],
    )

    cands = None
    for lk, rk in block_keys:
        # blocking keys may use columns outside `fields` (phone, geo
        # cell ...) — derive them from the full input frames
        a = left.select(F.col(left_id), lk.alias("__bk"))
        b = right.select(F.col(right_id), rk.alias("__bk"))
        if max_block_size is not None:
            cap = max_block_size
            asz = a.groupBy("__bk").agg(F.count(F.lit(1)).alias("__n"))
            bsz = b.groupBy("__bk").agg(F.count(F.lit(1)).alias("__n"))
            a = a.join(asz.filter(F.col("__n") <= cap).select("__bk"), "__bk")
            b = b.join(bsz.filter(F.col("__n") <= cap).select("__bk"), "__bk")
        # PIN the pairing join to sort-merge: at corpus scale BOTH
        # sides of a blocking join are data-proportional, so SMJ on the
        # block key is the only shape that survives — and without the
        # hint the plan is BISTABLE at gate scale (Catalyst broadcasts
        # when the upstream cache happens to be materialized, falls
        # back to SMJ on size estimates otherwise; the plan-snapshot
        # gate flaked exactly on that flip). AQE still handles skewed
        # block keys by splitting SMJ partitions at runtime.
        pairs = a.hint("merge").join(b, "__bk").select(left_id, right_id)
        cands = pairs if cands is None else cands.unionByName(pairs)
    cand = cands.distinct()

    joined = cand.join(l_base, left_id).join(r_base, right_id)
    return joined.select(
        F.col(left_id),
        F.col(right_id),
        *[
            edit_similarity_micros(
                F.col(f"__lf{i}"), F.col(f"__rf{i}")
            ).alias(f"sim_{i}")
            for i in range(len(fields))
        ],
    )


def resolve_entities(
    pairs: DataFrame,
    records: DataFrame,
    id_col: str,
    left_id: str = "id_a",
    right_id: str = "id_b",
) -> DataFrame:
    """Linkage pairs -> entity ids: connected components over the match
    graph (``clusters.connected_components``, the dedup cluster step:
    each entity id is the minimum record id reachable), then one row
    per record tagged ``entity_id``.
    Records matched to nothing keep their own id as the entity id.
    Survivorship (one canonical row per entity) is then the same
    latest-wins/cluster-rank pattern as dedup survivors."""
    from lakeflow.operators.clusters import connected_components

    clustered = connected_components(
        pairs, left_id, right_id, out_id=id_col, out_label="__entity"
    )
    return (
        records.join(clustered, id_col, "left")
        .withColumn("entity_id", F.coalesce(F.col("__entity"), F.col(id_col)))
        .drop("__entity")
    )


def incremental_linkage_pairs(
    new: DataFrame,
    stored: DataFrame,
    id_col: str,
    fields: Sequence[tuple[str, int]],
    block_keys: Sequence[Column],
    threshold_micros: int = 800_000,
    max_block_size: int | None = None,
) -> DataFrame:
    """Linkage pairs involving at least one NEW record, against a
    PERSISTED record set — the incremental tier of entity resolution
    (the linkage analogue of ``setsim.incremental_setsim_pairs``): an
    ingest batch's cost is new×block-density plus scoring on
    candidates, never |corpus|², and stored×stored pairs are never
    regenerated.

    Both frames share one schema (self-linkage domain), so ``fields``
    is (col, weight) and ``block_keys`` one expression per pass,
    evaluated on each side. Candidates per pass are
    new×stored ∪ new×new on the block key; the degenerate-block cap is
    evaluated against the COMBINED (new + stored) block size, so the
    incremental result is bit-identical to a batch recompute over the
    union — the cap must not depend on how the corpus was split into
    batches. (In production the stored per-block counts are a
    persisted additive rollup, maintained like the element index;
    here they are one aggregate over the stored side.)

    Replay safety: pairs are normalized to ``{id}_a < {id}_b`` and
    same-id matches are dropped, so a crashed-and-replayed batch whose
    rows already reached the stored set degrades to pure duplicate
    pairs (consumers ``distinct()``), exactly the setsim contract.
    Returns ({id}_a, {id}_b, score_micros, match)."""
    ida, idb = f"{id_col}_a", f"{id_col}_b"
    cands = None
    for bk in block_keys:
        a = new.select(F.col(id_col).alias(ida), bk.alias("__bk"))
        b = stored.select(F.col(id_col).alias(idb), bk.alias("__bk"))
        if max_block_size is not None:
            an = a.groupBy("__bk").agg(F.count(F.lit(1)).alias("__na"))
            bn = b.groupBy("__bk").agg(F.count(F.lit(1)).alias("__nb"))
            ok = (
                an.join(bn, "__bk", "full")
                .filter(
                    F.coalesce(F.col("__na"), F.lit(0))
                    + F.coalesce(F.col("__nb"), F.lit(0))
                    <= F.lit(max_block_size)
                )
                .select("__bk")
            )
            a = a.join(ok, "__bk")
            b = b.join(ok, "__bk")
        ns = a.join(b, "__bk").select(ida, idb)
        # new×new: join the capped new side with itself, keep one
        # orientation (the batch relation `a` is reused for both sides)
        nn = (
            a.alias("__l")
            .join(a.alias("__r"), "__bk")
            .select(
                F.col(f"__l.{ida}").alias(ida),
                F.col(f"__r.{ida}").alias(idb),
            )
            .filter(F.col(ida) < F.col(idb))
        )
        pairs = ns.unionByName(nn)
        cands = pairs if cands is None else cands.unionByName(pairs)
    cand = (
        cands.filter(F.col(ida) != F.col(idb))
        .select(
            F.least(ida, idb).alias(ida), F.greatest(ida, idb).alias(idb)
        )
        .distinct()
    )
    base = new.unionByName(stored).select(
        F.col(id_col),
        *[F.col(c).alias(f"__f{i}") for i, (c, _w) in enumerate(fields)],
    )
    joined = (
        cand.join(base.withColumnRenamed(id_col, ida), ida)
        .join(
            base.select(
                F.col(id_col).alias(idb),
                *[
                    F.col(f"__f{i}").alias(f"__g{i}")
                    for i in range(len(fields))
                ],
            ),
            idb,
        )
    )
    total_w = sum(w for _c, w in fields)
    acc = None
    for i, (_c, w) in enumerate(fields):
        term = edit_similarity_micros(
            F.col(f"__f{i}"), F.col(f"__g{i}")
        ) * F.lit(w)
        acc = term if acc is None else acc + term
    score = F.floor(acc.cast("double") / F.lit(total_w)).cast("long")
    return joined.select(
        F.col(ida),
        F.col(idb),
        score.alias("score_micros"),
        (score >= F.lit(threshold_micros)).alias("match"),
    )


def incremental_resolve_entities(
    match_pairs: DataFrame,
    stored_assignments: DataFrame,
    new_records: DataFrame,
    id_col: str,
    entity_col: str = "entity_id",
) -> DataFrame:
    """Fold a batch's match pairs into a PERSISTED entity assignment
    table — incremental connected components without re-running the
    stored×stored linkage. ``stored_assignments`` is (id, entity_id)
    where entity ids are minimum-id component representatives (i.e.
    :func:`resolve_entities` output — each entity id IS a member
    record id); ``match_pairs`` is :func:`incremental_linkage_pairs`
    output filtered to matches.

    The trick: the stored assignment table is a STAR-EDGE encoding of
    the old component structure (record—representative), so components
    over (new match pairs ∪ stored star edges) equal components over
    (all pairs ever seen) — and because minimum-id representatives are
    member ids, the merged components' min labels equal a full batch
    recompute's. Cost per batch: components over |batch pairs| +
    |stored records| star edges, never the historical pair set.
    Returns the UPDATED full assignment table
    (id, entity_id) covering stored ∪ new records; entity ids of
    stored records only change when a new record bridges two old
    entities — exactly the batch-recompute semantics."""
    from lakeflow.operators.clusters import connected_components

    ida, idb = f"{id_col}_a", f"{id_col}_b"
    stars = stored_assignments.filter(
        F.col(entity_col) != F.col(id_col)
    ).select(F.col(id_col).alias(ida), F.col(entity_col).alias(idb))
    edges = match_pairs.select(ida, idb).unionByName(stars)
    clustered = connected_components(
        edges, ida, idb, out_id=id_col, out_label="__e"
    )
    all_ids = (
        stored_assignments.select(id_col)
        .unionByName(new_records.select(id_col))
        .distinct()
    )
    return (
        all_ids.join(clustered, id_col, "left")
        .withColumn(entity_col, F.coalesce(F.col("__e"), F.col(id_col)))
        .drop("__e")
    )


def _fs_posterior_micros(
    flags: Sequence[Column], lam: float, ms: Sequence[float], us: Sequence[float]
) -> Column:
    """Match posterior for one candidate, quantized to micro-units:
    ``p = lam*prod(f(m_i)) / (lam*prod(f(m_i)) + (1-lam)*prod(f(u_i)))``
    with f selecting m/u on agreement and 1-m/1-u on disagreement.
    The (lam, m, u) parameters fold in as double literals, so the
    whole E-step is one codegen expression per row; quantizing the
    posterior to an integer BEFORE any aggregation is what makes the
    EM sums exact and partition-order-independent (raw double sums
    are not associative)."""
    num = F.lit(float(lam))
    den = F.lit(float(1.0 - lam))
    for a, m, u in zip(flags, ms, us):
        num = num * F.when(a, F.lit(float(m))).otherwise(F.lit(float(1.0 - m)))
        den = den * F.when(a, F.lit(float(u))).otherwise(F.lit(float(1.0 - u)))
    p = num / (num + den)
    return F.floor(p * F.lit(MICRO) + F.lit(0.5)).cast("long")


def fit_fs_em(
    scored: DataFrame,
    n_fields: int,
    agree_threshold_micros: int = 800_000,
    n_rounds: int = 2,
    lam: float = 0.5,
    m0: float = 0.9,
    u0: float = 0.1,
) -> tuple[float, list[float], list[float]]:
    """Fit Fellegi-Sunter parameters by EM over the candidate relation
    (:func:`scored_candidates` output): per field, m = P(agree|match)
    and u = P(agree|non-match), plus the match prior lam — UNSUPERVISED,
    which is the point: no labeled pairs exist when two sources first
    meet. Agreement is the binarized similarity (sim >= threshold).

    Each round is ONE aggregate over the candidates: the posterior is a
    folded-literal codegen expression quantized to integer micro-units
    (see :func:`_fs_posterior_micros`), so every EM sum is an exact
    long and the fit is deterministic across partitionings AND
    reproducible in a SQL oracle; the M-step divisions happen
    driver-side on the collected 1-row sums (bounded collect, the
    k-means/PQ training pattern). Rounds are fixed, not
    convergence-tested — each costs one scan, and two rounds already
    separate planted match/non-match populations (tested).

    Returns (lam, [m_i], [u_i]). Degenerate corpora (all candidates
    match, or none) drive S -> N*1e6 or S -> 0; the M-step guards those
    divisions by holding the affected parameter at its prior round's
    value rather than dividing by zero."""
    flags = [
        F.col(f"sim_{i}") >= F.lit(agree_threshold_micros)
        for i in range(n_fields)
    ]
    ms = [m0] * n_fields
    us = [u0] * n_fields
    for _ in range(n_rounds):
        p = _fs_posterior_micros(flags, lam, ms, us)
        aggs = [
            F.sum(p).alias("S"),
            F.count(F.lit(1)).alias("N"),
        ]
        for i, a in enumerate(flags):
            aggs.append(F.sum(F.when(a, p).otherwise(F.lit(0))).alias(f"SA{i}"))
            aggs.append(F.sum(a.cast("long")).alias(f"T{i}"))
        row = scored.agg(*aggs).collect()[0]
        # empty candidate relation: SUM over zero rows is null — there
        # is nothing to fit, so hold the current (prior) parameters
        # rather than crashing on int(None). NOTE: the q_fs_linkage SQL
        # oracle replays the EM rounds assuming a non-degenerate
        # candidate set; on an empty corpus the Python side returns the
        # priors while the oracle CTEs would also see no rows, so the
        # parity contract only covers non-empty candidate relations.
        if row["S"] is None or int(row["N"]) == 0:
            return lam, ms, us
        s, n = int(row["S"]), int(row["N"])
        nm = n * 1_000_000 - s  # total non-match posterior mass (micro)
        if 0 < s:
            lam = s / (n * 1_000_000)
        for i in range(n_fields):
            sa, t = int(row[f"SA{i}"]), int(row[f"T{i}"])
            if s > 0:
                ms[i] = sa / s
            if nm > 0:
                us[i] = (t * 1_000_000 - sa) / nm
    return lam, ms, us


def fs_posteriors(
    scored: DataFrame,
    params: tuple[float, list[float], list[float]],
    agree_threshold_micros: int = 800_000,
    match_threshold_micros: int = 500_000,
) -> DataFrame:
    """Apply fitted Fellegi-Sunter parameters: every candidate tagged
    with its match posterior (integer micro-units) and the threshold
    decision — (left_id, right_id, sims..., posterior_micros, match).
    One narrow codegen projection over the candidate relation; the
    parameters are folded literals, so serving cost is independent of
    how the model was fit."""
    lam, ms, us = params
    n_fields = len(ms)
    flags = [
        F.col(f"sim_{i}") >= F.lit(agree_threshold_micros)
        for i in range(n_fields)
    ]
    p = _fs_posterior_micros(flags, lam, ms, us)
    return scored.withColumn("posterior_micros", p).withColumn(
        "match", F.col("posterior_micros") >= F.lit(match_threshold_micros)
    )
