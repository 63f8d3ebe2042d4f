"""Embedding similarity search + MinHash-LSH near-dup detection
(SURVEY §2.12), designed for 100 TB:

- Vectors are converted ONCE to exact integer micro-units, so dot
  products are exact (and cross-engine reproducible) — every |v| <= 1
  gives per-term products < 2^41 and 64-dim sums < 2^47, well inside
  both long and double exactness.
- Brute-force top-k broadcasts the (small) query side over the big
  corpus scan: no shuffle of the corpus; per-query ranking is the
  bounded two-phase heap merge (``operators.topk``), never a per-q_id
  window funneling the whole scored corpus through one task.
- The scale path (LSH) buckets by deterministic hyperplane signs and
  joins only within buckets — candidate generation is an equi-join,
  which Catalyst shuffles hash-partitioned (AQE handles bucket skew).
- MinHash-LSH candidate pairs: explode shingles -> seeded min-hash
  signature (one hash-agg) -> banded equi-self-join. The shuffle keys
  are hashes/bands, never document bodies.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lakeflow.caching import persist, scoped_cache
from lakeflow.functions.hashing import seeded_hash
from lakeflow.operators.text import explode_shingles, shingles_from_tokens, tokens
from lakeflow.operators.topk import topk_per_key

MICRO = 1_000_000.0


def to_micro_ints(arr: Column | str) -> Column:
    """array<float> -> array<long> exact micro-units."""
    arr = F.col(arr) if isinstance(arr, str) else arr
    return F.transform(
        arr, lambda x: F.floor(x.cast("double") * F.lit(MICRO) + F.lit(0.5)).cast("long")
    )


def dot_long(a: Column, b: Column) -> Column:
    """Exact integer dot product of two long arrays (left fold)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def cosine_micros(dot: Column, n2a: Column, n2b: Column) -> Column:
    """Cosine similarity scaled to integer micro-units; all inputs are
    exact ints so the double ops are bit-reproducible everywhere."""
    cos = dot.cast("double") / (F.sqrt(n2a.cast("double")) * F.sqrt(n2b.cast("double")))
    return F.floor(cos * F.lit(MICRO) + F.lit(0.5)).cast("long")


#: Shortlist width for the greedy-selection local rounds (mmr_select /
#: kcenter_select): bounded driver memory (C rows x dim longs), large
#: enough that the certification bound rarely bites at k <= ~16. NOT a
#: correctness knob — an uncertifiable pick falls back to the
#: distributed round.
_SHORTLIST = 256


def _cosine_micros_py(dot: int, n2a: int, n2b: int):
    """Driver-local replica of :func:`cosine_micros` — the IDENTICAL
    IEEE double sequence (int -> double casts, one division, * 1e6,
    + 0.5, floor) so local greedy rounds reproduce the distributed
    integers bit-for-bit. Returns None when the value would not be a
    finite long (zero norms, overflowing doubles) — callers fall back
    to the distributed path there."""
    import math

    try:
        cos = float(dot) / (math.sqrt(float(n2a)) * math.sqrt(float(n2b)))
        v = cos * 1_000_000.0 + 0.5
        if not math.isfinite(v):
            return None
        return math.floor(v)
    except (ValueError, ZeroDivisionError, OverflowError):
        return None


def _with_vectors(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    v = to_micro_ints(vec_col)
    return emb.select(
        F.col(id_col), v.alias("__v")
    ).withColumn("__n2", dot_long(F.col("__v"), F.col("__v")))


def brute_force_topk(
    emb: DataFrame,
    query_pred: Column,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: corpus scan x broadcast(query rows).
    Returns (q_id, vec_id, cos_micros, rnk)."""
    base = _with_vectors(emb, id_col, vec_col)
    q = (
        _with_vectors(emb.filter(query_pred), id_col, vec_col)
        .withColumnRenamed(id_col, "q_id")
        .withColumnRenamed("__v", "__qv")
        .withColumnRenamed("__n2", "__qn2")
    )
    joined = base.join(F.broadcast(q), F.col(id_col) != F.col("q_id"))
    scored = joined.select(
        "q_id",
        id_col,
        cosine_micros(
            dot_long(F.col("__v"), F.col("__qv")), F.col("__n2"), F.col("__qn2")
        ).alias("cos_micros"),
    )
    return topk_per_key(scored, "q_id", "cos_micros", id_col, k, descending=True)


def hard_negatives(
    emb: DataFrame,
    query_pred: Column,
    k: int = 5,
    dup_threshold_micros: int = 950_000,
    min_cos_micros: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hard-negative mining for contrastive/retrieval training: per
    query vector, the ``k`` MOST similar corpus vectors that are NOT
    near-duplicates — cos in [``min_cos_micros``,
    ``dup_threshold_micros``). Random negatives are trivially easy for
    a model; near-duplicates are false negatives that poison the loss;
    the band between them is where training signal lives (the standard
    ANCE/DPR curation step).

    Same plan family as :func:`brute_force_topk` — corpus scan x
    broadcast(queries), exact integer cosine in codegen — with the band
    filter applied BEFORE the bounded two-phase top-k, so excluded
    rows never enter the heap. At scale the scan side swaps for the
    ANN shortlist (``lsh_ann_topk`` / ``ivf_pq_search`` with k >>
    shortlist) and this becomes the post-filter + re-rank stage; the
    band semantics are identical. Returns (q_id, vec_id, cos_micros,
    rnk)."""
    base = _with_vectors(emb, id_col, vec_col)
    q = (
        _with_vectors(emb.filter(query_pred), id_col, vec_col)
        .withColumnRenamed(id_col, "q_id")
        .withColumnRenamed("__v", "__qv")
        .withColumnRenamed("__n2", "__qn2")
    )
    joined = base.join(F.broadcast(q), F.col(id_col) != F.col("q_id"))
    scored = joined.select(
        "q_id",
        id_col,
        cosine_micros(
            dot_long(F.col("__v"), F.col("__qv")), F.col("__n2"), F.col("__qn2")
        ).alias("cos_micros"),
    ).filter(
        (F.col("cos_micros") < F.lit(dup_threshold_micros))
        & (F.col("cos_micros") >= F.lit(min_cos_micros))
    )
    return topk_per_key(scored, "q_id", "cos_micros", id_col, k, descending=True)


def plane_signs(table: int, j: int, dim: int) -> list[int]:
    """Static +/-1 hyperplane weights for (table, plane): derived from
    md5 parity, computed in Python and constant-folded into the plan —
    and reproducible verbatim inside a SQL oracle as a literal list."""
    return [
        1
        if int(hashlib.md5(f"{table}|{j}|{i}".encode()).hexdigest()[:4], 16) % 2 == 0
        else -1
        for i in range(dim)
    ]


def hyperplane_bucket(v: Column, n_planes: int, dim: int, table: int = 0) -> Column:
    """Deterministic sign-LSH bucket id: plane j's weights are +/-1
    derived from the seeded hash parity of (table,j,i); bit j of the
    bucket is the sign of the exact integer projection."""
    bucket = F.lit(0)
    for j in range(n_planes):
        signs = plane_signs(table, j, dim)
        proj = F.aggregate(
            F.zip_with(
                v,
                F.array([F.lit(s) for s in signs]),
                lambda x, s: x * s.cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(proj >= 0, F.lit(1 << j)).otherwise(F.lit(0))
    return bucket.cast("long")


def lsh_ann_topk(
    emb: DataFrame,
    query_pred: Column,
    k: int = 5,
    n_planes: int = 8,
    n_tables: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate NN via MULTI-TABLE sign-LSH: ``n_tables`` independent
    hyperplane sets; candidates share a bucket in ANY table (single-
    table LSH has recall ~= bucket-collision probability — measured 2%
    at 8 planes; 4 tables x 4 planes reaches usable recall). Exact
    cosine ranks the candidate union.

    The corpus is scanned once, exploded x n_tables on (table, bucket),
    and joined equi against the broadcast queries — at 100 TB this is
    the difference between a full cross product and a hash-partitioned
    join whose right side is tiny. Tune (n_planes, n_tables): more
    planes → smaller buckets → cheaper + lower recall; more tables
    buys recall back at linear candidate cost.

    Sizing rule: 2^n_planes buckets per table, so expected bucket size
    is corpus/2^n_planes — pick n_planes ≈ log2(corpus / target bucket
    size) (e.g. 1 B docs, ~1 k-doc buckets → 20 planes), then raise
    n_tables until measured recall clears the contract. The default
    n_planes=8 (256 buckets/table) is the floor below which the
    self-join degenerates toward all-pairs at corpus scale.
    """
    base = _with_vectors(emb, id_col, vec_col)
    tb = base.select(
        id_col,
        "__v",
        "__n2",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("t"),
                        hyperplane_bucket(F.col("__v"), n_planes, dim, t).alias("b"),
                    )
                    for t in range(n_tables)
                ]
            )
        ).alias("z"),
    ).select(id_col, "__v", "__n2", "z.t", "z.b")
    q = (
        tb.filter(query_pred)
        .withColumnRenamed(id_col, "q_id")
        .withColumnRenamed("__v", "__qv")
        .withColumnRenamed("__n2", "__qn2")
    )
    joined = tb.join(
        F.broadcast(q.select("q_id", "__qv", "__qn2", "t", "b")), on=["t", "b"]
    ).filter(F.col(id_col) != F.col("q_id"))
    # same pair can collide in several tables: dedupe after cheap scoring
    scored = joined.select(
        "q_id",
        id_col,
        cosine_micros(
            dot_long(F.col("__v"), F.col("__qv")), F.col("__n2"), F.col("__qn2")
        ).alias("cos_micros"),
    ).distinct()
    return topk_per_key(scored, "q_id", "cos_micros", id_col, k, descending=True)


def ivf_centroids(
    emb: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[int]]:
    """The build half of the IVF split (VERDICT r7 task #3): pick the
    ``n_cells`` deterministic seed centroids (corpus vectors in
    seeded-hash order — a k-means++-style seeding without iterative
    refinement, so results are reproducible across runs). Bounded
    collect (``n_cells`` rows). Persist the returned list beside the
    corpus and pass it to :func:`ivf_ann_topk` as ``centroids=`` so
    serving never pays the corpus-wide pick scan."""
    base = _with_vectors(emb, id_col, vec_col)
    picked = (
        base.select(
            id_col,
            "__v",
            seeded_hash(F.col(id_col).cast("string"), "ivf").alias("__h"),
        )
        .orderBy("__h", id_col)
        .limit(n_cells)
        .collect()
    )
    return [[int(x) for x in r["__v"]] for r in picked]


def _cell_scores_fn(cents: list[list[int]]):
    """Compact cell-scoring expression builder shared by assignment
    and probing: ONE nested-array literal + higher-order functions
    instead of n_cells x dim scalar literal nodes. The old form (16
    cells x 64 dims = 1024 Literal nodes, duplicated on the corpus and
    probe sides) cost ~1 s of Catalyst re-optimization per ACTION at
    ANY data size — plan-size overhead, not row work (measured r9:
    2,000-row sf0.1 corpus, 1.5 s ann vs 0.6 s brute force). The
    ~20-node zip_with/aggregate tree optimizes in milliseconds;
    per-row it trades whole-stage codegen for interpreted HOF
    evaluation, the right trade everywhere the corpus side is
    PREBUILT (``assignments=``) and only bounded query rows evaluate
    it. Scores are (s, i) structs so array_max keeps the historical
    tie resolution (max score, then max cell index)."""
    n_cells = len(cents)
    cmat = F.lit([[int(x) for x in c] for c in cents])
    c2l = F.lit([int(sum(x * x for x in c)) for c in cents])
    idx = F.sequence(F.lit(0), F.lit(n_cells - 1))

    def cell_scores(v: Column) -> Column:
        # argmin ||v-c||^2 == argmax 2*v.c - c.c (exact longs)
        scores = F.zip_with(
            cmat,
            c2l,
            lambda c, c2: F.aggregate(
                F.zip_with(v, c, lambda a, b: a * b),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
            * F.lit(2)
            - c2,
        )
        return F.zip_with(
            scores, idx, lambda s, i: F.struct(s.alias("s"), i.alias("i"))
        )

    return cell_scores


def ivf_assign(
    emb: DataFrame,
    centroids: list[list[int]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The inverted-file ASSIGNMENT relation (id, cell) — the second
    build-half of the IVF split (centroids being the first): one
    narrow map over the corpus scan, no shuffle. Persist this beside
    the corpus (append each ingest batch's rows — assignment is
    per-row and centroid-frozen) and pass it to :func:`ivf_ann_topk`
    as ``assignments=`` so serving never re-scores the corpus against
    the centroids: at 100 TB the corpus side of a query is then a
    column-pruned scan + equi-join on cell, zero per-row centroid
    math."""
    cell_scores = _cell_scores_fn(centroids)
    base = _with_vectors(emb, id_col, vec_col)
    return base.select(
        F.col(id_col),
        F.array_max(cell_scores(F.col("__v"))).getField("i").alias("cell"),
    )


def ivf_ann_topk(
    emb: DataFrame,
    query_pred: Column,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[int]] | None = None,
    assignments: DataFrame | None = None,
) -> DataFrame:
    """IVF-style approximate NN: partition the corpus into ``n_cells``
    Voronoi cells around deterministic centroids, probe the ``n_probe``
    nearest cells per query, rank candidates by exact cosine.

    Centroids are corpus vectors picked by seeded-hash order (a
    deterministic k-means++-style seeding without iterative refinement —
    trained centroids would be nondeterministic across runs, which
    breaks reproducible gates; swap in saved k-means centroids in
    production). The centroid list is bounded (``n_cells`` rows) so the
    driver-side collect is a broadcast-sized constant, folded into the
    plan as literals — cell assignment is then a narrow map over the
    scan (no shuffle), and the probe join is an equi-join on cell id
    against a broadcast query side: the 100 TB shape where the corpus
    never moves. Pass prebuilt ``centroids`` (from
    :func:`ivf_centroids`, persisted beside the corpus) to skip the
    pick scan entirely — the serving path then runs ZERO build jobs.
    Pass a prebuilt ``assignments`` relation too (:func:`ivf_assign`,
    persisted beside the corpus) and the corpus side stops re-scoring
    vectors against centroids at query time altogether — the full
    inverted-file serving shape. Returns (q_id, vec_id, cos_micros,
    rnk)."""
    base = _with_vectors(emb, id_col, vec_col)
    if centroids is None:
        centroids = ivf_centroids(emb, n_cells, id_col, vec_col)
    if len(centroids) != n_cells:
        raise ValueError(
            f"centroids holds {len(centroids)} vectors, expected n_cells={n_cells}"
        )
    cell_scores = _cell_scores_fn(centroids)

    if assignments is not None:
        # serving path: the corpus's (id, cell) relation is prebuilt
        # (ivf_assign, persisted beside the corpus) — zero corpus-side
        # centroid math per query. distinct() first: a crashed-and-
        # replayed ingest batch (stream_ivf_assign appends are not
        # token-fenced) leaves duplicate (id, cell) rows, and a
        # duplicated id would occupy two of the k ranks and displace a
        # genuinely distinct k-th neighbor. Cheap — the relation is
        # two longs.
        corpus = base.join(
            assignments.select(id_col, "cell").distinct(), id_col
        )
    else:
        corpus = base.select(
            id_col,
            "__v",
            "__n2",
            F.array_max(cell_scores(F.col("__v"))).getField("i").alias("cell"),
        )
    probes = (
        base.filter(query_pred)
        .select(
            F.col(id_col).alias("q_id"),
            F.col("__v").alias("__qv"),
            F.col("__n2").alias("__qn2"),
            F.slice(
                F.reverse(F.array_sort(cell_scores(F.col("__v")))), 1, n_probe
            ).alias("__cells"),
        )
        .select(
            "q_id",
            "__qv",
            "__qn2",
            F.explode(F.transform("__cells", lambda s: s.getField("i"))).alias(
                "cell"
            ),
        )
    )
    joined = corpus.join(F.broadcast(probes), "cell").filter(
        F.col(id_col) != F.col("q_id")
    )
    scored = joined.select(
        "q_id",
        id_col,
        cosine_micros(
            dot_long(F.col("__v"), F.col("__qv")), F.col("__n2"), F.col("__qn2")
        ).alias("cos_micros"),
    )
    return topk_per_key(scored, "q_id", "cos_micros", id_col, k, descending=True)


def embedding_near_dup(
    emb: DataFrame,
    min_cos_micros: int,
    n_planes: int = 8,
    n_tables: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs at corpus scale: sign-LSH
    buckets generate candidates (equi-self-join on (table, bucket) —
    never an all-pairs product), exact integer cosine verifies each
    candidate, threshold filters. Deterministic end-to-end (static
    hyperplanes, exact arithmetic), so a SQL oracle replaying the same
    planes reproduces it bit-for-bit. Returns
    (id_a, id_b, cos_micros) with id_a < id_b.

    The (id, table, bucket) relation is persisted — rows are 3 longs
    regardless of embedding width, so even corpus-scale it is far
    smaller than the vectors — which keeps the n_planes*n_tables
    projection folds computed (and codegen'd) once instead of once per
    self-join side.

    Bucket sizing: 2^n_planes buckets per table; see lsh_ann_topk's
    sizing rule. Default n_planes=8 = 256 buckets/table — the floor
    for corpus-scale self-joins."""
    base = _with_vectors(emb, id_col, vec_col)
    # candidate generation carries IDS ONLY: buckets + the banded
    # self-join shuffle narrow (id, table, bucket) rows, and distinct
    # collapses multi-table collisions BEFORE any dot product — vectors
    # rejoin per distinct pair afterwards (two equi-joins on id; the
    # corpus side is hash-partitioned once, never broadcast-dependent)
    tb = base.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("t"),
                        hyperplane_bucket(F.col("__v"), n_planes, dim, t).alias("b"),
                    )
                    for t in range(n_tables)
                ]
            )
        ).alias("z"),
    ).select(id_col, "z.t", "z.b")
    tb = persist(tb)
    a = tb.select(F.col(id_col).alias(f"{id_col}_a"), "t", "b")
    bb = tb.select(F.col(id_col).alias(f"{id_col}_b"), "t", "b")
    cand = (
        a.join(bb, ["t", "b"])
        .filter(F.col(f"{id_col}_a") < F.col(f"{id_col}_b"))
        .select(f"{id_col}_a", f"{id_col}_b")
        .distinct()
    )
    va = base.select(
        F.col(id_col).alias(f"{id_col}_a"),
        F.col("__v").alias("__va"),
        F.col("__n2").alias("__n2a"),
    )
    vb = base.select(
        F.col(id_col).alias(f"{id_col}_b"),
        F.col("__v").alias("__vb"),
        F.col("__n2").alias("__n2b"),
    )
    scored = (
        cand.join(va, f"{id_col}_a")
        .join(vb, f"{id_col}_b")
        .select(
            f"{id_col}_a",
            f"{id_col}_b",
            cosine_micros(
                dot_long(F.col("__va"), F.col("__vb")),
                F.col("__n2a"),
                F.col("__n2b"),
            ).alias("cos_micros"),
        )
    )
    return scored.filter(F.col("cos_micros") >= min_cos_micros)


def minhash_from_shingles(sh: DataFrame, id_col: str, k: int = 8) -> DataFrame:
    """k min-hashes from an already-exploded (id, s) shingle relation:
    one hash-agg with map-side partial min. The k hash functions are
    md5-digest slices (hash_slices) so only k/4 digests are computed per
    shingle — the digest is the dominant cost at scale. min() is
    duplicate-insensitive, so distinct and multiset shingle inputs give
    identical signatures (which is what lets near_dup_pairs share ONE
    distinct-shingle scan between signatures and verification).
    Returns (id_col, mh0..)."""
    from lakeflow.functions.hashing import hash_slices

    assert k % 4 == 0, "k must be a multiple of 4 (4 slices per digest)"
    seeds = tuple(chr(ord("a") + i) for i in range(k // 4))
    slices = hash_slices(F.col("s"), seeds)
    return sh.groupBy(id_col).agg(
        *[F.min(h).alias(f"mh{i}") for i, h in enumerate(slices)]
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, k: int = 8, shingle_n: int = 3
) -> DataFrame:
    """k min-hashes over word n-gram shingles: explode + single hash-agg
    (map-side partial min). Returns (id_col, mh0..)."""
    from lakeflow.catalog import fanout_scan

    # per-row shingle+md5 work dominates an under-parallel scan — fan
    # out first (guide §2.5; no-op on a well-laid-out lake table)
    ex = explode_shingles(fanout_scan(df), id_col, text_col, shingle_n)
    return minhash_from_shingles(ex, id_col, k)


def _bands_of(sig: DataFrame, id_col: str, k: int, band_size: int) -> DataFrame:
    """(id, band_id, band_hash) from a minhash signature — all bands in
    ONE pass over the signatures (a per-band UNION would re-execute the
    whole upstream signature pipeline n_bands times). This narrow
    relation is also the PERSISTABLE form of the LSH index (see
    banded_signatures / incremental_candidate_pairs)."""
    n_bands = k // band_size
    band_structs = []
    for b in range(n_bands):
        cols = [F.col(f"mh{b * band_size + j}").cast("string") for j in range(band_size)]
        band_structs.append(
            F.struct(
                F.lit(b).alias("band_id"),
                seeded_hash(F.concat_ws("|", *cols), f"band{b}").alias("band_hash"),
            )
        )
    return sig.select(
        F.col(id_col), F.explode(F.array(*band_structs)).alias("z")
    ).select(id_col, "z.band_id", "z.band_hash")


def banded_signatures(
    df: DataFrame, id_col: str, text_col: str, k: int = 8, band_size: int = 2
) -> DataFrame:
    """The persistable near-dup index relation for a corpus: minhash the
    text, band the signature, return (id, band_id, band_hash) — 3 longs
    per band regardless of document size. Write it once per corpus;
    each ingest increment then needs signatures only for its NEW docs
    (incremental_candidate_pairs)."""
    sig = minhash_signatures(df, id_col, text_col, k)
    return _bands_of(sig, id_col, k, band_size)


def band_staleness(
    stored_bands: DataFrame,
    new_bands: DataFrame,
    id_col: str = "doc_id",
    chi2_micros_threshold: int = 100_000,
) -> DataFrame:
    """Drift monitor for a FROZEN LSH band index (r11 — VERDICT r10
    task #4, completing the staleness family across the frozen-index
    maintainers): the band-BUCKET space is corpus-sized, so raw bucket
    occupancy is the wrong bin — a uniform hash keeps it uniform under
    any drift. The scale-bounded signal is how the batch's band rows
    distribute over STORED-bucket-size magnitudes (the candidate-cost
    axis: an ingest row landing in a bucket of size s generates ~s
    candidates), binned log2 via the ``length(bin(s))`` device, with
    rows landing in UNSEEN buckets reading bin 0:

    - new-content drift shifts batch mass into bin 0 (unseen buckets
      generate no candidates — recall risk under the frozen banding);
    - duplicate floods shift batch mass into high bins (hot buckets
      blow up candidate generation — the cost risk).

    At steady state both histograms agree: a same-distribution row
    lands in bucket b with probability ~ |b|/N, exactly the stored
    side's per-row mass. Exact chi² over the <= ~40 log2 bins
    (``profile.chi2_from_bin_counts``) + the ``auto_optimize``-style
    trigger; the CALLER re-bands (recompute ``banded_signatures`` over
    the current corpus) on rebuild=1. Per-batch cost: one hash agg
    over the stored relation (bucket sizes — the same keys the
    candidate join shuffles on), one bounded agg over the sizes, one
    batch×sizes join. Replay hygiene: the stored side distinct()s
    (id, band_id, band_hash) so replay-duplicated appends cannot
    inflate bucket sizes — the ``stream_ivf_assign`` serving-join
    rule. Returns ONE row: (n_stored, n_batch, chi2_micros, rebuild).
    """
    from lakeflow.operators.profile import chi2_from_bin_counts

    keys = ["band_id", "band_hash"]
    sizes = (
        stored_bands.select(id_col, *keys)
        .distinct()
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).cast("long").alias("__bsz"))
    )
    bin_of = F.length(F.bin(F.col("__bsz"))).cast("long")
    # stored side from the sizes relation directly: a bucket of size s
    # contributes s rows at bin(s) — no second corpus-wide join
    per_a = sizes.groupBy(bin_of.alias("__bk")).agg(
        F.sum("__bsz").cast("long").alias("__na")
    )
    per_b = (
        new_bands.select(*keys)
        .join(sizes, keys, "left")
        .groupBy(F.coalesce(bin_of, F.lit(0).cast("long")).alias("__bk"))
        .agg(F.count(F.lit(1)).cast("long").alias("__nb"))
    )
    per_bin = per_a.join(per_b, "__bk", "full_outer").select(
        "__bk",
        F.coalesce(F.col("__na"), F.lit(0).cast("long")).alias("__na"),
        F.coalesce(F.col("__nb"), F.lit(0).cast("long")).alias("__nb"),
    )
    return chi2_from_bin_counts(per_bin, "__bk", "__na", "__nb").select(
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


def incremental_candidate_pairs(
    new_bands: DataFrame, stored_bands: DataFrame, id_col: str
) -> DataFrame:
    """Candidate pairs involving AT LEAST ONE new document: new×stored
    (bucket equi-join against the persisted index) plus new×new
    (self-join). Old×old pairs are never generated — the cost of an
    ingest increment is |new| × bucket density, NOT |corpus|², which is
    what makes continuous dedup against a 100 TB corpus affordable.
    Caller contract: the two band relations cover DISJOINT id sets —
    but a crashed-and-replayed streaming batch can violate it (the
    batch's ids already appended to the stored index), so the new×stored
    join drops same-id matches rather than emit self-pairs (id_a ==
    id_b) that downstream clustering would treat as real edges; replays
    then degrade to pure duplicates, which pairs consumers distinct()
    away. Returns (id_a, id_b) with id_a < id_b."""
    a = new_bands.select(
        F.col(id_col).alias("__n"), "band_id", "band_hash"
    )
    stored = stored_bands.select(
        F.col(id_col).alias("__o"), "band_id", "band_hash"
    )
    cross = (
        a.join(stored, ["band_id", "band_hash"])
        .filter(F.col("__n") != F.col("__o"))
        .select(
            F.least("__n", "__o").alias(f"{id_col}_a"),
            F.greatest("__n", "__o").alias(f"{id_col}_b"),
        )
    )
    b2 = new_bands.select(F.col(id_col).alias("__n2"), "band_id", "band_hash")
    nn = (
        a.join(b2, ["band_id", "band_hash"])
        .filter(F.col("__n") < F.col("__n2"))
        .select(
            F.col("__n").alias(f"{id_col}_a"),
            F.col("__n2").alias(f"{id_col}_b"),
        )
    )
    return cross.union(nn).distinct()


def lsh_candidate_pairs(
    sig: DataFrame,
    id_col: str,
    k: int = 8,
    band_size: int = 2,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Banded LSH over a minhash signature: hash each band, self-join on
    (band_id, band_hash), emit each candidate pair once (id_a < id_b).

    ``max_bucket_size`` is the skew guard for the self-join: a bucket of
    n docs emits n^2/2 pairs, so one degenerate hot bucket (boilerplate
    docs, empty docs, a template cluster) dominates the whole stage at
    scale. Buckets above the cap are dropped via a broadcast anti-join
    (the oversized-bucket list is tiny) — standard MinHashLSH practice:
    a bucket that big is not "near-duplicate pairs", it's an exact-dup
    cluster that the cheaper exact_dedup pass should own. Default None
    keeps exact oracle parity."""
    all_bands = _bands_of(sig, id_col, k, band_size)
    if max_bucket_size is not None:
        # the hot-bucket aggregate is a SECOND consumer of all_bands —
        # without a persist it would re-execute the entire upstream
        # signature pipeline (shingle explode + md5 + hash-agg) twice
        all_bands = persist(all_bands)
        hot = (
            all_bands.groupBy("band_id", "band_hash")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > max_bucket_size)
            .select("band_id", "band_hash")
        )
        all_bands = all_bands.join(
            F.broadcast(hot), ["band_id", "band_hash"], "left_anti"
        )
    a = all_bands.select(
        F.col(id_col).alias(f"{id_col}_a"), "band_id", "band_hash"
    )
    b2 = all_bands.select(
        F.col(id_col).alias(f"{id_col}_b"), "band_id", "band_hash"
    )
    return (
        a.join(b2, ["band_id", "band_hash"])
        .filter(F.col(f"{id_col}_a") < F.col(f"{id_col}_b"))
        .select(f"{id_col}_a", f"{id_col}_b")
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    min_jaccard_micros: int = 20000,
    max_shingle_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing >= 1
    shingle: distinct-shingle explode, self-join on shingle (equi — the
    only scalable pair generator), intersection counts, |A|+|B|-∩ union.
    Returns (id_a, id_b, jaccard_micros).

    ``max_shingle_doc_freq`` is the skew guard for the shingle self-join:
    a shingle present in n docs emits n^2/2 join rows, so one stop-phrase
    shingle ("click here to unsubscribe") dominates the shuffle at
    corpus scale. Shingles above the doc-frequency cap are dropped from
    pair generation AND intersection counting (broadcast anti-join on
    the tiny hot list) but still count toward |A|,|B|, so reported
    Jaccard is a conservative underestimate — the standard recall/cost
    trade. Default None keeps exact oracle parity."""
    sh = explode_shingles(df, id_col, text_col, shingle_n).distinct()
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    pair_src = sh
    if max_shingle_doc_freq is not None:
        hot = (
            sh.groupBy("s")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") > max_shingle_doc_freq)
            .select("s")
        )
        pair_src = sh.join(F.broadcast(hot), "s", "left_anti")
    a = pair_src.select(F.col(id_col).alias("ia"), "s")
    b = pair_src.select(F.col(id_col).alias("ib"), "s")
    inter = (
        a.join(b, "s")
        .filter(F.col("ia") < F.col("ib"))
        .groupBy("ia", "ib")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sza = sizes.select(F.col(id_col).alias("ia"), F.col("sz").alias("sza"))
    szb = sizes.select(F.col(id_col).alias("ib"), F.col("sz").alias("szb"))
    jm = F.floor(
        F.col("inter").cast("double")
        / (F.col("sza") + F.col("szb") - F.col("inter")).cast("double")
        * F.lit(MICRO)
        + F.lit(0.5)
    ).cast("long")
    # NOTE: no broadcast hint on the size tables — they have one row per
    # document, so at corpus scale they are far beyond broadcast range.
    # AQE picks broadcast at small SF on its own; sort-merge otherwise.
    return (
        inter.join(sza, "ia")
        .join(szb, "ib")
        .select(
            F.col("ia").alias(f"{id_col}_a"),
            F.col("ib").alias(f"{id_col}_b"),
            jm.alias("jaccard_micros"),
        )
        .filter(F.col("jaccard_micros") >= min_jaccard_micros)
    )


def near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_jaccard_micros: int = 300_000,
    k: int = 8,
    band_size: int = 2,
    shingle_n: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Complete near-duplicate pipeline: MinHash-LSH generates candidate
    pairs, exact n-gram Jaccard verifies them — the verification join
    touches ONLY candidates (never all pairs), which is what makes
    near-dup dedup tractable at corpus scale. Returns
    (id_a, id_b, jaccard_micros) for confirmed pairs.

    The distinct-shingle relation is computed ONCE and shared by both
    consumers — min() is duplicate-insensitive, so signatures over
    distinct shingles equal signatures over the raw multiset — which
    halves the corpus scans AND computes each shingle's md5 once
    instead of once per occurrence (the dominant cost). At corpus scale
    the persisted relation is (doc_id, shingle) — far smaller than the
    corpus when shingles repeat. ``max_bucket_size`` forwards the LSH skew guard (see
    lsh_candidate_pairs)."""
    dsh = persist(explode_shingles(df, id_col, text_col, shingle_n).distinct())
    sig = minhash_from_shingles(dsh, id_col, k)
    cand = lsh_candidate_pairs(sig, id_col, k, band_size, max_bucket_size)
    sizes = dsh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = dsh.select(F.col(id_col).alias(f"{id_col}_a"), F.col("s"))
    b = dsh.select(F.col(id_col).alias(f"{id_col}_b"), F.col("s"))
    inter = (
        cand.join(a, f"{id_col}_a")
        .join(b, [f"{id_col}_b", "s"])
        .groupBy(f"{id_col}_a", f"{id_col}_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sza = sizes.select(F.col(id_col).alias(f"{id_col}_a"), F.col("sz").alias("sza"))
    szb = sizes.select(F.col(id_col).alias(f"{id_col}_b"), F.col("sz").alias("szb"))
    jm = F.floor(
        F.col("inter").cast("double")
        / (F.col("sza") + F.col("szb") - F.col("inter")).cast("double")
        * F.lit(MICRO)
        + F.lit(0.5)
    ).cast("long")
    return (
        inter.join(sza, f"{id_col}_a")
        .join(szb, f"{id_col}_b")
        .select(f"{id_col}_a", f"{id_col}_b", jm.alias("jaccard_micros"))
        .filter(F.col("jaccard_micros") >= min_jaccard_micros)
    )


def dimension_stats(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-DIMENSION embedding statistics: (dim, n_vectors, sum_micros,
    min_micros, max_micros, mean, variance) — the drift/collapse
    diagnostic for an embedding column (a dimension whose variance
    craters after a model change, or whose mean wanders between
    snapshots, is the first symptom of a broken encoder or a
    normalization regression). Complements ``q_embedding_stats``'
    per-VECTOR norms.

    One posexplode + one hash-agg keyed by dimension index (cardinality
    = dim, tiny); integer micro sums stay exact through the aggregate
    (second moments in decimal(38,0) — micros^2 outgrow longs at
    corpus scale), only the final per-dimension mean/variance
    derivation is double, written in the identical IEEE order as the
    oracle so repr-level equality holds."""
    v = to_micro_ints(vec_col)
    ex = emb.select(F.posexplode(v).alias("dim", "val"))
    g = ex.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum("val").alias("sum_micros"),
        F.min("val").alias("min_micros"),
        F.max("val").alias("max_micros"),
        F.sum((F.col("val") * F.col("val")).cast("decimal(38,0)")).alias("__s2"),
    )
    n = F.col("n_vectors").cast("double")
    mean = F.col("sum_micros").cast("double") / n
    var = F.col("__s2").cast("double") / n - mean * mean
    return g.select(
        "dim",
        "n_vectors",
        "sum_micros",
        "min_micros",
        "max_micros",
        mean.alias("mean"),
        var.alias("variance"),
    )


def mmr_select(
    emb: DataFrame,
    query_pred: Column,
    k: int = 5,
    lam_micros: int = 700_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance: greedily select ``k`` corpus vectors
    maximizing ``lam * rel(q, d) - (1 - lam) * max_{s in S} cos(d, s)``
    — the diversity-aware top-k for eval-set curation and dedup-aware
    retrieval, where plain top-k returns k near-copies of the same
    neighborhood. Returns (rank, ``id_col``, rel_micros,
    maxsim_micros, score_e12); iteration 1 scores relevance alone
    (the empty-set diversity term is 0).

    Shape: the scored candidate relation (corpus scan x broadcast
    query, exact integer cosine) is built ONCE and persisted; each of
    the k rounds is then a TakeOrdered(1) over it, with the
    already-selected vectors folded back in as CODEGEN LITERALS (k bounded, <= k * dim longs on the
    driver — the kmeans/BPE driver-bounded iteration precedent), so
    no round joins, shuffles, or re-scans the corpus uncached. The
    score stays in exact 1e-12 units (lam_micros * rel_micros -
    (1e6 - lam_micros) * maxsim_micros, |.| < 2^41) — no division, so
    no floor-vs-truncate cross-engine hazard on negative scores.

    Multi-row ``query_pred`` is reduced to its smallest id — MMR is a
    per-query selection; call once per query for query sets.

    r12 execution rework (VERDICT r11 task #7): rounds 2..k no longer
    each pay a TakeOrdered(1) action with a freshly-compiled plan
    (~0.2 s/round of analysis+codegen locally). ONE distributed pass
    scores every candidate against the first pick and collects the
    top-``_SHORTLIST`` rows; because a candidate's maximum similarity
    to the growing picked set is NON-DECREASING, its MMR score is
    non-increasing across rounds, so any candidate outside that
    shortlist can never beat the shortlist's boundary score — each
    local greedy pick is CERTIFIED globally correct by comparing its
    score against the boundary (strictly, so ties fall back), and the
    scores themselves are the identical exact integers (python-int
    dots, the same IEEE double sequence as :func:`cosine_micros`).
    Certification failure falls back to the original distributed
    rounds from that rank on — bit-identical output either way."""
    with scoped_cache():
        base = _with_vectors(emb, id_col, vec_col)
        qrow = (
            base.filter(
                F.col(id_col).isin(
                    [
                        r[0]
                        for r in emb.filter(query_pred)
                        .select(F.min(id_col))
                        .collect()
                    ]
                )
            )
            .withColumnRenamed(id_col, "__qid")
            .withColumnRenamed("__v", "__qv")
            .withColumnRenamed("__n2", "__qn2")
        )
        cand = (
            base.join(F.broadcast(qrow), F.col(id_col) != F.col("__qid"))
            .select(
                id_col,
                "__v",
                "__n2",
                cosine_micros(
                    dot_long(F.col("__v"), F.col("__qv")),
                    F.col("__n2"),
                    F.col("__qn2"),
                ).alias("rel_micros"),
            )
        )
        cand = persist(cand)

        lam = int(lam_micros)
        picked: list = []  # (rank, id, rel, maxsim, score, vec, n2)

        def _dist_round(rank: int) -> bool:
            """One original distributed round: TakeOrdered(1) over the
            scored relation with the picked set folded in as literals.
            Round 1 and the certification-failure fallback both use it."""
            c = cand
            if picked:
                c = c.filter(~F.col(id_col).isin([p[1] for p in picked]))
                sims = [
                    cosine_micros(
                        dot_long(
                            F.col("__v"), F.array(*[F.lit(x) for x in vec])
                        ),
                        F.col("__n2"),
                        F.lit(n2),
                    )
                    for (_, _, _, _, _, vec, n2) in picked
                ]
                maxsim = sims[0] if len(sims) == 1 else F.greatest(*sims)
            else:
                maxsim = F.lit(0).cast("long")
            scored = c.select(
                id_col,
                "__v",
                "__n2",
                "rel_micros",
                maxsim.alias("maxsim_micros"),
                (
                    F.lit(lam) * F.col("rel_micros")
                    - F.lit(1_000_000 - lam) * maxsim
                ).alias("score_e12"),
            )
            top = scored.orderBy(
                F.desc("score_e12"), F.asc(id_col)
            ).limit(1).collect()
            if not top:
                return False
            r = top[0]
            picked.append(
                (
                    rank,
                    r[id_col],
                    r["rel_micros"],
                    r["maxsim_micros"],
                    r["score_e12"],
                    list(r["__v"]),
                    r["__n2"],
                )
            )
            return True

        def _shortlist_rows():
            """One distributed pass: every unpicked candidate's score
            against the FULL current picked set, top-_SHORTLIST collected.
            The first collected row is the global argmax by construction,
            so every shortlist window yields at least one certified pick."""
            sims = [
                cosine_micros(
                    dot_long(F.col("__v"), F.array(*[F.lit(x) for x in vec])),
                    F.col("__n2"),
                    F.lit(n2),
                )
                for (_, _, _, _, _, vec, n2) in picked
            ]
            maxsim = sims[0] if len(sims) == 1 else F.greatest(*sims)
            return (
                cand.filter(~F.col(id_col).isin([p[1] for p in picked]))
                .select(
                    id_col,
                    "__v",
                    "__n2",
                    "rel_micros",
                    maxsim.alias("maxsim_micros"),
                    (
                        F.lit(lam) * F.col("rel_micros")
                        - F.lit(1_000_000 - lam) * maxsim
                    ).alias("score_e12"),
                )
                .orderBy(F.desc("score_e12"), F.asc(id_col))
                .limit(_SHORTLIST)
                .collect()
            )

        seeded = _dist_round(1)
        degenerate = False
        # the certification argument needs score_e12 non-increasing in the
        # picked set, i.e. a non-negative diversity coefficient: lam
        # outside [0, 1e6] (never used, but expressible) stays on the
        # original all-distributed path
        if seeded and k > 1 and 0 <= lam <= 1_000_000:
            dim = len(picked[0][5])
            rank = 2
            while rank <= k and not degenerate:
                # maxsim is non-decreasing in the picked set, so score_e12
                # is non-increasing across rounds: nothing outside this
                # window can beat the window's boundary score. When a local
                # pick can no longer certify strictly against the boundary,
                # REBUILD the window (one more distributed pass with the
                # grown picked set) instead of falling back per-round.
                rows = _shortlist_rows()
                if not rows:
                    break
                bound = (
                    rows[-1]["score_e12"] if len(rows) == _SHORTLIST else None
                )
                local = [
                    {
                        "id": r[id_col],
                        "rel": r["rel_micros"],
                        "maxsim": r["maxsim_micros"],
                        "vec": list(r["__v"]),
                        "n2": r["__n2"],
                    }
                    for r in rows
                ]
                if not all(
                    r["maxsim"] is not None
                    and r["rel"] is not None
                    and r["n2"] is not None
                    and len(r["vec"]) == dim
                    and all(x is not None for x in r["vec"])
                    for r in local
                ):
                    degenerate = True  # null/ragged: original rounds below
                    break
                first = True
                while rank <= k and local:
                    best = None
                    for cd in local:
                        score = (
                            lam * cd["rel"] - (1_000_000 - lam) * cd["maxsim"]
                        )
                        key = (-score, cd["id"])
                        if best is None or key < best[0]:
                            best = (key, cd, score)
                    _, cd, score = best
                    # the window's first local argmax IS rows[0] (the
                    # collected ordering = the distributed round's pick);
                    # later picks certify strictly against the boundary —
                    # an outside candidate's current score is bounded by
                    # its window score, which is <= bound. A tie cannot
                    # certify (an outside row could tie with a smaller id).
                    if not first and bound is not None and not score > bound:
                        break  # rebuild the window with the grown set
                    picked.append(
                        (rank, cd["id"], cd["rel"], cd["maxsim"], score,
                         cd["vec"], cd["n2"])
                    )
                    rank += 1
                    first = False
                    local = [x for x in local if x["id"] != cd["id"]]
                    for x in local:
                        s = _cosine_micros_py(
                            sum(a_ * b_ for a_, b_ in zip(x["vec"], cd["vec"])),
                            x["n2"],
                            cd["n2"],
                        )
                        if s is None:
                            degenerate = True
                            break
                        if s > x["maxsim"]:
                            x["maxsim"] = s
                    if degenerate:
                        break
                if bound is None and not local:
                    break  # the window held EVERY candidate: all consumed
        # distributed per-round fallback: null/ragged vectors or
        # out-of-range lam only
        if seeded:
            for rank in range(len(picked) + 1, k + 1):
                if not _dist_round(rank):
                    break
    spark = emb.sparkSession
    return spark.createDataFrame(
        [(p[0], p[1], p[2], p[3], p[4]) for p in picked],
        f"rank long, {id_col} long, rel_micros long, "
        "maxsim_micros long, score_e12 long",
    )


def kcenter_select(
    emb: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy k-center (farthest-point) coreset selection in cosine
    space: seed with the largest-norm vector, then repeatedly add the
    candidate whose MAXIMUM cosine to the selected set is SMALLEST —
    the classic 2-approximation cover whose selected set spreads over
    the embedding space (eval-probe picking, diverse seed sets,
    cluster-free space summaries). The query-free sibling of
    :func:`mmr_select` (MMR trades relevance against diversity;
    k-center is pure diversity) with the same execution shape: the
    micro-int vector relation persists once, each round is a TakeOrdered(1) with the selected vectors folded
    back as codegen literals — driver-bounded iteration, no per-round
    shuffle. Returns (rank, ``id_col``, maxcos_micros) where
    maxcos_micros is the pick's max cosine to the set selected BEFORE
    it (rank 1 reports 0). Deterministic: exact integer cosines,
    (maxcos ASC, id ASC) tie-break; the seed argmax is (norm DESC,
    id ASC).

    r12 execution rework, the mmr_select arrangement (VERDICT r11 task
    #7): one distributed pass collects the ``_SHORTLIST`` candidates
    with the SMALLEST cosine to the seed; a candidate's max cosine to
    the growing picked set is non-decreasing and lower-bounded by its
    cosine to the seed, so any candidate outside the shortlist can
    never undercut the shortlist's boundary value — each local greedy
    pick is certified by a strict comparison against that boundary
    (exact python-int dots, the identical IEEE sequence as
    :func:`cosine_micros`), with the original distributed rounds as
    the fallback. Bit-identical output either way."""
    with scoped_cache():
        base = persist(_with_vectors(emb, id_col, vec_col))

        picked: list = []  # (rank, id, maxcos, vec, n2)

        def _dist_round(rank: int) -> bool:
            c = base
            if picked:
                c = c.filter(~F.col(id_col).isin([p[1] for p in picked]))
                sims = [
                    cosine_micros(
                        dot_long(
                            F.col("__v"), F.array(*[F.lit(x) for x in vec])
                        ),
                        F.col("__n2"),
                        F.lit(n2),
                    )
                    for (_, _, _, vec, n2) in picked
                ]
                maxcos = sims[0] if len(sims) == 1 else F.greatest(*sims)
                top = (
                    c.select(id_col, "__v", "__n2", maxcos.alias("maxcos_micros"))
                    .orderBy(F.asc("maxcos_micros"), F.asc(id_col))
                    .limit(1)
                    .collect()
                )
            else:
                top = (
                    c.select(id_col, "__v", "__n2", F.lit(0).cast("long").alias("maxcos_micros"))
                    .orderBy(F.desc("__n2"), F.asc(id_col))
                    .limit(1)
                    .collect()
                )
            if not top:
                return False
            r = top[0]
            picked.append(
                (rank, r[id_col], r["maxcos_micros"], list(r["__v"]), r["__n2"])
            )
            return True

        def _shortlist_rows():
            """One distributed pass: every unpicked candidate's max cosine
            to the FULL current picked set, bottom-_SHORTLIST collected.
            The first collected row is the global argmin by construction,
            so every shortlist window yields at least one certified pick."""
            sims = [
                cosine_micros(
                    dot_long(F.col("__v"), F.array(*[F.lit(x) for x in vec])),
                    F.col("__n2"),
                    F.lit(n2),
                )
                for (_, _, _, vec, n2) in picked
            ]
            maxcos = sims[0] if len(sims) == 1 else F.greatest(*sims)
            return (
                base.filter(~F.col(id_col).isin([p[1] for p in picked]))
                .select(id_col, "__v", "__n2", maxcos.alias("maxcos_micros"))
                .orderBy(F.asc("maxcos_micros"), F.asc(id_col))
                .limit(_SHORTLIST)
                .collect()
            )

        seeded = _dist_round(1)
        degenerate = False
        if seeded and k > 1:
            dim = len(picked[0][3])
            rank = 2
            while rank <= k and not degenerate:
                # a candidate's max cosine to the picked set is
                # NON-DECREASING, so nothing outside this window can ever
                # undercut the window's boundary value; when a local pick
                # can no longer certify strictly against the boundary,
                # REBUILD the window with the grown picked set instead of
                # falling back per-round.
                rows = _shortlist_rows()
                if not rows:
                    break
                bound = (
                    rows[-1]["maxcos_micros"]
                    if len(rows) == _SHORTLIST
                    else None
                )
                local = [
                    {
                        "id": r[id_col],
                        "maxcos": r["maxcos_micros"],
                        "vec": list(r["__v"]),
                        "n2": r["__n2"],
                    }
                    for r in rows
                ]
                if not all(
                    r["maxcos"] is not None
                    and r["n2"] is not None
                    and len(r["vec"]) == dim
                    and all(x is not None for x in r["vec"])
                    for r in local
                ):
                    degenerate = True
                    break
                first = True
                while rank <= k and local:
                    best = None
                    for cd in local:
                        key = (cd["maxcos"], cd["id"])
                        if best is None or key < best[0]:
                            best = (key, cd)
                    _, cd = best
                    # the window's first local argmin IS rows[0] (= the
                    # distributed round's pick); later picks certify
                    # strictly — an outside candidate's max cosine is at
                    # least its window value, which is >= bound, and a tie
                    # cannot certify (an outside row could tie with a
                    # smaller id)
                    if not first and bound is not None and not cd["maxcos"] < bound:
                        break  # rebuild the window with the grown set
                    picked.append(
                        (rank, cd["id"], cd["maxcos"], cd["vec"], cd["n2"])
                    )
                    rank += 1
                    first = False
                    local = [x for x in local if x["id"] != cd["id"]]
                    for x in local:
                        s = _cosine_micros_py(
                            sum(a_ * b_ for a_, b_ in zip(x["vec"], cd["vec"])),
                            x["n2"],
                            cd["n2"],
                        )
                        if s is None:
                            degenerate = True
                            break
                        if s > x["maxcos"]:
                            x["maxcos"] = s
                    if degenerate:
                        break
                if bound is None and not local:
                    break  # the window held EVERY candidate: all consumed
        # distributed per-round fallback: null/ragged vectors only
        if seeded:
            for rank in range(len(picked) + 1, k + 1):
                if not _dist_round(rank):
                    break
    spark = emb.sparkSession
    return spark.createDataFrame(
        [(p[0], p[1], p[2]) for p in picked],
        f"rank long, {id_col} long, maxcos_micros long",
    )
