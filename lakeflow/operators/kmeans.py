"""Distributed k-means over embedding columns + SemDeDup-style
semantic dedup (SURVEY §2.12 extension: the clustering step behind
semantic near-dup pruning and domain discovery in training-data
pipelines; reference has no equivalent — pure Spark-first design).

100 TB design notes:

- Lloyd's iterations, MLlib-style: cell ASSIGNMENT is a narrow map
  over the scan (the k centroids are constant-folded into the plan as
  literals — no join, no shuffle); centroid RECOMPUTE is one
  posexplode + hash-aggregate whose map-side partial combine reduces
  each partition to at most k*dim rows before the shuffle, and the
  driver holds only k*dim integers per iteration (exactly what Spark
  MLlib's KMeans collects). Iterations are bounded and few (Lloyd's
  converges fast for dedup/discovery purposes; SemDeDup uses a fixed
  small iteration count, not convergence-to-epsilon).
- All arithmetic is exact integer micro-units (see
  ``operators.similarity``), divisions truncate toward zero — so a
  SQL oracle (DuckDB ``//``) reproduces every centroid and every
  assignment bit-for-bit, and runs are deterministic across cluster
  sizes and partitionings.
- Seeded-hash init picks k corpus vectors in a deterministic order
  (k-means++-style seeding without the nondeterministic refinement).
- For SemDeDup, choose k so expected cell size |corpus|/k keeps the
  within-cell pair join bounded (the join itself is an equi-join on
  cell id — Catalyst hash-partitions it; AQE splits skewed cells).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lakeflow.catalog import read_parquet
from lakeflow.functions.hashing import seeded_hash
from lakeflow.functions.localrel import local_table
from lakeflow.operators.similarity import (
    _with_vectors,
    cosine_micros,
    dot_long,
    to_micro_ints,
)


def _trunc_div(s: int, n: int) -> int:
    """Integer division truncating toward zero (DuckDB ``//`` / Spark
    ``div`` semantics — Python's ``//`` floors, which differs on
    negatives)."""
    q = abs(s) // n
    return q if s >= 0 else -q


def lloyd_rounds_py(
    vecs: "list[list[int]]", cents: list[list[int]], n_iter: int
) -> list[list[int]]:
    """Driver-side replay of the distributed Lloyd's rounds over a
    BOUNDED, already-collected training set — bit-identical arithmetic
    (exact micro-ints, truncating division, assignment ties to the
    LARGER cell id, empty cells carry their previous centroid), so
    ``lloyd_rounds_py(sample) == kmeans_centroids(sample_df)`` exactly
    (property-tested in test_kmeans). Exists because at 100 TB the
    training set is a bounded hash-sample anyway (FAISS practice:
    codebooks train on ~10k-100k vectors, never the corpus), and the
    distributed trainer's per-round folded-literal argmax pays seconds
    of Catalyst analysis per iteration for data that fits in one numpy
    array. int64 bounds: micro components |x| <~ 5e6, so scores
    2*v.c - c.c <~ 2*dim*(5e6)^2 ~ 3e15 << 2^63."""
    import numpy as np

    V = np.asarray(vecs, dtype=np.int64)
    C = np.asarray(cents, dtype=np.int64)
    k = C.shape[0]
    for _ in range(n_iter):
        scores = 2 * (V @ C.T) - (C * C).sum(axis=1)
        # np.argmax takes the FIRST max; the plan's array_max struct
        # ordering takes the LARGER cell id on ties -> argmax reversed
        best = (k - 1) - np.argmax(scores[:, ::-1], axis=1)
        new = C.copy()
        for i in range(k):
            mask = best == i
            n_i = int(mask.sum())
            if n_i:
                s = V[mask].sum(axis=0)
                q = np.abs(s) // n_i
                new[i] = np.where(s >= 0, q, -q)
        C = new
    return [[int(x) for x in row] for row in C]


def _best_struct(v: Column, cents: list[list[int]]) -> Column:
    """Max over (score, cell) structs where score = 2*v.c - c.c (exact
    longs): the max score identifies the nearest centroid (argmin
    ||v-c||^2), and ||v - c_best||^2 = v.v - score. Ties resolve to the
    LARGER cell id (array_max struct ordering); the SQL mirror is
    ``ORDER BY score DESC, cell DESC``."""
    c2s = [sum(x * x for x in c) for c in cents]
    return F.array_max(
        F.array(
            *[
                F.struct(
                    (
                        dot_long(v, F.array([F.lit(x) for x in c])) * F.lit(2)
                        - F.lit(c2s[i])
                    ).alias("s"),
                    F.lit(i).alias("i"),
                )
                for i, c in enumerate(cents)
            ]
        )
    )


def _argbest_cell(v: Column, cents: list[list[int]]) -> Column:
    """Nearest-centroid id as a narrow map expression."""
    return _best_struct(v, cents).getField("i").cast("long")


#: Above this k, constant-folding k*dim literals into the plan stops
#: being reasonable (codegen size); assignment switches to a broadcast
#: centroid join + partial max-agg.
MAX_FOLDED_CENTROIDS = 512


def _group_centroids(
    cents: list[list[int]], n_groups: int, n_iter: int = 2
) -> tuple[list[list[int]], list[int]]:
    """Driver-side: cluster the k centroids themselves into
    ``n_groups`` group centroids (exact-int Lloyd over the centroid
    list, evenly-spaced deterministic init) and map each centroid to
    its nearest group. Bounded work: k vectors total.

    INVARIANT: every returned group centroid wins >= 1 member
    centroid. Lloyd over the centroid list can leave a group empty
    (no centroid nearest to it); a vector whose nearest group were
    such an empty group would match no rows in ``_with_best``'s inner
    join and silently vanish — row LOSS, not the documented IVF
    misassignment. Empty groups are therefore dropped and the group
    ids remapped densely before returning."""
    import numpy as np

    k = len(cents)
    step = max(1, k // n_groups)
    init = [list(cents[i]) for i in range(0, k, step)][:n_groups]
    gc = lloyd_rounds_py(cents, init, n_iter)
    C = np.asarray(cents, dtype=np.int64)
    G = np.asarray(gc, dtype=np.int64)
    scores = 2 * (C @ G.T) - (G * G).sum(axis=1)
    grp = (len(gc) - 1) - np.argmax(scores[:, ::-1], axis=1)
    used = sorted({int(x) for x in grp})
    remap = {g: j for j, g in enumerate(used)}
    gc = [gc[g] for g in used]
    return gc, [remap[int(x)] for x in grp]


def _with_best(
    base: DataFrame,
    cents: list[list[int]],
    id_col: str,
    max_fold: int = MAX_FOLDED_CENTROIDS,
    two_level: bool = False,
) -> DataFrame:
    """Attach ``__m`` = the winning (score, cell) struct to every row
    of ``base`` (which must carry ``id_col``, ``__v``, ``__n2``).

    Three physically different paths; the first two are semantically
    identical exact argmaxes, the third is the standard IVF
    approximation for corpus-derived k:
    - k <= max_fold: centroids constant-folded as literals — a narrow
      map, zero shuffle (the default; used by every gate query).
    - k > max_fold: broadcast the k-row centroid table, crossJoin, and
      reduce with max() per vector — N*k score rows. The partial
      aggregate collapses the k-way fanout map-side, so the shuffle
      carries one row per vector. EXACT, but with corpus-derived k
      (= N/target) the N*k term is quadratic in corpus size.
    - ``two_level=True`` (only engages past max_fold): cluster the k
      centroids into ceil(sqrt(k)) groups driver-side (bounded work),
      assign each vector to its nearest GROUP via folded literals,
      then exact argmax among that group's centroids only (equi-join
      on group id + the same partial max-agg) — ~N*2*sqrt(k) score
      rows. APPROXIMATE in the standard IVF/SemDeDup sense (a vector
      whose true nearest centroid sits across a group boundary lands
      in the runner-up cell); deterministic and partitioning-invariant
      like the exact paths. Valid for k up to ~max_fold^2 (the group
      stage folds sqrt(k) literals)."""
    if len(cents) <= max_fold:
        return base.withColumn("__m", _best_struct(F.col("__v"), cents))
    spark = base.sparkSession
    if two_level:
        import math

        k = len(cents)
        n_groups = min(k, max(2, math.isqrt(max(0, k - 1)) + 1))
        gc, grp = _group_centroids(cents, n_groups)
        tagged = base.withColumn(
            "__g", _best_struct(F.col("__v"), gc).getField("i")
        )
        cdf = local_table(
            spark,
            [
                (grp[i], i, list(c), sum(x * x for x in c))
                for i, c in enumerate(cents)
            ],
            ["g", "i", "cv", "c2"],
        )
        return (
            tagged.join(F.broadcast(cdf), tagged["__g"] == cdf["g"])
            .withColumn(
                "__mm",
                F.struct(
                    (
                        dot_long(F.col("__v"), F.col("cv")) * F.lit(2)
                        - F.col("c2")
                    ).alias("s"),
                    F.col("i").alias("i"),
                ),
            )
            .groupBy(id_col)
            .agg(
                F.max("__mm").alias("__m"),
                F.first("__v").alias("__v"),
                F.first("__n2").alias("__n2"),
            )
        )
    # local_table: VALUES literal while small (pure JVM — a Python-RDD
    # conversion's worker spin-up costs more than the broadcast), Arrow
    # batches past the literal-cell threshold (corpus-derived k would
    # otherwise inline tens of MB of SQL text)
    cdf = local_table(
        spark,
        [
            (i, [int(x) for x in c], sum(int(x) * int(x) for x in c))
            for i, c in enumerate(cents)
        ],
        ["i", "cv", "c2"],
    )
    return (
        base.crossJoin(F.broadcast(cdf))
        .withColumn(
            "__mm",
            F.struct(
                (dot_long(F.col("__v"), F.col("cv")) * F.lit(2) - F.col("c2")).alias(
                    "s"
                ),
                F.col("i").alias("i"),
            ),
        )
        .groupBy(id_col)
        .agg(
            F.max("__mm").alias("__m"),
            F.first("__v").alias("__v"),
            F.first("__n2").alias("__n2"),
        )
    )


def derive_k(n: int, target_cell_size: int, k_min: int = 2) -> int:
    """Cells-of-bounded-size sizing rule: k = ceil(n / target), at
    least ``k_min``. Integer ceil on both engines (no float division)."""
    return max(k_min, (n + target_cell_size - 1) // target_cell_size)


def kmeans_centroids(
    emb: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "kmeans",
    two_level: bool = False,
) -> list[list[int]]:
    """Fit k centroids (exact micro-int components) via ``n_iter``
    Lloyd's rounds. Empty cells keep their previous centroid. The
    returned list is bounded (k*dim ints) — safe to fold into plans.
    ``two_level=True`` runs each round's assignment through the
    approximate group->within-group argmax past the folding threshold
    (see ``_with_best``) — the large-k fit path, where the exact
    broadcast join's N*k score rows dominate the round."""
    base = _with_vectors(emb, id_col, vec_col)
    picked = (
        base.select(
            id_col,
            "__v",
            seeded_hash(F.col(id_col).cast("string"), seed).alias("__h"),
        )
        .orderBy("__h", id_col)
        .limit(k)
        .collect()
    )
    cents = [[int(x) for x in r["__v"]] for r in picked]
    if len(cents) < k:
        raise ValueError(f"corpus has fewer than k={k} vectors")
    for _ in range(n_iter):
        assigned = _with_best(base, cents, id_col, two_level=two_level).select(
            F.col("__m").getField("i").cast("long").alias("cell"), "__v"
        )
        # partial hash-agg: each partition pre-combines to <= k*dim rows
        rows = (
            assigned.select("cell", F.posexplode("__v").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        new = [list(c) for c in cents]  # empty cells carry over
        for r in rows:
            new[r["cell"]][r["pos"]] = _trunc_div(int(r["s"]), int(r["n"]))
        cents = new
    return cents


def kmeans_assign(
    emb: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "kmeans",
    two_level: bool = False,
) -> DataFrame:
    """Fit + predict: returns (id_col, cell) for every vector, cell in
    [0, k). The predict pass is a single narrow map over the scan.
    ``two_level=True`` opts the predict pass into the approximate
    group->within-group assignment past the folding threshold (see
    ``_with_best``) — EXACT stays the default because every gate
    query's SQL oracle replays the exact argmax."""
    cents = kmeans_centroids(emb, k, n_iter, id_col, vec_col, seed)
    base = _with_vectors(emb, id_col, vec_col)
    return _with_best(base, cents, id_col, two_level=two_level).select(
        F.col(id_col), F.col("__m").getField("i").cast("long").alias("cell")
    )


def _cell_pair_scores(
    assigned: DataFrame, id_col: str, min_cos_micros: int
) -> DataFrame:
    """All within-cell pairs (id_a < id_b, cell, cos_micros >= t) from
    an assigned relation (``id_col``, __v array<long>, cell) — the
    SemDeDup pair stage as a grouped vectorized kernel instead of a
    self-join: one shuffle of N rows keyed by cell, then per cell one
    int64 matmul for every pairwise dot and one vectorized IEEE
    double sequence identical to :func:`similarity.cosine_micros`
    (cast double, /(sqrt*sqrt), *1e6, +0.5, floor — floor(NaN) maps
    to 0 exactly like Spark's long cast). Ragged / null-bearing cells
    fall back to a per-pair exact path replicating the join's
    zip_with semantics (mismatched lengths or null elements yield a
    null dot -> pair dropped)."""
    import pandas as pd

    threshold = int(min_cos_micros)
    # derive the id type from the input (ADVICE r11 — the pq_encode
    # arrangement): a hardcoded `long` would silently mis-type any
    # non-long id caller where the old join preserved the type
    id_type = assigned.schema[id_col].dataType.simpleString()
    out_schema = (
        f"{id_col}_a {id_type}, {id_col}_b {id_type}, "
        "cell long, cos_micros long"
    )
    cols = [f"{id_col}_a", f"{id_col}_b", "cell", "cos_micros"]

    def score_cell(pdf):
        import numpy as np

        m = len(pdf)
        if m < 2:
            return pd.DataFrame(
                {
                    cols[0]: pdf[id_col].iloc[:0],
                    cols[1]: pdf[id_col].iloc[:0],
                    "cell": pd.Series(dtype="int64"),
                    "cos_micros": pd.Series(dtype="int64"),
                }
            )
        pdf = pdf.sort_values(id_col, kind="mergesort")
        ids = pdf[id_col].to_numpy()
        cell = int(pdf["cell"].iloc[0])
        try:
            X = np.vstack(
                [np.asarray(v, dtype=np.int64) for v in pdf["__v"]]
            )
        except (TypeError, ValueError):
            X = None
        if X is not None:
            mx = int(np.abs(X).max(initial=0))
            dim = X.shape[1]
            if mx and dim * mx * mx > 2**62:
                raise ValueError(
                    "semantic pairs: |micro component| too large for "
                    f"exact int64 dot products ({mx})"
                )
            g = X @ X.T
            d = np.sqrt(g.diagonal().astype(np.float64))
            c = np.floor(
                g.astype(np.float64) / (d[:, None] * d[None, :]) * 1e6 + 0.5
            )
            c = np.where(np.isnan(c), 0.0, c)
            iu, ju = np.triu_indices(m, k=1)
            cos = c[iu, ju]
            keep = cos >= threshold
            return pd.DataFrame(
                {
                    cols[0]: ids[iu[keep]],
                    cols[1]: ids[ju[keep]],
                    "cell": np.full(int(keep.sum()), cell, dtype=np.int64),
                    "cos_micros": cos[keep].astype(np.int64),
                }
            )
        # ragged / null elements: exact per-pair replication of the
        # join's zip_with semantics
        import math

        vecs = [list(v) if v is not None else None for v in pdf["__v"]]
        rows = []
        for i in range(m):
            for j in range(i + 1, m):
                va, vb = vecs[i], vecs[j]
                if va is None or vb is None or len(va) != len(vb):
                    continue
                if any(x is None for x in va) or any(x is None for x in vb):
                    continue
                dot = sum(int(x) * int(y) for x, y in zip(va, vb))
                n2a = sum(int(x) * int(x) for x in va)
                n2b = sum(int(x) * int(x) for x in vb)
                denom = math.sqrt(float(n2a)) * math.sqrt(float(n2b))
                v = float(dot) / denom if denom else float("nan")
                cosv = math.floor(v * 1e6 + 0.5) if v == v else 0
                if cosv >= threshold:
                    rows.append((ids[i], ids[j], cell, cosv))
        out = pd.DataFrame(rows, columns=cols)
        out["cell"] = out["cell"].astype("int64")
        out["cos_micros"] = out["cos_micros"].astype("int64")
        return out

    return assigned.groupBy("cell").applyInPandas(score_cell, out_schema)


def semantic_dup_pairs(
    emb: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    min_cos_micros: int = 950_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "kmeans",
    target_cell_size: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster the corpus, then find
    near-duplicate pairs ONLY within each cluster — the all-pairs
    cosine comparison drops from O(N^2) to O(N^2/k), and the pair
    generation is an equi-join on cell id (shuffle key = cell, never
    the vectors' source rows). Returns
    (vec_id_a, vec_id_b, cell, cos_micros) with cos >= threshold;
    downstream keeps min(vec_id) per dup-cluster (see
    ``operators.clusters`` for the component step).

    A FIXED k makes within-cell pair work quadratic as the corpus
    grows; pass ``target_cell_size`` instead to derive
    k = ceil(N / target) (one count pass) so cells stay bounded and
    total pair work is O(N * target) — linear in the corpus. Beyond
    ``MAX_FOLDED_CENTROIDS`` cells, assignment automatically switches
    to the broadcast-join path."""
    if target_cell_size is not None:
        k = derive_k(emb.count(), target_cell_size, k_min=k)
    cents = kmeans_centroids(emb, k, n_iter, id_col, vec_col, seed)
    base = _with_best(_with_vectors(emb, id_col, vec_col), cents, id_col).select(
        F.col(id_col),
        "__v",
        F.col("__m").getField("i").cast("long").alias("cell"),
    )
    # Within-cell pairwise scoring as ONE numpy matmul per cell
    # (guide §4.2): the former within-cell self-join shipped both
    # vectors on every candidate row and folded each 64-term dot
    # product through an interpreted zip_with+aggregate — measured
    # 2.6 s for the ~250k sf0.1 pairs vs ~0.3 s for the grouped
    # matmul. Cells are bounded by target_cell_size, so per-group
    # work is O(cell^2) regardless of corpus size — the same bound
    # the join relied on. Exactness is unchanged: integer dots via
    # int64 matmul (overflow-guarded), then the identical IEEE
    # double sequence as cosine_micros.
    return _cell_pair_scores(base, id_col, min_cos_micros)


def semantic_index(
    emb: DataFrame,
    cents: list[list[int]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    two_level: bool = False,
) -> DataFrame:
    """Assignment relation ``(id, cell, v, n2)`` against FIXED
    centroids — the persisted-index side of incremental semantic dedup
    (and the predict half of a build/serve split). One narrow row per
    vector; assignment is the same literal-fold map (or broadcast join
    beyond ``MAX_FOLDED_CENTROIDS``) as the batch path, so an index
    built here and a batch assignment over the same centroids agree
    bit-for-bit. ``two_level=True`` opts into the approximate
    group->within-group assignment for corpus-derived cell counts
    (10^4+ cells — where exact N*k assignment goes quadratic); near-dup
    recall then depends on both members landing in the same cell, the
    usual SemDeDup trade."""
    base = _with_vectors(emb, id_col, vec_col)
    return _with_best(base, cents, id_col, two_level=two_level).select(
        F.col(id_col),
        F.col("__m").getField("i").cast("long").alias("cell"),
        F.col("__v").alias("v"),
        F.col("__n2").alias("n2"),
    )


def semantic_pairs_from_index(
    index: DataFrame, min_cos_micros: int, id_col: str = "vec_id"
) -> DataFrame:
    """Within-cell near-dup pairs (``a < b``) over a
    :func:`semantic_index` relation — ``semantic_dup_pairs`` minus the
    in-query fit, for serving against a prebuilt index."""
    a = index.select(
        F.col(id_col).alias("vec_id_a"),
        F.col("v").alias("__va"),
        F.col("n2").alias("__n2a"),
        "cell",
    )
    b = index.select(
        F.col(id_col).alias("vec_id_b"),
        F.col("v").alias("__vb"),
        F.col("n2").alias("__n2b"),
        "cell",
    )
    return (
        a.join(b, "cell")
        .filter(F.col("vec_id_a") < F.col("vec_id_b"))
        .select(
            "vec_id_a",
            "vec_id_b",
            "cell",
            cosine_micros(
                dot_long(F.col("__va"), F.col("__vb")),
                F.col("__n2a"),
                F.col("__n2b"),
            ).alias("cos_micros"),
        )
        .filter(F.col("cos_micros") >= F.lit(min_cos_micros))
    )


def incremental_semantic_pairs(
    new_emb: DataFrame,
    stored_index: DataFrame,
    cents: list[list[int]],
    min_cos_micros: int = 950_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    new_index: DataFrame | None = None,
) -> DataFrame:
    """Incremental SemDeDup: near-dup pairs for a NEW batch of vectors
    against a persisted :func:`semantic_index` (plus new x new), with
    the stored x stored work never regenerated — the semantic twin of
    ``setsim.incremental_setsim_pairs`` / the LSH incremental tier.

    The new batch is assigned to the SAME fixed centroids the stored
    index was built with (a narrow map over the batch scan), so
    ``incremental(new, stored) == batch(new + stored)`` restricted to
    pairs touching a new vector — exactly, because assignment is a
    pure function of (vector, centroids). Cost per batch is
    |batch| x cell size for the new x stored equi-join on ``cell``
    plus |batch|^2 / k for new x new: batch-proportional, never
    corpus^2. Centroid refresh (drift) is an explicit periodic refit +
    index rebuild, not a per-batch mutation — runs stay deterministic
    and replayable.

    Output matches the batch shape: (vec_id_a, vec_id_b, cell,
    cos_micros) with ``vec_id_a < vec_id_b`` (cosine is symmetric, so
    mixed pairs are orientation-normalized). ``new_index`` lets a
    caller that already assigned the batch (the streaming intake, which
    also appends it to the persisted index) pass the relation in so the
    batch is assigned ONCE per micro-batch."""
    new_idx = (
        new_index
        if new_index is not None
        else semantic_index(new_emb, cents, id_col, vec_col)
    )
    n = new_idx.select(
        F.col(id_col).alias("__idn"),
        F.col("v").alias("__vn"),
        F.col("n2").alias("__n2n"),
        "cell",
    )
    s = stored_index.select(
        F.col(id_col).alias("__ids"),
        F.col("v").alias("__vs"),
        F.col("n2").alias("__n2s"),
        "cell",
    )
    # same-id matches are dropped so a crashed-and-replayed batch whose
    # ids already reached the stored index never emits self-pairs (the
    # setsim/LSH replay contract); for disjoint corpora it's a no-op
    mixed = (
        n.join(s, "cell")
        .filter(F.col("__idn") != F.col("__ids"))
        .select(
            F.least("__idn", "__ids").alias("vec_id_a"),
            F.greatest("__idn", "__ids").alias("vec_id_b"),
            "cell",
            cosine_micros(
                dot_long(F.col("__vn"), F.col("__vs")),
                F.col("__n2n"),
                F.col("__n2s"),
            ).alias("cos_micros"),
        )
        .filter(F.col("cos_micros") >= F.lit(min_cos_micros))
    )
    return mixed.unionByName(
        semantic_pairs_from_index(new_idx, min_cos_micros, id_col)
    )


def semantic_index_fit(
    spark,
    emb: DataFrame,
    index_path: str,
    k: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "kmeans",
    target_cell_size: int | None = None,
) -> list[list[int]]:
    """Build and persist the semantic-dedup index (the build half of
    the build/serve split, mirroring ``pq.ivf_pq_fit``):

    - ``{index_path}/centroids``: (i, centroid array<long>) — k rows;
    - ``{index_path}/assignments``: the :func:`semantic_index`
      relation, one narrow row per corpus vector.

    Returns the centroids (bounded: k*dim ints) so the caller can
    assign the first incremental batch without a re-read."""
    if target_cell_size is not None:
        k = derive_k(emb.count(), target_cell_size, k_min=k)
    cents = kmeans_centroids(emb, k, n_iter, id_col, vec_col, seed)
    # local_table: VALUES literal while small (pure JVM), Arrow past
    # the literal-cell threshold — see functions.localrel
    local_table(
        spark,
        [(i, list(c)) for i, c in enumerate(cents)],
        ["i", "centroid"],
    ).coalesce(1).write.mode("overwrite").parquet(f"{index_path}/centroids")
    semantic_index(emb, cents, id_col, vec_col).write.mode("overwrite").parquet(
        f"{index_path}/assignments"
    )
    return cents


def load_semantic_index(spark, index_path: str) -> tuple[list[list[int]], DataFrame]:
    """(centroids, assignments): the centroid collect is bounded by k
    rows; assignments stays a lazy relation over the persisted
    parquet."""
    cr = read_parquet(spark, f"{index_path}/centroids").collect()
    cents: list[list[int]] = [None] * len(cr)  # type: ignore[list-item]
    for r in cr:
        cents[r["i"]] = [int(x) for x in r["centroid"]]
    return cents, read_parquet(spark, f"{index_path}/assignments")


def kmeans_diagnostics(
    emb: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "kmeans",
    label_col: str | None = None,
) -> DataFrame:
    """Per-cell fit diagnostics: member count and exact integer inertia
    (sum ||v - c_assigned||^2, derived from the same argmax structs as
    the assignment — no second distance computation). With
    ``label_col``, adds the dominant label per cell (ties to the
    smaller label) and purity_micros = n_dominant*1e6 div n_vectors —
    the cluster-quality monitoring surface for choosing k/iterations.
    Aggregates are narrow (k rows out); the label histogram shuffles
    (cell, label) pairs only."""
    from pyspark.sql import Window

    cents = kmeans_centroids(emb, k, n_iter, id_col, vec_col, seed)
    v = to_micro_ints(vec_col)
    cols = [v.alias("__v")] + (
        [F.col(label_col).cast("long").alias("__lbl")] if label_col else []
    )
    base = (
        emb.select(*cols)
        .withColumn("__n2", dot_long(F.col("__v"), F.col("__v")))
        .withColumn("__m", _best_struct(F.col("__v"), cents))
        .select(
            F.col("__m").getField("i").cast("long").alias("cell"),
            (F.col("__n2") - F.col("__m").getField("s")).alias("__d2"),
            *([F.col("__lbl")] if label_col else []),
        )
    )
    g = base.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum("__d2").alias("inertia"),
    )
    if not label_col:
        return g
    lc = base.groupBy("cell", "__lbl").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("cell").orderBy(F.desc("cnt"), F.asc("__lbl"))
    dom = (
        lc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "cell",
            F.col("__lbl").alias("dom_label"),
            F.col("cnt").alias("n_dominant"),
        )
    )
    return g.join(dom, "cell").select(
        "cell",
        "n_vectors",
        "inertia",
        "dom_label",
        "n_dominant",
        F.expr("(n_dominant * 1000000) div n_vectors").alias("purity_micros"),
    )
