"""Product quantization (PQ) for embedding search at corpus scale
(SURVEY §2.12 extension; Jégou et al. 2011, "Product Quantization for
Nearest Neighbor Search" — the compression layer under FAISS-style
IVF-PQ indexes. The reference has no vector search at all; this is
pure Spark-first design).

Why PQ at 100 TB: a 64-dim float corpus is 256 B/vector; PQ with m=4
subspaces and 16 centroids each stores 4 SMALL codes (here 4 longs for
SQL-parity simplicity; 2 bytes packed in a real deployment) — the
index that must be re-scanned per query shrinks by ~2 orders of
magnitude, which is what makes exhaustive ADC scoring of a billion
vectors a single narrow scan instead of a vector-payload shuffle.

Spark realization — everything is built-in expressions:

- TRAIN: m sub-k-means fitted in the SAME corpus scans (one combined
  assignment pass + one hash-aggregate per Lloyd's round — see
  ``pq_codebooks``); exact micro-int arithmetic, so codebooks are
  deterministic and reproducible cross-engine.
- ENCODE: nearest-subcentroid per subspace as one ``mapInArrow``
  kernel over the scan (r11: one int64 matmul per batch/subspace with
  the exact ``_best_struct`` score and tie-break — the folded-literal
  projection it replaced spent its time in analysis+codegen of the
  m*k_sub*sub expression tree); the corpus is never shuffled to be
  encoded.
- SEARCH (ADC, asymmetric distance): for a query q and an encoded row
  with codes (j_1..j_m), approx ||q - x||^2 = sum_s ||q_s - c_{s,j_s}||^2,
  computed by the same kernel shape (``_adc_scored``: the stored code
  fancy-indexes the constant codebook; exact longs) — the corpus side
  touches codes, never raw vectors. Top-k per query is the bounded
  two-phase heap merge (``operators.topk.topk_per_key``), never a
  per-``q_id`` window over the full scored relation — with few query
  keys such a window funnels O(corpus) rows through one task's sorter.

Exactness policy: vectors are exact integer micro-units end to end
(``to_micro_ints``), centroid averaging truncates toward zero, and ADC
distances are exact longs — a SQL oracle replaying the folded
codebooks reproduces every code and distance bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lakeflow.catalog import read_parquet
from lakeflow.functions.localrel import local_table
from lakeflow.operators.kmeans import _argbest_cell
from lakeflow.operators.similarity import _with_vectors, dot_long
from lakeflow.operators.topk import topk_per_key

Codebooks = "list[list[list[int]]]"  # [subspace][centroid][component]


def _slice(v: Column, s: int, sub_dim: int) -> Column:
    # F.slice is 1-based
    return F.slice(v, s * sub_dim + 1, sub_dim)


def pq_codebooks(
    emb: DataFrame,
    m: int = 4,
    k_sub: int = 16,
    n_iter: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "pq",
) -> list[list[list[int]]]:
    """Fit ``m`` independent sub-codebooks of ``k_sub`` centroids each
    (micro-int components), one k-means per ``dim/m``-wide subspace.
    Returns [subspace][centroid][component] — m*k_sub*(dim/m) ints,
    bounded and safe to fold into plans.

    All m sub-k-means run in the SAME scans: init slices the m initial
    books out of one deterministic seeded-hash draw of k_sub corpus
    vectors, and each Lloyd's round is ONE pass — per row the m
    subspace assignments are computed side by side (folded-literal
    argmax, as in ``kmeans``), exploded to (subspace, cell, pos, x) and
    reduced by one hash-aggregate whose map-side combine bounds the
    shuffle at m*k_sub*sub rows per partition. A naive per-subspace
    loop runs m scans and m aggregates per round (24 jobs vs 3 at m=8,
    n_iter=2) — measured only 1.2x slower on the small local sf0.1
    table where the scan is nearly free, but at 100 TB the fit cost IS
    the scan cost, so the single-pass shape is the one that survives.
    Arithmetic is exact micro-ints with truncating division, so
    codebooks are deterministic, partitioning-invariant, and
    SQL-reproducible."""
    from lakeflow.functions.hashing import seeded_hash
    from lakeflow.operators.kmeans import _best_struct, _trunc_div

    if dim % m != 0:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    sub = dim // m
    base = _with_vectors(emb, id_col, vec_col)
    picked = (
        base.select(
            "__v",
            seeded_hash(F.col(id_col).cast("string"), seed).alias("__h"),
            F.col(id_col),
        )
        .orderBy("__h", id_col)
        .limit(k_sub)
        .collect()
    )
    if len(picked) < k_sub:
        raise ValueError(f"corpus has fewer than k_sub={k_sub} vectors")
    books = [
        [[int(x) for x in r["__v"][s * sub : (s + 1) * sub]] for r in picked]
        for s in range(m)
    ]
    for _ in range(n_iter):
        # one pass: per row, the m winning cells side by side, then one
        # partial-combined aggregate over (subspace, cell, component)
        assigned = base.select(
            "__v",
            *[
                _best_struct(_slice(F.col("__v"), s, sub), books[s])
                .getField("i")
                .alias(f"__c{s}")
                for s in range(m)
            ],
        )
        exploded = assigned.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(s).alias("s"),
                            F.col(f"__c{s}").alias("cell"),
                            _slice(F.col("__v"), s, sub).alias("sv"),
                        )
                        for s in range(m)
                    ]
                )
            ).alias("z")
        ).select("z.s", "z.cell", F.posexplode("z.sv").alias("pos", "x"))
        rows = (
            exploded.groupBy("s", "cell", "pos")
            .agg(F.sum("x").alias("sum"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        new = [[list(c) for c in b] for b in books]  # empty cells carry over
        for r in rows:
            new[r["s"]][r["cell"]][r["pos"]] = _trunc_div(int(r["sum"]), int(r["n"]))
        books = new
    return books


def _pq_encode_fn(codebooks: list[list[list[int]]]):
    """Per-task Arrow encoder (r11 optimization round, guide §4.2):
    the folded-literal argmin built an m * k_sub * sub expression tree
    whose analysis + codegen dominated the encode at bench scale; one
    numpy matmul per (batch, subspace) computes the identical exact
    integers. Tie-break matches ``kmeans._best_struct`` exactly: max
    score 2*v.c - c.c, ties to the LARGER cell id (argmax over the
    reversed score matrix). Int64 products are overflow-guarded the
    same way the gram pass is."""

    def fn(batches):
        import numpy as np
        import pyarrow as pa

        m = len(codebooks)
        sub = len(codebooks[0][0])
        dim = m * sub
        k_sub = len(codebooks[0])
        cmats = [
            np.asarray(b, dtype=np.int64) for b in codebooks
        ]  # each k_sub x sub
        cmax = max(int(np.abs(c).max(initial=0)) for c in cmats)
        # codebook-only guard (ADVICE r11): c2s below is computed from
        # the codebook alone, so huge centroids must fail here even if
        # every batch value is small
        if sub * cmax * cmax > 2**62:
            raise ValueError(
                "pq_encode: |codebook micro component| too large for "
                f"exact int64 norms ({cmax})"
            )
        c2s = [(c * c).sum(axis=1) for c in cmats]
        for b in batches:
            ids = b.column(0)
            arr = b.column(1)
            n = len(arr)
            if n == 0:
                continue
            if arr.null_count:
                raise ValueError(
                    "pq_encode: null vector rows are not encodable"
                )
            values = arr.flatten()
            if values.null_count:
                raise ValueError(
                    "pq_encode: null vector elements are not encodable"
                )
            # per-ROW length validation (ADVICE r11): compensating
            # mixed-length rows pass a flattened-total check and then
            # reshape misaligns every subsequent row's codes
            lens = pa.compute.list_value_length(arr).to_numpy(
                zero_copy_only=False
            )
            if not (lens == dim).all():
                raise ValueError(
                    "INVALID_ARRAY_INDEX: pq_encode saw a vector whose "
                    f"length differs from m*sub = {dim}"
                )
            v = values.to_numpy(zero_copy_only=False).astype(np.float64)
            if not np.isfinite(v).all():
                raise ValueError(
                    "pq_encode: non-finite vector component (NaN/Inf) "
                    "is not representable in exact micros"
                )
            x = np.floor(v * 1_000_000.0 + 0.5).astype(np.int64)
            X = x.reshape(n, dim)
            mx = int(np.abs(X).max(initial=0))
            # |2*sv.c - c.c| <= sub*cmax*(2*mx + cmax) <= sub*(mx+cmax)^2
            # — bound the WHOLE score, not just the cross term
            if mx and sub * (mx + cmax) * (mx + cmax) > 2**62:
                raise ValueError(
                    "pq_encode: |micro component| too large for exact "
                    f"int64 scores ({mx})"
                )
            codes = np.empty((n, m), dtype=np.int64)
            for s in range(m):
                sv = X[:, s * sub : (s + 1) * sub]
                scores = 2 * (sv @ cmats[s].T) - c2s[s][None, :]
                # ties -> LARGER cell id (the _best_struct contract):
                # argmax over the column-reversed matrix picks the
                # rightmost maximum
                codes[:, s] = (k_sub - 1) - np.argmax(
                    scores[:, ::-1], axis=1
                )
            offs = pa.array(
                range(0, (n + 1) * m, m), type=pa.int32()
            )
            codes_arr = pa.ListArray.from_arrays(
                offs, pa.array(codes.reshape(-1), type=pa.int64())
            )
            yield pa.RecordBatch.from_arrays(
                [ids, codes_arr], names=["__id", "codes"]
            )

    return fn


def pq_encode(
    emb: DataFrame,
    codebooks: list[list[list[int]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<long>): per subspace, the nearest sub-centroid
    id — one narrow ``mapInArrow`` pass over the scan, no join, no
    shuffle (see :func:`_pq_encode_fn` for why it is not a folded-
    literal projection anymore; the integers and the larger-id
    tie-break are unchanged, so every PQ oracle replays it)."""
    id_type = dict(emb.dtypes)[id_col]
    out = emb.select(F.col(id_col), F.col(vec_col)).mapInArrow(
        _pq_encode_fn(codebooks),
        f"__id {id_type}, codes array<long>",
    )
    return out.withColumnRenamed("__id", id_col)


def _adc_scored(
    joined: DataFrame, codebooks: list[list[list[int]]], id_col: str
) -> DataFrame:
    """(q_id, id, adc_d2) from a joined (q_id, id, codes, __qv)
    relation via one ``mapInArrow`` kernel (r11 optimization round,
    guide §4.2): the folded-CASE ``_adc_term`` chain evaluated up to
    2m interpreted zip_with dot folds PER ROW (~10 µs each — the ADC
    stage dominated both serving rows); the kernel computes the
    identical exact integers vectorized — per subspace,
    qs.qs - 2*qs.c_code + c_code.c_code with the stored code fancy-
    indexing the constant codebook. Everything is already micro-int
    (codes from pq_encode, __qv from _with_vectors), so there is no
    quantization step to mirror."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    in_df = joined.select("q_id", F.col(id_col), "codes", "__qv")
    types = dict(in_df.dtypes)

    def fn(batches):
        import numpy as np
        import pyarrow as pa

        cm = [np.asarray(b, dtype=np.int64) for b in codebooks]
        cmax = max(int(np.abs(c).max(initial=0)) for c in cm)
        # codebook-only guard (ADVICE r11): c2 is computed from the
        # codebook alone — huge centroids must fail at construction
        if sub * cmax * cmax > 2**62:
            raise ValueError(
                "adc: |codebook micro component| too large for exact "
                f"int64 norms ({cmax})"
            )
        c2 = [(c * c).sum(axis=1) for c in cm]
        for b in batches:
            n = len(b)
            if n == 0:
                continue
            codes_col, qv_col = b.column(2), b.column(3)
            if (
                codes_col.null_count
                or qv_col.null_count
                or codes_col.flatten().null_count
                or qv_col.flatten().null_count
            ):
                raise ValueError("adc: null codes/query vectors")
            # per-ROW length validation (ADVICE r11): flattened totals
            # admit compensating mixed-length rows that reshape then
            # silently misaligns
            clens = pa.compute.list_value_length(codes_col).to_numpy(
                zero_copy_only=False
            )
            if not (clens == m).all():
                raise ValueError(
                    "INVALID_ARRAY_INDEX: adc codes length differs "
                    f"from m = {m}"
                )
            qlens = pa.compute.list_value_length(qv_col).to_numpy(
                zero_copy_only=False
            )
            if not (qlens == m * sub).all():
                raise ValueError(
                    "INVALID_ARRAY_INDEX: adc query vector length differs "
                    f"from m*sub = {m * sub}"
                )
            C = codes_col.flatten().to_numpy(zero_copy_only=False)
            C = C.astype(np.int64).reshape(n, m)
            Q = qv_col.flatten().to_numpy(zero_copy_only=False)
            Q = Q.astype(np.int64).reshape(n, m * sub)
            mx = int(np.abs(Q).max(initial=0))
            # the distance accumulates m non-negative |qs-c|^2 terms,
            # each <= sub*(mx+cmax)^2 — guard the full m-term sum
            # (ADVICE r11), not one subspace term
            if mx and m * sub * (mx + cmax) * (mx + cmax) > 2**62:
                raise ValueError(
                    "adc: |micro component| too large for exact int64 "
                    f"distances ({mx})"
                )
            adc = np.zeros(n, dtype=np.int64)
            for s in range(m):
                qs = Q[:, s * sub : (s + 1) * sub]
                cc = cm[s][C[:, s]]
                adc += (
                    (qs * qs).sum(axis=1)
                    - 2 * (qs * cc).sum(axis=1)
                    + c2[s][C[:, s]]
                )
            yield pa.RecordBatch.from_arrays(
                [b.column(0), b.column(1), pa.array(adc, type=pa.int64())],
                names=["q_id", "__out_id", "adc_d2"],
            )

    out = in_df.mapInArrow(
        fn,
        f"q_id {types['q_id']}, __out_id {types[id_col]}, adc_d2 long",
    )
    return out.withColumnRenamed("__out_id", id_col)


def pq_adc_topk(
    emb: DataFrame,
    query_pred: Column,
    codebooks: list[list[list[int]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codes: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k neighbors by asymmetric distance: corpus codes
    (narrow encode scan, or a PREBUILT ``codes`` relation from
    :func:`pq_fit`) x broadcast query rows; distance touches the
    m stored codes plus the query's own subvectors — the corpus'
    vectors are read once to encode and never again. Returns
    (q_id, vec_id, adc_d2, rnk)."""
    m = len(codebooks)
    if codes is None:
        codes = pq_encode(emb, codebooks, id_col, vec_col)
    q = (
        _with_vectors(emb.filter(query_pred), id_col, vec_col)
        .withColumnRenamed(id_col, "q_id")
        .withColumnRenamed("__v", "__qv")
        .drop("__n2")
    )
    joined = codes.join(F.broadcast(q), F.col(id_col) != F.col("q_id"))
    scored = _adc_scored(joined, codebooks, id_col)
    return topk_per_key(scored, "q_id", "adc_d2", id_col, k)


def pq_ann_topk(
    emb: DataFrame,
    query_pred: Column,
    codebooks: list[list[list[int]]],
    k: int = 5,
    shortlist: int = 200,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codes: DataFrame | None = None,
) -> DataFrame:
    """PQ search as actually deployed (FAISS IVF-PQ serving shape):
    ADC over the compressed codes SHORTLISTS ``shortlist`` candidates
    per query, then exact L2 re-ranks only that shortlist — per query
    the full-precision vectors of ``shortlist`` rows are touched, never
    the corpus'. Raw ADC alone under-resolves close neighbors (the
    quantization error floor); the rerank restores recall while keeping
    the expensive exact arithmetic O(queries * shortlist). Measured
    recall@5 vs exact truth: 0.94 / 0.92 / 0.78 at sf0.001/0.01/0.1
    with m=8, k_sub=16, shortlist=200 (contract-tested >= 0.6).
    Pass a prebuilt ``codes`` relation (from :func:`pq_fit`) to skip
    the in-query encode scan. Returns (q_id, vec_id, d2, rnk)."""
    short = pq_adc_topk(
        emb, query_pred, codebooks, shortlist, id_col, vec_col, codes=codes
    ).select("q_id", id_col)
    base = _with_vectors(emb, id_col, vec_col)
    q = (
        _with_vectors(emb.filter(query_pred), id_col, vec_col)
        .withColumnRenamed(id_col, "q_id")
        .withColumnRenamed("__v", "__qv")
        .withColumnRenamed("__n2", "__qn2")
    )
    cand = short.join(base, id_col).join(F.broadcast(q), "q_id")
    d2 = F.col("__n2") + F.col("__qn2") - F.lit(2) * dot_long(
        F.col("__v"), F.col("__qv")
    )
    scored = cand.select("q_id", id_col, d2.alias("d2"))
    return topk_per_key(scored, "q_id", "d2", id_col, k)


def ivf_pq_topk(
    emb: DataFrame,
    query_pred: Column,
    codebooks: list[list[list[int]]],
    n_cells: int = 16,
    n_probe: int = 8,
    k: int = 5,
    shortlist: int = 200,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "ivf",
    target_cell_size: int | None = None,
    coarse: list[list[int]] | None = None,
) -> DataFrame:
    """IVF-PQ — the composed FAISS serving shape for billion-vector
    search: a coarse k-means partitions the corpus into ``n_cells``
    Voronoi cells (narrow folded-literal assignment, no shuffle), each
    query probes its ``n_probe`` nearest cells, and ADC over the PQ
    codes runs ONLY within the probed cells — so per query the scan
    touches ~n_probe/n_cells of the compressed index instead of all of
    it, and full-precision vectors are read only for the ``shortlist``
    rows the exact L2 re-rank keeps. Both prunings compose: cell probe
    cuts the candidate population, PQ codes shrink what a candidate
    costs to score. Returns (q_id, vec_id, d2, rnk).

    Sizing: a FIXED ``n_cells`` stops pruning as the corpus grows (16
    cells / 8 probes scans half the index forever). Pass
    ``target_cell_size`` to derive ``n_cells = ceil(N / target)`` (one
    count pass — the rule ``semantic_dedup`` uses) so cell population
    stays ~constant and, with ``n_probe`` fixed, per-query probed rows
    stay ~``n_probe * target_cell_size`` REGARDLESS of corpus size —
    the probed fraction shrinks as data grows, which is the whole point
    of IVF. ``target_cell_size`` is deployment-tuned: the recall floor
    rises with it (more of the index probed) and the folded-literal
    centroid assignment stops paying beyond a few hundred cells, at
    which point the coarse assignment becomes a broadcast join against
    a centroid table — same plan family, different constant.

    Determinism: coarse centroids and sub-codebooks are exact micro-int
    k-means (seeded init), the probe set is an exact integer argsort —
    bit-reproducible across partitionings and engines."""
    from lakeflow.operators.kmeans import _with_best, derive_k, kmeans_centroids

    if target_cell_size is not None:
        n_cells = derive_k(
            emb.count(), target_cell_size, k_min=max(2, n_probe)
        )
    if coarse is None:
        coarse = kmeans_centroids(
            emb, k=n_cells, n_iter=n_iter, id_col=id_col, vec_col=vec_col,
            seed=seed,
        )
    elif len(coarse) != n_cells:
        raise ValueError(
            f"supplied coarse centroids: {len(coarse)} != n_cells={n_cells}"
        )
    # cell assignment via kmeans._with_best: folded literals for small
    # n_cells, broadcast-centroid join beyond MAX_FOLDED_CENTROIDS
    base = _with_vectors(emb, id_col, vec_col)
    assigned = _with_best(base, coarse, id_col).select(
        F.col(id_col),
        F.col("__m").getField("i").cast("long").alias("cell"),
    )
    codes = pq_encode(emb, codebooks, id_col, vec_col).join(assigned, id_col)
    return _ivf_search(
        emb, query_pred, codes, coarse, codebooks, n_probe, k, shortlist,
        id_col, vec_col,
    )


def _ivf_search(
    emb: DataFrame,
    query_pred: Column,
    codes: DataFrame,
    coarse: list[list[int]],
    codebooks: list[list[list[int]]],
    n_probe: int,
    k: int,
    shortlist: int,
    id_col: str,
    vec_col: str,
    max_fold: int | None = None,
) -> DataFrame:
    """The serving half of IVF-PQ: cell probe × ADC within probed cells
    × exact rerank, over an ALREADY-BUILT index (``codes`` relation +
    folded ``coarse``/``codebooks``). Shared by the inline
    :func:`ivf_pq_topk` and the persisted-index :func:`ivf_pq_search`.

    The query-side probe has the same two physically different,
    semantically identical paths as ``kmeans._with_best``: folded
    centroid literals while n_cells is small; beyond
    MAX_FOLDED_CENTROIDS (corpus-derived n_cells reaches 10^5+ at
    100 TB, far past what constant folding can carry), the centroid
    TABLE scores against the broadcast query rows and the bounded
    two-phase ``topk_per_key`` keeps the top n_probe per query.
    Identical ordering on both paths (score desc, cell id asc on
    exact-score ties; equality tested)."""
    from lakeflow.operators.kmeans import MAX_FOLDED_CENTROIDS

    if max_fold is None:
        max_fold = MAX_FOLDED_CENTROIDS
    m = len(codebooks)
    base = _with_vectors(emb, id_col, vec_col)
    q = (
        _with_vectors(emb.filter(query_pred), id_col, vec_col)
        .withColumnRenamed(id_col, "q_id")
        .withColumnRenamed("__v", "__qv")
        .drop("__n2")
    )
    if len(coarse) <= max_fold:
        # n_probe nearest coarse cells via an exact integer argsort
        # over the folded centroid scores (query rows are few — the
        # probe relation broadcasts). Structs carry the NEGATED score
        # so ascending array_sort yields (score desc, cell id asc) —
        # the same total order the large-n_cells path produces.
        c2s = [sum(x * x for x in c) for c in coarse]
        scores = F.array(
            *[
                F.struct(
                    (
                        F.lit(c2s[i])
                        - dot_long(F.col("__qv"), F.array([F.lit(x) for x in c]))
                        * F.lit(2)
                    ).alias("s"),
                    F.lit(i).alias("i"),
                )
                for i, c in enumerate(coarse)
            ]
        )
        probes = q.select(
            "q_id",
            "__qv",
            F.explode(F.slice(F.array_sort(scores), 1, n_probe)).alias("p"),
        ).select("q_id", "__qv", F.col("p.i").cast("long").alias("cell"))
    else:
        spark = emb.sparkSession
        cdf = local_table(
            spark,
            [
                (i, [int(x) for x in c], sum(int(x) * int(x) for x in c))
                for i, c in enumerate(coarse)
            ],
            ["i", "cv", "c2"],
        )
        scored_cells = cdf.crossJoin(F.broadcast(q)).select(
            "q_id",
            F.col("i").cast("long").alias("i"),
            (
                dot_long(F.col("__qv"), F.col("cv")) * F.lit(2) - F.col("c2")
            ).alias("__s"),
        )
        probes = (
            topk_per_key(scored_cells, "q_id", "__s", "i", n_probe, descending=True)
            .select("q_id", F.col("i").alias("cell"))
            .join(F.broadcast(q), "q_id")
            .select("q_id", "__qv", "cell")
        )
    # ADC only where the corpus row's cell is probed by the query
    joined = codes.join(F.broadcast(probes), "cell").filter(
        F.col(id_col) != F.col("q_id")
    )
    scored = _adc_scored(joined, codebooks, id_col)
    short = topk_per_key(scored, "q_id", "adc_d2", id_col, shortlist).select(
        "q_id", id_col
    )
    qv = (
        _with_vectors(emb.filter(query_pred), id_col, vec_col)
        .withColumnRenamed(id_col, "q_id")
        .withColumnRenamed("__v", "__qv")
        .withColumnRenamed("__n2", "__qn2")
    )
    cand = short.join(base, id_col).join(F.broadcast(qv), "q_id")
    d2 = F.col("__n2") + F.col("__qn2") - F.lit(2) * dot_long(
        F.col("__v"), F.col("__qv")
    )
    rer = cand.select("q_id", id_col, d2.alias("d2"))
    return topk_per_key(rer, "q_id", "d2", id_col, k)


# ---------------------------------------------------------------------------
# fit / search split — index BUILD is a batch job, SEARCH is serving.
#
# Conflating them (refitting codebooks inside every query) hides the
# real serving cost: training is driver-collect round trips + Lloyd
# passes over the corpus, while a search against a built index touches
# only probed codes + the shortlist's full vectors. At scale the
# codebooks/centroids are fit once (or refreshed on drift) and persisted
# as tiny tables; every query loads ~m*k_sub + n_cells rows and folds
# them into its plan.


def _collect_train(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    train_sample: int | None,
    seed: str,
    n: int | None = None,
) -> list[tuple]:
    """Collect the (bounded) training set for the index fits as
    (id, id_str, micro-int vector) tuples. With ``train_sample`` set
    and a larger corpus, the set is a deterministic content-hash
    Bernoulli sample (expected size ~= train_sample): the sampling
    predicate is a narrow codegen'd filter at the scan — no sort, no
    shuffle — so at 100 TB the training pass reads the corpus once and
    collects only the sample. ``train_sample=None`` collects
    everything (only sane for small relations)."""
    from lakeflow.operators.sampling import PPM, hash_sample

    train = emb
    if train_sample is not None:
        n = emb.count() if n is None else n
        if n > train_sample:
            rate_ppm = min(PPM, (train_sample * PPM + n - 1) // n)
            train = hash_sample(emb, id_col, rate_ppm, seed=f"{seed}-train")
    rows = (
        _with_vectors(train, id_col, vec_col)
        .select(
            F.col(id_col).alias("__id"),
            F.col(id_col).cast("string").alias("__ids"),
            "__v",
        )
        .collect()
    )
    return [(r["__id"], r["__ids"], [int(x) for x in r["__v"]]) for r in rows]


def _init_pick(rows: list[tuple], k: int, seed: str) -> list[list[int]]:
    """First ``k`` training vectors by (seeded hash, id) — the same
    deterministic init draw the distributed trainers use."""
    from lakeflow.functions.hashing import seeded_hash_py

    picked = sorted(rows, key=lambda t: (seeded_hash_py(t[1], seed), t[0]))[:k]
    if len(picked) < k:
        raise ValueError(f"training set has fewer than k={k} vectors")
    return [list(t[2]) for t in picked]


def pq_codebooks_driver(
    rows: list[tuple], m: int, k_sub: int, n_iter: int, dim: int, seed: str = "pq"
) -> list[list[list[int]]]:
    """Driver-side twin of :func:`pq_codebooks` over a collected
    training set: one init draw sliced into the m subspaces, then
    ``n_iter`` exact-int Lloyd rounds per subspace
    (``kmeans.lloyd_rounds_py``). Bit-identical to the distributed
    trainer on the same rows (tested)."""
    from lakeflow.operators.kmeans import lloyd_rounds_py

    if dim % m != 0:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    sub = dim // m
    init = _init_pick(rows, k_sub, seed)
    books = []
    for s in range(m):
        vecs = [t[2][s * sub : (s + 1) * sub] for t in rows]
        cents = [c[s * sub : (s + 1) * sub] for c in init]
        books.append(lloyd_rounds_py(vecs, cents, n_iter))
    return books


def coarse_centroids_driver(
    rows: list[tuple], k: int, n_iter: int, seed: str
) -> list[list[int]]:
    """Driver-side twin of ``kmeans.kmeans_centroids`` over a collected
    training set (same init, same exact-int Lloyd rounds)."""
    from lakeflow.operators.kmeans import lloyd_rounds_py

    return lloyd_rounds_py([t[2] for t in rows], _init_pick(rows, k, seed), n_iter)


def _assign_cells(
    spark,
    base: DataFrame,
    coarse: list[list[int]],
    id_col: str,
    max_fold: int | None = None,
    two_level: bool | None = None,
) -> DataFrame:
    """(id, cell) coarse-cell assignment for the index build, riding
    the ``kmeans._with_best`` scale ladder: exact folded literals for
    small k, exact broadcast join in the mid range (N*k score rows —
    QUADRATIC in corpus size when k is corpus-derived), and the
    FAISS-IMI two-level group -> within-group argmax (~N*2*sqrt(k)
    rows, the standard IVF approximation — the search-side shortlist +
    exact rerank absorbs it, and the recall contract is the gate,
    asserted at the 100x probe) beyond the folding threshold, which is
    the default there."""
    from lakeflow.operators.kmeans import MAX_FOLDED_CENTROIDS, _with_best

    if max_fold is None:
        max_fold = MAX_FOLDED_CENTROIDS
    if two_level is None:
        two_level = len(coarse) > max_fold
    return _with_best(
        base, coarse, id_col, max_fold=max_fold, two_level=two_level
    ).select(
        F.col(id_col),
        F.col("__m").getField("i").cast("long").alias("cell"),
    )


#: Training vectors per coarse cell when the sample must scale with a
#: corpus-derived n_cells (FAISS warns below ~39 points/centroid; 8
#: keeps the driver collect bounded while never starving _init_pick).
TRAIN_PER_CELL = 8

#: Hard cap on the driver-side training collect (vectors). At dim=64
#: int64 this is ~128 MB of sample; past it the coarse fit falls back
#: to the distributed trainer over a (still bounded) hash-sample.
DRIVER_TRAIN_CAP = 1 << 18


def ivf_pq_fit(
    spark,
    emb: DataFrame,
    index_path: str,
    m: int = 8,
    k_sub: int = 16,
    n_cells: int = 16,
    n_iter: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "ivf",
    target_cell_size: int | None = None,
    train_sample: int | None = 16_384,
    two_level: bool | None = None,
    n: int | None = None,
) -> None:
    """Build and persist an IVF-PQ index for ``emb``:

    - ``{index_path}/codebooks``: (s, j, centroid array<long>) —
      m*k_sub rows, the PQ sub-codebooks;
    - ``{index_path}/coarse``: (i, centroid array<long>) — n_cells rows;
    - ``{index_path}/codes``: (id, codes array<long>, cell long) — the
      actual index, one narrow row per corpus vector (the ~2-orders
      compression that makes exhaustive ADC affordable).

    Training runs DRIVER-SIDE on a bounded deterministic hash-sample
    (``train_sample``, FAISS practice — codebook quality saturates at
    ~10k-100k training vectors regardless of corpus size): one sampled
    scan collects ~train_sample vectors, then the exact-int Lloyd
    rounds replay in numpy, bit-identical to the distributed trainers
    on the same rows (when the corpus is smaller than ``train_sample``
    the fit equals the full distributed fit exactly — tested). This
    bounds fit cost in corpus size: the corpus-proportional work is
    exactly two scans (the sampling pass and the encode pass), both
    narrow projections. The encode/codes write stays distributed.

    CONSTRAINT (r6 advice): with a corpus-derived ``n_cells``
    (``target_cell_size``), k can exceed the default sample — Lloyd
    needs >= k training vectors. The sample therefore scales with k
    (``TRAIN_PER_CELL`` vectors per cell) up to ``DRIVER_TRAIN_CAP``;
    past the cap — or if the Bernoulli draw still undershoots k — the
    COARSE fit falls back to the distributed ``kmeans_centroids``
    trainer over a (never collected) hash-sample, so the default
    configuration works at any corpus size. PQ codebooks always fit on
    the driver sample: k_sub is small and fixed."""
    from lakeflow.operators.kmeans import derive_k

    # thread a caller-known corpus count (manifest/zonemap row counts)
    # so the fit skips its own counting pass (r6 verdict minor #4)
    if n is None and (target_cell_size is not None or train_sample is not None):
        n = emb.count()
    if target_cell_size is not None:
        n_cells = derive_k(n, target_cell_size, k_min=2)
    coarse_need = n_cells * TRAIN_PER_CELL
    if train_sample is not None and coarse_need > train_sample:
        train_sample = min(coarse_need, DRIVER_TRAIN_CAP)
    rows = _collect_train(emb, id_col, vec_col, train_sample, seed, n=n)
    books = pq_codebooks_driver(rows, m=m, k_sub=k_sub, n_iter=n_iter, dim=dim)
    if n_cells <= len(rows):
        coarse = coarse_centroids_driver(rows, k=n_cells, n_iter=n_iter, seed=seed)
    else:
        # distributed fallback: train on a hash-sample of ~coarse_need
        # vectors that never leaves the executors (only the k centroids
        # are collected, exactly what MLlib's KMeans holds driver-side)
        from lakeflow.operators.kmeans import kmeans_centroids
        from lakeflow.operators.sampling import PPM, hash_sample

        train = emb
        if n is not None and n > coarse_need:
            rate_ppm = min(PPM, (coarse_need * PPM + n - 1) // n)
            train = hash_sample(emb, id_col, rate_ppm, seed=f"{seed}-coarse")
        coarse = kmeans_centroids(
            train, k=n_cells, n_iter=n_iter, id_col=id_col,
            vec_col=vec_col, seed=seed, two_level=True,
        )
    # the two constant tables route through local_table: VALUES literal
    # while small (pure JVM — a Python-RDD conversion's worker spin-up
    # costs more than the whole fit), Arrow batches past the
    # literal-cell threshold (corpus-derived n_cells)
    local_table(
        spark,
        [
            (s, j, list(c))
            for s, b in enumerate(books)
            for j, c in enumerate(b)
        ],
        ["s", "j", "centroid"],
    ).coalesce(1).write.mode("overwrite").parquet(f"{index_path}/codebooks")
    local_table(
        spark,
        [(i, list(c)) for i, c in enumerate(coarse)],
        ["i", "centroid"],
    ).coalesce(1).write.mode("overwrite").parquet(f"{index_path}/coarse")
    # cell assignment climbs the _assign_cells scale ladder: exact
    # folded literals for small n_cells, exact broadcast join in the
    # mid range, two-level (group -> within-group argmax) beyond the
    # folding threshold — the N*k assignment term is the one
    # corpus-quadratic piece of an IVF build with corpus-derived k,
    # and the two-level rung cuts it to ~N*2*sqrt(k)
    base = _with_vectors(emb, id_col, vec_col)
    assigned = _assign_cells(spark, base, coarse, id_col, two_level=two_level)
    codes = pq_encode(emb, books, id_col, vec_col).join(assigned, id_col)
    codes.write.mode("overwrite").parquet(f"{index_path}/codes")


def pq_fit(
    spark,
    emb: DataFrame,
    index_path: str,
    m: int = 8,
    k_sub: int = 16,
    n_iter: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "pq",
    train_sample: int | None = 16_384,
    n: int | None = None,
) -> None:
    """Build and persist a flat (exhaustive-ADC) PQ index — the
    coarse-cell-free sibling of :func:`ivf_pq_fit`:

    - ``{index_path}/codebooks``: (s, j, centroid array<long>) —
      m*k_sub rows, the PQ sub-codebooks;
    - ``{index_path}/codes``: (id, codes array<long>) — one narrow row
      per corpus vector.

    Same bounded driver-side training as ``ivf_pq_fit`` (k_sub is
    small and fixed, so no sample scaling is ever needed). Serving
    (:func:`pq_search`) then touches only the codes relation + the
    shortlist's full vectors — the fit is the one corpus pass."""
    rows = _collect_train(emb, id_col, vec_col, train_sample, seed, n=n)
    books = pq_codebooks_driver(rows, m=m, k_sub=k_sub, n_iter=n_iter, dim=dim)
    local_table(
        spark,
        [
            (s, j, list(c))
            for s, b in enumerate(books)
            for j, c in enumerate(b)
        ],
        ["s", "j", "centroid"],
    ).coalesce(1).write.mode("overwrite").parquet(f"{index_path}/codebooks")
    pq_encode(emb, books, id_col, vec_col).write.mode("overwrite").parquet(
        f"{index_path}/codes"
    )


def load_pq_index(spark, index_path: str) -> tuple[list[list[list[int]]], DataFrame]:
    """(codebooks, codes): the codebook collect is bounded (m*k_sub
    rows); codes stays a lazy relation over the persisted parquet."""
    cb = read_parquet(spark, f"{index_path}/codebooks").collect()
    m = 1 + max(r["s"] for r in cb)
    k_sub = 1 + max(r["j"] for r in cb)
    books: list[list[list[int]]] = [[None] * k_sub for _ in range(m)]
    for r in cb:
        books[r["s"]][r["j"]] = [int(x) for x in r["centroid"]]
    return books, read_parquet(spark, f"{index_path}/codes")


def pq_search(
    spark,
    emb: DataFrame,
    query_pred: Column,
    index_path: str,
    k: int = 5,
    shortlist: int = 200,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The serving half of the flat-PQ split: ADC shortlist over the
    PREBUILT codes + exact rerank — no training, no encode scan.
    Equivalent to :func:`pq_ann_topk` with the same codebooks
    (fit/search ≡ inline, tested)."""
    books, codes = load_pq_index(spark, index_path)
    return pq_ann_topk(
        emb, query_pred, books, k=k, shortlist=shortlist,
        id_col=id_col, vec_col=vec_col, codes=codes,
    )


def load_ivf_pq_index(
    spark, index_path: str
) -> tuple[list[list[list[int]]], list[list[int]], DataFrame]:
    """(codebooks, coarse, codes): the two folded-constant tables are
    collected (bounded: m*k_sub + n_cells rows); codes stays a lazy
    relation over the persisted parquet."""
    cb = read_parquet(spark, f"{index_path}/codebooks").collect()
    m = 1 + max(r["s"] for r in cb)
    k_sub = 1 + max(r["j"] for r in cb)
    books: list[list[list[int]]] = [[None] * k_sub for _ in range(m)]
    for r in cb:
        books[r["s"]][r["j"]] = [int(x) for x in r["centroid"]]
    cr = read_parquet(spark, f"{index_path}/coarse").collect()
    coarse = [None] * len(cr)
    for r in cr:
        coarse[r["i"]] = [int(x) for x in r["centroid"]]
    codes = read_parquet(spark, f"{index_path}/codes")
    return books, coarse, codes


def ivf_pq_search(
    spark,
    emb: DataFrame,
    query_pred: Column,
    index_path: str,
    n_probe: int = 8,
    k: int = 5,
    shortlist: int = 200,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Serve ANN queries against a PREBUILT index (:func:`ivf_pq_fit`):
    no training, no corpus encode — load the two tiny constant tables,
    fold them, and run cell probe × ADC × exact rerank. Per query the
    cost is ~n_probe cells of codes plus ``shortlist`` full vectors,
    independent of how the index was sized. Returns
    (q_id, vec_id, d2, rnk)."""
    books, coarse, codes = load_ivf_pq_index(spark, index_path)
    return _ivf_search(
        emb, query_pred, codes, coarse, books, n_probe, k, shortlist,
        id_col, vec_col,
    )
