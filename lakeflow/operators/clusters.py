"""Connected components over candidate-pair graphs.

Near-dup dedup and entity resolution produce PAIRS; keep-one-per-
cluster needs the transitive closure of those pairs (A~B, B~C => {A,B,C}
is one cluster, represented by its minimum id). One function computes
it, :func:`connected_components`, and it has one rule:

- the edge set is persisted (``caching.persist``) and counted;
- at or below ``ONE_TASK_EDGES`` edges, one ``mapInArrow`` task folds
  the whole edge set with a vectorised numpy union-find (hook each
  edge's larger root under its smaller one, pointer-jump to the roots,
  repeat until both ends of every edge share a root). The fold has no
  diameter limit and runs in two Spark jobs: the count and the
  caller's action;
- above it, large-star/small-star contraction (Kiveris et al.,
  "Connected Components in MapReduce and Beyond", SoCC'14) runs
  distributed, O(log n) window+aggregate rounds over a shrinking edge
  set. It is the MEMORY fallback, not a faster path: on 4 cores the
  fold wins at every size measured (``scripts/cc_phase_sizing.py``,
  random graphs of mean degree 4: 1M edges 1.5 s vs 20 s, 6M edges
  13 s vs 88 s). Its window puts a hub's whole neighbourhood in one
  task, so a giant component's star skews that task.

The edges reach the fold through ``repartition(1)``, never
``coalesce(1)``, so the upstream pair pipeline keeps its parallelism.
The budget bounds the one Python worker's memory: a 2M-edge random
graph folds at 417 MB RSS, an 8M-edge one at 1.3 GB (8.2 s), and a
4M-edge path (diameter 4M) in about 2 s. Measured on 4 cores with a
prototype of this fold (4M-edge budget) against the former round loop
(min-label propagation: about 10 rounds of join, aggregate, eager
local checkpoint and a one-row probe), identical rows:

====================================  ===============  ===============
what                                  round loop       one-task fold
====================================  ===============  ===============
sf0.1 ER match graph, 35,928 edges,   6.26 / 4.26 s    0.74 / 0.57 s
CC step alone, run 1 / run 2
sf0.1 LSH candidate graph, 575 edges  2.03 / 1.18 s    2.79 / 0.45 s
``iterative_graph`` seed 1 traced:    489 / 296        325 / 136
``exec.jobs`` / ``plans.build_jobs``
same: ``caching.persisted_after_op``  13               0
====================================  ===============  ===============

Both phases return the same rows: one per distinct node of ``pairs``
(a node seen only in a self-pair included), labelled with the minimum
id reachable from it, in the input id type. A NULL id raises
``ValueError``: it has no place in a component.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lakeflow.caching import persist

#: the largest edge set folded in one task (a memory bound); larger
#: ones contract
ONE_TASK_EDGES = 4_000_000
#: round cap of the star phase, which needs about log2(nodes) rounds
STAR_ROUNDS = 40


def connected_components(
    pairs: DataFrame,
    id_a: str,
    id_b: str,
    out_id: str = "member_id",
    out_label: str = "cluster_id",
) -> DataFrame:
    """(out_id, out_label): every distinct node of ``pairs`` with the
    MINIMUM id reachable from it, the canonical cluster representative.
    See the module docstring for how the edge-set size picks the
    phase."""
    # the ends' common type, as Spark widens them in an array
    e = pairs.select(F.array(id_a, id_b).alias("e")).schema["e"]
    t = e.dataType.elementType
    edges = persist(
        pairs.select(
            F.col(id_a).cast(t).alias("a"), F.col(id_b).cast(t).alias("b")
        )
    )
    n, n_null = edges.agg(
        F.count(F.lit(1)),
        F.count(F.when(F.col("a").isNull() | F.col("b").isNull(), 1)),
    ).first()
    if n_null:
        raise ValueError(
            f"connected_components: {n_null} of {n} pairs have a NULL "
            f"{id_a} or {id_b}"
        )
    if n <= ONE_TASK_EDGES:
        schema = T.StructType([T.StructField(c, t) for c in ("id", "lbl")])
        out = edges.repartition(1).mapInArrow(_fold, schema)
    else:
        out = _star_components(edges)
    return out.select(F.col("id").alias(out_id), F.col("lbl").alias(out_label))


def _fold(batches):
    """Union-find over every (a, b) edge of the one partition: yields
    (id, lbl) for each distinct id. ``np.unique`` ranks the ids, so a
    smaller index is a smaller id and each root is its component's
    minimum."""
    import numpy as np
    import pyarrow as pa

    batches = list(batches)
    if not batches:
        return
    tbl = pa.Table.from_batches(batches)
    a, b = (tbl.column(i).to_numpy() for i in (0, 1))
    ids, ends = np.unique(np.concatenate([a, b]), return_inverse=True)
    u, v = ends[: len(a)], ends[len(a) :]
    root = np.arange(len(ids))
    while True:
        ru, rv = root[u], root[v]
        cross = ru != rv
        if not cross.any():
            break
        # every hooked index is a root, and it only ever moves lower
        np.minimum.at(
            root, np.maximum(ru, rv)[cross], np.minimum(ru, rv)[cross]
        )
        while True:
            up = root[root]
            if (up == root).all():
                break
            root = up
    typ = tbl.schema.field(0).type
    yield pa.RecordBatch.from_arrays(
        [pa.array(ids, type=typ), pa.array(ids[root], type=typ)],
        names=["id", "lbl"],
    )


def _canon(uv: DataFrame) -> DataFrame:
    """Undirected (u, v) edges as the distinct set (a < b)."""
    return (
        uv.select(
            F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _both_ways(e: DataFrame) -> DataFrame:
    """Each (a, b) row as the two rows (u, v) = (a, b) and (b, a)."""
    return e.select(
        F.inline(
            F.array(
                F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
                F.struct(F.col("b").alias("u"), F.col("a").alias("v")),
            )
        )
    )


def _star_components(edges: DataFrame) -> DataFrame:
    """(id, lbl) by alternating large-star / small-star rounds until
    the canonical edge set stops changing. Each round reads the one
    before it once (a window minimum, not a self-join), so the plan
    grows by a constant per round; each round is persisted and the one
    before it dropped."""
    # the node set is taken before _canon drops self-pairs, so a node
    # seen only in a self-pair keeps its own row
    nodes = edges.select(F.explode(F.array("a", "b")).alias("id")).distinct()
    cur = persist(
        _canon(edges.select(F.col("a").alias("u"), F.col("b").alias("v")))
    )
    by_u = Window.partitionBy("u")
    for _ in range(STAR_ROUNDS):
        # LARGE-STAR: every neighbour v > u attaches to min(N(u) + u)
        large = _canon(
            _both_ways(cur)
            .withColumn("m", F.least(F.min("v").over(by_u), F.col("u")))
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        # SMALL-STAR: u and every neighbour v < u attach to the minimum
        # of u's smaller neighbourhood
        small = (
            _both_ways(large)
            .filter(F.col("v") < F.col("u"))
            .withColumn("m", F.min("v").over(by_u))
            .select(
                F.inline(
                    F.array(
                        F.struct(F.col("v").alias("u"), F.col("m").alias("v")),
                        F.struct(F.col("u").alias("u"), F.col("m").alias("v")),
                    )
                )
            )
        )
        nxt = persist(_canon(small))
        same = not nxt.exceptAll(cur).union(cur.exceptAll(nxt)).count()
        cur.unpersist()
        cur = nxt
        if same:
            labels = cur.groupBy(F.col("b").alias("id")).agg(
                F.min("a").alias("lbl")
            )
            return nodes.join(labels, "id", "left").select(
                "id", F.coalesce("lbl", "id").alias("lbl")
            )
    raise RuntimeError(
        f"connected_components: star contraction did not converge in "
        f"{STAR_ROUNDS} rounds"
    )


def dedup_survivors(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    order_col,
    id_a: str | None = None,
    id_b: str | None = None,
) -> DataFrame:
    """Materialize the DEDUPLICATED corpus: cluster the candidate pairs
    (connected components), keep exactly one row per cluster — the one
    with the highest ``order_col`` (quality score, recency), ties to
    the smallest id — and pass every unpaired row through untouched.
    Returns df's columns plus ``n_merged`` (cluster size; 1 for
    singletons). This is the final step of the near-dup funnel:
    detect (LSH) -> verify (Jaccard) -> cluster (components) ->
    SELECT SURVIVORS.

    100 TB shape: singleton rows — the overwhelming majority of a real
    corpus — take a broadcast-able left join against the (small) label
    relation and NEVER enter a window; only rows in some candidate
    pair (bounded by the pair population, not the corpus) are
    window-ranked per cluster. The pair relation should come from the
    capped LSH path so one degenerate template cluster cannot pull the
    whole corpus into the ranked branch."""
    id_a = id_a or f"{id_col}_a"
    id_b = id_b or f"{id_col}_b"
    order_c = F.col(order_col) if isinstance(order_col, str) else order_col
    lbl = connected_components(
        pairs, id_a, id_b, out_id=id_col, out_label="__cluster"
    )
    with_lbl = df.join(lbl, id_col, "left")
    singles = with_lbl.filter(F.col("__cluster").isNull()).select(
        *df.columns, F.lit(1).cast("long").alias("n_merged")
    )
    w = Window.partitionBy("__cluster").orderBy(
        order_c.desc(), F.col(id_col).asc()
    )
    best = (
        with_lbl.filter(F.col("__cluster").isNotNull())
        .withColumn("__rn", F.row_number().over(w))
        .withColumn(
            "n_merged",
            F.count(F.lit(1)).over(Window.partitionBy("__cluster")).cast("long"),
        )
        .filter(F.col("__rn") == 1)
        .select(*df.columns, "n_merged")
    )
    return singles.unionByName(best)
