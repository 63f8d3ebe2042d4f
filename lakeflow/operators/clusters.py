"""Connected components over candidate-pair graphs.

Near-dup dedup produces PAIRS; keep-one-per-cluster dedup needs the
transitive closure of those pairs (A~B, B~C ⇒ {A,B,C} is one cluster
with one representative). This is min-label propagation expressed as
iterated DataFrame joins: each round every node adopts the smallest
label among itself and its neighbors, converging in O(graph diameter)
rounds. Near-dup graphs are short chains and cliques (template
clusters), so the diameter is small — for adversarial long-path graphs
swap in the large-star/small-star algorithm (Kiveris et al., SoCC'14),
which converges in O(log n) rounds with the same join-only shape.

Scale shape per round: one shuffle join on node id + one hash-agg —
the edge list never materializes on the driver; ``localCheckpoint``
truncates lineage so round N's plan does not replay rounds 1..N-1.
The per-round convergence probe is a 1-row aggregate over the fresh
checkpoint (labels are monotone non-increasing, so their sum is a
fixpoint detector) — one scalar to the driver, not data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def min_label_components(
    pairs: DataFrame,
    id_a: str,
    id_b: str,
    max_iter: int = 25,
    out_id: str = "member_id",
    out_label: str = "cluster_id",
) -> DataFrame:
    """Assign each node appearing in ``pairs`` the MINIMUM id reachable
    from it (the canonical cluster representative). Returns one row per
    distinct node: (out_id, out_label). Raises if ``max_iter`` rounds
    do not converge (diameter larger than expected — see module note).
    Budget note (r12): the label init IS propagation round 1 (min over
    the 1-hop neighborhood, computed by the same aggregate that used to
    only dedup node ids), and convergence is detected by a per-round
    CHANGED-LABEL count folded into the propagation aggregate itself
    (the self-edge row carries each node's previous label), so a
    diameter-d graph needs ``max_iter >= d`` loop rounds — one round
    of budget less than the old two-equal-sum-probe scheme, and two to
    three fewer EXECUTED rounds (the init round is free and no
    observation round is needed).
    """
    # symmetrize (+ SELF-EDGES) via ONE explode, not
    # union(edges, reversed(edges)): the union form evaluates the
    # upstream pair pipeline TWICE in the eager checkpoint job below
    # (no subtree reuse across union branches), and for linkage/
    # near-dup callers that upstream is the expensive blocked-scoring
    # join — r10 profile: ~2.8 s of the q_entity_resolution row was
    # the duplicate scoring pass. The self-edges make each node its
    # own neighbor, so the per-round update collapses to ONE join+agg
    # (min over self ∪ neighbors == least(own, neighbor-min)) instead
    # of a propagation join FOLLOWED by a least() left-join — the r10
    # decomposition measured the two-join round at ~0.85 s of fixed
    # per-round stage overhead vs ~0.5 s for this form. (A pointer-
    # jumping variant was measured and rejected: rounds only fell
    # 10 -> 7 on the sf0.1 linkage graph while each round gained a
    # checkpoint + two joins — see SCALING.md "entity-resolution
    # round decomposition".)
    sym = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
                    ),
                    F.struct(
                        F.col(id_b).alias("src"), F.col(id_a).alias("dst")
                    ),
                    F.struct(
                        F.col(id_a).alias("src"), F.col(id_a).alias("dst")
                    ),
                    F.struct(
                        F.col(id_b).alias("src"), F.col(id_b).alias("dst")
                    ),
                )
            ).alias("__e")
        )
        .select("__e.src", "__e.dst")
        .distinct()
    )
    sym = sym.localCheckpoint(eager=True)
    # label init = PROPAGATION ROUND 1 for free (r12, VERDICT r11 task
    # #2): the old init deduped node ids (select(src).distinct()) — the
    # exact same shuffle shape as groupBy(src).min(dst), which, with the
    # self-edges making every node its own neighbor, IS one round of
    # min-label propagation from identity labels. Same cost, one fewer
    # loop round on every graph.
    labels = (
        sym.groupBy("src")
        .agg(F.min("dst").alias("lbl"))
        .withColumnRenamed("src", "id")
        .localCheckpoint(eager=True)
    )
    # convergence probe (r12 rework, VERDICT r11 task #2): the old
    # scheme compared two consecutive label-SUM probes (equal sums two
    # rounds apart certify a fixpoint), which needs an OBSERVATION
    # cycle past the flood. Instead, the propagation aggregate itself
    # now also emits each node's PREVIOUS label (the self-edge row
    # dst == src carries it), so the checkpointed relation holds a
    # per-node changed flag and the 1-row probe reads "did the last
    # round change anything" DIRECTLY — fixpoint is detected the cycle
    # it happens, not a cycle later. The changed count is bounded by
    # the node count, so a plain BIGINT sum is exact at any scale
    # (the old DECIMAL(38,0) device guarded n * max_id, not needed
    # for a 0/1 flag).
    #
    # ROUND FUSION (r11 — VERDICT r10 task #6): outside the tail, TWO
    # propagation join+agg rounds share ONE eager checkpoint and ONE
    # probe — the per-round fixed cost the r10 decomposition measured
    # (~0.35-0.45 s/round locally) is mostly checkpoint + probe
    # round-trips, and `sym` is reused as-is so fusion adds no join
    # (unlike pointer jumping, measured & rejected in r10). Interleaved
    # A/B on the sf0.1 linkage match graph (scripts/er_fusion_probe.py
    # at commit 50921c4, outputs asserted identical): min 9.34 s ->
    # 6.02 s, 0.645x.
    #
    # Tail: the changed-count probe observes the LAST round of its
    # cycle, so the final TWO budget rounds run single-round with a
    # probe each — a fixpoint reached at any propagation round
    # d <= max_iter (init counts as round 1) is observed by the probe
    # of loop round d at the latest, in every parity case.
    i = 0
    while i < max_iter:
        steps = 1 if i >= max_iter - 2 else 2
        cur = labels
        for step in range(steps):
            last = step == steps - 1
            aggs = [F.min("lbl").alias("lbl")]
            if last:
                aggs.append(
                    F.max(
                        F.when(F.col("dst") == F.col("src"), F.col("lbl"))
                    ).alias("__old")
                )
            cur = (
                sym.join(cur, sym["dst"] == cur["id"])
                .groupBy("src")
                .agg(*aggs)
                .withColumnRenamed("src", "id")
            )
        labels = cur.select(
            "id",
            "lbl",
            (F.col("lbl") != F.col("__old")).cast("long").alias("__chg"),
        ).localCheckpoint(eager=True)
        i += steps
        n_changed = labels.agg(F.sum("__chg").alias("c")).collect()[0]["c"]
        if not n_changed:
            return labels.select(
                F.col("id").alias(out_id), F.col("lbl").alias(out_label)
            )
    raise RuntimeError(
        f"min_label_components did not converge in {max_iter} rounds "
        "(unexpectedly large component diameter; use star_contraction_components)"
    )


def star_contraction_components(
    pairs: DataFrame,
    id_a: str,
    id_b: str,
    max_iter: int = 20,
    out_id: str = "member_id",
    out_label: str = "cluster_id",
) -> DataFrame:
    """Connected components in O(log n) ROUNDS via alternating
    large-star / small-star contractions (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14) — the scale path for
    high-diameter graphs, where :func:`min_label_components`'s
    O(diameter) rounds would be prohibitive (a 1M-node path converges
    here in ~20 rounds instead of 1M).

    Each round is two join+agg passes over the edge set; the edge set
    only shrinks toward the star form (every node attached directly to
    its component's min id). Same output contract as
    min_label_components; raises if ``max_iter`` rounds do not reach a
    fixpoint."""
    # canonical undirected edge set (a < b), no self loops
    edges = (
        pairs.select(
            F.least(F.col(id_a), F.col(id_b)).alias("a"),
            F.greatest(F.col(id_a), F.col(id_b)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    all_nodes = (
        edges.select(F.col("a").alias("id"))
        .union(edges.select(F.col("b").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _sym(e: DataFrame) -> DataFrame:
        return e.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
            e.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )

    def _canon(e: DataFrame) -> DataFrame:
        return (
            e.select(
                F.least(F.col("u2"), F.col("v2")).alias("a"),
                F.greatest(F.col("u2"), F.col("v2")).alias("b"),
            )
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )

    for _ in range(max_iter):
        sym = _sym(edges)
        # LARGE-STAR: every neighbor v > u attaches to min(Γ(u) ∪ {u})
        lmin = sym.groupBy("u").agg(F.min("v").alias("nm"))
        large = _canon(
            sym.join(lmin, "u")
            .filter(F.col("v") > F.col("u"))
            .select(
                F.col("v").alias("u2"),
                F.least(F.col("nm"), F.col("u")).alias("v2"),
            )
        )
        # SMALL-STAR: every neighbor v < u (and u itself) attaches to
        # the min of u's smaller neighborhood
        sm = _sym(large).filter(F.col("v") < F.col("u"))
        smin = sm.groupBy("u").agg(F.min("v").alias("nm"))
        small = _canon(
            sm.join(smin, "u")
            .select(F.col("v").alias("u2"), F.col("nm").alias("v2"))
            .union(
                smin.select(F.col("u").alias("u2"), F.col("nm").alias("v2"))
            )
        ).localCheckpoint(eager=True)
        changed = (
            small.exceptAll(edges).count() + edges.exceptAll(small).count()
        )
        edges = small
        if changed == 0:
            labels = edges.groupBy(F.col("b").alias("id")).agg(
                F.min("a").alias("lbl")
            )
            return (
                all_nodes.join(labels, "id", "left")
                .select(
                    F.col("id").alias(out_id),
                    F.coalesce("lbl", F.col("id")).alias(out_label),
                )
            )
    raise RuntimeError(
        f"star_contraction_components did not converge in {max_iter} rounds"
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
    from pyspark.sql import Window

    id_a = id_a or f"{id_col}_a"
    id_b = id_b or f"{id_col}_b"
    order_c = F.col(order_col) if isinstance(order_col, str) else order_col
    lbl = min_label_components(
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
