"""Distributed link analysis: fixed-iteration weighted PageRank as
pure join/aggregate rounds.

Why it belongs in a training-data engine: web-scale corpus curation
ranks domains/pages by link authority (the Common Crawl → C4/RefinedWeb
lineage keeps harmonic-centrality / PageRank features per host) and
dup-cluster graphs need importance scores to pick survivors. The same
join-shaped iteration underlies both.

Spark-first shape — NO GraphX, NO RDDs:

- The edge relation (src, dst, weight) joined with per-src out-weight
  is computed ONCE and persisted; every iteration reuses it.
- One iteration = one equi-join (current ranks × edges on ``src``) and
  one hash aggregate (sum of contributions by ``dst``) — both shuffle
  on a node key, so co-partitioning carries between iterations and AQE
  handles hub skew (a hot dst is a skewed groupBy key, split at
  runtime).
- Iteration count is FIXED and small (authority scores converge
  geometrically; curation pipelines run 3-10 rounds), so the loop
  unrolls into one lazy plan. For deep iteration at 100 TB, checkpoint
  every ~5 rounds to cut lineage — the join/agg per round is unchanged.

Exact integer arithmetic (micro-units, integer division) keeps every
round bit-reproducible across engines, so a SQL oracle can replay the
identical unrolled computation. Dangling nodes (no out-edges) simply
contribute nothing — the standard simplification; ranks then sum to
slightly under N but the ORDER is what curation consumes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

RANK_SCALE = 1_000_000  # 1.0 in micro-units
DAMPING_MICROS = 850_000  # d = 0.85


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping_micros: int = DAMPING_MICROS,
) -> DataFrame:
    """Weighted PageRank over ``edges(src, dst, weight)`` for a fixed
    number of rounds, in exact micro-int arithmetic.

    r₀(v) = 1.0; rᵢ₊₁(v) = (1-d) + d · Σ_{(u→v)} rᵢ(u) · w(u→v) / out_w(u),
    every product/divide floored in micro-units so any engine replays it
    bit-for-bit. Returns (node, rank_micros) for all nodes.
    """
    from lakeflow.caching import persist

    base = RANK_SCALE - damping_micros
    outw = edges.groupBy("src").agg(F.sum("weight").alias("ow"))
    # the edge+out-weight relation feeds EVERY round: persist it so
    # iterations don't re-derive the upstream edge pipeline from scratch
    ew = persist(edges.join(outw, "src"))
    # nodes feeds every round's left join too — without the persist its
    # union+distinct over the raw edge pipeline re-executes O(iters)
    # times inside the nested unrolled plan
    nodes = persist(
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    ranks = nodes.select("node", F.lit(RANK_SCALE).cast("long").alias("rank"))
    for _ in range(iters):
        contribs = (
            ew.join(ranks, ew["src"] == ranks["node"])
            .select(
                F.col("dst"),
                F.expr("(rank * weight) div ow").alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("contrib"))
        )
        ranks = nodes.join(
            contribs, nodes["node"] == contribs["dst"], "left"
        ).select(
            "node",
            (
                F.lit(base)
                + F.expr(
                    f"({damping_micros} * coalesce(contrib, 0)) div {RANK_SCALE}"
                )
            ).cast("long").alias("rank"),
        )
    return ranks.select("node", F.col("rank").alias("rank_micros"))


def sql_pagerank(edges_cte: str, iters: int = 3,
                 damping_micros: int = DAMPING_MICROS) -> str:
    """DuckDB mirror of :func:`pagerank`: the identical computation
    unrolled as chained CTEs (``//`` is DuckDB's integer division; all
    operands are nonnegative, so it matches Spark's ``div`` exactly).
    ``edges_cte`` must select (src, dst, weight). Yields CTE text
    ending in a relation ``pr_final(node, rank_micros)``."""
    base = RANK_SCALE - damping_micros
    parts = [
        f"pr_edges AS ({edges_cte})",
        "pr_outw AS (SELECT src, SUM(weight) AS ow FROM pr_edges GROUP BY src)",
        "pr_nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM pr_edges"
        " UNION ALL SELECT dst FROM pr_edges))",
        f"pr_r0 AS (SELECT node, CAST({RANK_SCALE} AS BIGINT) AS rank FROM pr_nodes)",
    ]
    prev = "pr_r0"
    for i in range(1, iters + 1):
        parts.append(
            f"pr_r{i} AS (SELECT n.node, CAST({base} + ({damping_micros} * "
            f"COALESCE(c.contrib, 0)) // {RANK_SCALE} AS BIGINT) AS rank "
            f"FROM pr_nodes n LEFT JOIN ("
            f"SELECT e.dst, SUM((r.rank * e.weight) // o.ow) AS contrib "
            f"FROM pr_edges e JOIN pr_outw o ON e.src = o.src "
            f"JOIN {prev} r ON r.node = e.src GROUP BY e.dst"
            f") c ON c.dst = n.node)"
        )
        prev = f"pr_r{i}"
    parts.append(
        f"pr_final AS (SELECT node, rank AS rank_micros FROM {prev})"
    )
    return ",\n".join(parts)


def triangle_count(
    pairs: DataFrame, id_a: str, id_b: str
) -> DataFrame:
    """EXACT global triangle count over an undirected graph given as a
    pair relation (r11 — the graph-family sibling of :func:`pagerank`
    and ``clusters.connected_components``): triangle density is the
    standard clustering-coefficient numerator a corpus-curation stack
    reads off its co-occurrence / dup-cluster / link graphs (a
    near-dup pair graph whose triangles are dense is transitive
    duplication; one whose triangles are rare is chain-shaped hash
    noise).

    Scale design — degree-ordered orientation (the Schank/Wagner
    forward algorithm, the shape every distributed triangle counter
    uses): orient each undirected edge from its lower-ranked endpoint
    to its higher-ranked one under the total order (degree, id). Every
    triangle then has exactly ONE wedge whose center is its
    lowest-ranked vertex, so counting = one self-join of the oriented
    relation on ``src`` (wedge generation, bounded by the sum of
    ORIENTED out-degrees squared — O(m^1.5) total wedges instead of
    the unoriented sum over deg², which a single hub makes quadratic)
    plus one semi-join closure check against the same oriented
    relation. Three shuffles total (degree agg, wedge join, closure
    join), all on node/edge keys, AQE-splittable. Returns ONE row:
    (n_nodes, n_edges, n_triangles)."""
    e = (
        pairs.select(
            F.least(F.col(id_a), F.col(id_b)).alias("u"),
            F.greatest(F.col(id_a), F.col(id_b)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    from lakeflow.caching import persist

    e = persist(e)  # consumers: degree agg + the orientation join
    # symmetrize via ONE explode, never union(e, reversed(e)): union
    # branches re-evaluate the upstream pair pipeline once each
    deg = (
        e.select(F.explode(F.array("u", "v")).alias("n"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))
    ranked = e.join(du, "u").join(dv, "v")
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = ranked.select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(lower_first, F.col("dv")).otherwise(F.col("du")).alias("dd"),
    )
    oriented = persist(oriented)  # wedge (x2) + closure
    a = oriented.select(
        F.col("src"), F.col("dst").alias("x"), F.col("dd").alias("dx")
    )
    b = oriented.select(
        F.col("src"), F.col("dst").alias("y"), F.col("dd").alias("dy")
    )
    # each unordered wedge once: rank(x) < rank(y) under (degree, id)
    wedges = a.join(b, "src").where(
        (F.col("dx") < F.col("dy"))
        | ((F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y")))
    )
    # closure: {x, y} exists iff the oriented edge x->y exists (x is
    # lower-ranked, and orientation follows rank)
    closed = wedges.join(
        oriented.select(F.col("src").alias("x"), F.col("dst").alias("y")),
        ["x", "y"],
        "left_semi",
    )
    tri = closed.agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    n_nodes = deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    n_edges = e.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    return (
        n_nodes.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(tri))
        .select("n_nodes", "n_edges", "n_triangles")
    )
