"""Time the two phases of ``clusters.connected_components`` on seeded
random graphs built in the session, to size ``ONE_TASK_EDGES``.

    python scripts/cc_phase_sizing.py EDGES [EDGES ...] [--phase fold|star]

Each graph has EDGES edges over EDGES/2 nodes (mean degree 4: one giant
component plus a tail of small ones), endpoints drawn by ``xxhash64``
of the row id, so every run sees the same graph. ``--phase`` forces one
side of the size selection (``fold`` lifts the budget above EDGES,
``star`` sets it to 0); without it both run, fold first. Prints one
JSON line per graph and phase: wall seconds of the call and its
action, rows and components (both phases must agree).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from pyspark.sql import functions as F  # noqa: E402

from lakeflow import get_spark  # noqa: E402
from lakeflow.caching import scoped_cache  # noqa: E402
from lakeflow.operators import clusters  # noqa: E402


def graph(spark, edges: int):
    nodes = max(2, edges // 2)
    return spark.range(edges).select(
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(nodes)).alias("a"),
        F.pmod(F.xxhash64("id", F.lit(2)), F.lit(nodes)).alias("b"),
    )


def run(spark, edges: int, phase: str) -> dict:
    clusters.ONE_TASK_EDGES = edges if phase == "fold" else 0
    t0 = time.perf_counter()
    with scoped_cache():
        n, k = (
            clusters.connected_components(graph(spark, edges), "a", "b")
            .agg(F.count(F.lit(1)), F.countDistinct("cluster_id"))
            .first()
        )
    return {
        "edges": edges,
        "phase": phase,
        "wall_s": round(time.perf_counter() - t0, 2),
        "rows": n,
        "components": k,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("edges", type=int, nargs="+")
    ap.add_argument("--phase", choices=("fold", "star"))
    args = ap.parse_args()
    spark = get_spark("cc-phase-sizing")
    for edges in args.edges:
        for phase in [args.phase] if args.phase else ["fold", "star"]:
            print(json.dumps(run(spark, edges, phase)), flush=True)


if __name__ == "__main__":
    main()
