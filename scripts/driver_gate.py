"""One-command local mirror of the driver's verification gates:

  t1 smoke:        entry(spark) on sf0.001 (rows >= 0, stable schema)
  t2 correctness:  every queries() entry vs its oracle_sql() at sf0.01
                   (rows-only count for entries without an oracle)

Runs on a deliberately VANILLA SparkSession — the driver brings its own.

  python scripts/driver_gate.py [sf_dir ...] [query ...]

Arguments that name a directory are scale dirs (default sf0.01), the
rest are query names (default: every registered query). Each named
query runs at each scale dir, e.g. the touched rows at two scales:

  python scripts/driver_gate.py /root/testdata/sf0.01 \\
      /root/testdata/sf0.1 q_dup_clusters q_entity_resolution
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    args = sys.argv[1:]
    sfs = [a for a in args if os.path.isdir(a)] or ["/root/testdata/sf0.01"]
    names = [a for a in args if not os.path.isdir(a)]
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("driver-gate")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as E
    from lakeflow.testing import compare_to_oracle

    qs, osql = E.queries(), E.oracle_sql()
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"not registered (and not a directory): {unknown}")
        return 2
    t0 = time.perf_counter()
    rows = E.entry(spark).collect()
    print(f"t1 smoke: entry() -> {len(rows)} rows  [{time.perf_counter() - t0:.1f}s]")

    fails: list[str] = []
    for sf in sfs:
        for name in names or sorted(qs):
            t0 = time.perf_counter()
            if name in osql:
                ok, msg = compare_to_oracle(qs[name](spark, sf), osql[name], sf)
                kind = "oracle"
            else:
                ok, msg = qs[name](spark, sf).count() >= 0, "rows-only"
                kind = "rows  "
            dt = time.perf_counter() - t0
            print(
                f"{'PASS' if ok else 'FAIL'} [{kind}] {name:32s} "
                f"{os.path.basename(sf):8s} {dt:5.1f}s {'' if ok else msg}"
            )
            if not ok:
                fails.append(f"{name}@{sf}")
    n = len(sfs) * len(names or qs)
    print(f"\n{n - len(fails)}/{n} query runs pass at {', '.join(sfs)}")
    if fails:
        print("FAILED:", " ".join(fails))
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
