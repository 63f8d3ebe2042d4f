"""Repeat each workload over seeds 1..10 and print, per end-to-end
metric, its median, quartiles and spread against the bound
``BENCHMARK.json`` gives it.

    python3 perfbench/stability.py                       # seeds 1..10, every workload
    python3 perfbench/stability.py --workloads lake_ingest
    python3 perfbench/stability.py --out a.json          # keep the summary
    python3 perfbench/stability.py --baseline a.json     # medians vs an earlier summary
    python3 perfbench/stability.py --trace               # also traced runs: overhead

The spread is (q3 - q1) / median with Python's
``statistics.quantiles(values, n=4)``. A metric is steady when its
spread is within its bound (``setup_s`` is exempt); a change is a
regression when its median is worse than the baseline's by more than
the bound. Runs are sequential: two Spark sessions never share the box.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEEDS = range(1, 11)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, float]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t0
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
    for ln in lines[:-1]:
        print(f"  {workload} seed {seed}: {ln}")
    return json.loads(lines[-1]), wall


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else float("nan"), "values": values}


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--trace", action="store_true", help="also run each seed traced and report the overhead")
    ap.add_argument("--out")
    ap.add_argument("--baseline")
    args = ap.parse_args(argv)

    bounds = {m["name"]: m for m in bench["end_to_end"]}
    base = {}
    if args.baseline:
        with open(args.baseline) as fh:
            base = json.load(fh)
    summary: dict = {}
    ok = True
    for w in args.workloads.split(","):
        runs, walls, extra, counted, failed = [], [], [], [], 0
        for seed in SEEDS:
            res, wall = run_once(w, seed, bench["run_seconds"], 0)
            runs.append(res["metrics"])
            walls.append(wall)
            failed += res["failed"]
            if args.trace:
                traced, traced_wall = run_once(w, seed, bench["run_seconds"], 1)
                extra.append(traced_wall - wall)
                counted.append(traced["metrics"]["trace.overhead_s"]["value"])
        summary[w] = {"failed": failed, "wall_s": summarize(walls)}
        print(f"\n{w}: {len(runs)} runs, {failed} failed operations, median run wall {statistics.median(walls):.1f} s")
        if extra:
            over = {"traced_minus_untraced_s": summarize(extra), "trace.overhead_s": summarize(counted)}
            summary[w]["tracing_overhead"] = over
            print(f"  tracing overhead: traced - untraced run wall, same seed: median {over['traced_minus_untraced_s']['median']:+.2f} s "
                  f"[{over['traced_minus_untraced_s']['q1']:+.2f}, {over['traced_minus_untraced_s']['q3']:+.2f}]; "
                  f"trace.overhead_s median {over['trace.overhead_s']['median']:.2f} s")
        print(f"  {'metric':<16}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>8}  verdict")
        for name, spec in bounds.items():
            s = summarize([r[name]["value"] for r in runs])
            summary[w][name] = s
            steady = name == "setup_s" or s["spread"] <= spec["bound"]
            verdict = "steady" if steady else "SPREAD > BOUND"
            if name in base.get(w, {}):
                b = base[w][name]["median"]
                worse = (s["median"] - b) / b if spec["better"] == "lower" else (b - s["median"]) / b
                verdict += f", {worse:+.1%} vs baseline" + (" REGRESSION" if worse > spec["bound"] else "")
                ok &= worse <= spec["bound"]
            ok &= steady
            print(f"  {name:<16}{s['median']:>12.4g}{s['q1']:>12.4g}{s['q3']:>12.4g}{s['spread']:>9.1%}{spec['bound']:>8.0%}  {verdict}")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(summary, fh, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
