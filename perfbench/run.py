"""lakeflow benchmark: one workload, one SparkSession, one closed-loop
client.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. The run generates its inputs from
``--seed`` under ``.perfbench_work/``, starts Spark on local[4], sets
up, runs the workload's operations, checks every output outside the
timed regions and prints, as its last line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones, read from spans and Spark's counters around each call
the benchmark makes into lakeflow (spans go to
``.perfbench_work/traces/``). Failures are listed above the last line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "first_op_p50_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "ops_per_s": "1/s",
    "cycle_p50_s": "s",
    "read_p50_s": "s",
}

PER_LAYER = {
    "session.start_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "codegen.compiles": "count",
    "codegen.repeat_compiles": "count",
    "codegen.compile_ms": "ms",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.run_ms": "ms",
    "exec.cpu_ms": "ms",
    "exec.gc_ms": "ms",
    "exec.driver_gap_s": "s",
    "exec.busy_ratio": "ratio",
    "exec.input_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes",
    "caching.persisted_after_op": "count",
    "caching.storage_bytes": "bytes",
    "sources.read_s": "s",
    "sources.input_bytes": "bytes",
    "sources.null_rows_from_malformed": "count",
    "pipelines.mailgun_s": "s",
    "pipelines.iterable_s": "s",
    "pipelines.mongo_s": "s",
    "pipelines.kafka_s": "s",
    "pipelines.gold_refresh_s": "s",
    "sinks.commit_s": "s",
    "sinks.bytes_written": "bytes",
    "sinks.files_written": "count",
    "sinks.live_files": "count",
    "sinks.rewrite_ratio": "ratio",
    "sinks.stored_bytes_per_input_byte": "ratio",
    "streaming.batch_s": "s",
    "streaming.input_rows": "count",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "memory.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("query_mix", "iterative_graph", "lake_ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def end_to_end(ctx, setup_s: float) -> dict[str, float]:
    from harness import quantile, tail_percentile

    ok = [o for o in ctx.ops if o.ok]
    # the op count is fixed by the workload, so the tail percentile is too
    p = tail_percentile(len(ctx.ops))
    return {
        "setup_s": setup_s,
        "first_op_p50_s": quantile([o.latency for o in ok if o.first], 0.5),
        "op_p50_s": quantile([o.latency for o in ok if not o.first], 0.5),
        "op_tail_s": quantile([o.latency for o in ok], p / 100),
        "ops_per_s": len(ok) / sum(o.latency for o in ctx.ops),
        "cycle_p50_s": quantile(ctx.cycles[1:], 0.5),
        "read_p50_s": quantile([o.latency for o in ok if not o.first and o.read_only], 0.5),
    }


def per_layer(ctx, start_s: float, rss_mb: float) -> dict[str, float]:
    from harness import CORES

    tr = ctx.tracer
    ops = tr.ops()
    inside = tr.in_ops()
    m = dict.fromkeys(PER_LAYER, 0.0)
    m.update({k: v for k, v in ctx.layer.items() if k in m})
    m["session.start_s"] = start_s
    m["plans.build_s"] = tr.total("plans.build")
    m["plans.build_jobs"] = tr.total("plans.build", "exec.jobs")
    for k in ("exec.jobs", "exec.stages", "exec.tasks", "exec.run_ms", "exec.cpu_ms",
              "exec.gc_ms", "exec.input_bytes", "exec.spill_bytes",
              "shuffle.write_bytes", "shuffle.read_bytes"):
        m[k] = sum(s.attrs.get(k, 0) for s in inside)
    for k in ("catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
              "codegen.compiles", "codegen.compile_ms", "exec.driver_gap_s"):
        m[k] = sum(s.attrs.get(k, 0) for s in ops)
    m["codegen.repeat_compiles"] = sum(s.attrs.get("codegen.compiles", 0) for s in ops if not s.attrs.get("first"))
    wall_ms = 1000.0 * sum(tr.duration(s) for s in ops)
    m["exec.busy_ratio"] = m["exec.run_ms"] / (wall_ms * CORES) if wall_ms else 0.0
    m["caching.persisted_after_op"] = max((s.attrs.get("caching.persisted", 0) for s in ops), default=0)
    m["caching.storage_bytes"] = max((s.attrs.get("caching.storage_bytes", 0) for s in ops), default=0)
    for src in ("mailgun", "iterable", "mongo", "kafka", "gold_refresh"):
        m[f"pipelines.{src}_s"] = tr.total(f"pipelines.{src}")
    m["sinks.commit_s"] = tr.total("sinks.commit")
    m["streaming.batch_s"] = tr.total("streaming.corpus_intake") + tr.total("streaming.neardup_index")
    m["memory.peak_rss_mb"] = rss_mb
    m["trace.overhead_s"] = tr.overhead_s
    return m


def run(args, run_dir: str) -> tuple[dict, list[str], int, int]:
    import harness as H
    import workloads as W

    tracer = H.Tracer(bool(args.trace))
    ctx_inputs = os.path.join(run_dir, "inputs")
    if args.workload != "lake_ingest":
        import tables

        tables.write(args.seed, ctx_inputs)

    H.redirect_artifacts(run_dir)
    t0 = time.perf_counter()
    spark = H.start_session(run_dir)
    start_s = time.perf_counter() - t0
    try:
        tracer.attach(spark)
        ctx = W.Ctx(spark, run_dir, args.seed, args.seconds, tracer, inputs=ctx_inputs)
        prepare, body = W.WORKLOADS[args.workload]
        t = time.perf_counter()
        H.warm_engine(spark)
        warm_s = time.perf_counter() - t
        reps = []
        for _ in range(W.PREPARE_REPS):
            t = time.perf_counter()
            prepare(ctx)
            reps.append(time.perf_counter() - t)
        setup_s = start_s + warm_s + statistics.median(reps)
        t = time.perf_counter()
        body(ctx)
        print(f"perfbench: start {start_s:.2f}s warm {warm_s:.2f}s prepare {[round(r, 2) for r in reps]} "
              f"body {time.perf_counter() - t:.2f}s cycles {[round(c, 2) for c in ctx.cycles]} "
              f"ops {len(ctx.ops)} checked {ctx.checked}", file=sys.stderr)
        if args.trace and args.workload == "lake_ingest":
            print(f"perfbench: null rows from malformed lines {ctx.layer['sources.null_rows_from_malformed']:.0f}, "
                  f"planted {ctx.planted_null_rows}", file=sys.stderr)
        if args.trace:
            metrics = per_layer(ctx, start_s, H.peak_rss_mb())
            units = PER_LAYER
            out = os.path.join(ROOT, H.WORK_DIR, "traces", f"{args.workload}-{args.seed}.jsonl")
            os.makedirs(os.path.dirname(out), exist_ok=True)
            tracer.dump(out)
        else:
            metrics = end_to_end(ctx, setup_s)
            units = END_TO_END
    finally:
        H.stop_session(spark)
    failed = len(ctx.failures)
    return (
        {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
        ctx.failures,
        len(ctx.ops),
        min(failed, len(ctx.ops)) if ctx.ops else failed,
    )


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "lakeflow", "__init__.py")):
        print(f"perfbench: no lakeflow package next to {HERE}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import harness as H

    run_dir = H.make_run_dir(ROOT, args.workload, args.seed)
    H.isolate_process(run_dir)
    try:
        metrics, failures, attempted, failed = run(args, run_dir)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for f in failures:
        print(f"FAILED {f}")
    print(json.dumps({"correct": not failures, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
