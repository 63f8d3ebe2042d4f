"""Run scaffolding shared by the workloads: the per-run directory, the
single SparkSession, the in-memory tracer, Spark's own counters and
percentiles.

Everything a run writes lives under ``<checkout>/.perfbench_work/``;
the JVM's scratch, Spark's local dirs, Python's temp dir and the
``/tmp/lakeflow_*`` artifacts lakeflow keys by content are redirected
there, so runs never share state and the parent and the change start
from the same (empty) state.
"""

from __future__ import annotations

import contextlib
import math
import os
import shutil
import subprocess
import time
from dataclasses import dataclass, field

CORES = 4
DRIVER_MEM = "2g"
WORK_DIR = ".perfbench_work"


# ---------------------------------------------------------------- run dir


def make_run_dir(root: str, workload: str, seed: int) -> str:
    run = os.path.join(root, WORK_DIR, f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    for sub in ("tmp", "local", "inputs"):
        os.makedirs(os.path.join(run, sub))
    return run


def isolate_process(run: str) -> None:
    """Point every temp location of this process and of the JVM it will
    launch at the run dir. Must run before pyspark starts the JVM."""
    import tempfile

    tmp = os.path.join(run, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["TZ"] = "UTC"
    time.tzset()
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run, "local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-memory {DRIVER_MEM} --driver-java-options '
        f'"-Djava.io.tmpdir={tmp}" pyspark-shell'
    )


def redirect_artifacts(run: str) -> None:
    """lakeflow keys its prebuilt query artifacts under hard-coded
    ``/tmp/lakeflow_*`` paths (``caching.prebuilt_state`` callers in
    ``plans/llm_ops.py``). The benchmark may write only inside its
    checkout, so the same calls are pointed at the run dir: the build,
    the content key and the read path are unchanged, only the store
    moves."""
    import lakeflow.caching as caching

    store = os.path.join(run, "tmp")
    original = caching.prebuilt_state

    def prebuilt_state(path: str, build_fn):
        if path.startswith("/tmp/"):
            path = os.path.join(store, path[len("/tmp/"):])
        return original(path, build_fn)

    caching.prebuilt_state = prebuilt_state


def clear_artifacts(run: str) -> None:
    """Remove every content-keyed lakeflow artifact of this run."""
    store = os.path.join(run, "tmp")
    for name in os.listdir(store):
        if name.startswith("lakeflow_"):
            p = os.path.join(store, name)
            shutil.rmtree(p) if os.path.isdir(p) else os.unlink(p)


def start_session(run: str):
    from lakeflow import get_spark

    spark = get_spark(
        "perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(run, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it owns)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=60)


def warm_engine(spark) -> None:
    """A fixed join + aggregate + window + sort, and one Arrow batch
    through a Python worker. Without it the JIT and worker start-up land
    on whichever operations the seed puts first, which doubled the
    run-to-run spread of first-sight latency."""
    spark.sql(
        """
        SELECT k, s, rank() OVER (ORDER BY s DESC) AS r FROM (
          SELECT a.id % 97 AS k, sum(b.id) AS s
          FROM range(50000) a JOIN range(50000) b ON a.id = b.id
          GROUP BY a.id % 97)
        ORDER BY k
        """
    ).collect()

    def identity(batches):  # nested, so the worker unpickles it by value
        yield from batches

    spark.range(1000).mapInArrow(identity, "id long").count()


def dir_files(path: str) -> dict[str, tuple[int, int]]:
    """{file: (bytes, mtime_ns)} under ``path``, ignoring checksum side
    files."""
    out = {}
    for base, _, names in os.walk(path):
        for n in names:
            if not n.endswith(".crc"):
                st = os.stat(os.path.join(base, n))
                out[os.path.join(base, n)] = (st.st_size, st.st_mtime_ns)
    return out


# ---------------------------------------------------------------- memory


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as fh:
            return [int(x) for x in fh.read().split()]
    except OSError:
        return []


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Sum of the peak resident sets of this process and every live
    descendant (the JVM and its Python workers)."""
    seen, todo, kb = set(), [os.getpid()], 0
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        kb += _hwm_kb(pid)
        todo.extend(_children(pid))
    return kb / 1024.0


# ---------------------------------------------------------------- percentiles


def quantile(values: list[float], p: float) -> float:
    """Harrell-Davis estimate of the ``p`` quantile (0 < p < 1): a
    Beta-weighted average of all order statistics. A run's samples come
    from different queries or steps with gaps between their latencies;
    the plain sample median jumps across such a gap when one execution
    changes rank, which made it spread twice as much between runs."""
    import numpy as np

    x = np.sort(np.asarray(values, dtype=float))
    n = len(x)
    if n == 1:
        return float(x[0])
    a, b = p * (n + 1), (1 - p) * (n + 1)
    m = 20_000
    t = (np.arange(m) + 0.5) / m
    logpdf = (a - 1) * np.log(t) + (b - 1) * np.log1p(-t)
    cdf = np.concatenate([[0.0], np.cumsum(np.exp(logpdf - logpdf.max()))])
    cdf /= cdf[-1]
    edges = np.interp(np.arange(n + 1) / n, np.linspace(0, 1, m + 1), cdf)
    return float(np.dot(np.diff(edges), x))


def tail_percentile(n: int) -> int:
    """Highest whole percentile with at least 10 of ``n`` samples above it."""
    return max(0, math.floor(100.0 * (n - 10) / n)) if n > 10 else 0


# ---------------------------------------------------------------- tracing


def covered(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur = 0.0, None
    for s, e in sorted(intervals):
        if cur is None or s > cur[1]:
            if cur is not None:
                total += cur[1] - cur[0]
            cur = [s, e]
        else:
            cur[1] = max(cur[1], e)
    if cur is not None:
        total += cur[1] - cur[0]
    return total


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    job_intervals: list = field(default_factory=list)


class Tracer:
    """In-memory spans with parent links, dumped once at the end.

    Disabled, every span is a bare context manager and no counter is
    read, so untraced runs pay nothing for tracing. Enabled, every
    second the run spends on tracing (span bookkeeping, job-group
    switches, counter reads and traced-only probes) is added to
    ``overhead_s`` and kept out of span durations and driver gaps."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op: Span | None = None
        self.counters: SparkCounters | None = None
        self.overhead_s = 0.0

    def attach(self, spark) -> None:
        if self.enabled:
            self.counters = SparkCounters(spark)

    @contextlib.contextmanager
    def spark_span(self, name: str, op: bool = False, **attrs):
        """A span whose Spark jobs run under its own job group, so the
        jobs and stages they ran are attributed to it. ``op`` marks a
        workload operation: it also gets codegen and cache counters and
        its driver gap (wall time its jobs and its children's jobs did
        not cover, less its children's tracing)."""
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        c = self.counters
        parent = self._stack[-1] if self._stack else None
        before = c.global_counters() if op else None
        s = Span(len(self.spans), parent.id if parent else None, name, 0.0, attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(s)
        s.attrs["group"] = f"span-{s.id}"
        c.sc.setJobGroup(s.attrs["group"], name)
        if op:
            s.attrs["op"] = True
            self._op = s
        s.start = time.perf_counter()
        self.overhead_s += s.start - t0
        overhead_before = self.overhead_s
        try:
            yield s
        finally:
            s.end = t1 = time.perf_counter()
            self._stack.pop()
            own, intervals = c.group_counters(s.attrs["group"])
            for k, v in own.items():
                s.attrs[k] = s.attrs.get(k, 0) + v
            s.job_intervals.extend(intervals)
            for child in self.spans[s.id + 1:]:
                s.job_intervals.extend(child.job_intervals)
            if op:
                for k, v in c.global_counters().items():
                    s.attrs[k] = v - before[k]
                s.attrs.update(c.caching())
                s.attrs["trace.inner_s"] = self.overhead_s - overhead_before
                s.attrs["exec.driver_gap_s"] = max(
                    0.0,
                    (t1 - s.start) - s.attrs["trace.inner_s"] - covered(s.job_intervals) / 1000.0,
                )
                self._op = None
            c.sc.setJobGroup(parent.attrs["group"] if parent else "perfbench", "untraced")
            self.overhead_s += time.perf_counter() - t1

    @contextlib.contextmanager
    def traced_only(self):
        """Work only traced runs do (probes outside the operations): its
        whole wall time counts as tracing overhead."""
        t0, before = time.perf_counter(), self.overhead_s
        try:
            yield
        finally:
            self.overhead_s = before + (time.perf_counter() - t0)

    def add_phases(self, df) -> None:
        """Attach ``df``'s Catalyst phase times to the current operation."""
        t0 = time.perf_counter()
        self._op.attrs.update(catalyst_phases(df))
        self.overhead_s += time.perf_counter() - t0

    def absorb_group(self, group: str) -> None:
        """Attribute the jobs of another job group (a streaming query's
        run id, set on its own thread) to the innermost open span."""
        t0 = time.perf_counter()
        s = self._stack[-1]
        own, intervals = self.counters.group_counters(group)
        for k, v in own.items():
            s.attrs[k] = s.attrs.get(k, 0) + v
        s.job_intervals.extend(intervals)
        self.overhead_s += time.perf_counter() - t0

    def duration(self, span: Span) -> float:
        """A span's duration less the tracing done inside it."""
        return (span.end - span.start) - span.attrs.get("trace.inner_s", 0.0)

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it covered by child spans."""
        kids = [(c.start, c.end) for c in self.spans if c.parent == span.id]
        return (span.end - span.start) - covered(kids)

    def ops(self) -> list[Span]:
        return [s for s in self.spans if s.attrs.get("op")]

    def in_ops(self) -> list[Span]:
        """Spans that are operations or nested inside one."""
        inside: dict[int, bool] = {}
        for s in self.spans:
            inside[s.id] = bool(s.attrs.get("op")) or (s.parent is not None and inside[s.parent])
        return [s for s in self.spans if inside[s.id]]

    def total(self, name: str, attr: str | None = None) -> float:
        """Sum over spans named ``name`` (or ``name:<detail>``) of their
        duration, or of one attribute."""
        out = 0.0
        for s in self.spans:
            if s.name == name or s.name.startswith(name + ":"):
                out += self.duration(s) if attr is None else s.attrs.get(attr, 0)
        return out

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as fh:
            for s in self.spans:
                rec = {"id": s.id, "parent": s.parent, "name": s.name, "start": s.start,
                       "end": s.end, "self_s": self.self_time(s), **s.attrs}
                fh.write(json.dumps(rec, default=str) + "\n")


class SparkCounters:
    """Spark's own counters, read through the JVM: the job/stage status
    store, the codegen compile counters, and persisted-RDD storage."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self.codegen_metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics

    def global_counters(self) -> dict[str, float]:
        self.jsc.listenerBus().waitUntilEmpty()
        return {
            "codegen.compiles": self.codegen_metrics.METRIC_COMPILATION_TIME().getCount(),
            "codegen.compile_ms": self.codegen.compileTime() / 1e6,
        }

    def caching(self) -> dict[str, float]:
        infos = self.jsc.getRDDStorageInfo()
        return {
            "caching.persisted": self.sc._jsc.getPersistentRDDs().size(),
            "caching.storage_bytes": sum(i.memSize() + i.diskSize() for i in infos),
        }

    def group_counters(self, group: str) -> tuple[dict[str, float], list]:
        """Totals over the jobs of ``group`` and their stages, and the
        jobs' (submitted, completed) epoch-millisecond intervals."""
        self.jsc.listenerBus().waitUntilEmpty()
        out = dict.fromkeys(
            ("exec.jobs", "exec.stages", "exec.tasks", "exec.run_ms", "exec.cpu_ms",
             "exec.gc_ms", "exec.input_bytes", "shuffle.read_bytes",
             "shuffle.write_bytes", "exec.spill_bytes"), 0.0)
        intervals = []
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            job = self.store.job(jid)
            out["exec.jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime(), done.get().getTime()))
            ids = job.stageIds()
            for i in range(ids.size()):
                st = self.store.lastStageAttempt(ids.apply(i))
                if str(st.status()) == "SKIPPED":
                    continue
                out["exec.stages"] += 1
                out["exec.tasks"] += st.numCompleteTasks()
                out["exec.run_ms"] += st.executorRunTime()
                out["exec.cpu_ms"] += st.executorCpuTime() / 1e6
                out["exec.gc_ms"] += st.jvmGcTime()
                out["exec.input_bytes"] += st.inputBytes()
                out["shuffle.read_bytes"] += st.shuffleReadBytes()
                out["shuffle.write_bytes"] += st.shuffleWriteBytes()
                out["exec.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out, intervals


def catalyst_phases(df) -> dict[str, float]:
    """Analysis/optimization/planning milliseconds of ``df``'s query
    execution (the one its action ran). Analysis that ``QuerySpec.fn``
    forces while it builds the plan step by step is not in this tracker:
    it lands in ``plans.build_s``."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        o = phases.get(name)
        out[f"catalyst.{name}_ms"] = float(o.get().durationMs()) if o.isDefined() else 0.0
    return out
