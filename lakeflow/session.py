"""SparkSession factory with scale-oriented defaults.

The reference runs eager single-process pandas (SURVEY §1, §4); here the
session is configured so Catalyst + AQE do the optimization work:

- AQE on (runtime coalescing, skew-join splitting, join-strategy switch)
- Arrow on (fast pandas interchange for the Pandas-UDF slow path)
- session timezone pinned to UTC (deterministic timestamp semantics)
- local driver heap sized from the host (``local_driver_mem``: a
  quarter of physical memory, 1g to 8g) unless ``LAKEFLOW_DRIVER_MEM``
  or ``PYSPARK_SUBMIT_ARGS`` says otherwise
- shuffle partitions sized from the environment; on a real cluster this
  would be set per-job (~2-3x total cores) or left to AQE coalescing.
- codegen cache sized to the working set: Spark keeps 100 compiled
  classes (``spark.sql.codegen.cache.maxEntries``), and one pass of a
  dozen mixed queries compiles about 180, so a repeated query compiled
  almost everything again. 1000 entries hold it; measured on
  ``perfbench`` ``query_mix`` seed 1, traced, 4 cores:
  ``codegen.repeat_compiles`` (classes compiled by repeat executions)
  153 -> 4. The conf is static: it takes effect when the session
  starts.

All credentials/config come from the environment — never hardcoded
(the reference embedded live credentials; see SURVEY.md security note).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def local_driver_mem(phys_bytes: int | None = None) -> str:
    """Heap for a local-master driver: a quarter of physical memory,
    at most 8g and at least 1g. In local mode the driver heap is the
    executor heap, so Spark's 1g default is too small for concurrent
    tasks, broadcasts and cached relations (a 10x-scale near-dup run
    dies in BroadcastExchange at 1g and runs at 8g). A fixed 8g is too
    much for a small host: on 16 GB, two lakeflow sessions side by side
    got one JVM killed by the kernel's OOM killer."""
    if phys_bytes is None:
        phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    mb = min(8192, max(1024, phys_bytes // 4 // 2**20))
    return f"{mb}m"


def get_spark(
    app_name: str = "lakeflow",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with lakeflow defaults."""
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = os.environ.get("LAKEFLOW_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("LAKEFLOW_SHUFFLE_PARTITIONS")
            or os.environ.get("SPARK_GRAFT_CPUS")
            or 32
        )
    # driver memory must reach the JVM before it launches (builder-time
    # spark.driver.memory is silently ignored for Python-launched local
    # drivers); no-op if a JVM or explicit submit args already exist.
    mem = os.environ.get(
        "LAKEFLOW_DRIVER_MEM",
        local_driver_mem() if master.startswith("local") else None,
    )
    if mem and not os.environ.get("PYSPARK_SUBMIT_ARGS"):
        os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-memory {mem} pyspark-shell"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # NOTE: spark.driver.memory only takes effect when the JVM is
        # launched by spark-submit; for a Python-launched local driver
        # the JVM already exists before builder configs apply, so
        # LAKEFLOW_DRIVER_MEM is injected via PYSPARK_SUBMIT_ARGS below
        # (must happen before the first SparkSession in the process)
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.ui.enabled", "false")
        # split size: 128MB is right for a cluster reading real lake files;
        # in local mode the test/bench tables are single small files, so
        # smaller splits are the difference between 1 task and full-core
        # parallelism (measured 4x on the sf0.1 scans)
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get(
                "LAKEFLOW_MAX_PARTITION_BYTES",
                "16MB" if master.startswith("local") else "128MB",
            ),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
