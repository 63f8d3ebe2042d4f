"""SparkSession factory with scale-oriented defaults.

The reference runs eager single-process pandas (SURVEY §1, §4); here the
session is configured so Catalyst + AQE do the optimization work:

- AQE on (runtime coalescing, skew-join splitting, join-strategy switch)
- Arrow on (fast pandas interchange for the Pandas-UDF slow path)
- session timezone pinned to UTC (deterministic timestamp semantics)
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
    # In local mode the driver heap IS the executor heap, so the 1g
    # default is far too small for 32 concurrent tasks + broadcasts +
    # cached relations — measured: a 10x-scale near-dup run dies in
    # BroadcastExchange at 1g, runs at 8g.
    mem = os.environ.get(
        "LAKEFLOW_DRIVER_MEM", "8g" if master.startswith("local") else None
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
