"""Sink layer (SURVEY §2.2).

The reference's nine sink operators — string-rendered INSERT codegen,
5-row chunked retries, CSV staging + Redshift COPY
(`utils/sql_utils.py:15-140`) — collapse into the typed DataFrameWriter:
distributed columnar parquet write IS the bulk load in a lakehouse.
What remains of the reference surface:

- K1/K4: ``save_table(mode='overwrite')``
- K2:    ``drop_table``
- K5:    ``table_exists`` (`INFORMATION_SCHEMA` probe → catalog API)
- K7:    retries → Spark task retry (`spark.task.maxFailures`)
- K8:    COPY-via-S3 → `df.write.parquet`; literal Redshift parity would
         use a JDBC/spark-redshift writer at the boundary
- K9:    templated DDL runner on ``spark.sql``
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession


def save_table(
    df: DataFrame,
    name: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    path: str | None = None,
    fmt: str = "parquet",
) -> None:
    """Write a managed table (or path-based if ``path`` given).

    Scale notes: choose ``partition_by`` on low-cardinality pruning keys
    (date, tenant); writers emit one file per task — call
    ``df.repartition(n)`` or rely on AQE coalescing upstream to control
    file count at 100 TB.
    """
    writer = df.write.format(fmt).mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if path is not None:
        writer.option("path", path).saveAsTable(name)
    else:
        writer.saveAsTable(name)


def save_bucketed_table(
    df: DataFrame,
    name: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table: co-locates rows by hash(bucket_cols) at
    WRITE time so later equi-joins/aggregations on those columns need no
    shuffle — the 100 TB answer for repeatedly-joined fact tables
    (pay the shuffle once, reuse forever). Optional in-bucket sort
    additionally removes the sort from sort-merge joins."""
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(name)


def table_exists(spark: SparkSession, name: str) -> bool:
    return spark.catalog.tableExists(name)


def drop_table(spark: SparkSession, name: str) -> None:
    spark.sql(f"DROP TABLE IF EXISTS {name}")


_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_.]*$")


def run_ddl_script(
    spark: SparkSession, sql_text_or_path: str, **params: str
) -> list[str]:
    """Templated DDL runner (K9: `create_card_funnel_schema.py:12-21`):
    read a ``.sql`` script, substitute ``{param}`` placeholders, execute
    statements sequentially. Parameters must be SQL identifiers — this
    is DDL templating, not value interpolation."""
    for v in params.values():
        if not _IDENT.match(str(v)):
            raise ValueError(f"DDL parameter not a valid identifier: {v!r}")
    text = sql_text_or_path
    if os.path.exists(sql_text_or_path):
        with open(sql_text_or_path) as fh:
            text = fh.read()
    # strip comment lines BEFORE splitting: a ';' inside a comment would
    # otherwise split mid-statement
    text = "\n".join(
        ln for ln in text.splitlines() if not ln.lstrip().startswith("--")
    )
    executed = []
    for stmt in text.split(";"):
        stmt = stmt.strip()
        if not stmt:
            continue
        stmt = stmt.format(**params)
        spark.sql(stmt)
        executed.append(stmt)
    return executed


def dataset_bytes(spark: SparkSession, path: str) -> int:
    """Total on-disk bytes of a dataset path via the Hadoop FS API —
    works for any scheme (file://, s3a://), no driver-side listing of
    individual files into Python."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs.getContentSummary(p).getLength()


def analyze_table(
    spark: SparkSession,
    name: str,
    columns: tuple[str, ...] = (),
) -> dict[str, str]:
    """Collect catalog statistics for the cost-based optimizer:
    table-level (row count, size) always; per-column min/max/NDV/null
    histograms for ``columns``. On a real lake these stats are what
    let Catalyst pick broadcast vs shuffle joins and reorder
    multi-way joins without hints — the declarative alternative to
    hand-placed ``broadcast()`` calls. Returns the table's stats
    line from DESCRIBE EXTENDED for verification."""
    ident = name
    if not all(part.isidentifier() for part in ident.split(".")):
        raise ValueError(f"unsafe table identifier: {name!r}")
    spark.sql(f"ANALYZE TABLE {ident} COMPUTE STATISTICS")
    if columns:
        for c in columns:
            if not c.isidentifier():
                raise ValueError(f"unsafe column identifier: {c!r}")
        cols = ", ".join(columns)
        spark.sql(f"ANALYZE TABLE {ident} COMPUTE STATISTICS FOR COLUMNS {cols}")
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {ident}").collect()
    return {
        r["col_name"]: r["data_type"]
        for r in rows
        if r["col_name"] in ("Statistics", "Table", "Type")
    }
