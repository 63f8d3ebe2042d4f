"""Table layout management: Z-order clustering and small-file
compaction.

At 100 TB the dominant read cost is how much of the table a query must
scan. Two layout levers:

- **Z-order (Morton) clustering**: interleave the bits of two filter
  columns and sort by the result before writing — rows close in BOTH
  dimensions land in the same files, so parquet min/max stats prune
  files for predicates on EITHER column (a plain sort only prunes the
  leading column). The key is pure integer bit arithmetic, so any
  engine reproduces it exactly.
- **Compaction**: streaming ingest and per-batch upserts accumulate
  small files; metadata overhead and task scheduling then dominate
  reads. ``compact_parquet`` rewrites to ~target-sized files.

Both are layouts of one rule (:func:`_lay_out` into :func:`_n_files`
files). On plain-parquet directories a compaction is a rewrite commit
like any merge (``sinks/merge._fenced_overwrite``): it claims the
version fence, carries the streaming commit tokens forward and shares
the merge's crash recovery. ``sinks/txtable.optimize_table`` lays out
the same way as one manifest commit.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from lakeflow.sinks.merge import (
    _fenced_overwrite,
    _recover_merge_swap,
    _snapshot,
    _swap,
)
from lakeflow.sinks.tables import dataset_bytes

#: (shift, mask) stages spreading a 16-bit value across 32 bits
_SPREAD = ((8, 0x00FF00FF), (4, 0x0F0F0F0F), (2, 0x33333333), (1, 0x55555555))

MORTON_BITS = 16
_MORTON_MASK = (1 << MORTON_BITS) - 1


def _spread_bits(c: Column) -> Column:
    for shift, mask in _SPREAD:
        c = (c.bitwiseOR(F.shiftleft(c, shift))).bitwiseAND(F.lit(mask))
    return c


def morton_key(x: Column | str, y: Column | str) -> Column:
    """32-bit Morton (Z-order) key from the low 16 bits of two long
    columns: bit i of x lands at position 2i, bit i of y at 2i+1."""
    x = F.col(x) if isinstance(x, str) else x
    y = F.col(y) if isinstance(y, str) else y
    sx = _spread_bits(x.cast("long").bitwiseAND(F.lit(_MORTON_MASK)))
    sy = _spread_bits(y.cast("long").bitwiseAND(F.lit(_MORTON_MASK)))
    return sx.bitwiseOR(F.shiftleft(sy, 1)).alias("morton_key")


def sql_morton(x: str, y: str) -> str:
    """ANSI/DuckDB mirror of :func:`morton_key` for oracles."""

    def spread(expr: str) -> str:
        out = f"(({expr}) & {_MORTON_MASK})"
        for shift, mask in _SPREAD:
            out = f"((({out}) | (({out}) << {shift})) & {mask})"
        return out

    return f"({spread(x)} | ({spread(y)} << 1))"


def _n_files(total_bytes: int, target_file_bytes: int) -> int:
    """Output file count for a rewrite: ceil(bytes / target), at least 1."""
    return max(1, -(-total_bytes // target_file_bytes))


def _lay_out(
    df: DataFrame, n_files: int, zorder: tuple[str, str] | None = None
) -> DataFrame:
    """``df`` laid out as ``n_files`` output files: a shuffle-free
    coalesce, or — with ``zorder=(x, y)`` — a range-partition by the
    Morton key, sorted within each file, so footer min/max on BOTH
    columns become selective."""
    if zorder is None:
        return df.coalesce(n_files)
    return (
        df.withColumn("__z", morton_key(*zorder))
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
    )


def zorder_write(
    df: DataFrame, path: str, col_x: str, col_y: str, n_files: int
) -> None:
    """Write ``df`` Z-ordered on (col_x, col_y): range-partition by the
    Morton key into ``n_files`` output files, sorted within each — so
    parquet footer min/max on BOTH columns become selective and file
    pruning works for either predicate."""
    _lay_out(df, n_files, (col_x, col_y)).write.mode("overwrite").parquet(path)


def _rewrite(
    spark: SparkSession,
    path: str,
    target_file_bytes: int,
    zorder: tuple[str, str] | None = None,
) -> int:
    v0, existing = _snapshot(spark, path)
    if existing is None:
        raise FileNotFoundError(f"compact: no table at {path!r}")
    n_files = _n_files(dataset_bytes(spark, path), target_file_bytes)
    _fenced_overwrite(_lay_out(existing, n_files, zorder), path, v0)
    return n_files


def compact_parquet(
    spark: SparkSession, path: str, target_file_bytes: int = 128 * 1024 * 1024
) -> int:
    """Rewrite a parquet table into ~target-sized files (small-file
    compaction after streaming/batch upsert churn). Returns the new
    file count. Size is the current on-disk footprint
    (``tables.dataset_bytes``, any scheme); the rewrite is a single
    shuffle-free coalesce.

    The rewrite commits like a merge: staged in a ``._merge_tmp_*``
    sibling and swapped in with two directory renames once the version
    fence is claimed, so concurrent readers see the old layout or the
    new one, a merge that commits meanwhile makes this raise
    ``ConcurrentMergeError`` instead of being lost, replay tokens
    survive, and a crash between the renames is recovered by the next
    read or rewrite. A missing table raises ``FileNotFoundError``.

    Reader caveat: between the two renames the path briefly does not
    exist. Tables that can take manifest-committed layout should use
    ``sinks/txtable.optimize_table`` instead — compaction there is one
    atomic manifest publish with NO reader gap (old files stay until
    vacuum)."""
    return _rewrite(spark, path, target_file_bytes)


def optimize_table(
    spark: SparkSession,
    path: str,
    col_x: str,
    col_y: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Delta ``OPTIMIZE ... ZORDER BY (x, y)`` equivalent for plain
    parquet: rewrite the table Z-ordered on (col_x, col_y) into
    ~target-sized files through the same fenced commit as
    :func:`compact_parquet` — compaction and clustering in one
    maintenance pass, the live table readable throughout. Returns the
    new file count."""
    return _rewrite(spark, path, target_file_bytes, (col_x, col_y))


def compact_partitions(
    spark: SparkSession,
    path: str,
    partitions: list[str] | None = None,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict[str, int]:
    """Partition-scoped compaction: rewrite one Hive partition directory
    (``key=value``) at a time. The working set is one partition, not
    the table — at 100 TB, table-at-once compaction is both a memory
    hazard and an availability hazard (one failure invalidates the
    whole rewrite), while per-partition swaps bound the blast radius to
    the partition in flight and let the maintenance job checkpoint
    progress between partitions. Each partition takes the staged swap
    without the version fence: a ``p=K._versions`` sibling would sit in
    the table root and read as a partition value, and merges never
    target partitioned tables. The swap stages and backs up a partition
    under dot-prefixed siblings (``.p=K._merge_tmp_*``,
    ``.p=K._merge_old``), which Spark's partition discovery skips, and
    a partition parked in its backup by a crashed swap is restored
    before the partitions are listed. Returns
    {partition: new_file_count}."""
    base = path.rstrip("/")
    for d in os.listdir(base):
        if d.startswith(".") and d.endswith("._merge_old"):
            _recover_merge_swap(os.path.join(base, d[1 : -len("._merge_old")]))
    if partitions is None:
        partitions = sorted(
            d
            for d in os.listdir(base)
            if "=" in d
            and not d.startswith(".")
            and "._merge_" not in d
            and os.path.isdir(os.path.join(base, d))
        )
    out = {}
    for p in partitions:
        part = os.path.join(base, p)
        out[p] = _n_files(dataset_bytes(spark, part), target_file_bytes)
        _swap(_lay_out(spark.read.parquet(part), out[p]), part)
    return out
