"""Zone-map file skipping: prune a parquet table's file list from
footer min/max statistics before Spark ever schedules a scan task.

This is the data-skipping layer every table format (Delta, Iceberg,
Hudi) builds on: parquet already stores per-column min/max in each
file's footer; a table laid out sorted or Z-ordered on its filter
columns (see :mod:`lakeflow.sinks.layout`) therefore has tight,
non-overlapping zones, and a range predicate can eliminate most files
from METADATA alone. Spark's own parquet reader prunes row groups once
a task opens a file, but it still lists, schedules, and opens every
file — at 100 TB (a million files) task scheduling and footer reads
dominate selective queries. Pruning the file LIST driver-side turns a
million-task scan into a hundred-task scan.

Two stat sources:

- :func:`zonemap_from_footers` — read each file's footer (pyarrow,
  metadata-only; no data pages touched). Right for ad-hoc pruning and
  for building the index the first time.
- :func:`build_zonemap_table` — persist those stats as a tiny parquet
  index table (one row per file). At scale the index is maintained
  incrementally on ingest and the footers are never re-read; pruning
  then costs one scan of a table with #files rows (what Delta keeps in
  its transaction log).

Pruning is CONSERVATIVE: a file is kept unless its [min, max] provably
excludes the predicate (null-only stats keep the file). The residual
predicate is re-applied to the rows read, so results are exactly the
full scan's.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, DataFrameReader, SparkSession
from pyspark.sql import functions as F


def _parquet_files(path: str) -> list[str]:
    out = []
    if os.path.isfile(path):
        return [path]
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                out.append(os.path.join(root, f))
    return sorted(out)


def _footer_min_max(file: str, cols: list[str]) -> tuple[int, dict]:
    """(n_rows, {col: (min, max)}) of one parquet file from its footer
    alone, folding every row group's stats. A column that is absent, or
    lacks min/max in any row group, maps to (None, None) — such a file
    can never be pruned on it."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(file).metadata
    idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
    out: dict = {}
    for c in cols:
        lo = hi = None
        if c in idx:
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx[c]).statistics
                if st is None or not st.has_min_max:
                    lo = hi = None
                    break
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
        out[c] = (lo, hi)
    return md.num_rows, out


def zonemap_from_footers(path: str, cols: list[str]) -> list[dict]:
    """Per-file min/max for ``cols`` from parquet footers only.

    Returns one dict per file: ``{"file", "n_rows", "<col>_min",
    "<col>_max"}`` with None min/max when a footer lacks stats for the
    column (such files are never pruned). Footer reads are pure
    metadata I/O — a few KB per file regardless of file size.
    """
    zones = []
    for f in _parquet_files(path):
        n_rows, mm = _footer_min_max(f, cols)
        zone: dict = {"file": f, "n_rows": n_rows}
        for c, (lo, hi) in mm.items():
            zone[f"{c}_min"], zone[f"{c}_max"] = lo, hi
        zones.append(zone)
    return zones


def _may_overlap(zmin, zmax, lo=None, hi=None) -> bool:
    """Whether a file whose ``col`` zone is [zmin, zmax] may hold a row
    in [lo, hi] (either bound None = unbounded). Conservative: a zone
    with a missing end always may."""
    if zmin is None or zmax is None:
        return True
    return (lo is None or zmax >= lo) and (hi is None or zmin <= hi)


def prune_files(
    zones: list[dict], col: str, lo=None, hi=None
) -> list[str]:
    """Files whose [min, max] zone for ``col`` may intersect
    [lo, hi] (either bound may be None = unbounded). Conservative:
    missing stats keep the file."""
    return [
        z["file"]
        for z in zones
        if _may_overlap(z.get(f"{col}_min"), z.get(f"{col}_max"), lo, hi)
    ]


def _read_survivors(
    reader: DataFrameReader,
    files: list[str],
    col: str,
    lo,
    hi,
    whole: Callable[[], DataFrame],
) -> DataFrame:
    """Scan the surviving ``files`` with ``reader`` and the residual
    predicate ``lo <= col <= hi`` re-applied, so the result equals the
    full scan's. No survivors reads ``whole()`` under a false filter: an
    empty DataFrame with the table's schema."""
    if not files:
        return whole().where(F.lit(False))
    pred = F.lit(True)
    if lo is not None:
        pred = pred & (F.col(col) >= F.lit(lo))
    if hi is not None:
        pred = pred & (F.col(col) <= F.lit(hi))
    return reader.parquet(*files).where(pred)


def pruned_read(
    spark: SparkSession, path: str, col: str, lo=None, hi=None
) -> DataFrame:
    """Read only the files of ``path`` whose zones may contain
    ``col`` ∈ [lo, hi], with the residual predicate re-applied — the
    result equals ``spark.read.parquet(path).where(...)`` exactly, but
    only surviving files are listed in the scan (check
    ``.inputFiles()``). An empty survivor list still returns an empty
    DataFrame with the table's schema."""
    files = prune_files(zonemap_from_footers(path, [col]), col, lo, hi)
    return _read_survivors(
        spark.read, files, col, lo, hi, lambda: spark.read.parquet(path)
    )


def build_zonemap_table(
    spark: SparkSession, path: str, cols: list[str], index_path: str
) -> DataFrame:
    """Persist the zone map as a parquet index table (one row per data
    file) and return it. At 100 TB this is the artifact that replaces
    footer re-reads: ingest appends its new files' rows (parquet
    writers know their own stats), compaction rewrites the affected
    rows, and every selective reader scans #files rows of metadata
    instead of opening #files footers."""
    zones = zonemap_from_footers(path, cols)
    df = spark.createDataFrame(zones)  # type: ignore[arg-type]
    df.coalesce(1).write.mode("overwrite").parquet(index_path)
    return spark.read.parquet(index_path)


def pruned_read_with_index(
    spark: SparkSession, path: str, index: DataFrame, col: str, lo=None, hi=None
) -> DataFrame:
    """Like :func:`pruned_read` but sourcing zones from a persisted
    index table — the survivor list is one pass over #files rows of
    metadata, no footer I/O."""
    rows = index.select("file", f"{col}_min", f"{col}_max").collect()
    files = prune_files([r.asDict() for r in rows], col, lo, hi)
    return _read_survivors(
        spark.read, files, col, lo, hi, lambda: spark.read.parquet(path)
    )
