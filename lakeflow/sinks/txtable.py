"""A minimal manifest-committed table format: snapshot-isolated reads,
atomic multi-file commits, optimistic concurrency, time travel.

Why build this: every merge/compaction sink in :mod:`lakeflow.sinks`
emulates transactional overwrite on plain parquet with a staged
directory swap — atomic for writers, but with a documented reader gap
(between the two renames the path briefly doesn't exist) and no
version history. Real deployments use Delta/Iceberg/Hudi, whose core
mechanism is small and engine-agnostic: **data files are immutable;
the table IS a manifest file listing its data files; a commit is one
atomic publish of manifest v+1**. This module implements that core
directly on parquet files:

- ``data/`` holds immutable parquet files, each written exactly once
  under a unique commit prefix and NEVER mutated or renamed.
- ``_manifests/v{N}.json`` lists the data files of version N plus a
  little metadata, the table schema among it. Publishing is
  ``open(..., 'x')`` — atomic exclusive create on POSIX/HDFS — so two
  writers racing to the same version conflict deterministically:
  exactly one wins, the loser raises
  :class:`ConcurrentCommitError` with its staged files cleaned up
  (object stores without atomic create need a CAS/lock service; same
  caveat as sinks/merge fencing).
- Readers resolve the LATEST manifest (or a pinned ``version=`` for
  time travel) and read exactly those files. A concurrent commit never
  disturbs them: their files are immutable and still on disk until
  ``vacuum`` — true snapshot isolation with no rename window, the
  property the staged-swap sinks could only approximate.
- ``vacuum`` deletes data files referenced by NO retained manifest.

Schema rule (Delta's ``metaData`` action): a commit records the
written DataFrame's schema in its manifest — known at write time, so
recording it costs no job — and :func:`read_table` reads with it
instead of running Spark's footer-inference job on every read; the
append drift check compares against it without reading at all.
Manifests without a ``schema`` key (written before the rule, or by an
append that changed a shared column's type) keep Spark's inference,
which ``merge_schema=True`` widens across files. Measured on
``perfbench`` ``lake_ingest`` seed 1, traced, 4 cores: ``exec.jobs``
103 -> 91.

Scale notes: a commit's critical section is one small file create —
data writes happen before, at full cluster parallelism, and commit
cost is O(#files in manifest), not O(data). Readers list one manifest
instead of the directory (no eventual-consistency listing hazards).
Upserts rewrite only data (new files + new manifest); history costs
nothing until vacuumed.
"""

from __future__ import annotations

import contextlib
import json
import os
import uuid

from pyspark.sql import DataFrame, DataFrameReader, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from lakeflow.sinks.layout import _lay_out, _n_files
from lakeflow.sinks.zonemap import _footer_min_max, _may_overlap, _read_survivors


class ConcurrentCommitError(RuntimeError):
    """Another writer published this version first; retry on latest."""


def _manifest_dir(path: str) -> str:
    return os.path.join(path, "_manifests")


def _data_dir(path: str) -> str:
    return os.path.join(path, "data")


def _manifest_path(path: str, version: int) -> str:
    return os.path.join(_manifest_dir(path), f"v{version}.json")


def _versions(path: str) -> list[int]:
    d = _manifest_dir(path)
    if not os.path.isdir(d):
        return []
    out = []
    for f in os.listdir(d):
        if f.startswith("v") and f.endswith(".json"):
            try:
                out.append(int(f[1:-5]))
            except ValueError:
                continue
    return sorted(out)


def current_version(path: str) -> int:
    """Latest committed version (0 = table does not exist)."""
    vs = _versions(path)
    return vs[-1] if vs else 0


def _read_manifest(path: str, version: int) -> dict:
    with open(_manifest_path(path, version)) as fh:
        return json.load(fh)


def _manifest_at(path: str, version: int | None = None) -> tuple[int, dict]:
    """(version, manifest) of ``version``, or of the latest commit;
    raises ``FileNotFoundError`` when no such version exists."""
    v = version if version is not None else current_version(path)
    if v == 0:
        raise FileNotFoundError(f"no committed version at {path!r}")
    return v, _read_manifest(path, v)


def _write_data_files(df: DataFrame, path: str) -> list[str]:
    """Write ``df`` as immutable parquet files under a unique commit
    prefix and return their table-relative paths."""
    token = uuid.uuid4().hex[:12]
    commit_dir = os.path.join(_data_dir(path), token)
    df.write.parquet(commit_dir)
    rel = []
    for f in sorted(os.listdir(commit_dir)):
        if f.endswith(".parquet"):
            rel.append(os.path.join("data", token, f))
    return rel


def _collect_stats(
    path: str, rel_files: list[str], cols: list[str]
) -> dict[str, dict]:
    """Per-file (n_rows, min, max) for ``cols`` from parquet FOOTERS
    only — metadata I/O, a few KB per file regardless of file size
    (the Delta data-skipping stats, gathered at commit time so reads
    never touch footers). Values that don't serialize to JSON
    (timestamps, binary) record as None = never pruned; conservative
    by construction."""
    out: dict[str, dict] = {}
    for rel in rel_files:
        n_rows, mm = _footer_min_max(os.path.join(path, rel), cols)
        out[rel] = {"n_rows": n_rows}
        for c, (lo, hi) in mm.items():
            ok = all(isinstance(v, (int, float, str, bool)) for v in (lo, hi))
            out[rel][c] = [lo, hi] if ok else None
    return out


def _publish(
    path: str,
    base_version: int,
    files: list[str],
    op: str,
    stats_cols: list[str] | None = None,
    stats: dict[str, dict] | None = None,
    schema: dict | None = None,
) -> int:
    """Atomically publish manifest ``base_version + 1``. Raises
    :class:`ConcurrentCommitError` if someone else got there first."""
    os.makedirs(_manifest_dir(path), exist_ok=True)
    version = base_version + 1
    manifest = {"version": version, "op": op, "files": files}
    if schema is not None:
        manifest["schema"] = schema
    if stats_cols:
        manifest["stats_cols"] = stats_cols
        manifest["stats"] = stats or {}
    try:
        with open(_manifest_path(path, version), "x") as fh:
            json.dump(manifest, fh)
    except FileExistsError as e:
        raise ConcurrentCommitError(
            f"version {version} of {path!r} was committed concurrently; "
            f"re-read the latest snapshot and retry"
        ) from e
    return version


def _commit(
    path: str,
    base_version: int,
    df: DataFrame,
    op: str,
    stats_cols: list[str] | None,
    prior: dict | None = None,
) -> int:
    """Write ``df`` as new immutable files, collect their stats, and
    publish them with ``df``'s schema — after ``prior``'s files and
    stats, and with the schema widened by the batch's new columns, for
    an append — as version ``base_version + 1``. A lost race removes
    the new files and re-raises :class:`ConcurrentCommitError`."""
    schema = _appended_schema(prior, df.schema) if prior else df.schema.jsonValue()
    files = _write_data_files(df, path)
    stats = None
    if stats_cols:
        stats = dict(prior.get("stats", {})) if prior else {}
        stats.update(_collect_stats(path, files, stats_cols))
    kept = prior["files"] if prior else []
    try:
        return _publish(
            path, base_version, kept + files, op, stats_cols, stats, schema
        )
    except ConcurrentCommitError:
        for rel in files:
            with contextlib.suppress(OSError):
                os.remove(os.path.join(path, rel))
        raise


def _appended_schema(prior: dict, batch: StructType) -> dict | None:
    """The recorded schema after appending ``batch``: the table's
    columns, then the batch's new ones. None — reads infer — when the
    prior manifest records no schema or a shared column changed type
    or letter case."""
    if "schema" not in prior:
        return None
    fields = StructType.fromJson(prior["schema"]).fields
    have = {f.name.lower(): f for f in fields}
    for f in batch.fields:
        old = have.get(f.name.lower())
        if old is None:
            fields.append(f)
        elif old.name != f.name or (
            old.dataType.simpleString() != f.dataType.simpleString()
        ):
            return None
    return StructType(fields).jsonValue()


def _reader(spark: SparkSession, manifest: dict) -> DataFrameReader:
    """A parquet reader given ``manifest``'s recorded schema, or an
    inferring one when the manifest records none."""
    if "schema" not in manifest:
        return spark.read
    return spark.read.schema(StructType.fromJson(manifest["schema"]))


def _files_bytes(path: str, files: list[str]) -> int:
    """On-disk bytes of a manifest's files (missing ones count 0)."""
    paths = [os.path.join(path, rel) for rel in files]
    return sum(os.path.getsize(f) for f in paths if os.path.exists(f))


def write_table(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    stats_cols: list[str] | None = None,
) -> int:
    """Create the table or replace its contents (full overwrite
    semantics, previous versions retained for time travel). Returns the
    committed version.

    ``stats_cols``: columns whose per-file min/max land in the manifest
    (data-skipping stats — see :func:`scan_where`). Sticky: later
    appends/upserts/optimizes maintain them without re-passing."""
    os.makedirs(path, exist_ok=True)
    return _commit(path, current_version(path), df, "overwrite", stats_cols)


def append_table(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    allow_schema_drift: bool = False,
) -> int:
    """Atomic multi-file append: new files become visible all at once
    when manifest v+1 publishes — readers never see a partial batch
    (plain parquet directory appends can't promise that). Data-skipping
    stats, if the table carries them, extend to the new files only —
    prior files' entries carry forward untouched (their footers are
    never re-read: commit cost stays O(batch), not O(table)).

    Schema discipline: a batch whose columns differ from the current
    snapshot raises unless ``allow_schema_drift=True`` (schema
    EVOLUTION — new columns land in the new files only, and the
    manifest records the widened schema, so older files' missing
    columns read as null). The check reads the snapshot's columns from
    its manifest; only a manifest with no recorded schema is read."""
    base = current_version(path)
    if base == 0:
        return write_table(spark, df, path)
    prior = _read_manifest(path, base)
    if not allow_schema_drift:
        if "schema" in prior:
            snap_cols = {f["name"] for f in prior["schema"]["fields"]}
        else:
            snap_cols = set(read_table(spark, path, base).columns)
        new_cols = set(df.columns)
        if snap_cols != new_cols:
            raise ValueError(
                f"append schema drift at {path!r}: table has "
                f"{sorted(snap_cols)}, batch has {sorted(new_cols)}; pass "
                f"allow_schema_drift=True to widen (a plain read_table "
                f"then returns the widened columns)"
            )
    return _commit(path, base, df, "append", prior.get("stats_cols"), prior)


def read_table(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """Snapshot read: latest version, or a pinned one (time travel).
    The returned DataFrame scans exactly the manifest's immutable
    files — concurrent commits cannot change or break it (files live
    until vacuum). The scan reads with the manifest's recorded schema
    (no inference job; module docstring), which after a drift append
    is already the widened one. ``merge_schema=True`` matters only for
    a manifest that records no schema (written before the rule, or by
    an append that changed a shared column's type): it unions the
    schemas of all listed files instead of inferring one file's
    (columns absent from older files read as null)."""
    v, manifest = _manifest_at(path, version)
    files = [os.path.join(path, rel) for rel in manifest["files"]]
    if not files:
        raise FileNotFoundError(f"version {v} of {path!r} lists no files")
    if merge_schema:
        return spark.read.option("mergeSchema", "true").parquet(*files)
    return _reader(spark, manifest).parquet(*files)


def merge_upsert_table(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    keys: list[str],
    order_col: str | None = None,
) -> int:
    """Keyed upsert with latest-wins semantics as ONE atomic commit:
    read the current snapshot, apply the batch (existing keys replaced,
    new keys inserted; ``order_col`` breaks ties within the batch),
    write new files, publish. Optimistic concurrency — if another
    writer commits meanwhile, the publish conflicts and the caller
    retries against the new snapshot (no torn state is ever visible)."""
    from lakeflow.operators.dedup import latest_wins

    base = current_version(path)
    batch = (
        latest_wins(df, keys, order_col) if order_col is not None else df
    )
    if base == 0:
        return write_table(spark, batch, path)
    existing = read_table(spark, path, base)
    # null-safe anti join: a plain key equi-anti-join never matches a
    # NULL key, so an existing NULL-key row would survive every upsert
    # AND the batch's copy would append again — unbounded duplicates
    batch_keys = batch.select(
        *[F.col(k).alias(f"__bk_{k}") for k in keys]
    ).distinct()
    cond = None
    for k in keys:
        c = existing[k].eqNullSafe(batch_keys[f"__bk_{k}"])
        cond = c if cond is None else cond & c
    merged = existing.join(batch_keys, cond, "left_anti").unionByName(batch)
    scols = _read_manifest(path, base).get("stats_cols")
    return _commit(path, base, merged, "merge_upsert", scols)


def delete_where(
    spark: SparkSession, path: str, predicate
) -> int:
    """Transactional DELETE: rewrite the snapshot minus matching rows,
    publish atomically. ``predicate`` is a boolean Column."""
    base, manifest = _manifest_at(path)
    remaining = read_table(spark, path, base).where(~predicate | predicate.isNull())
    return _commit(path, base, remaining, "delete", manifest.get("stats_cols"))


def vacuum_table(
    path: str, keep_last: int = 2, min_age_seconds: float = 3600.0
) -> int:
    """Delete data files referenced by NO retained manifest (the last
    ``keep_last`` versions are retained; older manifests are dropped
    too). Returns the number of data files removed. Readers pinned to a
    retained version are safe; time travel beyond retention is not —
    the same contract as Delta's VACUUM.

    ``min_age_seconds`` is the in-flight-commit guard (Delta's
    retention window): a concurrent writer's files exist on disk BEFORE
    its manifest publishes, so "referenced by no manifest" alone would
    delete a staged commit out from under it. Unreferenced files
    younger than the window are left alone; keep it comfortably above
    the longest plausible write-to-publish gap (0 only in
    single-writer tests)."""
    import time

    vs = _versions(path)
    if not vs:
        return 0
    keep = set(vs[-keep_last:]) if keep_last > 0 else set()
    live: set[str] = set()
    for v in keep:
        live.update(_read_manifest(path, v)["files"])
    removed = 0
    now = time.time()
    data = _data_dir(path)
    for root, _dirs, files in os.walk(data):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            full = os.path.join(root, f)
            rel = os.path.relpath(full, path)
            if rel not in live and now - os.path.getmtime(full) >= min_age_seconds:
                os.remove(full)
                removed += 1
    for root, dirs, files in os.walk(data, topdown=False):
        if not dirs and not files and root != data:
            os.rmdir(root)
    for v in vs:
        if v not in keep:
            try:
                os.remove(_manifest_path(path, v))
            except OSError:
                pass
    return removed


def optimize_table(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    zorder: tuple[str, str] | None = None,
) -> int:
    """Delta-style ``OPTIMIZE [ZORDER BY (x, y)]`` as ONE manifest
    commit: rewrite the current snapshot into ~target-sized files
    (optionally Z-order-clustered via the same Morton key as
    ``sinks/layout.zorder_write``) and publish the new file list as
    version v+1. Returns the committed version.

    This is the reader-gap-free maintenance path the staged-swap
    compaction in ``sinks/layout.compact_parquet`` can only
    approximate: there, the table path does not exist between the two
    directory renames, so an unlucky reader sees ENOENT. Here the old
    version's immutable files stay on disk (and listed in manifest v)
    until ``vacuum_table`` retires them, so a reader pinned to ANY
    retained snapshot — or opening the table at any instant — always
    resolves a complete file list. Compaction being just another
    commit also means it composes with concurrent upserts: whichever
    publishes v+1 second gets :class:`ConcurrentCommitError` and
    retries, never torn state.

    Scale shape: the rewrite is a full-parallelism read of the
    snapshot + a coalesce (shrinking) or Morton range-repartition
    (clustering); the critical section stays one manifest create,
    O(#files), independent of data size. At 100 TB run it per
    partition of a partitioned table so the blast radius and the
    rewrite working set stay bounded."""
    base, manifest = _manifest_at(path)
    n = _n_files(_files_bytes(path, manifest["files"]), target_file_bytes)
    out = _lay_out(read_table(spark, path, base), n, zorder)
    return _commit(path, base, out, "optimize", manifest.get("stats_cols"))


def scan_where(
    spark: SparkSession,
    path: str,
    col: str,
    lo=None,
    hi=None,
    version: int | None = None,
) -> DataFrame:
    """Data-skipping snapshot read: resolve the manifest, drop every
    file whose committed [min, max] stats for ``col`` cannot intersect
    [lo, hi] (either bound None = unbounded), scan only the survivors,
    and re-apply the residual predicate — the result equals
    ``read_table(...).where(...)`` exactly (equivalence tested), but
    the scan lists only surviving files.

    This is the manifest half of Delta-style data skipping: stats were
    collected ONCE at commit time (``stats_cols``), so a read prunes
    with zero footer I/O and zero directory listing — at 100 TB the
    difference between "open the manifest, read 3 files" and "stat
    100k files before planning". Files without stats for ``col``
    (column not tracked, non-JSON-able type, footer gaps) are always
    kept — pruning is conservative, never wrong. Composes with
    ``optimize_table(zorder=...)``: clustering is what makes file
    ranges disjoint enough to prune; stats are recomputed on the
    rewritten files in the same commit."""
    v, manifest = _manifest_at(path, version)
    tracked = col in (manifest.get("stats_cols") or [])
    stats = manifest.get("stats", {}) if tracked else {}
    files = [
        os.path.join(path, rel)
        for rel in manifest["files"]
        if _may_overlap(*(stats.get(rel, {}).get(col) or (None, None)), lo, hi)
    ]
    return _read_survivors(
        _reader(spark, manifest),
        files,
        col,
        lo,
        hi,
        lambda: read_table(spark, path, v),
    )


def table_changes(
    spark: SparkSession,
    path: str,
    v_from: int,
    v_to: int,
    keys: list[str],
    emit_old: bool = False,
) -> DataFrame:
    """Delta-CDF-style change feed between two committed versions:
    one row per inserted ('I'), deleted ('D'), or value-changed ('U')
    key from snapshot ``v_from`` to snapshot ``v_to`` (see
    ``operators/diff.snapshot_diff`` for the relational
    reconstruction — one null-safe full outer join, one codegen
    comparison). Works on any retained version pair, in either
    direction; versions beyond vacuum retention raise like any time
    travel would. At scale, downstream incremental consumers process
    |changes| rows instead of re-reading the new snapshot."""
    from lakeflow.operators.diff import snapshot_diff

    return snapshot_diff(
        read_table(spark, path, v_from),
        read_table(spark, path, v_to),
        keys,
        emit_old=emit_old,
    )


def auto_optimize(
    spark: SparkSession,
    path: str,
    max_files: int = 64,
    target_file_bytes: int = 128 * 1024 * 1024,
    zorder: tuple[str, str] | None = None,
) -> int | None:
    """Compaction POLICY on top of :func:`optimize_table`: rewrite only
    when the current manifest is actually fragmented — more than
    ``max_files`` files AND an average file size under half the
    target. Returns the new version, or None when the table is already
    healthy (the common case — the check is one manifest read plus
    file stats, no Spark job). Run after streaming appends /
    micro-batch upserts; at 100 TB apply per partition so the rewrite
    working set stays bounded."""
    base = current_version(path)
    if base == 0:
        return None
    manifest = _read_manifest(path, base)
    files = manifest["files"]
    if len(files) <= max_files:
        return None
    if _files_bytes(path, files) / max(1, len(files)) >= target_file_bytes / 2:
        return None
    return optimize_table(spark, path, target_file_bytes, zorder)


def history(path: str) -> list[dict]:
    """Commit log: one dict per retained version (version, op,
    n_files)."""
    return [
        {
            "version": v,
            "op": (m := _read_manifest(path, v))["op"],
            "n_files": len(m["files"]),
        }
        for v in _versions(path)
    ]
