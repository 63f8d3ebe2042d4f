"""Batch merge patterns over plain parquet: upsert, SCD2 history,
keyed aggregate folds and deletes, plus the one staged rewrite that
every plain-parquet sink (these merges and ``sinks/layout`` compaction)
commits through.

The reference's "upsert" was drop-and-recreate or append-only tables
(SURVEY §2.10); Delta/Iceberg ``MERGE INTO`` is the production path.
These helpers emulate MERGE over plain parquet with the anti-join +
union + window rewrite. The API shape is MERGE-compatible on purpose —
(target, updates, keys, ordering) maps 1:1 onto
``DeltaTable.merge(updates, keys).whenMatchedUpdateAll()
.whenNotMatchedInsertAll()`` — so swapping in a real table format
changes only the bodies.

Which path to use: :mod:`lakeflow.sinks.txtable` commits immutable
files under a manifest — snapshot-isolated readers with no rename
window, atomic multi-file appends, optimistic concurrency, time
travel. Prefer it for tables that lakeflow alone reads. Use this
module (and ``sinks/layout`` compaction) for plain-parquet directories
that other engines must read directly by path. What a rewrite here
guarantees:

- idempotent under replay: re-applying a batch is a no-op (tested).
- failure-atomic per write: the result is staged in a merge-private
  ``._merge_tmp_<uuid>`` sibling FIRST (the live target untouched and
  readable during the long write), then swapped in with two directory
  renames after the version fence is claimed. A failure before the
  swap leaves the old table intact; a failure mid-swap rolls it back;
  a process death mid-swap is recovered by the next read or rewrite
  (``._merge_old`` is restored). Between the two renames the path is
  briefly absent — readers see old data, new data, or a missing
  directory, never a mix.
- multi-writer conflicts are DETECTED (not prevented) on local
  filesystems: each rewrite claims a monotonically-increasing version
  marker via POSIX exclusive-create (an atomic CAS) before the swap,
  so of two interleaved writers exactly one commits and the other
  raises ``ConcurrentMergeError`` and can retry from a fresh read — a
  lost update becomes a loud failure. On object-store paths
  (``s3a://`` etc.) exclusive-create and rename are not atomic, so the
  rewrite is an in-place overwrite with no fence and no commit tokens
  (a tokened merge there raises ``ValueError``); single-writer-per-
  target is the operating assumption.
- a failed READ of an existing target aborts the merge instead of
  silently overwriting history (``read_target_if_exists``).

- ``merge_upsert``: latest-wins row replacement per key (same semantics
  as the streaming foreachBatch sink, batch-callable).
- ``scd2_merge``: slowly-changing-dimension type 2 — every change
  becomes a versioned row with [valid_from, valid_to) and an
  ``is_current`` flag; re-applying the same updates is a no-op
  (idempotent CDC replays).
"""

from __future__ import annotations

import glob
import os
import re
import shutil
import uuid
from collections.abc import Callable, Sequence
from functools import partial

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lakeflow.caching import release_checkpoint
from lakeflow.operators.dedup import latest_wins


class ConcurrentMergeError(RuntimeError):
    """Another merge committed between this merge's read and its write.

    The caller's merged result is based on a stale snapshot; committing
    it would silently drop the other writer's rows. Retry the whole
    merge from a fresh read of the target."""


def _local_path(p: str) -> str:
    """Strip a ``file:`` scheme to a plain OS path. Fencing and the
    staged swap use os-level calls (``os.rename``, ``shutil.rmtree``)
    that cannot resolve URIs — Spark would stage to the real local path
    while ``os.rename`` raised FileNotFoundError on the URI string.
    Spark itself accepts either form, so all os-visible paths go through
    here."""
    if p.startswith("file:"):
        from urllib.parse import urlparse

        return urlparse(p).path
    return p


def _versions_dir(target_path: str) -> str:
    return _local_path(target_path).rstrip("/") + "._versions"


def _fencing_enabled(target_path: str) -> bool:
    # POSIX exclusive-create is only atomic on a real filesystem;
    # object stores get no fencing (documented limitation above)
    return "://" not in target_path or target_path.startswith("file://")


def _current_version(target_path: str) -> int:
    d = _versions_dir(target_path)
    if not os.path.isdir(d):
        return 0
    ns = [int(f[1:]) for f in os.listdir(d) if f[:1] == "v" and f[1:].isdigit()]
    return max(ns, default=0)


def _claim_version(target_path: str, expected_version: int) -> None:
    """Claim version expected+1 via ``open(vN+1, 'x')`` — atomic on
    POSIX, so exactly one of two racing writers wins; the loser raises
    ConcurrentMergeError BEFORE touching the data files."""
    if _current_version(target_path) != expected_version:
        raise ConcurrentMergeError(
            f"{target_path}: version moved past {expected_version} "
            "during merge; retry from a fresh read"
        )
    d = _versions_dir(target_path)
    os.makedirs(d, exist_ok=True)
    try:
        with open(os.path.join(d, f"v{expected_version + 1}"), "x"):
            pass
    except FileExistsError:
        raise ConcurrentMergeError(
            f"{target_path}: a concurrent merge claimed version "
            f"{expected_version + 1}; retry from a fresh read"
        ) from None


def _sibling(base: str, suffix: str) -> str:
    """The swap sibling ``base + suffix``. Next to a Hive partition dir
    (``key=value``) it is dot-prefixed: Spark's file index skips
    dot-prefixed names, while ``p=1._merge_old`` would read as partition
    value ``1._merge_old``."""
    head, name = os.path.split(base)
    return os.path.join(head, ("." if "=" in name else "") + name + suffix)


def _recover_merge_swap(target_path: str) -> None:
    """Crash recovery for the two-rename swap: a process death between
    ``os.rename(base, old)`` and ``os.rename(tmp, base)`` leaves the
    table only in the deterministic ``._merge_old`` sibling — restore
    it before anyone reads (a reader seeing the path missing would
    otherwise treat the table as empty and the next merge would
    silently rebuild it from just the incoming batch). The crashed
    writer's ``._merge_tmp_*`` staging dirs go with it: that writer had
    claimed the fence, so any other staged rewrite would lose its claim
    anyway."""
    if not _fencing_enabled(target_path):
        return
    base = _local_path(target_path).rstrip("/")
    old = _sibling(base, "._merge_old")
    if not os.path.isdir(base) and os.path.isdir(old):
        os.rename(old, base)
        for tmp in glob.glob(glob.escape(_sibling(base, "")) + "._merge_tmp_*"):
            shutil.rmtree(tmp, ignore_errors=True)


def _swap(
    df: DataFrame,
    target_path: str,
    commit_token: str | None = None,
    claim: Callable[[], None] | None = None,
) -> None:
    """Stage ``df`` in a private ``._merge_tmp_<uuid>`` sibling, run
    ``claim`` (the version fence; it raises to abort), then swap the
    staged dir in with two renames; any failure rolls the live table
    back and drops the staging dir — never the target. ``df`` may read
    ``target_path``: the live dir is untouched until the first rename.

    Commit tokens ride INSIDE the staged dir (``_``-prefixed files are
    invisible to Spark's parquet reader), so token visibility is atomic
    with the data. Every earlier token is carried forward, so replay
    protection survives later rewrites (``vacuum_versions`` prunes)."""
    base = _local_path(target_path).rstrip("/")
    _recover_merge_swap(target_path)
    # staging is unique per attempt (racing writers may both stage; the
    # fence picks the winner); the backup name is fixed, which is what
    # lets _recover_merge_swap find a crashed mid-swap state
    tmp = _sibling(base, f"._merge_tmp_{uuid.uuid4().hex[:12]}")
    old = _sibling(base, "._merge_old")
    try:
        df.write.parquet(tmp)
        tokens = {f"_token_{commit_token}"} if commit_token is not None else set()
        if os.path.isdir(base):
            tokens.update(f for f in os.listdir(base) if f.startswith("_token_"))
        for f in tokens:
            open(os.path.join(tmp, f), "w").close()
        if claim is not None:
            claim()
        shutil.rmtree(old, ignore_errors=True)  # a completed swap's backup
        if os.path.isdir(base):
            os.rename(base, old)
        os.rename(tmp, base)
    except BaseException:
        if not os.path.isdir(base) and os.path.isdir(old):
            os.rename(old, base)
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    shutil.rmtree(old, ignore_errors=True)


def _fenced_overwrite(
    df: DataFrame,
    target_path: str,
    expected_version: int,
    commit_token: str | None = None,
) -> None:
    """Commit ``df`` over ``target_path`` iff no other rewrite committed
    since ``expected_version`` was observed: :func:`_swap` with the
    version claim between the staged write and the renames. A failure
    after the claim leaves the marker advanced with the old data in
    place — later writers still see a consistent (if stale-numbered)
    table. Object-store path (no atomic rename, fencing disabled):
    materialize via localCheckpoint, overwrite in place and release the
    checkpoint — the documented emulation limit; use a transactional
    table format there.

    Replay rule: when ``commit_token`` has already committed on
    ``target_path`` this returns without writing, so a replayed
    non-idempotent fold is a no-op (README, "Streaming replay")."""
    if commit_token is not None and has_commit_token(target_path, commit_token):
        return
    if not _fencing_enabled(target_path):
        cp = df.localCheckpoint(eager=True)
        try:
            cp.write.mode("overwrite").parquet(target_path)
        finally:
            release_checkpoint(cp)
        return
    claim = partial(_claim_version, target_path, expected_version)
    _swap(df, target_path, commit_token, claim)


def _snapshot(
    spark: SparkSession, target_path: str, commit_token: str | None = None
) -> tuple[int, DataFrame | None]:
    """(fence version, existing target or None) for a rewrite that will
    commit through :func:`_fenced_overwrite`. The version is read first,
    so a commit landing after the read fails the claim. A token needs
    the fenced swap to commit atomically with the data: on an unfenced
    (object-store) target it raises ``ValueError`` before any read."""
    fenced = _fencing_enabled(target_path)
    if commit_token is not None and not fenced:
        raise ValueError(
            f"{target_path}: commit tokens need a local-filesystem target; "
            "an unfenced overwrite cannot commit them with the data"
        )
    v0 = _current_version(target_path) if fenced else 0
    return v0, read_target_if_exists(spark, target_path)


def has_commit_token(target_path: str, commit_token: str) -> bool:
    """True iff some committed overwrite of ``target_path`` carried
    ``commit_token`` and ``vacuum_versions`` has not pruned it since.
    ``_fenced_overwrite`` swaps the token file in atomically with the
    data and carries every earlier token forward, so 'token present' ==
    'that merge is fully committed' with no in-between state."""
    base = _local_path(target_path).rstrip("/")
    return os.path.exists(os.path.join(base, f"_token_{commit_token}"))


def batch_token(batch_id: int) -> str:
    """The commit token of streaming micro-batch ``batch_id``."""
    return f"b{batch_id}"


def read_target_if_exists(spark: SparkSession, target_path: str) -> DataFrame | None:
    """Read an existing merge target, returning None ONLY when the path
    genuinely does not exist yet. Any other read failure (transient S3
    error, permissions, corrupt footer) propagates: the merge writers
    below OVERWRITE the target with existing ∪ updates, so silently
    treating a failed read as an empty target would replace the whole
    history with just the incoming batch."""
    from pyspark.errors import AnalysisException

    _recover_merge_swap(target_path)
    try:
        return spark.read.parquet(target_path)
    except AnalysisException as e:
        msg = f"{getattr(e, 'getCondition', lambda: '')() or ''} {e}"
        if "PATH_NOT_FOUND" in msg or "Path does not exist" in msg:
            return None
        raise


def merge_upsert(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    keys: Sequence[str],
    order_col: str,
    commit_token: str | None = None,
) -> None:
    v0, existing = _snapshot(spark, target_path, commit_token)
    if existing is not None:
        updates = existing.unionByName(updates, allowMissingColumns=True)
    out = latest_wins(updates, list(keys), order_col)
    _fenced_overwrite(out, target_path, v0, commit_token=commit_token)


def scd2_merge(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    keys: Sequence[str],
    change_ts: str,
) -> None:
    """Merge change rows into an SCD2 history table.

    ``updates``: one row per (key, change_ts) with the new attribute
    values. History rows carry valid_from = change_ts, valid_to = next
    version's valid_from (null while current), is_current.
    """
    v0, existing = _snapshot(spark, target_path)
    versions = updates.withColumn("valid_from", F.col(change_ts))
    if existing is not None:
        versions = existing.drop("valid_to", "is_current").unionByName(
            versions, allowMissingColumns=True
        )
    # idempotence: identical (key, valid_from) replays collapse
    versions = latest_wins(versions, [*keys, "valid_from"], change_ts)
    w = Window.partitionBy(*keys).orderBy("valid_from")
    out = versions.withColumn(
        "valid_to", F.lead("valid_from").over(w)
    ).withColumn("is_current", F.col("valid_to").isNull())
    _fenced_overwrite(out, target_path, v0)


def merge_additive(
    spark: SparkSession,
    target_path: str,
    delta: DataFrame,
    keys: Sequence[str],
    sum_cols: Sequence[str],
    commit_token: str | None = None,
) -> None:
    """Incremental AGGREGATE maintenance: fold a pre-aggregated delta
    batch into a running per-key totals table by SUMMING measure
    columns (vs ``merge_upsert``'s latest-wins row replacement) — the
    pattern that keeps corpus-level counters (tokens per source, events
    per user) current without re-scanning history. New keys insert;
    existing keys add. Work is O(|target keys| + |delta|), never
    O(history). Same version-fencing and failure-atomicity contract as
    the other mergers; NOT idempotent per batch (re-applying a delta
    double-counts) — dedupe batches upstream via ingest state, or pass
    ``commit_token`` (e.g. ``batch_token(batch_id)``): the token commits
    ATOMICALLY with the data swap, and a merge whose token has already
    committed writes nothing, so a replayed delta is folded in once."""
    aggs = [F.sum(c).alias(c) for c in sum_cols]
    merge_aggregate(spark, target_path, delta, keys, aggs, commit_token)


def merge_min(
    spark: SparkSession,
    target_path: str,
    delta: DataFrame,
    keys: Sequence[str],
    min_cols: Sequence[str],
) -> None:
    """Incremental MIN-fold maintenance: fold a pre-aggregated delta
    into a running per-key table by taking the element-wise MINIMUM of
    measure columns — the merger for monotone sketches whose union IS
    the min (corpus-set minhash signatures: min-merge of two corpora's
    signatures equals the signature of their union, exactly). New keys
    insert; existing keys keep the smaller value. Same version-fencing
    and failure-atomicity contract as the other mergers — but unlike
    ``merge_additive`` this fold is IDEMPOTENT (min(a, a) == a), so a
    replayed batch is harmless by construction and no commit token is
    needed for exactly-once semantics."""
    aggs = [F.min(c).alias(c) for c in min_cols]
    merge_aggregate(spark, target_path, delta, keys, aggs)


def merge_max(
    spark: SparkSession,
    target_path: str,
    delta: DataFrame,
    keys: Sequence[str],
    max_cols: Sequence[str],
) -> None:
    """The MAX twin of :func:`merge_min` — for monotone statistics
    whose union is the max (per-dimension max-abs quantization scales,
    high-watermark timestamps, max-seen sequence numbers). Same
    algebraic idempotence: replayed batches fold to no-ops without a
    commit token."""
    aggs = [F.max(c).alias(c) for c in max_cols]
    merge_aggregate(spark, target_path, delta, keys, aggs)


def merge_delete(
    spark: SparkSession,
    target_path: str,
    keys_df: DataFrame,
    keys: Sequence[str],
) -> None:
    """Targeted row deletion (GDPR / right-to-be-forgotten): remove
    every target row whose key tuple appears in ``keys_df`` — the
    ``DeltaTable.delete`` / ``MERGE ... WHEN MATCHED THEN DELETE``
    emulation, with the same version fencing and staged-swap
    failure-atomicity as the other mergers. The delete list is
    typically tiny: it broadcasts into a LEFT ANTI join against the
    target scan, one pass, no shuffle of the target. A missing target
    is a no-op (nothing to forget)."""
    v0, existing = _snapshot(spark, target_path)
    if existing is None:
        return
    out = existing.join(
        F.broadcast(keys_df.select(*keys).distinct()), list(keys), "left_anti"
    )
    _fenced_overwrite(out, target_path, v0)


_TOKEN = re.compile(r"_token_(\D*)(\d+)")


def vacuum_versions(target_path: str, keep_last: int = 10) -> int:
    """Retention for the merge fence's version markers and the
    in-table commit tokens: both grow one empty file per commit
    forever. Keeps the ``keep_last`` highest version markers — enough
    history to detect concurrent writers — and, per token family
    ``_token_<prefix><N>`` (batch tokens ``b<N>``, CDF cursors
    ``cdfv<N>``, ...), the ``keep_last`` highest N. Returns files
    removed."""
    victims = []
    d = _versions_dir(target_path)
    if os.path.isdir(d):
        ns = sorted(
            int(f[1:]) for f in os.listdir(d) if f[:1] == "v" and f[1:].isdigit()
        )
        victims += [os.path.join(d, f"v{n}") for n in ns[: len(ns) - keep_last]]
    base = _local_path(target_path).rstrip("/")
    if os.path.isdir(base):
        families: dict[str, list[tuple[int, str]]] = {}
        for f in os.listdir(base):
            if m := _TOKEN.fullmatch(f):
                families.setdefault(m[1], []).append((int(m[2]), f))
        for toks in families.values():
            toks.sort()
            victims += [os.path.join(base, f) for _, f in toks[: len(toks) - keep_last]]
    for f in victims:
        os.remove(f)
    return len(victims)


def merge_aggregate(
    spark: SparkSession,
    target_path: str,
    delta: DataFrame,
    keys: Sequence[str],
    aggs: Sequence[Column],
    commit_token: str | None = None,
) -> None:
    """:func:`merge_additive` generalized to ANY re-aggregable measure:
    fold a pre-aggregated delta into the per-key target by re-applying
    caller-supplied aggregate expressions (e.g. ``F.sum("n")``,
    ``F.bitmap_or_agg("bm")``, ``F.hll_union_agg("hll")``, ``F.min``/
    ``F.max``) over target ∪ delta. This is what makes sketch/bitmap
    rollup partials (operators/rollups.py) maintainable incrementally:
    counts add, bitmaps OR, sketches union — each a one-line agg here.
    Each expression must be aliased to its output column name. Same
    fencing, staged-swap atomicity, and commit-token replay contract as
    merge_additive; like it, NOT idempotent without ``commit_token``."""
    v0, existing = _snapshot(spark, target_path, commit_token)
    if existing is not None:
        delta = existing.unionByName(delta, allowMissingColumns=True)
    out = delta.groupBy(*keys).agg(*aggs)
    _fenced_overwrite(out, target_path, v0, commit_token=commit_token)


def scd2_snapshot_at(history: DataFrame, at_ts) -> DataFrame:
    """Point-in-time (AS OF) read of an SCD2 history table: the row
    version valid at ``at_ts`` per key — ``valid_from <= at_ts <
    valid_to`` (current rows have null valid_to). This is the temporal
    query SCD2 exists for: reconstruct any past state of the dimension
    with one narrow filter over the history scan (partition/zone-prune
    on valid_from at scale); no joins, no windows."""
    t = F.lit(at_ts).cast("timestamp")
    return history.filter(
        (F.col("valid_from") <= t)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > t))
    ).drop("is_current")
