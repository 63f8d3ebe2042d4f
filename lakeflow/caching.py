"""Explicit cache lifetime for operators that persist intermediates.

Several similarity operators persist a shared intermediate relation
(the distinct-shingle scan in ``near_dup_pairs``, the band relation in
``lsh_candidate_pairs``'s skew-guard path, the bucket relation in
``embedding_near_dup``) because two consumers would otherwise re-run
the expensive upstream pipeline. The returned DataFrames are lazy, so
the operator itself can never know when it is safe to unpersist — that
is the caller's knowledge. Docstring-only guidance ("call
``spark.catalog.clearCache()`` between jobs") proved easy to ignore
(round 3's bench accumulated MEMORY_AND_DISK relations across 68
queries), so the lifetime is now an explicit object:

    with CacheScope() as scope:
        pairs = near_dup_pairs(docs, "doc_id", "text", cache=scope)
        pairs.write.parquet(out)        # materialize INSIDE the scope
    # exiting unpersists every relation the operator registered

A long-lived service can instead keep one scope per request/job and
call :meth:`CacheScope.release` when the job's outputs are on disk.
Operators take ``cache: CacheScope | None``; ``None`` preserves the
old behavior (session-lifetime persist, caller clears), so existing
callers and the sf0.01 oracle parity path are unchanged.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame


class CacheScope:
    """Collects DataFrames persisted by operators and unpersists them
    together when the scope closes (or :meth:`release` is called)."""

    def __init__(self, storage_level: StorageLevel | None = None) -> None:
        self.storage_level = storage_level or StorageLevel.MEMORY_AND_DISK
        self._persisted: list[DataFrame] = []

    def persist(self, df: DataFrame) -> DataFrame:
        """Persist ``df`` at the scope's storage level and register it
        for release. Returns the persisted DataFrame."""
        out = df.persist(self.storage_level)
        self._persisted.append(out)
        return out

    def release(self, blocking: bool = False) -> int:
        """Unpersist everything registered with this scope. Returns the
        number of relations released. Idempotent."""
        n = len(self._persisted)
        for df in self._persisted:
            df.unpersist(blocking)
        self._persisted.clear()
        return n

    def __enter__(self) -> "CacheScope":
        return self

    def __exit__(self, *exc) -> None:
        self.release()


def release_checkpoint(df: DataFrame) -> None:
    """Drop the blocks of ``df``, a ``localCheckpoint`` result, once
    nothing reads it. ``DataFrame.unpersist`` does not reach them: they
    belong to the checkpointed RDD under the plan, not to the cache
    manager."""
    df._jdf.queryExecution().logical().rdd().unpersist(False)


def maybe_persist(df: DataFrame, cache: CacheScope | None) -> DataFrame:
    """Persist ``df`` under ``cache`` (or, with ``cache=None``, under
    the ambient :func:`scoped_cache` scope if one is active). Only when
    neither exists does the persist fall back to session lifetime
    (legacy behavior — the caller owns ``spark.catalog.clearCache()``)."""
    scope = cache if cache is not None else _ACTIVE
    if scope is not None:
        return scope.persist(df)
    return df.persist(StorageLevel.MEMORY_AND_DISK)


#: Ambient scope for callers whose signature cannot thread a
#: ``cache=`` parameter — the driver-contract registry queries are
#: fixed at ``(spark, sf_dir)``, so without this every persist they
#: trigger would be session-lifetime and only a blanket
#: ``clearCache()`` could reclaim it.
_ACTIVE: CacheScope | None = None


def active_scope() -> CacheScope | None:
    """The innermost :func:`scoped_cache` scope, if any."""
    return _ACTIVE


class scoped_cache:
    """Context manager installing an ambient CacheScope: every
    ``maybe_persist(df, None)`` inside the block registers with it, and
    exiting releases exactly those relations — nothing else a session
    may have cached. Used by bench.py around each timed query (release
    what the query persisted, instead of blanket ``clearCache()``) and
    usable by any job runner:

        with scoped_cache() as scope:
            out = QUERIES["q_near_dup_pipeline"].fn(spark, sf_dir)
            out.write.parquet(dst)   # materialize INSIDE the block

    Nested scopes stack; the innermost wins."""

    def __init__(self, storage_level: StorageLevel | None = None) -> None:
        self._scope = CacheScope(storage_level)
        self._prev: CacheScope | None = None

    def __enter__(self) -> CacheScope:
        global _ACTIVE
        self._prev = _ACTIVE
        _ACTIVE = self._scope
        return self._scope

    def __exit__(self, *exc) -> None:
        global _ACTIVE
        _ACTIVE = self._prev
        self._scope.release()


def prebuilt_state(path: str, build_fn) -> str:
    """Build-once, content-addressed corpus-state artifact (VERDICT r9
    task #6 — the named promotion of the pattern that had grown two
    hand-rolled copies: the IVF/PQ index builds and the incremental-
    entity stored-assignment state): if ``path`` does not exist yet,
    ``build_fn(tmp_path)`` must WRITE the artifact (a file or a
    directory) at ``tmp_path``; the finished artifact is then renamed
    into place. Returns ``path``.

    Contract the call sites rely on:

    - **Key discipline is the caller's job**: ``path`` must embed a
      CONTENT fingerprint of the inputs (the ``_corpus_cache_key``
      arrangement — path + per-file size/mtime), so a stale artifact
      can only ever be byte-equivalent to a fresh build and is safe to
      serve. ``build_fn`` must be deterministic for the same reason.
    - **Race-safe**: concurrent builders each build into a unique
      ``{path}._build_{uuid}``. For a FILE artifact, ``os.rename``
      atomically REPLACES an existing target (POSIX), so every racer's
      rename succeeds — last writer wins, harmless because the key
      discipline makes all copies byte-identical. For a DIRECTORY
      artifact, rename onto an existing non-empty target fails
      (ENOTEMPTY/EEXIST) — exactly one racer wins and the losers take
      the OSError path, discarding their copies. Either way readers
      never see a partial artifact: the target path only ever holds a
      complete build (ADVICE r10 wording fix — the old note claimed
      "exactly one rename wins" for files too, which POSIX does not
      provide).
    - **Eviction / size note**: artifacts live under the caller's
      chosen store (the query-layer sites use /tmp DELIBERATELY —
      OS-purged on reboot and size-managed by systemd-tmpfiles on
      long-lived hosts). Content-keying means a regenerated corpus
      keys a NEW artifact: stale ones are never served, only orphaned.
      Keep artifacts corpus-METADATA-sized (centroids, codebooks,
      bounded assignment relations — MBs), never corpus-sized; a
      production deployment promotes the store to a managed warehouse
      path with real retention, which changes only the ``path`` the
      caller passes."""
    import os
    import shutil
    import uuid

    if not os.path.exists(path):
        tmp = f"{path}._build_{uuid.uuid4().hex[:8]}"
        build_fn(tmp)
        try:
            os.rename(tmp, path)
        except OSError:
            # lost a build race: another builder's byte-identical
            # artifact is already at `path` — discard our copy
            if os.path.isdir(tmp):
                shutil.rmtree(tmp, ignore_errors=True)
            else:
                try:
                    os.unlink(tmp)
                except OSError:
                    pass
    return path
