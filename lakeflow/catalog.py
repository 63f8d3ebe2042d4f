"""Table catalog over the lake directory layout.

One parquet dataset per table under a scale-factor directory
(``/root/testdata/sf0.01/lineitem.parquet`` …). On a production lake the
same API points at ``s3a://bucket/silver/<table>/`` partitioned
directories — `spark.read.parquet` handles both identically (SURVEY §1.1).

Schema rule: Spark infers a parquet schema by running a job that reads
footers, on every ``spark.read.parquet``. :func:`read_parquet` infers a
local path's schema once per content key — the session, the parquet
confs that change inference, and a digest of every file's (path, size,
mtime_ns) — and afterwards reads with that schema, which runs no job
and still gives fresh attribute ids. A rewritten file changes the key
and is inferred again; non-local (``s3a://`` …) paths are never
memoized.
Measured on ``perfbench`` ``query_mix`` seed 1, traced, 4 cores, together
with the session's codegen cache (``session.py``): ``plans.build_jobs``
(jobs run while a query's plan is built) 54 -> 8.
"""

from __future__ import annotations

import hashlib
import os
import threading
from collections import OrderedDict
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


#: SQL confs that change what parquet schema inference returns
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
)
#: inferred schemas kept, least recently used dropped first
_MEMO_ENTRIES = 512
_schemas: OrderedDict[tuple, StructType] = OrderedDict()
_schemas_lock = threading.Lock()


def files_digest(local: str) -> bytes | None:
    """16-byte blake2b digest of (path, size, mtime_ns) of every file
    under the local path ``local`` (a file or a directory tree): it
    changes when any file is added, removed or rewritten. None for a
    missing path, or one whose files change while they are listed."""
    if os.path.isfile(local):
        found = [local]
    elif os.path.isdir(local):
        found = [os.path.join(r, n) for r, _, names in os.walk(local) for n in names]
    else:
        return None
    try:
        stats = [(f, os.stat(f)) for f in sorted(found)]
    except OSError:
        return None
    files = hashlib.blake2b(digest_size=16)
    for f, st in stats:
        files.update(f"{f}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return files.digest()


def _content_key(spark: SparkSession, path: str) -> tuple | None:
    """The session, its inference confs, and :func:`files_digest` of
    ``path``; None for a non-local path or one with no digest. The
    digest keeps a key's size fixed however many files the path holds."""
    if "://" in path and not path.startswith("file:"):
        return None
    local = urlparse(path).path if path.startswith("file:") else path
    files = files_digest(local)
    if files is None:
        return None
    confs = tuple(spark.conf.get(c) for c in _INFERENCE_CONFS)
    return (id(spark), confs, local, files)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers a local path's schema
    once per content key (module docstring) and then reads with it —
    no footer job on a repeat read of unchanged files."""
    key = _content_key(spark, path)
    with _schemas_lock:
        schema = _schemas.get(key) if key is not None else None
        if schema is not None:
            _schemas.move_to_end(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    if key is not None:
        with _schemas_lock:
            _schemas[key] = df.schema
            while len(_schemas) > _MEMO_ENTRIES:
                _schemas.popitem(last=False)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table. Column pruning + predicate pushdown reach the
    parquet scan because this is a plain DSv2 file source.

    ``events.ts`` is written as parquet TIMESTAMP(NANOS), which Spark's
    vectorized reader rejects outright; it is read as a raw nanosecond
    long (``nanosAsLong``, a runtime-settable SQL conf so it also works
    on externally-provided sessions) and normalized to TIMESTAMP_NTZ
    microseconds — the same flavor the other tables load as.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # only when the file really is ns-longs — a re-materialized copy
        # already carries a proper timestamp column
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
        )
    return df


#: fan-out floor skips scans this small — a dimension table's rows fit
#: one task's first scheduling quantum, so spreading them only adds
#: empty-ish tasks
_FANOUT_MIN_BYTES = 256 * 1024


def fanout_scan(df: DataFrame) -> DataFrame:
    """Round-robin fan-out for under-parallel scans feeding COMPUTE-
    HEAVY per-row work (optimization guide §2.5 "input skew": one huge
    unsplittable file — gzip, or parquet written as a single row
    group, which Spark cannot split below row-group granularity — caps
    the scan at file count, serializing every downstream map stage).

    Deliberately NOT applied inside ``load_table``: for plain
    aggregate/join queries the map-side partial aggregation already
    collapses the scan output, and a blanket repartition would move
    every byte through an exchange that partial aggregation avoids
    (measured: q1 0.31s -> 0.77s, q21 0.96s -> 2.25s). Operators whose
    per-row work dominates (shingle + md5 minhash families, wide
    profiling) call this on their input instead — there the shuffle of
    the raw rows is tiny next to the per-row compute it parallelizes
    (measured: q_corpus_overlap 2.46s -> 0.82s, q_minhash_lsh_pairs
    1.51s -> 0.75s).

    Conditions make it a no-op on a properly laid-out lake: only LOCAL
    file scans (a remote store's layout is the lake's job), only when
    the scan yields fewer tasks than the session's parallelism, only
    past a small-size floor. The target tracks
    ``defaultParallelism``, never a constant. Results everywhere in
    this repo are partitioning-invariant by construction (hash-based
    sampling, salt-split aggregates, per-partition partial tiers), so
    fan-out is safe on any input."""
    spark = df.sparkSession
    try:
        files = df.inputFiles()
    except Exception:
        return df
    if not files:
        return df  # in-memory relation (tests): nothing to fan out
    size = 0
    for f in files:
        if not f.startswith("file:"):
            return df
        try:
            size += os.path.getsize(f[len("file:") :])
        except OSError:
            return df
    if size < _FANOUT_MIN_BYTES:
        return df
    floor = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= floor:
        return df
    return df.repartition(floor)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` works too."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
