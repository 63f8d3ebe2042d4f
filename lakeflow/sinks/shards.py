"""Training-data shard export: deterministic sharding + manifest.

The last step of a pretraining pipeline: the curated/packed corpus is
written as N shards that the trainer's data loader streams
round-robin. Two properties matter at 100 TB:

- **Determinism**: a document's shard is a pure function of its key
  (seeded md5 hash mod N) — re-exports, retries, and other engines
  agree, so shard-level diffing/resharding is possible and an
  interrupted export can be resumed per-shard.
- **One shuffle-free write**: ``partitionBy("shard")`` on the write
  side splits files per shard inside each task — no repartition needed
  for correctness. When the trainer needs exactly one file per shard,
  ``repartition(n_shards, "shard")`` first (one hash shuffle).

The manifest (shard → rows/files/bytes) is derived from parquet
footers — metadata-only, the same trick as :mod:`.zonemap` — and is
what the loader uses to plan epochs without listing data files.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakeflow.functions.hashing import seeded_hash


def with_shard(
    df: DataFrame, key_col: str, n_shards: int, seed: str = "shard"
) -> DataFrame:
    """Add a deterministic ``shard`` column: seeded 60-bit md5 hash of
    the key, mod ``n_shards`` (hash is nonnegative, so engine modulo
    semantics agree)."""
    h = seeded_hash(F.col(key_col).cast("string"), seed)
    return df.withColumn("shard", (h % F.lit(n_shards)).cast("int"))


def write_training_shards(
    df: DataFrame,
    path: str,
    key_col: str,
    n_shards: int,
    seed: str = "shard",
    one_file_per_shard: bool = False,
) -> DataFrame:
    """Write ``df`` as ``shard=K`` partition directories and return the
    manifest DataFrame (shard, n_rows, n_files, bytes). The manifest is
    computed from parquet footers only."""
    sharded = with_shard(df, key_col, n_shards, seed)
    if one_file_per_shard:
        sharded = sharded.repartition(n_shards, "shard")
    sharded.write.partitionBy("shard").mode("overwrite").parquet(path)
    return shard_manifest(df.sparkSession, path)


def shard_manifest(spark: SparkSession, path: str) -> DataFrame:
    """Manifest of a sharded export from directory listing + footer
    metadata: (shard, n_rows, n_files, bytes)."""
    import pyarrow.parquet as pq

    rows = []
    for d in sorted(os.listdir(path)):
        if not d.startswith("shard="):
            continue
        shard = int(d.split("=", 1)[1])
        n_rows = n_files = n_bytes = 0
        full = os.path.join(path, d)
        for f in os.listdir(full):
            if not f.endswith(".parquet"):
                continue
            fp = os.path.join(full, f)
            n_rows += pq.ParquetFile(fp).metadata.num_rows
            n_files += 1
            n_bytes += os.path.getsize(fp)
        rows.append((shard, n_rows, n_files, n_bytes))
    return spark.createDataFrame(
        rows, schema="shard int, n_rows long, n_files long, bytes long"
    )
