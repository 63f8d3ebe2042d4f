"""Incremental-ingest state tracking (SURVEY §4 custom-work item 5).

The reference tracks progress with hardcoded ``start_datetime``
constants and skip lists (`emails_import_mailgun.py:55-61,140`); here a
small parquet-backed state table records processed files per source, and
new-file detection is an anti-join on ``input_file_name()``. Structured
Streaming checkpoints (lakeflow.streaming) are the fully-managed
alternative; this explicit state table is for batch replays and
backfills where checkpoint semantics are too rigid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakeflow.sinks.merge import read_target_if_exists


class IngestState:
    def __init__(self, spark: SparkSession, state_path: str):
        self.spark = spark
        self.state_path = state_path

    def processed_files(self, source: str) -> DataFrame:
        """Files already recorded for ``source``. Only a state table that
        does not exist yet reads as empty; any other read failure raises,
        since an empty answer would re-ingest every file."""
        st = read_target_if_exists(self.spark, self.state_path)
        if st is None:
            return self.spark.createDataFrame([], "file string")
        return st.filter(F.col("source") == source).select("file")

    def filter_new(self, df: DataFrame, source: str) -> DataFrame:
        """Keep only rows from files not yet recorded (file-level
        anti-join — the distributed replacement for skip lists)."""
        tagged = df.withColumn("__file", F.input_file_name())
        seen = self.processed_files(source).withColumnRenamed("file", "__file")
        return tagged.join(F.broadcast(seen), "__file", "left_anti").drop("__file")

    def record(self, df: DataFrame, source: str) -> int:
        """Record the distinct source files present in ``df``."""
        files = (
            df.select(F.input_file_name().alias("file"))
            .distinct()
            .withColumn("source", F.lit(source))
            .withColumn("processed_at", F.current_timestamp())
        )
        files.write.mode("append").parquet(self.state_path)
        return files.count()
