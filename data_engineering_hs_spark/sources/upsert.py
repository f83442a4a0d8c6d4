"""Idempotent upsert sink (SURVEY.md §2.1 S21-S23).

The reference's lab05 DAG loads parquet drops into Postgres with
`INSERT ... ON CONFLICT (transaction_id) DO NOTHING` (batched 1000,
fuel_ingest_dag.py:169-182) plus a filename watermark committed after
success (:199-206).

Without a transactional store, the engine emulates MERGE/upsert on a
parquet dataset:

  upsert_parquet(target, batch, keys) =
      dropDuplicates(keys) within the batch          (intra-batch dedup)
    → left_anti join against existing keys            (ON CONFLICT DO NOTHING)
    → append

At scale the anti-join reads only the key columns of the target
(column pruning) and broadcasts the batch keys when small. True
atomic MERGE needs a table format (Delta/Iceberg — jars absent here)
or a JDBC target: sources/jdbc.py implements the real
staging-table + MERGE path against any JDBC database (tested on the
Derby engine Spark bundles). The idempotency contract (re-running
the same batch is a no-op) is what the reference actually relies on,
and is tested for both sinks.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from data_engineering_hs_spark.sources.parquet import read_parquet_if_exists


def upsert_parquet(
    spark: SparkSession,
    target_path: str,
    batch: DataFrame,
    keys: Sequence[str],
) -> int:
    """Insert-if-absent by key; returns rows actually appended."""
    deduped = batch.dropDuplicates(list(keys))
    # Probe the target THROUGH Spark (read_parquet_if_exists), not
    # os.path.exists: a missing target, a remote one and an existing
    # but empty directory (crash between mkdir and first commit) must
    # all be told apart correctly or replays append duplicates.
    existing = read_parquet_if_exists(spark, target_path)
    fresh = (
        deduped
        if existing is None
        else deduped.join(existing.select(*keys), list(keys), "left_anti")
    )
    # Materialize the anti-join BEFORE appending. cache()+count() is
    # NOT a correctness barrier — evicted partitions recompute lazily
    # during the write and would re-scan the target mid-append;
    # localCheckpoint truncates the lineage so the write can't see its
    # own output.
    fresh = fresh.localCheckpoint(eager=True)
    n = fresh.count()
    if n:
        fresh.write.mode("append").parquet(target_path)
    return n


def read_watermark(path: str, default: str = "") -> str:
    """S23: filename watermark (Airflow Variable analog) as a file."""
    if os.path.exists(path):
        with open(path) as f:
            return f.read().strip()
    return default


def commit_watermark(path: str, value: str) -> None:
    """Commit after all loads succeed (fuel_ingest_dag.py:199-206);
    written atomically via rename."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(value)
    os.replace(tmp, path)
