"""Dataset catalog: testdata loaders + reference dataset schemas.

The reference prefers explicit schemas handed to readers
(revenue_analysis/main.ipynb:89-150 StructType;
generate_fuel_exports.py:127-151 arrow schema;
lab05-airflow/sql/001_create_table.sql DDL) with inference as a
demonstrated fallback (mini-lab-hdfs+spark-local/spark.ipynb:205-208).
This module declares the StructType contracts of the reference-shaped
ingestion datasets (SURVEY.md §1.4) and loads the driver testdata
tables. Testdata schemas are not declared: each table's schema is
inferred from its parquet footer once per file version and handed to
every later read (see _read_table), so repeat loads skip Spark's
schema-inference job while a regenerated file is still re-inferred.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from data_engineering_hs_spark.sources.parquet import data_files

TESTDATA_TABLES = (
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


def _freshness(path: str) -> tuple | None:
    """(file, mtime_ns, size) of every data file under ``path``: the
    version key of the metadata memos below. Any rewrite of a data
    file, nested partition files included, changes it. None for a path
    that is not local (remote URI) or vanishes mid-listing: never
    memoize what cannot be re-checked."""
    try:
        stats = [(f, os.stat(f)) for f in data_files(path)]
    except OSError:
        return None
    return tuple((f, st.st_mtime_ns, st.st_size) for f, st in stats)


def _parquet_ts_is_nanos(path: str) -> bool:
    """Footer probe: does this parquet dataset's `ts` field use the
    TIMESTAMP(NANOS) physical type Spark can only scan with the
    legacy nanosAsLong flag?

    ``path`` may be a single file OR a directory-shaped dataset (a
    Spark-written events.parquet/): read_schema only handles the
    former, so a directory probes the footer of its first data file —
    returning False for a legacy NANOS directory would silently break
    the scan the flag exists to fix. The walk descends partition
    subdirectories too (p=.../part-*.parquet at any depth): a
    Hive-partitioned dataset has NO top-level data files, so the
    old one-level listing matched nothing and silently returned
    False — exactly the failure this probe exists to prevent."""
    try:
        import pyarrow.parquet as pq

        files = data_files(path)
        if not files:
            return False
        return "ns" in str(pq.read_schema(files[0]).field("ts").type)
    except Exception:  # noqa: BLE001 — absent field/file: let Spark decide
        return False


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize `events.ts` to session-zoned TimestampType (UTC).

    The driver has shipped `events.parquet` with two different physical
    types across rounds — TIMESTAMP(NANOS) (read as long nanos under
    `spark.sql.legacy.parquet.nanosAsLong`) and TIMESTAMP(MICROS)
    (read natively as TIMESTAMP_NTZ). Branch on what the scan actually
    produced instead of assuming either, so a future regeneration
    doesn't break the loader again:
      * bigint        → nanos-as-long: floor to micros, build timestamp
      * timestamp_ntz → reinterpret wall-clock as UTC instant (session
                        timezone is pinned to UTC, so the cast is the
                        identity on displayed values and matches
                        DuckDB's naive-timestamp reading)
      * timestamp     → already correct
    """
    from pyspark.sql import functions as F

    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        # FLOOR to micros, not `div` (truncation toward zero): a
        # pre-epoch nano value like -1500 must floor to -2 µs the way
        # DuckDB reads it, not round up to -1 µs. (ts - pmod) is
        # exact integer arithmetic at any magnitude.
        return df.withColumn(
            "ts",
            F.expr("timestamp_micros((ts - pmod(ts, 1000)) div 1000)"),
        )
    if ts_type == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# ---------------------------------------------------------------------------
# Adaptive input rebalance (r16 optimization round, guide §2.5) —
# OPT-IN per call site, and a metadata no-op whenever the input
# already parallelizes.
#
# Parquet is only splittable at ROW-GROUP boundaries: Spark carves a
# file into byte-range splits, but a row group is read entirely by the
# one task whose range contains its midpoint — every other task of the
# scan produces ZERO rows. The driver testdata files are single-row-
# group, so despite the session factory's small maxPartitionBytes the
# ENTIRE map side of every query (tokenize, shingle, 32×xxhash64,
# cosine folds, money arithmetic) ran in ONE task while the other
# cores idled — measured: all 600k lineitem rows land in one
# spark_partition_id at sf0.1, likewise documents/embeddings.
#
# The guide's remedy for unsplittable input (§2.5 "one huge
# unsplittable file … otherwise repartition immediately after the
# read") is a repartition straight after the read. MEASURED (r16
# interleaved A/Bs at sf0.1, OPTIMIZATION_r16.md): a BLANKET
# rebalance of every table is a +33% LOSS on the headline total — the
# exchange (and round-robin's sortBeforeRepartition local sort over
# the full row) costs more than the freed cores buy on scan-light
# queries (q1 +80%, s_bm25 +99%, w_topk +50%). It wins only where
# per-row map work dominates the stage: d_minhash_lsh −20%,
# t_segment_dedup −24% (hash-keyed form). Hence:
#   * call sites OPT IN by passing scan_parallel_key (the winners:
#     heavy text pipelines), everything else keeps the bare scan;
#   * the repartition is HASH-keyed on a provided unique id, not
#     round-robin: no sortBeforeRepartition pass over multi-KB text
#     rows (round-robin measured +30% on t_segment_dedup where the
#     keyed form measured −24%), and deterministic row placement
#     under task retries for free;
#   * the probe fires only when the dataset physically cannot fill
#     the machine: a dataset with >= cores files never reads footers
#     (the freshness listing is only local os.stat calls), and the
#     remaining < cores files must hold < cores TOTAL row groups;
#     tiny inputs (< _REBALANCE_MIN_BYTES, 256 KiB) stay serial — a
#     shuffle would cost more than the scan.
# The partition count is defaultParallelism (NOT a constant), so the
# driver's lower-core scaling runs get proportionally fewer
# partitions. Catalyst pushes filters and column pruning THROUGH
# Repartition (plan-verified: PushedFilters/ReadSchema unchanged below
# the exchange), so scans stay pruned and the exchange carries only
# the columns the query needs. Value-identity across the rebalance is
# pinned by the full oracle sweeps (every query is partitioning-
# independent by construction).
# ---------------------------------------------------------------------------

_REBALANCE_MIN_BYTES = 256 * 1024
_REBALANCE_PROBE_CACHE: dict[tuple, int | None] = {}


def _rebalance_partitions(path: str, cores: int) -> int | None:
    """Partition count to hash-repartition an unsplittable local
    parquet dataset to (the caller supplies the key column), or None
    to leave the scan alone. Metadata-only; result memoized per
    (path, cores, _freshness(path)), so a dataset rewritten at the
    same path (testdata regen, an in-place rewrite of a nested
    partition file) re-probes instead of applying a stale decision."""
    fresh = _freshness(path)
    key = (path, cores, fresh)
    if key in _REBALANCE_PROBE_CACHE:
        return _REBALANCE_PROBE_CACHE[key]
    result: int | None = None
    try:
        if fresh and len(fresh) < cores:
            import pyarrow.parquet as pq

            units = 0
            for f, _, _ in fresh:
                units += pq.ParquetFile(f).metadata.num_row_groups
                if units >= cores:
                    break
            total = sum(size for _, _, size in fresh)
            if units < cores and total >= _REBALANCE_MIN_BYTES:
                result = cores
    except Exception:  # noqa: BLE001 — odd footer: let Spark scan as-is
        result = None
    _REBALANCE_PROBE_CACHE[key] = result
    return result


# Inferred testdata schemas, keyed on (path, nanosAsLong flag,
# _freshness(path)). spark.read.parquet(path) without a schema runs a
# schema-inference Spark job on EVERY call to re-read a footer that has
# not changed; handing the memoized schema to the reader skips that job
# and still builds a fresh relation (self-joins keep distinct exprIds).
# A rewritten file changes the freshness key and is re-inferred, so the
# schema is always what the current footer says.
_SCHEMA_MEMO: dict[tuple, T.StructType] = {}
_NANOS_FLAG = "spark.sql.legacy.parquet.nanosAsLong"


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Raw parquet scan of one testdata table (events.ts not yet
    normalized), its schema inferred once per file version."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    # Set the legacy-nanos flag ONLY when the footer really is
    # TIMESTAMP(NANOS): setting it unconditionally changed how every
    # later parquet read in the shared session decodes nanos columns
    # (bigint instead of error/timestamp). For a legacy file the flag
    # must stay set for the frame's lifetime (the scan consults it at
    # execution, not at read()).
    if name == "events" and _parquet_ts_is_nanos(path):
        spark.conf.set(_NANOS_FLAG, "true")
    fresh = _freshness(path)
    key = (path, spark.conf.get(_NANOS_FLAG, "false"), fresh)
    schema = _SCHEMA_MEMO.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    if fresh:
        _SCHEMA_MEMO[key] = df.schema
    return df


def table_schema(spark: SparkSession, sf_dir: str, name: str) -> T.StructType:
    """Raw schema of one testdata table, as the batch loader resolves
    it (events.ts: LongType for a TIMESTAMP(NANOS) footer,
    TimestampNTZType for MICROS). The streaming file source, which
    needs its schema up front, takes it from here."""
    return _read_table(spark, sf_dir, name).schema


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    scan_parallel_key: str | None = None,
) -> DataFrame:
    """Load one driver testdata table (TESTDATA.md).

    `events.ts` physical type varies by testdata generation (nanos vs
    micros); see normalize_event_ts.

    ``scan_parallel_key``: opt-in adaptive rebalance for heavy map-side
    pipelines (see the block comment above _rebalance_partitions).
    When the dataset is physically unsplittable below the core count,
    the frame is hash-repartitioned on this (unique-id) column to
    defaultParallelism; otherwise it is a no-op. Only pass it where an
    interleaved A/B showed a win — the exchange is pure cost on
    scan-light queries.
    """
    # The engine's time semantics are UTC (SURVEY.md §1.2); pin it even
    # when the caller's session was built elsewhere (e.g. the driver).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = _read_table(spark, sf_dir, name)
    if name == "events":
        df = normalize_event_ts(df)
    if scan_parallel_key is None:
        return df
    from pyspark.sql import functions as F

    n_parts = _rebalance_partitions(
        os.path.join(sf_dir, f"{name}.parquet"),
        spark.sparkContext.defaultParallelism,
    )
    if n_parts is None:
        return df
    return df.repartition(n_parts, F.col(scan_parallel_key))


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TESTDATA_TABLES}


# ---------------------------------------------------------------------------
# Reference-shaped dataset schemas (SURVEY.md §1.4 / FIXTURES.md §B).
# These are the contracts for the ingestion operators; fixture
# generators under tests/ produce matching data.
# ---------------------------------------------------------------------------

# B2: lab02 nested users document (lab02/tasks.ipynb:118-151).
USERS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField(
            "profile",
            T.StructType(
                [
                    T.StructField("name", T.StringType()),
                    T.StructField("username", T.StringType()),
                    T.StructField("ip", T.StringType()),
                    T.StructField("tz", T.StringType()),
                    T.StructField("locale", T.StringType()),
                ]
            ),
        ),
        T.StructField(
            "contact",
            T.StructType(
                [
                    T.StructField("email", T.StringType()),
                    T.StructField("phone", T.StringType()),
                ]
            ),
        ),
        T.StructField(
            "preferences",
            T.StructType(
                [
                    T.StructField("lang", T.StringType()),
                    T.StructField("marketing_opt_in", T.BooleanType()),
                    T.StructField("theme", T.StringType()),
                ]
            ),
        ),
        T.StructField(
            "devices",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("ua", T.StringType()),
                        T.StructField("os", T.StringType()),
                    ]
                )
            ),
        ),
        T.StructField("tags", T.ArrayType(T.StringType())),
    ]
)

USERS_DOC_SCHEMA = T.StructType(
    [
        T.StructField("generated_at", T.StringType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("source", T.StringType()),
                    T.StructField("version", T.StringType()),
                ]
            ),
        ),
        T.StructField("users", T.ArrayType(USERS_SCHEMA)),
    ]
)

# B7: fuel_sales rich-typed parquet drops (generate_fuel_exports.py:127-151).
FUEL_SALES_SCHEMA = T.StructType(
    [
        T.StructField("transaction_id", T.StringType(), False),
        T.StructField("station_id", T.IntegerType()),
        T.StructField(
            "dock",
            T.StructType(
                [
                    T.StructField("bay", T.ShortType()),
                    T.StructField("level", T.StringType()),
                ]
            ),
        ),
        T.StructField("ship_name", T.StringType()),
        T.StructField("franchise", T.StringType()),
        T.StructField("captain_name", T.StringType()),
        T.StructField("species", T.StringType()),
        T.StructField("fuel_type", T.StringType()),
        T.StructField("fuel_units", T.FloatType()),
        T.StructField("price_per_unit", T.DecimalType(8, 2)),
        T.StructField("total_cost", T.DecimalType(12, 2)),
        T.StructField("services", T.ArrayType(T.StringType())),
        T.StructField("is_emergency", T.BooleanType()),
        T.StructField("visited_at", T.TimestampType()),
        T.StructField("arrival_date", T.DateType()),
        T.StructField("coords_x", T.DoubleType()),
        T.StructField("coords_y", T.DoubleType()),
    ]
)

# B8: lab06 kafka event payload (async_data_gen.py:39-49).
KAFKA_EVENT_AVRO_SCHEMA = """{
  "type": "record",
  "name": "Event",
  "fields": [
    {"name": "user", "type": "string"},
    {"name": "event", "type": "string"},
    {"name": "amount", "type": "double"},
    {"name": "ts", "type": "long"}
  ]
}"""

# B9: revenue_analysis flagship schemas (revenue_analysis/main.ipynb:89-150).
REVENUE_USERS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType(), False),
        T.StructField("signup_date", T.DateType()),
        T.StructField("plan", T.StringType()),
        T.StructField("country", T.StringType()),
        T.StructField("marketing_opt_in", T.BooleanType()),
    ]
)
REVENUE_ITEMS_SCHEMA = T.StructType(
    [
        T.StructField("item_id", T.IntegerType(), False),
        T.StructField("category", T.StringType()),
        T.StructField("tags", T.ArrayType(T.StringType())),
    ]
)
REVENUE_EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("event", T.StringType(), False),
        T.StructField("user_id", T.IntegerType(), False),
        T.StructField("item_id", T.IntegerType(), False),
        T.StructField(
            "context",
            T.StructType(
                [
                    T.StructField("country", T.StringType()),
                    T.StructField("device", T.StringType()),
                    T.StructField("locale", T.StringType()),
                    T.StructField("session_id", T.StringType()),
                ]
            ),
        ),
        T.StructField(
            "props",
            T.StructType(
                [
                    T.StructField("price", T.DoubleType(), True),
                    T.StructField("payment_method", T.StringType(), True),
                    T.StructField("dwell_ms", T.IntegerType(), True),
                ]
            ),
        ),
        T.StructField(
            "exp",
            T.StructType([T.StructField("ab_group", T.StringType())]),
        ),
    ]
)
