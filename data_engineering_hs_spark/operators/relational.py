"""Relational operator surface (SURVEY.md §2.2-2.7).

Thin, named, composable DataFrame combinators. Each documents the
reference capability it re-expresses and the scale rationale for the
chosen physical shape (broadcast vs shuffle, partial agg, etc.).
Catalyst handles pushdown/pruning/reordering — these helpers only add
the hints Catalyst can't infer (broadcast of known-small dims).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def broadcast_left_join(
    fact: DataFrame, dim: DataFrame, on, how: str = "left"
) -> DataFrame:
    """Broadcast equi-join of a fact table against a small dimension.

    Reference: revenue_analysis/main.ipynb:245-252 (events ⟕ items /
    users with explicit broadcast rationale). At 100 TB the fact side
    never shuffles: each executor gets the dim hashmap.
    """
    return fact.join(F.broadcast(dim), on, how)


def semi_join(df: DataFrame, keys: DataFrame, on) -> DataFrame:
    """Filter df to rows whose key appears in `keys`.

    Reference: lab03/sql/script1.sql:11-18,38 (badge set then join);
    pandas analog lab01/tasks.ipynb:603 `isin`. left_semi avoids
    materializing join duplicates — the scale-safe `isin`.
    """
    return df.join(keys, on, "left_semi")


def anti_join(df: DataFrame, keys: DataFrame, on) -> DataFrame:
    """Rows of df whose key does NOT appear in `keys` — the engine's
    NOT EXISTS, also the dedup step of the idempotent upsert sink
    (SURVEY.md §2.1 S21)."""
    return df.join(keys, on, "left_anti")


def having(
    df: DataFrame, group_cols: Sequence[str], aggs: Sequence[Column], predicate: Column
) -> DataFrame:
    """groupBy + agg + post-aggregation filter.

    Reference: lab03/sql/script1.sql:55-59 (badges with ≥3 coffee
    purchases). Partial aggregation still applies map-side; the
    predicate is evaluated post-final-agg only.
    """
    return df.groupBy(*group_cols).agg(*aggs).filter(predicate)


def top_k(df: DataFrame, order: Sequence[Column], k: int) -> DataFrame:
    """Global top-k: orderBy + limit → TakeOrderedAndProject, which
    takes k per partition then merges on the driver — no full sort
    shuffle at scale. Reference: start_wars/main.ipynb:254."""
    return df.orderBy(*order).limit(k)


def mode_of(df: DataFrame, col: str, tiebreak_asc: bool = True) -> DataFrame:
    """Most-common value of a column (lab01/tasks.ipynb:588).
    Deterministic tie-break on the value itself."""
    order = [F.desc("mode_count"), F.asc(col) if tiebreak_asc else F.desc(col)]
    return (
        df.groupBy(col).agg(F.count("*").alias("mode_count")).orderBy(*order).limit(1)
    )


def rolling(
    df: DataFrame,
    partition_cols: Sequence[str],
    order_col: str,
    frame_rows: tuple[int, int],
    agg: Column,
    out_col: str,
) -> DataFrame:
    """Rolling-frame window aggregate.

    Reference: revenue_analysis/main.ipynb:284-287 — 7-day rolling
    revenue, partition (country,category), rows [-6,0]. One shuffle
    on the partition keys; rows within a partition sort locally.
    """
    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(order_col)
        .rowsBetween(frame_rows[0], frame_rows[1])
    )
    return df.withColumn(out_col, agg.over(w))


def dedup(df: DataFrame, keys: Sequence[str] | None = None) -> DataFrame:
    """DISTINCT / dropDuplicates (lab03/sql/script1.sql:13)."""
    return df.dropDuplicates(keys) if keys else df.distinct()


def sample_exact(df: DataFrame, n: int, seed: int = 42, sort_key: str | None = None) -> DataFrame:
    """Deterministic pseudo-random exact-n sample: order by a seeded
    hash of the row key, take n. Unlike df.sample(fraction), yields
    exactly n rows and is reproducible across partitionings — the
    distributed analog of pandas .sample(n, random_state)
    (lab01/tasks.ipynb:626).

    The ordering hash is md5(key || '|' || seed), not xxhash64:
    md5-over-string is bit-identical in every engine (Spark, DuckDB,
    Postgres, Trino), so the sample itself is oracle-checkable and
    survives engine migrations. Plan shape is identical either way —
    TakeOrderedAndProject over a per-row projection — and the hash is
    computed once per row, so the md5-vs-xxhash cost difference is
    noise next to the scan."""
    key = sort_key or df.columns[0]
    r = F.md5(F.concat_ws("|", F.col(key).cast("string"), F.lit(str(seed))))
    return (
        df.withColumn("__r", r)
        .orderBy("__r", key)
        .limit(n)
        .drop("__r")
    )
