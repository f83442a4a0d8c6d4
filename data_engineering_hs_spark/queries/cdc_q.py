"""CDC / snapshot-evolution queries: snapshot diff, MERGE round-trip,
SCD Type-2 history — the dbt-snapshot / warehouse-MERGE layer of the
reference (lab04-dbt incremental models, lab05-airflow
fuel_ingest_dag.py upsert) re-expressed as pure DataFrame plans.

Two deterministic snapshots are synthesized from `orders` so all
three change kinds occur:
  old = orders minus keys ≡0 (mod 10)          → those become inserts
  new = orders minus keys ≡0 (mod 13), with    → those become deletes
        price bumped 10% for keys ≡0 (mod 7)   → those become updates
Prices travel as exact BIGINT cents (engine determinism rule,
functions.scalar.money_cents) so the update detection and the hashed
outputs are bit-identical across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineering_hs_spark.catalog import load_table
from data_engineering_hs_spark.operators import cdc
from data_engineering_hs_spark.queries.llm import _plant_offset, _shift_ids
from data_engineering_hs_spark.queries.registry import register


def _old_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.filter(F.col("o_orderkey") % 10 != 0).select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("price_cents"),
        "o_orderstatus",
    )


def _new_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    bumped = F.when(F.col("o_orderkey") % 7 == 0, F.lit(110)).otherwise(F.lit(100))
    return o.filter(F.col("o_orderkey") % 13 != 0).select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * bumped).cast("bigint").alias("price_cents"),
        "o_orderstatus",
    )


_SNAPSHOTS_SQL = """
old AS (
  SELECT o_orderkey,
         CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
         o_orderstatus
  FROM orders WHERE o_orderkey % 10 != 0
), new AS (
  SELECT o_orderkey,
         CAST(round(o_totalprice *
              CASE WHEN o_orderkey % 7 = 0 THEN 110 ELSE 100 END) AS BIGINT)
           AS price_cents,
         o_orderstatus
  FROM orders WHERE o_orderkey % 13 != 0
)
"""


@register(
    "c_snapshot_diff",
    oracle=f"""
WITH {_SNAPSHOTS_SQL},
j AS (
  SELECT coalesce(n.o_orderkey, o.o_orderkey) AS o_orderkey,
         n.price_cents, n.o_orderstatus,
         CASE WHEN o.o_orderkey IS NULL THEN 'insert'
              WHEN n.o_orderkey IS NULL THEN 'delete'
              WHEN n.price_cents IS DISTINCT FROM o.price_cents
                OR n.o_orderstatus IS DISTINCT FROM o.o_orderstatus
              THEN 'update' END AS op
  FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
)
SELECT * FROM j WHERE op IS NOT NULL
""",
    doc="snapshot diff → insert/update/delete changeset (CDC derive)",
)
def c_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cdc.snapshot_diff(
        _old_snapshot(spark, sf_dir),
        _new_snapshot(spark, sf_dir),
        keys=["o_orderkey"],
    )


@register(
    "c_apply_changeset",
    # The oracle aggregates the NEW snapshot directly; the Spark side
    # aggregates old ⊕ diff(old, new). Matching hashes prove the MERGE
    # round-trip reproduces the target snapshot exactly.
    oracle=f"""
WITH {_SNAPSHOTS_SQL}
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       CAST(SUM(price_cents) AS BIGINT) AS total_cents
FROM new
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
    doc="MERGE changeset into base; verified by aggregate equality with target",
)
def c_apply_changeset(spark: SparkSession, sf_dir: str) -> DataFrame:
    old = _old_snapshot(spark, sf_dir)
    new = _new_snapshot(spark, sf_dir)
    diff = cdc.snapshot_diff(old, new, keys=["o_orderkey"])
    merged = cdc.apply_changeset(old, diff, keys=["o_orderkey"])
    return (
        merged.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("price_cents").alias("total_cents"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "c_scd2_priority",
    # Validity bounds emitted as formatted strings: DuckDB's .df()
    # degrades temporal types, and the driver hash must not depend on
    # timestamp physical precision.
    oracle="""
WITH ordered AS (
  SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
         lag(o_orderpriority) OVER w AS prev,
         row_number() OVER w AS rn
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
), changes AS (
  SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey
  FROM ordered
  WHERE rn = 1 OR o_orderpriority IS DISTINCT FROM prev
)
SELECT o_custkey, o_orderpriority,
       strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS valid_from,
       strftime(lead(o_orderdate) OVER w2, '%Y-%m-%d %H:%M:%S') AS valid_to,
       row_number() OVER w2 AS version,
       (lead(o_orderdate) OVER w2 IS NULL) AS is_current
FROM changes
WINDOW w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""",
    doc="SCD Type-2 history of each customer's order priority (dbt snapshot analog)",
)
def c_scd2_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    hist = cdc.scd2_history(
        o,
        key="o_custkey",
        attr_cols=["o_orderpriority"],
        ts_col="o_orderdate",
        tiebreak_cols=["o_orderkey"],
    )
    fmt = "yyyy-MM-dd HH:mm:ss"
    return hist.select(
        "o_custkey",
        "o_orderpriority",
        F.date_format("valid_from", fmt).alias("valid_from"),
        F.date_format("valid_to", fmt).alias("valid_to"),
        "version",
        "is_current",
    )


@register(
    "c_pit_join",
    # Point-in-time join — the CONSUMER side of SCD2: every lineitem
    # shipment resolves the customer's priority regime in force at
    # ship time, via backward as-of against the history's valid_from.
    # Zero-length regimes (same-date change chains) are dropped so
    # at most one regime starts per (customer, date) — that makes the
    # as-of deterministic in both engines. Shipments predating any
    # regime (the synthetic l_shipdate is not ordered after
    # o_orderdate) bucket as 'none'. DuckDB verifies with its native
    # ASOF LEFT JOIN.
    oracle="""
WITH ordered AS (
  SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
         lag(o_orderpriority) OVER w AS prev,
         row_number() OVER w AS rn
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
), changes AS (
  SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey
  FROM ordered
  WHERE rn = 1 OR o_orderpriority IS DISTINCT FROM prev
), hist AS (
  SELECT o_custkey, o_orderpriority,
         o_orderdate AS valid_from,
         lead(o_orderdate) OVER w2 AS valid_to
  FROM changes
  WINDOW w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
), dim AS (
  SELECT * FROM hist WHERE valid_to IS NULL OR valid_to > valid_from
), fact AS (
  SELECT o.o_custkey, l.l_shipdate, l.l_extendedprice
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)
SELECT coalesce(d.o_orderpriority, 'none') AS regime_priority,
       COUNT(*) AS n_shipments,
       CAST(SUM(CAST(round(f.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM fact f
ASOF LEFT JOIN dim d
  ON f.o_custkey = d.o_custkey AND f.l_shipdate >= d.valid_from
GROUP BY coalesce(d.o_orderpriority, 'none')
ORDER BY regime_priority
""",
    doc="point-in-time join: shipments vs SCD2 priority regime at ship time",
)
def c_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineering_hs_spark.functions.scalar import money_cents
    from data_engineering_hs_spark.operators.asof import asof_join
    from data_engineering_hs_spark.operators.cdc import scd2_history

    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    hist = scd2_history(
        o,
        key="o_custkey",
        attr_cols=["o_orderpriority"],
        ts_col="o_orderdate",
        tiebreak_cols=["o_orderkey"],
    )
    dim = hist.filter(
        F.col("valid_to").isNull() | (F.col("valid_to") > F.col("valid_from"))
    ).select("o_custkey", "o_orderpriority", "valid_from")
    fact = l.join(
        o.select("o_orderkey", "o_custkey"), l.l_orderkey == F.col("o_orderkey")
    ).select("o_custkey", "l_shipdate", "l_extendedprice")
    pit = asof_join(
        fact,
        dim,
        on="o_custkey",
        left_ts="l_shipdate",
        right_ts="valid_from",
        value_cols=["o_orderpriority"],
    )
    return (
        pit.groupBy(
            F.coalesce("asof_o_orderpriority", F.lit("none")).alias("regime_priority")
        )
        .agg(
            F.count("*").alias("n_shipments"),
            F.sum(money_cents("l_extendedprice")).alias("revenue_cents"),
        )
        .orderBy("regime_priority")
    )


@register(
    "c_time_travel_diff",
    # Snapshot-versioned storage end-to-end: publish v1 (an orders
    # slice) and v2 (the same slice with planted updates on key%100
    # ==0, deletes on ==1, inserts relabeled under key+10,000,000
    # from ==2), TIME-TRAVEL read both versions back from the same
    # root, and snapshot_diff them. The per-op counts restate the
    # planted construction — a wrong marker flip, a torn version
    # dir, or a time-travel read resolving the wrong version all
    # move the counts. Exercises sources/publish.py's version= read
    # path against live parquet, not just pytest fixtures.
    oracle="""
SELECT 'delete' AS op, CAST(COUNT(*) AS BIGINT) AS n
FROM orders WHERE o_orderkey % 100 = 1
UNION ALL
SELECT 'insert', CAST(COUNT(*) AS BIGINT)
FROM orders WHERE o_orderkey % 100 = 2
UNION ALL
SELECT 'update', CAST(COUNT(*) AS BIGINT)
FROM orders WHERE o_orderkey % 100 = 0
ORDER BY op
""",
    doc="time travel over the versioned publish store: two published "
    "snapshots diffed via snapshot_diff after reading v1 explicitly "
    "and v2 as the committed head — per-op change counts match the "
    "planted construction",
)
def c_time_travel_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineering_hs_spark.sources.publish import (
        publish,
        read_published,
    )

    from data_engineering_hs_spark.queries.streaming_q import _work_dir

    root = _work_dir("c_time_travel", sf_dir)
    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias(
            "price_cents"
        ),
    )
    v2_tbl = (
        base.filter(F.col("o_orderkey") % 100 != 1)
        .select(
            "o_orderkey",
            F.when(
                F.col("o_orderkey") % 100 == 0,
                F.col("price_cents") + F.lit(100),
            )
            .otherwise(F.col("price_cents"))
            .alias("price_cents"),
        )
        .unionByName(
            # insert offset derived from max(key)+1, not a literal —
            # a literal collides with real orderkeys at large SFs and
            # snapshot_diff would misclassify the colliding keys as
            # updates instead of inserts
            _shift_ids(
                base.filter(F.col("o_orderkey") % 100 == 2),
                _plant_offset(base, "o_orderkey"),
                "o_orderkey",
            )
        )
    )
    v1 = publish({"orders_slim": base}, root)
    publish({"orders_slim": v2_tbl}, root)
    old = read_published(spark, root, "orders_slim", version=v1)
    new = read_published(spark, root, "orders_slim")  # committed head
    return (
        cdc.snapshot_diff(old, new, keys=["o_orderkey"])
        .groupBy("op")
        .agg(F.count("*").alias("n"))
        .orderBy("op")
    )
