"""Second wave of relational/analytic queries: log analytics, pivot,
cube, classic join-heavy OLAP shapes, batch sessionization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_engineering_hs_spark.catalog import load_table
from data_engineering_hs_spark.functions.scalar import discounted_revenue_cents
from data_engineering_hs_spark.queries.registry import register


# ---------------------------------------------------------------------------
# lab02 log analytics (S7, P11, F9, F16, A9): the engine renders events
# into nginx-style log lines, then parses them back with one regex and
# aggregates error counts — the zgrep|awk map-reduce re-expressed.
# Rendering and parsing both happen in-plan, so the oracle can replay
# the identical round-trip in SQL.
# ---------------------------------------------------------------------------

LOG_REGEX = r'^(\S+) - - \[([^\]]+)\] "(\w+) ([^ ]+) HTTP/1\.1" (\d+) (\d+) level=(\w+)(?: error_type=ERROR:(\w+))?$'


@register(
    "log_error_counts",
    oracle=r"""
WITH rendered AS (
  SELECT concat(
    '10.0.', CAST(user_id % 256 AS VARCHAR), '.', CAST(event_id % 256 AS VARCHAR),
    ' - - [', strftime(ts, '%d/%b/%Y:%H:%M:%S +0000'), '] "GET /',
    event_type, '/', CAST(event_id AS VARCHAR), ' HTTP/1.1" ',
    CASE WHEN event_type = 'error' THEN '500' ELSE '200' END, ' ',
    CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR),
    ' level=', CASE WHEN event_type = 'error' THEN 'ERROR' ELSE 'INFO' END,
    CASE WHEN event_type = 'error'
         THEN concat(' error_type=ERROR:TYPE_', CAST(event_id % 10 AS VARCHAR))
         ELSE '' END
  ) AS line
  FROM events
), parsed AS (
  SELECT
    regexp_extract(line, '^(\S+) - - \[([^\]]+)\] "(\w+) ([^ ]+) HTTP/1\.1" (\d+) (\d+) level=(\w+)( error_type=ERROR:(\w+))?$', 7) AS level,
    regexp_extract(line, '^(\S+) - - \[([^\]]+)\] "(\w+) ([^ ]+) HTTP/1\.1" (\d+) (\d+) level=(\w+)( error_type=ERROR:(\w+))?$', 9) AS error_type,
    CAST(regexp_extract(line, '^(\S+) - - \[([^\]]+)\] "(\w+) ([^ ]+) HTTP/1\.1" (\d+) (\d+) level=(\w+)( error_type=ERROR:(\w+))?$', 5) AS INT) AS status
  FROM rendered
)
SELECT error_type, COUNT(*) AS n
FROM parsed
WHERE level = 'ERROR' AND status >= 500 AND error_type <> ''
GROUP BY error_type
ORDER BY n DESC, error_type
""",
    doc="lab02 log analytics round-trip: render nginx-format lines, "
    "regex-parse, filter ERROR, count per error_type "
    "(S7,P11,F9,F16,A9 — the zgrep|sort|uniq -c|awk map-reduce)",
)
def log_error_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    line = F.concat(
        F.lit("10.0."),
        (F.col("user_id") % 256).cast("string"),
        F.lit("."),
        (F.col("event_id") % 256).cast("string"),
        F.lit(" - - ["),
        F.date_format("ts", "dd/MMM/yyyy:HH:mm:ss Z"),
        F.lit('] "GET /'),
        F.col("event_type"),
        F.lit("/"),
        F.col("event_id").cast("string"),
        F.lit(' HTTP/1.1" '),
        F.when(F.col("event_type") == "error", "500").otherwise("200"),
        F.lit(" "),
        F.round(F.col("value") * 100).cast("long").cast("string"),
        F.lit(" level="),
        F.when(F.col("event_type") == "error", "ERROR").otherwise("INFO"),
        F.when(
            F.col("event_type") == "error",
            F.concat(
                F.lit(" error_type=ERROR:TYPE_"),
                (F.col("event_id") % 10).cast("string"),
            ),
        ).otherwise(""),
    )
    rendered = e.select(line.alias("line"))
    spark_regex = LOG_REGEX.replace("(?: error_type", "( error_type")
    parsed = rendered.select(
        F.regexp_extract("line", spark_regex, 7).alias("level"),
        F.regexp_extract("line", spark_regex, 9).alias("error_type"),
        F.regexp_extract("line", spark_regex, 5).cast("int").alias("status"),
    )
    return (
        parsed.filter(
            (F.col("level") == "ERROR")
            & (F.col("status") >= 500)
            & (F.col("error_type") != "")
        )
        .groupBy("error_type")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("error_type"))
    )


@register(
    "p_substring_prefilter",
    oracle="""
SELECT doc_id, lang,
       len(list_filter(string_split_regex(text, '\\s+'), t_ -> t_ <> '')) AS n_tokens
FROM documents
WHERE contains(text, 'dup')
""",
    doc="substring pre-filter before parse (P10) — the 3x-speedup trick "
    "from lab01 fn3: cheap contains() gates the expensive tokenize",
)
def p_substring_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineering_hs_spark.functions.text import token_count

    d = load_table(spark, sf_dir, "documents")
    return d.filter(F.col("text").contains("dup")).select(
        "doc_id", "lang", token_count("text").alias("n_tokens")
    )


@register(
    "a_pivot_status_priority",
    oracle="""
SELECT o_orderpriority,
       COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS status_O,
       COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS status_F,
       COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS status_P
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
    doc="pivot (wide conditional aggregation) — engine extension over A4",
)
def a_pivot_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderpriority",
            F.coalesce("O", F.lit(0)).alias("status_O"),
            F.coalesce("F", F.lit(0)).alias("status_F"),
            F.coalesce("P", F.lit(0)).alias("status_P"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "a_cube",
    oracle="""
SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       COALESCE(l_linestatus, 'ALL') AS linestatus,
       COUNT(*) AS n,
       CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY returnflag, linestatus
""",
    doc="cube grouping-sets (engine extension beyond A4/rollup)",
)
def a_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round("l_quantity").cast("long")).alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n",
            "sum_qty",
        )
        .orderBy("returnflag", "linestatus")
    )


@register(
    "q3_shipping_priority",
    oracle="""
SELECT l.l_orderkey,
       CAST(SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT))
            AS DOUBLE) / 100.0 AS revenue,
       strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND CAST(o.o_orderdate AS DATE) < DATE '1998-03-15'
  AND CAST(l.l_shipdate AS DATE) > DATE '1995-03-15'
GROUP BY l.l_orderkey, o.o_orderdate
ORDER BY revenue DESC, l.l_orderkey ASC
LIMIT 10
""",
    doc="TPC-H Q3 shape: selective dim filter + 3-way join + agg + "
    "top-k by revenue (J1-J4, A3, O4)",
    bench=True,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.to_date("o_orderdate") < F.lit("1998-03-15").cast("date")
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.to_date("l_shipdate") > F.lit("1995-03-15").cast("date")
    )
    rev = discounted_revenue_cents()
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg((F.sum(rev).cast("double") / 100.0).alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "q5_region_volume",
    oracle="""
SELECT n.n_name AS nation,
       CAST(SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT))
            AS DOUBLE) / 100.0 AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
GROUP BY n.n_name
ORDER BY revenue DESC, nation
""",
    doc="TPC-H Q5 shape: 6-way join with co-nation constraint + agg "
    "(the join-reordering / broadcast-planning stress query)",
    bench=True,
)
def q5_region_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rev = discounted_revenue_cents()
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            s,
            (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg((F.sum(rev).cast("double") / 100.0).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("nation"))
    )


@register(
    "w_sessionize_batch",
    oracle="""
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL 30 MINUTE
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session,
         event_id
  FROM events
), numbered AS (
  SELECT user_id, ts, event_id,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_no
  FROM marked
)
SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
       COUNT(*) AS n_events,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start
FROM numbered
GROUP BY user_id, session_no
ORDER BY user_id, session_no
""",
    doc="batch sessionization: lag-gap marking + running-sum session "
    "ids + per-session agg (the window-function sessionize idiom)",
)
def w_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag("ts").over(w).isNull()
            # FULL-precision gap test (micros), matching the oracle's
            # interval comparison: a whole-second cast would disagree
            # with DuckDB on gaps that straddle the 30-min boundary
            # by sub-second amounts (prev .400s, next +30m .600s)
            | (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
                > 30 * 60 * 1_000_000
            ),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    numbered = marked.withColumn(
        "session_no",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        numbered.groupBy("user_id", "session_no")
        .agg(
            F.count("*").alias("n_events"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
        )
        .orderBy("user_id", "session_no")
    )


@register(
    "a_grouping_sets",
    oracle="""
SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       COUNT(*) AS n
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
ORDER BY status, priority
""",
    doc="explicit GROUPING SETS (beyond rollup/cube): per-status, "
    "per-priority, and grand-total groups in one pass",
)
def a_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("gs_orders")
    return spark.sql(
        """
        SELECT COALESCE(o_orderstatus, 'ALL') AS status,
               COALESCE(o_orderpriority, 'ALL') AS priority,
               COUNT(*) AS n
        FROM gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY status, priority
        """
    )


@register(
    "a_approx_quantiles",
    # The sketch VALUES are approximate by design, but the sketch's
    # error CONTRACT is exact-checkable: emit the exact percentiles
    # (rounded — interpolated doubles are ulp-fragile under exact
    # hash) plus booleans asserting the GK-sketch estimates landed
    # within tolerance (|Δmedian| ≤ 1 qty unit; |Δp90| ≤ 1% rel —
    # measured ≤ 0.1% at accuracy=1000). The oracle computes the same
    # exact percentiles and asserts TRUE.
    oracle="""
SELECT l_returnflag,
       ROUND(CAST(quantile_cont(CAST(round(l_quantity) AS BIGINT), 0.5)
                  AS DOUBLE), 4) AS median_qty_exact,
       ROUND(CAST(quantile_cont(CAST(round(l_extendedprice * 100) AS BIGINT),
                                0.9) AS DOUBLE), 4) AS p90_cents_exact,
       TRUE AS approx_median_ok,
       TRUE AS approx_p90_ok
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""",
    doc="approx_percentile — the sketch-based scale twin of "
    "a_median_percentile (single-pass, mergeable); emits the exact "
    "percentiles plus sketch-within-tolerance booleans so the "
    "approximation contract is oracle-checked",
)
def a_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_returnflag")
        .agg(
            F.expr(
                "approx_percentile(cast(round(l_quantity) as bigint), 0.5, 1000)"
            ).alias("__am"),
            F.round(
                F.expr("percentile(cast(round(l_quantity) as bigint), 0.5)"), 4
            ).alias("median_qty_exact"),
            F.expr(
                "approx_percentile(cast(round(l_extendedprice * 100) as bigint),"
                " 0.9, 1000)"
            ).alias("__ap"),
            F.round(
                F.expr(
                    "percentile(cast(round(l_extendedprice * 100) as bigint), 0.9)"
                ),
                4,
            ).alias("p90_cents_exact"),
        )
        .select(
            "l_returnflag",
            "median_qty_exact",
            "p90_cents_exact",
            (
                F.abs(F.col("__am") - F.col("median_qty_exact")) <= 1.0
            ).alias("approx_median_ok"),
            (
                F.abs(F.col("__ap") - F.col("p90_cents_exact"))
                <= F.col("p90_cents_exact") * 0.01
            ).alias("approx_p90_ok"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "a_median_percentile",
    oracle="""
SELECT l_returnflag,
       median(CAST(round(l_quantity) AS BIGINT)) AS median_qty,
       CAST(quantile_cont(CAST(round(l_extendedprice * 100) AS BIGINT), 0.9)
            AS DOUBLE) AS p90_price_cents
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""",
    doc="exact percentile/median per group (approx_percentile's exact "
    "twin; sort-based agg)",
)
def a_median_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_returnflag")
        .agg(
            F.expr(
                "percentile(cast(round(l_quantity) as bigint), 0.5)"
            ).alias("median_qty"),
            F.expr(
                "percentile(cast(round(l_extendedprice * 100) as bigint), 0.9)"
            ).alias("p90_price_cents"),
        )
        .orderBy("l_returnflag")
    )

@register(
    "a_retention_cohorts",
    oracle="""
WITH firsts AS (
  SELECT user_id, date_trunc('week', MIN(ts)) AS cw
  FROM events GROUP BY user_id
),
act AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS aw FROM events)
SELECT CAST(CAST(f.cw AS DATE) AS VARCHAR) AS cohort_week,
       CAST(date_diff('day', f.cw, a.aw) // 7 AS INT) AS week_offset,
       COUNT(DISTINCT a.user_id) AS n_users
FROM act a JOIN firsts f USING (user_id)
GROUP BY 1, 2
""",
    doc="weekly cohort retention over events: users bucketed by first-"
    "active week, counted per week offset — the standard activation/"
    "retention triangle (two shuffles: per-user min, then "
    "cohort-offset count-distinct)",
)
def a_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cw")
    )
    act = e.select(
        "user_id", F.date_trunc("week", "ts").alias("aw")
    ).distinct()
    return (
        act.join(firsts, "user_id")
        .groupBy(
            F.col("cw").cast("date").cast("string").alias("cohort_week"),
            (F.datediff("aw", "cw") / 7).cast("int").alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


@register(
    "a_funnel_conversion",
    oracle="""
WITH signups AS (
  SELECT user_id, MIN(ts) AS signup_ts
  FROM events WHERE event_type = 'signup' GROUP BY user_id
),
converted AS (
  SELECT DISTINCT s.user_id
  FROM signups s JOIN events e
    ON e.user_id = s.user_id
   AND e.event_type = 'purchase'
   AND e.ts > s.signup_ts
   AND e.ts <= s.signup_ts + INTERVAL 7 DAY
)
SELECT (SELECT COUNT(*) FROM signups) AS n_signup,
       (SELECT COUNT(*) FROM converted) AS n_converted,
       CAST((SELECT COUNT(*) FROM converted) AS DOUBLE)
         / (SELECT COUNT(*) FROM signups) AS conversion_rate
""",
    doc="funnel conversion over events: users whose first signup is "
    "followed by a purchase within 7 days (per-user min + one range-"
    "predicate join; the activation-funnel companion to "
    "a_retention_cohorts)",
)
def a_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    signups = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts")
    )
    converted = (
        signups.join(purchases, "user_id")
        .filter(
            (F.col("p_ts") > F.col("signup_ts"))
            & (F.col("p_ts") <= F.col("signup_ts") + F.expr("INTERVAL 7 DAYS"))
        )
        .select("user_id")
        .distinct()
    )
    # Two 1-row scalar frames crossed — no driver-side .count() action
    # inside the builder; the whole thing stays one lazy plan.
    s_cnt = signups.agg(F.count(F.lit(1)).alias("n_signup"))
    c_cnt = converted.agg(F.count(F.lit(1)).alias("n_converted"))
    return s_cnt.crossJoin(c_cnt).select(
        "n_signup",
        "n_converted",
        (F.col("n_converted").cast("double") / F.col("n_signup")).alias(
            "conversion_rate"
        ),
    )


@register(
    "a_attribution_models",
    # Multi-touch attribution with EXACT credit conservation: every
    # purchase's cents*1000 milli-cents are fully assigned under each
    # model (first-touch, last-touch, linear). The linear split uses
    # integer floor division with the remainder going to the most
    # recent touch — pure BIGINT arithmetic, so the three model
    # totals hash identically across engines and sum to the same
    # grand total. Conversions with no touch in the 7-day lookback
    # land in the '(none)' channel, keeping conservation visible.
    oracle="""
WITH conv AS (
  SELECT event_id AS conv_id, user_id, ts,
         CAST(round(value * 100) AS BIGINT) * 1000 AS milli
  FROM events WHERE event_type = 'purchase'
), touch AS (
  SELECT user_id, ts, event_id, event_type AS channel
  FROM events WHERE event_type IN ('view', 'click')
), joined AS (
  SELECT c.conv_id, c.milli, t.channel,
         ROW_NUMBER() OVER (PARTITION BY c.conv_id
                            ORDER BY t.ts DESC, t.event_id DESC) AS r_recent,
         ROW_NUMBER() OVER (PARTITION BY c.conv_id
                            ORDER BY t.ts ASC, t.event_id ASC) AS r_first,
         COUNT(*) OVER (PARTITION BY c.conv_id) AS n
  FROM conv c JOIN touch t
    ON t.user_id = c.user_id
   AND t.ts < c.ts AND t.ts >= c.ts - INTERVAL 7 DAY
), credited AS (
  SELECT channel,
         CASE WHEN r_first = 1 THEN milli ELSE 0 END AS ft,
         CASE WHEN r_recent = 1 THEN milli ELSE 0 END AS lt,
         (milli - (milli % n)) / n
           + CASE WHEN r_recent = 1 THEN milli % n ELSE 0 END AS lin
  FROM joined
  UNION ALL
  SELECT '(none)', milli, milli, milli
  FROM conv WHERE conv_id NOT IN (SELECT conv_id FROM joined)
)
SELECT channel,
       CAST(SUM(ft) AS BIGINT) AS first_touch_milli,
       CAST(SUM(lt) AS BIGINT) AS last_touch_milli,
       CAST(SUM(lin) AS BIGINT) AS linear_milli
FROM credited GROUP BY channel ORDER BY channel
""",
    doc="multi-touch conversion attribution: purchases credit their "
    "view/click touches within a 7-day lookback under first-touch, "
    "last-touch, and linear models — exact integer milli-cent "
    "credits that conserve total revenue per model; untouched "
    "conversions surface as '(none)'",
)
def a_attribution_models(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    conv = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("conv_id"),
        F.col("user_id"),
        F.col("ts").alias("conv_ts"),
        (F.round(F.col("value") * 100).cast("long") * 1000).alias("milli"),
    )
    touch = e.filter(F.col("event_type").isin("view", "click")).select(
        "user_id",
        F.col("ts").alias("touch_ts"),
        F.col("event_id").alias("touch_id"),
        F.col("event_type").alias("channel"),
    )
    joined = conv.join(
        touch,
        (touch.user_id == conv.user_id)
        & (F.col("touch_ts") < F.col("conv_ts"))
        & (
            F.col("touch_ts")
            >= F.col("conv_ts") - F.expr("INTERVAL 7 DAYS")
        ),
    )
    wc = Window.partitionBy("conv_id")
    j = joined.select(
        "conv_id",
        "milli",
        "channel",
        F.row_number()
        .over(wc.orderBy(F.desc("touch_ts"), F.desc("touch_id")))
        .alias("r_recent"),
        F.row_number()
        .over(wc.orderBy(F.asc("touch_ts"), F.asc("touch_id")))
        .alias("r_first"),
        F.count("*").over(wc).alias("n"),
    )
    rem = F.pmod("milli", "n")
    credited = j.select(
        "channel",
        F.when(F.col("r_first") == 1, F.col("milli")).otherwise(0).alias("ft"),
        F.when(F.col("r_recent") == 1, F.col("milli")).otherwise(0).alias("lt"),
        (
            ((F.col("milli") - rem) / F.col("n")).cast("long")
            + F.when(F.col("r_recent") == 1, rem).otherwise(0)
        ).alias("lin"),
    )
    unattributed = conv.join(
        j.select("conv_id").distinct(), "conv_id", "left_anti"
    ).select(
        F.lit("(none)").alias("channel"),
        F.col("milli").alias("ft"),
        F.col("milli").alias("lt"),
        F.col("milli").alias("lin"),
    )
    return (
        credited.unionByName(unattributed)
        .groupBy("channel")
        .agg(
            F.sum("ft").alias("first_touch_milli"),
            F.sum("lt").alias("last_touch_milli"),
            F.sum("lin").alias("linear_milli"),
        )
        .orderBy("channel")
    )


@register(
    "a_rfm_segments",
    # ntile is deterministic once the ORDER BY is a total order
    # (value + user_id tiebreak), so the segment digits hash across
    # engines; recency is an integer day difference vs the global max
    # purchase day, monetary is exact cents.
    oracle="""
WITH p AS (
  SELECT user_id,
         MAX(CAST(ts AS DATE)) AS last_day,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           AS monetary_cents
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
), mx AS (SELECT MAX(last_day) AS max_day FROM p),
scored AS (
  SELECT user_id, frequency, monetary_cents,
         CAST(date_diff('day', last_day, max_day) AS BIGINT)
           AS recency_days
  FROM p CROSS JOIN mx
)
SELECT user_id, recency_days, frequency, monetary_cents,
       CAST(NTILE(5) OVER (ORDER BY recency_days ASC, user_id) AS BIGINT)
         AS r_tile,
       CAST(NTILE(5) OVER (ORDER BY frequency DESC, user_id) AS BIGINT)
         AS f_tile,
       CAST(NTILE(5) OVER (ORDER BY monetary_cents DESC, user_id) AS BIGINT)
         AS m_tile
FROM scored ORDER BY user_id
""",
    doc="RFM customer segmentation: per-user recency (integer days vs "
    "the global max purchase day), frequency, and exact-cent "
    "monetary value, each quintiled by deterministic ntile — the "
    "standard marketing-segmentation rollup",
)
def a_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    p = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.max(F.to_date("ts")).alias("last_day"),
            F.count("*").alias("frequency"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                "monetary_cents"
            ),
        )
    )
    mx = p.agg(F.max("last_day").alias("max_day"))
    # 1-row scalar frame — the sanctioned crossJoin shape
    scored = p.crossJoin(mx).select(
        "user_id",
        F.datediff(F.col("max_day"), F.col("last_day"))
        .cast("long")
        .alias("recency_days"),
        "frequency",
        "monetary_cents",
    )
    return scored.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary_cents",
        F.ntile(5)
        .over(Window.orderBy(F.asc("recency_days"), F.asc("user_id")))
        .cast("long")
        .alias("r_tile"),
        F.ntile(5)
        .over(Window.orderBy(F.desc("frequency"), F.asc("user_id")))
        .cast("long")
        .alias("f_tile"),
        F.ntile(5)
        .over(Window.orderBy(F.desc("monetary_cents"), F.asc("user_id")))
        .cast("long")
        .alias("m_tile"),
    ).orderBy("user_id")


@register(
    "dq_referential_integrity",
    # One planted orphan per foreign-key edge (key -1 never exists in
    # any parent) keeps the audit non-vacuous: every edge must report
    # its real orphan count PLUS exactly the planted one, so a broken
    # detector that always returns 0 goes red. Left-anti per edge,
    # parents broadcast where small.
    oracle="""
SELECT * FROM (
  SELECT 'lineitem->orders' AS edge, CAST(COUNT(*) AS BIGINT) AS n_orphans
  FROM (SELECT l_orderkey AS k FROM lineitem UNION ALL SELECT -1) c
  WHERE k NOT IN (SELECT o_orderkey FROM orders)
  UNION ALL
  SELECT 'orders->customer', CAST(COUNT(*) AS BIGINT)
  FROM (SELECT o_custkey AS k FROM orders UNION ALL SELECT -1) c
  WHERE k NOT IN (SELECT c_custkey FROM customer)
  UNION ALL
  SELECT 'customer->nation', CAST(COUNT(*) AS BIGINT)
  FROM (SELECT c_nationkey AS k FROM customer UNION ALL SELECT -1) c
  WHERE k NOT IN (SELECT n_nationkey FROM nation)
  UNION ALL
  SELECT 'supplier->nation', CAST(COUNT(*) AS BIGINT)
  FROM (SELECT s_nationkey AS k FROM supplier UNION ALL SELECT -1) c
  WHERE k NOT IN (SELECT n_nationkey FROM nation)
  UNION ALL
  SELECT 'lineitem->part', CAST(COUNT(*) AS BIGINT)
  FROM (SELECT l_partkey AS k FROM lineitem UNION ALL SELECT -1) c
  WHERE k NOT IN (SELECT p_partkey FROM part)
  UNION ALL
  SELECT 'lineitem->supplier', CAST(COUNT(*) AS BIGINT)
  FROM (SELECT l_suppkey AS k FROM lineitem UNION ALL SELECT -1) c
  WHERE k NOT IN (SELECT s_suppkey FROM supplier)
  UNION ALL
  SELECT 'nation->region', CAST(COUNT(*) AS BIGINT)
  FROM (SELECT n_regionkey AS k FROM nation UNION ALL SELECT -1) c
  WHERE k NOT IN (SELECT r_regionkey FROM region)
) ORDER BY edge
""",
    doc="catalog-wide referential-integrity audit: orphan counts for "
    "every foreign-key edge of the star schema in one result, with "
    "one planted orphan per edge proving the detector fires",
)
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = [
        ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        ("supplier->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
        ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("nation->region", "nation", "n_regionkey", "region", "r_regionkey"),
    ]
    parts = []
    for edge, child, ck, parent, pk in edges:
        c = (
            load_table(spark, sf_dir, child)
            .select(F.col(ck).alias("k"))
            .unionByName(
                spark.range(1).select(F.lit(-1).cast("long").alias("k"))
            )
        )
        p = load_table(spark, sf_dir, parent).select(F.col(pk).alias("k"))
        orphans = c.join(p, "k", "left_anti").agg(
            F.count("*").alias("n_orphans")
        )
        parts.append(orphans.select(F.lit(edge).alias("edge"), "n_orphans"))
    out = parts[0]
    for x in parts[1:]:
        out = out.unionByName(x)
    return out.orderBy("edge")


@register(
    "dq_quarantine_split",
    # Planted bad rows (negative value, empty type, null user) keep
    # the split non-vacuous; the query proves row conservation
    # (valid + quarantined == total) and per-rule failure counts as
    # data. Multi-rule rows count once per failed rule — the reasons
    # ARRAY is the contract, not a first-failure short-circuit.
    oracle="""
WITH aug AS (
  SELECT user_id, event_type, value FROM events
  UNION ALL SELECT NULL, 'click', 1.0
  UNION ALL SELECT 1, '', 2.0
  UNION ALL SELECT 2, 'view', -5.0
  UNION ALL SELECT NULL, '', -1.0
  UNION ALL SELECT 3, 'view', NULL
), flags AS (
  -- COALESCE(..., FALSE): a NULL rule verdict quarantines (matches
  -- split_by_rules' unknown-is-not-valid semantics); without it the
  -- planted NULL-value row would be neither valid nor quarantined
  SELECT COALESCE(user_id IS NOT NULL, FALSE) AS ok_user,
         COALESCE(event_type IS NOT NULL AND event_type <> '', FALSE)
           AS ok_type,
         COALESCE(value >= 0, FALSE) AS ok_value
  FROM aug
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(count_if(ok_user AND ok_type AND ok_value) AS BIGINT) AS n_valid,
       CAST(count_if(NOT (ok_user AND ok_type AND ok_value)) AS BIGINT)
         AS n_quarantined,
       CAST(count_if(NOT ok_user) AS BIGINT) AS n_user_null,
       CAST(count_if(NOT ok_type) AS BIGINT) AS n_type_empty,
       CAST(count_if(NOT ok_value) AS BIGINT) AS n_value_negative
FROM flags
""",
    doc="row-level dead-letter split: every rule evaluates per row, "
    "reasons collect ALL failed rules, valid+quarantined conserves "
    "the input exactly (planted bad rows prove each rule fires)",
)
def dq_quarantine_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineering_hs_spark.quality.assertions import split_by_rules

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "value"
    )
    bad = spark.createDataFrame(
        [
            (None, "click", 1.0),
            (1, "", 2.0),
            (2, "view", -5.0),
            (None, "", -1.0),
            (3, "view", None),  # NULL rule verdict -> quarantined
        ],
        e.schema,
    )
    aug = e.unionByName(bad)
    rules = [
        ("user_null", "user_id IS NOT NULL"),
        ("type_empty", "event_type IS NOT NULL AND event_type <> ''"),
        ("value_negative", "value >= 0"),
    ]
    valid, quar = split_by_rules(aug, rules)
    totals = aug.agg(F.count("*").alias("n_total"))
    nv = valid.agg(F.count("*").alias("n_valid"))
    per_rule = quar.agg(
        F.count("*").alias("n_quarantined"),
        F.sum(
            F.array_contains("dq_reasons", "user_null").cast("long")
        ).alias("n_user_null"),
        F.sum(
            F.array_contains("dq_reasons", "type_empty").cast("long")
        ).alias("n_type_empty"),
        F.sum(
            F.array_contains("dq_reasons", "value_negative").cast("long")
        ).alias("n_value_negative"),
    )
    # 1-row scalar frames — the sanctioned crossJoin shape
    return totals.crossJoin(nv).crossJoin(per_rule).select(
        "n_total",
        "n_valid",
        "n_quarantined",
        "n_user_null",
        "n_type_empty",
        "n_value_negative",
    )
