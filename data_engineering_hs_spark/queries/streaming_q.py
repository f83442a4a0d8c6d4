"""Streaming queries over the driver testdata, replayed through the
Structured Streaming file source and drained synchronously
(availableNow). Each has a batch-SQL oracle where semantics allow —
streaming/batch parity is the correctness claim (SURVEY.md §2.9).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_engineering_hs_spark.queries.registry import register
from data_engineering_hs_spark.streaming.pipelines import (
    sessionized_counts,
    tumbling_counts,
)


def _stream_dir_for(sf_dir: str, table: str) -> str:
    """The streaming file source requires a directory; testdata tables
    are single files. Build (once) a temp dir holding a symlink to the
    table file and stream that — zero-copy, testdata untouched."""
    import hashlib
    import os
    import tempfile

    key = hashlib.md5(f"{sf_dir}/{table}".encode()).hexdigest()[:10]
    d = os.path.join(tempfile.gettempdir(), f"spark_stream_{table}_{key}")
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, f"{table}.parquet")
    # lexists, not exists: a stale symlink whose target vanished
    # (regenerated testdata) reads as absent under exists() and the
    # re-create raises FileExistsError; replace it instead. The
    # except arm absorbs the check-then-act race between two
    # concurrent sweeps on the same sf_dir.
    target = os.path.join(sf_dir, f"{table}.parquet")
    if os.path.lexists(link) and os.path.realpath(link) != os.path.realpath(
        target
    ):
        os.unlink(link)
    if not os.path.lexists(link):
        try:
            os.symlink(target, link)
        except FileExistsError:
            pass
    return d


def _work_dir(tag: str, sf_dir: str) -> str:
    """Deterministic per-(query, sf_dir) scratch dir, WIPED on entry:
    mkdtemp accreted a full parquet copy of the working tables per
    sweep/bench invocation, unboundedly; a fixed name bounds the
    footprint to one copy per query."""
    import hashlib
    import os
    import shutil
    import tempfile

    key = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    d = os.path.join(tempfile.gettempdir(), f"spark_q_{tag}_{key}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineering_hs_spark.catalog import normalize_event_ts, table_schema

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # the file source needs its schema up front: take the batch
    # loader's (which also sets the legacy-nanos flag for a NANOS
    # footer), so batch and stream resolve events.ts the same way
    raw = spark.readStream.schema(table_schema(spark, sf_dir, "events")).parquet(
        _stream_dir_for(sf_dir, "events")
    )
    return normalize_event_ts(raw)


def _drain(df: DataFrame, spark: SparkSession, mode: str) -> DataFrame:
    name = f"stq_{uuid.uuid4().hex[:12]}"
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


@register(
    "st_tumbling_hourly",
    oracle="""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS window_start,
       event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
         AS total_value
FROM events GROUP BY 1, 2
""",
    doc="event-time tumbling window agg, streamed via file source and "
    "drained availableNow — matches the batch oracle exactly "
    "(streaming/batch parity, §2.9 watermark gap)",
)
def st_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _events_stream(spark, sf_dir).withColumn(
        "value", F.round(F.col("value") * 100).cast("long")
    )
    windowed = tumbling_counts(events, window="1 hour", watermark="2 hours")
    out = _drain(windowed, spark, "complete")
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm").alias("window_start"),
        "event_type",
        "n",
        (F.col("total_value").cast("double") / 100.0).alias("total_value"),
    )


@register(
    "st_wordcount_stream",
    oracle="""
SELECT word, COUNT(*) AS n
FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
WHERE word <> '' GROUP BY word
""",
    doc="socket-word-count shape (complete-mode stateful agg) replayed "
    "over the documents table (T5/S17-S18 parity)",
)
def st_wordcount_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineering_hs_spark.streaming.pipelines import word_count

    docs_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    lines = spark.readStream.schema(docs_schema).parquet(
        _stream_dir_for(sf_dir, "documents")
    )
    counts = word_count(lines, value_col="text")
    return _drain(counts, spark, "complete")


@register(
    "st_sliding_windows",
    oracle="""
WITH grids AS (
  SELECT time_bucket(INTERVAL '30 minutes', ts) AS window_start, event_type
  FROM events
  UNION ALL
  SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL 30 MINUTE, event_type
  FROM events
)
SELECT strftime(window_start, '%Y-%m-%d %H:%M') AS window_start,
       event_type, COUNT(*) AS n
FROM grids GROUP BY 1, 2
""",
    doc="sliding event-time windows (1 h window, 30 min slide — each "
    "event counts in exactly two windows), streamed and drained; "
    "oracle is the two-offset tumbling-grid union",
)
def st_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _events_stream(spark, sf_dir)
    windowed = (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour", "30 minutes"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("window.start").alias("window_start"), "event_type", "n"
        )
    )
    out = _drain(windowed, spark, "complete")
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm").alias("window_start"),
        "event_type",
        "n",
    )


@register(
    "st_session_windows",
    # Spark's session_window is expressible as the lag-gap idiom the
    # oracled batch twin (w_sessionize_batch) already proves: a new
    # session starts when the gap to the previous event EXCEEDS 30
    # minutes, and the window end is the last event's ts + gap. The
    # stream/batch parity test (test_session_parity) pins the same
    # equivalence Spark-side. Boundary semantics PROVEN, not assumed:
    # an event at EXACTLY prev+gap MERGES into the session (Spark
    # treats a touching window as overlapping — two events 30 min
    # apart under a 30-min gap yield ONE session of 2; pinned in
    # test_session_parity.test_exact_gap_boundary_merges), so the
    # lag-gap split predicate is strictly `>`, matching this oracle.
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
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_no
  FROM marked
)
SELECT strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(MAX(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S')
         AS session_end,
       user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM numbered
GROUP BY user_id, session_no
ORDER BY user_id, session_start
""",
    doc="gap-based session windows per user over the events stream "
    "(§2.9 session_window extension); oracle is the lag-gap batch "
    "restatement with end = last event + gap (r7 conversion — was "
    "golden-pinned)",
)
def st_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _events_stream(spark, sf_dir)
    sessions = sessionized_counts(events, gap="30 minutes", watermark="4 hours")
    out = _drain(sessions, spark, "complete")
    return (
        out.select(
            F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "user_id",
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


@register(
    "st_enriched_by_nation",
    oracle="""
SELECT n.n_name AS nation, COUNT(*) AS n_events,
       CAST(SUM(CAST(round(e.value * 100) AS BIGINT)) AS DOUBLE) / 100.0
         AS total_value
FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey
GROUP BY 1
""",
    doc="stream-STATIC broadcast enrichment: the events stream joins "
    "the static nation dim (broadcast — a stream-side dim lookup "
    "never shuffles the stream) then aggregates complete-mode; "
    "batch-SQL parity is the correctness claim",
)
def st_enriched_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineering_hs_spark.catalog import load_table

    events = _events_stream(spark, sf_dir).withColumn(
        "cents", F.round(F.col("value") * 100).cast("long")
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    enriched = events.join(
        F.broadcast(nation),
        F.pmod(F.col("user_id"), F.lit(25)) == F.col("n_nationkey"),
    )
    agg = enriched.groupBy("nation").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("cents").alias("__cents"),
    )
    out = _drain(agg, spark, "complete")
    return out.select(
        "nation",
        "n_events",
        (F.col("__cents").cast("double") / 100.0).alias("total_value"),
    )


@register(
    "st_stream_stream_join",
    # Watermarked stream-stream inner join, driver-verified: clicks
    # and views read as TWO independent streams over the same events
    # parquet; the time-range join (view within 30 min before the
    # click) matches the oracle's plain batch join because inner
    # matches emit immediately and the generous watermark drops
    # nothing in the availableNow drain. The joined pairs drain
    # first; the per-user rollup happens batch-side on the drained
    # table (a non-windowed streaming agg after a stream-stream join
    # can't emit in append mode — operational fact, documented).
    oracle="""
SELECT c.user_id, CAST(COUNT(*) AS BIGINT) AS n_attributed
FROM (SELECT user_id, ts FROM events WHERE event_type = 'click') c
JOIN (SELECT user_id, ts FROM events WHERE event_type = 'view') v
  ON v.user_id = c.user_id
 AND v.ts <= c.ts AND v.ts >= c.ts - INTERVAL 30 MINUTE
GROUP BY c.user_id ORDER BY c.user_id
""",
    doc="stream-stream join (view-to-click attribution): two streams "
    "over events, watermarked time-range inner join, per-user "
    "attributed-pair counts — batch-join parity is the correctness "
    "claim",
)
def st_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineering_hs_spark.streaming.pipelines import (
        stream_stream_join,
    )

    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("c_ts"))
    )
    views = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select("user_id", F.col("ts").alias("v_ts"))
    )
    joined = stream_stream_join(
        clicks,
        views,
        on="user_id",
        left_ts="c_ts",
        right_ts="v_ts",
        watermark="30 days",
        max_lag="30 minutes",
    )
    out = _drain(joined, spark, "append")
    return (
        out.groupBy("user_id")
        .agg(F.count("*").alias("n_attributed"))
        .orderBy("user_id")
    )


@register(
    "st_dedup_stream",
    # dropDuplicates on a stream keeps first-arrival per key with
    # state; over a bounded availableNow drain the surviving set
    # equals batch DISTINCT on the key, so the per-type rollup of
    # survivors is batch-checkable. The planted duplicate rows
    # (every 10th event re-emitted through a second stream read)
    # prove the state actually drops: without dedup the counts would
    # be ~10% higher and the hash would miss.
    oracle="""
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
FROM events GROUP BY event_type ORDER BY event_type
""",
    doc="streaming deduplication: a duplicated event stream (every "
    "10th event re-emitted) deduped on event_id with streaming "
    "state; per-type counts of survivors must equal the clean "
    "batch counts",
)
def st_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _events_stream(spark, sf_dir).select("event_id", "event_type")
    dups = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_id") % 10 == 0)
        .select("event_id", "event_type")
    )
    deduped = base.unionByName(dups).dropDuplicates(["event_id"])
    out = _drain(deduped, spark, "append")
    return (
        out.groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .orderBy("event_type")
    )


@register(
    "st_compact_ingest",
    # AUDIT-ORACLE for the ingest-store compaction lifecycle: the
    # documents table streams through _dedup_ingest_batch as three
    # batches (doc_id % 3) plus a second run whose batch is 100%
    # cross-run duplicates, then compact_ingest_store merges both the
    # fingerprint store and the sink. n_sink_rows is SQL-checkable
    # (total survivors across partitioning batches = distinct
    # normalized texts); the protocol invariants — content preserved
    # byte-for-byte through compaction, partitions collapsed,
    # last-batch replay byte-identical after compaction, cross-run
    # dedup exact — are emitted as data so any regression moves the
    # hash.
    oracle=r"""
SELECT CAST(COUNT(DISTINCT trim(regexp_replace(lower(text), '\s+', ' ', 'g'), ' '))
         AS BIGINT) AS n_sink_rows,
       TRUE AS store_content_preserved,
       TRUE AS partitions_collapsed,
       TRUE AS replay_exact,
       CAST(0 AS BIGINT) AS n_cross_run_survivors
FROM documents
""",
    doc="streaming-ingest store compaction: run-namespaced fingerprint "
    "store + sink accreted over batches, merged by "
    "compact_ingest_store (all but each run's max batch into one "
    "consolidated partition) with content equality, replay "
    "independence and cross-run dedup audited as data",
)
def st_compact_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineering_hs_spark.catalog import load_table
    from data_engineering_hs_spark.streaming.pipelines import (
        _dedup_ingest_batch,
        compact_ingest_store,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    root = _work_dir("st_compact_ingest", sf_dir)
    store, sink = f"{root}/fp", f"{root}/corpus"
    for b in range(3):
        _dedup_ingest_batch(
            docs.filter(F.col("doc_id") % 3 == b),
            b, store, sink, "text", "doc_id",
        )
    # second run: every doc already ingested → zero survivors, but the
    # batch must still dedup EXACTLY against the other run's store
    _dedup_ingest_batch(
        docs.filter(F.col("doc_id") % 7 == 0),
        0, store, sink, "text", "doc_id", run_ns="run2",
    )
    pre_store = spark.read.parquet(store).select("fingerprint")
    pre_store = pre_store.localCheckpoint(eager=True)
    pre_sink_n = spark.read.parquet(sink).count()
    st = compact_ingest_store(spark, store)
    sk = compact_ingest_store(spark, sink)
    post_store = spark.read.parquet(store).select("fingerprint")
    diff = (
        pre_store.exceptAll(post_store)
        .unionByName(post_store.exceptAll(pre_store))
        .count()
    )
    # last-batch replay AFTER compaction: its max-batch partition was
    # kept, so the own-partition exclusion still yields the same
    # survivors and the rewrite is content-neutral
    _dedup_ingest_batch(
        docs.filter(F.col("doc_id") % 3 == 2),
        2, store, sink, "text", "doc_id",
    )
    sink_df = spark.read.parquet(sink)
    post_sink_n = sink_df.count()
    cross_run = sink_df.filter(F.col("run") == "run2").count()
    return spark.createDataFrame(
        [
            (
                post_sink_n,
                diff == 0,
                st["partitions_after"] < st["partitions_before"]
                and sk["partitions_after"] < sk["partitions_before"],
                post_sink_n == pre_sink_n,
                cross_run,
            )
        ],
        T.StructType(
            [
                T.StructField("n_sink_rows", T.LongType()),
                T.StructField("store_content_preserved", T.BooleanType()),
                T.StructField("partitions_collapsed", T.BooleanType()),
                T.StructField("replay_exact", T.BooleanType()),
                T.StructField("n_cross_run_survivors", T.LongType()),
            ]
        ),
    )


@register(
    "st_cdc_apply",
    # The streaming MERGE pipeline end-to-end: a stream of
    # snapshot_diff-shaped change batches (update / delete / insert,
    # one file per micro-batch via maxFilesPerTrigger=1) applied to a
    # materialized parquet table by streaming_cdc_apply's
    # foreachBatch + rename-aside swap. The planted changesets touch
    # disjoint key sets (updates on key%100==0, deletes on ==1,
    # inserts relabeled under key + max(key)+1 from ==2 — derived,
    # not a literal, so inserted keys can never collide with real
    # orderkeys at any SF), so the final table is order-independent
    # and the oracle restates the merge as one batch SQL expression.
    # Output is the per-status rollup of the FINAL TABLE ON DISK
    # (integer cents), so a wrong merge, a lost batch, or a botched
    # swap all move the hash.
    oracle="""
WITH off AS (SELECT MAX(o_orderkey) + 1 AS o FROM orders),
merged AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 100 = 0
              THEN o_totalprice + 1 ELSE o_totalprice END AS p
  FROM orders WHERE o_orderkey % 100 <> 1
  UNION ALL
  SELECT d.o_orderkey + off.o, d.o_orderstatus, d.o_totalprice
  FROM orders d, off WHERE d.o_orderkey % 100 = 2
)
SELECT o_orderstatus AS status,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
       CAST(SUM(CAST(round(p * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM merged GROUP BY o_orderstatus ORDER BY status
""",
    doc="streaming CDC MERGE: two change micro-batches (updates+"
    "inserts, then deletes) applied to a parquet table via "
    "foreachBatch apply_changeset with atomic rename-aside swap; "
    "final on-disk table must equal the batch MERGE restatement",
)
def st_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from data_engineering_hs_spark.catalog import load_table
    from data_engineering_hs_spark.streaming.pipelines import (
        streaming_cdc_apply,
    )

    root = _work_dir("st_cdc_apply", sf_dir)
    table_path = f"{root}/table"
    changes_dir = f"{root}/changes"
    ckpt = f"{root}/ckpt"

    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    base.write.parquet(table_path)

    # batch 1: updates (+1.00 on key%100==0) and inserts (key%100==2
    # relabeled into a disjoint key namespace)
    upd = base.filter(F.col("o_orderkey") % 100 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        (F.col("o_totalprice") + F.lit(1.0)).alias("o_totalprice"),
        F.lit("update").alias("op"),
    )
    # insert offset derived from the data (max key + 1): a literal
    # offset collides with real orderkeys once the table outgrows it
    from data_engineering_hs_spark.queries.llm import _plant_offset, _shift_ids

    ins = _shift_ids(
        base.filter(F.col("o_orderkey") % 100 == 2),
        _plant_offset(base, "o_orderkey"),
        "o_orderkey",
    ).withColumn("op", F.lit("insert"))
    # batch 2: deletes carry NULL non-key columns, like snapshot_diff
    dele = base.filter(F.col("o_orderkey") % 100 == 1).select(
        "o_orderkey",
        F.lit(None).cast("string").alias("o_orderstatus"),
        F.lit(None).cast("double").alias("o_totalprice"),
        F.lit("delete").alias("op"),
    )
    upd.unionByName(ins).coalesce(1).write.parquet(f"{changes_dir}/b1")
    dele.coalesce(1).write.parquet(f"{changes_dir}/b2")

    changes = (
        spark.readStream.schema(upd.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(changes_dir)
    )
    q = streaming_cdc_apply(
        changes, table_path, ckpt, keys=["o_orderkey"], available_now=True
    )
    q.awaitTermination()

    final = spark.read.parquet(table_path)
    return (
        final.groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count("*").alias("n"),
            F.sum("o_orderkey").alias("sum_key"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "sum_cents"
            ),
        )
        .orderBy("status")
    )


@register(
    "st_update_mode",
    # Update output mode is the changelog contract: each trigger the
    # sink receives ONLY the keys whose aggregate changed. Two
    # deterministic micro-batches (events split by event_id parity,
    # maxFilesPerTrigger=1) make the changelog non-trivial, and both
    # claims are order-independent data: n_final (the max count ever
    # emitted per key — counts grow monotonically, so max = final
    # state = batch COUNT) and n_updates (how many triggers emitted
    # the key = in how many halves it appears). A complete-mode or
    # append-mode misconfiguration moves n_updates; a lost batch
    # moves n_final.
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_final,
       CAST((CASE WHEN COUNT(CASE WHEN event_id % 2 = 0 THEN 1 END) > 0
                  THEN 1 ELSE 0 END)
          + (CASE WHEN COUNT(CASE WHEN event_id % 2 = 1 THEN 1 END) > 0
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_updates
FROM events GROUP BY event_type ORDER BY event_type
""",
    doc="update-output-mode changelog semantics over two micro-"
    "batches: per-key final count (max of emitted updates) plus the "
    "number of triggers that emitted the key — §2.9 output-mode "
    "family completed (complete/append rows exist elsewhere)",
)
def st_update_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from data_engineering_hs_spark.catalog import load_table

    root = _work_dir("st_update_mode", sf_dir)
    e = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    e.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(
        f"{root}/h0"
    )
    e.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(
        f"{root}/h1"
    )
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(root)
    )
    counts = stream.groupBy("event_type").agg(F.count("*").alias("n"))
    changelog = _drain(counts, spark, "update")
    return (
        changelog.groupBy("event_type")
        .agg(
            F.max("n").alias("n_final"),
            F.count("*").alias("n_updates"),
        )
        .orderBy("event_type")
    )


@register(
    "st_stream_static_join",
    # Stream-static enrichment: the streaming side joins a STATIC
    # batch dim per micro-batch with no state and no watermark — the
    # planner broadcasts the dim under every trigger, which is the
    # lookup-enrichment shape (T8/S26 family) at any scale. The
    # drained rollup must equal the batch join exactly.
    oracle="""
SELECT c.c_mktsegment AS segment, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment ORDER BY segment
""",
    doc="stream-static join: streamed events enriched against the "
    "static customer dim (broadcast per micro-batch, stateless), "
    "rolled up per market segment — must equal the batch join",
)
def st_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineering_hs_spark.catalog import load_table

    events = _events_stream(spark, sf_dir).select("user_id", "event_id")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = events.join(F.broadcast(cust), "user_id")
    out = _drain(joined, spark, "append")
    return (
        out.groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .orderBy("segment")
    )
