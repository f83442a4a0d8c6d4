"""Round-6 LLM-pipeline queries: segment-level exact dedup (C4),
BM25 keyword retrieval, CCNet-style quality bucketing, text
normalization, token-length histograms, Bloom-filter decontamination.

All hot paths are pure Column algebra (JVM codegen); every query that
is SQL-expressible carries a term-by-term DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_engineering_hs_spark.catalog import load_table
from data_engineering_hs_spark.functions.scalar import stable_round
from data_engineering_hs_spark.operators import corpus
from data_engineering_hs_spark.queries.registry import register, stable_round_sql


@register(
    "t_segment_dedup",
    # Mirrors operators.corpus.segment_dedup term-by-term: fixed
    # 10-token segmentation, global first-occurrence winner by
    # min(doc_id, seg_idx), kept segments rejoined in order.
    oracle="""
WITH toks AS (
  SELECT doc_id,
         CASE WHEN length(trim(text, ' ')) = 0 THEN CAST([] AS VARCHAR[])
              ELSE list_filter(string_split_regex(text, '\\s+'), t_ -> t_ <> '') END AS t
  FROM documents
), segs0 AS (
  SELECT doc_id, CAST(u.i AS INT) AS seg_idx,
         array_to_string(t[((u.i - 1) * 10 + 1):least(u.i * 10, len(t))], ' ') AS seg
  FROM toks,
       unnest(generate_series(1, greatest(CAST(ceil(len(t) / 10.0) AS BIGINT), 1))) AS u(i)
), segs AS (
  SELECT * FROM segs0 WHERE seg != ''
), win AS (
  SELECT doc_id, seg_idx, seg,
         min(struct_pack(d := doc_id, s := seg_idx)) OVER (PARTITION BY seg) AS w
  FROM segs
), k AS (
  SELECT doc_id, seg_idx, seg,
         (doc_id = w.d AND seg_idx = w.s) AS kept
  FROM win
)
SELECT doc_id,
       COUNT(*) AS n_segs,
       CAST(count_if(kept) AS BIGINT) AS n_kept,
       coalesce(string_agg(CASE WHEN kept THEN seg END, ' ' ORDER BY seg_idx), '')
         AS dedup_text
FROM k GROUP BY doc_id
""",
    doc="C4-style exact segment dedup: global first occurrence wins",
    bench=True,
)
def t_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # scan_parallel_key (r16): segmenting + per-segment concat ran in
    # ONE task on the single-row-group testdata file; the adaptive
    # hash rebalance measured −24% at sf0.1 (interleaved A/B — the
    # round-robin form measured +30%, the local sort over multi-KB
    # text rows costs more than the freed cores buy) and is a
    # metadata no-op on any input that already splits
    d = load_table(spark, sf_dir, "documents", scan_parallel_key="doc_id")
    return corpus.segment_dedup(d, id_col="doc_id", text_col="text", seg_tokens=10)


# ---------------------------------------------------------------------------
# BM25 keyword retrieval (Robertson-Spärck Jones; Lucene idf variant).
# The inverted-index shape at scale: tokens are filtered to the query
# vocabulary BEFORE the shuffle, so the postings explode carries only
# matching terms; df/N/avgdl are tiny aggregates broadcast back.
# ---------------------------------------------------------------------------

_BM25_TERMS = ("spark", "join", "window")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 15

# single-source-of-truth SQL fragments generated from _BM25_TERMS so
# editing the vocabulary edits the Spark side, this oracle, and the
# RRF oracle together
_BM25_CONTRIB_SQL = (
    "ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)"
    f" * tf.tf * ({_BM25_K1} + 1.0)"
    f" / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B}"
    " * dl.dl / stats.avgdl))"
)
_BM25_TERM_SUMS_SQL = "\n         + ".join(
    f"SUM(CASE WHEN term = '{t}' THEN {_BM25_CONTRIB_SQL} ELSE 0.0 END)"
    for t in _BM25_TERMS
)
_BM25_TERM_IN_SQL = ", ".join(f"'{t}'" for t in _BM25_TERMS)


@register(
    "s_bm25_topk",
    oracle=f"""
WITH toks AS (
  SELECT doc_id,
         CASE WHEN length(trim(text, ' ')) = 0 THEN CAST([] AS VARCHAR[])
              ELSE list_filter(string_split_regex(text, '\\s+'), t_ -> t_ <> '') END AS t
  FROM documents
), stats AS (
  SELECT COUNT(*) AS n_docs, avg(len(t)) AS avgdl FROM toks
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(t) AS term FROM toks)
  WHERE term IN ({_BM25_TERM_IN_SQL})
  GROUP BY doc_id, term
), df AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), dl AS (
  SELECT doc_id, len(t) AS dl FROM toks
), scored AS (
  -- per-term conditional sums (each has ≤1 nonzero contribution per
  -- doc, so every SUM is exact regardless of aggregation order),
  -- added in FIXED term order — the distributed-double-sum
  -- nondeterminism cannot reach the hash
  SELECT tf.doc_id,
         {_BM25_TERM_SUMS_SQL} AS score
  FROM tf
  JOIN df USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT doc_id, {stable_round_sql("score", 4)} AS bm25
FROM scored
ORDER BY {stable_round_sql("score", 4)} DESC, doc_id
LIMIT {_BM25_TOPK}
""",
    doc="BM25 keyword top-k over documents (inverted-postings shape)",
    bench=True,
)
def s_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        _bm25_scored(d)
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(_BM25_TOPK)
    )


def _bm25_scored(d: DataFrame) -> DataFrame:
    """(doc_id, bm25 rounded to 4) for every doc matching ≥1 query
    term — the shared scoring core of s_bm25_topk and the RRF fusion.

    ONE corpus tokenize pass (r16 restructure, guide §2.3/§8). The
    old shape's four consumers (tf, df-from-tf, dl, stats) each
    re-ran the full scan+regex-split: 4 corpus passes per query. Now
    the scan reduces ONCE to the lightweight per-doc proxy
    (doc_id, dl, matched-terms — a few bytes/doc vs the multi-KB
    text) and a lazy localCheckpoint materializes exactly that, so
    every downstream branch reads the proxy:
      * dl rides along into the postings groupBy key (doc-constant,
        so the extra key changes no group),
      * df becomes a window count over the tiny postings frame
        instead of a re-derived branch that re-scanned the corpus,
      * stats aggregates the proxy.
    Interleaved A/B at sf0.1: see SCALE.md r16 (the r15 measurement
    that REJECTED checkpointing `toks` at +4% checkpointed the full
    token ARRAYS — materializing the reduced proxy is the shape that
    wins; same §8 lesson as the fingerprint example). Values are
    bit-identical: same expressions over the same per-(doc,term)
    rows; the per-term conditional sums still see ≤1 nonzero
    contribution per doc so no distributed-double-sum order can
    reach the hash.

    Fault-tolerance trade (r17, advice follow-up): localCheckpoint
    stores the proxy in executor-local blocks WITHOUT lineage — on a
    real cluster, losing an executor that holds checkpoint blocks
    mid-query FAILS the query instead of recomputing (unlike
    persist(), which keeps lineage). Locally that risk is zero and
    the checkpoint beat the persist form (lineage-truncation also
    shrinks the 4-consumer plan), so checkpoint is the one form; a
    cluster deployment that needs the recomputable form swaps it for
    persist() here. The blocks are released by the
    ContextCleaner when the frame is GC'd — per-invocation frames
    don't accumulate across bench rounds."""
    from data_engineering_hs_spark.functions.text import tokens

    terms = F.array(*[F.lit(t) for t in _BM25_TERMS])
    toks = d.select("doc_id", tokens(F.col("text")).alias("t"))
    # vocabulary filter INSIDE the token array, before any explode —
    # only matching terms survive into the materialized proxy
    reduced = toks.select(
        "doc_id",
        F.size("t").alias("dl"),
        F.filter("t", lambda x: F.array_contains(terms, x)).alias("m"),
    ).localCheckpoint(eager=False)
    stats = reduced.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        reduced.select("doc_id", "dl", F.explode("m").alias("term"))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").alias("tf"))
    )
    # df = docs containing the term: a window count over the postings
    # frame (one row per (doc, term)), shuffled by term — tiny, and
    # no second corpus pass
    tf = tf.withColumn("df", F.count("*").over(Window.partitionBy("term")))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    k1, b = _BM25_K1, _BM25_B
    contrib = idf * F.col("tf") * (k1 + 1.0) / (
        F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    )
    # fixed-order per-term sums: each SUM sees ≤1 nonzero value per
    # doc (exact whatever the aggregation order); the cross-term ADD
    # happens in literal term order — no distributed-double-sum
    # nondeterminism can reach the driver hash
    per_term = [
        F.sum(F.when(F.col("term") == t, contrib).otherwise(F.lit(0.0))).alias(
            f"__s{i}"
        )
        for i, t in enumerate(_BM25_TERMS)
    ]
    scored = (
        tf.crossJoin(F.broadcast(stats))  # 1-row scalar frame
        .groupBy("doc_id")
        .agg(*per_term)
    )
    total = None
    for i in range(len(_BM25_TERMS)):
        c = F.col(f"__s{i}")
        total = c if total is None else total + c
    scored = scored.select("doc_id", total.alias("score"))
    # string-route round (r15 sanctioned, tie-stable cross-engine)
    return scored.select("doc_id", stable_round("score", 4).alias("bm25"))


# ---------------------------------------------------------------------------
# CCNet-style quality bucketing (Wenzek et al., LREC'20): per-language
# quantile split of the corpus into head/middle/tail by quality score.
# ntile over a per-lang window — one shuffle on lang; at 100 TB the
# per-lang ordering is the cost, identical to what any quantile
# bucketing must pay (CCNet does it via perplexity-sorted shards).
# ---------------------------------------------------------------------------


def _quality_cte() -> str:
    # the ONE stopword SQL literal (llm.py builds it from
    # TX.STOPWORDS) — a second copy of the quoting logic could drift
    from data_engineering_hs_spark.queries.llm import _STOPWORD_SQL_LIST

    sw_list = _STOPWORD_SQL_LIST
    return f"""
c AS (
  SELECT doc_id, lang,
         CASE WHEN length(trim(text, ' ')) = 0 THEN 0
              ELSE len(list_filter(string_split_regex(text, '\\s+'), t_ -> t_ <> '')) END AS n_tok,
         CAST(length(regexp_replace(text, '[\\p{{L}}\\p{{N}}\\s]', '', 'g')) AS DOUBLE)
           / greatest(length(text), 1) AS pr,
         CASE WHEN length(trim(text, ' ')) = 0 THEN CAST([] AS VARCHAR[])
              ELSE list_filter(string_split_regex(text, '\\s+'), t_ -> t_ <> '') END AS toks
  FROM documents
), s AS (
  SELECT doc_id, lang,
         least(CAST(n_tok AS DOUBLE) / 50.0, 1.0) AS len_score,
         1.0 - least(pr * 5.0, 1.0) AS punct_score,
         CAST(len(list_filter(toks,
                t -> list_contains({sw_list}, lower(t)))) AS DOUBLE)
           / CAST(greatest(len(toks), 1) AS DOUBLE) AS sw
  FROM c
), q AS (
  SELECT doc_id, lang,
         {stable_round_sql(
             "(len_score + punct_score"
             " + greatest(1.0 - abs(sw - 0.25) * 2.0, 0.0)) / 3.0", 6)}
           AS quality
  FROM s
)"""


@register(
    "t_quality_buckets",
    oracle=f"""
WITH {_quality_cte()}
SELECT doc_id, lang, quality,
       CASE ntile(3) OVER (PARTITION BY lang ORDER BY quality DESC, doc_id)
            WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
FROM q
""",
    doc="CCNet head/middle/tail per-language quality bucketing (ntile)",
)
def t_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from data_engineering_hs_spark.functions.text import quality_score

    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.desc("quality"), "doc_id")
    return (
        d.select("doc_id", "lang", quality_score(F.col("text")).alias("quality"))
        .withColumn(
            "bucket",
            F.when(F.ntile(3).over(w) == 1, "head")
            .when(F.ntile(3).over(w) == 2, "middle")
            .otherwise("tail"),
        )
    )


@register(
    "t_token_histogram",
    # Fixed-width histogram of document token counts — the
    # sequence-length profile that sizes context-window packing
    # (operators.corpus.pack_sequences). Bucket arithmetic is integer
    # floor division, identical in both engines.
    oracle="""
WITH n AS (
  SELECT CASE WHEN length(trim(text, ' ')) = 0 THEN 0
              ELSE len(list_filter(string_split_regex(text, '\\s+'), t_ -> t_ <> '')) END AS n_tok
  FROM documents
), b AS (
  SELECT least(n_tok // 20, 9) AS bucket FROM n
)
SELECT bucket,
       CAST(bucket * 20 AS BIGINT) AS tokens_lo,
       COUNT(*) AS n_docs,
       {share} AS share
FROM b GROUP BY bucket ORDER BY bucket
""".format(
        # string-route round (r15 sanctioned, tie-stable cross-engine)
        share=stable_round_sql(
            "CAST(COUNT(*) AS DOUBLE) / (SELECT COUNT(*) FROM documents)", 6
        ),
    ),
    doc="token-count histogram (20-token buckets, top-coded at 180+)",
)
def t_token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineering_hs_spark.functions.text import token_count

    d = load_table(spark, sf_dir, "documents")
    bucket = F.least(F.floor(token_count(F.col("text")) / 20), F.lit(9)).cast(
        "bigint"
    )
    total = d.agg(F.count("*").alias("__total"))  # 1-row scalar frame
    return (
        d.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_docs"))
        .crossJoin(F.broadcast(total))
        .select(
            "bucket",
            (F.col("bucket") * 20).cast("bigint").alias("tokens_lo"),
            "n_docs",
            stable_round(
                F.col("n_docs").cast("double") / F.col("__total"), 6
            ).alias("share"),
        )
        .orderBy("bucket")
    )


@register(
    "dq_value_outliers",
    # Robust per-group outlier detection: median/MAD z-score on
    # events.value per event_type, count of |z| > 3.5 (Iglewicz-
    # Hoaglin modified z). percentile interpolation is float: both
    # sides round the aggregate outputs to 4 (dq_key_skew lesson).
    oracle="""
WITH med AS (
  -- med/mad are QUANTIZED to 4dp BEFORE the z-score: percentile
  -- interpolation differs by ulps across engine builds (the
  -- dq_key_skew lesson), and a raw med would leak those ulps into
  -- every deviation and potentially flip a threshold count.
  SELECT event_type,
         {med} AS med
  FROM events GROUP BY event_type
), dev AS (
  SELECT e.event_type, e.value, m.med,
         abs(e.value - m.med) AS absdev
  FROM events e JOIN med m USING (event_type)
), mad AS (
  SELECT event_type,
         {mad} AS mad
  FROM dev GROUP BY event_type
)
SELECT d.event_type,
       any_value(d.med) AS median_value,
       any_value(m.mad) AS mad_value,
       CAST(count_if(
         m.mad > 0 AND abs(0.6745 * (d.value - d.med) / m.mad) > 3.5
       ) AS BIGINT) AS n_outliers,
       COUNT(*) AS n_rows
FROM dev d JOIN mad m USING (event_type)
GROUP BY d.event_type ORDER BY d.event_type
""".format(
        # string-route round (r15 sanctioned): med/mad feed the
        # downstream z-score, so a tie divergence here would flip
        # threshold COUNTS, not just a printed digit
        med=stable_round_sql("CAST(quantile_cont(value, 0.5) AS DOUBLE)", 4),
        mad=stable_round_sql("CAST(quantile_cont(absdev, 0.5) AS DOUBLE)", 4),
    ),
    doc="robust MAD z-score outlier counts per event_type (Q-family DQ)",
)
def dq_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(
        stable_round(F.expr("percentile(value, 0.5)"), 4).alias("med")
    )
    dev = e.join(F.broadcast(med), "event_type").withColumn(
        "absdev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        stable_round(F.expr("percentile(absdev, 0.5)"), 4).alias("mad")
    )
    z = 0.6745 * (F.col("value") - F.col("med")) / F.col("mad")
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.first("med").alias("median_value"),
            F.first("mad").alias("mad_value"),
            F.sum(
                ((F.col("mad") > 0) & (F.abs(z) > 3.5)).cast("int")
            ).cast("bigint").alias("n_outliers"),
            F.count("*").alias("n_rows"),
        )
        .orderBy("event_type")
    )


@register(
    "ts_gap_detection",
    # date_diff('second') on DuckDB vs unix_timestamp subtraction on
    # Spark — both integer seconds; bounds emitted as formatted
    # strings (raw event timestamps are never emitted).
    oracle="""
WITH g AS (
  SELECT user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
  FROM events
)
SELECT user_id,
       strftime(prev, '%Y-%m-%d %H:%M:%S') AS gap_start,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS gap_end,
       date_diff('second', prev, ts) AS gap_seconds
FROM g
WHERE date_diff('second', prev, ts) >= 86400
""",
    doc="silence/downtime detection: >=24h gaps between a user's events",
)
def ts_gap_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineering_hs_spark.operators.timeseries import detect_gaps

    e = load_table(spark, sf_dir, "events")
    fmt = "yyyy-MM-dd HH:mm:ss"
    return detect_gaps(
        e, key_col="user_id", ts_col="ts", min_gap_seconds=86400
    ).select(
        "user_id",
        F.date_format("gap_start", fmt).alias("gap_start"),
        F.date_format("gap_end", fmt).alias("gap_end"),
        "gap_seconds",
    )


@register(
    "t_negative_pairs",
    # Contrastive-training negative sampling: each document gets k=2
    # pseudo-random partners via a multiplicative scramble modulo the
    # corpus size (Knuth LCG constants) — deterministic integer
    # arithmetic, identical in both engines, no all-pairs crossJoin.
    # Corpus size comes from a broadcast 1-row frame, not a driver
    # count, so the plan is one explode + one equi-join at any scale.
    oracle="""
WITH n AS (SELECT COUNT(*) AS total FROM documents),
pairs AS (
  SELECT d.doc_id, u.j,
         (d.doc_id * 2654435761 + u.j * 40503) % n.total AS raw,
         n.total AS total
  FROM documents d CROSS JOIN n, unnest([1, 2]) AS u(j)
), fixed AS (
  SELECT doc_id, j,
         CASE WHEN raw = doc_id THEN (raw + 1) % total ELSE raw END AS neg_id
  FROM pairs
)
SELECT f.doc_id, f.j, f.neg_id, d2.lang AS neg_lang
FROM fixed f JOIN documents d2 ON f.neg_id = d2.doc_id
""",
    doc="deterministic negative-pair sampling for contrastive training",
)
def t_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    total = d.agg(F.count("*").alias("total"))
    raw = (F.col("doc_id") * F.lit(2654435761) + F.col("j") * 40503) % F.col("total")
    neg = F.when(raw == F.col("doc_id"), (raw + 1) % F.col("total")).otherwise(raw)
    pairs = (
        d.select("doc_id")
        .crossJoin(F.broadcast(total))  # 1-row scalar frame
        .select("doc_id", F.explode(F.array(F.lit(1), F.lit(2))).alias("j"), "total")
        .select("doc_id", "j", neg.alias("neg_id"))
    )
    d2 = d.select(F.col("doc_id").alias("neg_id"), F.col("lang").alias("neg_lang"))
    return pairs.join(d2, "neg_id").select("doc_id", "j", "neg_id", "neg_lang")


@register(
    "dq_profile_embeddings",
    # Vector-column profiling: dims, label span, mean L2 norm. The
    # norm MEAN follows the engine determinism rule — per-row norms
    # scale to exact 2^40 integer units before the distributed SUM
    # (double summation is partition-order-dependent), one division
    # at the end.
    oracle="""
WITH per AS (
  SELECT vec_id, label, len(embedding) AS dim,
         sqrt(list_sum(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings
)
SELECT COUNT(*) AS n_vecs,
       COUNT(DISTINCT dim) AS n_dims,
       MIN(dim) AS min_dim, MAX(dim) AS max_dim,
       COUNT(DISTINCT label) AS n_labels,
       {avg_norm} AS avg_norm
FROM per
""".format(
        # string-route round (r15 sanctioned, tie-stable cross-engine)
        avg_norm=stable_round_sql(
            "CAST(SUM(CAST(round(nrm * 1099511627776) AS BIGINT)) AS DOUBLE)"
            " / COUNT(*) / 1099511627776", 6
        ),
    ),
    doc="embedding-table profile: dims, labels, exact-sum mean L2 norm",
)
def dq_profile_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    sq = F.aggregate(
        "embedding",
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    per = e.select(
        F.size("embedding").alias("dim"),
        "label",
        F.sqrt(sq).alias("nrm"),
    )
    scale = F.lit(1099511627776)  # 2^40
    return per.agg(
        F.count("*").alias("n_vecs"),
        F.countDistinct("dim").alias("n_dims"),
        F.min("dim").alias("min_dim"),
        F.max("dim").alias("max_dim"),
        F.countDistinct("label").alias("n_labels"),
        stable_round(
            F.sum(F.round(F.col("nrm") * scale).cast("bigint")).cast("double")
            / F.count("*")
            / scale,
            6,
        ).alias("avg_norm"),
    )


@register(
    "j_fuzzy_name_match",
    # Entity resolution, block + verify shape: distinct names
    # self-join on a blocking key (first token) and verify with
    # levenshtein <= 3 — candidates are bounded by block sizes, never
    # the full n². Unit-cost edit distance agrees between engines.
    oracle="""
WITH names AS (
  SELECT DISTINCT p_name FROM part
), b AS (
  SELECT p_name, string_split(p_name, ' ')[1] AS blk FROM names
)
SELECT a.p_name AS name_a, c.p_name AS name_b,
       levenshtein(a.p_name, c.p_name) AS dist
FROM b a JOIN b c ON a.blk = c.blk AND a.p_name < c.p_name
WHERE levenshtein(a.p_name, c.p_name) BETWEEN 1 AND 3
""",
    doc="entity-resolution fuzzy match: blocked levenshtein name pairs",
)
def j_fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    names = p.select("p_name").distinct()
    b = names.select(
        "p_name", F.split("p_name", " ").getItem(0).alias("blk")
    )
    a = b.alias("a")
    c = b.alias("c")
    dist = F.levenshtein(F.col("a.p_name"), F.col("c.p_name"))
    return (
        a.join(
            c,
            (F.col("a.blk") == F.col("c.blk"))
            & (F.col("a.p_name") < F.col("c.p_name")),
        )
        .select(
            F.col("a.p_name").alias("name_a"),
            F.col("c.p_name").alias("name_b"),
            dist.alias("dist"),
        )
        .filter((F.col("dist") >= 1) & (F.col("dist") <= 3))
    )


@register(
    "dq_freshness",
    # Fixed as_of (explicit parameter, never now()) keeps the check
    # reproducible and cross-engine comparable.
    oracle="""
SELECT strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS max_ts,
       date_diff('second', max(ts), TIMESTAMP '2026-01-01 00:00:00')
         AS lag_seconds,
       CASE WHEN max(ts) IS NULL THEN 'error'
            WHEN date_diff('second', max(ts), TIMESTAMP '2026-01-01 00:00:00') > 168 * 3600
            THEN 'error'
            WHEN date_diff('second', max(ts), TIMESTAMP '2026-01-01 00:00:00') > 24 * 3600
            THEN 'warn'
            ELSE 'pass' END AS status
FROM events
""",
    doc="dbt-style source freshness of events vs a fixed as_of instant",
)
def dq_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineering_hs_spark.quality.profiling import freshness

    e = load_table(spark, sf_dir, "events")
    return freshness(e, "ts", as_of="2026-01-01 00:00:00")


# ---------------------------------------------------------------------------
# EWMA smoothing via bounded lag expansion: y = a * Σ_{i=0..K-1}
# (1-a)^i · x_{t-i} (zero-padded start, documented). K literal lag
# terms over ONE window spec = one shuffle on the key and pure
# codegen arithmetic — no interpreted HOF, no per-row array build.
# The unbounded-recursion EWMA needs exponents that overflow at
# partition length; the K-term truncation ((1-a)^K ≈ 0.9^16 ≈ 0.19
# tail here) is the standard streaming approximation.
# ---------------------------------------------------------------------------

_EWMA_ALPHA = 0.1
_EWMA_K = 16


@register(
    "ts_ewma",
    oracle=f"""
WITH w AS (
  SELECT user_id, event_id, value,
         {" + ".join(
             f"{_EWMA_ALPHA * (1.0 - _EWMA_ALPHA) ** i!r} * "
             f"coalesce(lag(value, {i}) OVER "
             f"(PARTITION BY user_id ORDER BY ts, event_id), 0.0)"
             for i in range(_EWMA_K)
         )} AS ewma
  FROM events
)
SELECT user_id, event_id, {stable_round_sql("ewma", 6)} AS ewma
FROM w
""",
    doc="per-user EWMA of event values (bounded lag-expansion form)",
)
def ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    a = _EWMA_ALPHA
    terms = None
    for i in range(_EWMA_K):
        # coefficient is ONE Python-evaluated literal, injected
        # identically into the SQL oracle — no engine pow() in either
        # plan, so no libm ulp divergence can enter the hash
        t = F.lit(a * (1.0 - a) ** i) * F.coalesce(
            F.lag("value", i).over(w), F.lit(0.0)
        )
        terms = t if terms is None else terms + t
    # string-route round (r15 sanctioned, tie-stable cross-engine)
    return e.select(
        "user_id", "event_id", stable_round(terms, 6).alias("ewma")
    )


@register(
    "f_variant_props",
    # Spark 4 VARIANT path for semi-structured props: parse_json once
    # into the binary variant encoding, then typed variant_get
    # extractions — the engine-native answer to repeated
    # get_json_object re-parsing (f_json_props is the classic twin).
    oracle="""
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       COUNT(DISTINCT CAST(json_extract(props, '$.k') AS BIGINT)) AS ndv_k
FROM events
GROUP BY event_type
ORDER BY event_type
""",
    doc="VARIANT parse + typed extraction over events.props (Spark 4 native)",
)
def f_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json("props"), "$.k", "bigint")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.countDistinct("k").alias("ndv_k"),
        )
        .orderBy("event_type")
    )


@register(
    "a_group_regression",
    # Distributed OLS per group with EXACT sufficient statistics:
    # x (seconds since a fixed epoch) and y (value cents) are
    # integers, so the per-row products fit BIGINT and the group sums
    # accumulate as DECIMAL(38,0) — order-independent exact integers
    # in both engines. Slope/corr are then computed from identical
    # doubles with an identical expression shape, rounded at the end.
    oracle="""
WITH pts AS (
  SELECT event_type,
         date_diff('second', TIMESTAMP '2024-01-01 00:00:00', ts) AS x,
         CAST(round(value * 100) AS BIGINT) AS y
  FROM events
), sums AS (
  SELECT event_type,
         COUNT(*) AS n,
         CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x * y AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(x * x AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(y * y AS DECIMAL(38,0))) AS DOUBLE) AS syy
  FROM pts GROUP BY event_type
)
SELECT event_type, n,
       {slope} AS slope_cents_per_sec,
       {corr} AS corr_xy
FROM sums
ORDER BY event_type
""".format(
        # string-route round (r15 sanctioned): tie-stable cross-engine
        # and no -0.0 (subsumes the r14 `+ 0.0` normalization)
        slope=stable_round_sql(
            "(n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0)", 8
        ),
        corr=stable_round_sql(
            "(n * sxy - sx * sy)"
            " / NULLIF(sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 0)",
            8,
        ),
    ),
    doc="per-group OLS slope + correlation from exact integer sufficient stats",
)
def a_group_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    x = (
        F.unix_timestamp("ts")
        - F.unix_timestamp(F.lit("2024-01-01 00:00:00").cast("timestamp"))
    ).alias("x")
    y = F.round(F.col("value") * 100).cast("bigint").alias("y")
    pts = e.select("event_type", x, y)
    dec = lambda c: c.cast("decimal(38,0)")
    sums = pts.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(dec(F.col("x"))).cast("double").alias("sx"),
        F.sum(dec(F.col("y"))).cast("double").alias("sy"),
        F.sum(dec(F.col("x") * F.col("y"))).cast("double").alias("sxy"),
        F.sum(dec(F.col("x") * F.col("x"))).cast("double").alias("sxx"),
        F.sum(dec(F.col("y") * F.col("y"))).cast("double").alias("syy"),
    )
    n = F.col("n")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    den_x = n * F.col("sxx") - F.col("sx") * F.col("sx")
    den_y = n * F.col("syy") - F.col("sy") * F.col("sy")
    # degenerate groups (1 event, constant x or y): denominator 0.
    # Spark's zero-divide yields NULL but DuckDB yields IEEE NaN —
    # pin NULL on both sides (nullif in the oracle)
    corr_den = F.sqrt(den_x * den_y)
    return sums.select(
        "event_type",
        "n",
        stable_round(num / F.when(den_x != 0, den_x), 8).alias(
            "slope_cents_per_sec"
        ),
        stable_round(num / F.when(corr_den != 0, corr_den), 8).alias(
            "corr_xy"
        ),
    ).orderBy("event_type")


@register(
    "a_market_basket",
    # Part-pair co-occurrence with support/confidence/lift. The pair
    # space is generated per order (distinct parts, a < b) — the
    # self-join is keyed on l_orderkey so candidates are bounded by
    # basket size, never the catalog square. Lift derives from
    # integer counts via one double division chain (identical shape
    # both engines), rounded to 6.
    oracle="""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), n_orders AS (
  SELECT COUNT(DISTINCT l_orderkey) AS n FROM lineitem
), part_n AS (
  SELECT l_partkey, COUNT(*) AS cnt FROM items GROUP BY l_partkey
), pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS together
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
)
SELECT p.part_a, p.part_b, p.together,
       {sup} AS support,
       {conf} AS confidence,
       {lift} AS lift
FROM pairs p
JOIN part_n pa ON p.part_a = pa.l_partkey
JOIN part_n pb ON p.part_b = pb.l_partkey
CROSS JOIN n_orders
WHERE p.together >= 3
ORDER BY lift DESC, part_a, part_b
LIMIT 50
""".format(
        # string-route round (r15 sanctioned, tie-stable cross-engine)
        sup=stable_round_sql("CAST(p.together AS DOUBLE) / n_orders.n", 6),
        conf=stable_round_sql("CAST(p.together AS DOUBLE) / pa.cnt", 6),
        lift=stable_round_sql(
            "CAST(p.together AS DOUBLE) * n_orders.n / pa.cnt / pb.cnt", 6
        ),
    ),
    doc="market-basket part-pair association rules (support/confidence/lift)",
)
def a_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    items = l.select("l_orderkey", "l_partkey").distinct()
    n_orders = l.agg(F.countDistinct("l_orderkey").alias("n"))
    part_n = items.groupBy("l_partkey").agg(F.count("*").alias("cnt"))
    a = items.alias("a")
    b = items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count("*").alias("together"))
        .filter(F.col("together") >= 3)
    )
    pa = part_n.select(
        F.col("l_partkey").alias("part_a"), F.col("cnt").alias("cnt_a")
    )
    pb = part_n.select(
        F.col("l_partkey").alias("part_b"), F.col("cnt").alias("cnt_b")
    )
    t = F.col("together").cast("double")
    return (
        pairs.join(F.broadcast(pa), "part_a")
        .join(F.broadcast(pb), "part_b")
        .crossJoin(F.broadcast(n_orders))  # 1-row scalar frame
        .select(
            "part_a",
            "part_b",
            "together",
            stable_round(t / F.col("n"), 6).alias("support"),
            stable_round(t / F.col("cnt_a"), 6).alias("confidence"),
            stable_round(
                t * F.col("n") / F.col("cnt_a") / F.col("cnt_b"), 6
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "part_a", "part_b")
        .limit(50)
    )


@register(
    "a_event_transitions",
    # First-order Markov transition counts/probabilities between a
    # user's consecutive event types — one window shuffle on user_id;
    # probability is one integer-ratio division, rounded.
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS next_type
  FROM events
), pairs AS (
  SELECT event_type AS src, next_type AS dst, COUNT(*) AS n
  FROM seq WHERE next_type IS NOT NULL
  GROUP BY event_type, next_type
)
SELECT src, dst, n,
       {prob} AS prob
FROM pairs
ORDER BY src, dst
""".format(
        # string-route round (r15 sanctioned, tie-stable cross-engine)
        prob=stable_round_sql(
            "CAST(n AS DOUBLE)"
            " / CAST(SUM(n) OVER (PARTITION BY src) AS BIGINT)", 6
        ),
    ),
    doc="first-order event-type transition matrix per user stream",
)
def a_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    pairs = seq.groupBy(
        F.col("event_type").alias("src"), F.col("next_type").alias("dst")
    ).agg(F.count("*").alias("n"))
    # row-normalize with a window sum over the SAME frame — a
    # groupBy+rejoin would recompute the whole upstream pipeline
    # twice (Spark does not dedupe shared subplans)
    out_n = F.sum("n").over(Window.partitionBy("src"))
    return pairs.select(
        "src", "dst", "n",
        stable_round(F.col("n").cast("double") / out_n, 6).alias("prob"),
    ).orderBy("src", "dst")


@register(
    "g_triangle_count",
    # Triangle counting on the co-purchase graph (edges: part pairs
    # ordered together in >=5 orders). Edges are canonicalized a<b,
    # and the 3-way join enumerates each triangle once via
    # a<b<c — the standard vertex-ordering trick that avoids the 6×
    # duplication AND bounds the join by the (thresholded) edge list,
    # not the catalog square.
    oracle="""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), edges AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING COUNT(*) >= 5
)
SELECT COUNT(*) AS n_triangles,
       (SELECT COUNT(*) FROM edges) AS n_edges
FROM edges e1
JOIN edges e2 ON e1.v = e2.u
JOIN edges e3 ON e1.u = e3.u AND e2.v = e3.v
""",
    doc="triangle count on the thresholded co-purchase graph",
)
def g_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    items = l.select("l_orderkey", "l_partkey").distinct()
    a, b = items.alias("a"), items.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 5)
        .select("u", "v")
        .localCheckpoint(eager=True)  # reused three times in the join
    )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.v") == F.col("e2.u"))
        .join(
            e3,
            (F.col("e1.u") == F.col("e3.u")) & (F.col("e2.v") == F.col("e3.v")),
        )
        .agg(F.count("*").alias("n_triangles"))
    )
    n_edges = edges.agg(F.count("*").alias("n_edges"))
    return tri.crossJoin(F.broadcast(n_edges))  # 1-row scalar frames


@register(
    "dq_rowcounts_all",
    # One catalog-wide smoke row per table — the cheapest cross-table
    # data contract (non-empty + exact cardinality), and the query the
    # freshness/profile checks hang off in a scheduled DAG.
    oracle="""
SELECT 'customer' AS tbl, COUNT(*) AS n FROM customer
UNION ALL SELECT 'documents', COUNT(*) FROM documents
UNION ALL SELECT 'embeddings', COUNT(*) FROM embeddings
UNION ALL SELECT 'events', COUNT(*) FROM events
UNION ALL SELECT 'lineitem', COUNT(*) FROM lineitem
UNION ALL SELECT 'nation', COUNT(*) FROM nation
UNION ALL SELECT 'orders', COUNT(*) FROM orders
UNION ALL SELECT 'part', COUNT(*) FROM part
UNION ALL SELECT 'region', COUNT(*) FROM region
UNION ALL SELECT 'supplier', COUNT(*) FROM supplier
ORDER BY tbl
""",
    doc="catalog-wide row-count contract (every table, one scan each)",
)
def dq_rowcounts_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    tables = [
        "customer", "documents", "embeddings", "events", "lineitem",
        "nation", "orders", "part", "region", "supplier",
    ]
    out = None
    for t in tables:
        c = load_table(spark, sf_dir, t).agg(F.count("*").alias("n")).select(
            F.lit(t).alias("tbl"), "n"
        )
        out = c if out is None else out.unionByName(c)
    return out.orderBy("tbl")


@register(
    "w_mom_growth",
    # Monthly revenue with MoM and YoY growth — CALENDAR-addressed
    # (join on month − 1/12 months), not lag(n) over rows: a row-lag
    # silently compares against the wrong month whenever any month
    # has zero orders (gapped series), shipping a wrong number that
    # no cross-engine check can catch because both sides would share
    # the bug. Revenue is exact cents; ratios are single divisions
    # rounded to 6, NULL when the comparison month is absent.
    # growth ratios through the string-route round (r15 sanctioned
    # conversion): tie-stable cross-engine AND no -0.0 (subsumes the
    # r14 `+ 0.0` signed-zero normalization)
    oracle=f"""
WITH monthly AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month_d,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS revenue_cents
  FROM orders GROUP BY 1
)
SELECT strftime(m.month_d, '%Y-%m-%d') AS month, m.revenue_cents,
       {stable_round_sql(
           "CAST(m.revenue_cents AS DOUBLE)"
           " / NULLIF(pm.revenue_cents, 0) - 1.0", 6)} AS mom,
       {stable_round_sql(
           "CAST(m.revenue_cents AS DOUBLE)"
           " / NULLIF(py.revenue_cents, 0) - 1.0", 6)} AS yoy
FROM monthly m
LEFT JOIN monthly pm ON pm.month_d = m.month_d - INTERVAL 1 MONTH
LEFT JOIN monthly py ON py.month_d = m.month_d - INTERVAL 12 MONTH
ORDER BY month
""",
    doc="monthly revenue with calendar-addressed MoM and YoY growth",
)
def w_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineering_hs_spark.functions.scalar import money_cents

    o = load_table(spark, sf_dir, "orders")
    monthly = (
        o.groupBy(
            F.date_trunc("month", "o_orderdate").cast("date").alias("month_d")
        )
        .agg(F.sum(money_cents("o_totalprice")).alias("revenue_cents"))
        .localCheckpoint(eager=True)  # dim-sized; referenced 3×
    )
    rev = F.col("revenue_cents").cast("double")

    def _back(n: int, alias: str) -> DataFrame:
        return monthly.select(
            F.add_months(F.col("month_d"), n).alias("month_d"),
            F.col("revenue_cents").alias(alias),
        )

    return (
        monthly.join(_back(1, "__pm"), "month_d", "left")
        .join(_back(12, "__py"), "month_d", "left")
        .select(
            F.date_format("month_d", "yyyy-MM-dd").alias("month"),
            "revenue_cents",
            stable_round(
                rev / F.when(F.col("__pm") != 0, F.col("__pm")) - 1.0, 6
            ).alias("mom"),
            stable_round(
                rev / F.when(F.col("__py") != 0, F.col("__py")) - 1.0, 6
            ).alias("yoy"),
        )
        .orderBy("month")
    )


@register(
    "w_open_orders_timeline",
    # Open-order backlog over time: +1 on placement day, −1 on the
    # day the order fully ships (max lineitem shipdate), cumulative
    # sum over the merged daily series. Two aggregations + one
    # ordered window over a dim-sized (days) frame.
    oracle="""
WITH ship AS (
  SELECT l_orderkey, max(l_shipdate) AS done_ts FROM lineitem GROUP BY l_orderkey
), deltas AS (
  SELECT strftime(date_trunc('day', o_orderdate), '%Y-%m-%d') AS day,
         CAST(COUNT(*) AS BIGINT) AS delta
  FROM orders GROUP BY 1
  UNION ALL
  SELECT strftime(date_trunc('day', done_ts), '%Y-%m-%d') AS day,
         -CAST(COUNT(*) AS BIGINT) AS delta
  FROM ship GROUP BY 1
), daily AS (
  SELECT day, CAST(SUM(delta) AS BIGINT) AS net FROM deltas GROUP BY day
)
SELECT day, net,
       CAST(SUM(net) OVER (ORDER BY day) AS BIGINT) AS open_orders
FROM daily ORDER BY day
""",
    doc="open-order backlog timeline (cumulative placements minus completions)",
)
def w_open_orders_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    # Group on the truncated TIMESTAMP and format once per daily
    # group, not once per fact row (r16, the flagship lesson —
    # measured −11.9% here, output identical): the window/sort order
    # is unchanged because yyyy-MM-dd is order-isomorphic to the day.
    dayd = lambda c: F.date_trunc("day", c)
    placed = o.groupBy(dayd("o_orderdate").alias("day_d")).agg(
        F.count("*").cast("bigint").alias("delta")
    )
    done = (
        l.groupBy("l_orderkey")
        .agg(F.max("l_shipdate").alias("done_ts"))
        .groupBy(dayd("done_ts").alias("day_d"))
        .agg((-F.count("*")).cast("bigint").alias("delta"))
    )
    daily = (
        placed.unionByName(done)
        .groupBy("day_d")
        .agg(F.sum("delta").cast("bigint").alias("net"))
    )
    w = Window.orderBy("day_d")
    return (
        daily.select(
            F.date_format("day_d", "yyyy-MM-dd").alias("day"),
            "net",
            F.sum("net").over(w).cast("bigint").alias("open_orders"),
        )
        .orderBy("day")
    )


@register(
    "ts_cusum_changepoints",
    # Page's CUSUM via the prefix-min identity: the recursion
    # S_t = max(0, S_{t-1} + d_t) equals C_t - min(0, min_{j<=t} C_j)
    # for C = cumsum(d) — two plain window aggregates, fully
    # SQL-expressible in both engines. Everything near the hash is
    # exact BIGINT: values scale to micros before summing, the drift
    # term k is an exact floor division (tot - pmod(tot, n)) / n, and
    # the change flag compares integers (S_t > 4k = a sustained
    # positive shift worth ~4 average days fired).
    oracle="""
WITH mx AS (SELECT CAST(MAX(ts) AS DATE) AS max_day FROM events),
boosted AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CASE WHEN CAST(ts AS DATE) >= max_day - 9
              THEN value * 4 ELSE value END AS value
  FROM events CROSS JOIN mx
),
daily AS (
  SELECT event_type, day,
         CAST(SUM(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS s
  FROM boosted GROUP BY event_type, day
),
t AS (
  SELECT event_type, day, s,
         CAST(SUM(s) OVER (PARTITION BY event_type) AS BIGINT) AS tot,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM daily
),
c AS (
  SELECT event_type, day,
         CAST((tot - (((tot % n) + n) % n)) / n AS BIGINT) AS kk,
         CAST(SUM(s - CAST((tot - (((tot % n) + n) % n)) / n AS BIGINT))
           OVER (PARTITION BY event_type ORDER BY day
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM t
),
m AS (
  SELECT event_type, day, kk, cum,
         CAST(MIN(cum) OVER (PARTITION BY event_type ORDER BY day
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS runmin
  FROM c
)
SELECT event_type, CAST(day AS VARCHAR) AS day,
       CAST(cum - LEAST(0, runmin) AS BIGINT) AS cusum,
       (cum - LEAST(0, runmin)) > 4 * kk AS is_change
FROM m ORDER BY event_type, day
""",
    doc="CUSUM changepoint detection on daily per-type event volume: "
    "positive-shift cumulative sum vs the series mean (prefix-min "
    "form — no recursion), flagging days where the accumulated "
    "excess exceeds 4 average-day magnitudes; exact integer "
    "arithmetic end to end. The steady synthetic stream has no real "
    "shift, so a 4x level shift is planted over the final 10 days "
    "(same construction in the oracle) — the detector must fire "
    "there and stay quiet before",
)
def ts_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    mx = e.agg(F.max(F.to_date("ts")).alias("max_day"))
    # 1-row scalar frame — the sanctioned crossJoin shape
    boosted = e.crossJoin(mx).select(
        "event_type",
        F.to_date("ts").alias("day"),
        F.when(
            F.to_date("ts") >= F.date_sub(F.col("max_day"), 9),
            F.col("value") * 4,
        )
        .otherwise(F.col("value"))
        .alias("value"),
    )
    daily = boosted.groupBy("event_type", "day").agg(
        F.sum(F.round(F.col("value") * 1000000).cast("long")).alias("s")
    )
    wt = Window.partitionBy("event_type")
    t = daily.select(
        "event_type",
        "day",
        "s",
        F.sum("s").over(wt).alias("tot"),
        F.count("*").over(wt).alias("n"),
    )
    # exact floor division: subtract the positive remainder first,
    # then the double division is an exact integer (< 2^53)
    kk = ((F.col("tot") - F.pmod("tot", "n")) / F.col("n")).cast("long")
    wc = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.select(
        "event_type",
        "day",
        kk.alias("kk"),
        F.sum(F.col("s") - kk).over(wc).alias("cum"),
    )
    m = c.select(
        "event_type",
        "day",
        "kk",
        "cum",
        F.min("cum").over(wc).alias("runmin"),
    )
    s_stat = F.col("cum") - F.least(F.lit(0).cast("long"), F.col("runmin"))
    return m.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        s_stat.cast("long").alias("cusum"),
        (s_stat > 4 * F.col("kk")).alias("is_change"),
    ).orderBy("event_type", "day")


_RRF_K = 60
_RRF_DEPTH = 50


def _rrf_oracle() -> str:
    from data_engineering_hs_spark.queries.llm import _dot_sql, _norm2_sql

    # shared fragments generated from _BM25_TERMS — the SAME constant
    # the Spark side scores with, so editing the vocabulary edits the
    # query, the BM25 oracle, and this fused oracle together
    term_sums = _BM25_TERM_SUMS_SQL
    term_in = _BM25_TERM_IN_SQL
    cos = (
        f"CASE WHEN sqrt({_norm2_sql('q.q_vec')}) * "
        f"sqrt({_norm2_sql('c.embedding')}) = 0 THEN 0.0 "
        f"ELSE ({_dot_sql('q.q_vec', 'c.embedding')}) / "
        f"(sqrt({_norm2_sql('q.q_vec')}) * sqrt({_norm2_sql('c.embedding')})) END"
    )
    return f"""
WITH toks AS (
  SELECT doc_id,
         CASE WHEN length(trim(text, ' ')) = 0 THEN CAST([] AS VARCHAR[])
              ELSE list_filter(string_split_regex(text, '\\s+'), t_ -> t_ <> '') END AS t
  FROM documents
), stats AS (
  SELECT COUNT(*) AS n_docs, avg(len(t)) AS avgdl FROM toks
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(t) AS term FROM toks)
  WHERE term IN ({term_in})
  GROUP BY doc_id, term
), df AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), dl AS (
  SELECT doc_id, len(t) AS dl FROM toks
), bm AS (
  SELECT tf.doc_id, {term_sums} AS score
  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
  GROUP BY tf.doc_id
), bmr AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (
           ORDER BY {stable_round_sql("score", 4)} DESC, doc_id) AS ra
  FROM bm
), cosr AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cs DESC, doc_id) AS rb
  FROM (
    SELECT c.vec_id AS doc_id, {cos} AS cs
    FROM embeddings c
    CROSS JOIN (SELECT embedding AS q_vec FROM embeddings WHERE vec_id = 0) q
    WHERE c.vec_id <> 0
  )
), fused AS (
  SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
         COALESCE(1.0 / ({_RRF_K} + a.ra), 0.0)
           + COALESCE(1.0 / ({_RRF_K} + b.rb), 0.0) AS rrf
  FROM (SELECT * FROM bmr WHERE ra <= {_RRF_DEPTH}) a
  FULL OUTER JOIN (SELECT * FROM cosr WHERE rb <= {_RRF_DEPTH}) b
    ON a.doc_id = b.doc_id
)
SELECT doc_id, {stable_round_sql("rrf", 6)} AS rrf
FROM fused ORDER BY {stable_round_sql("rrf", 6)} DESC, doc_id LIMIT 15
"""


@register(
    "s_hybrid_rrf",
    # Reciprocal-rank fusion (Cormack et al., SIGIR'09) of the two
    # retrieval paths this engine already oracles bit-exactly: BM25
    # keyword ranking over documents and cosine ranking of document
    # embeddings against a query vector (doc 0). Ranks are integers,
    # 1/(k+rank) is a single IEEE division identical across engines,
    # and the two contributions add in fixed order — deterministic
    # to the last ulp, rounded to 6 anyway.
    oracle=_rrf_oracle(),
    doc="hybrid search: reciprocal-rank fusion (k=60, depth 50) of "
    "BM25 keyword top-50 and embedding-cosine top-50 into one "
    "ranking — the standard lexical+semantic retrieval combiner",
)
def s_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from data_engineering_hs_spark.operators.similarity import brute_force_topk

    d = load_table(spark, sf_dir, "documents")
    bm = _bm25_scored(d)
    wa = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    bmr = (
        bm.withColumn("ra", F.row_number().over(wa))
        .filter(F.col("ra") <= _RRF_DEPTH)
        .select("doc_id", "ra")
    )
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0)
    cosr = (
        brute_force_topk(e, q, k=_RRF_DEPTH)
        .select(F.col("neighbor_id").alias("doc_id"), F.col("rank").alias("rb"))
    )
    fused = bmr.join(cosr, "doc_id", "full_outer").select(
        "doc_id",
        (
            F.coalesce(1.0 / (_RRF_K + F.col("ra")), F.lit(0.0))
            + F.coalesce(1.0 / (_RRF_K + F.col("rb")), F.lit(0.0))
        ).alias("rrf"),
    )
    return (
        # string-route round (r15 sanctioned, tie-stable cross-engine)
        fused.select("doc_id", stable_round("rrf", 6).alias("rrf"))
        .orderBy(F.desc("rrf"), "doc_id")
        .limit(15)
    )


@register(
    "t_feature_hash",
    # The hashed indices are engine-specific (xxhash64), but the
    # counting vectorizer's conservation law is not: the L1 norm of
    # every document's sparse vector equals its whitespace token
    # count exactly, under any collision pattern. Per-row hard
    # oracle; vector determinism (identical text → identical sparse
    # vector) is pinned in tests.
    oracle=r"""
SELECT doc_id,
       CAST(len(list_filter(string_split_regex(text, '\s+'), t_ -> t_ <> '')) AS BIGINT) AS l1
FROM documents WHERE length(trim(text, ' ')) > 0
ORDER BY doc_id
""",
    doc="hashing-trick count vectorizer (1024-dim sparse): per-doc "
    "L1-conservation audit — sum(counts) must equal the token count "
    "whatever the hash collisions do",
)
def t_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineering_hs_spark.operators.corpus import feature_hash_counts

    d = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    vecs = feature_hash_counts(d, "text", "doc_id", dim=1024)
    return vecs.select(
        "doc_id",
        F.aggregate(
            "counts", F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("l1"),
    ).orderBy("doc_id")
