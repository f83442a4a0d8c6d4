"""KV-state operator tests (S26 — Redis counter/TTL analogs)."""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import types as T

from data_engineering_hs_spark.streaming.kv import stateful_counter, ttl_filter
from data_engineering_hs_spark.streaming.pipelines import run_to_memory


class TestKvState:
    def test_batch_ttl_filter(self, spark):
        now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        df = spark.createDataFrame(
            [
                ("fresh", now + dt.timedelta(hours=1)),
                ("stale", now - dt.timedelta(hours=1)),
            ],
            T.StructType(
                [
                    T.StructField("key", T.StringType()),
                    T.StructField("expiry", T.TimestampType()),
                ]
            ),
        )
        got = [r["key"] for r in ttl_filter(df, "expiry").collect()]
        assert got == ["fresh"]

    def test_stateful_counter_accumulates_across_batches(self, spark, tmp_path):
        d = str(tmp_path / "keys")
        os.makedirs(d)
        schema = T.StructType([T.StructField("key", T.StringType())])
        spark.createDataFrame(
            [("espresso",), ("espresso",), ("latte",)], schema
        ).coalesce(1).write.mode("append").parquet(d)
        spark.createDataFrame(
            [("espresso",)], schema
        ).coalesce(1).write.mode("append").parquet(d)

        stream = spark.readStream.schema(schema).parquet(d)
        counts = stateful_counter(stream)
        q, table = run_to_memory(counts, "kv_counter", "update")
        # update-mode memory sink appends each update; take the max per key
        rows = table.groupBy("key").max("count").collect()
        got = {r["key"]: r["max(count)"] for r in rows}
        assert got == {"espresso": 3, "latte": 1}
        q.stop()
